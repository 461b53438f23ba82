package ddlbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Engine, SchemaTranslator}
import graft.model.TableDef
import graft.parse.Db2Parser
import graft.sources.{IcebergInspect, IcebergSnapshot}

/** The JVM side of the benchmark: one closed-loop caller that runs whole
  * passes of a workload's engine calls until the measuring time is up.
  *
  *   BenchMain --workload <name> --inputs <dir> --out <dir> --seconds <n> --trace <0|1>
  *
  * Writes `result.json` (times, counts, per-layer figures), the outputs
  * the checks need (`check/`), and with tracing on `trace.jsonl`. The
  * first pass runs cold and counts toward set-up time; its outputs are
  * the ones checked, and every later pass must reproduce them.
  */
object BenchMain {
  val GeneratedAt = "2026-01-01 00:00:00"
  val WarmupSeconds = 20.0
  /** The JIT still speeds passes up while they are measured, so the median
    * of three passes reads higher than that of four. A floor on the count
    * keeps a slow host from also shifting the median along that trend. */
  val MinMeasuredPasses = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = new File(opt("inputs")).getAbsolutePath
    val out = new File(opt("out")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    new File(out, "check").mkdirs()

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("ddlbench")
      .withExtensions(new graft.api.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()

    try {
      Golden.dump(spark, s"$inputs/golden", s"$out/check")
      val tracer = new Tracer(spark, traced)
      val run: Workload = workload match {
        case "ddl_corpus" => new DdlWorkload(spark, s"$inputs/db2", Some(s"$inputs/sf"))
        case "giant_script" => new DdlWorkload(spark, s"$inputs/giant", None)
        case "migrate_cdc" => new MigrateWorkload(spark, inputs, s"$out/tables")
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }

      // The cold first pass ends set-up: launch to its end is what a user
      // running the workload once waits. At least one more warm-up pass
      // (not timed) lets the JIT compile the hot paths before the measured
      // passes. It keeps compiling long after (see WorkCpu).
      val w0 = System.nanoTime()
      run.pass(tracer, 0)
      run.endPass(0)
      val firstPassS = (System.nanoTime() - w0) / 1e9
      var p = 1
      while (p < 2 || System.nanoTime() - w0 < WarmupSeconds * 1e9) {
        run.pass(tracer, p)
        run.endPass(p)
        p += 1
      }
      tracer.spans.clear()
      tracer.attempted = 0
      tracer.failed = 0

      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

      val passS = mutable.ArrayBuffer.empty[Double]
      val passCpuS = mutable.ArrayBuffer.empty[Double]
      val gcS = mutable.ArrayBuffer.empty[Double]
      val layerTotals = mutable.ArrayBuffer.empty[Layers.Totals]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val firstMeasured = p
      while (p - firstMeasured < MinMeasuredPasses || System.nanoTime() < deadline) {
        tracer.pass = p
        val g0 = gcMs
        val c0 = WorkCpu.nanos
        val ok = try { tracer.span("pass")(run.pass(tracer, p)); true }
        catch { case scala.util.control.NonFatal(_) => false }
        val passSpan = tracer.spans.last
        val cpu = (WorkCpu.nanos - c0) / 1e9
        if (ok) { passS += passSpan.seconds; passCpuS += cpu }
        gcS += (gcMs - g0) / 1e3
        if (traced) {
          val l0 = System.nanoTime()
          val totals = Layers.run(run.db2Texts, run.sfTexts, GeneratedAt)
          val l1 = System.nanoTime()
          layerTotals += totals
          totals.layers.foreach { case (name, ns, attrs) =>
            tracer.record(s"layer.$name", l0, l0 + ns, attrs)
          }
          tracer.record("layers", l0, l1, Map.empty)
          run.inspect(tracer)
        }
        run.endPass(p)
        p += 1
      }

      val perLayer =
        if (traced) Metrics.perLayer(tracer, layerTotals.toSeq, gcS.toSeq, passCpuS.toSeq,
          heapPools.map(_.getPeakUsage.getUsed).sum.toDouble)
        else Map.empty[String, Double]
      if (traced) tracer.writeTrace(s"$out/trace.jsonl")
      run.dumpChecks(s"$out/check")
      val result = Json.obj(
        "workload" -> workload,
        "ready_epoch_ms" -> readyMs,
        "first_pass_s" -> firstPassS,
        "passes" -> passS.size,
        "attempted" -> tracer.attempted,
        "failed" -> tracer.failed,
        "pass_s" -> passS.toSeq,
        "pass_cpu_s" -> passCpuS.toSeq,
        "unstable_outputs" -> run.unstable.toSeq,
        "per_layer" -> perLayer)
      Files.write(Paths.get(out, "result.json"), result.getBytes("UTF-8"))
    } finally spark.stop()
  }
}

/** CPU time of the benchmark JVM, less that of its JIT compiler threads.
  * The kernel leaves out time a virtual CPU was stolen by the host, so
  * this reads the same whether or not other guests load the host, where
  * wall time does not. The JIT threads are left out because in these
  * workloads they keep compiling for minutes, at a pace of their own.
  * Their threads never exit (`-XX:-UseDynamicNumberOfCompilerThreads`),
  * so their counts only grow. Linux only; clock ticks are 10 ms. */
object WorkCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def compilerNanos: Long =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      val stat = try Io.read(s"${t.getPath}/stat") catch { case _: java.io.IOException => "" }
      val name = stat.indexOf('('); val end = stat.lastIndexOf(')')
      if (name < 0 || end < 0 || !stat.substring(name + 1, end).matches("C[12] CompilerThre.*")) 0L
      else {
        val f = stat.substring(end + 2).split(' ')
        (f(11).toLong + f(12).toLong) * 10000000L
      }
    }.sum

  def nanos: Long = os.getProcessCpuTime - compilerNanos
}

/** One workload: the engine calls of a pass, and the outputs the checks
  * read. Pass 0 is the warm-up whose outputs are checked; later passes
  * record which outputs differ from it. */
trait Workload {
  def pass(t: Tracer, p: Int): Unit
  def dumpChecks(dir: String): Unit
  def unstable: collection.Set[String]
  def db2Texts: Seq[String]
  def sfTexts: Seq[String]
  def inspect(t: Tracer): Unit = ()
  def endPass(p: Int): Unit = ()
}

object Io {
  def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes("UTF-8"))

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  def texts(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".sql"))
      .sortBy(_.getName).map(f => read(f.getPath))

  def baseName(scriptId: String): String = scriptId.substring(scriptId.lastIndexOf('/') + 1)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The reference sample scripts through the same engine calls, for the
  * byte-for-byte comparison with the golden files (outside any timing). */
object Golden {
  def dump(spark: SparkSession, dir: String, out: String): Unit = {
    val db2 = Engine.readScripts(spark, s"$dir/db2")
    Io.write(s"$out/golden_db2.iceberg.sql",
      Engine.convertDb2(Engine.parseDb2(db2)).collect().head.getAs[String]("iceberg_ddl"))
    Io.write(s"$out/golden_db2.report.txt",
      Engine.reportLines(db2, BenchMain.GeneratedAt).orderBy("line_no").collect()
        .map(_.getAs[String]("line")).mkString("", "\n", "\n"))
    Io.write(s"$out/golden_sf.iceberg.sql",
      Engine.convertSnowflake(Engine.readScripts(spark, s"$dir/sf")).collect().head
        .getAs[String]("iceberg_ddl"))
  }
}

/** ddl_corpus and giant_script: a directory of DB2 scripts (and for the
  * corpus a directory of Snowflake scripts) read, converted and assessed
  * through the public `Engine` calls. */
final class DdlWorkload(spark: SparkSession, db2Dir: String, sfDir: Option[String])
    extends Workload {
  private var first: Map[String, Seq[String]] = Map.empty
  val unstable = mutable.LinkedHashSet.empty[String]
  lazy val db2Texts: Seq[String] = Io.texts(db2Dir)
  lazy val sfTexts: Seq[String] = sfDir.toSeq.flatMap(Io.texts)

  private def scripts(dir: String) = Engine.readScripts(spark, dir)
  private def id(r: Row): String = Io.baseName(r.getAs[String]("script_id"))

  /** Each call's output as sorted JSON lines: pass 0's are checked, and
    * later passes must reproduce them. */
  private def keep(p: Int, name: String, lines: Seq[String]): Unit = {
    val sorted = lines.sorted
    if (p == 0) first += name -> sorted
    else if (first.get(name).forall(_ != sorted)) unstable += name
  }

  def pass(t: Tracer, p: Int): Unit = {
    val inventory = t.call("api.read") {
      scripts(db2Dir).agg(count(lit(1)).as("n"), sum(length(col("ddl"))).as("chars")).collect()
    }
    keep(p, "inventory", inventory.map(r => Json.obj("scripts" -> r.getLong(0),
      "chars" -> r.getLong(1))).toSeq)

    val converted = t.call("api.convert") {
      Engine.convertDb2(Engine.parseDb2(scripts(db2Dir))).collect()
    }
    keep(p, "convert", converted.map(r => Json.obj("script" -> id(r),
      "tables_converted" -> r.getAs[Int]("tables_converted"),
      "ewi_count" -> r.getAs[Int]("ewi_count"),
      "iceberg_ddl" -> r.getAs[String]("iceberg_ddl"))).toSeq)

    val (rollup, types, features) = t.call("api.assess") {
      val tables = Engine.parseDb2(scripts(db2Dir)).persist()
      try {
        val rows = Engine.assessRows(tables)
        (Engine.assessRollup(rows).collect(), Engine.typeDistribution(rows).collect(),
          Engine.featureUsage(tables).collect())
      } finally tables.unpersist(blocking = true)
    }
    keep(p, "rollup", rollup.map { r =>
      Json.obj(
        Seq("agg_level", "tables_total", "tables_auto", "tables_manual", "tables_blocked",
          "total_columns", "total_constraints", "critical_issues", "warning_issues",
          "info_issues").map(c => c -> r.getAs[Int](c)) ++
          Seq("schema", "table_name", "overall_level").map(c => c -> r.getAs[String](c)) ++
          Seq("script" -> Option(r.getAs[String]("script_id")).map(Io.baseName),
            "overall_score" -> r.getAs[Double]("overall_score")): _*)
    }.toSeq)
    keep(p, "types", types.map(r => Json.obj("script" -> id(r),
      "base_type" -> r.getAs[String]("base_type"),
      "n_columns" -> r.getAs[Int]("n_columns"))).toSeq)
    keep(p, "features", features.map(r => Json.obj("script" -> id(r),
      "xml_columns" -> r.getAs[Int]("xml_columns"))).toSeq)

    val report = t.call("api.report") {
      Engine.reportLines(scripts(db2Dir), BenchMain.GeneratedAt).collect()
    }
    keep(p, "report_totals", report.collect {
      case r if r.getAs[String]("line").startsWith("  Total ") =>
        Json.obj("script" -> id(r), "line" -> r.getAs[String]("line"))
    }.toSeq)
    keep(p, "report_lines", Seq(report.length.toString))

    sfDir.foreach { dir =>
      val sf = t.call("api.sf_convert") { Engine.convertSnowflake(scripts(dir)).collect() }
      keep(p, "sf_convert", sf.map(r => Json.obj("script" -> id(r),
        "tables_converted" -> r.getAs[Int]("tables_converted"),
        "ewi_count" -> r.getAs[Int]("ewi_count"))).toSeq)
    }
  }

  def dumpChecks(dir: String): Unit =
    first.foreach { case (name, lines) => Io.writeLines(s"$dir/$name.jsonl", lines) }
}

/** migrate_cdc: lineitem and orders migrated into graft-iceberg tables
  * typed by the benchmark's DB2 DDL, then change rounds on lineitem
  * (upsert, delete, append), each followed by a read of the net rows.
  * Every pass starts from fresh tables. */
final class MigrateWorkload(spark: SparkSession, inputs: String, tablesDir: String)
    extends Workload {
  private val lineitemDdl = Io.read(s"$inputs/lineitem.sql")
  private val ordersDdl = Io.read(s"$inputs/orders.sql")
  private val lineitem: TableDef = Db2Parser.parse(lineitemDdl).tables.head
  private val orders: TableDef = Db2Parser.parse(ordersDdl).tables.head
  private val rounds: Seq[(String, String, String)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = JsonMethods.parse(Io.read(s"$inputs/manifest.json"))
    (m \ "rounds").asInstanceOf[JArray].arr.map { r =>
      def s(k: String) = (r \ k).asInstanceOf[JString].s
      (s"$inputs/${s("upsert")}", s("delete"), s"$inputs/${s("append")}")
    }
  }
  private val key = Seq("l_orderkey", "l_linenumber")
  private val results = mutable.ArrayBuffer.empty[String]
  val unstable = mutable.LinkedHashSet.empty[String]
  def db2Texts: Seq[String] = Seq(lineitemDdl, ordersDdl)
  def sfTexts: Seq[String] = Nil

  private def paths(p: Int) = (s"$tablesDir/p$p/lineitem", s"$tablesDir/p$p/orders")

  private def net(t: Tracer, path: String, table: TableDef, measure: String): (Long, String) =
    t.call("sources.read") {
      val r = IcebergSnapshot.readSnapshot(spark, path, table)
        .agg(count(lit(1)), sum(col(measure))).collect().head
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }

  def pass(t: Tracer, p: Int): Unit = {
    val (li, or) = paths(p)
    t.call("sources.migrate") {
      SchemaTranslator.migrateTable(spark.read.parquet(s"$inputs/source/lineitem.parquet"),
        lineitem, li)
    }
    t.call("sources.migrate") {
      SchemaTranslator.migrateTable(spark.read.parquet(s"$inputs/source/orders.parquet"),
        orders, or)
    }
    val o = net(t, or, orders, "o_totalprice")
    val after = rounds.map { case (upsert, predicate, append) =>
      t.call("sources.upsert") {
        SchemaTranslator.mergeUpsert(spark.read.parquet(upsert), lineitem, li, key)
      }
      t.call("sources.delete") {
        SchemaTranslator.deleteWhere(spark, lineitem, li, expr(predicate))
      }
      t.call("sources.append") {
        SchemaTranslator.appendIncrement(spark.read.parquet(append), lineitem, li)
      }
      net(t, li, lineitem, "l_quantity")
    }
    results += Json.obj("pass" -> p, "orders" -> Seq(o._1, o._2),
      "lineitem" -> after.map { case (n, s) => Seq(n, s) })
  }

  /** Committed snapshots and live data/delete files of the pass's tables. */
  override def inspect(t: Tracer): Unit = {
    val (li, or) = paths(t.pass)
    var commits = 0L; var data = 0L; var deletes = 0L
    for ((path, table) <- Seq(li -> lineitem, or -> orders)) {
      commits += IcebergInspect.snapshotsTable(spark, path).count()
      IcebergInspect.filesTable(spark, path, table).groupBy("content").count().collect()
        .foreach { r => if (r.getInt(0) == 0) data += r.getLong(1) else deletes += r.getLong(1) }
    }
    val now = System.nanoTime()
    t.record("sources.inspect", now, now, Map("commits" -> commits.toDouble,
      "data_files" -> data.toDouble, "delete_files" -> deletes.toDouble))
  }

  override def endPass(p: Int): Unit = Io.deleteTree(new File(s"$tablesDir/p$p"))

  def dumpChecks(dir: String): Unit = Io.writeLines(s"$dir/migrate.jsonl", results)
}
