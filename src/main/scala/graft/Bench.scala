package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, timing full materialization through the noop
  * sink (no driver-side collect, no count() shortcuts), and prints ONE
  * JSON line with total + per-query seconds.
  *
  * Per-query times are MEDIANS over SPARK_GRAFT_BENCH_REPS in-process
  * repetitions (default 3): this host occasionally lands a multi-second
  * scheduler stall on one random query per pass (BenchProfile shows
  * gc≈0, heap fine — host-level steal), and a median over ≥3 passes
  * keeps one stall from poisoning round-over-round comparisons. The
  * cache is cleared before each pass so every pass measures the same
  * cold-cache work; the reported total is the sum of medians.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // build-time extensions: SQL UPDATE/MERGE INTO + ref DDL need the
      // injected analyzer rule and delegating parser (GraftExtensions)
      .withExtensions(new graft.api.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Deterministic order; a tiny warm-up query absorbs JVM/codegen
    // startup so per-query numbers reflect steady state.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples = (0 until reps).map { _ =>
      spark.catalog.clearCache()
      // clearCache only empties the CacheManager; localCheckpoint
      // blocks (Quantiles/BudgetSelect/Dedup.duplicateClusters) live in
      // raw block storage and would otherwise accumulate across passes,
      // shrinking the storage pool the per-pass caches measure against.
      // Nothing from a previous pass is ever re-read, so the sweep is
      // safe — and it keeps every pass's cold-cache claim honest.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
        name -> ((System.nanoTime() - t0) / 1e9, ok)
      }.toMap
    }
    // A failed rep still counts its elapsed time as a sample, so the
    // artifact lists per query how many reps threw: a query that starts
    // failing reads as failed, not as faster.
    val failed = names.map { case (name, _) => name -> samples.count(!_(name)._2) }
      .filter(_._2 > 0).map { case (k, n) => "\"" + k + "\":" + n }.mkString("{", ",", "}")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = names.map { case (name, _) => name -> median(samples.map(_(name)._1)) }
    // Per-query MIN rides alongside the median: a contended host window
    // inflates medians broadly but rarely all reps of one query, so
    // median≫min flags steal without a manual rerun (BASELINE.md used
    // to reconstruct this by hand).
    val mins = names.map { case (name, _) => name -> samples.map(_(name)._1).min }
    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jsonMap(results)},"queries_min":${jsonMap(mins)},"failed":$failed,"sf":"$sfDir","reps":$reps}"""
    // The driver captures only the TAIL of stdout; with 80+ queries the
    // single line can truncate mid-map and lose the total. Persist the
    // full JSON to a file so the grading artifact is always complete —
    // AND to a git-tracked copy (bench_out.json is gitignored; round 6's
    // medians were lost because only the ignored file survived), so
    // committing after a bench run preserves the full artifact. File
    // writes happen BEFORE the stdout line and never abort it: r15's
    // round-over-round comparison was lost to a truncated/absent
    // contract line (PERF came back with n_common 0), so the line is
    // the LAST thing on stdout — nothing after it can push it out of
    // the tail window — and a failed artifact write (e.g. a nonexistent
    // SPARK_GRAFT_BENCH_OUT dir) degrades to stderr instead of killing
    // the run between measurement and report.
    def persist(p: String): Unit =
      try { java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), json + "\n"); () }
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact write $p failed: ${e.getMessage}")
      }
    persist(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    persist("BENCH_full_latest.json")
    // stdout carries a COMPACT line (2-decimal medians, no min map):
    // a 140-query double-map line truncated mid-map parses as null
    // (the r13 artifact's "parsed": null). The FULL artifact is in the
    // files above.
    def jsonMap2(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"""\":$v%.2f""" }.mkString("{", ",", "}")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jsonMap2(results)},"sf":"$sfDir","reps":$reps,"detail":"BENCH_full_latest.json"}""")
    System.out.flush()
    spark.stop()
  }
}
