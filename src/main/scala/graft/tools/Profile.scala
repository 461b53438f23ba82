package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Query profiler: `runMain graft.tools.Profile [query ...]` profiles
  * the named registered queries, or all of them with no names, on
  * `SPARK_GRAFT_SF_DIR`. Each query runs once untimed (absorbing
  * fixture builds and codegen), then `SPARK_GRAFT_PROFILE_REPS` timed
  * reps through the noop sink with caches cleared before each, every
  * rep under its own [[Spans]] span. Outside the timed region it writes
  * to `SPARK_GRAFT_PLAN_DIR`:
  *   - `counters.json`: per query, the reps' median and min wall time,
  *     the last rep's Spark counters with its job-time and inter-job-gap
  *     sums, heap used and the persistent-RDD census after the reps,
  *     and the number of failed reps;
  *   - `<query>.txt`: the formatted plan of the untimed run, after it
  *     ran, so an adaptive plan shows both its initial and final form.
  * For queries named on the command line it also prints the last rep's
  * jobs, one line each, with the gap before each job. */
object Profile {

  /** What the timed reps of one query measured. */
  final case class Result(name: String, walls: Seq[Double], failed: Int,
      last: Counters, heapUsedBytes: Long, persistentRdds: Int) {
    def median: Double = {
      val s = walls.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "5").toInt.max(1)
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/latest")
    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val results = profile(spark, sfDir, graft.SparkEntry.queries, names, reps, outDir)
    if (args.nonEmpty) results.foreach(printJobs)
    spark.stop()
  }

  private def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // clearCache leaves localCheckpoint blocks in block storage
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs `df` to its end and returns its formatted plan. */
  private def runForPlan(df: DataFrame): String = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("profile"))(qe.toRdd.foreach(_ => ()))
    qe.explainString(FormattedMode)
  }

  /** Profiles `names` out of `queries` over the fixtures in `dir` as
    * described above and writes the files to `outDir`. */
  def profile(spark: SparkSession, dir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      names: Seq[String], reps: Int, outDir: String): Seq[Result] = {
    Files.createDirectories(Paths.get(outDir))
    val rt = Runtime.getRuntime
    val results = names.map { name =>
      val fn = queries(name)
      clean(spark)
      val plan = Try(runForPlan(fn(spark, dir)))
        .fold(e => s"failed: $e\n", identity)
      Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
      val runs = (1 to reps).map { _ =>
        clean(spark)
        Spans.measure(spark.sparkContext)(
          Try(fn(spark, dir).write.format("noop").mode("overwrite").save()))
      }
      runs.flatMap(_._1.failed.toOption).foreach(e =>
        System.err.println(s"[profile] $name failed: ${e.getMessage}"))
      val r = Result(name, runs.map(_._2.wallSec), runs.count(_._1.isFailure),
        runs.last._2, rt.totalMemory - rt.freeMemory,
        spark.sparkContext.getPersistentRDDs.size)
      val c = r.last
      println(f"[profile] $name%-28s median=${r.median}%7.3f s min=${r.walls.min}%7.3f s " +
        s"jobs=${c.jobs.size} stages=${c.stages} tasks=${c.tasks} failed=${r.failed}")
      r
    }
    clean(spark)
    Files.writeString(Paths.get(outDir, "counters.json"),
      results.map(toJson).mkString(
        s"""{"sf":"$dir","reps":$reps,"queries":{""", ",", "}}\n"))
    results
  }

  private def toJson(r: Result): String = {
    val c = r.last
    "\"" + r.name + "\":" + Seq(
      "wall_median_s" -> f"${r.median}%.3f", "wall_min_s" -> f"${r.walls.min}%.3f",
      "jobs" -> c.jobs.size, "stages" -> c.stages, "tasks" -> c.tasks,
      "shuffle_read_bytes" -> c.shuffleReadBytes,
      "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
      "peak_execution_memory_bytes" -> c.peakExecutionMemory, "gc_ms" -> c.gcMs,
      "task_busy_ms" -> c.taskBusyMs, "job_time_s" -> f"${c.jobSec}%.3f",
      "inter_job_gap_s" -> f"${c.gapSec}%.3f", "heap_used_bytes" -> r.heapUsedBytes,
      "persistent_rdds" -> r.persistentRdds, "failed_reps" -> r.failed
    ).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  }

  private def printJobs(r: Result): Unit = {
    var prevEnd = 0L
    r.last.jobs.sortBy(_.startMs).foreach { j =>
      val gap = if (prevEnd == 0L) 0.0 else (j.startMs - prevEnd) / 1e3
      println(f"[profile] ${r.name} job ${j.id}%4d dur=${j.seconds}%7.3f s " +
        f"gap_before=$gap%7.3f s stages=${j.stages}%3d tasks=${j.tasks}%5d")
      prevEnd = j.endMs
    }
    println(f"[profile] ${r.name} job_time=${r.last.jobSec}%7.3f s " +
      f"inter_job_gaps=${r.last.gapSec}%7.3f s")
  }
}
