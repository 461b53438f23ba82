package graft

import java.util.concurrent.CountDownLatch

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{Counters, Profile, Spans}

/** The span listener counts each span's own Spark work, also on the
  * threads the span's thread creates, and the counts repeat from run to
  * run; `Profile` writes its counters and plans per query and records a
  * query that throws as failed. */
class ProfileSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("profile-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.api.GraftExtensions)
    .create()
  private val dir = "/root/testdata/sf0.001"

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("a span counts the jobs of threads its thread creates, and two open spans stay apart") {
    val sc = spark.sparkContext
    val bothOpen = new CountDownLatch(2)
    def jobs(n: Int): Unit = (1 to n).foreach(_ => sc.parallelize(1 to 8, 2).count())
    def spanned(own: Int, onChild: Int): Counters = Spans.measure(sc) {
      bothOpen.countDown()
      bothOpen.await()
      val child = new Thread(() => jobs(onChild))
      child.start()
      jobs(own)
      child.join()
    }._2
    var a, b: Counters = null
    val ta = new Thread(() => a = spanned(own = 1, onChild = 2))
    val tb = new Thread(() => b = spanned(own = 4, onChild = 0))
    Seq(ta, tb).foreach(_.start())
    Seq(ta, tb).foreach(_.join())
    assert((a.jobs.size, a.stages, a.tasks) === ((3, 3L, 6L)))
    assert((b.jobs.size, b.stages, b.tasks) === ((4, 4L, 8L)))
  }

  test("a query's jobs, stages and tasks repeat exactly from run to run") {
    val q = SparkEntry.queries("q95_curation_pipeline")
    def counts(): (Int, Long, Long) = {
      spark.catalog.clearCache()
      val c = Spans.measure(spark.sparkContext)(noop(q(spark, dir)))._2
      (c.jobs.size, c.stages, c.tasks)
    }
    counts()
    val first = counts()
    assert(first._1 > 1 && first._3 >= first._2)
    assert(counts() === first)
  }

  test("Profile writes counters.json and one plan per query, and records a throwing query") {
    val out = java.nio.file.Files.createTempDirectory("profile_out")
    val queries = SparkEntry.queries +
      ("q_throws" -> ((_: SparkSession, _: String) => sys.error("boom")))
    val names = Seq("q1_agg", "q17_langid", "q_throws")
    Profile.profile(spark, dir, queries, names, reps = 2, out.toString)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("counters.json").toFile)
    assert(json.get("reps").asInt === 2)
    val fields = Seq("wall_median_s", "wall_min_s", "jobs", "stages", "tasks",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
      "peak_execution_memory_bytes", "gc_ms", "task_busy_ms", "job_time_s",
      "inter_job_gap_s", "heap_used_bytes", "persistent_rdds", "failed_reps")
    val byQuery = json.get("queries")
    assert(byQuery.fieldNames.asScala.toSeq.sorted === names.sorted)
    names.foreach { n =>
      assert(byQuery.get(n).fieldNames.asScala.toSeq === fields, n)
      assert(java.nio.file.Files.isRegularFile(out.resolve(s"$n.txt")), n)
    }
    assert(byQuery.get("q_throws").get("failed_reps").asInt === 2)
    assert(byQuery.get("q_throws").get("jobs").asInt === 0)
    Seq("q1_agg", "q17_langid").foreach { n =>
      assert(byQuery.get(n).get("failed_reps").asInt === 0, n)
      assert(byQuery.get(n).get("jobs").asInt > 0, n)
    }
    assert(byQuery.get("q17_langid").get("shuffle_write_bytes").asLong > 0L)
    val plan = java.nio.file.Files.readString(out.resolve("q17_langid.txt"))
    assert(plan.contains("== Final Plan ==") && plan.contains("== Initial Plan =="), plan)
    assert(java.nio.file.Files.readString(out.resolve("q_throws.txt")).contains("boom"))
  }
}
