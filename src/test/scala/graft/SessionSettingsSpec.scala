package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ivf, IvfPq, PipelineQueries, Pq}

/** Operators leave the caller's session settings alone: IVF/PQ
  * training reads and sets no conf, so work running beside it keeps
  * its adaptive-execution setting; a Lloyd round is one Spark job
  * whatever that setting is; the centroids do not depend on the
  * session's shuffle or adaptive settings; and the SPJ audit queries
  * change nothing on the caller's session but their catalog
  * registration. */
class SessionSettingsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("session-settings-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    // the SPJ fixtures' build phase runs SQL DELETE/MERGE
    .withExtensions(new graft.api.GraftExtensions)
    .create()
  private val dir = "/root/testdata/sf0.001"
  private val aqe = "spark.sql.adaptive.enabled"

  /** The sf0.01 embeddings rewritten as four files, so training runs
    * over four input partitions and the merge order matters. */
  private lazy val emb: DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("lloyd_emb").toString
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .repartition(4, org.apache.spark.sql.functions.col("vec_id"))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  /** Runs `body` with `settings` on the session, restoring the prior
    * values after. */
  private def withConf[T](settings: (String, String)*)(body: => T): T = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  private def bits(xs: Iterable[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToRawLongBits).toSeq

  private def ivfBits(nIters: Int): Seq[Long] =
    bits(Ivf.train(emb, nCentroids = 8, nIters).orderBy("cid").collect()
      .flatMap(_.getSeq[Double](1)))

  private def pqBits(nIters: Int): Seq[Long] =
    bits(Pq.train(emb, dim = 64, nSub = 8, k = 16, nIters).books
      .flatten.flatten)

  test("a concurrent reader never sees AQE off while IvfPq.writeIndex trains") {
    withConf(aqe -> "true") {
      val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      val path = java.nio.file.Files.createTempDirectory("ivfpq_conf").toString
      val done = new AtomicBoolean(false)
      val sawOff = new AtomicBoolean(false)
      val polls = new AtomicInteger(0)
      val poller = new Thread(() => {
        while (!done.get()) {
          if (spark.conf.get(aqe) == "false") sawOff.set(true)
          polls.incrementAndGet()
        }
      })
      poller.start()
      try IvfPq.writeIndex(corpus, path, nCentroids = 8, centroidIters = 3,
        dim = 64, nSub = 8, codewords = 16, pqIters = 3)
      finally { done.set(true); poller.join() }
      assert(polls.get() > 0)
      assert(!sawOff.get(), "training switched AQE off on the caller's session")
      assert(spark.conf.get(aqe) === "true")
      assert(IvfPq.indexExists(spark, path))
    }
  }

  test("Ivf.train and Pq.train are bit-identical across runs and session settings") {
    val (ivf1, pq1) = withConf(aqe -> "true",
      "spark.sql.shuffle.partitions" -> "4") { (ivfBits(3), pqBits(2)) }
    val (ivf2, pq2) = withConf(aqe -> "false",
      "spark.sql.shuffle.partitions" -> "7") { (ivfBits(3), pqBits(2)) }
    val (ivf3, pq3) = withConf(aqe -> "true",
      "spark.sql.shuffle.partitions" -> "1") { (ivfBits(3), pqBits(2)) }
    assert(ivf1.size === 8 * 64 && pq1.size === 8 * 16 * 8)
    assert(ivf1 === ivf2 && ivf1 === ivf3)
    assert(pq1 === pq2 && pq1 === pq3)
  }

  test("with AQE on, each further Lloyd round is exactly one Spark job") {
    withConf(aqe -> "true") {
      emb.count()
      val ivf1 = jobsOf(ivfBits(1))
      val ivf3 = jobsOf(ivfBits(3))
      val pq1 = jobsOf(pqBits(1))
      val pq3 = jobsOf(pqBits(3))
      assert(ivf3 - ivf1 === 2, s"Ivf.train: $ivf1 jobs at 1 round, $ivf3 at 3")
      assert(pq3 - pq1 === 2, s"Pq.train: $pq1 jobs at 1 round, $pq3 at 3")
    }
  }

  test("q113-q115 change no session setting but their catalog registration") {
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q113" -> PipelineQueries.q113SpjJoin,
      "q114" -> PipelineQueries.q114SpjDeleteJoin,
      "q115" -> PipelineQueries.q115SpjIdentityJoin)
    queries.foreach { case (name, q) =>
      val before = spark.conf.getAll
      val row = q(spark, dir).collect().head
      val after = spark.conf.getAll
      assert(row.getAs[Boolean]("spj_ok"), s"$name: spj_ok")
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(changed.forall(_.startsWith("spark.sql.catalog.")),
        s"$name changed ${changed.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")}")
    }
  }
}
