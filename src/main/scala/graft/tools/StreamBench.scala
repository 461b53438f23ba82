package graft.tools

import org.apache.spark.sql.functions._

/** Streaming-maintenance scale probe (not part of the driver
  * contract): times every [[graft.streaming.StreamingOps]] index-sink
  * maintenance op at sf0.1 — bootstrap batch (writeIndex), three
  * append batches, a probe over the maintained layout, and the
  * compaction — so the streaming operators carry measured numbers per
  * round instead of suite-green-only claims. The sinks are
  * `foreachBatch` bodies `(DataFrame, Long) => Unit`; driving them
  * directly with deterministic batch slices times exactly the work a
  * micro-batch pays, minus the stream scheduler (which ScaleBench's
  * source-side rows cover). Prints one [sb] line per op and a single
  * JSON summary line (also to SPARK_GRAFT_STREAM_OUT, default
  * BENCH_stream_latest.json).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val spark = session()
    import graft.streaming.StreamingOps

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def run(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      times(label) = s
      println(f"[sb] $label%-28s $s%7.3f s")
    }
    def tmp(n: String): String = java.nio.file.Files
      .createTempDirectory(s"sb_$n").toString

    // ---- BM25 index sink: bootstrap + 3 appends + probe + compact
    val bm = tmp("bm25")
    val bmSink = StreamingOps.bm25IndexSink("doc_id", "text", bm,
      nBuckets = 16, txnAppId = Some("sb_bm25"))
    (0 until 4).foreach { b =>
      run(s"bm25_sink_batch$b")(bmSink(docs.filter(col("doc_id") % 4 === b), b))
    }
    run("bm25_probe") {
      import spark.implicits._
      graft.operators.Bm25.searchIndex(spark, bm,
        Seq((1, "the"), (1, "a")).toDF("q_id", "term"), "doc_id", k = 10)
        .write.format("noop").mode("overwrite").save()
    }
    run("bm25_compact")(graft.operators.Bm25.compactIndex(spark, bm))

    // ---- phrase index sink
    val ph = tmp("phrase")
    val phSink = StreamingOps.phraseIndexSink("doc_id", "text", ph,
      nBuckets = 16, txnAppId = Some("sb_phrase"))
    (0 until 4).foreach { b =>
      run(s"phrase_sink_batch$b")(phSink(docs.filter(col("doc_id") % 4 === b), b))
    }
    run("phrase_compact")(graft.operators.Search.compactIndex(spark, ph))

    // ---- IVF+PQ vector index sink
    val vp = tmp("ivfpq")
    val vpSink = StreamingOps.ivfPqIndexSink(vp, nCentroids = 16,
      centroidIters = 2, dim = 64, nSub = 8, codewords = 16, pqIters = 1,
      txnAppId = Some("sb_ivfpq"))
    (0 until 4).foreach { b =>
      run(s"ivfpq_sink_batch$b")(vpSink(emb.filter(col("vec_id") % 4 === b), b))
    }
    run("ivfpq_compact")(graft.operators.IvfPq.compactIndex(spark, vp))

    // ---- fingerprint-ledger dedup sink
    val lg = tmp("ledger")
    val lgOut = tmp("ledger_out")
    val lgSink = StreamingOps.ledgerDedupSink("fp", lg, lgOut,
      txnAppId = "sb_ledger", nBuckets = 16)
    (0 until 4).foreach { b =>
      run(s"ledger_sink_batch$b")(lgSink(
        docs.filter(col("doc_id") % 4 === b).select(md5(col("text")).as("fp")), b))
    }
    run("ledger_compact")(graft.operators.FingerprintLedger
      .compactLedger(spark, lg))

    val json = times.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{\"metric\":\"stream_ops\",\"ops\":{", ",", "}")
    val line = json + f""",\"total\":${times.values.sum}%.3f,"sf":"$sfDir"}"""
    println(line)
    try { java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "BENCH_stream_latest.json")),
      line + "\n"); () }
    catch { case e: Throwable =>
      System.err.println(s"[sb] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
