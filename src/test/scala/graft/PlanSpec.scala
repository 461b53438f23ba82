package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FixtureQueries

/** Physical-plan assertions: the plans we ship are the plans we want —
  * broadcasts actually broadcast, filters/projections reach the parquet
  * scan, codegen covers the hot path. These guard the 100 TB properties
  * that correctness tests can't see. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    // initial adaptive plan: shows the full operator tree (the
    // AQE-final string collapses already-materialized stages)
    df.queryExecution.executedPlan.toString

  test("q3: small dims resolve to broadcast hash joins") {
    val plan = planString(FixtureQueries.q3BroadcastJoin(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "small dims must not sort-merge")
  }

  test("q1: column pruning reaches the parquet scan") {
    val df = FixtureQueries.q1Agg(spark, dir)
    val scan = df.queryExecution.executedPlan.toString
    // only the 4 needed lineitem columns are read, not all 11
    assert(scan.contains("l_returnflag"))
    assert(!scan.contains("l_shipdate"), "unused columns must be pruned from ReadSchema")
  }

  test("filter pushdown: predicate reaches PushedFilters") {
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderkey") === 42L)
      .select("o_orderkey", "o_totalprice")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(o_orderkey)"),
      plan.take(2000))
  }

  test("q1: aggregation is partial+final hash agg inside whole-stage codegen") {
    val df = FixtureQueries.q1Agg(spark, dir)
    assert(planString(df).contains("HashAggregate"))
    df.collect()
    // '*(n)' markers denote whole-stage-codegen'd stages in the
    // materialized plan
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("q22: query side is broadcast (nested-loop), corpus never shuffles") {
    val plan = planString(graft.operators.PipelineQueries.q22CosineTopK(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("as-of join: one shuffle, no join operator in the plan") {
    import org.apache.spark.sql.functions._
    // shared helper owns the ts normalization (fixture schema varies
    // across driver generations) — never read events.parquet directly
    val e = FixtureQueries.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
    val l = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), col("event_id"))
    val r = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("us"))
      .agg(max_by(col("value"), col("event_id")).as("pay"))
    val plan = planString(
      graft.operators.AsOfJoin.backward(l, r, Seq("user_id"), "us", "us", Seq("pay")))
    assert(!plan.contains("Join"), "as-of must not plan a join:\n" + plan.take(2000))
    // exchanges: one for the right-side dedup groupBy, one for the
    // window partitioning — the as-of itself adds only the window one
    val nExchange = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nExchange <= 2, s"expected ≤2 exchanges, got $nExchange:\n" + plan.take(3000))
    assert(plan.contains("Window"), plan.take(2000))
  }

  test("range join plans as an equi-join on (key, bucket), not a nested loop") {
    import org.apache.spark.sql.functions._
    // shared helper, not a direct read — see the as-of plan test
    val e = FixtureQueries.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("us"))
    val w = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("ws"), (col("us") + 3600000000L).as("we"))
    val plan = planString(graft.operators.RangeJoin.pointsInIntervals(
      v, w, Seq("user_id"), "us", "ws", "we", 3600000000L))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      "range join must not plan a nested loop:\n" + plan.take(2000))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("bm25 indexed probe: the plan never rescans the corpus and prunes " +
      "postings/df to the probe terms' bucket directories") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("bm25idx_plan").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.Bm25.writeIndex(docs, "doc_id", "text", idx, nBuckets = 16)
    val probes = Seq((1, "data"), (1, "model"), (2, "spark")).toDF("q_id", "term")
    val plan = planString(
      graft.operators.Bm25.searchIndex(spark, idx, probes, "doc_id", k = 5))
    assert(!plan.contains("documents.parquet"),
      "indexed probe must never touch the corpus:\n" + plan.take(2000))
    val pruned = "PartitionFilters: \\[[^\\]]*bucket".r.findAllIn(plan).length
    assert(pruned >= 2, // postings AND df scans both prune
      "expected bucket partition pruning on postings and df scans:\n" +
        plan.take(3000))
  }

  test("ivfpq indexed probe: the plan never rescans the embeddings fixture " +
      "and prunes the codes scan to the probed cells' partitions; the " +
      "phrase-index probe face likewise never touches the corpus") {
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_plan").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    graft.operators.IvfPq.writeIndex(emb, idx, nCentroids = 8,
      centroidIters = 1, dim = 64, nSub = 8, codewords = 16, pqIters = 1)
    // queries come from the index's own vector table — the probe is
    // fully corpus-free, including the exact re-rank point-fetch
    val queries = graft.operators.IvfPq.vectorsTable(spark, idx)
      .filter(col("vec_id") < 5)
    val plan = planString(graft.operators.IvfPq.searchIndex(
      spark, idx, queries, k = 3, nProbe = 2, rerank = 10))
    assert(!plan.contains("embeddings.parquet"),
      "indexed probe must never touch the source embeddings:\n" + plan.take(2000))
    assert("PartitionFilters: \\[[^\\]]*cid".r.findAllIn(plan).nonEmpty,
      "expected cid partition pruning on the codes scan:\n" + plan.take(3000))
    // the codes scan stays codes-only: no embedding bytes ride it
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s => s.contains("code") && !s.contains("embedding")),
      plan.take(3000))
    // phrase probe face: given a prebuilt layout and an explicit phrase
    // list, the stats plan reads only the index
    import spark.implicits._
    val sidx = java.nio.file.Files.createTempDirectory("searchidx_plan").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.Search.writeIndex(docs, "doc_id", "text", sidx, nBuckets = 16)
    val pplan = planString(graft.operators.Search.phraseStatsProbe(
      spark, sidx, Seq("the quick brown", "data model spark")))
    assert(!pplan.contains("documents.parquet"),
      "phrase probe must never touch the corpus:\n" + pplan.take(2000))
    // the COMPOSED ranked-phrase query (q92) is corpus-free end to
    // end: phrase docs from the positional index, BM25 ranking from
    // the BM25 index, nothing else
    val bidx = java.nio.file.Files.createTempDirectory("bm25idx_q92").toString
    graft.operators.Bm25.writeIndex(docs, "doc_id", "text", bidx, nBuckets = 16)
    val rplan = planString(graft.operators.Bm25.phraseRankedSearch(
      spark, bidx, sidx, Seq("the quick brown", "data model spark"),
      "doc_id", k = 5, linearIdf = true))
    assert(!rplan.contains("documents.parquet"),
      "ranked phrase retrieval must never touch the corpus:\n" + rplan.take(2000))
  }

  test("ledger dedup: the ledger side scans fingerprints only — document " +
      "text never rides the cross-run anti-join") {
    import org.apache.spark.sql.functions.{col, md5}
    val led = java.nio.file.Files.createTempDirectory("ledger_plan").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.FingerprintLedger.writeLedger(
      docs.filter(col("doc_id") % 2 === 0).select(md5(col("text")).as("fp")),
      led, nBuckets = 8)
    val day2 = docs.filter(col("doc_id") % 2 =!= 0)
      .withColumn("fp", md5(col("text")))
    val plan = planString(
      graft.operators.FingerprintLedger.dedupAgainst(day2, "fp", led))
    // the ledger-path scan projects fp (+ bucket partition col) only
    val ledgerScans = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
      .filter(_ => true)
    assert("fps/delta_v1".r.findAllIn(plan).nonEmpty ||
      plan.contains("ledger_plan"), plan.take(2000))
    assert(ledgerScans.exists(s => s.contains("fp") && !s.contains("text")),
      "ledger scan must be fingerprint-only:\n" + plan.take(3000))
  }

  test("q94 near-dup ledger: the probe side scans band keys only and the " +
      "composed plan is never cartesian") {
    import org.apache.spark.sql.functions.col
    val led = java.nio.file.Files.createTempDirectory("mh_ledger_plan").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val day1 = docs.filter(col("doc_id") % 2 === 0)
    val day2 = docs.filter(col("doc_id") % 2 =!= 0)
    graft.operators.FingerprintLedger.writeLedger(
      graft.operators.Dedup.bandBuckets(
        graft.operators.Dedup.minhashSignatures(day1, "doc_id", "text", 3, 64),
        16).select(col("bucket").as("fp")),
      led, nBuckets = 8)
    val day2Keys = graft.operators.Dedup.bandBuckets(
      graft.operators.Dedup.minhashSignatures(day2, "doc_id", "text", 3, 64), 16)
    val probe = planString(
      graft.operators.FingerprintLedger.seenRows(day2Keys, "bucket", led))
    // the ledger side of the semi-join is fingerprint-only — history's
    // documents are NEVER rescanned by the prune
    val ledgerScans = "ReadSchema: [^\\n]*".r.findAllIn(probe).toSeq
    assert(ledgerScans.exists(s => s.contains("fp") && !s.contains("text")),
      "ledger probe must scan fingerprints only:\n" + probe.take(3000))
    // the verify stage stays bucket-local: band-key equi-join, no
    // cartesian anywhere in the cross-corpus pair generation
    val verify = planString(graft.operators.Dedup.crossMinhashVerifiedPairs(
      day1, day2, "doc_id", "text", 3, 64, 16, 0.9))
    assert(!verify.contains("CartesianProduct") &&
      !verify.contains("BroadcastNestedLoopJoin"),
      "cross verify must be keyed, never cartesian:\n" + verify.take(3000))
  }

  test("q95 capstone pipeline: every corpus shuffle is keyed — no cartesian, " +
      "and the only nested-loop join is the one-row boilerplate broadcast") {
    // the UNPERSISTED variant keeps every operator visible in one plan
    // (the registered query materializes the scrub/gram fan-out nodes,
    // which hides their subtrees inside InMemoryRelation)
    val df = graft.operators.PipelineQueries.q95Curation(spark, dir,
      org.apache.spark.storage.StorageLevel.NONE)
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // scrubChunks' single-row collect_list broadcast is the one
    // permitted nested-loop join shape (a 1-row side is O(n)); the
    // subtree replicates per consumer in the plan TEXT, so pin the
    // logical invariant instead of counting occurrences. Note the
    // pushed-down filter: `length(scrub) > 0` references BOTH sides,
    // and with the native ScrubChunks expression (no lambda) the
    // optimizer pushes it INTO the join as its condition — the join is
    // the same one-row broadcast, just no longer condition-less.
    val oneRowJoins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.right.maxRows.contains(1L) || j.left.maxRows.contains(1L) => j
    }
    assert(oneRowJoins.nonEmpty, "expected the boilerplate broadcast join")
    // every join WITHOUT an equi/conditional handle must still be a
    // one-row broadcast — a condition-less join of two wide sides
    // would be the cartesian this test exists to forbid
    val freeJoins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isEmpty => j
    }
    assert(freeJoins.forall(j =>
        j.right.maxRows.contains(1L) || j.left.maxRows.contains(1L)),
      "every condition-less join must broadcast a one-row side:\n" +
        plan.take(3000))
  }

  test("simhash is a pure scan projection: no shuffle, no explode") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planString(graft.operators.Dedup.simhash(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("Generate"), "no explode expected:\n" + plan.take(2000))
  }

  test("q34: the only window ranks WITHIN (group, bucket) — never a whole-group sort") {
    val df = graft.operators.Quantiles.exactQuantiles(
      spark.read.parquet(s"$dir/lineitem.parquet"),
      "l_returnflag", "l_extendedprice",
      ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
    val plan = df.queryExecution.optimizedPlan.toString
    // every row_number window in the plan is partitioned by bucket too
    // (the histogram cum-sum windows run over histogram-sized data)
    val rowNumberSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(rowNumberSpecs.nonEmpty, plan.take(3000))
    rowNumberSpecs.foreach(spec =>
      assert(spec.contains("bucket"), s"rank window must be per-bucket: $spec"))
    // and the data feeding the rank is pruned by the needed-bucket semi join
    assert(plan.contains("LeftSemi"), "needed-bucket pruning must be a semi join:\n" +
      plan.take(3000))
  }

  test("q46: bloom prefilter is a scalar-subquery filter; only the verify join remains") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")).cast("string"))
    val left = docs.filter(col("doc_id") % 3 =!= 0)
    val right = docs.filter(col("doc_id") % 3 === 0).select("fp").distinct()
    val df = graft.operators.Decontaminate.bloomAntiJoin(left, right, "fp",
      expectedItems = 64)
    val logical = df.queryExecution.optimizedPlan.toString
    // the prefilter must be a plain Filter carrying might_contain over a
    // scalar subquery — NOT a join against the holdout side
    assert(logical.contains("might_contain"), logical.take(2000))
    assert(logical.contains("scalar-subquery"), logical.take(2000))
    // exactly one join in the whole tree: the exact LeftAnti verify of
    // the suspects; the clean branch flows scan→filter→union join-free
    assert("Join LeftAnti".r.findAllIn(logical).length === 1, logical.take(3000))
    assert(!logical.contains("Join Inner") && !logical.contains("Join Cross"),
      logical.take(3000))
  }

  test("exactGroups: representative pick is a bounded aggregation, not a per-key window") {
    val df = graft.operators.Dedup.exactGroups(
      spark.read.parquet(s"$dir/documents.parquet"),
      org.apache.spark.sql.functions.col("lang"), "doc_id")
    val plan = planString(df)
    // a Window over dedup_key would sort a whole boilerplate key's
    // millions of duplicates inside one task at corpus scale
    assert(!plan.contains("Window"),
      "representative pick must not plan a window:\n" + plan.take(2000))
    assert(plan.contains("HashAggregate"),
      "group sizes must come from a partial+final hash agg:\n" + plan.take(2000))
  }

  test("multimodal: metadata filters prune the payload column from the parquet scan") {
    import org.apache.spark.sql.functions.{col, length => strlen}
    // media table layout: opaque payload beside typed metadata columns
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val assets = graft.operators.Multimodal.assetsFromDocuments(docs).toDF()
      .withColumn("n_bytes", strlen(col("payload")).cast("bigint"))
    val out = java.nio.file.Files.createTempDirectory("media_tbl").toString
    assets.select("asset_id", "media_type", "n_bytes", "payload")
      .write.mode("overwrite").parquet(out)
    // a metadata-only query must not read a single payload byte: the
    // payload column is pruned from ReadSchema and the filter pushes
    // to the scan — the property that makes metadata queries cheap
    // when payloads dominate storage at 100 TB
    val q = spark.read.parquet(out)
      .filter(col("media_type") === "image" && col("n_bytes") > 100L)
      .select("asset_id", "n_bytes")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("payload"),
      "payload must be pruned from the scan:\n" + plan.take(2000))
    assert(plan.contains("PushedFilters") && plan.contains("media_type"),
      plan.take(2000))
    assert(q.count() > 0)
  }

  test("q67: stratified sample is a scan-side filter — no shuffle, no join") {
    val df = graft.operators.Sampling.stratifiedSample(
      spark.read.parquet(s"$dir/documents.parquet"), "lang",
      org.apache.spark.sql.functions.col("doc_id"),
      Seq("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
    val plan = planString(df)
    assert(!plan.contains("Exchange"), "sample must not shuffle:\n" + plan.take(2000))
    assert(!plan.contains("Join"), "rate table must ride as an expression:\n" + plan.take(2000))
  }

  test("q68: fuzzy pairs join is block-keyed — hash join, never cartesian") {
    val df = graft.operators.Dedup.fuzzyPairs(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.col("text"), 1, 80).as("title")),
      "doc_id", "title", maxDist = 6, blockPrefix = 12)
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "blocking must key the join:\n" + plan.take(2000))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q40: per-group cap runs on the bounded aggregator, not a window sort") {
    val df = graft.operators.Sampling.capPerGroup(
      spark.read.parquet(s"$dir/documents.parquet"), "lang", "doc_id", k = 5)
    val plan = planString(df)
    assert(!plan.contains("Window"), "cap must not plan a window sort:\n" + plan.take(2000))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      "cap must plan as a typed aggregation:\n" + plan.take(2000))
  }

  test("q39: split assignment is a pure scan-side projection — no shuffle before the rollup") {
    val df = graft.operators.Sampling.assignSplit(
      spark.read.parquet(s"$dir/documents.parquet"),
      org.apache.spark.sql.functions.col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val plan = planString(df)
    assert(!plan.contains("Exchange"),
      "assignment itself must not shuffle:\n" + plan.take(2000))
  }

  test("IVF inverted file persists bucketed by cell: probe join never reshuffles the corpus") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Ivf
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val centroids = Ivf.train(emb, nCentroids = 8, nIters = 1)
    spark.sql("DROP TABLE IF EXISTS ivf_cells")
    // the at-scale layout: the inverted file materialized once,
    // bucketed by cell id
    Ivf.assign(emb, centroids)
      .write.bucketBy(8, "cid").sortBy("cid")
      .mode("overwrite").saveAsTable("ivf_cells")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        .crossJoin(centroids.select(col("cid")))
      val joined = spark.table("ivf_cells").join(probes, "cid")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(2000))
      // exactly one Exchange — the probe side; the bucketed corpus
      // reads shuffle-free
      val nExchange = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(nExchange === 1,
        s"corpus side must not reshuffle (got $nExchange exchanges):\n" + plan.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS ivf_cells")
    }
  }

  test("ANN search paths rank on the bounded aggregator — no rank window over q_id") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Ivf, Pq, Similarity}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = Ivf.train(emb, nCentroids = 8, nIters = 1)
    val cb = Pq.train(emb, dim = 64, nSub = 8, k = 16, nIters = 1)
    val plans = Seq(
      "Ivf.topK" -> Ivf.topK(emb, queries, 3, centroids, nProbe = 2),
      "Similarity.lshTopK" -> Similarity.lshTopK(emb, queries, 3, nPlanes = 4, dim = 64),
      "Pq.adcTopK" -> Pq.adcTopK(Pq.encode(emb, cb), queries, 3, cb, rerank = 10),
      "IvfPq.topK" -> graft.operators.IvfPq.topK(
        emb, queries, 3, centroids, nProbe = 2, cb, rerank = 10))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan.toString
      // the shuffle must carry O(queries·k), never every scored
      // candidate — a rank window over the candidate scores would sort
      // all of them reduce-side. (The probe-list window that picks each
      // query's nProbe nearest CELLS is allowed: it runs over the
      // broadcast-small query side and orders by centroid distance d2,
      // never by a candidate score.)
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      specs.foreach(spec =>
        assert(!spec.contains("score"),
          s"$name must not rank candidates with a window: $spec"))
      val physical = planString(df)
      assert(physical.contains("ObjectHashAggregate") || physical.contains("SortAggregate"),
        s"$name must rank through the typed aggregator:\n" + physical.take(2000))
    }
  }

  test("IVF+PQ: the materialized index is codes-only — the search scan never reads embeddings") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Ivf, IvfPq, Pq}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val centroids = Ivf.train(emb, nCentroids = 8, nIters = 1)
    val cb = Pq.train(emb, dim = 64, nSub = 8, k = 16, nIters = 1)
    val idxPath = java.nio.file.Files.createTempDirectory("ivfpq").toString
    // index build reads the embeddings ONCE; searches read 8 ints +
    // one double per row (the memory story PQ exists for)
    IvfPq.buildIndex(emb, centroids, cb)
      .write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)
    val queries = emb.filter(col("vec_id") < 5)
    val searched = IvfPq.searchIndex(index, queries, 3, centroids, nProbe = 2, cb)
    val plan = planString(searched)
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty, plan.take(2000))
    // the index scan reads cid/c_id/code/c_norm only
    assert(readSchemas.exists(s => s.contains("code") && !s.contains("embedding")),
      "index scan must be codes-only:\n" + readSchemas.mkString("\n"))
    // and the probe join prunes cells before ADC scoring
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q49: mix weights broadcast back — the document side never shuffles") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planString(graft.operators.Sampling.mixRepeats(
      docs, "source", col("doc_id"), r => sqrt(r)))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "weights must broadcast, not sort-merge:\n" + plan.take(2000))
    // hash exchanges belong to the per-source counts agg only (the
    // counts subplan appears twice: once for weights, once under the
    // global max — both O(#groups) rows inside the broadcast subtree);
    // the fact scan feeds the join raw
    val nExchange = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nExchange <= 2, s"expected ≤2 hash exchanges, got $nExchange:\n" + plan.take(3000))
    // every hash exchange sits above the counts aggregation, never
    // above the raw document scan
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("doc_id")),
      "no exchange may carry the fact rows:\n" + plan.take(3000))
  }

  test("q50: holdout side broadcast — the train corpus never shuffles") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = planString(graft.operators.Similarity.crossCosinePairs(
      emb.filter(col("label") < 8), emb.filter(col("label") >= 8), 0.35))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"),
      "train side must not shuffle:\n" + plan.take(3000))
  }

  test("q51: chunk generation rides in the scan stage — one exchange for the rollup") {
    val plan = planString(graft.operators.PipelineQueries.q51Chunking(spark, dir))
    assert(plan.contains("Generate"), plan.take(2000))
    // both exchanges belong to the rollup (countDistinct's two-phase
    // (source, doc_id) → source aggregation); the generator itself
    // adds none (pure scan-side chunking at any scale)
    val nExchange = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nExchange === 2, s"expected the 2 rollup exchanges, got $nExchange:\n" + plan.take(3000))
  }

  test("q57: budget selection windows only within (group, bucket) — never a whole-group sort") {
    val df = graft.operators.PipelineQueries.q57BudgetSelect(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    // the per-row running sum partitions by (g, bucket); the only
    // other window is the histogram cum — histogram-sized data whose
    // order key is the bucket id, not a score
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty, plan.take(3000))
    specs.foreach { spec =>
      assert(spec.contains("bucket"),
        s"every window must involve the bucket key, never score-order a whole group: $spec")
    }
  }

  test("zorderLayout: one range exchange, in-partition sort, no global sort") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val plan = planString(graft.operators.Layout.zorderLayout(li, "l_partkey", "l_suppkey", 8))
    assert("Exchange rangepartitioning".r.findAllIn(plan).length === 1, plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    // the sort is within partitions (global=false ⇒ no second exchange)
    assert(plan.contains("Sort") && "Exchange".r.findAllIn(plan).length === 1,
      plan.take(3000))
  }

  test("bucketed tables co-locate: the bucket join plans without shuffle") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    spark.read.parquet(s"$dir/orders.parquet")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_b")
    // disable broadcast so the join would otherwise need an exchange
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"),
        "bucketed join must not shuffle:\n" + plan.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("q61/q62: per-doc repetition and PII stats are pure scan projections " +
      "— no explode, no shuffle, no window") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = TextFunctions.words(col("text"))
    // the stats projection itself (before any presentation sort)
    val rep = docs.select(col("doc_id"),
      TextFunctions.topToken(w).as("top_token"),
      TextFunctions.topTokenCount(w).as("top_token_n"),
      TextFunctions.dupNgramCount(w, 2).as("dup_bigram_n"))
    val pii = docs.select(col("doc_id"),
      TextFunctions.piiEmailCount(col("text")).as("n_emails"),
      TextFunctions.redactPii(col("text")).as("redacted"))
    for ((df, name) <- Seq((rep, "repetition"), (pii, "pii"))) {
      val plan = planString(df)
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n" + plan.take(2000))
      assert(!plan.contains("Generate"), s"$name must not explode:\n" + plan.take(2000))
      assert(!plan.contains("Window"), s"$name must not window:\n" + plan.take(2000))
    }
    // the full queries add exactly one exchange: the presentation sort
    for (q <- Seq("q61_repetition", "q62_pii_redact")) {
      val plan = planString(graft.operators.PipelineQueries.queries(q)(spark, dir))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle:\n" + plan.take(2000))
      assert(!plan.contains("Generate"), s"$q must not explode:\n" + plan.take(2000))
    }
  }

  test("line dedup reassembles without a window; chunking rides in the scan") {
    val df = graft.operators.Dedup.dropRepeatedChunks(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      chunkTokens = 10, maxDocs = 1)
    val plan = planString(df)
    assert(!plan.contains("Window"),
      "reassembly must be collect_list argsort, not a window:\n" + plan.take(2000))
    // chunk generation is a Generate over the scan projection: between
    // the first Generate and the FileScan BELOW it (plans print
    // top-down, children deeper) there must be no Exchange
    val lines = plan.linesIterator.toVector
    val gen = lines.indexWhere(_.contains("Generate"))
    assert(gen >= 0, "chunk explode missing:\n" + plan.take(2000))
    val scan = lines.indexWhere(_.contains("FileScan"), gen)
    assert(scan > gen, "no scan below the explode:\n" + plan.take(2000))
    assert(lines.slice(gen, scan).forall(!_.contains("Exchange")),
      "exchange crept between scan and chunk explode:\n" +
        lines.slice(gen, scan + 1).mkString("\n"))
  }

  test("q69: substring dedup reassembles without a window; window grams " +
      "generate in the scan stage") {
    val df = graft.operators.Dedup.dropDuplicatedSpans(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      windowTokens = 15, minDocs = 2)
    val plan = planString(df)
    assert(!plan.contains("Window"),
      "reassembly must be collect_list argsort, not a window:\n" + plan.take(2000))
    val lines = plan.linesIterator.toVector
    val gen = lines.indexWhere(_.contains("Generate"))
    assert(gen >= 0, "gram explode missing:\n" + plan.take(2000))
    val scan = lines.indexWhere(_.contains("FileScan"), gen)
    assert(scan > gen && lines.slice(gen, scan).forall(!_.contains("Exchange")),
      "exchange crept between scan and gram explode:\n" +
        lines.slice(gen, scan + 1).mkString("\n"))
  }

  test("q73: per-doc TF-IDF ranks on the bounded aggregator — no rank window") {
    val df = graft.operators.PipelineQueries.q73TfIdf(spark, dir)
    val plan = planString(df)
    assert(!plan.contains("Window"),
      "tf-idf top-3 must rank via the TopK aggregator:\n" + plan.take(2000))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      "tf-idf must plan as a typed aggregation:\n" + plan.take(2000))
  }

  test("q71: phrase-search positional joins are hash equi-joins, never cartesian") {
    val post = graft.operators.Search.postings(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val df = graft.operators.Search.phraseOccurrences(post, Seq("a", "b", "c"))
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "positional joins must stay equi-keyed:\n" + plan.take(2000))
    assert(plan.contains("Join"), "phrase match must plan joins:\n" + plan.take(2000))
  }

  test("q71_indexed: phrase probes scan only the index layout — never the " +
      "corpus — and prune to the phrase's bucket directories") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("planspec_searchidx").toString
    graft.operators.Search.writeIndex(docs, "doc_id", "text", idx, nBuckets = 8)
    val probe = graft.operators.Search.phraseProbe(
      spark, idx, Seq("beta", "gamma", "delta"))
    val plan = planString(probe)
    assert(!plan.contains("documents") && !plan.contains(".text"),
      "probe must not rescan the corpus:\n" + plan.take(2000))
    assert(plan.contains(idx), "probe must scan the index layout:\n" + plan.take(2000))
    // bucket partition pruning reaches the postings scan
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      "bucket dirs must prune at the scan:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q70: clustered SemDeDup pairs join cell-locally — an equi-join on cid, " +
      "not an all-pairs cross join") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.operators.Similarity.semanticDedup(emb, 0.40,
      nClusters = 4, nIters = 1)
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct"),
      "cluster-local pairs must not plan a cartesian:\n" + plan.take(2000))
  }

  test("q75: LM count lookups are equi-joins on the gram key — never " +
      "nested-loop (the count tables are aggregates, magnitudes smaller " +
      "than the exploded token stream)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val model = graft.operators.LanguageModel.train(
      docs.filter(col("doc_id") % 5 === 0), "text")
    val plan = planString(
      graft.operators.LanguageModel.backoffStats(docs, "doc_id", "text", model))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "count lookups must stay equi-keyed:\n" + plan.take(2000))
  }

  test("q78: the classifier margin pass broadcasts the bounded weight " +
      "table — the feature stream never shuffles for the join") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val feats = graft.operators.QualityClassifier
      .features(docs, "doc_id", "text", 4096)
    val w = Seq((1, 0.5)).toDF("b", "w")
    val plan = planString(
      graft.operators.QualityClassifier.score(feats, w, docs, "doc_id"))
    assert(plan.contains("BroadcastHashJoin"),
      "weight join must broadcast:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q79: BM25 probe joins broadcast the query/df side — the postings " +
      "table never shuffles for the probe; no cartesian anywhere") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val probes = Seq((1, "the"), (1, "a"), (2, "of")).toDF("q_id", "term")
    val plan = planString(
      graft.operators.Bm25.search(docs, "doc_id", "text", probes, k = 10))
    // queries + probe-restricted df both broadcast onto the tf table
    val nBhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBhj >= 2, s"expected >=2 broadcast hash joins, got $nBhj:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the only nested-loop is the one-row corpus-stats broadcast
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"only the one-row stats cross join may nest-loop ($bnlj):\n" + plan.take(3000))
  }

  test("q80: hard-negative mining broadcasts the query vectors — the " +
      "corpus side never shuffles (same contract as q22/q50)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = planString(graft.operators.Similarity.hardNegatives(
      emb, emb.filter(col("vec_id") < 10), k = 5, posThreshold = 0.5))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the sole hash exchange is the bounded O(queries·k) TopK aggregation
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx <= 1,
      s"corpus must not shuffle — only the TopK exchange allowed ($nEx):\n" + plan.take(3000))
  }

  test("q87: the DSIR ratio table broadcasts onto the feature stream — " +
      "the corpus-mass side never shuffles for the weight fold") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val feats = graft.operators.ImportanceResampling
      .features(docs, "doc_id", "text", 1024)
    val ratios = graft.operators.ImportanceResampling
      .bucketRatios(feats, feats.filter(col("doc_id") % 7 === 0))
    val plan = planString(
      graft.operators.ImportanceResampling.weights(feats, ratios, "doc_id"))
    assert(plan.contains("BroadcastHashJoin"),
      "ratio join must broadcast:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "the <=numBuckets-row ratio table must never sort-merge:\n" + plan.take(2000))
  }

  test("readSnapshot: the merge-on-read plan does not grow with CDC rounds") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.functions.col
    import graft.api.SchemaTranslator
    import graft.sources.IcebergSnapshot
    val table = graft.parse.Db2Parser.parse(
      "CREATE TABLE S.MOR (K BIGINT NOT NULL, N INTEGER);").tables.head
    val out = java.nio.file.Files.createTempDirectory("plan_mor").toString
    def rows(ks: Seq[Long], n: Int) =
      spark.createDataFrame(ks.map(k => (k, n))).toDF("K", "N")
    SchemaTranslator.migrateTable(rows(1L to 40L, 0), table, out)
    // one CDC round: upsert two keys, delete one, append one
    def cdcRound(r: Int): Unit = {
      SchemaTranslator.mergeUpsert(rows(Seq(r.toLong, r + 10L), r), table, out,
        keyCols = Seq("K"))
      SchemaTranslator.deleteWhere(spark, table, out, col("K") === 20L + r)
      SchemaTranslator.appendIncrement(rows(Seq(100L + r), r), table, out)
    }
    // (left-anti joins, parquet relations) of the optimized read plan
    def shape(): (Int, Int) = {
      val plan = IcebergSnapshot.readSnapshot(spark, out, table)
        .queryExecution.optimizedPlan
      (plan.collect { case j: Join if j.joinType == LeftAnti => j }.size,
        plan.collect { case r: LogicalRelation => r }.size)
    }
    cdcRound(1)
    val afterOne = shape()
    (2 to 4).foreach(cdcRound)
    val afterFour = shape()
    assert(afterOne === afterFour,
      "the read plan must depend on the table's specs and delete kinds only")
    // one position-delete anti-join + one per equality-key set ({K})
    assert(afterOne._1 <= 1 + 1, afterOne)
    val net = IcebergSnapshot.readSnapshot(spark, out, table)
      .select("K", "N").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = ((1L to 40L).filterNot(k => k >= 21 && k <= 24).map { k =>
      k -> (if (k <= 4) k.toInt else if (k >= 11 && k <= 14) (k - 10).toInt else 0)
    } ++ (1 to 4).map(r => (100L + r) -> r)).toMap
    assert(net === expected)
  }

  test("readSnapshot: file keys match paths Spark surfaces URI-escaped") {
    import graft.api.SchemaTranslator
    import graft.sources.IcebergSnapshot
    val table = graft.parse.Db2Parser.parse(
      """CREATE TABLE S.ESC (K BIGINT NOT NULL, V VARCHAR(10), N INTEGER)
        |PARTITION BY RANGE (V);""".stripMargin).tables.head
    // Spark surfaces this directory as "a%20b%25c" in _metadata.file_path
    // and input_file_name, and the partition directory "V=x y" likewise
    val out = java.nio.file.Files.createTempDirectory("plan_esc").toString + "/a b%c"
    def rows(ks: Seq[Long], n: Int) = spark.createDataFrame(
      ks.map(k => (k, if (k % 2 == 0) "x y" else "p%q", n))).toDF("K", "V", "N")
    SchemaTranslator.migrateTable(rows(1L to 10L, 0), table, out)
    SchemaTranslator.mergeUpsert(rows(Seq(1L, 2L), 5), table, out, keyCols = Seq("K"))
    val net = IcebergSnapshot.readSnapshot(spark, out, table)
      .select("K", "V", "N").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(net === (1L to 10L).map(k =>
      k -> (if (k % 2 == 0) "x y" else "p%q", if (k <= 2) 5 else 0)).toMap)
  }

  test("deleteWhere under a table path that needs URI escaping: " +
      "readSnapshot, the DSv2 scan and the key-grouped scan drop the row") {
    import org.apache.spark.sql.functions.col
    import graft.api.SchemaTranslator
    import graft.sources.IcebergSnapshot
    val table = graft.parse.Db2Parser.parse(
      """CREATE TABLE S.ESCDEL (K BIGINT NOT NULL, V VARCHAR(10))
        |PARTITION BY RANGE (V);""".stripMargin).tables.head
    val out = java.nio.file.Files.createTempDirectory("plan_escdel").toString + "/a b"
    SchemaTranslator.migrateTable(spark.createDataFrame(
      (1L to 10L).map(k => (k, if (k % 2 == 0) "x y" else "p"))).toDF("K", "V"),
      table, out)
    SchemaTranslator.deleteWhere(spark, table, out, col("K") === 3L)
    val want = (1L to 10L).filterNot(_ == 3L).toSet
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("K").collect().map(_.getLong(0)).toSet
    assert(keys(IcebergSnapshot.readSnapshot(spark, out, table)) === want)
    assert(keys(spark.read.format("graft-iceberg").load(out)) === want)
    val spj = spark.newSession()
    spj.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val keyGrouped = spj.read.format("graft-iceberg").load(out)
    assert(keys(keyGrouped) === want)
    assert(keyGrouped.queryExecution.executedPlan.toString.contains("key-grouped"),
      keyGrouped.queryExecution.executedPlan.toString)
  }
}
