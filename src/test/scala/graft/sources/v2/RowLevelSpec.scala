package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / MERGE INTO over graft-iceberg tables: the row-level
  * rewrite (GraftRowLevelRewrite via GraftExtensions) lowered to
  * merge-on-read delta snapshots — position deletes + new data files
  * in ONE commit. Covers: basic UPDATE (conditioned and whole-table),
  * no-op legs (no matching row, empty table — the version must not
  * advance), time travel across an UPDATE, partitioned rows moving
  * partitions, the full MERGE action surface (matched update/delete
  * with conditions, not-matched insert with partial column lists,
  * not-matched-by-source), the SQL cardinality rule, WAP-conf
  * refusals, and a MERGE racing a concurrent INSERT linearizing. */
class RowLevelSpec extends AnyFunSuite {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_rl_warehouse").toString

  // a DEDICATED session (builder().create(), not getOrCreate): analyzer
  // rules are build-time, and the suite must not depend on which spec
  // built the JVM's shared default session
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("row-level-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.catalog.graftrl",
        "graft.sources.v2.GraftIcebergCatalog")
      .config("spark.sql.catalog.graftrl.warehouse", warehouse)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.api.GraftExtensions)
      .create()
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftrl.db")
    s
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  private def versionOf(table: String): Long =
    graft.sources.IcebergSnapshot
      .currentSnapshotId(s"$warehouse/db/$table", conf).get

  private def rows(table: String): Set[(Long, String, Double)] =
    spark.sql(s"SELECT k, v, p FROM graftrl.db.$table ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("UPDATE: conditioned, whole-table, no-op legs, time travel") {
    spark.sql(
      "CREATE TABLE graftrl.db.upd (k BIGINT NOT NULL, v STRING, p DOUBLE)")
    // empty-table UPDATE: a no-op — no snapshot is committed beyond
    // the CREATE's empty one
    val v0 = versionOf("upd")
    spark.sql("UPDATE graftrl.db.upd SET p = 0.0 WHERE k = 1")
    assert(versionOf("upd") === v0, "empty-table UPDATE must not commit")

    spark.sql("INSERT INTO graftrl.db.upd VALUES " +
      "(1,'a',10.0),(2,'b',20.0),(3,'c',30.0)")
    val v1 = versionOf("upd")

    spark.sql("UPDATE graftrl.db.upd SET p = p * 2, v = upper(v) WHERE k <= 2")
    assert(rows("upd") === Set((1L, "A", 20.0), (2L, "B", 40.0),
      (3L, "c", 30.0)))
    val v2 = versionOf("upd")
    assert(v2 !== v1, "a matching UPDATE commits one snapshot")

    // no matching row: version must not advance (the DELETE race spec
    // found exactly this bug class — pin it for UPDATE)
    spark.sql("UPDATE graftrl.db.upd SET p = 0.0 WHERE k = 99")
    assert(versionOf("upd") === v2, "no-match UPDATE must not commit")

    // time travel: the pre-update snapshot still reads the old values
    assert(spark.sql(
      s"SELECT p FROM graftrl.db.upd VERSION AS OF $v1 WHERE k = 1")
      .collect()(0).getDouble(0) === 10.0)

    // whole-table UPDATE (no WHERE)
    spark.sql("UPDATE graftrl.db.upd SET p = p + 1.0")
    assert(rows("upd") === Set((1L, "A", 21.0), (2L, "B", 41.0),
      (3L, "c", 31.0)))
    spark.sql("DROP TABLE graftrl.db.upd")
  }

  test("UPDATE moves rows across identity partitions and stays pruned") {
    spark.sql(
      """CREATE TABLE graftrl.db.updp (
        |  k BIGINT NOT NULL, v STRING, p DOUBLE, status STRING
        |) PARTITIONED BY (status)""".stripMargin)
    spark.sql("INSERT INTO graftrl.db.updp VALUES " +
      "(1,'a',1.0,'open'),(2,'b',2.0,'open'),(3,'c',3.0,'closed')")
    // an UPDATE that changes the PARTITION column re-lands the row in
    // its new partition's layout (the delta write re-applies the
    // declared transforms)
    spark.sql("UPDATE graftrl.db.updp SET status = 'closed' WHERE k = 2")
    assert(spark.sql(
      "SELECT k FROM graftrl.db.updp WHERE status = 'closed' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
    // the moved row's new file lives in the closed partition: a pruned
    // read of 'open' must skip it
    GraftIcebergScans.clear()
    assert(spark.sql(
      "SELECT k FROM graftrl.db.updp WHERE status = 'open'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    val rep = GraftIcebergScans.lastReport.get
    assert(rep.keptFiles.forall(_.contains("status=open")))
    spark.sql("DROP TABLE graftrl.db.updp")
  }

  test("MERGE: update/delete/insert actions with conditions, partial " +
      "insert columns, not-matched-by-source, no-op leg") {
    spark.sql(
      "CREATE TABLE graftrl.db.mrg (k BIGINT NOT NULL, v STRING, p DOUBLE)")
    spark.sql("INSERT INTO graftrl.db.mrg VALUES " +
      "(1,'a',10.0),(2,'b',20.0),(3,'c',30.0),(4,'d',40.0)")
    spark.createDataFrame(Seq(
      (1L, "A", 100.0, "U"), (2L, "B", 200.0, "D"),
      (5L, "e", 50.0, "I"), (6L, "f", 60.0, "D")))
      .toDF("k", "v", "p", "op").createOrReplaceTempView("mrg_src")

    // matched+conditioned update/delete, conditioned inserts: the
    // FIRST applicable action wins per row; 6 arrives with op='D' and
    // no insert action claims it → untouched (never inserted)
    spark.sql(
      """MERGE INTO graftrl.db.mrg t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v, p = s.p + t.p
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin)
    val got = spark.sql(
      "SELECT k, v, p FROM graftrl.db.mrg ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got === Set(
      (1L, "A", 110.0), // matched update: expression over BOTH sides
      (3L, "c", 30.0), // untouched
      (4L, "d", 40.0), // untouched
      (5L, "e", null))) // partial INSERT column list null-fills p

    // not-matched-by-source: target rows no source row matches die
    spark.sql(
      """MERGE INTO graftrl.db.mrg t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET p = 0.0
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got2 = spark.sql(
      "SELECT k, p FROM graftrl.db.mrg ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got2 === Set((1L, 0.0), (5L, 0.0)), "3/4 unmatched by source die")

    // no-op MERGE: nothing matches, nothing inserts → no commit
    val v = versionOf("mrg")
    spark.sql(
      """MERGE INTO graftrl.db.mrg t USING mrg_src s
        |ON t.k = s.k AND s.op = 'X'
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(versionOf("mrg") === v, "claiming no rows must not commit")
    spark.sql("DROP TABLE graftrl.db.mrg")
  }

  test("MERGE cardinality violation refuses; WAP conf refuses UPDATE " +
      "and MERGE; time travel across a MERGE") {
    spark.sql(
      "CREATE TABLE graftrl.db.card (k BIGINT NOT NULL, v STRING, p DOUBLE)")
    spark.sql("INSERT INTO graftrl.db.card VALUES (1,'a',10.0),(2,'b',20.0)")
    val v1 = versionOf("card")
    spark.createDataFrame(Seq((1L, "x"), (1L, "y")))
      .toDF("k", "nv").createOrReplaceTempView("card_dup")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graftrl.db.card t USING card_dup s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"),
      s"expected the SQL cardinality rule, got: ${e.getMessage}")
    assert(versionOf("card") === v1, "a refused MERGE must not commit")

    // WAP: row-level SQL writes commit to MAIN — refuse under staging
    spark.conf.set("graft.wap.branch", "audit")
    try {
      val e2 = intercept[Exception] {
        spark.sql("UPDATE graftrl.db.card SET p = 0.0 WHERE k = 1")
      }
      assert(e2.getMessage.contains("graft.wap.branch"))
      val e3 = intercept[Exception] {
        spark.sql(
          """MERGE INTO graftrl.db.card t USING card_dup s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      assert(e3.getMessage.contains("graft.wap.branch"))
    } finally spark.conf.unset("graft.wap.branch")

    // a successful MERGE, then time travel back across it
    spark.createDataFrame(Seq((2L, 99.0))).toDF("k", "np")
      .createOrReplaceTempView("card_upd")
    spark.sql(
      """MERGE INTO graftrl.db.card t USING card_upd s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET p = s.np""".stripMargin)
    assert(spark.sql("SELECT p FROM graftrl.db.card WHERE k = 2")
      .collect()(0).getDouble(0) === 99.0)
    assert(spark.sql(
      s"SELECT p FROM graftrl.db.card VERSION AS OF $v1 WHERE k = 2")
      .collect()(0).getDouble(0) === 20.0)
    spark.sql("DROP TABLE graftrl.db.card")
  }

  test("UPDATE's WHERE prunes target FILES before any row is read; " +
      "a partition-crossing predicate stays exact") {
    spark.sql(
      """CREATE TABLE graftrl.db.updprune (
        |  k BIGINT NOT NULL, v STRING, p DOUBLE, status STRING
        |) PARTITIONED BY (status)""".stripMargin)
    spark.sql("INSERT INTO graftrl.db.updprune " +
      "SELECT id, concat('v', id), id * 1.0, " +
      "CASE WHEN id % 2 = 0 THEN 'open' ELSE 'closed' END FROM range(0, 100)")
    // the literal partition conjunct reaches the snapshot read as a
    // ColumnBound: only the open partition's files are opened
    GraftIcebergScans.clear()
    spark.sql(
      "UPDATE graftrl.db.updprune SET p = p + 1000.0 " +
        "WHERE status = 'open' AND k < 10")
    val rep = GraftIcebergScans.lastReport
    // the UPDATE's internal read bypasses the DSv2 scan reporter, so
    // audit via the committed result + the time-travel complement
    val got = spark.sql(
      "SELECT k FROM graftrl.db.updprune WHERE p >= 1000.0 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(0L, 2L, 4L, 6L, 8L), s"rep=$rep")
    assert(spark.sql("SELECT count(*) FROM graftrl.db.updprune")
      .collect()(0).getLong(0) === 100L)
    spark.sql("DROP TABLE graftrl.db.updprune")
  }

  test("MERGE into a bucket-partitioned table: delta files land in the " +
      "bucket layout and the SPJ face still point-prunes afterwards") {
    spark.sql(
      """CREATE TABLE graftrl.db.mrgb (
        |  k BIGINT NOT NULL, v STRING
        |) PARTITIONED BY (bucket(16, k))""".stripMargin)
    spark.sql("INSERT INTO graftrl.db.mrgb " +
      "SELECT id, concat('v', id) FROM range(0, 100)")
    spark.createDataFrame(Seq((5L, "FIVE"), (200L, "NEW")))
      .toDF("k", "nv").createOrReplaceTempView("mrgb_src")
    spark.sql(
      """MERGE INTO graftrl.db.mrgb t USING mrgb_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin)
    assert(spark.sql("SELECT v FROM graftrl.db.mrgb WHERE k = 5")
      .collect()(0).getString(0) === "FIVE")
    assert(spark.sql("SELECT count(*) FROM graftrl.db.mrgb")
      .collect()(0).getLong(0) === 101L)
    // the rewritten rows' data files carry their bucket tuple: a point
    // read under the general path still prunes to the key's bucket
    GraftIcebergScans.clear()
    assert(spark.sql("SELECT v FROM graftrl.db.mrgb WHERE k = 200")
      .collect()(0).getString(0) === "NEW")
    val rep = GraftIcebergScans.lastReport.get
    assert(rep.skippedFiles.nonEmpty,
      "bucket point-prune must skip other buckets' files after a MERGE")
    spark.sql("DROP TABLE graftrl.db.mrgb")
  }

  test("conditionBounds: literal conjuncts become pruning bounds, " +
      "attr-vs-attr and OR shapes contribute nothing") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val tdef = graft.parse.Db2Parser.parse(
      """CREATE TABLE S.CB (
        |  K BIGINT NOT NULL,
        |  STATUS VARCHAR(4),
        |  P DOUBLE
        |);""".stripMargin).tables.head
    val k = AttributeReference("K", LongType)()
    val status = AttributeReference("STATUS", StringType)()
    val p = AttributeReference("P", DoubleType)()
    val out = Seq(k, status, p)
    def lits(s: String) = Literal(org.apache.spark.unsafe.types
      .UTF8String.fromString(s), StringType)
    val cond = And(And(
      EqualTo(status, lits("open")),
      LessThan(k, Literal(10L))),
      Or(EqualTo(p, Literal(1.0)), EqualTo(p, Literal(2.0))))
    val bounds = GraftRowLevelExec.conditionBounds(cond, out, tdef)
    assert(bounds.map(_.column).sorted === Seq("K", "STATUS"),
      "the OR disjunction must not contribute a bound")
    val kb = bounds.find(_.column == "K").get
    assert(kb.upper === Some(10L) && kb.upperExclusive)
    assert(bounds.find(_.column == "STATUS").get.values
      .orElse(Some(Seq.empty)).exists(_ == Seq("open")) ||
      bounds.find(_.column == "STATUS").get.lower === Some("open"))
    // attr-vs-attr: nothing
    assert(GraftRowLevelExec.conditionBounds(
      EqualTo(k, p), out, tdef).isEmpty)
  }

  test("MERGE racing a concurrent INSERT linearizes: both commits land, " +
      "final state exact") {
    spark.sql(
      "CREATE TABLE graftrl.db.race (k BIGINT NOT NULL, v STRING, p DOUBLE)")
    spark.sql("INSERT INTO graftrl.db.race VALUES " +
      "(1,'a',10.0),(2,'b',20.0),(3,'c',30.0)")
    spark.createDataFrame(Seq((1L, 111.0), (2L, 222.0), (9L, 999.0)))
      .toDF("k", "np").createOrReplaceTempView("race_src")

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val merge = pool.submit(new Runnable {
        override def run(): Unit = spark.sql(
          """MERGE INTO graftrl.db.race t USING race_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET p = s.np
            |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, 'new', s.np)
            |""".stripMargin)
      })
      val insert = pool.submit(new Runnable {
        override def run(): Unit =
          spark.sql("INSERT INTO graftrl.db.race VALUES (7,'g',70.0)")
      })
      merge.get(120, java.util.concurrent.TimeUnit.SECONDS)
      insert.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()

    assert(rows("race") === Set(
      (1L, "a", 111.0), (2L, "b", 222.0), (3L, "c", 30.0),
      (7L, "g", 70.0), (9L, "new", 999.0)),
      "merge updates + merge insert + concurrent insert all present exactly once")
    spark.sql("DROP TABLE graftrl.db.race")
  }

  test("DELETE with subquery / untranslatable predicates lowers to the " +
      "row-level delta (IN-subquery, correlated EXISTS, arithmetic, " +
      "no-op, WAP refusal); pushable shapes keep the pushdown path") {
    spark.sql(
      "CREATE TABLE graftrl.db.dsub (k BIGINT NOT NULL, v STRING, p DOUBLE)")
    spark.sql("INSERT INTO graftrl.db.dsub VALUES " +
      "(1,'a',1.0),(2,'b',2.0),(3,'c',3.0),(4,'d',4.0),(5,'e',5.0),(10,'f',10.0)")
    def ks: Seq[Long] = spark.sql(
      "SELECT k FROM graftrl.db.dsub ORDER BY k").collect().map(_.getLong(0))
    spark.createDataFrame(Seq(Tuple1(2L), Tuple1(4L))).toDF("dk")
      .createOrReplaceTempView("dsub_keys")

    // IN-subquery — the daily GDPR/backfill shape the SupportsDelete
    // path refuses (it cannot translate a subquery filter)
    val v0 = versionOf("dsub")
    spark.sql(
      "DELETE FROM graftrl.db.dsub WHERE k IN (SELECT dk FROM dsub_keys)")
    assert(ks === Seq(1L, 3L, 5L, 10L))
    // time travel back across the subquery delete
    assert(spark.sql(
      s"SELECT count(*) FROM graftrl.db.dsub VERSION AS OF $v0")
      .collect()(0).getLong(0) === 6L)

    // correlated EXISTS: the outer reference remaps onto the snapshot
    // read's attributes
    spark.createDataFrame(Seq((3L, "x"))).toDF("ek", "ev")
      .createOrReplaceTempView("dsub_ex")
    spark.sql("DELETE FROM graftrl.db.dsub WHERE EXISTS " +
      "(SELECT 1 FROM dsub_ex e WHERE e.ek = k)")
    assert(ks === Seq(1L, 5L, 10L))

    // arithmetic predicate: no subquery, still untranslatable to a v1
    // filter — rides the same delta path
    spark.sql("DELETE FROM graftrl.db.dsub WHERE k % 5 = 0")
    assert(ks === Seq(1L))

    // no-op subquery delete: the version must not advance
    val v = versionOf("dsub")
    spark.sql("DELETE FROM graftrl.db.dsub WHERE k IN " +
      "(SELECT dk FROM dsub_keys WHERE dk > 100)")
    assert(versionOf("dsub") === v, "claiming no rows must not commit")

    // WAP staging refuses (the delta commits to MAIN)
    spark.conf.set("graft.wap.branch", "audit")
    try {
      val e = intercept[Exception] {
        spark.sql("DELETE FROM graftrl.db.dsub WHERE k IN " +
          "(SELECT dk FROM dsub_keys)")
      }
      assert(e.getMessage.contains("graft.wap.branch"))
    } finally spark.conf.unset("graft.wap.branch")

    // a PUSHABLE predicate still rides SupportsDelete (both paths land
    // the same state; this leg guards the claim split)
    spark.sql("DELETE FROM graftrl.db.dsub WHERE k = 1")
    assert(ks === Seq.empty)
    spark.sql("DROP TABLE graftrl.db.dsub")
  }

  test("UPDATE with a subquery WHERE (IN / correlated EXISTS) rides the " +
      "same deep-remapped filter; subqueries in SET values refuse") {
    spark.sql(
      "CREATE TABLE graftrl.db.usub (k BIGINT NOT NULL, v STRING, p DOUBLE)")
    spark.sql("INSERT INTO graftrl.db.usub VALUES " +
      "(1,'a',1.0),(2,'b',2.0),(3,'c',3.0),(4,'d',4.0)")
    spark.createDataFrame(Seq(Tuple1(2L), Tuple1(4L))).toDF("uk")
      .createOrReplaceTempView("usub_keys")
    spark.sql("UPDATE graftrl.db.usub SET p = p * 10 " +
      "WHERE k IN (SELECT uk FROM usub_keys)")
    assert(rows("usub") === Set((1L, "a", 1.0), (2L, "b", 20.0),
      (3L, "c", 3.0), (4L, "d", 40.0)))
    spark.sql("UPDATE graftrl.db.usub SET v = 'X' WHERE EXISTS " +
      "(SELECT 1 FROM usub_keys e WHERE e.uk = k AND e.uk > 3)")
    assert(rows("usub") === Set((1L, "a", 1.0), (2L, "b", 20.0),
      (3L, "c", 3.0), (4L, "X", 40.0)))
    // SET-value subqueries have no evaluation surface in the rewrite
    val e = intercept[Exception] {
      spark.sql("UPDATE graftrl.db.usub SET p = " +
        "(SELECT max(uk) FROM usub_keys) WHERE k = 1")
    }
    assert(e.getMessage.contains("SET values"))
    spark.sql("DROP TABLE graftrl.db.usub")
  }

  test("commitRowDelta conflicts when the head moved between read and " +
      "commit, and when a stale key no longer resolves — never a silent " +
      "commit over moved state") {
    import org.apache.spark.sql.functions.col
    spark.sql(
      "CREATE TABLE graftrl.db.cfl (k BIGINT NOT NULL, v STRING, p DOUBLE)")
    spark.sql("INSERT INTO graftrl.db.cfl VALUES (1,'a',1.0),(2,'b',2.0)")
    val path = s"$warehouse/db/cfl"
    val tdef = graft.sources.IcebergTableLoader.load(path, conf)
    val head0 = graft.sources.IcebergSnapshot.currentSnapshotId(path, conf)
    val net = graft.sources.IcebergSnapshot.readSnapshot(spark, path, tdef,
      snapshotId = head0, keepRowMeta = true)
    val deletes = net.filter(col("k") === 1L)
      .select(col("__graft_file"), col("__graft_pos"))

    // a commit lands in the read→commit window: the head guard fires
    spark.sql("INSERT INTO graftrl.db.cfl VALUES (3,'c',3.0)")
    val e = intercept[graft.sources.IcebergSnapshot.CommitConflictException] {
      graft.sources.IcebergDeletes.commitRowDelta(spark, tdef, path,
        deletes, Nil, expectedHeadId = head0)
    }
    assert(e.getMessage.contains("head"))
    assert(spark.sql("SELECT count(*) FROM graftrl.db.cfl")
      .collect()(0).getLong(0) === 3L, "the conflicted delta must not land")

    // WITHOUT the head guard: a compaction rewrote the files the stale
    // identities point at — the unresolved keys conflict instead of
    // being dropped while the new data files still commit
    graft.sources.IcebergSnapshot.compactDataFiles(spark, tdef, path,
      targetBytes = 512L * 1024 * 1024)
    val e2 = intercept[graft.sources.IcebergSnapshot.CommitConflictException] {
      graft.sources.IcebergDeletes.commitRowDelta(spark, tdef, path,
        deletes, Nil)
    }
    assert(e2.getMessage.contains("no longer resolves"))
    assert(spark.sql("SELECT count(*) FROM graftrl.db.cfl")
      .collect()(0).getLong(0) === 3L)
    spark.sql("DROP TABLE graftrl.db.cfl")
  }

  test("a row-level commit touching MANY partitions writes its delete " +
      "files in ONE partitioned job, not one serial job per partition; " +
      "files stay per-partition and (file_path, pos)-sorted") {
    import org.apache.spark.sql.functions.col
    // the per-partition delete layout belongs to the LEGACY migrated
    // shape (implicit spec 0 — catalog tables carry explicit specs and
    // collapse to one global delete file by design)
    val table = graft.parse.Db2Parser.parse(
      """CREATE TABLE S.WIDE (
        |  K BIGINT NOT NULL,
        |  P BIGINT NOT NULL,
        |  V DOUBLE
        |) PARTITION BY RANGE (P);""".stripMargin).tables.head
    val out = java.nio.file.Files.createTempDirectory("rl_wide").toString
    graft.api.SchemaTranslator.migrateTable(
      spark.range(0, 400).selectExpr(
        "id AS K", "id % 40 AS P", "id * 1.0 AS V"),
      table, out)
    // touches ALL 40 partitions: the old per-partition coalesce(1)
    // loop ran 40+ serial delete-write jobs here
    val (_, c) = graft.tools.Spans.measure(spark.sparkContext)(
      graft.api.SchemaTranslator.deleteWhere(spark, table, out,
        col("K") % 3 === 0)) // gcd(3, 40) = 1: hits every partition
    val jobs = c.jobs.size
    assert(jobs <= 30,
      s"expected O(1) jobs for a 40-partition delete, saw $jobs")
    assert(graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
      .count() === 266L)

    // layout: one delete file per touched partition ordinal, each
    // sorted by (file_path, pos) as the spec requires
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(out).toUri, conf)
    val posDirs = fs.listStatus(new org.apache.hadoop.fs.Path(out, "deletes"))
      .filter(_.getPath.getName.startsWith("pos-"))
    assert(posDirs.nonEmpty)
    val partDirs = posDirs.flatMap(d => fs.listStatus(d.getPath))
      .filter(_.getPath.getName.startsWith("__part="))
    assert(partDirs.length === 40, "one delete dir per touched partition")
    partDirs.take(3).foreach { d =>
      val got = spark.read.parquet(d.getPath.toString)
        .select(col("file_path"), col("pos")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === got.sortBy(identity),
        s"delete file ${d.getPath} must be (file_path, pos)-sorted")
      assert(fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) === 1,
        "exactly one delete file per partition ordinal")
    }
  }

  test("the live-file resolution join fallback (map gate at 0) commits " +
      "the same delta the broadcast-map path does") {
    spark.conf.set("graft.rowlevel.max-file-map-entries", "0")
    try {
      spark.sql(
        "CREATE TABLE graftrl.db.gate (k BIGINT NOT NULL, v STRING, p DOUBLE)")
      spark.sql("INSERT INTO graftrl.db.gate VALUES " +
        "(1,'a',10.0),(2,'b',20.0),(3,'c',30.0)")
      spark.sql("UPDATE graftrl.db.gate SET p = p * 2 WHERE k <= 2")
      assert(rows("gate") === Set((1L, "a", 20.0), (2L, "b", 40.0),
        (3L, "c", 30.0)))
      spark.createDataFrame(Seq((3L, 333.0), (4L, 444.0)))
        .toDF("k", "np").createOrReplaceTempView("gate_src")
      spark.sql(
        """MERGE INTO graftrl.db.gate t USING gate_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET p = s.np
          |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, 'n', s.np)
          |""".stripMargin)
      assert(rows("gate") === Set((1L, "a", 20.0), (2L, "b", 40.0),
        (3L, "c", 333.0), (4L, "n", 444.0)))
      spark.sql("DROP TABLE graftrl.db.gate")
    } finally spark.conf.unset("graft.rowlevel.max-file-map-entries")
  }

  test("streaming foreachBatch MERGE upsert: micro-batches reconcile " +
      "into a catalog table; an idempotent replayed batch converges") {
    val s = spark
    import s.implicits._
    spark.sql(
      "CREATE TABLE graftrl.db.msink (k BIGINT NOT NULL, v STRING)")
    spark.sql("INSERT INTO graftrl.db.msink VALUES (1,'a'),(2,'b')")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val sink = graft.streaming.StreamingOps.icebergMergeSink(
      "graftrl.db.msink", "msink_src",
      """MERGE INTO graftrl.db.msink t USING msink_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("msink_ckpt").toString
    val q = mem.toDF.toDF("k", "v").writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData((2L, "B2"), (3L, "c"))
      q.processAllAvailable()
      def got: Set[(Long, String)] = spark.sql(
        "SELECT k, v FROM graftrl.db.msink").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((1L, "a"), (2L, "B2"), (3L, "c")))
      // the documented convergence contract: re-running an IDEMPOTENT
      // batch (assignments are functions of the source row) lands the
      // same state — the crash-replay story
      sink(spark.createDataFrame(Seq((2L, "B2"), (3L, "c")))
        .toDF("k", "v"), 0L)
      assert(got === Set((1L, "a"), (2L, "B2"), (3L, "c")))
    } finally q.stop()
    spark.sql("DROP TABLE graftrl.db.msink")
  }

  test("SQL ref DDL + pure-SQL WAP cycle: stage on a branch, audit via " +
      "VERSION AS OF, publish via FAST FORWARD, drop the branch") {
    spark.sql(
      "CREATE TABLE graftrl.db.wapsql (k BIGINT NOT NULL, v STRING, p DOUBLE)")
    spark.sql("INSERT INTO graftrl.db.wapsql VALUES (1,'a',10.0)")

    // tag DDL: pin the current snapshot, read back by name
    spark.sql("ALTER TABLE graftrl.db.wapsql CREATE TAG before_batch")
    // branch DDL + conf-staged INSERT: main must not see the batch
    spark.sql("ALTER TABLE graftrl.db.wapsql CREATE BRANCH audit")
    spark.conf.set("graft.wap.branch", "audit")
    try spark.sql("INSERT INTO graftrl.db.wapsql VALUES (2,'b',20.0)")
    finally spark.conf.unset("graft.wap.branch")
    assert(spark.sql("SELECT count(*) FROM graftrl.db.wapsql")
      .collect()(0).getLong(0) === 1L, "main is isolated from the stage")
    // audit the staged rows through SQL time travel on the branch name
    assert(spark.sql(
      "SELECT count(*) FROM graftrl.db.wapsql VERSION AS OF 'audit'")
      .collect()(0).getLong(0) === 2L)
    // publish: pure-SQL fast-forward, then main sees the batch
    spark.sql("ALTER TABLE graftrl.db.wapsql FAST FORWARD audit")
    assert(spark.sql("SELECT count(*) FROM graftrl.db.wapsql")
      .collect()(0).getLong(0) === 2L)
    // the tag still pins pre-batch history
    assert(spark.sql(
      "SELECT count(*) FROM graftrl.db.wapsql VERSION AS OF 'before_batch'")
      .collect()(0).getLong(0) === 1L)
    // drop the refs; the refs metadata table reflects it
    spark.sql("ALTER TABLE graftrl.db.wapsql DROP BRANCH audit")
    spark.sql("ALTER TABLE graftrl.db.wapsql DROP TAG before_batch")
    assert(spark.sql("SELECT name FROM graftrl.db.wapsql.refs")
      .collect().map(_.getString(0)).toSet === Set("main"))
    spark.sql("DROP TABLE graftrl.db.wapsql")
  }

  test("MERGE WITH SCHEMA EVOLUTION: refused by default; with the " +
      "opt-in conf a new source column auto-ALTERs (add-only) and the " +
      "merge writes it; old rows read NULL") {
    spark.sql("CREATE TABLE graftrl.db.sev " +
      "(k BIGINT NOT NULL, v STRING)")
    spark.sql("INSERT INTO graftrl.db.sev VALUES (1,'a'),(2,'b')")
    val mergeSql =
      """MERGE WITH SCHEMA EVOLUTION INTO graftrl.db.sev t
        |USING (SELECT 2L AS k, 'B' AS v, CAST(99.0 AS DOUBLE) AS extra
        |       UNION ALL SELECT 3L, 'c', CAST(33.0 AS DOUBLE)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    // default: loud refusal, schema untouched
    val ex = intercept[Exception](spark.sql(mergeSql))
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse("") + Option(t.getMessage).getOrElse("")
    assert(rootMsg(ex).contains("graft.merge.schema-evolution"),
      s"expected the opt-in refusal, got: ${rootMsg(ex)}")
    assert(spark.table("graftrl.db.sev").columns.toSeq === Seq("k", "v"))

    // opt-in: Spark's ResolveMergeIntoSchemaEvolution routes the
    // add-only change through the catalog's alterTable, then the
    // merge resolves against the evolved schema
    spark.conf.set("graft.merge.schema-evolution", "true")
    try spark.sql(mergeSql)
    finally spark.conf.unset("graft.merge.schema-evolution")
    val got = spark.sql(
      "SELECT k, v, extra FROM graftrl.db.sev ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq === Seq(
      (1L, "a", None),          // untouched row null-fills the new column
      (2L, "B", Some(99.0)),    // matched update carries it
      (3L, "c", Some(33.0))))   // not-matched insert carries it
    // the refusal is back once the conf is off (even when no column
    // is actually new — the opt-in gates the SYNTAX, conservatively)
    val ex2 = intercept[Exception](spark.sql(mergeSql))
    assert(rootMsg(ex2).contains("graft.merge.schema-evolution"),
      s"conf off again must refuse: ${rootMsg(ex2)}")
    spark.sql("DROP TABLE graftrl.db.sev")
  }
}
