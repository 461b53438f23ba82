package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.SchemaTranslator
import graft.mapping.{TypeMapper, TypeRulesColumns}
import graft.parse.Db2Parser

/** Parity of the Column (CASE-chain) ruleset with the Scala ruleset
  * across the full rule domain, and the DDL→Spark-schema bridge. */
class MappingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("mapping-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("Column ruleset == Scala ruleset over the whole domain") {
    import spark.implicits._
    val types = Seq(
      "SMALLINT", "INTEGER", "INT", "BIGINT", "DECIMAL", "DEC", "NUMERIC",
      "REAL", "FLOAT", "DOUBLE", "DECFLOAT", "CHAR", "CHARACTER", "VARCHAR",
      "LONG VARCHAR", "CLOB", "GRAPHIC", "VARGRAPHIC", "LONG VARGRAPHIC",
      "DBCLOB", "BINARY", "VARBINARY", "BLOB", "DATE", "TIME", "TIMESTAMP",
      "XML", "ROWID", "BOOLEAN", "WIDGET")
    // boundary-heavy parameter grid
    val lens = Seq(None, Some(1), Some(8 * 1024 * 1024), Some(8 * 1024 * 1024 + 1),
      Some(16 * 1024 * 1024), Some(16 * 1024 * 1024 + 1),
      Some(128 * 1024 * 1024), Some(128 * 1024 * 1024 + 1))
    val precs = Seq(None, Some(0), Some(6), Some(12), Some(24), Some(25), Some(38), Some(39))
    val scales = Seq(None, Some(0), Some(10), Some(37), Some(39))
    val bits = Seq(false, true)

    val specs = for {
      t <- types; l <- lens; p <- precs; s <- scales; b <- bits
    } yield (t, l, p, s, b)

    val df = specs.toDF("t", "len", "prec", "sc", "for_bit")
      .withColumn("target", TypeRulesColumns.targetType(col("t"), col("len"), col("prec"), col("sc"), col("for_bit")))
      .withColumn("status", TypeRulesColumns.status(col("t"), col("len"), col("prec"), col("sc"), col("for_bit")))
      .withColumn("ewi", TypeRulesColumns.ewiCode(col("t"), col("len"), col("prec"), col("sc"), col("for_bit")))

    val rows = df.collect()
    assert(rows.length === specs.length)
    for (r <- rows) {
      val expected = TypeMapper.mapType(
        r.getAs[String]("t"),
        Option(r.getAs[Integer]("len")).map(_.intValue),
        Option(r.getAs[Integer]("prec")).map(_.intValue),
        Option(r.getAs[Integer]("sc")).map(_.intValue),
        r.getAs[Boolean]("for_bit"))
      val ctx = s"${r.getAs[String]("t")} len=${r.get(1)} prec=${r.get(2)} sc=${r.get(3)} bit=${r.get(4)}"
      assert(r.getAs[String]("target") === expected.targetType, ctx)
      assert(r.getAs[String]("status") === expected.status, ctx)
      assert(Option(r.getAs[String]("ewi")) === expected.ewiCode, ctx)
    }
  }

  test("schema translation: parsed DDL → Spark StructType") {
    val ddl =
      """CREATE TABLE S.T (
        |  ID INTEGER NOT NULL,
        |  BIG BIGINT,
        |  AMOUNT DECIMAL(15,2),
        |  NAME VARCHAR(100) NOT NULL,
        |  BLOB_COL BLOB(1000),
        |  D DATE,
        |  TM TIME,
        |  TS TIMESTAMP(9),
        |  FLAG BOOLEAN,
        |  W REAL,
        |  X XML,
        |  PRIMARY KEY (ID)
        |);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    val schema = SchemaTranslator.toSparkSchema(table)
    val byName = schema.fields.map(f => f.name -> f).toMap
    assert(byName("ID").dataType === IntegerType && !byName("ID").nullable)
    assert(byName("BIG").dataType === LongType && byName("BIG").nullable)
    assert(byName("AMOUNT").dataType === DecimalType(15, 2))
    assert(byName("NAME").dataType === StringType && !byName("NAME").nullable)
    assert(byName("BLOB_COL").dataType === BinaryType)
    assert(byName("D").dataType === DateType)
    assert(byName("TM").dataType === TimeType(6))
    assert(byName("TS").dataType === TimestampNTZType)
    assert(byName("FLAG").dataType === BooleanType)
    assert(byName("W").dataType === FloatType)
    assert(byName("X").dataType === StringType) // unsupported degrades to STRING
  }

  test("migration write: casts to translated schema and partitions by RANGE columns") {
    import spark.implicits._
    val ddl =
      """CREATE TABLE S.EVENTS (
        |  EVENT_ID BIGINT NOT NULL,
        |  AMOUNT DECIMAL(10,2),
        |  BUCKET INTEGER
        |) PARTITION BY RANGE (BUCKET);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    val src = Seq((1L, "10.50", 1), (2L, "20.25", 2), (3L, "7.75", 1))
      .toDF("EVENT_ID", "AMOUNT", "BUCKET")
    val out = java.nio.file.Files.createTempDirectory("migrated").toString
    SchemaTranslator.writeMigrated(src, table, out)
    val back = spark.read.parquet(out)
    assert(back.schema("AMOUNT").dataType === DecimalType(10, 2))
    assert(back.count() === 3)
    // physical layout partitioned by the RANGE column
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("BUCKET="))
    assert(dirs.toSet === Set("BUCKET=1", "BUCKET=2"))
  }

  test("S9 migration round trip: fixture parquet → translated schema → " +
      "partitioned write → read back (schema, data, layout, pruning)") {
    // The parquet fixture stands in for the source system HERE to pin
    // the write-side details in isolation; the JDBC read half runs for
    // real against embedded Derby in the dedicated end-to-end test
    // below (and in the q106_jdbc_migrate driver row).
    val ddl =
      """CREATE TABLE TPCH.ORDERS (
        |  O_ORDERKEY BIGINT NOT NULL,
        |  O_CUSTKEY BIGINT,
        |  O_ORDERSTATUS CHAR(1),
        |  O_TOTALPRICE DECIMAL(12,2),
        |  O_ORDERDATE DATE,
        |  O_ORDERPRIORITY VARCHAR(15)
        |) PARTITION BY RANGE (O_ORDERSTATUS);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val out = java.nio.file.Files.createTempDirectory("migrated_orders").toString
    SchemaTranslator.writeMigrated(src, table, out)
    val back = spark.read.parquet(out)

    // 1. schema: every translated type survives (the partition column
    // itself comes back via directory-value inference as a string).
    val expected = SchemaTranslator.toSparkSchema(table)
    expected.fields.filterNot(_.name == "O_ORDERSTATUS").foreach { f =>
      assert(back.schema(f.name).dataType === f.dataType, f.name)
    }
    assert(back.schema.fieldNames.toSet === expected.fieldNames.toSet)

    // 2. data: bidirectional except-emptiness against the casted source.
    val srcCast = src.select(expected.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val backAligned = back.select(expected.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    assert(backAligned.count() === srcCast.count())
    assert(backAligned.except(srcCast).count() === 0)
    assert(srcCast.except(backAligned).count() === 0)

    // 3. physical layout: one directory per RANGE-partition value.
    val statuses = src.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).toSet
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("O_ORDERSTATUS=")).map(_.stripPrefix("O_ORDERSTATUS=")).toSet
    assert(dirs === statuses)

    // 4. partition pruning: a filter on the RANGE column reaches the
    // scan as a partition filter (directory-level skip, no data read
    // from other partitions).
    val pruned = back.filter(col("O_ORDERSTATUS") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("O_ORDERSTATUS"), plan)
    assert(pruned.count() === src.filter(col("o_orderstatus") === "F").count())
  }

  test("migrateTable: HadoopTables layout — data/ + metadata/ in one call, " +
      "metadata schema agrees with the written data files") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val ddl =
      """CREATE TABLE S.EVENTS2 (
        |  EVENT_ID BIGINT NOT NULL,
        |  AMOUNT DECIMAL(10,2),
        |  BUCKET INTEGER
        |) PARTITION BY RANGE (BUCKET);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val src = Seq((1L, "10.50", 1), (2L, "20.25", 2)).toDF("EVENT_ID", "AMOUNT", "BUCKET")
    val out = java.nio.file.Files.createTempDirectory("iceberg_table").toString
    SchemaTranslator.migrateTable(src, table, out)

    val back = spark.read.parquet(s"$out/data")
    assert(back.count() === 2)
    val metaPath = java.nio.file.Paths.get(out, "metadata", "v1.metadata.json")
    assert(java.nio.file.Files.exists(metaPath))
    val meta = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8"))

    // every metadata field's Iceberg type bridges back to the Spark type
    // the parquet files actually carry (partition col comes back via
    // directory inference, checked by name only).
    val fields = ((meta \ "schemas")(0) \ "fields").asInstanceOf[JArray].arr
    assert(fields.map(f => (f \ "name").asInstanceOf[JString].s) ===
      List("EVENT_ID", "AMOUNT", "BUCKET"))
    fields.filterNot(f => (f \ "name").asInstanceOf[JString].s == "BUCKET").foreach { f =>
      val name = (f \ "name").asInstanceOf[JString].s
      val icebergT = (f \ "type").asInstanceOf[JString].s
      val sparkT = icebergT match {
        case "long" => org.apache.spark.sql.types.LongType
        case s if s.startsWith("decimal") =>
          val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")").split(",")
          DecimalType(p.trim.toInt, sc.trim.toInt)
        case other => fail(s"unexpected metadata type $other")
      }
      assert(back.schema(name).dataType === sparkT, name)
    }
    // partition spec matches the physical directory layout
    val pf = ((meta \ "partition-specs")(0) \ "fields").asInstanceOf[JArray].arr
    assert(pf.size === 1 && (pf.head \ "name").asInstanceOf[JString].s === "BUCKET")
    val dirs = new java.io.File(s"$out/data").listFiles().map(_.getName)
      .filter(_.startsWith("BUCKET=")).toSet
    assert(dirs === Set("BUCKET=1", "BUCKET=2"))
  }

  test("IcebergBucket: spec test vectors, Guava reference parity, int/long agreement") {
    import graft.functions.IcebergBucketUtil._
    // (vector sources: the Iceberg table spec's Appendix B hash table)
    // published Iceberg spec Appendix B vectors
    assert(hashLong(34L) === 2017239379)
    assert(murmur3("iceberg".getBytes("UTF-8"), 0) === 1210000089)
    // reference murmur3 (Guava murmur3_32_fixed) agrees on arbitrary data
    val rng = new scala.util.Random(7)
    for (len <- 0 to 33) {
      val data = Array.fill[Byte](len)(rng.nextInt().toByte)
      assert(murmur3(data, 0) ===
        com.google.common.hash.Hashing.murmur3_32_fixed().hashBytes(data).asInt(),
        s"len=$len")
    }
    // decimal: unscaled-value big-endian two's complement (spec vector)
    assert(hashDecimal(org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal("14.20"))) === -500754589)
    // timestamp: micros-from-epoch long (spec vector for
    // 2017-11-16T22:31:08 UTC)
    assert(hashLong(1510871468000000L) === -2047944441)
    // ints hash as widened longs (spec: bucketing survives promotion)
    assert(bucketLong(34, 16) === bucketLong(34L, 16))
    assert((0 until 100).forall(v => bucketLong(v.toLong, 16) ===
      (hashLong(v.toLong) & Int.MaxValue) % 16))
    // the Column face computes the same values codegen'd
    import spark.implicits._
    val out = Seq(34L, 0L, -1L, 12345678901L).toDF("v")
      .select(graft.functions.IcebergBucket(col("v"), 16).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(out === Seq(34L, 0L, -1L, 12345678901L).map(v => bucketLong(v, 16)))
  }

  test("DISTRIBUTE BY HASH migrates through the spec bucket transform: " +
      "dirs, manifests and row placement all agree") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val ddl =
      """CREATE TABLE S.HASHED (
        |  K BIGINT NOT NULL,
        |  V VARCHAR(20)
        |) PARTITION BY HASH (K);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val src = (1L to 200L).map(k => (k, s"v$k")).toDF("K", "V")
    val out = java.nio.file.Files.createTempDirectory("iceberg_bucketed").toString
    SchemaTranslator.migrateTable(src, table, out)

    // physical layout: K_bucket=<n> dirs, n < 16
    val dirs = new java.io.File(s"$out/data").listFiles().map(_.getName)
      .filter(_.startsWith("K_bucket=")).map(_.stripPrefix("K_bucket=").toInt)
    assert(dirs.nonEmpty && dirs.forall(b => b >= 0 && b < 16))
    // every row sits in the bucket the spec transform assigns its key
    val back = spark.read.parquet(s"$out/data")
    assert(back.count() === 200)
    back.select("K", "K_bucket").collect().foreach { r =>
      assert(r.getInt(1) ===
        graft.functions.IcebergBucketUtil.bucketLong(r.getLong(0), 16), s"K=${r.getLong(0)}")
    }
    // source column stays IN the data files (bucket is not invertible)
    val oneFile = new java.io.File(s"$out/data/K_bucket=${dirs.head}")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(spark.read.parquet(oneFile.toString).columns.contains("K"))

    // metadata names the field K_bucket with the bucket[16] transform
    val meta = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "v2.metadata.json")), "UTF-8"))
    val pf = ((meta \ "partition-specs")(0) \ "fields").asInstanceOf[JArray].arr
    assert(pf.size === 1)
    assert((pf.head \ "name").asInstanceOf[JString].s === "K_bucket")
    assert((pf.head \ "transform").asInstanceOf[JString].s === "bucket[16]")

    // manifests record the real int bucket value per file
    def asLocal(p: String): java.nio.file.Path =
      if (p.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(p))
      else java.nio.file.Paths.get(p)
    val snap = (meta \ "snapshots").asInstanceOf[JArray].arr.head
    val listPath = asLocal((snap \ "manifest-list").asInstanceOf[JString].s)
    val listReader = new DataFileReader(listPath.toFile,
      new GenericDatumReader[GenericRecord]())
    val manifestPath = try listReader.next().get("manifest_path").toString
      finally listReader.close()
    val mReader = new DataFileReader(asLocal(manifestPath).toFile,
      new GenericDatumReader[GenericRecord]())
    try {
      var n = 0
      while (mReader.hasNext) {
        val df = mReader.next().get("data_file").asInstanceOf[GenericRecord]
        val bucket = df.get("partition").asInstanceOf[GenericRecord].get("K_bucket")
        assert(bucket.isInstanceOf[Integer])
        assert(df.get("file_path").toString.contains(s"K_bucket=$bucket"))
        n += 1
      }
      assert(n > 0)
    } finally mReader.close()
  }

  test("appendIncrement chains snapshot 2: new manifest for new files only, " +
      "prior manifests re-listed, cumulative totals and parent link correct") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    def asLocal(p: String): java.nio.file.Path =
      if (p.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(p))
      else java.nio.file.Paths.get(p)
    def avroRows(p: String): Seq[GenericRecord] = {
      val r = new DataFileReader(asLocal(p).toFile,
        new GenericDatumReader[GenericRecord]())
      try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toVector
      finally r.close()
    }
    val ddl =
      """CREATE TABLE S.INCR (
        |  K BIGINT NOT NULL,
        |  V VARCHAR(20)
        |) PARTITION BY RANGE (V);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("iceberg_incr").toString
    SchemaTranslator.migrateTable(
      (1L to 100L).map(k => (k, s"p${k % 2}")).toDF("K", "V"), table, out)
    SchemaTranslator.appendIncrement(
      (101L to 150L).map(k => (k, s"p${k % 2}")).toDF("K", "V"), table, out)

    // version hint moved to 3; v3 carries the two-snapshot chain
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "version-hint.text")), "UTF-8") === "3\n")
    val meta = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "v3.metadata.json")), "UTF-8"))
    val snaps = (meta \ "snapshots").asInstanceOf[JArray].arr
    assert(snaps.size === 2)
    val (s1, s2) = (snaps(0), snaps(1))
    assert((meta \ "current-snapshot-id") === (s2 \ "snapshot-id"))
    assert((meta \ "last-sequence-number").asInstanceOf[JInt].num.toInt === 2)
    assert((s2 \ "sequence-number").asInstanceOf[JInt].num.toInt === 2)
    assert((s2 \ "parent-snapshot-id") === (s1 \ "snapshot-id"))
    assert((s2 \ "summary" \ "added-records").asInstanceOf[JString].s === "50")
    assert((s2 \ "summary" \ "total-records").asInstanceOf[JString].s === "150")
    assert((meta \ "metadata-log").asInstanceOf[JArray].arr.size >= 2)

    // snapshot 2's manifest list: the new manifest at seq 2 plus
    // snapshot 1's manifest re-listed at its ORIGINAL seq 1
    val list2 = avroRows((s2 \ "manifest-list").asInstanceOf[JString].s)
    assert(list2.size === 2)
    val bySeq = list2.map(r => r.get("sequence_number").asInstanceOf[Long] -> r).toMap
    assert(bySeq(2L).get("added_rows_count") === 50L)
    assert(bySeq(1L).get("added_rows_count") === 100L)
    // new manifest covers ONLY the delta files, all existing on disk
    val entries2 = avroRows(bySeq(2L).get("manifest_path").toString)
    val paths1 = avroRows(bySeq(1L).get("manifest_path").toString).map(e =>
      e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString).toSet
    var deltaRows = 0L
    for (e <- entries2) {
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val fp = df.get("file_path").toString
      assert(!paths1.contains(fp), s"delta manifest must not re-add $fp")
      assert(java.nio.file.Files.exists(asLocal(fp)), fp)
      deltaRows += df.get("record_count").asInstanceOf[Long]
    }
    assert(deltaRows === 50L)
    // a reader walking the chain sees all 150 rows
    assert(spark.read.parquet(s"$out/data").count() === 150)
    // idempotence: nothing new on disk → no-op, version stays 3
    val again = graft.sources.IcebergSnapshot.commitAppendIncrement(table, out)
    assert(again.sequenceNumber === 2L)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "version-hint.text")), "UTF-8") === "3\n")

    // time travel: snapshot 1 reads the pre-increment table, current
    // reads everything; identity partition column restored from the
    // manifests' recorded values
    val snap1Id = (s1 \ "snapshot-id").asInstanceOf[JInt].num.toLong
    val atSnap1 = graft.sources.IcebergSnapshot.readSnapshot(
      spark, out, table, Some(snap1Id))
    assert(atSnap1.count() === 100)
    val current = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
    assert(current.count() === 150)
    assert(current.columns.contains("V"))
    val vByK = current.select("K", "V").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vByK(7L) === "p1" && vByK(150L) === "p0")
  }

  test("partition-value escaping and typed restore: '+' survives, %XX decodes, " +
      "dates come back as dates; HASH on an unbucketable type degrades gracefully") {
    import graft.sources.IcebergSnapshot
    // '+' is NOT escaped by Spark's path escaping and must survive;
    // %XX sequences must decode; the Hive null marker maps to None
    assert(IcebergSnapshot.unescapePathName("C++") === "C++")
    assert(IcebergSnapshot.unescapePathName("a%3Ab%25c") === "a:b%c")
    assert(IcebergSnapshot.parsePartitionValue("C++", "string", "identity")
      === Some("C++"))
    assert(IcebergSnapshot.parsePartitionValue("__HIVE_DEFAULT_PARTITION__",
      "string", "identity") === None)
    assert(IcebergSnapshot.parsePartitionValue("2020-01-01", "date", "identity")
      === Some(java.time.LocalDate.parse("2020-01-01").toEpochDay.toInt))

    // date-identity partition round-trips through migrate → readSnapshot
    // as the surface date string, not the epoch-day int
    val ddl =
      """CREATE TABLE S.DATED (
        |  K BIGINT NOT NULL,
        |  D DATE
        |) PARTITION BY RANGE (D);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val src = Seq((1L, "2020-01-01"), (2L, "2021-06-15"), (3L, "2020-01-01"))
      .toDF("K", "D")
    val out = java.nio.file.Files.createTempDirectory("iceberg_dated").toString
    SchemaTranslator.migrateTable(src, table, out)
    val read = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
      .select("K", "D").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(read(1L) === "2020-01-01" && read(2L) === "2021-06-15")

    // HASH on DECIMAL buckets through the spec's unscaled-value hash
    val ddl2 =
      """CREATE TABLE S.DECHASH (
        |  K DECIMAL(18,2) NOT NULL,
        |  V VARCHAR(10)
        |) PARTITION BY HASH (K);""".stripMargin
    val table2 = Db2Parser.parse(ddl2).tables.head
    val out2 = java.nio.file.Files.createTempDirectory("iceberg_dechash").toString
    SchemaTranslator.writeMigrated(
      Seq(("14.20", "a"), ("7.75", "b")).toDF("K", "V"), table2, out2)
    val expectedBucket = (-500754589 & Int.MaxValue) % 16
    assert(new java.io.File(out2).listFiles()
      .exists(_.getName == s"K_bucket=$expectedBucket"))

    // HASH on REAL: float is not a valid bucket source per the spec —
    // the write must degrade to unpartitioned instead of failing
    val ddl3 =
      """CREATE TABLE S.FLHASH (
        |  K REAL NOT NULL,
        |  V VARCHAR(10)
        |) PARTITION BY HASH (K);""".stripMargin
    val table3 = Db2Parser.parse(ddl3).tables.head
    val out3 = java.nio.file.Files.createTempDirectory("iceberg_flhash").toString
    SchemaTranslator.writeMigrated(
      Seq(("1.5", "a"), ("2.5", "b")).toDF("K", "V"), table3, out3)
    assert(spark.read.parquet(out3).count() === 2)
    assert(!new java.io.File(out3).listFiles().exists(_.getName.contains("_bucket=")))
  }

  test("CLUSTER BY sorts the written files — the declared sort order is real") {
    import spark.implicits._
    // DISTRIBUTE BY HASH is its own statement, linked to the last
    // CREATE by pass 2 (the reference's tables[-1] behavior)
    val ddl =
      """CREATE TABLE S.SRT (
        |  K BIGINT NOT NULL,
        |  V VARCHAR(10)
        |);
        |DISTRIBUTE BY HASH (K);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    assert(table.distributeByHash === Some("K"))
    // shuffled input: order must come from the write, not the source
    val src = scala.util.Random.shuffle((1L to 500L).toList)
      .map(k => (k, s"v$k")).toDF("K", "V").repartition(4)
    val out = java.nio.file.Files.createTempDirectory("sorted_write").toString
    SchemaTranslator.writeMigrated(src, table, out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    for (f <- files) {
      val ks = spark.read.parquet(f.toString).select("K")
        .collect().map(_.getLong(0))
      assert(ks.sameElements(ks.sorted), s"${f.getName} not sorted by K")
    }
  }

  test("compaction: small files merge per partition into a REPLACE snapshot; " +
      "rows, history and statuses all hold") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val ddl =
      """CREATE TABLE S.COMPACT (
        |  K BIGINT NOT NULL,
        |  P INTEGER
        |) PARTITION BY RANGE (P);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    // many small files: 2 partitions × 4 tasks
    val src = (1L to 400L).map(k => (k, (k % 2).toInt)).toDF("K", "P")
      .repartition(4)
    val out = java.nio.file.Files.createTempDirectory("iceberg_compact").toString
    SchemaTranslator.migrateTable(src, table, out)
    val before = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
    val nFilesBefore = before.inputFiles.length
    assert(nFilesBefore >= 6, s"need small files to merge, got $nFilesBefore")

    val snap = graft.sources.IcebergSnapshot.compactDataFiles(
      spark, table, out, targetBytes = 512L * 1024 * 1024)
    assert(snap.operation === "replace")
    assert(snap.deletedFiles === nFilesBefore.toLong)
    assert(snap.addedFiles === 2L) // one compacted file per partition
    assert(snap.totalRecords === 400L)

    // current state: fewer files, identical rows
    val after = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
    assert(after.inputFiles.length === 2)
    assert(after.count() === 400)
    assert(after.select("K").except(before.select("K")).count() === 0)
    assert(before.select("K").except(after.select("K")).count() === 0)

    // history intact: the pre-compaction snapshot still reads the
    // original small files (physical deletion is a separate expiry)
    val meta = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "v3.metadata.json")), "UTF-8"))
    val snaps = (meta \ "snapshots").asInstanceOf[JArray].arr
    assert(snaps.size === 2)
    val firstId = (snaps.head \ "snapshot-id").asInstanceOf[JInt].num.toLong
    val old = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table, Some(firstId))
    assert(old.inputFiles.length === nFilesBefore && old.count() === 400)
    assert((snaps(1) \ "summary" \ "operation").asInstanceOf[JString].s === "replace")
    assert((snaps(1) \ "summary" \ "deleted-data-files").asInstanceOf[JString].s
      === nFilesBefore.toString)

    // a second compaction is a no-op (everything already merged)
    val again = graft.sources.IcebergSnapshot.compactDataFiles(
      spark, table, out, targetBytes = 512L * 1024 * 1024)
    assert(again.snapshotId === snap.snapshotId)
  }

  test("expireSnapshots physically deletes files reachable only through " +
      "expired snapshots; retained history and current reads intact") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val ddl =
      """CREATE TABLE S.EXPIRE (
        |  K BIGINT NOT NULL,
        |  P INTEGER
        |) PARTITION BY RANGE (P);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val src = (1L to 400L).map(k => (k, (k % 2).toInt)).toDF("K", "P")
      .repartition(4)
    val out = java.nio.file.Files.createTempDirectory("iceberg_expire").toString
    SchemaTranslator.migrateTable(src, table, out)
    // an increment so history has a shared (re-listed) manifest, then
    // a compaction so the small files become garbage-in-waiting
    SchemaTranslator.appendIncrement(
      (401L to 450L).map(k => (k, (k % 2).toInt)).toDF("K", "P"), table, out)
    val smallFiles = graft.sources.IcebergSnapshot
      .readSnapshot(spark, out, table).inputFiles.toSet
    graft.sources.IcebergSnapshot.compactDataFiles(
      spark, table, out, targetBytes = 512L * 1024 * 1024)
    val compacted = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
    assert(compacted.count() === 450)
    val keptFiles = compacted.inputFiles.toSet

    // keepLast=3 keeps everything → no-op, nothing deleted
    val (_, none) = graft.sources.IcebergSnapshot.expireSnapshots(table, out, 3)
    assert(none.isEmpty)

    // keepLast=1: snapshots 1-2 expire; every original small file is
    // live only there, so all of them are physically deleted
    val (cur, deleted) = graft.sources.IcebergSnapshot.expireSnapshots(table, out, 1)
    assert(cur.operation === "replace")
    def local(p: String) = java.nio.file.Paths.get(new java.net.URI(
      if (p.startsWith("file:")) p else "file://" + p))
    for (f <- smallFiles) assert(!java.nio.file.Files.exists(local(f)), f)
    for (f <- keptFiles) assert(java.nio.file.Files.exists(local(f)), f)
    assert(deleted.exists(_.endsWith(".avro")), "expired manifests must go too")

    // metadata: only the current snapshot remains; hint advanced
    val version = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "version-hint.text")), "UTF-8").trim.toInt
    val meta = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", s"v$version.metadata.json")), "UTF-8"))
    assert((meta \ "snapshots").asInstanceOf[JArray].arr.size === 1)
    // current still reads every row; the expired id no longer resolves
    val after = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
    assert(after.count() === 450)
    intercept[IllegalArgumentException] {
      graft.sources.IcebergSnapshot.readSnapshot(spark, out, table, Some(1L))
    }
  }

  test("append after compaction must not overwrite an older snapshot's manifest; " +
      "compacted files honor the declared sort order") {
    val ddl =
      """CREATE TABLE S.LIFEC (
        |  K BIGINT NOT NULL,
        |  V VARCHAR(10)
        |);
        |DISTRIBUTE BY HASH (K);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("iceberg_lifec").toString
    def rows(r: Range) = r.map(k => (k.toLong, s"v$k")).toDF("K", "V").repartition(3)
    // snap1: 100 rows; snap2: +50; snap3: compaction; snap4: +25
    SchemaTranslator.migrateTable(rows(1 to 100), table, out)
    SchemaTranslator.appendIncrement(rows(101 to 150), table, out)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaV3 = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "v3.metadata.json")), "UTF-8"))
    val snap2Id = (metaV3 \ "current-snapshot-id").asInstanceOf[JInt].num.toLong
    graft.sources.IcebergSnapshot.compactDataFiles(
      spark, table, out, targetBytes = 512L * 1024 * 1024)
    SchemaTranslator.appendIncrement(rows(151 to 175), table, out)

    // the collision scenario: snapshot 2 (pre-compaction) must still
    // read its own 150 rows — a manifest filename keyed on list size
    // alone would have been overwritten by the post-compaction append
    val atSnap2 = graft.sources.IcebergSnapshot.readSnapshot(
      spark, out, table, Some(snap2Id))
    assert(atSnap2.count() === 150)
    val current = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
    assert(current.count() === 175)
    // a replace snapshot's deleted counts survive re-serialization by
    // the follow-up append's metadata rewrite
    val metaV5 = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "v5.metadata.json")), "UTF-8"))
    val replaceSnap = (metaV5 \ "snapshots").asInstanceOf[JArray].arr
      .find(sn => (sn \ "summary" \ "operation").asInstanceOf[JString].s == "replace").get
    assert((replaceSnap \ "summary" \ "deleted-data-files").isInstanceOf[JString])
    // compacted files are sorted by the declared sort column
    val compactFiles = new java.io.File(s"$out/data").listFiles()
      .filter(_.getName.startsWith("compact-"))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(compactFiles.nonEmpty)
    for (f <- compactFiles) {
      val ks = spark.read.parquet(f.toString).select("K")
        .collect().map(_.getLong(0))
      assert(ks.sameElements(ks.sorted), s"${f.getName} not sorted after compaction")
    }
  }

  test("CDC sync pipeline: change batches compact to latest-wins deltas, " +
      "each committed as one snapshot, time travel sees each state") {
    // the full migration + sync story in one flow: initial load →
    // snapshot 1; a CDC change batch (inserts + updates) compacted by
    // Cdc.compactLatest → appendIncrement → snapshot 2; readers pick
    // any state by snapshot id
    val ddl =
      """CREATE TABLE S.SYNCED (
        |  K BIGINT NOT NULL,
        |  VAL VARCHAR(20),
        |  US BIGINT
        |);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("iceberg_cdc").toString
    SchemaTranslator.migrateTable(
      (1L to 10L).map(k => (k, s"v$k", 100L)).toDF("K", "VAL", "US"), table, out)

    // change batch: two updates for K=3 (latest wins) and a new K=11
    val changes = Seq(
      (3L, "v3-new", 200L), (3L, "v3-newer", 300L), (11L, "v11", 250L))
      .toDF("K", "VAL", "US")
    val compacted = graft.operators.Cdc.compactLatest(
        changes.withColumn("tie", col("VAL")), Seq("K"), "US", "tie", Seq("VAL"))
      .select(col("K"), col("last_VAL").as("VAL"), col("last_US").as("US"))
    assert(compacted.count() === 2) // 3's two versions collapse
    SchemaTranslator.appendIncrement(compacted, table, out)

    val s2 = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
    // note: appends are inserts at the file level — the table carries
    // both K=3 rows across snapshots; latest-state reads compact on
    // read (or a rewrite commit would), exactly like real Iceberg CDC
    // mirrors before compaction
    val latest = graft.operators.Cdc.compactLatest(
        s2.withColumn("tie", col("VAL")), Seq("K"), "US", "tie", Seq("VAL"))
      .select(col("K"), col("last_VAL"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latest.size === 11)
    assert(latest(3L) === "v3-newer")
    assert(latest(11L) === "v11")
    assert(latest(5L) === "v5")
  }

  test("migrateTable commits an append snapshot: metadata → manifest list → " +
      "manifest → data files, verified by independent Avro read-back") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    // manifest paths are URIs (file:/..., s3://...) — resolve local ones
    def localPath(p: String): java.nio.file.Path =
      if (p.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(p))
      else java.nio.file.Paths.get(p)
    def readAvro(path: String): (Seq[GenericRecord], Map[String, String]) = {
      val reader = new DataFileReader(new java.io.File(path),
        new GenericDatumReader[GenericRecord]())
      try {
        val rows = Iterator.continually(reader)
          .takeWhile(_.hasNext).map(_.next()).toVector
        val metaKeys = Seq("schema", "partition-spec", "format-version",
          "content", "snapshot-id", "sequence-number")
        val meta = metaKeys.flatMap(k =>
          Option(reader.getMetaString(k)).map(k -> _)).toMap
        (rows, meta)
      } finally reader.close()
    }

    val ddl =
      """CREATE TABLE S.EVENTS3 (
        |  EVENT_ID BIGINT NOT NULL,
        |  AMOUNT DECIMAL(10,2),
        |  BUCKET INTEGER
        |) PARTITION BY RANGE (BUCKET);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val src = Seq((1L, "10.50", 1), (2L, "20.25", 2), (3L, "7.75", 1))
      .toDF("EVENT_ID", "AMOUNT", "BUCKET")
    val out = java.nio.file.Files.createTempDirectory("iceberg_snap").toString
    SchemaTranslator.migrateTable(src, table, out)

    // version hint points at the post-commit metadata
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "version-hint.text")), "UTF-8") === "2\n")
    val meta = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "v2.metadata.json")), "UTF-8"))

    // snapshot is current and ref'd from main
    val snapId = (meta \ "current-snapshot-id").asInstanceOf[JInt].num.toLong
    assert(snapId > 0)
    val snaps = (meta \ "snapshots").asInstanceOf[JArray].arr
    assert(snaps.size === 1)
    val snap = snaps.head
    assert((snap \ "snapshot-id").asInstanceOf[JInt].num.toLong === snapId)
    assert((snap \ "summary" \ "operation").asInstanceOf[JString].s === "append")
    assert((snap \ "summary" \ "added-records").asInstanceOf[JString].s === "3")
    assert((meta \ "refs" \ "main" \ "snapshot-id").asInstanceOf[JInt].num.toLong === snapId)
    assert((meta \ "last-sequence-number").asInstanceOf[JInt].num.toInt === 1)
    assert((meta \ "metadata-log").asInstanceOf[JArray].arr.nonEmpty)

    // manifest list: one data manifest, counts aggregated
    val listPath = localPath((snap \ "manifest-list").asInstanceOf[JString].s).toString
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(listPath)))
    val (listRows, listMeta) = readAvro(listPath)
    assert(listMeta("format-version") === "2")
    assert(listMeta("snapshot-id") === snapId.toString)
    assert(listRows.size === 1)
    val mf = listRows.head
    assert(mf.get("content") === 0)
    assert(mf.get("added_rows_count") === 3L)
    assert(mf.get("added_snapshot_id") === snapId)
    assert(mf.get("sequence_number") === 1L)

    // manifest: one ADDED entry per parquet file; paths exist; record
    // counts sum to the written rows; partition values match the dirs
    val manifestPath = localPath(mf.get("manifest_path").toString).toString
    assert(mf.get("manifest_length") ===
      java.nio.file.Files.size(java.nio.file.Paths.get(manifestPath)))
    val (entries, mMeta) = readAvro(manifestPath)
    assert(mMeta("format-version") === "2" && mMeta("content") === "data")
    // embedded schema/spec agree with the table metadata document
    assert(JsonMethods.parse(mMeta("schema")) === (meta \ "schemas")(0))
    assert(JsonMethods.parse(mMeta("partition-spec")) ===
      ((meta \ "partition-specs")(0) \ "fields"))
    assert(entries.nonEmpty)
    // per-file column stats: counts and spec-serialized bounds, keyed
    // by field id (EVENT_ID=1, AMOUNT=2; BUCKET=3 is dir-encoded) —
    // the file-pruning metadata a reader uses to skip files
    def kvMap(df: GenericRecord, field: String): Map[Int, Any] = {
      val arr = df.get(field).asInstanceOf[java.util.List[GenericRecord]]
      (0 until arr.size).map { i =>
        arr.get(i).get("key").asInstanceOf[Int] -> arr.get(i).get("value")
      }.toMap
    }
    def leLong(v: Any): Long = {
      val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (bb.remaining == 8) bb.getLong else bb.getInt.toLong
    }
    val statTotals = entries.map { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val vc = kvMap(df, "value_counts")
      val nc = kvMap(df, "null_value_counts")
      assert(vc(1) === df.get("record_count"), "EVENT_ID value count == rows")
      assert(nc(1) === 0L)
      val lb = kvMap(df, "lower_bounds")
      val ub = kvMap(df, "upper_bounds")
      assert(leLong(lb(1)) <= leLong(ub(1)))
      (leLong(lb(1)), leLong(ub(1)), vc(1).asInstanceOf[Long])
    }
    assert(statTotals.map(_._3).sum === 3L)
    assert(statTotals.map(_._1).min === 1L, "global EVENT_ID lower bound")
    assert(statTotals.map(_._2).max === 3L, "global EVENT_ID upper bound")
    var totalRows = 0L
    for (e <- entries) {
      assert(e.get("status") === 1)
      assert(e.get("snapshot_id") === snapId)
      assert(e.get("sequence_number") === null) // inherited, v2 rule
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      assert(df.get("content") === 0)
      assert(df.get("file_format").toString === "PARQUET")
      val fp = df.get("file_path").toString
      assert(java.nio.file.Files.exists(localPath(fp)), fp)
      assert(df.get("file_size_in_bytes") === java.nio.file.Files.size(localPath(fp)))
      // partition value in the manifest equals the Hive dir the file
      // physically sits in — the manifest is what the reader trusts
      val bucket = df.get("partition").asInstanceOf[GenericRecord].get("BUCKET")
      assert(fp.contains(s"BUCKET=$bucket"), s"$fp vs partition $bucket")
      val n = df.get("record_count").asInstanceOf[Long]
      assert(n === spark.read.parquet(fp).count())
      totalRows += n
    }
    assert(totalRows === 3L)
    // determinism: a second commit over the same files is byte-stable
    val again = graft.sources.IcebergSnapshot.commitAppend(table, out)
    assert(again.snapshotId === snapId && again.addedRecords === 3L)
  }

  test("row-level deletes: position-delete DELETE snapshot, equality-delete " +
      "upsert, sequence-rule reads, time travel, delete-aware compaction") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import graft.sources.{IcebergDeletes, IcebergSnapshot}
    def asLocal(p: String): java.nio.file.Path =
      if (p.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(p))
      else java.nio.file.Paths.get(p)
    def avroRows(p: String): Seq[GenericRecord] = {
      val r = new DataFileReader(asLocal(p).toFile,
        new GenericDatumReader[GenericRecord]())
      try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toVector
      finally r.close()
    }
    def metaAt(out: String, v: Int): JValue =
      JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "metadata", s"v$v.metadata.json")), "UTF-8"))
    val ddl =
      """CREATE TABLE S.DELTEST (
        |  K BIGINT NOT NULL,
        |  V VARCHAR(20),
        |  N INTEGER
        |) PARTITION BY RANGE (V);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("iceberg_del").toString
    // K 1..100, V alternates p0/p1 (identity partition), N = 10·K
    SchemaTranslator.migrateTable(
      (1L to 100L).map(k => (k, s"p${k % 2}", (k * 10).toInt)).toDF("K", "V", "N"),
      table, out)
    val snap1 = IcebergSnapshot.readSnapshot(spark, out, table)
    assert(snap1.count() === 100)

    // ---- position deletes: predicate over an identity-partition col
    // AND a data col; odd K ≤ 20 match (10 rows)
    val del = IcebergDeletes.commitPositionDeletes(spark, table, out,
      col("N") <= 200 && col("V") === "p1")
    assert(del.operation === "delete")
    assert(del.addedPositionDeletes === 10L && del.addedDeleteFiles === 1L)
    assert(del.totalDeleteFiles === 1L && del.totalPositionDeletes === 10L)
    // no-op predicate: nothing matches → current snapshot returned
    assert(IcebergDeletes.commitPositionDeletes(spark, table, out,
      col("N") > 100000).snapshotId === del.snapshotId)

    val afterDel = IcebergSnapshot.readSnapshot(spark, out, table)
    assert(afterDel.count() === 90)
    val gone = afterDel.filter(col("N") <= 200 && col("V") === "p1").count()
    assert(gone === 0L)
    // time travel: the pre-delete snapshot still shows all 100 rows
    val firstId = (metaAt(out, 2) \ "snapshots").asInstanceOf[JArray].arr.head
    val firstSnapId = (firstId \ "snapshot-id").asInstanceOf[JInt].num.toLong
    assert(IcebergSnapshot.readSnapshot(spark, out, table, Some(firstSnapId))
      .count() === 100)

    // the delete manifest is a content-1 row whose Avro content key is
    // "deletes"; entries carry content=1 and live under deletes/
    val m3 = metaAt(out, 3)
    val delSnap = (m3 \ "snapshots").asInstanceOf[JArray].arr.last
    assert((delSnap \ "summary" \ "operation") === JString("delete"))
    assert((delSnap \ "summary" \ "added-position-deletes") === JString("10"))
    assert((delSnap \ "summary" \ "total-position-deletes") === JString("10"))
    val list3 = avroRows((delSnap \ "manifest-list").asInstanceOf[JString].s)
    val delManifests = list3.filter(_.get("content") === 1)
    assert(delManifests.size === 1 &&
      list3.count(_.get("content") === 0) === list3.size - 1)
    val delEntries = avroRows(delManifests.head.get("manifest_path").toString)
    assert(delEntries.size === 1)
    val delFile = delEntries.head.get("data_file").asInstanceOf[GenericRecord]
    assert(delFile.get("content") === 1)
    assert(delFile.get("record_count") === 10L)
    // the position-delete parquet carries the spec's reserved field ids
    val delParquet = asLocal(delFile.get("file_path").toString)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(delParquet.toUri),
        spark.sparkContext.hadoopConfiguration))
    val schemaFields = try footer.getFooter.getFileMetaData.getSchema.getFields
      finally footer.close()
    assert(schemaFields.get(0).getName === "file_path" &&
      schemaFields.get(0).getId.intValue === 2147483546.toInt)
    assert(schemaFields.get(1).getName === "pos" &&
      schemaFields.get(1).getId.intValue === 2147483545.toInt)
    // spec ordering: rows sorted by (file_path, pos)
    val delRows = spark.read.parquet(delParquet.toString)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(delRows === delRows.sorted)

    // ---- upsert: update K=2 (lives in an old file) and insert K=101;
    // equality delete on K kills only the OLD row, one atomic snapshot
    SchemaTranslator.mergeUpsert(
      Seq((2L, "p0", 999), (101L, "p1", 1010)).toDF("K", "V", "N"),
      table, out, keyCols = Seq("K"))
    val afterUpsert = IcebergSnapshot.readSnapshot(spark, out, table)
    assert(afterUpsert.count() === 91)
    val byK = afterUpsert.select("K", "N").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byK(2L) === 999 && byK(101L) === 1010 && byK(4L) === 40)
    val m4 = metaAt(out, 4)
    val upSnap = (m4 \ "snapshots").asInstanceOf[JArray].arr.last
    assert((upSnap \ "summary" \ "operation") === JString("overwrite"))
    assert((upSnap \ "summary" \ "added-equality-deletes") === JString("2"))
    // equality delete manifest: content-1 list row at the
    // unpartitioned spec, entry content=2 with equality_ids = [1] (K)
    val list4 = avroRows((upSnap \ "manifest-list").asInstanceOf[JString].s)
    val eqManifest = list4.filter(r => r.get("content") === 1 &&
      r.get("partition_spec_id") === 1)
    assert(eqManifest.size === 1)
    val eqEntry = avroRows(eqManifest.head.get("manifest_path").toString).head
      .get("data_file").asInstanceOf[GenericRecord]
    assert(eqEntry.get("content") === 2)
    val eqIds = eqEntry.get("equality_ids").asInstanceOf[java.util.List[Integer]]
    assert(eqIds.size === 1 && eqIds.get(0) === 1)
    // prior snapshots unaffected by the upsert
    assert(IcebergSnapshot.readSnapshot(spark, out, table, Some(del.snapshotId))
      .count() === 90)
    assert(IcebergSnapshot.readSnapshot(spark, out, table, Some(firstSnapId))
      .count() === 100)

    // plain compaction refuses while delete files are live
    val ex = intercept[IllegalArgumentException] {
      IcebergSnapshot.compactDataFiles(spark, table, out, 1L << 30)
    }
    assert(ex.getMessage.contains("delete"))

    // ---- delete-aware compaction folds deletes into fresh data files
    val compacted = IcebergDeletes.compactWithDeletes(spark, table, out)
    assert(compacted.operation === "replace")
    assert(compacted.totalDeleteFiles === 0L && compacted.totalRecords === 91L)
    val afterCompact = IcebergSnapshot.readSnapshot(spark, out, table)
    assert(afterCompact.count() === 91)
    val byK2 = afterCompact.select("K", "N").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byK2 === byK)
    // identity partition column still restored post-rewrite
    assert(afterCompact.filter(col("V") === "p1").count() ===
      afterUpsert.filter(col("V") === "p1").count())
    // compacted current state carries no delete manifests…
    val m5 = metaAt(out, 5)
    val cSnap = (m5 \ "snapshots").asInstanceOf[JArray].arr.last
    val list5 = avroRows((cSnap \ "manifest-list").asInstanceOf[JString].s)
    assert(list5.forall(r =>
      r.get("content") != 1 || avroRows(r.get("manifest_path").toString)
        .forall(_.get("status") == 2)))
    // …and every earlier snapshot still time-travels with its deletes
    assert(IcebergSnapshot.readSnapshot(spark, out, table, Some(del.snapshotId))
      .count() === 90)
    assert(IcebergSnapshot.readSnapshot(spark, out, table, Some(firstSnapId))
      .count() === 100)
    // idempotence: no deletes left → no-op
    assert(IcebergDeletes.compactWithDeletes(spark, table, out)
      .snapshotId === compacted.snapshotId)
  }

  test("S9 north-star EXECUTED end-to-end: embedded Derby source → " +
      "PARTITIONED readJdbc scan → migrateTable → pruned Iceberg " +
      "read-back (the literal 'Spark read DB2 + write Iceberg' path)") {
    val ddl =
      """CREATE TABLE G.DERBY_SRC (
        |  ID BIGINT NOT NULL,
        |  NAME VARCHAR(20),
        |  AMOUNT DECIMAL(10,2),
        |  FLAG INTEGER
        |) PARTITION BY RANGE (FLAG);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    val root = java.nio.file.Files.createTempDirectory("derby_e2e")
    val dbDir = root.resolve("db").toAbsolutePath.toString
    val url = s"jdbc:derby:$dbDir;create=true"
    // the "source system": Derby ships on Spark's classpath
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      conn.createStatement().executeUpdate("CREATE SCHEMA G")
      conn.createStatement().executeUpdate(
        "CREATE TABLE G.DERBY_SRC (ID BIGINT NOT NULL, NAME VARCHAR(20), " +
          "AMOUNT DECIMAL(10,2), FLAG INTEGER)")
      val ps = conn.prepareStatement(
        "INSERT INTO G.DERBY_SRC VALUES (?, ?, ?, ?)")
      (1 to 200).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"name_$i")
        ps.setBigDecimal(3, new java.math.BigDecimal(s"$i.25"))
        ps.setInt(4, i % 3); ps.addBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally conn.close()

    // migration read: a real partitioned JDBC scan — 4 key-range
    // splits, each executor range-scanning its slice of the source
    val src = SchemaTranslator.readJdbc(spark, url, table,
      partitionColumn = Some("ID"), numPartitions = 4,
      lowerBound = 0L, upperBound = 201L)
    assert(src.rdd.getNumPartitions === 4,
      "the JDBC scan must split into the requested key ranges")
    assert(src.count() === 200L)

    // migrate: translated schema, RANGE layout, committed v2 snapshot
    val out = root.resolve("tab").toAbsolutePath.toString
    SchemaTranslator.migrateTable(src, table, out)
    val back = graft.sources.IcebergSnapshot.readSnapshot(spark, out, table)
    assert(back.count() === 200L)
    assert(back.schema("AMOUNT").dataType === DecimalType(10, 2))
    val wantSum = (1 to 200)
      .map(i => new java.math.BigDecimal(s"$i.25")).reduce(_ add _)
    assert(back.select(sum(col("AMOUNT"))).head.getDecimal(0)
      .compareTo(wantSum) === 0,
      "migrated decimals must survive the bridge bit-exactly")

    // pruned read-back: a FLAG bound prunes whole identity partitions
    import graft.sources.IcebergPruning
    val pruned = graft.sources.IcebergSnapshot.readSnapshot(spark, out,
      table, pruning = Seq(IcebergPruning.ColumnBound.eq("FLAG", 1)))
    assert(pruned.select("ID").collect().map(_.getLong(0)).toSet
      === (1 to 200).filter(_ % 3 == 1).map(_.toLong).toSet)
    val (kept, skipped) = IcebergPruning.planScan(
      spark.sparkContext.hadoopConfiguration, out, table,
      Seq(IcebergPruning.ColumnBound.eq("FLAG", 1)))
    assert(skipped.nonEmpty,
      "the pruned migration read-back must skip other partitions' files")
    assert(kept.forall(_.contains("FLAG=1")))
  }

  test("expireSnapshots over a delete/upsert history: delete files consumed " +
      "by a retained compaction are GC'd, live delete files survive") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import graft.sources.{IcebergDeletes, IcebergSnapshot}
    def asLocal(p: String): java.nio.file.Path =
      if (p.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(p))
      else java.nio.file.Paths.get(p)
    def avroRows(p: String): Seq[GenericRecord] = {
      val r = new DataFileReader(asLocal(p).toFile,
        new GenericDatumReader[GenericRecord]())
      try Iterator.continually(r).takeWhile(_.hasNext).map(_.next()).toVector
      finally r.close()
    }
    def metaAt(out: String, v: Int): JValue =
      JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "metadata", s"v$v.metadata.json")), "UTF-8"))
    // all delete files (content=1 manifests, non-DELETED entries) a
    // snapshot's manifest list still carries as live
    def liveDeleteFiles(manifestList: String): Set[String] =
      avroRows(manifestList).filter(_.get("content") == 1)
        .flatMap(m => avroRows(m.get("manifest_path").toString)
          .filter(_.get("status") != 2)
          .map(_.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString)).toSet
    val ddl =
      """CREATE TABLE S.EXPDEL (
        |  K BIGINT NOT NULL,
        |  V VARCHAR(20),
        |  N INTEGER
        |) PARTITION BY RANGE (V);""".stripMargin
    val table = Db2Parser.parse(ddl).tables.head
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("iceberg_expdel").toString
    // snapshot 1 (append): K 1..100
    SchemaTranslator.migrateTable(
      (1L to 100L).map(k => (k, s"p${k % 2}", (k * 10).toInt)).toDF("K", "V", "N"),
      table, out)
    val origFiles = IcebergSnapshot.readSnapshot(spark, out, table).inputFiles.toSet
    // snapshot 2 (delete): position-delete 10 rows → delete file D1
    val del = IcebergDeletes.commitPositionDeletes(spark, table, out,
      col("N") <= 200 && col("V") === "p1")
    val d1 = liveDeleteFiles((metaAt(out, 3) \ "snapshots")
      .asInstanceOf[JArray].arr.last
      .\("manifest-list").asInstanceOf[JString].s)
    assert(d1.size === 1, "expected exactly the position-delete file live")
    // snapshot 3 (replace): compaction CONSUMES D1 — after this, D1 is
    // live only through expired-history reads
    val compacted = IcebergDeletes.compactWithDeletes(spark, table, out)
    // snapshot 4 (overwrite): upsert → equality-delete file D2, live in
    // the retained current snapshot
    SchemaTranslator.mergeUpsert(
      Seq((2L, "p0", 999), (101L, "p1", 1010)).toDF("K", "V", "N"),
      table, out, keyCols = Seq("K"))
    val d2 = liveDeleteFiles((metaAt(out, 5) \ "snapshots")
      .asInstanceOf[JArray].arr.last
      .\("manifest-list").asInstanceOf[JString].s)
    assert(d2.size === 1, "expected exactly the equality-delete file live")
    val firstSnapId = (metaAt(out, 2) \ "snapshots").asInstanceOf[JArray].arr.head
      .\("snapshot-id").asInstanceOf[JInt].num.toLong

    // retain (compaction, upsert); expire (append, delete)
    val (cur, deleted) = IcebergSnapshot.expireSnapshots(table, out, 2)
    assert(cur.operation === "overwrite")
    assert(deleted.nonEmpty)
    // D1 was consumed by the retained compaction → GC'd with its history
    for (f <- d1) assert(!java.nio.file.Files.exists(asLocal(f)), s"D1 kept: $f")
    // D2 is referenced live by the retained upsert snapshot → survives
    for (f <- d2) assert(java.nio.file.Files.exists(asLocal(f)), s"D2 GC'd: $f")
    // the pre-compaction small data files were live only in expired
    // snapshots → physically gone
    for (f <- origFiles) assert(!java.nio.file.Files.exists(asLocal(f)), f)

    // current state intact: 100 − 10 deleted + 1 inserted, K=2 updated
    val after = IcebergSnapshot.readSnapshot(spark, out, table)
    assert(after.count() === 91)
    val byK = after.select("K", "N").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byK(2L) === 999 && byK(101L) === 1010 && byK(4L) === 40)
    // time travel to the retained compaction still works (pre-upsert
    // state: 90 rows, K=2 at its original value)…
    val travel = IcebergSnapshot.readSnapshot(spark, out, table,
      Some(compacted.snapshotId))
    assert(travel.count() === 90)
    assert(travel.filter(col("K") === 2L).select("N").collect()
      .head.getInt(0) === 20)
    // …and the expired ids no longer resolve
    intercept[IllegalArgumentException] {
      IcebergSnapshot.readSnapshot(spark, out, table, Some(firstSnapId))
    }
    intercept[IllegalArgumentException] {
      IcebergSnapshot.readSnapshot(spark, out, table, Some(del.snapshotId))
    }
  }

  test("appendIncrement after an upsert and a delete carries the delete " +
      "totals forward") {
    import graft.sources.{IcebergInspect, IcebergSnapshot}
    import spark.implicits._
    val table = Db2Parser.parse(
      "CREATE TABLE S.TOTALS (K BIGINT NOT NULL, N INTEGER);").tables.head
    val out = java.nio.file.Files.createTempDirectory("iceberg_totals").toString
    SchemaTranslator.migrateTable(
      (1L to 10L).map(k => (k, k.toInt)).toDF("K", "N"), table, out)
    // three equality-delete keys, then one position delete
    SchemaTranslator.mergeUpsert(
      Seq((1L, 100), (2L, 200), (11L, 110)).toDF("K", "N"), table, out, Seq("K"))
    SchemaTranslator.deleteWhere(spark, table, out, col("K") === 5L)
    SchemaTranslator.appendIncrement(Seq((12L, 120)).toDF("K", "N"), table, out)
    val conf = spark.sparkContext.hadoopConfiguration
    val head = IcebergSnapshot.currentSnapshotId(out, conf).get
    val summary = IcebergInspect.snapshotsTable(spark, out)
      .filter(col("snapshot_id") === head).collect().head
      .getAs[Map[String, String]]("summary")
    assert(summary("operation") === "append")
    assert(Seq("total-delete-files", "total-position-deletes",
      "total-equality-deletes").map(summary) === Seq("2", "1", "3"))
    assert(IcebergSnapshot.readSnapshot(spark, out, table).count() === 11L)
    val version = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "version-hint.text")), "UTF-8").trim
    IcebergV2Validation.validateV2(org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        out, "metadata", s"v$version.metadata.json")), "UTF-8")),
      expectSnapshot = true)
  }
}
