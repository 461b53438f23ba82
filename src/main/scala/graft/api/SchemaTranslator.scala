package graft.api

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.mapping.TypeMapper
import graft.model.TableDef

/** Translates parsed DB2 table definitions into Spark schemas and wires
  * the migration data path (the project north-star: read the source
  * system over JDBC with the translated schema, write Iceberg/Parquet).
  *
  * The type bridge goes DB2 type → Iceberg type (via
  * [[graft.mapping.TypeMapper]], the reference ruleset) → Spark
  * `DataType`, so the DataFrame written out has exactly the shape the
  * converted `CREATE ICEBERG TABLE` declares.
  */
object SchemaTranslator {

  private val NumberPattern = Pattern.compile("""NUMBER\((\d+),(\d+)\)""")

  /** Iceberg target-type string → Spark DataType. */
  def icebergToSpark(target: String): DataType = target match {
    case "INTEGER" => IntegerType
    case "BIGINT" => LongType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "STRING" => StringType
    case "BINARY" => BinaryType
    case "DATE" => DateType
    case "BOOLEAN" => BooleanType
    case "TIME(6)" => TimeType(6)
    case "TIMESTAMP_NTZ(6)" => TimestampNTZType
    case t if t.startsWith("TIMESTAMP_LTZ") => TimestampType
    case t =>
      val m = NumberPattern.matcher(t)
      if (m.matches()) DecimalType(m.group(1).toInt, m.group(2).toInt)
      else StringType // unknown targets degrade to STRING, like the ruleset
  }

  /** Spark schema for one parsed table (nullability preserved). Every
    * field carries its Iceberg field id as `parquet.field.id` metadata
    * — Spark's parquet writer embeds it in the files (its field-id
    * write conf defaults on), which is what lets evolved-table reads
    * resolve renamed columns BY ID across files written under
    * different schema versions, exactly like a real Iceberg reader. */
  def toSparkSchema(table: TableDef): StructType = {
    val ids = table.fieldIdOf
    StructType(table.columns.map { c =>
      val mapping = TypeMapper.mapType(c.dataType, c.length, c.precision,
        c.scale, c.forBitData, c.ccsid)
      StructField(c.name, icebergToSpark(mapping.targetType),
        nullable = c.nullable,
        metadata = new MetadataBuilder()
          .putLong("parquet.field.id", ids(c.name).toLong).build())
    })
  }

  /** Migration read: source table over JDBC with partitioned scan.
    * (DB2 driver/URL supplied by the deployment; per-partition bounds
    * keep the source read parallel at cluster scale.) */
  def readJdbc(spark: SparkSession, url: String, table: TableDef,
      partitionColumn: Option[String] = None, numPartitions: Int = 32,
      lowerBound: Long = 0L, upperBound: Long = Long.MaxValue): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table.fullName)
    val withParts = partitionColumn.fold(base) { pc =>
      base.option("partitionColumn", pc)
        .option("numPartitions", numPartitions)
        .option("lowerBound", lowerBound)
        .option("upperBound", upperBound)
    }
    withParts.load()
  }

  /** Migration write: cast the incoming frame to the translated schema
    * and write it table-format-first ("iceberg" where the runtime is
    * present; parquet otherwise), partitioned by the DDL's declared
    * layout: RANGE columns directly (identity transform), HASH
    * columns through the spec-correct Iceberg `bucket[16]` transform
    * (`<col>_bucket` directories carrying the murmur3 bucket value a
    * real Iceberg writer computes — see
    * [[graft.functions.IcebergBucket]]), so the snapshot commit can
    * record true per-file partition values for both transforms. The
    * bucket column is directory-encoded only; the source column stays
    * in the data files, as Iceberg's non-invertible transforms
    * require. */
  def writeMigrated(df: DataFrame, table: TableDef, path: String,
      format: String = "parquet", mode: String = "overwrite"): Unit = {
    val schema = toSparkSchema(table)
    // field ids must reach the parquet footers (the .as overload WITH
    // metadata — a bare alias would strip them), and the writer conf
    // must be on (it defaults on; a session that turned it off fails
    // here, before any file is written)
    graft.sources.IcebergSnapshot.requireFieldIdWrite(df.sparkSession)
    val casted = df.select(schema.fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
        .as(f.name, f.metadata)): _*)
    // bucket only the spec's valid bucket sources (int/long/date/
    // timestamp/decimal/string); a key of any other type (float,
    // boolean, binary — also invalid per the spec) degrades to an
    // unbucketed write rather than failing the whole migration
    def bucketable(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | DateType | TimestampType |
          TimestampNTZType | StringType | _: DecimalType => true
      case _ => false
    }
    val (toWrite, partCols) =
      if (table.partitionSpecs.nonEmpty) {
        // evolved default spec: new files are laid out by ITS fields —
        // identity fields whose name matches the source column are
        // directory-encoded; bucket fields materialize the transform
        val colOfId = table.columns.zipWithIndex.map { case (c, i) =>
          c.fieldId.getOrElse(i + 1) -> c.name
        }.toMap
        val defs = graft.sources.IcebergMetadata.specFieldDefs(
          table, graft.sources.IcebergMetadata.defaultSpecIdOf(table))
        val (acc, cols) = defs.foldLeft((casted, Seq.empty[String])) {
          case ((d, cs), f) =>
            val src = colOfId(f.sourceId)
            if (f.transform != "identity")
              // bucket / temporal / truncate: the transform value is
              // directory-encoded only; the source column stays
              // physical in the files. One dispatcher shared with the
              // spec-migrating compaction so writers can never drift.
              (d.withColumn(f.name, graft.functions.IcebergTransform
                .specColumn(f.transform,
                  org.apache.spark.sql.functions.col(src))), cs :+ f.name)
            else if (f.name == src) (d, cs :+ f.name)
            else // renamed identity field: dir under the FIELD name,
              // source column stays physical in the file
              (d.withColumn(f.name,
                org.apache.spark.sql.functions.col(src)), cs :+ f.name)
        }
        (acc, cols)
      } else table.partition match {
        case Some(p) if p.ptype == "RANGE" && p.columns.nonEmpty =>
          (casted, p.columns)
        case Some(p) if p.ptype == "HASH" && p.columns.nonEmpty =>
          val cols = p.columns.filter(c =>
            schema.fields.exists(f => f.name == c && bucketable(f.dataType)))
          val withBuckets = cols.foldLeft(casted) { (d, c) =>
            d.withColumn(s"${c}_bucket", graft.functions.IcebergBucket(
              org.apache.spark.sql.functions.col(c), 16))
          }
          (withBuckets, cols.map(c => s"${c}_bucket"))
        case _ => (casted, Nil)
      }
    // honor the declared sort order (DISTRIBUTE BY HASH → CLUSTER BY →
    // Iceberg default sort order): sort within tasks by (partition
    // cols, sort cols) so the files actually carry the order the
    // metadata declares — no global sort, no extra shuffle; satisfying
    // the writer's required ordering up front also spares its own
    // partition-column sort
    val sortCols = table.distributeByHash.toSeq.filter(schema.fieldNames.contains)
    val ordered =
      if (sortCols.isEmpty) toWrite
      else toWrite.sortWithinPartitions(
        (partCols ++ sortCols).map(org.apache.spark.sql.functions.col): _*)
    val writer = ordered.write.format(format).mode(mode)
    val partitioned =
      if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*)
    partitioned.save(path)
  }

  /** Delta load after [[migrateTable]]: append `df`'s rows into the
    * same layout and commit them as the NEXT snapshot (sequence N+1,
    * parent-linked, prior manifests re-listed) — the CDC-sync shape:
    * one initial migration, then periodic increments, each an atomic
    * Iceberg snapshot a reader can time-travel across. */
  def appendIncrement(df: DataFrame, table: TableDef, path: String,
      format: String = "parquet", timestampMs: Long = System.currentTimeMillis()): Unit = {
    writeMigrated(df, table, s"$path/data", format, mode = "append")
    // the RETRYABLE unit is the commit, not the data write: the data
    // files are already on disk, and commitAppendIncrement re-reads
    // the chain each attempt and claims whatever is still unknown —
    // so losing a version race to a concurrent committer re-claims the
    // same files against the new head (or no-ops if the winner already
    // claimed them), never re-writing (and thus never duplicating) rows
    graft.sources.IcebergSnapshot.withCommitRetry() {
      graft.sources.IcebergSnapshot.commitAppendIncrement(
        table, path, df.sparkSession.sparkContext.hadoopConfiguration,
        timestampMs = timestampMs)
    }
    ()
  }

  /** Write-audit-publish staging: land `df` as an append on an audit
    * branch — readers of main see nothing until [[publishBranch]]
    * fast-forwards it (or the branch is abandoned via
    * [[graft.sources.IcebergSnapshot.dropRef]] + expiry). The daily
    * curation-batch shape: stage, gate on
    * [[graft.sources.IcebergSnapshot.readSnapshotAtRef]], publish. */
  def stageAppendToBranch(df: DataFrame, table: TableDef, path: String,
      branch: String, format: String = "parquet"): Unit = {
    writeMigrated(df, table, s"$path/data", format, mode = "append")
    graft.sources.IcebergWap.commitAppendToBranch(table, path, branch,
      df.sparkSession.sparkContext.hadoopConfiguration)
    ()
  }

  /** Publish a staged audit branch: fast-forward main to its head
    * (refuses if main advanced past the fork). */
  def publishBranch(spark: SparkSession, table: TableDef, path: String,
      branch: String): Unit = {
    graft.sources.IcebergWap.fastForwardMain(table, path, branch,
      spark.sparkContext.hadoopConfiguration)
    ()
  }

  /** Re-apply a diverged staged branch's appends onto the current
    * main head (the constructive alternative to abandoning after a
    * refused publish; refuses non-append segments). */
  def cherryPickBranch(spark: SparkSession, table: TableDef, path: String,
      branch: String): Unit = {
    graft.sources.IcebergWap.cherryPickAppend(table, path, branch,
      spark.sparkContext.hadoopConfiguration)
    ()
  }

  /** Roll main back to a retained ancestor snapshot (bad-publish
    * recovery; refuses non-ancestors). */
  def rollbackMain(spark: SparkSession, table: TableDef, path: String,
      snapshotId: Long): Unit = {
    graft.sources.IcebergWap.rollbackMain(table, path, snapshotId,
      spark.sparkContext.hadoopConfiguration)
    ()
  }

  /** Sweep unreferenced files older than `olderThanMs` (crashed
    * commit attempts, abandoned-stage leftovers); returns the deleted
    * paths. See [[graft.sources.IcebergMaintenance.removeOrphanFiles]]
    * for the safety contract. */
  def removeOrphanFiles(spark: SparkSession, path: String,
      olderThanMs: Long): Seq[String] =
    graft.sources.IcebergMaintenance.removeOrphanFiles(path, olderThanMs,
      spark.sparkContext.hadoopConfiguration)

  /** Row-level DELETE on a migrated table: commit an Iceberg v2
    * DELETE snapshot of position delete files covering every current
    * row matching `predicate` (merge-on-read — data files are
    * untouched; [[graft.sources.IcebergSnapshot.readSnapshot]] and any
    * real Iceberg reader apply the deletes; history still
    * time-travels). */
  def deleteWhere(spark: SparkSession, table: TableDef, path: String,
      predicate: org.apache.spark.sql.Column,
      pruning: Seq[graft.sources.IcebergPruning.ColumnBound] = Nil): Unit = {
    graft.sources.IcebergDeletes.commitPositionDeletes(spark, table, path,
      predicate, pruning = pruning)
    ()
  }

  /** CDC upsert on a migrated table: append `updates`' rows as new
    * data files and kill every OLDER row sharing their `keyCols` via
    * one global equality delete file — a single atomic OVERWRITE
    * snapshot (the Flink-CDC merge-on-read shape). Pairs with
    * [[graft.operators.Cdc.compactLatest]]: compact a change batch to
    * latest-wins rows, then `mergeUpsert` them into the table. */
  def mergeUpsert(updates: DataFrame, table: TableDef, path: String,
      keyCols: Seq[String], format: String = "parquet"): Unit = {
    val schema = toSparkSchema(table)
    writeMigrated(updates, table, s"$path/data", format, mode = "append")
    val keys = updates.select(keyCols.map(k =>
      org.apache.spark.sql.functions.col(k)
        .cast(schema(k).dataType).as(k)): _*)
    graft.sources.IcebergDeletes.commitUpsert(
      updates.sparkSession, table, path, keys)
    ()
  }

  /** Full table migration in the HadoopTables directory layout: data
    * files under `<path>/data` (distributed write, RANGE-partitioned
    * when declared), CREATE-state metadata (`v1.metadata.json`), then a
    * committed append snapshot (`v2.metadata.json` + manifest list +
    * manifest over the written files) so an Iceberg runtime pointed at
    * `path` sees a valid table AND its rows — without the snapshot
    * chain the migrated data would be invisible (an empty-table read).
    * Only the data write runs as a Spark job; metadata + commit are
    * driver-side O(columns + files), the same shape as a real Iceberg
    * commit. The Hive-style partition directories the write produces
    * are irrelevant to Iceberg readers — manifests record absolute
    * file paths and per-file partition values. */
  def migrateTable(df: DataFrame, table: TableDef, path: String,
      format: String = "parquet", timestampMs: Long = System.currentTimeMillis()): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val metadataDir = new org.apache.hadoop.fs.Path(path, "metadata")
    val mfs = org.apache.hadoop.fs.FileSystem.get(metadataDir.toUri, conf)
    val hint = new org.apache.hadoop.fs.Path(metadataDir, "version-hint.text")
    val stored: Option[TableDef] =
      if (mfs.exists(hint))
        Some(graft.sources.IcebergTableLoader.load(path, conf))
      else None
    def sameShape(a: TableDef, b: TableDef): Boolean =
      toSparkSchema(a) == toSparkSchema(b) &&
        a.partition == b.partition && a.partitionSpecs == b.partitionSpecs
    stored match {
      case Some(cur) if sameShape(cur, table) &&
          graft.sources.IcebergSnapshot.currentSnapshotId(path, conf).isDefined =>
        // INSERT OVERWRITE on an existing table: ONE atomic OVERWRITE
        // snapshot on the existing version ladder (new files ADDED,
        // prior live files DELETED) — history, tags and branches
        // survive and earlier snapshots still time-travel, exactly the
        // snapshot a real Iceberg runtime commits. The STORED TableDef
        // drives the write (it carries the committed field ids /
        // schema id / spec history). The commit is the retry unit: a
        // lost version race re-reads the new head; the staged files
        // are re-claimed against it (never re-written).
        writeMigrated(df, cur, s"$path/data", format, mode = "append")
        graft.sources.IcebergSnapshot.withCommitRetry() {
          graft.sources.IcebergSnapshot.commitOverwriteAll(cur, path, conf,
            timestampMs)
        }
        ()
      case Some(cur) =>
        // a DIFFERENT schema/layout at an existing path is a DROP +
        // CREATE, not an overwrite snapshot — the new generation
        // restarts the version ladder, so the old one's documents must
        // go (stale v3+ slots would brick every subsequent commit with
        // an eternal CommitConflictException). Refuse while named refs
        // exist: tags/branches dying silently with the history is the
        // one thing a replacement must not do quietly.
        require(graft.sources.IcebergSnapshot.listRefs(path, conf).isEmpty,
          s"overwrite with a different schema/layout at $path would " +
            "destroy named tags/branches — drop the refs first " +
            "(ALTER TABLE ... DROP BRANCH/TAG) or use a new path")
        writeMigrated(df, table, s"$path/data", format)
        mfs.delete(metadataDir, true)
        graft.sources.IcebergSnapshot.invalidateHeadCache(path, conf)
        graft.sources.IcebergMetadata.writeTableMetadata(table, path, conf)
        graft.sources.IcebergSnapshot.commitAppend(table, path, conf,
          timestampMs = timestampMs)
        ()
      case None =>
        writeMigrated(df, table, s"$path/data", format)
        graft.sources.IcebergMetadata.writeTableMetadata(table, path, conf)
        graft.sources.IcebergSnapshot.commitAppend(table, path, conf,
          timestampMs = timestampMs)
        ()
    }
  }
}
