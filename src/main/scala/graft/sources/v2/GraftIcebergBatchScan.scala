package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.model.TableDef
import graft.sources.{IcebergPruning, IcebergSnapshot}

/** STORAGE-PARTITIONED JOIN face: a native DSv2 `Batch` scan that
  * reports `KeyGroupedPartitioning` with one input partition per
  * partition-key tuple — so two aligned tables joined on the
  * partition key plan with ZERO shuffle on the table sides (Spark's
  * SPJ, `spark.sql.sources.v2.bucketing.enabled`). At 100 TB
  * fact-to-fact join scale this is the single biggest avoidable
  * exchange. Two layouts qualify:
  *
  *  - `bucket[N]` specs (with any other non-bucket transforms beside
  *    it): files group by the BUCKET ordinal, the reported key is
  *    `bucket(N, src)` — the fact-to-fact shape.
  *  - IDENTITY specs with no bucket (`identity(region)`,
  *    `days(ts) + identity(k)` — the most common Iceberg layouts):
  *    files group by the identity value tuple, the reported keys are
  *    the identity columns themselves.
  *
  * Identity partition values are DIRECTORY-ENCODED (absent from file
  * contents), so the scan re-injects them as per-file CONSTANTS from
  * manifest metadata — the reader already knows each file's partition
  * tuple — through `buildReaderWithPartitionValues`' partition-schema
  * surface, exactly how `FileSourceScanExec` serves Hive-style
  * partition columns. No row is ever read for them; an identity value
  * outside the supported constant types (string/integral/date/
  * boolean) falls back to the general scan.
  *
  * Scope gate ([[GraftSpj.tryBuild]]): one spec, at most one
  * `bucket[N]` field, no schema evolution, every live file under the
  * default spec with a full partition tuple. BOTH row-level delete
  * kinds are APPLIED IN-READER (below) — a CDC table maintained by
  * MERGE (position deletes) or by the streaming upsert sink (equality
  * deletes) keeps its SPJ between compactions; equality deletes are
  * size-gated (`graft.spj.max-eq-delete-rows`, default 1M keys — past
  * it the per-task key set would strain executor memory) and
  * floating-point-keyed ones fall back (byte equality diverges from
  * null-safe equality on -0.0/NaN). The gate only ever SKIPS an
  * optimization, never changes results. File pruning and the
  * ScanReport surface behave exactly like the V1 path.
  *
  * Execution borrows Spark's own parquet machinery
  * ([[ParquetFileFormat.buildReaderWithPartitionValues]], the
  * function behind every FileSourceScanExec) — including VECTORIZED
  * reading: a delete-free partition passes ColumnarBatches straight
  * through. A partition WITH deletes reads row-wise with NO parquet
  * filter pushdown (row-group skipping would break file positions),
  * counts file-absolute row positions and drops the (file, pos) pairs
  * its position delete files name (delete seq ≥ data seq), then
  * probes each row's key tuple against the equality delete sets of
  * STRICTLY newer sequence (delete seq > data seq; keys read into
  * per-task UnsafeRow hash sets, reading through a SUPERSET schema so
  * pruned-away key columns are still probeable) — the same
  * merge-on-read the general reader applies with anti-joins, here as
  * per-task hash filters. */
private[v2] object GraftSpj {

  private val BucketN = """bucket\[(\d+)\]""".r

  /** Catalyst internal form of a manifest partition value under the
    * column's declared Spark type — what partition-key rows and
    * injected per-file constants are made of. */
  private[v2] def toInternal(v: Any, dt: DataType): Any = v match {
    case null => null
    case _ => dt match {
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
      case LongType => v.asInstanceOf[Number].longValue
      case IntegerType | DateType => v.asInstanceOf[Number].intValue
      case ShortType => v.asInstanceOf[Number].shortValue
      case ByteType => v.asInstanceOf[Number].byteValue
      case BooleanType => v.asInstanceOf[Boolean]
      case other => throw new IllegalStateException(
        s"unsupported SPJ partition value type $other — the gate " +
          "should have fallen back")
    }
  }

  /** Manifest Avro surfaces reduced to plain JVM values that travel
    * safely inside an InputPartition (Utf8 → String). */
  private def raw(v: Option[Any]): Any = v match {
    case Some(cs: CharSequence) => cs.toString
    case Some(other) => other
    case None => null
  }

  private val ConstantTypes: Set[DataType] = Set(
    StringType, LongType, IntegerType, ShortType, ByteType, DateType,
    BooleanType)

  /** Build the key-grouped scan when the layout qualifies, else None. */
  def tryBuild(spark: SparkSession, path: String, tdef: TableDef,
      snapshotId: Option[Long], required: StructType,
      pushed: Array[Filter]): Option[Scan] = {
    // layout gate: ONE spec (legacy HASH shape or explicit spec 0 —
    // the loader presents catalog tables as the latter), no spec/
    // schema evolution (evolved tables read by field id through the
    // general path)
    if (tdef.partitionSpecs.size > 1 || tdef.priorSchemas.nonEmpty)
      return None
    val defaultSid = graft.sources.IcebergMetadata.defaultSpecIdOf(tdef)
    val colOfId = tdef.columns.zipWithIndex.map { case (c, i) =>
      c.fieldId.getOrElse(i + 1) -> c.name
    }.toMap
    val defs = graft.sources.IcebergMetadata.specFieldDefs(tdef, defaultSid)
    val declared = graft.api.SchemaTranslator.toSparkSchema(tdef)
    // at most one bucket field; identity fields are served as
    // per-file constants from manifest metadata (their values are
    // directory-encoded) — gated to the constant-injectable types
    val bucketIdx = defs.indexWhere(f => BucketN.findFirstIn(f.transform).isDefined)
    if (defs.count(f => BucketN.findFirstIn(f.transform).isDefined) > 1)
      return None
    val identityIdxs = defs.zipWithIndex
      .filter(_._1.transform == "identity").map(_._2)
    if (bucketIdx < 0 && identityIdxs.isEmpty) return None
    val identityColOf: Map[Int, String] =
      identityIdxs.map(i => i -> colOfId(defs(i).sourceId)).toMap
    if (!identityIdxs.forall { i =>
      declared.fields.find(_.name == identityColOf(i))
        .exists(f => ConstantTypes.contains(f.dataType))
    }) return None
    val dirEncoded =
      graft.sources.IcebergSnapshot.dirEncodedIdentityCols(tdef, defaultSid)

    val conf = spark.sparkContext.hadoopConfiguration
    val (_, listRows) =
      IcebergSnapshot.resolveSnapshot(path, tdef, snapshotId, conf)
    val deletes = IcebergSnapshot.liveDeleteFiles(listRows, conf)
    val (eqDels, posDels) = deletes.partition(_.content == 2)
    // equality deletes apply in-reader as per-task KEY SETS — the
    // streaming upsert sink's table shape keeps SPJ between
    // compactions. Size-gated: past `graft.spj.max-eq-delete-rows`
    // (default 1M keys) the per-task set would strain executor memory
    // — fall back to the general anti-join reader. Floating-point key
    // columns also fall back: the key probe compares UnsafeRow BYTES,
    // and -0.0/0.0 and NaN forms would diverge from the general
    // reader's null-safe-equality semantics.
    val eqIdSets: Seq[Seq[Int]] =
      eqDels.map(_.equalityIds).distinct.map(_.sorted)
    if (eqDels.nonEmpty) {
      val maxRows = spark.conf
        .get("graft.spj.max-eq-delete-rows", "1000000").toLong
      if (eqDels.map(_.recordCount).sum > maxRows) return None
      val nameOf = tdef.fieldIdOf.map(_.swap)
      // a key column must be PHYSICAL in data files — this engine's
      // upsert refuses dir-encoded identity keys, but a foreign
      // writer's file must fall back, not throw
      val ok = eqDels.forall(_.equalityIds.nonEmpty) &&
        eqDels.flatMap(_.equalityIds).distinct.forall(id =>
          nameOf.get(id).exists(n =>
            !dirEncoded.contains(n) &&
              declared.fields.find(_.name == n).exists(_.dataType match {
                case org.apache.spark.sql.types.FloatType |
                     org.apache.spark.sql.types.DoubleType => false
                case _ => true
              })))
      if (!ok) return None
    }
    val live = IcebergSnapshot.liveFilesWithSeq(listRows, tdef, conf)
    if (live.exists { case (f, _) =>
      f.specId != defaultSid || f.partitionValues.size != defs.size
    }) return None
    // the same stats/partition pruning + observable report the V1
    // path produces
    val bounds = GraftIcebergSource.translate(tdef, pushed.toSeq)
    val (kept, skipped) = live.partition { case (f, _) =>
      bounds.forall(b => IcebergPruning.fileMayMatch(tdef, f, b))
    }
    GraftIcebergScans.record(GraftIcebergScans.ScanReport(
      path, snapshotId, bounds, kept.map(_._1.path),
      skipped.map(_._1.path)))

    // grouping: the bucket ordinal when a bucket field exists (files
    // with different identity/temporal values share its group — their
    // constants ride per-file), else the identity value tuple
    val groupIdxs: Seq[Int] =
      if (bucketIdx >= 0) Seq(bucketIdx) else identityIdxs
    val keyExprs: Array[Transform] =
      if (bucketIdx >= 0) {
        val BucketN(n) = defs(bucketIdx).transform: @unchecked
        Array(Expressions.bucket(n.toInt, colOfId(defs(bucketIdx).sourceId)))
      } else
        identityIdxs.map(i =>
          Expressions.identity(identityColOf(i))).toArray
    val keyTypes: Array[DataType] =
      if (bucketIdx >= 0) Array(IntegerType)
      else identityIdxs.map(i =>
        declared(identityColOf(i)).dataType).toArray

    // dir-encoded identity columns the QUERY needs, injected as
    // per-file constants (spec order; pruned columns inject nothing)
    val injectIdxs: Seq[Int] = identityIdxs.filter(i =>
      dirEncoded.contains(identityColOf(i)) &&
        required.fieldNames.contains(identityColOf(i)))
    val partSchema = StructType(injectIdxs.map(i =>
      declared(identityColOf(i))))
    val dataRequired = StructType(required.fields.filterNot(f =>
      dirEncoded.contains(f.name)))
    // physical file schema: the declared schema minus dir-encoded cols
    val dataSchema = StructType(declared.fields.filterNot(f =>
      dirEncoded.contains(f.name)))
    // parquet pushdown only sees filters over physical columns (all
    // filters are re-evaluated post-scan as residuals, so dropping
    // one from pushdown is always safe)
    val physicalNames = dataSchema.fieldNames.toSet
    val pushable = pushed.filter(_.references.forall(physicalNames.contains))

    val groups = kept
      .groupBy(f => groupIdxs.map(i => f._1.partitionValues(i)))
      .toSeq.sortBy(_._1.toString())
    // delete scoping is an OPTIMIZATION only (each reader drops
    // entries naming none of its files): a tuple-scoped position
    // delete rides its group's partition; a global or foreign-shaped
    // tuple — and every equality delete (global by construction) —
    // rides every partition
    // comparison surface for scoping: data-file and delete-file
    // tuples come from DIFFERENT Avro reads (Utf8 vs String, int vs
    // long boxing) — normalize both sides, and keep the scoping
    // CONSERVATIVE (a wrongly-dropped delete file would silently
    // resurrect rows; a wrongly-kept one only costs the path filter)
    def cmp(v: Option[Any]): Any = v match {
      case Some(cs: CharSequence) => cs.toString
      case Some(n: Number) => n.longValue
      case Some(other) => other
      case None => null
    }
    def posFor(key: Seq[Option[Any]]) = posDels.filter { d =>
      val scoped = d.partitionValues.size == defs.size
      !scoped || groupIdxs.map(i => cmp(d.partitionValues(i))) == key.map(cmp)
    }.map(d => (d.path, d.sizeBytes, d.seq)).toArray
    val eqEntries = eqDels.map(d =>
      (d.path, d.sizeBytes, d.seq, eqIdSets.indexOf(d.equalityIds.sorted)))
      .toArray
    Some(new GraftIcebergBucketScan(spark, tdef, dataSchema, dataRequired,
      partSchema, pushable, keyExprs, eqIdSets,
      groups.map { case (key, fs) =>
        GraftBucketInputPartition(
          key.map(raw).toArray, keyTypes,
          fs.map { case (f, seq) =>
            (f.path, f.sizeBytes, seq,
              injectIdxs.map(i => raw(f.partitionValues(i))).toArray)
          }.toArray,
          posFor(key), eqEntries)
      }))
  }
}

private[v2] class GraftIcebergBucketScan(spark: SparkSession,
    tdef: TableDef, dataSchema: StructType, dataRequired: StructType,
    partSchema: StructType, pushed: Array[Filter],
    keyExprs: Array[Transform], eqIdSets: Seq[Seq[Int]],
    partitions: Seq[GraftBucketInputPartition])
    extends Scan with Batch with SupportsReportPartitioning {

  // data columns first, injected identity constants after — the order
  // buildReaderWithPartitionValues emits; Spark resolves the relation
  // output from this schema by name, so reordering vs the pruned
  // request is fine
  private val outSchema = StructType(dataRequired.fields ++ partSchema.fields)

  override def readSchema(): StructType = outSchema

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-iceberg key-grouped [${keyExprs.mkString(", ")}] " +
      s"groups=${partitions.size}"

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      keyExprs.map(identity[org.apache.spark.sql.connector.expressions.Expression]),
      partitions.size)

  override def planInputPartitions(): Array[InputPartition] =
    partitions.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val fmt = new ParquetFileFormat
    // vectorized when the session would vectorize a file scan of this
    // shape — the reader function then yields ColumnarBatches and the
    // factory passes them through columnar (FileSourceScanExec's own
    // contract); injected identity constants ride the partition-value
    // surface in both modes. Spark requires every input partition to
    // agree, and a delete-carrying partition reads rows, so one such
    // partition makes the whole scan row-wise
    val returningBatch = fmt.supportBatch(spark, outSchema) &&
      !partitions.exists(_.hasDeletes)
    val batchFunc = fmt.buildReaderWithPartitionValues(
      spark, dataSchema, partSchema, dataRequired,
      pushed.toIndexedSeq,
      // the format's own contract: the caller must declare whether it
      // will consume batches (FileSourceScanExec does the same)
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> returningBatch.toString),
      spark.sessionState.newHadoopConf())
    // equality-delete key surfaces: one key schema + reader per
    // distinct equality-id set, and a SUPERSET data read schema so the
    // delete row path can probe key columns the query itself pruned
    // away (survivors project back down to the output schema)
    val nameOf = tdef.fieldIdOf.map(_.swap)
    val keySchemas: Array[StructType] = eqIdSets.map(ids =>
      StructType(ids.map(id => dataSchema(nameOf(id))))).toArray
    val allKeyFields = eqIdSets.flatten.distinct.map(id =>
      dataSchema(nameOf(id)))
    val supersetData = StructType(dataRequired.fields ++
      allKeyFields.filterNot(f => dataRequired.fieldNames.contains(f.name)))
    // the row a delete-partition read yields: superset data columns,
    // then the injected identity constants
    val fullRow = StructType(supersetData.fields ++ partSchema.fields)
    // delete-partition data reads: row-wise, NO pushed filters —
    // parquet row-group/page skipping would desynchronize the counted
    // position from the file-absolute row index the delete files name
    // (Spark re-evaluates every filter post-scan regardless: pushFilters
    // returned them all as residuals)
    val rowFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, dataSchema, partSchema, supersetData, Nil,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    val posSchema = StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType)))
    def rowRead(schema: StructType) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, schema, new StructType(), schema, Nil,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    val posDeleteFunc = rowRead(posSchema)
    val eqDeleteFuncs = keySchemas.map(rowRead)
    new GraftBucketReaderFactory(batchFunc, rowFunc, posDeleteFunc,
      eqDeleteFuncs, fullRow, keySchemas,
      keySchemas.map(_.fieldNames.map(fullRow.fieldIndex)),
      outSchema.fieldNames.map(fullRow.fieldIndex),
      partSchema, returningBatch)
  }
}

/** One partition-key tuple's files (+ the delete files that can name
  * their rows); the partition KEY is the tuple the spec's grouped
  * transforms yield for every row in these files (the bucket ordinal,
  * or the identity value tuple), which is what lets Spark co-locate
  * equal tuples across tables. Values travel as plain JVM types and
  * convert to Catalyst internal on demand. Files ride as
  * (path, length, dataSequenceNumber, injected identity constants);
  * position deletes as (path, length, deleteSequenceNumber); equality
  * deletes additionally carry the index of their equality-id set in
  * the scan's registry. */
private[v2] case class GraftBucketInputPartition(
    keyRaw: Array[Any], keyTypes: Array[DataType],
    files: Array[(String, Long, Long, Array[Any])],
    posDeletes: Array[(String, Long, Long)],
    eqDeletes: Array[(String, Long, Long, Int)]) extends InputPartition
    with HasPartitionKey {
  def hasDeletes: Boolean = posDeletes.nonEmpty || eqDeletes.nonEmpty

  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyRaw.zip(keyTypes).map {
      case (v, t) => GraftSpj.toInternal(v, t)
    })
}

private[v2] class GraftBucketReaderFactory(
    batchFunc: PartitionedFile => Iterator[InternalRow],
    rowFunc: PartitionedFile => Iterator[InternalRow],
    posDeleteFunc: PartitionedFile => Iterator[InternalRow],
    eqDeleteFuncs: Array[PartitionedFile => Iterator[InternalRow]],
    fullRow: StructType, keySchemas: Array[StructType],
    keyOrdinals: Array[Array[Int]], requiredOrdinals: Array[Int],
    partSchema: StructType,
    returningBatch: Boolean) extends PartitionReaderFactory {

  private def pf(path: String, len: Long,
      partVals: Array[Any]): PartitionedFile =
    new PartitionedFile(
      new GenericInternalRow(partVals.zip(partSchema.fields).map {
        case (v, f) => GraftSpj.toInternal(v, f.dataType)
      }),
      SparkPath.fromPath(new Path(path)), 0, len, Array.empty,
      0L, len, Map.empty)

  private def reader[T](it: Iterator[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private var current: T = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): T = current
      override def close(): Unit = ()
    }

  // a delete-carrying partition comes back as rows (the position
  // counter / key probe walk them one by one); a scan without any
  // keeps the vectorized batch hand-off
  override def supportColumnarReads(p: InputPartition): Boolean =
    returningBatch

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
    val part = p.asInstanceOf[GraftBucketInputPartition]
    if (!part.hasDeletes)
      return reader(part.files.iterator.flatMap {
        case (path, len, _, pv) => batchFunc(pf(path, len, pv))
      })
    // load this partition's POSITION delete entries ONCE per task:
    // (normalized target path, position, delete sequence); memory is
    // bounded by the partition's own deletes, the same per-task
    // locality real Iceberg readers rely on
    val posEntries = part.posDeletes.iterator.flatMap { case (dp, dlen, dseq) =>
      posDeleteFunc(pf(dp, dlen, Array.empty)).map(r =>
        (IcebergSnapshot.normKey(r.getUTF8String(0).toString), r.getLong(1), dseq))
    }.toArray
    val posByPath = posEntries.groupBy(_._1)
    // EQUALITY delete keys: per id-set, per delete-sequence, a hash
    // set of UnsafeRow keys (byte equality == null-safe equality for
    // the gated non-floating key types). Size-gated at plan time.
    val eqData: Map[Int, Array[(Long, java.util.HashSet[UnsafeRow])]] =
      part.eqDeletes.groupBy(_._4).map { case (idx, entries) =>
        val normalize = UnsafeProjection.create(
          keySchemas(idx).fields.zipWithIndex.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable)
          }.toIndexedSeq)
        idx -> entries.groupBy(_._3).toSeq.sortBy(_._1).map {
          case (dseq, es) =>
            val set = new java.util.HashSet[UnsafeRow]()
            es.foreach { case (p0, len0, _, _) =>
              eqDeleteFuncs(idx)(pf(p0, len0, Array.empty)).foreach { r =>
                set.add(normalize(r).copy()); ()
              }
            }
            (dseq, set)
        }.toArray
      }
    val keyProjs = keyOrdinals.map(ords => UnsafeProjection.create(
      ords.map(i => BoundReference(i, fullRow(i).dataType,
        fullRow(i).nullable): org.apache.spark.sql.catalyst.expressions.Expression).toIndexedSeq))
    val identityOut = requiredOrdinals.sameElements(fullRow.indices) &&
      requiredOrdinals.length == fullRow.length
    val outProj = UnsafeProjection.create(
      requiredOrdinals.map(i => BoundReference(i, fullRow(i).dataType,
        fullRow(i).nullable): org.apache.spark.sql.catalyst.expressions.Expression).toIndexedSeq)
    val it = part.files.iterator.flatMap { case (path, len, fseq, pv) =>
      // spec sequence rules: a position delete applies to data files
      // with dataSeq ≤ deleteSeq; an equality delete to STRICTLY older
      // files (dataSeq < deleteSeq)
      val dead = new java.util.HashSet[java.lang.Long]()
      posByPath.getOrElse(IcebergSnapshot.normKey(path), Array.empty)
        .foreach { case (_, pos, dseq) =>
          if (dseq >= fseq) { dead.add(pos); () }
        }
      val eqApplicable: Seq[(Int, Array[java.util.HashSet[UnsafeRow]])] =
        eqData.toSeq.map { case (idx, bySeq) =>
          idx -> bySeq.collect { case (dseq, set) if dseq > fseq => set }
        }.filter(_._2.nonEmpty)
      val base = rowFunc(pf(path, len, pv))
      val positioned =
        if (dead.isEmpty) base
        else {
          // file-absolute row position (Long — files can exceed 2^31
          // rows); rows arrive in file order because rowFunc reads the
          // whole file as one split with no pushdown
          var pos = -1L
          base.filter { _ => pos += 1; !dead.contains(pos) }
        }
      val surviving =
        if (eqApplicable.isEmpty) positioned
        else positioned.filter { row =>
          !eqApplicable.exists { case (idx, sets) =>
            val key = keyProjs(idx)(row)
            sets.exists(_.contains(key))
          }
        }
      if (identityOut) surviving else surviving.map(outProj)
    }
    reader(it)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val part = p.asInstanceOf[GraftBucketInputPartition]
    reader(part.files.iterator.flatMap { case (path, len, _, pv) =>
      batchFunc(pf(path, len, pv))
    }.asInstanceOf[Iterator[ColumnarBatch]])
  }
}
