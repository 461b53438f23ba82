package graft.sources

import org.apache.hadoop.conf.Configuration

import graft.model.{Db2Column, TableDef}

/** Iceberg v2 schema evolution — add / rename / drop column with
  * id-based correctness, per the published table spec's rules:
  *
  *   - field ids are assigned once and NEVER reused (`last-column-id`
  *     is monotonic across the table's life);
  *   - every schema version the table has ever had stays listed in
  *     `schemas`, with `current-schema-id` naming the live one and
  *     each snapshot recording the schema it committed under;
  *   - added columns must be optional (rows in existing files have no
  *     value for them — readers null-fill);
  *   - a rename keeps the field id, which is why files written before
  *     the rename still resolve: data files carry the id in their
  *     parquet footers ([[graft.api.SchemaTranslator.toSparkSchema]])
  *     and [[IcebergSnapshot.readSnapshot]] reads evolved tables
  *     by id, exactly like a real Iceberg reader;
  *   - partition-source and sort-order columns can't be renamed or
  *     dropped (the spec ties specs/orders to source ids; refusing is
  *     the conservative subset every engine supports).
  *
  * The ops are pure `TableDef → TableDef`; [[commitEvolution]] writes
  * the new metadata version (same snapshot chain — evolution commits
  * no data). Subsequent appends/deletes/compactions must be called
  * with the EVOLVED TableDef, which carries the whole schema history
  * forward (the metadata document is regenerated from it on every
  * commit). */
object IcebergEvolution {

  /** Pin every column's field id explicitly (positional i+1 for a
    * never-evolved table) and seed `lastColumnId` — the state every
    * evolution op starts from. Idempotent. */
  def withExplicitIds(table: TableDef): TableDef = {
    val cols = table.columns.zipWithIndex.map { case (c, i) =>
      if (c.fieldId.isDefined) c else c.copy(fieldId = Some(i + 1))
    }
    val maxId = (cols.flatMap(_.fieldId) ++ table.lastColumnId.toSeq)
      .foldLeft(0)(math.max)
    table.copy(columns = cols, lastColumnId = Some(maxId))
  }

  /** The evolution step shared by every op: archive the current
    * schema, bump the schema id, install the new column list. */
  private def evolved(table: TableDef, newCols: Seq[Db2Column],
      newLastId: Int): TableDef = {
    val base = withExplicitIds(table)
    base.copy(columns = newCols,
      schemaId = base.schemaId + 1,
      lastColumnId = Some(newLastId),
      priorSchemas = base.priorSchemas :+ (base.schemaId -> base.columns))
  }

  private def protectedCols(table: TableDef): Set[String] = {
    // once specs have evolved, the source columns of EVERY spec stay
    // protected — old data files still resolve partition values
    // against their original spec's sources
    val nameOfId = table.columns.zipWithIndex.map { case (c, i) =>
      c.fieldId.getOrElse(i + 1) -> c.name
    }.toMap
    table.partition.toSeq.flatMap(_.columns).toSet ++
      table.partitionSpecs.flatMap(_._2).flatMap(f =>
        nameOfId.get(f.sourceId)).toSet ++
      table.distributeByHash.toSet
  }

  /** ADD COLUMN: assigns the next field id; the column must be
    * nullable (spec: rows in existing files null-fill). */
  def addColumn(table: TableDef, column: Db2Column): TableDef = {
    require(column.nullable, "added columns must be nullable (Iceberg spec)")
    require(!table.columns.exists(_.name == column.name),
      s"column ${column.name} already exists")
    val base = withExplicitIds(table)
    val newId = base.lastColumnId.get + 1
    evolved(base, base.columns :+ column.copy(fieldId = Some(newId)), newId)
  }

  /** RENAME COLUMN: the field id is retained, so files written under
    * the old name keep resolving by id. Constraint references follow
    * the rename. */
  def renameColumn(table: TableDef, from: String, to: String): TableDef = {
    require(table.columns.exists(_.name == from), s"no column $from")
    require(!table.columns.exists(_.name == to), s"column $to already exists")
    require(!protectedCols(table).contains(from),
      s"$from is a partition/sort source column; rename is not supported")
    val base = withExplicitIds(table)
    val renamed = base.copy(constraints = base.constraints.map(k =>
      k.copy(columns = k.columns.map(c => if (c == from) to else c))))
    evolved(renamed,
      base.columns.map(c => if (c.name == from) c.copy(name = to) else c),
      base.lastColumnId.get)
  }

  /** DROP COLUMN: the id disappears from the current schema but stays
    * burned (never reused); old snapshots' manifests still reference
    * it harmlessly. Constrained and partition/sort columns refuse. */
  def dropColumn(table: TableDef, name: String): TableDef = {
    require(table.columns.exists(_.name == name), s"no column $name")
    require(table.columns.size > 1, "cannot drop the last column")
    require(!protectedCols(table).contains(name),
      s"$name is a partition/sort source column; drop is not supported")
    require(!table.constraints.exists(_.columns.contains(name)),
      s"$name is referenced by a constraint; drop the constraint first")
    val base = withExplicitIds(table)
    evolved(base, base.columns.filterNot(_.name == name),
      base.lastColumnId.get)
  }

  /** The iceberg type of a column under the reference type ruleset. */
  private def icebergTypeOf(c: Db2Column): String = {
    val m = graft.mapping.TypeMapper.mapType(c.dataType, c.length,
      c.precision, c.scale, c.forBitData, c.ccsid)
    IcebergMetadata.icebergType(m.targetType)
  }

  private val DecimalType = """decimal\((\d+),(\d+)\)""".r

  /** TYPE PROMOTION (widen): the v2 spec's legal set — int → long,
    * float → double, decimal(P,S) → decimal(P',S) with P' > P. The
    * field id is retained; existing files read through Spark's
    * widened parquet read (int32 pages under a long read schema etc.
    * — verified supported by this Spark line), so no data rewrites.
    * Any other type change refuses: narrowing or cross-family changes
    * would corrupt existing files' values. */
  def promoteColumn(table: TableDef, name: String, toDb2Type: String,
      precision: Option[Int] = None, scale: Option[Int] = None): TableDef = {
    val cur = table.columns.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    val next = cur.copy(dataType = toDb2Type, precision = precision,
      scale = scale, length = None)
    val (from, to) = (icebergTypeOf(cur), icebergTypeOf(next))
    val legal = (from, to) match {
      case ("int", "long") | ("float", "double") => true
      case (DecimalType(p1, s1), DecimalType(p2, s2)) =>
        s1 == s2 && p2.toInt > p1.toInt
      case _ => false
    }
    require(legal, s"illegal promotion $from -> $to for $name " +
      "(v2 allows int->long, float->double, decimal precision widening)")
    // spec-legal on partition sources in principle (bucket hashes int
    // as long), but historical directory values and transform results
    // are easiest kept single-typed — same conservative subset as
    // rename/drop
    require(!protectedCols(table).contains(name),
      s"$name is a partition/sort source column; promotion is not supported")
    val base = withExplicitIds(table)
    evolved(base,
      base.columns.map(c => if (c.name == name)
        next.copy(fieldId = c.fieldId) else c),
      base.lastColumnId.get)
  }

  // --------------------------------------- partition-spec evolution
  //
  // The v2 spec's second evolution axis: a table's partition layout
  // can change WITHOUT rewriting data. Every spec the table ever had
  // stays listed in `partition-specs`; `default-spec-id` names the one
  // new files are written under; old files keep their original spec
  // and readers plan across specs (IcebergSnapshot groups every scan
  // by the manifest's spec). Partition FIELD ids are monotonic
  // (`last-partition-id`) and a re-added (source, transform) pair
  // reuses its original field id, per the spec's field-id rules.
  // Evolved spec ids start at 2: id 0 is the original spec, id 1 the
  // reserved unpartitioned (global-delete) spec.

  /** Materialize the implicit spec 0 into explicit evolution state —
    * the step every spec op starts from. Idempotent. */
  def withExplicitSpecs(table: TableDef): TableDef = {
    val base = withExplicitIds(table)
    if (base.partitionSpecs.nonEmpty) base
    else {
      val spec0 = IcebergMetadata.derivedSpec0(base)
      base.copy(
        partitionSpecs = Seq(0 -> spec0),
        defaultSpecId = 0,
        lastPartitionId = Some(
          (999 +: spec0.map(_.fieldId)).max))
    }
  }

  private def nextSpecId(table: TableDef): Int =
    (IcebergSnapshot.UnpartitionedSpecId +: table.partitionSpecs.map(_._1)).max + 1

  private def installSpec(table: TableDef,
      fields: Seq[graft.model.IcebergPartitionField]): TableDef = {
    val id = nextSpecId(table)
    table.copy(
      partitionSpecs = table.partitionSpecs :+ (id -> fields),
      defaultSpecId = id,
      lastPartitionId = Some(
        (table.lastPartitionId.getOrElse(999) +: fields.map(_.fieldId)).max))
  }

  private def defaultSpecFields(table: TableDef): Seq[graft.model.IcebergPartitionField] =
    IcebergMetadata.specFieldDefs(table, table.defaultSpecId)

  /** CREATE-time partition spec: install `transform(sourceCol)` fields
    * as ONE explicit spec 0 — the shape `PARTITIONED BY (day(ts),
    * bucket(16, k))` declares, without burning a spec id per field the
    * way chained [[addPartitionField]] evolutions would on a table
    * that has never had data. The table must be unpartitioned and
    * never evolved (evolving tables go through addPartitionField so
    * old files keep their spec). */
  def initialSpec(table: TableDef,
      fields: Seq[(String, String)]): TableDef = {
    require(table.partition.isEmpty && table.partitionSpecs.isEmpty,
      s"${table.fullName} already has a partition spec — evolve it " +
        "with addPartitionField instead")
    require(fields.nonEmpty, "initialSpec: no partition fields given")
    val base = withExplicitIds(table)
    var fid = 999
    val defs = fields.map { case (srcName, transform) =>
      val src = base.columns.find(_.name == srcName).getOrElse(
        throw new IllegalArgumentException(s"no column $srcName"))
      fid += 1
      graft.model.IcebergPartitionField(
        validatedFieldName(src, transform), transform, src.fieldId.get, fid)
    }
    require(defs.map(_.name).distinct.size == defs.size,
      s"duplicate partition field names: ${defs.map(_.name).mkString(", ")}")
    defs.filter(_.transform != "identity").foreach(d =>
      requireNoColumnCollision(base, d.name, d.transform))
    require(defs.map(d => (d.sourceId, d.transform)).distinct.size == defs.size,
      "duplicate (source, transform) partition fields")
    base.copy(partitionSpecs = Seq(0 -> defs), defaultSpecId = 0,
      lastPartitionId = Some(fid))
  }

  private val BucketN = """bucket\[(\d+)\]""".r
  private val TruncateW = """truncate\[(\d+)\]""".r

  /** A TRANSFORM partition field's generated name (`<col>_day`,
    * `<col>_bucket`, …) must not shadow a real schema column: the
    * migration writer directory-encodes partition fields with
    * `withColumn(name, transform(src))`, which would silently REPLACE
    * a data column of that name and then drop it from the data files —
    * silent data loss. Real Iceberg spec builders refuse the same
    * conflict (identity fields are exempt: their name IS the source
    * column, by design). */
  private def requireNoColumnCollision(table: TableDef, fieldName: String,
      transform: String): Unit =
    // case-insensitive: the SQL catalog's CREATE path preserves the
    // user's column case, and Spark resolves case-insensitively
    require(!table.columns.exists(_.name.equalsIgnoreCase(fieldName)),
      s"partition field $fieldName ($transform) collides with schema " +
        s"column $fieldName of ${table.fullName}: the generated " +
        "partition field name would shadow (and drop) the data column " +
        "— rename the column or partition by a different source")

  /** Validate `transform(sourceCol)` against the v2 spec's legal
    * source types and return the conventional FIELD NAME (`<col>` for
    * identity, `<col>_bucket`, `<col>_day`, `<col>_trunc`, … —
    * matching what real Iceberg spec builders name them and what the
    * migration writer directory-encodes). Shared by evolution and the
    * catalog's CREATE surface so both refuse the same shapes. */
  private[sources] def validatedFieldName(src: Db2Column,
      transform: String): String = {
    lazy val itype = icebergTypeOf(src)
    transform match {
      case "identity" => src.name
      case BucketN(n) =>
        require(n.toInt > 0, s"bucket[$n]: bucket count must be positive")
        // the v2 spec's legal bucket sources (float/double/boolean/
        // binary are invalid) — same set the migration writer enforces
        val ok = itype match {
          case "int" | "long" | "date" | "string" => true
          case t if t.startsWith("decimal") || t.startsWith("timestamp") => true
          case _ => false
        }
        require(ok, s"cannot bucket ${src.name}: $itype is not a legal " +
          "bucket source (v2 spec)")
        s"${src.name}_bucket"
      case "year" | "month" | "day" =>
        require(itype == "date" || itype.startsWith("timestamp"),
          s"cannot apply $transform to ${src.name}: $itype is not a " +
            "date or timestamp")
        s"${src.name}_$transform"
      case "hour" =>
        require(itype.startsWith("timestamp"),
          s"cannot apply hour to ${src.name}: $itype is not a timestamp " +
            "(hour of a date is not defined by the spec)")
        s"${src.name}_hour"
      case TruncateW(w) =>
        require(w.toInt > 0, s"truncate[$w]: width must be positive")
        // int/long/string only: the sources whose Hive-directory round
        // trip is exact (decimal dir values would re-parse as strings
        // and prune lexically — refused here, not mis-pruned later)
        require(itype == "int" || itype == "long" || itype == "string",
          s"cannot truncate ${src.name}: $itype is not int/long/string")
        s"${src.name}_trunc"
      case other => throw new IllegalArgumentException(
        s"unsupported transform $other (identity, bucket[N], " +
          "year/month/day/hour, truncate[W])")
    }
  }

  /** ADD PARTITION FIELD: a new spec (metadata-only commit) appending
    * `transform(sourceCol)`. Identity fields take the source column's
    * name; transform fields the conventional `<col>_<transform>`
    * names ([[validatedFieldName]]). The field id is REUSED if any
    * prior spec had the same (source, transform) — otherwise the next
    * id is burned. */
  def addPartitionField(table: TableDef, sourceCol: String,
      transform: String = "identity"): TableDef = {
    val base = withExplicitSpecs(table)
    val src = base.columns.find(_.name == sourceCol).getOrElse(
      throw new IllegalArgumentException(s"no column $sourceCol"))
    val name = validatedFieldName(src, transform)
    val sourceId = src.fieldId.get
    val cur = defaultSpecFields(base)
    require(!cur.exists(f => f.sourceId == sourceId && f.transform == transform),
      s"the default spec already partitions by $transform($sourceCol)")
    require(!cur.exists(_.name == name),
      s"partition field name $name already in use in the default spec")
    if (transform != "identity") requireNoColumnCollision(base, name, transform)
    // field-id stability: same (source, transform) in ANY prior spec
    // resurfaces under its original id
    val recycled = base.partitionSpecs.flatMap(_._2)
      .find(f => f.sourceId == sourceId && f.transform == transform)
      .map(_.fieldId)
    val fid = recycled.getOrElse(base.lastPartitionId.getOrElse(999) + 1)
    installSpec(base, cur :+ graft.model.IcebergPartitionField(
      name, transform, sourceId, fid))
  }

  /** DROP PARTITION FIELD (by field name): a new spec without it —
    * in v2 the field is simply removed (no void-transform ghost).
    * Dropping the last field leaves an empty (unpartitioned) default
    * spec, which is legal. */
  def dropPartitionField(table: TableDef, fieldName: String): TableDef = {
    val base = withExplicitSpecs(table)
    val cur = defaultSpecFields(base)
    require(cur.exists(_.name == fieldName),
      s"no partition field $fieldName in the default spec")
    installSpec(base, cur.filterNot(_.name == fieldName))
  }

  /** RENAME PARTITION FIELD: a new spec with the field renamed, SAME
    * field id and transform (renames never burn ids). Note an identity
    * field renamed away from its source column stops being
    * directory-encoded in new files (the column stays physical). */
  def renamePartitionField(table: TableDef, from: String, to: String): TableDef = {
    val base = withExplicitSpecs(table)
    val cur = defaultSpecFields(base)
    require(cur.exists(_.name == from), s"no partition field $from")
    require(!cur.exists(_.name == to), s"partition field $to already exists")
    installSpec(base, cur.map(f =>
      if (f.name == from) f.copy(name = to) else f))
  }

  /** Commit an evolution: write the next metadata version carrying the
    * evolved schema list over the UNCHANGED snapshot chain (schema
    * evolution is a metadata-only commit). Returns the table it was
    * given, for chaining. */
  def commitEvolution(table: TableDef, tablePath: String,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): TableDef = {
    require(table.priorSchemas.nonEmpty || table.partitionSpecs.nonEmpty,
      "commitEvolution expects a table that has been through an evolution op")
    IcebergSnapshot.TableHead.read(tablePath, conf)
      .commitMetadata(table, timestampMs)
    table
  }
}
