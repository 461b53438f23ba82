package graft.parse

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import graft.model._
import StatementSplitter._

/** Outcome of parsing one DDL script. */
final case class ParseResult(
    tables: Vector[TableDef],
    errors: Vector[String],
    warnings: Vector[String])

/** DB2 CREATE TABLE parser (SURVEY.md §2.2 P1-P10, §2.3 J1-J2).
  *
  * A faithful re-expression of the reference's regex/state-machine parser
  * (`/root/reference/db2ice/parser.py:120-684`) as pure Scala functions —
  * no Spark dependency, so it runs inside `Dataset.map`/`flatMap` on
  * executors and is unit-testable standalone. Parity quirks kept
  * deliberately (documented inline) because golden outputs depend on them.
  */
object Db2Parser {

  private val CI = Pattern.CASE_INSENSITIVE

  // parser.py:127-130
  private val CreateTablePattern = Pattern.compile(
    """CREATE\s+(?:(VOLATILE)\s+)?(?:(GLOBAL\s+TEMPORARY)\s+)?TABLE\s+(?:(["\w]+)\.)?(["\w]+)\s*\(""",
    CI)
  // parser.py:133-136
  private val DeclareTempPattern = Pattern.compile(
    """DECLARE\s+GLOBAL\s+TEMPORARY\s+TABLE\s+(?:(["\w]+)\.)?(["\w]+)\s*\(""", CI)
  // parser.py:138-146 — alternation order matters (VARCHAR before CHAR etc.)
  private val DataTypePattern = Pattern.compile(
    "(SMALLINT|INTEGER|INT|BIGINT|DECIMAL|DEC|NUMERIC|REAL|FLOAT|DOUBLE|DECFLOAT|" +
      "CHARACTER\\s+VARYING|CHAR\\s+VARYING|VARCHAR|LONG\\s+VARCHAR|CHARACTER|CHAR|CLOB|" +
      "GRAPHIC|VARGRAPHIC|LONG\\s+VARGRAPHIC|DBCLOB|" +
      "BINARY\\s+VARYING|VARBINARY|BINARY|BLOB|" +
      "DATE|TIMESTAMP|TIME|XML|ROWID|BOOLEAN)" +
      "(?:\\s*\\(\\s*(\\d+)(?:\\s*,\\s*(\\d+))?\\s*\\))?",
    CI)

  private val CreateStmtPattern = Pattern.compile(
    """^\s*CREATE\s+(?:VOLATILE\s+)?(?:GLOBAL\s+TEMPORARY\s+)?TABLE""", CI)
  private val DeclareStmtPattern = Pattern.compile(
    """^\s*DECLARE\s+GLOBAL\s+TEMPORARY\s+TABLE""", CI)
  private val AlterStmtPattern = Pattern.compile("""^\s*ALTER\s+TABLE""", CI)
  private val DistributeStmtPattern = Pattern.compile("""^\s*DISTRIBUTE\s+BY\s+HASH""", CI)

  private val AlterTablePattern = Pattern.compile(
    """ALTER\s+TABLE\s+(?:(["\w]+)\.)?(["\w]+)""", CI)
  private val PartitionPattern = Pattern.compile(
    """PARTITION\s+BY\s+(RANGE|HASH)\s*\(([^)]+)\)""", CI)
  private val AddPkPattern = Pattern.compile(
    """ADD\s+CONSTRAINT\s+(["\w]+)\s+PRIMARY\s+KEY\s*\(([^)]+)\)""", CI)
  private val DistributePattern = Pattern.compile(
    """DISTRIBUTE\s+BY\s+HASH\s*\(([^)]+)\)""", CI)

  private val ColNamePattern = Pattern.compile("""^(["\w]+)""")
  private val DefaultPattern = Pattern.compile("""DEFAULT\s+(\S+|'[^']*')""", CI)
  private val CcsidColPattern = Pattern.compile("""CCSID\s+(\w+)""", CI)
  private val FieldprocPattern = Pattern.compile("""FIELDPROC\s+(\S+)""", CI)

  private val ConstraintNamePattern = Pattern.compile("""CONSTRAINT\s+(["\w]+)""", CI)
  private val PkColsPattern = Pattern.compile("""PRIMARY\s+KEY\s*\(([^)]+)\)""", CI)
  private val FkPattern = Pattern.compile(
    """FOREIGN\s+KEY\s*\(([^)]+)\)\s*REFERENCES\s+(["\w.]+)\s*\(([^)]+)\)""", CI)
  private val UniqueColsPattern = Pattern.compile("""UNIQUE\s*\(([^)]+)\)""", CI)
  private val CheckPattern = Pattern.compile("""CHECK\s*\((.+)\)""", CI | Pattern.DOTALL)

  private val TablespacePattern = Pattern.compile("""IN\s+(["\w]+)""", CI)
  private val EditprocPattern = Pattern.compile("""EDITPROC\s+(["\w.]+)""", CI)
  private val ValidprocPattern = Pattern.compile("""VALIDPROC\s+(["\w.]+)""", CI)
  private val AuditPattern = Pattern.compile("""AUDIT\s+(NONE|CHANGES|ALL)""", CI)
  private val DataCapturePattern = Pattern.compile("""DATA\s+CAPTURE\s+(NONE|CHANGES)""", CI)
  private val CcsidTablePattern = Pattern.compile("""CCSID\s+(ASCII|UNICODE|EBCDIC)""", CI)

  /** Parse a DDL script into table definitions.
    * Two passes like the reference (parser.py:152-205): CREATE/DECLARE
    * first, then ALTER/DISTRIBUTE linkage. */
  def parse(ddl: String): ParseResult = {
    val errors = ArrayBuffer.empty[String]
    val warnings = ArrayBuffer.empty[String]
    val tables = ArrayBuffer.empty[TableDef]

    val statements = split(ddl).map(_.trim).filter(_.nonEmpty)

    // Pass 1: CREATE TABLE / DECLARE GTT
    for (stmt <- statements) {
      val s = stripLeadingComments(stmt)
      if (CreateStmtPattern.matcher(s).find()) {
        parseCreateTable(s, errors, warnings).foreach(tables += _)
      } else if (DeclareStmtPattern.matcher(s).find()) {
        parseDeclareTempTable(s, errors, warnings).foreach(tables += _)
      }
    }

    // Pass 2: ALTER TABLE / DISTRIBUTE BY HASH linkage. Pass 2 never
    // renames a table, so one name index serves every ALTER.
    val byName = tables.indices.groupBy(i => nameKey(tables(i).name))
    for (stmt <- statements) {
      val s = stripLeadingComments(stmt)
      if (AlterStmtPattern.matcher(s).find()) processAlterTable(s, tables, byName, warnings)
      else if (DistributeStmtPattern.matcher(s).find()) processDistributeByHash(s, tables)
    }

    ParseResult(tables.toVector, errors.toVector, warnings.toVector)
  }

  // ---------------------------------------------------------------- pass 2

  /** Case fold under which `equalsIgnoreCase`-equal names share a key
    * (char-wise upper-then-lower, the same fold `equalsIgnoreCase`
    * applies), so a key bucket holds every candidate for a name. */
  private def nameKey(name: String): String =
    name.map(c => Character.toLowerCase(Character.toUpperCase(c)))

  /** ALTER TABLE linkage (parser.py:207-261): case-insensitive name match,
    * schema matched only when the ALTER names one (a table without a
    * schema then never matches); the first pass-1 table in script order
    * wins. Merges PARTITION BY and ADD CONSTRAINT…PRIMARY KEY (PK only
    * if none present yet). `byName` holds the pass-1 table indices in
    * ascending order, keyed by [[nameKey]]. */
  private def processAlterTable(stmt: String, tables: ArrayBuffer[TableDef],
      byName: Map[String, IndexedSeq[Int]],
      warnings: ArrayBuffer[String]): Unit = {
    val m = AlterTablePattern.matcher(stmt)
    if (!m.lookingAt()) return
    val schema = Option(m.group(1)).map(cleanIdentifier)
    val tableName = cleanIdentifier(m.group(2))

    val idx = byName.getOrElse(nameKey(tableName), IndexedSeq.empty).find { i =>
      val t = tables(i)
      t.name.equalsIgnoreCase(tableName) &&
        (schema.isEmpty || t.schema.exists(_.equalsIgnoreCase(schema.get)))
    }.getOrElse(-1)
    if (idx < 0) {
      val ref = schema.map(s => s"$s.$tableName").getOrElse(tableName)
      warnings += s"ALTER TABLE references unknown table: $ref"
      return
    }
    var t = tables(idx)

    val pm = findIn(PartitionPattern, stmt)
    pm.foreach { mm =>
      t = t.copy(partition = Some(PartitionSpecDef(
        ptype = mm.group(1).toUpperCase,
        columns = mm.group(2).split(",", -1).toSeq.map(c => cleanIdentifier(c.trim)),
        rawDefinition = mm.group(0))))
    }

    val pk = findIn(AddPkPattern, stmt)
    pk.foreach { mm =>
      val hasPk = t.constraints.exists(_.ctype == "PRIMARY KEY")
      if (!hasPk) {
        t = t.copy(constraints = t.constraints :+ ConstraintDef(
          ctype = "PRIMARY KEY",
          name = Some(cleanIdentifier(mm.group(1))),
          columns = mm.group(2).split(",", -1).toSeq.map(c => cleanIdentifier(c.trim))))
      }
    }
    tables(idx) = t
  }

  /** DISTRIBUTE BY HASH applies to the LAST table of pass 1 — the
    * reference's actual behavior (parser.py:263-274 uses `tables[-1]`),
    * not "the preceding CREATE". */
  private def processDistributeByHash(stmt: String, tables: ArrayBuffer[TableDef]): Unit =
    findIn(DistributePattern, stmt).foreach { mm =>
      val column = cleanIdentifier(mm.group(1).trim)
      if (tables.nonEmpty)
        tables(tables.length - 1) = tables.last.copy(distributeByHash = Some(column))
    }

  // ---------------------------------------------------------------- pass 1

  private def parseCreateTable(stmt: String, errors: ArrayBuffer[String],
      warnings: ArrayBuffer[String]): Option[TableDef] = {
    val m = CreateTablePattern.matcher(stmt)
    if (!m.find()) { errors += "Could not parse table name"; return None }

    var table = TableDef(
      rawDdl = stmt,
      volatileTable = m.group(1) != null,
      globalTemporary = m.group(2) != null,
      schema = Option(m.group(3)).map(cleanIdentifier),
      name = cleanIdentifier(m.group(4)))

    parseBody(stmt, m.end(), table, errors, warnings)
  }

  private def parseDeclareTempTable(stmt: String, errors: ArrayBuffer[String],
      warnings: ArrayBuffer[String]): Option[TableDef] = {
    val m = DeclareTempPattern.matcher(stmt)
    if (!m.find()) { errors += "Could not parse DECLARE GLOBAL TEMPORARY TABLE"; return None }
    val table = TableDef(
      rawDdl = stmt,
      globalTemporary = true,
      schema = Option(m.group(1)).map(cleanIdentifier),
      name = cleanIdentifier(m.group(2)))
    parseBody(stmt, m.end(), table, errors, warnings)
  }

  /** Shared body/options extraction (parser.py:356-375 / :393-409). */
  private def parseBody(stmt: String, matchEnd: Int, table0: TableDef,
      errors: ArrayBuffer[String], warnings: ArrayBuffer[String]): Option[TableDef] = {
    val colStart = stmt.indexOf('(', matchEnd - 1)
    if (colStart < 0) { errors += "Could not find column definitions"; return None }
    val colEnd = findMatchingParen(stmt, colStart)
    if (colEnd < 0) { errors += "Could not find end of column definitions"; return None }

    val columnsStr = stmt.substring(colStart + 1, colEnd)
    val (cols, cons) = parseColumnsAndConstraints(columnsStr, warnings)
    val optionsStr = stmt.substring(colEnd + 1)
    Some(parseTableOptions(optionsStr,
      table0.copy(columns = cols, constraints = cons)))
  }

  /** parser.py:450-470. */
  def parseColumnsAndConstraints(columnsStr: String,
      warnings: ArrayBuffer[String]): (Vector[Db2Column], Vector[ConstraintDef]) = {
    val cols = Vector.newBuilder[Db2Column]
    val cons = Vector.newBuilder[ConstraintDef]
    val parts = splitColumnDefs(stripInlineComments(columnsStr))
    for (p0 <- parts; p = p0.trim if p.nonEmpty) {
      if (isConstraint(p)) parseConstraint(p).foreach(cons += _)
      else parseColumn(p, warnings).foreach(cols += _)
    }
    (cols.result(), cons.result())
  }

  /** Keyword scan (parser.py:500-506). Quirk kept: a column whose name
    * merely STARTS with a keyword (e.g. UNIQUE_ID) is treated as a
    * constraint, as in the reference. */
  def isConstraint(part: String): Boolean = {
    val upper = part.toUpperCase.trim
    val kws = Seq("PRIMARY KEY", "FOREIGN KEY", "UNIQUE", "CHECK", "CONSTRAINT")
    kws.exists(kw => upper.startsWith(kw) || upper.contains(" " + kw))
  }

  /** Single column definition (parser.py:508-575). */
  def parseColumn(colDef0: String, warnings: ArrayBuffer[String]): Option[Db2Column] = {
    val colDef = colDef0.trim
    if (colDef.isEmpty) return None

    val nm = ColNamePattern.matcher(colDef)
    if (!nm.lookingAt()) {
      warnings += s"Could not parse column name: ${colDef.take(50)}"
      return None
    }
    val name = cleanIdentifier(nm.group(1))
    var remaining = colDef.substring(nm.end()).trim

    val tm = DataTypePattern.matcher(remaining)
    if (!tm.lookingAt()) {
      warnings += s"Could not parse data type for column $name"
      return None
    }
    // Normalize multi-word types to single-space upper-case
    val dataType = tm.group(1).toUpperCase.replaceAll("\\s+", " ")
    // length→precision aliasing (parser.py:533-536)
    val length = Option(tm.group(2)).map(_.toInt)
    val precision = length
    val scale = Option(tm.group(3)).map(_.toInt)
    remaining = remaining.substring(tm.end()).trim

    val upper = remaining.toUpperCase
    Some(Db2Column(
      name = name,
      dataType = dataType,
      length = length,
      precision = precision,
      scale = scale,
      nullable = !upper.contains("NOT NULL"),
      defaultValue = findIn(DefaultPattern, remaining).map(_.group(1)),
      generated =
        if (upper.contains("GENERATED ALWAYS")) Some("ALWAYS")
        else if (upper.contains("GENERATED BY DEFAULT")) Some("BY DEFAULT")
        else None,
      ccsid = findIn(CcsidColPattern, remaining).map(_.group(1)),
      forBitData = upper.contains("FOR BIT DATA"),
      fieldproc = findIn(FieldprocPattern, remaining).map(_.group(1)),
      rawDefinition = colDef))
  }

  /** Constraint definition (parser.py:577-621). */
  def parseConstraint(constraintDef: String): Option[ConstraintDef] = {
    val upper = constraintDef.toUpperCase
    val name = {
      val m = ConstraintNamePattern.matcher(constraintDef)
      if (m.lookingAt()) Some(cleanIdentifier(m.group(1))) else None
    }
    def splitCols(s: String): Seq[String] =
      s.split(",", -1).toSeq.map(c => cleanIdentifier(c.trim))

    if (upper.contains("PRIMARY KEY")) {
      val cols = findIn(PkColsPattern, constraintDef).map(m => splitCols(m.group(1)))
      Some(ConstraintDef("PRIMARY KEY", name, cols.getOrElse(Nil)))
    } else if (upper.contains("FOREIGN KEY")) {
      findIn(FkPattern, constraintDef) match {
        case Some(m) => Some(ConstraintDef("FOREIGN KEY", name,
          columns = splitCols(m.group(1)),
          referenceTable = Some(m.group(2)),
          referenceColumns = splitCols(m.group(3))))
        case None => Some(ConstraintDef("FOREIGN KEY", name))
      }
    } else if (upper.contains("UNIQUE")) {
      val cols = findIn(UniqueColsPattern, constraintDef).map(m => splitCols(m.group(1)))
      Some(ConstraintDef("UNIQUE", name, cols.getOrElse(Nil)))
    } else if (upper.contains("CHECK")) {
      val cond = findIn(CheckPattern, constraintDef).map(_.group(1).trim)
      Some(ConstraintDef("CHECK", name, checkCondition = cond))
    } else None
  }

  /** Table-level options (parser.py:623-663). The unanchored `IN <id>`
    * tablespace regex (no word boundary) is kept as-is. */
  def parseTableOptions(optionsStr: String, table0: TableDef): TableDef = {
    val upper = optionsStr.toUpperCase
    var t = table0

    findIn(TablespacePattern, optionsStr).foreach(m =>
      t = t.copy(tablespace = Some(cleanIdentifier(m.group(1)))))
    if (upper.contains("EDITPROC"))
      findIn(EditprocPattern, optionsStr).foreach(m => t = t.copy(editproc = Some(m.group(1))))
    if (upper.contains("VALIDPROC"))
      findIn(ValidprocPattern, optionsStr).foreach(m => t = t.copy(validproc = Some(m.group(1))))
    if (upper.contains("AUDIT"))
      findIn(AuditPattern, optionsStr).foreach(m => t = t.copy(audit = Some(m.group(1).toUpperCase)))
    if (upper.contains("DATA CAPTURE"))
      findIn(DataCapturePattern, optionsStr).foreach(m =>
        t = t.copy(dataCapture = Some(m.group(1).toUpperCase)))
    findIn(CcsidTablePattern, optionsStr).foreach(m =>
      t = t.copy(ccsid = Some(m.group(1).toUpperCase)))
    if (upper.contains("PARTITION BY"))
      findIn(PartitionPattern, optionsStr).foreach { m =>
        t = t.copy(partition = Some(PartitionSpecDef(
          ptype = m.group(1).toUpperCase,
          columns = m.group(2).split(",", -1).toSeq.map(c => cleanIdentifier(c.trim)),
          rawDefinition = m.group(0))))
      }
    t
  }

  private def findIn(p: Pattern, s: String): Option[java.util.regex.Matcher] = {
    val m = p.matcher(s)
    if (m.find()) Some(m) else None
  }
}
