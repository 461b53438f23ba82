package graft

import scala.io.Source

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.assess.Assessor
import graft.convert.{Db2Renderer, RenderConfig}
import graft.mapping.TypeMapper
import graft.model.ConversionStatus
import graft.parse.{Db2Parser, StatementSplitter}

/** Golden-parity and unit tests for the DB2 path: splitter, parser,
  * mapper rule table, converter and assessor, compared against outputs
  * produced by the reference implementation on its own sample DDL
  * (files under src/test/resources/golden, cited from
  * /root/reference/app.py:763-913 and README.md:469-497). */
class Db2EngineSpec extends AnyFunSuite {

  private def res(name: String): String = {
    val src = Source.fromInputStream(getClass.getResourceAsStream(s"/golden/$name"), "UTF-8")
    try src.mkString finally src.close()
  }

  // ---------------------------------------------------------------- splitter

  test("splitter: basic terminators ; and @, trailing statement kept") {
    val s = StatementSplitter.split("CREATE TABLE a (x INT);\nCREATE TABLE b (y INT)@\nSELECT 1")
    assert(s.length === 3)
    assert(s(2) === "SELECT 1")
  }

  test("splitter: semicolon inside string literal does not split") {
    val s = StatementSplitter.split("INSERT INTO t VALUES ('a;b');SELECT 1")
    assert(s.length === 2)
    assert(s(0).contains("'a;b'"))
  }

  test("splitter: semicolon inside parens does not split") {
    val s = StatementSplitter.split("CREATE TABLE t (x CHECK (y in (1;2)));SELECT 1")
    assert(s.length === 2)
  }

  test("splitter quirk: apostrophe in -- comment toggles string state (reference parity)") {
    // "doesn't" opens a string; the ; after A is swallowed until the next apostrophe
    val ddl = "-- it doesn't split here\nCREATE TABLE a (x INT);\n-- isn't it\nCREATE TABLE b (y INT);"
    val s = StatementSplitter.split(ddl)
    assert(s.length === 1) // both statements merged, like the reference
  }

  test("strip leading comments keeps code and later comment lines") {
    val out = StatementSplitter.stripLeadingComments("-- c1\n\n-- c2\nCREATE TABLE t\n-- tail")
    assert(out === "CREATE TABLE t\n-- tail")
  }

  test("clean identifier strips quote characters") {
    assert(StatementSplitter.cleanIdentifier("\"Foo\"") === "Foo")
    assert(StatementSplitter.cleanIdentifier("'x'") === "x")
    assert(StatementSplitter.cleanIdentifier("`y`") === "y")
  }

  // ---------------------------------------------------------------- parser

  test("parser: sample DDL parses to the reference's 11 tables (merge quirk included)") {
    val result = Db2Parser.parse(res("sample_db2.sql"))
    assert(result.tables.map(_.fullName) === Vector(
      "SALES.CUSTOMER", "SALES.ORDERS", "SECURE.SENSITIVE_DATA",
      "INVENTORY.PRODUCTS", "HR.EMPLOYEES", "FINANCE.TRANSACTIONS",
      "SYSTEM.AUDIT_LOG", "GEO.LOCATIONS", "ANALYTICS.EVENTS",
      "SESSION.SHOPPING_CART", "SESSION.WORK_DATA"))
    assert(result.errors.isEmpty)
    assert(result.warnings.isEmpty)
  }

  test("parser: column details (types, lengths, not null, default, fieldproc)") {
    val tables = Db2Parser.parse(res("sample_db2.sql")).tables
    val customer = tables.find(_.name == "CUSTOMER").get
    val custId = customer.columns.head
    assert(custId.name === "CUST_ID" && custId.dataType === "INTEGER" && !custId.nullable)
    val phone = customer.columns.find(_.name == "PHONE").get
    assert(phone.dataType === "CHAR" && phone.length === Some(15))
    val status = customer.columns.find(_.name == "STATUS").get
    assert(status.dataType === "SMALLINT" && status.defaultValue === Some("1"))
    assert(customer.constraints.exists(c => c.ctype == "PRIMARY KEY" && c.columns == Seq("CUST_ID")))

    val secure = tables.find(_.name == "SENSITIVE_DATA").get
    assert(secure.columns.find(_.name == "SSN").get.fieldproc === Some("ENCRYPT_SSN"))
    assert(secure.editproc === Some("SECURE_EDIT"))

    val orders = tables.find(_.name == "ORDERS").get
    val total = orders.columns.find(_.name == "TOTAL_AMOUNT").get
    assert(total.dataType === "DECIMAL" && total.precision === Some(15) && total.scale === Some(2))
    val fk = orders.constraints.find(_.ctype == "FOREIGN KEY").get
    assert(fk.referenceTable === Some("SALES.CUSTOMER") && fk.columns === Seq("CUST_ID"))

    val events = tables.find(_.name == "EVENTS").get
    assert(events.partition.map(_.ptype) === Some("RANGE"))
    assert(events.partition.get.columns === Seq("EVENT_DATE"))

    val cart = tables.find(_.name == "SHOPPING_CART").get
    assert(cart.volatileTable)
    val work = tables.find(_.name == "WORK_DATA").get
    assert(work.globalTemporary)
  }

  test("parser: ALTER TABLE links partition and PK; DISTRIBUTE hits last table") {
    val ddl =
      """CREATE TABLE S.A (X INT);
        |CREATE TABLE S.B (Y INT);
        |ALTER TABLE S.A ADD CONSTRAINT PK_A PRIMARY KEY (X);
        |ALTER TABLE S.A PARTITION BY RANGE (X);
        |ALTER TABLE S.MISSING ADD CONSTRAINT PK_M PRIMARY KEY (Z);
        |DISTRIBUTE BY HASH (Y);
        |""".stripMargin
    val r = Db2Parser.parse(ddl)
    val a = r.tables.find(_.name == "A").get
    assert(a.constraints.exists(c => c.ctype == "PRIMARY KEY" && c.name == Some("PK_A")))
    assert(a.partition.map(_.ptype) === Some("RANGE"))
    // reference applies DISTRIBUTE to tables[-1], i.e. the LAST parsed table
    assert(r.tables.find(_.name == "B").get.distributeByHash === Some("Y"))
    assert(r.warnings.exists(_.contains("unknown table: S.MISSING")))
  }

  test("parser: ALTER TABLE picks the first case-insensitive match in script order") {
    val ddl =
      """CREATE TABLE S1.ORD (A INT);
        |CREATE TABLE s2.ord (B INT);
        |CREATE TABLE Ord (C INT);
        |ALTER TABLE S2.ORD ADD CONSTRAINT PK_2 PRIMARY KEY (B);
        |ALTER TABLE oRd ADD CONSTRAINT PK_ANY PRIMARY KEY (A);
        |ALTER TABLE ORD PARTITION BY RANGE (A);
        |ALTER TABLE S3.Ord ADD CONSTRAINT PK_3 PRIMARY KEY (C);
        |""".stripMargin
    val r = Db2Parser.parse(ddl)
    def pkOf(i: Int) = r.tables(i).constraints
      .filter(_.ctype == "PRIMARY KEY").flatMap(_.name)
    assert(r.tables.map(_.name) === Vector("ORD", "ord", "Ord"))
    // schema named: only the table whose schema equals it, any case
    assert(pkOf(1) === Seq("PK_2"))
    // no schema named: the first table of that name, whatever its schema
    assert(pkOf(0) === Seq("PK_ANY"))
    assert(r.tables(0).partition.map(_.ptype) === Some("RANGE"))
    assert(r.tables(1).partition.isEmpty && r.tables(2).partition.isEmpty)
    // a schema named against a table without one never matches
    assert(pkOf(2).isEmpty)
    assert(r.warnings === Vector("ALTER TABLE references unknown table: S3.Ord"))
  }

  // ---------------------------------------------------------------- mapper

  test("mapper rule table: boundaries and statuses (M1-M17)") {
    import TypeMapper.mapType
    assert(mapType("SMALLINT").targetType === "INTEGER")
    assert(mapType("SMALLINT").status === ConversionStatus.Direct)
    assert(mapType("CHAR", Some(10)).targetType === "STRING")
    assert(mapType("CHAR", Some(10)).ewiCode === Some("SSC-EWI-DB2ICE-0001"))
    // VARCHAR 16MB boundary: > limit is lossy, == limit is direct
    assert(mapType("VARCHAR", Some(16 * 1024 * 1024)).status === ConversionStatus.Direct)
    assert(mapType("VARCHAR", Some(16 * 1024 * 1024 + 1)).status === ConversionStatus.Lossy)
    assert(mapType("LONG VARCHAR").ewiCode === Some("SSC-EWI-DB2ICE-0019"))
    // CLOB compatible without EWI code, lossy above 128MB
    assert(mapType("CLOB", Some(1)).ewiCode === None)
    assert(mapType("CLOB", Some(128 * 1024 * 1024 + 1)).status === ConversionStatus.Lossy)
    // DECIMAL defaults p=5 s=0; precision clamp at 38 with scale min(s,37)
    assert(mapType("DECIMAL").targetType === "NUMBER(5,0)")
    assert(mapType("DECIMAL", Some(39), Some(39), Some(39)).targetType === "NUMBER(38,37)")
    assert(mapType("DECIMAL", Some(39), Some(39), Some(39)).status === ConversionStatus.Lossy)
    assert(mapType("DECIMAL", Some(38), Some(38), Some(10)).targetType === "NUMBER(38,10)")
    // FLOAT 24/25 boundary
    assert(mapType("FLOAT", precision = Some(24)).targetType === "FLOAT")
    assert(mapType("FLOAT", precision = Some(25)).targetType === "DOUBLE")
    assert(mapType("DECFLOAT", precision = Some(16)).status === ConversionStatus.Lossy)
    // TIME default precision 0 → EWI; 6 → direct
    assert(mapType("TIME").ewiCode === Some("SSC-EWI-DB2ICE-0003"))
    assert(mapType("TIME", precision = Some(6)).status === ConversionStatus.Direct)
    // TIMESTAMP default precision 6 → direct; 12 → compatible EWI
    assert(mapType("TIMESTAMP").status === ConversionStatus.Direct)
    assert(mapType("TIMESTAMP", precision = Some(12)).ewiCode === Some("SSC-EWI-DB2ICE-0004"))
    // Python-truthiness parity: explicit 0 params behave like absent
    assert(mapType("TIMESTAMP", precision = Some(0)).status === ConversionStatus.Direct)
    assert(mapType("TIMESTAMP", precision = Some(0)).ewiCode === None)
    assert(mapType("DECIMAL", precision = Some(0), scale = Some(2)).targetType === "NUMBER(5,2)")
    // BINARY 8MB boundary
    assert(mapType("BINARY", Some(8 * 1024 * 1024)).status === ConversionStatus.Direct)
    assert(mapType("VARBINARY", Some(8 * 1024 * 1024 + 1)).status === ConversionStatus.Lossy)
    assert(mapType("BLOB", Some(1)).ewiCode === Some("SSC-EWI-DB2ICE-0020"))
    assert(mapType("GRAPHIC", Some(10)).targetType === "STRING")
    assert(mapType("XML").status === ConversionStatus.Unsupported)
    assert(mapType("ROWID").status === ConversionStatus.Lossy)
    assert(mapType("GEOMETRY").ewiCode === Some("SSC-EWI-DB2ICE-0099")) // unknown type
    // FOR BIT DATA wins over everything
    assert(mapType("CHAR", Some(8), forBitData = true).targetType === "BINARY")
    assert(mapType("CHAR", Some(8), forBitData = true).sourceType === "CHAR(8) FOR BIT DATA")
  }

  // ---------------------------------------------------------------- converter

  test("golden: sample DDL converts byte-identically to the reference output") {
    val got = Db2Renderer.convert(res("sample_db2.sql"))
    assert(got.tablesConverted === 11)
    assert(got.ewiCount === 5)
    assert(got.icebergDdl === res("sample_db2.iceberg.sql"))
  }

  test("golden: README example with custom external volume") {
    val ddl =
      """CREATE TABLE SALES.ORDERS (
        |    ORDER_ID INTEGER NOT NULL,
        |    CUSTOMER_ID INTEGER NOT NULL,
        |    ORDER_DATE TIMESTAMP(9),
        |    TOTAL DECIMAL(15,2),
        |    NOTES CLOB(1M),
        |    PRIMARY KEY (ORDER_ID)
        |);""".stripMargin
    val got = Db2Renderer.convert(ddl, RenderConfig(externalVolume = "my_iceberg_volume"))
    assert(got.icebergDdl === res("readme_db2.iceberg.sql"))
    assert(got.ewiCount === 0)
  }

  // ---------------------------------------------------------------- assessor

  test("golden: report sink text matches the reference PDF content byte-identically") {
    // Expected produced by EXECUTING the reference's
    // generate_assessment_pdf (app.py:49-263) with a text-recording
    // FPDF stand-in (tools/gen_report_golden.py), fixed timestamp.
    val report = Assessor.assess(res("sample_db2.sql"))
    val got = graft.assess.ReportRenderer
      .renderAssessment(report, "2026-01-01 00:00:00")
      .mkString("\n") + "\n"
    assert(got === res("sample_db2.report.txt"))
  }

  test("golden: conversion report text matches the reference PDF content byte-identically") {
    val ddl = res("sample_db2.sql")
    val result = Db2Renderer.convert(ddl)
    val report = Assessor.assess(ddl)
    val got = graft.assess.ReportRenderer
      .renderConversion(result, report, "2026-01-01 00:00:00")
      .mkString("\n") + "\n"
    assert(got === res("sample_db2.conversion.txt"))
  }

  test("golden: assessment report matches the reference JSON semantically") {
    val report = Assessor.assess(res("sample_db2.sql"))
    val got = JsonMethods.parse(Assessor.toJson(report))
    val expected = JsonMethods.parse(res("sample_db2.report.json"))

    def norm(v: JValue): JValue = v match {
      case JObject(fields) => JObject(fields.map { case (k, x) => (k, norm(x)) }.sortBy(_._1))
      case JArray(items) => JArray(items.map(norm))
      case JInt(i) => JDouble(i.toDouble)
      case JDecimal(d) => JDouble(d.toDouble)
      case other => other
    }
    assert(norm(got) === norm(expected))
  }

  test("assessor: score clamp at 0 and traffic-light thresholds") {
    assert(Assessor.scoreToLevel(80) === "green")
    assert(Assessor.scoreToLevel(79.9) === "yellow")
    assert(Assessor.scoreToLevel(50) === "yellow")
    assert(Assessor.scoreToLevel(49.9) === "red")
    // a table stacking editproc+validproc+fieldproc exceeds 100 penalty → 0
    val ddl = "CREATE TABLE S.T (A XML, B XML, C XML, D XML, E ROWID) EDITPROC X VALIDPROC Y;"
    val r = Assessor.assess(ddl)
    assert(r.tableAssessments.head.readinessScore === 0.0)
    assert(r.tableAssessments.head.readinessLevel === "red")
  }
}
