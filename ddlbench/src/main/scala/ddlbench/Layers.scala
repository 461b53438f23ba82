package ddlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import graft.assess.{Assessor, ReportRenderer}
import graft.convert.{Db2Renderer, RenderConfig}
import graft.mapping.TypeMapper
import graft.parse.{Db2Parser, StatementSplitter}
import graft.snowflake.{SnowflakeParser, SnowflakeRenderer}

/** Times the pure-Scala layers by calling them directly, on the Spark driver
  * and on one thread, over the same script texts the engine calls read.
  * Only the traced run does this; it gives each layer's busy time free
  * of Spark scheduling, and counts of the work each layer did. */
object Layers {
  private val LinkStatement =
    Pattern.compile("""^\s*(ALTER\s+TABLE|DISTRIBUTE\s+BY\s+HASH)""", Pattern.CASE_INSENSITIVE)

  /** Sums over one pass; times in nanoseconds. */
  final class Totals {
    var parseNs = 0L; var parseMaxNs = 0L; var statements = 0L; var tables = 0L
    var alterLinks = 0L
    var mapNs = 0L; var columns = 0L
    var convertNs = 0L; var ewi = 0L; var outBytes = 0L
    var assessNs = 0L; var renderNs = 0L; var issues = 0L
    var sfParseNs = 0L; var sfRenderNs = 0L; var sfTables = 0L

    def layers: Seq[(String, Long, Map[String, Double])] = Seq(
      ("parse", parseNs, Map("max_script_s" -> parseMaxNs / 1e9,
        "statements" -> statements.toDouble, "tables" -> tables.toDouble,
        "alter_links" -> alterLinks.toDouble)),
      ("mapping", mapNs, Map("columns" -> columns.toDouble)),
      ("convert", convertNs, Map("ewi_markers" -> ewi.toDouble,
        "out_bytes" -> outBytes.toDouble)),
      ("assess", assessNs, Map("render_s" -> renderNs / 1e9, "issues" -> issues.toDouble)),
      ("snowflake", sfParseNs + sfRenderNs, Map("parse_s" -> sfParseNs / 1e9,
        "render_s" -> sfRenderNs / 1e9, "tables" -> sfTables.toDouble)))
  }

  private def timed[T](add: Long => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    add(System.nanoTime() - t0)
    r
  }

  def run(db2Scripts: Seq[String], sfScripts: Seq[String], generatedAt: String): Totals = {
    val t = new Totals
    val cfg = RenderConfig()
    for (ddl <- db2Scripts) {
      val stmts = StatementSplitter.split(ddl).map(_.trim).filter(_.nonEmpty)
      t.statements += stmts.size
      t.alterLinks += stmts.count(s =>
        LinkStatement.matcher(StatementSplitter.stripLeadingComments(s)).find())
      val parsed = timed { ns => t.parseNs += ns; t.parseMaxNs = t.parseMaxNs.max(ns) } {
        Db2Parser.parse(ddl)
      }
      val tables = parsed.tables
      t.tables += tables.size
      for (tab <- tables; c <- tab.columns) {
        timed(t.mapNs += _)(TypeMapper.mapType(c.dataType, c.length, c.precision,
          c.scale, c.forBitData, c.ccsid))
        t.columns += 1
      }
      for (tab <- tables) {
        val (out, ewi) = timed(t.convertNs += _)(Db2Renderer.convertTable(tab, cfg))
        t.ewi += ewi
        t.outBytes += out.getBytes(UTF_8).length
      }
      val assessed = tables.map(tab => timed(t.assessNs += _)(Assessor.assessTable(tab)))
      t.issues += assessed.map(_.issues.size).sum
      if (tables.nonEmpty) timed(t.renderNs += _) {
        ReportRenderer.renderAssessment(Assessor.aggregate(assessed, tables), generatedAt)
      }
    }
    for (ddl <- sfScripts) {
      val tables = timed(t.sfParseNs += _)(SnowflakeParser.parse(ddl))
      t.sfTables += tables.size
      tables.foreach(tab => timed(t.sfRenderNs += _)(SnowflakeRenderer.convertTable(tab, cfg)))
    }
    t
  }
}
