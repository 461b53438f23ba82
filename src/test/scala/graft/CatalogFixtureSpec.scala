package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PipelineQueries

/** A catalog fixture whose build fails halfway is built again from
  * nothing on the next run, not refused at its first `CREATE TABLE`. */
class CatalogFixtureSpec extends AnyFunSuite {

  private def session(extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("catalog-fixture-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    (if (extensions) b.withExtensions(new graft.api.GraftExtensions) else b).create()
  }

  test("q114 recovers from a build that failed after its first CREATE TABLE") {
    // a fixture dir of its own, so the warehouse has never been built
    val dir = java.nio.file.Files.createTempDirectory("fixture_q114")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/orders.parquet"),
      dir.resolve("orders.parquet"))
    // without the SQL extensions the build's DELETE FROM fails after
    // spjd_a and spjd_b exist
    val failed = intercept[Exception](
      PipelineQueries.q114SpjDeleteJoin(session(extensions = false), dir.toString))
    assert(!failed.getMessage.contains("ALREADY_EXISTS"), failed.getMessage)
    val row = PipelineQueries.q114SpjDeleteJoin(session(extensions = true), dir.toString)
      .collect().head
    assert(row.getAs[Boolean]("spj_ok"))
    assert(row.getAs[Long]("n_rows") > 0L)
  }
}
