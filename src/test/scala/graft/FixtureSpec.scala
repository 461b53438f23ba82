package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PipelineQueries

/** Amortized fixtures are built once through
  * [[PipelineQueries.buildOnce]]: a fixture whose build failed halfway
  * is built again from nothing on the next run, neither refused at its
  * first `CREATE TABLE` nor read as built. */
class FixtureSpec extends AnyFunSuite {

  private def session(extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("fixture-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    (if (extensions) b.withExtensions(new graft.api.GraftExtensions) else b).create()
  }

  /** A fixture dir of its own holding `table`, so none of its amortized
    * fixtures has ever been built. */
  private def fixtureDir(prefix: String, table: String): String = {
    val dir = Files.createTempDirectory(prefix)
    Files.copy(Paths.get(s"/root/testdata/sf0.001/$table.parquet"),
      dir.resolve(s"$table.parquet"))
    dir.toString
  }

  test("buildOnce: a build that throws leaves no marker; the next call " +
      "builds once from an empty directory, and later calls do not build") {
    val s = session(extensions = false)
    val path = Files.createTempDirectory("build_once").resolve("fixture").toString
    intercept[IllegalStateException](PipelineQueries.buildOnce(s, path) { p =>
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "half"), "written before the failure")
      throw new IllegalStateException("build failed halfway")
    })
    var builds = 0
    def build(p: String): Unit = {
      builds += 1
      assert(!Files.exists(Paths.get(p)), "the build starts from nothing")
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "whole"), "complete")
      ()
    }
    assert(PipelineQueries.buildOnce(s, path)(build) === path)
    assert(builds === 1)
    PipelineQueries.buildOnce(s, path)(build)
    assert(builds === 1)
    assert(Files.exists(Paths.get(path, "whole")))
    // it deletes recursively, so it refuses a path outside java.io.tmpdir
    val outside = Paths.get("target", "not-a-fixture").toAbsolutePath.toString
    intercept[IllegalArgumentException](PipelineQueries.buildOnce(s, outside)(build))
    assert(builds === 1)
  }

  test("q105 rebuilds a catalog table that a build failing at its INSERT left empty") {
    val s = session(extensions = true)
    val dir = fixtureDir("fixture_q105", "orders")
    // the state a q105 build that fails at its INSERT leaves behind:
    // the catalog registered and the table created, with its empty
    // snapshot and version hint, but no rows
    val cat = s"graft_${Integer.toHexString(dir.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftIcebergCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      PipelineQueries.amortizedIndexPath(s, dir, "iceberg_sqlcat", table = "orders"))
    s.sql(
      s"""CREATE TABLE $cat.orders_cat (
         |  O_ORDERKEY BIGINT NOT NULL,
         |  O_CUSTKEY BIGINT,
         |  O_ORDERSTATUS STRING,
         |  O_TOTALPRICE DOUBLE
         |) PARTITIONED BY (O_ORDERSTATUS)""".stripMargin)
    val row = PipelineQueries.q105SqlCatalog(s, dir).collect().head
    val clean = PipelineQueries.q105SqlCatalog(s, fixtureDir("fixture_q105_clean", "orders"))
      .collect().head
    assert(row === clean)
    assert(row.getAs[Long]("n_rows") > 0L)
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
