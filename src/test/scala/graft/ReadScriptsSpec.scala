package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Engine

/** `Engine.readScripts` against Spark's `wholetext` text reader, the
  * reader it replaced, as the oracle: same ids, same text, same rows,
  * plus the scan's task count and the golden conversion. */
class ReadScriptsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("read-scripts-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def wholeText(path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("script_id"), col("value").as("ddl"))

  private def rows(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def dirWith(files: (String, Array[Byte])*): Path = {
    val dir = Files.createTempDirectory("read-scripts")
    files.foreach { case (name, bytes) => Files.write(dir.resolve(name), bytes) }
    dir
  }

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("ddl and script_id match the wholetext reader byte for byte") {
    val dir = dirWith(
      "crlf.sql" -> utf8("CREATE TABLE S.A (X INT);\r\nCREATE TABLE S.B (Y INT);\r\n"),
      "utf8.sql" -> utf8("-- Ünïcödé 表 🚀\nCREATE TABLE S.C (\"名前\" VARCHAR(10));"),
      "bad.sql" -> (utf8("CREATE TABLE S.D (X INT); -- ") ++
        Array(0xff, 0xfe, 0xc3, 0x28, 0x80).map(_.toByte) ++ utf8("\n")),
      "a b.sql" -> utf8("CREATE TABLE S.E (X INT);"),
      "p%q.sql" -> utf8("CREATE TABLE S.F (X INT);"),
      "empty.sql" -> Array.emptyByteArray)
    val got = rows(Engine.readScripts(spark, dir.toString))
    val want = rows(wholeText(dir.toString))
    assert(want.size === 5, "the oracle drops the zero-length file")
    assert(got === want)
    assert(got.keys.exists(_.endsWith("/a%20b.sql")))
    assert(got.keys.exists(_.endsWith("/p%25q.sql")))
    assert(got.keys.forall(_.startsWith("file:///")))
  }

  test("a zero-length file and an empty directory give no rows") {
    assert(Engine.readScripts(spark,
      dirWith("empty.sql" -> Array.emptyByteArray).toString).count() === 0L)
    val empty = dirWith().toString
    assert(wholeText(empty).count() === 0L)
    assert(Engine.readScripts(spark, empty).count() === 0L)
  }

  test("a compressed script fails the read with an error that names it") {
    val bytes = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bytes)
    gz.write(utf8("CREATE TABLE S.G (X INT);"))
    gz.close()
    val dir = dirWith("plain.sql" -> utf8("CREATE TABLE S.H (X INT);"),
      "packed.sql.gz" -> bytes.toByteArray)
    val e = intercept[Exception](Engine.readScripts(spark, dir.toString).collect())
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msg.contains("packed.sql.gz"), msg)
  }

  test("tiny scripts plan one scan task per core; one file plans one") {
    val n = 1000
    val dir = dirWith((0 until n).map(i =>
      f"s$i%04d.sql" -> utf8(s"CREATE TABLE S.T$i (X INT);\n")): _*)
    val bytes = (0 until n).map(i => s"CREATE TABLE S.T$i (X INT);\n".length.toLong).sum
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val cap = math.max(spark.sparkContext.defaultParallelism,
      ((bytes + maxBytes - 1) / maxBytes).toInt)
    val df = Engine.readScripts(spark, dir.toString)
    assert(df.rdd.getNumPartitions <= cap)
    assert(df.count() === n.toLong)
    val one = dirWith("only.sql" -> utf8("CREATE TABLE S.T (X INT);"))
    assert(Engine.readScripts(spark, one.toString).rdd.getNumPartitions === 1)
  }

  test("convertDb2 over readScripts matches the golden sample byte for byte") {
    val resource = (name: String) =>
      getClass.getResourceAsStream(s"/golden/$name").readAllBytes()
    val dir = dirWith("sample_db2.sql" -> resource("sample_db2.sql"))
    val out = Engine.convertDb2(Engine.parseDb2(
      Engine.readScripts(spark, dir.toString))).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("iceberg_ddl") ===
      new String(resource("sample_db2.iceberg.sql"), StandardCharsets.UTF_8))
  }
}
