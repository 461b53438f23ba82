package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** WARC (ISO 28500 / WARC 1.0–1.1) corpus ingest — the canonical
  * FIRST step of a web-scale training-data pipeline (CommonCrawl
  * arrives as .warc.gz). Pure-JVM record parser over Spark's
  * streaming binary-file RDD; no third-party deps.
  *
  * Scale shape: one task per WARC file via
  * `sparkContext.binaryFiles` (PortableDataStream — the file is
  * STREAMED through the record iterator, never materialized whole;
  * this is the documented legitimate RDD case: per-partition
  * imperative I/O). CommonCrawl ships ~1 GB segments, so a 100 TB
  * crawl is ~100k tasks with no shuffle anywhere — parse is pure map.
  * Record bodies are capped at `maxBodyBytes` (oversize bodies are
  * TRUNCATED and flagged, never dropped silently — the record header
  * stays intact for accounting). Gzip: java.util.zip reads
  * concatenated members, which is exactly the per-record-member
  * layout WARC writers produce, so `.warc.gz` needs no special
  * casing beyond the extension check.
  *
  * Output schema (one row per record):
  *   warc_type, record_id, target_uri, warc_date, content_type,
  *   content_length (the header's declared length),
  *   http_status (response records, else null),
  *   http_content_type (response records, else null),
  *   body (binary: for http responses the PAYLOAD after the HTTP
  *   header block; otherwise the raw record block),
  *   truncated (body hit maxBodyBytes), source_file.
  */
object Warc {

  /** One parsed record — the typed face of [[schema]] (field order and
    * names match exactly; the streaming path encodes it directly). */
  final case class WarcRecord(
      warc_type: String, record_id: String, target_uri: String,
      warc_date: String, content_type: String, content_length: Long,
      http_status: Option[Int], http_content_type: String,
      body: Array[Byte], truncated: Boolean, source_file: String)

  val schema: StructType = StructType(Seq(
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("http_status", IntegerType),
    StructField("http_content_type", StringType),
    StructField("body", BinaryType),
    StructField("truncated", BooleanType),
    StructField("source_file", StringType)))

  /** Parse every record of every file under `path` (glob ok; mixes of
    * .warc and .warc.gz ok). Malformed trailing garbage ends that
    * file's iteration (never throws mid-corpus — a crawl shard with a
    * torn tail should not kill a 100k-task job); records parsed
    * before the damage are kept. */
  def records(spark: SparkSession, path: String,
      maxBodyBytes: Int = 1 << 20): DataFrame = {
    val rows = spark.sparkContext.binaryFiles(path).flatMap {
      case (file, pds) =>
        val raw = pds.open()
        val in = new BufferedInputStream(
          if (file.endsWith(".gz")) new GZIPInputStream(raw) else raw,
          64 * 1024)
        recordIterator(in, file, maxBodyBytes)
    }
    spark.createDataFrame(rows, schema)
  }

  /** STREAMING face of [[records]]: a `readStream` over a crawl DROP
    * DIRECTORY — each newly-arrived `.warc`/`.warc.gz` file becomes one
    * micro-batch contribution, parsed by the same record iterator as
    * the batch path (same schema, same truncation/torn-tail/gzip
    * semantics; batch == stream is spec-pinned). This is the first
    * mile of the live crawl pipeline: compose with `decode_text` →
    * `html_text` → [[graft.streaming.StreamingOps.corpusIngestStream]]
    * and the index sinks.
    *
    * Source contract: Spark's `binaryFile` streaming source tracks
    * arrival (file-name log) and materializes each file's bytes as one
    * row — so a file is ONE task's memory here, unlike the batch
    * path's PortableDataStream. CommonCrawl-sized (~1 GB) segments are
    * fine; cap ingestion rate with `maxFilesPerTrigger` and raise
    * `spark.sql.sources.binaryFile.maxLength` for oversized shards. */
  def recordsStream(spark: SparkSession, dropDir: String,
      maxBodyBytes: Int = 1 << 20,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val reader = spark.readStream.format("binaryFile")
      .schema(graft.api.Engine.BinaryFileSchema)
      .option("pathGlobFilter", "*.warc*")
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.load(dropDir)
      .select(org.apache.spark.sql.functions.col("path"),
        org.apache.spark.sql.functions.col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val raw = new java.io.ByteArrayInputStream(bytes)
        val in = new BufferedInputStream(
          if (path.endsWith(".gz")) new GZIPInputStream(raw) else raw,
          64 * 1024)
        typedRecordIterator(in, path, maxBodyBytes)
      }
      .toDF(schema.fieldNames.toIndexedSeq: _*)
  }

  /** Synthesize a deterministic WARC corpus from the documents table —
    * the q81/q83 fixture discipline applied to the crawl front: one
    * HTTP response record per doc whose HTML body, charset and
    * Content-Type are CLOSED-FORM in doc_id, so a DuckDB oracle can
    * recompute the whole ingest → decode → html_text path
    * arithmetically with no WARC machinery of its own
    * (q97_warc_ingest). Three charset legs by doc_id mod 3:
    * 0 = UTF-8 declared in the header; 1 = windows-1252 declared in
    * the header; 2 = windows-1252 declared only by `<meta charset>`
    * (the sniff path). Even file ids are plain `.warc`, odd are
    * per-record-gzip-member `.warc.gz`, so both container forms sit
    * in the oracle-checked signal.
    *
    * Fixture-scale generator (driver of a registered query, written
    * once per fixture fingerprint): records of one output file are
    * grouped in memory — fine for the nFiles≈8 test corpus; a real
    * crawl is READ by [[records]], never produced here. */
  def synthesizeFixture(docs: org.apache.spark.sql.DataFrame,
      outDir: String, nFiles: Int = 8): Unit =
    synthesizeWith(docs, outDir, nFiles)(recordBytesFor)

  /** One synthesized record's bytes — see [[synthesizeFixture]] for
    * the closed-form contract the oracle mirrors. */
  private def recordBytesFor(id: Long, text: String): Array[Byte] =
    responseRecordBytes(s"<urn:graft:$id>", s"http://corpus.test/doc/$id",
      id, text)

  /** [[synthesizeFixture]] with REAL-PAGE BOILERPLATE around the
    * content: every page carries a nav menu, a link-farm related-
    * articles div, an aside and a footer — all closed-form — so
    * `main_content` extraction is oracle-checkable block by block:
    * the nav/aside/footer die as containers, the link farm dies on
    * link density, the `Doc id` title stub dies on length, and ONLY
    * the content paragraph survives. Charset legs and framing are
    * [[synthesizeFixture]]'s. */
  def synthesizeBoilerplateFixture(docs: org.apache.spark.sql.DataFrame,
      outDir: String, nFiles: Int = 8): Unit =
    synthesizeWith(docs, outDir, nFiles) { (id, text) =>
      val leg = (id % 3).toInt
      val meta = if (leg == 2) "<meta charset=\"windows-1252\">" else ""
      val html = s"<html><head><title>Doc $id</title>$meta" +
        "<style>p{margin:0}</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a> site navigation menu</nav>" +
        s"<p>Doc $id body: $text café révisé</p>" +
        "<div><a href=\"/r1\">related article one</a> " +
        "<a href=\"/r2\">related article two</a> " +
        "<a href=\"/r3\">related article three</a></div>" +
        "<aside>subscribe to our weekly newsletter for updates and promotions</aside>" +
        "<footer>copyright 2026 corpus test press all rights reserved</footer>" +
        "<script>var x=\"<i>no</i>\";</script></body></html>"
      responseRecordBytesHtml(s"<urn:graft:$id>",
        s"http://corpus.test/doc/$id", id, html)
    }

  /** The shared fixture-writer loop behind [[synthesizeFixture]] and
    * [[synthesizeBoilerplateFixture]]: deterministic file routing by
    * id, odd files per-record-gzip'd, `_built` marker last. */
  private def synthesizeWith(docs: org.apache.spark.sql.DataFrame,
      outDir: String, nFiles: Int)(
      bytesFor: (Long, String) => Array[Byte]): Unit = {
    val spark = docs.sparkSession
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    docs.select("doc_id", "text").rdd
      .map { r =>
        val id = r.getLong(0)
        (id % nFiles, (id, bytesFor(id, r.getString(1))))
      }
      .groupByKey(nFiles)
      .foreach { case (fid, recs) =>
        val gz = fid % 2 == 1
        val name = f"part-$fid%05d.warc" + (if (gz) ".gz" else "")
        val p = new org.apache.hadoop.fs.Path(outDir, name)
        val fs = p.getFileSystem(confSer.value)
        val out = fs.create(p, true)
        try recs.toSeq.sortBy(_._1).foreach { case (_, bytes) =>
          if (gz) {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(bytes); g.finish()
            out.write(bos.toByteArray)
          } else out.write(bytes)
        } finally out.close()
      }
    val marker = new org.apache.hadoop.fs.Path(outDir, "_built")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(marker, true)
    try o.write("1\n".getBytes(StandardCharsets.UTF_8)) finally o.close()
  }

  /** Shared response-record builder: the HTML body, charset leg and
    * HTTP framing are closed-form in `id` exactly as [[recordBytesFor]]
    * always produced (q97's oracle depends on these bytes); the crawl
    * fixture reuses it with revisit/mirror record ids and URIs over
    * IDENTICAL payload bytes. */
  private def responseRecordBytes(recordId: String, uri: String,
      id: Long, text: String): Array[Byte] = {
    val leg = (id % 3).toInt
    val meta = if (leg == 2) "<meta charset=\"windows-1252\">" else ""
    val html = s"<html><head><title>Doc $id</title>$meta" +
      "<style>p{margin:0}</style></head><body><!-- synthetic -->" +
      s"<p>$text café révisé</p>" +
      "<script>var a=\"<b>no</b>\";</script></body></html>"
    responseRecordBytesHtml(recordId, uri, id, html)
  }

  /** Shared HTTP/WARC framing over an arbitrary HTML body (charset
    * legs keyed by id exactly like [[responseRecordBytes]]). */
  private def responseRecordBytesHtml(recordId: String, uri: String,
      id: Long, html: String): Array[Byte] = {
    val leg = (id % 3).toInt
    val (charsetName, ctParam) = leg match {
      case 0 => ("UTF-8", "; charset=utf-8")
      case 1 => ("windows-1252", "; charset=windows-1252")
      case _ => ("windows-1252", "")
    }
    val payload = html.getBytes(charsetName)
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html$ctParam\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8)
    val block = http ++ payload
    val header = (s"WARC/1.0\r\n" +
      s"WARC-Type: response\r\n" +
      s"WARC-Record-ID: $recordId\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8)
    header ++ block ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
  }

  /** Synthesize a deterministic CRAWL-shaped WARC corpus: beyond
    * [[synthesizeFixture]]'s one-response-per-doc, this one contains
    * the two duplication shapes a real frontier produces —
    *
    *   - a REVISIT for every odd doc_id: the same payload bytes
    *     re-fetched under a URL variant (`HTTP://CORPUS.test:80/doc/id
    *     #top`) whose [[graft.functions.TextFunctions.canonicalUrl]]
    *     form equals the base URI — URL-level dedup must collapse it;
    *   - a MIRROR for every doc_id ≡ 7 (mod 10): the same payload
    *     bytes under a DIFFERENT canonical URL
    *     (`http://mirror.test/copy/id`) — URL dedup must KEEP it and
    *     content-level dedup must collapse it.
    *
    * Record ids carry `(doc_id, seq)` as `<urn:graft:id:seq>`
    * (seq 0 = base, 1 = revisit, 2 = mirror) so a pipeline can extract
    * a deterministic keeper ordering without trusting URIs. Everything
    * else (charset legs, HTML shape, plain/gzip file split) matches
    * [[synthesizeFixture]], so the q97 oracle's arithmetic text
    * reconstruction applies per record here too (q99_crawl_capstone). */
  def synthesizeCrawlFixture(docs: org.apache.spark.sql.DataFrame,
      outDir: String, nFiles: Int = 8): Unit = {
    val spark = docs.sparkSession
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    docs.select("doc_id", "text").rdd
      .flatMap { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val base = (id, 0,
          responseRecordBytes(s"<urn:graft:$id:0>",
            s"http://corpus.test/doc/$id", id, text))
        val revisit = if (id % 2 == 1) Seq((id, 1,
          responseRecordBytes(s"<urn:graft:$id:1>",
            s"HTTP://CORPUS.test:80/doc/$id#top", id, text))) else Nil
        val mirror = if (id % 10 == 7) Seq((id, 2,
          responseRecordBytes(s"<urn:graft:$id:2>",
            s"http://mirror.test/copy/$id", id, text))) else Nil
        (base +: (revisit ++ mirror)).map { case (i, seq, bytes) =>
          (i % nFiles, ((i, seq), bytes))
        }
      }
      .groupByKey(nFiles)
      .foreach { case (fid, recs) =>
        val gz = fid % 2 == 1
        val name = f"part-$fid%05d.warc" + (if (gz) ".gz" else "")
        val p = new org.apache.hadoop.fs.Path(outDir, name)
        val fs = p.getFileSystem(confSer.value)
        val out = fs.create(p, true)
        try recs.toSeq.sortBy(_._1).foreach { case (_, bytes) =>
          if (gz) {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(bytes); g.finish()
            out.write(bos.toByteArray)
          } else out.write(bytes)
        } finally out.close()
      }
    val marker = new org.apache.hadoop.fs.Path(outDir, "_built")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(marker, true)
    try o.write("1\n".getBytes(StandardCharsets.UTF_8)) finally o.close()
  }

  // ------------------------------------------------------------ parser

  /** Read one CRLF- (or LF-) terminated header line; None at EOF.
    * Bytes are accumulated raw and decoded as UTF-8 — WARC 1.0 headers
    * are UTF-8, so a non-ASCII `WARC-Target-URI` must not be mangled
    * by a per-byte Latin-1 char cast. */
  private def readLine(in: InputStream): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream(96)
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') {
      if (c != '\r') buf.write(c)
      c = in.read()
    }
    Some(new String(buf.toByteArray, StandardCharsets.UTF_8))
  }

  private def readFully(in: InputStream, n: Long, cap: Int)
      : (Array[Byte], Boolean) = {
    val keep = math.min(n, cap.toLong).toInt
    val buf = new Array[Byte](keep)
    var off = 0
    while (off < keep) {
      val r = in.read(buf, off, keep - off)
      if (r < 0) throw new EOFException(s"record body ended at $off of $n")
      off += r
    }
    // discard the tail beyond the cap (truncation, flagged)
    var rest = n - keep
    while (rest > 0) {
      val skipped = in.skip(rest)
      if (skipped <= 0) {
        if (in.read() < 0)
          throw new EOFException("record body ended inside skipped tail")
        rest -= 1
      } else rest -= skipped
    }
    (buf, keep < n)
  }

  /** Lazily yields the records of ONE stream; stops (rather than
    * throws) on a torn tail. Closes the stream when exhausted. */
  private[sources] def recordIterator(in: InputStream, file: String,
      maxBodyBytes: Int): Iterator[Row] =
    typedRecordIterator(in, file, maxBodyBytes).map(r =>
      Row(r.warc_type, r.record_id, r.target_uri, r.warc_date,
        r.content_type, r.content_length,
        r.http_status.map(Integer.valueOf).orNull, r.http_content_type,
        r.body, r.truncated, r.source_file))

  /** [[recordIterator]]'s typed core. */
  private[sources] def typedRecordIterator(in: InputStream, file: String,
      maxBodyBytes: Int): Iterator[WarcRecord] = new Iterator[WarcRecord] {
    private var nextRow: WarcRecord = null
    private var done = false

    private def advance(): Unit = {
      if (done || nextRow != null) return
      try {
        // seek the version line (skipping inter-record blank lines)
        var version: String = null
        var seeking = true
        while (seeking) readLine(in) match {
          case None => seeking = false
          case Some(l0) =>
            val l = l0.trim
            if (l.startsWith("WARC/")) { version = l; seeking = false }
            else if (l.nonEmpty)
              throw new EOFException(s"not a WARC header: $l")
        }
        if (version == null) { done = true; in.close(); return }
        // header block
        var headers = Map.empty[String, String]
        var h = readLine(in).getOrElse(throw new EOFException("torn header"))
        while (h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0)
            headers += h.substring(0, i).trim.toLowerCase ->
              h.substring(i + 1).trim
          h = readLine(in).getOrElse(throw new EOFException("torn header"))
        }
        val len = headers.getOrElse("content-length",
          throw new EOFException("record without Content-Length")).toLong
        val (block, truncated) = readFully(in, len, maxBodyBytes)
        val wtype = headers.getOrElse("warc-type", "unknown")
        val ctype = headers.getOrElse("content-type", null)
        // http response payload: split the HTTP header block off
        var status: Integer = null
        var httpCt: String = null
        var body = block
        if (wtype == "response" && ctype != null &&
            ctype.startsWith("application/http")) {
          val (st, hct, payload) = splitHttp(block)
          status = st; httpCt = hct; body = payload
        }
        nextRow = WarcRecord(wtype,
          headers.getOrElse("warc-record-id", null),
          headers.getOrElse("warc-target-uri", null),
          headers.getOrElse("warc-date", null),
          ctype, len, Option(status).map(_.intValue), httpCt, body,
          truncated, file)
      } catch {
        case _: EOFException | _: NumberFormatException =>
          done = true
          in.close()
      }
    }

    override def hasNext: Boolean = { advance(); nextRow != null }
    override def next(): WarcRecord = {
      advance()
      if (nextRow == null) throw new NoSuchElementException
      val r = nextRow; nextRow = null; r
    }
  }

  /** Split an HTTP/1.x message block into (status, content-type,
    * payload). A malformed block comes back whole with null status. */
  private def splitHttp(block: Array[Byte])
      : (Integer, String, Array[Byte]) = {
    // find the header/payload boundary: CRLFCRLF (or LFLF)
    var i = 0
    var boundary = -1
    var payloadStart = -1
    while (i < block.length && boundary < 0) {
      if (block(i) == '\n') {
        if (i + 1 < block.length && block(i + 1) == '\n') {
          boundary = i; payloadStart = i + 2
        } else if (i + 2 < block.length && block(i + 1) == '\r' &&
            block(i + 2) == '\n') {
          boundary = i; payloadStart = i + 3
        }
      }
      i += 1
    }
    if (boundary < 0) return (null, null, block)
    val head = new String(block, 0, boundary, StandardCharsets.ISO_8859_1)
    val lines = head.split("\r?\n")
    val status: Integer =
      if (lines.nonEmpty && lines(0).startsWith("HTTP/")) {
        val parts = lines(0).split(" ")
        if (parts.length >= 2 && parts(1).forall(_.isDigit))
          Integer.valueOf(parts(1).toInt)
        else null
      } else null
    if (status == null) return (null, null, block)
    val ct = lines.drop(1).collectFirst {
      case l if l.toLowerCase.startsWith("content-type:") =>
        l.substring("content-type:".length).trim
    }.orNull
    (status, ct, java.util.Arrays.copyOfRange(block, payloadStart, block.length))
  }
}
