package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) record reader — the container format web
  * crawls actually arrive in (Common Crawl publishes ~100 TB-scale WARC
  * segments), making this the first step of a crawl → text → quality →
  * dedup corpus pipeline (compose with [[graft.functions.HtmlText]] and the
  * TextAnalysis tiers downstream).
  *
  * Format essentials the parser implements: a WARC file is a sequence of
  * records, each `WARC/1.x` + CRLF header lines + blank line + exactly
  * `Content-Length` payload bytes + blank separator lines; Common Crawl
  * files gzip each record as its OWN member and concatenate, which
  * `GZIPInputStream` reads straight through (multi-member), so one stream
  * pass decodes the whole file either way (plain or gzip).
  *
  * Distribution model: `binaryFile` source → one task per WARC file, the
  * same unit of parallelism the crawl ecosystem uses (a Common Crawl
  * segment is ~1 GiB so tasks are chunky but bounded; at 100 TB that is
  * ~100k files = ~100k tasks). Per-record payloads are capped at
  * [[MaxRecordBytes]] (truncated, stream stays aligned) so one hostile
  * record cannot OOM a task. Malformed bytes stop the
  * file's parse at the last whole record instead of failing the task.
  */
object Warc {

  /** The payload cap of [[read]] and of a record read back through an index. */
  private[graft] val MaxRecordBytes: Int = 64 << 20

  /** One parsed WARC record. `payload` is the raw record block (for
    * `response` records: HTTP status line + headers + body — split with
    * [[httpBody]]); `content_length` is the declared length even when the
    * payload was `truncated` at the cap. `record_id` is the record's own
    * `WARC-Record-ID` (urn, angle brackets stripped); `refers_to` is the
    * `WARC-Refers-To` urn of a `revisit` record's referent — the
    * archive-time dedup link [[resolveRevisits]] follows — empty
    * otherwise.
    */
  case class WarcRecord(
      file: String,
      record_idx: Int,
      warc_type: String,
      target_uri: String,
      warc_date: String,
      content_type: String,
      content_length: Long,
      payload: Array[Byte],
      truncated: Boolean,
      record_id: String = "",
      refers_to: String = "")

  /** Read every record of every WARC file under `path` (plain or
    * member-gzipped, `*.warc` / `*.warc.gz`).
    */
  def read(
      spark: SparkSession, path: String): Dataset[WarcRecord] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) => parseRecords(file, bytes, MaxRecordBytes) }
  }

  /** Parse one WARC file's bytes (gzip-sniffed) into records. */
  private[graft] def parseRecords(
      file: String, bytes: Array[Byte], maxRecordBytes: Int): Seq[WarcRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    try {
      val base = new java.io.ByteArrayInputStream(bytes)
      val in = new java.io.BufferedInputStream(
        if (bytes.length >= 2 && bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte)
          new java.util.zip.GZIPInputStream(base, 64 * 1024)
        else base,
        64 * 1024)

      // one header/separator line, CRLF or LF, ISO-8859-1 (headers are
      // ASCII); null at EOF — or past the line cap: a gzip bomb whose
      // expansion never reaches a newline must stop the parse at a
      // bounded buffer, not grow the builder until the executor OOMs
      // (with NonFatal-only catching, that OOM would fail-and-retry the
      // task forever on the same deterministic input). A capped line sets
      // `poisoned` so the caller can tell it from a clean EOF/blank —
      // inside a header block a bare null would read as end-of-headers
      // and FABRICATE a record from misaligned bytes.
      val maxLineChars = 1 << 20
      var poisoned = false
      def readLine(): String = {
        val sb = new java.lang.StringBuilder
        var c = in.read()
        if (c < 0) return null
        while (c >= 0 && c != '\n') {
          if (sb.length() >= maxLineChars) { poisoned = true; return null }
          sb.append(c.toChar)
          c = in.read()
        }
        val s = sb.toString
        if (s.nonEmpty && s.charAt(s.length - 1) == '\r') s.substring(0, s.length - 1)
        else s
      }

      var idx = 0
      var done = false
      while (!done) {
        // skip the blank separator lines between records
        var line = readLine()
        while (line != null && line.isEmpty) line = readLine()
        if (line == null || poisoned || !line.startsWith("WARC/")) done = true
        else {
          val headers = scala.collection.mutable.Map.empty[String, String]
          var h = readLine()
          while (h != null && h.nonEmpty) {
            val colon = h.indexOf(':')
            if (colon > 0)
              headers(h.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)) =
                h.substring(colon + 1).trim
            h = readLine()
          }
          if (poisoned) headers.remove("content-length") // capped mid-headers: no record
          headers.get("content-length").flatMap(_.toLongOption) match {
            case None => done = true // a record without a length is unwalkable
            case Some(len) if len < 0 => done = true
            case Some(len) =>
              val take = math.min(len, maxRecordBytes.toLong).toInt
              val payload = in.readNBytes(take)
              if (payload.length < take) done = true // truncated file
              else {
                if (len > take) in.skipNBytes(len - take) // stay aligned past the cap
                def urn(k: String): String =
                  headers.get(k).map(_.stripPrefix("<").stripSuffix(">")).getOrElse("")
                out += WarcRecord(
                  file, idx,
                  headers.getOrElse("warc-type", ""),
                  headers.getOrElse("warc-target-uri", ""),
                  headers.getOrElse("warc-date", ""),
                  headers.getOrElse("content-type", ""),
                  len, payload, truncated = len > take,
                  record_id = urn("warc-record-id"),
                  refers_to = urn("warc-refers-to"))
                idx += 1
              }
          }
        }
      }
      // A line-cap (poisoned) stop must be OBSERVABLE, not a silent tail
      // drop indistinguishable from clean EOF (r17 advice): a legitimate
      // record with one over-long header line — a huge WARC-Target-URI,
      // say — otherwise loses the whole file tail with no trace. The
      // marker record (warc_type `graft:truncated`, content_length -1)
      // carries the file and the index where parsing stopped; every
      // envelope consumer ([[responses]]/[[responseTexts]]) filters
      // `warc_type == "response"` so the marker never reaches page
      // pipelines, while a corpus health query can count them:
      //   read(...).filter(_.warc_type == "graft:truncated")
      if (poisoned)
        out += WarcRecord(file, idx, "graft:truncated", "", "", "", -1L,
          Array.empty[Byte], truncated = true)
      // NonFatal only: malformed/truncated bytes keep the whole records
      // parsed so far, but a fatal JVM error (OOM, stack overflow) must
      // fail the task and retry — swallowing it would silently drop the
      // file's tail at crawl scale.
    } catch { case scala.util.control.NonFatal(_) => () }
    out.toSeq
  }

  /** Index where an HTTP payload's body starts — just past the first blank
    * line (CRLF CRLF, or bare LF LF from sloppy servers) — or 0 when there
    * is no header break (the whole payload is body). Shared by
    * [[httpBody]] and [[httpCharset]] so neither copies bytes to find it.
    */
  private[graft] def headerEnd(payload: Array[Byte]): Int = {
    var i = 0
    while (i < payload.length) {
      if (payload(i) == '\n') {
        // \n\r\n (the tail of \r\n\r\n) or \n\n
        if (i + 2 < payload.length && payload(i + 1) == '\r' && payload(i + 2) == '\n')
          return i + 3
        if (i + 1 < payload.length && payload(i + 1) == '\n')
          return i + 2
      }
      i += 1
    }
    0
  }

  /** The body of an HTTP message payload: everything after the first blank
    * line. A payload with no header break returns unchanged (no copy).
    */
  def httpBody(payload: Array[Byte]): Array[Byte] = {
    val he = headerEnd(payload)
    if (he == 0) payload
    else java.util.Arrays.copyOfRange(payload, he, payload.length)
  }

  /** The charset declared in an HTTP payload's own `Content-Type` header
    * (`charset=...`, bare or RFC 7231 quoted), or None. Scans only the
    * header section (before the body break), ASCII-decoded,
    * case-insensitive.
    */
  private[graft] def httpCharset(payload: Array[Byte]): Option[java.nio.charset.Charset] =
    charsetFromHead(lowerHead(payload))

  private def charsetFromHead(head: String): Option[java.nio.charset.Charset] = {
    // anchored to the Content-Type header's own value — a 'charset=' that
    // merely appears in some OTHER header's text (a Link/Location/Refresh
    // URL, say) must not pick the decode charset
    val ct = contentTypeValue(head)
    if (ct.isEmpty) return None
    val at = ct.indexOf("charset=")
    if (at < 0) None
    else {
      var e = at + "charset=".length
      // RFC 7231 allows the quoted-string form: charset="iso-8859-1"
      if (e < ct.length && (ct.charAt(e) == '"' || ct.charAt(e) == '\'')) e += 1
      val start = e
      while (e < ct.length && (ct.charAt(e).isLetterOrDigit ||
        ct.charAt(e) == '-' || ct.charAt(e) == '_' ||
        ct.charAt(e) == '.' || ct.charAt(e) == ':')) e += 1
      val name = ct.substring(start, e)
      try Some(java.nio.charset.Charset.forName(name))
      catch { case _: Exception => None } // unknown label → caller's default
    }
  }

  /** The full value (media type AND parameters, up to end of line) of the
    * lowercased head's `Content-Type` header — located at a line start
    * only, the one anchor [[mediaTypeFromHead]] and [[charsetFromHead]]
    * share. "" when absent.
    */
  private def contentTypeValue(head: String): String = {
    if (head.isEmpty) return ""
    val key = "content-type:"
    var at = head.indexOf(key)
    while (at > 0 && head.charAt(at - 1) != '\n') at = head.indexOf(key, at + 1)
    if (at < 0) return ""
    var e = at + key.length
    val start = e
    while (e < head.length && head.charAt(e) != '\r' && head.charAt(e) != '\n') e += 1
    head.substring(start, e)
  }

  /** The HTTP status code on the payload's first line (`HTTP/1.x NNN ...`),
    * or -1 when the payload does not start like an HTTP response.
    */
  private[graft] def httpStatus(payload: Array[Byte]): Int = {
    if (payload.length < 12 || payload(0) != 'H' || payload(1) != 'T' ||
      payload(2) != 'T' || payload(3) != 'P' || payload(4) != '/') return -1
    // skip to the first space, read three digits
    var i = 5
    while (i < payload.length && payload(i) != ' ' && payload(i) != '\n') i += 1
    if (i + 3 >= payload.length || payload(i) != ' ') return -1
    var code = 0
    var k = i + 1
    while (k <= i + 3) {
      val d = payload(k) - '0'
      if (d < 0 || d > 9) return -1
      code = code * 10 + d
      k += 1
    }
    // the token must END after three digits — "HTTP/1.1 2000" is junk
    if (i + 4 < payload.length && payload(i + 4) != ' ' &&
      payload(i + 4) != '\r' && payload(i + 4) != '\n') return -1
    code
  }

  /** The lowercased ASCII header block (before the body break), or ""
    * when the payload has no header break — ONE decode shared by every
    * envelope field so [[responses]] scans the block once per record.
    */
  private def lowerHead(payload: Array[Byte]): String = {
    val headerLen = headerEnd(payload)
    if (headerLen <= 0) ""
    else new String(payload, 0, headerLen,
      java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
  }

  /** The media type of the payload's `Content-Type` header (lowercased,
    * parameters like `; charset=` stripped), or "" when absent.
    */
  private[graft] def httpMediaType(payload: Array[Byte]): String =
    mediaTypeFromHead(lowerHead(payload))

  private def mediaTypeFromHead(head: String): String = {
    // line-start anchored via [[contentTypeValue]] — a header VALUE
    // containing the key text must not shadow the real header
    val ct = contentTypeValue(head)
    if (ct.isEmpty) return ""
    val semi = ct.indexOf(';')
    (if (semi < 0) ct else ct.substring(0, semi)).trim
  }

  /** `response` records with their HTTP envelope surfaced — (target_uri,
    * status, media_type, body): the columns the standard crawl gate
    * filters on (`status = 200 AND media_type = 'text/html'`) before any
    * extraction runs. Body text decodes in the charset the response
    * itself declares, defaulting to UTF-8.
    */
  def responses(records: Dataset[WarcRecord]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records.filter(_.warc_type == "response")
      .map { r =>
        // one header-block decode serves charset + media type; one
        // headerEnd walk serves the body split
        val head = lowerHead(r.payload)
        val cs = charsetFromHead(head)
          .getOrElse(java.nio.charset.StandardCharsets.UTF_8)
        (r.target_uri, httpStatus(r.payload), mediaTypeFromHead(head),
          new String(httpBody(r.payload), cs))
      }
      .toDF("target_uri", "status", "media_type", "body")
  }

  /** [[responses]] reduced to the (target_uri, body) shape — HTTP headers
    * stripped, charset-aware. The crawl → text entry point.
    */
  def responseTexts(records: Dataset[WarcRecord]): DataFrame =
    responses(records).select(col("target_uri"), col("body"))

  /** Materialize a payload-deduplicated archive back to its full view:
    * every `revisit` record (the WARC identical-payload-digest dedup
    * mechanism [[WarcSink]] writes with `dedup = true`) gets its
    * referent's payload + content type patched in and re-types as
    * `response`; all other records pass through unchanged. The result is
    * record-for-record what an undeduplicated write would have read back.
    *
    * Distribution: the corpus-sized response side is first NARROWED
    * map-side to the referenced records only — a semi join against the
    * (tiny, link-row) distinct refers_to set, which the planner
    * broadcasts — so the payload-carrying join shuffles one payload copy
    * per DISTINCT REFERENT plus the payload-less revisit rows, never the
    * whole corpus (without the narrowing, resolving a 100 TB read with a
    * handful of revisits would hash-shuffle every response payload by
    * record id). Revisits whose referent is missing (foreign/damaged
    * archive) keep their empty payload rather than fabricating bytes.
    */
  def resolveRevisits(records: Dataset[WarcRecord]): Dataset[WarcRecord] = {
    val spark = records.sparkSession
    import spark.implicits._
    // the revisit slice is PAYLOAD-LESS (~300 B records) — cached, so its
    // two consumers (the ref-id set and the resolving join) cost one scan
    // of `records`, not two; `records` itself is still read twice (here +
    // the pass-through union) — persist an expensive source before calling
    val revisits = graft.pipeline.Dedup.cache(
      records.filter(_.warc_type == "revisit").toDF())
    val refIds = revisits.select(col("refers_to").as("__rid")).distinct()
    val originals = records.filter(r => r.warc_type == "response" && r.record_id.nonEmpty)
      .map(r => (r.record_id, r.payload, r.content_type, r.content_length, r.truncated))
      .toDF("__rid", "__ref_payload", "__ref_ctype", "__ref_len", "__ref_trunc")
      .join(refIds, Seq("__rid"), "left_semi")
      // one referent ROW per id, chosen deterministically (min struct):
      // [[WarcSink.recordId]] makes cross-cycle collisions need an
      // identical (uri, date, payload, slot), but a foreign archive's ids
      // are outside our control — without this reduction a duplicated id
      // would MULTIPLY every revisit row joined below (and patch an
      // arbitrary payload in); with it the join key is unique by
      // construction, so output cardinality = input cardinality always
      .groupBy(col("__rid"))
      .agg(min(struct(col("__ref_payload"), col("__ref_ctype"), col("__ref_len"),
        col("__ref_trunc"))).as("__r"))
      .select(col("__rid"), col("__r.__ref_payload").as("__ref_payload"),
        col("__r.__ref_ctype").as("__ref_ctype"), col("__r.__ref_len").as("__ref_len"),
        col("__r.__ref_trunc").as("__ref_trunc"))
    val resolved = revisits
      .join(originals, col("refers_to") === col("__rid"), "left")
      .select(
        col("file"), col("record_idx"), lit("response").as("warc_type"),
        col("target_uri"), col("warc_date"),
        coalesce(col("__ref_ctype"), col("content_type")).as("content_type"),
        coalesce(col("__ref_len"), col("content_length")).as("content_length"),
        coalesce(col("__ref_payload"), col("payload")).as("payload"),
        // the patched payload carries the REFERENT's truncation state — a
        // cap-shortened referent must not resurface labeled complete
        // (r19 review catch); a missing referent keeps the revisit's own
        coalesce(col("__ref_trunc"), col("truncated")).as("truncated"),
        col("record_id"), col("refers_to"))
      .as[WarcRecord]
    records.filter(_.warc_type != "revisit").unionByName(resolved)
  }

  /** `response` records with the columns a DERIVATIVE build needs —
    * target_uri / warc_date / refers_to (the source record's id, the
    * `WARC-Refers-To` link every derivative carries) / media_type / the
    * charset-decoded body. One header-block decode per record, same as
    * [[responses]].
    */
  private def responseEnvelopes(records: Dataset[WarcRecord]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records.filter(_.warc_type == "response")
      .map { r =>
        val head = lowerHead(r.payload)
        val cs = charsetFromHead(head)
          .getOrElse(java.nio.charset.StandardCharsets.UTF_8)
        (r.target_uri, r.warc_date, r.record_id, mediaTypeFromHead(head),
          new String(httpBody(r.payload), cs))
      }
      .toDF("target_uri", "warc_date", "refers_to", "media_type", "body")
  }

  private def isHtmlMedia = col("media_type") === "text/html" ||
    col("media_type") === "application/xhtml+xml"

  /** WET derivation — the ecosystem's extracted-text companion format
    * (Common Crawl publishes a `.warc.wet` sidecar per WARC segment):
    * every `response` record maps to a `conversion` record whose payload
    * is the page's plain text — HTML bodies run the native
    * [[graft.functions.HtmlText]] extractor (or [[graft.functions.HtmlMainText]]
    * with `mainTextOnly`, which also drops link-density boilerplate
    * lines); non-HTML text passes through unchanged. Output is
    * [[WarcSink]] input schema: `Content-Type: text/plain`,
    * `WARC-Type: conversion`, `WARC-Refers-To` the source response's
    * record id — so `WarcSink.write(Warc.toWet(Warc.read(...)), out)`
    * is the WARC→WET job, fully executor-side (the extraction is a
    * codegen expression; distribution stays one task per archive file).
    */
  def toWet(
      records: Dataset[WarcRecord],
      mainTextOnly: Boolean = false): DataFrame = {
    val extract =
      if (mainTextOnly) graft.functions.HtmlFunctions.htmlMainText(col("body"))
      else graft.functions.HtmlFunctions.htmlText(col("body"))
    responseEnvelopes(records).select(
      col("target_uri"),
      when(isHtmlMedia, extract).otherwise(col("body")).cast("binary").as("payload"),
      col("warc_date"),
      lit("text/plain").as("content_type"),
      lit("conversion").as("warc_type"),
      col("refers_to"))
  }

  /** WAT derivation — the metadata companion format (Common Crawl's
    * `.warc.wat`): every `response` record maps to a `metadata` record
    * whose payload is a JSON envelope carrying the page's url, media
    * type, and outlinks (the native [[graft.functions.HtmlLinks]]
    * extraction in document order; non-HTML pages get an empty list).
    * Same sink contract as [[toWet]]: `WARC-Type: metadata`,
    * `Content-Type: application/json`, `WARC-Refers-To` the source
    * record — the link-graph / frontier input can then be built from
    * WAT archives alone, never re-reading page bytes.
    */
  def toWat(records: Dataset[WarcRecord]): DataFrame = {
    val links = when(isHtmlMedia, graft.functions.HtmlFunctions.htmlLinks(col("body")))
      .otherwise(array().cast("array<string>"))
    responseEnvelopes(records).select(
      col("target_uri"),
      to_json(struct(
        col("target_uri").as("url"), col("media_type").as("mime"),
        links.as("links"))).cast("binary").as("payload"),
      col("warc_date"),
      lit("application/json").as("content_type"),
      lit("metadata").as("warc_type"),
      col("refers_to"))
  }

  /** Render records to WARC bytes — each record its own gzip member when
    * `gzipMembers` (the Common Crawl layout). Fixture/writer plumbing for
    * specs and the round-trip query; the reader above is the product
    * surface.
    */
  private[graft] def render(
      records: Seq[(String, String, String, String, Array[Byte])],
      gzipMembers: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { case (warcType, uri, date, contentType, payload) =>
      val header =
        s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Target-URI: $uri\r\n" +
          s"WARC-Date: $date\r\nContent-Type: $contentType\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n"
      val rec = new java.io.ByteArrayOutputStream()
      rec.write(header.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      rec.write(payload)
      rec.write("\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      if (gzipMembers) {
        // close() (through the shield so `out` stays open) ENDS the native
        // Deflater — finish() alone leaks one off-heap zlib context per
        // member until GC, the same leak the sink's writer guards against
        val gz = new java.util.zip.GZIPOutputStream(new WarcDataWriter.NoClose(out))
        gz.write(rec.toByteArray); gz.close()
      } else out.write(rec.toByteArray)
    }
    out.toByteArray
  }

  /** [[render]] `records` member-gzipped into `dir/part-00000.warc.gz`,
    * creating `dir` — a driver-side archive for the query fixtures.
    */
  private[graft] def writeGzipped(
      dir: String, records: Seq[(String, String, String, String, Array[Byte])]): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve("part-00000.warc.gz"), render(records, gzipMembers = true))
  }

  /** An HTTP/1.1 200 response payload wrapping `body` — what a crawler
    * stores in a `response` record.
    */
  private[graft] def httpResponse(body: Array[Byte], contentType: String): Array[Byte] = {
    val head = s"HTTP/1.1 200 OK\r\nContent-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(head.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    out.write(body)
    out.toByteArray
  }
}
