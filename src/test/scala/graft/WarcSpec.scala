package graft

import org.apache.spark.sql.functions._

import graft.sources.Warc

/** Specs for the WARC crawl-archive reader (sources/Warc.scala): record
  * framing, gzip members, the payload cap, HTTP body split, and the
  * distributed read through the binaryFile source.
  */
class WarcSpec extends SparkTestBase {

  import spark.implicits._

  private def rec(uri: String, body: String, warcType: String = "response") =
    (warcType, uri, "2026-01-01T00:00:00Z", "application/http; msgtype=response",
      Warc.httpResponse(body.getBytes("UTF-8"), "text/html; charset=utf-8"))

  test("render → parse round trip, plain and member-gzipped") {
    val records = Seq(rec("http://a/", "alpha"), rec("http://b/", "beta content"),
      ("warcinfo", "", "2026-01-01T00:00:00Z", "application/warc-fields",
        "software: graft-test\r\n".getBytes("UTF-8")))
    for (gz <- Seq(false, true)) {
      val bytes = Warc.render(records, gzipMembers = gz)
      val parsed = Warc.parseRecords("f", bytes, maxRecordBytes = 1 << 20)
      parsed.length shouldBe 3
      parsed.map(_.record_idx) shouldBe Seq(0, 1, 2)
      parsed(0).warc_type shouldBe "response"
      parsed(0).target_uri shouldBe "http://a/"
      parsed(0).warc_date shouldBe "2026-01-01T00:00:00Z"
      parsed(0).content_length shouldBe parsed(0).payload.length.toLong
      new String(Warc.httpBody(parsed(0).payload), "UTF-8") shouldBe "alpha"
      new String(Warc.httpBody(parsed(1).payload), "UTF-8") shouldBe "beta content"
      parsed(2).warc_type shouldBe "warcinfo"
      parsed.forall(!_.truncated) shouldBe true
    }
  }

  test("payload cap truncates one record but keeps the stream aligned") {
    val big = "x" * 5000
    val bytes = Warc.render(
      Seq(rec("http://big/", big), rec("http://after/", "small")), gzipMembers = true)
    val parsed = Warc.parseRecords("f", bytes, maxRecordBytes = 100)
    parsed.length shouldBe 2
    parsed(0).truncated shouldBe true
    parsed(0).payload.length shouldBe 100
    parsed(0).content_length should be > 5000L // declared length survives
    // the record AFTER the capped one parses whole — alignment held
    parsed(1).truncated shouldBe false
    parsed(1).target_uri shouldBe "http://after/"
    new String(Warc.httpBody(parsed(1).payload), "UTF-8") shouldBe "small"
  }

  test("a newline-free line bomb stops the parse at the cap, keeping prior records") {
    // r17: a header "line" that never ends (the no-newline gzip-bomb
    // shape) must terminate at the bounded line buffer instead of
    // growing until OOM — records before it stay parsed
    val good = Warc.render(Seq(
      ("response", "http://ok/", "2026-01-01T00:00:00Z", "text/plain",
        "fine".getBytes("UTF-8"))), gzipMembers = false)
    val bomb = good ++ ("W" * (3 << 20)).getBytes("ISO-8859-1") // 3 MB, no newline
    val recs = Warc.parseRecords("f", bomb, 1 << 20)
    // r18: the stop is OBSERVABLE — a graft:truncated marker record tails
    // the parse, so a capped line is distinguishable from a clean EOF
    // (before this, a legitimate record with one over-long header line
    // silently cost the whole file tail)
    recs.length shouldBe 2
    recs.head.target_uri shouldBe "http://ok/"
    recs(1).warc_type shouldBe "graft:truncated"
    recs(1).content_length shouldBe -1L
    recs(1).truncated shouldBe true
    // an over-long WARC-Target-URI inside an otherwise-legitimate record
    // leaves the same marker (and keeps the records before it)
    val hugeUri = ("WARC/1.0\r\nWARC-Target-URI: http://h/" + "a" * (2 << 20) +
      "\r\nContent-Length: 0\r\n\r\n").getBytes("ISO-8859-1")
    val tailLoss = Warc.parseRecords("f", good ++ hugeUri, 1 << 20)
    tailLoss.map(_.warc_type) shouldBe Seq("response", "graft:truncated")
    // the marker never reaches page pipelines: the envelope consumers
    // filter warc_type == "response"
    import spark.implicits._
    val ds = spark.createDataset(tailLoss)
    Warc.responses(ds).count() shouldBe 1L
    // while a health query can count the truncation it represents
    ds.filter(_.warc_type == "graft:truncated").count() shouldBe 1L
    // a CLEAN file leaves no marker
    Warc.parseRecords("f", good, 1 << 20).map(_.warc_type) shouldBe Seq("response")
  }

  test("malformed tail keeps the whole records before it") {
    val good = Warc.render(Seq(rec("http://ok/", "fine")), gzipMembers = false)
    val broken = good ++ "WARC/1.0\r\nWARC-Type: response\r\n\r\n".getBytes("UTF-8")
    val parsed = Warc.parseRecords("f", broken, maxRecordBytes = 1 << 20)
    parsed.length shouldBe 1 // no Content-Length on the tail → unwalkable
    parsed(0).target_uri shouldBe "http://ok/"
    // not WARC at all → zero records, no exception
    Warc.parseRecords("f", "random bytes".getBytes("UTF-8"), 1 << 20) shouldBe empty
  }

  test("httpBody splits at CRLFCRLF or LFLF; payloads without a break pass through") {
    new String(Warc.httpBody("HTTP/1.1 200 OK\r\nA: b\r\n\r\nBODY".getBytes("UTF-8")),
      "UTF-8") shouldBe "BODY"
    new String(Warc.httpBody("HTTP/1.1 200 OK\nA: b\n\nBODY".getBytes("UTF-8")),
      "UTF-8") shouldBe "BODY"
    new String(Warc.httpBody("no header break".getBytes("UTF-8")),
      "UTF-8") shouldBe "no header break"
  }

  test("responses surface the HTTP envelope: status and media type gate the crawl") {
    def resp(uri: String, status: String, ct: String, body: String) =
      ("response", uri, "2026-01-01T00:00:00Z", "application/http; msgtype=response", {
        val head = s"HTTP/1.1 $status\r\nContent-Type: $ct\r\n\r\n"
        (head + body).getBytes("UTF-8")
      })
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_meta")
    java.nio.file.Files.write(dir.resolve("m.warc.gz"),
      Warc.render(Seq(
        resp("http://ok/", "200 OK", "text/html; charset=utf-8", "<p>keep</p>"),
        resp("http://gone/", "404 Not Found", "text/html", "<p>miss</p>"),
        resp("http://img/", "200 OK", "image/png", "not text"),
        resp("http://moved/", "301 Moved Permanently", "text/html", "")), gzipMembers = true))
    val rs = Warc.responses(Warc.read(spark, dir.toString))
    val byUri = rs.collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    byUri("http://ok/") shouldBe (200, "text/html")
    byUri("http://gone/") shouldBe (404, "text/html")
    byUri("http://img/") shouldBe (200, "image/png")
    byUri("http://moved/") shouldBe (301, "text/html")
    // the standard crawl gate: 200 + text/html only
    val kept = rs.filter(col("status") === 200 && col("media_type") === "text/html")
      .select("target_uri").as[String].collect().toSet
    kept shouldBe Set("http://ok/")
    // a payload with no HTTP envelope reports -1 / ""
    Warc.httpStatus("just bytes".getBytes("UTF-8")) shouldBe -1
    Warc.httpMediaType("just bytes".getBytes("UTF-8")) shouldBe ""
    // the status token must be exactly three digits — junk stays junk
    Warc.httpStatus("HTTP/1.1 2000 Bogus\r\n\r\n".getBytes("UTF-8")) shouldBe -1
    Warc.httpStatus("HTTP/1.1 200x\r\n\r\n".getBytes("UTF-8")) shouldBe -1
    Warc.httpStatus("HTTP/1.1 204\r\n\r\n".getBytes("UTF-8")) shouldBe 204
  }

  test("responseTexts decodes the charset each response declares") {
    // a latin-1 page: 0xE9 is é in ISO-8859-1 but an invalid UTF-8 byte
    val latin1Body = "café".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val latin1 = ("response", "http://fr/", "2026-01-01T00:00:00Z",
      "application/http; msgtype=response",
      Warc.httpResponse(latin1Body, "text/html; charset=ISO-8859-1"))
    val utf8 = rec("http://utf/", "café") // UTF-8 by default
    val noCharset = ("response", "http://bare/", "2026-01-01T00:00:00Z",
      "application/http; msgtype=response",
      Warc.httpResponse("plain ascii".getBytes("UTF-8"), "text/html"))
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_cs")
    java.nio.file.Files.write(dir.resolve("cs.warc.gz"),
      Warc.render(Seq(latin1, utf8, noCharset), gzipMembers = true))
    // the RFC 7231 quoted-string form must parse too
    val quoted = ("response", "http://qt/", "2026-01-01T00:00:00Z",
      "application/http; msgtype=response",
      Warc.httpResponse(latin1Body, "text/html; charset=\"ISO-8859-1\""))
    java.nio.file.Files.write(dir.resolve("qt.warc"),
      Warc.render(Seq(quoted), gzipMembers = false))
    val texts = Warc.responseTexts(Warc.read(spark, dir.toString))
      .as[(String, String)].collect().toMap
    texts("http://fr/") shouldBe "café" // latin-1 decoded, not mojibake
    texts("http://qt/") shouldBe "café" // quoted charset label decoded too
    texts("http://utf/") shouldBe "café"
    texts("http://bare/") shouldBe "plain ascii" // no charset → UTF-8 default
  }

  test("charset anchors to the Content-Type header, not any 'charset=' in the head") {
    // r17: a 'charset=' inside some OTHER header's value (here a Link URL
    // naming utf-16be) must NOT pick the decode charset — only the
    // Content-Type header's own parameter does
    val latin1Body = "café".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def payload(headers: String): Array[Byte] = {
      val head = s"HTTP/1.1 200 OK\r\n$headers\r\nContent-Length: ${latin1Body.length}\r\n\r\n"
      val out = new java.io.ByteArrayOutputStream()
      out.write(head.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      out.write(latin1Body)
      out.toByteArray
    }
    val decoy = payload(
      "Link: <http://x/?charset=utf-16be>; rel=alternate\r\n" +
        "Content-Type: text/html; charset=ISO-8859-1")
    new String(Warc.httpBody(decoy),
      graft.sources.Warc.httpCharset(decoy).get) shouldBe "café"
    // a decoy with NO charset on Content-Type falls to the UTF-8 default
    val decoyOnly = payload(
      "Link: <http://x/?charset=utf-16be>; rel=alternate\r\nContent-Type: text/html")
    Warc.httpCharset(decoyOnly) shouldBe None
    // media type is unaffected by the decoy header
    Warc.httpMediaType(decoy) shouldBe "text/html"
  }

  test("sitemap parsing: urlset and index entries, entities, hostile input") {
    import graft.sources.Sitemaps
    import spark.implicits._
    // every case goes through the one public form: a one-row frame exploded
    // by Sitemaps.entries into (loc, lastmod, is_index) rows, in order
    def parsed(xml: String): Seq[(String, String, Boolean)] =
      Sitemaps.entries(Seq((1L, xml)).toDF("doc_id", "xml")).collect().toSeq
        .map(r => (r.getString(1), r.getString(2), r.getBoolean(3)))
    def locs(xml: String): Seq[String] = parsed(xml).map(_._1)
    val leaf = """<?xml version="1.0" encoding="UTF-8"?>
      |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      |  <url><loc>https://ex.com/a?x=1&amp;y=2</loc><lastmod>2026-02-03</lastmod></url>
      |  <url><loc> https://ex.com/b </loc><priority>0.8</priority></url>
      |</urlset>""".stripMargin
    parsed(leaf) shouldBe Seq(
      ("https://ex.com/a?x=1&y=2", "2026-02-03", false),
      ("https://ex.com/b", "", false))
    val index = "<sitemapindex><sitemap><loc>https://ex.com/s1.xml</loc></sitemap>" +
      "<sitemap><loc>https://ex.com/s2.xml</loc></sitemap></sitemapindex>"
    parsed(index).map(e => (e._1, e._3)) shouldBe
      Seq(("https://ex.com/s1.xml", true), ("https://ex.com/s2.xml", true))
    // malformed tail keeps whole entries; garbage yields none
    locs("<urlset><url><loc>https://ok/</loc></url><url><loc>truncated") shouldBe
      Seq("https://ok/")
    // a stray child element inside <loc> is transparent, not URL-dropping
    locs("<urlset><url><loc>https://a/<br/>b</loc></url></urlset>") shouldBe Seq("https://a/b")
    // extension namespaces nest their own same-local-name elements DEEPER
    // (Google image sitemaps): an <image:loc> inside <image:image> must
    // not overwrite the page's <loc> — namespace-agnostic matching is
    // depth-guarded to direct children of <url> (r19 review catch: the
    // frontier was seeded with image URLs instead of pages)
    locs("<urlset><url><loc>https://site/page</loc>" +
      "<image:image><image:loc>https://site/img.jpg</image:loc>" +
      "<image:caption>x</image:caption></image:image></url></urlset>") shouldBe
      Seq("https://site/page")
    // order-independent: extension block before the real loc
    locs("<urlset><url><image:image><image:loc>https://site/img.jpg" +
      "</image:loc></image:image><loc>https://site/page2</loc></url></urlset>") shouldBe
      Seq("https://site/page2")
    parsed("not xml at all") shouldBe Seq.empty
    // a DOCTYPE (the XXE/billion-laughs vector) aborts the parse safely
    parsed("<!DOCTYPE lolz [<!ENTITY a \"b\">]><urlset><url>" +
      "<loc>https://x/&a;</loc></url></urlset>") shouldBe Seq.empty
    // the DataFrame explode keeps ids attached
    val out = Sitemaps.entries(Seq((7L, leaf)).toDF("doc_id", "xml")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    out shouldBe Set((7L, "https://ex.com/a?x=1&y=2"), (7L, "https://ex.com/b"))
    // a null or non-numeric id skips the row instead of killing the task
    val mixed = Seq((java.lang.Long.valueOf(1L), leaf),
      (null.asInstanceOf[java.lang.Long], leaf)).toDF("doc_id", "xml")
    Sitemaps.entries(mixed).select("doc_id").distinct().collect()
      .map(_.getLong(0)) shouldBe Array(1L)
  }

  test("end to end: WARC archive → main text → quality signals → exact dedup") {
    // the full crawl-ingest composition on one fixture: two pages with the
    // same article body behind different nav chrome (a crawl's most common
    // duplicate shape), one distinct page, one latin-1 page
    def page(nav: String, body: String) =
      s"<html><body><nav><a href='/'>$nav</a></nav><p>$body</p></body></html>"
    val article = "The quick brown fox jumps over the lazy dog in the morning sun."
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_e2e")
    java.nio.file.Files.write(dir.resolve("crawl.warc.gz"),
      Warc.render(Seq(
        rec("http://a/", page("HomeA", article)),
        rec("http://b/", page("OtherNav", article)),
        rec("http://c/", page("HomeC", "A completely different page body here.")),
        ("response", "http://fr/", "2026-01-01T00:00:00Z",
          "application/http; msgtype=response",
          Warc.httpResponse(
            page("Nav", "Le renard café saute.").getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1),
            "text/html; charset=ISO-8859-1"))), gzipMembers = true))
    val texts = Warc.responseTexts(Warc.read(spark, dir.toString))
      .select(col("target_uri").as("doc_id"),
        graft.functions.HtmlFunctions.htmlMainText(col("body")).as("text"))
    // chrome gone: the nav line is link-dense and dropped everywhere
    val byUri = texts.as[(String, String)].collect().toMap
    byUri("http://a/") shouldBe article
    byUri("http://b/") shouldBe article // different chrome, same main text
    byUri("http://fr/") shouldBe "Le renard café saute." // charset held
    // quality signals compute over the extracted corpus
    val quality = graft.pipeline.TextAnalysis.qualityScore(texts)
    quality.count() shouldBe 4
    // exact dedup now sees a/b as ONE text despite different raw HTML
    val deduped = graft.pipeline.Dedup.exact(texts)
    deduped.count() shouldBe 3
    deduped.filter(col("n_copies") === 2).select("text")
      .head().getString(0) shouldBe article
  }

  test("distributed read over multiple files; responseTexts feeds html_text") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_spec")
    java.nio.file.Files.write(dir.resolve("a.warc.gz"),
      Warc.render(Seq(
        rec("http://one/", "<html><body><p>Hello &amp; welcome</p></body></html>"),
        ("request", "http://one/", "2026-01-01T00:00:00Z", "application/http",
          "GET / HTTP/1.1\r\n".getBytes("UTF-8"))), gzipMembers = true))
    java.nio.file.Files.write(dir.resolve("b.warc"),
      Warc.render(Seq(rec("http://two/", "<p>Second page</p>")), gzipMembers = false))
    val recs = Warc.read(spark, dir.toString)
    recs.count() shouldBe 3
    // request records filter out; response bodies decode and extract
    val texts = Warc.responseTexts(recs)
      .select(col("target_uri"),
        graft.functions.HtmlFunctions.htmlText(col("body")).as("text"))
      .as[(String, String)].collect().toMap
    texts.keySet shouldBe Set("http://one/", "http://two/")
    texts("http://one/") shouldBe "Hello & welcome"
    texts("http://two/") shouldBe "Second page"
  }
}
