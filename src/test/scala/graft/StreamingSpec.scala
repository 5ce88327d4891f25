package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{EventStreams, StreamingDedup}

/** One row of the `events` stream table. */
case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Drives the streaming operators through real micro-batches with a
  * MemoryStream source and memory sinks: session windows, stream-stream
  * joins, and the stateless ingestion gates.
  */
class StreamingSpec extends SparkTestBase {

  private def ts(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-15 $hour%02d:$minute%02d:00")

  private def ev(id: Long, t: Timestamp, user: Long = 1L, typ: String = "click", v: Double = 1.0) =
    Event(id, t, user, typ, v)

  private def withQuery[T](q: StreamingQuery)(body: => T): T =
    try body finally q.stop()

  test("session windows split on the idle gap (batch form)") {
    val s = spark
    import s.implicits._
    // session_window is the same operator over batch input — assert values there
    val events = Seq(
      ev(1, ts(1, 0)), ev(2, ts(1, 10)), ev(3, ts(1, 25)), // one session
      ev(4, ts(2, 30)), ev(5, ts(2, 40)) // idle > 30 min → second session
    ).toDF()
    val sessions = EventStreams.userSessions(events, gap = "30 minutes")
      .collect().sortBy(_.getTimestamp(1).getTime)
    sessions.length shouldBe 2
    sessions(0).getLong(3) shouldBe 3L
    sessions(1).getLong(3) shouldBe 2L
  }

  test("streaming near-dup matches incoming docs against the static corpus index") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the warm afternoon sun"),
      (2L, "spark structured streaming keeps bounded state under an event time watermark"),
      (3L, "minhash signatures bucket similar documents into shared candidate bands")
    ).toDF("doc_id", "text")
    val idx = StreamingDedup.corpusBandIndex(corpus).persist()
    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup
      .nearDupMatches(input.toDF().toDF("doc_id", "text"), idx)
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    withQuery(query) {
      // batch 1: a near-copy of corpus doc 1 and a genuinely novel doc
      input.addData(
        (100L, "the quick brown fox jumps over the lazy dog in the warm afternoon sun graftdup"),
        (101L, "entirely unrelated words about cooking pasta with garlic and olive oil"))
      query.processAllAvailable()
      // batch 2: a near-copy of corpus doc 2 — the static index serves
      // every micro-batch, no state carried on the stream side
      input.addData(
        (102L, "spark structured streaming keeps bounded state under an event time watermark graftdup"))
      query.processAllAvailable()
      // matches are a multiset (one row per colliding band) — distinct first
      val got = s.table("neardup").collect().map(r => (r.getLong(0), r.getLong(1))).distinct
      got.toSet shouldBe Set((100L, 1L), (102L, 2L))
      // the scale claim, asserted: the stream side holds NO streaming state —
      // per-batch cost is the batch's own rows + the static join, regardless
      // of how much has been ingested before
      query.lastProgress.stateOperators shouldBe empty
    }
    idx.unpersist()
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStreams.clickToPurchaseJoin(
      clicks.toDF(), purchases.toDF(), horizon = "30 minutes")
    val query = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    withQuery(query) {
      // user 7: clicks at 1:00 and 1:20 (in horizon of a 1:30 purchase),
      // and at 0:30 (outside); user 8 clicks but never purchases
      clicks.addData(
        ev(11, ts(0, 30), user = 7, v = 1.0),
        ev(12, ts(1, 0), user = 7, v = 2.0),
        ev(13, ts(1, 20), user = 7, v = 3.0),
        ev(14, ts(1, 25), user = 8, v = 9.0))
      purchases.addData(ev(50, ts(1, 30), user = 7, typ = "purchase"))
      query.processAllAvailable()
      val got = s.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(3), r.getDouble(4))).toSet
      got shouldBe Set(
        (50L, 7L, ts(1, 0), 2.0),
        (50L, 7L, ts(1, 20), 3.0))
      // both sides are stateful (buffered within the watermark horizon) —
      // the time-bounded condition is what lets that state expire
      query.lastProgress.stateOperators should not be empty
    }
  }

  test("ingestion-time crawl gate: robots filter + main-text extraction, stateless") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.functions.col
    val robots = "User-agent: *\nDisallow: /private/"
    val input = MemoryStream[(Long, String, String)] // (id, path, raw html)
    // the whole crawl tier is per-row (robots decision via mapPartitions,
    // extraction via codegen expression), so it rides a stream unchanged
    // and holds no state
    val frontier = input.toDF().toDF("doc_id", "path", "html")
      .withColumn("robots_txt", org.apache.spark.sql.functions.lit(robots))
    val extracted = graft.pipeline.Robots.filterAllowed(frontier, "graft")
      .select(col("doc_id"),
        graft.functions.HtmlFunctions.htmlMainText(col("html")).as("text"))
    val query = extracted.writeStream.format("memory").queryName("crawlgate")
      .outputMode("append").start()
    withQuery(query) {
      input.addData(
        (1L, "/page/a", "<nav><a href='/'>Home</a></nav><p>Allowed article body</p>"),
        (2L, "/private/x", "<p>never fetched</p>"))
      query.processAllAvailable()
      input.addData((3L, "/page/b", "<script>x()</script><p>Second batch body</p>"))
      query.processAllAvailable()
      val rows = s.table("crawlgate").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      rows shouldBe Map(1L -> "Allowed article body", 3L -> "Second batch body")
      query.lastProgress.stateOperators shouldBe empty
    }
  }

  test("streaming crawl frontier: envelope gate → links → canonicalize → seen-drop → robots, stateless") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.functions.{col, explode, lit, regexp_replace}
    // the q_crawl_frontier chain minus the (inherently batch, windowed)
    // schedule step, composed onto a STREAM of fetched responses: every
    // stage is per-row or stream-static, so the query holds no state —
    // the ingest form a continuous crawler runs between fetch and queue
    val input = MemoryStream[(String, Int, String, String)] // uri, status, media_type, body
    val resp = input.toDF().toDF("target_uri", "status", "media_type", "body")
    val links = resp
      .filter(col("status") === 200 && col("media_type") === "text/html")
      .select(explode(graft.functions.HtmlFunctions.htmlLinks(col("body"))).as("url"))
      .select(graft.pipeline.Urls.canonicalizeUrl(col("url")).as("url"))
    // seen-set drop: a stream-static LEFT ANTI join against the crawl
    // history is evaluated per batch with no state store
    val history = Seq("https://a.com/doc/1").toDF("url")
    val frontier = links.join(history, Seq("url"), "left_anti")
      .select(col("url"),
        graft.pipeline.Urls.hostOf(col("url")).as("host"),
        regexp_replace(col("url"), "^[a-z]+://[^/]*", "").as("path"))
      .withColumn("robots_txt", lit("User-agent: *\nDisallow: /private/"))
    val allowed = graft.pipeline.Robots.filterAllowed(frontier, "graft")
      .select("host", "path")
    val query = allowed.writeStream.format("memory").queryName("frontier_stream")
      .outputMode("append").start()
    withQuery(query) {
      input.addData(
        // canonicalization makes the first link EQUAL the history row
        // (host lowers, tracking param strips) → seen-dropped; the
        // /private/ link is robots-denied; /new/1 survives
        ("https://a.com/doc/0", 200, "text/html",
          "<a href='HTTPS://A.COM/doc/1?utm_source=x'>seen</a>" +
            "<a href='https://b.com/new/1'>fresh</a>" +
            "<a href='https://a.com/private/z'>secret</a>"),
        ("https://a.com/doc/9", 404, "text/html", "<a href='https://c.com/x'>gone</a>"),
        ("https://a.com/doc/8", 200, "application/pdf", "<a href='https://c.com/y'>bin</a>"))
      query.processAllAvailable()
      input.addData(
        ("https://b.com/doc/2", 200, "text/html", "<a href='https://b.com/new/2'>f2</a>"))
      query.processAllAvailable()
      s.table("frontier_stream").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
        Set(("b.com", "/new/1"), ("b.com", "/new/2"))
      query.lastProgress.stateOperators shouldBe empty
    }
  }

  test("ingestion-time curation (redact + quality gate) is stateless") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, String)]
    // the map-side curation operators compose onto a stream unchanged:
    // regex masking and a length gate are per-row, so per-batch cost is
    // ∝ batch size and the query holds NO state
    val curated = graft.pipeline.Redaction
      .redactPii(input.toDF().toDF("doc_id", "text"))
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) >= 15)
    val query = curated.writeStream.format("memory").queryName("curate")
      .outputMode("append").start()
    withQuery(query) {
      input.addData((1L, "reach me at bob@x.example.com for details"), (2L, "tiny"))
      query.processAllAvailable()
      input.addData((3L, "server 10.1.2.3 responded with a long body"))
      query.processAllAvailable()
      val rows = s.table("curate").collect().map(r => (r.getLong(0), r.getString(1))).toMap
      rows.keySet shouldBe Set(1L, 3L)
      rows(1L) shouldBe "reach me at [EMAIL] for details"
      rows(3L) shouldBe "server [IP] responded with a long body"
      query.lastProgress.stateOperators shouldBe empty
    }
  }

  test("streaming frontier gate against the compacted CDX archive history, stateless") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.functions._
    // at archive scale the crawl HISTORY is the CDX index itself — gate
    // new candidates with a stream-static anti join on the SURT key: no
    // archive parse, no bloom build, zero state on the stream side (the
    // index is ~1/1000 the archive's bytes, and a compacted index is
    // SURT-range-partitioned so the static side prunes)
    val dir = java.nio.file.Files.createTempDirectory("graft_cdxgate_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cdxgate_idx").toString
    graft.sources.WarcSink.write(Seq(
      ("https://h0.example/doc/1", "a".getBytes("UTF-8")),
      ("https://h1.example/doc/2", "b".getBytes("UTF-8")))
      .toDF("target_uri", "payload"), dir)
    graft.sources.WarcCdx.compact(s, dir, out, nParts = 2)
    val history = graft.sources.WarcCdx.readCompacted(s, out).select(col("urlkey"))
    val input = MemoryStream[String]
    val gated = input.toDF().toDF("url")
      .withColumn("urlkey", graft.pipeline.Urls.surtKey(col("url")))
      .join(history, Seq("urlkey"), "left_anti")
    val query = gated.writeStream.format("memory").queryName("cdxgate")
      .outputMode("append").start()
    withQuery(query) {
      input.addData(
        "https://h0.example/doc/1",     // archived verbatim → dropped
        "https://H1.example:443/doc/2", // same page, messy form — SURT normalizes → dropped
        "https://h0.example/doc/9")     // genuinely new → kept
      query.processAllAvailable()
      query.lastProgress.stateOperators shouldBe empty
      s.table("cdxgate").collect().map(_.getAs[String]("url")).toSeq shouldBe
        Seq("https://h0.example/doc/9")
    }
  }

  test("r13 map-side gates (url canon + host, int8 quantize) are stateless on a stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.functions._
    // the round's new ingestion-time operators are pure column algebra, so
    // they compose onto a continuous query with ZERO state and emit exactly
    // what the batch transform emits on the same rows
    val rows = Seq(
      (1L, "HTTP://Example.COM:80/a?utm_source=f&q=1#x", Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, "https://WWW.Other.ORG/b", Seq(0.0f, 0.0f, 0.0f, 0.0f)))
    val input = MemoryStream[(Long, String, Seq[Float])]
    def urlGate(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"),
        graft.pipeline.Urls.canonicalizeUrl(col("url")).as("canon_url"),
        graft.pipeline.Urls.hostOf(col("url")).as("host"))
    val streamed = urlGate(input.toDF().toDF("id", "url", "embedding"))
    val query = streamed.writeStream.format("memory").queryName("urlgate")
      .outputMode("append").start()
    withQuery(query) {
      input.addData(rows: _*)
      query.processAllAvailable()
      query.lastProgress.stateOperators shouldBe empty
      s.table("urlgate").collect().toSet shouldBe
        urlGate(rows.toDF("id", "url", "embedding")).collect().toSet
    }
    val input2 = MemoryStream[(Long, String, Seq[Float])]
    val quantized = graft.pipeline.Similarity.quantizeInt8(
      input2.toDF().toDF("id", "url", "embedding"), idCol = "id")
    val query2 = quantized.writeStream.format("memory").queryName("int8gate")
      .outputMode("append").start()
    withQuery(query2) {
      input2.addData(rows: _*)
      query2.processAllAvailable()
      query2.lastProgress.stateOperators shouldBe empty
      s.table("int8gate").collect().toSet shouldBe
        graft.pipeline.Similarity.quantizeInt8(
          rows.toDF("id", "url", "embedding"), idCol = "id").collect().toSet
    }
  }

  test("normalize + Gopher-rule gates are stateless on a stream, matching batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, "  the\tquick   brown fox jumps over the lazy dog today  "),
      (2L, "## ### ####"),
      (3L, "a b"))
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.TextAnalysis.gopherQuality(
        df.select(col("doc_id"),
          graft.pipeline.TextAnalysis.normalizeText(col("text")).as("text")),
        minWords = 3, maxWords = 100, minMeanWordLen = 2.0, maxMeanWordLen = 8.0,
        maxSymbolRatio = 0.1, minAlphaFrac = 0.8, minStopwordHits = 1)
    val input = MemoryStream[(Long, String)]
    val query = gate(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gophergate")
      .outputMode("append").start()
    withQuery(query) {
      input.addData(rows: _*)
      query.processAllAvailable()
      // pure column algebra end to end: zero streaming state, and the
      // continuous rows equal the batch transform on the same input
      query.lastProgress.stateOperators shouldBe empty
      s.table("gophergate").collect().toSet shouldBe
        gate(rows.toDF("doc_id", "text")).collect().toSet
      // and the normalized doc 1 passes while the symbol soup fails
      val keep = s.table("gophergate").collect()
        .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
      keep(1L) shouldBe true
      keep(2L) shouldBe false
    }
  }

  test("deterministic sampling composes onto a stream statelessly, matching batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
    val input = MemoryStream[(Long, String)]
    val sampled = graft.pipeline.Sampling.stratifiedSample(
      input.toDF().toDF("doc_id", "lang"), "doc_id", "lang", Map("en" -> 0.5), default = 0.1)
    val query = sampled.writeStream.format("memory").queryName("sampled")
      .outputMode("append").start()
    withQuery(query) {
      input.addData(rows.take(200): _*)
      query.processAllAvailable()
      input.addData(rows.drop(200): _*)
      query.processAllAvailable()
      val streamed = s.table("sampled").select("doc_id").as[Long].collect().toSet
      // membership is a pure function of content: the stream selects the
      // same ids as a batch run over the same rows
      val batch = graft.pipeline.Sampling.stratifiedSample(
        rows.toDF("doc_id", "lang"), "doc_id", "lang", Map("en" -> 0.5), default = 0.1)
        .select("doc_id").as[Long].collect().toSet
      streamed shouldBe batch
      query.lastProgress.stateOperators shouldBe empty
    }
  }

  test("incremental ingest gate (dropSeenBefore) in foreachBatch: exact, bloom built once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val history = (0L until 50L).map(i => (i, s"already crawled page $i")).toDF("doc_id", "text")
    // the cross-batch form: the bloom is built ONCE over history and reused
    // by every micro-batch (the filterBytes override) — per-batch cost is
    // the batch's rows + a map-side history scan for its few candidates
    val bytes = graft.operators.BloomPrune.buildFilterBytes(history, "text", 1000)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= pipeline.Dedup
          .dropSeenBefore(batch, history, filterBytes = Some(bytes))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        ()
      }
      .start()
    withQuery(query) {
      input.addData((100L, "already crawled page 7"), (101L, "a fresh discovery"))
      query.processAllAvailable()
      input.addData((102L, "already crawled page 7"), (103L, "another novel page"))
      query.processAllAvailable()
      // re-crawls dropped in every batch; fresh rows pass — the stream
      // itself carries no state (the gate is a pure per-batch function)
      out.map(_._1).sorted shouldBe Seq(101L, 103L)
      query.lastProgress.stateOperators shouldBe empty
    }
  }
}
