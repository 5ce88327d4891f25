package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HtmlMainText, HtmlText}
import graft.pipeline.Robots
import graft.sources.Warc

/** Property pins for the crawl-ingest tier: the invariants that make the
  * extractor/parser components safe against arbitrary real-web input (not
  * just the spec fixtures) must hold for GENERATED content — random
  * whitespace shapes, adversarial glob patterns, binary payloads
  * containing the very delimiters the parsers frame by.
  */
object CrawlProps extends Properties("Crawl") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  import org.apache.spark.sql.catalyst.expressions.Literal
  private def htmlText(html: String): String =
    HtmlText(Literal(html)).compute(UTF8String.fromString(html)).toString
  private def htmlMain(html: String): String =
    HtmlMainText(Literal(html)).compute(UTF8String.fromString(html)).toString

  private val genText: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f'),
      2 -> Gen.oneOf('&', '<', '>', '"', '\'', ';', '#', '/', '.'))).map(_.mkString)

  property("html round trip: escaped text in page chrome extracts to \\s-collapsed text") =
    Prop.forAll(genText) { t =>
      val esc = t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      val page = "<html><head><script>if (1 < 2) { x(\"<a href='y'>\"); }</script>" +
        "</head><body><nav><a href=\"/\">Home</a></nav><p>" + esc + "</p></body></html>"
      val expected = t.replaceAll("[ \\t\\n\\r\\f]+", " ").trim
      htmlMain(page) == expected
    }

  property("html_text never throws and is idempotent-safe on ARBITRARY non-html text") =
    Prop.forAll(genText) { t =>
      // raw (unescaped) text through the extractor: must terminate and
      // produce output with collapsed whitespace (no \r/\t survivors,
      // no double spaces within a line)
      val out = htmlText(t)
      !out.contains('\r') && !out.contains('\t') && !out.contains("  ")
    }

  private val genPatSeg: Gen[String] = Gen.frequency(
    5 -> Gen.nonEmptyListOf(Gen.oneOf('a', 'b', '/', '.')).map(_.mkString),
    2 -> Gen.const("*"))
  private val genPattern: Gen[String] = for {
    segs <- Gen.nonEmptyListOf(genPatSeg).map(_.take(6))
    anchor <- Gen.oneOf("", "$")
  } yield segs.mkString + anchor
  private val genPath: Gen[String] =
    // '*' included: a LITERAL star in the path must not consume the
    // pattern's wildcard (the branch-order bug class)
    Gen.listOf(Gen.oneOf('a', 'b', '/', '.', '*')).map("/" + _.mkString)

  property("robots glob matcher ≡ regex reference on arbitrary patterns") =
    Prop.forAll(genPattern, genPath) { (pattern, path) =>
      val anchored = pattern.endsWith("$")
      val body = if (anchored) pattern.dropRight(1) else pattern
      val regex = body.split("\\*", -1).map(java.util.regex.Pattern.quote)
        .mkString(".*") + (if (anchored) "" else ".*")
      Robots.patternMatches(pattern, path) == path.matches(regex)
    }

  private val genPayload: Gen[Array[Byte]] = Gen.frequency(
    3 -> Gen.listOf(Gen.choose(-128, 127).map(_.toByte)).map(_.toArray),
    // payloads CONTAINING the frame delimiters: Content-Length framing
    // must not be fooled by \r\n\r\n or WARC/ inside a body
    1 -> Gen.const("\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nxyz".getBytes("ISO-8859-1")))

  property("hostile-input totality: no crawl parser throws on arbitrary bytes") =
    Prop.forAll(genPayload, genText) { (bytes, text) =>
      // every parser's contract on garbage is "empty or partial result",
      // never an executor-killing exception
      Warc.parseRecords("f", bytes, 1 << 20)
      val spark = SparkTestBase.session
      import spark.implicits._
      graft.sources.Sitemaps.entries(Seq((1L, text)).toDF("doc_id", "xml")).collect()
      graft.pipeline.Robots.parse(text)
      htmlText(text)
      graft.pipeline.Urls.surtKeyString(text)
      true
    }

  property("surtKeyString totality + the non-URL fixed point") =
    Prop.forAll(genText) { text =>
      // arbitrary garbage either passes through UNCHANGED (no scheme:// or
      // no host survives normalization) or produces a reversed-host key
      // containing the ')' delimiter — never null, never an exception
      val k = graft.pipeline.Urls.surtKeyString(text)
      k != null && (k == text || k.contains(")"))
    }

  property("cdx digest: RFC 4648 base32, 32 chars, alphabet-clean, known vectors") =
    Prop.forAll(genPayload) { bytes =>
      val d = graft.sources.WarcSink.sha1Base32(bytes)
      // pinned against an independent implementation (python hashlib +
      // base64.b32encode): the canonical empty-payload digest every WARC
      // tool knows, plus one non-trivial vector
      graft.sources.WarcSink.sha1Base32(Array.empty[Byte]) ==
        "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ" &&
        graft.sources.WarcSink.sha1Base32("hello warc".getBytes("UTF-8")) ==
          "GAVUVWS4HFI5NI6FF3C6QBP45KCWS2ET" &&
        d.length == 32 && d.forall(c => (c >= 'A' && c <= 'Z') || (c >= '2' && c <= '7'))
    }

  property("sink end-to-end: write (gzip × dedup) → read → resolve ≡ input; CDX slices exactly") =
    Prop.forAll(
      Gen.choose(1, 6), Gen.oneOf(true, false), Gen.oneOf(true, false),
      Gen.choose(0L, Long.MaxValue)) { (n, gz, dd, seed) =>
      // arbitrary batches through every sink configuration: payloads from
      // a SMALL pool (forcing duplicates, including the empty payload),
      // two partitions (so duplicate copies can land in different tasks —
      // each task dedups independently, resolution must still be exact),
      // dedup threshold 0 (tiny payloads dedup too). Invariants: the
      // resolved view is the input MULTISET, the index has one row per
      // record, and every (offset, length) slices a parseable member
      // whose lengths tile each archive exactly.
      val spark = SparkTestBase.session
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val pool = Seq(
        Array.empty[Byte],
        { val b = new Array[Byte](300); rnd.nextBytes(b); b },
        { val b = new Array[Byte](1200); rnd.nextBytes(b); b })
      val rows = (0 until n).map(i => (s"https://h${i % 2}.example/p/$i",
        pool(rnd.nextInt(pool.length))))
      val dir = java.nio.file.Files.createTempDirectory("graft_sinkprop").toString
      graft.sources.WarcSink.write(rows.toDF("target_uri", "payload").repartition(2),
        dir, gzipMembers = gz, dedupPayloads = dd, dedupMinBytes = 0)
      val resolved = graft.sources.Warc.resolveRevisits(
        graft.sources.Warc.read(spark, dir)).collect()
      graft.pipeline.Dedup.clearCaches()
      def multiset(xs: Seq[(String, Seq[Byte])]) =
        xs.groupBy(identity).view.mapValues(_.size).toMap
      val roundTrip = multiset(resolved.toSeq.map(r => (r.target_uri, r.payload.toSeq))) ==
        multiset(rows.map { case (u, p) => (u, p.toSeq) })
      val cdx = graft.sources.WarcCdx.read(spark, dir).collect()
      val slices = cdx.forall { r =>
        graft.sources.WarcCdx.readRecordAt(spark,
          s"$dir/${r.getAs[String]("filename")}",
          r.getAs[Long]("offset"), r.getAs[Long]("length")).isDefined
      }
      val tiles = cdx.groupBy(_.getAs[String]("filename")).forall { case (f, rs) =>
        rs.map(_.getAs[Long]("length")).sum == new java.io.File(dir, f).length()
      }
      roundTrip && cdx.length == rows.length && slices && tiles
    }

  property("warc render→parse round trip preserves records byte-exactly") =
    Prop.forAll(Gen.nonEmptyListOf(genPayload).map(_.take(5)), Gen.oneOf(true, false)) {
      (payloads, gz) =>
        val recs = payloads.zipWithIndex.map { case (p, i) =>
          ("response", s"http://h/$i", "2026-01-01T00:00:00Z", "application/http", p)
        }
        val parsed = Warc.parseRecords("f", Warc.render(recs, gzipMembers = gz), 1 << 20)
        parsed.length == recs.length &&
          parsed.zip(recs).forall { case (got, (_, uri, _, _, p)) =>
            got.target_uri == uri && java.util.Arrays.equals(got.payload, p) &&
              !got.truncated
          }
    }
}
