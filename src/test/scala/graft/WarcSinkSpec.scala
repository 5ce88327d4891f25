package graft

import org.apache.spark.sql.functions._

import graft.sources.{Warc, WarcSink}

/** The distributed WARC archive sink: DSv2 batch write, one file per
  * partition, job-commit rename semantics, byte-parity with the reader.
  */
class WarcSinkSpec extends SparkTestBase {

  import spark.implicits._

  private def mkPayloads(n: Int) =
    (0 until n).map { i =>
      (s"https://h${i % 3}.example/doc/$i",
        Warc.httpResponse(s"body number $i with é".getBytes("UTF-8"),
          "text/html; charset=utf-8"))
    }

  test("write → read round trip across several partitions, gzip and plain") {
    for (gz <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_warcsink_$gz").toString
      val in = mkPayloads(20).toDF("target_uri", "payload")
        .withColumn("warc_date", lit("2026-01-01T00:00:00Z"))
        .repartition(4)
      WarcSink.write(in, dir, gzipMembers = gz)
      // one archive file per non-empty partition, each with its CDX(J)
      // index companion, nothing temporary left (dot-prefixed .crc
      // sidecars are the local ChecksumFileSystem's — hidden files,
      // invisible to Spark's listing)
      val files = new java.io.File(dir).listFiles.map(_.getName)
        .filterNot(_.startsWith(".")).sorted
      val archives = files.filter(_.endsWith(if (gz) ".warc.gz" else ".warc"))
      val indexes = files.filter(_.endsWith(".cdxj"))
      files.length shouldBe archives.length + indexes.length
      archives.length should be <= 4
      indexes.length shouldBe archives.length
      files.foreach(f => f should startWith("part-"))
      // the reader recovers every record byte-exactly (charset-aware body)
      val back = Warc.responses(Warc.read(spark, dir))
        .select(col("target_uri"), col("body"))
        .as[(String, String)].collect().toMap
      back.size shouldBe 20
      (0 until 20).foreach { i =>
        back(s"https://h${i % 3}.example/doc/$i") shouldBe s"body number $i with é"
      }
      // record envelope fields survive too
      val rec = Warc.read(spark, dir).filter(_.record_idx >= 0).head()
      rec.warc_type shouldBe "response"
      rec.warc_date shouldBe "2026-01-01T00:00:00Z"
    }
  }

  test("overwrite replaces previous archives; append adds to them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warcsink_mode").toString
    val first = mkPayloads(6).toDF("target_uri", "payload").repartition(2)
    WarcSink.write(first, dir)
    Warc.read(spark, dir).count() shouldBe 6
    // overwrite: old part files go away in the installing commit
    val second = mkPayloads(4).toDF("target_uri", "payload").repartition(1)
    WarcSink.write(second, dir)
    Warc.read(spark, dir).count() shouldBe 4
    // append: fresh query id → new files alongside, no name collisions
    WarcSink.write(second, dir, overwrite = false)
    Warc.read(spark, dir).count() shouldBe 8
  }

  test("hostile header values cannot inject records; empty partitions write no file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warcsink_evil").toString
    val evilUri = "https://evil/\r\nWARC-Type: injected\r\nContent-Length: 0"
    val in = Seq((evilUri, "payload".getBytes("UTF-8")))
      .toDF("target_uri", "payload")
      .repartition(8) // 7 empty partitions
    WarcSink.write(in, dir)
    val recs = Warc.read(spark, dir).collect()
    recs.length shouldBe 1 // the injection did NOT become a second record
    recs.head.warc_type shouldBe "response"
    recs.head.target_uri should not include "\r"
    new String(recs.head.payload, "UTF-8") shouldBe "payload"
    new java.io.File(dir).listFiles
      .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".cdxj")) shouldBe 1
  }

  test("streaming archive: foreachBatch appends one archive increment per micro-batch") {
    // the continuous-crawler shape: fetched responses stream in, each
    // micro-batch lands as its own appended WARC file set — append mode
    // uses a fresh query id per batch, so increments never collide and
    // the reader sees the union
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_warcsink_stream").toString
    val input = MemoryStream[(String, Array[Byte])]
    val query = input.toDF().toDF("target_uri", "payload")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        WarcSink.write(batch, dir, overwrite = false)
      }
      .start()
    try {
      input.addData(("https://a/1", "one".getBytes("UTF-8")))
      query.processAllAvailable()
      input.addData(("https://a/2", "two".getBytes("UTF-8")),
        ("https://a/3", "three".getBytes("UTF-8")))
      query.processAllAvailable()
    } finally query.stop()
    Warc.responses(Warc.read(spark, dir)).select("target_uri", "body")
      .as[(String, String)].collect().toMap shouldBe
      Map("https://a/1" -> "one", "https://a/2" -> "two", "https://a/3" -> "three")
  }

  test("randomized round trip: arbitrary binary payloads, including frame delimiters") {
    // payloads carrying the very bytes the parser frames by — \r\n\r\n
    // breaks, WARC/ magic, gzip magic — must survive the distributed
    // write → read cycle byte-exactly (Content-Length framing, not
    // delimiter scanning)
    val rnd = new scala.util.Random(23)
    val hostile = Seq(
      "\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nxyz".getBytes("ISO-8859-1"),
      Array[Byte](0x1f.toByte, 0x8b.toByte, 8, 0),
      Array.empty[Byte])
    val payloads = (0 until 30).map { i =>
      val p =
        if (i < hostile.length) hostile(i)
        else {
          val b = new Array[Byte](rnd.nextInt(2000))
          rnd.nextBytes(b)
          b
        }
      (s"urn:rec:$i", p)
    }
    for (gz <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_warcsink_rnd_$gz").toString
      WarcSink.write(payloads.toDF("target_uri", "payload").repartition(3), dir,
        gzipMembers = gz)
      val back = graft.sources.Warc.read(spark, dir).collect()
        .map(r => r.target_uri -> r.payload).toMap
      back.size shouldBe 30
      payloads.foreach { case (uri, p) =>
        withClue(s"$uri gz=$gz: ") {
          java.util.Arrays.equals(back(uri), p) shouldBe true
        }
      }
    }
  }

  test("a failed overwrite commit rolls back: old archive restored, no stranded aside dir") {
    import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_warcsink_abort").toString
    WarcSink.write(mkPayloads(3).toDF("target_uri", "payload").repartition(1), dir)
    Warc.read(spark, dir).count() shouldBe 3
    // hand-drive a truncating commit whose message points at a temp file
    // that does not exist: the rename fails AFTER the old archive moved
    // aside — exactly the mid-commit failure the rollback must undo
    val props = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.toArray
    }
    val schema = new StructType().add("target_uri", StringType).add("payload", BinaryType)
    val bw = new graft.sources.WarcBatchWrite(schema, dir, true, -1, "",
      "abortq", truncateFirst = true, hadoopProps = props)
    val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(graft.sources.WarcCommit(0, s"$dir/_graft_warc_tmp_abortq/t-0-0"))
    an[java.io.IOException] should be thrownBy bw.commit(msgs)
    bw.abort(msgs)
    // the old archive is back where readers expect it; nothing hidden left
    Warc.read(spark, dir).count() shouldBe 3
    new java.io.File(dir).listFiles
      .count(_.getName.startsWith("_graft_warc")) shouldBe 0
  }

  test("every record carries the ISO 28500 mandatory headers, deterministically") {
    // r17 advice: WARC-Record-ID was absent and a missing warc_date wrote
    // an empty `WARC-Date: ` — both mandatory per spec, so strict
    // validators rejected the archives. Now: a urn:uuid record id derived
    // from (uri, partition, row) — no clock, no RNG — and a valid epoch
    // placeholder date when the column is absent.
    val dir = java.nio.file.Files.createTempDirectory("graft_warcsink_hdr").toString
    val in = Seq(("https://a/1", "one".getBytes("UTF-8"))).toDF("target_uri", "payload")
      .repartition(1) // no warc_date column at all
    WarcSink.write(in, dir)
    def rawRecord(): String = {
      val f = new java.io.File(dir).listFiles
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".warc.gz")).head
      val gz = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      try new String(gz.readAllBytes(), "ISO-8859-1") finally gz.close()
    }
    val rec = rawRecord()
    rec should include regex
      "WARC-Record-ID: <urn:uuid:[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}>\r\n"
    rec should include("WARC-Date: 1970-01-01T00:00:00Z\r\n")
    // deterministic: rewriting the same frame reproduces the same id
    val id1 = "urn:uuid:[0-9a-f-]+".r.findFirstIn(rec).get
    WarcSink.write(in, dir) // overwrite, fresh query id
    "urn:uuid:[0-9a-f-]+".r.findFirstIn(rawRecord()).get shouldBe id1
    // a provided warc_date passes through untouched (round-trip spec
    // already pins it); reader parity holds with the new headers
    Warc.responses(Warc.read(spark, dir)).count() shouldBe 1
  }

  test("CDX index: urlkey/digest/offsets; a point read touches one member, not the archive") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warcsink_cdx").toString
    val in = mkPayloads(12).toDF("target_uri", "payload")
      .withColumn("warc_date", lit("2026-01-01T00:00:00Z"))
      .withColumn("content_type", lit("application/http; msgtype=response"))
      .repartition(3)
    WarcSink.write(in, dir) // gzip, multi-partition: the production layout
    val cdx = graft.sources.WarcCdx.read(spark, dir)
    val rows = cdx.collect()
    rows.length shouldBe 12
    // urlkey is the SURT key of the uri; timestamp the date's 14 digits
    val byUrl = rows.map(r => r.getAs[String]("url") -> r).toMap
    byUrl("https://h1.example/doc/1").getAs[String]("urlkey") shouldBe
      "example,h1)/doc/1"
    rows.foreach(_.getAs[String]("timestamp") shouldBe "20260101000000")
    // digest is sha1:base32 of the record payload
    val expectDigest = "sha1:" + graft.sources.WarcSink.sha1Base32(
      Warc.httpResponse("body number 1 with é".getBytes("UTF-8"),
        "text/html; charset=utf-8"))
    byUrl("https://h1.example/doc/1").getAs[String]("digest") shouldBe expectDigest
    // within each file the index is SURT-ordered (the CDX convention)
    rows.groupBy(_.getAs[String]("filename")).values.foreach { fileRows =>
      val keys = fileRows.map(r =>
        (r.getAs[Long]("offset"), r.getAs[String]("urlkey")))
      keys.map(_._2).toSeq shouldBe keys.map(_._2).toSeq.sorted
    }
    // POINT READ: every index row slices exactly one decodable member —
    // readRecordAt sees only `length` bytes and still parses the record
    rows.foreach { r =>
      val f = new java.io.File(dir, r.getAs[String]("filename"))
      val archiveSize = f.length()
      val len = r.getAs[Long]("length")
      len should be < archiveSize // strictly less: not the whole file
      val rec = graft.sources.WarcCdx.readRecordAt(
        spark, f.toString, r.getAs[Long]("offset"), len)
      rec.isDefined shouldBe true
      rec.get.target_uri shouldBe r.getAs[String]("url")
      new String(Warc.httpBody(rec.get.payload), "UTF-8") should startWith("body number ")
    }
    // offsets partition the file exactly: per file, lengths sum to size
    rows.groupBy(_.getAs[String]("filename")).foreach { case (fn, fileRows) =>
      fileRows.map(_.getAs[Long]("length")).sum shouldBe new java.io.File(dir, fn).length()
      fileRows.map(_.getAs[Long]("offset")).min shouldBe 0L
    }
    // DISTRIBUTED fetch: the same records come back through the
    // partition-by-filename, sort-by-offset batch path
    val fetched = graft.sources.WarcCdx.fetch(cdx, dir).collect()
    fetched.map(_.target_uri).sorted shouldBe rows.map(_.getAs[String]("url")).sorted
    // and a filtered fetch reads only the hit, not the archive
    val one = graft.sources.WarcCdx.fetch(
      cdx.filter(col("url") === "https://h2.example/doc/2"), dir).collect()
    one.map(_.target_uri).toSeq shouldBe Seq("https://h2.example/doc/2")
  }

  test("streaming replay is exactly-once with epoch-keyed overwrite commits") {
    // the crash/retry contract (r17 verdict): foreachBatch may re-deliver
    // an epoch under a FRESH query id after a failure — plain append would
    // duplicate it. The idempotent composition writes each epoch into its
    // own subdirectory with overwrite=true: a replayed epoch replaces its
    // own files (rename-on-commit keeps readers consistent mid-replace),
    // so the union over epochs is exactly-once under any retry pattern.
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_warcsink_retry").toString
    def writeEpoch(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      WarcSink.write(batch, s"$dir/batch=$id", overwrite = true)
    val input = MemoryStream[(String, Array[Byte])]
    val query = input.toDF().toDF("target_uri", "payload")
      .writeStream
      .foreachBatch(writeEpoch _)
      .start()
    try {
      input.addData(("https://a/1", "one".getBytes("UTF-8")))
      query.processAllAvailable()
      input.addData(("https://a/2", "two".getBytes("UTF-8")))
      query.processAllAvailable()
    } finally query.stop()
    def readAll(): Map[String, String] =
      Warc.responses(Warc.read(spark, s"$dir/*"))
        .select("target_uri", "body").as[(String, String)].collect().toMap
    val once = readAll()
    once shouldBe Map("https://a/1" -> "one", "https://a/2" -> "two")
    // CRASH/RETRY: epoch 1 re-delivers under a fresh query id (exactly
    // what a restarted stream does) — re-committing it must change
    // NOTHING: no duplicate, no loss
    writeEpoch(Seq(("https://a/2", "two".getBytes("UTF-8")))
      .toDF("target_uri", "payload"), 1L)
    readAll() shouldBe once
    // and the files really were replaced under a new query id, not
    // appended beside the old ones
    new java.io.File(s"$dir/batch=1").listFiles
      .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".cdxj")) shouldBe 1
  }

  test("WarcCdx.read tolerates malformed index lines: null fields, never a crash") {
    // a damaged/foreign .cdxj must not fail a 100k-file index scan — bad
    // lines parse to empty/null fields a consumer can filter, good lines
    // are unaffected
    val dir = java.nio.file.Files.createTempDirectory("graft_cdx_evil")
    java.nio.file.Files.writeString(dir.resolve("part-x-00000.cdxj"),
      "a)/x 20260101000000 {\"url\":\"https://a/x\",\"mime\":\"t\"," +
        "\"digest\":\"sha1:X\",\"offset\":\"0\",\"length\":\"10\",\"filename\":\"f\"}\n" +
        "complete garbage with no shape at all\n" +
        "b)/y 20260101000000 {\"url\": truncated-json\n" +
        "c)/z notadigitstamp {\"url\":\"https://c/z\"}\n")
    val rows = graft.sources.WarcCdx.read(spark, dir.toString).collect()
    rows.length shouldBe 4
    val good = rows.find(_.getAs[String]("urlkey") == "a)/x").get
    good.getAs[String]("url") shouldBe "https://a/x"
    good.getAs[Long]("offset") shouldBe 0L
    good.getAs[Long]("length") shouldBe 10L
    // malformed lines: a line that fails the `urlkey ts {json}` shape
    // keys as "" (filterable); one whose JSON is damaged keeps its key
    // but parses null fields — either way offset is null, never garbage
    rows.filterNot(_.getAs[String]("urlkey") == "a)/x").foreach { r =>
      r.isNullAt(r.fieldIndex("offset")) shouldBe true
      r.isNullAt(r.fieldIndex("url")) shouldBe true
    }
    rows.count(_.getAs[String]("urlkey") == "") shouldBe 2 // no-shape lines
  }

  test("compacted zipnum index: global SURT order, bounded cluster.idx, pruned lookups") {
    import graft.sources.WarcCdx
    val dir = java.nio.file.Files.createTempDirectory("graft_cdx_cmp_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cdx_cmp_out").toString
    WarcSink.write(mkPayloads(40).toDF("target_uri", "payload")
      .withColumn("warc_date", lit("2026-01-01T00:00:00Z")).repartition(3), dir)
    WarcCdx.compact(spark, dir, out, nParts = 4)
    // the secondary index is bounded by nParts and range-ordered
    val entries = WarcCdx.clusterEntries(spark, out)
    entries.length should be <= 4
    entries.map(_._1) shouldBe entries.map(_._1).sorted
    // nothing lost, and the GLOBAL order holds ACROSS files: every part's
    // last key sorts at or below the next part's first key
    WarcCdx.readCompacted(spark, out).count() shouldBe 40
    val perPart = entries.map { case (_, f) =>
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(out, f)).toArray.map(_.toString)
      (lines.head.takeWhile(_ != ' '), lines.last.takeWhile(_ != ' '))
    }
    perPart.sliding(2).foreach {
      case Seq((_, lastA), (firstB, _)) => lastA should be <= firstB
      case _                            => ()
    }
    // prefix lookup returns exactly the domain's rows...
    val h1 = WarcCdx.lookupPrefix(spark, out, "example,h1)")
      .collect().map(_.getAs[String]("url")).sorted
    h1 shouldBe (0 until 40).filter(_ % 3 == 1).map(i => s"https://h1.example/doc/$i")
      .sorted.toArray
    // ...and the pruning is real: a mid-range domain never needs every
    // part, and a single-key prefix touches exactly one
    WarcCdx.selectParts(entries, "example,h1)").length should be < entries.length
    WarcCdx.selectParts(entries, "example,h2)/doc/5").length shouldBe 1
    WarcCdx.lookupPrefix(spark, out, "example,h2)/doc/5")
      .collect().map(_.getAs[String]("url")).toSeq shouldBe Seq("https://h2.example/doc/5")
    // a prefix past every key selects at most the tail part and returns 0
    WarcCdx.lookupPrefix(spark, out, "zzz,nothing)").count() shouldBe 0L
    // the empty prefix is the full scan
    WarcCdx.lookupPrefix(spark, out, "").count() shouldBe 40L
  }

  test("payload dedup writes revisit records; resolveRevisits reconstructs the full view") {
    // archive-time dedup, the WARC identical-payload-digest mechanism:
    // a repeated payload stores as a ~300 B revisit record linking the
    // first copy instead of a second full block
    // incompressible payload: a run of one character gzips BELOW a
    // revisit record's header size, which would invert the size check
    val body = new Array[Byte](5000)
    new scala.util.Random(7).nextBytes(body)
    val rows = Seq(
      ("https://a/1", Warc.httpResponse(body, "text/html")),
      ("https://a/2", Warc.httpResponse(body, "text/html")),      // dup of 1
      ("https://a/3", Warc.httpResponse("tiny".getBytes("UTF-8"), "text/html")),
      ("https://a/4", Warc.httpResponse(body, "text/html")),      // dup of 1
      ("https://a/5", Warc.httpResponse("tiny".getBytes("UTF-8"), "text/html")))
    val df = rows.toDF("target_uri", "payload").repartition(1)
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_warcsink_rv1").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_warcsink_rv2").toString
    WarcSink.write(df, dedupDir, dedupPayloads = true)
    WarcSink.write(df, fullDir)
    def archiveBytes(dir: String): Long = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".warc.gz")).map(_.length()).sum
    archiveBytes(dedupDir) should be < archiveBytes(fullDir)
    val recs = Warc.read(spark, dedupDir).collect().sortBy(_.target_uri)
    // a/3 and a/5 duplicate a TINY payload — below dedupMinBytes a
    // revisit record would cost more than the block, so both store
    recs.count(_.warc_type == "response") shouldBe 3
    val revisits = recs.filter(_.warc_type == "revisit")
    revisits.map(_.target_uri).sorted shouldBe Array("https://a/2", "https://a/4")
    revisits.foreach { r =>
      r.payload.length shouldBe 0
      r.content_length shouldBe 0L
      r.refers_to should startWith("urn:uuid:")
      // the link lands on a stored response record
      recs.find(o => o.warc_type == "response" && o.record_id == r.refers_to)
        .isDefined shouldBe true
    }
    // the crawl gate is unaffected: responses() sees stored responses only
    Warc.responses(Warc.read(spark, dedupDir)).count() shouldBe 3
    // with the threshold at 0 the tiny duplicate dedups too — and the
    // resolved view is identical either way (storage decisions never
    // change what readers reconstruct)
    val zeroDir = java.nio.file.Files.createTempDirectory("graft_warcsink_rv0").toString
    WarcSink.write(df, zeroDir, dedupPayloads = true, dedupMinBytes = 0)
    Warc.read(spark, zeroDir).filter(_.warc_type == "revisit").count() shouldBe 3
    // resolveRevisits: record-for-record the undeduplicated view
    val resolved = Warc.resolveRevisits(Warc.read(spark, dedupDir))
      .collect().map(r => r.target_uri -> r.payload).toMap
    resolved.size shouldBe 5
    rows.foreach { case (uri, p) =>
      withClue(uri) { java.util.Arrays.equals(resolved(uri), p) shouldBe true }
    }
    Warc.resolveRevisits(Warc.read(spark, dedupDir))
      .filter(_.warc_type == "response").count() shouldBe 5
    // the CDX index sees through the dedup: revisit rows carry mime
    // warc/revisit and the PAYLOAD's digest (same digest as the referent)
    val cdx = graft.sources.WarcCdx.read(spark, dedupDir).collect()
    cdx.length shouldBe 5
    val mimeByUrl = cdx.map(r => r.getAs[String]("url") -> r.getAs[String]("mime")).toMap
    mimeByUrl("https://a/2") shouldBe "warc/revisit"
    mimeByUrl("https://a/1") should not be "warc/revisit"
    val digestByUrl = cdx.map(r => r.getAs[String]("url") -> r.getAs[String]("digest")).toMap
    digestByUrl("https://a/2") shouldBe digestByUrl("https://a/1")
    // a revisit whose referent is missing keeps its empty payload (no
    // fabricated bytes) — simulate by resolving the revisits alone
    val orphans = Warc.resolveRevisits(
      spark.createDataset(recs.filter(_.warc_type == "revisit").toSeq))
    orphans.collect().foreach(_.payload.length shouldBe 0)
  }

  test("cross-archive dedup: markRevisits against a prior crawl's CDX index") {
    import graft.sources.{WarcCdx, WarcSink}
    // the persistent-dedup-database pattern: crawl 2 dedups against
    // crawl 1 by joining payload digests with crawl 1's INDEX (never its
    // archives) — repeats store as revisits whose referent lives in the
    // OTHER archive, and resolution over both crawls reconstructs all
    val parent = java.nio.file.Files.createTempDirectory("graft_xarch").toString
    val bodyA = new Array[Byte](4000)
    val bodyB = new Array[Byte](4000)
    new scala.util.Random(11).nextBytes(bodyA)
    new scala.util.Random(12).nextBytes(bodyB)
    val crawl1 = Seq(
      ("https://a/1", bodyA), ("https://a/2", bodyB))
    WarcSink.write(crawl1.toDF("target_uri", "payload").repartition(1), s"$parent/c1")
    val history = WarcCdx.read(spark, s"$parent/c1")
    val crawl2 = Seq(
      ("https://a/1", bodyA),   // unchanged page re-fetched → revisit of c1
      ("https://a/9", bodyB),   // same bytes under a NEW url → still a revisit
      ("https://a/3", "fresh content".getBytes("UTF-8"))) // genuinely new
    val marked = WarcSink.markRevisits(
      crawl2.toDF("target_uri", "payload"), history)
    marked.filter(col("revisit_of_id").isNotNull).count() shouldBe 2
    WarcSink.write(marked.repartition(1), s"$parent/c2")
    // crawl 2's archive stores ONLY the new payload; repeats are revisit
    // records whose refers_to is a crawl-1 record id
    val c1recs = Warc.read(spark, s"$parent/c1").collect()
    val c2recs = Warc.read(spark, s"$parent/c2").collect()
    c2recs.count(_.warc_type == "response") shouldBe 1
    val c1ids = c1recs.map(_.record_id).toSet
    val revisits = c2recs.filter(_.warc_type == "revisit")
    revisits.length shouldBe 2
    revisits.foreach { r =>
      c1ids should contain(r.refers_to)
      r.payload.length shouldBe 0
    }
    // resolution over BOTH crawls' records reconstructs every payload
    // (https://a/1 appears in both crawls with the same bytes — 5
    // records, 4 distinct uris)
    val resolvedRecs = Warc.resolveRevisits(Warc.read(spark, s"$parent/*")).collect()
    resolvedRecs.length shouldBe 5
    resolvedRecs.count(_.warc_type == "response") shouldBe 5
    val resolved = resolvedRecs.map(r => r.target_uri -> r.payload).toMap
    (crawl1 ++ crawl2).foreach { case (uri, p) =>
      withClue(uri) { java.util.Arrays.equals(resolved(uri), p) shouldBe true }
    }
    // the referent's identity survived the index round trip: crawl 1's
    // CDX rid column IS its records' WARC-Record-ID
    history.collect().map(_.getAs[String]("rid")).toSet shouldBe c1ids
    // and the resolving plan narrows the corpus-sized response side with
    // a SEMI join on the (broadcastable) refers_to set before the
    // payload-carrying join — resolution must never hash-shuffle every
    // response payload for a handful of revisits
    Warc.resolveRevisits(Warc.read(spark, s"$parent/*"))
      .queryExecution.optimizedPlan.toString should include("LeftSemi")
    graft.pipeline.Dedup.clearCaches()
  }

  test("schema validation rejects frames without the required columns") {
    val bad = Seq((1L, "x")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      WarcSink.write(bad, java.nio.file.Files.createTempDirectory("graft_ws_bad").toString)
  }
}
