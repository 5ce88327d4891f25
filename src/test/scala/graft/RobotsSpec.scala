package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Robots

/** Specs for the robots.txt (RFC 9309) parser/matcher and the frontier
  * gate.
  */
class RobotsSpec extends SparkTestBase {

  import spark.implicits._

  /** The RFC 9309 decision for one robots body, as the frontier gate makes
    * it: parse once, then decide per (product token, path).
    */
  private def allowed(robotsTxt: String, userAgent: String, path: String): Boolean =
    Robots.isAllowedParsed(Robots.parse(robotsTxt), userAgent, path)

  private val body =
    """# corpus crawler policy
      |User-agent: graft
      |User-agent: graftbot-images
      |Disallow: /private/*
      |Allow: /private/pub$
      |Disallow: /tmp
      |
      |User-agent: *
      |Disallow: /
      |Allow: /index.html
      |""".stripMargin

  test("group selection: longest named match wins; * only as fallback") {
    // "graft" matches the named group, not the catch-all deny
    allowed(body, "graft", "/anything") shouldBe true
    allowed(body, "graft", "/private/x") shouldBe false
    // a longer product token still prefix-matches its group
    allowed(body, "graftbot-images/1.0", "/private/x") shouldBe false
    // unknown agents land on the * group: everything but the Allow denies
    allowed(body, "otherbot", "/page") shouldBe false
    allowed(body, "otherbot", "/index.html") shouldBe true
    // agent matching is case-insensitive
    allowed(body, "GRAFT", "/private/x") shouldBe false
  }

  test("rule precedence: longest pattern wins, Allow beats Disallow on ties") {
    // Allow /private/pub$ (13) outranks Disallow /private/* (10)
    allowed(body, "graft", "/private/pub") shouldBe true
    // but the anchor holds: a longer path falls back to the Disallow
    allowed(body, "graft", "/private/pubx") shouldBe false
    // equal-length tie → Allow
    val tie = "User-agent: *\nDisallow: /a/\nAllow: /a/"
    allowed(tie, "any", "/a/x") shouldBe true
  }

  test("pattern matching: wildcards, anchors, prefix semantics") {
    Robots.patternMatches("/p/*", "/p/a/b") shouldBe true
    Robots.patternMatches("/p/*.html", "/p/a/x.html") shouldBe true
    Robots.patternMatches("/p/*.html", "/p/a/x.htm") shouldBe false
    // un-anchored = prefix: extra path after the pattern still matches
    Robots.patternMatches("/p/*.html", "/p/x.html?q=1") shouldBe true
    Robots.patternMatches("/exact$", "/exact") shouldBe true
    Robots.patternMatches("/exact$", "/exact/more") shouldBe false
    // many stars stay linear-ish: the single-backtrack walk terminates
    Robots.patternMatches("/*a*a*a*a*a*a*a*a*b$", "/" + "a" * 200) shouldBe false
    // a LITERAL '*' in the path must not consume the wildcard
    Robots.patternMatches("/p/*end", "/p/*xend") shouldBe true
    Robots.patternMatches("*b", "*ab") shouldBe true
  }

  test("percent-encoding normalizes per RFC 9309 before comparison") {
    // a raw-UTF-8 rule matches the percent-encoded frontier form and
    // vice versa; hex case differences normalize away
    Robots.patternMatches("/café", "/caf%C3%A9") shouldBe true
    Robots.patternMatches("/caf%C3%A9", "/café") shouldBe true
    Robots.patternMatches("/caf%c3%a9", "/caf%C3%A9") shouldBe true
    // an escaped %2F is NOT a path slash: reserved escapes stay escapes
    Robots.patternMatches("/a%2Fb", "/a/b") shouldBe false
    val b = "User-agent: *\nDisallow: /café"
    allowed(b, "x", "/caf%C3%A9") shouldBe false
    allowed(b, "x", "/cafe") shouldBe true
  }

  test("unknown fields between groups do not split user-agent merging") {
    // per the RFC, Sitemap between User-agent lines is IGNORED: agents a
    // and b share the rule block that follows
    val b = "User-agent: a\nSitemap: http://x/s.xml\nUser-agent: b\nDisallow: /"
    allowed(b, "a", "/anything") shouldBe false
    allowed(b, "b", "/anything") shouldBe false
    // a null path decides as "": nothing for a rule to match
    allowed("User-agent: *\nDisallow: /x", "a", null) shouldBe true
  }

  test("parse edge cases: comments, empty values, rules before any group") {
    // a rule before any User-agent line is ignored
    allowed("Disallow: /\nUser-agent: *\nAllow: /", "x", "/a") shouldBe true
    // empty Disallow is a no-op (allow all)
    allowed("User-agent: *\nDisallow:", "x", "/a") shouldBe true
    // no robots at all / no applicable group → allowed
    allowed("", "x", "/a") shouldBe true
    allowed("User-agent: other\nDisallow: /", "x", "/a") shouldBe true
    // comments strip mid-line
    allowed("User-agent: * # everyone\nDisallow: / # all", "x", "/a") shouldBe false
  }

  test("crawl-delay surfaces per applicable group, minimum across merges") {
    val b = "User-agent: graft\nCrawl-delay: 2.5\nDisallow: /x\n" +
      "User-agent: *\nCrawl-delay: 10\n"
    Robots.crawlDelay(b, "graft") shouldBe Some(2.5)
    Robots.crawlDelay(b, "otherbot") shouldBe Some(10.0)
    Robots.crawlDelay("User-agent: *\nDisallow: /x", "graft") shouldBe None
    // merged equal-specificity groups take the minimum declared delay
    val merged = "User-agent: graft\nCrawl-delay: 7\nDisallow: /a\n" +
      "User-agent: graft\nCrawl-delay: 3\nDisallow: /b\n"
    Robots.crawlDelay(merged, "graft") shouldBe Some(3.0)
    // malformed or negative values are ignored
    Robots.crawlDelay("User-agent: *\nCrawl-delay: soon", "x") shouldBe None
    Robots.crawlDelay("User-agent: *\nCrawl-delay: -1", "x") shouldBe None
  }

  test("schedule sequences per host by path and spaces by the host's delay") {
    val withDelay = "User-agent: graft\nCrawl-delay: 2.5\nDisallow: /x"
    val noDelay = "User-agent: *\nDisallow: /x"
    val frontier = Seq(
      ("a.com", "/p2", withDelay), ("a.com", "/p1", withDelay),
      ("a.com", "/p3", withDelay),
      ("b.com", "/q1", noDelay), ("b.com", "/q2", noDelay),
      ("c.com", "/r1", null.asInstanceOf[String])) // no robots → default
      .toDF("host", "path", "robots_txt")
    val out = Robots.schedule(frontier, "graft", defaultDelaySec = 1.0)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    // a.com orders by path and spaces at its declared 2.5 s
    out(("a.com", "/p1")) shouldBe (1, 0.0)
    out(("a.com", "/p2")) shouldBe (2, 2.5)
    out(("a.com", "/p3")) shouldBe (3, 5.0)
    // b.com has no delay for this agent → the 1 s default
    out(("b.com", "/q2")) shouldBe (2, 1.0)
    // a host with no robots at all also defaults
    out(("c.com", "/r1")) shouldBe (1, 0.0)
    // a host seen with CONFLICTING robots bodies must not fan rows out:
    // one delay row per host, the maximum (conservative) delay wins
    val conflicted = Seq(
      ("a.com", "/p1", withDelay), ("a.com", "/p2", noDelay),
      (null.asInstanceOf[String], "/orphan", noDelay)) // null host: excluded
      .toDF("host", "path", "robots_txt")
    val got = Robots.schedule(conflicted, "graft", defaultDelaySec = 1.0)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    got.toSet shouldBe Set(("a.com", "/p1", 1, 0.0), ("a.com", "/p2", 2, 2.5))
    // reserved output names are guarded like the mixers
    an[IllegalArgumentException] should be thrownBy
      Robots.schedule(frontier.withColumn("fetch_seq", lit(1)), "graft")
  }

  test("schedule wave cap: a hot host spanning several waves is bit-equal to one window") {
    val withDelay = "User-agent: graft\nCrawl-delay: 2.5\nDisallow: /x"
    // hot.com floods the frontier (13 rows); tiny.org rides along. With
    // maxPerWave = 3 the frontier range-slices into ≥ 5 waves, so the hot
    // host spans several scheduling tasks — and the (fetch_seq,
    // not_before_sec) output must be EXACTLY the single-window result
    // (same row numbers, same delay arithmetic).
    val rows =
      (1 to 13).map(i => ("hot.com", f"/p$i%03d", withDelay)) ++
        Seq(("tiny.org", "/a", null.asInstanceOf[String]),
          ("tiny.org", "/b", null.asInstanceOf[String]))
    val frontier = rows.toDF("host", "path", "robots_txt")
    def run(cap: Long) =
      Robots.schedule(frontier, "graft", defaultDelaySec = 1.0, maxPerWave = cap)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    val sliced = run(3L)
    val single = run(0L) // slicing disabled: the plain per-host window
    sliced shouldBe single
    // sanity on the arithmetic itself: fetch_seq is dense per host in path
    // order and spacing multiplies the host's own delay
    sliced.filter(_._1 == "hot.com").map(_._3) shouldBe (1 to 13).toArray
    sliced.find(t => t._1 == "hot.com" && t._2 == "/p013").get._4 shouldBe 12 * 2.5
    sliced.filter(_._1 == "tiny.org").map(_._3) shouldBe Array(1, 2)
    // the sliced plan really does split the hot host: with the cap at 3,
    // no single task holds all 13 of its rows
    val plan = Robots.schedule(frontier, "graft", maxPerWave = 3L)
      .queryExecution.executedPlan.toString
    // the wave assignment reads back from ONE materialization (the range
    // shuffle + spark_partition_id live behind the checkpoint leaf, so
    // offsets and sequencing cannot see different wave ids)
    plan should include regex ("""Scan ExistingRDD\[.*__wave""")
    // the spanning-host offset table joins as a BROADCAST (wave-bounded
    // by construction) — the frontier side must not shuffle again for it
    plan should include("BroadcastHashJoin")
    graft.pipeline.Dedup.clearCheckpoints()
  }

  test("schedule keys on SURT: one registrable domain's URLs land contiguous") {
    // the r17 gap: surtKey existed but the schedule ordered on raw
    // (host, path), scattering example.com's subdomains between unrelated
    // a.*/n.* hosts. Now the output carries the surt key and the wave
    // slicing range-partitions on it, so sorting by surt (the key the
    // slicer ranges on) puts every example.com host in ONE contiguous
    // block — raw host order provably does not.
    val hosts = Seq(
      "a.example.com", "news.example.com", "example.com", "z.example.com",
      "aardvark.org", "nzz.ch", "zebra.net")
    val rows = for (h <- hosts; i <- 1 to 4)
      yield (h, f"/p$i", null.asInstanceOf[String])
    val frontier = rows.toDF("host", "path", "robots_txt")
    def domainRuns(order: Array[String]): Int =
      order.foldLeft(List.empty[String]) {
        case (acc, h) if acc.headOption.contains(h) => acc
        case (acc, h)                               => h :: acc
      }.count(_ == "example.com")
    for (cap <- Seq(0L, 5L)) { // single-window AND wave-sliced plans
      val out = Robots.schedule(frontier, "graft", maxPerWave = cap)
      out.columns.last shouldBe "surt"
      val bySurt = out.orderBy(col("surt")).select("host").as[String].collect()
        .map(h => if (h.endsWith("example.com")) "example.com" else "other")
      domainRuns(bySurt) shouldBe 1
      graft.pipeline.Dedup.clearCheckpoints()
    }
    // the counter-demonstration: raw host order interleaves the domain
    val byHost = rows.map(_._1).sorted
      .map(h => if (h.endsWith("example.com")) "example.com" else "other")
    domainRuns(byHost.toArray) should be > 1
    // and the surt column itself is Urls.surtOf(host, path)
    val one = Robots.schedule(frontier, "graft", maxPerWave = 0L)
      .filter(col("host") === "news.example.com" && col("path") === "/p2")
      .select("surt").as[String].head()
    one shouldBe "com,example,news)/p2"
  }

  test("schedule skips the plan-decider count job when rowCount is supplied") {
    val frontier = Seq(("a.com", "/p1", null.asInstanceOf[String]),
      ("a.com", "/p2", null.asInstanceOf[String])).toDF("host", "path", "robots_txt")
    // a frontier that EXPLODES if any job evaluates it: construction with
    // a supplied rowCount must not touch data, so it survives — while the
    // default path's eager plan-decider count detonates at construction
    // time (the documented construction-triggers-a-job behavior)
    val boom = udf { (s: String) =>
      throw new RuntimeException("schedule ran a job at construction"); s
    }
    val explosive = frontier.withColumn("path", boom(col("path")))
    Robots.schedule(explosive, "graft", rowCount = 2L) // no throw: no job
    an[Exception] should be thrownBy Robots.schedule(explosive, "graft")
    // the supplied count picks the same plans the measured count would:
    // under the cap → plain window; above it → wave slicing, same rows
    Robots.schedule(frontier, "graft", rowCount = 2L)
      .collect().map(r => (r.getString(0), r.getInt(2))).toSet shouldBe
      Set(("a.com", 1), ("a.com", 2))
    val sliced = Robots.schedule(frontier, "graft", maxPerWave = 1L, rowCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    sliced shouldBe Set(("a.com", "/p1", 1), ("a.com", "/p2", 2))
    graft.pipeline.Dedup.clearCheckpoints()
  }

  test("schedule wave slicing is bit-equal to the single window on random frontiers") {
    // randomized form of the hot-host test: any frontier shape × any cap
    // must reproduce the single-window schedule exactly (duplicated
    // (host, path) rows are indistinguishable, so the output MULTISET is
    // deterministic even where row_number's tie order is not)
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 3) {
      val nHosts = 1 + rnd.nextInt(4)
      val rows = (1 to 20 + rnd.nextInt(60)).map { _ =>
        val h = rnd.nextInt(nHosts)
        (s"host$h.com", "/" + rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString,
          if (h == 0) "User-agent: *\nCrawl-delay: 2" else null.asInstanceOf[String])
      }
      val frontier = rows.toDF("host", "path", "robots_txt")
      def run(cap: Long) =
        Robots.schedule(frontier, "graft", maxPerWave = cap)
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
          .sorted
      val single = run(0L)
      for (cap <- Seq(1L, 3L, 7L)) run(cap) shouldBe single
      graft.pipeline.Dedup.clearCheckpoints()
    }
  }

  test("sitemap discovery: RFC 9309 'other records' — global, case-insensitive, comment-stripped") {
    val body = "Sitemap: https://a.com/sm1.xml\n" +    // before any group: still global
      "User-agent: graft\nDisallow: /x\n" +
      "SITEMAP: https://a.com/sm2.xml # the index\n" + // inside a group, uppercase, comment
      "User-agent: *\nDisallow: /\n" +
      "sitemap:https://a.com/sm3.xml\n" +              // no space after the colon
      "Sitemap:\n" +                                   // empty value: skipped
      "# Sitemap: https://a.com/commented-out.xml"
    Robots.sitemapUrls(body) shouldBe
      Seq("https://a.com/sm1.xml", "https://a.com/sm2.xml", "https://a.com/sm3.xml")
    // the URL's own colon does not split the field (first colon only)
    Robots.sitemapUrls("Sitemap: http://h:8080/s.xml") shouldBe Seq("http://h:8080/s.xml")
    Robots.sitemapUrls("") shouldBe Seq.empty
    // a Sitemap line between User-agent lines still must not split group
    // merging (parse ignores it entirely)
    val merged = Robots.parse(
      "User-agent: a\nSitemap: https://x/s.xml\nUser-agent: b\nDisallow: /q")
    merged.length shouldBe 1
    merged.head.agents shouldBe Seq("a", "b")
    // frame form: one row per discovery in file order, null bodies yield none
    val frames = Seq((1L, body), (2L, null.asInstanceOf[String])).toDF("doc_id", "robots_txt")
    Robots.discoverSitemaps(frames)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq shouldBe
      Seq((1L, 0, "https://a.com/sm1.xml"), (1L, 1, "https://a.com/sm2.xml"),
        (1L, 2, "https://a.com/sm3.xml"))
    // the id column keeps its type — a host-keyed frontier works as-is
    // (and null ids are excluded, not crashed on)
    val hostKeyed = Seq(("a.com", "Sitemap: https://a.com/s.xml"),
      (null.asInstanceOf[String], "Sitemap: https://orphan/s.xml"))
      .toDF("host", "robots_txt")
    Robots.discoverSitemaps(hostKeyed, idCol = "host")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq shouldBe
      Seq(("a.com", "https://a.com/s.xml"))
  }

  test("frontier loop: html_links → canonicalize → host → robots gate → schedule") {
    import graft.functions.HtmlFunctions.htmlLinks
    import graft.pipeline.Urls
    // two crawled pages emit outlinks; the loop turns them into the next
    // round's polite fetch plan
    val pages = Seq(
      (1L, "<a href='https://A.com/p2?utm_source=x'>n</a><a href='https://a.com/private/s'>p</a>"),
      (2L, "<a href='https://b.com/q1'>q</a>")).toDF("doc_id", "html")
    val links = pages.select(explode(htmlLinks(col("html"))).as("url"))
      .select(Urls.canonicalizeUrl(col("url")).as("url"))
      .select(Urls.hostOf(col("url")).as("host"),
        regexp_replace(col("url"), "^[a-z]+://[^/]*", "").as("path"))
    val robotsTable = Seq(
      ("a.com", "User-agent: *\nDisallow: /private/\nCrawl-delay: 2"),
      ("b.com", null.asInstanceOf[String])).toDF("host", "robots_txt")
    val frontier = links.join(robotsTable, Seq("host"), "left")
    val plan = Robots.schedule(
        Robots.filterAllowed(frontier, "graft"), "graft", defaultDelaySec = 1.0)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    // the tracking param and host case normalize away; /private/ is gated
    // out; survivors schedule per host with a.com's declared 2 s delay
    plan.toSet shouldBe Set(
      ("a.com", "/p2", 1, 0.0),
      ("b.com", "/q1", 1, 0.0))
  }

  test("frontier gate evaluates per row with a per-body parse memo") {
    val frontier = Seq(
      (1L, "/public/1", body),
      (2L, "/private/2", body),
      (3L, "/private/pub", body),
      (4L, "/anywhere", null.asInstanceOf[String])) // no robots → allowed
      .toDF("doc_id", "path", "robots_txt")
    val out = Robots.withAllowed(frontier, "graft").collect()
      .map(d => d.doc_id -> d.allowed).toMap
    out shouldBe Map(1L -> true, 2L -> false, 3L -> true, 4L -> true)
    // the filtering form keeps every input column on the survivors
    val kept = Robots.filterAllowed(
        frontier.withColumn("payload", concat(lit("b:"), col("doc_id"))), "graft")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("payload")).toMap
    kept shouldBe Map(1L -> "b:1", 3L -> "b:3", 4L -> "b:4")
  }
}
