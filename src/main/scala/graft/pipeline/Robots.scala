package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** robots.txt (RFC 9309) evaluation — the crawl-politeness gate between a
  * link frontier ([[graft.functions.HtmlLinks]] output) and the fetcher.
  * Pure-JDK parser + matcher implementing the spec's decision rules:
  *
  *   - groups = consecutive `User-agent` lines sharing the rule block that
  *     follows; rules before any User-agent line are ignored.
  *   - group selection: the LONGEST user-agent value that prefix-matches
  *     the crawler's product token wins; all groups at that specificity
  *     merge; the `*` groups apply only when nothing named matches.
  *   - rule matching: `*` wildcards and a final `$` end-anchor; an
  *     un-anchored pattern matches any path it prefixes. Among matching
  *     rules the LONGEST pattern wins; at equal length Allow beats
  *     Disallow. No matching rule (or no applicable group, or empty
  *     `Disallow:`) → allowed.
  *
  * The matcher is the classic single-backtrack glob walk — O(path ×
  * pattern) worst case, no recursion — so a hostile robots.txt cannot
  * blow the stack or go exponential on executor threads.
  */
object Robots {

  /** One Allow/Disallow rule; `pattern` keeps the raw value (the `$`
    * anchor is interpreted at match time, and RULE LENGTH — the
    * precedence key — is the raw octet length per the RFC).
    */
  final case class Rule(allow: Boolean, pattern: String)

  /** One user-agent group: lowercased agent tokens + its rules in file
    * order + the group's `Crawl-delay` seconds (a de facto extension most
    * crawl schedulers honor; not part of the allow/deny decision).
    */
  final case class Group(
      agents: Seq[String], rules: Seq[Rule], crawlDelay: Option[Double] = None)

  // the frontier columns the frame operators read
  private val Host = "host"
  private val Path = "path"
  private val RobotsTxt = "robots_txt"

  /** Parse a robots.txt body into user-agent groups. Unknown fields and
    * comments are skipped.
    */
  def parse(robotsTxt: String): Seq[Group] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var agents = List.empty[String]
    var rules = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var delay: Option[Double] = None
    var inRules = false // false while collecting consecutive UA lines
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents.reverse, rules.toSeq, delay)
      agents = Nil
      rules = scala.collection.mutable.ArrayBuffer.empty[Rule]
      delay = None
    }
    robotsTxt.split("\n", -1).foreach { raw =>
      val noComment = {
        val h = raw.indexOf('#')
        if (h >= 0) raw.substring(0, h) else raw
      }
      val line = noComment.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (inRules) { flush(); inRules = false }
            agents = value.toLowerCase(java.util.Locale.ROOT) :: agents
          case "allow" | "disallow" if agents.nonEmpty =>
            inRules = true
            // an empty Disallow/Allow value is a no-op per the RFC;
            // patterns store percent-NORMALIZED (the octets precedence
            // and matching run on)
            if (value.nonEmpty) rules += Rule(field == "allow", percentNormalize(value))
          case "crawl-delay" if agents.nonEmpty =>
            inRules = true
            if (delay.isEmpty) delay = value.toDoubleOption.filter(_ >= 0)
          case _ => // Sitemap etc.: ignored entirely per the RFC — an
                    // unknown line between User-agent lines must NOT
                    // split their group
        }
      }
    }
    flush()
    groups.toSeq
  }

  /** The `Sitemap:` directives of a robots.txt body, in file order — the
    * sitemap DISCOVERY step of a crawl (fetch these, then
    * [[graft.sources.Sitemaps.entries]] parses what comes back). Per RFC
    * 9309 §2.3 sitemap lines are "other records": GLOBAL to the file, not
    * scoped to any user-agent group, so no group selection applies. Field
    * name case-insensitive; comments strip at `#` ([[parse]]'s rule); the
    * value keeps its own `:` (URLs split at the FIRST colon only).
    */
  def sitemapUrls(robotsTxt: String): Seq[String] =
    robotsTxt.split("\n", -1).toSeq.flatMap { raw =>
      val noComment = {
        val h = raw.indexOf('#')
        if (h >= 0) raw.substring(0, h) else raw
      }
      val line = noComment.trim
      val colon = line.indexOf(':')
      if (colon > 0 &&
          line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT) == "sitemap") {
        val v = line.substring(colon + 1).trim
        if (v.nonEmpty) Some(v) else None
      } else None
    }

  /** [[sitemapUrls]] over a (id, robots body) frame: one output row per
    * discovered sitemap URL, `sitemap_idx` its file-order position. The
    * id column keeps its input type (hosts and URLs are ids too, not just
    * numerics — the [[filterAllowed]] Row-encoder approach). Partition-wise
    * flatMap; null bodies discover nothing, and null-id rows are EXCLUDED
    * (unattributable — the [[schedule]] null-host convention).
    */
  def discoverSitemaps(
      frontier: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val proj = frontier.select(col(idCol), col(RobotsTxt)).where(col(idCol).isNotNull)
    val outSchema = StructType(Seq(
      proj.schema.fields(0),
      StructField("sitemap_idx", IntegerType, nullable = false),
      StructField("sitemap_url", StringType, nullable = true)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    proj.flatMap { row =>
      if (row.isNullAt(1)) Seq.empty
      else sitemapUrls(row.getString(1)).zipWithIndex.map { case (u, i) =>
        org.apache.spark.sql.Row(row.get(0), i, u)
      }
    }.toDF(idCol, "sitemap_idx", "sitemap_url")
  }

  /** The `Crawl-delay` seconds the applicable group (same selection rule
    * as [[isAllowedParsed]]) declares for this crawler, or None — the per-host
    * politeness interval a frontier scheduler feeds its rate limiter.
    * Merged groups at equal specificity take the MINIMUM declared delay.
    */
  def crawlDelay(robotsTxt: String, userAgent: String): Option[Double] = {
    val ds = applicableGroups(parse(robotsTxt), userAgent).flatMap(_.crawlDelay)
    if (ds.isEmpty) None else Some(ds.min)
  }

  /** The groups the RFC selection rule picks for this crawler: the longest
    * prefix-matching named agent token wins (all groups at that
    * specificity merge); `*` groups apply only when nothing named matches.
    */
  private def applicableGroups(groups: Seq[Group], userAgent: String): Seq[Group] = {
    val ua = userAgent.toLowerCase(java.util.Locale.ROOT)
    var bestLen = -1
    groups.foreach(g => g.agents.foreach { a =>
      if (a != "*" && ua.startsWith(a) && a.length > bestLen) bestLen = a.length
    })
    if (bestLen >= 0)
      groups.filter(_.agents.exists(a => a != "*" && ua.startsWith(a) && a.length == bestLen))
    else groups.filter(_.agents.contains("*"))
  }

  /** RFC 9309 octet normalization before comparison: non-ASCII characters
    * percent-encode (UTF-8, uppercase hex) and existing `%XX` escapes
    * uppercase their hex — so a `Disallow: /café` rule and a
    * `/caf%C3%A9` frontier path compare equal. ASCII (including the `*`
    * and `$` metacharacters) passes through unchanged; a reserved escape
    * like `%2F` stays an escape (it does NOT decode to `/`, per the
    * spec's reserved-character rule).
    */
  private[graft] def percentNormalize(s: String): String = {
    def isHex(c: Char) = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    def isLowerHex(c: Char) = c >= 'a' && c <= 'f'
    var i = 0
    var clean = true
    while (clean && i < s.length) {
      val c = s.charAt(i)
      if (c > 127) clean = false
      else if (c == '%' && i + 2 < s.length && isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2)) &&
        (isLowerHex(s.charAt(i + 1)) || isLowerHex(s.charAt(i + 2)))) clean = false
      else i += 1
    }
    if (clean) return s // common case: nothing to rewrite
    val out = new java.lang.StringBuilder(s.length + 8)
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        out.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else if (c > 127) {
        val cp = s.codePointAt(i)
        new String(Character.toChars(cp)).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .foreach(b => out.append(f"%%${b & 0xff}%02X"))
        i += Character.charCount(cp)
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Does `pattern` (with `*` wildcards, optional trailing `$` anchor)
    * match `path`? Un-anchored patterns are prefix matches (an implicit
    * trailing `*`). Single-backtrack glob walk, no recursion; the `*`
    * branch runs FIRST so a literal `*` in the path cannot consume the
    * wildcard. Both sides are [[percentNormalize]]d (rules coming from
    * [[parse]] arrive pre-normalized via [[isAllowedParsed]]).
    */
  private[graft] def patternMatches(pattern: String, path: String): Boolean =
    patternMatchesNormalized(percentNormalize(pattern), percentNormalize(path))

  private def patternMatchesNormalized(pattern: String, path: String): Boolean = {
    val anchored = pattern.nonEmpty && pattern.charAt(pattern.length - 1) == '$'
    val pat0 = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val pat = if (anchored) pat0 else pat0 + "*"
    var s = 0
    var p = 0
    var starIdx = -1
    var sBack = -1
    while (s < path.length) {
      if (p < pat.length && pat.charAt(p) == '*') { starIdx = p; sBack = s; p += 1 }
      else if (p < pat.length && pat.charAt(p) == path.charAt(s)) { p += 1; s += 1 }
      else if (starIdx >= 0) { p = starIdx + 1; sBack += 1; s = sBack }
      else return false
    }
    while (p < pat.length && pat.charAt(p) == '*') p += 1
    p == pat.length
  }

  /** The RFC 9309 allow/deny decision for one (robots body [[parse]]d into
    * groups, crawler product token, URL path).
    */
  private[graft] def isAllowedParsed(
      groups: Seq[Group], userAgent: String, path: String): Boolean =
    decideAllowed(applicableGroups(groups, userAgent),
      percentNormalize(if (path == null) "" else path))

  /** The rule decision over the already-selected groups and an
    * already-normalized path: longest matching pattern wins; Allow beats
    * Disallow on ties (rule patterns arrive normalized from [[parse]]).
    */
  private def decideAllowed(applicable: Seq[Group], normPath: String): Boolean = {
    var winLen = -1
    var winAllow = true
    applicable.foreach(_.rules.foreach { r =>
      if (patternMatchesNormalized(r.pattern, normPath)) {
        if (r.pattern.length > winLen ||
          (r.pattern.length == winLen && r.allow && !winAllow)) {
          winLen = r.pattern.length
          winAllow = r.allow
        }
      }
    })
    winLen < 0 || winAllow
  }

  /** A per-partition decision closure: group selection and parsing run
    * once per distinct robots BODY (frontier rows arrive host-clustered),
    * the path decision once per row — the one implementation both
    * DataFrame gates share. Null robots = no robots.txt (allow all);
    * null path decides as "" (nothing for a rule to match).
    */
  private def newDecider(userAgent: String): (String, String) => Boolean = {
    var lastBody: String = null
    var applicable: Seq[Group] = null
    (robotsRaw, path) => {
      val robots = if (robotsRaw == null) "" else robotsRaw
      if (applicable == null || robots != lastBody) {
        lastBody = robots
        applicable = applicableGroups(parse(robots), userAgent)
      }
      decideAllowed(applicable, percentNormalize(if (path == null) "" else path))
    }
  }

  /** Typed row of [[withAllowed]]. */
  final case class RobotsDecision(doc_id: Long, path: String, allowed: Boolean)

  /** Politeness SCHEDULE over an allowed frontier: per host, fetches
    * sequence deterministically (ordered by path) and space by the host's
    * own `Crawl-delay` (falling back to `defaultDelaySec`) — the
    * (fetch_seq, not_before_sec) pair a fetcher's rate limiter consumes,
    * plus the row's SURT key ([[Urls.surtOf]] over (host, path)), the
    * web-archive ecosystem's sort-friendly frontier key. Per-host
    * sequential order is INHERENT to politeness, but one task per
    * host is not: a mega-host (millions of frontier URLs) must not
    * serialize onto a single window task. `maxPerWave` bounds the rows any
    * one scheduling task handles — when the frontier exceeds it, rows
    * range-slice ON THE SURT KEY into scheduling WAVES and each host's
    * fetch_seq is its wave-local row number plus the (tiny, per-(wave,
    * host)) count of its rows in earlier waves. SURT slicing keeps a
    * host's waves contiguous and path-ordered (a host's rows share one
    * reversed-host prefix, under which SURT order IS path order), so the
    * result is BIT-EQUAL to the single-window form while no task ever
    * sorts more than ~one wave of rows — and, the reason SURT instead of
    * raw (host, path): one REGISTRABLE DOMAIN's hosts (`a.example.com`,
    * `news.example.com`, …) also land adjacent, so a domain's frontier
    * occupies contiguous wave ranges instead of scattering between
    * unrelated `a.*`/`n.*` hosts — the layout per-domain budget scans and
    * Common-Crawl-style SURT-ordered indexes want. Small frontiers (the
    * common per-cycle case; `ceil(n / maxPerWave) <= 1`) keep the plain
    * one-window-per-host plan with no extra exchanges. `maxPerWave = 0`
    * disables slicing OUTRIGHT (a caller that knows its frontier is
    * cycle-bounded also skips the plan-deciding count job below — r22);
    * the default is 2¹⁸ rows.
    *
    * '''Cost note — CONSTRUCTION ITSELF TRIGGERS A JOB:''' with a positive
    * cap (the default), calling this method runs one eager row-count job
    * at DataFrame-construction time to pick the plan; it is not a lazily
    * composable transformation. The schedule also reads the frontier more
    * than once (delay derivation + sequencing) — CACHE an
    * expensively-derived frontier before calling, or pass a known
    * `rowCount` to skip the count job. When slicing engages, the returned frame is backed
    * by a lazy checkpoint of the wave assignment (so the offsets and the
    * sequencing read one materialization, not two independently-sampled
    * range shuffles): consume it before [[Dedup.clearCheckpoints]].
    *
    * The per-host delay parses each distinct (host, robots) once, not per
    * row, and a host seen with CONFLICTING robots bodies (re-fetched at
    * different times) takes the MAXIMUM declared delay — the conservative
    * politeness choice, and one delay row per host so the join cannot fan
    * rows out. Rows with a null host are EXCLUDED (nothing to fetch; the
    * [[graft.pipeline.Urls]] convention).
    */
  def schedule(
      frontier: DataFrame,
      userAgent: String,
      defaultDelaySec: Double = 1.0,
      maxPerWave: Long = 1L << 18,
      rowCount: Long = -1L): DataFrame = {
    require(defaultDelaySec >= 0, s"defaultDelaySec must be >= 0, got $defaultDelaySec")
    val reserved = Set("__delay", "__surt", "__wave", "__wave_rows", "__nw", "__seq_off",
      "fetch_seq", "not_before_sec", "surt")
    require(!frontier.columns.exists(reserved),
      s"input columns collide with schedule's reserved names: ${frontier.columns.filter(reserved).mkString(", ")}")
    val spark = frontier.sparkSession
    import spark.implicits._
    val hosted = frontier.where(col(Host).isNotNull)
    val delays = hosted.select(col(Host), col(RobotsTxt)).distinct()
      .as[(String, String)]
      .mapPartitions { rows =>
        rows.map { case (host, robots) =>
          val d =
            if (robots == null) None else crawlDelay(robots, userAgent)
          (host, d.getOrElse(defaultDelaySec))
        }
      }
      .toDF(Host, "__delay")
      .groupBy(col(Host)).agg(max(col("__delay")).as("__delay"))
    val withDelay = hosted.join(delays, Seq(Host))
      .withColumn("__surt", Urls.surtOf(col(Host), col(Path)))
    // one cheap aggregate job decides the plan: a frontier that fits one
    // wave keeps the plain per-host window (no extra exchanges). A caller
    // that already knows the frontier's row count passes it via rowCount
    // and skips the job entirely.
    val nWaves =
      if (maxPerWave <= 0) 1L
      else {
        val n = if (rowCount >= 0) rowCount else hosted.count()
        math.min((n + maxPerWave - 1) / maxPerWave, 1L << 20)
      }
    if (nWaves <= 1) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(Host)).orderBy(col("__surt"))
      withDelay
        .select(col(Host), col(Path),
          row_number().over(w).as("fetch_seq"),
          col("__delay"), col("__surt"))
        .select(col(Host), col(Path), col("fetch_seq"),
          ((col("fetch_seq") - 1).cast("double") * col("__delay")).as("not_before_sec"),
          col("__surt").as("surt"))
    } else {
      // WAVE slicing: range-partition on the SURT key so every task holds
      // ~n/nWaves rows, a host's rows span contiguous waves in path order
      // (SURT order within one host IS path order), one registrable
      // domain's hosts stay adjacent across the wave ranges, and equal
      // keys never split. fetch_seq = wave-local row number + the host's
      // row count in all earlier waves.
      //
      // Two hardening rules (r17 review):
      //   - the sliced frame (with its wave ids) CHECKPOINTS once, so the
      //     offset aggregate and the final join read the SAME materialized
      //     wave assignment — correctness must not hang on exchange reuse
      //     between two separately-planned range shuffles (each samples
      //     its own range bounds, and `spark_partition_id` is only
      //     deterministic relative to one materialization). The returned
      //     frame is checkpoint-backed: consume it before
      //     [[Dedup.clearCheckpoints]], the CC contract.
      //   - only hosts that SPAN waves need an offset (a host contained in
      //     one wave starts at 0), and at most ~2·nWaves wave-boundary
      //     hosts span — so the broadcast offset table is WAVE-bounded,
      //     never host-bounded (a 50M-host frontier broadcasts kilobytes,
      //     not a host list; the per-(wave, host) count table itself stays
      //     distributed and is never collected).
      val sliced = Dedup.lazyCheckpoint(withDelay
        .repartitionByRange(nWaves.toInt, col("__surt"))
        .withColumn("__wave", spark_partition_id()))
      val byHost = org.apache.spark.sql.expressions.Window.partitionBy(col(Host))
      val offW = org.apache.spark.sql.expressions.Window
        .partitionBy(col(Host)).orderBy(col("__wave"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offsets = sliced.groupBy(col("__wave"), col(Host))
        .agg(count(lit(1)).as("__wave_rows"))
        .withColumn("__nw", count(lit(1)).over(byHost))
        .withColumn("__seq_off", coalesce(sum(col("__wave_rows")).over(offW), lit(0L)))
        .filter(col("__nw") > 1) // spanning hosts only — wave-bounded
        .select(col("__wave"), col(Host), col("__seq_off"))
      val localW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__wave"), col(Host)).orderBy(col("__surt"))
      sliced.join(broadcast(offsets), Seq("__wave", Host), "left")
        .select(col(Host), col(Path),
          (row_number().over(localW) + coalesce(col("__seq_off"), lit(0L)))
            .cast("int").as("fetch_seq"),
          col("__delay"), col("__surt"))
        .select(col(Host), col(Path), col("fetch_seq"),
          ((col("fetch_seq") - 1).cast("double") * col("__delay")).as("not_before_sec"),
          col("__surt").as("surt"))
    }
  }

  /** [[withAllowed]]'s filtering form: keep only the frontier rows the
    * robots decision allows, PRESERVING every input column — the shape a
    * streaming ingest composes (stateless per-row filter, no join needed
    * to recover payload columns). Same per-body parse memo per partition.
    */
  def filterAllowed(
      frontier: DataFrame,
      userAgent: String): DataFrame = {
    val pIdx = frontier.schema.fieldIndex(Path)
    val rIdx = frontier.schema.fieldIndex(RobotsTxt)
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(frontier.schema)
    frontier.mapPartitions { rows =>
      val decide = newDecider(userAgent)
      rows.filter(row => decide(row.getString(rIdx), row.getString(pIdx)))
    }
  }

  /** Frontier gate: evaluate each (id, path) against its host's robots
    * body (already joined onto the row — hosts are the natural join key
    * upstream). Partition-wise; the parsed rule set is memoized per
    * robots BODY within a partition, so a host's thousands of frontier
    * paths parse its robots once, not per row.
    */
  def withAllowed(
      frontier: DataFrame,
      userAgent: String): Dataset[RobotsDecision] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    frontier.select(col("doc_id").cast("long"), col(Path), col(RobotsTxt))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        val decide = newDecider(userAgent)
        rows.map { case (id, path, robots) =>
          RobotsDecision(id, path, decide(robots, path))
        }
      }
  }
}
