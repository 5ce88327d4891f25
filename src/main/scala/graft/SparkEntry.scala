package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.prepared.PreparedStatements

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] demonstrates one operator from SURVEY.md §2 on
  * the driver-generated parquet tables; [[oracleSql]] carries the DuckDB twin
  * for the hash compare. Column aliases match between the two on purpose —
  * the driver sorts columns by name before hashing.
  */
object SparkEntry {

  /** prepare + execute helper: full Catalyst once, clone-and-substitute per
    * execute (SURVEY.md §2 Tier A / §7 design decision 2).
    */
  private def prep(s: SparkSession, dir: String, sql: String)(params: (String, Any)*): DataFrame = {
    Tables.register(s, dir)
    Graft.install(s)
    PreparedStatements.prepare(s, sql).execute(params.toMap)
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.df(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline capability: a prepared point lookup executed
    * repeatedly with different keys, planned exactly once (README.md:5-21).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Tables.register(spark, dir)
    Graft.install(spark)
    val st = PreparedStatements.prepare(
      spark,
      "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_orderkey = $1")
    st.execute(Map("$1" -> 7L)).union(st.execute(Map("$1" -> 42L)))
  }

  // ---------------------------------------------------------------------------
  // Tier A/B — prepared-statement family (reference's own test surface)
  // ---------------------------------------------------------------------------

  private val preparedQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B5: point lookup, int key (ref tests/preparable_context_basic_test.rs:68-103)
    "q_prep_point" -> ((s, dir) =>
      prep(s, dir, "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_orderkey = $1")("$1" -> 42L)),
    // B12: repeated execution with rebinding (ref :106-145)
    "q_prep_rebind" -> ((s, dir) => {
      Tables.register(s, dir); Graft.install(s)
      val st = PreparedStatements.prepare(
        s, "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = $1")
      st.execute(Map("$1" -> 7L)).union(st.execute(Map("$1" -> 42L)))
    }),
    // B6: string equality (ref :148-183)
    "q_prep_string" -> ((s, dir) =>
      prep(s, dir, "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = $1")("$1" -> "BUILDING")),
    // B7: range conjunction, two params (ref :186-218)
    "q_prep_range" -> ((s, dir) =>
      prep(s, dir, "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice >= $1 AND o_totalprice <= $2")(
        "$1" -> 100000.0, "$2" -> 110000.0)),
    // B7 mixed-column variant (ref parquet test :192-232)
    "q_prep_twocol" -> ((s, dir) =>
      prep(s, dir, "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_custkey >= $1 AND o_totalprice <= $2")(
        "$1" -> 140L, "$2" -> 5000.0)),
    // B9: COUNT(*) over filtered input (ref :276-303)
    "q_prep_count" -> ((s, dir) =>
      prep(s, dir, "SELECT count(*) AS cnt FROM orders WHERE o_custkey >= $1")("$1" -> 42L)),
    // B10: empty result (ref :221-241)
    "q_prep_empty" -> ((s, dir) =>
      prep(s, dir, "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = $1")("$1" -> -1L)),
    // B11: constant select, no table (ref :61-65)
    "q_prep_const" -> ((s, dir) => prep(s, dir, "SELECT 1 AS one")()),
    // B4: projection + alias; placeholder in projection too. The product is
    // rounded through an exact decimal(18,4) cast — the true value has 3
    // decimals, so there are no halfway cases and Spark/DuckDB round
    // identically (round(x, 2) on a double diverges on .xx5 — the r1 fail) —
    // then the FINAL column goes back to double: DECIMAL output columns hash
    // differently in the driver's type-sensitive compare even when every
    // value matches (the r2 fail).
    "q_prep_proj" -> ((s, dir) =>
      prep(s, dir, "SELECT o_orderkey AS k, cast(cast(o_totalprice * $1 AS decimal(18,4)) AS double) AS scaled FROM orders WHERE o_orderkey <= $2")(
        "$1" -> 0.1, "$2" -> 100L)),
    // B8: OR of placeholders (ref rule.rs:175-192)
    "q_prep_or" -> ((s, dir) =>
      prep(s, dir, "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = $1 OR o_orderkey = $2")(
        "$1" -> 3L, "$2" -> 77L)),
    // B13: IN-list lookup (ref README.md:46-51)
    "q_prep_in" -> ((s, dir) =>
      prep(s, dir, "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey IN ($1, $2, $3)")(
        "$1" -> 5L, "$2" -> 17L, "$3" -> 42L)),
    // Tier C through prepare(): join inside a prepared statement (README.md:3)
    "q_prep_join" -> ((s, dir) =>
      prep(s, dir,
        """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
          |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
          |WHERE o.o_totalprice > $1""".stripMargin)("$1" -> 450000.0)),
    // Tier C through prepare(): grouped aggregate inside a prepared statement
    "q_prep_agg" -> ((s, dir) =>
      prep(s, dir,
        """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
          |FROM orders WHERE o_custkey >= $1 GROUP BY o_orderstatus""".stripMargin)("$1" -> 100L)),
    // the multi-grouping aggregate surface through prepare(): the Expand
    // operator GROUPING SETS plans into is cloned-and-substituted per
    // execute like any other physical node — the whole SQL surface is
    // reachable through the prepared path, not just scans and joins
    "q_prep_groupsets" -> ((s, dir) =>
      prep(s, dir,
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
          |FROM orders WHERE o_totalprice > $1
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)(
        "$1" -> 400000.0)),
    // LIKE with a placeholder pattern (the BinaryExpression-not-
    // BinaryOperator inference path): pattern bound per execute
    // pattern chosen to MATCH at every sf (the testdata names are
    // color+noun pairs — '%green%' matched nothing, making the r18 row
    // vacuously green; '%red%' returns ~250 rows at sf0.01)
    "q_prep_like" -> ((s, dir) =>
      prep(s, dir, "SELECT p_partkey, p_name FROM part WHERE p_name LIKE $1")(
        "$1" -> "%red%")),
    // window function through prepare(): the Window exec (partition/order
    // specs and frame) clones per execute with the WHERE placeholder
    // re-bound — the r9/r10 analytic surface reachable via the prepared
    // path, like q_prep_groupsets did for Expand
    "q_prep_window" -> ((s, dir) =>
      prep(s, dir,
        """SELECT c_custkey, c_acctbal,
          |rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
          |FROM customer WHERE c_nationkey = $1""".stripMargin)("$1" -> 7)),
    // custom NATIVE expression through prepare(): the registered
    // cosine_similarity resolves during prepare-time analysis and is
    // snapshotted into the physical plan (≡ the reference snapshotting the
    // session's UDFs, parameterized_statement.rs:106-162), with the WHERE
    // placeholder re-bound per execute
    "q_prep_cosine" -> ((s, dir) =>
      prep(s, dir,
        """SELECT vec_id, round(cosine_similarity(embedding,
          |  (SELECT embedding FROM embeddings WHERE vec_id = 0)), 6) AS cosine
          |FROM embeddings WHERE vec_id >= $1 ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)(
        "$1" -> 10L)),
    // the HTML extractor through prepare(): html_text resolves at
    // prepare-time like cosine_similarity above; the page is built in-plan
    // from entity-escaped doc text so the expected output is the
    // \s-collapsed original (the q_html_extract contract), with the doc_id
    // cut re-bound per execute
    "q_prep_html" -> ((s, dir) =>
      prep(s, dir,
        """SELECT doc_id, html_text(concat('<p>',
          |  replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
          |  '</p>')) AS extracted
          |FROM documents WHERE doc_id < $1""".stripMargin)("$1" -> 100L)),
    // B13 through the DSv2 keyed source: a prepared IN-list lookup against
    // an indexed in-memory table — ScanRebind turns each execute into an
    // index lookup shipping only the matching rows (the reference's
    // provider-optimized IN clause, README.md:46-51)
    "q_prep_keyed" -> ((s, dir) => {
      Tables.register(s, dir); Graft.install(s)
      graft.sources.KeyedMemTables.register(s, "kt_part",
        Tables.df(s, dir, "part").select("p_partkey", "p_name", "p_retailprice"), "p_partkey")
      PreparedStatements.prepare(s,
        "SELECT p_partkey, p_name, p_retailprice FROM kt_part WHERE p_partkey IN ($1, $2, $3)")
        .execute(Map("$1" -> 3L, "$2" -> 7L, "$3" -> 11L))
    }),
    // A heavy shape that wants AQE (skew splitting, runtime coalescing) is
    // not prepared: a frozen plan forgoes AQE, so it runs as Spark's own
    // parameterized SQL, which plans per call (see the
    // PreparedStatements.prepare scaladoc)
    "q_prep_adaptive" -> ((s, dir) => {
      Tables.register(s, dir); Graft.install(s)
      s.sql(
        """SELECT o_orderpriority, count(*) AS cnt FROM orders
          |WHERE o_totalprice > :p GROUP BY o_orderpriority""".stripMargin,
        Map("p" -> 1000.0))
    }),
    // Prepared pushdown through the DSv2 read path: with the v1 source list
    // cleared, the same prepare/bind/execute machinery re-pushes the bound
    // conjunct into a BatchScanExec(ParquetScan) (ScanRebind's
    // provider-agnostic protocol; row-group pruning metric-asserted in
    // ParquetV2PreparedSpec). The source choice is baked at plan time, so
    // restoring the conf after prepare leaves the returned frame intact.
    "q_prep_dsv2" -> ((s, dir) => {
      Tables.register(s, dir); Graft.install(s)
      val key = "spark.sql.sources.useV1SourceList"
      val old = s.conf.get(key)
      s.conf.set(key, "")
      try {
        s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("orders_v2")
        PreparedStatements.prepare(s,
          "SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v2 WHERE o_orderkey = $1")
          .execute(Map("$1" -> 42L))
      } finally s.conf.set(key, old)
    }),
    // Placeholders INSIDE a scalar subquery's own plan: binding recurses
    // through ExecSubqueryExpression (Params.bind). $1 has no column
    // sibling so its type is declared explicitly — inference would
    // (deliberately) fail fast.
    "q_prep_subquery" -> ((s, dir) => {
      Tables.register(s, dir); Graft.install(s)
      PreparedStatements.prepare(s,
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > (SELECT avg(o_totalprice) * $1 FROM orders WHERE o_custkey >= $2)""".stripMargin,
        Map("$1" -> org.apache.spark.sql.types.DoubleType))
        .execute(Map("$1" -> 1.9, "$2" -> 42L))
    })
  )

  private val preparedOracles: Map[String, String] = Map(
    "q_prep_point" -> "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_orderkey = 42",
    "q_prep_rebind" -> ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 7 " +
      "UNION ALL SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 42"),
    "q_prep_string" -> "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'",
    "q_prep_range" -> "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice >= 100000.0 AND o_totalprice <= 110000.0",
    "q_prep_twocol" -> "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_custkey >= 140 AND o_totalprice <= 5000.0",
    "q_prep_count" -> "SELECT count(*) AS cnt FROM orders WHERE o_custkey >= 42",
    "q_prep_empty" -> "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = -1",
    "q_prep_const" -> "SELECT 1 AS one",
    "q_prep_proj" -> "SELECT o_orderkey AS k, CAST(CAST(o_totalprice * CAST(0.1 AS DOUBLE) AS DECIMAL(18,4)) AS DOUBLE) AS scaled FROM orders WHERE o_orderkey <= 100",
    "q_prep_or" -> "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = 3 OR o_orderkey = 77",
    "q_prep_html" -> ("SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS extracted " +
      "FROM documents WHERE doc_id < 100"),
    "q_prep_in" -> "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey IN (5, 17, 42)",
    "q_prep_join" -> ("SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice " +
      "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_totalprice > 450000.0"),
    "q_prep_agg" -> ("SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total " +
      "FROM orders WHERE o_custkey >= 100 GROUP BY o_orderstatus"),
    "q_prep_groupsets" -> ("SELECT o_orderstatus, o_orderpriority, count(*) AS cnt " +
      "FROM orders WHERE o_totalprice > 400000.0 " +
      "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"),
    "q_prep_like" -> "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%red%'",
    "q_prep_window" -> ("SELECT c_custkey, c_acctbal, " +
      "rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk " +
      "FROM customer WHERE c_nationkey = 7"),
    "q_prep_cosine" -> ("SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), " +
      "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine " +
      "FROM embeddings WHERE vec_id >= 10 ORDER BY cosine DESC, vec_id LIMIT 10"),
    "q_prep_keyed" -> ("SELECT p_partkey, p_name, p_retailprice FROM part " +
      "WHERE p_partkey IN (3, 7, 11)"),
    "q_prep_subquery" -> ("SELECT o_orderkey, o_totalprice FROM orders " +
      "WHERE o_totalprice > (SELECT avg(o_totalprice) * CAST(1.9 AS DOUBLE) FROM orders WHERE o_custkey >= 42)"),
    "q_prep_adaptive" -> ("SELECT o_orderpriority, count(*) AS cnt FROM orders " +
      "WHERE o_totalprice > 1000.0 GROUP BY o_orderpriority"),
    "q_prep_dsv2" -> "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 42"
  )

  // ---------------------------------------------------------------------------
  // Tier B/C — relational breadth on the DataFrame API
  // ---------------------------------------------------------------------------

  private val NationSchema = "n_nationkey INT, n_name STRING, n_regionkey INT"

  /** nation written once per (sf dir, format) to /tmp; queries read it back
    * through the non-parquet source (memoized like the ANN index builds —
    * Bench's warmup pays the write, probes measure the read).
    */
  private def convertedNation(s: SparkSession, dir: String, fmt: String): String =
    Tables.fixtureDir(s"src_$fmt", dir) { path =>
      val w = t(s, dir, "nation").coalesce(1).write.mode("overwrite")
      fmt match {
        case "csv"  => w.option("header", "true").csv(path)
        case "json" => w.json(path)
        case "orc"  => w.orc(path)
      }
    }

  /** A bounded slice of the documents table rendered as a member-gzipped
    * WARC file (each doc an HTTP `response` record, the Common Crawl
    * layout), for the [[sources.Warc]] reader's round-trip query. Bounded
    * by construction (doc_id < 500) so the driver-side render stays small
    * at any sf.
    */
  private def convertedWarc(s: SparkSession, dir: String): String =
    Tables.fixtureDir("src_warc", dir) { path =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 500).collect().sortBy(_.getLong(0))
      val records = docs.toSeq.map { r =>
        ("response", s"urn:graft:doc:${r.getLong(0)}", "2026-01-01T00:00:00Z",
          "application/http; msgtype=response",
          sources.Warc.httpResponse(
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8),
            "text/plain; charset=utf-8"))
      }
      sources.Warc.writeGzipped(path, records)
    }

  /** The same bounded documents slice written through the DISTRIBUTED
    * WARC sink ([[sources.WarcSink]] — DSv2 batch write, one archive file
    * per partition, job-commit rename): the write is the ETL step
    * (memoized, warmup pays it); the query reads the archive back. HTTP
    * envelopes are built IN-PLAN (binary concat with a computed
    * Content-Length), so the whole write path is executor-side — no
    * driver render anywhere.
    */
  private def sinkWarc(s: SparkSession, dir: String): String =
    Tables.fixtureDir("sink_warc", dir) { path =>
      val head = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\nContent-Length: "),
        length(col("text").cast("binary")).cast("string"), lit("\r\n\r\n"))
      val slice = t(s, dir, "documents").filter(col("doc_id") < 500).select(
        concat(lit("urn:graft:doc:"), col("doc_id")).as("target_uri"),
        concat(head.cast("binary"), col("text").cast("binary")).as("payload"),
        lit("2026-01-01T00:00:00Z").as("warc_date"))
      sources.WarcSink.write(slice.repartition(4), path)
    }

  /** The CDX-oracle fixture: the same documents slice through the sink
    * UNCOMPRESSED, one partition, doc_id-ordered — the one layout whose
    * index `(offset, length)` are PURE doc_id ARITHMETIC (every header
    * byte is a deterministic function of the row: fixed-width record id,
    * fixed date, fixed content type; offset = the running sum of prior
    * record lengths), so DuckDB can replay the binary layout of the
    * archive without parsing it. Production writes stay gzip +
    * multi-partition; this fixture isolates the index math.
    */
  private def cdxWarc(s: SparkSession, dir: String): String =
    Tables.fixtureDir("sink_cdx", dir) { path =>
      val slice = t(s, dir, "documents").filter(col("doc_id") < 300).select(
        concat(lit("urn:graft:doc:"), col("doc_id")).as("target_uri"),
        col("text").cast("binary").as("payload"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        lit("text/plain").as("content_type"),
        col("doc_id"))
      sources.WarcSink.write(
        slice.repartition(1).sortWithinPartitions("doc_id").drop("doc_id"),
        path, gzipMembers = false)
    }

  /** The DAMAGED-INDEX fixture: a byte-for-byte copy of [[cdxWarc]]
    * (archive + index) plus one extra `.cdxj` file holding every shape of
    * index damage the tolerance contract names — a non-CDXJ line, a
    * non-numeric offset, coordinates past the archive's end, a filename
    * no archive has, a negative offset, and a coordinate-valid line whose
    * digest is wrong (simulated bit-rot). A fetch over the damaged index
    * must return EXACTLY the clean corpus: every damaged row drops, no
    * job failure, no extra rows — at 100 TB of cold index+archive bytes,
    * line-level damage is expected-case and one bad line must cost one
    * row, never a scan.
    */
  private def cdxDamaged(s: SparkSession, dir: String): String =
    Tables.fixtureDir("cdx_dmg", dir) { path =>
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val src = Paths.get(cdxWarc(s, dir))
      val out = Paths.get(path)
      // a stale dir from a prior process is CLEARED first: the sink's
      // archive file names differ per run, so copying over leftovers
      // would accumulate a second archive+index generation (and a
      // doubled fetch)
      Files.createDirectories(out)
      out.toFile.listFiles().foreach(f => Files.delete(f.toPath))
      val files = src.toFile.listFiles().toSeq
      files.foreach { f =>
        Files.copy(f.toPath, out.resolve(f.getName),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val warcName = files.map(_.getName).find(_.endsWith(".warc"))
        .getOrElse(sys.error(s"no .warc archive under $src"))
      val cdxjName = files.map(_.getName).find(_.endsWith(".cdxj"))
        .getOrElse(sys.error(s"no .cdxj index under $src"))
      // a coordinate-valid first-record line with a WRONG digest: same
      // bytes fetch fine, the verify gate must drop the row
      val firstLine = {
        val r = Files.newBufferedReader(src.resolve(cdxjName))
        try r.readLine() finally r.close()
      }
      val rotted = firstLine.replaceAll(
        "\"digest\":\"sha1:[A-Z2-7]+\"",
        "\"digest\":\"sha1:" + "A" * 32 + "\"")
      require(rotted != firstLine, s"digest rewrite failed on: $firstLine")
      val damage = Seq(
        "THIS IS NOT A CDXJ LINE",
        "urn:graft:doc:42 20260102000000 " +
          s"""{"url":"u","offset":"nope","length":"7","filename":"$warcName"}""",
        "urn:graft:doc:43 20260102000000 " +
          s"""{"url":"u","offset":"999999999999","length":"64","filename":"$warcName"}""",
        "urn:graft:doc:44 20260102000000 " +
          s"""{"url":"u","offset":"0","length":"64","filename":"zz_no_such_archive.warc"}""",
        "urn:graft:doc:45 20260102000000 " +
          s"""{"url":"u","offset":"-5","length":"64","filename":"$warcName"}""",
        rotted)
      Files.write(out.resolve("zz_damaged.cdxj"),
        damage.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

  /** Zipnum compaction of the [[cdxWarc]] index — globally SURT-sorted
    * range-partitioned parts + the `cluster.idx` secondary index the
    * pruned prefix lookup reads.
    */
  private def cdxCompact(s: SparkSession, dir: String): String =
    Tables.fixtureDir("cdx_zip", dir) { out =>
      sources.WarcCdx.compact(s, cdxWarc(s, dir), out, nParts = 3)
    }

  /** The INCREMENTAL-MERGE fixture: the [[cdxWarc]] corpus index (docs
    * 0-299) compacted into a 3-part zipnum layout, then a SECOND crawl
    * segment (docs 300-399, its own archive with its own byte layout,
    * dated a month later) merged in via [[sources.WarcCdx.mergeCompact]]
    * — the continuous-crawl maintenance path: only the parts whose key
    * range the new segment touches rewrite; the rest keep their files.
    * Both archives stay uncompressed/single-part/doc_id-ordered so every
    * merged index row remains pure doc_id arithmetic for the oracle.
    */
  private def cdxMerged(s: SparkSession, dir: String): String =
    Tables.fixtureDir("cdx_merged", dir) { out =>
      val seg2 = Tables.fixtureDir("cdx_seg2", dir) { seg2 =>
        val slice = t(s, dir, "documents")
          .filter(col("doc_id") >= 300 && col("doc_id") < 400).select(
            concat(lit("urn:graft:doc:"), col("doc_id")).as("target_uri"),
            col("text").cast("binary").as("payload"),
            lit("2026-02-01T00:00:00Z").as("warc_date"),
            lit("text/plain").as("content_type"),
            col("doc_id"))
        sources.WarcSink.write(
          slice.repartition(1).sortWithinPartitions("doc_id").drop("doc_id"),
          seg2, gzipMembers = false)
      }
      sources.WarcCdx.compact(s, cdxWarc(s, dir), out, nParts = 3)
      sources.WarcCdx.mergeCompact(s, seg2, out)
      // the GC barrier runs too, so the oracle gates the VACUUMED layout:
      // merged + vacuumed must still equal a from-scratch compaction.
      // retain = 2 keeps the PRE-MERGE generation pinnable —
      // q_sink_cdx_pinned gates that snapshot against its own oracle
      sources.WarcCdx.vacuum(s, out, retain = 2)
    }

  /** The MULTI-CAPTURE fixture for the wayback-style closest lookup:
    * docs 0-99 archived THREE times each (2026-01-01 / 03-01 / 06-01),
    * uncompressed single-part ordered by (doc_id, date) — index rows
    * stay doc_id×capture arithmetic — then zipnum-compacted so
    * [[sources.WarcCdx.lookupClosest]] prunes through `cluster.idx`.
    */
  /** Returns (archive dir, compacted index dir). */
  private def cdxMultiTs(s: SparkSession, dir: String): (String, String) = {
    val arch = Tables.fixtureDir("cdx_mts", dir) { arch =>
      val slice = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"),
          explode(array(lit("2026-01-01T00:00:00Z"), lit("2026-03-01T00:00:00Z"),
            lit("2026-06-01T00:00:00Z"))).as("__date"))
        .select(
          concat(lit("urn:graft:doc:"), col("doc_id")).as("target_uri"),
          col("text").cast("binary").as("payload"),
          col("__date").as("warc_date"),
          lit("text/plain").as("content_type"),
          col("doc_id"))
      sources.WarcSink.write(
        slice.repartition(1).sortWithinPartitions("doc_id", "warc_date").drop("doc_id"),
        arch, gzipMembers = false)
    }
    (arch, Tables.fixtureDir("cdx_mtsz", dir)(sources.WarcCdx.compact(s, arch, _, nParts = 3)))
  }

  /** The revisit-dedup fixture: 200 docs where ids 100-199 carry the SAME
    * payload as id-100 — written through the sink with `dedupPayloads`,
    * so half the archive stores as revisit records. One partition:
    * co-located copies are the within-task dedup contract.
    */
  private def revisitWarc(s: SparkSession, dir: String): String =
    Tables.fixtureDir("sink_rv", dir) { path =>
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") < 200)
        .select(col("doc_id"), (col("doc_id") % 100).as("__src"))
      val src = docs.select(col("doc_id").as("__src"), col("text"))
      val slice = base.join(src, Seq("__src")).select(
        concat(lit("urn:graft:doc:"), col("doc_id")).as("target_uri"),
        col("text").cast("binary").as("payload"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        lit("text/plain").as("content_type"),
        col("doc_id"))
      sources.WarcSink.write(
        slice.repartition(1).sortWithinPartitions("doc_id").drop("doc_id"),
        path, dedupPayloads = true)
    }

  /** The CROSS-ARCHIVE dedup fixture: two crawl segments under one
    * parent — segment 1 stores docs 0-99; segment 2 fetches docs 100-199
    * whose payloads REPEAT segment 1's (doc d carries doc d-100's text)
    * and is marked against segment 1's CDX index before writing, so its
    * repeats store as revisits whose referents live in the OTHER
    * archive. One partition each; the mark join touches only the index.
    */
  private def revisitXWarc(s: SparkSession, dir: String): String =
    Tables.fixtureDir("sink_rvx", dir) { parent =>
      val docs = t(s, dir, "documents")
      def slice(lo: Int, hi: Int, srcOffset: Int) = {
        val base = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select(col("doc_id"), (col("doc_id") - srcOffset).as("__src"))
        val src = docs.select(col("doc_id").as("__src"), col("text"))
        base.join(src, Seq("__src")).select(
          concat(lit("urn:graft:doc:"), col("doc_id")).as("target_uri"),
          col("text").cast("binary").as("payload"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          lit("text/plain").as("content_type"),
          col("doc_id"))
      }
      sources.WarcSink.write(
        slice(0, 100, 0).repartition(1).sortWithinPartitions("doc_id").drop("doc_id"),
        s"$parent/c1")
      val marked = sources.WarcSink.markRevisits(
        slice(100, 200, 100).repartition(1).sortWithinPartitions("doc_id"),
        sources.WarcCdx.read(s, s"$parent/c1"))
      sources.WarcSink.write(marked.drop("doc_id"), s"$parent/c2")
    }

  /** The DERIVATIVES fixture: documents doc_id < 400 as full HTML pages —
    * the q_html_extract chrome (script with a bare `<` and a decoy `<a`,
    * style, link-only nav) plus a per-doc footer outlink pair — archived
    * as HTTP `response` records through the distributed sink.
    * [[wetWarc]] / [[watWarc]] derive the WET/WAT companion archives
    * from it, so the three together are the Common Crawl triplet
    * (WARC + WET + WAT) built end to end by graft's own jobs.
    */
  private def htmlWarc(s: SparkSession, dir: String): String =
    Tables.fixtureDir("sink_html", dir) { path =>
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val page = concat(
        lit("<html><head><script>if (1 < 2) { nav(\"<a href='x'>\"); }</script>" +
          "<style>p > a {color:red}</style></head><body>" +
          "<nav><a href=\"/\">Home</a></nav><p>"),
        esc,
        lit("</p><footer><a href=\"/doc/"), col("doc_id"),
        lit("?a=1&amp;b=2\">self</a> <a href='/about'>about</a></footer></body></html>"))
      val head = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\nContent-Length: "),
        length(page.cast("binary")).cast("string"), lit("\r\n\r\n"))
      val slice = t(s, dir, "documents").filter(col("doc_id") < 400).select(
        concat(lit("urn:graft:doc:"), col("doc_id")).as("target_uri"),
        concat(head.cast("binary"), page.cast("binary")).as("payload"),
        lit("2026-01-01T00:00:00Z").as("warc_date"))
      sources.WarcSink.write(slice.repartition(4), path)
    }

  /** WARC → WET over [[htmlWarc]]: `Warc.toWet` (main-text extraction —
    * the chrome and link-density boilerplate drop out) through the sink.
    */
  private def wetWarc(s: SparkSession, dir: String): String =
    Tables.fixtureDir("sink_wet", dir) { path =>
      sources.WarcSink.write(
        sources.Warc.toWet(
          sources.Warc.read(s, htmlWarc(s, dir)), mainTextOnly = true), path)
    }

  /** WARC → WAT over [[htmlWarc]]: `Warc.toWat` (JSON metadata envelopes
    * with document-order outlinks) through the sink.
    */
  private def watWarc(s: SparkSession, dir: String): String =
    Tables.fixtureDir("sink_wat", dir) { path =>
      sources.WarcSink.write(
        sources.Warc.toWat(sources.Warc.read(s, htmlWarc(s, dir))), path)
    }

  /** Fixture ETL for the source/sink round-trip queries (format
    * conversions + the distributed WARC sink write) — memoized per sf
    * dir; Bench's warmup calls this so the probes time reads, not the
    * one-off writes (the rule every other memoized build follows).
    */
  def warmupSources(s: SparkSession, dir: String): Unit = {
    convertedNation(s, dir, "csv"); convertedNation(s, dir, "json")
    convertedNation(s, dir, "orc"); convertedWarc(s, dir); sinkWarc(s, dir)
    cdxWarc(s, dir); revisitWarc(s, dir); cdxCompact(s, dir)
    cdxMerged(s, dir); cdxMultiTs(s, dir)
    htmlWarc(s, dir); wetWarc(s, dir); watWarc(s, dir)
    revisitXWarc(s, dir); ()
  }

  private val relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B1: in-memory (local) table scan — rows collected to the driver and
    // re-registered as a local DataFrame, ≡ the reference's MemTable.
    "q_scan_mem" -> ((s, dir) => {
      val region = t(s, dir, "region")
      val local = s.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(region.collect(): _*)),
        region.schema)
      local.filter(col("r_regionkey") < 3).select("r_regionkey", "r_name")
    }),
    // Source-format breadth: the same table read back through the CSV and
    // JSON sources. The oracle reads the original parquet, so a hash match
    // proves the write→read round-trip is lossless (nation is all
    // int/string — no float-text precision hazards). Explicit schema on
    // read keeps the column types identical to parquet's.
    "q_source_csv" -> ((s, dir) =>
      s.read.option("header", "true").schema(NationSchema)
        .csv(convertedNation(s, dir, "csv"))
        .filter(col("n_regionkey") >= 0)),
    "q_source_json" -> ((s, dir) =>
      s.read.schema(NationSchema)
        .json(convertedNation(s, dir, "json"))
        .filter(col("n_regionkey") >= 0)),
    // columnar non-parquet source (ORC ships with Spark): same losslessness
    // contract, and the filter still pushes to the ORC reader
    "q_source_orc" -> ((s, dir) =>
      s.read.schema(NationSchema)
        .orc(convertedNation(s, dir, "orc"))
        .filter(col("n_regionkey") >= 0)),
    // WARC crawl-archive source: a bounded documents slice rendered as
    // member-gzipped HTTP response records, then read back through the
    // record parser + HTTP body split. A hash match against the original
    // parquet proves gzip-member decode, header walk, Content-Length
    // payload framing, and body extraction are all lossless.
    "q_source_warc" -> ((s, dir) => {
      val recs = sources.Warc.read(s, convertedWarc(s, dir))
      sources.Warc.responseTexts(recs).select(
        regexp_extract(col("target_uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("body").as("text"))
    }),
    // the WRITE side of the same contract: the slice goes out through the
    // distributed DSv2 WARC sink (one member-gzipped archive per
    // partition, executor-side envelope construction) and comes back
    // through the reader — a hash match against the original parquet
    // proves the sink's framing/commit path is lossless too
    "q_sink_warc" -> ((s, dir) => {
      val recs = sources.Warc.read(s, sinkWarc(s, dir))
      sources.Warc.responseTexts(recs).select(
        regexp_extract(col("target_uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("body").as("text"))
    }),
    // the sink's CDX(J) companion INDEX, oracle-checked down to the BYTE
    // OFFSETS: the fixture's uncompressed single-partition doc_id-ordered
    // layout makes every index row pure doc_id arithmetic — the oracle
    // recomputes each record's on-disk length from its header fields
    // (fixed-width WARC-Record-ID/Date/Content-Type + the uri and
    // Content-Length digits + the payload bytes) and every offset as the
    // running sum of the lengths before it. A hash match here proves the
    // index points at REAL byte positions, which is what makes
    // WarcCdx.readRecordAt's one-member point read possible (spec-proved
    // on the gzip layout in WarcSinkSpec).
    "q_sink_cdx" -> ((s, dir) => {
      sources.WarcCdx.read(s, cdxWarc(s, dir)).select(
        regexp_extract(col("urlkey"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("urlkey"), col("timestamp"), col("offset"), col("length"))
    }),
    // INDEX-DRIVEN RANDOM ACCESS end to end: every document comes back
    // through WarcCdx.fetch — index scan → partition-by-archive,
    // offset-sorted member point reads — and must equal the original
    // table. This is the replay path a 100 TB archive serves single
    // pages from: IO is the sum of member lengths, never archive scans.
    "q_sink_cdx_fetch" -> ((s, dir) => {
      val path = cdxWarc(s, dir)
      sources.WarcCdx.fetch(sources.WarcCdx.read(s, path), path, verifyDigest = true)
        .toDF().select(
        regexp_extract(col("target_uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("payload").cast("string").as("text"))
    }),
    // DAMAGE TOLERANCE end to end, oracle-gated: the same fetch over an
    // index carrying every named damage shape (non-CDXJ line, non-numeric
    // /negative/beyond-EOF coordinates, missing archive file, bit-rotten
    // digest) must return EXACTLY the clean corpus — each damaged line
    // costs its own row and nothing else; none of them may fail the job
    // or leak a wrong payload into the result
    "q_sink_cdx_damage" -> ((s, dir) => {
      val path = cdxDamaged(s, dir)
      sources.WarcCdx.fetch(sources.WarcCdx.read(s, path), path, verifyDigest = true)
        .toDF().select(
        regexp_extract(col("target_uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("payload").cast("string").as("text"))
    }),
    // ARCHIVE-TIME DEDUP round trip: ids 100-199 duplicate ids 0-99's
    // payloads, so the sink (dedupPayloads) stores them as ~300 B WARC
    // revisit records — identical-payload-digest profile, the ecosystem's
    // storage dedup — and resolveRevisits must reconstruct every (doc_id,
    // text) pair as if nothing had been elided. The oracle replays the
    // duplication arithmetic straight from the documents table.
    "q_sink_revisit" -> ((s, dir) => {
      val recs = sources.Warc.read(s, revisitWarc(s, dir))
      sources.Warc.resolveRevisits(recs).toDF().select(
        regexp_extract(col("target_uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("payload").cast("string").as("text"))
    }),
    // CROSS-ARCHIVE dedup round trip: segment 2's repeats were marked
    // against segment 1's CDX and stored as revisits referencing records
    // in the OTHER archive — resolveRevisits over both segments must
    // reconstruct every (doc_id, text) pair; the oracle replays the
    // duplication arithmetic (doc d's payload is doc d-100's text)
    "q_sink_revisit_x" -> ((s, dir) => {
      val recs = sources.Warc.read(s, s"${revisitXWarc(s, dir)}/*")
      sources.Warc.resolveRevisits(recs).toDF().select(
        regexp_extract(col("target_uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("payload").cast("string").as("text"))
    }),
    // ZIPNUM PREFIX LOOKUP: the compacted (globally SURT-sorted,
    // cluster.idx-pruned) index answers "every record under this key
    // prefix" by reading ~one part file — here the prefix matches every
    // doc whose id RENDERS with a leading '1' (1, 10-19, 100-199), and
    // the oracle replays both the byte arithmetic AND the string-prefix
    // selection
    "q_sink_cdx_lookup" -> ((s, dir) => {
      sources.WarcCdx.lookupPrefix(s, cdxCompact(s, dir), "urn:graft:doc:1").select(
        regexp_extract(col("urlkey"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("urlkey"), col("offset"), col("length"))
    }),
    // INCREMENTAL MERGE ≡ FULL RECOMPACTION, row for row: a second crawl
    // segment's index merged into the compacted layout WITHOUT
    // re-shuffling the corpus index (only the touched parts rewrite —
    // spec-pinned) must read back exactly what compacting everything from
    // scratch would produce. The oracle replays BOTH archives' byte
    // layouts from doc_id arithmetic — each segment's offsets window over
    // its own archive only.
    "q_sink_cdx_merge" -> ((s, dir) => {
      sources.WarcCdx.readCompacted(s, cdxMerged(s, dir)).select(
        regexp_extract(col("urlkey"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("urlkey"), col("timestamp"), col("offset"), col("length"))
    }),
    // TIME-TRAVEL READ: the same layout's PRE-MERGE manifest generation,
    // retained through vacuum(retain = 2) — a reader pinned to the oldest
    // kept generation sees exactly the cycle-1 index (docs 0-299),
    // whatever merged after it. The oracle is the merge oracle's first
    // branch alone: the MVCC contract as a hash-checked query.
    "q_sink_cdx_pinned" -> ((s, dir) => {
      val out = cdxMerged(s, dir)
      val v = sources.WarcCdx.manifestVersions(s, out).head
      sources.WarcCdx.readCompacted(s, out, v).select(
        regexp_extract(col("urlkey"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("urlkey"), col("timestamp"), col("offset"), col("length"))
    }),
    // WAYBACK CLOSEST LOOKUP: "the capture of key K nearest time T" over
    // a 3-captures-per-doc compacted index — exact hit, midpoint rounding
    // both directions, a numeric TIE (resolved to the earlier capture),
    // and an out-of-range target clamping to the newest capture; each
    // lookup reads only the cluster.idx-selected part. The oracle replays
    // the capture arithmetic AND the |ts−T| integer-nearness rule.
    "q_sink_cdx_closest" -> ((s, dir) => {
      val out = cdxMultiTs(s, dir)._2
      val reqs = Seq(
        ("urn:graft:doc:42", "20260101000000"), // exact capture hit
        ("urn:graft:doc:5", "20260215000000"), // rounds up to 03-01
        ("urn:graft:doc:7", "20260401000000"), // rounds back to 03-01
        ("urn:graft:doc:13", "20260201000000"), // tie 01-01/03-01 → earlier
        ("urn:graft:doc:99", "20991231235959")) // beyond newest → 06-01
      reqs.map { case (k, ts) => sources.WarcCdx.lookupClosest(s, out, k, ts) }
        .reduce(_.unionByName(_)).select(
          regexp_extract(col("urlkey"), "urn:graft:doc:(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("urlkey"), col("timestamp"), col("offset"), col("length"))
    }),
    // BATCH closest lookup — the access-log-replay shape: one hundred
    // per-document "as of" requests (five target-time classes cycling by
    // doc_id) resolve in ONE distributed pass (route each request to its
    // covering part, prune the scan to targeted parts, one urlkey
    // shuffle, per-request nearest window) instead of a driver loop of
    // point queries. The oracle replays the capture arithmetic and the
    // nearest rule per request.
    "q_sink_cdx_closest_batch" -> ((s, dir) => {
      val out = cdxMultiTs(s, dir)._2
      val targets = array(
        lit("20260101000000"), lit("20260215000000"), lit("20260401000000"),
        lit("20260201000000"), lit("20991231235959"))
      val reqs = t(s, dir, "documents").filter(col("doc_id") < 100).select(
        concat(lit("urn:graft:doc:"), col("doc_id")).as("urlkey"),
        element_at(targets, (col("doc_id") % 5 + 1).cast("int")).as("timestamp"))
      sources.WarcCdx.lookupClosestBatch(s, out, reqs).select(
        regexp_extract(col("urlkey"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("urlkey"), col("req_ts"), col("timestamp"), col("offset"), col("length"))
    }),
    // FULL WAYBACK REPLAY, end to end: batch closest lookup → distributed
    // random-access fetch — "give me every page as of its own time T"
    // resolves to the actual archived BYTES in two composed passes, IO
    // bounded by the fetched member lengths, never the archive. The
    // oracle checks the payloads round-trip to the source documents.
    "q_sink_cdx_replay" -> ((s, dir) => {
      val (arch, out) = cdxMultiTs(s, dir)
      val reqs = t(s, dir, "documents").filter(col("doc_id") < 100).select(
        concat(lit("urn:graft:doc:"), col("doc_id")).as("urlkey"),
        lit("20260301000000").as("timestamp"))
      val hits = sources.WarcCdx.lookupClosestBatch(s, out, reqs)
      sources.WarcCdx.fetch(hits, arch, verifyDigest = true).toDF().select(
        regexp_extract(col("target_uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("warc_date"),
        col("payload").cast("string").as("text"))
    }),
    // TPC-H Q1-style grouped aggregate (map-side partial agg + final)
    "q_agg_group" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          // revenue's true value has 4 decimals — round(..., 2) on a double
          // sits on .xx50 halfway cases. Exact decimal arithmetic on both
          // sides instead: both engines compute the identical exact sum, then
          // apply the same positive-halfway-up rounding in the final cast.
          // The FINAL output is cast to double (both sides — the identical
          // 2-decimal value converts bitwise-identically): DECIMAL output
          // columns hash differently in the driver's type-sensitive compare
          // even when every value matches (r2 hash fail). Bitwise identity
          // holds while the unscaled value stays ≤ 2^53 (~9e13 at scale 2 —
          // orders of magnitude above any sf here); past that, the two
          // engines' decimal→double conversions may round differently.
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(18,2)").cast("double").as("revenue"),
          round(min(col("l_quantity")), 2).as("min_qty"),
          round(max(col("l_quantity")), 2).as("max_qty"))),
    "q_agg_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"))),
    "q_agg_having" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 12)),
    "q_agg_rollup" -> ((s, dir) =>
      t(s, dir, "orders").rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))),
    "q_agg_cube" -> ((s, dir) =>
      t(s, dir, "orders").cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))),
    // explicit GROUPING SETS (the general form rollup/cube desugar into)
    "q_agg_grouping_sets" -> ((s, dir) => {
      Tables.register(s, dir)
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
    }),
    // statistical aggregates: stddev at 4 dp (~10 significant digits —
    // safe under cross-engine accumulation-order ulps on a continuous
    // value) and corr at 6 dp; var_samp deliberately omitted (≈2e10 at
    // 4 dp would demand 15 significant digits, past double agreement)
    "q_agg_stats" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus"))
        .agg(round(stddev_samp(col("o_totalprice")), 4).as("sd"),
          round(corr(col("o_totalprice"), col("o_custkey").cast("double")), 6).as("c"))),
    // exact interpolated percentiles (quantities are integral doubles, so
    // the interpolated values are x.0/x.5 — bitwise-identical across
    // engines without rounding)
    "q_agg_percentile" -> ((s, dir) => {
      Tables.register(s, dir)
      s.sql("""SELECT l_returnflag,
              |  percentile(l_quantity, 0.25) AS p25,
              |  percentile(l_quantity, 0.5)  AS p50,
              |  percentile(l_quantity, 0.75) AS p75
              |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    }),
    // pivot (wide aggregation); sum(1) not count so absent combinations are
    // NULL on both sides
    "q_agg_pivot" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(lit(1L)))
        .select(col("o_orderpriority"),
          col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))),
    // Sketch aggregation: HLL distinct-count (Apache DataSketches via
    // hll_sketch_agg) gated against the exact count. The estimate itself is
    // engine-specific, so the driver-checked contract is the deterministic
    // accuracy BOOLEAN (HLL at default lgK=12 is well under 5% on these
    // cardinalities) next to the exact count — the oracle asserts both. At
    // 100 TB the sketch is the point: mergeable partial state per partition,
    // constant size, one narrow shuffle — where countDistinct must shuffle
    // every distinct value.
    "q_agg_hll" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n_est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_est") - col("n_exact")).cast("double") <=
            col("n_exact").cast("double") * 0.05).as("hll_ok"))),
    // set-valued aggregation: collect_set + sort_array gives a
    // deterministic ordering (collect order never leaks into the hash);
    // array_join flattens to a scalar so the oracle harness can sort/hash
    // the result frame (it cannot compare array-typed cells)
    "q_agg_listsorted" -> ((s, dir) =>
      t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",")
          .as("segments"))),
    // Joins. Dimension sides (region/nation/customer-sized) are broadcast;
    // fact-fact joins shuffle on the join key and scale linearly.
    "q_join_inner" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "inner")
        .filter(o("o_totalprice") > 450000.0)
        .select(c("c_custkey"), c("c_name"), o("o_orderkey"), o("o_totalprice"))
    }),
    "q_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"))
    }),
    "q_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),
    "q_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    "q_join_full" -> ((s, dir) => {
      val cc = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val sc = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      cc.join(sc, Seq("nk"), "full")
        .select(col("nk"), col("n_cust"), col("n_supp"))
    }),
    "q_join_cross" -> ((s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select("r_name", "n_name")),
    // TPC-H Q5-style multi-way join: dims broadcast, facts shuffle on keys
    "q_join_multi" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation"); val c = t(s, dir, "customer")
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name"))
        // decimal-exact revenue, double output — same halfway-proofing and
        // type normalization as q_agg_group
        .agg(sum(l("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - l("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,2)").cast("double").as("revenue"))
    }),
    // Bucketed (co-located) join: both sides pre-bucketed on the join key,
    // so the join and the following same-key aggregation plan with no
    // exchange at all (see PlanShapeSpec assertion)
    "q_join_bucketed" -> ((s, dir) => {
      val (cName, oName) = Tables.bucketed(s, dir)
      val c = s.table(cName); val o = s.table(oName)
      // merge hint = the strategy a fact⋈fact join needs at scale; with both
      // sides bucketed+sorted on the key it plans with zero exchanges
      c.hint("merge").join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(c("c_custkey"))
        .agg(count(lit(1)).as("n_orders"), round(sum(o("o_totalprice")), 2).as("total"))
    }),
    // Non-equi range (banded) join: each order matched to its price band by
    // interval containment. The band table is dimension-sized, so Spark
    // plans a broadcast nested-loop — the right physical strategy for a
    // non-equi condition against a small side (an equi-shuffle can't
    // express BETWEEN).
    "q_join_range" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("tiny", 0.0, 50000.0), ("small", 50000.0, 150000.0),
        ("mid", 150000.0, 300000.0), ("large", 300000.0, 450000.0),
        ("huge", 450000.0, 1e9)).toDF("band", "lo", "hi")
      t(s, dir, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"))
    }),
    // Binned point-in-interval join (operators/RangeJoin.scala): both sides
    // LARGE, so the broadcast nested-loop of q_join_range is unavailable —
    // the binning rewrite turns the containment predicate into an equi join
    // on a bin key + residual filter (PlanShapeSpec asserts no
    // BroadcastNestedLoopJoin/CartesianProduct). Here: for every distinct
    // ship date, how many orders have it inside their 30-day window.
    "q_join_interval" -> ((s, dir) => {
      val epoch = to_date(lit("1970-01-01"))
      val points = t(s, dir, "lineitem")
        .select(to_date(col("l_shipdate")).as("ship_date")).distinct()
        .withColumn("d", datediff(col("ship_date"), epoch).cast("long"))
      // weighted-interval compaction (r21, guide §2.3 — shuffle keys and
      // weights instead of payloads): every order's window is the same 30
      // days, so orders sharing a start day are IDENTICAL intervals —
      // collapse them to one weighted row before the fan-out join (sf0.1:
      // 150k interval rows → ~2.4k, candidate pairs 4.7M → ~75k) and sum
      // the weights where the raw join counted rows. Bitwise-identical
      // n_orders (Σ of per-day counts = the row count), same oracle.
      val intervals = t(s, dir, "orders")
        .select(datediff(to_date(col("o_orderdate")), epoch).cast("long").as("win_start"))
        .groupBy(col("win_start")).agg(count(lit(1)).as("w"))
        .withColumn("win_end", col("win_start") + 30)
      graft.operators.RangeJoin
        .pointInInterval(points, intervals, "d", "win_start", "win_end", binSize = 32)
        .groupBy(col("ship_date"))
        .agg(sum(col("w")).as("n_orders"))
    }),
    // Binned interval-overlap join: urgent-order 4-day windows × low-order
    // 4-day windows, each overlapping pair counted exactly once (canonical
    // bin claims the pair — no post-join distinct). Both sides fact-sized;
    // a nested-loop here is O(n²) at scale.
    "q_join_overlap" -> ((s, dir) => {
      val epoch = to_date(lit("1970-01-01"))
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(datediff(to_date(col("o_orderdate")), epoch).cast("long").as("u_start"))
        .withColumn("u_end", col("u_start") + 3)
      val low = o.filter(col("o_orderpriority") === "5-LOW")
        .select(datediff(to_date(col("o_orderdate")), epoch).cast("long").as("w_start"))
        .withColumn("w_end", col("w_start") + 3)
      graft.operators.RangeJoin
        .intervalOverlap(urgent, low, "u_start", "u_end", "w_start", "w_end", binSize = 4)
        .groupBy(col("u_start"))
        .agg(count(lit(1)).as("n_overlaps"))
        .select(date_add(epoch, col("u_start").cast("int")).as("urgent_day"),
          col("n_overlaps"))
    }),
    // Bloom-prefiltered semi join (operators/BloomPrune.scala): lineitem
    // rows of URGENT orders. The serialized bloom filter of the dim keys
    // rides into a map-side might_contain(xxhash64) probe that cuts the
    // fact side AT THE SCAN, before the shuffle; the real semi join after
    // it restores exactness, so the oracle is the plain semi join.
    // expectedItems is a capacity (fpp sizing), not a correctness input.
    "q_join_bloom" -> ((s, dir) => {
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      graft.operators.BloomPrune
        .semiJoinPrune(t(s, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey",
          expectedItems = 1 << 16)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),
    // Z-order clustering key (operators/ZOrder.scala): Morton interleave of
    // (o_custkey, o_orderkey) — the multi-column skipping layout key. The
    // oracle replays the SAME generated bit arithmetic; the file-skipping
    // effect of a range write on this key is asserted in BloomZOrderSpec
    // (both columns prune, which no single-column sort gives).
    "q_zorder_key" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          graft.operators.ZOrder.zValue(col("o_custkey"), col("o_orderkey"), bits = 20).as("z"))
        .orderBy(col("z"), col("o_orderkey"))
        .limit(20)),
    // Backward as-of join (operators/AsOfJoin.scala): each purchase event
    // matched to the user's most recent prior-or-same-instant click. One
    // shuffle + window, no join operator (AsOfJoinSpec asserts the plan);
    // the oracle is DuckDB's native ASOF LEFT JOIN — matching semantics
    // must agree exactly, including ties and no-match NULLs.
    "q_join_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.asofJoinBackward(purchases, clicks, "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"), col("asof_value"))
    }),
    // Forward as-of: the mirror direction (earliest click AT OR AFTER each
    // purchase) — the "next observation" join; oracle is DuckDB ASOF with
    // the inequality flipped.
    "q_join_asof_fwd" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.asofJoinForward(purchases, clicks, "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"), col("asof_value"))
    }),
    // Salted as-of join: the skew remedy (AsOfJoin.asofJoinBackwardSalted)
    // must be result-equal to the plain operator — asserted against the SAME
    // DuckDB ASOF oracle. The 4 heaviest purchase keys are genuinely salted
    // (threshold 0 → top-k by count), so the salted path, not the degenerate
    // empty-hot fallback, is what the oracle checks.
    "q_join_asof_salted" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val hot = graft.operators.SkewJoin.hotKeys(purchases, "user_id", threshold = 0L, maxKeys = 4)
      graft.operators.AsOfJoin.asofJoinBackwardSalted(
          purchases, clicks, "user_id", "ts", "ts", hot, buckets = 8)
        .select(col("event_id"), col("user_id"), col("asof_value"))
    }),
    // Skew-salted join: the hot-key lever when broadcast and AQE skew-join
    // don't apply (see operators/SkewJoin.scala). The salted result must
    // equal the plain join — asserted here against the DuckDB oracle, and
    // the salt mechanics in SkewJoinSpec.
    "q_join_salted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val ords = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      // threshold 10 + the maxKeys=64 cap salt the genuinely hottest orders
      // only; a low threshold alone would classify thousands of warm keys
      // as hot on this distribution and replicate far more than the skew
      // ever cost (the cap is the operator's safety contract)
      graft.operators.SkewJoin
        .autoSaltedInnerJoin(li, ords, "l_orderkey", threshold = 10L, buckets = 8)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity").cast("long")).as("total_qty"))
    }),
    // Window functions
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          row_number().over(w).as("rn"), rank().over(w).as("rk"))
        .filter(col("rn") <= 5)
    }),
    "q_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
    }),
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
    }),
    // distribution ranks + a bounded sliding frame. percent_rank is a raw
    // integer division — bitwise-identical across engines; the moving sum
    // goes through decimal so DuckDB's segment-tree aggregation order
    // cannot produce a different last-bit double
    "q_window_frames" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val f = w.rowsBetween(-2, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(f)
          .cast("double").as("mov_sum3"))
    }),
    // Sort / top-k (Spark plans TakeOrderedAndProject — no full sort)
    "q_sort_limit" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)),
    // Set operations
    "q_set_union" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()),
    "q_set_intersect" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))),
    // operands chosen so the difference is NON-EMPTY at every sf (the r18
    // customer-minus-supplier nationkey form was always ∅ by data shape —
    // a vacuous green): high-value order keys minus finished-order keys
    // leaves the open/pending high-value orders, thousands of rows at
    // sf0.01
    "q_set_except" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .select(col("o_orderkey").as("okey"))
        .except(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("okey")))),
    // Scalar functions: string / date / math
    "q_scalar_string" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 100).select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("pri_u"),
        substring(col("o_orderpriority"), 1, 1).as("pri_c"),
        length(col("o_orderpriority")).as("pri_len"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"))),
    "q_scalar_date" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 200).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).as("mon_start"))),
    "q_scalar_math" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 200).select(
        col("o_orderkey"),
        round(abs(col("o_totalprice") - 1000.0), 2).as("a"),
        floor(col("o_totalprice")).as("fl"),
        ceil(col("o_totalprice")).as("ce"),
        round(sqrt(col("o_totalprice")), 6).as("sq"),
        round(pow(col("o_totalprice"), 2), 2).as("p2"))),
    // The custom codegen expressions through SQL TEXT: Graft.install
    // registers cosine_similarity/dot_product/simhash64/rolling_hash into
    // the session's function registry (GraftExtensions injects the same for
    // .withExtensions sessions), so a SQL-only user reaches the native
    // expressions — same oracle as the DataFrame-API brute-force top-k
    "q_sql_cosine" -> ((s, dir) => {
      Tables.register(s, dir); Graft.install(s)
      s.sql("""SELECT vec_id, round(cosine_similarity(embedding,
              |  (SELECT embedding FROM embeddings WHERE vec_id = 0)), 6) AS cosine
              |FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)
    }),
    // Subqueries: scalar, IN, correlated EXISTS
    "q_subquery_scalar" -> ((s, dir) => {
      Tables.register(s, dir)
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
              |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.9 FROM orders)""".stripMargin)
    }),
    "q_subquery_in" -> ((s, dir) => {
      Tables.register(s, dir)
      s.sql("""SELECT o_orderkey, o_custkey FROM orders
              |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9900)""".stripMargin)
    }),
    "q_subquery_exists" -> ((s, dir) => {
      Tables.register(s, dir)
      s.sql("""SELECT o_orderkey FROM orders o
              |WHERE EXISTS (SELECT 1 FROM lineitem l
              |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)""".stripMargin)
    }),
    // Generator / lateral: explode tokens
    "q_explode_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))),
    // Semi-structured: JSON field extraction
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 100).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),
    // Scalar UDF (registered) + typed UDAF (Aggregator) — see functions pkg
    "q_udf_scalar" -> ((s, dir) => {
      val clip = udf((v: Double) => math.min(math.max(v, 10.0), 100.0))
      t(s, dir, "events").filter(col("event_id") < 200)
        .select(col("event_id"), round(clip(col("value")), 2).as("clipped"))
    }),
    "q_udaf_sumsq" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(functions.SumOfSquares.column(col("value")), 2).as("sumsq"),
          count(lit(1)).as("cnt"))),
    // Custom Generator UDTF: word-trigram shingles, one row per shingle
    // (planned through Generate, partition-local fan-out like explode)
    "q_udtf_shingles" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          functions.WordShinglesFunction.wordShingles(col("text"), 3).as("shingle"))),
    // Event-time tumbling window over the events stream table (batch form of
    // the Structured Streaming windowed aggregation; ts schema-adaptive via
    // Tables.eventTs — see Tables.register)
    "q_time_tumbling" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(window(Tables.eventTs(e), "1 hour")
          .getField("start").as("hr"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    }),
    // Gap-based session windows per user (same operator runs over the event
    // stream — see streaming.EventStreams + StreamingSpec)
    "q_time_sessions" -> ((s, dir) => {
      val raw = t(s, dir, "events")
      val e = raw.select(
        Tables.eventTs(raw).as("ts"), col("user_id"), col("value"))
      graft.streaming.EventStreams.userSessions(e, gap = "30 minutes")
    }),
    // Per-user daily activity densified (operators/GapFill.scala): every
    // calendar day between each user's first and last event, absent days
    // zero-filled — the spine comes from a per-key aggregate + sequence
    // explode, never a driver collect
    "q_time_gapfill" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val daily = e
        .select(col("user_id"),
          to_date(Tables.eventTs(e)).as("day"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.GapFill.gapFillDaily(daily, "user_id", "day",
        Map("n_events" -> lit(0L)))
    }),
    // Forward fill over the same spine: each user's daily peak value, gaps
    // carrying the last observed peak forward (no arithmetic on the value —
    // the carried double is bitwise the engine-agnostic source value)
    "q_time_ffill" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val daily = e
        .select(col("user_id"),
          to_date(Tables.eventTs(e)).as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(max(col("value")).as("peak_value"))
      val dense = graft.operators.GapFill.gapFillDaily(daily, "user_id", "day")
      graft.operators.GapFill.forwardFill(dense, "user_id", "day", Seq("peak_value"))
    })
  )

  private val relationalOracles: Map[String, String] = Map(
    "q_scan_mem" -> "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3",
    // oracle reads the ORIGINAL parquet: equality proves the csv/json
    // round-trip lost nothing
    "q_source_csv" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey >= 0",
    "q_source_json" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey >= 0",
    "q_source_orc" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey >= 0",
    "q_source_warc" -> "SELECT doc_id, text FROM documents WHERE doc_id < 500",
    "q_sink_warc" -> "SELECT doc_id, text FROM documents WHERE doc_id < 500",
    // replays the archive's BINARY layout from doc_id arithmetic: record
    // length = 258 fixed header bytes (incl. the fixed-width 36-char
    // record id, the 20-char date, and the 37-char payload digest) +
    // uri chars + Content-Length
    // digits + payload bytes; offset = running sum of prior lengths in
    // doc_id (= write) order
    "q_sink_cdx" ->
      ("WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n " +
        "FROM documents WHERE doc_id < 300), " +
        "r AS (SELECT doc_id, 'urn:graft:doc:' || CAST(doc_id AS VARCHAR) AS urlkey, " +
        "CAST(258 + len('urn:graft:doc:' || CAST(doc_id AS VARCHAR)) " +
        "+ len(CAST(n AS VARCHAR)) + n AS BIGINT) AS length FROM d) " +
        "SELECT doc_id, urlkey, '20260101000000' AS \"timestamp\", " +
        "CAST(COALESCE(SUM(length) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset, " +
        "length FROM r"),
    "q_sink_cdx_fetch" -> "SELECT doc_id, text FROM documents WHERE doc_id < 300",
    // damage drops row-for-row: the surviving fetch IS the clean corpus
    "q_sink_cdx_damage" -> "SELECT doc_id, text FROM documents WHERE doc_id < 300",
    // the duplication arithmetic: doc d's payload is doc (d % 100)'s text
    "q_sink_revisit" ->
      ("SELECT d.doc_id, d2.text AS text FROM documents d " +
        "JOIN documents d2 ON d2.doc_id = d.doc_id % 100 WHERE d.doc_id < 200"),
    "q_sink_revisit_x" ->
      ("SELECT d.doc_id, d2.text AS text FROM documents d " +
        "JOIN documents d2 ON d2.doc_id = d.doc_id % 100 WHERE d.doc_id < 200"),
    // q_sink_cdx's byte replay restricted to ids whose decimal string
    // starts with '1' (the lookup prefix); offsets still window over ALL
    // ids < 300 because the archive layout is unchanged
    "q_sink_cdx_lookup" ->
      ("WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n " +
        "FROM documents WHERE doc_id < 300), " +
        "r AS (SELECT doc_id, 'urn:graft:doc:' || CAST(doc_id AS VARCHAR) AS urlkey, " +
        "CAST(258 + len('urn:graft:doc:' || CAST(doc_id AS VARCHAR)) " +
        "+ len(CAST(n AS VARCHAR)) + n AS BIGINT) AS length FROM d), " +
        "o AS (SELECT doc_id, urlkey, " +
        "CAST(COALESCE(SUM(length) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset, " +
        "length FROM r) " +
        "SELECT doc_id, urlkey, \"offset\", length FROM o " +
        "WHERE CAST(doc_id AS VARCHAR) LIKE '1%'"),
    // the merged index ≡ both segments' byte replay: segment A (docs
    // < 300, dated 2026-01) windows its offsets over its own archive;
    // segment B (docs 300-399, dated 2026-02) over ITS own — merging
    // moved index LINES, never byte coordinates
    "q_sink_cdx_merge" ->
      ("WITH da AS (SELECT doc_id, octet_length(encode(text)) AS n " +
        "FROM documents WHERE doc_id < 300), " +
        "ra AS (SELECT doc_id, 'urn:graft:doc:' || CAST(doc_id AS VARCHAR) AS urlkey, " +
        "CAST(258 + len('urn:graft:doc:' || CAST(doc_id AS VARCHAR)) " +
        "+ len(CAST(n AS VARCHAR)) + n AS BIGINT) AS length FROM da), " +
        "oa AS (SELECT doc_id, urlkey, '20260101000000' AS ts, " +
        "CAST(COALESCE(SUM(length) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS \"offset\", " +
        "length FROM ra), " +
        "db AS (SELECT doc_id, octet_length(encode(text)) AS n " +
        "FROM documents WHERE doc_id >= 300 AND doc_id < 400), " +
        "rb AS (SELECT doc_id, 'urn:graft:doc:' || CAST(doc_id AS VARCHAR) AS urlkey, " +
        "CAST(258 + len('urn:graft:doc:' || CAST(doc_id AS VARCHAR)) " +
        "+ len(CAST(n AS VARCHAR)) + n AS BIGINT) AS length FROM db), " +
        "ob AS (SELECT doc_id, urlkey, '20260201000000' AS ts, " +
        "CAST(COALESCE(SUM(length) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS \"offset\", " +
        "length FROM rb) " +
        "SELECT doc_id, urlkey, ts AS \"timestamp\", \"offset\", length FROM oa " +
        "UNION ALL " +
        "SELECT doc_id, urlkey, ts AS \"timestamp\", \"offset\", length FROM ob"),
    // the pinned pre-merge generation is the merge oracle's FIRST branch:
    // only cycle 1's captures, at their original offsets
    "q_sink_cdx_pinned" ->
      ("WITH da AS (SELECT doc_id, octet_length(encode(text)) AS n " +
        "FROM documents WHERE doc_id < 300), " +
        "ra AS (SELECT doc_id, 'urn:graft:doc:' || CAST(doc_id AS VARCHAR) AS urlkey, " +
        "CAST(258 + len('urn:graft:doc:' || CAST(doc_id AS VARCHAR)) " +
        "+ len(CAST(n AS VARCHAR)) + n AS BIGINT) AS length FROM da) " +
        "SELECT doc_id, urlkey, '20260101000000' AS \"timestamp\", " +
        "CAST(COALESCE(SUM(length) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS \"offset\", " +
        "length FROM ra"),
    // the closest-capture rule replayed: 3 captures per doc (offsets
    // window over (doc_id, ts) — the archive's write order), nearest =
    // min |14-digit ts − target| as integers, ties to the earlier capture
    "q_sink_cdx_closest" ->
      ("WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n " +
        "FROM documents WHERE doc_id < 100), " +
        "c AS (SELECT doc_id, ts, 'urn:graft:doc:' || CAST(doc_id AS VARCHAR) AS urlkey, " +
        "CAST(258 + len('urn:graft:doc:' || CAST(doc_id AS VARCHAR)) " +
        "+ len(CAST(n AS VARCHAR)) + n AS BIGINT) AS length " +
        "FROM d CROSS JOIN (VALUES ('20260101000000'), ('20260301000000'), " +
        "('20260601000000')) t(ts)), " +
        "o AS (SELECT doc_id, urlkey, ts, " +
        "CAST(COALESCE(SUM(length) OVER (ORDER BY doc_id, ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS \"offset\", " +
        "length FROM c), " +
        "req(rdoc, target) AS (VALUES (42, 20260101000000), (5, 20260215000000), " +
        "(7, 20260401000000), (13, 20260201000000), (99, 20991231235959)) " +
        "SELECT doc_id, urlkey, ts AS \"timestamp\", \"offset\", length " +
        "FROM req JOIN o ON o.doc_id = req.rdoc " +
        "QUALIFY row_number() OVER (PARTITION BY rdoc " +
        "ORDER BY abs(CAST(ts AS BIGINT) - target), ts) = 1"),
    // the batch form: one request per doc, target class cycling by
    // doc_id % 5, nearest capture per request replayed the same way
    "q_sink_cdx_closest_batch" ->
      ("WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n " +
        "FROM documents WHERE doc_id < 100), " +
        "c AS (SELECT doc_id, ts, 'urn:graft:doc:' || CAST(doc_id AS VARCHAR) AS urlkey, " +
        "CAST(258 + len('urn:graft:doc:' || CAST(doc_id AS VARCHAR)) " +
        "+ len(CAST(n AS VARCHAR)) + n AS BIGINT) AS length " +
        "FROM d CROSS JOIN (VALUES ('20260101000000'), ('20260301000000'), " +
        "('20260601000000')) t(ts)), " +
        "o AS (SELECT doc_id, urlkey, ts, " +
        "CAST(COALESCE(SUM(length) OVER (ORDER BY doc_id, ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS \"offset\", " +
        "length FROM c), " +
        "req AS (SELECT doc_id AS rdoc, CASE CAST(doc_id % 5 AS INTEGER) " +
        "WHEN 0 THEN '20260101000000' WHEN 1 THEN '20260215000000' " +
        "WHEN 2 THEN '20260401000000' WHEN 3 THEN '20260201000000' " +
        "ELSE '20991231235959' END AS req_ts FROM d) " +
        "SELECT doc_id, urlkey, req_ts, ts AS \"timestamp\", \"offset\", length " +
        "FROM req JOIN o ON o.doc_id = req.rdoc " +
        "QUALIFY row_number() OVER (PARTITION BY rdoc " +
        "ORDER BY abs(CAST(ts AS BIGINT) - CAST(req_ts AS BIGINT)), ts) = 1"),
    // replay lands the actual archived bytes of the 2026-03-01 capture:
    // payload round-trips to the source text, date proves WHICH capture
    "q_sink_cdx_replay" ->
      ("SELECT doc_id, '2026-03-01T00:00:00Z' AS warc_date, text " +
        "FROM documents WHERE doc_id < 100"),
    "q_agg_group" -> ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
      "round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_price, " +
      // DuckDB's decimal downscale CAST truncates, so round() first (half-away
      // == Spark's HALF_UP for positive values), then cast only fixes the
      // scale; the outer DOUBLE cast matches the Spark side's output type.
      "CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue, " +
      "round(min(l_quantity), 2) AS min_qty, round(max(l_quantity), 2) AS max_qty " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "q_agg_distinct" -> ("SELECT count(DISTINCT l_orderkey) AS n_orders, " +
      "count(DISTINCT l_partkey) AS n_parts FROM lineitem"),
    "q_agg_having" -> ("SELECT o_custkey, count(*) AS cnt FROM orders " +
      "GROUP BY o_custkey HAVING count(*) >= 12"),
    "q_agg_rollup" -> ("SELECT o_orderstatus, o_orderpriority, count(*) AS cnt " +
      "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"),
    "q_agg_cube" -> ("SELECT o_orderstatus, o_orderpriority, count(*) AS cnt " +
      "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"),
    "q_agg_grouping_sets" -> ("SELECT o_orderstatus, o_orderpriority, count(*) AS cnt " +
      "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"),
    "q_agg_stats" -> ("SELECT o_orderstatus, round(stddev_samp(o_totalprice), 4) AS sd, " +
      "round(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 6) AS c " +
      "FROM orders GROUP BY o_orderstatus"),
    "q_agg_percentile" -> ("SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS p25, " +
      "quantile_cont(l_quantity, 0.5) AS p50, quantile_cont(l_quantity, 0.75) AS p75 " +
      "FROM lineitem GROUP BY l_returnflag"),
    "q_agg_pivot" -> ("SELECT o_orderpriority, " +
      "CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 END) AS BIGINT) AS n_f, " +
      "CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 END) AS BIGINT) AS n_o, " +
      "CAST(sum(CASE WHEN o_orderstatus='P' THEN 1 END) AS BIGINT) AS n_p " +
      "FROM orders GROUP BY o_orderpriority"),
    // the estimate is engine-specific; the cross-engine contract is the
    // exact count plus the accuracy gate holding (TRUE for every group)
    "q_agg_hll" -> ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, " +
      "TRUE AS hll_ok FROM events GROUP BY event_type"),
    "q_agg_listsorted" -> ("SELECT c_nationkey, " +
      "array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments " +
      "FROM customer GROUP BY c_nationkey"),
    "q_join_inner" -> ("SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice " +
      "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_totalprice > 450000.0"),
    "q_join_left" -> ("SELECT c.c_custkey, count(o.o_orderkey) AS n_orders " +
      "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey GROUP BY c.c_custkey"),
    "q_join_semi" -> ("SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
      "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)"),
    "q_join_anti" -> ("SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS " +
      "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)"),
    "q_join_full" -> ("SELECT coalesce(c.nk, s.nk) AS nk, c.n_cust, s.n_supp FROM " +
      "(SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey) c " +
      "FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) s " +
      "ON c.nk = s.nk"),
    "q_join_cross" -> "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "q_join_bucketed" -> ("SELECT c.c_custkey, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS total " +
      "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey GROUP BY c.c_custkey"),
    "q_join_asof" -> ("SELECT p.event_id, p.user_id, c.value AS asof_value " +
      "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
      "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c " +
      "ON p.user_id = c.user_id AND p.ts >= c.ts"),
    "q_join_asof_fwd" -> ("SELECT p.event_id, p.user_id, c.value AS asof_value " +
      "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
      "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c " +
      "ON p.user_id = c.user_id AND p.ts <= c.ts"),
    // the salted variant is result-equal by construction — same oracle
    "q_join_asof_salted" -> ("SELECT p.event_id, p.user_id, c.value AS asof_value " +
      "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
      "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c " +
      "ON p.user_id = c.user_id AND p.ts >= c.ts"),
    "q_join_range" -> ("SELECT band, count(*) AS n_orders, " +
      "round(min(o_totalprice), 2) AS min_price, round(max(o_totalprice), 2) AS max_price " +
      "FROM orders JOIN (VALUES ('tiny', 0.0, 50000.0), ('small', 50000.0, 150000.0), " +
      "('mid', 150000.0, 300000.0), ('large', 300000.0, 450000.0), ('huge', 450000.0, 1e9)) " +
      "AS bands(band, lo, hi) ON o_totalprice >= lo AND o_totalprice < hi GROUP BY band"),
    // the binned rewrites must equal the plain inequality joins
    "q_join_interval" -> ("SELECT p.ship_date, count(*) AS n_orders FROM " +
      "(SELECT DISTINCT CAST(l_shipdate AS DATE) AS ship_date FROM lineitem) p " +
      "JOIN orders o ON p.ship_date >= CAST(o.o_orderdate AS DATE) " +
      "AND p.ship_date <= CAST(o.o_orderdate AS DATE) + 30 GROUP BY p.ship_date"),
    "q_join_overlap" -> ("SELECT CAST(a.o_orderdate AS DATE) AS urgent_day, count(*) AS n_overlaps " +
      "FROM orders a JOIN orders b ON CAST(a.o_orderdate AS DATE) <= CAST(b.o_orderdate AS DATE) + 3 " +
      "AND CAST(b.o_orderdate AS DATE) <= CAST(a.o_orderdate AS DATE) + 3 " +
      "WHERE a.o_orderpriority = '1-URGENT' AND b.o_orderpriority = '5-LOW' GROUP BY 1"),
    // the bloom-pruned semi join must equal the plain semi join exactly
    // (false positives are re-filtered by the real join)
    "q_join_bloom" -> ("SELECT l_returnflag, count(*) AS n_items, " +
      "round(sum(l_quantity), 2) AS sum_qty FROM lineitem WHERE l_orderkey IN " +
      "(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
      "GROUP BY l_returnflag"),
    // identical generated Morton-interleave arithmetic on both engines
    "q_zorder_key" -> ("SELECT o_orderkey, o_custkey, " +
      graft.operators.ZOrder.zValueSql("o_custkey", "o_orderkey", 20) +
      " AS z FROM orders ORDER BY z, o_orderkey LIMIT 20"),
    // the salted join must be row-for-row the plain join
    "q_join_salted" -> ("SELECT o.o_custkey, count(*) AS n_items, " +
      "CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty " +
      "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY o.o_custkey"),
    "q_join_multi" -> ("SELECT n_name, CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' GROUP BY n_name"),
    "q_window_rank" -> ("SELECT * FROM (SELECT c_custkey, c_mktsegment, c_acctbal, " +
      "row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn, " +
      "rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk " +
      "FROM customer) WHERE rn <= 5"),
    "q_window_lag" -> ("SELECT o_orderkey, o_custkey, o_totalprice, " +
      "lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price, " +
      "lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price " +
      "FROM orders"),
    "q_window_running" -> ("SELECT o_orderkey, o_custkey, " +
      "round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total FROM orders"),
    "q_window_frames" -> ("SELECT o_orderkey, o_custkey, ntile(4) OVER w AS quartile, " +
      "percent_rank() OVER w AS pct_rank, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER " +
      "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
      "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum3 " +
      "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"),
    "q_sort_limit" -> ("SELECT o_orderkey, o_totalprice FROM orders " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q_set_union" -> ("SELECT c_nationkey AS nk FROM customer " +
      "UNION SELECT s_nationkey AS nk FROM supplier"),
    "q_set_intersect" -> ("SELECT c_nationkey AS nk FROM customer " +
      "INTERSECT SELECT s_nationkey AS nk FROM supplier"),
    "q_set_except" -> ("SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 100000 " +
      "EXCEPT SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'"),
    "q_scalar_string" -> ("SELECT o_orderkey, upper(o_orderpriority) AS pri_u, " +
      "substring(o_orderpriority, 1, 1) AS pri_c, CAST(length(o_orderpriority) AS INTEGER) AS pri_len, " +
      "concat(o_orderstatus, '-', o_orderpriority) AS tag FROM orders WHERE o_orderkey < 100"),
    "q_scalar_date" -> ("SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr, " +
      "CAST(month(o_orderdate) AS INTEGER) AS mo, CAST(day(o_orderdate) AS INTEGER) AS dom, " +
      "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon_start FROM orders WHERE o_orderkey < 200"),
    "q_sql_cosine" -> ("SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), " +
      "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine " +
      "FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10"),
    "q_scalar_math" -> ("SELECT o_orderkey, round(abs(o_totalprice - 1000.0), 2) AS a, " +
      "CAST(floor(o_totalprice) AS BIGINT) AS fl, CAST(ceil(o_totalprice) AS BIGINT) AS ce, " +
      "round(sqrt(o_totalprice), 6) AS sq, round(pow(o_totalprice, 2), 2) AS p2 " +
      "FROM orders WHERE o_orderkey < 200"),
    "q_subquery_scalar" -> ("SELECT o_orderkey, o_totalprice FROM orders " +
      "WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.9 FROM orders)"),
    "q_subquery_in" -> ("SELECT o_orderkey, o_custkey FROM orders " +
      "WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9900)"),
    "q_subquery_exists" -> ("SELECT o_orderkey FROM orders o WHERE EXISTS " +
      "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)"),
    "q_explode_tokens" -> ("SELECT token, count(*) AS n FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY token"),
    "q_json_extract" -> ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k " +
      "FROM events WHERE event_id < 100"),
    "q_udf_scalar" -> ("SELECT event_id, round(least(greatest(value, 10.0), 100.0), 2) AS clipped " +
      "FROM events WHERE event_id < 200"),
    "q_udaf_sumsq" -> ("SELECT event_type, round(sum(value * value), 2) AS sumsq, count(*) AS cnt " +
      "FROM events GROUP BY event_type"),
    "q_udtf_shingles" -> ("SELECT doc_id, unnest(list_transform(" +
      "generate_series(1, greatest(len(string_split(lower(text), ' ')) - 2, 0)), " +
      "i -> array_to_string(list_slice(string_split(lower(text), ' '), i, i + 2), ' '))) AS shingle " +
      "FROM documents WHERE doc_id < 20"),
    "q_time_tumbling" -> ("SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, count(*) AS n, " +
      "round(sum(value), 2) AS sum_value FROM events GROUP BY 1"),
    // session replay: a session break is an idle gap >= 30 min (Spark's
    // session_window treats an event at exactly start+gap as a new session)
    "q_time_sessions" -> ("WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events), " +
      "m AS (SELECT ts, user_id, value, CASE WHEN lag(ts) OVER w IS NULL " +
      "OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new FROM e " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
      "s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
      "SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end, " +
      "count(*) AS n_events, round(sum(value), 2) AS sum_value FROM s GROUP BY user_id, sid"),
    "q_time_gapfill" -> ("WITH daily AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, " +
      "count(*) AS n_events FROM events GROUP BY 1, 2), " +
      "bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1), " +
      "spine AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds) " +
      "SELECT s.user_id, s.day, coalesce(d.n_events, 0) AS n_events " +
      "FROM spine s LEFT JOIN daily d USING (user_id, day)"),
    "q_time_ffill" -> ("WITH daily AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, " +
      "max(value) AS peak_value FROM events GROUP BY 1, 2), " +
      "bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1), " +
      "spine AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds) " +
      "SELECT user_id, day, last_value(peak_value IGNORE NULLS) OVER " +
      "(PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak_value " +
      "FROM (SELECT s.user_id, s.day, d.peak_value FROM spine s LEFT JOIN daily d USING (user_id, day))")
  )

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    preparedQueries ++ relationalQueries ++ pipeline.PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops (driver records
    * a weaker rows-only check for those).
    */
  def oracleSql: Map[String, String] =
    preparedOracles ++ relationalOracles ++ pipeline.PipelineQueries.oracles
}
