package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.prepared.PreparedStatements
import graft.sources.KeyedMemTables

/** The semantic invariant the whole reference implicitly asserts (its bench
  * computes the same total_rows across all three paths,
  * `benches/dynamic_filter_benchmark.rs:103-183`): for any parameter value,
  * a prepared execute returns exactly what unprepared SQL with the literal
  * inlined returns. SURVEY.md §5's property-based check.
  */
object PreparedEquivalenceProps extends Properties("PreparedEquivalence") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private lazy val spark = {
    val s = SparkTestBase.session
    import s.implicits._
    (0L until 500L).map(i => (i, s"n_${i % 37}", (i % 91).toDouble))
      .toDF("id", "tag", "score")
      .createOrReplaceTempView("prop_items")
    s
  }

  private lazy val pointSt = {
    spark
    PreparedStatements.prepare(
      SparkTestBase.session, "SELECT id, tag, score FROM prop_items WHERE id = $1")
  }

  private lazy val rangeSt = {
    spark
    PreparedStatements.prepare(
      SparkTestBase.session,
      "SELECT count(*) AS n FROM prop_items WHERE id >= $1 AND id <= $2")
  }

  property("prepared point lookup == unprepared literal SQL") =
    Prop.forAll(Gen.choose(-10L, 600L)) { k =>
      val prepared = pointSt.executeCollect(Map("$1" -> k)).map(_.toString).sorted.toSeq
      val unprepared = spark
        .sql(s"SELECT id, tag, score FROM prop_items WHERE id = $k")
        .collect().map(_.toString).sorted.toSeq
      prepared == unprepared
    }

  property("prepared range count == unprepared literal SQL") =
    Prop.forAll(Gen.choose(-10L, 600L), Gen.choose(-10L, 600L)) { (a, b) =>
      val prepared = rangeSt.executeCollect(Map("$1" -> a, "$2" -> b)).head.getLong(0)
      val unprepared = spark
        .sql(s"SELECT count(*) AS n FROM prop_items WHERE id >= $a AND id <= $b")
        .head().getLong(0)
      prepared == unprepared
    }

  private lazy val keyedSts = {
    val s = SparkTestBase.session
    import s.implicits._
    KeyedMemTables.register(s,
      "prop_keyed",
      (0L until 500L).map(i => (i, s"n_${i % 37}", (i % 91).toDouble)).toDF("id", "tag", "score"),
      "id")
    (PreparedStatements.prepare(s, "SELECT id, tag, score FROM prop_keyed WHERE id = $1"),
      PreparedStatements.prepare(s, "SELECT id, tag FROM prop_keyed WHERE id IN ($1, $2, $3)"))
  }

  private def literalRows(sql: String): Seq[String] =
    SparkTestBase.session.sql(sql).collect().map(_.toString).sorted.toSeq

  // the keyed source answers prepared lookups on the driver (no job); for
  // any keys — present, absent or negative — the rows must equal
  // the literal SQL, which plans its own pushdown
  property("prepared keyed point and IN lookups == unprepared literal SQL") =
    Prop.forAll(Gen.choose(-50L, 600L), Gen.choose(-50L, 600L), Gen.choose(-50L, 600L)) {
      (a, b, c) =>
        val (pointSt, inSt) = keyedSts
        val point = pointSt.executeCollect(Map("$1" -> a)).map(_.toString).sorted.toSeq
        val in = inSt.executeCollect(Map("$1" -> a, "$2" -> b, "$3" -> c))
          .map(_.toString).sorted.toSeq
        point == literalRows(s"SELECT id, tag, score FROM prop_keyed WHERE id = $a") &&
        in == literalRows(s"SELECT id, tag FROM prop_keyed WHERE id IN ($a, $b, $c)")
    }

  private lazy val cachedSt = {
    val s = SparkTestBase.session
    import s.implicits._
    val cached = (0L until 500L).map(i => (i, s"c_${i % 29}", (i % 83).toDouble))
      .toDF("id", "tag", "score").repartition(4).cache()
    cached.count()
    cached.createOrReplaceTempView("prop_cached")
    PreparedStatements.prepare(s, "SELECT id, tag, score FROM prop_cached WHERE id = $1")
  }

  // a materialized cache answers prepared lookups on the driver (no job)
  // from its blocks; present, absent and negative keys must all read what
  // the literal SQL reads
  property("prepared cached point lookup == unprepared literal SQL") =
    Prop.forAll(Gen.choose(-50L, 600L)) { k =>
      cachedSt.executeCollect(Map("$1" -> k)).map(_.toString).sorted.toSeq ==
        literalRows(s"SELECT id, tag, score FROM prop_cached WHERE id = $k")
    }

  /** A parquet file of many row groups, sorted by `id`, read through v1
    * (the default) and through a DSv2 session.
    */
  private lazy val parquetSts = {
    val s = SparkTestBase.session
    val dir = java.nio.file.Files.createTempDirectory("graft_prop_parquet").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/items"
    s.range(0, 20000, 1, 1)
      .selectExpr("id", "concat('p_', id % 53) AS tag", "CAST(id % 97 AS DOUBLE) AS score")
      .write.option("parquet.block.size", 16 * 1024).parquet(path)
    s.read.parquet(path).createOrReplaceTempView("prop_parquet")
    def statements(view: String) = Seq(
      PreparedStatements.prepare(s, s"SELECT id, tag, score FROM $view WHERE id = $$1"),
      PreparedStatements.prepare(s, s"SELECT id, tag FROM $view WHERE id IN ($$1, $$2, $$3)"),
      PreparedStatements.prepare(s, s"SELECT id, score FROM $view WHERE id BETWEEN $$1 AND $$2"))
    val v1 = statements("prop_parquet")
    val key = "spark.sql.sources.useV1SourceList"
    val old = s.conf.get(key)
    s.conf.set(key, "")
    try {
      s.read.parquet(path).createOrReplaceTempView("prop_parquet_v2")
      (v1, statements("prop_parquet_v2"))
    } finally s.conf.set(key, old)
  }

  private def jobsOf[T](body: => T): (T, Int) =
    org.apache.spark.graft.JobCounter.jobsRun(SparkTestBase.session.sparkContext)(body)

  private val parquetKey: Gen[Option[Long]] =
    Gen.frequency(8 -> Gen.choose(-100L, 20100L).map(Some(_)), 1 -> Gen.const(None))

  // point, IN and BETWEEN binds (present, absent and NULL values) over
  // parquet: v1 answers on the driver tier (no job) and, for the same
  // binds, on the job path; a DSv2 session keeps the job; every result
  // equals the literal SQL
  property("prepared parquet lookups == unprepared literal SQL on both tiers") =
    Prop.forAll(parquetKey, parquetKey, parquetKey) { (a, b, c) =>
      val (v1, v2) = parquetSts
      def sqlOf(k: Option[Long]) = k.fold("NULL")(_.toString)
      def bind(ks: Option[Long]*) =
        ks.zipWithIndex.map { case (k, i) => s"$$${i + 1}" -> k.map(Long.box).orNull }.toMap
      val (lo, hi) = (a.map(_ / 10 * 10), a.map(_ / 10 * 10 + 40))
      val cases = Seq(
        (0, bind(a), (v: String) => s"SELECT id, tag, score FROM $v WHERE id = ${sqlOf(a)}"),
        (1, bind(a, b, c), (v: String) =>
          s"SELECT id, tag FROM $v WHERE id IN (${sqlOf(a)}, ${sqlOf(b)}, ${sqlOf(c)})"),
        (2, bind(lo, hi), (v: String) =>
          s"SELECT id, score FROM $v WHERE id BETWEEN ${sqlOf(lo)} AND ${sqlOf(hi)}"))
      cases.forall { case (i, params, literal) =>
        val (driver, driverJobs) = jobsOf(v1(i).executeCollect(params))
        val job = v1(i).execute(params).collect()
        val (onV2, v2Jobs) = jobsOf(v2(i).executeCollect(params))
        val expected = literalRows(literal("prop_parquet"))
        val ok = driverJobs == 0 && v2Jobs >= 1 &&
          driver.map(_.toString).sorted.toSeq == expected &&
          job.map(_.toString).sorted.toSeq == expected &&
          onV2.map(_.toString).sorted.toSeq == literalRows(literal("prop_parquet_v2"))
        if (!ok) println(s"parquet mismatch: ${literal("prop_parquet")} jobs=$driverJobs/$v2Jobs")
        ok
      }
    }

  private lazy val repetitionSt = {
    val s = SparkTestBase.session
    import s.implicits._
    Seq(
      (1L, "a a a a a a"), (2L, "a b c d e f"), (3L, "x y x y x y"),
      (4L, "p q r p q r p q"), (5L, "one two three four"))
      .toDF("doc_id", "text").createOrReplaceTempView("prop_rep_docs")
    Graft.install(s)
    PreparedStatements.prepare(s,
      """SELECT doc_id FROM (SELECT doc_id,
        |repetition_profile(split(lower(text), ' '), 2) AS r FROM prop_rep_docs)
        |WHERE r IS NOT NULL
        |AND CAST(r.dup AS DOUBLE) / CAST(r.n_grams AS DOUBLE) <= $1""".stripMargin,
      paramTypes = Map("$1" -> org.apache.spark.sql.types.DoubleType))
  }

  // the struct-returning native expression through prepare(): for ANY
  // threshold, the once-planned statement filters exactly like literal SQL
  // (the q_prep_repetition class, generalized over the binding)
  property("prepared repetition threshold == unprepared literal SQL") =
    Prop.forAll(Gen.choose(0.0, 1.0)) { t =>
      val prepared = repetitionSt.executeCollect(Map("$1" -> t))
        .map(_.getLong(0)).sorted.toSeq
      val unprepared = spark.sql(
        "SELECT doc_id FROM (SELECT doc_id, " +
          "repetition_profile(split(lower(text), ' '), 2) AS r FROM prop_rep_docs) " +
          s"WHERE r IS NOT NULL AND CAST(r.dup AS DOUBLE) / CAST(r.n_grams AS DOUBLE) <= $t")
        .collect().map(_.getLong(0)).sorted.toSeq
      prepared == unprepared
    }
}
