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
