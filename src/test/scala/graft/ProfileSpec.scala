package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Profile

class ProfileSpec extends SparkTestBase {

  import spark.implicits._

  private def frame = Seq(
    (1L, Some("alpha"), Some(10)),
    (2L, Some("beta"), None),
    (3L, None, Some(30)),
    (4L, Some("alpha"), Some(30))
  ).toDF("id", "name", "score")

  test("per-column rows carry counts, nulls, distincts, and string min/max") {
    val rows = Profile.profile(frame, Seq("id", "name", "score"))
      .collect().map(r => r.getString(0) -> r).toMap
    rows.keySet shouldBe Set("id", "name", "score")
    rows.values.foreach(_.getLong(1) shouldBe 4L) // n_rows
    rows("id").getLong(2) shouldBe 0L // n_nulls
    rows("name").getLong(2) shouldBe 1L
    rows("score").getLong(2) shouldBe 1L
    rows("id").getLong(3) shouldBe 4L // n_distinct (non-null values)
    rows("name").getLong(3) shouldBe 2L
    rows("score").getLong(3) shouldBe 2L
    (rows("name").getString(4), rows("name").getString(5)) shouldBe ("alpha", "beta")
    (rows("score").getString(4), rows("score").getString(5)) shouldBe ("10", "30")
  }

  test("input validation") {
    an[IllegalArgumentException] should be thrownBy Profile.profile(frame, Nil)
    an[IllegalArgumentException] should be thrownBy Profile.profile(frame, Seq("nope"))
  }

  /** Zipf-ish skewed fixture: key i (1..40) appears ⌊4000/i⌋ times,
    * shuffled deterministically across 8 partitions so per-partition
    * summaries genuinely merge (a sorted layout would hand each partition
    * one key).
    */
  private def zipf = {
    val rows = (1 to 40).flatMap(i => Seq.fill(4000 / i)(i.toLong))
    val shuffled = new scala.util.Random(7).shuffle(rows)
    spark.createDataset(shuffled).repartition(8).toDF("key")
  }

  test("approx heavy hitters equals the exact operator at ample capacity") {
    val exact = Profile.heavyHitters(zipf, "key", k = 10).collect().toSeq
    val approx = Profile.approxHeavyHitters(zipf, "key", k = 10, capacity = 64)
      .collect().toSeq
    approx shouldBe exact // 40 distinct <= 64: MG tracks every key exactly
  }

  test("approx heavy hitters keeps full top-k recall under eviction pressure") {
    // capacity 20 << 40 distinct: eviction and merge-cut paths both run.
    // MG guarantee: every key with frequency > n/capacity (~13.6k/20 = 682,
    // i.e. true ranks 1..5 at least) survives; empirically the whole top-10
    // does on this fixture — assert the guaranteed core and measured recall
    val exactTop = Profile.heavyHitters(zipf, "key", k = 10)
      .collect().map(_.getLong(0)).toSeq
    val approxTop = Profile.approxHeavyHitters(zipf, "key", k = 10, capacity = 20)
      .collect().map(_.getLong(0)).toSeq
    val n = zipf.count()
    val guaranteed = exactTop.zipWithIndex.collect {
      case (key, rank) if 4000 / (rank + 1) > n / 20 => key
    }
    approxTop should contain allElementsOf guaranteed
    // counts of reported keys are EXACT (second pass), so any reported key's
    // count matches the full groupBy's
    val exactCounts = zipf.groupBy("key").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Profile.approxHeavyHitters(zipf, "key", k = 10, capacity = 20)
      .collect().foreach(r => r.getLong(1) shouldBe exactCounts(r.getLong(0)))
  }

  test("approx heavy hitters keeps NULL keys, like the exact operator") {
    val withNulls = spark.createDataset(
      Seq[Option[Long]](Some(1L), Some(1L), Some(1L), None, None, Some(2L)))
      .toDF("key")
    val exact = Profile.heavyHitters(withNulls, "key", k = 3).collect().toSeq
    val approx = Profile.approxHeavyHitters(withNulls, "key", k = 3, capacity = 8)
      .collect().toSeq
    approx shouldBe exact
    exact.map(r => if (r.isNullAt(0)) -1L else r.getLong(0)) should contain(-1L)
  }

  test("heavy-hitter input validation") {
    an[IllegalArgumentException] should be thrownBy
      Profile.approxHeavyHitters(zipf, "key", k = 0)
    an[IllegalArgumentException] should be thrownBy
      Profile.approxHeavyHitters(zipf, "key", k = 10, capacity = 5)
  }

  test("distributionDrift: shares, ratios, and the absent-key edges") {
    import spark.implicits._
    val a = Seq("en", "en", "en", "de").map(Tuple1(_)).toDF("lang")        // 3/4 en, 1/4 de
    val b = Seq("en", "en", "de", "de", "fr", "fr").map(Tuple1(_)).toDF("lang") // 2/6 1/3 1/3
    val out = Profile.distributionDrift(a, b, "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    out("en") shouldBe ((3L, 2L, 0.75, 2.0 / 6.0, Some((2.0 / 6.0) / 0.75)))
    out("de") shouldBe ((1L, 2L, 0.25, 2.0 / 6.0, Some((2.0 / 6.0) / 0.25)))
    // fr is new in b: ratio NULL (share_a = 0), the loudest drift signal
    out("fr") shouldBe ((0L, 2L, 0.0, 2.0 / 6.0, None))
    // a key that vanished: ratio 0
    val gone = Profile.distributionDrift(b, a, "lang")
      .filter(col("lang") === "fr").head()
    gone.getLong(2) shouldBe 0L
    gone.getDouble(5) shouldBe 0.0
    // empty side: the derived total (sum of per-key counts, COALESCED to 0)
    // must behave exactly like count(*) — a 0 total, which under the
    // session's ANSI mode makes the share division throw DIVIDE_BY_ZERO
    // just as the count(*) form always did (a bare sum would instead yield
    // NULL and silently change the contract)
    an[ArithmeticException] should be thrownBy
      Profile.distributionDrift(a.filter(col("lang") === "xx"), b, "lang")
        .filter(col("lang") === "en").head()
  }

  test("retentionCohorts: distinct users per (first-seen day, offset)") {
    import java.sql.Timestamp
    def ts(day: Int, hour: Int) = Timestamp.valueOf(f"2026-01-${10 + day}%02d $hour%02d:00:00")
    val events = Seq(
      (1L, ts(0, 9)), (1L, ts(0, 15)), (1L, ts(1, 3)), (1L, ts(3, 8)), // u1: d0,d1,d3
      (2L, ts(0, 1)),                                                  // u2: d0 only
      (3L, ts(1, 2)), (3L, ts(2, 4))                                   // u3: first d1
    ).toDF("user_id", "ts")
    val out = Profile.retentionCohorts(events, "user_id", "ts", maxOffset = 7)
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getInt(1)) -> r.getLong(2))
      .toMap
    out shouldBe Map(
      ("2026-01-10", 0) -> 2L, ("2026-01-10", 1) -> 1L, ("2026-01-10", 3) -> 1L,
      ("2026-01-11", 0) -> 1L, ("2026-01-11", 1) -> 1L)
    // maxOffset bounds the matrix
    Profile.retentionCohorts(events, "user_id", "ts", maxOffset = 0)
      .collect().map(_.getInt(1)).toSet shouldBe Set(0)
    an[IllegalArgumentException] should be thrownBy
      Profile.retentionCohorts(events, "user_id", "ts", maxOffset = -1)
  }
}
