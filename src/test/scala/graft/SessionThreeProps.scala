package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._

import graft.operators.FuzzyJoin
import graft.pipeline.Sampling

/** Property checks for the session-3 operators: the fuzzy join's q-gram
  * count filter must be EXACT for any input (the superset argument is a
  * theorem, so random search hunts for counterexamples harder than
  * fixtures can), and the water-filling allocation must hit the budget
  * exactly with fair levels for any group-size multiset.
  */
object SessionThreeProps extends Properties("SessionThree") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = SparkTestBase.session

  // small alphabet → repeated grams are common, stressing the bag (not
  // set) count; lengths straddle the short/gram boundary for n=2..3, k=0..2
  private val genWord = for {
    len <- Gen.choose(0, 9)
    cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
  } yield cs.mkString

  private val genSide = Gen.listOfN(8, genWord)

  private def brute(l: Seq[String], r: Seq[String], k: Int): Set[(Long, Long, Int)] = {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    (for {
      (ls, li) <- l.zipWithIndex; (rs, ri) <- r.zipWithIndex
      d = lev(ls, rs) if d <= k
    } yield (li.toLong, ri.toLong, d)).toSet
  }

  property("fuzzyPairs is exact for any strings, k, and n") =
    Prop.forAll(genSide, genSide, Gen.choose(0, 2), Gen.oneOf(2, 3)) { (l, r, k, n) =>
      import spark.implicits._
      val ldf = l.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      val rdf = r.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      val got = FuzzyJoin.fuzzyPairs(ldf, rdf, "id", "s", "id", "s", k, n)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      got == brute(l, r, k)
    }

  private val genSizes = Gen.listOfN(5, Gen.choose(0, 40))

  property("budgetWaterfall: exact budget, fairness, never over group size") =
    Prop.forAll(genSizes, Gen.choose(1L, 120L)) { (sizes, budget) =>
      import spark.implicits._
      val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
        (0 until n).map(i => (g.toLong * 1000 + i, s"g$g"))
      }
      if (rows.isEmpty) Prop.passed
      else {
        val taken = Sampling.budgetWaterfall(rows.toDF("doc_id", "grp"),
            "doc_id", "grp", budget)
          .groupBy("grp").count().collect()
          .map(x => x.getString(0) -> x.getLong(1)).toMap
        val bySize = sizes.zipWithIndex.filter(_._1 > 0)
          .map { case (n, g) => s"g$g" -> n.toLong }.toMap
        val total = bySize.values.sum
        val takenTotal = taken.values.sum
        val exact = takenTotal == math.min(budget, total)
        val bounded = taken.forall { case (g, t) => t <= bySize(g) }
        // fairness: a group kept BELOW its size never gets fewer rows than
        // another capped group minus the ±1 remainder spread
        val capped = taken.filter { case (g, t) => t < bySize(g) }.values
        val fair = capped.isEmpty || (capped.max - capped.min) <= 1
        Prop.all(
          Prop(exact) :| s"budget: took $takenTotal of min($budget, $total)",
          Prop(bounded) :| "a group exceeded its size",
          Prop(fair) :| s"capped takes spread beyond 1: $taken")
      }
    }

  property("weightedSamplePerGroup membership is monotone in weight") =
    Prop.forAll(Gen.choose(1L, 50L), Gen.choose(2, 10)) { (seed, k) =>
      import spark.implicits._
      val df = (0L until 60L).map(i => (i, "g", (i % 5) + 1)).toDF("doc_id", "grp", "w")
      val base = Sampling.weightedSamplePerGroup(df, "doc_id", "grp", "w", k)
        .select("doc_id").as[Long].collect().toSet
      // boost one row far enough and it must enter the sample
      val target = (seed % 60 + 60) % 60
      val boosted = df.withColumn("w",
        when(col("doc_id") === target, lit(100000000L)).otherwise(col("w")))
      val after = Sampling.weightedSamplePerGroup(boosted, "doc_id", "grp", "w", k)
        .select("doc_id").as[Long].collect().toSet
      Prop(after.contains(target)) :| s"boosted row $target missing from $after"
    }
}
