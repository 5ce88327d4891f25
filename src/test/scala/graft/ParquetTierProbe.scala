package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.LongType

import graft.prepared.{DriverTier, PreparedStatement, PreparedStatements}

/** Measures the parquet driver tier's cost rule (`ParquetLeaf.MaxDriverRows`)
  * and what a bind over it pays. Not a test; run it by hand:
  *
  * {{{
  * sbt "Test/runMain graft.ParquetTierProbe crossover"
  * sbt "Test/runMain graft.ParquetTierProbe unselective"
  * }}}
  *
  * Both modes write a 600k-row table sorted by key in 4,096-row row groups,
  * five columns (the shape of perfbench's `lineitem`), under a temporary
  * directory, in a `local[SPARK_GRAFT_CPUS]` session (default 4).
  *
  *   - `crossover`: for binds whose surviving row groups hold N rows, the
  *     p50 of the driver read (`DriverTier.collect` with the bound lifted)
  *     and of the job (`executeCollect` of the same bound plan), alternated,
  *     for a bind that returns about one row in a thousand it scans and
  *     one that returns every row. The bound belongs where the two meet.
  *   - `unselective`: the first and the p50 `executeCollect` of a bind
  *     whose row groups all survive (so it keeps its job), over the
  *     single-file table and over the same rows in 150 files. It uses only
  *     `prepare` and `executeCollect`, so it runs unchanged on a version
  *     without the parquet driver tier.
  */
object ParquetTierProbe {

  private val Rows = 600000L

  def main(args: Array[String]): Unit = {
    val spark = LocalSession.start(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    Graft.install(spark)
    val dir = Files.createTempDirectory("graft_tier_probe").toFile
    try {
      // k is the key (four rows each), v is what the unprunable conjuncts test
      val rows = spark.range(0, Rows, 1, 1).selectExpr("id DIV 4 AS k", "id * 7919 % 100003 AS v",
        "cast(id % 50 AS double) AS q", "concat('note_', id) AS note", "cast(id % 7 AS int) AS l")
      rows.write.option("parquet.block.row.count.limit", 4096).parquet(s"$dir/one")
      rows.repartitionByRange(150, rows("k")).sortWithinPartitions("k")
        .write.option("parquet.block.row.count.limit", 4096).parquet(s"$dir/many")
      spark.read.parquet(s"$dir/one").createOrReplaceTempView("probe_one")
      spark.read.parquet(s"$dir/many").createOrReplaceTempView("probe_many")
      args.headOption.getOrElse("crossover") match {
        case "crossover"   => crossover(spark)
        case "unselective" => unselective(spark)
        case other         => sys.error(s"unknown mode $other (crossover | unselective)")
      }
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  private def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  /** `body`'s result and its wall time in ms. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }

  private def crossover(spark: SparkSession): Unit = {
    val cols = "SELECT k, v, q, note, l FROM probe_one WHERE k >= $1 AND k < $2"
    val shapes = Seq(
      "few" -> PreparedStatements.prepare(spark, cols + " AND v % 1000 = $3", Map("$3" -> LongType)),
      "all" -> PreparedStatements.prepare(spark, cols))
    val rng = new scala.util.Random(7)
    println("shape\tscanned_rows\tdriver_p50_ms\tjob_p50_ms\treturned")
    for ((name, st) <- shapes; n <- Seq(16384L, 65536L, 131072L, 163840L, 196608L, 229376L,
        262144L, 327680L)) {
      // binds over n rows that start on a row-group boundary
      def bind(): Map[String, Any] = {
        val lo = rng.nextLong((Rows - n) / 4096) * 4096 / 4
        Map("$1" -> lo, "$2" -> (lo + n / 4), "$3" -> 1L)
      }
      def driver(plan: SparkPlan) =
        DriverTier.collect(plan, Long.MaxValue)(_.copy()).getOrElse(sys.error(s"not driver-read: $plan"))
      val rounds = (0 until 18).map { i =>
        val p = bind()
        val dPlan = st.boundPlan(p)
        val jPlan = st.boundPlan(p)
        // alternate the order; the first three rounds warm up
        if (i % 2 == 0) {
          val d = timed(driver(dPlan).length)
          (d, timed(jPlan.executeCollect().length)._2)
        } else {
          val j = timed(jPlan.executeCollect().length)._2
          (timed(driver(dPlan).length), j)
        }
      }.drop(3)
      val returned = p50(rounds.map(_._1._1.toDouble))
      println(f"$name\t$n\t${p50(rounds.map(_._1._2))}%.1f\t${p50(rounds.map(_._2))}%.1f\t$returned%.0f")
    }
  }

  private def unselective(spark: SparkSession): Unit = {
    println("table\tfirst_ms\tp50_ms\trows")
    for (table <- Seq("probe_one", "probe_many")) {
      // k >= 0 is a scan filter that prunes nothing; the modulus is none
      val st: PreparedStatement = PreparedStatements.prepare(spark,
        s"SELECT k, v FROM $table WHERE k >= $$1 AND v % 100000 = $$2", Map("$2" -> LongType))
      val params = Map[String, Any]("$1" -> 0L, "$2" -> 17L)
      val (n, first) = timed(st.executeCollect(params).length)
      val rest = (0 until 25).map(_ => timed(st.executeCollect(params))._2).drop(5)
      println(f"$table\t$first%.1f\t${p50(rest)}%.1f\t$n")
    }
  }
}
