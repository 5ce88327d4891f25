package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` generates the inputs,
  * starts this with them, and turns the result file into the one-line
  * verdict.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --work DIR --out FILE`. Writes the metrics, the counts of
  * attempted and failed ops and the run detail to `--out`; a traced run also
  * writes its spans next to it.
  */
object Main {
  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, data: String,
      work: String, out: String, cpus: Int) {
    def spans: String = out.stripSuffix(".json") + "_spans.jsonl"
    def results: String = s"$work/results"
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** What a workload hands back: op counts, metrics as (name, value, unit)
    * and the run detail.
    */
  final case class Outcome(
      attempted: Long, failed: Long, metrics: Seq[(String, Double, String)], detail: Map[String, Any])

  def metricMap(ms: Seq[(String, Double, String)]): Map[String, Any] =
    ListMap(ms.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)

  /** Seconds since JVM start at each named phase boundary of the run. */
  private val timeline = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit = synchronized {
    timeline(phase) = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("out"), Runtime.getRuntime.availableProcessors)
  }

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the session settings graft.Bench and graft.Verify run the program with
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.ui.retainedJobs", "300")
      .config("spark.ui.retainedStages", "300")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    mark("session")
    try {
      val r = o.workload match {
        case "lookup_prepared" => Lookups.runSingle(spark, o, prepared = true)
        case "lookup_adhoc"    => Lookups.runSingle(spark, o, prepared = false)
        case "lookup_rw"       => Lookups.runRw(spark, o)
        case "batch_pipeline"  => Batch.run(spark, o)
        case w                 => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val json = Json(Map(
        "attempted" -> r.attempted, "failed" -> r.failed,
        "metrics" -> metricMap(r.metrics), "detail" -> (r.detail + ("timeline_s" -> timeline))))
      Files.write(Paths.get(o.out), json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
