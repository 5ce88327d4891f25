package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, SparkEntry, Tables}
import graft.pipeline.{Dedup, PipelineQueries}

/** `batch_pipeline`: sequential timed passes, after a warm pass, over one
  * heavy `SparkEntry.queries` entry per pipeline module plus four light,
  * planning-bound ones.
  *
  * Correctness: the warm pass writes every result to parquet for the DuckDB
  * twin (`SparkEntry.oracleSql`) compare `run.py` runs with
  * `tools/compare.py`; every timed pass must reproduce the warm pass's rows
  * (doubles compared at 10 significant digits, as that compare does).
  */
object Batch {
  val Queries: Seq[String] = Seq(
    "q_crawl_frontier", "q_dedup_clusters", "q_dedup_minhash", "q_join_fuzzy",
    "q_text_dropboiler", "q_graph_pagerank", "q_decontam_semantic_ivf", "q_ann_ivf_batch",
    "q_text_search_bm25", "q_join_salted", "q_multimodal_phash", "q_text_tfidf",
    "q_prep_join", "q_agg_group", "q_text_nfc", "q_window_rank")

  private def norm(v: Any): String = v match {
    case null                  => "null"
    case d: Double if d.isNaN  => "NaN"
    case d: Double             => "%.10g".format(d)
    case f: Float              => norm(f.toDouble)
    case other                 => other.toString
  }

  private def fingerprint(rows: Array[Row]): Vector[String] =
    rows.map(_.toSeq.map(norm).mkString("\u0001")).sorted.toVector

  private final class PlanListener extends QueryExecutionListener {
    val seen = ArrayBuffer.empty[(Double, Double)] // (planning ms, duration ms)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
      seen += ((plan, durationNs / 1e6))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def take(): Seq[(Double, Double)] = synchronized { val r = seen.toSeq; seen.clear(); r }
  }

  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Dedup.clearCaches()
    Dedup.clearCheckpoints()
  }

  def run(spark: SparkSession, o: Main.Opts): Main.Outcome = {
    // the program memoizes its fixture builds per directory string, so each
    // set-up rep reads the same files through a different spelling
    val dirs = (0 until Main.SetupReps).map(i => o.data + "/." * i)
    val setupSecs = dirs.map { d =>
      System.gc()
      val t0 = System.nanoTime()
      Tables.register(spark, d)
      Graft.install(spark)
      PipelineQueries.warmup(spark, d)
      (System.nanoTime() - t0) / 1e9
    }
    val dir = dirs.last
    Main.mark("setup")
    val fns = SparkEntry.queries
    val failures = ArrayBuffer.empty[Map[String, Any]]
    var attempted, failed = 0L

    // warm pass: results are the reference for every timed pass
    val reference = Queries.flatMap { q =>
      attempted += 1
      try {
        val df = fns(q)(spark, dir)
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"${o.results}/$q")
        clearCaches(spark)
        Some(q -> fingerprint(rows))
      } catch {
        case NonFatal(e) =>
          failed += 1
          failures += Map("query" -> q, "pass" -> "warm", "reason" -> s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          clearCaches(spark)
          None
      }
    }.toMap
    Files.write(Paths.get(s"${o.results}/oracle_sql.json"),
      Json(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap).getBytes(StandardCharsets.UTF_8))

    Main.mark("warm_pass")
    val listener = new OpListener
    val planListener = new PlanListener
    if (o.trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(planListener)
    }
    val sc = spark.sparkContext
    val perQuery = Queries.map(_ -> ArrayBuffer.empty[Double]).toMap
    val planned = Queries.map(_ -> ArrayBuffer.empty[(Double, Double)]).toMap
    val timedOps = Queries.map(_ -> ArrayBuffer.empty[(Long, Long, Long)]).toMap
    val passWalls = ArrayBuffer.empty[Double]
    val compiles0 = org.apache.spark.graftbench.SparkProbes.compiles
    val gc0 = Host.gcMillis()
    val host = new Host.Window(o.cpus)
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var nextId = 0L
    while (passWalls.isEmpty || System.nanoTime() < deadline) {
      var wall = 0.0
      Queries.filter(reference.contains).foreach { q =>
        nextId += 1
        attempted += 1
        if (o.trace) sc.setLocalProperty(OpListener.Key, nextId.toString)
        val s0 = System.nanoTime()
        try {
          val rows = fns(q)(spark, dir).collect()
          val s1 = System.nanoTime()
          sc.setLocalProperty(OpListener.Key, null)
          val ms = (s1 - s0) / 1e6
          wall += ms
          perQuery(q) += ms
          timedOps(q) += ((nextId, s0, s1))
          if (fingerprint(rows) != reference(q)) {
            failed += 1
            failures += Map("query" -> q, "pass" -> passWalls.length, "reason" -> "rows differ from the warm pass")
          }
        } catch {
          case NonFatal(e) =>
            sc.setLocalProperty(OpListener.Key, null)
            failed += 1
            failures += Map("query" -> q, "pass" -> passWalls.length,
              "reason" -> s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        clearCaches(spark)
        if (o.trace) {
          org.apache.spark.graftbench.SparkProbes.drainListenerBus(sc)
          planned(q) ++= planListener.take()
        }
      }
      passWalls += wall / 1e3
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    Main.mark("measured")
    val witnesses = host.close()
    val gcMs = (Host.gcMillis() - gc0).toDouble
    val compiles = org.apache.spark.graftbench.SparkProbes.compiles - compiles0

    val medians = Queries.filter(q => perQuery(q).nonEmpty).map(q => q -> Stats.median(perQuery(q)))
    val nOps = perQuery.values.map(_.length).sum
    val e2e = Seq(
      ("setup_s", Stats.median(setupSecs), "s"),
      ("wall_s", Stats.median(passWalls), "s"),
      ("query_geomean_ms", Stats.geomean(medians.map(_._2)), "ms"),
      ("ops_per_s", nOps / math.max(1e-9, passWalls.sum), "1/s"))
    val detail = Map[String, Any](
      "passes" -> passWalls.length, "pass_wall_s" -> passWalls.toSeq,
      "query_median_ms" -> medians.toMap, "setup_s_reps" -> setupSecs,
      "results_dir" -> o.results, "measured_s" -> elapsed,
      "compiles_per_op_all" -> compiles.toDouble / math.max(1, nOps),
      "error_rate" -> failed.toDouble / math.max(1L, attempted),
      "failed_ops" -> failures.toSeq, "host" -> witnesses)
    if (!o.trace) Main.Outcome(attempted, failed, e2e, detail)
    else {
      org.apache.spark.graftbench.SparkProbes.drainListenerBus(sc)
      val spans = new SpanLog
      val layers = ArrayBuffer.empty[(String, Double, String)]
      val allWork = ArrayBuffer.empty[OpWork]
      Queries.filter(q => perQuery(q).nonEmpty).foreach { q =>
        val ws = timedOps(q).map { case (id, s, e) =>
          val w = listener.work.getOrElse(id, new OpWork)
          spans.add(Span(id, 0, -1, q, "batch", q, Clock.ms(s), Clock.ms(e)))
          spans.addSparkWork(id, q, 0, 1, w)
          w
        }
        allWork ++= ws
        val n = math.max(1, ws.length).toDouble
        val pl = planned(q)
        layers ++= Seq(
          (s"batch.$q.plan_ms", pl.map(_._1).sum / n, "ms"),
          (s"batch.$q.exec_ms", pl.map(_._2).sum / n, "ms"),
          (s"batch.$q.task_run_ms", ws.map(_.runMs).sum / n, "ms"),
          (s"batch.$q.shuffle_mb", ws.map(_.shuffleBytes).sum / n / (1024.0 * 1024.0), "MB"))
      }
      val n = math.max(1, allWork.length).toDouble
      layers ++= Seq(
        ("codegen.compiles_per_op", compiles / n, "count"),
        ("scheduler.jobs_per_op", allWork.map(_.jobs.length).sum / n, "count"),
        ("scheduler.tasks_per_op", allWork.map(_.tasks.length).sum / n, "count"),
        ("scheduler.delay_ms", allWork.map(_.delayMs).sum / n, "ms"),
        ("scheduler.deserialize_ms", allWork.map(_.deserializeMs).sum / n, "ms"),
        ("scheduler.task_run_ms", allWork.map(_.runMs).sum / n, "ms"),
        ("jvm.gc_ms", gcMs / n, "ms"))
      spans.write(o.spans)
      Main.Outcome(attempted, failed, layers.toSeq,
        detail ++ Map("self_ms" -> spans.selfTimes, "spans_file" -> o.spans,
          "end_to_end" -> Main.metricMap(e2e)))
    }
  }
}
