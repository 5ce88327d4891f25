package graftbench

import java.util.IdentityHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graft.Internals

import graft.Graft
import graft.plans.DynamicFilterExec
import graft.prepared.{Params, PreparedStatement, PreparedStatements, ScanRebind}
import graft.sources.KeyedMemTables

/** The three point-lookup workloads.
  *
  *  - `lookup_prepared`: one client, closed loop of
  *    `PreparedStatement.executeCollect` over three interleaved statement
  *    shapes (`cached` 1,000-row cached table, `keyed` 1M-row
  *    `KeyedMemTables` index, `parquet` sorted lineitem with small row
  *    groups).
  *  - `lookup_adhoc`: the identical op stream, each op issued as
  *    literal-inlined `spark.sql(...).collect()`.
  *  - `lookup_rw`: one writer appending small batches to a parquet catalog
  *    table while readers share one prepared point lookup over it.
  *
  * Every op's rows are compared, outside its timed region, with the rows a
  * plain DataFrame read of the same files returns for that key.
  */
object Lookups {
  val Shapes: Vector[String] = Vector("cached", "keyed", "parquet")
  private val Views = Vector("pb_users", "pb_keyed", "pb_lineitem")
  private val Files = Vector("users", "keyed", "lineitem")
  private val Cols = Vector(
    Seq("id", "name", "amount"),
    Seq("k", "name", "score"),
    Seq("l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice"))
  private def select(s: Int): String =
    s"SELECT ${Cols(s).mkString(", ")} FROM ${Views(s)} WHERE ${Cols(s).head} = "

  private val RwCols = Seq("k", "v", "note")
  private val RwSelect = "SELECT k, v, note FROM pb_rw WHERE k = "
  private val RwBatch = 20
  private val RwCommittedShare = 0.5
  /** Untimed ops before measuring: the driver path keeps getting faster
    * (JIT) for tens of seconds, the ad-hoc path longest. After 15 s the
    * first third of an ad-hoc measuring window still read up to a third
    * slower than the last.
    */
  private val WarmupSeconds = 24.0

  final case class Op(shape: Int, key: Long)

  private def readOps(data: String): Vector[Op] = {
    val src = Source.fromFile(s"$data/ops.csv")
    try src.getLines().map { l =>
      val f = l.split(',')
      Op(Shapes.indexOf(f(0)), f(1).toLong)
    }.toVector
    finally src.close()
  }

  def canon(rows: Array[Row]): Vector[String] =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toVector

  /** key -> expected rows, from a plain DataFrame read of the same file. */
  private def expected(
      spark: SparkSession, path: String, cols: Seq[String], keys: Seq[Long]): Map[Long, Vector[String]] = {
    import spark.implicits._
    val wanted = keys.distinct.toDF(cols.head)
    val rows = spark.read.parquet(path).select(cols.map(col): _*)
      .join(broadcast(wanted), cols.head).collect()
    rows.groupBy(_.getLong(0)).map { case (k, rs) => k -> canon(rs) }
  }

  // --- set-up ---------------------------------------------------------------

  private def buildSources(spark: SparkSession, data: String): Unit = {
    val users = spark.read.parquet(s"$data/users.parquet")
    users.cache()
    users.count()
    users.createOrReplaceTempView("pb_users")
    KeyedMemTables.register(spark, "pb_keyed", spark.read.parquet(s"$data/keyed.parquet"), "k")
    spark.read.parquet(s"$data/lineitem.parquet").createOrReplaceTempView("pb_lineitem")
  }

  private def dropSources(spark: SparkSession): Unit = {
    spark.catalog.uncacheTable("pb_users")
    spark.catalog.dropTempView("pb_users")
    KeyedMemTables.unregister(spark, "pb_keyed")
    spark.catalog.dropTempView("pb_lineitem")
  }

  /** Runs `build` `reps` times (tearing down between), returns the median
    * seconds, every rep's seconds, and the last rep's value.
    */
  private def repeatSetup[T](reps: Int, teardown: () => Unit)(build: => T): (Double, Seq[Double], T) = {
    var last: Option[T] = None
    val secs = (0 until reps).map { r =>
      if (r > 0) teardown()
      System.gc()
      val t0 = System.nanoTime()
      last = Some(build)
      (System.nanoTime() - t0) / 1e9
    }
    (Stats.median(secs), secs, last.get)
  }

  // --- per-op measurement -----------------------------------------------------

  /** What one traced op left behind, read after the run. */
  private final class OpRec(val id: Long, val shape: Int, val prepared: Boolean) {
    var start, end, collectStart, collectEnd = 0L
    var bindNs, rebindNs, bindTimeNs = 0L
    var compiles = 0L
    var rowsScanned, rowsReturned, files = 0L
    var phases: Map[String, (Long, Long)] = Map.empty
  }

  /** Delta of scan-node SQL metrics since last seen (a scan node that the
    * bind left untouched is the same object across ops and accumulates).
    */
  private final class ScanMeter {
    private val seen = new IdentityHashMap[SQLMetric, java.lang.Long]()
    private def delta(m: Option[SQLMetric]): Long = m.map { x =>
      val v = x.value
      val before = Option(seen.put(x, v)).map(_.longValue).getOrElse(0L)
      v - before
    }.getOrElse(0L)

    /** (rows the scans emitted, files the file scans listed) */
    def read(plan: SparkPlan): (Long, Long) = synchronized {
      var rows, files = 0L
      def walk(p: SparkPlan): Unit = p.foreach {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: FileSourceScanExec =>
          rows += delta(s.metrics.get("numOutputRows")); files += delta(s.metrics.get("numFiles"))
        case s: BatchScanExec         => rows += delta(s.metrics.get("numOutputRows"))
        case s: InMemoryTableScanExec => rows += delta(s.metrics.get("numOutputRows"))
        case _                        =>
      }
      walk(plan)
      (rows, files)
    }
  }

  private val Phases = Seq("parsing" -> "parse", "analysis" -> "analyze",
    "optimization" -> "optimize", "planning" -> "plan")

  /** One traced prepared execute: bind, rebind and collect timed apart. */
  private def tracedPrepared(
      spark: SparkSession, st: PreparedStatement, key: Long, rec: OpRec, meter: ScanMeter): Array[Row] = {
    val sc = spark.sparkContext
    val params = Map[String, Any]("$1" -> key)
    sc.setLocalProperty(OpListener.Key, rec.id.toString)
    val c0 = org.apache.spark.graftbench.SparkProbes.compiles
    rec.start = System.nanoTime()
    val bound = Params.bind(st.physicalPlan, params)
    val t1 = System.nanoTime()
    val pruned = ScanRebind.rebind(bound)
    rec.collectStart = System.nanoTime()
    val rows = Internals.collectPhysical(pruned)
    rec.end = System.nanoTime()
    rec.collectEnd = rec.end
    sc.setLocalProperty(OpListener.Key, null)
    rec.compiles = org.apache.spark.graftbench.SparkProbes.compiles - c0
    rec.bindNs = t1 - rec.start
    rec.rebindNs = rec.collectStart - t1
    val (scanned, files) = meter.read(pruned)
    rec.rowsScanned = scanned; rec.files = files; rec.rowsReturned = rows.length
    // the program's own bind+rebind stamp, from a second bind outside the span
    rec.bindTimeNs = st.boundPlan(params).collectFirst {
      case d: DynamicFilterExec => d.metrics("bindTime").value
    }.getOrElse(0L)
    rows
  }

  /** One traced ad-hoc query: Spark's planning phases from the tracker. */
  private def tracedAdhoc(spark: SparkSession, sql: String, rec: OpRec, meter: ScanMeter): Array[Row] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpListener.Key, rec.id.toString)
    val c0 = org.apache.spark.graftbench.SparkProbes.compiles
    rec.start = System.nanoTime()
    val df = spark.sql(sql)
    rec.collectStart = System.nanoTime()
    val rows = df.collect()
    rec.end = System.nanoTime()
    rec.collectEnd = rec.end
    sc.setLocalProperty(OpListener.Key, null)
    rec.compiles = org.apache.spark.graftbench.SparkProbes.compiles - c0
    val qe = df.queryExecution
    rec.phases = Phases.flatMap { case (p, n) =>
      qe.tracker.phases.get(p).map(s => n -> (s.startTimeMs, s.endTimeMs))
    }.toMap
    val (scanned, files) = meter.read(qe.executedPlan)
    rec.rowsScanned = scanned; rec.files = files; rec.rowsReturned = rows.length
    rows
  }

  // --- results ------------------------------------------------------------

  private final class Tally(val shapes: Int) {
    val lat = Array.fill(shapes)(ArrayBuffer.empty[Double])
    val tracedLat = Array.fill(shapes)(ArrayBuffer.empty[Double])
    val attempted = new AtomicLong
    val failures = ArrayBuffer.empty[Map[String, Any]]
    val failed = new AtomicLong
    val staleReads = new AtomicLong

    def fail(shape: String, key: Long, reason: String): Unit = synchronized {
      failed.incrementAndGet()
      if (failures.length < 1000) failures += Map("shape" -> shape, "key" -> key, "reason" -> reason)
    }
    def record(s: Int, ms: Double, traced: Boolean): Unit = synchronized {
      (if (traced) tracedLat(s) else lat(s)) += ms
    }
  }

  private def latencyMetrics(t: Tally, names: Seq[Int]): Seq[(String, Double, String)] =
    names.flatMap { s =>
      Seq((s"${Shapes(s)}_p50_ms", Stats.pct(t.lat(s), 50), "ms"),
        (s"${Shapes(s)}_p90_ms", Stats.pct(t.lat(s), 90), "ms"))
    }

  private def shapeDetail(t: Tally, names: Seq[Int]): Map[String, Any] =
    names.map { s =>
      val xs = t.lat(s)
      // p50 of each third of the run, in time order: drift within the run
      val thirds = if (xs.isEmpty) Nil else xs.grouped((xs.length + 2) / 3).map(Stats.median(_)).toSeq
      Shapes(s) -> Map("ops" -> xs.length, "p50_ms" -> Stats.pct(xs, 50), "p90_ms" -> Stats.pct(xs, 90),
        "p50_by_third_ms" -> thirds, "latencies_ms" -> xs.map(x => math.rint(x * 1000) / 1000).toSeq,
        "p99_ms" -> Stats.pct(xs, 99), "max_ms" -> (if (xs.isEmpty) Double.NaN else xs.max))
    }.toMap

  /** Per-layer metrics and spans of the traced ops. */
  private def layerMetrics(
      spark: SparkSession, listener: OpListener, recs: Seq[OpRec], t: Tally, shapes: Seq[Int],
      spans: SpanLog, gcMs: Double, measuredOps: Long): (Seq[(String, Double, String)], Map[String, Any]) = {
    org.apache.spark.graftbench.SparkProbes.drainListenerBus(spark.sparkContext)
    val ms = (n: Long) => n / 1e6
    case class Parts(op: Double, bind: Double, rebind: Double, phases: Map[String, Double],
        prejob: Double, job: Double, postjob: Double, collect: Double, w: OpWork)
    val parts = recs.map { r =>
      val w = listener.work.getOrElse(r.id, new OpWork)
      val cs = Clock.ms(r.collectStart)
      val ce = Clock.ms(r.collectEnd)
      val ph = r.phases.map { case (n, (a, b)) => n -> (b - a).toDouble }
      // planning phases that run lazily inside collect are not pre-job exec work
      val inCollect = r.phases.values.collect { case (a, b) if a >= cs - 1 => (b - a).toDouble }.sum
      val (pre, job, post) =
        if (w.jobs.isEmpty) (ce - cs - inCollect, 0.0, 0.0)
        else (w.firstJobStart - cs - inCollect, (w.lastJobEnd - w.firstJobStart).toDouble, ce - w.lastJobEnd)
      (r, Parts(ms(r.end - r.start), ms(r.bindNs), ms(r.rebindNs), ph, pre, job, post, ce - cs, w))
    }
    recs.zip(parts).foreach { case (r, (_, p)) =>
      val shape = Shapes(r.shape)
      spans.add(Span(r.id, 0, -1, "op", "client", shape, Clock.ms(r.start), Clock.ms(r.end)))
      var id = 1
      if (r.prepared) {
        val b = Clock.ms(r.start)
        spans.add(Span(r.id, id, 0, "bind", "prepared", shape, b, b + p.bind)); id += 1
        spans.add(Span(r.id, id, 0, "rebind", "prepared", shape, b + p.bind, b + p.bind + p.rebind)); id += 1
      }
      val collectId = id
      spans.add(Span(r.id, collectId, 0, "collect", "exec", shape, Clock.ms(r.collectStart), Clock.ms(r.collectEnd)))
      id += 1
      r.phases.foreach { case (n, (a, b)) =>
        val parent = if (a >= Clock.ms(r.collectStart) - 1) collectId else 0
        spans.add(Span(r.id, id, parent, n, "sqlfront", shape, a.toDouble, b.toDouble)); id += 1
      }
      spans.addSparkWork(r.id, shape, collectId, id, p.w)
    }

    val out = ArrayBuffer.empty[(String, Double, String)]
    val coverage = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    shapes.foreach { s =>
      val ps = parts.filter(_._1.shape == s).map(_._2)
      val n = Shapes(s)
      def med(f: Parts => Double) = if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
      // Spark's tracker stamps phases in whole ms, so a phase's mean says
      // more than its median
      def phase(p: String) = if (ps.isEmpty) 0.0 else Stats.mean(ps.map(_.phases.getOrElse(p, 0.0)))
      val partMeds = Seq(
        "prepared.bind_ms" -> med(_.bind), "prepared.rebind_ms" -> med(_.rebind),
        "sqlfront.parse_ms" -> phase("parse"), "sqlfront.analyze_ms" -> phase("analyze"),
        "sqlfront.optimize_ms" -> phase("optimize"), "sqlfront.plan_ms" -> phase("plan"),
        "exec.prejob_ms" -> med(_.prejob), "exec.job_ms" -> med(_.job), "exec.postjob_ms" -> med(_.postjob))
      partMeds.foreach { case (k, v) => out += ((s"$k.$n", v, "ms")) }
      out += ((s"exec.collect_ms.$n", med(_.collect), "ms"))
      val rs = recs.filter(_.shape == s)
      val scanned = rs.map(_.rowsScanned).sum.toDouble
      val returned = math.max(1L, rs.map(_.rowsReturned).sum).toDouble
      out += ((s"sources.rows_scanned_per_row_returned.$n", scanned / returned, "ratio"))
      val wall = med(_.op)
      val sum = partMeds.map(_._2).sum
      coverage(n) = Map("op_p50_ms" -> wall, "parts_sum_ms" -> sum,
        "coverage" -> (if (wall > 0) sum / wall else Double.NaN),
        "traced_p50_ms" -> Stats.median(t.tracedLat(s)), "untraced_p50_ms" -> Stats.median(t.lat(s)),
        "tracing_overhead_ms" -> (Stats.median(t.tracedLat(s)) - Stats.median(t.lat(s))))
    }
    val nOps = math.max(1, recs.length).toDouble
    val ws = parts.map(_._2.w)
    val compiles = recs.map(_.compiles).sum.toDouble
    val prepared = recs.filter(_.prepared)
    val parquetOps = recs.filter(r => Shapes(r.shape) == "parquet")
    out ++= Seq(
      ("plans.bind_time_ms", if (prepared.isEmpty) 0.0 else prepared.map(_.bindTimeNs / 1e6).sum / prepared.length, "ms"),
      ("codegen.compiles_per_op", compiles / nOps, "count"),
      ("codegen.compile_ms", compiles / nOps * org.apache.spark.graftbench.SparkProbes.meanCompileMs, "ms"),
      ("scheduler.jobs_per_op", ws.map(_.jobs.length).sum / nOps, "count"),
      ("scheduler.tasks_per_op", ws.map(_.tasks.length).sum / nOps, "count"),
      ("scheduler.delay_ms", ws.map(_.delayMs).sum / nOps, "ms"),
      ("scheduler.deserialize_ms", ws.map(_.deserializeMs).sum / nOps, "ms"),
      ("scheduler.task_run_ms", ws.map(_.runMs).sum / nOps, "ms"),
      ("jvm.gc_ms", gcMs / math.max(1L, measuredOps), "ms"),
      ("sources.files_read_per_op",
        if (parquetOps.isEmpty) 0.0 else parquetOps.map(_.files).sum.toDouble / parquetOps.length, "count"))
    (out.toSeq, Map("coverage" -> coverage, "self_ms" -> spans.selfTimes, "traced_ops" -> recs.length))
  }

  // --- lookup_prepared / lookup_adhoc ------------------------------------------

  def runSingle(spark: SparkSession, o: Main.Opts, prepared: Boolean): Main.Outcome = {
    val ops = readOps(o.data)
    val exp = Shapes.indices.map { s =>
      expected(spark, s"${o.data}/${Files(s)}.parquet", Cols(s), ops.filter(_.shape == s).map(_.key))
    }
    Main.mark("expected_rows")
    Graft.install(spark)
    val prepareMs = ArrayBuffer.empty[Double]
    val (setupS, setupAll, stmts) = repeatSetup(Main.SetupReps, () => dropSources(spark)) {
      buildSources(spark, o.data)
      if (prepared) Shapes.indices.map { s =>
        val t0 = System.nanoTime()
        val st = PreparedStatements.prepare(spark, select(s) + "$1")
        prepareMs += (System.nanoTime() - t0) / 1e6
        st
      } else Vector.empty
    }
    Main.mark("setup")
    val listener = new OpListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val meter = new ScanMeter
    val t = new Tally(Shapes.length)
    val recs = ArrayBuffer.empty[OpRec]

    def run(op: Op, rec: Option[OpRec]): Array[Row] = (prepared, rec) match {
      case (true, None)       => stmts(op.shape).executeCollect(Map("$1" -> op.key))
      case (false, None)      => spark.sql(select(op.shape) + op.key).collect()
      case (true, Some(r))    => tracedPrepared(spark, stmts(op.shape), op.key, r, meter)
      case (false, Some(r))   => tracedAdhoc(spark, select(op.shape) + op.key, r, meter)
    }
    def check(op: Op, rows: Array[Row]): Boolean =
      canon(rows) == exp(op.shape).getOrElse(op.key, Vector.empty)

    // warm-up: JIT, caches and lazily built state, not timed but checked;
    // several clients, so the hot code reaches the JIT's thresholds sooner
    val next = new AtomicInteger(0)
    val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    val warmers = (0 until math.max(1, o.cpus - 1)).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < warmEnd) {
          val op = ops(next.getAndIncrement() % ops.length)
          t.attempted.incrementAndGet()
          try {
            val rows = run(op, None)
            if (!check(op, rows)) t.fail(Shapes(op.shape), op.key, s"warm-up: wrong rows: ${canon(rows).take(3).mkString(";")}")
          } catch {
            case NonFatal(e) => t.fail(Shapes(op.shape), op.key, s"warm-up: threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      })
    }
    warmers.foreach(_.start())
    warmers.foreach(_.join())
    val warmOps = next.get()
    var i = warmOps
    Main.mark("warm_up")

    val compiles0 = org.apache.spark.graftbench.SparkProbes.compiles
    val gc0 = Host.gcMillis()
    val host = new Host.Window(o.cpus)
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val op = ops(i % ops.length)
      // in a traced run every other op is traced, the rest give the
      // untraced baseline for the tracing-overhead figure
      val rec = if (o.trace && i % 2 == 1) Some(new OpRec(i.toLong, op.shape, prepared)) else None
      i += 1
      t.attempted.incrementAndGet()
      val s0 = System.nanoTime()
      try {
        val rows = run(op, rec)
        val ms = (System.nanoTime() - s0) / 1e6
        t.record(op.shape, ms, rec.isDefined)
        if (check(op, rows)) rec.foreach(recs += _)
        else t.fail(Shapes(op.shape), op.key, s"wrong rows: ${canon(rows).take(3).mkString(";")}")
      } catch {
        case NonFatal(e) => t.fail(Shapes(op.shape), op.key, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    Main.mark("measured")
    val witnesses = host.close()
    val gcMs = (Host.gcMillis() - gc0).toDouble
    val compiles = org.apache.spark.graftbench.SparkProbes.compiles - compiles0

    val completed = t.lat.map(_.length).sum + t.tracedLat.map(_.length).sum
    val e2e = Seq(("setup_s", setupS, "s")) ++ latencyMetrics(t, Shapes.indices) ++
      Seq(("ops_per_s", completed / elapsed, "1/s"))
    val base = Map[String, Any](
      "shapes" -> shapeDetail(t, Shapes.indices),
      "setup_s_reps" -> setupAll,
      "prepare_ms" -> prepareMs.toSeq,
      "warm_up_ops" -> warmOps,
      "measured_s" -> elapsed,
      "compiles_per_op_all" -> compiles.toDouble / math.max(1, completed),
      "host" -> witnesses)
    if (!o.trace) Main.Outcome(t.attempted.get, t.failed.get, e2e, base ++ failureDetail(t))
    else {
      val spans = new SpanLog
      val (layers, ldetail) = layerMetrics(spark, listener, recs.toSeq, t, Shapes.indices, spans, gcMs, completed)
      spans.write(o.spans)
      val prep = Seq(("prepared.prepare_ms", if (prepareMs.isEmpty) 0.0 else Stats.median(prepareMs), "ms"))
      Main.Outcome(t.attempted.get, t.failed.get, prep ++ layers,
        base ++ failureDetail(t) ++ ldetail ++ Map("spans_file" -> o.spans, "end_to_end" -> Main.metricMap(e2e)))
    }
  }

  private def failureDetail(t: Tally): Map[String, Any] = Map(
    "error_rate" -> t.failed.get.toDouble / math.max(1L, t.attempted.get),
    "failed_ops" -> t.failures.toSeq,
    "stale_reads" -> t.staleReads.get)

  // --- lookup_rw ------------------------------------------------------------------

  private def createRwTable(spark: SparkSession, data: String): Unit = {
    graft.Tables.dropManaged(spark, "pb_rw")
    spark.read.parquet(s"$data/rw_base.parquet").write.format("parquet").saveAsTable("pb_rw")
  }

  def runRw(spark: SparkSession, o: Main.Opts): Main.Outcome = {
    val base = spark.read.parquet(s"${o.data}/rw_base.parquet")
    val appendDf = spark.read.parquet(s"${o.data}/rw_append.parquet")
    val baseRows = base.count().toInt
    val exp: Map[Long, Vector[String]] = base.union(appendDf).select(RwCols.map(col): _*).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> canon(rs) }
    val appendRows = appendDf.select(RwCols.map(col): _*).collect().sortBy(_.getLong(0))
    val schema = appendDf.select(RwCols.map(col): _*).schema
    val firstAppended = appendRows.head.getLong(0)
    Graft.install(spark)
    val prepareMs = ArrayBuffer.empty[Double]
    Main.mark("expected_rows")
    val (setupS, setupAll, st) = repeatSetup(Main.SetupReps, () => ()) {
      createRwTable(spark, o.data)
      val t0 = System.nanoTime()
      val st = PreparedStatements.prepare(spark, RwSelect + "$1")
      prepareMs += (System.nanoTime() - t0) / 1e6
      st
    }
    Main.mark("setup")
    val listener = new OpListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val meter = new ScanMeter
    // reads are the parquet shape
    val t = new Tally(Shapes.length)
    val writeLat = ArrayBuffer.empty[Double]
    val writeRecs = ArrayBuffer.empty[(Long, Long, Long)] // (op id, start ns, end ns)
    val recs = ArrayBuffer.empty[OpRec]
    val committed = new AtomicInteger(0)
    val opIds = new AtomicLong(0)

    val rng0 = new scala.util.Random(o.seed)
    val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    while (System.nanoTime() < warmEnd) {
      val k = rng0.nextInt(baseRows).toLong
      t.attempted.incrementAndGet()
      try {
        if (canon(st.executeCollect(Map("$1" -> k))) != exp(k)) t.fail("parquet", k, "warm-up: wrong rows")
      } catch {
        case NonFatal(e) => t.fail("parquet", k, s"warm-up: threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    Main.mark("warm_up")

    val readers = math.max(1, math.max(2, o.cpus - 1) - 1)
    val host = new Host.Window(o.cpus)
    val gc0 = Host.gcMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    val writer = new Thread(() => {
      var next = 0
      while (System.nanoTime() < deadline && next + RwBatch <= appendRows.length) {
        val id = opIds.incrementAndGet()
        spark.sparkContext.setLocalProperty(OpListener.Key, if (o.trace) id.toString else null)
        val batch = java.util.Arrays.asList(appendRows.slice(next, next + RwBatch): _*)
        val s0 = System.nanoTime()
        t.attempted.incrementAndGet()
        try {
          spark.createDataFrame(batch, schema).write.insertInto("pb_rw")
          val s1 = System.nanoTime()
          next += RwBatch
          committed.set(next)
          t.synchronized { writeLat += (s1 - s0) / 1e6; writeRecs += ((id, s0, s1)) }
        } catch {
          case NonFatal(e) => t.fail("write", next.toLong, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }, "pb-writer")
    val readerThreads = (0 until readers).map { r =>
      new Thread(() => {
        val rng = new scala.util.Random(o.seed * 1000003L + r)
        while (System.nanoTime() < deadline) {
          val c = committed.get()
          val fresh = c > 0 && rng.nextDouble() < RwCommittedShare
          val key = if (fresh) firstAppended + rng.nextInt(c) else rng.nextInt(baseRows).toLong
          val id = opIds.incrementAndGet()
          val rec = if (o.trace && id % 2 == 1) Some(new OpRec(id, 2, true)) else None
          t.attempted.incrementAndGet()
          val s0 = System.nanoTime()
          try {
            val rows = rec match {
              case Some(rr) => tracedPrepared(spark, st, key, rr, meter)
              case None     => st.executeCollect(Map("$1" -> key))
            }
            val ms = (System.nanoTime() - s0) / 1e6
            t.record(2, ms, rec.isDefined)
            if (canon(rows) == exp(key)) rec.foreach(rr => t.synchronized { recs += rr })
            else {
              if (fresh && rows.isEmpty) t.staleReads.incrementAndGet()
              t.fail("parquet", key,
                if (fresh && rows.isEmpty) "stale read: key committed before the read, no rows returned"
                else s"wrong rows: ${canon(rows).take(3).mkString(";")}")
            }
          } catch {
            case NonFatal(e) => t.fail("parquet", key, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      }, s"pb-reader-$r")
    }
    (writer +: readerThreads).foreach(_.start())
    (writer +: readerThreads).foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    Main.mark("measured")
    val witnesses = host.close()
    val gcMs = (Host.gcMillis() - gc0).toDouble

    val reads = t.lat(2) ++ t.tracedLat(2)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("parquet_p50_ms", Stats.pct(t.lat(2), 50), "ms"),
      ("parquet_p90_ms", Stats.pct(t.lat(2), 90), "ms"),
      ("write_p50_ms", Stats.median(writeLat), "ms"),
      ("ops_per_s", (reads.length + writeLat.length) / elapsed, "1/s"))
    val tableDir = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, "pb_rw")
    val tableFiles = Option(tableDir.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    val detail = Map[String, Any](
      "reads" -> Map("ops" -> reads.length, "p50_ms" -> Stats.pct(t.lat(2), 50),
        "p90_ms" -> Stats.pct(t.lat(2), 90), "p99_ms" -> Stats.pct(t.lat(2), 99)),
      "writes" -> Map("ops" -> writeLat.length, "rows_per_write" -> RwBatch,
        "p50_ms" -> Stats.median(writeLat), "p90_ms" -> Stats.pct(writeLat, 90)),
      "committed_rows" -> committed.get, "reader_threads" -> readers, "writer_threads" -> 1,
      "table_files" -> tableFiles, "setup_s_reps" -> setupAll, "prepare_ms" -> prepareMs.toSeq,
      "measured_s" -> elapsed, "host" -> witnesses) ++ failureDetail(t)
    if (!o.trace) Main.Outcome(t.attempted.get, t.failed.get, e2e, detail)
    else {
      val spans = new SpanLog
      val (layers, ldetail) = layerMetrics(spark, listener, recs.toSeq, t, Seq(2), spans, gcMs, reads.length + writeLat.length)
      val commits = writeRecs.map { case (id, s, e) =>
        val w = listener.work.getOrElse(id, new OpWork)
        spans.add(Span(id, 0, -1, "write", "write", "write", Clock.ms(s), Clock.ms(e)))
        spans.addSparkWork(id, "write", 0, 1, w)
        if (w.jobs.isEmpty) 0.0 else Clock.ms(e) - w.lastJobEnd
      }
      spans.write(o.spans)
      val extra = Seq(
        ("prepared.prepare_ms", Stats.median(prepareMs), "ms"),
        ("write.commit_ms", Stats.median(commits), "ms"),
        ("write.table_files", tableFiles.toDouble, "count"),
        ("sources.stale_reads", t.staleReads.get.toDouble, "count"))
      Main.Outcome(t.attempted.get, t.failed.get, extra ++ layers,
        detail ++ ldetail ++ Map("spans_file" -> o.spans, "end_to_end" -> Main.metricMap(e2e)))
    }
  }
}
