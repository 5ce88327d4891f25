package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

object Stats {

  /** Linear-interpolated percentile (numpy's default), NaN when empty. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toArray.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)

  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  def geomean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)
}

/** Epoch milliseconds with sub-millisecond resolution, so benchmark-side
  * `nanoTime` stamps line up with Spark's epoch-ms event times.
  */
object Clock {
  private val offsetMs: Double = {
    val m0 = System.currentTimeMillis()
    var m = m0
    while (m == m0) m = System.currentTimeMillis()
    m - System.nanoTime() / 1e6
  }
  def ms(nanos: Long): Double = offsetMs + nanos / 1e6
}

/** Spark work that one benchmark op caused, joined through the
  * [[OpListener.Key]] local property the op sets on its thread.
  */
final class OpWork {
  val jobs = ArrayBuffer.empty[(Int, Long, Long)] // (job id, start ms, end ms)
  val tasks = ArrayBuffer.empty[(Int, Long, Long)] // (stage id, launch ms, finish ms)
  var deserializeMs, runMs, delayMs = 0L
  var shuffleBytes = 0L

  def firstJobStart: Long = if (jobs.isEmpty) -1L else jobs.map(_._2).min
  def lastJobEnd: Long = if (jobs.isEmpty) -1L else jobs.map(_._3).max
}

/** Listener that files job, stage and task events under the op id carried in
  * the job's local properties. Events arrive asynchronously; read the maps
  * only after draining the listener bus.
  */
final class OpListener extends SparkListener {
  private val stageOp = TrieMap.empty[Int, Long]
  private val jobOp = TrieMap.empty[Int, (Long, Long)]
  val work = TrieMap.empty[Long, OpWork]

  private def of(op: Long): OpWork = work.getOrElseUpdate(op, new OpWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).map(_.getProperty(OpListener.Key)).orNull
    if (prop != null) {
      val op = prop.toLong
      jobOp.put(e.jobId, (op, e.time))
      e.stageIds.foreach(stageOp.put(_, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      val w = of(op)
      w.synchronized { w.jobs += ((e.jobId, start, e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).foreach { op =>
      val w = of(op)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) w.synchronized {
        w.tasks += ((e.stageId, info.launchTime, info.finishTime))
        w.deserializeMs += m.executorDeserializeTime
        w.runMs += m.executorRunTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        // the UI's scheduler-delay formula: task wall time not spent
        // deserializing, running, serializing or fetching the result
        val fetching = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetching
        if (delay > 0) w.delayMs += delay
      }
    }
}

object OpListener {
  val Key = "graftbench.op"
}

final case class Span(
    trace: Long, id: Int, parent: Int, name: String, layer: String, shape: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store, written as JSON lines when the run ends. Span ids
  * are local to a trace (op); the root span has id 0 and parent -1.
  */
final class SpanLog {
  private val spans = ArrayBuffer.empty[Span]

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toSeq }

  /** Root span plus job and task children from the listener's record. */
  def addSparkWork(trace: Long, shape: String, parent: Int, firstId: Int, w: OpWork): Unit = {
    var id = firstId
    w.jobs.sortBy(_._2).foreach { case (jobId, s, e) =>
      val jobSpan = id
      add(Span(trace, jobSpan, parent, s"job-$jobId", "scheduler", shape, s.toDouble, e.toDouble))
      id += 1
      w.tasks.filter(t => t._2 >= s && t._3 <= e).foreach { case (stage, ls, le) =>
        add(Span(trace, id, jobSpan, s"task-stage$stage", "task", shape, ls.toDouble, le.toDouble))
        id += 1
      }
    }
  }

  /** Median self time per (shape, span kind): a span's duration minus the
    * part of it that its children cover. Job and task kinds drop their ids.
    */
  def selfTimes: Map[String, Map[String, Double]] = {
    val byTrace = all.groupBy(_.trace)
    val selfs = byTrace.values.flatMap { ss =>
      val children = ss.groupBy(_.parent)
      ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0.0
        var curS = Double.NaN
        var curE = Double.NaN
        kids.foreach { case (a, b) =>
          if (curS.isNaN || a > curE) {
            if (!curS.isNaN) covered += curE - curS
            curS = a; curE = b
          } else curE = math.max(curE, b)
        }
        if (!curS.isNaN) covered += curE - curS
        (s.shape, s.name.takeWhile(_ != '-'), math.max(0.0, s.durMs - covered))
      }
    }
    selfs.groupBy(_._1).map { case (shape, xs) =>
      shape -> xs.groupBy(_._2).map { case (n, ys) => n -> Stats.median(ys.map(_._3).toSeq) }
    }
  }

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json(ListMap(
        "trace" -> s.trace, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "shape" -> s.shape,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
