package graft

import java.nio.file.{Files, Paths}

/** Measurement probe for the optimization rounds: dumps
  * `.explain("formatted")` for selected [[SparkEntry.queries]] to files
  * (the committed `plans/rNN/<query>_{before,after}.txt` evidence) and,
  * when asked, executes each query once with a per-stage listener so the
  * stage/task shape behind the bench's aggregate counters is attributable
  * to individual exchanges.
  *
  * Usage (mirrors Bench's env contract):
  *   SPARK_GRAFT_SF_DIR=...  data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS=...    local core count (default 4)
  *   SPARK_GRAFT_PLAN_ONLY=regex   query filter (required in spirit)
  *   SPARK_GRAFT_PLAN_OUT=dir      output dir (default plans/scratch)
  *   SPARK_GRAFT_PLAN_SUFFIX=_before|_after  file suffix (default "")
  *   SPARK_GRAFT_PLAN_RUN=1        also execute + record per-stage tasks
  *                                 (written to <query><suffix>_stages.txt)
  *   SPARK_GRAFT_PLAN_CONF=k=v;k=v extra session confs (e.g. to reproduce
  *                                 the pre-r21 defaults for a before-plan)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_PLAN_ONLY").map(_.r)
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/scratch"))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val run = sys.env.get("SPARK_GRAFT_PLAN_RUN").contains("1")
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_PLAN_CONF", "")
      .split(';').toSeq.map(_.trim).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    Files.createDirectories(outDir)
    val spark = LocalSession.start(cpus)
    extraConf.foreach { case (k, v) => spark.conf.set(k, v) }
    Tables.register(spark, sfDir)
    Graft.install(spark)
    pipeline.PipelineQueries.warmup(spark, sfDir)
    SparkEntry.warmupSources(spark, sfDir)
    Tables.bucketed(spark, sfDir)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        // summed executor run time per stage — the §1 "which operator is
        // the time" attribution the aggregate bench counters can't give
        val runMs = try si.taskMetrics.executorRunTime catch { case _: Throwable => -1L }
        stages.add(s"  stage ${si.stageId} tasks=${si.numTasks} run_ms=$runMs name=${si.name}")
      }
    }
    if (run) spark.sparkContext.addSparkListener(listener)

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"$name$suffix.txt"), txt)
        if (run) {
          stages.clear()
          val wantFinal = sys.env.get("SPARK_GRAFT_PLAN_FINAL").contains("1")
          val t0 = System.nanoTime()
          val runDf = fn(spark, sfDir)
          // collect() executes runDf's OWN QueryExecution, so the final
          // adaptive plan below reflects this run; count() would spawn a
          // separate execution and leave runDf's plan un-finalized
          val n = if (wantFinal) runDf.collect().length.toLong else runDf.count()
          val secs = (System.nanoTime() - t0) / 1e9
          // the FINAL adaptive plan (after AQE re-optimization), where
          // runtime stage/exchange REUSE is visible — the initial explain
          // above shows duplicated subtrees even when execution shares
          // them (r22: the span-mining threshold's kth branch)
          if (wantFinal)
            Files.writeString(outDir.resolve(s"$name${suffix}_final.txt"),
              runDf.queryExecution.executedPlan.toString)
          val head = f"$name%s rows=$n%d wall=$secs%.3f s (single cold run — structure, not a benchmark)"
          val lines = new java.lang.StringBuilder(head).append('\n')
          var total = 0L
          stages.forEach { s => lines.append(s).append('\n') }
          stages.forEach { s =>
            total += "tasks=(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
          }
          lines.append(s"total stages=${stages.size} tasks=$total\n")
          Files.writeString(outDir.resolve(s"$name${suffix}_stages.txt"), lines.toString)
          println(head)
          println(s"  total stages=${stages.size} tasks=$total")
        } else println(s"$name plan written")
        spark.catalog.clearCache()
        pipeline.Dedup.clearCaches()
        pipeline.Dedup.clearCheckpoints()
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
