package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Per-stage task-metrics diagnostic: run registered queries and print,
  * per stage — executor CPU vs run time, GC time, shuffle read/write,
  * spill bytes, peak execution memory — the facts a growth-fit tail flag
  * needs before any knob is touched. A stage whose cpu/run ratio
  * collapses is scheduler/IO-bound; one whose spill or GC column lights
  * up is memory-bound; one whose cpu grows super-linearly is doing
  * genuinely more work per row. Stages are attributed to their SQL
  * execution (id + registered call-site description): AQE submits stages
  * from pool threads, so the stage NAME alone is a generic
  * `withThreadLocalCaptured`.
  *
  * This instrument attributed the r15 27x->81x tail (e_tail 1.27-1.35 on
  * the five doc-heavy queries): the pipelines' gate-join seal stages
  * carried GB-scale sort spill at 81x. It then also REFUTED the first
  * fix attempt — AQE re-partitioning cleared the spill but cost ~1.7x
  * task CPU in many-small-partition plans; the
  * shipped fix is hash-build gate joins (`operators/PipelineFull`),
  * which never sort the fat rows. Promoted into the ritual (step 7) as
  * the standing METRICS_r{N}.txt emitter.
  */
object StageMetrics {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: StageMetrics <q_a[,q_b,...]> [sfDir]\n" +
          "  env: SPARK_GRAFT_CPUS (default 4, matching Bench)")
      sys.exit(2)
    }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unregistered queries: ${unknown.mkString(",")}")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    // (stageId, name, tasks, runMs, cpuMs, gcMs, shufReadB, shufWriteB,
    //  memSpillB, diskSpillB, peakMemB)
    val stages = ArrayBuffer[(Int, String, Int, Long, Long, Long, Long,
      Long, Long, Long, Long)]()
    // Attribute stages to SQL executions: AQE submits stages from pool
    // threads (the generic `withThreadLocalCaptured` stage names), so the
    // only reliable stage->operator link is the `spark.sql.execution.id`
    // job property plus the execution's registered description (its
    // driver-side call site). The execution SEQUENCE number then pins a
    // repeated line (eight seals all read `PipelineFull.scala:61`) to a
    // specific cascade stage.
    val stageExec = scala.collection.concurrent.TrieMap.empty[Int, String]
    val execDesc = scala.collection.concurrent.TrieMap.empty[Long, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val eid = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("-")
        js.stageInfos.foreach(si => stageExec.putIfAbsent(si.stageId, eid))
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc.putIfAbsent(s.executionId,
            s.description.linesIterator.next().take(50)); ()
        case _ => ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo; val m = si.taskMetrics
        stages.synchronized {
          stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(60),
            si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
            m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
            m.diskBytesSpilled, m.peakExecutionMemory))
        }
      }
    })
    def mb(b: Long): String = if (b == 0) "-" else f"${b / 1048576.0}%.0fM"
    for (name <- names) {
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2000) // let the listener bus drain
      val rows = stages.synchronized(stages.sortBy(-_._4).toVector)
      println(s"\n=== $name @ $sfDir ===")
      println(f"${"stage"}%5s ${"tasks"}%5s ${"run_s"}%7s ${"cpu_s"}%7s " +
        f"${"cpu/run"}%7s ${"gc_s"}%6s ${"shRd"}%6s ${"shWr"}%6s " +
        f"${"spillM"}%6s ${"spillD"}%6s ${"peakEx"}%7s  name")
      // top 12 stages by task run time keep the ritual artifact compact;
      // the summary line still aggregates EVERY stage
      rows.take(12).foreach { case (id, nm, n, run, cpu, gc, sr, sw, ms, ds, pk) =>
        val eid = stageExec.getOrElse(id, "-")
        val site = "exec " + eid + ": " + eid.toLongOption
          .flatMap(execDesc.get).getOrElse("?")
        println(f"$id%5d $n%5d ${run / 1e3}%7.1f ${cpu / 1e3}%7.1f " +
          f"${if (run == 0) 0.0 else cpu.toDouble / run}%7.2f " +
          f"${gc / 1e3}%6.1f ${mb(sr)}%6s ${mb(sw)}%6s ${mb(ms)}%6s " +
          f"${mb(ds)}%6s ${mb(pk)}%7s  $nm [$site]")
      }
      val (runT, cpuT, gcT) = rows.foldLeft((0L, 0L, 0L)) {
        case ((r, c, g), s) => (r + s._4, c + s._5, g + s._6)
      }
      println(f"[stage-metrics] $name wall=$wall%.1fs stages=${rows.size} " +
        f"task_run=${runT / 1e3}%.1fs task_cpu=${cpuT / 1e3}%.1fs " +
        f"(cpu/run=${if (runT == 0) 0.0 else cpuT.toDouble / runT}%.2f) " +
        f"gc=${gcT / 1e3}%.1fs " +
        f"spill_mem=${mb(rows.map(_._9).sum)} " +
        f"spill_disk=${mb(rows.map(_._10).sum)}")
    }
    spark.stop()
  }
}
