package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val wall0 = System.nanoTime()
    def wallMark(label: String, since: Long): Long = {
      val now = System.nanoTime()
      System.err.println(f"[bench-wall] $label%-12s ${(now - since) / 1e9}%7.1fs")
      now
    }
    // Self-attribution (round-10 directive 2): count Spark jobs per query
    // rep. A genuine plan change shows up as a different job count; pure
    // box variance shows identical jobs with drifted wall time. JobStart
    // is posted to the (async) listener bus at submission, strictly before
    // the job's results unblock count(), so reading the counter after the
    // action returns sees every job of the rep in practice; any residual
    // bus lag is constant-shaped and cancels in rep-over-rep comparison.
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCounter.incrementAndGet(); ()
      }
    })
    // JVM/codegen warmup so the first measured query isn't charged ~4s of
    // session startup. The second statement warms the text-pipeline
    // machinery (regex split, higher-order array functions, hash
    // expressions, shuffle+agg) that the dedup/search family leans on —
    // otherwise its JIT cost lands on whichever of those queries happens
    // to run first and misattributes ~2-4s to it.
    spark.range(1000).selectExpr("sum(id)").collect()
    warmTextPipeline(spark)
    warmStreaming(spark)
    val selected = SparkEntry.selected
    warmPass(spark, sfDir, selected)
    val wallWarm = wallMark("warmup", wall0)
    // Median of 3 runs per query: single cold timings on this box swing
    // ±40% on identical code (JIT/GC scheduling), which made round-over-
    // round deltas unreadable. Every rep pays the full plan cost (caches
    // are cleared between reps) — the median only filters runtime noise,
    // it does not hide recomputation.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // PASS-MAJOR interleaving: run every query once per pass, not all reps
    // back-to-back. Query-major reps let a transient contention window on
    // the box (another JVM compiling, the harness doing driver-side work)
    // inflate ALL reps of whichever few queries run inside it — the r7
    // artifact recorded 3-6x inflation on mid-run queries that measure
    // fast in isolation, with zero JVM-internal accumulation (code cache,
    // metaspace and GC stayed flat across passes). Interleaved passes
    // bound any such window's damage to ONE rep per query, which the
    // per-query median then rejects.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[(Double, Int)] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val j0 = jobCounter.get()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val jobs = jobCounter.get() - j0
      // drop per-query caches so later timings aren't skewed by memory
      // pressure from earlier queries' cached indexes
      SparkEntry.release(spark, before)
      if (ok) Some((dt, jobs)) else None
    }
    val order = selected.toVector
    val passes: Vector[Vector[(String, Option[(Double, Int)])]] =
      (1 to reps).toVector.map { _ =>
        order.map { case (name, fn) => name -> runOnce(name, fn) }
      }
    val wallPasses = wallMark("passes", wallWarm)
    // per-query: (median_sec, reps_sec, jobs_per_rep)
    val detail: Vector[(String, Double, Vector[Double], Vector[Int])] =
      order.map { case (name, _) =>
        val cells = passes.flatMap(_.collectFirst { case (`name`, t) => t }.get)
        val times = cells.map(_._1)
        val jobs = cells.map(_._2)
        // a failed rep is reported as -1, never as a plausible fast time
        val med = if (times.size < reps) -1.0 else times.sorted.apply(reps / 2)
        (name, med, times, jobs)
      }
    val results = detail.map { case (n, m, _, _) => n -> m }.toMap
    // keep the whole JSON line short: the harness that reads it keeps only
    // the tail of stdout, and a full-precision line for 80 queries
    // overflows that window. Per-query entries are limited to the queries
    // that matter for perf reading (>= 0.3s, or failed); the sub-threshold
    // remainder is summarized in aggregate fields.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val (slow, fast) = results.partition { case (_, v) => v >= 0.3 || v < 0 }
    val qs = slow.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // variance-vs-drift evidence per slow query (directive 2): the raw rep
    // times and the per-rep job counts. Constant jobs + drifted time = box
    // variance; changed jobs = a real plan/loop change. Job counts collapse
    // to a single N when constant across reps.
    val slowDetail = detail.filter { case (n, _, _, _) => slow.contains(n) }
    val repsJson = slowDetail.map { case (n, _, ts, _) =>
      "\"" + n + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val jobsJson = slowDetail.map { case (n, _, _, js) =>
      val v = if (js.nonEmpty && js.forall(_ == js.head)) js.head.toString
              else js.mkString("[", ",", "]")
      "\"" + n + "\":" + v
    }.mkString("{", ",", "}")
    // failed queries report -1 per-query but must not SUBTRACT from total;
    // list their names explicitly — a -1 buried in 80 entries is easy to miss
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.values.filter(_ >= 0).sum
    val sfName = new java.io.File(sfDir).getName
    // harness-overhead breakdown (round-10 directive 8): measured query
    // time vs what the wall actually costs. passes - sum(all reps) is the
    // per-query hygiene (cache drops, listener reads); anything before
    // warmup-end is JVM/session/codegen spin-up. sbt launch sits outside
    // this JVM and is the remaining wall the JSON cannot see.
    val allRepsSec = detail.flatMap(_._3).filter(_ >= 0).sum
    val wallJson = s""""wall":{"warmup":${fmt((wallWarm - wall0) / 1e9)},""" +
      s""""passes":${fmt((wallPasses - wallWarm) / 1e9)},""" +
      s""""reps_total":${fmt(allRepsSec)}},"""
    val jsonLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      wallJson +
      s""""n_queries":${results.size},"reps":$reps,"stat":"median",""" +
      s""""queries":$qs,""" +
      s""""reps_sec":$repsJson,""" +
      s""""jobs":$jobsJson,""" +
      s""""failed":${failed.mkString("[", ",", "]")},""" +
      s""""fast_omitted":${fast.size},"fast_total":${fmt(fast.values.sum)},""" +
      s""""sf":"$sfName"}"""
    println(jsonLine)
    // Compact trailer AFTER the full line: the driver keeps only the tail
    // of stdout (measured window: 2000 chars), and on a long JSON line
    // that tail retains the line's END (jobs/failed) while losing "value"
    // and the per-query seconds at the front. This second line is short
    // enough to always survive whole.
    val top10 = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // Per-query seconds IN the surviving trailer (r17 verdict directive
    // 2: PERF_r*.json.per_query has been empty for two rounds because
    // only this trailer survives the driver's 2000-char stdout-tail
    // window). Entries are added largest-first under a byte budget that
    // keeps the WHOLE line + the post-bench sbt epilogue inside that
    // window; "pq_omitted" counts what didn't fit so a partial map is
    // explicit. Additions-only: every pre-existing trailer field is
    // unchanged, so cross-round trailer comparison stays valid.
    val pqBudget = 1150
    val pqParts = scala.collection.mutable.ArrayBuffer.empty[String]
    var pqLen = 0
    var pqOmitted = 0
    results.toSeq.filter(_._2 >= 0).sortBy(-_._2).foreach { case (k, v) =>
      val e = "\"" + k + "\":" + fmt(v)
      if (pqLen + e.length + 1 <= pqBudget) { pqParts += e; pqLen += e.length + 1 }
      else pqOmitted += 1
    }
    val pqJson = pqParts.mkString("{", ",", "}")
    // fast_cut names the per-query inclusion threshold: tail totals are
    // only comparable across rounds when read together with how many
    // sub-threshold queries were rolled into the aggregate (r15 verdict:
    // a moved cut masqueraded as a +23% regression).
    wallMark("total", wall0) // before the trailer: stderr after the final
    // JSON line would eat tail-window bytes the per-query map needs
    println(s"""{"metric":"total_tail","value":${fmt(total)},"unit":"sec",""" +
      s""""top10":$top10,"failed_n":${failed.size},""" +
      s""""fast_cut_sec":0.3,"fast_omitted":${fast.size},""" +
      s""""fast_total":${fmt(fast.values.sum)},""" +
      s""""queries":$pqJson,"pq_omitted":$pqOmitted,"sf":"$sfName"}""")
    // ALSO write the full line to a stable path when asked (r12 verdict:
    // the driver's stdout capture truncates its tail, losing the per-query
    // map — the committed BENCH_r{N}_*.json artifacts come from here)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (jsonLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }

  /** UNTIMED per-query warm execution: rep 1 of nearly every query ran
    * 1.5-2.5x its median — query-specific Janino codegen + JIT warm-in
    * charged to the measurement, burning a third of the timed pass wall. One warm execution per query moves that cost
    * out of the timed window; warm needs no timing fidelity, so it runs
    * CONCURRENTLY (bounded lanes — local[32] has idle cores during any
    * single small-SF query) to keep the added wall far below one serial
    * pass. Safe concurrently: StreamRun serializes session-conf scoping,
    * per-query temp dirs are unique, and a query that races another into
    * an exception just forfeits its warmup (the timed pass reports real
    * failures). Caches/indexes are dropped once afterwards, so the first
    * timed rep still pays its full plan cost — only JVM-level warmth
    * (codegen cache, JIT) carries over, which is exactly the point. */
  private def warmPass(spark: SparkSession, sfDir: String,
      selected: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val warmLanes = 6
    val beforeWarm = spark.sparkContext.getPersistentRDDs.keySet
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmLanes)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    val warmFailed = new java.util.concurrent.atomic.AtomicInteger(0)
    val futs = selected.toVector.map { case (name, fn) =>
      Future {
        try { fn(spark, sfDir).count(); () }
        catch { case e: Throwable =>
          warmFailed.incrementAndGet()
          System.err.println(s"[bench-warm] $name: ${e.getMessage}")
        }
      }
    }
    // Warm pass is best-effort: a timeout degrades to a partially-warm
    // timed pass rather than aborting the whole benchmark run. On
    // timeout the straggler warm executions must STOP before the timed
    // pass starts — a leftover warm query would pollute timings and
    // can race the timed copy on shared sink paths — so cancel queued
    // work, interrupt in-flight tasks, and bound-wait for the pool to
    // drain.
    // Tracks whether the try body completed: if it threw, the finally
    // block's drain-failure must not REPLACE that root cause — attach
    // the drain failure as a log line and let the original propagate.
    var warmBodyOk = false
    try {
      scala.util.Try(Await.result(Future.sequence(futs), Duration(900, "s")))
        .failed.foreach { e =>
          System.err.println(s"[bench-warm] warm pass incomplete: " +
            s"${e.getClass.getSimpleName} - cancelling stragglers, " +
            "continuing with timed pass")
          spark.sparkContext.cancelAllJobs()
        }
      warmBodyOk = true
    } finally {
      pool.shutdownNow()
      // The timed pass MUST NOT start with warm stragglers alive —
      // leftover executions pollute timings and can race the timed
      // copy on shared sink paths. Keep cancelling + re-waiting; if
      // the pool still won't drain, fail the bench run rather than
      // produce silently-polluted numbers.
      var drained =
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      var rounds = 0
      while (!drained && rounds < 4) {
        rounds += 1
        System.err.println(s"[bench-warm] warm pool not drained after " +
          s"${60 * (rounds)}s - cancelling jobs and re-waiting")
        spark.sparkContext.cancelAllJobs()
        drained =
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      if (!drained) {
        val msg = "[bench-warm] warm pool failed to drain after " +
          "repeated cancellation - aborting the bench run (a timed " +
          "pass with live stragglers would report polluted timings)"
        // only raise when the try body completed; if it threw, raising
        // here would silently swallow the root cause
        if (warmBodyOk) sys.error(msg) else System.err.println(msg)
      }
    }
    if (warmFailed.get() > 0)
      System.err.println(s"[bench-warm] ${warmFailed.get()} warm " +
        "executions failed (timed pass will report real failures)")
    SparkEntry.release(spark, beforeWarm)
  }

  /** Exercise the Structured Streaming stack on a tiny feed: file-stream
    * source, micro-batch planner, state store provider, memory sink. The
    * stack's class-loading + JIT otherwise lands on whichever stream query
    * runs first and misattributes seconds to it (the warmTextPipeline
    * rationale, applied to streaming). */
  private def warmStreaming(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val feed = spark.range(100).select(col("id"), (col("id") % 5).as("k"))
    graft.streaming.StreamRun(spark, "complete") { watch =>
      graft.streaming.StreamStage.writeBatchFile(feed, watch, "feed.parquet")
      spark.readStream.schema(feed.schema).parquet(watch.toString)
        .groupBy("k").agg(count(lit(1)).as("n"))
    }
    ()
  }

  /** Exercise the text-pipeline expression machinery on tiny data: regex
    * split, higher-order array functions, hash expressions, a shuffle+agg. */
  private def warmTextPipeline(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val t = col("tk")
    val idx = when(size(t) >= 3, sequence(lit(0), size(t) - 3))
      .otherwise(array().cast("array<int>"))
    spark.range(2000)
      .select(concat_ws(" ", lit("a b c d e f"), col("id").cast("string"))
        .as("text"))
      .select(col("text"), split(lower(trim(col("text"))), "\\s+").as("tk"))
      .select(explode(array_distinct(transform(idx, i =>
        concat_ws(" ", get(t, i), get(t, i + 1), get(t, i + 2))))).as("s"))
      .select(col("s"), xxhash64(col("s")).as("h"), md5(col("s")).as("m"))
      .groupBy(col("s")).agg(count(lit(1)))
      .collect()
    ()
  }
}
