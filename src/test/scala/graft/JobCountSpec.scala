package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job-count DETERMINISM as a test, not a bench observation (r14
  * directive 5): r13/r14 each chased a job-count nondeterminism (the
  * jsrc distinct-outer broadcast race, the zip distinct-outer shuffle)
  * found only by eyeballing bench artifacts. This spec runs the whole
  * correlated-aggregate family (and the two previously-flaky queries'
  * fixed forms) twice each under Bench's per-rep hygiene and asserts the
  * job count is identical across reps — a raced stage materialization
  * shows up as a count delta here, in CI, not in a committed artifact
  * three rounds later.
  */
class JobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  // each job's call site, in start order (see siteOf), and the engine
  // frame of each SQL execution's action, by execution id
  private val jobSites =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val execSites =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val listenerInstalled: Unit = {
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobSites.add(siteOf(js))
          jobCounter.incrementAndGet(); ()
        }
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            engineFrame(s.details).foreach(execSites.put(s.executionId.toString, _))
          case _ =>
        }
      })
  }

  private def engineFrame(details: String): Option[String] =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.JobCountSpec"))

  /** The engine frame that started a job: the first `graft.` line of its
    * final stage's long call site. Job properties carry no long call site,
    * and an AQE stage job runs on a query-stage thread whose call site
    * holds no engine frame (its short form is only
    * `withThreadLocalCaptured at CompletableFuture.java`); such a job is
    * named by the action of the SQL execution it belongs to. */
  private def siteOf(js: org.apache.spark.scheduler.SparkListenerJobStart) = {
    val details = js.stageInfos.lastOption.map(_.details).getOrElse("")
    engineFrame(details).orElse {
      Option(js.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id))).map(_ + " [AQE stage]")
    }.getOrElse(details.linesIterator.take(1).mkString)
  }

  /** One measured execution with Bench.runOnce's cache hygiene, so rep 2
    * pays the same plan cost as rep 1 (a cached relation or leftover
    * index would fake determinism by eliding jobs). */
  /** Wait until the (async) listener bus stops delivering JobStarts —
    * stable for 300ms, bounded at 15s. JobStart posts at submission,
    * strictly before the action unblocks, so this only absorbs residual
    * bus lag. */
  private def settle(): Unit = {
    var last = jobCounter.get()
    var stableFor = 0
    var waited = 0
    while (stableFor < 3 && waited < 150) {
      Thread.sleep(100); waited += 1
      val now = jobCounter.get()
      if (now == last) stableFor += 1 else { stableFor = 0; last = now }
    }
  }

  private def jobsOf(name: String): Int = {
    listenerInstalled
    // Tables.load infers each table's schema once (a job) and reuses it
    // while the files and parquet confs stay the same; fill that memo first
    // so both reps start alike. events goes first: loading it sets a
    // parquet conf, which would re-key every table loaded before it.
    ("events" +: graft.core.Tables.all)
      .foreach(graft.core.Tables.load(spark, TestSpark.sfDir, _))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    settle() // a previous run's stragglers must not leak into this rep
    val j0 = jobCounter.get()
    SparkEntry.queries(name)(spark, TestSpark.sfDir).count()
    settle()
    val jobs = jobCounter.get() - j0
    SparkEntry.release(spark, before)
    jobs
  }

  private val family = Seq(
    "q_lang_corr_agg", "q_lang_corr_filter", "q_lang_corr_filter_big",
    "q_lang_corr_nonequi", "q_lang_corr_flatmap", "q_lang_corr_fold",
    "q_lang_corr_cond", "q_lang_corr_gate", "q_lang_corr_jbind",
    "q_lang_corr_legbind", "q_lang_corr_jsrc", "q_lang_corr_nested",
    "q_lang_corr_zip", "q_lang_corr_join", "q_lang_corr_widen",
    "q_lang_corr_rangekey", "q_stream_curate")

  /** r17 verdict directive 8: the pagerank lazy-checkpoint win is a
    * JOB-count property (one executing job for the whole loop), invisible
    * to plan dumps — an eager-checkpoint regression (or a Spark upgrade
    * changing localCheckpoint semantics) would be silent. Pin it as
    * iteration-count INVARIANCE: with lazy per-iteration checkpoints the
    * loop contributes zero jobs until the final action, so tripling the
    * iteration count must not change the job count; an eager regression
    * adds one materialization job per iteration and fails loudly here. */
  test("pagerank loop submits no per-iteration materialization jobs") {
    listenerInstalled
    import spark.implicits._
    // AQE OFF for this measurement only: under AQE, building each
    // iteration's checkpoint RDD (queryExecution.toRdd) eagerly
    // materializes that iteration's shuffle query stages — a constant 3
    // jobs/iteration that exists in BOTH the lazy and eager shapes and
    // would drown the signal. With AQE off, a lazy localCheckpoint
    // contributes ZERO jobs at loop-build time (the final action runs
    // the whole lineage as one multi-stage job), so the job count is
    // invariant in the iteration count; an eager-checkpoint regression
    // adds one materialization job per iteration and fails loudly.
    val edges = (0L until 60L)
      .map(i => (i % 12, (i * 7 + 3) % 12)).toDF("src", "dst")
    def jobsAt(iters: Int): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      settle()
      val j0 = jobCounter.get()
      graft.plans.Graph.pageRank(edges, iters).count()
      settle()
      val jobs = jobCounter.get() - j0
      SparkEntry.release(spark, before)
      jobs
    }
    // auto-broadcast also OFF: each iteration's rebuild join otherwise
    // broadcasts its (tiny, stats-known) contribs side, and the
    // BroadcastExchange executes as one job per iteration inside the
    // final action — again identical in both shapes, again drowning the
    // signal this guard exists to see.
    val aqeKey = "spark.sql.adaptive.enabled"
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAqe = spark.conf.get(aqeKey)
    val prevBc = spark.conf.get(bcKey)
    val (j4, j12) = try {
      spark.conf.set(aqeKey, "false")
      spark.conf.set(bcKey, "-1")
      (jobsAt(4), jobsAt(12))
    } finally {
      spark.conf.set(aqeKey, prevAqe)
      spark.conf.set(bcKey, prevBc)
    }
    assert(j4 == j12,
      s"pageRank scheduled $j4 jobs at 4 iterations but $j12 at 12 — " +
        "per-iteration jobs are back (eager checkpoint regression?)")
  }

  /** The catalog benchmark's command-program shape over
    * `orders(o_custkey, o_orderkey)`: an insert loop, then count, sum, min
    * and point-count reads, in one of three write:read mixes (writes and
    * reads share one loop when they are as many). */
  private def orderProgram(w: Int, r: Int): String = {
    def list(ks: Seq[Int]) = ks.map(k => s"$k :: ").mkString + "nil[int]"
    val insert = "set orders := { o_orderkey : kv * 1000 + 7, o_custkey : kv } :: mut orders"
    val read =
      """set out := { k : kv,
        |    n : len(mut orders),
        |    s : fold (map (mut orders) o o[o_custkey]) 0 v acc v + acc,
        |    m : optmatch min(map (mut orders) o o[o_custkey]) 0 x x,
        |    c : len(filter (mut orders) o (o[o_custkey] == kv))
        |  } :: mut out""".stripMargin
    val ws = Seq(3, 17, 42).take(w)
    val rs = Seq(17, 5, 99).take(r)
    val body =
      if (w == r) s"for kv in ${list(ws)} :\n  $insert;\n  $read\nend"
      else s"for kv in ${list(ws)} :\n  $insert\nend;\n" +
        s"for kv in ${list(rs)} :\n  $read\nend"
    "let mut out := nil[{c : int, k : int, m : int, n : int, s : int}] in\n" +
      s"$body;\nset result := mut out"
  }

  /** Jobs `f` starts, by call site. */
  private def jobsIn[T](f: => T): (T, Seq[String]) = {
    settle()
    val n0 = jobSites.size
    val out = f
    settle()
    val sites = jobSites.synchronized {
      (n0 until jobSites.size).map(jobSites.get)
    }
    (out, sites)
  }

  // Jobs per phase of one command program. The maintained IVM cells of a
  // table are primed by one aggregation (2 jobs under AQE), and bumped,
  // compared and iterated on the driver; an insert into the indexed table
  // unions a local delta. What remains in Interp.exec are the point counts,
  // which read table data (the first fills the keyed cache). Materializing
  // `result` afterwards is not counted.
  private val phasePins = Seq(
    ("w3r1", 3, 1, 2, 4), ("w2r2", 2, 2, 2, 6), ("w1r3", 1, 3, 2, 5))

  phasePins.foreach { case (mix, w, r, optJobs, interpJobs) =>
    test(s"command program $mix: jobs per phase stay pinned") {
      listenerInstalled
      import org.apache.spark.sql.functions.col
      import graft.lang.{Compiler, Interp, Optimize, Parser, Rewrites}
      val orders = graft.core.Tables.load(spark, TestSpark.sfDir, "orders")
        .select(col("o_custkey"), col("o_orderkey"))
      val env = Compiler.Env(Map.empty, Map("orders" -> orders), spark)
      val cmd = Rewrites.normalizeCommand(
        Parser.parseCommand(orderProgram(w, r)))
      val ((opt, primed), optSites) = jobsIn(Optimize.transform(cmd, env))
      val (end, interpSites) = jobsIn(Interp.exec(opt, primed))
      try {
        assert(end.store("result").count() == r.toLong)
        def show(sites: Seq[String]) = sites.map("\n    " + _).mkString
        assert((optSites.size, interpSites.size) == ((optJobs, interpJobs)),
          s"$mix: Optimize.transform started ${optSites.size} jobs " +
            s"(pinned $optJobs):${show(optSites)}\n  Interp.exec started " +
            s"${interpSites.size} (pinned $interpJobs):${show(interpSites)}")
      } finally {
        end.indexes.values.foreach(_.unpersist())
        end.compoIndexes.values.foreach(_.unpersist())
      }
    }
  }

  family.foreach { name =>
    test(s"$name job count is identical across reps") {
      val r1 = jobsOf(name)
      val r2 = jobsOf(name)
      assert(r1 == r2,
        s"$name scheduled $r1 jobs on rep 1 but $r2 on rep 2 — a raced " +
          "stage materialization is back")
    }
  }
}
