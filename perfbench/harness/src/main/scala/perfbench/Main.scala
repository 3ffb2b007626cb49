package perfbench

import java.nio.file.Paths

/** Benchmark entry point: one workload, one seed, one timed window.
  *
  *   perfbench.Main --workload <catalog|serve> --seed <n>
  *     --seconds <s> --trace <0|1> --data <corpus dir>
  *     --golden <golden dir> --state <scratch dir>
  *
  * Prints one JSON object as the last line of standard output. */
object Main {
  def main(argv: Array[String]): Unit = {
    val procStartMs = Common.processStartMs
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val dataDir = args("data")
    val golden = args("golden")
    val state = args("state")

    val spark = Common.session(s"$state/spark-local")
    val probes = if (trace) Some(new Probes(spark)) else None
    probes.foreach(_.register())
    Trace.on = trace
    val ctx = new Ctx(spark, dataDir, seed, probes)
    val code = try {
      // run.py already compared the corpus files with their digests; the
      // engine-side fingerprints cost a cold JVM several seconds, so they
      // are checked on request (the self-test does)
      val inputsT0 = System.nanoTime()
      if (args.get("check-inputs").contains("1"))
        Inputs.verify(spark, dataDir, s"$golden/inputs.tsv")
      val inputsS = (System.nanoTime() - inputsT0) / 1e9

      val workload: Workload = Workloads.make(workloadName, golden)
      val loadMs = Workloads.tablesLoadMs(spark, dataDir)
      val setupLayers = workload.setup(ctx)
      val setupS = (System.currentTimeMillis() - procStartMs) / 1e3 - inputsS

      val w0 = System.currentTimeMillis()
      val cpu0 = Common.processCpuNs
      val t0 = System.nanoTime()
      val ops = workload.timed(ctx, t0 + (seconds * 1e9).toLong)
      val t1 = System.nanoTime()
      val wallS = (t1 - t0) / 1e9
      val cpuNs = Common.processCpuNs - cpu0
      val w1 = System.currentTimeMillis()
      val heapMb = Common.retainedHeapMb
      val cachedEnd = spark.sparkContext.getPersistentRDDs.size

      val ref0 = System.nanoTime()
      val wrong = workload.referenceCheck(ctx)
      val refS = (System.nanoTime() - ref0) / 1e9
      val failures = ops.zipWithIndex.flatMap { case (o, i) =>
        o.error.orElse(wrong.get(i)).map(i -> _) }
      failures.map(_._2).distinct.take(20).foreach(e => System.err.println(s"[perfbench] FAILED $e"))

      val n = ops.size
      val lat = ops.map(_.ms)
      val okOps = n - failures.size
      val e2e = Map(
        "setup_s" -> ("s", setupS),
        "op_gmean_ms" -> ("ms", Common.geomean(lat)),
        "ops_per_s" -> ("1/s", okOps / wallS),
        "cpu_ms_per_op" -> ("ms", cpuNs / 1e6 / math.max(n, 1)),
        "retained_heap_mb" -> ("MB", heapMb))
      System.err.println(f"[perfbench] $workloadName seed=$seed ops=$n failed=${failures.size} " +
        f"wall=$wallS%.2fs gmean=${e2e("op_gmean_ms")._2}%.1fms p50=${Common.percentile(lat, 0.5)}%.1fms " +
        f"p90=${Common.percentile(lat, 0.9)}%.1fms " +
        f"p95=${Common.percentile(lat, 0.95)}%.1fms p99=${Common.percentile(lat, 0.99)}%.1fms " +
        f"setup=$setupS%.2fs inputs=$inputsS%.2fs warm=${setupLayers.getOrElse("harness.warm_s", 0.0)}%.2fs " +
        f"load=$loadMs%.0fms reference=$refS%.2fs")
      ops.groupBy(o => o.label.split("/").take(2).mkString("/")).toSeq.sortBy(_._1).foreach {
        case (l, os) => System.err.println(f"[perfbench]   $l%-36s n=${os.size}%4d " +
          f"p50=${Common.median(os.map(_.ms))}%9.1f ms")
      }

      val metrics: Map[String, (String, Double)] =
        if (!trace) e2e
        // a workload's own figures override these defaults
        else Layers.report(probes.get, ops, w0, w1, t0, t1, Map(
            "harness.rows_out" -> ops.map(_.rows).sum.toDouble / math.max(n, 1),
            "core.tables_load_ms" -> loadMs,
            "harness.failed_frac" -> failures.size.toDouble / math.max(n, 1),
            "harness.traced_op_gmean_ms" -> e2e("op_gmean_ms")._2,
            "exec.cached_rdds_end" -> cachedEnd.toDouble) ++
          setupLayers ++ workload.layerMetrics(ops),
          Paths.get(s"$state/trace/$workloadName-$seed.jsonl"))

      val body = metrics.toSeq.sortBy(_._1).map { case (k, (u, v)) =>
        s"${Common.jsonStr(k)}: {\"value\": ${Common.jsonNum(v)}, \"unit\": ${Common.jsonStr(u)}}"
      }.mkString(", ")
      println(s"""{"correct": ${failures.isEmpty}, "attempted": $n, "failed": ${failures.size}, """ +
        s""""metrics": {$body}}""")
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        3
    } finally spark.stop()
    System.exit(code)
  }
}
