package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The result of one op. `error` is set when it threw, returned a non-200
  * status or returned a wrong answer; failures are never retried. */
final case class OpResult(label: String, ms: Double, error: Option[String],
    rows: Long = 0L)

/** What every workload gets: the session, the corpus, the seed and the
  * (possibly disabled) engine probes. */
final class Ctx(val spark: SparkSession, val dataDir: String,
    val seed: Long, val probes: Option[Probes]) {
  private var nextOp = 0L
  def newOp(): Long = { nextOp += 1; nextOp }
}

/** One workload: an untimed set-up, a timed closed loop of ops, and
  * reference checks that run after the timed window. */
trait Workload {
  /** Load what the ops need and warm the JVM and Spark up. Returns extra
    * per-layer metrics measured during set-up. */
  def setup(ctx: Ctx): Map[String, Double]
  /** Run ops until `deadlineNs` (System.nanoTime) passes. */
  def timed(ctx: Ctx, deadlineNs: Long): Seq[OpResult]
  /** Check ops whose answers could not be checked inline; returns the
    * indices (into the timed results) of wrong answers with reasons. */
  def referenceCheck(ctx: Ctx): Map[Int, String] = Map.empty
  /** Per-layer metrics the workload measured itself. */
  def layerMetrics(ops: Seq[OpResult]): Map[String, Double] = Map.empty
}

object Common {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop what an op cached, as the repository's own bench does between
    * queries: SQL caches, RDDs persisted since `before`, and registered
    * keyed indexes. */
  def hygiene(spark: SparkSession, before: Set[Int]): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
      .values.foreach(_.unpersist(blocking = false))
    graft.plans.KeyedIndexRule.clear()
  }

  /** Run `f` over `xs` with one thread per core; returns once all ended. */
  def inParallel[A](xs: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after a full collection, in MiB: the least of five
    * readings, so that allocation by background threads between a
    * collection and its reading does not count. */
  def retainedHeapMb: Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(50)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  /** Wall-clock epoch ms at which this OS process started. */
  def processStartMs: Long = ProcessHandle.current().info().startInstant()
    .map[Long](_.toEpochMilli).orElse(ManagementFactory.getRuntimeMXBean.getStartTime)

  /** Linear-interpolated percentile (q in 0..1) of `xs`. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean of positive `xs`. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)

  def zipfSampler(n: Int, s: Double, rnd: scala.util.Random): () => Int = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    () => {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def jsonNum(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def readLines(path: String): Seq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
}
