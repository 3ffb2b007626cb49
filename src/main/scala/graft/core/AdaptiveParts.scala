package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Data-derived shuffle-partition counts for the few stages whose
  * per-partition state grows with corpus size (guide §2: partitioning must
  * derive from input size, not a constant tuned for one scale).
  *
  * The session-wide post-shuffle partition count (= local core count) is
  * right for the bench's small scale factors but lets per-task
  * aggregation/sort state grow linearly with the corpus. Deriving the
  * count from the optimizer's sizeInBytes of the stage's input is meant
  * to keep per-partition bytes roughly constant at any scale. The lower
  * clamp (defaultParallelism) keeps small-scale plans exactly as before —
  * every in-repo derivation site measures under one target-size unit at
  * sf0.1 — and the upper clamp bounds task overhead if an estimate is
  * ever wildly wrong.
  *
  * UNMEASURED: no committed artifact shows the spill this is meant to
  * remove, nor a gain from it at 27x or 81x. The 32 MB target and the
  * 96 MB onset below are design choices, not measurements; the mechanism
  * stays only until a committed 27x/81x on/off run decides it.
  *
  * This is NOT the refuted blanket scaling: r15 measured data-proportional
  * `spark.sql.shuffle.partitions` at 81x as a regression (91.2 s vs 82.6 s
  * stock) and r16 measured AQE advisory re-sizing at 2-3x bench
  * cost — both resize EVERY exchange, paying
  * many-small-partition overhead across the whole query surface. This
  * helper resizes only the named exchanges whose per-partition state is
  * corpus-linear, where the spill removed dominates the task overhead
  * added.
  */
object AdaptiveParts {

  /** Estimator bytes one post-shuffle partition should own (unmeasured;
    * see the object doc). */
  val targetBytesPerPartition: Long = 32L << 20

  /** Partition count so each partition owns ~[[targetBytesPerPartition]]
    * of `bytes`, clamped to [defaultParallelism, 512]. */
  def forBytes(s: SparkSession, bytes: BigInt): Int = {
    val raw = (bytes / targetBytesPerPartition) + 1
    math.max(s.sparkContext.defaultParallelism,
      raw.min(BigInt(512)).toInt)
  }

  /** Onset for REPLACING a planner aggregate exchange with an explicit
    * repartition: 96 MB/partition (unmeasured; see the object doc). The
    * replacement costs the map-side partial aggregate (raw rows cross the
    * exchange), so it must not engage until the partial-aggregate hash
    * maps outgrow memory, which is why the onset sits above the target. */
  val widenOnsetBytesPerPartition: Long = 96L << 20

  /** Some(width) when `bytes` is past the widen onset for this session's
    * parallelism — i.e. only when per-partition state at the default
    * width would pass the onset; None keeps the
    * planner's own exchange (with its map-side partial aggregate). The
    * returned width still targets [[targetBytesPerPartition]]. */
  def widthPastOnset(s: SparkSession, bytes: BigInt): Option[Int] = {
    val dp = s.sparkContext.defaultParallelism
    val atOnset = (bytes / widenOnsetBytesPerPartition) + 1
    if (atOnset > dp) Some(forBytes(s, bytes)) else None
  }

  /** Optimizer-estimated bytes of a frame: exact for materialized cached
    * plans (InMemoryRelation accumulates real batch sizes — the jaccard
    * callers all cache-and-count their shingle sets first), file-size
    * derived for parquet scans (the salted-join legs). */
  def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** [[forBytes]] over a frame's own estimate. */
  def forDf(df: DataFrame): Int =
    forBytes(df.sparkSession, planBytes(df))
}
