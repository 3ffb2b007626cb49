package graft.operators

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** The reference's signature capability: a hash index on an attribute that
  * rewrites `filter(tbl, row.attr == k)` scans into point lookups
  * (fiat2/src/fiat2/DictIndexImpl.v:25-33, eq_filter_to_lookup_head at
  * :374-389). In Spark the equivalent physical design is a DataFrame
  * hash-partitioned by the key and cached: every subsequent lookup filter
  * touches only the one in-memory partition that can hold the key (partition
  * filters on the cached RDD), instead of rescanning the source. At cluster
  * scale the same shape is `bucketBy(attr)` on a persisted table.
  */
final class DictIndex private[operators] (
    val keyed: DataFrame, val keyCol: String, partitions: Int,
    caches: List[CacheRef]) {

  /** Point lookup — fiat2 `OLookup` on the index dict. */
  def lookup(key: Any): DataFrame = keyed.filter(col(keyCol) === lit(key))

  /** Batched point lookups (one job instead of K). */
  def lookupMany(keys: Seq[Any]): DataFrame =
    keyed.filter(col(keyCol).isin(keys: _*))

  /** Incremental maintenance — the reference's `cons_to_insert` shape
    * (fiat2/src/fiat2/DictIndexImpl.v:30-33 `idx_insert`): the delta is
    * unioned LAZILY, so the base cache is never recomputed. A local delta
    * (the driver-built rows of an insert chain) is unioned as it is: a
    * lookup filters it on the driver, with no shuffle and no cache. Any
    * other delta is keyed and cached on its own, so a lookup prunes both
    * sides by the key hash. (Compaction — folding the deltas into the
    * base — is a background concern at scale, same as any LSM-ish index.) */
  def insert(delta: DataFrame): DictIndex = {
    val aligned = delta.select(keyed.columns.map(col): _*)
    if (delta.isLocal)
      new DictIndex(keyed.union(aligned), keyCol, partitions, caches)
    else {
      val keyedDelta = CacheRef.acquire(
        aligned.repartition(partitions, col(keyCol)))
      new DictIndex(keyed.union(keyedDelta.df), keyCol, partitions,
        keyedDelta :: caches)
    }
  }

  /** Release the base cache and every cached delta. */
  def unpersist(): Unit = caches.foreach(_.release())
}

/** One holder's claim on a cached plan. Spark's cache manager keeps ONE
  * entry per plan, so an `unpersist` through any holder drops the entry
  * for every other holder of an identical plan (two indexes over the same
  * table and key: a concurrent `/runc` request, a lookup route). Claims
  * are counted per entry, and only the last `release` unpersists. */
private[operators] final class CacheRef private (val df: DataFrame,
    private val key: LogicalPlan, private val entry: AnyRef) {
  private val released = new java.util.concurrent.atomic.AtomicBoolean
  /** Idempotent: an index and the indexes its inserts derived share
    * their base claim. */
  def release(): Unit =
    if (released.compareAndSet(false, true)) CacheRef.release(this)
}

private[operators] object CacheRef {
  // canonicalized analyzed plan -> (a frame of it, the cache entry that
  // was counted, live claims)
  private val claims =
    scala.collection.mutable.HashMap[LogicalPlan, (DataFrame, AnyRef, Int)]()

  /** The cache entry `df` reads now, by identity; None once it is gone. */
  private def entryOf(df: DataFrame): Option[AnyRef] =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  /** Cache `df` and claim its entry. */
  def acquire(df: DataFrame): CacheRef = synchronized {
    df.cache()
    // an entry dropped outside the registry (clearCache, a plain
    // unpersist) takes its count with it: a build after that starts a
    // fresh count, which its own release can bring to zero
    claims.filterInPlace { case (_, (d, e, _)) => entryOf(d).exists(_ eq e) }
    val key = df.queryExecution.analyzed.canonicalized
    val entry = entryOf(df).get
    val n = claims.get(key).map(_._3).getOrElse(0)
    claims(key) = (df, entry, n + 1)
    new CacheRef(df, key, entry)
  }

  private def release(r: CacheRef): Unit = synchronized {
    claims.get(r.key) match {
      case Some((d, e, n)) if e eq r.entry =>
        if (n > 1) claims(r.key) = (d, e, n - 1)
        else {
          claims -= r.key
          if (entryOf(r.df).exists(_ eq e)) r.df.unpersist()
        }
      // the claimed entry is already gone; a rebuilt one is not ours
      case _ => ()
    }
  }
}

object DictIndex {
  /** Size-aware partition count: ~64 MB of estimated data per shuffle
    * partition (Catalyst plan statistics — parquet footer sizes or
    * in-memory relation stats), at least 1. Tiny demo tables get one
    * partition instead of a fixed 32 — a point lookup then costs one task,
    * not a 32-task fan-out — while a 100 TB source still partitions
    * proportionally to its size (capped only by a runaway guard). */
  def partitionsFor(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val plan = df.queryExecution.optimizedPlan
    // Catalyst's size estimate is trustworthy for scan-backed plans (file
    // sizes) but can be off by orders of magnitude for DERIVED plans —
    // joins and generators multiply estimates — and an estimate-driven
    // six-figure partition count swamps every later lookup in task
    // overhead. So: data-proportional cap for scans (a 100 TB source
    // fans out fully), parallelism-relative cap when a join/generate
    // makes the estimate unreliable.
    val derived = plan.collectFirst {
      case j: Join => j
      case g: Generate => g
    }.isDefined
    val cap =
      if (derived)
        math.max(1024, 32 * df.sparkSession.sparkContext.defaultParallelism)
      else 1 << 17
    ((plan.stats.sizeInBytes / (64L << 20)) + 1)
      .min(BigInt(cap)).max(BigInt(1)).toInt
  }

  /** Build = one shuffle by the key + cache; amortized over many lookups,
    * exactly the trade the reference's `transf_to_idx` makes
    * (fiat2/src/fiat2/IndexTransf.v:797-803). `partitions <= 0` (the
    * default) sizes the key hash from the data. */
  def build(df: DataFrame, keyCol: String, partitions: Int = -1): DictIndex = {
    val p = if (partitions > 0) partitions else partitionsFor(df)
    val keyed = CacheRef.acquire(df.repartition(p, col(keyCol)))
    new DictIndex(keyed.df, keyCol, p, List(keyed))
  }
}
