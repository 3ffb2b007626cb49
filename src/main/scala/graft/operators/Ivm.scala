package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incrementally maintained aggregates — the reference's SumAgg/MinAgg
  * materialized views (fiat2/src/fiat2/SumAgg.v:150-155 `cons_to_add_head`,
  * fiat2/src/fiat2/MinAgg.v:150-161 `cons_to_min_head`): on insert, update the
  * aggregate in O(1) instead of re-scanning. Here the "inserts" are
  * micro-batches; each batch contributes a PARTIAL aggregate (map-side
  * combined, one tiny collect) that merges into driver-held state. Only
  * associative+commutative merges are allowed — the same restriction the
  * reference imposes via its AC/ACI fold classes
  * (fiat2/src/fiat2/TypeSystem.v:203-210).
  */
object Ivm {

  /** Running exact-decimal sum + count state. */
  final case class SumState(sum: java.math.BigDecimal, count: Long) {
    def merge(batchSum: java.math.BigDecimal, batchCount: Long): SumState =
      SumState(if (batchSum == null) sum else sum.add(batchSum),
        count + batchCount)
  }

  /** Fold micro-batches into a sum/count, never re-scanning a prior batch. */
  def incrementalSum(batches: Seq[DataFrame], valueCol: Column): SumState =
    batches.foldLeft(SumState(java.math.BigDecimal.ZERO, 0L)) { (st, b) =>
      val row = b.agg(
        sum(valueCol.cast("decimal(28,2)")).as("s"),
        count(lit(1)).as("c")).head()
      st.merge(row.getDecimal(0), row.getLong(1))
    }

  /** Fold micro-batches into a running min (assoc+comm+idempotent, so
    * re-delivered rows are harmless — fiat2's ACI class). */
  def incrementalMin(batches: Seq[DataFrame], valueCol: Column): Option[Double] =
    batches.foldLeft(Option.empty[Double]) { (st, b) =>
      val v: Option[Double] = Option(b.agg(min(valueCol.cast("double")))
        .head().get(0)).map(_.asInstanceOf[Double])
      (st.toSeq ++ v.toSeq).reduceOption((a: Double, b: Double) => math.min(a, b))
    }

  /** Incrementally maintained JOIN view — the delta-rule generalization of
    * the reference's aggregate views to binary operators: with batches
    * ΔA/ΔB arriving each tick,
    *   ΔV = (ΔA ⋈ (B ∪ ΔB)) ∪ (A ⋈ ΔB)
    * and V accumulates the deltas — the accumulated A⋈B is NEVER
    * recomputed. Deltas are batch-sized (broadcast side of each delta
    * join at scale); the accumulated sides grow but are only ever probed,
    * not re-joined to each other. Only each tick's DELTA is
    * checkpointed (cutting its join lineage); the accumulators and the
    * view are lazy unions of those materialized deltas — per-tick
    * storage is O(|delta|), not a re-copy of the whole view. Both
    * inputs may advance in the same tick (the ΔA⋈ΔB cross-delta term is
    * covered by ΔA joining B∪ΔB).
    */
  def incrementalJoin(batchesA: Seq[DataFrame], batchesB: Seq[DataFrame],
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(batchesA.nonEmpty && batchesA.length == batchesB.length,
      "one delta of A and one delta of B per tick (either may be empty)")
    var accA, accB, view = Option.empty[DataFrame]
    batchesA.zip(batchesB).foreach { case (dA, dB) =>
      val bNew = accB.map(_.union(dB)).getOrElse(dB)
      val delta = (accA match {
        case Some(a) => join(dA, bNew).union(join(a, dB))
        case None => join(dA, bNew)
      }).localCheckpoint()
      view = Some(view.map(_.union(delta)).getOrElse(delta))
      accA = Some(accA.map(_.union(dA)).getOrElse(dA))
      accB = Some(bNew)
    }
    view.get
  }

  /** GROUPED aggregate view under retraction — the reference's SumAgg
    * lifted to keyed groups AND deletes. Each tick's weighted delta
    * (`w` = +1 insert / −1 delete) contributes one key-cardinality-bounded
    * partial aggregate (SUM(w), SUM(w·x) per key — the map-side combine of
    * a 100 TB delta); partials accumulate as a lazy union and reading the
    * view is one consolidating groupBy that drops keys whose net count
    * reached zero. Per-tick work is O(|delta| + |keys(delta)|); raw
    * deltas are never re-scanned. The value column should be decimal-cast
    * by the caller: weighted decimal sums are exact and order-free, so
    * insert-then-delete cancels bit-exactly. */
  def incrementalGroupSumZ(batches: Seq[DataFrame], keyCols: Seq[String],
      valueCol: Column): DataFrame = {
    require(batches.nonEmpty, "at least one delta batch")
    val partials = batches.map(b =>
      b.groupBy(keyCols.map(col): _*)
        .agg(sum(col("w")).as("__n"),
          sum(col("w").cast("decimal(10,0)") * valueCol).as("__s"))
        .localCheckpoint())
    partials.reduce(_ union _)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("s"))
      .filter(col("n") =!= 0)
  }

  /** RETRACTION-capable join view — the delta rule of incrementalJoin
    * lifted to ℤ-weighted relations (Z-sets, after the published
    * differential-dataflow/DBSP model): every delta row carries a signed
    * weight column `w` (insert +1, delete −1), a joined row's weight is
    * the PRODUCT of its inputs' weights, and the view is the weighted
    * union of per-tick deltas
    *   ΔV = ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB
    * This is what makes deletes O(|delta|): a retraction is just an
    * arriving row with w = −1 whose products cancel every joined pair the
    * original insert ever produced — no tombstone scan, no view rebuild.
    * Consolidation (group by row value, sum w, drop zeros) is deliberately
    * left to the consumer: a downstream aggregate reads the weights
    * directly (SUM(w), SUM(w * x)) without materializing the consolidated
    * set — aggregates compose over Z-sets. Reference anchor: the insert
    * half IS fiat2's cons-to-head maintenance (SumAgg.v:150-155); the
    * reference has no delete, which is exactly what the weights add. */
  def incrementalJoinZ(batchesA: Seq[DataFrame], batchesB: Seq[DataFrame],
      joinOn: (DataFrame, DataFrame) => Column): DataFrame = {
    require(batchesA.nonEmpty && batchesA.length == batchesB.length,
      "one delta of A and one delta of B per tick (either may be empty)")
    def side(df: DataFrame, tag: String) =
      df.withColumnRenamed("w", s"__w$tag")
    def j(l: DataFrame, r: DataFrame) =
      l.join(r, joinOn(l, r))
        .withColumn("w", col("__wa") * col("__wb"))
        .drop("__wa", "__wb")
    var accA, accB, view = Option.empty[DataFrame]
    batchesA.zip(batchesB).foreach { case (dA0, dB0) =>
      val dA = side(dA0, "a"); val dB = side(dB0, "b")
      val bNew = accB.map(_.union(dB)).getOrElse(dB)
      val delta = (accA match {
        case Some(a) => j(dA, bNew).union(j(a, dB))
        case None => j(dA, bNew)
      }).localCheckpoint()
      view = Some(view.map(_.union(delta)).getOrElse(delta))
      accA = Some(accA.map(_.union(dA)).getOrElse(dA))
      accB = Some(bNew)
    }
    view.get
  }

  /** Split a table into deterministic micro-batches by a modulus — stands in
    * for the reference's CForeach-over-events arrival order
    * (fiat2/src/fiat2/Ex_Sum.v:30).
    *
    * The batches are served from ONE materialized snapshot partitioned by
    * batch id: the source is scanned exactly once (the cache fill), and each
    * batch filter prunes to its own cached partitions (min=max=batch stats)
    * — n batches never re-read the source, the property real arrival units
    * (files / stream offsets) have. The round-1 version re-filtered the raw
    * source per batch: n full scans to simulate n arrivals.
    */
  def microBatches(df: DataFrame, idCol: Column, n: Int): Seq[DataFrame] = {
    val bucketed = df.withColumn("__batch", pmod(idCol, lit(n)))
      .repartition(n, col("__batch")).cache()
    bucketed.count() // the single source scan
    (0 until n).map(i => bucketed.filter(col("__batch") === i).drop("__batch"))
  }
}
