package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for equi-joins: when a handful of hot keys dominate, a
  * plain shuffle join sends each hot key to ONE reducer. Salting splits every
  * hot key's rows across `salts` reducers and replicates the other side per
  * salt — the classic remedy when AQE's skew-join splitting can't apply
  * (e.g. the skewed side feeds an aggregation). Result is row-identical to
  * the plain join.
  */
object Salting {

  /** Join `skewed` with `other` on `key`, spreading each key over `salts`
    * reducers. `other` is replicated `salts`× (keep it the smaller side).
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
      salts: Int): DataFrame = {
    // Scale-adaptive join width (guide §2.2/§3): both sides sort (or
    // hash) per partition, and the replicated side carries salts x its
    // input — at a fixed core-count partitioning the per-partition sort
    // can outgrow execution memory once the corpus does. Derive the width
    // from both legs' estimator bytes (parquet scan stats are file sizes,
    // which scale with the corpus); the defaultParallelism clamp keeps
    // small-scale plans unchanged. Repartitioning BOTH sides by
    // (key, __salt) to the same width means the join reuses these
    // exchanges — same shuffle count as the planner's own, chosen width.
    val s = skewed.sparkSession
    // Widen only past AdaptiveParts' onset: below it the un-repartitioned
    // plan keeps its small-scale choices (e.g. broadcasting a tiny
    // dimension side). Neither the spill nor a gain from widening is
    // measured in a committed artifact (see AdaptiveParts).
    val widenTo = graft.core.AdaptiveParts.widthPastOnset(s,
      graft.core.AdaptiveParts.planBytes(skewed) +
        graft.core.AdaptiveParts.planBytes(other) * salts)
    def widened(df: DataFrame): DataFrame =
      widenTo.fold(df)(n => df.repartition(n, col(key), col("__salt")))
    // Deterministic spread: hash of the whole row modulo salts — avoids a
    // rand() (non-reproducible) and still distributes a hot key's rows.
    val salted = widened(skewed.withColumn("__salt",
      pmod(xxhash64(skewed.columns.map(col): _*), lit(salts))))
    val replicated = widened(other.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L)))))
    salted.join(replicated,
      salted(key) === replicated(key) && salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }
}
