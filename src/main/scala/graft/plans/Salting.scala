package graft.plans

import org.apache.spark.sql.DataFrame
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
    // Strategy and exchange width are the planner's and AQE's, as for any
    // join (e.g. a tiny dimension side is broadcast).
    // Deterministic spread: hash of the whole row modulo salts — avoids a
    // rand() (non-reproducible) and still distributes a hot key's rows.
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(skewed.columns.map(col): _*), lit(salts)))
    val replicated = other.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    salted.join(replicated,
      salted(key) === replicated(key) && salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }
}
