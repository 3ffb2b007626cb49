package graft.operators

import org.apache.spark.sql.DataFrame

/** Composed indexes — the reference's `compo_idx`
  * (fiat2/src/fiat2/IndexTransf.v:20-50): SEVERAL index structures
  * maintained together over one table, represented as a record
  * `{tag_i: idx_i}` whose components are all built from the same table
  * (`to_compo_idx`) and all kept consistent by every insert
  * (`compo_idx_wf` demands each component's well-formedness
  * simultaneously).
  *
  * Spark analog: a map of attribute → `DictIndex` (key-hash-partitioned
  * cached DataFrame). Build cost is ONE source scan total: the source is
  * cached and materialized first, then each component shuffles from that
  * cache — n components never rescan the source, which is the property
  * that matters when the source is a 100 TB parquet table. After the
  * components are materialized the source cache is dropped.
  */
final class CompoIndex private (val components: Map[String, DictIndex]) {

  /** The component keyed on `attr` (the record-field access of the
    * reference's composed record). */
  def component(attr: String): DictIndex = components(attr)

  def lookup(attr: String, key: Any): DataFrame = component(attr).lookup(key)

  /** Insert rows into the composed index: EVERY component is updated
    * (compo_idx_wf — one delta, all components stay consistent) by
    * `DictIndex.insert`; no base cache is recomputed. */
  def insert(delta: DataFrame): CompoIndex =
    new CompoIndex(components.map { case (a, d) => a -> d.insert(delta) })

  def unpersist(): Unit = components.values.foreach(_.unpersist())
}

object CompoIndex {
  /** `to_compo_idx` (IndexTransf.v:36-37): build every component from one
    * pass over the table. */
  def build(df: DataFrame, attrs: Seq[String],
      partitions: Int = -1): CompoIndex = {
    require(attrs.nonEmpty && attrs.distinct == attrs,
      s"component attrs must be non-empty and distinct: $attrs")
    val srcRef = CacheRef.acquire(df)
    val src = srcRef.df
    src.count() // the single source scan
    val p = if (partitions > 0) partitions else DictIndex.partitionsFor(src)
    val components = attrs.map { a =>
      val d = DictIndex.build(src, a, p)
      d.keyed.count() // materialize the component from the source cache
      a -> d
    }.toMap
    srcRef.release()
    new CompoIndex(components)
  }
}
