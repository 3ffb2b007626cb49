package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GraftQuery

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every module contributes GraftQuery entries (Spark plan + oracle SQL). */
  def allQueries: Seq[GraftQuery] =
    operators.Relational.queries ++
      operators.Indexes.queries ++
      operators.Scalars.queries ++
      operators.Collections.queries ++
      operators.Workloads.queries ++
      operators.TextAnalysis.queries ++
      operators.Search.queries ++
      operators.Temporal.queries ++
      operators.Stats.queries ++
      operators.Dedup.queries ++
      operators.Curation.queries ++
      operators.PipelineFull.queries ++
      operators.Pii.queries ++
      operators.Changelog.queries ++
      operators.Analytics.queries ++
      operators.Layout.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries ++
      sources.SourceSink.queries ++
      streaming.StreamAgg.queries ++
      streaming.LateData.queries ++
      streaming.StreamDedup.queries ++
      streaming.StreamUpsert.queries ++
      streaming.Sessionize.queries ++
      streaming.StreamScore.queries ++
      streaming.StreamCurate.queries ++
      functions.TypedAgg.queries ++
      functions.GraftFunctions.queries ++
      lang.LangQueries.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.flagship(spark)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** The queries `SPARK_GRAFT_ONLY=q_a,q_b` names (every query when it is
    * unset), for iterating on a subset locally. */
  def selected: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet) match {
      case Some(names) =>
        val unknown = names -- queries.keySet
        require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names not registered: " +
          unknown.mkString(", "))
        queries.filter(q => names(q._1))
      case None => queries
    }

  /** Release what queries persisted since `before` (a snapshot of
    * `getPersistentRDDs.keySet`), so later queries neither feel their
    * memory pressure nor reuse their caches. `clearCache` covers only the
    * SQL cache manager; localCheckpoint blocks (graph loops, IVM ticks) are
    * plain persisted RDDs. Only RDDs persisted since `before` go: a blanket
    * unpersist would destroy a lineage-truncated block a module holds
    * across queries, which cannot be recomputed. Index registrations go
    * too, so the rewrite rule steers no later query onto a dropped index. */
  def release(spark: SparkSession, before: collection.Set[Int]): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
      .values.foreach(_.unpersist(blocking = false))
    plans.KeyedIndexRule.clear()
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries → rows-only check. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
