package graft.plans

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** The reference's signature rewrite — `eq_filter_to_lookup`
  * (fiat2/src/fiat2/DictIndexImpl.v:374-389, wired by
  * `IndexTransf.v:797-803`) — at the CATALYST level: once an index is
  * registered for (parquet relation, attribute), any PLAIN
  * `filter(tbl, attr === k)` in any DataFrame — no API change, no AST —
  * is rewritten by an optimizer `Rule[LogicalPlan]` to read the keyed
  * in-memory index instead of scanning the files. The index is the same
  * rows hash-partitioned by the attribute and cached, so the point
  * lookup prunes to the partitions/batches whose min/max admit the key
  * (InMemoryTableScan batch stats) instead of re-reading parquet.
  *
  * The Lang layer already does this rewrite on fiat2 ASTs
  * (`lang/IndexTransf`); this rule extends the behavior to raw
  * DataFrame/SQL users — the engine's equivalent of the reference
  * applying `transf_to_idx` to a whole program.
  *
  * Correctness contract: `register` builds the index FROM the relation it
  * indexes, so the rewrite substitutes an identical row set; the filter
  * itself is re-applied on top (only the scan source changes). A
  * snapshot caveat applies exactly as in the reference: the index
  * reflects the relation at registration time.
  *
  * Wiring: `register` installs the rule via
  * `spark.experimental.extraOptimizations` (idempotent by class), so a
  * session built anywhere — a graft main, a harness, an embedder — gets
  * it on first use.
  */
object KeyedIndexRule {

  /** (sorted root paths, attr) → (file-listing signature at registration,
    * optimized logical plan of the cached index). The signature guards the
    * snapshot: if the files under the root change after register(), the
    * entry self-invalidates and the filter falls through to the scan
    * instead of silently serving stale rows. */
  private val indexes =
    new ConcurrentHashMap[(String, String), (String, LogicalPlan)]()

  private def pathsKey(rel: HadoopFsRelation): String =
    rel.location.rootPaths.map(_.toString).sorted.mkString(",")

  /** Signature of the relation's CURRENT file listing: sorted file names +
    * total bytes. Parquet rewrites produce new file names (part-UUIDs), so
    * any overwrite/append under the same root changes the signature. The
    * listing is already cached by the FileIndex — no extra FS round trip
    * on the hot path. */
  private def fileSignature(rel: HadoopFsRelation): String =
    rel.location.inputFiles.sorted.mkString(",") +
      "#" + rel.location.sizeInBytes

  private def relationOf(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h
    }

  /** Build + cache the keyed index for `source`'s parquet relation and
    * register it for automatic use. Returns the index DataFrame. */
  def register(spark: SparkSession, source: DataFrame, attr: String): DataFrame = {
    val rel = relationOf(source).getOrElse(
      throw new IllegalArgumentException(
        "source must scan a single file relation"))
    val index = source
      .repartition(spark.sparkContext.defaultParallelism, col(attr))
      .sortWithinPartitions(attr)
      .cache()
    index.count() // materialize before registration — never mid-query
    indexes.put((pathsKey(rel), attr),
      (fileSignature(rel), index.queryExecution.optimizedPlan))
    install(spark)
    index
  }

  /** Drop all registrations (tests / end of a session's workload). */
  def clear(): Unit = indexes.clear()

  private def install(spark: SparkSession): Unit = {
    val have = spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[EqFilterToIndexLookup])
    if (!have) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new EqFilterToIndexLookup
    }
  }

  private[plans] def lookup(rel: HadoopFsRelation,
      attr: String): Option[LogicalPlan] = {
    val key = (pathsKey(rel), attr)
    Option(indexes.get(key)).flatMap { case (sig, plan) =>
      if (sig == fileSignature(rel)) Some(plan)
      else { // files changed since registration: drop the stale entry
        indexes.remove(key)
        None
      }
    }
  }
}

/** `Filter(…, attr = literal, …, scan)` → `Filter(…, keyed index)`. */
class EqFilterToIndexLookup extends Rule[LogicalPlan] {

  private def eqAttrs(cond: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.And
    cond match {
      case And(l, r) => eqAttrs(l) ++ eqAttrs(r)
      case EqualTo(a: AttributeReference, _: Literal) => Seq(a.name)
      case EqualTo(_: Literal, a: AttributeReference) => Seq(a.name)
      case _ => Seq.empty
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        LogicalRelation(rel: HadoopFsRelation, output, _, _, _)) =>
      val hits = eqAttrs(cond)
        .flatMap(a => KeyedIndexRule.lookup(rel, a).map(a -> _))
      hits.headOption match {
        case Some((_, indexPlan)) if indexPlan.output.map(_.name).toSet ==
            output.map(_.name).toSet =>
          // restore the original attribute ids on top of the index subtree
          // so the filter condition (and everything above) resolves
          // unchanged
          val byName = indexPlan.output.map(a => a.name -> a).toMap
          val restored: Seq[NamedExpression] = output.map { o =>
            Alias(byName(o.name), o.name)(exprId = o.exprId)
          }
          Filter(cond, Project(restored, indexPlan))
        case _ => f
      }
  }
}
