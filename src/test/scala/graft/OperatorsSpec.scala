package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.plans.Graph
import graft.operators.{Dedup, DictIndex, Ivm}

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("BFS computes exact min-depths on a known graph") {
    // path 0-1-2-3 plus shortcut 0-2; node 9 unreachable
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (8L, 9L))
      .toDF("src", "dst")
    val got = Graph.bfs(Graph.symmetrize(edges), 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("minhash-LSH recall >= 0.8 vs exact jaccard pairs") {
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_dedup_minhash")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH+verify must not produce false positives")
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.8,
        s"recall ${lsh.size}/${exact.size}")
  }

  test("hot-shingle cap bounds pair blowup without losing near-dup pairs") {
    // 8 "hot" docs whose ONLY overlap is one shared shingle (aaa bbb ccc),
    // plus one genuine near-dup pair sharing most of its shingles.
    val hotDocs = (0 until 8).map(i =>
      (i.toLong, s"aaa bbb ccc x$i y$i z$i w$i v$i u$i t$i s$i"))
    val nearDup = Seq(
      (100L, "p q r s t u v w x y z aaa bbb ccc"),
      (101L, "p q r s t u v w x y z aaa bbb cccX"))
    val docs = (hotDocs ++ nearDup).toDF("doc_id", "text")
    val dsets = Dedup.shingleSets(docs).cache()
    // uncapped: the hot shingle alone connects all C(8,2)=28 hot-doc pairs
    val uncapped = Dedup.jaccardPairs(dsets, maxDocFreq = Int.MaxValue)
    assert(uncapped.count() >= 28 + 1)
    // capped at 4: the 10-doc hot group is dropped entirely, so no hot-doc
    // pair survives, but the near-dup pair (connected by its many non-hot
    // shingles) is still reported above threshold
    val capped = Dedup.jaccardPairs(dsets, maxDocFreq = 4)
      .filter($"jaccard" >= 0.5)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((100L, 101L)))
    assert(Dedup.jaccardPairs(dsets, maxDocFreq = 4).count() < 28)
    dsets.unpersist()
  }

  test("IVF ANN produces well-formed per-query rankings from probed cells") {
    // The synthetic embeddings are near-random (no cluster structure), so a
    // recall floor is not meaningful — assert the structural contract: every
    // query returns a non-empty, rank-contiguous, sim-descending top list.
    val rows = SparkEntry.queries("q_ann_ivf_topk")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to sorted.length).toSeq,
        s"ranks not contiguous for query $qid")
      assert(sorted.length <= 10)
      assert(sorted.map(_._3).toSeq.reverse === sorted.map(_._3).toSeq.sorted,
        s"sims not descending for query $qid")
      assert(!sorted.exists(_._2 == qid), "query must not match itself")
    }
  }

  test("PQ ANN rankings are well-formed and distance-ascending") {
    // Same structural contract as IVF (the synthetic embeddings carry no
    // cluster structure, so a recall floor is noise): contiguous ranks,
    // ascending approximate distances, no self-match.
    val rows = SparkEntry.queries("q_ann_pq_topk")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to sorted.length).toSeq,
        s"ranks not contiguous for query $qid")
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).toSeq.sorted,
        s"approx distances not ascending for query $qid")
      assert(!sorted.exists(_._2 == qid), "query must not match itself")
    }
  }

  test("incremental sum/min equal their full-scan counterparts") {
    val events = Tables.load(spark, TestSpark.sfDir, "events")
    val batches = Ivm.microBatches(events, $"event_id", 7)
    // arrival-unit contract: batches read the materialized snapshot, never
    // the source again (one scan total across all batches)
    // (the InMemoryRelation node textually embeds its one-time fill plan, so
    // only assert the scan itself is the cache, i.e. FileScan appears nowhere
    // above the InMemoryRelation boundary)
    val plan = batches(3).queryExecution.executedPlan.toString
    val aboveCache = plan.split("InMemoryRelation").head
    assert(aboveCache.contains("InMemoryTableScan"),
      s"batch must hit cache:\n$plan")
    assert(!aboveCache.contains("FileScan"), "batch must not rescan the source")
    val st = Ivm.incrementalSum(batches, $"value")
    val full = events.agg(
      sum($"value".cast("decimal(28,2)")), count(lit(1))).head()
    assert(st.sum === full.getDecimal(0))
    assert(st.count === full.getLong(1))
    val mn = Ivm.incrementalMin(batches, $"value")
    assert(mn.contains(
      events.agg(min($"value".cast("double"))).head().getDouble(0)))
  }

  test("dict index lookups equal direct filters") {
    val orders = Tables.load(spark, TestSpark.sfDir, "orders")
    val idx = DictIndex.build(orders, "o_custkey", partitions = 4)
    val viaIdx = idx.lookup(7L).agg(count(lit(1))).head().getLong(0)
    val direct = orders.filter($"o_custkey" === 7L).count()
    assert(viaIdx === direct)
    idx.unpersist()
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bigram-LM scoring matches hand-computed counts on a toy corpus") {
    // corpus bigram counts: "a b"=3, "b a"=1, "b c"=1; prefix counts:
    // a=3, b=2. Doc 1 [a b a b]: n_bg=3, sum_bg=3+1+3=7, sum_pre=3+2+3=8,
    // hapax={b a}→1. Doc 2 [a b c]: n_bg=2, sum_bg=3+1=4, sum_pre=3+2=5,
    // hapax={b c}→1. Doc 3 [x]: no bigrams → zeros.
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got === Array(
      (1L, 3L, 7L, 7.0 / 8, 1.0 / 3),
      (2L, 2L, 4L, 4.0 / 5, 1.0 / 2),
      (3L, 0L, 0L, 0.0, 0.0)))
  }
}
