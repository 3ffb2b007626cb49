package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The hot-shingle frequency cap must not change ANSWERS (r16, r15
  * directive 4): `jaccardPairs` drops capped postings from candidate
  * generation but must still report the EXACT (uncapped) Jaccard for
  * every pair it emits — recovered via the hot-membership join. The
  * corpus here is built so the cap FIRES (a boilerplate shingle in most
  * docs) and contains a bit-exact duplicate pair straddling it: the
  * configuration where a value-deflating cap reports (n-2)/(n+2) < 1.0
  * for a true duplicate.
  */
class DedupCapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // every doc carries the boilerplate trigram "aaa bbb ccc"; docs 1/2 are
  // bit-exact duplicates; docs 3..9 unique tails; cap forced low (4)
  private val docs = Seq(
    1L -> "aaa bbb ccc alpha beta gamma delta epsilon",
    2L -> "aaa bbb ccc alpha beta gamma delta epsilon",
    3L -> "aaa bbb ccc k3a k3b k3c k3d k3e",
    4L -> "aaa bbb ccc k4a k4b k4c k4d k4e",
    5L -> "aaa bbb ccc k5a k5b k5c k5d k5e",
    6L -> "aaa bbb ccc k6a k6b k6c k6d k6e",
    7L -> "aaa bbb ccc k7a k7b k7c k7d k7e",
    8L -> "aaa bbb ccc k8a k8b k8c k8d k8e",
    9L -> "aaa bbb ccc k9a k9b k9c k9d k9e")

  private def uncached = Dedup.shingleSets(
    docs.toDF("doc_id", "text").repartition(4))

  // jaccardPairs requires a cached input; materialized here so no test's
  // persisted-RDD bookkeeping sees the fixture's own cache appear
  private lazy val dsets = {
    val d = uncached.cache()
    d.count()
    d
  }

  private def cachedRelations(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cacheBuilder
    }.toSet

  test("jaccardPairs refuses an uncached input") {
    intercept[IllegalArgumentException](Dedup.jaccardPairs(uncached))
  }

  test("the cap fires on this corpus (df of the boilerplate shingle > cap)") {
    val maxDf = dsets.select(explode($"ss").as("s"))
      .groupBy($"s").agg(count(lit(1)).as("df"))
      .agg(max($"df")).head().getLong(0)
    assert(maxDf > 4, s"corpus must exceed the test cap of 4, max df=$maxDf")
  }

  test("capped jaccardPairs reports the exact uncapped value for every pair") {
    val got = Dedup.jaccardPairs(dsets, maxDocFreq = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // uncapped truth by brute-force set intersection over all pairs
    val sets = dsets.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val truth = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size if inter > 0
    } yield (a, b) ->
      inter.toDouble / (sets(a).size + sets(b).size - inter)).toMap
    // the duplicate pair must be reported at EXACTLY 1.0 — the value a
    // correction-less cap deflates
    assert(got.get((1L, 2L)).contains(1.0),
      s"duplicate pair (1,2) must report jaccard 1.0, got ${got.get((1L, 2L))}")
    // every reported pair matches the uncapped truth bit-for-bit
    got.foreach { case (p, j) =>
      assert(truth.get(p).exists(t => math.abs(t - j) < 1e-12),
        s"pair $p reported $j, uncapped truth ${truth.get(p)}")
    }
    // and nothing above the near-dup threshold is missing: candidates
    // missed by the cap (pairs sharing ONLY capped shingles) must all sit
    // below theta on this corpus — the documented boundary
    truth.filter(_._2 >= 0.5).keys.foreach { p =>
      assert(got.contains(p), s"pair $p (truth >= 0.5) missing from capped run")
    }
  }

  test("no hot shingles -> the streaming plan, with zero cache subtrees") {
    // the adaptive guard's other half (r16): on a corpus where the cap
    // cannot fire, jaccardPairs must take the original single-pipeline
    // plan — paying the recovery path's materializations anyway measured
    // 2-3x on the 27x jaccard family (uniform corpora have max df 25 vs
    // cap 128). A cached relation other than the input's own means the
    // recovery branch leaked into the cold case.
    // (the hot path materializes via localCheckpoint, which never enters
    // the CacheManager — so no session-wide clearCache is needed here,
    // and other suites' cached fixtures survive parallel execution)
    val input = cachedRelations(dsets) // the fixture's cache predates `before`
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.jaccardPairs(dsets) // default cap 128 ≫ max df 9
    assert(cachedRelations(out) == input,
      "cold-corpus jaccardPairs must not cache recovery intermediates")
    // values still exact vs brute force (the cold branch is the SAME
    // aggregation, minus the provably-empty recovery subtrees)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sets = dsets.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got.get((1L, 2L)).contains(1.0))
    got.foreach { case ((a, b), j) =>
      val t = (sets(a) & sets(b)).size.toDouble /
        (sets(a).size + sets(b).size - (sets(a) & sets(b)).size)
      assert(math.abs(t - j) < 1e-12, s"pair ($a,$b) reported $j, truth $t")
    }
    // and the probe itself must not have left a persisted RDD behind
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      "cold-path jaccardPairs persisted an RDD")
  }

  test("sizes-join hint engages only past the broadcast threshold") {
    // r17 verdict directive 5: the hint must never replace an automatic
    // broadcast of the skinny sizes side (broadcasting it shuffles
    // NOTHING; any shuffled join moves the whole pair list). The gate is
    // the build side's own estimate vs autoBroadcastJoinThreshold — so
    // with the threshold forced below the estimate, the hint engages and
    // the sizes joins become ShuffledHashJoin; at the default threshold
    // they stay broadcast (pinned by the small-scale test below).
    val docs = Seq(
      1L -> "aaa bbb ccc ddd eee",
      2L -> "aaa bbb ccc ddd eee",
      3L -> "fff ggg hhh iii jjj").toDF("doc_id", "text")
    val dsets = graft.operators.Dedup.shingleSets(docs).cache()
    dsets.count()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val plan = graft.operators.Dedup.jaccardPairs(dsets)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"with broadcast disabled the sizes joins must be hinted " +
          s"shuffle_hash (sort-merge would sort the pair list):\n$plan")
    } finally {
      spark.conf.set(key, prev)
      dsets.unpersist(blocking = false)
    }
  }

  test("below the widen threshold jaccardPairs keeps the un-repartitioned plan") {
    val docs = Seq(
      1L -> "aaa bbb ccc ddd eee",
      2L -> "aaa bbb ccc ddd eee",
      3L -> "fff ggg hhh iii jjj").toDF("doc_id", "text")
    val dsets = graft.operators.Dedup.shingleSets(docs).cache()
    dsets.count()
    try {
      val plan = graft.operators.Dedup.jaccardPairs(dsets)
        .queryExecution.executedPlan.toString
      // tiny input derives below defaultParallelism: no explicit
      // repartition exchange (REPARTITION_BY_NUM origin) and no forced
      // hash-join hint may appear — the pre-r17 plan, byte-identical
      assert(!plan.contains("REPARTITION_BY_NUM"),
        s"small-scale jaccard plan gained a repartition:\n$plan")
      assert(!plan.contains("ShuffledHashJoin"),
        s"small-scale jaccard plan gained a forced hash join:\n$plan")
    } finally dsets.unpersist(blocking = false)
  }
}
