package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Salting
import org.apache.spark.sql.functions._

/** Every registered query runs end-to-end at sf0.001 without throwing, and
  * every oracle-backed query returns rows (the driver's smoke contract).
  */
class SmokeAllQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val df = q.run(spark, TestSpark.sfDir)
      // `/query/{name}` renders this frame; its one difference from
      // `toJSON` is a struct-keyed map (RenderSpec)
      assert(!RenderSpec.structKeyedMap(df.schema), df.schema.treeString)
      val n = df.count()
      // near-dup pair counts are data-dependent and may be 0 at the
      // smallest SF; everything else must produce rows
      val mayBeEmpty = Set("q_dedup_ngram_jaccard", "q_ann_lsh_pairs")
      if (q.oracle.isDefined && !mayBeEmpty(q.name))
        assert(n > 0, s"${q.name}: oracle query returned 0 rows")
    }
  }

  test("salted join equals plain join on skewed data") {
    val rnd = new scala.util.Random(3)
    val skewed = Seq.fill(5000)(
      (if (rnd.nextInt(10) < 8) 1L else rnd.nextInt(50).toLong,
        rnd.nextInt(1000).toLong)).toDF("k", "p")
    val dim = (0L until 50L).map(k => (k, s"name_$k")).toDF("k", "name")
    val plain = skewed.join(dim, skewed("k") === dim("k"))
      .agg(count(lit(1)), sum(skewed("p"))).head()
    val salted = Salting.saltedJoin(skewed, dim, "k", salts = 4)
      .agg(count(lit(1)), sum(skewed("p"))).head()
    assert(plain === salted)
  }
}
