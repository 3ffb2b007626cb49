package graft.tools

import org.apache.spark.sql.functions._

/** Dev harness: materialize a larger scale factor from `/root/testdata`'s
  * largest driver-generated SF by replicating fact tables `copies`× with
  * disjoint id ranges — the sf1 input for the scale-linearity bench run
  * (round-12 validation: measure, don't argue, the 10× story).
  *
  * Faithful to TPC-H scaling: `region`/`nation` are FIXED dimensions
  * (constant at every SF) and copy through unshifted; every fact table's
  * 64-bit id columns shift by `copy * 10^12` so keys stay unique and
  * referential integrity holds within each copy (joins never match across
  * copies — the same property a bigger generator run would have).
  * Content de-correlation, so corpus-shaped work scales linearly instead
  * of degenerating into cross-copy duplicate blowups:
  *  - `documents.text` salts EVERY token with a per-copy tag (a mere
  *    suffix left shingle sets ~identical across copies, so the near-dup
  *    families saw each doc gain ~copies cross-copy partners and the
  *    candidate pair spaces grew quadratically in copies — measured
  *    30-48x at 9 copies; per-token salting makes cross-copy shingle
  *    sets disjoint while preserving within-copy duplicate structure,
  *    document lengths, and token counts);
  *  - `embeddings.embedding` rotates circularly by `copy` positions
  *    (rotated random vectors are near-orthogonal, so ANN/semantic-dedup
  *    candidate structure scales like fresh data).
  *
  * `--zipf` (r14 directive 4): every uniform corpus leaves the 100 TB
  * killer unexercised — a power-law join/group key. With the flag, each
  * copy REMAPS a zipf head of its fact rows onto a few hot keys:
  * `lineitem.l_orderkey` (the salted-join / fact-fact join key) and
  * `orders.o_custkey` (the groupBy key) send 8%/4%/2%/1% of rows to the
  * copy's 4 smallest existing keys (successive halving = the s~1 zipf
  * head; ~5k rows on one orderkey where uniform has ~4). Remapped keys
  * stay WITHIN the copy's key range, so referential integrity holds and
  * the DuckDB oracle recomputes the same skewed truth from the same
  * files. The remap hash is the row's (copy-shifted) id columns —
  * deterministic across regenerations.
  *
  * `--docskew` (r16, r15 directive 4): the TEXT operators' own skew axis
  * — uniform corpora never make the hot-shingle frequency cap
  * (`Dedup.maxShingleDocFreq`) fire, leaving the 100 TB text-skew killer
  * unexercised. With the flag, `documents` gets (per copy, before the
  * per-copy token salting so cross-copy disjointness is preserved):
  *  - a fixed four-token boilerplate sentence appended to 50% of docs
  *    (hash-chosen) — its two interior 3-gram shingles land in half the
  *    copy's corpus, orders of magnitude past the cap;
  *  - 20% exact duplicates: every doc_id ≡ 4 (mod 5) takes the full text
  *    of its bucket head (doc_id - 4), AFTER boilerplate assignment, so
  *    duplicate pairs are bit-exact AND straddle the hot shingles — the
  *    configuration where an exactness-breaking cap deflates true
  *    duplicates below Jaccard 1.0 and the uncapped oracle catches it.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> <copies>
  *        [--zipf|--docskew]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, copiesS) = (args(0), args(1), args(2))
    val zipf = args.length > 3 && args(3) == "--zipf"
    val docskew = args.length > 3 && args(3) == "--docskew"
    val copies = copiesS.toInt
    // stride 10^12 with ≤81 copies tops out at 8.1×10^13 — five decimal
    // orders under int64 for any INDIVIDUAL id. SUMS of shifted ids grow
    // ~quadratically in copies and are exactly what the 81× corpus exists
    // to stress (r14 overflow audit: the harness's third growth point and
    // the empirical net under the oracle-sum bound sweep).
    require(copies >= 1 && copies <= 81, "copies in 1..81 (id stride headroom)")
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val stride = 1000000000000L // > every sf0.1 id range; 9x fits int64

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val shifts: Seq[(String, Seq[String])] = Seq(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    // --zipf: the 4 smallest base keys per skewed column become each
    // copy's hot head (computed once from the SOURCE, shifted per copy)
    val hotHeads: Map[(String, String), Seq[Long]] =
      if (!zipf) Map.empty
      else Seq(("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"))
        .map { case (t, c, refT, refC) =>
          (t, c) -> spark.read.parquet(s"$srcDir/$refT.parquet")
            .select(col(refC).cast("long")).distinct()
            .orderBy(col(refC)).limit(4).collect().map(_.getLong(0)).toSeq
        }.toMap
    // zipf head: 8%/4%/2%/1% of rows onto hot keys 1..4 (halving mass)
    def zipfRemap(d: org.apache.spark.sql.DataFrame, c: String,
        heads: Seq[Long], shift: Long, hashCols: Seq[String]) = {
      val h = pmod(xxhash64(hashCols.map(col): _*), lit(1000L))
      d.withColumn(c,
        when(h < 80, lit(heads(0) + shift))
          .when(h < 120, lit(heads(1) + shift))
          .when(h < 140, lit(heads(2) + shift))
          .when(h < 150, lit(heads(3) + shift))
          .otherwise(col(c)))
    }
    for ((t, cols) <- shifts) {
      val raw = spark.read.parquet(s"$srcDir/$t.parquet")
      val df = if (t == "documents" && docskew) {
        // boilerplate first (so duplicates copy their template's FINAL
        // text), then exact duplication by bucket-head join
        val bp = raw.withColumn("text",
          when(pmod(xxhash64(col("doc_id"), lit("bp")), lit(2)) === 0,
            concat(col("text"), lit(" standard legal footer applies")))
            .otherwise(col("text")))
        val heads = bp.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 4).as("doc_id"),
            col("text").as("head_text"))
        bp.join(heads, Seq("doc_id"), "left")
          .withColumn("text",
            when(pmod(col("doc_id"), lit(5)) === 4 &&
              col("head_text").isNotNull, col("head_text"))
              .otherwise(col("text")))
          .drop("head_text")
          .withColumn("n_chars", length(col("text")).cast("long"))
      } else raw
      val out = (0 until copies).map { k =>
        var d = cols.foldLeft(df)((acc, c) =>
          acc.withColumn(c, col(c) + lit(k.toLong * stride)))
        for (((ht, hc), heads) <- hotHeads if ht == t)
          d = zipfRemap(d, hc, heads, k.toLong * stride, cols)
        if (t == "documents" && k > 0) {
          d = d.withColumn("text",
              regexp_replace(col("text"), "(\\S+)", s"$$1zq$k"))
            .withColumn("n_chars", length(col("text")).cast("long"))
        }
        if (t == "embeddings" && k > 0) {
          // rotate by k MOD dim: a plain k-rotation goes negative-length
          // once copies exceed the embedding dimension (dim 64 broke at
          // the 81x corpus). Copies k and k+dim then share a rotation —
          // acceptable: the >dim-copy corpora exist for the overflow /
          // key-sum gates, none of which read embeddings.
          val n = size(col("embedding"))
          val r = pmod(lit(k), n)
          d = d.withColumn("embedding", concat(
            slice(col("embedding"), r + 1, n - r),
            slice(col("embedding"), lit(1), r)))
        }
        d
      }.reduce(_ unionByName _)
      // keep file counts proportionate (documents stays few-partition like
      // the generator's layout; engines repartition where they need to)
      val parts = if (t == "documents" || t == "embeddings") copies
        else 4 * copies
      out.coalesce(parts)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t -> ${outDir}/$t.parquet")
    }
    spark.stop()
  }
}
