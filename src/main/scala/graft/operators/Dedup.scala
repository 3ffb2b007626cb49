package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{GraftQuery, Tables}

/** Deduplication for training-data pipelines: exact (hash group-by), n-gram
  * Jaccard (shingle join), MinHash+LSH (shingle → minhash → band → bucket
  * join), and SimHash (bit-vote fingerprint + banded join).
  *
  * All near-dup strategies share one shape: a bucketed CANDIDATE generator
  * (shingle groups / minhash bands / simhash chunks — never the n² pair
  * space) followed by exact-Jaccard verification of the candidates. Because
  * the verification step recomputes the true Jaccard, every strategy's output
  * is the exact near-dup pair set, which the DuckDB oracle reproduces — the
  * banding parameters are sized so recall on this corpus is total (planted
  * near-duplicates sit at Jaccard ≥ 0.8, far above the 0.5 threshold).
  *
  * Scale notes: signature/fingerprint construction is MAP-SIDE ONLY (a
  * projection over the per-doc token/shingle array — no explode, no groupBy);
  * the only shuffles are the bucket joins on band keys and the candidate
  * verification joins, all of which move candidate-sized data, not
  * corpus×perms. Every exchange runs at the planner's width (the session's
  * shuffle partitioning, as AQE leaves it).
  * Hot shingles are frequency-capped: a shingle appearing in
  * more than `maxShingleDocFreq` docs is dropped from candidate generation
  * (it would emit O(F²) pairs while only connecting documents whose overlap
  * is a vanishing fraction of their shingle sets — any true near-dup pair at
  * θ ≥ 0.5 shares far more shingles than just the hot ones).
  */
object Dedup {

  import graft.core.Text.toks

  /** Exact n-gram-Jaccard near-dup pairs at θ=0.5 — the ground truth every
    * dedup strategy below verifies against, and the shared DuckDB oracle. */
  private val exactJaccardSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM w, unnest(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
      |          FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT a, b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
      |ORDER BY a, b""".stripMargin

  /** Distinct word-3-gram shingle SET per doc: (doc_id, ss: array<string>).
    * This compact form (one row per doc) is what gets cached — several
    * downstream subtrees consume it, and caching the exploded posting list
    * instead made AQE's concurrently-submitted stages serialize on the cache
    * fill (observed 3 parallel 9s jobs for a 2s computation).
    */
  private[graft] def shingleSets(docs: DataFrame): DataFrame = {
    // Materialize the token array as a column FIRST: referencing the split()
    // expression inside the trigram lambda re-evaluates it per element access
    // (no common-subexpression elimination inside higher-order functions) —
    // observed 5× slowdown of the shingle pass.
    val t = col("tk")
    val idx = when(size(t) >= 3, sequence(lit(0), size(t) - 3))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), array_distinct(
        transform(idx, i => concat_ws(" ", get(t, i), get(t, i + 1), get(t, i + 2))))
        .as("ss"))
  }

  /** Load + repartition (documents arrives as ONE parquet partition, so any
    * per-doc work would run single-threaded) + cache the per-doc shingle
    * sets, forced ONCE before fan-out: downstream subtrees consume it from
    * multiple sides of joins, and without the barrier AQE submits them
    * concurrently — each recomputing the unmaterialized cache redundantly
    * (observed 3×8.7s single-task stages for a ~2s computation). */
  private[operators] def cachedShingleSets(s: SparkSession, dir: String): DataFrame = {
    val dsets = shingleSets(Tables.load(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)).cache()
    dsets.count()
    dsets
  }

  /** Hot-shingle document-frequency cap (see class doc). */
  val maxShingleDocFreq = 128

  /** Shingle document-frequency table (s, df) over a corpus — the
    * doc-skew probe's measurement (`tools/DocSkewProbe`): one explode +
    * one groupBy, nothing pair-shaped. */
  def shingleFreqs(s: SparkSession, dir: String): DataFrame =
    shingleSets(Tables.load(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism))
      .select(explode(col("ss")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))

  /** Exact Jaccard over pairs (a < b) sharing ≥1 non-hot shingle. Pairs are
    * generated WITHIN each shingle's doc-id group (one groupBy shuffle, pairs
    * emitted map-side after it) instead of a self-join — the self-join
    * shuffles the posting list twice and was ~4× slower. Counting shared
    * shingles per pair (cheap long rows) beats re-intersecting the full
    * shingle arrays per candidate by ~3× at sf0.1.
    *
    * The frequency cap drops hot shingle groups BEFORE pair emission, so the
    * pair space is bounded by F²/2 per shingle. Reported values stay EXACT
    * even when the cap fires (r16, the doc-skew gate's load-bearing
    * property): candidate pairs recover their capped-shingle intersection
    * through a candidate-keyed join against the hot-posting membership
    * table — linear in (candidates × hot-shingles-per-doc), never the F²/2
    * pair space the cap exists to avoid, and never moving shingle ARRAYS
    * per pair (an r16 attempt that re-intersected full sets per candidate
    * moved TBs at 81x — the pre-threshold pair space is tens of millions
    * of rows; everything per-pair must stay skinny longs). The posting
    * table and the per-pair cold counts are each CACHED and materialized
    * once before fan-out: their consumers (cold pairs, hot membership,
    * the recovery join) otherwise re-derive the posting shuffle per
    * subtree — measured 6 recomputations and 3.2x wall at 81x when left
    * to exchange reuse.
    *
    * The recovery plan is DATA-ADAPTIVE (r16): one skinny per-shingle
    * document-frequency aggregate (no arrays, no pairs) decides up front
    * whether ANY shingle exceeds the cap. On a corpus with no hot
    * shingles — every uniform corpus; measured max df 25 vs cap 128 at
    * sf0.1 — the recovery subtrees are provably empty, yet paying for
    * them anyway (posting + pair-count materializations, two extra
    * passes over the tens-of-millions-row pair space) measured 2-3x on
    * the 27x jaccard family. So: no hot shingles → the original single
    * streaming pipeline (zero caches, zero recovery joins); any hot
    * shingle → the exactness-preserving recovery plan below. The probe
    * costs one (s)-keyed count shuffle — ~2s at 27x vs the ~50-100s it
    * avoids — and on a 100 TB corpus is the same frequency statistic a
    * production dedup pass computes anyway before choosing its cap.
    * Without the recovery, a boilerplate shingle
    * shared corpus-wide would deflate every true duplicate to
    * (n-2)/(n+2) < 1.0 and the uncapped oracle would catch it. The only
    * pairs the cap can MISS are those sharing exclusively capped
    * shingles; at θ ≥ 0.5 that needs capped shingles alone to make up
    * ≥ 1/3 of the pair's union — docs that are mostly boilerplate, which
    * a quality gate removes and the doc-skew corpus deliberately does
    * not contain.
    */
  private[graft] def jaccardPairs(dsets: DataFrame,
      maxDocFreq: Int = maxShingleDocFreq): DataFrame = {
    require(dsets.storageLevel != StorageLevel.NONE,
      "jaccardPairs needs a cached dsets: its eager hot-shingle probe and " +
        "the lazy pair plan must read the same data")
    val sh = dsets.select(col("doc_id"), explode(col("ss")).as("s"))
    val sizes = dsets.select(col("doc_id"), size(col("ss")).as("n"))
    val ds = col("ds")
    val combos = flatten(transform(ds, (x, i) =>
      transform(slice(ds, i + 2, size(ds)),
        y => struct(x.as("a"), y.as("b")))))
    // the adaptive probe: does ANY shingle exceed the cap? One skinny
    // (s)-keyed count — no arrays, no pairs (see class doc). NB the probe
    // runs EAGERLY here while the returned frame is lazy: callers must
    // pass a cached dsets (checked on entry) so the probe and the executed
    // plan see the same data — an uncached non-deterministic input could
    // cross the cap between probe and execution and silently deflate
    // Jaccard values. Every caller caches dsets first (cachedShingleSets,
    // or an explicit cache() + count()).
    val anyHot = !sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).isEmpty
    // The sizes joins hash-build the skinny (doc_id, n) side and STREAM
    // the pair list (the r16 gate-join convention). Strategy choice (r17
    // verdict directive 5; guide §3.1 "pick the strategy deliberately"):
    // while the build side FITS a broadcast, broadcasting it shuffles
    // nothing at all — any shuffled join moves the whole candidate-pair
    // list — so the shuffle_hash hint must not engage there. The planner
    // cannot make this call itself past sf0.1: its projection estimate
    // for `sizes` scales the CACHED ARRAY bytes of dsets into the skinny
    // (doc_id, n) rows (~460 MB claimed at 81x where the truth is ~12
    // bytes/row), so it stops auto-broadcasting exactly where the
    // broadcast matters most. Every caller seals/caches
    // dsets first, so the EXACT row count is a cheap cached scan; 48
    // bytes/row conservatively covers the broadcast hash-relation
    // overhead. Past the threshold (a genuinely large doc population)
    // the build side hash-builds per partition instead — never a
    // sort-merge, which would sort the corpus-linear pair list.
    val bcRaw = dsets.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val bcThreshold =
      if (bcRaw.trim.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(bcRaw)
    val sizesBytes = BigInt(dsets.count()) * 48
    val sizesFitBroadcast = bcThreshold >= 0 && sizesBytes <= BigInt(bcThreshold)
    def sized(df: DataFrame): DataFrame =
      if (sizesFitBroadcast) df.hint("broadcast") else df.hint("shuffle_hash")
    // branch visibility (r17, r16 directive 7): the adaptive choice is
    // load-bearing for both perf (uniform corpora must skip recovery) and
    // exactness (capped corpora must take it) — surface which path ran so
    // the ritual's scale legs can assert the branch, not infer it
    System.err.println(s"[graft-dedup-cap] maxDf=$maxDocFreq " +
      s"path=${if (anyHot) "recovery" else "streaming"} " +
      s"hint=${if (sizesFitBroadcast) "broadcast" else "shuffle_hash"}")
    val inter = if (!anyHot) {
      // no hot shingles: the single streaming pipeline — nothing is
      // capped, so no recovery subtrees and nothing to materialize
      sh.groupBy(col("s"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(explode(combos).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("inter"))
    } else {
      // ONE posting pass, shared by the cold-pair and hot-membership
      // consumers. Eager localCheckpoint, not cache() (r17): same
      // materialize-once effect (exchange reuse does NOT dedupe these
      // subtrees, see class doc), but lifetime is plan-tied via the
      // ContextCleaner instead of entering the CacheManager — a cached
      // fragment here was being substituted into UNRELATED later queries'
      // plans (and forced test suites to clearCache() session-wide).
      val posting = sh.groupBy(col("s"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .localCheckpoint(true)
      // per-pair count of shared NON-capped shingles; consumed by both the
      // hot-recovery join and the final assembly, so materialized once
      val interCold = posting
        .filter(size(ds) <= maxDocFreq)
        .select(explode(combos).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("ic"))
        .localCheckpoint(true)
      // capped-shingle membership, (s, doc) — LINEAR in corpus size
      val hotMem = posting.filter(size(ds) > maxDocFreq)
        .select(col("s"), explode(ds).as("d"))
      // exact recovery: how many CAPPED shingles does each CANDIDATE pair
      // share? Keyed by the candidate's doc ids, never by the hot shingle —
      // the pair space stays candidate-sized, the rows stay skinny.
      val hotCnt = interCold.select(col("a"), col("b"))
        .join(hotMem.select(col("d").as("a"), col("s")), "a")
        .join(hotMem.select(col("d").as("b"), col("s")), Seq("b", "s"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("hc"))
      interCold.join(hotCnt, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (col("ic") + coalesce(col("hc"), lit(0L))).as("inter"))
    }
    inter
      .join(sized(sizes.select(col("doc_id").as("a"), col("n").as("na"))), "a")
      .join(sized(sizes.select(col("doc_id").as("b"), col("n").as("nb"))), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
  }

  /** Exact Jaccard for an explicit (small) candidate-pair set: join each side
    * to the per-doc shingle set, intersect in-memory — never the full pair
    * space. This is the shared verification step; only candidate-sized data
    * moves through it.
    */
  private def jaccardForCandidates(dsets: DataFrame, cands: DataFrame): DataFrame = {
    val docSets = dsets.select(col("doc_id"), col("ss"))
    cands
      .join(docSets.select(col("doc_id").as("a"), col("ss").as("sa")), "a")
      .join(docSets.select(col("doc_id").as("b"), col("ss").as("sb")), "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          (size(col("sa")) + size(col("sb")) -
            size(array_intersect(col("sa"), col("sb"))))).as("jaccard"))
  }

  private[operators] def verified(dsets: DataFrame, cands: DataFrame): DataFrame =
    jaccardForCandidates(dsets, cands)
      .filter(col("jaccard") >= 0.5).orderBy("a", "b")

  val minhashPerms = 16
  val minhashBands = 8 // 2 rows per band: p(miss a j=0.8 pair) = (1-.8²)⁸ ≈ 3e-4

  /** Per-doc minhash signature — one native-expression PROJECTION over the
    * cached shingle array (`Fingerprints.minhash`: a single codegen'd pass
    * computing all 16 seed-mins), replacing the round-1 explode +
    * groupBy(doc_id) 16-agg shuffle: the signature build now never shuffles;
    * only (doc_id, band, bh) rows do. Docs with no shingles (<3 tokens) get
    * a null signature and are dropped, matching the grouped form (no posting
    * rows → no signature). */
  private[graft] def minhashSignatures(dsets: DataFrame): DataFrame =
    dsets.select(col("doc_id"),
      graft.functions.Fingerprints.minhash(col("ss"), minhashPerms).as("sig"))
      .filter(col("sig").isNotNull)

  /** (doc_id, band, bh) rows from a signature frame — one band row per
    * (doc, band) via explode (a union of N selects would recompute the
    * signatures N times). Shared by every LSH consumer AND the
    * fixture-recall tripwire test (`BandRecallSpec`), so the tested band
    * derivation is exactly the shipped one. */
  private[graft] def bandRows(sigs: DataFrame): DataFrame = {
    val rowsPerBand = minhashPerms / minhashBands
    val bandArr = array((0 until minhashBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => element_at(col("sig"), i + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }: _*)
    sigs.select(col("doc_id"), explode(bandArr).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  val queries: Seq[GraftQuery] = Seq(

    // Exact dedup: hash-groupBy on content digest; keep the smallest doc_id.
    GraftQuery.sql("q_dedup_exact",
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .groupBy(md5($"text"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select($"keep_id", $"n_copies")
        .orderBy("keep_id")
    },

    // The cleaned-corpus output: keep the first copy per content digest via
    // a ranking window — the shape a pipeline actually materializes after
    // dedup decisions.
    GraftQuery.sql("q_dedup_keep_first",
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      Tables.load(s, dir, "documents")
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5($"text")).orderBy($"doc_id")))
        .filter($"rn" === 1)
        .select($"doc_id", $"n_chars")
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard near-dup pairs (threshold 0.5 cleanly separates
    // the planted near-duplicates from the ~0.0 noise floor). Candidates come
    // from shingle co-occurrence groups (frequency-capped), then exact
    // verification.
    GraftQuery.sql("q_dedup_ngram_jaccard", exactJaccardSql) { (s, dir) =>
      val dsets = cachedShingleSets(s, dir)
      jaccardPairs(dsets).filter(col("jaccard") >= 0.5).orderBy("a", "b")
    },

    // The WHOLE cleaning pipeline composed end-to-end — what a user of the
    // engine actually materializes: quality filter (≥10 tokens) → exact
    // dedup keep-first (digest window) → near-dup removal (drop the larger
    // doc of every exact-Jaccard θ≥0.5 pair over the survivors) → cleaned
    // corpus with token counts. Every stage is the already-verified
    // operator; this row proves they COMPOSE (the near-dup stage sees the
    // deduped survivors, not the raw corpus). Same shuffle budget as its
    // parts: one digest window, one shingle groupBy, candidate-sized joins.
    // Like q_dedup_ngram_jaccard, the engine applies the hot-shingle
    // frequency cap while the oracle computes uncapped Jaccard — a green
    // row proves the cap changed nothing on this corpus (see class doc for
    // why it cannot at θ ≥ 0.5 short of ≥128 near-identical docs).
    GraftQuery.sql("q_pipeline_clean",
      """WITH w AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        |q AS (SELECT doc_id, text, ws FROM w WHERE len(ws) >= 10),
        |k AS (SELECT doc_id, text, ws FROM (
        |        SELECT doc_id, text, ws, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q)
        |      WHERE rn = 1),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM k, unnest(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        |          FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT b FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        |        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens
        |FROM k WHERE doc_id NOT IN (SELECT b FROM dup)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val q = docs.withColumn("tk", toks($"text")).filter(size($"tk") >= 10)
      val kept = q.withColumn("rn", row_number().over(
          Window.partitionBy(md5($"text")).orderBy($"doc_id")))
        .filter($"rn" === 1).drop("rn")
      val dsets = shingleSets(kept.select($"doc_id", $"text")).cache()
      dsets.count()
      val dups = jaccardPairs(dsets).filter($"jaccard" >= 0.5)
        .select($"b").distinct()
      // hash-build the skinny dup-id set; never sort the fat kept rows
      // (the gate-join convention — see PipelineFull)
      kept.join(dups.hint("shuffle_hash"),
          kept("doc_id") === dups("b"), "left_anti")
        .select($"doc_id", size($"tk").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },

    // Near-dup CLUSTERS: connected components over the pair graph, with
    // the smallest doc_id as each cluster's canonical keeper — what a
    // pipeline actually does with near-dup PAIRS (pairwise removal is
    // order-dependent; component-canonical removal is not). Min-label
    // propagation (plans/Graph.connectedComponents): O(diameter) rounds,
    // one edge join + one min-agg per round, lineage checkpointed. The
    // oracle computes the same components via a recursive closure.
    GraftQuery.sql("q_dedup_clusters",
      """WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        |          FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a, b FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        |          WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |)
        |SELECT src AS doc_id,
        |  LEAST(src, MIN(dst)) AS component,
        |  src = LEAST(src, MIN(dst)) AS keep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dsets = cachedShingleSets(s, dir)
      val pairs = jaccardPairs(dsets).filter($"jaccard" >= 0.5)
        .select($"a", $"b")
      graft.plans.Graph.connectedComponents(
          graft.plans.Graph.symmetrize(pairs))
        .select($"node".as("doc_id"), $"component",
          ($"node" === $"component").as("keep"))
        .orderBy("doc_id")
    },

    // MinHash + LSH: map-side per-doc signature (min over the shingle array
    // of xxhash64(seed_i, shingle) for 16 seeds); 8 bands of 2 rows
    // bucket-joined; candidates verified with exact Jaccard. Only
    // bucket-mates ever pair up — no n², and nothing corpus-sized shuffles
    // except the banded keys.
    GraftQuery.sql("q_dedup_minhash", exactJaccardSql) { (s, dir) =>
      import s.implicits._
      val dsets = cachedShingleSets(s, dir)
      val bands = bandRows(minhashSignatures(dsets))
      val cands = bands.select($"doc_id".as("a"), $"band", $"bh")
        .join(bands.select($"doc_id".as("b"), $"band", $"bh"), Seq("band", "bh"))
        .filter($"a" < $"b").select($"a", $"b").distinct()
      verified(dsets, cands)
    },

    // SimHash: 64-bit fingerprint by per-bit majority vote over token hashes,
    // computed map-side by a single codegen'd pass over the token array
    // (`Fingerprints.simhash` — replaces the round-1 exploded-token 64-agg
    // shuffle that was 25% of the whole bench); banded by 4×16-bit chunks so
    // only chunk-equal pairs are hamming-checked. The token hash is
    // md5-low64 (= DuckDB `md5_number_lower`), so the oracle replays the
    // ENTIRE algorithm — hash, votes, fingerprint, chunk join, hamming — in
    // SQL and the match is hash-exact, not a weaker ground-truth proxy.
    // (At cluster scale the chunk tables would be wider — 16-bit buckets are
    // sized for this corpus; the plan shape — band join, candidate-only
    // hamming checks — is the one that survives.)
    GraftQuery.sql("q_dedup_simhash",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        |tok AS (SELECT doc_id, md5_number_lower(t.w) AS h FROM w, unnest(ws) AS t(w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |votes AS (SELECT doc_id, j, SUM(CAST((h >> CAST(j AS INT)) & 1 AS BIGINT)) AS ones
        |          FROM tok, unnest(range(0, 64)) AS r(j) GROUP BY doc_id, j),
        |sim AS (SELECT v.doc_id,
        |          CAST(SUM(CASE WHEN 2 * v.ones > c.n THEN (CAST(1 AS UBIGINT) << CAST(v.j AS INT)) ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS simhash
        |        FROM votes v JOIN cnt c USING (doc_id) GROUP BY v.doc_id),
        |chunks AS (SELECT doc_id, c, (simhash >> CAST(c*16 AS INT)) & 65535 AS ch FROM sim, unnest(range(0,4)) AS t(c)),
        |cands AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |          FROM chunks a JOIN chunks b ON a.c = b.c AND a.ch = b.ch AND a.doc_id < b.doc_id)
        |SELECT a, b, hamming FROM (
        |  SELECT cands.a, cands.b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        |  FROM cands JOIN sim sa ON sa.doc_id = cands.a JOIN sim sb ON sb.doc_id = cands.b)
        |WHERE hamming <= 6 ORDER BY a, b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sim = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          graft.functions.Fingerprints.simhash(toks($"text")).as("simhash"))
        .cache()
      val chunkArr = array((0 until 4).map(c => struct(lit(c).as("chunk"),
        shiftright($"simhash", c * 16).bitwiseAND(0xffffL).as("ch"))): _*)
      val chunks = sim.select($"doc_id", explode(chunkArr).as("cc"))
        .select($"doc_id", $"cc.chunk".as("chunk"), $"cc.ch".as("ch"))
      val cands = chunks.select($"doc_id".as("a"), $"chunk", $"ch")
        .join(chunks.select($"doc_id".as("b"), $"chunk", $"ch"), Seq("chunk", "ch"))
        .filter($"a" < $"b").select($"a", $"b").distinct()
      cands
        .join(sim.select($"doc_id".as("a"), $"simhash".as("sa")), "a")
        .join(sim.select($"doc_id".as("b"), $"simhash".as("sb")), "b")
        .select($"a", $"b", bit_count($"sa".bitwiseXOR($"sb")).cast("long").as("hamming"))
        .filter($"hamming" <= 6).orderBy("a", "b")
    },

    // INCREMENTAL dedup against a HISTORICAL corpus — the nightly-batch
    // shape: yesterday's corpus is already deduplicated, so only the new
    // batch (here: doc_id >= 400) is checked, first against the historical
    // DIGEST set (left anti join), then within itself (keep-first window).
    // At 100 TB the historical side is digest-only (16 bytes/doc, not
    // text), so the anti-join shuffles digests; when the digest store is
    // small enough it broadcasts, and a bloom prefilter (q_bloom_semijoin's
    // operator) slots in front of the shuffle when it is not. The batch is
    // re-scanned never: one digest projection feeds both stages.
    GraftQuery.sql("q_dedup_incremental",
      """WITH hist AS (SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id < 400),
        |batch AS (SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id >= 400),
        |fresh AS (SELECT doc_id, dg FROM batch b
        |          WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.dg = b.dg))
        |SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY dg ORDER BY doc_id) AS rn
        |  FROM fresh)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val hist = docs.filter($"doc_id" < 400)
        .select(md5($"text").as("dg")).distinct()
      val batch = docs.filter($"doc_id" >= 400)
        .select($"doc_id", md5($"text").as("dg"))
      batch.join(hist, Seq("dg"), "left_anti")
        .withColumn("rn",
          row_number().over(Window.partitionBy($"dg").orderBy($"doc_id")))
        .filter($"rn" === 1)
        .select($"doc_id")
        .orderBy("doc_id")
    },

    // EXACT-SUBSTRING duplication scoring — the other axis of near-dup:
    // Jaccard measures whole-document set overlap; this measures VERBATIM
    // runs (boilerplate, quoted passages, template text) as the fraction
    // of a doc's 8-token windows that appear verbatim in ≥2 docs. The
    // curation rule downstream drops or trims docs above a dup-window
    // ratio. Window frequencies come from groupBy(g) — map-side partial
    // aggregation, so a hot boilerplate window contributes ONE partial
    // count per task instead of buffering every carrying row on one key
    // (the WindowExec failure mode this replaced). Only windows with
    // ndocs >= 2 survive into the join-back, so the join side is the
    // duplicated-window set, not the corpus — never a doc×doc pair space
    // (the thing that makes window-level dedup tractable where suffix
    // arrays are not distributable).
    GraftQuery.sql("q_substring_dup",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        |win AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS g
        |        FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
        |cnt AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS ndocs FROM win),
        |per AS (SELECT doc_id, COUNT(*) AS n_windows,
        |          COUNT(*) FILTER (ndocs >= 2) AS n_dup FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_windows, n_dup FROM per WHERE n_dup > 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val t = col("tk")
      val idx = when(size(t) >= 8, sequence(lit(0), size(t) - 8))
        .otherwise(array().cast("array<int>"))
      // Both consumers of the window stream — the ndocs aggregate and the
      // join-back — are keyed by g, and nothing corpus-growing is
      // broadcast (a broadcast duplicated-window set is a memory hazard
      // at scale). The two g-exchanges are NOT shared: the aggregate
      // needs only g, so the column pruner narrows its subtree to
      // (text) → (g), and the executed plan scans, splits and windows the
      // corpus twice (two `Exchange hashpartitioning(g…)`, no
      // ReusedExchange).
      val win = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", toks($"text").as("tk"))
        .select($"doc_id", explode(array_distinct(transform(idx, i =>
          concat_ws(" ", (0 until 8).map(k => get(t, i + lit(k))): _*))))
          .as("g"))
        .repartition(col("g"))
      // (doc_id, g) pairs are distinct per doc, so count(*) per g = number
      // of docs carrying the window — computed WITHOUT re-shuffling (the
      // stream is already g-partitioned; count state per key is O(1), so
      // a hot boilerplate window costs nothing — the WindowExec failure
      // mode this family originally replaced stays replaced).
      val dup = win.groupBy($"g")
        .agg(count(lit(1)).as("ndocs"))
        .filter($"ndocs" >= 2)
        .select($"g", lit(1).as("isdup"))
      // shuffle_hash: build the (small) duplicated-window side per
      // partition and STREAM the window rows — a sort-merge here would
      // sort the full corpus-linear window stream (the spill shape the
      // gate joins exist to avoid), and a broadcast would re-introduce
      // the corpus-growing relation this rewrite removes.
      win.join(dup.hint("shuffle_hash"), Seq("g"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_windows"),
          count($"isdup").as("n_dup"))
        .filter($"n_dup" > 0)
        .orderBy("doc_id")
    },

    // EXACT-SUBSTRING REMOVAL — the CLEANING transform on top of
    // q_substring_dup's detection (the Lee-et-al "deduplicating training
    // data" recipe, fixed-k windows): every token covered by an 8-gram
    // window that occurs ≥2 times corpus-wide (within- OR cross-document)
    // is MASKED out of the document, and the cleaned stream is
    // fingerprinted. Symmetric removal (every occurrence masks — the
    // conservative, order-free policy; keep-one-occurrence is an ordering
    // policy layered on top). Scale shape: the window stream shuffles
    // twice — once gram-keyed for the occurrence count (map-side
    // partials; only duplicated grams flow back), once doc-keyed to
    // collect each doc's duplicated window STARTS — and the coverage
    // rewrite is map-side higher-order array work per document. Never a
    // pair space.
    GraftQuery.sql("q_exact_substring_rm",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        |win AS (SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS g
        |        FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
        |hot AS (SELECT g FROM win GROUP BY g HAVING COUNT(*) >= 2),
        |st AS (SELECT doc_id, list(i) AS ss FROM win JOIN hot USING (g)
        |       GROUP BY doc_id),
        |cl AS (SELECT w.doc_id, w.ws, COALESCE(st.ss, []) AS ss
        |       FROM w LEFT JOIN st USING (doc_id)),
        |o AS (SELECT doc_id, ws,
        |        list_transform(
        |          list_filter(range(1, len(ws) + 1),
        |            p -> len(list_filter(ss, s -> p - s BETWEEN 0 AND 7)) = 0),
        |          p -> ws[p]) AS kept
        |      FROM cl)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
        |  CAST(len(ws) - len(kept) AS BIGINT) AS n_masked,
        |  md5(COALESCE(array_to_string(kept, ' '), '')) AS fp
        |FROM o ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val t = col("t")
      val tk = Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", toks($"text").as("t"))
      val idx = when(size(t) >= 8, sequence(lit(0), size(t) - 8))
        .otherwise(array().cast("array<int>"))
      // OCCURRENCES (not per-doc distinct): a window repeated within one
      // document is a duplicated substring too
      val win = tk.select($"doc_id", explode(transform(idx, i =>
          struct(i.as("i"),
            array_join(slice(t, i + 1, lit(8)), " ").as("g"))))
          .as("w"))
        .select($"doc_id", $"w.i", $"w.g")
      val hot = win.groupBy($"g").agg(count(lit(1)).as("c"))
        .filter($"c" >= 2).select($"g")
      val starts = win.join(hot, "g")
        .groupBy($"doc_id").agg(collect_list($"i").as("ss"))
      val ss = coalesce($"ss", array().cast("array<int>"))
      val keptIdx = filter(
        when(size(t) >= 1, sequence(lit(0), size(t) - 1))
          .otherwise(array().cast("array<int>")),
        p => !exists(ss, ps => (p - ps >= 0) && (p - ps <= 7)))
      val kept = transform(keptIdx, p => get(t, p))
      tk.join(starts, Seq("doc_id"), "left")
        .select($"doc_id", size(t).cast("long").as("n_tok"),
          (size(t) - size(kept)).cast("long").as("n_masked"),
          md5(concat_ws(" ", kept)).as("fp"))
        .orderBy("doc_id")
    },

    // INCREMENTAL NEAR-dup (the LSH complement of q_dedup_incremental's
    // exact-digest anti-join): a small arrival batch (doc_id % 50 = 0,
    // ~2%) checks against the STANDING corpus through the minhash band
    // index — arrival band rows BROADCAST against the standing bands, so
    // the standing corpus never self-joins and the work is
    // O(|batch| × bucket hits), not O(corpus²) — the property that lets a
    // 100 TB corpus absorb daily arrivals. Candidates then verify by true
    // jaccard (the q_dedup_minhash stance); the oracle enumerates the
    // exact cross-side ≥ 0.5 pairs.
    GraftQuery.sql("q_dedup_incr_near",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        |          FROM sh a JOIN sh b USING (s)
        |          WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
        |          GROUP BY 1, 2)
        |SELECT a, b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
        |ORDER BY a, b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dsets = cachedShingleSets(s, dir)
      val bands = bandRows(minhashSignatures(dsets))
      val standing = bands.filter($"doc_id" % 50 =!= 0)
        .select($"doc_id".as("a"), $"band", $"bh")
      val arrivals = broadcast(bands.filter($"doc_id" % 50 === 0)
        .select($"doc_id".as("b"), $"band", $"bh"))
      val cands = standing.join(arrivals, Seq("band", "bh"))
        .select($"a", $"b").distinct()
      verified(dsets, cands)
    },

    // CONTRASTIVE PAIR MINING — the data-prep step for training an
    // embedding/similarity model: POSITIVES are the near-dup pairs the
    // band index surfaces, split into exact-dups (j ≥ 0.9, label 2) and
    // hard positives (0.5 ≤ j < 0.9, label 1 — similar but not copies,
    // the pairs that actually teach a model); NEGATIVES (label 0) pair
    // each even doc with its successor id and keep only genuinely
    // dissimilar pairs (j < 0.1) — deterministic, no RNG, so the oracle
    // enumerates the identical set. Positives ride the existing LSH
    // candidate machinery (bucket-local, never n²); negatives are one
    // id-shifted self-join of the compact shingle-set table.
    GraftQuery.sql("q_mine_pairs",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, unnest(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        |          FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pos AS (SELECT a, b, jaccard,
        |          CAST(CASE WHEN jaccard >= 0.9 THEN 2 ELSE 1 END AS BIGINT) AS label
        |        FROM (SELECT a, b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |              FROM inter JOIN sz sa ON sa.doc_id = a
        |                         JOIN sz sb ON sb.doc_id = b)
        |        WHERE jaccard >= 0.5),
        |negp AS (SELECT sa.doc_id AS a, sb.doc_id AS b, sa.n AS na, sb.n AS nb
        |         FROM sz sa JOIN sz sb ON sb.doc_id = sa.doc_id + 1
        |         WHERE sa.doc_id % 2 = 0),
        |ni AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
        |       FROM sh x JOIN sh y USING (s)
        |       WHERE y.doc_id = x.doc_id + 1 AND x.doc_id % 2 = 0 GROUP BY 1, 2),
        |neg AS (SELECT negp.a, negp.b,
        |          CAST(COALESCE(ni.c, 0) AS DOUBLE)
        |            / (negp.na + negp.nb - COALESCE(ni.c, 0)) AS jaccard,
        |          CAST(0 AS BIGINT) AS label
        |        FROM negp LEFT JOIN ni ON negp.a = ni.a AND negp.b = ni.b)
        |SELECT a, b, jaccard, label FROM
        |  (SELECT * FROM pos UNION ALL SELECT * FROM neg WHERE jaccard < 0.1)
        |ORDER BY a, b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dsets = cachedShingleSets(s, dir)
      val bands = bandRows(minhashSignatures(dsets))
      val cands = bands.select($"doc_id".as("a"), $"band", $"bh")
        .join(bands.select($"doc_id".as("b"), $"band", $"bh"), Seq("band", "bh"))
        .filter($"a" < $"b").select($"a", $"b").distinct()
      val pos = jaccardForCandidates(dsets, cands)
        .filter($"jaccard" >= 0.5)
        .select($"a", $"b", $"jaccard",
          when($"jaccard" >= 0.9, 2L).otherwise(1L).as("label"))
      // shingled docs only (empty shingle sets have no jaccard)
      val shingled = dsets.filter(size($"ss") > 0)
      val negCands = shingled.select($"doc_id".as("a"))
        .filter($"a" % 2 === 0)
        .join(shingled.select($"doc_id".as("b")), $"b" === $"a" + 1)
      val neg = jaccardForCandidates(dsets, negCands)
        .filter($"jaccard" < 0.1)
        .select($"a", $"b", $"jaccard", lit(0L).as("label"))
      pos.unionByName(neg).orderBy("a", "b")
    },
  )
}
