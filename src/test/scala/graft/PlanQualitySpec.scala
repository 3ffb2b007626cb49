package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: the properties that make these plans
  * scale (pushdown reaching the scan, broadcasts on dimension joins,
  * whole-stage codegen around the native expression) asserted on the
  * executed plans, not just eyeballed via Explain.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String = {
    val full = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    // tier-probed queries (autoWideTable) return a CACHED, already-
    // executed result whose AQE subtree prints "== Final Plan ==" AND
    // "== Initial Plan ==" — the same operators twice. Keep only the
    // final tree so node-count assertions (explodes, joins) stay exact;
    // un-executed plans contain no marker and pass through unchanged.
    full.split(java.util.regex.Pattern.quote("== Initial Plan ==")).head
  }

  test("q1_agg pushes the date filter and prunes columns at the scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "column pruning lost: reads l_orderkey")
  }

  test("q_employee_join broadcasts the dimension side") {
    val p = plan("q_employee_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("AST-compiled filter pushes to the parquet scan through the compiler") {
    // q_lang_agg's table aggregation is eager (the fold value is computed
    // inside compile), so assert pushdown on the pre-fold pipeline plan —
    // the distributed part that scans
    import graft.core.Tables
    import graft.lang._
    import graft.lang.Lang._
    import graft.lang.Compiler._
    val prog = EProj(LikeBag,
      EFilter(LikeBag, ELoc("lineitem"), "l",
        EBinop(OEq, EAccess(EVar("l"), "l_returnflag"), EAtom(AString("R")))),
      "l", EAccess(EVar("l"), "l_qty"))
    val li = Tables.load(spark, TestSpark.sfDir, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_returnflag"),
        org.apache.spark.sql.functions.col("l_quantity").cast("long").as("l_qty"))
    val p = compile(prog, Env(Map.empty, Map("lineitem" -> li), spark))
      .asInstanceOf[TV].df.queryExecution.executedPlan.toString
    // OEq compiles to the NULL-SAFE equality (reference value_eqb is
    // total: None == None holds), which parquet still accepts as a pushed
    // filter — just as EqualNullSafe rather than IsNotNull+EqualTo
    assert(p.contains("PushedFilters: [EqualNullSafe(l_returnflag,R)]"), p)
  }

  test("comprehension program compiles to a hash join, not a cross product") {
    val p = plan("q_lang_comprehension")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("surface-syntax program compiles to a hash join with the filter pushed") {
    val p = plan("q_surface_syntax")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the `o[o_custkey] < 50` conjunct must reach the orders scan. (It no
    // longer transits to c_custkey: InferFiltersFromConstraints only
    // propagates across EqualTo, and the join key is the null-safe
    // EqualNullSafe — the price of the reference's total value_eqb, where
    // an inner join on option-typed keys matches None with None.)
    assert(p.contains("LessThan(o_custkey,50)"), p)
  }

  test("distributed percentiles shuffle ONCE: groupBy reuses the window partitioning") {
    val p = plan("q_percentiles_dist")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"expected the single by-group shuffle, got $exchanges:\n$p")
  }

  test("salted join shuffles on (key, salt) — hot keys spread over reducers") {
    val p = plan("q_salted_join")
    // the JOIN keys must include the salt column — that is what spreads a
    // hot l_orderkey over `salts` reducers when the join shuffles (at this
    // spec's tiny SF the dimension side broadcasts instead, which is even
    // better; the salt still participates in the key so the plan shape is
    // the salted one at any scale)
    val joinLines = p.linesIterator.filter(_.contains("Join")).toList
    assert(joinLines.exists(l =>
      l.contains("__salt") && l.contains("l_orderkey")),
      s"no (key, salt) join found:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("k-means assignment is map-side: no Exchange between scan and argmin") {
    // centroids ship as literals, so the cell assignment must be a single
    // projection over the cached corpus — any Exchange before the argmin
    // would be the corpus×k shuffle the design avoids
    import org.apache.spark.sql.functions._
    import graft.core.Tables
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = (0 until 4).map(i =>
      struct(aggregate(zip_with(col("v"), typedLit(Seq.fill(64)(0.1 * i)),
        (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x).as("d"),
        lit(i.toLong).as("cid")))
    val assigned = e.withColumn("cell", array_min(array(cents: _*)))
      .select(col("vec_id"), col("cell.cid"))
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"cell assignment must not shuffle the corpus:\n$p")
  }

  test("as-of join compiles to one window shuffle, not a join node") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), s"as-of must be a window, not a join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected the single by-user shuffle:\n$p")
  }

  test("range join is an equi-join on (user, bucket) — candidates bucket-local, never a product") {
    val p = plan("q_range_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a product:\n$p")
    // the join keys must carry BOTH user and the hour bucket: that is what
    // keeps candidate pairs bucket-local at any scale (broadcast at this
    // tiny SF, same keyed shape when it shuffles)
    val joinLines = p.linesIterator.filter(_.contains("HashJoin")).toList
    assert(joinLines.exists(l => l.contains("user_id") && l.contains("bucket")),
      s"no (user, bucket) equi-join found:\n$p")
  }

  test("sliding windows are one Expand + one hash shuffle, no join") {
    val p = plan("q_sliding_window")
    assert(p.contains("Expand"), s"window(slide) should Expand rows:\n$p")
    assert(!p.contains("Join"), s"sliding windows must not join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected the single windowed-agg shuffle:\n$p")
  }

  test("cohort retention: fact side joins the broadcast first-activity agg, ≤3 agg shuffles") {
    val p = plan("q_cohort_retention")
    // the per-user first-activity aggregate broadcasts back onto events —
    // the big fact scan itself must not reshuffle before the join
    assert(p.contains("BroadcastHashJoin"), s"first-activity join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3,
      s"cohort matrix should cost at most 3 agg shuffles (first-activity, " +
        s"distinct, matrix), got $exchanges:\n$p")
  }

  test("sampling and repetition plans are map-only; contamination broadcasts") {
    // stratified sampling: scan → filter, nothing else — the only Exchange
    // is the presentation sort's range partitioning; no hash shuffle means
    // the 100 TB plan moves zero rows between executors to DECIDE the
    // sample
    val ps = plan("q_sample_stratified")
    assert(!ps.contains("Exchange hashpartitioning"),
      s"sampling must not hash-shuffle:\n$ps")
    // repetition scoring: one projection pass, same property
    val pr = plan("q_repetition")
    assert(!pr.contains("Exchange hashpartitioning"),
      s"repetition must be map-side:\n$pr")
    // contamination: benchmark side must broadcast — the corpus postings
    // never hash-shuffle against it
    val pc = plan("q_contamination")
    assert(pc.contains("BroadcastHashJoin"), pc)
  }

  test("registered keyed index rewrites a plain equality filter off the scan") {
    import org.apache.spark.sql.functions._
    try {
      val orders = graft.core.Tables.load(spark, TestSpark.sfDir, "orders")
      graft.plans.KeyedIndexRule.register(spark, orders, "o_custkey")
      // PLAIN user query — no index API
      val q = graft.core.Tables.load(spark, TestSpark.sfDir, "orders")
        .filter(col("o_custkey") === 17L)
        .agg(count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"), s"index not used:\n$p")
      // no parquet scan ABOVE the index (the InMemoryRelation's stored
      // build plan legitimately renders the original scan below it)
      val aboveIndex = p.substring(0, p.indexOf("InMemoryRelation"))
      assert(!aboveIndex.contains("FileScan parquet"),
        s"still scanning parquet:\n$p")
      // and the rewrite preserves the answer
      val direct = orders.filter(col("o_custkey") === 17L).count()
      assert(q.collect().head.getLong(0) == direct)
    } finally graft.plans.KeyedIndexRule.clear()
  }

  test("chunking is map-only; packing shuffles once; z-order aggregates once") {
    // context-window chunking: explode over sequence() — a projection
    // pipeline, no hash shuffle anywhere (the one Exchange is the
    // presentation sort / repartition)
    val pc = plan("q_chunk_windows")
    assert(!pc.contains("Exchange hashpartitioning"),
      s"chunking must not hash-shuffle:\n$pc")
    // sequence packing: exactly the one by-doc window shuffle
    val pp = plan("q_pack_sequences")
    assert(pp.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"packing should shuffle once (the doc window):\n$pp")
    // z-order: the z-value is computed map-side (native codegen'd
    // expression feeds the partial aggregate below ONE shuffle)
    val pz = plan("q_zorder_layout")
    assert(pz.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"z-bucket profile should aggregate over one shuffle:\n$pz")
    assert(pz.contains("graft_zorder2"), s"native z expr missing:\n$pz")
  }

  test("PII scrub is map-side; source gate broadcasts the stats back") {
    // redaction/detection: projections only — the sole hash shuffle is the
    // per-source audit rollup
    val pp = plan("q_pii_redact")
    assert(pp.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"PII scrub should shuffle only for the audit aggregate:\n$pp")
    // source gating: the per-source stats (tiny at any corpus size) must
    // broadcast back onto the corpus — a hash-shuffle join here would
    // move the full corpus to gate it
    val pg = plan("q_source_gate")
    assert(pg.contains("BroadcastHashJoin"),
      s"source stats must broadcast back:\n$pg")
  }

  test("merge/upsert broadcasts the batch; the target never sort-merges") {
    val df = SparkEntry.queries("q_merge_upsert")(spark, TestSpark.sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"batch not broadcast into the anti join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"big target sort-merged against a tiny batch:\n$p")
  }

  test("keyed index self-invalidates when the files under its root change") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = "/tmp/graft_idx_stale"
    try {
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
        .write.mode("overwrite").parquet(root)
      graft.plans.KeyedIndexRule.register(spark, spark.read.parquet(root), "k")
      // overwrite the files AFTER registration: new rows, same root
      Seq((1L, 11L), (1L, 12L), (3L, 30L)).toDF("k", "v")
        .write.mode("overwrite").parquet(root)
      val q = spark.read.parquet(root).filter($"k" === 1L)
      // the stale snapshot (one k=1 row) must NOT be served — the entry
      // self-invalidates on the changed file listing and the scan runs
      assert(q.count() === 2L)
      assert(!q.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"), "stale index still serving")
    } finally {
      graft.plans.KeyedIndexRule.clear()
      graft.core.Tables.deleteTree(new java.io.File(root))
    }
  }

  test("bloom semi-join prunes the fact side before the shuffle, codegen'd") {
    val df = SparkEntry.queries("q_bloom_join")(spark, TestSpark.sfDir)
    df.collect() // finalize the adaptive plan so codegen stages are marked
    val p = df.queryExecution.executedPlan.toString
    // the membership test must sit on the lineitem scan side (pre-join),
    // inside whole-stage codegen
    // tree connectors (`:-`) may prefix the `*(n)` codegen marker
    val line = p.linesIterator.find(l =>
      l.contains("graft_might_contain") && l.contains("Filter"))
    assert(line.isDefined, s"bloom filter missing from plan:\n$p")
    assert(line.exists(_.contains("*(")),
      s"graft_might_contain not codegen'd:\n$p")
    // and it must genuinely prune: fewer fact rows enter the join than
    // the full table
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val li = graft.core.Tables.load(spark, TestSpark.sfDir, "lineitem")
    val urgent = li.sparkSession.read
      .parquet(TestSpark.sfDir + "/orders.parquet")
      .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
    val bloom = graft.functions.Bloom.buildLong(urgent, "o_orderkey",
      urgent.count())
    val kept = li.filter(
      graft.functions.Bloom.mightContain(bloom, $"l_orderkey")).count()
    val total = li.count()
    assert(kept < total / 2, s"bloom kept $kept of $total — not selective")
  }

  test("split-leakage audit joins digests, never text") {
    val p = plan("q_split_leakage")
    // the leakage semi-join must run on the 16-byte digest column with the
    // tiny train-digest side broadcast — document text must not appear in
    // any Exchange (it is consumed by md5() at the scan projection)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(!exchangeLines.exists(_.contains("text")),
      s"document text crosses an exchange:\n${exchangeLines.mkString("\n")}")
  }

  test("knn label prediction broadcasts the query batch") {
    val p = plan("q_knn_label")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"),
      s"corpus-side cartesian product — query batch not broadcast:\n$p")
  }

  test("mixture sampling is map-side: the hash filter precedes the one aggregate shuffle") {
    val p = plan("q_mixture_sample")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1,
      s"expected at most the per-source aggregate shuffle, got $exchanges:\n$p")
    // the keep-rate filter must run before the exchange (map-only scan →
    // filter), i.e. appear below the exchange in the plan tree
    val lines = p.linesIterator.toList
    val exIdx = lines.indexWhere(_.contains("Exchange"))
    val fIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("md5"))
    assert(fIdx > exIdx && exIdx >= 0,
      s"hash filter not below the aggregate exchange:\n$p")
  }

  test("incremental dedup anti-join broadcasts the historical digest set") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"historical digests not broadcast:\n$p")
  }

  /** Both correlated aggregates of a filter predicate (a count and a sum
    * over the same inner key) unnest to ONE key-grouped aggregate: a
    * partial aggregate computing both below the one hash shuffle, and one
    * join back onto the outer table — never a per-outer-row nested loop
    * or a cross product. `count > 0` rejects no-match rows, so Catalyst
    * plans that join as inner. */
  private def assertOneGroupedJoin(p: String): Unit = {
    val lines = p.linesIterator.toVector
    val joins = lines.filter(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins.size == 1 && joins.head.contains("Inner"),
      s"expected one inner join:\n$p")
    val shuffles = lines.indices.filter(lines(_).contains("Exchange hashpartitioning"))
    assert(shuffles.size == 1, s"expected one shuffle:\n$p")
    val partial = lines.indexWhere(l =>
      l.contains("partial_count") && l.contains("partial_sum"))
    assert(partial > shuffles.head,
      s"expected count and sum partial-aggregated below the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("correlated aggregates in a filter predicate share one key-grouped join") {
    // filter(nation, n => count(σ[s.k == n.k] supplier) > 0 && sum(...) % 2 == 0)
    assertOneGroupedJoin(plan("q_lang_corr_filter"))
  }

  test("table-scale correlated filter partial-aggregates the fact side before its join") {
    // q_lang_corr_filter_big: supplier outer, lineitem aggregate side. The
    // unnested grouped aggregate over lineitem must combine map-side
    // (HashAggregate partial → exchange on l_suppkey → final) so the
    // shuffle carries one partial per (task, key), not raw fact rows —
    // what makes the rewrite survive a 100 TB fact table.
    assertOneGroupedJoin(plan("q_lang_corr_filter_big"))
  }

  test("driver-loop delta unions stay single-partition per row") {
    // Each cons-insert delta is a ONE-ROW frame; spark.range(1) would give
    // it defaultParallelism splits, so an N-tick event loop's final union
    // would schedule N×cores near-empty tasks (800 tasks for 25 rows at
    // local[32] — measured 6× slower). Guard: the materialized result of
    // the 25-tick loop carries at most one partition per output row.
    val df = SparkEntry.queries("q_scoped_ivm")(spark, TestSpark.sfDir)
    val rows = df.count()
    val parts = df.rdd.getNumPartitions
    assert(parts <= rows + 4,
      s"$parts partitions for $rows rows — one-row deltas are multi-split again")
  }

  test("correlated join legs lower to ordinary joins, not per-row loops") {
    // q_lang_corr_join: flatmap(nation, n => join(σ[corr] supplier,
    // σ[corr] customer)) must become one three-way join — hash joins on
    // the nationkey equi-predicates, no cartesian product, no WindowExec
    val p = plan("q_lang_corr_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected hash/sort-merge joins from decorrelated legs:\n$p")
  }

  test("substring-dup counts window frequency via aggregate, not WindowExec") {
    // count(*) OVER (PARTITION BY window-text) buffers every row of a hot
    // boilerplate window on one key; the groupBy form partial-aggregates
    // map-side so a hot window contributes one partial per task
    val p = plan("q_substring_dup")
    assert(!p.contains("Window"),
      s"window-frequency must be groupBy (map-side combine), not WindowExec:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"expected an aggregate for window frequency:\n$p")
  }

  test("non-equi correlated aggregates join on the equi conjunct, never cartesian") {
    // q_lang_corr_nonequi is keyed with a range residue: the parity equi
    // conjunct keys ONE per-key collect_list (map-side partials) shared
    // by all THREE aggregates; the range
    // residue (s_nationkey < n_nationkey) and the count/sum/min evaluate
    // map-side after a single keyed left join. A CartesianProduct — or a
    // distinct-outer exchange per aggregate — would be the all-pairs
    // scale-killer this path exists to avoid.
    val p = plan("q_lang_corr_nonequi")
    assert(!p.contains("CartesianProduct"),
      s"non-equi correlated aggregate planned a cartesian product:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected a keyed join for the correlated aggregate:\n$p")
    val collects = p.linesIterator.count(_.contains("partial_collect_list"))
    assert(collects == 1,
      s"three same-source range aggregates must share ONE keyed " +
        s"collection, got $collects:\n$p")
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins == 1, s"expected one shared keyed join, got $joins:\n$p")
  }

  test("range-residue correlated aggregates collect per key, no distinct-outer exchange") {
    // q_lang_corr_rangekey (r14 directive 7): computed outer range side
    // (2·n_nationkey), outer-only gate on the sum, count/sum/min over the
    // same keyed source — one shared collect_list keyed by the parity
    // expression, one left join, range predicate + aggregates map-side.
    // The old fallback planted a dropDuplicates(outer) exchange and a
    // join-then-reaggregate product per aggregate.
    val p = plan("q_lang_corr_rangekey")
    assert(!p.contains("CartesianProduct"), p)
    val collects = p.linesIterator.count(_.contains("partial_collect_list"))
    assert(collects == 1,
      s"expected ONE shared keyed collection, got $collects:\n$p")
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins == 1, s"expected one shared keyed join, got $joins:\n$p")
    // no distinct-outer: no aggregate groups on the outer table's columns
    assert(!p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("n_regionkey")),
      s"distinct-outer exchange resurfaced:\n$p")
  }

  test("same-source flat-equi correlated aggregates merge into one groupBy") {
    // q_lang_corr_jsrc: len(join) and sum(join) over the SAME lifted join
    // source (a keyed group of exploded flatmap elements) must share ONE
    // exploded frame and ONE key-grouped aggregate
    // (r14: the previous two distinct-outer join subtrees raced their
    // broadcast materializations — nondeterministic job counts — and
    // doubled the shuffle work). The merged plan shows both partials in
    // the SAME HashAggregate, exactly one explode (Generate), and a
    // single left join back onto the outer.
    val p = plan("q_lang_corr_jsrc")
    assert(!p.contains("CartesianProduct"), p)
    val mergedAgg = p.linesIterator.exists(l =>
      l.contains("partial_count") && l.contains("partial_sum"))
    assert(mergedAgg,
      s"count+sum must share one partial aggregate (merged groupBy):\n$p")
    val explodes = p.linesIterator.count(_.trim.startsWith("+- Generate"))
    assert(explodes <= 1, s"expected one shared explode, got $explodes:\n$p")
  }

  test("same-source keyed count and sum share one partial aggregate") {
    // q_lang_corr_agg: `ns` (count) and `ksum` (sum) correlate on the same
    // supplier key with the same (empty) residual, so they form ONE keyed
    // group — one partial aggregate computing both, one shuffle, one join.
    // `maxeven` filters its inner side further and keeps its own group.
    val p = plan("q_lang_corr_agg")
    val merged = p.linesIterator.exists(l =>
      l.contains("partial_count") && l.contains("partial_sum"))
    assert(merged,
      s"count+sum over the same keyed source must share one aggregate:\n$p")
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins == 2, s"expected two keyed joins (shared + maxeven), got $joins:\n$p")
  }

  test("correlated fold collects per-position arrays map-side, never cartesian") {
    // q_lang_corr_fold (a keyed, range-residue per-row array): ONE
    // collection keyed by the parity expression — map-side partials, key-sized
    // shuffle — with the range residue and the canonical sort evaluated
    // map-side after a single keyed join. No distinct-outer exchange, no
    // per-outer product.
    val p = plan("q_lang_corr_fold")
    assert(!p.contains("CartesianProduct"),
      s"correlated fold planned a cartesian product:\n$p")
    val collects = p.linesIterator.count(_.contains("partial_collect_list"))
    assert(collects == 1,
      s"expected ONE keyed collection, got $collects:\n$p")
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins == 1, s"expected one keyed join, got $joins:\n$p")
  }

  test("generic-width word ops run inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.WordOps
    val w16 = WordOps.forWidth(16)
    val df = spark.range(100)
      .select(w16.wmul(w16.wadd(col("id"), lit(40503L)), lit(7L)).as("w"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("graft_word_wmul_16"))
    assert(line.exists(_.trim.startsWith("*(")),
      s"WordBinOpW not codegen'd:\n$p")
  }

  test("wide (100-bit) word ops run inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.WordOps
    val w100 = WordOps.forWidth(100).asInstanceOf[WordOps.Bytes]
    val df = spark.range(100)
      .select(w100.wmul(w100.wadd(
        w100.fromLong(col("id")), w100.literal(-1000L)),
        w100.literal(12345L)).as("w"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("graft_word_wmul_b100"))
    assert(line.exists(_.trim.startsWith("*(")),
      s"WordBinOpBytes not codegen'd:\n$p")
  }

  test("correlated zip collects per-outer arrays with grouped shuffles, never a product") {
    val p = plan("q_lang_corr_zip")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlated zip degenerated to a product:\n$p")
    assert(p.contains("collect_list"),
      s"expected per-outer-row array collection:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"one grouped shuffle per zip leg at most, got $exchanges:\n$p")
  }

  test("gate-only correlated aggregates broadcast one-row globals, never a per-row subquery") {
    // q_lang_corr_gate: three gate-only aggregates — each must appear as
    // ONE global HashAggregate joined back by a one-row broadcast
    // nested-loop join (the cross join of a broadcast single row), with
    // no Cartesian product and no outer-side shuffle of nation
    val p = plan("q_lang_corr_gate")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"),
      s"gate-only aggregate fell back to a product:\n$p")
    // nation (25 rows) must not hash-shuffle for the gates: the only
    // exchanges are the aggregates' partial->final and the sort
    val natExch = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("n_name"))
    assert(natExch == 0, s"outer table shuffled for a gate:\n$p")
  }

  test("join-binder aggregates lower to grouped joins on the pair table, no per-pair loops") {
    // q_lang_corr_jbind: both per-pair subqueries must become supplier
    // HashAggregates joined back — never a nested-loop re-evaluation per
    // join pair, never a Cartesian product
    val p = plan("q_lang_corr_jbind")
    assert(!p.contains("CartesianProduct"), p)
    val aggs = p.linesIterator.count(l =>
      l.contains("HashAggregate(keys=[__k") &&
        (l.contains("functions=[count(") || l.contains("functions=[sum(")))
    assert(aggs >= 2, s"supplier aggregates not lowered to groupBys:\n$p")
  }

  test("leg-binder aggregates under a correlated flatmap join stay join-shaped") {
    // q_lang_corr_legbind: outer x pair x subquery must be THREE ordinary
    // joins (region->nation legs, two supplier agg join-backs) — no
    // Cartesian product anywhere in the triple-table plan
    val p = plan("q_lang_corr_legbind")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("native dot product runs inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import graft.functions.ArrayMath
    val df = spark.range(100)
      .select(ArrayMath.dot(
        array(col("id").cast("double"), lit(2.0)),
        array(lit(3.0), col("id").cast("double"))).as("d"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark WholeStageCodegen membership in the final plan
    val line = p.linesIterator.find(_.contains("graft_dot"))
    assert(line.exists(_.trim.startsWith("*(")),
      s"graft_dot not codegen'd:\n$p")
  }

  test("phrase search filters to phrase-term postings before any exchange") {
    val p = plan("q_phrase_search")
    // the positional posting stream must shrink to the three phrase terms
    // MAP-SIDE: the isin filter sits below every Exchange, so only
    // (doc_id, pos) postings of the phrase terms ever shuffle
    val lines = p.linesIterator.toList
    val exIdx = lines.indexWhere(_.contains("Exchange"))
    val fIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("big"))
    assert(exIdx >= 0 && fIdx > exIdx,
      s"phrase-term filter not below the first exchange:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("DSIR trains both models in one token-keyed aggregate") {
    val p = plan("q_dsir_select")
    // one groupBy(w) trains target AND background counts via conditional
    // sums — two separate model aggregations would double the gram shuffle
    val modelAggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_sum") &&
        l.contains("CASE WHEN"))
    assert(modelAggs == 1,
      s"expected exactly one partial model aggregate, got $modelAggs:\n$p")
  }

  test("semantic dedup pairs meet only inside cells: cid-keyed join, no product") {
    val p = plan("q_semdedup")
    // cluster assignment is a map-side argmin over centroid literals; the
    // pair space must then form INSIDE cells — an equi-join keyed on cid —
    // never as a corpus-wide product with a post-filter
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cross-cluster pair space formed:\n$p")
    // the equi-key must be cid — either shuffled on it (the 100 TB shape)
    // or, at tiny SF, a broadcast HASH join still keyed [cid], [cid]
    assert(p.linesIterator.exists(l =>
      l.contains("hashpartitioning(cid") ||
        (l.contains("HashJoin") && l.contains("[cid#"))),
      s"pair join not keyed on the cell id:\n$p")
  }

  test("exact-substring removal: gram-keyed and doc-keyed shuffles only, never a pair space") {
    val p = plan("q_exact_substring_rm")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"window pair space formed:\n$p")
    // the hot-gram join must be keyed on the gram string — shuffled on g
    // at scale, or a broadcast HASH join still keyed [g] at tiny SF
    assert(p.linesIterator.exists(l =>
      l.contains("hashpartitioning(g") ||
        (l.contains("HashJoin") && l.contains("[g#"))),
      s"hot-gram join not keyed on the gram:\n$p")
  }

  test("q_bpe_merges emits counts + fingerprint in one map pass: no join, no rewrite caches") {
    // r17: the before/after audit used to self-join the original stream
    // against the round-2 rewrite (a shuffle of every token array) and
    // cache each round's rewritten corpus; both are gone — the merged
    // stream is re-derived map-side (bpeApply) in the SAME projection as
    // the original row, so the plan must be join-free and cache-free
    val p = plan("q_bpe_merges")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"merges audit joins instead of re-deriving the stream map-side:\n$p")
    assert(!p.contains("InMemoryRelation"),
      s"a training-round cache leaked into the merges plan:\n$p")
  }

  test("BPE encode applies the merge table map-side: no join in the encode plan") {
    // training runs its own bounded jobs (pair shuffle + 1-row argmax per
    // round) BEFORE this plan exists; the returned ENCODE plan must fold
    // the literal merge table over each document with no join at all —
    // train once, encode map-side
    val p = plan("q_bpe_encode")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"encode plan joins instead of folding the literal merge table:\n$p")
  }

  test("q_pipeline_full stage plans: no cartesian products, survivors consumed from sealed checkpoints") {
    // The composed curation DAG runs one Spark action per stage (count +
    // digest aggregates, plus the training/dedup stage bodies). The scale
    // contract is that NO stage multiplies another's data movement: every
    // pair space is keyed (digest window / shingle buckets / cid cells),
    // every stage consumes the PREVIOUS stage's sealed (localCheckpoint)
    // survivor set instead of re-deriving the corpus chain, and nothing
    // ever degrades to an unkeyed product. Capture every per-action
    // executed plan via a QueryExecutionListener and assert both.
    // (BroadcastNestedLoopJoin is allowed ONLY for the one-row mixture
    // cmax constant — a broadcast of a single aggregate row.)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rows =
      try {
        val out = SparkEntry.queries("q_pipeline_full")(spark, TestSpark.sfDir)
          .collect()
        // the listener bus is async — wait until the callback count settles
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var last = -1
        while (System.nanoTime() < deadline && plans.size != last) {
          last = plans.size; Thread.sleep(300)
        }
        out
      } finally spark.listenerManager.unregister(listener)
    assert(rows.length == 9, "expected the 9-stage attrition vector")
    import scala.jdk.CollectionConverters._
    val ps = plans.asScala.toVector
    assert(ps.size >= 9, s"expected at least one plan per stage, got ${ps.size}")
    ps.foreach { p =>
      assert(!p.contains("CartesianProduct"),
        s"a pipeline stage degraded to a cartesian product:\n$p")
    }
    // sealed-survivor consumption: the digest/count aggregates and stage
    // bodies must read the checkpointed RDD scans, not re-derive lineage
    val sealedReads = ps.count(_.contains("Scan ExistingRDD"))
    assert(sealedReads >= 8,
      s"only $sealedReads stage plans read sealed survivor sets — " +
        s"stages are re-deriving upstream lineage")
    // r17 (r16 directive 6): the doc_id gate joins must never sort the
    // fat (text/token-array) side. Every gate is hinted shuffle_hash; a
    // Spark upgrade or a dropped hint silently degrading them to
    // sort-merge re-opens the r15 scale-killer (532M+297M of fat-row sort
    // spill measured at 81x). Two assertions: no anti/semi gate is a
    // SortMergeJoin, and the hinted gates actually materialize as
    // ShuffledHashJoin across the stage plans.
    ps.foreach { p =>
      p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
        assert(!l.contains("LeftAnti") && !l.contains("LeftSemi"),
          s"a doc_id gate join degraded to SortMergeJoin:\n$p")
      }
    }
    val shj =
      ps.map(_.linesIterator.count(_.contains("ShuffledHashJoin"))).sum
    assert(shj >= 5,
      s"expected the 5 hinted gate joins (nd/lm/dsir/sen/sem) to appear " +
        s"as ShuffledHashJoin in the stage plans, saw $shj")
  }

  test("q_pipeline_clean gate join hash-builds the dup-id set, never sort-merge on the fat side") {
    // the cleaned-corpus anti-join carries the full text/token rows on
    // its streamed side; the r16 fix pins it to a shuffle-hash build of
    // the skinny dup-id set (broadcast also acceptable at tiny SF) — a
    // sort-merge here re-introduces the fat-row sort at scale
    val p = plan("q_pipeline_clean")
    p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
      assert(!l.contains("LeftAnti"),
        s"the dup-id gate degraded to SortMergeJoin:\n$p")
    }
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"no hash gate join in the clean plan:\n$p")
  }

  test("q_corpus_diff joins snapshots keyed on doc_id, never a product") {
    val p = plan("q_corpus_diff")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"snapshot diff degraded to a product:\n$p")
    // the full-outer diff must be keyed on the id (shuffled hash/sort-merge
    // at scale; small SF may broadcast-hash, still keyed)
    assert(p.contains("FullOuter"), s"diff join not full-outer:\n$p")
  }

  test("q_hard_negatives broadcasts the anchor batch over one corpus scan") {
    val p = plan("q_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"anchor batch not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian pair space:\n$p")
  }

  test("q_bpe_decode plan folds and splits map-side: no join at decode time") {
    // training runs its bounded jobs before this plan exists; the
    // returned encode+decode plan must be join-free map work, same
    // stance as q_bpe_encode
    val p = plan("q_bpe_decode")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"decode plan joins instead of folding map-side:\n$p")
  }

  test("q_pipeline_sink read-back prunes directories on the source predicate") {
    // run the sink (writes the partitioned, z-ordered survivor corpus and
    // returns the read-back audit), then assert a per-domain read-back
    // predicate becomes a PartitionFilter — directory pruning, the reason
    // the corpus is partitioned by source at all
    SparkEntry.queries("q_pipeline_sink")(spark, TestSpark.sfDir).collect()
    val p = graft.operators.PipelineFull
      .corpusReadBack(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") &&
      p.linesIterator.exists(l => l.contains("PartitionFilters") &&
        l.contains("src0")),
      s"source predicate did not become a PartitionFilter:\n$p")
    // and the scan must NOT read the text column for this projection
    assert(p.linesIterator.exists(l => l.contains("ReadSchema") &&
      !l.contains("text")),
      s"column pruning lost on the corpus read-back:\n$p")
  }
}
