package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph algorithms over edge tables. The reference models graphs as edge
  * tables and BFS as an imperative frontier loop mutating tables
  * (fiat2/src/fiat2/Ex_BFS.v:42-101); here each iteration is a distributed
  * join, with `localCheckpoint` truncating lineage so plan size stays O(1) in
  * the number of iterations — essential for deep graphs at cluster scale.
  */
object Graph {

  /** Make an edge set symmetric: (a,b) ∪ (b,a). Columns: src, dst.
    *
    * SIZE CONTRACT: the input is EAGERLY materialized (localCheckpoint)
    * before the self-union — correct and cheap for the edge lists this
    * library produces (near-dup pair graphs, orders of magnitude smaller
    * than their corpus), but a caller passing a corpus-scale edge table
    * pins it into executor block storage with lineage truncated
    * (unrecoverable on executor loss on a real cluster). For such inputs,
    * symmetrize the raw frame inline instead and accept the double
    * computation, or checkpoint to reliable storage first. */
  def symmetrize(edges: DataFrame): DataFrame = {
    // SEAL the directed edge set before the self-union: union's two legs
    // are the SAME subtree, and Spark computes each leg independently
    // (exchange reuse does not dedupe union branches under AQE) — when
    // the edge list is distilled by an expensive pipeline (the near-dup
    // pair space), the whole pipeline ran twice: measured ~2x on
    // q_dedup_clusters vs q_dedup_ngram_jaccard at every corpus scale.
    // An eager localCheckpoint materializes the (tiny) edge list once;
    // both legs then read the checkpoint blocks. Lifetime is plan-tied
    // (ContextCleaner), matching the lmScore gram-stream convention.
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** PageRank in INTEGER FIXED-POINT (rank scaled by `scale`, per-edge
    * contribution = rank // outdeg, damping 0.85 applied as (85*x)//100):
    * every operation is integer division/sum, so the result is bit-exact,
    * order-free, and replayable by a SQL oracle — no float accumulation
    * order to diverge. Dangling mass leaks (deterministically) like the
    * original algorithm's simplest form.
    *
    * Scale shape: the edge table is hash-partitioned by src ONCE and
    * cached; each iteration is one partial-aggregated contribution shuffle
    * (by dst) and one rank rebuild join, with `localCheckpoint` cutting
    * lineage so the plan stays O(1) across iterations — the standard
    * bulk-synchronous PR loop, never a driver-side adjacency walk.
    */
  def pageRank(edges: DataFrame, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.toDF("src", "dst")
      .repartition(spark.sparkContext.defaultParallelism, col("src"))
      .cache()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(deg, "src").cache()
    withDeg.count() // materialize once; iterations reuse the cached join
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    nodes.count() // force before fan-out: every iteration's rebuild join
    // reads it, and AQE submits independent stages concurrently — an
    // unmaterialized cache would be recomputed per consumer
    // LAZY checkpoints (r17): the plan is still truncated per iteration
    // (O(1) plan depth at any iters), but the blocks are written when the
    // FINAL action first computes them instead of by an eager job per
    // iteration — one job executes the whole loop instead of iters+1
    // materialization jobs (each rank_k feeds exactly one rank_{k+1}, so
    // nothing is recomputed; eagerness bought no reuse, only jobs).
    var rank = nodes.select(col("node"), lit(scale).as("rank"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      val contribs = withDeg
        .join(rank, withDeg("src") === rank("node"))
        .select(col("dst"),
          call_function("div", col("rank"), col("outdeg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inn"))
      rank = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"), (lit(scale * 15 / 100) +
          call_function("div", lit(85L) * coalesce(col("inn"), lit(0L)),
            lit(100L))).as("rank"))
        .localCheckpoint(false)
    }
    rank
  }

  /** Min-depth BFS from `source`. Returns (node, depth), one row per node
    * reachable from the source. Frontier-at-depth-d joins the edge table,
    * anti-joins the visited set, repeats until the frontier is empty. The
    * edge table is HASH-PARTITIONED BY `src` once and cached: a small
    * frontier broadcasts (no edge movement at all), and a huge frontier's
    * sort-merge/shuffle-hash join finds the edge side already partitioned
    * on the join key — either way the edge table is never re-shuffled
    * across the O(diameter) iterations.
    */
  def bfs(symEdges: DataFrame, source: Long, maxIter: Int = 100): DataFrame = {
    val spark = symEdges.sparkSession
    import spark.implicits._
    val edges = symEdges.toDF("src", "dst")
      .repartition(spark.sparkContext.defaultParallelism, col("src"))
      .cache()
    var visited = Seq((source, 0L)).toDF("node", "depth").cache()
    var frontier = visited
    var depth = 0L
    var done = false
    while (!done && depth < maxIter) {
      depth += 1
      val next = frontier.join(edges, $"node" === $"src")
        .select($"dst".as("node")).distinct()
        .join(visited.select($"node".as("seen")), $"node" === $"seen", "left_anti")
        .select($"node", lit(depth).as("depth"))
        .localCheckpoint() // cut lineage; also decides emptiness below
      if (next.isEmpty) done = true
      else {
        visited = visited.union(next).localCheckpoint()
        frontier = next
      }
    }
    edges.unpersist()
    visited
  }

  /** Connected components by min-label propagation: every node starts
    * labeled with itself; each round every node takes the min of its own
    * label and its neighbors' labels, until a round changes nothing.
    * Converges in O(component diameter) rounds; per round one shuffle
    * (edge join) + one aggregation, with `localCheckpoint` keeping the
    * plan O(1) in rounds. Returns (node, component) where component is
    * the smallest node id in the node's component.
    *
    * SIZE-GATED LOCAL FAST PATH: when the MEASURED edge count fits
    * trivially in driver memory (default gate 1M edges — collect()
    * materializes boxed Rows plus a boxed-long hash map, so budget
    * ~100s of bytes per edge, not 16), a driver union-find replaces the
    * loop — at that size the distributed rounds cost pure scheduling,
    * not compute. This is the stance the reference takes for its driver
    * event loops and the one production CC implementations ship; a pair
    * graph distilled from a 100 TB corpus that exceeds the gate takes
    * the distributed loop.
    */
  def connectedComponents(symEdges: DataFrame,
      maxIter: Int = 50,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val spark = symEdges.sparkSession
    import spark.implicits._
    // SIZE-GATED LOCAL FAST PATH. A near-dup pair graph is orders of
    // magnitude smaller than the corpus that produced it; when the
    // MEASURED edge count fits trivially in driver memory (4M edges =
    // 64 MB of long pairs), a driver union-find replaces O(log d) rounds
    // of distributed jobs whose cost is pure scheduling at that size —
    // the same stance the reference takes for its driver event loops and
    // the one production CC implementations (e.g. GraphFrames) ship.
    // Larger graphs take the distributed label-propagation loop below;
    // the gate is a measured cardinality, never a guessed statistic.
    // NB deliberately NOT a stats-derived count: plan statistics of a
    // derived join pipeline (a near-dup pair graph) can be wildly
    // overestimated, and a six-figure partition count here would grind the
    // iterative rounds to a halt. Instead the edge set is materialized
    // once and everything downstream — the local/distributed choice and
    // the iteration width — is sized from its MEASURED cardinality.
    val edgesRaw = symEdges.toDF("src", "dst").cache()
    val nEdges = edgesRaw.count()
    val isLongIds = symEdges.schema.fields.take(2).forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (isLongIds && nEdges <= localEdgeThreshold) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edgesRaw.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // union by min label: the root IS the component id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      edgesRaw.unpersist()
      // snapshot the keys BEFORE the final find pass — find() path-
      // compresses (mutates values) and must not race a live iterator
      val nodes = parent.keys.toArray
      val out = nodes.map(v => (v, find(v))).toSeq
      return spark.createDataset(out).toDF("node", "component")
    }
    // distributed label propagation: ~1M edges per partition keeps tasks
    // meaningful; huge graphs still get full parallelism
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 1000000L + 1L)).toInt
    val edges = edgesRaw.repartition(parts, col("src")).cache()
    var labels = edges.select($"src".as("node"))
      .distinct().withColumn("label", $"node")
      .repartition(parts, col("node")).localCheckpoint()
    // labels only ever DECREASE (min with neighbors), so a cheap per-round
    // CHECKSUM detects candidate fixpoints: hash-based, so it works for
    // any id type and a (vanishingly unlikely) checksum collision is
    // caught by the exact confirmation join before terminating
    def checksum(df: DataFrame): Long =
      // addends bounded to [0, 1e6) so the ANSI-mode sum cannot overflow
      // Long for any realistic row count; collisions are caught by the
      // exact confirmation below
      df.agg(coalesce(sum(pmod(xxhash64($"node", $"label"),
          lit(1000003L))), lit(0L)))
        .head().getLong(0)
    // sentinel: the first round never reads a meaningful previous sum,
    // so don't pay a job computing one
    var prevSum = -1L
    var iter = 0
    var done = false
    var wallProp = 0L; var wallSum = 0L; var wallConfirm = 0L
    while (!done && iter < maxIter) {
      iter += 1
      val t0 = System.nanoTime()
      // neighbor labels flow along edges; min with the node's own label
      val prop = edges.join(labels, $"src" === $"node")
        .select($"dst".as("node"), $"label")
      // cache (not a second checkpoint): the self-join below reads it
      // twice; released as soon as `next` has materialized
      val stepped = labels.union(prop)
        .groupBy($"node").agg(min($"label").as("label"))
        .cache()
      // pointer jumping: also take the label OF the label (every label is
      // itself a node id), shortcutting chains — O(log diameter) rounds
      // instead of O(diameter)
      val next = stepped.join(stepped.select($"node".as("jn"),
          $"label".as("jl")), $"label" === $"jn")
        .select($"node", least($"label", $"jl").as("label"))
        .localCheckpoint()
      stepped.unpersist()
      val t1 = System.nanoTime()
      val s = checksum(next)
      val t2 = System.nanoTime()
      if (s == prevSum) {
        // confirm exactly — the checksum is a filter, not the proof
        done = next.join(labels.select($"node".as("n2"), $"label".as("l2")),
          $"node" === $"n2").filter($"label" =!= $"l2").isEmpty
      }
      val t3 = System.nanoTime()
      wallProp += t1 - t0; wallSum += t2 - t1; wallConfirm += t3 - t2
      prevSum = s
      labels = next
    }
    edges.unpersist()
    edgesRaw.unpersist()
    System.err.println(
      f"[graft-cc] edges=$nEdges path=distributed rounds=$iter parts=$parts " +
        f"prop=${wallProp / 1e9}%.1fs checksum=${wallSum / 1e9}%.1fs " +
        f"confirm=${wallConfirm / 1e9}%.1fs")
    labels.select($"node", $"label".as("component"))
  }
}
