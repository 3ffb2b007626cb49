package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{GraftQuery, Tables}
import graft.plans.Graph

/** The reference's end-to-end example workloads (SURVEY.md §5), re-expressed
  * over the TPC-H-ish tables: Ex_Orders (point lookup + aggregates), Ex_Sum
  * (incremental sum), MinAgg (incremental min), Ex_Family (multi-hop
  * self-join), Ex_Triangle (triple self-join with inequality), Ex_BFS
  * (iterative frontier), Ex_Survey (join + rollup).
  */
object Workloads {
  private val D = DecimalType(18, 2)
  private def dec(c: org.apache.spark.sql.Column) = c.cast(D)

  val queries: Seq[GraftQuery] = Seq(

    // Ex_Orders (fiat2/src/fiat2/Ex_Orders.v:54-120): per-customer point
    // lookup + materialized sum/min aggregates. The o_custkey predicate is
    // pushed to the parquet scan.
    GraftQuery.sql("q_orders_lookup",
      """SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        |  CAST(MIN(o_totalprice) AS DOUBLE) AS min_order,
        |  COUNT(*) AS n_orders
        |FROM orders WHERE o_custkey = 7""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders").filter($"o_custkey" === 7)
        .agg(sum(dec($"o_totalprice")).cast("double").as("total_spent"),
          min($"o_totalprice").cast("double").as("min_order"),
          count(lit(1)).as("n_orders"))
    },

    // Dict index (fiat2/src/fiat2/DictIndexImpl.v:374-389): build a keyed
    // cached index on events.user_id, then serve batched point lookups from
    // it instead of rescanning the source.
    GraftQuery.sql("q_dict_index_lookup",
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE user_id IN (1, 2, 3)
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val idx = DictIndex.build(Tables.load(s, dir, "events"), "user_id")
      val out = idx.lookupMany(Seq(1L, 2L, 3L))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum(dec($"value")).cast("double").as("total"))
        .orderBy("user_id")
      out
    },

    // Ex_Sum IVM (fiat2/src/fiat2/SumAgg.v:150-155): events arrive in 10
    // micro-batches; the sum/count merges partial aggregates per batch —
    // no batch is ever re-scanned.
    GraftQuery.sql("q_sum_ivm",
      """SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  COUNT(*) AS n_events FROM events""".stripMargin) { (s, dir) =>
      import s.implicits._
      val events = Tables.load(s, dir, "events")
      val st = Ivm.incrementalSum(
        Ivm.microBatches(events, $"event_id", 10), $"value")
      Seq((st.sum.doubleValue, st.count)).toDF("total_value", "n_events")
    },

    // MinAgg IVM (fiat2/src/fiat2/MinAgg.v:150-161): running min over the
    // same micro-batches (ACI merge — idempotent under replay).
    GraftQuery.sql("q_min_ivm",
      "SELECT CAST(MIN(value) AS DOUBLE) AS min_value FROM events") { (s, dir) =>
      import s.implicits._
      val events = Tables.load(s, dir, "events")
      val m = Ivm.incrementalMin(
        Ivm.microBatches(events, $"event_id", 10), $"value")
      Seq(m).toDF("min_value")
    },

    // Bloom semi-join pruning (functions/Bloom): lineitem rows are
    // pre-filtered by a distributed-built sketch of the URGENT orders'
    // keys BEFORE the join shuffle — ~80% of the fact side never leaves
    // its input partition. The sketch is sized from the MEASURED filtered
    // dimension count; the exact join after the pre-filter absorbs false
    // positives, so the result is row-identical to the plain join (the
    // oracle). The explicit form of Spark's InjectRuntimeFilter, minus
    // its session-global conf requirements.
    GraftQuery.sql("q_bloom_join",
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin) { (s, dir) =>
      import s.implicits._
      val urgent = Tables.load(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
        .cache()
      val bloom = graft.functions.Bloom.buildLong(
        urgent, "o_orderkey", urgent.count())
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_extendedprice")
        .filter(graft.functions.Bloom.mightContain(bloom, $"l_orderkey"))
      li.join(urgent, $"l_orderkey" === $"o_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(dec($"l_extendedprice")).cast("double").as("revenue"))
    },

    // Incrementally maintained JOIN view (Ivm.incrementalJoin): orders AND
    // customers both arrive in 4 micro-batches; each tick appends only the
    // delta joins ΔO⋈(C∪ΔC) ∪ O⋈ΔC — the accumulated O⋈C is never
    // recomputed. The oracle is the full join, proving the delta algebra
    // reconstructs it exactly.
    GraftQuery.sql("q_join_ivm",
      """SELECT c_mktsegment AS segment, COUNT(*) AS n,
        |  CAST(CAST(SUM(o_orderkey) AS HUGEINT) AS VARCHAR) AS key_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ordersB = Ivm.microBatches(
        Tables.load(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
        $"o_orderkey", 4)
      val custB = Ivm.microBatches(
        Tables.load(s, dir, "customer").select($"c_custkey", $"c_mktsegment"),
        $"c_custkey", 4)
      Ivm.incrementalJoin(ordersB, custB,
          (o, c) => o.join(c, o("o_custkey") === c("c_custkey")))
        .groupBy($"c_mktsegment".as("segment"))
        .agg(count(lit(1)).as("n"),
          sum($"o_orderkey".cast("decimal(38,0)")).cast("string")
            .as("key_sum"))
        .orderBy("segment")
    },

    // GROUPED aggregate view under retraction (Ivm.incrementalGroupSumZ):
    // per-event-type sums maintained over 6 ticks; tick 5 retracts every
    // 'error' event that arrived in ticks 0-4 (the moderation shape:
    // a whole class of rows withdrawn after the fact). Each tick costs one
    // key-bounded partial aggregate; the consolidating read drops keys
    // whose net count is zero. Decimal weighting makes insert-then-delete
    // cancel bit-exactly, so the oracle is the declarative surviving set.
    GraftQuery.sql("q_sum_ivm_retract",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE NOT (event_type = 'error' AND event_id % 6 != 5)
        |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      // one materialized snapshot serves every tick filter (the
      // microBatches discipline): n ticks, ONE source scan
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"event_type", $"value")
        .withColumn("__tick", pmod($"event_id", lit(6)))
        .repartition(6, $"__tick").cache()
      ev.count()
      try {
        val ins = (0 until 6).map(t =>
          ev.filter($"__tick" === t).drop("__tick").withColumn("w", lit(1L)))
        val retract = ev
          .filter($"event_type" === "error" && $"__tick" =!= 5)
          .drop("__tick").withColumn("w", lit(-1L))
        val ticks = ins.updated(5, ins(5).union(retract))
        Ivm.incrementalGroupSumZ(ticks, Seq("event_type"), dec($"value"))
          .select($"event_type", $"n".cast("long").as("n"),
            $"s".cast("double").as("total"))
          .orderBy("event_type")
        // every tick partial is eagerly checkpointed inside the builder, so
        // the snapshot cache is not referenced by the returned plan — drop
        // it here instead of leaking it past the query
      } finally ev.unpersist(blocking = false)
    },

    // RETRACTION-capable join view (Ivm.incrementalJoinZ): orders and
    // lineitem arrive in 4 ticks; tick 3 additionally RETRACTS every
    // F-status order that arrived in ticks 0-2 (weight −1 rows, whose
    // joined products cancel each pair those inserts produced). The
    // consuming aggregate reads the weights directly — SUM(w), SUM(w*qty)
    // — never materializing a consolidated view. The oracle states the
    // surviving set declaratively, proving insert+delete maintenance
    // reconstructs it exactly.
    GraftQuery.sql("q_join_ivm_retract",
      """SELECT o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey < 200
        |  AND NOT (o_orderstatus = 'F' AND o_orderkey % 4 != 3)
        |GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      import s.implicits._
      // one materialized snapshot per side serves every tick filter (the
      // microBatches discipline): n ticks, ONE scan of each source
      val ord = Tables.load(s, dir, "orders").filter($"o_orderkey" < 200)
        .select($"o_orderkey", $"o_orderstatus")
        .withColumn("__tick", pmod($"o_orderkey", lit(4)))
        .repartition(4, $"__tick").cache()
      val li = Tables.load(s, dir, "lineitem").filter($"l_orderkey" < 200)
        .select($"l_orderkey", $"l_quantity".cast("long").as("qty"))
        .withColumn("__tick", pmod($"l_orderkey", lit(4)))
        .repartition(4, $"__tick").cache()
      ord.count(); li.count()
      try {
        val ordIns = (0 until 4).map(t =>
          ord.filter($"__tick" === t).drop("__tick").withColumn("w", lit(1L)))
        val retract = ord
          .filter($"o_orderstatus" === "F" && $"__tick" =!= 3)
          .drop("__tick").withColumn("w", lit(-1L))
        val ordB = ordIns.updated(3, ordIns(3).union(retract))
        val liB = (0 until 4).map(t =>
          li.filter($"__tick" === t).drop("__tick").withColumn("w", lit(1L)))
        Ivm.incrementalJoinZ(ordB, liB,
            (o, l) => o("o_orderkey") === l("l_orderkey"))
          .groupBy($"o_orderstatus".as("status"))
          .agg(sum($"w").cast("long").as("n"),
            sum($"w" * $"qty").cast("long").as("qty"))
          .orderBy("status")
        // per-tick join deltas are eagerly checkpointed inside the builder;
        // the returned view never re-reads the snapshots — drop them here
      } finally { ord.unpersist(blocking = false); li.unpersist(blocking = false) }
    },

    // Skew-salted fact-fact join (plans/Salting.scala): each join key is
    // spread over 8 reducers (deterministic row-hash salt) and the other
    // side replicated per salt — the remedy when a handful of hot keys
    // would otherwise serialize one reducer and AQE's skew splitting can't
    // apply (the joined rows feed an aggregation). The join strategy and
    // exchange widths are the planner's, at every scale. Row-identical to
    // the plain join, which is exactly what the oracle checks.
    GraftQuery.sql("q_salted_join",
      """SELECT o_orderpriority AS priority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY priority ORDER BY priority""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_extendedprice")
      val ord = Tables.load(s, dir, "orders")
        .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
      graft.plans.Salting.saltedJoin(li, ord, "l_orderkey", salts = 8)
        .groupBy($"o_orderpriority".as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(dec($"l_extendedprice")).cast("double").as("revenue"))
        .orderBy("priority")
    },

    // Ex_Family (fiat2/src/fiat2/Ex_Family.v:74-86): grandchildren = two-hop
    // join customer → orders → parts; shuffle join on the shared key.
    GraftQuery.sql("q_family_2hop",
      """SELECT o_custkey AS grandparent, COUNT(DISTINCT l_partkey) AS n_grandchildren
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY grandparent""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey".as("grandparent"))
        .agg(countDistinct($"l_partkey").as("n_grandchildren"))
        .orderBy("grandparent")
    },

    // Ex_Triangle (fiat2/src/fiat2/Ex_Triangle.v:99-111): triangle count by
    // triple self-join with ordering predicate a<b<c on a bounded synthetic
    // graph (keys mod 100 — node count fixed at any scale factor).
    GraftQuery.sql("q_triangle",
      """WITH e AS (SELECT DISTINCT l_orderkey % 100 AS a, l_partkey % 100 AS b
        |           FROM lineitem WHERE l_orderkey % 100 < l_partkey % 100)
        |SELECT COUNT(*) AS n_triangles
        |FROM e e1, e e2, e e3
        |WHERE e1.b = e2.a AND e1.a = e3.a AND e2.b = e3.b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = Tables.load(s, dir, "lineitem")
        .select(($"l_orderkey" % 100).as("a"), ($"l_partkey" % 100).as("b"))
        .filter($"a" < $"b").distinct().cache()
      val e1 = e.select($"a".as("x"), $"b".as("y"))
      val e2 = e.select($"a".as("y2"), $"b".as("z"))
      val e3 = e.select($"a".as("x3"), $"b".as("z3"))
      e1.join(e2, $"y" === $"y2")
        .join(e3, $"x" === $"x3" && $"z" === $"z3")
        .agg(count(lit(1)).as("n_triangles"))
    },

    // Ex_BFS (fiat2/src/fiat2/Ex_BFS.v:89-101): min-depth BFS from node 0 on
    // the symmetrized mod-100 graph; oracle = recursive CTE.
    GraftQuery.sql("q_bfs",
      """WITH RECURSIVE
        |  e AS (SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst FROM lineitem),
        |  sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |  bfs AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
        |          UNION
        |          SELECT sym.dst, d + 1 FROM bfs JOIN sym ON bfs.node = sym.src
        |          WHERE d < 8)
        |SELECT node, MIN(d) AS depth FROM bfs GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
      import s.implicits._
      val edges = Tables.load(s, dir, "lineitem")
        .select(($"l_orderkey" % 100).as("src"), ($"l_partkey" % 100).as("dst"))
        .distinct()
      // maxIter matches the oracle CTE's d < 8 recursion bound exactly
      Graph.bfs(Graph.symmetrize(edges), 0L, maxIter = 8).orderBy("node")
    },

    // PageRank (3 iterations) on the directed mod-100 lineitem graph, in
    // INTEGER FIXED-POINT (scale 10^6, damping as (85*x)//100) so the
    // oracle unrolls the exact same arithmetic — no float accumulation
    // order to diverge, hash-exact. Plan: per-iteration contribution
    // shuffle + rank rebuild over a once-partitioned cached edge table
    // (plans/Graph.pageRank).
    GraftQuery.sql("q_pagerank",
      """WITH e AS (SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst FROM lineitem),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |c1 AS (SELECT dst, CAST(SUM(rank // outdeg) AS BIGINT) AS inn
        |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY dst),
        |r1 AS (SELECT node, 150000 + (85 * COALESCE(inn, 0)) // 100 AS rank
        |       FROM nodes LEFT JOIN c1 ON node = dst),
        |c2 AS (SELECT dst, CAST(SUM(rank // outdeg) AS BIGINT) AS inn
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY dst),
        |r2 AS (SELECT node, 150000 + (85 * COALESCE(inn, 0)) // 100 AS rank
        |       FROM nodes LEFT JOIN c2 ON node = dst),
        |c3 AS (SELECT dst, CAST(SUM(rank // outdeg) AS BIGINT) AS inn
        |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY dst),
        |r3 AS (SELECT node, 150000 + (85 * COALESCE(inn, 0)) // 100 AS rank
        |       FROM nodes LEFT JOIN c3 ON node = dst)
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin) { (s, dir) =>
      import s.implicits._
      val edges = Tables.load(s, dir, "lineitem")
        .select(($"l_orderkey" % 100).as("src"), ($"l_partkey" % 100).as("dst"))
        .distinct()
      Graph.pageRank(edges, iters = 3).orderBy("node")
    },

    // Ex_Survey (fiat2/src/fiat2/Ex_Survey.v:30-38): star join customer →
    // nation → region with rollup; both dimensions broadcast.
    GraftQuery.sql("q_survey_rollup",
      """SELECT r_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.load(s, dir, "region")),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_customers"),
          sum(dec($"c_acctbal")).cast("double").as("total_bal"))
        .orderBy("r_name")
    },
  )
}
