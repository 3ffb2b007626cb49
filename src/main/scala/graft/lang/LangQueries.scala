package graft.lang

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraftQuery, Tables}
import graft.functions.BigIntOps

/** End-to-end programs written in fiat2's notation (Notations.v:52-148, as
  * `Parser` reads it), parsed once when `queries` is built, compiled by
  * `Compiler` / run by `Interp`, and checked against the same DuckDB
  * oracles as the direct DataFrame queries.
  */
object LangQueries {
  import Lang._
  import Compiler._

  private val parsed =
    Vector.newBuilder[(String, String, Either[Expr, Command])]

  /** Parse `text`, an expression program of `query`, and register it. */
  private def expr(query: String, text: String): Expr = {
    val e = Parser.parseExpr(text)
    parsed += ((query, text, Left(e)))
    e
  }

  /** Parse `text`, a command program of `query`, and register it. */
  private def command(query: String, text: String): Command = {
    val c = Parser.parseCommand(text)
    parsed += ((query, text, Right(c)))
    c
  }

  private def rows(prog: Expr, env: Env): DataFrame =
    compileProgram(prog, env).asInstanceOf[TV].df

  /** A table program on the tiered TInt mapping (`autoWideTable`), its
    * store bound for whichever tier runs. */
  private def tiered(s: SparkSession, dir: String, prog: Expr,
      store: Store): DataFrame =
    autoWideTable(Env(Map.empty, Map.empty, s)) {
      env => rows(prog, store.bind(env, dir))
    }

  /** Whole tables, as stored. */
  private def tables(s: SparkSession, dir: String,
      names: String*): Map[String, DataFrame] =
    names.map(n => n -> Tables.load(s, dir, n)).toMap

  private def stringRow(s: SparkSession, name: String, v: String) =
    s.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(v)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name,
          org.apache.spark.sql.types.StringType))))

  /** The word-op battery's store: `t(k, w)` with `w` a word, which the
    * schema alone cannot say (a word is stored as a Long or binary). */
  private val wordStore = Store("t" -> Seq("k" -> TInt, "w" -> TWord)).types

  /** The word-op battery over `t(k, w)`, with the width's own multiply
    * constant and (past width 64) wrap-add constant. */
  private def wordBattery(query: String, wm: Long, wa: Option[Long]): Expr = {
    val prog = expr(query, s"""
      mapBag (mut t) o { k : o[k],
        du : wdivu(o[w], word(7)), ds : wdivs(o[w], word(-7)),
        mu : wmodu(o[w], word(7)), ms : wmods(o[w], word(-7)),
        dz : wdivu(o[w], word(0)), mz : wmods(o[w], word(0)),
        wm : wmul(o[w], word($wm)),${wa.fold("")(v => s" wa : wadd(o[w], word($v)),")}
        ult : wltu(o[w], word(100)), slt : wlts(o[w], word(100)) }""")
    val words = Seq("du", "ds", "mu", "ms", "dz", "mz", "wm") ++ wa.map(_ => "wa")
    require(TypeCheck.synthesize(prog, Map.empty, wordStore) ==
      TBag(TRecord.sorted(Seq("k" -> TInt, "ult" -> TBool, "slt" -> TBool) ++
        words.map(_ -> TWord): _*)))
    prog
  }

  val queries: Seq[GraftQuery] = Seq(

    // Ex_Employee (fiat2/src/fiat2/Ex_Employee.v:23-27): join suppliers to
    // nations, project {emp,dept}, sort.
    GraftQuery.sql("q_lang_employee",
      """SELECT s_name AS emp_name, n_name AS dept_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY dept_name, emp_name""".stripMargin) {
      val prog = expr("q_lang_employee", """
        sort(joinBag (mut supplier) (mut nation) e d
          (e[s_nationkey] == d[n_nationkey])
          { emp_name : e[s_name], dept_name : d[n_name] })""")
      (s, dir) => compile(prog,
        Env(Map.empty, tables(s, dir, "supplier", "nation"), s))
        .asInstanceOf[TV].df
    },

    // filter → project → AC-fold sum; the filter predicate reaches the
    // parquet scan through the compiled plan.
    GraftQuery.sql("q_lang_agg",
      """SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin) {
      val prog = expr("q_lang_agg", """
        sum(mapBag (filterBag (mut lineitem) l l[l_returnflag] == "R")
          l l[l_qty])""")
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("l_qty"))
        val env = Env(Map.empty, Map("lineitem" -> li), s)
        s.range(1).select(
          asScalar(compile(prog, env)).cast("long").as("total_qty"))
      }
    },

    // UNBOUNDED TInt (Coq Z) through the opt-in bignum mapping
    // (Env.bigInt): TInt compiles to BigIntOps' canonical bytes instead of
    // LongType, so arithmetic whose result exceeds 2^63 — here a sum of
    // 10^15-scaled custkeys, ~10^22 at sf0.01 — computes exactly where the
    // default mapping would raise its directed overflow (README "Known
    // divergences" #1; the reference's TInt is Z,
    // fiat2/src/fiat2/Value.v:12). `toStr` renders the bytes in decimal;
    // the oracle replays the sum in DuckDB HUGEINT and renders it too.
    GraftQuery.sql("q_lang_wide_sum",
      """SELECT CAST(SUM(CAST(o_custkey AS HUGEINT) * 1000000000000000)
        |            AS VARCHAR) AS total
        |FROM orders""".stripMargin) {
      val prog = expr("q_lang_wide_sum",
        "toStr(sum(mapBag (mut orders) o o[o_custkey] * 1000000000000000))")
      val store = Store("orders" -> Seq("o_custkey" -> TInt))
      (s, dir) => {
        val env = store.bind(Env(Map.empty, Map.empty, s, bigInt = true), dir)
        s.range(1).select(asScalar(compile(prog, env)).as("total"))
      }
    },

    // AUTO-PROMOTION (tiered TInt): the SAME past-2^63 sum as
    // q_lang_wide_sum, but with NO flag — `Compiler.autoWide` runs the
    // program on the default 64-bit mapping, catches the directed
    // TInt-overflow error, and replays it on the bignum mapping, matching
    // the reference's unbounded-Z value with zero widening cost for
    // programs that never overflow (README "Known divergences" #1 is
    // closed at the program boundary by this tier).
    GraftQuery.sql("q_lang_auto_widen",
      """SELECT CAST(SUM(CAST(o_custkey AS HUGEINT) * 1000000000000000)
        |            AS VARCHAR) AS total
        |FROM orders""".stripMargin) {
      val prog = expr("q_lang_auto_widen",
        "toStr(sum(mapBag (mut orders) o o[o_custkey] * 1000000000000000))")
      val store = Store("orders" -> Seq("o_custkey" -> TInt))
      (s, dir) => stringRow(s, "total",
        Compiler.autoWide(Env(Map.empty, Map.empty, s)) { env =>
          // table AGSum is EAGER (the overflow surfaces inside the tier);
          // toStr renders tier-correctly (bignum decodes, narrow casts)
          s.range(1).select(asScalar(compile(prog, store.bind(env, dir)))
            .as("total")).head().getString(0)
        })
    },

    // A sum whose VALUE passes 10^38 — past the narrow Long mapping and
    // past the Decimal(38,0) partials the narrow tier sums in. autoWide
    // re-tiers once (the per-row ×10^18 overflows Long) and lands on the
    // BIGNUM mapping (Env.bigInt — BinaryType columns under BigIntMath's
    // order-preserving encoding), reproducing the reference's unbounded Z
    // exactly (fiat2/src/fiat2/Value.v:12).
    // nation is the fixture because it is SF-stable (sum(n_nationkey) =
    // 300 at every SF), keeping the oracle's HUGEINT arithmetic in range:
    // 300 × 4×10^35 = 1.2×10^38 < 2^127.
    GraftQuery.sql("q_lang_bignum",
      """SELECT CAST(SUM(CAST(n_nationkey AS HUGEINT)
        |                * 1000000000000000000 * 400000000000000000)
        |            AS VARCHAR) AS total
        |FROM nation""".stripMargin) {
      val prog = expr("q_lang_bignum", """
        toStr(sum(mapBag (mut nation) n
          n[n_nationkey] * 1000000000000000000 * 400000000000000000))""")
      val store = Store("nation" -> Seq("n_nationkey" -> TInt))
      (s, dir) => stringRow(s, "total",
        Compiler.autoWide(Env(Map.empty, Map.empty, s)) { env =>
          // toStr renders tier-correctly (bignum decodes; the other tiers
          // cast) — the driver just reads the string back
          s.range(1).select(asScalar(compile(prog, store.bind(env, dir)))
            .as("total")).head().getString(0)
        })
    },

    // A monad-comprehension program — `c <- customer; n <- nation;
    // check(c.key == n.key); ret {cust, nat}` — exactly what the reference's
    // notation desugars to (nested flatmap/if/cons, Notations.v:144-149).
    // `Rewrites.normalize` RECOGNIZES the join (to_join_head) so the compiled
    // plan is a real equi-join, not a filtered cross product. The reference
    // lifecycle (SURVEY.md §3.1): typecheck → optimize → execute, with the
    // table types declared as in fiat2's Gstore.
    GraftQuery.sql("q_lang_comprehension",
      """SELECT c_name AS cust, n_name AS nat
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY cust, nat""".stripMargin) {
      val prog = expr("q_lang_comprehension", """
        sort(flatmapBag (mut customer) c flatmapBag (mut nation) n
          if c[c_nationkey] == n[n_nationkey]
          then { cust : c[c_name], nat : n[n_name] }
            :: nil[{ cust : string, nat : string }]
          else nil[{ cust : string, nat : string }])""")
      val store = Store(
        "customer" -> Seq("c_custkey" -> TInt, "c_name" -> TString,
          "c_nationkey" -> TInt),
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString,
          "n_regionkey" -> TInt))
      require(TypeCheck.synthesize(prog, Map.empty, store.types) ==
        TList(TRecord.sorted("cust" -> TString, "nat" -> TString)))
      (s, dir) => rows(prog,
        Env(Map.empty, tables(s, dir, "customer", "nation"), s))
    },

    // Self-join THROUGH the language (the Ex_Family/Ex_Triangle shape): both
    // join operands are the same table; the compiler's aliasing resolves the
    // two row variables to distinct sides.
    GraftQuery.sql("q_lang_selfjoin",
      """SELECT n1.n_nationkey AS a, n2.n_nationkey AS b, n1.n_regionkey AS rk
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey
        | AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY a, b, rk""".stripMargin) {
      val prog = expr("q_lang_selfjoin", """
        sort(joinBag (mut nation) (mut nation) x y
          (x[n_regionkey] == y[n_regionkey] && x[n_nationkey] < y[n_nationkey])
          { a : x[n_nationkey], b : y[n_nationkey], rk : x[n_regionkey] })""")
      (s, dir) => rows(prog, Env(Map.empty, tables(s, dir, "nation"), s))
    },

    // GENERAL DECORRELATION: a correlated table-valued flatmap body the
    // recognition rewrites do NOT cover — the correlation sits in an INNER
    // filter (non-equi, Ex_Triangle-style inequality) below another filter,
    // so dependentBodyToJoin's pattern misses it and the reference would
    // interpret it as a nested loop (fiat2/src/fiat2/Interpret.v:273-299).
    // The compiler's decorrelate() peels the filter chain + projection and
    // lowers the whole comprehension to ONE aliased θ-join: Catalyst
    // extracts the equi conjunct for a hash join and keeps the inequality
    // as a join residual — a distributed plan, not per-row evaluation.
    GraftQuery.sql("q_lang_decorrelate",
      """SELECT n_name AS nat, CAST(s_suppkey AS BIGINT) AS sk, s_name AS sup
        |FROM nation JOIN supplier
        |  ON s_suppkey * 4 < n_nationkey * 50 + 40
        | AND s_nationkey = n_nationkey
        |ORDER BY nat, sk, sup""".stripMargin) {
      val prog = expr("q_lang_decorrelate", """
        sort(flatmapBag (mut nation) n
          mapBag (filterBag
              (filterBag (mut supplier) s s[s_suppkey] * 4 < n[n_nationkey] * 50 + 40)
              t t[s_nationkey] == n[n_nationkey])
            u { nat : n[n_name], sk : u[s_suppkey], sup : u[s_name] })""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString,
          "n_regionkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_name" -> TString,
          "s_nationkey" -> TInt))
      require(TypeCheck.synthesize(prog, Map.empty, store.types) ==
        TList(TRecord.sorted("nat" -> TString, "sk" -> TInt, "sup" -> TString)))
      (s, dir) => rows(prog, store.bind(Env(Map.empty, Map.empty, s), dir))
    },

    // CORRELATED SCALAR AGGREGATES unnested (Compiler.projCorrelatedAggs):
    // one projection computes, per nation, a correlated COUNT (via len),
    // a correlated SUM, and a correlated MAX whose source carries an extra
    // inner-only filter — the classic correlated-subquery triple. The
    // reference interprets each as a per-row nested loop
    // (Interpret.v:273-299); the engine lowers the aggregates to ONE
    // groupBy of the inner table on its equi-key plus a LEFT join back —
    // COUNT/SUM default to 0 on no-match, MAX stays null (ACI
    // None-on-empty), which the oracle's NULL for Antarctica-style empty
    // groups checks directly.
    GraftQuery.sql("q_lang_corr_agg",
      """SELECT n_name AS nat,
        |  (SELECT COUNT(*) FROM supplier WHERE s_nationkey = n_nationkey) AS ns,
        |  CAST(COALESCE((SELECT SUM(s_suppkey) FROM supplier
        |                 WHERE s_nationkey = n_nationkey), 0) AS BIGINT) AS ksum,
        |  (SELECT MAX(s_suppkey) FROM supplier
        |   WHERE s_nationkey = n_nationkey AND s_suppkey % 2 = 0) AS maxeven
        |FROM nation ORDER BY nat""".stripMargin) {
      val prog = expr("q_lang_corr_agg", """
        mapBag (mut nation) n { nat : n[n_name],
          ns : len(filterBag (mut supplier) s0 s0[s_nationkey] == n[n_nationkey]),
          ksum : sum(mapBag
            (filterBag (mut supplier) s1 s1[s_nationkey] == n[n_nationkey])
            p1 p1[s_suppkey]),
          maxeven : max(mapBag
            (filterBag (filterBag (mut supplier) s2 s2[s_nationkey] == n[n_nationkey])
              r2 r2[s_suppkey] % 2 == 0)
            p2 p2[s_suppkey]) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      (s, dir) => tiered(s, dir, prog, store).orderBy("nat")
    },

    // CORRELATED AGGREGATE INSIDE A FILTER PREDICATE
    // (Compiler.filterCorrelatedAggs): the reference's arbitrary-body
    // semantics put aggregates anywhere an expression goes
    // (Interpret.v:273-299) — here the nested COUNT and SUM sit in the
    // WHERE clause, not the projection. The engine joins ONE key-grouped
    // aggregate of supplier (count and sum together) onto the outer table
    // (no outer-row duplication: the join key is grouped; Catalyst makes
    // the join inner because `count > 0` rejects no-match rows), evaluates
    // the rewritten predicate, and projects the nation row back out.
    // COUNT > 0 (not
    // > 1): sf0.001 has ~10 suppliers over 25 nations, so per-nation
    // counts never exceed 1 and a >1 threshold is vacuous at the smoke
    // scale. The two-aggregate filter shape (COUNT conjunct + SUM-parity
    // conjunct) is what this query pins.
    GraftQuery.sql("q_lang_corr_filter",
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
        |FROM nation n
        |WHERE (SELECT COUNT(*) FROM supplier s
        |       WHERE s.s_nationkey = n.n_nationkey) > 0
        |  AND COALESCE((SELECT SUM(s_suppkey) FROM supplier s
        |                WHERE s.s_nationkey = n.n_nationkey), 0) % 2 = 0
        |ORDER BY n_nationkey""".stripMargin) {
      val prog = expr("q_lang_corr_filter", """
        filterBag (mut nation) n
          0 < len(filterBag (mut supplier) s0 s0[s_nationkey] == n[n_nationkey])
          && sum(mapBag
               (filterBag (mut supplier) s1 s1[s_nationkey] == n[n_nationkey])
               p1 p1[s_suppkey]) % 2 == 0""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      (s, dir) => tiered(s, dir, prog, store).orderBy("n_nationkey")
    },

    // CORRELATED AGGREGATES IN A FILTER PREDICATE, TABLE-SCALE OUTER
    // (supplier × lineitem): the same shape as q_lang_corr_filter but with
    // a real-cardinality outer and a fact-table aggregate side, so the
    // unnesting's grouped join must partial-aggregate map-side before
    // the shuffle (plan-asserted in PlanQualitySpec) — the 100 TB posture
    // for this rewrite.
    GraftQuery.sql("q_lang_corr_filter_big",
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name
        |FROM supplier s
        |WHERE (SELECT COUNT(*) FROM lineitem l
        |       WHERE l.l_suppkey = s.s_suppkey) > 0
        |  AND COALESCE((SELECT SUM(l_orderkey) FROM lineitem l
        |                WHERE l.l_suppkey = s.s_suppkey), 0) % 3 = 0
        |ORDER BY s_suppkey""".stripMargin) {
      val prog = expr("q_lang_corr_filter_big", """
        filterBag (mut supplier) s
          0 < len(filterBag (mut lineitem) l0 l0[l_suppkey] == s[s_suppkey])
          && sum(mapBag
               (filterBag (mut lineitem) l1 l1[l_suppkey] == s[s_suppkey])
               p1 p1[l_orderkey]) % 3 == 0""")
      val store = Store(
        "supplier" -> Seq("s_suppkey" -> TInt, "s_name" -> TString),
        "lineitem" -> Seq("l_orderkey" -> TInt, "l_suppkey" -> TInt))
      (s, dir) => tiered(s, dir, prog, store).orderBy("s_suppkey")
    },

    // NON-EQUI CORRELATED AGGREGATES (join-then-reaggregate): each nation
    // aggregates the suppliers BELOW its key (s_nationkey < n_nationkey —
    // no clean outer=inner equality) with a parity equi-conjunct mixed in.
    // The unnesting joins supplier onto a positioned copy of nation on the
    // full predicate and re-aggregates per distinct outer row; the parity
    // conjunct gives Catalyst a hash-join key, so the plan is an ordinary
    // shuffled join + aggregate, not a cartesian product (plan-asserted).
    // count/sum default 0 on no-match; min stays null (ACI None-on-empty).
    GraftQuery.sql("q_lang_corr_nonequi",
      """SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST((SELECT COUNT(*) FROM supplier s
        |        WHERE s.s_nationkey < n.n_nationkey
        |          AND s.s_nationkey % 2 = n.n_nationkey % 2) AS BIGINT)
        |    AS cnt_below,
        |  CAST(COALESCE((SELECT SUM(s.s_suppkey) FROM supplier s
        |        WHERE s.s_nationkey < n.n_nationkey
        |          AND s.s_nationkey % 2 = n.n_nationkey % 2), 0) AS BIGINT)
        |    AS sum_below,
        |  CAST((SELECT MIN(s.s_suppkey) FROM supplier s
        |        WHERE s.s_nationkey < n.n_nationkey
        |          AND s.s_nationkey % 2 = n.n_nationkey % 2) AS BIGINT)
        |    AS min_below
        |FROM nation n ORDER BY n_nationkey""".stripMargin) {
      def below(b: String) = s"""filterBag (mut supplier) $b
        $b[s_nationkey] < n[n_nationkey] && $b[s_nationkey] % 2 == n[n_nationkey] % 2"""
      val prog = expr("q_lang_corr_nonequi", s"""
        mapBag (mut nation) n { n_nationkey : n[n_nationkey],
          cnt_below : len(${below("s0")}),
          sum_below : sum(mapBag (${below("s1")}) p1 p1[s_suppkey]),
          min_below : min(mapBag (${below("s2")}) p2 p2[s_suppkey]) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      require(TypeCheck.synthesize(prog, Map.empty, store.types) ==
        TBag(TRecord.sorted("n_nationkey" -> TInt, "cnt_below" -> TInt,
          "sum_below" -> TInt, "min_below" -> TOption(TInt))))
      (s, dir) => tiered(s, dir, prog, store).orderBy("n_nationkey")
    },

    // TIER-RECOVERY FIXTURE (r14 directive 3): a correlated per-key SUM
    // whose VALUE crosses int64 at the BASE corpus — each element is
    // 5×10^18 + s_suppkey (inside int64, so the per-element checked add
    // passes), so any nation with ≥2 suppliers sums past 2^63. The narrow
    // tier's Decimal-partial range check (Compiler.tierSum) raises the
    // DIRECTED overflow and autoWideTable re-runs the program on the
    // bignum mapping, which reproduces the reference's unbounded-Z value
    // exactly (fiat2/src/fiat2/Value.v:12). The oracle replays the
    // sum in DuckDB HUGEINT; both sides render as strings so the compare
    // is representation-independent — this is the "recovery, not
    // loudness" proof the overflow audit extrapolated to 191x.
    GraftQuery.sql("q_lang_corr_widen",
      """SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST(COALESCE((SELECT SUM(CAST(5000000000000000000 AS HUGEINT)
        |                            + s.s_suppkey)
        |        FROM supplier s
        |        WHERE s.s_nationkey = n.n_nationkey), 0) AS VARCHAR)
        |    AS wide_sum
        |FROM nation n ORDER BY n_nationkey""".stripMargin) {
      val prog = expr("q_lang_corr_widen", """
        mapBag (mut nation) n { n_nationkey : n[n_nationkey],
          wide_sum : toStr(sum(mapBag
            (filterBag (mut supplier) s0 s0[s_nationkey] == n[n_nationkey])
            p0 5000000000000000000 + p0[s_suppkey])) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      (s, dir) => autoWideTable(Env(Map.empty, Map.empty, s)) { env =>
        // n_nationkey re-narrows to Long on every tier (its values are
        // tiny) so the dumped schema matches the oracle's BIGINT
        val nk = col("n_nationkey")
        rows(prog, store.bind(env, dir))
          .select((if (env.bigInt) BigIntOps.toLong(nk) else nk)
            .as("n_nationkey"), col("wide_sum"))
      }.orderBy("n_nationkey")
    },

    // KEYED RANGE DECORRELATION PROBE (r14 directive 7): equi conjunct
    // (parity) + a range residue whose OUTER side is a computed
    // expression (2·n_nationkey) + an outer-only gate — the mixed-conjunct
    // near-miss that used to fall back to the distinct-outer
    // join-then-reaggregate. The engine now collects each key's
    // (value, range-expr) elements once (key-sized shuffle), left-joins
    // the per-key arrays onto nation, and evaluates the range predicate +
    // sum/count/min MAP-SIDE per row (a keyed group with a range residue;
    // plan-guarded in PlanQualitySpec: no cartesian, no distinct-outer
    // exchange).
    GraftQuery.sql("q_lang_corr_rangekey",
      """SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST((SELECT COUNT(*) FROM supplier s
        |        WHERE s.s_nationkey % 2 = n.n_nationkey % 2
        |          AND s.s_suppkey < 2 * n.n_nationkey) AS BIGINT) AS cnt_rng,
        |  CAST(CASE WHEN n.n_regionkey < 3 THEN
        |        COALESCE((SELECT SUM(s.s_suppkey) FROM supplier s
        |          WHERE s.s_nationkey % 2 = n.n_nationkey % 2
        |            AND s.s_suppkey < 2 * n.n_nationkey), 0)
        |       ELSE 0 END AS BIGINT) AS sum_rng,
        |  CAST((SELECT MIN(s.s_suppkey) FROM supplier s
        |        WHERE s.s_nationkey % 2 = n.n_nationkey % 2
        |          AND s.s_suppkey < 2 * n.n_nationkey) AS BIGINT) AS min_rng
        |FROM nation n ORDER BY n_nationkey""".stripMargin) {
      def ranged(b: String, gate: String) = s"""filterBag (mut supplier) $b
        $b[s_nationkey] % 2 == n[n_nationkey] % 2
          && $b[s_suppkey] < 2 * n[n_nationkey]$gate"""
      val prog = expr("q_lang_corr_rangekey", s"""
        mapBag (mut nation) n { n_nationkey : n[n_nationkey],
          cnt_rng : len(${ranged("s0", "")}),
          sum_rng : sum(mapBag (${ranged("s1", " && n[n_regionkey] < 3")})
            p1 p1[s_suppkey]),
          min_rng : min(mapBag (${ranged("s2", "")}) p2 p2[s_suppkey]) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_regionkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      require(TypeCheck.synthesize(prog, Map.empty, store.types) ==
        TBag(TRecord.sorted("n_nationkey" -> TInt, "cnt_rng" -> TInt,
          "sum_rng" -> TInt, "min_rng" -> TOption(TInt))))
      (s, dir) => tiered(s, dir, prog, store).orderBy("n_nationkey")
    },

    // AGGREGATES OVER CORRELATED FLATMAP SOURCES (round 10, the
    // distinct-outer path of Compiler.unnestAggsOnce): the aggregate's
    // source is a flatmap whose per-(outer,inner)-pair BODY is an
    // arbitrary array — a gated two-element emission mixing both rows
    // (normalize cannot single-cons it away), and a data-dependent-length
    // range. The reference nested-loops the product and concatenates the
    // body arrays (Interpret.v:273-299); the engine joins the DISTINCT
    // outer rows to the inner side on the extracted equi tie (a hash
    // join, never a product here) and EXPLODES the per-pair arrays before
    // the per-outer aggregation. The oracle rewrites each flatmap
    // algebraically: |[s, s+n] per even s| = 2·COUNT(even),
    // Σ elems = Σ(2s+n) over even, and Σ range(0, s mod 3) = Σ m(m−1)/2.
    GraftQuery.sql("q_lang_corr_flatmap",
      """SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST(2 * (SELECT COUNT(*) FROM supplier s
        |            WHERE s.s_nationkey = n.n_nationkey
        |              AND s.s_suppkey % 2 = 0) AS BIGINT) AS emitted,
        |  CAST(COALESCE((SELECT SUM(2 * s.s_suppkey + n.n_nationkey)
        |            FROM supplier s
        |            WHERE s.s_nationkey = n.n_nationkey
        |              AND s.s_suppkey % 2 = 0), 0) AS BIGINT) AS evensum,
        |  CAST(COALESCE((SELECT SUM(((s.s_suppkey % 3)
        |                  * ((s.s_suppkey % 3) - 1)) / 2)
        |            FROM supplier s
        |            WHERE s.s_nationkey = n.n_nationkey), 0) AS BIGINT)
        |    AS rangesum
        |FROM nation n ORDER BY n_nationkey""".stripMargin) {
      def corrFlat(f: String, b: String, body: String) = s"""flatmapBag
        (filterBag (mut supplier) $f $f[s_nationkey] == n[n_nationkey]) $b $body"""
      def pairs(b: String) = s"""if $b[s_suppkey] % 2 == 0
        then $b[s_suppkey] :: $b[s_suppkey] + n[n_nationkey] :: nil[int]
        else nil[int]"""
      val prog = expr("q_lang_corr_flatmap", s"""
        mapBag (mut nation) n { n_nationkey : n[n_nationkey],
          emitted : len(${corrFlat("f1", "b1", pairs("b1"))}),
          evensum : sum(${corrFlat("f2", "b2", pairs("b2"))}),
          rangesum : sum(${corrFlat("f3", "b3", "range(0, b3[s_suppkey] % 3)")}) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      require(TypeCheck.synthesize(prog, Map.empty, store.types) ==
        TBag(TRecord.sorted("n_nationkey" -> TInt, "emitted" -> TInt,
          "evensum" -> TInt, "rangesum" -> TInt)))
      (s, dir) => tiered(s, dir, prog, store).orderBy("n_nationkey")
    },

    // CORRELATED TABLE FEEDING A NESTED FOLD (the per-position canonical-
    // array path): for each nation, right-fold string concatenation over
    // the CANONICALLY SORTED names of its below-key suppliers — an
    // order-dependent per-row accumulation the aggregate unnesting can't
    // express. The engine collects the matched elements per outer position
    // into a sorted array (one grouped shuffle, no per-row jobs) and the
    // nested-array fold consumes it; fold_right over ascending order is
    // exactly STRING_AGG(... ORDER BY) in the oracle.
    GraftQuery.sql("q_lang_corr_fold",
      """SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey,
        |  COALESCE((SELECT STRING_AGG(s.s_name, '' ORDER BY s.s_name)
        |        FROM supplier s
        |        WHERE s.s_nationkey < n.n_nationkey
        |          AND s.s_nationkey % 2 = n.n_nationkey % 2), '')
        |    AS names_below
        |FROM nation n ORDER BY n_nationkey""".stripMargin) {
      val prog = expr("q_lang_corr_fold", """
        mapBag (mut nation) n { n_nationkey : n[n_nationkey],
          names_below : fold (sort(mapBag
              (filterBag (mut supplier) sf sf[s_nationkey] < n[n_nationkey]
                && sf[s_nationkey] % 2 == n[n_nationkey] % 2)
              pf pf[s_name]))
            ("") e a e +++ a }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt),
        "supplier" -> Seq("s_name" -> TString, "s_nationkey" -> TInt))
      require(TypeCheck.synthesize(prog, Map.empty, store.types) == TBag(
        TRecord.sorted("n_nationkey" -> TInt, "names_below" -> TString)))
      (s, dir) => rows(prog, store.bind(Env(Map.empty, Map.empty, s), dir))
        .orderBy("n_nationkey")
    },

    // CORRELATED-CONDITIONAL TABLE BODY (round 10 — Compiler.splitTableIf):
    // for each nation, an if on an OUTER-ROW condition selects between two
    // correlated supplier legs (low regions keep only even supplier keys).
    // The reference evaluates the condition per outer row and takes ONE
    // leg (Interpret.v:299-303); the engine SPLITS the outer table on the
    // condition, lowers each arm's correlated filter to an ordinary
    // equi-join, and unions the arms — no per-row dispatch survives in
    // the plan. The oracle replays the choice as a CASE predicate.
    GraftQuery.sql("q_lang_corr_cond",
      """SELECT n_name AS nat, s_name AS sup
        |FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |WHERE CASE WHEN n_regionkey < 2 THEN s_suppkey % 2 = 0 ELSE TRUE END
        |ORDER BY nat, sup""".stripMargin) {
      val prog = expr("q_lang_corr_cond", """
        flatmapBag (mut nation) x
          mapBag (if x[n_regionkey] < 2
              then filterBag (mut supplier) sa
                sa[s_nationkey] == x[n_nationkey] && sa[s_suppkey] % 2 == 0
              else filterBag (mut supplier) sb sb[s_nationkey] == x[n_nationkey])
            u { nat : x[n_name], sup : u[s_name] }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString,
          "n_regionkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_name" -> TString,
          "s_nationkey" -> TInt))
      require(TypeCheck.synthesize(prog, Map.empty, store.types) ==
        TBag(TRecord.sorted("nat" -> TString, "sup" -> TString)))
      (s, dir) => rows(prog, store.bind(Env(Map.empty, Map.empty, s), dir))
        .orderBy("nat", "sup")
    },

    // GATE-ONLY CORRELATED AGGREGATES (round 10 — Compiler.unnestAggsOnce,
    // a zero-key keyed group): every correlated conjunct is an OUTER-ONLY
    // gate — no predicate ties the outer and inner rows, so the per-row
    // value the reference nested-loops (Interpret.v:273-299) is
    // row-INDEPENDENT whenever the gate passes. The engine aggregates the
    // residual-filtered supplier table ONCE and broadcasts the one-row
    // result onto every nation row behind a CASE gate — one aggregation
    // job, no outer-side shuffle, no per-row subquery. Three consumers:
    // gated global SUM, gated global COUNT, gated global MIN (NULL when
    // the gate fails — ACI None-on-empty).
    GraftQuery.sql("q_lang_corr_gate",
      """SELECT n_name AS nat,
        |  CASE WHEN n_regionkey < 2
        |    THEN CAST((SELECT COALESCE(SUM(s_suppkey), 0) FROM supplier
        |               WHERE s_suppkey % 3 = 0) AS BIGINT)
        |    ELSE 0 END AS gsum,
        |  CASE WHEN n_nationkey < 10
        |    THEN (SELECT COUNT(*) FROM supplier WHERE s_suppkey % 2 = 0)
        |    ELSE 0 END AS gcnt,
        |  CASE WHEN n_regionkey = 0
        |    THEN (SELECT MIN(s_suppkey) FROM supplier)
        |    ELSE NULL END AS gmin
        |FROM nation ORDER BY nat""".stripMargin) {
      val prog = expr("q_lang_corr_gate", """
        mapBag (mut nation) x { nat : x[n_name],
          gsum : sum(mapBag (filterBag (mut supplier) s0
              s0[s_suppkey] % 3 == 0 && x[n_regionkey] < 2)
            p0 p0[s_suppkey]),
          gcnt : len(filterBag (mut supplier) s1
            s1[s_suppkey] % 2 == 0 && x[n_nationkey] < 10),
          gmin : min(mapBag (filterBag (mut supplier) s2 x[n_regionkey] == 0)
            p2 p2[s_suppkey]) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString,
          "n_regionkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt))
      (s, dir) => tiered(s, dir, prog, store).orderBy("nat")
    },

    // AGGREGATES REFERENCING JOIN BINDERS (round 10 — the join
    // pair-table rewrite): the join body holds per-pair correlated
    // aggregates, one tied to the LEFT binder (supplier count per
    // nation) and one tied to the RIGHT binder through a computed key
    // (supplier keys ≡ region key mod 5). The reference nested-loops the
    // per-pair subqueries (Interpret.v:273-312); the engine materializes
    // the join as a pair table and lowers both aggregates through the
    // projection unnester — each becomes one groupBy of supplier plus a
    // left join back, no per-pair evaluation in the plan.
    GraftQuery.sql("q_lang_corr_jbind",
      """SELECT n_name AS nat, r_name AS reg,
        |  (SELECT COUNT(*) FROM supplier
        |   WHERE s_nationkey = n_nationkey) AS ns,
        |  CAST(COALESCE((SELECT SUM(s_suppkey) FROM supplier
        |                 WHERE s_suppkey % 5 = r_regionkey), 0)
        |    AS BIGINT) AS rsum
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY nat""".stripMargin) {
      val prog = expr("q_lang_corr_jbind", """
        joinBag (mut nation) (mut region) n r (n[n_regionkey] == r[r_regionkey])
          { nat : n[n_name], reg : r[r_name],
            ns : len(filterBag (mut supplier) s0 s0[s_nationkey] == n[n_nationkey]),
            rsum : sum(mapBag
              (filterBag (mut supplier) s1 s1[s_suppkey] % 5 == r[r_regionkey])
              p1 p1[s_suppkey]) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString,
          "n_regionkey" -> TInt),
        "region" -> Seq("r_regionkey" -> TInt, "r_name" -> TString),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      (s, dir) => tiered(s, dir, prog, store).orderBy("nat")
    },

    // LEG-BINDER AGGREGATES UNDER A CORRELATED FLATMAP JOIN (round 10 —
    // the triple-table rewrite): for each region, pair up its nations
    // (both join legs correlated on the region row), and for each pair
    // compute one aggregate tied to EACH leg binder — a per-(outer,pair)
    // subquery, the two-binder-level shape. The engine decorrelates the
    // join, emits (region, nationA, nationB) record triples, and re-runs
    // the body as a projection over the triple table, where the
    // projection unnester lowers both aggregates to one supplier groupBy
    // plus a left join each — outer × pair × subquery nested loops
    // (Interpret.v:273-312) become three ordinary joins.
    GraftQuery.sql("q_lang_corr_legbind",
      """SELECT r_name AS reg, a.n_name AS n1, b.n_name AS n2,
        |  (SELECT COUNT(*) FROM supplier
        |   WHERE s_nationkey = a.n_nationkey) AS s1,
        |  CAST(COALESCE((SELECT SUM(s_suppkey) FROM supplier
        |                 WHERE s_nationkey = b.n_nationkey), 0)
        |    AS BIGINT) AS s2
        |FROM region r
        |JOIN nation a ON a.n_regionkey = r.r_regionkey
        |JOIN nation b ON b.n_regionkey = r.r_regionkey
        |             AND a.n_nationkey < b.n_nationkey
        |ORDER BY reg, n1, n2""".stripMargin) {
      val prog = expr("q_lang_corr_legbind", """
        flatmapBag (mut region) x
          joinBag (filterBag (mut nation) na na[n_regionkey] == x[r_regionkey])
            (filterBag (mut nation) nb nb[n_regionkey] == x[r_regionkey])
            ja jb (ja[n_nationkey] < jb[n_nationkey])
            { reg : x[r_name], n1 : ja[n_name], n2 : jb[n_name],
              s1 : len(filterBag (mut supplier) sa sa[s_nationkey] == ja[n_nationkey]),
              s2 : sum(mapBag
                (filterBag (mut supplier) sb sb[s_nationkey] == jb[n_nationkey])
                pb pb[s_suppkey]) }""")
      val store = Store(
        "region" -> Seq("r_regionkey" -> TInt, "r_name" -> TString),
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString,
          "n_regionkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      (s, dir) => tiered(s, dir, prog, store).orderBy("reg", "n1", "n2")
    },

    // AGGREGATES OVER CORRELATED JOIN SOURCES (round 10 —
    // Compiler.liftJoinAggSource): the aggregate's source is itself a
    // JOIN — per nation, count and sum over (supplier ⋈ region) pairs
    // where the supplier leg is correlated on the nation row. The engine
    // lifts the x-free region leg to its canonical array literal (5
    // rows), rewrites the join to flatmap form, and the flat peel's
    // product-explode machinery lowers both aggregates — one hash join
    // of nation against supplier plus a per-pair array explode, instead
    // of the reference's outer × join × aggregate nested loops
    // (Interpret.v:273-299).
    GraftQuery.sql("q_lang_corr_jsrc",
      """SELECT n_name AS nat,
        |  (SELECT COUNT(*) FROM supplier s, region r
        |   WHERE s.s_nationkey = n.n_nationkey
        |     AND s.s_suppkey % 5 = r.r_regionkey) AS g,
        |  CAST(COALESCE((SELECT SUM(s.s_suppkey + r.r_regionkey)
        |   FROM supplier s, region r
        |   WHERE s.s_nationkey = n.n_nationkey
        |     AND s.s_suppkey % 5 = r.r_regionkey), 0) AS BIGINT) AS gsum
        |FROM nation n ORDER BY nat""".stripMargin) {
      def pairJoin(c: String, a: String, b: String, body: String) = s"""joinBag
        (filterBag (mut supplier) $c $c[s_nationkey] == x[n_nationkey])
        (mut region) $a $b ($a[s_suppkey] % 5 == $b[r_regionkey]) $body"""
      val prog = expr("q_lang_corr_jsrc", s"""
        mapBag (mut nation) x { nat : x[n_name],
          g : len(${pairJoin("c0", "a0", "b0",
            "{ sk : a0[s_suppkey], rk : b0[r_regionkey] }")}),
          gsum : sum(${pairJoin("c1", "a1", "b1",
            "a1[s_suppkey] + b1[r_regionkey]")}) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString),
        "region" -> Seq("r_regionkey" -> TInt),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt))
      (s, dir) => tiered(s, dir, prog, store).orderBy("nat")
    },

    // DOUBLY-NESTED CORRELATED AGGREGATES (round 10 — iterating
    // unnestCorrelatedAggs): per nation, sum the supplier keys below that
    // nation's CUSTOMER COUNT — the outer aggregate's predicate holds an
    // inner aggregate correlated on the same outer row. The engine hoists
    // the inner count first (groupBy + left join, innermost-first
    // iteration), flattens it into an outer-row column, then lowers the
    // outer sum through join-then-reaggregate on the now-plain predicate.
    // The oracle is the equivalent nested correlated scalar subquery.
    GraftQuery.sql("q_lang_corr_nested",
      """SELECT n_name AS nat,
        |  CAST(COALESCE((SELECT SUM(s_suppkey) FROM supplier
        |     WHERE s_nationkey = n_nationkey
        |       AND s_suppkey < (SELECT COUNT(*) FROM customer
        |                        WHERE c_nationkey = n_nationkey)), 0)
        |    AS BIGINT) AS g
        |FROM nation ORDER BY nat""".stripMargin) {
      val prog = expr("q_lang_corr_nested", """
        mapBag (mut nation) x { nat : x[n_name],
          g : sum(mapBag (filterBag (mut supplier) sp
                sp[s_nationkey] == x[n_nationkey]
                && sp[s_suppkey] < len(filterBag (mut customer) c
                     c[c_nationkey] == x[n_nationkey]))
              p p[s_suppkey]) }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt),
        "customer" -> Seq("c_nationkey" -> TInt))
      require(TypeCheck.synthesize(prog, Map.empty, store.types) ==
        TBag(TRecord.sorted("nat" -> TString, "g" -> TInt)))
      (s, dir) => tiered(s, dir, prog, store).orderBy("nat")
    },

    // CORRELATED ZIP-FLATMAP (Compiler.decorrelate's flatmap2-core path):
    // for each nation, zip its canonically-sorted supplier names against
    // its sorted customer names, cut at the shorter side, with the outer
    // row in the result. The engine collects BOTH legs per distinct outer
    // row into sorted arrays (two grouped shuffles — never a per-outer-row
    // job) and zips them through the nested zip_with path; the oracle
    // replays the same pairing with per-key row_number.
    GraftQuery.sql("q_lang_corr_zip",
      """WITH ss AS (SELECT s_nationkey AS k, s_name,
        |        row_number() OVER (PARTITION BY s_nationkey ORDER BY s_name) AS i
        |      FROM supplier),
        |cc AS (SELECT c_nationkey AS k, c_name,
        |        row_number() OVER (PARTITION BY c_nationkey ORDER BY c_name) AS i
        |      FROM customer)
        |SELECT n.n_name, ss.s_name, cc.c_name
        |FROM nation n
        |JOIN ss ON ss.k = n.n_nationkey
        |JOIN cc ON cc.k = n.n_nationkey AND cc.i = ss.i
        |ORDER BY n_name, s_name, c_name""".stripMargin) {
      val prog = expr("q_lang_corr_zip", """
        flatmap (mut nation) n
          flatmap2
            (sort(map (filter (mut supplier) sf sf[s_nationkey] == n[n_nationkey])
              sp sp[s_name]))
            (sort(map (filter (mut customer) cf cf[c_nationkey] == n[n_nationkey])
              cp cp[c_name]))
            zs zc
            { n_name : n[n_name], s_name : zs, c_name : zc }
              :: nil[{ c_name : string, n_name : string, s_name : string }]""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString),
        "supplier" -> Seq("s_name" -> TString, "s_nationkey" -> TInt),
        "customer" -> Seq("c_name" -> TString, "c_nationkey" -> TInt))
      // the legs read the tables as lists
      val storeT = store.types.map {
        case (t, TBag(r)) => t -> TList(r)
        case other => other
      }
      require(TypeCheck.synthesize(prog, Map.empty, storeT) == TList(
        TRecord.sorted("c_name" -> TString, "n_name" -> TString,
          "s_name" -> TString)))
      (s, dir) => rows(prog, store.bind(
        Env(Map.empty, Map.empty, s, storeTypes = storeT), dir))
        .orderBy("n_name", "s_name", "c_name")
    },

    // CORRELATION INSIDE A JOIN LEG (Compiler.decorrelate's join-core
    // path): for each nation, θ-join its suppliers against its customers —
    // the outer row variable appears in BOTH legs' filters and in the
    // result record. The reference interprets this nested-loop-style
    // (Interpret.v:273-299); the engine lowers the whole comprehension to
    // one three-way join that Catalyst plans as ordinary shuffled/broadcast
    // hash joins (no per-outer-row evaluation, no cartesian product).
    GraftQuery.sql("q_lang_corr_join",
      """SELECT n.n_name, CAST(s.s_suppkey AS BIGINT) AS s_suppkey,
        |       CAST(c.c_custkey AS BIGINT) AS c_custkey
        |FROM nation n
        |JOIN supplier s ON s.s_nationkey = n.n_nationkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |WHERE s.s_suppkey % 7 = c.c_custkey % 7
        |ORDER BY n_name, s_suppkey, c_custkey""".stripMargin) {
      val prog = expr("q_lang_corr_join", """
        flatmapBag (mut nation) n
          joinBag (filterBag (mut supplier) sf sf[s_nationkey] == n[n_nationkey])
            (filterBag (mut customer) cf cf[c_nationkey] == n[n_nationkey])
            s2 c2 (s2[s_suppkey] % 7 == c2[c_custkey] % 7)
            { n_name : n[n_name], s_suppkey : s2[s_suppkey],
              c_custkey : c2[c_custkey] }""")
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_nationkey" -> TInt),
        "customer" -> Seq("c_custkey" -> TInt, "c_nationkey" -> TInt))
      (s, dir) => rows(prog, store.bind(Env(Map.empty, Map.empty, s), dir))
        .orderBy("n_name", "s_suppkey", "c_custkey")
    },

    // General fold over a (small) table: a RIGHT fold (Interpret.v:
    // 313-319) defined on canonical value order; the non-associative step
    // (rolling hash) is exactly what an AC fold can't express. The oracle
    // replays the right fold as list_reduce over the DESCENDING list.
    GraftQuery.sql("q_lang_fold",
      """SELECT CAST(list_reduce(list(CAST(r_regionkey AS BIGINT) ORDER BY r_regionkey DESC),
        |                        (a, b) -> a * 31 + b) AS BIGINT) AS h
        |FROM region""".stripMargin) {
      val prog = expr("q_lang_fold", "fold (mut keys) (0) x acc acc * 31 + x")
      (s, dir) => {
        val keys = Tables.load(s, dir, "region")
          .select(col("r_regionkey").cast("long").as("value"))
        val env = Env(Map.empty, Map("keys" -> keys), s,
          storeTypes = Map("keys" -> TBag(TInt)))
        val h = compileProgram(prog, env).asInstanceOf[CV].c
        s.range(1).select(h.cast("long").as("h"))
      }
    },

    // The STREAMED table fold — same right fold as q_lang_fold but over
    // 60k lineitem keys, past the 10k localization threshold, so the
    // batched driver stream (canonical-DESC toLocalIterator,
    // re-literalized accumulator) is exercised by the correctness gate
    // itself, not only by CompilerSpec. The step is the modular rolling
    // hash (acc*31+x) mod 1e9+7 — non-associative (no AC-fold escape)
    // and overflow-free at any length. The key filter keeps the row
    // count ~constant across SFs (orderkeys are dense 0..N).
    GraftQuery.sql("q_lang_fold_stream",
      """SELECT CAST(list_reduce(
        |         list(CAST(l_orderkey AS BIGINT) ORDER BY l_orderkey DESC),
        |         (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS h
        |FROM lineitem WHERE l_orderkey < 15000""".stripMargin) {
      val prog = expr("q_lang_fold_stream",
        "fold (mut keys) (0) x acc (acc * 31 + x) % 1000000007")
      (s, dir) => {
        val keys = Tables.load(s, dir, "lineitem")
          .filter(col("l_orderkey") < 15000)
          .select(col("l_orderkey").cast("long").as("value"))
        val env = Env(Map.empty, Map("keys" -> keys), s,
          storeTypes = Map("keys" -> TBag(TInt)))
        val h = compileProgram(prog, env).asInstanceOf[CV].c
        s.range(1).select(h.cast("long").as("h"))
      }
    },

    // Command layer: let mut + for + set/cons — the reference's event-loop
    // idiom (fiat2/src/fiat2/Ex_Orders.v:54): for each key in a literal
    // list, count matching events and cons the result onto an output
    // table.
    GraftQuery.sql("q_lang_command",
      // LEFT JOIN from the key list so a key with zero events still yields a
      // (k, 0) row — matching the loop, which emits one record per key
      // unconditionally
      """SELECT CAST(k AS BIGINT) AS k, COUNT(user_id) AS n
        |FROM (VALUES (1), (2), (3)) t(k)
        |LEFT JOIN events ON user_id = k
        |GROUP BY k ORDER BY k""".stripMargin) {
      val prog = command("q_lang_command", """
        let mut out := nil[{ k : int, n : int }] in
        for kv in 1 :: 2 :: 3 :: nil[int] :
          set out := { k : kv,
            n : len(filterBag (mut events) ev ev[user_id] == kv) } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        val events = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"))
        val env = Env(Map.empty, Map("events" -> events), s)
        Interp.run(prog, env).store("result").orderBy("k")
      }
    },

    // The unit-only operators, folded into one oracle-checked program: a
    // let binds the region count, an if branches on it (the wrong branch
    // would return an empty table and fail the row check), and the row
    // expressions exercise bagInsert (duplicates kept), setInsert
    // (duplicates collapsed), and nested structural == on ranges and on
    // canonically-ordered bags (insertion order must not matter).
    GraftQuery.sql("q_lang_collections",
      """SELECT n_nationkey AS k,
        |  CAST(2 AS BIGINT) AS bag_size,
        |  CAST(CASE WHEN n_regionkey = 2 THEN 1 ELSE 2 END AS BIGINT) AS set_size,
        |  n_regionkey = 2 AS eq_range,
        |  TRUE AS eq_bag
        |FROM nation ORDER BY k""".stripMargin) {
      val prog = command("q_lang_collections", """
        let n = len(mut region) in
        if n == 5 then
          set result := mapBag (mut nation) x { k : x[n_nationkey],
            bag_size : len(bagInsert(bagInsert(emptyBag[int],
              x[n_regionkey]), x[n_regionkey])),
            set_size : len(setInsert(setInsert(emptySet[int],
              x[n_regionkey]), 2)),
            eq_range : range(0, x[n_regionkey]) == range(0, 2),
            eq_bag : bagInsert(bagInsert(emptyBag[int], x[n_regionkey]), 2)
              == bagInsert(bagInsert(emptyBag[int], 2), x[n_regionkey]) }
        else
          set result := emptyBag[{ bag_size : int, eq_bag : bool,
            eq_range : bool, k : int, set_size : int }]
        end""")
      val store = Store(
        "region" -> Seq("r_regionkey" -> TInt, "r_name" -> TString),
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString,
          "n_regionkey" -> TInt))
      require(TypeCheck.typecheck(prog, Map.empty, store.types)("result") ==
        TBag(TRecord.sorted("k" -> TInt, "bag_size" -> TInt,
          "set_size" -> TInt, "eq_range" -> TBool, "eq_bag" -> TBool)))
      (s, dir) => {
        val env = Env(Map.empty, Map(
          "region" -> Tables.load(s, dir, "region")
            .select(col("r_regionkey"), col("r_name")),
          "nation" -> Tables.load(s, dir, "nation")), s,
          storeTypes = store.types)
        Interp.run(prog, env).store("result").orderBy("k")
      }
    },

    // AUTOMATIC index use (fiat2/src/fiat2/IndexTransf.v:797-803 +
    // DictIndexImpl.v:374-389): the SOURCE is a plain filter loop — no index
    // is mentioned anywhere — but `Optimize`'s IndexTransf stage statically
    // recognizes the repeated `filter(orders, o.o_custkey == k)` point
    // filters inside the loop body and transparently re-represents
    // `orders` as a key-hash-partitioned cached index, so iterations 2..n
    // are in-memory point lookups instead of source rescans
    // (IndexTransfSpec asserts the plan hits the InMemoryTableScan).
    GraftQuery.sql("q_lang_indexed_loop",
      """SELECT CAST(k AS BIGINT) AS k, COUNT(o_orderkey) AS n
        |FROM (VALUES (5), (6), (7)) t(k)
        |LEFT JOIN orders ON o_custkey = k
        |GROUP BY k ORDER BY k""".stripMargin) {
      val prog = command("q_lang_indexed_loop", """
        let mut out := nil[{ k : int, n : int }] in
        for kv in 5 :: 6 :: 7 :: nil[int] :
          set out := { k : kv,
            n : len(filterBag (mut orders) o o[o_custkey] == kv) } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val env = Env(Map.empty, Map("orders" -> orders), s)
        Optimize.run(prog, env).store("result").orderBy("k")
      }
    },

    // The reference's OWN survey example, in its exact sugar shape
    // (fiat2/src/fiat2/Ex_Survey.v:31-38 `join_tables`): the second bind's
    // SOURCE is itself a comprehension over another table whose check
    // references the outer row. toFilter/toProj structure the inner
    // comprehension; `dependentBodyToJoin` then recognizes the outer
    // flatmap-of-proj-of-filter as a real equi-join (departments=nation,
    // responses=supplier on this corpus).
    GraftQuery.sql("q_survey_sugar",
      """SELECT s_name AS name, n_name AS department,
        |       'ok from ' || s_name AS feedback
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY department, feedback, name""".stripMargin) {
      val prog = expr("q_survey_sugar", """
        sort(r1 <- mut departments;
             r3 <- (r2 <- mut responses;
                    check(r2[department_id] == r1[department_id]);
                    ret r2);
             ret { name : r3[name], department : r1[department_name],
                   feedback : r3[feedback] })""")
      (s, dir) => {
        val env = Env(Map.empty, Map(
          "departments" -> Tables.load(s, dir, "nation")
            .select(col("n_nationkey").as("department_id"),
              col("n_name").as("department_name")),
          "responses" -> Tables.load(s, dir, "supplier")
            .select(col("s_name").as("name"),
              col("s_nationkey").as("department_id"),
              concat(lit("ok from "), col("s_name")).as("feedback"))), s)
        rows(prog, env)
      }
    },

    // AUTOMATIC incremental sum maintenance (fiat2/src/fiat2/SumAgg.v:
    // 150-155 cons_to_add + sum_to_agg_lookup, the PipelineEx.v:31-32
    // pipeline): the SOURCE program re-reads sum(v) of a table it inserts
    // into on every loop iteration — IvmTransf re-represents the aggregate
    // as a maintained scalar cell (one priming aggregation, then O(1)
    // folded updates per insert; the sum reads run no jobs at all).
    GraftQuery.sql("q_auto_ivm",
      """WITH init AS (SELECT COALESCE(CAST(SUM(o_orderkey) AS BIGINT), 0) AS s0
        |              FROM orders WHERE o_custkey < 2)
        |SELECT CAST(k AS BIGINT) AS k,
        |       CAST(s0 + 500 * k * (k + 1) AS BIGINT) AS s
        |FROM init, (VALUES (1), (2), (3), (4), (5)) t(k)
        |ORDER BY k""".stripMargin) {
      val prog = command("q_auto_ivm", """
        let mut out := nil[{ k : int, s : int }] in
        for kv in 1 :: 2 :: 3 :: 4 :: 5 :: nil[int] :
          set t := { v : kv * 1000 } :: mut t;
          set out := { k : kv, s : sum(mapBag (mut t) x x[v]) } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        val t = Tables.load(s, dir, "orders")
          .filter(col("o_custkey") < 2)
          .select(col("o_orderkey").as("v"))
        val env = Env(Map.empty, Map("t" -> t), s)
        Optimize.run(prog, env).store("result").orderBy("k")
      }
    },

    // The reference's FULL ex2 program (fiat2/src/fiat2/Ex_Survey.v:40-49,
    // minus its 10000× outer benchmark-repetition loop): a mutable SCALAR
    // string cell (`all_feedback`) accumulated across a loop over the
    // SORTED join — string cells live in the interpreter's scalar store and
    // each `set` constant-folds to a single literal, so the loop builds no
    // plan tree and runs no jobs.
    GraftQuery.sql("q_survey_ex2",
      """SELECT COALESCE(string_agg(
        |    s_name || ' from ' || n_name || ' wrote: ok from ' || s_name || chr(10),
        |    '' ORDER BY n_name, 'ok from ' || s_name, s_name), '') AS all_feedback
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_nationkey < 3""".stripMargin) {
      val prog = command("q_survey_ex2", """
        let mut all_feedback := "" in
        for r in sort(r1 <- mut departments;
                      r3 <- (r2 <- mut responses;
                             check(r2[department_id] == r1[department_id]
                                   && r1[department_id] < 3);
                             ret r2);
                      ret { name : r3[name], department : r1[department_name],
                            feedback : r3[feedback] }) :
          let name = r[name] +++ " from " in
          let dep = r[department] +++ " wrote: " in
          let feedback = r[feedback] +++ "\n" in
          let line = name +++ dep +++ feedback in
          set all_feedback := mut all_feedback +++ line
        end;
        set result := { all_feedback : mut all_feedback }
          :: nil[{ all_feedback : string }]""")
      (s, dir) => {
        val env = Env(Map.empty, Map(
          "departments" -> Tables.load(s, dir, "nation")
            .select(col("n_nationkey").as("department_id"),
              col("n_name").as("department_name")),
          "responses" -> Tables.load(s, dir, "supplier")
            .select(col("s_name").as("name"),
              col("s_nationkey").as("department_id"),
              concat(lit("ok from "), col("s_name")).as("feedback"))), s)
        Interp.run(prog, env).store("result")
      }
    },

    // SQL EXTRACTION (fiat2/src/fiat2/ToPython.v:231-232 — the reference
    // pretty-prints optimized programs to a target language and runs them
    // there): surface text → parse → join recognition → ToSql. The ONE
    // extracted string then executes on Spark AND as its own DuckDB oracle
    // — extraction correctness is checked by construction.
    {
      val prog = expr("q_to_sql", """
        s <- mut supplier;
        n <- mut nation;
        check(s[s_nationkey] == n[n_nationkey] && s[s_suppkey] < 30);
        ret { supp : s[s_name], nat : n[n_name], key2 : s[s_suppkey] * 2 }""")
      val text = ToSql(ESort(LikeList, Rewrites.normalize(prog)))
      GraftQuery.sql("q_to_sql", text) { (s, dir) =>
        Tables.registerAll(s, dir)
        s.sql(text)
      }
    },

    // The WHOLE pipeline the reference composes — surface text → parse →
    // join/filter recognition (RelTransf) → collection annotation
    // (CollectionTransf: the hand-written sum fold becomes a bag
    // aggregate) → extraction (ToPython analog) — with the one extracted
    // string executing on Spark and as its own DuckDB oracle.
    {
      val prog = expr("q_to_sql_agg", """
        fold (o <- mut orders; check(o[o_custkey] < 100); ret o[o_orderkey])
          0 v acc v + acc""")
      val annotated = CollectionTransf.annotate(Rewrites.normalize(prog))
      require(!annotated.toString.contains("EFold("),
        "the sum fold must annotate to an aggregate before extraction")
      val text = ToSql(annotated)
      GraftQuery.sql("q_to_sql_agg", text) { (s, dir) =>
        Tables.registerAll(s, dir)
        s.sql(text)
      }
    },

    // WHOLE-PROGRAM extraction (`program_py`, fiat2/src/fiat2/ToPython.v:
    // 231-232, which renders a full command for another engine to run): a
    // straight-line two-binding command extracts as TEMP VIEW DDL
    // statements. Spark executes the SCRIPT; the oracle is built from the
    // SAME extracted query texts with the view chain inlined as a CTE —
    // so the script path and the single-query path are proved equal
    // across engines.
    {
      val prog = Rewrites.normalizeCommand(command("q_to_sql_program", """
        let mut big := (o <- mut orders;
                        check(o[o_custkey] < 100);
                        ret { ck : o[o_custkey], ok : o[o_orderkey] }) in
        set result := (b <- mut big;
                       c <- mut customer;
                       check(b[ck] == c[c_custkey]);
                       ret { ok : b[ok], cust : c[c_name] })"""))
      val script = ToSql.program(prog)
      require(script.length == 2 &&
        script.forall(_.startsWith("CREATE OR REPLACE TEMP VIEW")),
        s"unexpected extracted script: $script")
      val (sql1, sql2) = prog match {
        case CLetMut(e1, "big", CAssign("result", e2)) =>
          (ToSql(e1), ToSql(e2))
        case other => sys.error(s"unexpected program shape: $other")
      }
      val oracleText =
        s"WITH big AS ($sql1) SELECT * FROM ($sql2) ORDER BY ok, cust"
      GraftQuery.sql("q_to_sql_program", oracleText) { (s, dir) =>
        Tables.registerAll(s, dir)
        script.foreach(s.sql)
        s.sql("SELECT * FROM result ORDER BY ok, cust")
      }
    },

    // Extraction of the set/bag algebra: distinct-count of the UNION ALL
    // of two projections (setof ∘ ++ — CollectionTransf's target forms
    // rendered as DISTINCT / UNION ALL, portable to both engines).
    {
      val text = ToSql(expr("q_to_sql_setops", """
        count(setof((map (mut customer) c { k : c[c_nationkey] })
          ++ (map (mut supplier) s { k : s[s_nationkey] })))"""))
      GraftQuery.sql("q_to_sql_setops", text) { (s, dir) =>
        Tables.registerAll(s, dir)
        s.sql(text)
      }
    },

    // CombIdxEx.v ex1 (fiat2/src/fiat2/CombIdxEx.v:75-90) through the
    // WHOLE Optimize pipeline: a command that (1) inserts a two-row cons
    // CHAIN into `responses`, (2) loops over a department point-filter
    // accumulating feedback into a string cell, (3) assigns the fold-sum
    // of salaries. Optimize composes the reference's ex_transf: the
    // comprehension becomes a structured filter, the fold annotates to a
    // bag aggregate, the sum is maintained incrementally through the chain
    // insert (cons_to_add twice, like the reference composing the
    // transform once per cons), and the department filter reads a keyed
    // index.
    GraftQuery.sql("q_combidx",
      """WITH resp AS (
        |  SELECT s_name AS name, n_name AS department,
        |         'ok from ' || s_name AS feedback,
        |         CAST((s_suppkey % 100000) * 100 AS BIGINT) AS salary
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT * FROM (VALUES ('zz_alice','CANADA','great',CAST(120 AS BIGINT)),
        |                        ('zz_bob','CANADA','fine',CAST(80 AS BIGINT)))
        |    v(name, department, feedback, salary)
        |)
        |SELECT
        |  (SELECT COALESCE(string_agg(name || ': ' || feedback || chr(10), ''
        |            ORDER BY department, feedback, name, salary), '')
        |   FROM resp WHERE department = 'CANADA') AS all_feedback,
        |  (SELECT CAST(SUM(salary) AS BIGINT) FROM resp) AS total_salary""".stripMargin) {
      val row = "{ department : string, feedback : string, name : string, salary : int }"
      val prog = command("q_combidx", s"""
        let mut all_feedback := "" in
        let mut sum_sal := 0 in
        set responses :=
          { name : "zz_alice", department : "CANADA", feedback : "great", salary : 120 }
          :: { name : "zz_bob", department : "CANADA", feedback : "fine", salary : 80 }
          :: mut responses;
        for r in sort(flatmap (mut responses) row
            if row[department] == "CANADA" then row :: nil[$row] else nil[$row]) :
          let nm = r[name] +++ ": " in
          let fb = r[feedback] +++ "\\n" in
          let line = nm +++ fb in
          set all_feedback := mut all_feedback +++ line
        end;
        set sum_sal := fold (flatmap (mut responses) row row[salary] :: nil[int])
          (0) v acc v + acc;
        set result := { all_feedback : mut all_feedback, total_salary : mut sum_sal }
          :: nil[{ all_feedback : string, total_salary : int }]""")
      (s, dir) => {
        val resp = Tables.load(s, dir, "supplier")
          .join(Tables.load(s, dir, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_name").as("name"), col("n_name").as("department"),
            concat(lit("ok from "), col("s_name")).as("feedback"),
            // residue-capped: the fixture tests composed-index structure,
            // not width — a 27x id shift would push the TOTAL salary sum
            // past int64 (identity at the driver SFs)
            ((col("s_suppkey") % 100000) * 100).cast("long").as("salary"))
        Optimize.run(prog, Env(Map.empty, Map("responses" -> resp), s,
          storeTypes = Map("responses" -> TList(TRecord.sorted(
            "department" -> TString, "feedback" -> TString,
            "name" -> TString, "salary" -> TInt)))))
          .store("result")
      }
    },

    // SCOPED incremental maintenance (the reference examples' own
    // table-binding idiom, `let mut t := nil[...]`): a loop over the sorted
    // nation keys inserts each key into a scoped table and reads the
    // running sum after each insert. Optimize introduces the sum cell as a
    // nested scalar binding — pure source rewrite, no store priming — so
    // the per-iteration read is O(1) instead of re-aggregating the growing
    // table; the pk index's O(1) count field is maintained as a cell too.
    // Oracle: the cumulative sum as a window function.
    GraftQuery.sql("q_scoped_ivm",
      """SELECT CAST(n_nationkey AS BIGINT) AS k,
        |  CAST(SUM(n_nationkey) OVER (ORDER BY n_nationkey) AS BIGINT) AS s,
        |  CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS n
        |FROM nation ORDER BY k""".stripMargin) {
      val prog = command("q_scoped_ivm", """
        let mut t := nil[{ v : int }] in
        let mut out := nil[{ k : int, n : int, s : int }] in
        for kv in sort(mapBag (mut nation) n n[n_nationkey]) :
          set t := { v : kv } :: mut t;
          set out := { k : kv, s : sum(mapBag (mut t) x x[v]),
            n : len(mut t) } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        val nation = Tables.load(s, dir, "nation").select(col("n_nationkey"))
        Optimize.run(prog, Env(Map.empty, Map("nation" -> nation), s))
          .store("result").orderBy("k")
      }
    },

    // COMPOSED indexes (fiat2/src/fiat2/IndexTransf.v:20-50 `compo_idx`):
    // the source program point-filters ONE table on TWO different
    // attributes inside a loop. `IndexTransf` builds a composed index
    // (both components from a single source scan) and routes each filter
    // to the component keyed on its own attribute, the reference's
    // record-of-indexes re-representation.
    GraftQuery.sql("q_compo_index",
      """SELECT CAST(k AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey = k) AS nc,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey = k * 100) AS nk
        |FROM (VALUES (1), (2), (3)) t(k) ORDER BY k""".stripMargin) {
      val prog = command("q_compo_index", """
        let mut out := nil[{k : int, nc : int, nk : int}] in
        for kv in [1, 2, 3] :
          set out := { k : kv,
            nc : len(o <- mut orders; check(o[o_custkey] == kv); ret o),
            nk : len(o <- mut orders; check(o[o_orderkey] == kv * 100); ret o)
          } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val env = Env(Map.empty, Map("orders" -> orders), s)
        Optimize.run(prog, env).store("result").orderBy("k")
      }
    },

    // Composed index MAINTAINED through inserts (compo_idx_wf,
    // fiat2/src/fiat2/IndexTransf.v:32-50): the loop both INSERTS an order
    // row and point-filters on BOTH attributes each iteration. IndexTransf
    // composes (chain writes are maintainable) and the interpreter updates
    // every component from each insert, so the routed counts see the new
    // rows — checked by the oracle (`nb` counts exactly the inserted row).
    GraftQuery.sql("q_compo_insert",
      """SELECT CAST(k AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey = k) + 1 AS na,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey = k + 1000000) + 1 AS nb
        |FROM (VALUES (1), (2), (3)) t(k) ORDER BY k""".stripMargin) {
      val prog = command("q_compo_insert", """
        let mut out := nil[{k : int, na : int, nb : int}] in
        for kv in [1, 2, 3] :
          set orders := { o_orderkey : kv + 1000000, o_custkey : kv } :: mut orders;
          set out := { k : kv,
            na : len(o <- mut orders; check(o[o_custkey] == kv); ret o),
            nb : len(o <- mut orders; check(o[o_orderkey] == kv + 1000000); ret o)
          } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val env = Env(Map.empty, Map("orders" -> orders), s)
        Optimize.run(prog, env).store("result").orderBy("k")
      }
    },

    // flatmap2 at TABLE level (fiat2/src/fiat2/Interpret.v:300-312): zip
    // the canonically-ordered customer and nation tables positionally —
    // the compiler's distributed zipWithIndex path (no single-partition
    // window) — cutting at the shorter side (25 nations), one record per
    // pair. The oracle replays canonical order with row_number.
    GraftQuery.sql("q_flatmap2_tables",
      """WITH a AS (SELECT c_custkey, c_name,
        |            row_number() OVER (ORDER BY c_custkey, c_name) AS rn
        |           FROM customer),
        |b AS (SELECT n_name, n_nationkey,
        |       row_number() OVER (ORDER BY n_name, n_nationkey) AS rn
        |      FROM nation)
        |SELECT a.c_custkey AS ck, CAST(b.n_nationkey AS BIGINT) AS nk,
        |  b.n_name AS nname
        |FROM a JOIN b USING (rn) ORDER BY ck, nk""".stripMargin) {
      val prog = expr("q_flatmap2_tables", """
        flatmap2 (mut customer) (mut nation) c n
          { ck : c[c_custkey], nk : n[n_nationkey], nname : n[n_name] }
            :: nil[{ ck : int, nk : int, nname : string }]""")
      val store = Store(
        "customer" -> Seq("c_custkey" -> TInt, "c_name" -> TString),
        "nation" -> Seq("n_name" -> TString, "n_nationkey" -> TInt))
      (s, dir) => {
        val env = Env(Map.empty, Map(
          "customer" -> Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_name")),
          "nation" -> Tables.load(s, dir, "nation")
            .select(col("n_name"), col("n_nationkey"))), s,
          storeTypes = store.types)
        compile(prog, env).asInstanceOf[TV].df.orderBy("ck", "nk")
      }
    },

    // SCOPED composed index (the reference applies transf_to_idx UNDER
    // each let mut — apply_below_n_letmuts, OptimizeAnno.v:282-288): the
    // table is let-mut-BOUND, not store-bound; the transform annotates the
    // binder (Env.indexHints), routes the two point filters to component
    // cells, and Interp builds the composed index when the cell binds.
    // Chain inserts in the loop maintain every component (compo_idx_wf),
    // which the oracle checks: nb counts exactly the row inserted that
    // iteration through the routed o_orderkey component.
    GraftQuery.sql("q_scoped_compo",
      """SELECT CAST(k AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey = k) + 1 AS na,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey = k + 2000000) + 1 AS nb
        |FROM (VALUES (1), (2), (3)) t(k) ORDER BY k""".stripMargin) {
      val prog = command("q_scoped_compo", """
        let mut tbl := mut orders in
        let mut out := nil[{k : int, na : int, nb : int}] in
        for kv in [1, 2, 3] :
          set tbl := { o_orderkey : kv + 2000000, o_custkey : kv } :: mut tbl;
          set out := { k : kv,
            na : len(o <- mut tbl; check(o[o_custkey] == kv); ret o),
            nb : len(o <- mut tbl; check(o[o_orderkey] == kv + 2000000); ret o)
          } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val env = Env(Map.empty, Map("orders" -> orders), s)
        val (cmd, idxEnv) = Optimize.transform(prog, env)
        require(idxEnv.indexHints.get("tbl").exists(_.toSet ==
          Set("o_custkey", "o_orderkey")), "scoped binder not annotated")
        var routed = Set.empty[String]
        Rewrites.mapExprs(cmd)(e => Rewrites.foldExpr(e) {
          case f @ EFilter(_, ELoc(t), _, _) if t.contains("@") =>
            routed += t; f
          case other => other
        })
        require(routed == Set("tbl@o_custkey", "tbl@o_orderkey"),
          s"filters not routed to components: $routed")
        Interp.exec(cmd, idxEnv).store("result").orderBy("k")
      }
    },

    // The ENTIRE lifecycle from surface text through the whole-pipeline
    // optimizer: parse → recognition → collection annotation (len and the
    // hand-written sum fold become declarative aggregates) → incremental
    // maintenance (count + sum cells bumped by each chain insert) →
    // interpret. Per iteration the program reads the table's running count
    // and custkey-sum in O(1); the oracle computes both closed-form.
    GraftQuery.sql("q_optimize_surface",
      """SELECT CAST(k AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM orders) + k AS n,
        |  (SELECT CAST(SUM(o_custkey % 1000000) AS BIGINT) FROM orders)
        |    + CAST((k*(k+1))/2 AS BIGINT) AS s
        |FROM (VALUES (1), (2), (3)) t(k) ORDER BY k""".stripMargin) {
      val prog = command("q_optimize_surface", """
        let mut out := nil[{k : int, n : int, s : int}] in
        for kv in [1, 2, 3] :
          set orders := { o_orderkey : kv + 1000000, o_custkey : kv } :: mut orders;
          set out := { k : kv,
            n : len(mut orders),
            s : fold (o <- mut orders; ret o[o_custkey]) 0 v acc v + acc
          } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        // this fixture tests the OPTIMIZER pipeline (recognition + IVM
        // cells), not arithmetic width — cap the summed column to the
        // sub-million residue (identity at the driver SFs; keeps the TInt
        // fold inside Long at any replication factor, the r12 word-fixture
        // mask stance)
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), (col("o_custkey") % 1000000).as("o_custkey"))
        Optimize.run(prog, Env(Map.empty, Map("orders" -> orders), s))
          .store("result").orderBy("k")
      }
    },

    // The reference's BITMAP index end-to-end
    // (filter_to_bitmap_lookup_head, fiat2/src/fiat2/BitmapIndex.v:811-831):
    // a loop re-filters orders with the same CONSTANT predicate every
    // iteration; IndexTransf precomputes the predicate once as a boolean
    // column on a cached cell and routes each filter to a bit test + strip
    // (use_bitmap_head, BitmapIndex.v:709) — asserted structurally below.
    // The dict index cannot claim this shape (no attr-eq key); the bitmap
    // is the reference's structure for exactly these repeated scans.
    GraftQuery.sql("q_bitmap_routed",
      """SELECT CAST(k AS BIGINT) AS k,
        |  CAST(k AS BIGINT) * (SELECT COUNT(*) FROM orders WHERE o_custkey < 40
        |                       AND o_orderkey % 2 = 0) AS n
        |FROM (VALUES (1), (2), (3)) t(k) ORDER BY k""".stripMargin) {
      val prog = command("q_bitmap_routed", """
        let mut out := nil[{k : int, n : int}] in
        for kv in [1, 2, 3] :
          set out := { k : kv,
            n : kv * len(o <- mut orders;
                         check(o[o_custkey] < 40 && o[o_orderkey] % 2 == 0);
                         ret o) } :: mut out
        end;
        set result := mut out""")
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val env = Env(Map.empty, Map("orders" -> orders), s)
        val (cmd, idxEnv) = Optimize.transform(prog, env)
        require(idxEnv.store.contains("orders@bitmap0"),
          "bitmap cell was not introduced")
        var routed = false
        Rewrites.mapExprs(cmd)(e => Rewrites.foldExpr(e) {
          case pr @ EProj(_, EFilter(_, ELoc("orders@bitmap0"), x,
              EAccess(EVar(x2), "@bit")), _, _) if x == x2 =>
            routed = true; pr
          case other => other
        })
        require(routed, s"filter not bitmap-routed:\n$cmd")
        Interp.exec(cmd, idxEnv).store("result").orderBy("k")
      }
    },

    // The Optimize.v COLUMN family end-to-end: a surface join over
    // FULL-WIDTH store tables (9-column orders, 8-column customer) runs
    // through the whole pipeline; the narrowing pass (proj_pushdown_left/
    // right/filter, Optimize.v:966-1135 via Pruning.narrow) wraps each join
    // input in a make_record projection of just the used columns — asserted
    // on the transformed program below — and the routed program still
    // matches the oracle. Catalyst would prune the physical scan regardless;
    // the assertion is that OUR optimizer performs the reference's rewrite.
    GraftQuery.sql("q_pruned_join",
      """SELECT o_orderkey AS okey, c_name AS cust
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_custkey < 40
        |ORDER BY okey, cust""".stripMargin) {
      val prog = command("q_pruned_join", """
        set result := (o <- mut orders;
                       c <- mut customer;
                       check(o[o_custkey] == c[c_custkey] && o[o_custkey] < 40);
                       ret { okey : o[o_orderkey], cust : c[c_name] })""")
      def narrowCols(e: Expr): Option[Seq[String]] = e match {
        case EProj(_, ELoc(_), _, ERecord(fs)) => Some(fs.map(_._1))
        case EFilter(_, inner, _, _) => narrowCols(inner)
        case _ => None
      }
      (s, dir) => {
        val env = Env(Map.empty, tables(s, dir, "orders", "customer"), s)
        val (cmd, primed) = Optimize.transform(prog, env)
        cmd match {
          case CAssign("result", EJoin(_, l1, l2, _, _, _, _)) =>
            require(narrowCols(l1).contains(Seq("o_custkey", "o_orderkey")),
              s"left join input not narrowed: $l1")
            require(narrowCols(l2).contains(Seq("c_custkey", "c_name")),
              s"right join input not narrowed: $l2")
          case other => sys.error(s"unexpected optimized command: $other")
        }
        Interp.exec(cmd, primed).store("result").orderBy("okey", "cust")
      }
    },

    // The full reference lifecycle from SOURCE TEXT (SURVEY.md §3.1): a
    // program written in the surface comprehension notation
    // (fiat2/src/fiat2/Notations.v:144-149 — `x <- t; check(p); ret r`) is
    // parsed, elaborated against its expected type (analyze fills the
    // ret/check nil-holes), normalized (to_join recognition turns the
    // nested flatmap/if/cons into a real θ-join), typechecked, and compiled
    // — so Catalyst sees an equi-join + pushed filter, not a filtered
    // cross product.
    GraftQuery.sql("q_surface_syntax",
      """SELECT o_orderkey AS okey, c_name AS cust,
        |       o_orderkey % 7 AS bucket
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_custkey < 50
        |ORDER BY okey, cust, bucket""".stripMargin) {
      val rowT = TRecord.sorted(
        "okey" -> TInt, "cust" -> TString, "bucket" -> TInt)
      val storeT = Store(
        "orders" -> Seq("o_orderkey" -> TInt, "o_custkey" -> TInt),
        "customer" -> Seq("c_custkey" -> TInt, "c_name" -> TString)).types
      val prog = TypeCheck.analyze(expr("q_surface_syntax", """
        o <- mut orders;
        c <- mut customer;
        check(o[o_custkey] == c[c_custkey] && o[o_custkey] < 50);
        ret { okey : o[o_orderkey], cust : c[c_name],
              bucket : o[o_orderkey] % 7 }"""), TList(rowT), Map.empty, storeT)
      require(TypeCheck.synthesize(prog, Map.empty, storeT) == TList(rowT))
      (s, dir) => {
        val env = Env(Map.empty, Map(
          "orders" -> Tables.load(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
          "customer" -> Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_name"))), s)
        rows(prog, env).orderBy("okey", "cust", "bucket")
      }
    },

    // CORRELATED COMPREHENSION through the FULL user path: surface syntax
    // → parse → typecheck (hole elaboration) → normalize → DECORRELATE.
    // The inner comprehension's check references the outer binder with a
    // non-equi predicate, so after normalization the body is
    // a projection of two stacked filters (the correlated non-equi one
    // under the equi one) — not a dependentBodyToJoin shape — and the
    // compiler's decorrelate() lowers the whole thing to one aliased
    // θ-join (the reference would interpret it as a nested loop,
    // Interpret.v:273-299).
    GraftQuery.sql("q_surface_decorrelate",
      """SELECT n_name AS nat, s_name AS sup
        |FROM nation JOIN supplier
        |  ON s_suppkey * 4 < n_nationkey * 50 + 40
        | AND s_nationkey = n_nationkey
        |ORDER BY nat, sup""".stripMargin) {
      val rowT = TRecord.sorted("nat" -> TString, "sup" -> TString)
      val store = Store(
        "nation" -> Seq("n_nationkey" -> TInt, "n_name" -> TString),
        "supplier" -> Seq("s_suppkey" -> TInt, "s_name" -> TString,
          "s_nationkey" -> TInt))
      val prog = TypeCheck.analyze(expr("q_surface_decorrelate", """
        n <- mut nation;
        s <- (t <- mut supplier; check(t[s_suppkey] * 4 < n[n_nationkey] * 50 + 40); ret t);
        check(s[s_nationkey] == n[n_nationkey]);
        ret { nat : n[n_name], sup : s[s_name] }"""),
        TList(rowT), Map.empty, store.types)
      require(TypeCheck.synthesize(prog, Map.empty, store.types) == TList(rowT))
      (s, dir) => rows(prog, store.bind(Env(Map.empty, Map.empty, s), dir))
        .orderBy("nat", "sup")
    },

    // TWord machine-word family (fiat2/src/fiat2/Language.v:80-107, semantics
    // Interpret.v:139-151): wrap-around multiply, unsigned/signed division
    // and modulo (TOTAL: x/0 = 0, x%0 = x, per coqutil word/Z), unsigned and
    // signed less-than — typechecked as TWord (distinct from TInt) and
    // compiled to codegen'd primitives, not ANSI overflow-checked builtins.
    // The oracle reproduces two's-complement semantics with HUGEINT math.
    GraftQuery.sql("q_word_ops",
      """WITH t AS (SELECT o_orderkey AS k, CAST(o_orderkey - 700 AS BIGINT) AS w FROM orders),
        |u AS (SELECT k, w,
        |        CAST(w AS HUGEINT) + (CASE WHEN w < 0 THEN 18446744073709551616 ELSE 0 END) AS uw,
        |        ((CAST(w AS HUGEINT) * -7046029254386353131) % 18446744073709551616
        |          + 18446744073709551616) % 18446744073709551616 AS wmu
        |      FROM t)
        |SELECT k,
        |  CAST(uw // 7 - (CASE WHEN uw // 7 >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END) AS BIGINT) AS du,
        |  CAST(w // -7 AS BIGINT) AS ds,
        |  CAST(uw % 7 AS BIGINT) AS mu,
        |  CAST(w % -7 AS BIGINT) AS ms,
        |  CAST(0 AS BIGINT) AS dz,
        |  w AS mz,
        |  CAST(wmu - (CASE WHEN wmu >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END) AS BIGINT) AS wm,
        |  uw < 100 AS ult,
        |  w < 100 AS slt
        |FROM u ORDER BY k""".stripMargin) {
      val prog = wordBattery("q_word_ops", -7046029254386353131L, None)
      (s, dir) => {
        val t = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            (col("o_orderkey") - 700).cast("long").as("w"))
        rows(prog, Env(Map.empty, Map("t" -> t), s,
          storeTypes = wordStore)).orderBy("k")
      }
    },

    // WIDTH-32 words (the reference is width-parametric — `Section
    // WithWord`, Context {width: Z}, fiat2/src/fiat2/Language.v:4; the
    // engine's opt-in is Env.wordWidth = 32, selecting the WordMath.*32
    // codegen family over the sign-extended-Int-in-Long representation).
    // Same op battery as q_word_ops, plus a wrap-around add at
    // Int.MaxValue; the multiply constant 2654435761 exceeds 2^31, so the
    // word literal itself is canonicalized by truncation. The oracle
    // replays 32-bit two's complement with BIGINT math wrapped mod 2^32.
    GraftQuery.sql("q_word_ops32",
      """WITH t AS (SELECT o_orderkey AS k,
        |            (((CAST(o_orderkey - 700 AS BIGINT) % 4294967296)
        |              + 4294967296 + 2147483648) % 4294967296)
        |              - 2147483648 AS w FROM orders),
        |u AS (SELECT k, w,
        |        CASE WHEN w < 0 THEN w + 4294967296 ELSE w END AS uw,
        |        (((w * 2654435761) % 4294967296) + 4294967296 + 2147483648)
        |          % 4294967296 - 2147483648 AS wm32,
        |        (((w + 2147483647) % 4294967296) + 4294967296 + 2147483648)
        |          % 4294967296 - 2147483648 AS wa32
        |      FROM t)
        |SELECT k,
        |  CAST(uw // 7 AS BIGINT) AS du,
        |  CAST(w // -7 AS BIGINT) AS ds,
        |  CAST(uw % 7 AS BIGINT) AS mu,
        |  CAST(w % -7 AS BIGINT) AS ms,
        |  CAST(0 AS BIGINT) AS dz,
        |  w AS mz,
        |  CAST(wm32 AS BIGINT) AS wm,
        |  CAST(wa32 AS BIGINT) AS wa,
        |  uw < 100 AS ult,
        |  w < 100 AS slt
        |FROM u ORDER BY k""".stripMargin) {
      val prog = wordBattery("q_word_ops32", 2654435761L, Some(2147483647L))
      (s, dir) => {
        // the store column must hold the CANONICAL width-32 form
        // (sign-extended Int in a Long) — at 9x+ corpora o_orderkey passes
        // 2^31 and the raw difference is not a 32-bit word; mask both
        // engines identically (identity at the driver SFs)
        val raw = (col("o_orderkey") - 700).cast("long")
        val canon32 = (((raw % 4294967296L) + 4294967296L + 2147483648L)
          % 4294967296L) - 2147483648L
        val t = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("k"), canon32.as("w"))
        rows(prog, Env(Map.empty, Map("t" -> t), s, wordWidth = 32,
          storeTypes = wordStore))
          .orderBy("k")
      }
    },

    // WIDTH-100 words — the MULTI-LIMB family every width above 64 runs
    // (WordBinOpBytes: unsigned residues as 13-byte big-endian arrays,
    // BigInteger math inside the codegen'd static call; no machine integer
    // holds 100 bits). The store column is the residue of
    // (o_orderkey - 700) mod 2^100; the wrap-add constant -1000
    // canonicalizes to 2^100 - 1000, so the add genuinely wraps. The
    // oracle replays 100-bit two's complement with HUGEINT (128-bit)
    // arithmetic mod 2^100 and emits each word as its decimal digits.
    GraftQuery.sql("q_word_ops100",
      """WITH t AS (SELECT o_orderkey AS k,
        |             CAST(o_orderkey - 700 AS HUGEINT) AS sw FROM orders),
        |u AS (SELECT k, sw,
        |        CASE WHEN sw < 0
        |          THEN sw + 1267650600228229401496703205376 ELSE sw END AS uw
        |      FROM t)
        |SELECT k,
        |  CAST(uw // 7 AS VARCHAR) AS du,
        |  CAST(((sw // -7) % 1267650600228229401496703205376
        |        + 1267650600228229401496703205376)
        |       % 1267650600228229401496703205376 AS VARCHAR) AS ds,
        |  CAST(uw % 7 AS VARCHAR) AS mu,
        |  CAST(((sw % -7) % 1267650600228229401496703205376
        |        + 1267650600228229401496703205376)
        |       % 1267650600228229401496703205376 AS VARCHAR) AS ms,
        |  CAST(0 AS VARCHAR) AS dz,
        |  CAST(uw AS VARCHAR) AS mz,
        |  CAST((uw * 12345) % 1267650600228229401496703205376
        |       AS VARCHAR) AS wm,
        |  CAST((uw + 1267650600228229401496703205376 - 1000)
        |       % 1267650600228229401496703205376 AS VARCHAR) AS wa,
        |  uw < 100 AS ult,
        |  sw < 100 AS slt
        |FROM u ORDER BY k""".stripMargin) {
      val prog = wordBattery("q_word_ops100", 12345L, Some(-1000L))
      (s, dir) => {
        val fam = graft.functions.WordOps.forWidth(100)
          .asInstanceOf[graft.functions.WordOps.Bytes]
        val t = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            fam.fromLong((col("o_orderkey") - 700).cast("long")).as("w"))
        val out = rows(prog, Env(Map.empty, Map("t" -> t), s, wordWidth = 100,
          storeTypes = wordStore))
        // 100-bit residues cross the engine boundary as decimal STRINGS:
        // the comparison layer renders wide numbers through float64 (and
        // the result hash is type-sensitive), so digits are the only exact
        // cross-engine carrier at this magnitude. hex() renders the 13-byte
        // residue as 26 nibbles; the high 10 and the low 16 each convert
        // with the codegen'd conv, and the halves recombine exactly in
        // Decimal(38,0) (2^100 < 10^38) — no custom expression on the way out
        val dt = org.apache.spark.sql.types.DecimalType(38, 0)
        val two64 = lit(new java.math.BigDecimal(
          java.math.BigInteger.ONE.shiftLeft(64))).cast(dt)
        def digits(c: String) = {
          val h = hex(col(c))
          (conv(substring(h, 1, 10), 16, 10).cast(dt) * two64 +
            conv(substring(h, 11, 16), 16, 10).cast(dt)).cast("string").as(c)
        }
        val wordCols = Seq("du", "ds", "mu", "ms", "dz", "mz", "wm", "wa")
        out.select(col("k") +: (wordCols.map(digits)
          ++ Seq(col("ult"), col("slt"))): _*).orderBy("k")
      }
    },

    // WIDTH-256 words — the MULTI-LIMB family (WordBinOpBytes: unsigned
    // residues as fixed-length big-endian byte arrays in BinaryType,
    // BigInteger math inside the codegen'd static call; no width ceiling,
    // like the reference's `width: Z`, fiat2/src/fiat2/Language.v:4).
    // DuckDB holds no 256-bit integer, so the oracle replays the arithmetic in
    // BASE-2^64 LIMBS of HUGEINT — carry-chain multiply, borrow-chain
    // wrap-add, long division — and both sides emit each word as four
    // decimal limb strings (engine: hex → 16-char slices → conv base 16).
    GraftQuery.sql("q_word_ops256",
      """WITH t AS (SELECT o_orderkey AS k,
        |             CAST(o_orderkey - 700 AS HUGEINT) AS sw FROM orders),
        |i AS (SELECT k, sw,
        |        CASE WHEN sw < 0 THEN 18446744073709551615::HUGEINT
        |             ELSE 0::HUGEINT END AS w0,
        |        CASE WHEN sw < 0 THEN 18446744073709551615::HUGEINT
        |             ELSE 0::HUGEINT END AS w1,
        |        CASE WHEN sw < 0 THEN 18446744073709551615::HUGEINT
        |             ELSE 0::HUGEINT END AS w2,
        |        CASE WHEN sw < 0 THEN 18446744073709551616::HUGEINT + sw
        |             ELSE sw END AS w3
        |      FROM t),
        |m1 AS (SELECT *, w3 * 12345 AS p3 FROM i),
        |m2 AS (SELECT *, p3 % 18446744073709551616 AS wm3,
        |               w2 * 12345 + p3 // 18446744073709551616 AS p2 FROM m1),
        |m3 AS (SELECT *, p2 % 18446744073709551616 AS wm2,
        |               w1 * 12345 + p2 // 18446744073709551616 AS p1 FROM m2),
        |m4 AS (SELECT *, p1 % 18446744073709551616 AS wm1,
        |               (w0 * 12345 + p1 // 18446744073709551616)
        |                 % 18446744073709551616 AS wm0 FROM m3),
        |a1 AS (SELECT *,
        |         CASE WHEN w3 >= 1000 THEN w3 - 1000
        |              ELSE w3 + 18446744073709551616 - 1000 END AS wa3,
        |         CASE WHEN w3 >= 1000 THEN 0 ELSE 1 END AS b3 FROM m4),
        |a2 AS (SELECT *,
        |         CASE WHEN w2 >= b3 THEN w2 - b3
        |              ELSE w2 + 18446744073709551616 - b3 END AS wa2,
        |         CASE WHEN w2 >= b3 THEN 0 ELSE 1 END AS b2 FROM a1),
        |a3 AS (SELECT *,
        |         CASE WHEN w1 >= b2 THEN w1 - b2
        |              ELSE w1 + 18446744073709551616 - b2 END AS wa1,
        |         CASE WHEN w1 >= b2 THEN 0 ELSE 1 END AS b1 FROM a2),
        |a4 AS (SELECT *, (w0 - b1 + 18446744073709551616)
        |                 % 18446744073709551616 AS wa0 FROM a3),
        |d1 AS (SELECT *, w0 // 7 AS du0, w0 % 7 AS r0 FROM a4),
        |d2 AS (SELECT *, (r0 * 18446744073709551616 + w1) // 7 AS du1,
        |               (r0 * 18446744073709551616 + w1) % 7 AS r1 FROM d1),
        |d3 AS (SELECT *, (r1 * 18446744073709551616 + w2) // 7 AS du2,
        |               (r1 * 18446744073709551616 + w2) % 7 AS r2 FROM d2),
        |d4 AS (SELECT *, (r2 * 18446744073709551616 + w3) // 7 AS du3,
        |               (r2 * 18446744073709551616 + w3) % 7 AS muv FROM d3),
        |s1 AS (SELECT *, sw // -7 AS dsv, sw % -7 AS msv FROM d4)
        |SELECT k,
        |  CAST(du0 AS VARCHAR) AS du_0, CAST(du1 AS VARCHAR) AS du_1,
        |  CAST(du2 AS VARCHAR) AS du_2, CAST(du3 AS VARCHAR) AS du_3,
        |  CASE WHEN dsv < 0 THEN '18446744073709551615' ELSE '0' END AS ds_0,
        |  CASE WHEN dsv < 0 THEN '18446744073709551615' ELSE '0' END AS ds_1,
        |  CASE WHEN dsv < 0 THEN '18446744073709551615' ELSE '0' END AS ds_2,
        |  CAST(CASE WHEN dsv < 0 THEN 18446744073709551616 + dsv
        |            ELSE dsv END AS VARCHAR) AS ds_3,
        |  '0' AS mu_0, '0' AS mu_1, '0' AS mu_2,
        |  CAST(muv AS VARCHAR) AS mu_3,
        |  CASE WHEN msv < 0 THEN '18446744073709551615' ELSE '0' END AS ms_0,
        |  CASE WHEN msv < 0 THEN '18446744073709551615' ELSE '0' END AS ms_1,
        |  CASE WHEN msv < 0 THEN '18446744073709551615' ELSE '0' END AS ms_2,
        |  CAST(CASE WHEN msv < 0 THEN 18446744073709551616 + msv
        |            ELSE msv END AS VARCHAR) AS ms_3,
        |  '0' AS dz_0, '0' AS dz_1, '0' AS dz_2, '0' AS dz_3,
        |  CAST(w0 AS VARCHAR) AS mz_0, CAST(w1 AS VARCHAR) AS mz_1,
        |  CAST(w2 AS VARCHAR) AS mz_2, CAST(w3 AS VARCHAR) AS mz_3,
        |  CAST(wm0 AS VARCHAR) AS wm_0, CAST(wm1 AS VARCHAR) AS wm_1,
        |  CAST(wm2 AS VARCHAR) AS wm_2, CAST(wm3 AS VARCHAR) AS wm_3,
        |  CAST(wa0 AS VARCHAR) AS wa_0, CAST(wa1 AS VARCHAR) AS wa_1,
        |  CAST(wa2 AS VARCHAR) AS wa_2, CAST(wa3 AS VARCHAR) AS wa_3,
        |  sw >= 0 AND sw < 100 AS ult,
        |  sw < 100 AS slt
        |FROM s1 ORDER BY k""".stripMargin) {
      val prog = wordBattery("q_word_ops256", 12345L, Some(-1000L))
      (s, dir) => {
        val fam = graft.functions.WordOps.forWidth(256)
          .asInstanceOf[graft.functions.WordOps.Bytes]
        val t = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            fam.fromLong((col("o_orderkey") - 700).cast("long")).as("w"))
        val out = rows(prog, Env(Map.empty, Map("t" -> t), s, wordWidth = 256,
          storeTypes = wordStore))
        // 256-bit residues cross the engine boundary as FOUR decimal limb
        // strings (base 2^64, limb 0 most significant): hex() renders the
        // fixed 32-byte value as 64 nibbles, each 16-nibble slice converts
        // with the codegen'd conv — no custom expression on the way out
        def limbs(c: String) = (0 until 4).map(i =>
          conv(substring(hex(col(c)), 1 + 16 * i, 16), 16, 10).as(s"${c}_$i"))
        val wordCols256 = Seq("du", "ds", "mu", "ms", "dz", "mz", "wm", "wa")
        out.select((col("k") +: wordCols256.flatMap(limbs)) ++
          Seq(col("ult"), col("slt")): _*).orderBy("k")
      }
    },

    // WIDTH-16 words — exercises the GENERIC Long width family (WordBinOpW:
    // width baked into the codegen'd static call over the sign-extended
    // canonical form), not the specialized 64/32 paths; widths above 64
    // run the byte family (q_word_ops100/256). o_orderkey exceeds
    // 2^15 at every SF, so the input column itself must be canonicalized
    // (shiftleft/shiftright 48 = sign-extend the low 16 bits); the wrap
    // multiply constant 40503 exceeds 2^15, so the word literal is
    // canonicalized by truncation too. The oracle replays 16-bit two's
    // complement with BIGINT math wrapped mod 2^16.
    GraftQuery.sql("q_word_ops16",
      """WITH t AS (SELECT o_orderkey AS k,
        |             CAST(((o_orderkey - 700 + 32768) % 65536 + 65536)
        |                  % 65536 - 32768 AS BIGINT) AS w
        |           FROM orders),
        |u AS (SELECT k, w,
        |        CASE WHEN w < 0 THEN w + 65536 ELSE w END AS uw,
        |        (((w * 40503) % 65536) + 65536 + 32768) % 65536 - 32768 AS wm16,
        |        (((w + 32767) % 65536) + 65536 + 32768) % 65536 - 32768 AS wa16
        |      FROM t)
        |SELECT k,
        |  CAST(uw // 7 AS BIGINT) AS du,
        |  CAST(w // -7 AS BIGINT) AS ds,
        |  CAST(uw % 7 AS BIGINT) AS mu,
        |  CAST(w % -7 AS BIGINT) AS ms,
        |  CAST(0 AS BIGINT) AS dz,
        |  w AS mz,
        |  CAST(wm16 AS BIGINT) AS wm,
        |  CAST(wa16 AS BIGINT) AS wa,
        |  uw < 100 AS ult,
        |  w < 100 AS slt
        |FROM u ORDER BY k""".stripMargin) {
      val prog = wordBattery("q_word_ops16", 40503L, Some(32767L))
      (s, dir) => {
        val t = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            shiftright(shiftleft((col("o_orderkey") - 700).cast("long"), 48), 48)
              .as("w"))
        rows(prog, Env(Map.empty, Map("t" -> t), s, wordWidth = 16,
          storeTypes = wordStore))
          .orderBy("k")
      }
    },

    // Collection-kind annotation (fiat2/src/fiat2/CollectionTransf.v:6-51):
    // the SOURCE program is written with sequential list folds — the sum
    // idiom, len, and the option-match running-minimum — over a list
    // filter→map pipeline. CollectionTransf.annotate recognizes them as
    // declarative bag/set aggregates and re-kinds the pipeline beneath
    // (push_down_collection), so the compiled form is a distributed agg
    // over the pushed-down filter, never a driver-side fold.
    GraftQuery.sql("q_collection_annotate",
      """SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       COUNT(*) AS n_rows,
        |       CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin) {
      val src = """map (filter (mut lineitem) l l[l_returnflag] == "R") l l[l_qty]"""
      val annotated = CollectionTransf.annotate(expr("q_collection_annotate", s"""
        { sum_qty : fold ($src) (0) v acc v + acc,
          n_rows : len($src),
          min_qty : optmatch
            (fold ($src) (none[int]) v acc
              optmatch (acc) (some(v)) x if v < x then some(v) else acc)
            (-1) m m }"""))
      require(!annotated.toString.contains("EFold("),
        "annotation must eliminate every sequential fold")
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("l_qty"))
        val c = asScalar(compile(annotated, Env(Map.empty,
          Map("lineitem" -> li), s)))
        s.range(1).select(
          c("sum_qty").cast("long").as("sum_qty"),
          c("n_rows").cast("long").as("n_rows"),
          c("min_qty").cast("long").as("min_qty"))
      }
    },
  )

  /** Every program above as (query, notation text, parsed tree), in the
    * order the queries register them. */
  val programs: Seq[(String, String, Either[Expr, Command])] = parsed.result()
}
