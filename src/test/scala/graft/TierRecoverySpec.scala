package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lang._
import graft.lang.Lang._
import graft.lang.Compiler._

/** The corr-family TInt tier (r14 directive 3): a correlated per-key sum
  * past int64 must RECOVER through autoWide's Decimal(38,0) re-tier —
  * exact values, not an ANSI throw — and the merged decorrelation paths
  * must never merge aggregates whose OUTER key expressions differ.
  */
class TierRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("correlated per-key sum past int64 re-tiers and matches exact BigInt") {
    // q_lang_corr_widen's elements are 5e18 + s_suppkey: inside int64
    // per element, past 2^63 for any nation with >= 2 suppliers. The
    // narrow tier's Decimal-partial range check raises the DIRECTED
    // error; autoWideTable re-runs on the wide mapping. Expected values
    // computed driver-side in BigInt from the same parquet.
    // sf0.01, not the suite's sf0.001: the smoke corpus has <= 1 supplier
    // per nation, so no per-key sum crosses int64 there
    val sfDir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q_lang_corr_widen")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> BigInt(r.getString(1))).toMap
    val sup = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_nationkey").cast("long"), col("s_suppkey").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0))
      .map { nk =>
        nk -> sup.filter(_._1 == nk)
          .map(s => BigInt(5000000000000000000L) + s._2).sum
      }.toMap
    assert(got == expected)
    // the point of the fixture: at least one value is PAST int64, so the
    // narrow mapping provably could not have produced it
    assert(got.values.exists(_ > BigInt(Long.MaxValue)),
      s"fixture no longer crosses int64 — it proves nothing: $got")
  }

  test("tierSum raises the DIRECTED overflow, not ANSI's bare long overflow") {
    // the keyed groupBy on the narrow tier: one key's sum
    // crosses 2^63 -> the directed message autoWide re-tiers on
    val t = Seq((1L, 5000000000000000000L), (1L, 5000000000000000000L),
      (2L, 7L)).toDF("k", "v")
    val outer = Seq(1L, 2L).toDF("k")
    val prog = EProj(LikeBag, ELoc("outer"), "o", ERecord(List(
      "k" -> EAccess(EVar("o"), "k"),
      "s" -> EACFold(AGSum, EProj(LikeBag,
        EFilter(LikeBag, ELoc("inner"), "i",
          EBinop(OEq, EAccess(EVar("i"), "k"), EAccess(EVar("o"), "k"))),
        "p", EAccess(EVar("p"), "v"))))))
    val env = Env(Map.empty, Map("outer" -> outer, "inner" -> t), spark)
    val e = intercept[Exception] {
      compileProgram(prog, env).asInstanceOf[TV].df.collect()
    }
    assert(Compiler.isTIntOverflow(e),
      s"expected the directed TInt-overflow marker, got: $e")
    // and the same program through autoWideTable recovers exactly
    val got = Compiler.autoWideTable(Env(Map.empty, Map.empty, spark)) {
      env0 =>
        def tint(c: org.apache.spark.sql.Column) =
          if (env0.bigInt) graft.functions.BigIntOps.fromLong(c)
          else if (env0.wideInt) c.cast("decimal(38,0)") else c
        val env2 = env0.copy(store = Map(
          "outer" -> outer.select(tint(col("k")).as("k")),
          "inner" -> t.select(tint(col("k")).as("k"), tint(col("v")).as("v"))))
        compileProgram(prog, env2).asInstanceOf[TV].df
          .select(col("k").cast("long").as("k"),
            col("s").cast("string").as("s"))
    }.collect().map(r => r.getLong(0) -> BigInt(r.getString(1))).toMap
    assert(got == Map(1L -> BigInt("10000000000000000000"), 2L -> BigInt(7)))
  }

  test("a maintained sum cell bumped past int64 raises the DIRECTED overflow and re-tiers") {
    // Optimize maintains `sum(t.v)` as a cell bumped on the driver per
    // insert; a bump past 2^63 cannot fold, so the cell stays symbolic
    // and the directed error surfaces when `result` is materialized,
    // where autoWide re-runs the program on the wide tier.
    val big = 1L << 62
    val prog = Parser.parseCommand(
      s"""let mut out := nil[{k : int, s : int}] in
         |for kv in [1, 2, 3] :
         |  set t := { v : $big } :: mut t;
         |  set out := { k : kv, s : fold (map (mut t) o o[v]) 0 x acc x + acc } :: mut out
         |end;
         |set result := mut out""".stripMargin)
    val t = Seq(big).toDF("v")
    def run(env0: Env): Array[(Long, BigInt)] = {
      val tint = if (env0.wideInt) col("v").cast("decimal(38,0)") else col("v")
      val end = Optimize.run(prog, env0.copy(store = Map("t" -> t.select(tint.as("v")))))
      assert(end.scalars.contains(IvmTransf.cellName("t", "v")),
        "the sum read must be a maintained cell")
      end.store("result").select(col("k").cast("long"), col("s").cast("string"))
        .collect().map(r => r.getLong(0) -> BigInt(r.getString(1)))
    }
    val e = intercept[Exception](run(Env(Map.empty, Map.empty, spark)))
    assert(Compiler.isTIntOverflow(e),
      s"expected the directed TInt-overflow marker, got: $e")
    val got = Compiler.autoWide(Env(Map.empty, Map.empty, spark))(run).toMap
    assert(got == (1 to 3).map(k => k.toLong -> BigInt(big) * (k + 1)).toMap)
  }

  test("flat-equi merge keeps aggregates with different OUTER keys apart") {
    // Two aggregates over the SAME lifted join source whose inner key
    // expressions are identical (s.nk) but whose OUTER sides differ
    // (n.nkey vs n.alt): merging them onto one join predicate would
    // silently compute the second against the wrong key. The merge
    // identity includes the outer key exprs, so they stay separate.
    val sup = Seq((1L, 1L), (2L, 2L), (3L, 1L)).toDF("sk", "nk")
    val reg = Seq(Tuple1(0L), Tuple1(1L)).toDF("rk")
    val nat = Seq((1L, 2L), (2L, 1L)).toDF("nkey", "alt")
    def f(b: String, c: String) = EAccess(EVar(b), c)
    def pairJoin(outKey: String, sb: String, ja: String, jb: String,
        body: Expr) =
      EJoin(LikeBag,
        EFilter(LikeBag, ELoc("sup"), sb,
          EBinop(OEq, f(sb, "nk"), f("n", outKey))),
        ELoc("reg"), ja, jb,
        EBinop(OEq, EBinop(OMod, f(ja, "sk"), EAtom(AInt(2))), f(jb, "rk")),
        body)
    val prog = EProj(LikeBag, ELoc("nat"), "n", ERecord(List(
      "nkey" -> f("n", "nkey"),
      "a" -> EUnop(OLength, pairJoin("nkey", "c0", "a0", "b0",
        ERecord(List("sk" -> f("a0", "sk"))))),
      "b" -> EACFold(AGSum, pairJoin("alt", "c1", "a1", "b1",
        f("a1", "sk"))))))
    // strict order mode requires type-directed sorts: declare the store
    // types so the lifted join leg's canonical localization is typed
    val storeT = Map(
      "sup" -> TBag(TRecord.sorted("sk" -> TInt, "nk" -> TInt)),
      "reg" -> TBag(TRecord.sorted("rk" -> TInt)),
      "nat" -> TBag(TRecord.sorted("nkey" -> TInt, "alt" -> TInt)))
    val env = Env(Map.empty,
      Map("sup" -> sup, "reg" -> reg, "nat" -> nat), spark,
      storeTypes = storeT)
    val got = compileProgram(prog, env).asInstanceOf[TV].df
      .collect().map(r => (r.getAs[Long]("nkey"),
        r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(got == Set((1L, 2L, 2L), (2L, 1L, 4L)))
  }

  test("range merge shares one collection across different outer range sides") {
    // Two range aggregates over the same keyed source whose RANGE outer
    // sides differ (o.k vs 2*o.k): the residue applies per node map-side,
    // so both ride ONE collected array — and both come out right.
    val t = Seq((0L, 1L), (0L, 3L), (1L, 2L), (1L, 6L)).toDF("par", "v")
    val outer = Seq((2L, 0L), (5L, 1L)).toDF("k", "par")
    def f(b: String, c: String) = EAccess(EVar(b), c)
    def corr(b: String, bound: Expr) = EFilter(LikeBag, ELoc("t"), b,
      EBinop(OAnd,
        EBinop(OEq, f(b, "par"), f("o", "par")),
        EBinop(OLess, f(b, "v"), bound)))
    val prog = EProj(LikeBag, ELoc("outer"), "o", ERecord(List(
      "k" -> f("o", "k"),
      "s1" -> EACFold(AGSum, EProj(LikeBag,
        corr("i1", f("o", "k")), "p1", f("p1", "v"))),
      "s2" -> EACFold(AGSum, EProj(LikeBag,
        corr("i2", EBinop(OTimes, EAtom(AInt(2)), f("o", "k"))),
        "p2", f("p2", "v"))))))
    val env = Env(Map.empty, Map("t" -> t, "outer" -> outer), spark)
    val df = compileProgram(prog, env).asInstanceOf[TV].df
    val got = df.collect().map(r => (r.getAs[Long]("k"),
      r.getAs[Long]("s1"), r.getAs[Long]("s2"))).toSet
    // k=2,par=0: v<2 -> {1} sum 1; v<4 -> {1,3} sum 4
    // k=5,par=1: v<5 -> {2} sum 2; v<10 -> {2,6} sum 8
    assert(got == Set((2L, 1L, 4L), (5L, 2L, 8L)))
    // ONE shared collection in the plan (executed AQE plans print Final +
    // Initial trees — count within the final one only)
    val p = df.queryExecution.executedPlan.toString
      .split(java.util.regex.Pattern.quote("== Initial Plan ==")).head
    val collects = p.linesIterator.count(_.contains("partial_collect_list"))
    assert(collects == 1, s"expected one shared collection, got $collects:\n$p")
  }
}
