package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Lang._
import graft.lang.Compiler._

/** Language-layer semantics against hand-computed expectations — the
  * ScalaCheck-style analog of the reference's per-operator `preserve_sem`
  * lemmas (SURVEY.md §5).
  */
class CompilerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def env = Env(Map.empty, Map.empty, spark)
  private def evalv(e: Expr): Any =
    spark.range(1).select(asColumn(compile(e, env)).as("v")).head().get(0)
  private def asColumn(v: Val) = v.asInstanceOf[CV].c
  private def listOf(xs: Long*): Expr =
    xs.foldRight[Expr](EAtom(ANil(TInt)))((x, acc) =>
      EBinop(OCons, EAtom(AInt(x)), acc))

  test("EIf: a row-free condition is decided on the driver, a row-dependent one lowers to when") {
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    val t = Seq(1L, 7L, 3L).toDF("v")
    val envT = Env(Map.empty, Map("t" -> t), spark)
    def caseWhens(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect {
        case cw: CaseWhen => cw })
    val perRow = compile(EProj(LikeBag, ELoc("t"), "x",
      EIf(EBinop(OLess, EAccess(EVar("x"), "v"), EAtom(AInt(5))),
        EAtom(AInt(10)), EAtom(AInt(20)))), envT).asInstanceOf[TV].df
    assert(caseWhens(perRow).nonEmpty,
      s"row-dependent EIf must lower to when:\n${perRow.queryExecution.analyzed}")
    assert(perRow.as[Long].collect().sorted.toSeq == Seq(10L, 10L, 20L))
    // a row-free condition picks its branch: no per-row `when` survives
    val decided = compile(EProj(LikeBag, ELoc("t"), "x",
      EIf(EBinop(OLess, EAtom(AInt(2)), EAtom(AInt(5))),
        EAccess(EVar("x"), "v"), EAtom(AInt(20)))), envT).asInstanceOf[TV].df
    assert(caseWhens(decided).isEmpty,
      s"row-free EIf must be decided, not lowered:\n${decided.queryExecution.analyzed}")
    assert(decided.as[Long].collect().sorted.toSeq == Seq(1L, 3L, 7L))
  }

  test("mutable SCALAR cells: loop accumulation, folding, scope restore") {
    // the reference's all_feedback idiom (Ex_Survey.v:44-49): a string cell
    // updated per iteration; each update folds to a literal (no plan growth)
    val accumulate = CLetMut(EAtom(AString("a")), "acc",
      CSeq(
        CForeach(listOf(1L, 2L, 3L), "x",
          CAssign("acc", EBinop(OConcatString, ELoc("acc"),
            EUnop(OIntToString, EVar("x"))))),
        CAssign("out", EBinop(OCons,
          ERecord(List("s" -> ELoc("acc"))),
          EAtom(ANil(TRecord.sorted("s" -> TString)))))))
    val end = Interp.run(accumulate, Env(Map.empty, Map.empty, spark))
    assert(end.store("out").head().getString(0) === "a123")
    assert(!end.scalars.contains("acc"), "scalar cell must be scoped")
    // shadowing: inner CLetMut of the same name restores the outer value
    val shadow = CLetMut(EAtom(AInt(1L)), "n",
      CSeq(
        CLetMut(EAtom(AInt(99L)), "n", CAssign("n", EAtom(AInt(100L)))),
        CAssign("out2", EBinop(OCons,
          ERecord(List("n" -> ELoc("n"))),
          EAtom(ANil(TRecord.sorted("n" -> TInt)))))))
    assert(Interp.run(shadow, Env(Map.empty, Map.empty, spark))
      .store("out2").head().getLong(0) === 1L)
  }

  test("inner TABLE cell shadows a same-named outer SCALAR cell") {
    // an inner CLetMut binding a table under a name that an outer CLetMut
    // holds as a scalar: the body must see (and be able to assign) the
    // TABLE, and the outer scalar must come back intact afterwards
    val rowList = EBinop(OCons,
      ERecord(List("v" -> EAtom(AInt(7L)))),
      EAtom(ANil(TRecord.sorted("v" -> TInt))))
    val prog = CLetMut(EAtom(AInt(1L)), "x",
      CSeq(
        CLetMut(rowList, "x", CSeq(
          // CAssign of a table into the inner cell must NOT throw
          CAssign("x", EBinop(OConcat, ELoc("x"), ELoc("x"))),
          // a read of x in the body must see the table (2 rows after concat)
          CAssign("inner", ELoc("x")))),
        // after the inner scope, x is the outer scalar again
        CAssign("outer", EBinop(OCons,
          ERecord(List("n" -> ELoc("x"))),
          EAtom(ANil(TRecord.sorted("n" -> TInt)))))))
    val end = Interp.run(prog, Env(Map.empty, Map.empty, spark))
    assert(end.store("inner").count() === 2L)
    assert(end.store("outer").head().getLong(0) === 1L)
    assert(!end.scalars.contains("x") && !end.store.contains("x"))
  }

  test("word ops: wrap-around, total div/mod, unsigned compare (Interpret.v:139-151)") {
    def W(v: Long) = EAtom(AWord(v))
    def bin(op: Binop, a: Long, b: Long) = evalv(EBinop(op, W(a), W(b)))
    // two's-complement wrap (ANSI +/- would throw here)
    assert(bin(OWPlus, Long.MaxValue, 1L) === Long.MinValue)
    assert(bin(OWTimes, Long.MaxValue, 2L) === -2L)
    assert(evalv(EUnop(OWNeg, W(Long.MinValue))) === Long.MinValue)
    // Z.quot/Z.rem truncation; MIN/-1 wraps instead of overflowing
    assert(bin(OWDivS, -7L, 2L) === -3L)
    assert(bin(OWModS, -7L, 2L) === -1L)
    assert(bin(OWDivS, Long.MinValue, -1L) === Long.MinValue)
    // unsigned views: -1 is 2^64-1
    assert(bin(OWDivU, -1L, 2L) === Long.MaxValue)
    assert(bin(OWModU, -1L, 10L) === 5L)
    // totality: x/0 = 0, x%0 = x (coqutil word / Coq Z)
    assert(bin(OWDivU, 42L, 0L) === 0L)
    assert(bin(OWDivS, 42L, 0L) === 0L)
    assert(bin(OWModU, 42L, 0L) === 42L)
    assert(bin(OWModS, -42L, 0L) === -42L)
    // unsigned vs signed order of -1 and 1
    assert(bin(OWLessU, 1L, -1L) === true)
    assert(bin(OWLessS, 1L, -1L) === false)
    // typechecker separates TWord from TInt
    intercept[TypeCheck.TypeError] {
      TypeCheck.synthesize(EBinop(OWPlus, EAtom(AInt(1)), EAtom(AInt(2))),
        Map.empty, Map.empty)
    }
    assert(TypeCheck.synthesize(EBinop(OWLessU, W(1).asInstanceOf[Expr],
      W(2)), Map.empty, Map.empty) === TBool)
  }

  test("nested filter/proj/fold over a literal list") {
    // fold(+) over map(*2) of filter(>2) of [1..5] = (3+4+5)*2 = 24
    val prog = EFold(
      EProj(LikeList,
        EFilter(LikeList, listOf(1, 2, 3, 4, 5), "x",
          EBinop(OLess, EAtom(AInt(2)), EVar("x"))),
        "x", EBinop(OTimes, EVar("x"), EAtom(AInt(2)))),
      EAtom(AInt(0)), "x", "acc", EBinop(OPlus, EVar("acc"), EVar("x")))
    assert(evalv(prog) === 24L)
  }

  test("EFlatmap2 zips a table against a nested-list value (mixed operands)") {
    import org.apache.spark.sql.functions.col
    val keys = Seq(10L, 20L, 30L).toDF("value")
    val prog = EFlatmap2(ELoc("t"), EBinop(ORange, EAtom(AInt(0)), EAtom(AInt(2))),
      "a", "b",
      EBinop(OCons, EBinop(OPlus, EVar("a"), EVar("b")), EAtom(ANil(TInt))))
    val out = compile(prog, Env(Map.empty, Map("t" -> keys), spark,
      storeTypes = Map("t" -> TBag(TInt))))
      .asInstanceOf[TV].df.orderBy(col("value"))
      .collect().map(_.getLong(0)).toSeq
    // canonical order of t = [10,20,30]; range = [0,1]; shorter cuts
    assert(out === Seq(10L, 21L))
  }

  test("EFlatmap2 stops at the shorter list (Interpret.v:7-11)") {
    // zip [1,2,3] [10,20] with (x+y) singleton → [11, 22]
    val prog = EFlatmap2(listOf(1, 2, 3), listOf(10, 20), "x", "y",
      EBinop(OCons, EBinop(OPlus, EVar("x"), EVar("y")), EAtom(ANil(TInt))))
    assert(evalv(prog) === Seq(11L, 22L))
  }

  test("nested join with fused projection (nested-loop semantics)") {
    // join [1,2] [2,3] on x==y emit x*10+y → [22]
    val prog = EJoin(LikeList, listOf(1, 2), listOf(2, 3), "x", "y",
      EBinop(OEq, EVar("x"), EVar("y")),
      EBinop(OPlus, EBinop(OTimes, EVar("x"), EAtom(AInt(10))), EVar("y")))
    assert(evalv(prog) === Seq(22L))
  }

  test("EOptMatch on none/some") {
    val some = EOptMatch(EUnop(OSome, EAtom(AInt(5))),
      EAtom(AInt(-1)), "x", EBinop(OPlus, EVar("x"), EAtom(AInt(1))))
    val none = EOptMatch(EAtom(ANone(TInt)),
      EAtom(AInt(-1)), "x", EBinop(OPlus, EVar("x"), EAtom(AInt(1))))
    assert(evalv(some) === 6L)
    assert(evalv(none) === -1L)
  }

  test("OBagInsert/OSetInsert take (collection, element) — Interpret.v:186") {
    val bag = EBinop(OBagInsert, EAtom(AEmptyBag(TInt)), EAtom(AInt(2)))
    assert(evalv(EBinop(OBagInsert, bag, EAtom(AInt(1)))) === Seq(1L, 2L))
    val set = EBinop(OSetInsert,
      EBinop(OSetInsert, EAtom(AEmptySet(TInt)), EAtom(AInt(3))),
      EAtom(AInt(3)))
    assert(evalv(set) === Seq(3L)) // idempotent
  }

  test("same-table correlated count unnests with correct aliasing") {
    val t = Seq((1L, 2L), (1L, 5L), (3L, 4L)).toDF("k", "v")
    // per-row count of SAME-TABLE key matches: the rounds-5 engine had to
    // reject this (unaliased attribute ids would silently count every
    // row); the unnesting aliases the outer side, so it now computes —
    // k=1 rows each see 2 matches, the k=3 row sees 1
    val prog = EProj(LikeBag, ELoc("t"), "x",
      EUnop(OLength, EFilter(LikeBag, ELoc("t"), "y",
        EBinop(OEq, EAccess(EVar("y"), "k"), EAccess(EVar("x"), "k")))))
    val counts = compile(prog, Env(Map.empty, Map("t" -> t), spark))
      .asInstanceOf[TV].df.collect().map(_.getLong(0)).sorted.toSeq
    assert(counts === Seq(1L, 2L, 2L))
  }

  test("ESetOf dedups+sorts, EACIFold min/max, EDictFold over entries") {
    val set = ESetOf(listOf(3, 1, 3, 2, 1))
    assert(evalv(set) === Seq(1L, 2L, 3L))
    assert(evalv(EACIFold(AGMin, set)) === 1L)
    assert(evalv(EACIFold(AGMax, set)) === 3L)
    assert(evalv(EACIFold(AGMin, EAtom(ANil(TInt)))) === null) // None on empty
    val dict = ETernop(OInsert,
      ETernop(OInsert, EAtom(AEmptyDict(TInt, TInt)),
        EAtom(AInt(1)), EAtom(AInt(10))),
      EAtom(AInt(2)), EAtom(AInt(20)))
    val folded = EDictFold(dict, EAtom(AInt(0)), "k", "v", "acc",
      EBinop(OPlus, EVar("acc"), EBinop(OPlus, EVar("k"), EVar("v"))))
    assert(evalv(folded) === 33L)
  }

  test("table-level pipeline: filter/join/proj/sort compile to a DataFrame") {
    val emp = Seq((1L, "ann", 10L), (2L, "bob", 20L), (3L, "cy", 10L))
      .toDF("id", "name", "dept")
    val dep = Seq((10L, "eng"), (20L, "ops")).toDF("did", "dname")
    val prog = ESort(LikeList, EJoin(LikeBag, ELoc("emp"), ELoc("dep"),
      "e", "d", EBinop(OEq, EAccess(EVar("e"), "dept"), EAccess(EVar("d"), "did")),
      ERecord(List("n" -> EAccess(EVar("e"), "name"),
        "g" -> EAccess(EVar("d"), "dname")))))
    val out = compile(prog,
      Env(Map.empty, Map("emp" -> emp, "dep" -> dep), spark))
      .asInstanceOf[TV].df
    assert(out.collect().map(r => (r.getString(1), r.getString(0))).toSeq ===
      Seq(("ann", "eng"), ("cy", "eng"), ("bob", "ops")))
  }

  test("CIf branches on a driver-evaluated condition; CLet scopes bindings") {
    val prog = CLet(EAtom(AInt(7)), "n",
      CLetMut(EAtom(ANil(TInt)), "out",
        CSeq(
          CIf(EBinop(OLess, EVar("n"), EAtom(AInt(10))),
            CAssign("out", EBinop(OCons, EVar("n"), ELoc("out"))),
            CAssign("out", EBinop(OCons, EAtom(AInt(-1)), ELoc("out")))),
          CAssign("result", ELoc("out")))))
    val out = Interp.run(prog, Env(Map.empty, Map.empty, spark))
      .store("result").collect().map(_.getLong(0)).toSeq
    assert(out === Seq(7L))
  }

  test("EJoin of a table with ITSELF resolves both sides correctly") {
    // the Ex_Family/Ex_Triangle shape: both ELoc lookups return the SAME
    // DataFrame; the aliased join must not degenerate to a cross product
    val t = Seq((1L, 10L), (2L, 20L), (3L, 10L)).toDF("id", "grp")
    val prog = EJoin(LikeBag, ELoc("t"), ELoc("t"), "x", "y",
      EBinop(OAnd,
        EBinop(OEq, EAccess(EVar("x"), "grp"), EAccess(EVar("y"), "grp")),
        EBinop(OLess, EAccess(EVar("x"), "id"), EAccess(EVar("y"), "id"))),
      ERecord(List("a" -> EAccess(EVar("x"), "id"),
        "b" -> EAccess(EVar("y"), "id"))))
    val rows = compile(prog, Env(Map.empty, Map("t" -> t), spark))
      .asInstanceOf[TV].df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1L, 3L))) // only the grp=10 pair, ordered
  }

  test("cross-table correlated flatmap DECORRELATES to a join") {
    val t1 = Seq((1L, 2L), (5L, 6L)).toDF("k", "v")
    val t2 = Seq((1L, 9L), (1L, 8L), (7L, 0L)).toDF("k", "w")
    val prog = EFlatmap(LikeBag, ELoc("t1"), "x",
      EFilter(LikeBag, ELoc("t2"), "y",
        EBinop(OEq, EAccess(EVar("y"), "k"), EAccess(EVar("x"), "k"))))
    val out = compile(prog, Env(Map.empty, Map("t1" -> t1, "t2" -> t2), spark))
      .asInstanceOf[TV].df
    // flatmap semantics: concatenation of the matching t2 rows per t1 row
    assert(out.columns.toSeq === Seq("k", "w"))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 8L), (1L, 9L)))
    // and the equi conjunct must become a real join, not a cross product
    val physical = out.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"),
      s"decorrelated plan fell back to a cross product:\n$physical")
  }

  test("same-table correlated flatmap decorrelates with correct aliasing") {
    val t = Seq((1L, 2L), (3L, 4L)).toDF("k", "v")
    val prog = EFlatmap(LikeBag, ELoc("t"), "x",
      EFilter(LikeBag, ELoc("t"), "y",
        EBinop(OEq, EAccess(EVar("y"), "k"), EAccess(EVar("x"), "k"))))
    val rows = compile(prog, Env(Map.empty, Map("t" -> t), spark))
      .asInstanceOf[TV].df.collect().map(r => (r.getLong(0), r.getLong(1)))
    // each row matches exactly itself — a collapsed self-correlation would
    // instead return every row for every outer row (4 pairs)
    assert(rows.sorted.toSeq === Seq((1L, 2L), (3L, 4L)))
  }

  test("decorrelation handles non-equi filters and outer-referencing " +
      "projections; correlated aggregates still raise the directed error") {
    val t1 = Seq((1L, "a"), (3L, "b")).toDF("k", "n")
    val t2 = Seq((0L, 10L), (2L, 20L), (9L, 30L)).toDF("j", "w")
    // body: filter chain with the correlation in the INNER (non-equi)
    // filter + a projection mixing outer and inner fields — the shape
    // dependentBodyToJoin does not recognize
    val prog = EFlatmap(LikeBag, ELoc("t1"), "x",
      EProj(LikeBag,
        EFilter(LikeBag,
          EFilter(LikeBag, ELoc("t2"), "y",
            EBinop(OLess, EAccess(EVar("y"), "j"), EAccess(EVar("x"), "k"))),
          "z", EBinop(OLess, EAtom(AInt(0)), EAccess(EVar("z"), "w"))),
        "u", ERecord(List(
          "n" -> EAccess(EVar("x"), "n"),
          "w" -> EAccess(EVar("u"), "w")))))
    val rows = compile(prog, Env(Map.empty, Map("t1" -> t1, "t2" -> t2), spark))
      .asInstanceOf[TV].df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.sorted.toSeq ===
      Seq(("a", 10L), ("b", 10L), ("b", 20L)))
    // correlated aggregate inside the body's filter predicate: through
    // round 9 this raised the directed error; the round-10 hoist (the
    // EJoin-only gate dropped) unnests the aggregate into an outer-row
    // column first, so the shape now COMPILES and must match the
    // reference nested loops: x.k=1 → sum(w | j<1)=10 → keeps w>10
    // = {(2,20),(9,30)}; x.k=3 → sum=30 → keeps none.
    val agg = EFlatmap(LikeBag, ELoc("t1"), "x",
      EFilter(LikeBag, ELoc("t2"), "y",
        EBinop(OLess,
          EACFold(AGSum, EProj(LikeBag,
            EFilter(LikeBag, ELoc("t2"), "q",
              EBinop(OLess, EAccess(EVar("q"), "j"), EAccess(EVar("x"), "k"))),
            "p", EAccess(EVar("p"), "w"))),
          EAccess(EVar("y"), "w"))))
    val aggRows = compile(agg, Env(Map.empty, Map("t1" -> t1, "t2" -> t2),
        spark)).asInstanceOf[TV].df
      .collect().map(r => (r.getLong(r.fieldIndex("j")),
        r.getLong(r.fieldIndex("w"))))
    assert(aggRows.sorted.toSeq === Seq((2L, 20L), (9L, 30L)))
  }

  test("correlated scalar aggregates in a projection unnest to groupBy + left join") {
    import graft.lang.RefInterp
    import graft.lang.RefInterp.{REnv, VI, VList, VRec, VOpt, V}
    val t1 = Seq((1L, 5L), (2L, 6L), (3L, 7L)).toDF("k", "v")
    val t2 = Seq((1L, 10L), (1L, 20L), (3L, 30L), (9L, 40L)).toDF("j", "w")
    // per t1 row: count of matching t2 rows, sum of their w (with an
    // inner-only filter), max of w gated by an OUTER-only conjunct
    def matches(b: String) = EFilter(LikeBag, ELoc("t2"), b,
      EBinop(OEq, EAccess(EVar(b), "j"), EAccess(EVar("x"), "k")))
    val prog = EProj(LikeBag, ELoc("t1"), "x", ERecord(List(
      "k" -> EAccess(EVar("x"), "k"),
      "n" -> EUnop(OLength, matches("a")),
      "s" -> EACFold(AGSum, EProj(LikeBag,
        EFilter(LikeBag, matches("b"), "r",
          EBinop(OLess, EAtom(AInt(10)), EAccess(EVar("r"), "w"))),
        "p", EAccess(EVar("p"), "w"))),
      "m" -> EACIFold(AGMax, EProj(LikeBag,
        EFilter(LikeBag, matches("c"), "g",
          EBinop(OLess, EAccess(EVar("x"), "v"), EAtom(AInt(7)))),
        "q", EAccess(EVar("q"), "w"))))))
    val df = compile(prog, Env(Map.empty, Map("t1" -> t1, "t2" -> t2), spark))
      .asInstanceOf[TV].df
    // differential vs the reference interpreter on the same tiny tables
    val renv = REnv(
      "t1" -> VList(Vector((1L, 5L), (2L, 6L), (3L, 7L)).map { case (k, v) =>
        VRec(Vector("k" -> VI(k), "v" -> VI(v))): V }),
      "t2" -> VList(Vector((1L, 10L), (1L, 20L), (3L, 30L), (9L, 40L)).map {
        case (j, w) => VRec(Vector("j" -> VI(j), "w" -> VI(w))): V }))
    val wantRaw = RefInterp.interp(prog, renv) match {
      case RefInterp.VBag(xs) => xs
      case RefInterp.VList(xs) => xs // store tables are lists (VList in)
      case o => fail(s"expected a collection, got $o")
    }
    val got = df.collect().map { r =>
      VRec(Vector[(String, V)](
        "k" -> VI(r.getLong(r.fieldIndex("k"))),
        "m" -> (if (r.isNullAt(r.fieldIndex("m"))) VOpt(None)
          else VOpt(Some(VI(r.getLong(r.fieldIndex("m")))))),
        "n" -> VI(r.getLong(r.fieldIndex("n"))),
        "s" -> VI(r.getLong(r.fieldIndex("s"))))): V
    }.toVector
    // reference wraps the ACI result in an option; align got's m likewise
    assert(RefInterp.sortedV(got) == RefInterp.sortedV(wantRaw),
      s"got=$got want=$wantRaw")
    // plan: no nested-loop residue
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"),
      s"unnesting fell back to a cross product:\n$physical")
  }

  test("bigInt maps TInt to canonical bytes: sums past 2^63 compute exactly") {
    // 4 × 3 × (10^18 + 1) = 1.2e19 + 12: exceeds Long.MaxValue ≈ 9.2e18 —
    // the default mapping must raise its directed overflow, the bigInt
    // mapping must give the exact 20-digit result
    val big = 1000000000000000001L
    val prog = EACFold(AGSum, EProj(LikeBag, ELoc("t"), "x",
      EBinop(OTimes, EAccess(EVar("x"), "v"), EAtom(AInt(big)))))
    val t = Seq(3L, 3L, 3L, 3L).toDF("v")
    val bignum = Env(Map.empty,
      Map("t" -> t.select(graft.functions.BigIntOps.fromLong($"v").as("v"))),
      spark, bigInt = true)
    val out = spark.range(1)
      .select(graft.functions.BigIntOps.toStr(asColumn(compile(prog, bignum)))
        .as("s"))
      .head().getString(0)
    assert(out === "12000000000000000012")
    val narrow = Env(Map.empty, Map("t" -> t), spark)
    val ex = intercept[Exception] {
      spark.range(1).select(asColumn(compile(prog, narrow))).head()
    }
    assert(Compiler.isTIntOverflow(ex), s"expected the directed overflow: $ex")
  }

  test("table EFold streams past 10k rows in batches, same right-fold result") {
    // 25k rows: the round-5 cliff refused this outright; the batched
    // stream must produce exactly the sequential right fold over
    // canonical (sorted) order, computed here directly in Scala
    val n = 25000L
    val t = spark.range(n).select((col("id") * 7 % 26371).as("value"))
    val prog = EFold(ELoc("t"), EAtom(AInt(0)), "x", "acc",
      EBinop(OMod,
        EBinop(OPlus, EBinop(OTimes, EVar("acc"), EAtom(AInt(31))), EVar("x")),
        EAtom(AInt(1000000007))))
    val got = spark.range(1)
      .select(asColumn(compile(prog, Env(Map.empty, Map("t" -> t), spark,
        storeTypes = Map("t" -> TBag(TInt))))))
      .head().getLong(0)
    val vals = (0L until n).map(i => i * 7 % 26371).sorted
    val want = vals.foldRight(0L)((x, a) =>
      java.lang.Math.floorMod(a * 31 + x, 1000000007L))
    assert(got === want)
  }

  test("command layer: CLetMut/CForeach/CAssign accumulate into a table") {
    val prog = CLetMut(EAtom(ANil(TInt)), "out",
      CSeq(
        CForeach(EBinop(ORange, EAtom(AInt(0)), EAtom(AInt(4))), "i",
          CAssign("out", EBinop(OCons,
            EBinop(OTimes, EVar("i"), EVar("i")), ELoc("out")))),
        CAssign("result", ELoc("out"))))
    val out = Interp.run(prog, Env(Map.empty, Map.empty, spark))
      .store("result")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 4L, 9L))
  }

  test("a record with several table lengths pre-counts them in ONE job") {
    val t = spark.range(10).select(col("id").as("v"))
    val lenBelow = (bound: Expr) => EUnop(OLength,
      EFilter(LikeList, ELoc("t"), "x",
        EBinop(OLess, EAccess(EVar("x"), "v"), bound)))
    val rec = ERecord(List(
      "a" -> lenBelow(EAtom(AInt(5L))),
      "b" -> lenBelow(EAtom(AInt(8L)))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // AQE materializes each shuffle stage as its own job, which would make
    // a job count meaningless — with it off, one ACTION is one job, which
    // is the thing the batch collapses (driver round-trips)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    val compiled = try {
      val c = compile(rec, Env(Map.empty, Map("t" -> t), spark))
      // listener events are async: drain the bus deterministically so every
      // job posted by compile() is counted — no wall-clock grace window
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext, 30000L)
      c
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    assert(jobs.get() === 1, "both lengths must share one batched count job")
    val row = spark.range(1).select(asColumn(compiled).as("r"))
      .select(col("r.a"), col("r.b")).head()
    assert((row.getLong(0), row.getLong(1)) === (5L, 8L))
  }

  test("batched length memo is not served across a shadowing rebind") {
    val t = spark.range(10).select(col("id").as("v"))
    // both fields read len(σ[v < k] t) with the SAME operand AST; field b
    // rebinds k locally, so serving a's pre-count there would be wrong
    val lenK = EUnop(OLength,
      EFilter(LikeList, ELoc("t"), "x",
        EBinop(OLess, EAccess(EVar("x"), "v"), EVar("k"))))
    // a second DISTINCT closed length so the batch fires (identical ASTs
    // dedup to one target, which would skip batching and test nothing)
    val lenConst = EUnop(OLength,
      EFilter(LikeList, ELoc("t"), "x",
        EBinop(OLess, EAccess(EVar("x"), "v"), EAtom(AInt(8L)))))
    val rec = ERecord(List(
      "a" -> lenK,
      "a2" -> lenConst,
      "b" -> ELet(EAtom(AInt(2L)), "k", lenK)))
    val e = Env(Map.empty, Map("t" -> t), spark).bind("k", CV(lit(5L)))
    val row = spark.range(1).select(asColumn(compile(rec, e)).as("r"))
      .select(col("r.a"), col("r.b")).head()
    assert((row.getLong(0), row.getLong(1)) === (5L, 2L))
  }
}
