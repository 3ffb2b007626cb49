package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Lang._
import graft.lang.Compiler._

/** The whole-pipeline Optimize driver (CombIdxEx.v ex_transf analog):
  * recognition + annotation + incremental aggregates + index introduction
  * composed, with semantic equality against the plain interpreter.
  */
class OptimizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def respDF = Seq(
    ("ann", "CS", "good", 100L), ("bo", "EE", "meh", 50L),
    ("cy", "CS", "fine", 70L)).toDF("name", "department", "feedback", "salary")

  private val rowT = TRecord.sorted("department" -> TString,
    "feedback" -> TString, "name" -> TString, "salary" -> TInt)
  private def rowLit(n: String, f: String, sal: Long) =
    ERecord(List("name" -> EAtom(AString(n)),
      "department" -> EAtom(AString("CS")),
      "feedback" -> EAtom(AString(f)), "salary" -> EAtom(AInt(sal))))

  // the CombIdxEx.ex1 shape: chain insert, dept filter loop, salary sum
  private val build = CAssign("t", EBinop(OCons, rowLit("dd", "x", 9L),
    EBinop(OCons, rowLit("ee", "y", 1L), ELoc("t"))))
  private val filterCS = ESort(LikeList,
    EFlatmap(LikeList, ELoc("t"), "row",
      EIf(EBinop(OEq, EAccess(EVar("row"), "department"), EAtom(AString("CS"))),
        EBinop(OCons, EVar("row"), EAtom(ANil(rowT))), EAtom(ANil(rowT)))))
  private val query1 = CForeach(filterCS, "r",
    CAssign("acc", EBinop(OConcatString, ELoc("acc"),
      EAccess(EVar("r"), "name"))))
  private val sumFold = EFold(
    EFlatmap(LikeList, ELoc("t"), "row",
      EBinop(OCons, EAccess(EVar("row"), "salary"), EAtom(ANil(TInt)))),
    EAtom(AInt(0)), "v", "acc", EBinop(OPlus, EVar("v"), EVar("acc")))
  private val minFold = EFold(
    EFlatmap(LikeList, ELoc("t"), "row",
      EBinop(OCons, EAccess(EVar("row"), "salary"), EAtom(ANil(TInt)))),
    EAtom(ANone(TInt)), "v", "acc",
    EOptMatch(EVar("acc"), EUnop(OSome, EVar("v")), "x",
      EIf(EBinop(OLess, EVar("v"), EVar("x")),
        EUnop(OSome, EVar("v")), EVar("acc"))))
  private val prog = CLetMut(EAtom(AString("")), "acc",
    CLetMut(EAtom(AInt(0)), "s", CLetMut(EAtom(AInt(0)), "m",
      CSeq(build, CSeq(query1,
        CSeq(CAssign("s", sumFold),
          CSeq(CAssign("m", EOptMatch(minFold, EAtom(AInt(-1)), "mm", EVar("mm"))),
            CAssign("result", EBinop(OCons, ERecord(List(
              "fb" -> ELoc("acc"), "s" -> ELoc("s"), "m" -> ELoc("m"))),
              EAtom(ANil(TRecord.sorted("fb" -> TString, "s" -> TInt,
                "m" -> TInt))))))))))))

  test("transform maintains sum+min cells and rewrites reads to cell reads") {
    val env = Env(Map.empty, Map("t" -> respDF), spark)
    val (cmd, primed) = Optimize.transform(prog, env)
    val sumCell = IvmTransf.cellName("t", "salary")
    val minCell = IvmTransf.minCellName("t", "salary")
    assert(primed.scalars.contains(sumCell) && primed.scalars.contains(minCell))
    assert(spark.range(1).select(primed.scalars(sumCell)).head().getLong(0)
      === 220L)
    assert(spark.range(1).select(primed.scalars(minCell)).head().getLong(0)
      === 50L)
    val printed = cmd.toString
    assert(!printed.contains("EACFold"), s"sum read must be a cell read:\n$printed")
    assert(!printed.contains("EACIFold"), s"min read must be a cell read:\n$printed")
    // the chain insert bumps BOTH rows into the cells
    assert(printed.contains(s"CAssign($sumCell,"))
    assert(printed.contains(s"CAssign($minCell,"))
    // the department point filter was re-keyed on the index
    assert(primed.store("t") ne respDF, "store must be re-represented")
  }

  test("optimized run equals plain run") {
    def rows(env: Env) = env.store("result")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = rows(Interp.run(prog,
      Env(Map.empty, Map("t" -> respDF), spark,
        storeTypes = Map("t" -> TList(rowT)))))
    val fast = rows(Optimize.run(prog,
      Env(Map.empty, Map("t" -> respDF), spark,
        storeTypes = Map("t" -> TList(rowT)))))
    assert(plain === fast)
    // sorted CS rows: (CS,fine,cy), (CS,good,ann), (CS,x,dd), (CS,y,ee);
    // result columns are name-sorted: (fb, m, s)
    assert(fast === Seq(("cyannddee", 1L, 230L)))
  }

  test("CLetMut-scoped table maintenance introduces a nested scalar cell") {
    val sumRead = EACFold(AGSum,
      EProj(LikeBag, ELoc("lt"), "x", EAccess(EVar("x"), "v")))
    val loop = CForeach(EBinop(OCons, EAtom(AInt(1L)), EAtom(ANil(TInt))),
      "kv", CSeq(
        CAssign("lt", EBinop(OCons, ERecord(List("v" -> EVar("kv"))),
          ELoc("lt"))),
        CAssign("o", sumRead)))
    val prog = CLetMut(EAtom(ANil(TRecord.sorted("v" -> TInt))), "lt", loop)
    val out = IvmTransf.transformScoped(prog)
    val printed = out.toString
    val cell = IvmTransf.cellName("lt", "v")
    assert(printed.contains(s"CLetMut(EAtom(AInt(0)),$cell"),
      s"cell binding missing:\n$printed")
    assert(!printed.contains("EACFold"), s"read not rewritten:\n$printed")
    // a nested rebind of the same table name: the INNER scope maintains
    // (its reads are its own), the outer scope must not add a second cell
    val shadowed = CLetMut(EAtom(ANil(TRecord.sorted("v" -> TInt))), "lt",
      CLetMut(EAtom(ANil(TRecord.sorted("v" -> TInt))), "lt", loop))
    val p2 = IvmTransf.transformScoped(shadowed).toString
    assert(s"CLetMut\\(EAtom\\(AInt\\(0\\)\\),\\Q$cell\\E".r
      .findAllIn(p2).size === 1, s"expected exactly one cell binding:\n$p2")
  }

  test("a non-chain write downgrades to plain semantics, still correct") {
    val clobber = CSeq(prog match {
      case CLetMut(e, x, b) => CLetMut(e, x,
        CSeq(CAssign("t", EBinop(OConcat, ELoc("t"), ELoc("t"))), b))
      case other => other
    }, CSkip)
    def rows(env: Env) = env.store("result")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = rows(Interp.run(clobber,
      Env(Map.empty, Map("t" -> respDF), spark,
        storeTypes = Map("t" -> TList(rowT)))))
    val fast = rows(Optimize.run(clobber,
      Env(Map.empty, Map("t" -> respDF), spark,
        storeTypes = Map("t" -> TList(rowT)))))
    assert(plain === fast)
  }
}
