package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.lang._
import graft.lang.Lang._
import graft.lang.Compiler._

/** Incremental aggregate maintenance (IvmTransf): the rewrite structure
  * (reads become cell reads, writes bump the cell) and the semantic
  * equivalence of the `Optimize` pipeline's run with the plain
  * re-aggregating run.
  */
class IvmTransfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sumRead = EACFold(AGSum,
    EProj(LikeBag, ELoc("t"), "x", EAccess(EVar("x"), "v")))
  private def keys(ks: Long*) = ks.foldRight[Expr](EAtom(ANil(TInt))) {
    (k, acc) => EBinop(OCons, EAtom(AInt(k)), acc)
  }
  private val loop = CForeach(keys(1L, 2L, 3L), "kv", CSeq(
    CAssign("t", EBinop(OCons, ERecord(List("v" -> EVar("kv"))), ELoc("t"))),
    CAssign("out", EBinop(OCons,
      ERecord(List("k" -> EVar("kv"), "s" -> sumRead)), ELoc("out")))))
  private val prog = CLetMut(
    EAtom(ANil(TRecord.sorted("k" -> TInt, "s" -> TInt))), "out",
    CSeq(loop, CAssign("result", ELoc("out"))))

  test("sum read becomes a cell read; cons write bumps the cell") {
    val t = Seq(10L).toDF("v")
    val env = Compiler.typed(Env(Map.empty, Map("t" -> t), spark))
    val (cmd, primed) = IvmTransf.transform(prog, env)
    val cell = IvmTransf.cellName("t", "v")
    assert(primed.scalars.contains(cell), "cell must be primed")
    // primed with the pre-loop sum
    assert(spark.range(1).select(primed.scalars(cell)).head().getLong(0) === 10L)
    val printed = cmd.toString
    assert(printed.contains(s"ELoc($cell)"), s"reads not rewritten:\n$printed")
    assert(printed.contains(s"CAssign($cell,"), s"writes not maintained:\n$printed")
    assert(!printed.contains("EACFold"), s"a re-aggregating read survived:\n$printed")
  }

  test("incremental run equals plain run") {
    val t = Seq(10L, 20L).toDF("v")
    def rows(env: Env) = env.store("result")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val plain = rows(Interp.run(prog, Env(Map.empty, Map("t" -> t), spark)))
    val fast = rows(Optimize.run(prog,
      Env(Map.empty, Map("t" -> t), spark)))
    assert(plain === fast)
    assert(fast === Seq((1L, 31L), (2L, 33L), (3L, 36L)))
  }

  test("min read in a loop is maintained through inserts (MinAgg analog)") {
    val minRead = EACIFold(AGMin,
      EProj(LikeBag, ELoc("t"), "x", EAccess(EVar("x"), "v")))
    val loop2 = CForeach(keys(7L, 2L, 9L), "kv", CSeq(
      CAssign("t", EBinop(OCons, ERecord(List("v" -> EVar("kv"))), ELoc("t"))),
      CAssign("out", EBinop(OCons,
        ERecord(List("k" -> EVar("kv"),
          "m" -> EOptMatch(minRead, EAtom(AInt(-1)), "mm", EVar("mm")))),
        ELoc("out")))))
    val prog2 = CLetMut(
      EAtom(ANil(TRecord.sorted("k" -> TInt, "m" -> TInt))), "out",
      CSeq(loop2, CAssign("result", ELoc("out"))))
    val t = Seq(5L).toDF("v")
    val (cmd, primed) = IvmTransf.transform(prog2,
      Compiler.typed(Env(Map.empty, Map("t" -> t), spark)))
    val cell = IvmTransf.minCellName("t", "v")
    assert(primed.scalars.contains(cell))
    assert(!cmd.toString.contains("EACIFold"), "min read must be a cell read")
    def rows(e: Env) = e.store("result")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val plain = rows(Interp.run(prog2, Env(Map.empty, Map("t" -> t), spark)))
    val fast = rows(Optimize.run(prog2,
      Env(Map.empty, Map("t" -> t), spark)))
    assert(plain === fast)
    // inserts 7, 2, 9 against base {5}: running min after each = 5, 2, 2
    assert(fast === Seq((2L, 2L), (7L, 5L), (9L, 2L)))
  }

  test("len(t) in a loop is maintained as a count cell (pk-index count)") {
    val loop2 = CForeach(keys(1L, 2L), "kv", CSeq(
      CAssign("t", EBinop(OCons, ERecord(List("v" -> EVar("kv"))), ELoc("t"))),
      CAssign("out", EBinop(OCons,
        ERecord(List("k" -> EVar("kv"), "n" -> EUnop(OLength, ELoc("t")))),
        ELoc("out")))))
    val prog2 = CLetMut(
      EAtom(ANil(TRecord.sorted("k" -> TInt, "n" -> TInt))), "out",
      CSeq(loop2, CAssign("result", ELoc("out"))))
    val t = Seq(10L, 20L).toDF("v")
    val (cmd, primed) = IvmTransf.transform(prog2,
      Compiler.typed(Env(Map.empty, Map("t" -> t), spark)))
    val cell = IvmTransf.countCellName("t")
    assert(primed.scalars.contains(cell))
    assert(spark.range(1).select(primed.scalars(cell)).head().getLong(0) === 2L)
    assert(!cmd.toString.contains("OLength"), "count read must be a cell read")
    def rows(e: Env) = e.store("result")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows(Optimize.run(prog2,
        Env(Map.empty, Map("t" -> t), spark))) ===
      Seq((1L, 3L), (2L, 4L)))
  }

  test("a non-cons write to the table disables maintenance (soundness)") {
    // same loop, plus a concat write the transform can't bump the cell for:
    // maintaining would leave reads stale, so the program must be untouched
    val withConcat = CSeq(loop,
      CAssign("t", EBinop(OConcat, ELoc("t"), ELoc("t"))))
    val prog2 = CLetMut(
      EAtom(ANil(TRecord.sorted("k" -> TInt, "s" -> TInt))), "out",
      CSeq(withConcat, CAssign("result", ELoc("out"))))
    val t = Seq(10L).toDF("v")
    val env = Compiler.typed(Env(Map.empty, Map("t" -> t), spark))
    val (cmd, primed) = IvmTransf.transform(prog2, env)
    assert(cmd === prog2, "program must be left untransformed")
    assert(primed.scalars.isEmpty, "no cell may be primed")
    // and the untransformed incremental run still equals the plain run
    def rows(e: Env) = e.store("result")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows(Optimize.run(prog2,
        Env(Map.empty, Map("t" -> t), spark))) ===
      rows(Interp.run(prog2, Env(Map.empty, Map("t" -> t), spark))))
  }

  test("a CLetMut re-binding the table disables maintenance") {
    val shadowed = CLetMut(EAtom(ANil(TRecord.sorted("v" -> TInt))), "t",
      loop)
    val prog2 = CLetMut(
      EAtom(ANil(TRecord.sorted("k" -> TInt, "s" -> TInt))), "out",
      CSeq(shadowed, CAssign("result", ELoc("out"))))
    val t = Seq(10L).toDF("v")
    val (cmd, primed) = IvmTransf.transform(prog2,
      Compiler.typed(Env(Map.empty, Map("t" -> t), spark)))
    assert(cmd === prog2)
    assert(primed.scalars.isEmpty)
  }

  test("a table only read (never cons-written in a loop) is untouched") {
    val t = Seq(5L).toDF("v")
    val readOnly = CForeach(keys(1L), "kv",
      CAssign("out", EBinop(OCons,
        ERecord(List("k" -> EVar("kv"), "s" -> sumRead)),
        ELoc("out"))))
    val (cmd, primed) = IvmTransf.transform(readOnly,
      Compiler.typed(Env(Map.empty, Map("t" -> t), spark)))
    assert(cmd === readOnly)
    assert(primed.scalars.isEmpty)
  }
}
