package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Lang._

/** The Python extraction backend: emitted shape, refusal stance, and a
  * DIFFERENTIAL run — the same program executed by CPython (the
  * reference's actual deployment path for program_py) and by the compiled
  * Spark path must produce identical values. Guarded by python3
  * availability so the suite stays green in minimal environments.
  */
class ToPythonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def litList(xs: Seq[Long]): Expr =
    xs.foldRight[Expr](EAtom(ANil(TInt))) { (x, a) =>
      EBinop(OCons, EAtom(AInt(x)), a)
    }

  test("scalar/collection operators render as the reference's Python forms") {
    assert(ToPython(EBinop(OPlus, EAtom(AInt(1)), EAtom(AInt(2)))) ===
      "(1 + 2)")
    assert(ToPython(EBinop(ODiv, EAtom(AInt(-7)), EAtom(AInt(2)))) ===
      "(-7 // 2)", "floor division IS Z.div — extraction allowed")
    assert(ToPython(EFilter(LikeBag, ELoc("t"), "x",
      EBinop(OLess, EVar("x"), EAtom(AInt(5))))) ===
      "[x for x in t if (x < 5)]")
    assert(ToPython(EACIFold(AGMin, ELoc("t"))) === "min(t, default=None)")
    // word ops extract via the masked prelude family (the reference's
    // printer emits plain // here, losing the unsigned view)
    assert(ToPython(EBinop(OWDivU, EVar("a"), EVar("b"))) ===
      "__wdivu(a, b)")
    // a command renders as an indented program with the prelude
    val prog = ToPython.program(CLetMut(litList(Seq(1, 2)), "t",
      CForeach(ELoc("t"), "x", CAssign("out", EVar("x")))), wordWidth = 64)
    assert(prog.contains("import functools"))
    assert(prog.contains("for x in t:\n    out = x"))
  }

  test("extracted Python computes exactly what the compiled engine computes") {
    import scala.sys.process._
    val havePython = try {
      Seq("python3", "-c", "print(1)").!!.trim == "1"
    } catch { case _: Exception => false }
    assume(havePython, "python3 not available")

    // join of two literal record lists + filter + sort + fold + dict ops —
    // a cross-section of the operator surface with a deterministic value
    val rowT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    def rec(k: Long, v: Long): Expr =
      ERecord(List("k" -> EAtom(AInt(k)), "v" -> EAtom(AInt(v))))
    def recs(xs: (Long, Long)*): Expr =
      xs.foldRight[Expr](EAtom(ANil(rowT))) { (x, a) =>
        EBinop(OCons, rec(x._1, x._2), a)
      }
    val t1 = recs((1, 10), (2, 20), (3, 31), (2, 25))
    val t2 = recs((2, 7), (3, 9), (4, 11))
    val joined = EJoin(LikeBag, t1, t2, "a", "b",
      EBinop(OAnd,
        EBinop(OEq, EAccess(EVar("a"), "k"), EAccess(EVar("b"), "k")),
        EBinop(OLess, EAtom(AInt(-5)), EAccess(EVar("a"), "v"))),
      ERecord(List(
        "k" -> EAccess(EVar("a"), "k"),
        "s" -> EBinop(OPlus, EAccess(EVar("a"), "v"),
          EAccess(EVar("b"), "v")))))
    val folded = EFold(
      EProj(LikeList, ESort(LikeList, joined), "r", EAccess(EVar("r"), "s")),
      EAtom(AInt(0)), "x", "acc",
      EBinop(OPlus,
        EBinop(OTimes, EVar("acc"), EAtom(AInt(31))),
        EBinop(OMod, EVar("x"), EAtom(AInt(-4)))))
    // engine value
    val env = Compiler.Env(Map.empty, Map.empty, spark)
    val engine = spark.range(1)
      .select(Compiler.asScalar(Compiler.compile(folded, env)).as("v"))
      .head().getLong(0)
    // CPython value
    val py = ToPython.prelude64 + s"print(${ToPython(folded)})\n"
    val f = java.nio.file.Files.createTempFile("graft_topy_", ".py")
    java.nio.file.Files.writeString(f, py)
    val out = Seq("python3", f.toString).!!.trim
    java.nio.file.Files.delete(f)
    assert(out.toLong === engine,
      s"python=$out engine=$engine for program:\n$py")
  }

  test("full command program under real CPython == RefInterp (program_py, ToPython.v:231)") {
    // The reference's `program_py` (fiat2/src/fiat2/ToPython.v:231-232)
    // renders WHOLE PROGRAMS — mutable cells, loops, conditionals — not
    // just expressions. Differential (r11): one program exercising
    // CLetMut / CForeach / CIf / CSeq / CAssign over int, word, and
    // table cells, executed under real CPython, every final store cell
    // compared against RefInterp. (The Spark side of the same command
    // layer is covered by DifferentialSpec's command battery.)
    import scala.sys.process._
    import graft.lang.RefInterp._
    val havePython = try {
      Seq("python3", "-c", "print(1)").!!.trim == "1"
    } catch { case _: Exception => false }
    assume(havePython, "python3 not available")

    val prog: Command = CSeq(
      CLetMut(litList(Seq(1, 2, 3, 4, 5, 6)), "t",
        CSeq(
          CForeach(ELoc("t"), "x",
            CIf(EBinop(OLess, EAtom(AInt(3)), EVar("x")),
              CSeq(
                CAssign("acc", EBinop(OPlus, ELoc("acc"),
                  EBinop(OTimes, EVar("x"), EVar("x")))),
                CAssign("wacc", EBinop(OWTimes, ELoc("wacc"),
                  EAtom(AWord(2654435761L))))),
              CAssign("acc", EBinop(OMinus, ELoc("acc"), EVar("x"))))),
          CAssign("tbl", EProj(LikeList, ELoc("t"), "y",
            EBinop(OPlus, EVar("y"), ELoc("acc")))))),
      CAssign("acc", EBinop(OTimes, ELoc("acc"), EAtom(AInt(7)))))

    val fin = RefInterp.run(prog, REnv(
      "acc" -> VI(0), "wacc" -> VW(1L), "tbl" -> VList(Vector.empty[V])))
    // prelude + store-cell initializers + the extracted program + prints
    val prelude = ToPython.preludeFor(64)
    val body = ToPython.program(prog, wordWidth = 64).stripPrefix(prelude)
    val py = prelude + "acc = 0\nwacc = 1\ntbl = []\n" + body +
      "print(acc)\nprint(wacc)\nprint(tbl)\n"
    val f = java.nio.file.Files.createTempFile("graft_topyc_", ".py")
    java.nio.file.Files.writeString(f, py)
    val out = Seq("python3", f.toString).!!.trim.linesIterator.toVector
    java.nio.file.Files.delete(f)
    def render(v: V): String = v match {
      case VI(x) => x.toString
      case VW(x) => x.toString // __w keeps the signed view, like VW
      case VList(xs) => xs.map(render).mkString("[", ", ", "]")
      case o => fail(s"unexpected store value $o")
    }
    assert(out === Vector(
      render(fin.store("acc")), render(fin.store("wacc")),
      render(fin.store("tbl"))),
      s"python=${out.mkString("|")} reference acc=${fin.store("acc")} " +
        s"wacc=${fin.store("wacc")} tbl=${fin.store("tbl")}\n$py")
  }

  test("extracted word ops are wrap-faithful at widths 64, 16, 100 and 256 (CPython vs RefInterp)") {
    import scala.sys.process._
    import graft.lang.RefInterp._
    val havePython = try {
      Seq("python3", "-c", "print(1)").!!.trim == "1"
    } catch { case _: Exception => false }
    assume(havePython, "python3 not available")

    def W(v: Long) = EAtom(AWord(v))
    // wrap multiply past the width, total div/mod by ±7 and 0, unsigned
    // and signed compares, wrapping negation, and a wrap-range fold
    val battery: Seq[Expr] = Seq(
      EBinop(OWTimes, W(40503L), W(2654435761L)),
      EBinop(OWPlus, W(Long.MaxValue), W(1L)),
      EUnop(OWNeg, EBinop(OWPlus, W(Long.MinValue), W(0L))),
      EBinop(OWDivU, W(-700L), W(7L)),
      EBinop(OWDivS, W(-700L), W(-7L)),
      EBinop(OWModU, W(-700L), W(7L)),
      EBinop(OWModS, W(-700L), W(-7L)),
      EBinop(OWDivU, W(-700L), W(0L)),
      EBinop(OWModS, W(-700L), W(0L)),
      EFold(EBinop(OWRange, W(-3L), W(-1L)), W(1L), "x", "a",
        EBinop(OWPlus, EVar("x"), EVar("a"))))
    val bools: Seq[Expr] = Seq(
      EBinop(OWLessU, W(-1L), W(1L)),
      EBinop(OWLessS, W(-1L), W(1L)))
    // widths 100 and 256 run the multi-limb BYTES family (byte residues
    // engine-side, BigInt in RefInterp) under real CPython: the prelude's
    // __w returns the SIGNED view, RefInterp carries the unsigned
    // residue — convert.
    for (w <- Seq(64, 16, 100, 256)) {
      val prints = (battery ++ bools)
        .map(e => s"print(${ToPython(e)})").mkString("", "\n", "\n")
      val py = ToPython.preludeFor(w) + prints
      val f = java.nio.file.Files.createTempFile("graft_topyw_", ".py")
      java.nio.file.Files.writeString(f, py)
      val out = Seq("python3", f.toString).!!.trim.linesIterator.toVector
      java.nio.file.Files.delete(f)
      (battery ++ bools).zip(out).zipWithIndex.foreach {
        case ((e, got), i) =>
          val expected = interp(e, REnv(Map.empty, Map.empty, width = w))
          val want = expected match {
            case VW(x) => x.toString
            case VWide(x) =>
              (if (x >= (BigInt(1) << (w - 1))) x - (BigInt(1) << w) else x)
                .toString
            case VB(x) => if (x) "True" else "False"
            case o => fail(s"unexpected reference value $o")
          }
          assert(got === want,
            s"[width $w case $i] python=$got reference=$want\n$py")
      }
    }
  }
}
