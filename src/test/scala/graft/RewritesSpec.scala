package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Lang._
import graft.lang.Rewrites._

/** The recognition rewrites: structure (the AST becomes the structured
  * operator) and semantics (results agree pre/post, where both compile).
  */
class RewritesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowT = TRecord.sorted("k" -> TInt, "v" -> TInt)
  private def nil = EAtom(ANil(rowT))
  private val pK = EBinop(OLess, EAccess(EVar("x"), "k"), EAtom(AInt(5)))

  test("to_filter_head: flatmap(if p [x] []) becomes EFilter") {
    val comp = EFlatmap(LikeBag, ELoc("t"), "x",
      EIf(pK, EBinop(OCons, EVar("x"), nil), nil))
    normalize(comp) match {
      case EFilter(LikeBag, ELoc("t"), "x", p) => assert(p === pK)
      case other => fail(s"expected EFilter, got $other")
    }
  }

  test("to_proj_head: flatmap([r]) becomes EProj") {
    val r = ERecord(List("k" -> EAccess(EVar("x"), "k")))
    val comp = EFlatmap(LikeBag, ELoc("t"), "x", EBinop(OCons, r, nil))
    normalize(comp) match {
      case EProj(LikeBag, ELoc("t"), "x", r2) => assert(r2 === r)
      case other => fail(s"expected EProj, got $other")
    }
  }

  test("to_join_head + merge_if: nested flatmaps with two checks become EJoin") {
    val q1 = EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("y"), "k"))
    val q2 = EBinop(OLess, EAccess(EVar("x"), "v"), EAccess(EVar("y"), "v"))
    val r = ERecord(List("a" -> EAccess(EVar("x"), "v")))
    val comp = EFlatmap(LikeBag, ELoc("t1"), "x",
      EFlatmap(LikeBag, ELoc("t2"), "y",
        EIf(q1, EIf(q2, EBinop(OCons, r, nil), nil), nil)))
    normalize(comp) match {
      case EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y",
          EBinop(OAnd, a, b), r2) =>
        assert(a === q1 && b === q2 && r2 === r)
      case other => fail(s"expected EJoin with fused predicate, got $other")
    }
  }

  test("filter_pushdown_head: left-only conjunct moves into the left source") {
    val pLeft = EBinop(OLess, EAccess(EVar("x"), "v"), EAtom(AInt(3)))
    val pJoin = EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("y"), "k"))
    val r = ERecord(List("a" -> EAccess(EVar("y"), "v")))
    val j = EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y",
      EBinop(OAnd, pLeft, pJoin), r)
    assert(normalize(j) === EJoin(LikeBag,
      EFilter(LikeBag, ELoc("t1"), "x", pLeft), ELoc("t2"), "x", "y",
      pJoin, r))
    // SECOND-conjunct one-sided predicate also pushes (swap_conjuncts_head,
    // RelTransf.v:503-508, composed with the pushdown)
    val j2 = EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y",
      EBinop(OAnd, pJoin, pLeft), r)
    assert(normalize(j2) === EJoin(LikeBag,
      EFilter(LikeBag, ELoc("t1"), "x", pLeft), ELoc("t2"), "x", "y",
      pJoin, r))
    // a RIGHT-only conjunct pushes into the right source
    val pRight = EBinop(OLess, EAccess(EVar("y"), "v"), EAtom(AInt(3)))
    val j3 = EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y",
      EBinop(OAnd, pRight, pJoin), r)
    assert(normalize(j3) === EJoin(LikeBag,
      ELoc("t1"), EFilter(LikeBag, ELoc("t2"), "y", pRight), "x", "y",
      pJoin, r))
    // a two-sided predicate must stay in the join
    val j4 = EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y", pJoin, r)
    assert(normalize(j4) === j4)
  }

  test("correlated inner source is NOT rewritten to a join") {
    // inner table depends on x — a dependent lateral, join_head must not fire
    val comp = EFlatmap(LikeBag, ELoc("t1"), "x",
      EFlatmap(LikeBag, EFilter(LikeBag, ELoc("t2"), "z",
        EBinop(OEq, EAccess(EVar("z"), "k"), EAccess(EVar("x"), "k"))), "y",
        EIf(pK, EBinop(OCons, EVar("y"), nil), nil)))
    normalize(comp) match {
      case EFlatmap(_, _, _, _) => succeed
      case other => fail(s"join_head fired on a correlated source: $other")
    }
  }

  test("survey shape: bind whose source is a correlated-check comprehension → join") {
    // Ex_Survey.v:31-38 join_tables, via the parser: the inner bind's
    // source comprehension checks against the OUTER row, but its table is
    // uncorrelated — dependentBodyToJoin recognizes the join.
    val src =
      """r1 <- mut t1;
        |r3 <- (r2 <- mut t2; check(r2[k] == r1[k]); ret r2);
        |ret { a : r1[v], b : r3[v] }""".stripMargin
    normalize(Parser.parseExpr(src)) match {
      case EJoin(_, ELoc("t1"), ELoc("t2"), "r1", "r2", p, r) =>
        assert(p === EBinop(OEq, EAccess(EVar("r2"), "k"),
          EAccess(EVar("r1"), "k")))
        // the proj binder r3 was renamed to the filter binder r2
        assert(r === ERecord(List("a" -> EAccess(EVar("r1"), "v"),
          "b" -> EAccess(EVar("r2"), "v"))))
      case other => fail(s"expected survey join recognition, got $other")
    }
  }

  test("rename refuses capture; shadowing leaves inner scope untouched") {
    // substituting z→y under a binder named y would capture
    assert(rename(EFilter(LikeBag, ELoc("t"), "y",
      EBinop(OEq, EAccess(EVar("y"), "k"), EAccess(EVar("z"), "k"))),
      "z", "y").isEmpty)
    // a binder that rebinds the source name shadows it
    val shadowed = ELet(EVar("z"), "z", EVar("z"))
    assert(rename(shadowed, "z", "w") ===
      Some(ELet(EVar("w"), "z", EVar("z"))))
  }

  test("normalize is idempotent") {
    val q = EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("y"), "k"))
    val r = ERecord(List("a" -> EAccess(EVar("x"), "v")))
    val comp = EFlatmap(LikeBag, ELoc("t1"), "x",
      EFlatmap(LikeBag, ELoc("t2"), "y",
        EIf(q, EBinop(OCons, r, nil), nil)))
    val once = normalize(comp)
    assert(normalize(once) === once)
  }

  test("normalized comprehension computes the same rows as the manual join") {
    val t1 = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val t2 = Seq((1L, 100L), (2L, 200L), (9L, 900L)).toDF("k", "v")
    val store = Map("t1" -> t1, "t2" -> t2)
    val q = EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("y"), "k"))
    val r = ERecord(List("a" -> EAccess(EVar("x"), "v"),
      "b" -> EAccess(EVar("y"), "v")))
    // the comprehension's nils hold the {a, b} results, not t1's rows
    val resNil = EAtom(ANil(TRecord.sorted("a" -> TInt, "b" -> TInt)))
    val comp = EFlatmap(LikeBag, ELoc("t1"), "x",
      EFlatmap(LikeBag, ELoc("t2"), "y",
        EIf(q, EBinop(OCons, r, resNil), resNil)))
    val manual = EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y", q, r)
    def rows(e: Expr) = Compiler.compileProgram(e,
      Compiler.Env(Map.empty, store, spark))
      .asInstanceOf[Compiler.TV].df.collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSeq.sorted
    assert(rows(comp) === rows(manual))
    assert(rows(comp) === Seq((10L, 100L), (20L, 200L)))
  }
}
