package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang.Lang._
import graft.lang.TypeCheck
import graft.lang.TypeCheck.TypeError

class TypeCheckSpec extends AnyFunSuite {

  private val rowT = TRecord.sorted("k" -> TInt, "name" -> TString)
  private val store = Map("t" -> TBag(rowT))

  test("synthesizes a filter/join/proj/sort pipeline") {
    val prog = ESort(LikeList, EJoin(LikeBag, ELoc("t"), ELoc("t"), "x", "y",
      EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("y"), "k")),
      ERecord(List("a" -> EAccess(EVar("x"), "name"),
        "b" -> EAccess(EVar("y"), "k")))))
    val t = TypeCheck.synthesize(prog, Map.empty, store)
    assert(t === TList(TRecord.sorted("a" -> TString, "b" -> TInt)))
  }

  test("rejects non-boolean predicates and mismatched branches") {
    val badFilter = EFilter(LikeBag, ELoc("t"), "x", EAccess(EVar("x"), "k"))
    assert(intercept[TypeError] {
      TypeCheck.synthesize(badFilter, Map.empty, store)
    }.msg.contains("filter predicate"))
    val badIf = EIf(EAtom(ABool(true)), EAtom(AInt(1)), EAtom(AString("x")))
    assert(intercept[TypeError] {
      TypeCheck.synthesize(badIf, Map.empty, store)
    }.msg.contains("if branches"))
  }

  test("rejects unknown record fields and duplicate fields") {
    val badAccess = EProj(LikeBag, ELoc("t"), "x", EAccess(EVar("x"), "nope"))
    assert(intercept[TypeError] {
      TypeCheck.synthesize(badAccess, Map.empty, store)
    }.msg.contains("no field nope"))
    val dup = ERecord(List("a" -> EAtom(AInt(1)), "a" -> EAtom(AInt(2))))
    assert(intercept[TypeError] {
      TypeCheck.synthesize(dup, Map.empty, store)
    }.msg.contains("duplicate"))
  }

  test("dict/option/fold typing, including None-on-empty min") {
    val dict = ETernop(OInsert, EAtom(AEmptyDict(TInt, TString)),
      EAtom(AInt(1)), EAtom(AString("a")))
    assert(TypeCheck.synthesize(
      EBinop(OLookup, dict, EAtom(AInt(1))), Map.empty, Map.empty)
      === TOption(TString))
    assert(TypeCheck.synthesize(
      EACIFold(AGMin, EAtom(ANil(TInt))), Map.empty, Map.empty)
      === TOption(TInt))
    val fold = EFold(EAtom(ANil(TInt)), EAtom(AInt(0)), "x", "acc",
      EBinop(OPlus, EVar("acc"), EVar("x")))
    assert(TypeCheck.synthesize(fold, Map.empty, Map.empty) === TInt)
  }

  test("CIf branches check against the same store; escapes are rejected") {
    // a table bound in only one branch must not escape the conditional
    val escape = CSeq(
      CIf(EAtom(ABool(true)),
        CAssign("t2", EAtom(ANil(TInt))), CSkip),
      CForeach(ELoc("t2"), "x", CSkip))
    assert(intercept[TypeError] {
      TypeCheck.typecheck(escape, Map.empty, Map.empty)
    }.msg.contains("different store typings"))
    // branches that agree are fine
    val ok = CIf(EAtom(ABool(false)),
      CAssign("t2", EAtom(ANil(TInt))),
      CAssign("t2", EAtom(ANil(TInt))))
    assert(TypeCheck.typecheck(ok, Map.empty, Map.empty)("t2") === TList(TInt))
  }

  test("analyze elaborates unannotated empties against the expected type") {
    // if c then [] else 1 :: []  — both nils written WITHOUT annotations
    val prog = EIf(EAtom(ABool(false)),
      EAtom(ANil()),
      EBinop(OCons, EAtom(AInt(1)), EAtom(ANil())))
    // synthesize alone must reject the hole...
    assert(intercept[TypeCheck.TypeError] {
      TypeCheck.synthesize(prog, Map.empty, Map.empty)
    }.msg.contains("hole"))
    // ...analyze fills it, and the elaborated form synthesizes and compiles
    val filled = TypeCheck.analyze(prog, TList(TInt), Map.empty, Map.empty)
    assert(TypeCheck.synthesize(filled, Map.empty, Map.empty) === TList(TInt))
    assert(filled === EIf(EAtom(ABool(false)),
      EAtom(ANil(TInt)),
      EBinop(OCons, EAtom(AInt(1)), EAtom(ANil(TInt)))))
    // holes in record fields and option arms
    val rec = ERecord(List(
      "xs" -> EAtom(ANil()),
      "o" -> EAtom(ANone())))
    val recT = TRecord.sorted("xs" -> TList(TString), "o" -> TOption(TInt))
    assert(TypeCheck.synthesize(
      TypeCheck.analyze(rec, recT, Map.empty, Map.empty),
      Map.empty, Map.empty) === recT)
    // bag/set/dict empties
    assert(TypeCheck.analyze(EBinop(OBagInsert, EAtom(AEmptyBag()),
      EAtom(AInt(3))), TBag(TInt), Map.empty, Map.empty) ===
      EBinop(OBagInsert, EAtom(AEmptyBag(TInt)), EAtom(AInt(3))))
    assert(TypeCheck.analyze(EAtom(AEmptyDict()), TDict(TString, TInt),
      Map.empty, Map.empty) === EAtom(AEmptyDict(TString, TInt)))
    // a hole against a non-matching expectation is an error
    assert(intercept[TypeCheck.TypeError] {
      TypeCheck.analyze(EAtom(ANil()), TInt, Map.empty, Map.empty)
    }.msg.nonEmpty)
    // annotated atoms still check against the expectation
    assert(intercept[TypeCheck.TypeError] {
      TypeCheck.analyze(EAtom(ANil(TString)), TList(TInt), Map.empty, Map.empty)
    }.msg.nonEmpty)
  }

  test("an operand typed by its sibling is read off the syntax, once") {
    // [] == 1 :: []: the left nil takes the right side's type
    val eqNil = EBinop(OEq, EAtom(ANil()),
      EBinop(OCons, EAtom(AInt(1)), EAtom(ANil())))
    assert(TypeCheck.elaborate(eqNil, Map.empty, Map.empty) ===
      (EBinop(OEq, EAtom(ANil(TInt)),
        EBinop(OCons, EAtom(AInt(1)), EAtom(ANil(TInt)))), TBool))
    // both operands of an insert filled from the expected type
    assert(TypeCheck.analyze(EBinop(OBagInsert, EAtom(AEmptyBag()),
      EAtom(ANil())), TBag(TList(TInt)), Map.empty, Map.empty) ===
      EBinop(OBagInsert, EAtom(AEmptyBag(TList(TInt))), EAtom(ANil(TInt))))
    // a mistyped operand is not walked again from the other side: a
    // left-nested chain 60 deep, each level mistyped, fails at once
    // (retrying each failed operand would double the work per level)
    val chain = (1 to 60).foldLeft(EAtom(AInt(1)): Expr)((e, _) =>
      EBinop(OEq, e, EAtom(ABool(true))))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val failed = Future(intercept[TypeError] {
      TypeCheck.elaborate(chain, Map.empty, Map.empty)
    })
    assert(Await.result(failed, scala.concurrent.duration.Duration(30, "s"))
      .msg.contains("eq"))
  }

  test("command typing: assignment must preserve the table's type") {
    val prog = CLetMut(EAtom(ANil(TInt)), "out",
      CAssign("out", EAtom(ANil(TString))))
    assert(intercept[TypeError] {
      TypeCheck.typecheck(prog, Map.empty, Map.empty)
    }.msg.contains("changes type"))
    val ok = CLetMut(EAtom(ANil(TInt)), "out",
      CSeq(CForeach(EBinop(ORange, EAtom(AInt(0)), EAtom(AInt(3))), "i",
        CAssign("out", EBinop(OCons, EVar("i"), ELoc("out")))),
        CAssign("result", ELoc("out"))))
    val finalStore = TypeCheck.typecheck(ok, Map.empty, Map.empty)
    assert(finalStore("result") === TList(TInt))
  }
}
