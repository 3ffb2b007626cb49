package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Lang._

/** Surface-syntax parser (the Notations.v analog): precedence, the
  * comprehension sugar, command forms, and end-to-end parse → rewrite
  * equivalence with hand-written ASTs.
  */
class ParserSpec extends AnyFunSuite {
  import Parser.{parseExpr, parseCommand, ParseError}

  private def i(v: Long) = EAtom(AInt(v))

  test("arithmetic precedence mirrors Notations.v levels") {
    // * (40) binds under + (50)
    assert(parseExpr("1 + 2 * 3") ===
      EBinop(OPlus, i(1), EBinop(OTimes, i(2), i(3))))
    // left associativity at one level
    assert(parseExpr("10 - 3 - 2") ===
      EBinop(OMinus, EBinop(OMinus, i(10), i(3)), i(2)))
    assert(parseExpr("7 % 3 / 2") ===
      EBinop(ODiv, EBinop(OMod, i(7), i(3)), i(2)))
    // comparison (70) over concat (60) over arithmetic
    assert(parseExpr("1 + 2 < 3 * 4") ===
      EBinop(OLess, EBinop(OPlus, i(1), i(2)), EBinop(OTimes, i(3), i(4))))
    // && (80) under || (90)
    assert(parseExpr("a && b || c") ===
      EBinop(OOr, EBinop(OAnd, EVar("a"), EVar("b")), EVar("c")))
    // unary
    assert(parseExpr("- 5 + ! b") ===
      EBinop(OPlus, EUnop(ONeg, i(5)), EUnop(ONot, EVar("b"))))
    // parens override
    assert(parseExpr("(1 + 2) * 3") ===
      EBinop(OTimes, EBinop(OPlus, i(1), i(2)), i(3)))
  }

  test(":: is right-associative; list literal is a cons chain (Notations.v:103-110)") {
    assert(parseExpr("1 :: 2 :: []") ===
      EBinop(OCons, i(1), EBinop(OCons, i(2), EAtom(ANil()))))
    assert(parseExpr("[1, 2, 3]") ===
      EBinop(OCons, i(1), EBinop(OCons, i(2),
        EBinop(OCons, i(3), EAtom(ANil())))))
    assert(parseExpr("nil[list[int]]") === EAtom(ANil(TList(TInt))))
    assert(parseExpr("[] ++ [2]") ===
      EBinop(OConcat, EAtom(ANil()),
        EBinop(OCons, i(2), EAtom(ANil()))))
  }

  test("records, pairs, access, dict ops, strings") {
    assert(parseExpr("""{ a : 1, b : "x" }""") ===
      ERecord(List("a" -> i(1), "b" -> EAtom(AString("x")))))
    assert(parseExpr("r[f1][f2]") ===
      EAccess(EAccess(EVar("r"), "f1"), "f2"))
    assert(parseExpr("<( 1 , 2 )>") ===
      ERecord(List("0" -> i(1), "1" -> i(2))))
    assert(parseExpr("fst(p) + snd(p)") ===
      EBinop(OPlus, EAccess(EVar("p"), "0"), EAccess(EVar("p"), "1")))
    assert(parseExpr("insert(d, 1 -> 2)") ===
      ETernop(OInsert, EVar("d"), i(1), i(2)))
    assert(parseExpr("lookup(delete(d, 1), 2)") ===
      EBinop(OLookup, EBinop(ODelete, EVar("d"), i(1)), i(2)))
    assert(parseExpr("\"a\\nb\" +++ toStr(7)") ===
      EBinop(OConcatString, EAtom(AString("a\nb")),
        EUnop(OIntToString, i(7))))
    // `<` still parses as comparison when not a pair opener
    assert(parseExpr("a < (1)") === EBinop(OLess, EVar("a"), i(1)))
  }

  test("binder expressions: let, if, flatmap, fold, range") {
    assert(parseExpr("let x = 1 in x + x") ===
      ELet(i(1), "x", EBinop(OPlus, EVar("x"), EVar("x"))))
    assert(parseExpr("if b then 1 else 2") === EIf(EVar("b"), i(1), i(2)))
    assert(parseExpr("flatmap xs x ret x") ===
      EFlatmap(LikeList, EVar("xs"), "x",
        EBinop(OCons, EVar("x"), EAtom(ANil()))))
    assert(parseExpr("fold xs 0 x acc acc * 31 + x") ===
      EFold(EVar("xs"), i(0), "x", "acc",
        EBinop(OPlus, EBinop(OTimes, EVar("acc"), i(31)), EVar("x"))))
    assert(parseExpr("len(range(0, 10))") ===
      EUnop(OLength, EBinop(ORange, i(0), i(10))))
    assert(parseExpr("some(mut t)") === EUnop(OSome, ELoc("t")))
  }

  test("comprehension sugar desugars exactly like Notations.v:144-149") {
    val src =
      """x <- mut t;
        |check(x[k] == 1);
        |ret { v : x[k] }""".stripMargin
    assert(parseExpr(src) ===
      EFlatmap(LikeList, ELoc("t"), "x",
        EIf(EBinop(OEq, EAccess(EVar("x"), "k"), i(1)),
          EBinop(OCons, ERecord(List("v" -> EAccess(EVar("x"), "k"))),
            EAtom(ANil())),
          EAtom(ANil()))))
  }

  test("parsed 2-table comprehension normalizes to a θ-join") {
    val src =
      """a <- mut t1;
        |b <- mut t2;
        |check(a[k] == b[k]);
        |ret <( a[k] , b[k] )>""".stripMargin
    Rewrites.normalize(parseExpr(src)) match {
      case EJoin(_, ELoc("t1"), ELoc("t2"), "a", "b",
          EBinop(OEq, _, _), ERecord(_)) => ()
      case other => fail(s"expected join recognition, got $other")
    }
  }

  test("command forms (Notations.v:52-67)") {
    assert(parseCommand("skip; skip") === CSeq(CSkip, CSkip))
    assert(parseCommand("set out := 1") === CAssign("out", i(1)))
    // greedy let body: `let .. in c1; c2` groups the seq under the let
    assert(parseCommand("let x = 1 in set a := x; set b := x") ===
      CLet(i(1), "x",
        CSeq(CAssign("a", EVar("x")), CAssign("b", EVar("x")))))
    assert(parseCommand("let mut t := [] in set t := 2 :: mut t") ===
      CLetMut(EAtom(ANil()), "t",
        CAssign("t", EBinop(OCons, i(2), ELoc("t")))))
    assert(parseCommand("if b then skip else set x := 1 end") ===
      CIf(EVar("b"), CSkip, CAssign("x", i(1))))
    assert(parseCommand("for x in [1, 2] : set out := x :: mut out end") ===
      CForeach(EBinop(OCons, i(1), EBinop(OCons, i(2), EAtom(ANil()))),
        "x", CAssign("out", EBinop(OCons, EVar("x"), ELoc("out")))))
  }

  test("parse errors carry position; trailing input rejected") {
    assertThrows[ParseError](parseExpr("1 +"))
    assertThrows[ParseError](parseExpr("1 2"))
    assertThrows[ParseError](parseExpr("{ a 1 }"))
    assertThrows[ParseError](parseExpr("\"unterminated"))
    assertThrows[ParseError](parseCommand("set := 1"))
    // keywords are not identifiers
    assertThrows[ParseError](parseExpr("let if = 1 in 2"))
    // an out-of-range integer literal is a ParseError, not a raw
    // NumberFormatException escaping through the lexer
    assertThrows[ParseError](parseExpr("99999999999999999999"))
  }

  test("comments and whitespace are skipped") {
    assert(parseExpr("1 + # a comment\n 2") === EBinop(OPlus, i(1), i(2)))
  }

  // --- Pretty ∘ parse roundtrip over random surface ASTs ---

  private val rnd = new scala.util.Random(11)
  private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
  private val names = Seq("a", "b", "x", "y", "foo", "k1")

  private def genExpr(depth: Int): Expr =
    if (depth <= 0) pick(Seq[Expr](
      i(rnd.nextInt(100).toLong), EAtom(ABool(rnd.nextBoolean())),
      EAtom(AString(pick(Seq("s", "a b", "q\"q", "n\nl", "back\\slash")))),
      EAtom(ANil()), EAtom(ANil(TList(TInt))), EVar(pick(names)),
      ELoc(pick(names))))
    else rnd.nextInt(21) match {
      case 0 => EUnop(pick(Seq(ONeg, ONot)), genExpr(depth - 1))
      case 1 => EUnop(pick(Seq(OLength, OLengthString, OIntToString, OSome,
        OWNeg)), genExpr(depth - 1))
      case 2 => EBinop(pick(Seq[Binop](OPlus, OMinus, OTimes, ODiv, OMod,
        OAnd, OOr, OConcat, OConcatString, OLess, OEq, OCons)),
        genExpr(depth - 1), genExpr(depth - 1))
      case 3 => EBinop(pick(Seq[Binop](ORange, OLookup, ODelete,
        OWPlus, OWMinus, OWTimes, OWDivU, OWDivS, OWModU, OWModS,
        OWLessU, OWLessS, OWRange, OBagInsert, OSetInsert)),
        genExpr(depth - 1), genExpr(depth - 1))
      case 4 => ETernop(OInsert, genExpr(depth - 1), genExpr(depth - 1),
        genExpr(depth - 1))
      case 5 => EIf(genExpr(depth - 1), genExpr(depth - 1), genExpr(depth - 1))
      case 6 => ELet(genExpr(depth - 1), pick(names), genExpr(depth - 1))
      case 7 => EFlatmap(pick(Seq(LikeList, LikeBag, LikeSet)),
        genExpr(depth - 1), pick(names), genExpr(depth - 1))
      case 8 => EFold(genExpr(depth - 1), genExpr(depth - 1), pick(names),
        pick(names), genExpr(depth - 1))
      case 9 => ERecord(List("0" -> genExpr(depth - 1), "1" -> genExpr(depth - 1)))
      case 10 => ERecord(rnd.shuffle(names).take(1 + rnd.nextInt(2)).toList
        .map(n => n -> genExpr(depth - 1)))
      case 11 => EAccess(pick(Seq[Expr](EVar(pick(names)),
        ELoc(pick(names)))), pick(names :+ "if")) // keyword field → quoted
      // --- r12 surface extension ---
      case 12 => pick(Seq[Expr](
        EAtom(AWord(rnd.nextLong())), EAtom(AInt(-1 - rnd.nextInt(100))),
        EAtom(AInt(Long.MinValue)), EAtom(AWord(Long.MinValue)),
        EAtom(ANone()), EAtom(ANone(TInt)), EAtom(AUnit),
        EAtom(AEmptyBag()), EAtom(AEmptyBag(TWord)),
        EAtom(AEmptySet(TList(TString))), EAtom(AEmptyDict()),
        EAtom(AEmptyDict(TInt, TOption(TBool)))))
      case 13 => pick(Seq[Expr => Expr](
        EACFold(AGSum, _), EACFold(AGCount, _),
        EACIFold(AGMin, _), EACIFold(AGMax, _),
        EBagOf(_), ESetOf(_)))(genExpr(depth - 1))
      case 14 => ESort(pick(Seq(LikeList, LikeBag, LikeSet)),
        genExpr(depth - 1))
      case 15 => EFilter(pick(Seq(LikeList, LikeBag, LikeSet)),
        genExpr(depth - 1), pick(names), genExpr(depth - 1))
      case 16 => EProj(pick(Seq(LikeList, LikeBag, LikeSet)),
        genExpr(depth - 1), pick(names), genExpr(depth - 1))
      case 17 => EJoin(pick(Seq(LikeList, LikeBag, LikeSet)),
        genExpr(depth - 1), genExpr(depth - 1), pick(names), pick(names),
        genExpr(depth - 1), genExpr(depth - 1))
      case 18 => EFlatmap2(genExpr(depth - 1), genExpr(depth - 1),
        pick(names), pick(names), genExpr(depth - 1))
      case 19 => EDictFold(genExpr(depth - 1), genExpr(depth - 1),
        pick(names), pick(names), pick(names), genExpr(depth - 1))
      case 20 => EOptMatch(genExpr(depth - 1), genExpr(depth - 1),
        pick(names), genExpr(depth - 1))
    }

  private def genCommand(depth: Int): Command =
    if (depth <= 0) pick(Seq[Command](CSkip,
      CAssign(pick(names), genExpr(1))))
    else rnd.nextInt(6) match {
      case 0 => CSeq(genCommand(depth - 1), genCommand(depth - 1))
      case 1 => CLet(genExpr(depth - 1), pick(names), genCommand(depth - 1))
      case 2 => CLetMut(genExpr(depth - 1), pick(names), genCommand(depth - 1))
      case 3 => CIf(genExpr(depth - 1), genCommand(depth - 1),
        genCommand(depth - 1))
      case 4 => CForeach(genExpr(depth - 1), pick(names), genCommand(depth - 1))
      case _ => CAssign(pick(names), genExpr(depth))
    }

  test("parse(pretty(e)) == e over 500 random surface expressions") {
    for (n <- 1 to 500) {
      val e = genExpr(2 + n % 3)
      val printed = Pretty(e)
      val parsed = try parseExpr(printed) catch {
        case ex: ParseError => fail(s"$ex\nAST: $e\nprinted: $printed")
      }
      assert(parsed === e, s"\nAST: $e\nprinted: $printed")
    }
  }

  test("reserved-word identifiers raise the pinned Unprintable, never a misparse") {
    for (kw <- Seq("sum", "filter", "map", "word", "none", "join")) {
      intercept[Pretty.Unprintable] { Pretty(EVar(kw)) }
      intercept[Pretty.Unprintable] {
        Pretty(ELet(EAtom(AInt(1)), kw, EVar(kw)))
      }
    }
  }

  test("parse(pretty(c)) == c over 200 random surface commands") {
    for (n <- 1 to 200) {
      val c = genCommand(2 + n % 2)
      val printed = Pretty(c)
      val parsed = try parseCommand(printed) catch {
        case ex: ParseError => fail(s"$ex\nAST: $c\nprinted: $printed")
      }
      assert(parsed === c, s"\nAST: $c\nprinted: $printed")
    }
  }

  test("every LangQueries program parses and round-trips through Pretty") {
    val programs = LangQueries.programs
    val registered = LangQueries.queries.map(_.name).toSet
    // every query registers its program as notation text
    assert(programs.map(_._1).toSet === registered)
    programs.foreach {
      case (q, text, Left(e)) =>
        assert(parseExpr(text) === e, q)
        assert(parseExpr(Pretty(e)) === e, q)
      case (q, text, Right(c)) =>
        assert(parseCommand(text) === c, q)
        assert(parseCommand(Pretty(c)) === c, q)
    }
  }
}
