package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.lang._
import graft.lang.Lang._
import graft.lang.RefInterp._
import graft.lang.Compiler.{CV, Env, TV}

/** Differential testing of the distributed compiler against the executable
  * reference semantics (`RefInterp`, transcribed from
  * fiat2/src/fiat2/Interpret.v): a seeded generator produces random
  * WELL-TYPED programs — scalar/nested expressions, table pipelines, and
  * command programs — and every one must (a) synthesize the type the
  * generator intended (TypeCheck differential) and (b) evaluate to the same
  * value through `Compiler` + Spark as through `RefInterp` (the ScalaCheck
  * analog of the reference's `interp_expr`-preservation proofs, e.g.
  * TypeSound.v). Seeds are fixed: failures reproduce.
  *
  * Deliberate generator exclusions, each a DOCUMENTED divergence or a
  * separately-tested surface: int literals are small so the directed
  * default-TInt overflow error (README) stays out of reach, and
  * table-level `EFold`/`EFlatmap2` run over `ESort`ed inputs only
  * (top-level DataFrames expose canonical order, not list order — README).
  * TWord inside collections generates since r11: CanonOrder keys make
  * word collections sort/canonicalize unsigned like the reference.
  */
class DifferentialSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  // The random programs exercise narrow-TInt envs directly, so BY-DESIGN
  // directed overflows abort tasks throughout the suite, and
  // TaskSetManager/Executor print a full ERROR stack per caught retry
  // (~10 traces per run; r15 verdict cosmetic #3). Silence exactly those
  // two appenders for the suite — a REAL failure still surfaces through
  // the assertions, which carry the exception message chain.
  private val noisyLoggers = Seq("org.apache.spark.scheduler.TaskSetManager",
    "org.apache.spark.executor.Executor")
  private var prevLevels: Seq[(String, org.apache.logging.log4j.Level)] = Nil
  override protected def beforeAll(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    prevLevels = noisyLoggers.map(n => n -> LogManager.getLogger(n).getLevel)
    noisyLoggers.foreach(n => Configurator.setLevel(n, Level.OFF))
    super.beforeAll()
  }
  override protected def afterAll(): Unit = {
    import org.apache.logging.log4j.core.config.Configurator
    prevLevels.foreach { case (n, l) => Configurator.setLevel(n, l) }
    super.afterAll()
  }

  /** Total printer: surface syntax when it exists, raw AST otherwise. */
  private def show(e: Expr): String =
    try Pretty(e) catch { case _: Throwable => e.toString }
  private def show(c: Command): String =
    try Pretty(c) catch { case _: Throwable => c.toString }

  // ---------------------------------------------------------------------
  // Random well-typed generation
  // ---------------------------------------------------------------------

  private val fieldNames = Vector("a", "b", "c", "d")

  /** Types allowed as collection elements / dict keys: TWord INCLUDED
    * since r11 (collections of words sort/canonicalize unsigned through
    * CanonOrder keys, closing the former signed-sort divergence — this
    * generator is the regression tripwire for it), as are TOption
    * DIRECTLY under TOption and option-valued dicts (the boxed
    * nested-option encoding keeps Some(None) distinct from None and
    * disambiguates lookup misses — the r11 closure of the last
    * representation divergence). Only TUnit stays out (no data). */
  private def genType(rnd: Random, d: Int, allowOpt: Boolean = true): FType =
    if (d <= 0) rnd.nextInt(5) match {
      case 0 | 1 => TInt
      case 2 => TBool
      case 3 => TString
      case 4 => TWord
    } else rnd.nextInt(11) match {
      case 0 | 1 => TInt
      case 2 => TBool
      case 3 => TString
      case 4 if allowOpt => TOption(
        if (rnd.nextInt(4) == 0) TOption(genType(rnd, 0))
        else genType(rnd, 0))
      case 4 => TInt
      case 5 | 6 => TList(genType(rnd, d - 1))
      case 7 => TBag(genType(rnd, d - 1))
      case 8 => TSet(genType(rnd, d - 1))
      case 9 =>
        if (rnd.nextBoolean())
          TDict(rnd.nextInt(3) match {
            case 0 => TInt; case 1 => TString; case 2 => TWord
          }, genType(rnd, d - 1))
        else
          TRecord(fieldNames.take(2 + rnd.nextInt(2)).toList
            .map(n => n -> genType(rnd, d - 1)))
      case 10 => TWord
    }

  private def genValue(t: FType, rnd: Random): V = t match {
    case TInt => VI(BigInt(rnd.between(-9, 10)))
    case TWord => VW(Vector(0L, 1L, 2L, 5L, -1L, -2L, 1L << 62,
      Int.MaxValue.toLong, Int.MinValue.toLong, 1L << 31)(rnd.nextInt(10)))
    case TBool => VB(rnd.nextBoolean())
    case TString => VS(Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .alphanumeric.take(rnd.nextInt(4)).mkString.toLowerCase)
    case TUnit => VUnit
    case TOption(u) =>
      if (rnd.nextInt(10) < 3) VOpt(None) else VOpt(Some(genValue(u, rnd)))
    case TList(u) => VList(Vector.fill(rnd.nextInt(4))(genValue(u, rnd)))
    case TBag(u) => VBag(sortedV(Vector.fill(rnd.nextInt(4))(genValue(u, rnd))))
    case TSet(u) => VSet(listToSet(Vector.fill(rnd.nextInt(4))(genValue(u, rnd))))
    case TDict(kt, vt) =>
      VDict(Vector.fill(rnd.nextInt(3))((genValue(kt, rnd), genValue(vt, rnd)))
        .foldLeft(Vector.empty[(V, V)])((d, e) => dictInsert(d, e._1, e._2)))
    case TRecord(fs) =>
      VRec(fs.map { case (n, u) => n -> genValue(u, rnd) }.toVector)
    case THole => throw new IllegalStateException("hole in generator")
  }

  private type Scope = Vector[(String, FType)]

  // Globally fresh binder names: equal-depth binders in different subtrees
  // must not shadow each other, or a variable lookup by type can resolve
  // to the wrong (inner) binding.
  private var uid = 0
  private def fresh(p: String): String = { uid += 1; p + uid }

  /** Random well-typed expression of type `t`. `d` is remaining depth;
    * leaves are literals or in-scope variables. */
  private def genExpr(t: FType, scope: Scope, rnd: Random, d: Int): Expr = {
    def leaf(): Expr = {
      val vars = scope.filter(_._2 == t)
      if (vars.nonEmpty && rnd.nextBoolean()) EVar(vars(rnd.nextInt(vars.size))._1)
      else literal(genValue(t, rnd), t)
    }
    if (d <= 0) return leaf()
    def sub(u: FType, d2: Int = d - 1): Expr = genExpr(u, scope, rnd, d2)
    def bound(x: String, u: FType, target: FType, d2: Int = d - 1): Expr =
      genExpr(target, scope :+ (x -> u), rnd, d2)
    // generic productions available at every type
    def generic(): Expr = rnd.nextInt(6) match {
      case 0 => // let
        val u = genType(rnd, 1)
        val x = fresh("l")
        ELet(sub(u), x, bound(x, u, t))
      case 1 => EIf(sub(TBool), sub(t), sub(t))
      case 2 => // option match (inner type never itself an option: the
        // nullable encoding flattens Some(None) — documented divergence)
        val u = genType(rnd, 1, allowOpt = false)
        val x = fresh("o")
        EOptMatch(sub(TOption(u)), sub(t), x, bound(x, u, t))
      case 3 => // record access
        val rt = TRecord.sorted("a" -> t, "b" -> TInt)
        EAccess(sub(rt), "a")
      case 4 => // right fold of a list into t
        val u = genType(rnd, 1)
        val x = fresh("x"); val a = fresh("acc")
        EFold(sub(TList(u), 1), sub(t, 1), x, a,
          genExpr(t, scope ++ Vector(x -> u, a -> t), rnd, d - 1))
      case 5 => // dict fold into t
        val kt = if (rnd.nextBoolean()) TInt else TString
        val vt = genType(rnd, 0)
        val k = fresh("k"); val v = fresh("v"); val a = fresh("acc")
        EDictFold(sub(TDict(kt, vt), 1), sub(t, 1), k, v, a,
          genExpr(t, scope ++ Vector(k -> kt, v -> vt, a -> t), rnd, d - 1))
    }
    if (rnd.nextInt(100) < 18) return generic()
    t match {
      case TInt => rnd.nextInt(8) match {
        case 0 => EBinop(OPlus, sub(TInt), sub(TInt))
        case 1 => EBinop(OMinus, sub(TInt), sub(TInt))
        case 2 => EBinop(if (rnd.nextBoolean()) ODiv else OMod,
          sub(TInt), sub(TInt))
        case 3 => EBinop(OTimes, sub(TInt, math.min(d - 1, 1)),
          sub(TInt, math.min(d - 1, 1)))
        case 4 => EUnop(ONeg, sub(TInt))
        case 5 => EUnop(OLength, sub(TList(genType(rnd, d - 2)), d - 1))
        case 6 => EUnop(OLengthString, sub(TString))
        case 7 =>
          val coll = rnd.nextInt(3) match {
            case 0 => TList(TInt); case 1 => TBag(TInt); case 2 => TSet(TInt)
          }
          EACFold(if (rnd.nextBoolean()) AGSum else AGCount, sub(coll))
      }
      case TWord => rnd.nextInt(6) match {
        case 0 => EBinop(OWPlus, sub(TWord), sub(TWord))
        case 1 => EBinop(OWMinus, sub(TWord), sub(TWord))
        case 2 => EBinop(OWTimes, sub(TWord), sub(TWord))
        case 3 => EBinop(Vector(OWDivU, OWDivS, OWModU, OWModS)(rnd.nextInt(4)),
          sub(TWord), sub(TWord))
        case 4 => EUnop(OWNeg, sub(TWord))
        case 5 =>
          // wrap-fold an OWRange back to a word: hi = lo + small keeps the
          // length ≤ 8 at every width (or empty when the add wraps past
          // lo), so the unsigned-length wrap semantics get fuzzed without
          // materializing a large range.
          val lo = fresh("lo"); val x = fresh("x"); val a = fresh("a")
          EFold(
            ELet(sub(TWord, 1), lo, EBinop(OWRange, EVar(lo),
              EBinop(OWPlus, EVar(lo), EAtom(AWord(rnd.nextInt(9)))))),
            sub(TWord, 1), x, a, EBinop(OWPlus, EVar(x), EVar(a)))
      }
      case TBool => rnd.nextInt(6) match {
        case 0 => EBinop(OLess, sub(TInt), sub(TInt))
        case 1 =>
          val u = genType(rnd, math.min(d - 1, 2))
          EBinop(OEq, sub(u), sub(u))
        case 2 => EBinop(OAnd, sub(TBool), sub(TBool))
        case 3 => EBinop(OOr, sub(TBool), sub(TBool))
        case 4 => EUnop(ONot, sub(TBool))
        case 5 => EBinop(if (rnd.nextBoolean()) OWLessU else OWLessS,
          sub(TWord), sub(TWord))
      }
      case TString =>
        if (rnd.nextBoolean()) EBinop(OConcatString, sub(TString), sub(TString))
        else EUnop(OIntToString, sub(TInt))
      case TOption(TInt) if rnd.nextInt(4) == 0 =>
        val coll = if (rnd.nextBoolean()) TSet(TInt) else TList(TInt)
        EACIFold(if (rnd.nextBoolean()) AGMin else AGMax, sub(coll))
      case TOption(u) => rnd.nextInt(3) match {
        case 0 => EUnop(OSome, sub(u))
        case 1 => leaf()
        case 2 =>
          val kt = if (rnd.nextBoolean()) TInt else TString
          EBinop(OLookup, sub(TDict(kt, u)), sub(kt))
      }
      case TList(u) => rnd.nextInt(7) match {
        case 0 => EBinop(OCons, sub(u), sub(TList(u)))
        case 1 => EBinop(OConcat, sub(TList(u)), sub(TList(u)))
        case 2 =>
          val src = rnd.nextInt(3) match {
            case 0 => (LikeList, TList(u))
            case 1 => (LikeBag, TBag(u)); case 2 => (LikeSet, TSet(u))
          }
          ESort(src._1, sub(src._2))
        case 3 =>
          val x = fresh("x")
          EFilter(LikeList, sub(TList(u)), x, bound(x, u, TBool))
        case 4 =>
          val u2 = genType(rnd, 1)
          val x = fresh("x")
          EProj(LikeList, sub(TList(u2)), x, bound(x, u2, u))
        case 5 if rnd.nextBoolean() =>
          val u2 = genType(rnd, 1)
          val x = fresh("x")
          EFlatmap(LikeList, sub(TList(u2), 1), x, bound(x, u2, TList(u)))
        case 5 => // lockstep zip-flatmap, cut at the shorter side
          val u1 = genType(rnd, 1); val u2 = genType(rnd, 1)
          val zx = fresh("zx"); val zy = fresh("zy")
          EFlatmap2(sub(TList(u1), 1), sub(TList(u2), 1), zx, zy,
            genExpr(TList(u), scope ++ Vector(zx -> u1, zy -> u2),
              rnd, d - 1))
        case 6 if u == TInt =>
          val lo = rnd.between(-5, 5)
          EBinop(ORange, EAtom(AInt(lo)), EAtom(AInt(lo + rnd.nextInt(6))))
        case 6 =>
          val u1 = genType(rnd, 1); val u2 = genType(rnd, 1)
          val jx = fresh("jx"); val jy = fresh("jy")
          val sc = scope ++ Vector(jx -> u1, jy -> u2)
          EJoin(LikeList, sub(TList(u1), 1), sub(TList(u2), 1),
            jx, jy, genExpr(TBool, sc, rnd, 1),
            genExpr(u, sc, rnd, d - 1))
      }
      case TBag(u) => rnd.nextInt(4) match {
        case 0 => EBinop(OBagInsert, sub(TBag(u)), sub(u))
        case 1 => EBagOf(sub(TList(u)))
        case 2 =>
          val x = fresh("x")
          EFilter(LikeBag, sub(TBag(u)), x, bound(x, u, TBool))
        case 3 =>
          val u2 = genType(rnd, 1)
          val x = fresh("x")
          EProj(LikeBag, sub(TBag(u2)), x, bound(x, u2, u))
      }
      case TSet(u) => rnd.nextInt(4) match {
        case 0 => EBinop(OSetInsert, sub(TSet(u)), sub(u))
        case 1 => ESetOf(sub(TList(u)))
        case 2 =>
          val x = fresh("x")
          EFilter(LikeSet, sub(TSet(u)), x, bound(x, u, TBool))
        case 3 =>
          val u2 = genType(rnd, 1)
          val x = fresh("x")
          EProj(LikeSet, sub(TSet(u2)), x, bound(x, u2, u))
      }
      case TDict(kt, vt) => rnd.nextInt(3) match {
        case 0 => ETernop(OInsert, sub(TDict(kt, vt)), sub(kt), sub(vt))
        case 1 => EBinop(ODelete, sub(TDict(kt, vt)), sub(kt))
        case 2 => leaf()
      }
      case TRecord(fs) =>
        if (rnd.nextBoolean()) ERecord(fs.map { case (n, u) => n -> sub(u) })
        else leaf()
      case _ => leaf()
    }
  }

  // ---------------------------------------------------------------------
  // Harness
  // ---------------------------------------------------------------------

  private def compiledScalar(e: Expr, t: FType): V =
    Compiler.compileProgram(e, Env(Map.empty, Map.empty, spark)) match {
      case CV(c) => fromSpark(spark.range(1).select(c.as("v")).head.get(0), t)
      case TV(_) => fail("closed nested expression compiled to a table")
    }

  test("scalar/nested expressions: compiler == reference interpreter") {
    var skippedOverflow = 0
    val n = 140
    for (i <- 0 until n) {
      val rnd = new Random(9000 + i)
      val t =
        if (i % 11 == 3) TWord
        else genType(rnd, 1 + rnd.nextInt(2))
      val e = genExpr(t, Vector.empty, rnd, 2 + rnd.nextInt(2))
      val syn = TypeCheck.synthesize(e, Map.empty, Map.empty)
      assert(syn == t, s"[case $i] synthesized $syn, generator intended $t " +
        s"for:\n${show(e)}")
      val expected = interp(e, REnv())
      try {
        val got = compiledScalar(e, t)
        assert(cmp(got, expected) == 0,
          s"[case $i] compiled=$got reference=$expected\n${show(e)}")
      } catch {
        // documented divergence: TInt is unbounded in the reference, ANSI
        // Long in the engine — only excuse a mismatch when the reference
        // run really does leave 64-bit range somewhere reachable
        case ex: Throwable if isOverflow(ex) => skippedOverflow += 1
      }
    }
    assert(skippedOverflow < n / 10,
      s"too many overflow-skipped cases: $skippedOverflow")
  }

  test("word expressions at widths 8/16/32/64: compiler == reference at each width") {
    // The reference is width-parametric (Section WithWord, Language.v:4);
    // the SAME random word program is run at all four widths through
    // both engines. Signed/unsigned div/mod/less and wrap-around behave
    // differently across widths (e.g. divs(MinValue32, -1) wraps at 32
    // but not at 64), so we also require that the widths actually disagree
    // on a healthy fraction of programs — a truncation bug that made a
    // narrow width behave like 64 would otherwise pass vacuously.
    // Engine-side, 64/32 run the specialized WordMath families and 16/8
    // the WordBinOpW generic codegen; reference-side every sub-64 width
    // runs the generic mask/shift family — so width 32 additionally
    // cross-checks the two implementations against each other.
    var diverged = 0
    val n = 60
    for (i <- 0 until n) {
      val rnd = new Random(8800 + i)
      // word-rooted on most cases; OWLessU/OWLessS-rooted on the rest
      val t: FType = if (i % 4 == 3) TBool else TWord
      val e =
        if (t == TWord) genExpr(TWord, Vector.empty, rnd, 2 + rnd.nextInt(2))
        else EBinop(if (rnd.nextBoolean()) OWLessU else OWLessS,
          genExpr(TWord, Vector.empty, rnd, 2), genExpr(TWord, Vector.empty, rnd, 2))
      val results = for (w <- Seq(64, 32, 16, 8)) yield {
        val expected = interp(e, REnv(Map.empty, Map.empty, width = w))
        Compiler.compileProgram(e,
          Env(Map.empty, Map.empty, spark, wordWidth = w)) match {
          case CV(c) =>
            val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), t)
            assert(cmp(got, expected) == 0,
              s"[width $w case $i] compiled=$got reference=$expected\n${show(e)}")
            expected
          case TV(_) => fail(s"[width $w case $i] scalar compiled to a table")
        }
      }
      if (results.distinct.size > 1) diverged += 1
    }
    assert(diverged >= n / 10,
      s"widths 64/32/16/8 disagreed on only $diverged/$n programs — width plumbing suspiciously inert")
  }

  test("wide word widths 80/100/125: compiler == reference (Decimal-backed residues)") {
    // Widths past 64 (the reference is parametric over any width: Z,
    // Language.v:4): the engine carries the unsigned residue in a
    // Decimal(38,0) column through codegen'd WordBinOpWide static calls;
    // the reference interpreter runs an independent BigInt mask/shift
    // formulation. Same random programs at all three wide widths plus 64,
    // and the widths must actually disagree on a healthy fraction —
    // a wide family that silently behaved like 64 would pass vacuously.
    var diverged = 0
    val n = 40
    for (i <- 0 until n) {
      val rnd = new Random(8100 + i)
      val t: FType = if (i % 4 == 3) TBool else TWord
      val e =
        if (t == TWord) genExpr(TWord, Vector.empty, rnd, 2 + rnd.nextInt(2))
        else EBinop(if (rnd.nextBoolean()) OWLessU else OWLessS,
          genExpr(TWord, Vector.empty, rnd, 2),
          genExpr(TWord, Vector.empty, rnd, 2))
      val results = for (w <- Seq(125, 100, 80, 64)) yield {
        val expected = interp(e, REnv(Map.empty, Map.empty, width = w))
        Compiler.compileProgram(e,
          Env(Map.empty, Map.empty, spark, wordWidth = w)) match {
          case CV(c) =>
            val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), t)
            assert(cmp(got, expected) == 0,
              s"[wide width $w case $i] compiled=$got reference=$expected\n${show(e)}")
            expected
          case TV(_) => fail(s"[wide width $w case $i] scalar compiled to a table")
        }
      }
      // anti-vacuity over the THREE WIDE widths only: VW (64) vs VWide can
      // never be equal, so including 64 would count every case as diverged
      if (results.take(3).distinct.size > 1) diverged += 1
    }
    assert(diverged >= n / 10,
      s"widths 125/100/80/64 disagreed on only $diverged/$n programs — wide plumbing suspiciously inert")
  }

  test("multi-limb word widths 130/192/256: compiler == reference (byte-residue family)") {
    // Widths past 125 (round 10 — the former Decimal(38,0) ceiling, now
    // closed): the engine carries the unsigned residue as a FIXED-LENGTH
    // big-endian byte array through codegen'd WordBinOpBytes static calls
    // (BigInteger inside); the reference interpreter runs its independent
    // BigInt mask/shift formulation, width-generic by construction. Same
    // program battery as the wide fuzz, same anti-vacuity demand.
    var diverged = 0
    val n = 40
    for (i <- 0 until n) {
      val rnd = new Random(10100 + i)
      val t: FType = if (i % 4 == 3) TBool else TWord
      val e =
        if (t == TWord) genExpr(TWord, Vector.empty, rnd, 2 + rnd.nextInt(2))
        else EBinop(if (rnd.nextBoolean()) OWLessU else OWLessS,
          genExpr(TWord, Vector.empty, rnd, 2),
          genExpr(TWord, Vector.empty, rnd, 2))
      val results = for (w <- Seq(256, 192, 130, 125)) yield {
        val expected = interp(e, REnv(Map.empty, Map.empty, width = w))
        Compiler.compileProgram(e,
          Env(Map.empty, Map.empty, spark, wordWidth = w)) match {
          case CV(c) =>
            val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), t)
            assert(cmp(got, expected) == 0,
              s"[bytes width $w case $i] compiled=$got reference=$expected\n${show(e)}")
            expected
          case TV(_) => fail(s"[bytes width $w case $i] scalar compiled to a table")
        }
      }
      // anti-vacuity across the three BYTE widths (125 rides along to
      // cross-check the Decimal family against the same programs)
      if (results.take(3).distinct.size > 1) diverged += 1
    }
    assert(diverged >= n / 10,
      s"widths 256/192/130 disagreed on only $diverged/$n programs — byte-residue plumbing suspiciously inert")
  }

  test("OWRange follows eval_range_word unsigned-length wrap semantics at every width") {
    // eval_range_word (Interpret.v:80-90): length = unsigned(hi) -
    // unsigned(lo), elements step by WRAPPING add. Endpoints are chosen to
    // disagree with a signed sequence(lo, hi-1): a negative lo whose
    // unsigned view exceeds hi (must be EMPTY, a signed range would emit
    // [lo, hi)), windows crossing each width's sign boundary (the step
    // must wrap to MinValue mid-range), and the top of the unsigned range.
    val cases = Seq(
      (0L, 7L), (5L, 5L), (7L, 3L), // plain / empty / reversed
      (-5L, 3L),                    // uns(lo) > uns(hi) at every width
      (-3L, -1L),                   // top of the unsigned range
      (120L, 133L),                 // crosses the width-8 sign boundary
      (32760L, 32770L))             // crosses the width-16 sign boundary
    for (w <- Seq(256, 130, 125, 100, 64, 32, 16, 8); (lo, hi) <- cases) {
      val e = EBinop(OWRange, EAtom(AWord(lo)), EAtom(AWord(hi)))
      val expected = interp(e, REnv(Map.empty, Map.empty, width = w))
      Compiler.compileProgram(e,
        Env(Map.empty, Map.empty, spark, wordWidth = w)) match {
        case CV(c) =>
          val got = fromSpark(
            spark.range(1).select(c.as("v")).head.get(0), TList(TWord))
          assert(cmp(got, expected) == 0,
            s"[width $w range($lo,$hi)] compiled=$got reference=$expected")
        case TV(_) => fail(s"[width $w range($lo,$hi)] compiled to a table")
      }
    }
  }

  private def isOverflow(ex: Throwable): Boolean = {
    val m = Option(ex.getMessage).getOrElse("")
    m.contains("ARITHMETIC_OVERFLOW") || m.contains("overflow") ||
      Option(ex.getCause).exists(isOverflow)
  }

  test("bigInt differential: arithmetic straddling 2^63 matches Coq Z semantics") {
    // the unbounded-TInt path (Env(bigInt = true)) just past the narrow
    // tier: sums/differences straddling 2^63, products to ~10^36, floor
    // division — RefInterp computes in BigInt, which IS the reference
    for (i <- 0 until 25) {
      val rnd = new Random(6600 + i)
      def genSum(d: Int): Expr = // no products: keeps div numerators in
        // the ~2^63 band
        if (d <= 0) EAtom(AInt(rnd.between(1L << 58, 1L << 62)))
        else EBinop(if (rnd.nextBoolean()) OPlus else OMinus,
          genSum(d - 1), genSum(d - 1))
      def gen(d: Int): Expr =
        if (d <= 0) EAtom(AInt(rnd.between(1L << 58, 1L << 62)))
        else rnd.nextInt(5) match {
          case 0 => EBinop(OPlus, gen(d - 1), gen(d - 1))
          case 1 => EBinop(OMinus, gen(d - 1), gen(d - 1))
          case 2 => EBinop(OTimes, gen(0), gen(0)) // ≤ ~2^124 < 10^38
          case 3 => EBinop(ODiv, genSum(1),
            EAtom(AInt(rnd.between(-999, 1000))))
          case 4 => EBinop(OMod, genSum(1),
            EAtom(AInt(rnd.between(-999, 1000))))
        }
      val e = gen(3)
      val expected = interp(e, REnv())
      val env = Env(Map.empty, Map.empty, spark, bigInt = true)
      Compiler.compileProgram(e, env) match {
        case CV(c) =>
          val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), TInt)
          assert(cmp(got, expected) == 0,
            s"[bigInt case $i] compiled=$got reference=$expected\n${show(e)}")
        case TV(_) => fail("scalar expression compiled to a table")
      }
    }
  }

  test("bignum differential: unbounded arithmetic, order, and aggregates match Coq Z") {
    // the THIRD TInt tier (Env(bigInt = true), BinaryType canonical
    // encoding, r13): product chains grow unbounded (up to ~10^300 at
    // depth 4), floor div/mod keep Coq Z.div/Z.modulo semantics, and
    // OLess rides Spark's native binary comparison — sound only because
    // the encoding is order-preserving. RefInterp computes in BigInt.
    val envBig = Env(Map.empty, Map.empty, spark, bigInt = true)
    for (i <- 0 until 25) {
      val rnd = new Random(7700 + i)
      def gen(d: Int): Expr =
        if (d <= 0) EAtom(AInt(rnd.between(-(1L << 61), 1L << 61)))
        else rnd.nextInt(7) match {
          case 0 => EBinop(OPlus, gen(d - 1), gen(d - 1))
          case 1 => EBinop(OMinus, gen(d - 1), gen(d - 1))
          case 2 => EBinop(OTimes, gen(d - 1), gen(d - 1)) // UNBOUNDED
          case 3 => EBinop(ODiv, gen(d - 1),
            EAtom(AInt(rnd.between(-999, 1000))))
          case 4 => EBinop(OMod, gen(d - 1),
            EAtom(AInt(rnd.between(-999, 1000))))
          case 5 => EUnop(ONeg, gen(d - 1))
          case 6 => EIf(EBinop(OLess, gen(d - 1), gen(d - 1)),
            gen(d - 1), gen(d - 1))
        }
      val e = gen(4)
      val expected = interp(e, REnv())
      Compiler.compileProgram(e, envBig) match {
        case CV(c) =>
          val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), TInt)
          assert(cmp(got, expected) == 0,
            s"[bignum case $i] compiled=$got reference=$expected\n${show(e)}")
        case TV(_) => fail("scalar expression compiled to a table")
      }
    }
    // ORDER at scale: sort / min / max / sum over a list of values
    // straddling ±10^41 — exercises array sort_array, array_min/max, and
    // the fold-style sum on binary elements
    val rnd = new Random(7799)
    val bigAtoms = (0 until 10).map { _ =>
      EBinop(OTimes, EBinop(OTimes,
        EAtom(AInt(rnd.between(-(1L << 40), 1L << 40))),
        EAtom(AInt(1000000000000000000L))), EAtom(AInt(500000000007L)))
    }
    val lst = bigAtoms.foldRight(EAtom(ANil(TInt)): Expr)(
      (x, acc) => EBinop(OCons, x, acc))
    for (prog <- Seq(ESort(LikeList, lst), ESort(LikeSet, lst),
        EACFold(AGSum, lst), EACIFold(AGMin, lst), EACIFold(AGMax, lst),
        EACFold(AGCount, lst))) {
      val expected = interp(prog, REnv())
      val t = TypeCheck.synthesize(prog, Map.empty, Map.empty)
      Compiler.compileProgram(prog, envBig) match {
        case CV(c) =>
          val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), t)
          assert(cmp(got, expected) == 0,
            s"[bignum order ${show(prog).take(40)}] compiled=$got reference=$expected")
        case TV(_) => fail("scalar expression compiled to a table")
      }
    }
    // DICTS keyed by bignum values: storage sort, lookup equality, and
    // EDictFold's reference iteration order all ride the canonical byte
    // encoding (keys straddle zero at ~10^41 magnitudes)
    val dict = bigAtoms.zipWithIndex.foldLeft(
      EAtom(AEmptyDict(TInt, TInt)): Expr) { case (d, (k, i)) =>
      ETernop(OInsert, d, k, EAtom(AInt(i.toLong)))
    }
    val dictProgs = Seq(
      // fold in reference key order: order-sensitive accumulator
      EDictFold(dict, EAtom(AInt(1)), "k", "v", "a",
        EBinop(OPlus, EBinop(OTimes, EVar("a"), EAtom(AInt(7))),
          EBinop(OPlus,
            EBinop(OMod, EVar("k"), EAtom(AInt(1000000007))), EVar("v")))),
      // lookup on byte-equal keys: present and absent
      EOptMatch(EBinop(OLookup, dict, bigAtoms.head),
        EAtom(AInt(-1)), "x", EVar("x")),
      EOptMatch(EBinop(OLookup, dict, EAtom(AInt(12345))),
        EAtom(AInt(-1)), "x", EVar("x")))
    for (prog <- dictProgs) {
      val expected = interp(prog, REnv())
      Compiler.compileProgram(prog, envBig) match {
        case CV(c) =>
          val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), TInt)
          assert(cmp(got, expected) == 0,
            s"[bignum dict ${show(prog).take(40)}] compiled=$got reference=$expected")
        case TV(_) => fail("scalar expression compiled to a table")
      }
    }
  }

  test("bignum tier: table joins/filters/sorts over binary-encoded TInt columns") {
    // The bignum tier's TABLE story: store columns carry the canonical
    // order-preserving byte encoding, so equi-JOIN keys (byte equality),
    // filter comparisons and the final sort (byte order = numeric order)
    // all run on Spark's native binary machinery, with only the product
    // arithmetic in codegen'd BigInteger expressions. The projection
    // multiplies into ±10^37-ish, straddling zero, so a wrong sort or a
    // wrongly-joined pair cannot hash-match the reference interpreter.
    import graft.functions.BigIntOps
    import org.apache.spark.sql.functions.col
    val t1 = spark.range(6).select(BigIntOps.fromLong(col("id")).as("k"))
    val t2 = spark.range(10).select(BigIntOps.fromLong(col("id")).as("k"),
      BigIntOps.fromLong(col("id") * 3 - 7).as("v"))
    val t1T = TRecord.sorted("k" -> TInt)
    val t2T = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val prog = ESort(LikeList, EJoin(LikeBag,
      ELoc("t1"),
      EFilter(LikeBag, ELoc("t2"), "f",
        EBinop(OLess, EAccess(EVar("f"), "v"), EAtom(AInt(14)))),
      "a", "b",
      EBinop(OEq, EAccess(EVar("a"), "k"), EAccess(EVar("b"), "k")),
      ERecord(List(
        "k" -> EAccess(EVar("a"), "k"),
        "w" -> EBinop(OTimes, EBinop(OTimes,
          EAccess(EVar("b"), "v"), EAtom(AInt(1000000000000000000L))),
          EAtom(AInt(400000000000000000L)))))))
    val renv = REnv(
      "t1" -> VList((0 until 6).map(i =>
        VRec(Vector("k" -> VI(BigInt(i))))).toVector),
      "t2" -> VList((0 until 10).map(i => VRec(Vector(
        "k" -> VI(BigInt(i)), "v" -> VI(BigInt(i) * 3 - 7)))).toVector))
    val expected = interp(prog, renv)
    val env = Env(Map.empty, Map("t1" -> t1, "t2" -> t2), spark,
      bigInt = true,
      storeTypes = Map("t1" -> TList(t1T), "t2" -> TList(t2T)))
    Compiler.compileProgram(prog, env) match {
      case TV(df) =>
        val got = collectTable(df, TRecord.sorted("k" -> TInt, "w" -> TInt))
        val want = sortedV(elems(expected))
        assert(cmpValues(got, want) == 0,
          s"compiled=$got\nreference=$want")
        // per-row products reach ±10^36-scale — past Long, minted by the
        // bignum expressions, joined/sorted on the byte encoding
        assert(elems(expected).exists {
          case VRec(fs) => fs.exists {
            case ("w", VI(x)) => x.abs > BigInt(10).pow(35); case _ => false
          }
          case _ => false
        })
      case CV(_) => fail("table program compiled to a scalar")
    }
  }

  // ---------------------------------------------------------------------
  // Table-level pipelines
  // ---------------------------------------------------------------------

  private val rowT = TRecord.sorted(
    "k" -> TInt, "s" -> TString, "w" -> TOption(TInt))
  private val rowU = TRecord.sorted("k" -> TInt, "v" -> TInt)

  private def toSparkAny(v: V): Any = v match {
    case VUnit => null
    case VW(x) => x
    case VI(x) => x.toLong
    case VB(x) => x
    case VS(x) => x
    case VOpt(None) => null
    case VOpt(Some(x)) => toSparkAny(x)
    case VList(xs) => xs.map(toSparkAny)
    case VBag(xs) => xs.map(toSparkAny)
    case VSet(xs) => xs.map(toSparkAny)
    case VDict(es) => es.map(e => Row(toSparkAny(e._1), toSparkAny(e._2)))
    case VRec(fs) => Row.fromSeq(fs.map(f => toSparkAny(f._2)))
  }

  private def tableDF(rows: Vector[V], rt: TRecord) = {
    val schema = Compiler.sparkType(rt).asInstanceOf[StructType]
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        toSparkAny(r).asInstanceOf[Row]): _*), schema)
  }

  /** Collect a compiled table as a canonical multiset of element values. */
  private def collectTable(df: org.apache.spark.sql.DataFrame,
      elemT: FType): Vector[V] = {
    val rows = df.collect().toVector
    val vs = elemT match {
      case rt: TRecord => rows.map(fromSpark(_, rt))
      case u => rows.map(r => fromSpark(r.get(r.fieldIndex("value")), u))
    }
    sortedV(vs)
  }

  private def genTablePipeline(rnd: Random, d: Int): (Expr, FType) = {
    if (d <= 0)
      return (ELoc(if (rnd.nextBoolean()) "t1" else "t2"),
        if (rnd.nextBoolean()) rowT else rowU) match {
        case (ELoc("t1"), _) => (ELoc("t1"), rowT)
        case _ => (ELoc("t2"), rowU)
      }
    val (src, et) = genTablePipeline(rnd, d - 1)
    rnd.nextInt(6) match {
      case 0 => (EFilter(LikeList, src, "r",
        genExpr(TBool, Vector("r" -> et), rnd, 2)), et)
      case 1 =>
        val outT = TRecord.sorted("a" -> TInt, "b" -> genType(rnd, 1))
        (EProj(LikeList, src, "r",
          genExpr(outT, Vector("r" -> et), rnd, 2)), outT)
      case 2 => // join against the other base table, keyed on an int field
        // of whatever row type the pipeline has reached
        val keyFld = et match {
          case TRecord(fs) => fs.collectFirst { case (n, TInt) => n }.get
          case _ => fail(s"pipeline row type is not a record: $et")
        }
        val outT = TRecord.sorted("a" -> TInt, "b" -> TInt)
        val sc = Vector("jx" -> et, "jy" -> (rowU: FType))
        (EJoin(LikeList, src, ELoc("t2"), "jx", "jy",
          EBinop(OEq, EAccess(EVar("jx"), keyFld), EAccess(EVar("jy"), "k")),
          genExpr(outT, sc, rnd, 2)), outT)
      case 3 => (EBinop(OCons, literal(genValue(et, rnd), et), src), et)
      case 4 if et == rowT => (EBinop(OConcat, src, ELoc("t1")), et)
      case 4 => (ESort(LikeList, src), et)
      case 5 => (ESort(LikeList, src), et)
    }
  }

  test("table pipelines: compiler == reference interpreter (multiset)") {
    val rnd0 = new Random(4242)
    val t1Rows = Vector.fill(24)(genValue(rowT, rnd0))
    val t2Rows = Vector.fill(14)(genValue(rowU, rnd0))
    val d1 = tableDF(t1Rows, rowT); val d2 = tableDF(t2Rows, rowU)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows))
    val storeT: Map[String, FType] =
      Map("t1" -> TList(rowT), "t2" -> TList(rowU))
    for (i <- 0 until 40) {
      val rnd = new Random(7100 + i)
      val (e, et) = genTablePipeline(rnd, 1 + rnd.nextInt(3))
      // scalar terminal on some cases: count/sum over the pipeline
      val scalarize = rnd.nextInt(3) == 0
      val (prog, t) =
        if (scalarize) (EUnop(OLength, e), TInt: FType)
        else (e, TList(et))
      assert(TypeCheck.synthesize(prog, Map.empty, storeT) == t,
        s"[table case $i] type mismatch for:\n${show(prog)}")
      val expected = interp(prog, renv)
      Compiler.compileProgram(prog,
        Env(Map.empty, Map("t1" -> d1, "t2" -> d2), spark,
          storeTypes = storeT)) match {
        case TV(df) =>
          val got = collectTable(df, et)
          val want = sortedV(elems(expected))
          assert(cmpValues(got, want) == 0,
            s"[table case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
        case CV(c) =>
          val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), t)
          assert(cmp(got, expected) == 0,
            s"[table case $i] compiled=$got reference=$expected\n${show(prog)}")
      }
    }
  }

  private def elems(v: V): Vector[V] = v match {
    case VList(xs) => xs
    case VBag(xs) => xs
    case VSet(xs) => xs
    case o => fail(s"collection expected, got $o")
  }
  private def cmpValues(a: Vector[V], b: Vector[V]): Int =
    cmp(VList(a), VList(b))

  test("correlated flatmap bodies: decorrelated plans == reference nested loops") {
    // Random correlated comprehensions over the shapes the engine
    // decorrelates — filter chains over an uncorrelated core, an optional
    // outer-referencing projection on top, and EJoin cores whose LEGS
    // carry correlated filters (this round's addition) — checked against
    // the reference's nested-loop interpretation (Interpret.v:273-299).
    // Predicates mix equi and non-equi correlation; the projection and
    // join result reference the outer row.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(2024)
    val t1Rows = Vector.fill(12)(genValue(outT, rnd0))
    val t2Rows = Vector.fill(15)(genValue(inT, rnd0))
    val t3Rows = Vector.fill(9)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val d3 = tableDF(t3Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows),
      "t3" -> VList(t3Rows))
    def corrPred(rnd: Random, binder: String): Expr = rnd.nextInt(3) match {
      case 0 => EBinop(OEq, EAccess(EVar(binder), "k"),
        EAccess(EVar("x"), "k"))
      case 1 => EBinop(OLess, EAccess(EVar(binder), "v"),
        EAccess(EVar("x"), "k"))
      case 2 => EBinop(OLess, EAccess(EVar("x"), "k"),
        EAccess(EVar(binder), "k"))
    }
    for (i <- 0 until 40) {
      val rnd = new Random(3300 + i)
      def filterChain(src: Expr, depth: Int): Expr =
        (0 until depth).foldLeft(src) { (l, j) =>
          val b = s"f${i}_$j"
          EFilter(LikeList, l, b, corrPred(rnd, b))
        }
      val joinCore = rnd.nextBoolean()
      val body0 =
        if (!joinCore) filterChain(ELoc(if (rnd.nextBoolean()) "t2" else "t3"),
          1 + rnd.nextInt(2))
        else {
          val l1 = filterChain(ELoc("t2"), rnd.nextInt(2))
          val l2 = filterChain(ELoc("t3"), rnd.nextInt(2))
          // at least one leg correlated, else it's the plain product path
          val l1c = if (Rewrites.freeVars(l1).contains("x")) l1
            else filterChain(l1, 1)
          EJoin(LikeList, l1c, l2, "ja", "jb",
            EBinop(OEq, EAccess(EVar("ja"), "k"), EAccess(EVar("jb"), "k")),
            ERecord(List(
              "k" -> EAccess(EVar("ja"), "k"),
              "v" -> EBinop(OPlus, EAccess(EVar("jb"), "v"),
                EAccess(EVar("x"), "k")))))
        }
      val (body, elemT) =
        if (rnd.nextBoolean())
          (EProj(LikeList, body0, s"p$i", ERecord(List(
            "a" -> EAccess(EVar(s"p$i"), "k"),
            "b" -> EAccess(EVar("x"), "k")))),
            TRecord.sorted("a" -> TInt, "b" -> TInt))
        else (body0, inT)
      val prog = EFlatmap(LikeList, ELoc("t1"), "x", body)
      val expected = interp(prog, renv)
      Compiler.compileProgram(prog, Env(Map.empty,
        Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark)) match {
        case TV(df) =>
          val got = collectTable(df, elemT)
          val want = sortedV(elems(expected))
          assert(cmpValues(got, want) == 0,
            s"[corr case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
        case CV(_) => fail(s"[corr case $i] table flatmap compiled to a scalar")
      }
    }
  }

  test("non-equi correlated aggregates: join-then-reaggregate == reference nested loops") {
    // Aggregates over NON-EQUI-correlated filters (plus one-sided mixed
    // equalities like b.k + x.k == c) take the join-then-reaggregate path:
    // inner joined to a positioned outer copy on the full predicate,
    // aggregated per distinct outer row. Random programs mix mixed/equi/
    // inner-only/outer-only conjuncts in both projection and filter
    // positions, checked against the reference's nested-loop semantics
    // (Interpret.v:273-299) — incl. no-match defaults (count/sum 0,
    // min/max None) and outer-only CASE gating.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(7100)
    // DUPLICATE outer rows included: the reaggregation keys on DISTINCT
    // outer rows, so duplicates must each surface the shared result with
    // their full multiplicity
    val t1Rows = {
      val base = Vector.fill(10)(genValue(outT, rnd0))
      base ++ base.take(3)
    }
    val t2Rows = Vector.fill(14)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows))
    for (i <- 0 until 30) {
      val rnd = new Random(7200 + i)
      val b = s"nb$i"
      def conj(kind: Int): Expr = kind match {
        case 0 => EBinop(OLess, EAccess(EVar(b), "v"), EAccess(EVar("x"), "k"))
        case 1 => EBinop(OLess, EAccess(EVar("x"), "k"), EAccess(EVar(b), "k"))
        case 2 => EBinop(OEq,
          EBinop(OMod, EAccess(EVar(b), "k"), EAtom(AInt(2))),
          EBinop(OMod, EAccess(EVar("x"), "k"), EAtom(AInt(2))))
        case 3 => EBinop(OLess, EAccess(EVar(b), "v"), EAtom(AInt(3)))
        case 4 => EBinop(OLess, EAtom(AInt(-2)), EAccess(EVar("x"), "k"))
        case 5 => EBinop(OEq,
          EBinop(OPlus, EAccess(EVar(b), "k"), EAccess(EVar("x"), "k")),
          EAtom(AInt(4)))
      }
      // x-referencing projection values (r9): `ret u.v + x.k` forces the
      // join-then-reaggregate path even under pure equi correlation —
      // exercised both with and without a mixed conjunct
      val projX = rnd.nextInt(3) == 0
      // proj-ONLY correlation (r9): no tying filter at all — the aggregate
      // ranges over the full (or inner-only-filtered) table per outer row
      val projOnly = projX && rnd.nextInt(3) == 0
      val picks =
        if (projOnly) Vector(3) // inner-only filter, no x anywhere
        else if (projX && rnd.nextBoolean()) Vector(2, 3) // equi + inner-only
        else Vector(rnd.nextInt(2), 2 + rnd.nextInt(3)) ++
          (if (rnd.nextBoolean()) Vector(5) else Vector.empty)
      val pred = picks.map(conj).reduce((a, c) => EBinop(OAnd, a, c))
      val filtered = EFilter(LikeList, ELoc("t2"), b, pred)
      val pp = s"pp$i"
      def projected =
        if (projX) EProj(LikeList, filtered, pp,
          EBinop(OPlus, EAccess(EVar(pp), "v"), EAccess(EVar("x"), "k")))
        else EProj(LikeList, filtered, pp, EAccess(EVar(pp), "v"))
      val kind = rnd.nextInt(4)
      val aggNode = kind match {
        case 0 => EUnop(OLength, filtered)
        case 1 => EACFold(AGSum, projected)
        case 2 => EACIFold(AGMin, projected)
        case _ => EACIFold(AGMax, projected)
      }
      val aggT: FType = if (kind >= 2) TOption(TInt) else TInt
      val (prog, elemT) =
        if (kind >= 2 || rnd.nextBoolean())
          (EProj(LikeList, ELoc("t1"), "x", ERecord(List(
            "k" -> EAccess(EVar("x"), "k"), "g" -> aggNode))),
            TRecord.sorted("k" -> TInt, "g" -> aggT))
        else // filter position needs a TInt-valued aggregate
          (EFilter(LikeList, ELoc("t1"), "x",
            EBinop(OEq, EBinop(OMod, aggNode, EAtom(AInt(2))),
              EAtom(AInt(0)))), outT)
      val expected = interp(prog, renv)
      Compiler.compileProgram(prog, Env(Map.empty,
        Map("t1" -> d1, "t2" -> d2), spark)) match {
        case TV(df) =>
          val got = collectTable(df, elemT)
          val want = sortedV(elems(expected))
          assert(cmpValues(got, want) == 0,
            s"[nonequi case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
        case CV(_) => fail(s"[nonequi case $i] compiled to a scalar")
      }
    }
  }

  test("correlated EFold/ESort bodies: per-row canonical arrays == reference") {
    // A correlated table feeding a nested EFold (order-dependent
    // accumulation per outer row) or an ESort (per-row sorted list) now
    // compiles: the matched elements are collected per distinct outer row
    // into a canonically-sorted array and the node consumes the array.
    // The fold step is NON-COMMUTATIVE (e - acc) so a wrong element order
    // is a wrong answer, the init may reference the outer row, and the
    // conjunct pool mixes non-equi/equi/inner-only/outer-only correlation
    // (outer-only gating must yield the INIT, not 0/null).
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    // the inner pipeline is LikeBag and t2 a VBag: a bag's reference
    // representation is canonically SORTED, so the reference fold walks
    // the same canonical order the engine defines table folds over
    // (projection re-sorts by projected value in both)
    val rnd0 = new Random(7700)
    // duplicate outer rows: distinct-keyed reaggregation must fan the
    // shared per-row array back out at full multiplicity
    val t1Rows = {
      val base = Vector.fill(9)(genValue(outT, rnd0))
      base ++ base.take(3)
    }
    val t2Rows = Vector.fill(12)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VBag(sortedV(t2Rows)))
    for (i <- 0 until 25) {
      val rnd = new Random(7800 + i)
      val b = s"cb$i"
      def conj(kind: Int): Expr = kind match {
        case 0 => EBinop(OLess, EAccess(EVar(b), "v"), EAccess(EVar("x"), "k"))
        case 1 => EBinop(OEq,
          EBinop(OMod, EAccess(EVar(b), "k"), EAtom(AInt(2))),
          EBinop(OMod, EAccess(EVar("x"), "k"), EAtom(AInt(2))))
        case 2 => EBinop(OLess, EAccess(EVar(b), "v"), EAtom(AInt(4)))
        case _ => EBinop(OLess, EAtom(AInt(-1)), EAccess(EVar("x"), "k"))
      }
      val picks = Vector(rnd.nextInt(2), rnd.nextInt(4)) ++
        (if (rnd.nextBoolean()) Vector(rnd.nextInt(4)) else Vector.empty)
      val pred = picks.map(conj).reduce((a, c) => EBinop(OAnd, a, c))
      val filtered = EFilter(LikeBag, ELoc("t2"), b, pred)
      val pp = s"cp$i"
      // the per-row arrays sometimes project with the OUTER row (r9):
      // sorted order is then by the x-shifted value, same in both engines
      val projected =
        if (rnd.nextInt(3) == 0) EProj(LikeBag, filtered, pp,
          EBinop(OPlus, EAccess(EVar(pp), "v"), EAccess(EVar("x"), "k")))
        else EProj(LikeBag, filtered, pp, EAccess(EVar(pp), "v"))
      val useFold = rnd.nextBoolean()
      val (node, fieldT: FType) =
        if (useFold) {
          val init =
            if (rnd.nextBoolean()) EAccess(EVar("x"), "k") else EAtom(AInt(1))
          (EFold(ESort(LikeList, projected), init, s"fe$i", s"fa$i",
            EBinop(OMinus, EVar(s"fe$i"), EVar(s"fa$i"))), TInt)
        } else (ESort(LikeList, projected), TList(TInt))
      // folds also land in FILTER predicates (parity of the accumulated
      // value); sorts and the rest in projection position
      val (prog, elemT) =
        if (useFold && rnd.nextInt(3) == 0)
          (EFilter(LikeList, ELoc("t1"), "x",
            EBinop(OEq, EBinop(OMod, node, EAtom(AInt(2))),
              EAtom(AInt(0)))), outT)
        else
          (EProj(LikeList, ELoc("t1"), "x", ERecord(List(
            "k" -> EAccess(EVar("x"), "k"), "g" -> node))),
            TRecord.sorted("k" -> TInt, "g" -> fieldT))
      val expected = interp(prog, renv)
      Compiler.compileProgram(prog, Env(Map.empty,
        Map("t1" -> d1, "t2" -> d2), spark,
        storeTypes = Map("t1" -> TList(outT), "t2" -> TBag(inT)))) match {
        case TV(df) =>
          val got = collectTable(df, elemT)
          val want = sortedV(elems(expected))
          assert(cmpValues(got, want) == 0,
            s"[corr fold/sort case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
        case CV(_) => fail(s"[corr fold/sort case $i] compiled to a scalar")
      }
    }
  }

  test("decorrelated word projections reading the outer row sort UNSIGNED (r12 type threading)") {
    // Regression pin for the r11 ADVICE gap: a correlated per-row array
    // whose projection reads the OUTER row could not synthesize its value
    // type (x's type was absent from the synthesis scope), so word
    // elements silently fell back to the legacy SIGNED storage order.
    // Threading the outer binder's type through unnestAggsOnce makes the
    // sort type-directed: OWPlus(inner.v, x.k) synthesizes TWord and the
    // per-row array sorts unsigned, matching the reference exactly. The
    // values straddle the sign bit so a signed order is a WRONG answer.
    val outT = TRecord.sorted("k" -> TWord)
    val inT = TRecord.sorted("v" -> TWord)
    val t1Rows = Vector(VRec(Vector("k" -> VW(0L))),
      VRec(Vector("k" -> VW(-1L))))
    val t2Rows = Vector(VW(1L), VW(-2L), VW(5L), VW(Long.MinValue))
      .map(w => VRec(Vector("v" -> w)))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VBag(sortedV(t2Rows)))
    val b = "wb"; val pb = "wp"
    // one MIXED conjunct (reads both rows, always true) forces the
    // join-then-reaggregate per-row array path rather than the shared
    // gate-only array
    val pred = EBinop(OOr,
      EBinop(OWLessU, EAccess(EVar(b), "v"), EAccess(EVar("x"), "k")),
      EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("x"), "k")))
    val prog = EProj(LikeList, ELoc("t1"), "x", ERecord(List(
      "k" -> EAccess(EVar("x"), "k"),
      "g" -> ESort(LikeList, EProj(LikeBag,
        EFilter(LikeBag, ELoc("t2"), b, pred), pb,
        EBinop(OWPlus, EAccess(EVar(pb), "v"),
          EAccess(EVar("x"), "k")))))))
    val elemT = TRecord.sorted("k" -> TWord, "g" -> TList(TWord))
    val expected = sortedV(elems(interp(prog, renv)))
    Compiler.compileProgram(prog, Env(Map.empty,
      Map("t1" -> d1, "t2" -> d2), spark,
      storeTypes = Map("t1" -> TBag(outT), "t2" -> TBag(inT)))) match {
      case TV(df) =>
        val got = collectTable(df, elemT)
        assert(cmpValues(got, expected) == 0,
          s"compiled=$got\nreference=$expected")
      case CV(_) => fail("compiled to a scalar")
    }
  }

  test("mixed correlated aggregates and folds in one body unnest together") {
    // One projection body holding all three unnesting paths at once — an
    // equi-keyed aggregate (keyed groupBy), a non-equi aggregate
    // (join-then-reaggregate on distinct outer rows), and an ordered fold
    // (per-row canonical array) — so the chain of left joins over one
    // outer is exercised with heterogeneous per-node plans.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(8500)
    val t1Rows = {
      val base = Vector.fill(8)(genValue(outT, rnd0))
      base ++ base.take(2)
    }
    val t2Rows = Vector.fill(11)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VBag(sortedV(t2Rows)))
    for (i <- 0 until 12) {
      val rnd = new Random(8600 + i)
      def filt(b: String, kind: Int): Expr = EFilter(LikeBag, ELoc("t2"), b,
        kind match {
          case 0 => EBinop(OEq, EAccess(EVar(b), "k"),
            EAccess(EVar("x"), "k")) // equi path
          case 1 => EBinop(OLess, EAccess(EVar(b), "v"),
            EAccess(EVar("x"), "k")) // non-equi path
          case _ => EBinop(OAnd,
            EBinop(OLess, EAccess(EVar(b), "v"), EAccess(EVar("x"), "k")),
            EBinop(OEq, EBinop(OMod, EAccess(EVar(b), "k"), EAtom(AInt(2))),
              EBinop(OMod, EAccess(EVar("x"), "k"), EAtom(AInt(2)))))
        })
      val g1 = EACFold(AGSum, EProj(LikeBag, filt(s"ma$i", 0), s"pa$i",
        EAccess(EVar(s"pa$i"), "v")))
      val g2 = EUnop(OLength, filt(s"mb$i", 1 + rnd.nextInt(2)))
      val g3 = EFold(
        ESort(LikeList, EProj(LikeBag, filt(s"mc$i", rnd.nextInt(3)),
          s"pc$i", EAccess(EVar(s"pc$i"), "v"))),
        EAtom(AInt(i)), s"me$i", s"mf$i",
        EBinop(OMinus, EVar(s"me$i"), EVar(s"mf$i")))
      val prog = EProj(LikeList, ELoc("t1"), "x", ERecord(List(
        "k" -> EAccess(EVar("x"), "k"),
        "g1" -> g1, "g2" -> g2, "g3" -> g3)))
      val elemT = TRecord.sorted("k" -> TInt, "g1" -> TInt, "g2" -> TInt,
        "g3" -> TInt)
      val expected = interp(prog, renv)
      Compiler.compileProgram(prog, Env(Map.empty,
        Map("t1" -> d1, "t2" -> d2), spark,
        storeTypes = Map("t1" -> TList(outT), "t2" -> TBag(inT)))) match {
        case TV(df) =>
          val got = collectTable(df, elemT)
          val want = sortedV(elems(expected))
          assert(cmpValues(got, want) == 0,
            s"[mixed case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
        case CV(_) => fail(s"[mixed case $i] compiled to a scalar")
      }
    }
  }

  test("keyed groups: several aggregates over one keyed inner side == reference, narrow and bignum tiers") {
    // 2-4 aggregates of mixed kinds (count, sum, min, max, a fold or a
    // sort) in ONE projection, all correlated on the same key with — per
    // case — the same inner-only residual and range residue, each under
    // its own binders. Those nodes share keyed groups (one groupBy per
    // element shape); per-node outer-only gates and range directions
    // vary without splitting a group, so every node's read-back from the
    // shared aggregate is checked against the reference nested loops
    // (Interpret.v:273-299), on the narrow and the bignum TInt tiers.
    import graft.functions.BigIntOps
    import org.apache.spark.sql.functions.col
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(9100)
    val t1Rows = {
      val base = Vector.fill(9)(genValue(outT, rnd0))
      base ++ base.take(2)
    }
    val t2Rows = Vector.fill(14)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    def big(df: org.apache.spark.sql.DataFrame) = df.select(df.columns.map(c =>
      if (c == "s") col(c) else BigIntOps.fromLong(col(c)).as(c)).toIndexedSeq: _*)
    val storeT = Map("t1" -> TList(outT), "t2" -> TBag(inT))
    val tiers = Seq(
      "narrow" -> Env(Map.empty, Map("t1" -> d1, "t2" -> d2), spark,
        storeTypes = storeT),
      "bigInt" -> Env(Map.empty, Map("t1" -> big(d1), "t2" -> big(d2)), spark,
        bigInt = true, storeTypes = storeT))
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VBag(sortedV(t2Rows)))
    def xk = EAccess(EVar("x"), "k")
    for (i <- 0 until 16) {
      val rnd = new Random(9200 + i)
      val parity = rnd.nextBoolean()
      val residual = rnd.nextBoolean()
      val range = rnd.nextBoolean()
      def pred(b: String): Expr = {
        def bf(f: String) = EAccess(EVar(b), f)
        val key =
          if (parity) EBinop(OEq, EBinop(OMod, bf("k"), EAtom(AInt(2))),
            EBinop(OMod, xk, EAtom(AInt(2))))
          else EBinop(OEq, bf("k"), xk)
        val conjs = Vector(key) ++
          (if (residual) Vector(EBinop(OLess, bf("v"), EAtom(AInt(4))))
           else Vector.empty) ++
          (if (!range) Vector.empty
           else if (rnd.nextBoolean()) Vector(EBinop(OLess, bf("v"), xk))
           else Vector(EBinop(OLess, xk, bf("v")))) ++
          (if (rnd.nextInt(3) == 0) Vector(EBinop(OLess, EAtom(AInt(-2)), xk))
           else Vector.empty)
        conjs.reduce((a, c) => EBinop(OAnd, a, c))
      }
      val fields = (0 until 2 + rnd.nextInt(3)).map { j =>
        val b = s"gb${i}_$j"; val pb = s"gp${i}_$j"
        val filtered = EFilter(LikeBag, ELoc("t2"), b, pred(b))
        val vals = EProj(LikeBag, filtered, pb, EAccess(EVar(pb), "v"))
        val (node, t) = rnd.nextInt(6) match {
          case 0 => (EUnop(OLength, filtered), TInt)
          case 1 => (EACFold(AGSum, vals), TInt)
          case 2 => (EACIFold(AGMin, vals), TOption(TInt))
          case 3 => (EACIFold(AGMax, vals), TOption(TInt))
          case 4 =>
            val (e, a) = (s"ge${i}_$j", s"ga${i}_$j")
            (EFold(ESort(LikeList, vals), xk, e, a,
              EBinop(OMinus, EVar(e), EVar(a))), TInt)
          case _ => (ESort(LikeList, vals), TList(TInt))
        }
        (s"g$j", node, t: FType)
      }
      val prog = EProj(LikeList, ELoc("t1"), "x", ERecord(
        ("k" -> xk) :: fields.map(f => f._1 -> f._2).toList))
      val elemT = TRecord.sorted(
        (("k" -> (TInt: FType)) +: fields.map(f => f._1 -> f._3)): _*)
      val want = sortedV(elems(interp(prog, renv)))
      tiers.foreach { case (tier, env) =>
        Compiler.compileProgram(prog, env) match {
          case TV(df) =>
            val got = collectTable(df, elemT)
            assert(cmpValues(got, want) == 0,
              s"[keyed group case $i, $tier]\ncompiled=$got\nreference=$want\n${show(prog)}")
          case CV(_) => fail(s"[keyed group case $i, $tier] compiled to a scalar")
        }
      }
    }
  }

  test("both-leg correlated joins and correlated EFlatmap2: correct or a DIRECTED error, never silent wrong") {
    // The residual correlation boundary, fuzzed from both sides: programs
    // put correlated filter chains in BOTH legs of one EJoin (sometimes
    // with outer references in the join predicate itself) and under
    // EFlatmap2. Whatever the engine supports must match the reference's
    // nested-loop semantics (Interpret.v:273-299); whatever it does not
    // must throw the directed UnsupportedOperationException naming
    // correlation — an AnalysisException or a wrong answer is a bug.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(9900)
    val t1Rows = Vector.fill(10)(genValue(outT, rnd0))
    val t2Rows = Vector.fill(12)(genValue(inT, rnd0))
    val t3Rows = Vector.fill(8)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val d3 = tableDF(t3Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows),
      "t3" -> VList(t3Rows))
    val resT = TRecord.sorted("a" -> TInt, "b" -> TInt)
    var directed = 0
    var ran = 0
    val n = 56
    for (i <- 0 until n) {
      val rnd = new Random(9950 + i)
      def corrPred(b: String): Expr = rnd.nextInt(3) match {
        case 0 => EBinop(OEq, EAccess(EVar(b), "k"), EAccess(EVar("x"), "k"))
        case 1 => EBinop(OLess, EAccess(EVar(b), "v"), EAccess(EVar("x"), "k"))
        case 2 => EBinop(OLess, EAccess(EVar("x"), "k"), EAccess(EVar(b), "k"))
      }
      val body =
        if (i % 2 == 0) { // correlated chains in BOTH join legs
          val l1 = EFilter(LikeList, ELoc("t2"), s"ba$i", corrPred(s"ba$i"))
          val l2 = EFilter(LikeList, ELoc("t3"), s"bb$i", corrPred(s"bb$i"))
          val jp0 = EBinop(OEq, EAccess(EVar("ja"), "k"),
            EAccess(EVar("jb"), "k"))
          val jp = if (rnd.nextBoolean()) jp0
            else EBinop(OAnd, jp0, EBinop(OLess, EAccess(EVar("x"), "k"),
              EAccess(EVar("ja"), "v")))
          EJoin(LikeList, l1, l2, "ja", "jb", jp, ERecord(List(
            "a" -> EBinop(OPlus, EAccess(EVar("ja"), "v"),
              EAccess(EVar("x"), "k")),
            "b" -> EAccess(EVar("jb"), "v"))))
        } else { // EFlatmap2 whose zipped lists are correlated tables;
          // sometimes the left leg PROJECTS with the outer row (r9) —
          // the per-row array is then sorted by the x-shifted value
          val projLeg = rnd.nextInt(3) == 0
          val filt1 = EFilter(LikeList, ELoc("t2"), s"ba$i", corrPred(s"ba$i"))
          val l1 = ESort(LikeList,
            if (projLeg) EProj(LikeList, filt1, s"pa$i",
              EBinop(OPlus, EAccess(EVar(s"pa$i"), "v"),
                EAccess(EVar("x"), "k")))
            else filt1)
          val l2 = ESort(LikeList,
            if (rnd.nextBoolean())
              EFilter(LikeList, ELoc("t3"), s"bb$i", corrPred(s"bb$i"))
            else ELoc("t3"))
          val aField =
            if (projLeg) EVar(s"zx$i") // leg already carries v + x.k
            else EBinop(OPlus, EAccess(EVar(s"zx$i"), "v"),
              EAccess(EVar("x"), "k"))
          EFlatmap2(l1, l2, s"zx$i", s"zy$i",
            EBinop(OCons, ERecord(List(
              "a" -> aField,
              "b" -> EAccess(EVar(s"zy$i"), "v"))),
              literal(VList(Vector.empty), TList(resT))))
        }
      val prog = EFlatmap(LikeList, ELoc("t1"), "x", body)
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark)) match {
          case TV(df) =>
            val got = collectTable(df, resT)
            ran += 1
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[bothleg case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
          case CV(_) => fail(s"[bothleg case $i] compiled to a scalar")
        }
      } catch {
        case u: UnsupportedOperationException =>
          assert(Option(u.getMessage)
            .exists(m => m.toLowerCase.contains("correlat") ||
              m.contains("strict order mode")),
            s"[bothleg case $i] UNDIRECTED error: ${u.getMessage}\n${show(prog)}")
          directed += 1
      }
    }
    info(s"$ran supported-and-correct, $directed directed-unsupported of $n")
    assert(ran + directed == n)
  }

  test("correlation under EDictFold/EOptMatch, degenerate zip legs, aggregates inside join legs: correct or DIRECTED") {
    // Round-10 extension of the correlation boundary fuzz: the r9 both-leg
    // generator reports 0 unsupported of 56 — it no longer reaches the
    // boundary. These four shape families push past it (reference
    // semantics Interpret.v:273-312,346-350):
    //   0: correlated EDictFold — the dict is extended with a correlated
    //      key/value and the fold STEP may reference the outer row;
    //   1: correlated EOptMatch — the scrutinee is a correlated OLookup or
    //      a null-on-empty correlated EACIFold(AGMin), and both branches
    //      may be correlated aggregates;
    //   2: degenerate-length correlated EFlatmap2 legs — one leg empty,
    //      a fixed literal, or a correlated filter that is empty for many
    //      outer rows, with the correlated side on either leg;
    //   3: correlated aggregates NESTED inside correlated join legs — the
    //      leg's filter predicate itself contains a correlated EACFold.
    // Whatever the engine supports must match the reference; whatever it
    // does not must throw the directed correlation error. ≥50 seeds/shape.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(11300)
    val t1Rows = Vector.fill(9)(genValue(outT, rnd0))
    val t2Rows = Vector.fill(12)(genValue(inT, rnd0))
    val t3Rows = Vector.fill(7)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val d3 = tableDF(t3Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows),
      "t3" -> VList(t3Rows))
    val dictT = TDict(TInt, TInt)
    val baseDict = VDict(Vector((VI(0), VI(3)), (VI(1), VI(5)), (VI(2), VI(7))))
    val scalarT = TRecord.sorted("k" -> TInt, "g" -> TInt)
    val resT = TRecord.sorted("a" -> TInt, "b" -> TInt)
    val perShape = 52
    val ran = Array.fill(4)(0)
    val directed = Array.fill(4)(0)
    for (shape <- 0 until 4; i <- 0 until perShape) {
      val rnd = new Random(11400 + shape * 1000 + i)
      def corrPred(b: String): Expr = rnd.nextInt(3) match {
        case 0 => EBinop(OEq, EAccess(EVar(b), "k"), EAccess(EVar("x"), "k"))
        case 1 => EBinop(OLess, EAccess(EVar(b), "v"), EAccess(EVar("x"), "k"))
        case _ => EBinop(OLess, EAccess(EVar("x"), "k"), EAccess(EVar(b), "k"))
      }
      def corrAgg(tag: String): Expr = rnd.nextInt(2) match {
        case 0 => EACFold(AGSum, EProj(LikeList,
          EFilter(LikeList, ELoc("t2"), s"f$tag$i", corrPred(s"f$tag$i")),
          s"p$tag$i", EAccess(EVar(s"p$tag$i"), "v")))
        case _ => EUnop(OLength,
          EFilter(LikeList, ELoc("t3"), s"f$tag$i", corrPred(s"f$tag$i")))
      }
      val (prog, elemT) = shape match {
        case 0 =>
          // dict gains a correlated (key, value) entry; the step body may
          // itself carry a correlated aggregate
          val dexpr = ETernop(OInsert, literal(baseDict, dictT),
            EBinop(OMod, EAccess(EVar("x"), "k"), EAtom(AInt(5))),
            corrAgg("d"))
          val stepTail: Expr =
            if (rnd.nextBoolean()) EBinop(OTimes, EVar(s"dv$i"), EAtom(AInt(2)))
            else EBinop(OPlus, EVar(s"dv$i"), corrAgg("s"))
          val g = EDictFold(dexpr, EAtom(AInt(i % 3)), s"dk$i", s"dv$i",
            s"ac$i", EBinop(OPlus, EVar(s"ac$i"),
              EBinop(OPlus, EVar(s"dk$i"), stepTail)))
          (EProj(LikeList, ELoc("t1"), "x", ERecord(List(
            "k" -> EAccess(EVar("x"), "k"), "g" -> g))), scalarT)
        case 1 =>
          val scrut =
            if (rnd.nextBoolean())
              EBinop(OLookup, literal(baseDict, dictT),
                EBinop(OMod, EAccess(EVar("x"), "k"), EAtom(AInt(4))))
            else EACIFold(AGMin, EProj(LikeList,
              EFilter(LikeList, ELoc("t2"), s"of$i", corrPred(s"of$i")),
              s"op$i", EAccess(EVar(s"op$i"), "v")))
          val g = EOptMatch(scrut, corrAgg("n"), s"ov$i",
            EBinop(OPlus, EVar(s"ov$i"), corrAgg("m")))
          (EProj(LikeList, ELoc("t1"), "x", ERecord(List(
            "k" -> EAccess(EVar("x"), "k"), "g" -> g))), scalarT)
        case 2 =>
          val corrLeg = ESort(LikeList,
            EFilter(LikeList, ELoc("t2"), s"ba$i", corrPred(s"ba$i")))
          val otherLeg = rnd.nextInt(3) match {
            case 0 => EAtom(ANil(inT))
            case 1 => ESort(LikeList, literal(VList(t3Rows.take(2)), TList(inT)))
            case _ => ESort(LikeList,
              EFilter(LikeList, ELoc("t3"), s"bb$i",
                EBinop(OAnd, corrPred(s"bb$i"),
                  EBinop(OLess, EAccess(EVar(s"bb$i"), "v"), EAtom(AInt(0))))))
          }
          val (l1, l2) =
            if (rnd.nextBoolean()) (corrLeg, otherLeg) else (otherLeg, corrLeg)
          val body = EFlatmap2(l1, l2, s"zx$i", s"zy$i",
            EBinop(OCons, ERecord(List(
              "a" -> EBinop(OPlus, EAccess(EVar(s"zx$i"), "v"),
                EAccess(EVar("x"), "k")),
              "b" -> EAccess(EVar(s"zy$i"), "v"))),
              literal(VList(Vector.empty), TList(resT))))
          (EFlatmap(LikeList, ELoc("t1"), "x", body), resT)
        case _ =>
          val legPred =
            if (rnd.nextBoolean())
              EBinop(OLess, EAccess(EVar(s"ba$i"), "v"), corrAgg("j"))
            else EBinop(OAnd, corrPred(s"ba$i"),
              EBinop(OLess, EAccess(EVar(s"ba$i"), "v"), corrAgg("j")))
          val l1 = EFilter(LikeList, ELoc("t2"), s"ba$i", legPred)
          val l2 =
            if (rnd.nextBoolean())
              EFilter(LikeList, ELoc("t3"), s"bb$i", corrPred(s"bb$i"))
            else ELoc("t3")
          val body = EJoin(LikeList, l1, l2, "ja", "jb",
            EBinop(OEq, EAccess(EVar("ja"), "k"), EAccess(EVar("jb"), "k")),
            ERecord(List(
              "a" -> EBinop(OPlus, EAccess(EVar("ja"), "v"),
                EAccess(EVar("x"), "k")),
              "b" -> EAccess(EVar("jb"), "v"))))
          (EFlatmap(LikeList, ELoc("t1"), "x", body), resT)
      }
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark)) match {
          case TV(df) =>
            val got = collectTable(df, elemT)
            ran(shape) += 1
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[shape $shape case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
          case CV(_) => fail(s"[shape $shape case $i] compiled to a scalar")
        }
      } catch {
        case u: UnsupportedOperationException =>
          assert(Option(u.getMessage)
            .exists(m => m.toLowerCase.contains("correlat") ||
              m.contains("strict order mode")),
            s"[shape $shape case $i] UNDIRECTED error: ${u.getMessage}\n${show(prog)}")
          directed(shape) += 1
      }
    }
    for (s <- 0 until 4) {
      info(s"shape $s: ${ran(s)} supported-and-correct, " +
        s"${directed(s)} directed-unsupported of $perShape")
      assert(ran(s) + directed(s) == perShape)
    }
  }

  test("correlated EIf table bodies, let-bound/doubly-nested aggregates, set-of correlated sources: correct or DIRECTED") {
    // Round-10 second boundary push: four MORE shape families the
    // generator did not emit (reference semantics Interpret.v:273-312 —
    // every expression form may close over an enclosing binder):
    //   0: correlated-CONDITIONAL table bodies — EIf whose condition
    //      references the outer row selects between two table legs;
    //   1: LET-BOUND correlated aggregates — the aggregate is computed
    //      once into a binder and the body references the binder (tests
    //      that decorrelation sees through ELet, not just inline sites);
    //   2: ESetOf/EBagOf over a correlated source — per-outer-row dedup /
    //      bag canonicalization feeding OLength / EACFold;
    //   3: DOUBLY-NESTED correlated aggregates — the aggregate's filter
    //      predicate itself holds another aggregate correlated on the SAME
    //      outer row.
    // Whatever the engine supports must match the reference; whatever it
    // does not must throw the directed correlation error. ≥50 seeds/shape.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(12300)
    val t1Rows = Vector.fill(9)(genValue(outT, rnd0))
    val t2Rows = Vector.fill(12)(genValue(inT, rnd0))
    val t3Rows = Vector.fill(7)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val d3 = tableDF(t3Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows),
      "t3" -> VList(t3Rows))
    val scalarT = TRecord.sorted("k" -> TInt, "g" -> TInt)
    val resT = TRecord.sorted("a" -> TInt, "b" -> TInt)
    val perShape = 52
    val ran = Array.fill(4)(0)
    val directed = Array.fill(4)(0)
    for (shape <- 0 until 4; i <- 0 until perShape) {
      val rnd = new Random(12400 + shape * 1000 + i)
      def corrPred(b: String): Expr = rnd.nextInt(3) match {
        case 0 => EBinop(OEq, EAccess(EVar(b), "k"), EAccess(EVar("x"), "k"))
        case 1 => EBinop(OLess, EAccess(EVar(b), "v"), EAccess(EVar("x"), "k"))
        case _ => EBinop(OLess, EAccess(EVar("x"), "k"), EAccess(EVar(b), "k"))
      }
      def corrAgg(tag: String): Expr = rnd.nextInt(2) match {
        case 0 => EACFold(AGSum, EProj(LikeList,
          EFilter(LikeList, ELoc("t2"), s"f$tag$i", corrPred(s"f$tag$i")),
          s"p$tag$i", EAccess(EVar(s"p$tag$i"), "v")))
        case _ => EUnop(OLength,
          EFilter(LikeList, ELoc("t3"), s"f$tag$i", corrPred(s"f$tag$i")))
      }
      val (prog, elemT) = shape match {
        case 0 =>
          // EIf selects between two table legs on a correlated condition;
          // legs themselves may be correlated filters
          val cond = rnd.nextInt(3) match {
            case 0 => EBinop(OLess, EAccess(EVar("x"), "k"), EAtom(AInt(0)))
            case 1 => EBinop(OLess, EAtom(AInt(2)), EAccess(EVar("x"), "k"))
            case _ => EBinop(OEq, EBinop(OMod, EAccess(EVar("x"), "k"),
              EAtom(AInt(2))), EAtom(AInt(0)))
          }
          val legA =
            if (rnd.nextBoolean())
              EFilter(LikeList, ELoc("t2"), s"la$i", corrPred(s"la$i"))
            else ELoc("t2")
          val legB = rnd.nextInt(3) match {
            case 0 => EFilter(LikeList, ELoc("t3"), s"lb$i", corrPred(s"lb$i"))
            case 1 => EAtom(ANil(inT))
            case _ => ELoc("t3")
          }
          val body = EProj(LikeList, EIf(cond, legA, legB), s"pp$i",
            ERecord(List(
              "a" -> EBinop(OPlus, EAccess(EVar(s"pp$i"), "v"),
                EAccess(EVar("x"), "k")),
              "b" -> EAccess(EVar(s"pp$i"), "k"))))
          (EFlatmap(LikeList, ELoc("t1"), "x", body), resT)
        case 1 =>
          // the correlated aggregate is bound ONCE by ELet; the let body
          // uses the binder in a filter predicate and/or the projection
          val useInPred = rnd.nextBoolean()
          val inner = EProj(LikeList,
            EFilter(LikeList, ELoc("t2"), s"lf$i",
              if (useInPred)
                EBinop(OLess, EAccess(EVar(s"lf$i"), "v"), EVar(s"lv$i"))
              else corrPred(s"lf$i")),
            s"lp$i", ERecord(List(
              "a" -> EBinop(OPlus, EAccess(EVar(s"lp$i"), "v"),
                if (useInPred) EAccess(EVar("x"), "k") else EVar(s"lv$i")),
              "b" -> EAccess(EVar(s"lp$i"), "k"))))
          val body = ELet(corrAgg("l"), s"lv$i", inner)
          (EFlatmap(LikeList, ELoc("t1"), "x", body), resT)
        case 2 =>
          // per-outer-row set/bag canonicalization of a correlated source
          val src = EFilter(LikeList, ELoc("t2"), s"sf$i", corrPred(s"sf$i"))
          val g = rnd.nextInt(3) match {
            case 0 => EUnop(OLength, ESetOf(src))
            case 1 => EUnop(OLength, EBagOf(src))
            case _ => EACFold(AGSum, EProj(LikeBag, EBagOf(src), s"sp$i",
              EAccess(EVar(s"sp$i"), "v")))
          }
          (EProj(LikeList, ELoc("t1"), "x", ERecord(List(
            "k" -> EAccess(EVar("x"), "k"), "g" -> g))), scalarT)
        case _ =>
          // aggregate-inside-aggregate, both correlated on the same outer x
          val innerAgg = corrAgg("ii")
          val outerAgg = EACFold(AGSum, EProj(LikeList,
            EFilter(LikeList, ELoc("t2"), s"of$i",
              EBinop(OAnd, corrPred(s"of$i"),
                EBinop(OLess, EAccess(EVar(s"of$i"), "v"), innerAgg))),
            s"op$i", EAccess(EVar(s"op$i"), "v")))
          (EProj(LikeList, ELoc("t1"), "x", ERecord(List(
            "k" -> EAccess(EVar("x"), "k"), "g" -> outerAgg))), scalarT)
      }
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark)) match {
          case TV(df) =>
            val got = collectTable(df, elemT)
            ran(shape) += 1
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[shape $shape case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
          case CV(_) => fail(s"[shape $shape case $i] compiled to a scalar")
        }
      } catch {
        case u: UnsupportedOperationException =>
          assert(Option(u.getMessage)
            .exists(m => m.toLowerCase.contains("correlat") ||
              m.contains("strict order mode")),
            s"[shape $shape case $i] UNDIRECTED error: ${u.getMessage}\n${show(prog)}")
          directed(shape) += 1
      }
    }
    for (s <- 0 until 4) {
      info(s"shape2 $s: ${ran(s)} supported-and-correct, " +
        s"${directed(s)} directed-unsupported of $perShape")
      assert(ran(s) + directed(s) == perShape)
    }
  }

  test("aggregates over correlated EFlatmap sources: product-explode == reference nested loops") {
    // Round-10 boundary closure: an aggregate whose source is a CORRELATED
    // EFlatmap — the body (an arbitrary per-pair ARRAY, possibly of
    // data-dependent length) references the outer row, and/or a filter
    // chain below the flatmap does. The reference nested-loops the
    // (outer × inner) product and concatenates the body arrays
    // (Interpret.v:273-299); the engine joins the DISTINCT outer rows to
    // the inner side and EXPLODES the per-pair arrays before the per-outer
    // aggregation (the distinct-outer path), or flattens+sorts them for the
    // ESort / EFold-over-ESort consumers. Shapes: gated two-element
    // emissions, ORange bodies (data-dependent length), unconditional
    // mixed-row pairs, y-only bodies over correlated chains; with and
    // without an EProj layer above the flatmap; consumers LENGTH / SUM /
    // COUNT / MIN / MAX / ESort / EFold(ESort). An EFold DIRECTLY over
    // the flatmap (emission order observable) must stay a DIRECTED error.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(8800)
    // duplicate outer rows: reaggregation keys on DISTINCT outer rows, so
    // duplicates must each surface the shared result
    val t1Rows = {
      val base = Vector.fill(9)(genValue(outT, rnd0))
      base ++ base.take(2)
    }
    val t2Rows = Vector.fill(12)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows))
    var supported = 0
    for (i <- 0 until 52) {
      val rnd = new Random(8900 + i)
      val y = s"fy$i"
      def yv = EAccess(EVar(y), "v")
      def xk = EAccess(EVar("x"), "k")
      val bodyKind = rnd.nextInt(4)
      val body = bodyKind match {
        case 0 => // gated two-element emission mixing both rows
          EIf(EBinop(OLess, yv, xk),
            EBinop(OCons, yv, EBinop(OCons, EBinop(OPlus, yv, xk),
              EAtom(ANil(TInt)))),
            EAtom(ANil(TInt)))
        case 1 => // data-dependent length: range over a floor-mod mix
          EBinop(ORange, EAtom(AInt(0)),
            EBinop(OMod, EBinop(OPlus, yv, xk), EAtom(AInt(4))))
        case 2 => // unconditional pair emission
          EBinop(OCons, EBinop(OTimes, yv, EAtom(AInt(2))),
            EBinop(OCons, xk, EAtom(ANil(TInt))))
        case _ => // y-only body — correlation comes from the chain below
          EBinop(OCons, yv, EAtom(ANil(TInt)))
      }
      val kind = rnd.nextInt(9)
      val cb = s"cb$i"
      val chain = rnd.nextInt(3) match {
        // the WRAPPED shapes (setof/bagof layers, kinds 7-8) ride the
        // layered peel, which needs the CHAIN correlated — body-only
        // correlation under a wrapper is a documented directed residual
        case 0 if bodyKind != 3 && kind < 7 => ELoc("t2")
        case 1 => EFilter(LikeList, ELoc("t2"), cb,
          EBinop(OEq, EAccess(EVar(cb), "k"), xk)) // equi tie
        case _ => EFilter(LikeList, ELoc("t2"), cb,
          EBinop(OLess, EAccess(EVar(cb), "v"), xk)) // non-equi tie
      }
      val flatSrc = EFlatmap(LikeList, chain, y, body)
      val pp = s"fp$i"
      val projded =
        if (rnd.nextBoolean())
          EProj(LikeList, flatSrc, pp, EBinop(OPlus, EVar(pp), xk))
        else flatSrc
      val el = s"fe$i"; val ac = s"fa$i"
      val aggNode = kind match {
        case 0 => EUnop(OLength, projded)
        case 1 => EACFold(AGSum, projded)
        case 2 => EACFold(AGCount, projded)
        case 3 => EACIFold(AGMin, projded)
        case 4 => EACIFold(AGMax, projded)
        case 5 => ESort(LikeList, projded)
        case 6 => EFold(ESort(LikeList, projded), EAtom(AInt(0)), el, ac,
          EBinop(OPlus, EVar(el), EVar(ac)))
        // wrapper layers over the flatmap: the layered peel substitutes
        // the chain with the per-outer-row array and the setof/bagof/
        // flatmap stack compiles as nested-collection ops over it
        case 7 => EUnop(OLength, ESetOf(projded))
        case _ => EACFold(AGSum, EBagOf(projded))
      }
      val aggT: FType = kind match {
        case 3 | 4 => TOption(TInt)
        case 5 => TList(TInt)
        case _ => TInt
      }
      val prog = EProj(LikeList, ELoc("t1"), "x", ERecord(List(
        "k" -> xk, "g" -> aggNode)))
      val elemT = TRecord.sorted("g" -> aggT, "k" -> TInt)
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2), spark,
          storeTypes = Map("t1" -> TList(outT), "t2" -> TList(inT)))) match {
          case TV(df) =>
            val got = collectTable(df, elemT)
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[corrflat case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
            supported += 1
          case CV(_) => fail(s"[corrflat case $i] compiled to a scalar")
        }
      } catch {
        case e: UnsupportedOperationException =>
          val sup = e.getSuppressed.toVector.map(_.getMessage)
          fail(s"[corrflat case $i body=$bodyKind kind=$kind] " +
            s"unsupported: ${e.getMessage}\nsuppressed=$sup\n${show(prog)}")
      }
    }
    info(s"corrflat: $supported supported-and-correct of 52")
    assert(supported == 52)
    // order-dependent residual: EFold DIRECTLY over the correlated flatmap
    // consumes emission order — must refuse with the directed message, not
    // fold a different order
    val foldDirect = EProj(LikeList, ELoc("t1"), "x", ERecord(List(
      "k" -> EAccess(EVar("x"), "k"),
      "g" -> EFold(
        EFlatmap(LikeList, ELoc("t2"), "dy",
          EIf(EBinop(OLess, EAccess(EVar("dy"), "v"),
            EAccess(EVar("x"), "k")),
            // TWO-element emission: normalize cannot single-cons this
            // away into a filter/proj chain, so the flat peel engages
            EBinop(OCons, EAccess(EVar("dy"), "v"),
              EBinop(OCons, EAccess(EVar("dy"), "k"),
                EAtom(ANil(TInt)))),
            EAtom(ANil(TInt)))),
        EAtom(AInt(0)), "de", "da",
        EBinop(OMinus, EVar("de"), EVar("da"))))))
    val err = intercept[UnsupportedOperationException] {
      Compiler.compileProgram(foldDirect, Env(Map.empty,
        Map("t1" -> d1, "t2" -> d2), spark)) match {
        case TV(df) => df.collect()
        case other => other
      }
    }
    // the EProj catch rethrows the primary directed error with the
    // decorrelation failure SUPPRESSED — the sort-first guidance must be
    // reachable from one of the two
    val msgs = err.getMessage +:
      err.getSuppressed.toVector.map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("ESort")),
      s"expected the sort-first directed error, got: $msgs")
  }

  test("same-table correlated join legs resolve through aliases (three-way self-join)") {
    // Outer table and BOTH join legs are the SAME table: every attribute
    // id collides three ways, so this passes only if the decorrelated
    // join's alias-qualified resolution (__decor_l/__decor_j1/__decor_j2)
    // is airtight — the silent-wrong-result hazard assertUncorrelated
    // exists to prevent, exercised on the supported path.
    val rt = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rows = (1 to 6).map(i =>
      VRec(Vector("k" -> VI(BigInt(i % 3)), "v" -> VI(BigInt(i))))).toVector
    val df = tableDF(rows, rt)
    def corrLeg(b: String) = EFilter(LikeList, ELoc("t"), b,
      EBinop(OEq, EAccess(EVar(b), "k"), EAccess(EVar("x"), "k")))
    val body = EJoin(LikeList, corrLeg("a1"), corrLeg("b1"), "ja", "jb",
      EBinop(OLess, EAccess(EVar("ja"), "v"), EAccess(EVar("jb"), "v")),
      ERecord(List(
        "p" -> EAccess(EVar("ja"), "v"),
        "q" -> EAccess(EVar("jb"), "v"),
        "o" -> EAccess(EVar("x"), "v"))))
    val prog = EFlatmap(LikeList, ELoc("t"), "x", body)
    val expected = interp(prog, REnv("t" -> VList(rows)))
    val outT = TRecord.sorted("o" -> TInt, "p" -> TInt, "q" -> TInt)
    Compiler.compileProgram(prog,
      Env(Map.empty, Map("t" -> df), spark)) match {
      case TV(out) =>
        val got = collectTable(out, outT)
        val want = sortedV(elems(expected))
        assert(cmpValues(got, want) == 0,
          s"compiled=$got\nreference=$want")
      case CV(_) => fail("table flatmap compiled to a scalar")
    }
  }

  test("streamed table EFold agrees with the reference exactly at and across the batch seam") {
    // The table-level EFold switches representation at batchSize=10_000
    // rows: below, one lazy array literal; above, driver-streamed batches
    // whose accumulator is RE-LITERALIZED between flushes
    // (Compiler.scala EFold TV branch). A non-commutative,
    // non-associative, branchy step makes any seam error (row dropped or
    // double-folded at a flush boundary, wrong batch order) change the
    // result — pinned against RefInterp at 10_000±1 and ~25k rows.
    val step = EIf(
      EBinop(OEq, EBinop(OMod, EVar("x"), EAtom(AInt(2))), EAtom(AInt(0))),
      EBinop(OMod,
        EBinop(OPlus, EBinop(OTimes, EVar("acc"), EAtom(AInt(31))), EVar("x")),
        EAtom(AInt(1000003))),
      EBinop(OMod, EBinop(OMinus, EVar("acc"), EVar("x")),
        EAtom(AInt(1000003))))
    val prog = EFold(ELoc("t"), EAtom(AInt(7)), "x", "acc", step)
    for (n <- Seq(9999, 10000, 10001, 25000)) {
      // multiplication spreads the values; canonical order != insert order
      val values = (0 until n).map(i => (i.toLong * 37L) % 50021L)
      import org.apache.spark.sql.functions.col
      val df = spark.range(n)
        .select((col("id") * 37L % 50021L).as("value"))
      val expected = interp(prog,
        REnv("t" -> VList(values.sorted.map(v => VI(BigInt(v))).toVector)))
      Compiler.compile(prog, Env(Map.empty, Map("t" -> df), spark,
        storeTypes = Map("t" -> TBag(TInt)))) match {
        case CV(c) =>
          val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), TInt)
          assert(cmp(got, expected) == 0,
            s"[n=$n] compiled=$got reference=$expected")
        case TV(_) => fail(s"[n=$n] scalar fold compiled to a table")
      }
    }
  }

  test("tables of WORD columns: ESort/EFold/EFlatmap2 canonical order is unsigned via storeTypes") {
    // The TABLE-level canonical orders (ESort row order, the EFold
    // stream/array-literal order, EFlatmap2's zip positions) key word
    // columns through CanonOrder when the store's element types are known
    // (Env.storeTypes) — closing the table side of the word-order
    // divergence. Words spanning the sign boundary make signed and
    // unsigned order disagree on nearly every pair.
    val rowW = TRecord.sorted("k" -> TInt, "w" -> TWord)
    val rnd = new Random(4400)
    val rows = Vector.fill(30)(VRec(Vector(
      "k" -> VI(BigInt(rnd.between(-5, 6))),
      "w" -> VW(rnd.nextLong())))) // full-range: both signs, high bit set
    val df = tableDF(rows, rowW)
    val storeT: Map[String, FType] = Map("t" -> TList(rowW))
    val renv = REnv("t" -> VList(rows))
    def run(prog: Expr, t: FType): Unit = {
      val expected = interp(prog, renv)
      Compiler.compileProgram(prog,
        Env(Map.empty, Map("t" -> df), spark, storeTypes = storeT)) match {
        case TV(out) =>
          // ESort output order is observable: compare as ordered rows
          val got = out.collect().toVector.map(fromSpark(_, rowW))
          assert(cmp(VList(got), expected) == 0,
            s"table order diverges\ncompiled=$got\nreference=$expected")
        case CV(c) =>
          val got = fromSpark(spark.range(1).select(c.as("v")).head.get(0), t)
          assert(cmp(got, expected) == 0,
            s"compiled=$got reference=$expected")
      }
    }
    // ESort over the word-column table: row order IS the result
    run(ESort(LikeList, ELoc("t")), TList(rowW))
    // non-commutative fold over the canonically-sorted words — any order
    // difference changes the value (fold consumes w via OWPlus/OWTimes)
    val fold = EFold(ESort(LikeList, ELoc("t")), EAtom(AWord(1L)), "x", "acc",
      EBinop(OWPlus, EBinop(OWTimes, EVar("acc"), EAtom(AWord(31L))),
        EAccess(EVar("x"), "w")))
    run(fold, TWord)
    // zip positions come from each side's canonical order (table-level
    // EFlatmap2 runs over ESorted legs — the engine's documented stance);
    // the two legs sort DIFFERENT word derivations, so unsigned vs signed
    // zip order would misalign nearly every pair
    val legW = ESort(LikeList,
      EProj(LikeList, ELoc("t"), "r", EAccess(EVar("r"), "w")))
    // (an odd multiplier, NOT wneg: negation merely reverses/rotates the
    // order, which can make signed and unsigned pairings coincide when
    // the sign split is even — ×3 permutes the unsigned order genuinely)
    val legN = ESort(LikeList,
      EProj(LikeList, ELoc("t"), "r",
        EBinop(OWTimes, EAccess(EVar("r"), "w"), EAtom(AWord(3L)))))
    val zip = EFlatmap2(legW, legN, "a", "b",
      EBinop(OCons, EBinop(OWMinus, EVar("a"), EVar("b")),
        EAtom(ANil(TWord))))
    // the zip RESULT is a table (multiset): what the differential checks
    // is the PAIRING — a signed-ordered leg would misalign pairs and
    // change the multiset of differences
    val expectedZip = sortedV(elems(interp(zip, renv)))
    Compiler.compileProgram(zip,
      Env(Map.empty, Map("t" -> df), spark, storeTypes = storeT)) match {
      case TV(out) =>
        val got = sortedV(out.collect().toVector
          .map(r => fromSpark(r.get(r.fieldIndex("value")), TWord)))
        assert(cmpValues(got, expectedZip) == 0,
          s"zip pairing diverges\ncompiled=$got\nreference=$expectedZip")
      case CV(_) => fail("zip compiled to a scalar")
    }
  }

  // ---------------------------------------------------------------------
  // Command programs
  // ---------------------------------------------------------------------

  private def genCommand(rnd: Random, d: Int): Command =
    if (d <= 0) CSkip
    else rnd.nextInt(10) match {
      case 6 => // scoped mutable TABLE cell shadowing the global `t`:
        // the body mutates the inner cell; the outer binding must be
        // restored on exit (Interp.CLetMut save/restore discipline)
        CLetMut(EFilter(LikeList, ELoc("t"), "r",
          EBinop(OLess, EAccess(EVar("r"), "k"), EAtom(AInt(rnd.between(-2, 6))))),
          "t",
          CSeq(
            CAssign("t", EBinop(OCons, literal(genValue(rowU, rnd), rowU),
              ELoc("t"))),
            genCommand(rnd, d - 1)))
      case 7 => // scoped mutable SCALAR cell read by a later filter; inner
        // updates fold eagerly (Interpret.v:514); scope restores on exit
        CLetMut(EAtom(AInt(rnd.between(-3, 4))), "lim",
          CSeq(
            CAssign("lim", EBinop(OPlus, ELoc("lim"), EAtom(AInt(1)))),
            CAssign("out", EFilter(LikeList, ELoc("t"), "r",
              EBinop(OLess, EAccess(EVar("r"), "k"), ELoc("lim"))))))
      case 0 => CSeq(genCommand(rnd, d - 1), genCommand(rnd, d - 1))
      case 1 => // rebuild out from a pipeline over t
        CAssign("out", EFilter(LikeList, ELoc("t"), "r",
          genExpr(TBool, Vector("r" -> rowU), rnd, 2)))
      case 2 => // insert a literal row
        CAssign("t", EBinop(OCons, literal(genValue(rowU, rnd), rowU),
          ELoc("t")))
      case 3 => CIf(EBinop(OLess, EAtom(AInt(rnd.between(-2, 3))),
        EAtom(AInt(0))), genCommand(rnd, d - 1), genCommand(rnd, d - 1))
      case 4 => // loop over a small literal list, inserting per element
        CForeach(literal(genValue(TList(TInt), rnd), TList(TInt)), "i",
          CAssign("t", EBinop(OCons,
            ERecord(List("k" -> EVar("i"), "v" -> EAtom(AInt(rnd.nextInt(5))))),
            ELoc("t"))))
      case 5 => // scoped immutable binding used in a filter
        CLet(EAtom(AInt(rnd.between(-5, 6))), "lim",
          CAssign("out", EFilter(LikeList, ELoc("t"), "r",
            EBinop(OLess, EAccess(EVar("r"), "k"), EVar("lim")))))
      case 8 => // CORRELATED aggregate reached through the COMMAND layer:
        // per t-row, count the t2 rows tied to it — Interp must route the
        // assignment through the same decorrelation the expression fuzz
        // proves (round 10: the Interp × decorrelation composition axis)
        CAssign("out", EProj(LikeList, ELoc("t"), "x",
          ERecord(List("k" -> EAccess(EVar("x"), "k"),
            "v" -> EUnop(OLength, EFilter(LikeList, ELoc("t2"), "y",
              EBinop(OEq, EAccess(EVar("y"), "k"),
                EAccess(EVar("x"), "k"))))))))
      case _ => // loop-carried correlated aggregates: each iteration
        // rebuilds out from a correlated-aggregate filter thresholded by
        // the LOOP element (the decorrelated plan re-derives per tick
        // against the current mutable t)
        CForeach(literal(genValue(TList(TInt), rnd), TList(TInt)), "i",
          CAssign("out", EFilter(LikeList, ELoc("t"), "r",
            EBinop(OLess,
              EUnop(OLength, EFilter(LikeList, ELoc("t2"), "y",
                EBinop(OEq, EAccess(EVar("y"), "k"),
                  EAccess(EVar("r"), "k")))),
              EBinop(OPlus, EVar("i"), EAtom(AInt(2)))))))
    }

  test("command programs: compiler+Interp == reference interpreter") {
    val rnd0 = new Random(31337)
    val tRows = Vector.fill(12)(genValue(rowU, rnd0))
    val t2Rows = Vector.fill(9)(genValue(rowU, rnd0))
    for (i <- 0 until 25) {
      val rnd = new Random(5200 + i)
      val prog = genCommand(rnd, 2 + rnd.nextInt(2))
      val expected = RefInterp.run(prog, REnv(
        "t" -> VList(tRows), "t2" -> VList(t2Rows),
        "out" -> VList(Vector.empty[V])))
      val env0 = Env(Map.empty, Map(
        "t" -> tableDF(tRows, rowU),
        "t2" -> tableDF(t2Rows, rowU),
        "out" -> tableDF(Vector.empty, rowU)), spark)
      val fin = Interp.run(prog, env0)
      for (cell <- Seq("t", "out")) {
        val got = collectTable(fin.store(cell), rowU)
        val want = sortedV(elems(expected.store(cell)))
        assert(cmpValues(got, want) == 0,
          s"[command case $i] cell $cell\ncompiled=$got\nreference=$want\n" +
            show(prog))
      }
    }
  }

  test("optimized insert/read programs over an indexed table == reference interpreter") {
    // The catalog benchmark's program shape through the whole Optimize
    // pipeline: `t` gets an index on `k` (the point count), maintained
    // sum/min/count cells (bumped on the driver), and driver-built local
    // deltas per insert. The loop runs over a LITERAL list of records, so
    // its order is observable: each read records how many rows preceded
    // it. Every fourth table starts empty (sum 0, min None, count 0).
    val outT = TRecord.sorted("c" -> TInt, "k" -> TInt, "m" -> TInt,
      "n" -> TInt, "s" -> TInt)
    def tv(f: String) = EProj(LikeBag, ELoc("t"), "o", EAccess(EVar("o"), f))
    def read(k: Expr) = CAssign("out", EBinop(OCons, ERecord(List(
      "c" -> EUnop(OLength, EFilter(LikeList, ELoc("t"), "o",
        EBinop(OEq, EAccess(EVar("o"), "k"), k))),
      "k" -> k,
      "m" -> EOptMatch(EACIFold(AGMin, tv("v")), EAtom(AInt(-100)), "x", EVar("x")),
      "n" -> EUnop(OLength, ELoc("t")),
      "s" -> EACFold(AGSum, tv("v")))), ELoc("out")))
    val insert = CAssign("t", EBinop(OCons, EVar("r"), ELoc("t")))
    val rk = EAccess(EVar("r"), "k")
    var emptyStarts = 0
    for (i <- 0 until 16) {
      val rnd = new Random(7300 + i)
      val tRows =
        if (i % 4 == 0) Vector.empty[V] else Vector.fill(1 + rnd.nextInt(6))(genValue(rowU, rnd))
      val list = VList(Vector.fill(1 + rnd.nextInt(4))(genValue(rowU, rnd)))
      val body = rnd.nextInt(3) match {
        case 0 => CSeq(insert, read(rk))
        case 1 => CSeq(read(rk), insert)
        case _ => insert
      }
      val prog = CLetMut(literal(VList(Vector.empty), TList(outT)), "out",
        CSeq(CSeq(read(EAtom(AInt(0))),
          CForeach(literal(list, TList(rowU)), "r", body)),
          CSeq(read(EAtom(AInt(1))), CAssign("result", ELoc("out")))))
      val expected = RefInterp.run(prog, REnv("t" -> VList(tRows)))
      val fin = Optimize.run(prog,
        Env(Map.empty, Map("t" -> tableDF(tRows, rowU)), spark))
      try {
        assert(fin.indexes.contains("t"), s"[indexed $i] t was not indexed")
        for ((cell, ty) <- Seq("t" -> rowU, "result" -> outT)) {
          val got = collectTable(fin.store(cell), ty)
          val want = sortedV(elems(expected.store(cell)))
          assert(cmpValues(got, want) == 0,
            s"[indexed $i] cell $cell\ncompiled=$got\nreference=$want\n" +
              show(prog))
        }
      } finally fin.indexes.values.foreach(_.unpersist())
      if (tRows.isEmpty) emptyStarts += 1
    }
    assert(emptyStarts == 4)
  }

  test("default-TInt boundary seeds: in-range agrees, out-of-range raises the DIRECTED bigInt error and the fix works") {
    // Random arithmetic over literals AT the 64-bit boundary
    // (±2^62, MaxValue, MinValue, small offsets). The default mapping is
    // overflow-CHECKED (r11): when every intermediate stays in range the
    // engine must equal the reference; when one leaves it, the engine
    // must raise the DIRECTED error naming bigInt — and compiling the
    // SAME expression under Env(bigInt = true) must then produce the
    // reference's exact unbounded-Z value (the directed fix actually
    // fixes). Both outcomes must occur across the seeds (anti-vacuity).
    def msgChain(ex: Throwable): String =
      Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).map(msgChain).getOrElse("")
    var inRange = 0; var directed = 0
    for (i <- 0 until 60) {
      val rnd = new Random(15000 + i)
      def gen(d: Int): Expr =
        if (d <= 0) EAtom(AInt(Vector(Long.MaxValue, Long.MinValue,
          Long.MaxValue - 1, 1L << 62, -(1L << 62),
          rnd.between(-5L, 6L))(rnd.nextInt(6))))
        else rnd.nextInt(4) match {
          case 0 => EBinop(OPlus, gen(d - 1), gen(d - 1))
          case 1 => EBinop(OMinus, gen(d - 1), gen(d - 1))
          case 2 => EBinop(OTimes, gen(0), EAtom(AInt(rnd.between(-3L, 4L))))
          case 3 => EUnop(ONeg, gen(d - 1))
        }
      val e = gen(2 + rnd.nextInt(2))
      val ref = interp(e, REnv())
      try {
        val got = compiledScalar(e, TInt)
        assert(cmp(got, ref) == 0,
          s"[bound $i] compiled=$got reference=$ref\n$e")
        inRange += 1
      } catch {
        case ex: Throwable if isOverflow(ex) =>
          assert(msgChain(ex).contains("bigInt"),
            s"[bound $i] overflow not DIRECTED: ${msgChain(ex)}\n$e")
          val fixed = Compiler.compileProgram(e,
            Env(Map.empty, Map.empty, spark, bigInt = true)) match {
            case CV(c) =>
              fromSpark(spark.range(1).select(c.as("v")).head.get(0), TInt)
            case other => fail(s"[bound $i] scalar compiled to $other")
          }
          assert(cmp(fixed, ref) == 0,
            s"[bound $i] bigInt fix diverges: $fixed vs $ref\n$e")
          directed += 1
      }
    }
    info(s"$inRange in-range agreed, $directed directed-and-fixed")
    assert(inRange >= 10 && directed >= 10,
      s"boundary battery vacuous: $inRange in-range, $directed directed")
  }

  test("notation round-trip: pretty -> parse is identity and compile-equivalent on surface forms") {
    // The reference pins its notation round-trips as Goal-based tests
    // (fiat2/src/fiat2/Notations.v:152-255). Differential analog (r11):
    // random WELL-TYPED ASTs from this spec's generators, pretty-printed
    // (`Pretty`) and re-parsed (`Parser.parseExpr`) — the reparse must be
    // structurally identical (hence trivially compile-equivalent), and the
    // round-tripped AST must still evaluate to the generator AST's value
    // through BOTH RefInterp and the Spark compiler. Forms outside the
    // surface notation (relational nodes, word/sort/dict-fold operators,
    // negative int literals and other non-surface atoms) raise the
    // DIRECTED `Pretty.Unprintable` — the pinned failure mode, never a
    // silently-wrong print.
    // r12: the notation covers the whole generated grammar (the engine
    // call/binder-form extension) — gate on the printable FRACTION over a
    // fixed seed budget, with the residual Unprintable reasons
    // histogrammed so any regression names itself
    val seeds = 600
    var printable = 0; var sparkChecked = 0
    val unprintable = scala.collection.mutable.Map.empty[String, Int]
    for (i <- 0 until seeds) {
      val rnd = new Random(12000 + i)
      val t = genType(rnd, 1 + rnd.nextInt(2))
      val e = genExpr(t, Vector.empty, rnd, 2 + rnd.nextInt(2))
      try {
        val printed = Pretty(e)
        val reparsed = Parser.parseExpr(printed)
        assert(reparsed == e,
          s"[rt $i] reparse differs\nprinted: $printed\nAST: $e\n" +
            s"reparsed: $reparsed")
        printable += 1
        val ref = interp(e, REnv())
        assert(cmp(interp(reparsed, REnv()), ref) == 0,
          s"[rt $i] reference value differs after round-trip\n$printed")
        if (sparkChecked < 120) { // bounded: Spark compile is the slow leg
          try {
            val got = compiledScalar(reparsed, t)
            assert(cmp(got, ref) == 0,
              s"[rt $i] compiled round-trip value differs\n$printed")
            sparkChecked += 1
          } catch { case ex: Throwable if isOverflow(ex) => () }
        }
      } catch {
        case u: Pretty.Unprintable =>
          unprintable(u.what) = unprintable.getOrElse(u.what, 0) + 1
      }
    }
    val ratio = printable.toDouble / seeds
    info(f"$printable/$seeds printable round-tripped (${ratio * 100}%.1f%%, " +
      s"$sparkChecked Spark-checked); Unprintable: " +
      unprintable.toSeq.sortBy(-_._2).map { case (w, n) => s"$w=$n" }
        .mkString(", "))
    assert(ratio >= 0.9,
      s"printable fraction ${ratio} below 0.9 — Unprintable: $unprintable")
    assert(sparkChecked >= 50,
      s"only $sparkChecked of $printable round-trips Spark-checked")
  }

  test("CForeach iterates driver tables in LIST (plan) order: order-dependent word accumulation == reference") {
    // The driver event loop iterates in PLAN order — the reference's
    // stored-list order (Interpret.v:519-523), which the engine's
    // driver-maintained tables preserve (cons-chain unions, local
    // collections). An order-DEPENDENT accumulation over a WORD column
    // must therefore match the reference with the SAME (unsorted) row
    // order on both sides.
    val rowW = TRecord.sorted("k" -> TInt, "w" -> TWord)
    val rnd = new Random(6100)
    val rows = Vector.fill(25)(VRec(Vector(
      "k" -> VI(BigInt(rnd.between(0, 100))),
      "w" -> VW(rnd.nextLong()))))
    val prog = CSeq(
      CAssign("acc", EAtom(AWord(1L))),
      CForeach(ELoc("t"), "r",
        CAssign("acc", EBinop(OWPlus,
          EBinop(OWTimes, ELoc("acc"), EAtom(AWord(31L))),
          EAccess(EVar("r"), "w")))))
    val ref = RefInterp.run(prog, REnv(
      "t" -> VList(rows), "acc" -> VW(0L))).store("acc")
    val env0 = Env(Map.empty, Map("t" -> tableDF(rows, rowW)), spark,
      scalars = Map("acc" -> org.apache.spark.sql.functions.lit(0L)),
      storeTypes = Map("t" -> TList(rowW)))
    val fin = Interp.run(prog, env0)
    val got = spark.range(1).select(fin.scalars("acc").as("v"))
      .head.getLong(0)
    assert(VW(got) == ref,
      s"engine iterated differently: got $got, reference $ref")
  }

  test("gate-only correlated aggregates: global-agg-then-broadcast == reference per-row loops") {
    // Round-10 boundary closure: every correlated conjunct of the
    // aggregate's filter chain is OUTER-ONLY (a gate on the outer row) —
    // no predicate ties outer and inner rows and neither the projection
    // nor a flatmap body references the outer row. Previously a directed
    // error ("without a predicate tying outer and inner rows"); but the
    // reference's per-row nested loop (Interpret.v:273-299) computes a
    // row-INDEPENDENT aggregate whenever the gate passes, so the engine
    // now aggregates the residual-filtered inner ONCE and broadcasts the
    // one-row result, gating per outer row (Compiler.unnestAggsOnce's
    // zero-key keyed group). Shapes: 1-2 stacked gates × optional inner-only residual
    // filter × optional uncorrelated projection × consumers LENGTH / SUM /
    // COUNT / MIN / MAX / ESort / EFold(ESort) / LENGTH(ESetOf) /
    // SUM(EBagOf). All 54 seeds must be supported-and-correct.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(13500)
    // duplicate outer rows: every duplicate must surface the shared value
    val t1Rows = {
      val base = Vector.fill(9)(genValue(outT, rnd0))
      base ++ base.take(2)
    }
    val t2Rows = Vector.fill(12)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows))
    var supported = 0
    for (i <- 0 until 54) {
      val rnd = new Random(13600 + i)
      def xk = EAccess(EVar("x"), "k")
      val cb = s"gb$i"
      def yv = EAccess(EVar(cb), "v")
      def mkGate(r: Random): Expr = r.nextInt(3) match {
        case 0 => EBinop(OLess, xk, EAtom(AInt(r.nextInt(7) - 3)))
        case 1 => EBinop(OEq, EBinop(OMod, xk, EAtom(AInt(2))),
          EAtom(AInt(0)))
        case _ => EUnop(ONot,
          EBinop(OLess, xk, EAtom(AInt(r.nextInt(5) - 2))))
      }
      val residual: Option[Expr] =
        if (rnd.nextBoolean())
          Some(EBinop(OEq, EBinop(OMod, yv, EAtom(AInt(3))),
            EAtom(AInt(rnd.nextInt(3)))))
        else None
      val pred = residual.fold(mkGate(rnd))(r =>
        EBinop(OAnd, mkGate(rnd), r))
      val chain0 = EFilter(LikeList, ELoc("t2"), cb, pred)
      // sometimes a SECOND gate-only filter layer stacks on top
      val chain =
        if (rnd.nextInt(4) == 0)
          EFilter(LikeList, chain0, s"gc$i", mkGate(rnd))
        else chain0
      val kind = rnd.nextInt(9)
      // scalar consumers need a scalar element — force the projection
      val needProj = Set(1, 3, 4, 5, 6, 8)
      val pp = s"gp$i"
      val projded =
        if (needProj(kind) || rnd.nextBoolean())
          EProj(LikeList, chain, pp, EBinop(OPlus,
            EBinop(OTimes, EAccess(EVar(pp), "v"), EAtom(AInt(2))),
            EAtom(AInt(1))))
        else chain
      val el = s"ge$i"; val ac = s"ga$i"
      val aggNode = kind match {
        case 0 => EUnop(OLength, projded)
        case 1 => EACFold(AGSum, projded)
        case 2 => EACFold(AGCount, projded)
        case 3 => EACIFold(AGMin, projded)
        case 4 => EACIFold(AGMax, projded)
        case 5 => ESort(LikeList, projded)
        case 6 => EFold(ESort(LikeList, projded), EAtom(AInt(0)), el, ac,
          EBinop(OPlus, EVar(el), EVar(ac)))
        case 7 => EUnop(OLength, ESetOf(projded))
        case _ => EACFold(AGSum, EBagOf(projded))
      }
      val aggT: FType = kind match {
        case 3 | 4 => TOption(TInt)
        case 5 => TList(TInt)
        case _ => TInt
      }
      val prog = EProj(LikeList, ELoc("t1"), "x", ERecord(List(
        "k" -> xk, "g" -> aggNode)))
      val elemT = TRecord.sorted("g" -> aggT, "k" -> TInt)
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2), spark,
          storeTypes = Map("t1" -> TList(outT), "t2" -> TList(inT)))) match {
          case TV(df) =>
            val got = collectTable(df, elemT)
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[gateonly case $i kind=$kind]\ncompiled=$got\n" +
                s"reference=$want\n${show(prog)}")
            supported += 1
          case CV(_) => fail(s"[gateonly case $i] compiled to a scalar")
        }
      } catch {
        case e: UnsupportedOperationException =>
          val sup = e.getSuppressed.toVector.map(_.getMessage)
          fail(s"[gateonly case $i kind=$kind] unsupported: " +
            s"${e.getMessage}\nsuppressed=$sup\n${show(prog)}")
      }
    }
    info(s"gateonly: $supported supported-and-correct of 54")
    assert(supported == 54)
  }

  test("aggregates referencing join binders: pair-table rewrite == reference nested loops") {
    // Round-10 boundary closure: a correlated scalar aggregate inside a
    // top-level EJoin BODY whose source references the join's own
    // binders (left, right, or both) — previously the residual "aggregate
    // referencing a join/leg binder" directed error. The reference
    // nested-loops the per-pair subquery (Interpret.v:273-312); the
    // engine rewrites the join to a PAIR TABLE (each row a record of both
    // legs) and runs the body as an EProj over it, so the projection
    // unnester lowers the aggregates against the pair frame with its
    // ordinary groupBy / join-then-reaggregate / gate-broadcast plans
    // (Compiler EJoin pair-table rewrite). Shapes: equi tie on either
    // binder, computed both-binder key, non-equi tie, gate-only on a
    // binder, outer-referencing aggregate projection, optional inner
    // residual filter, LENGTH/SUM/MIN consumers, two aggregates at once.
    val aT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val bT = TRecord.sorted("k" -> TInt, "w" -> TInt)
    val cT = TRecord.sorted("k" -> TInt, "u" -> TInt)
    val rnd0 = new Random(14500)
    val t1Rows = Vector.fill(8)(genValue(aT, rnd0))
    val t2Rows = Vector.fill(9)(genValue(bT, rnd0))
    val t3Rows = Vector.fill(11)(genValue(cT, rnd0))
    val d1 = tableDF(t1Rows, aT)
    val d2 = tableDF(t2Rows, bT)
    val d3 = tableDF(t3Rows, cT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows),
      "t3" -> VList(t3Rows))
    var supported = 0
    for (i <- 0 until 52) {
      val rnd = new Random(14600 + i)
      def xa(f: String) = EAccess(EVar("jx"), f)
      def yb(f: String) = EAccess(EVar("jy"), f)
      def mkAgg(tag: String): (Expr, FType) = {
        val cb = s"jc${tag}$i"
        def cu = EAccess(EVar(cb), "u")
        def ck = EAccess(EVar(cb), "k")
        val tie = rnd.nextInt(5) match {
          case 0 => EBinop(OEq, ck, xa("k")) // equi on the left binder
          case 1 => EBinop(OEq, ck, yb("k")) // equi on the right binder
          case 2 => EBinop(OLess, cu, yb("w")) // non-equi on the right
          case 3 => // computed BOTH-binder equi key
            EBinop(OEq, ck, EBinop(OPlus, xa("k"), yb("k")))
          case _ => // gate-only on the left binder (zero-key broadcast group)
            EBinop(OEq, EBinop(OMod, xa("k"), EAtom(AInt(2))),
              EAtom(AInt(0)))
        }
        val pred = if (rnd.nextBoolean())
          EBinop(OAnd, tie, EBinop(OEq, EBinop(OMod, cu, EAtom(AInt(3))),
            EAtom(AInt(0))))
        else tie
        val chain = EFilter(LikeList, ELoc("t3"), cb, pred)
        val pp = s"jp${tag}$i"
        rnd.nextInt(3) match {
          case 0 => (EUnop(OLength, chain), TInt)
          case 1 => (EACFold(AGSum, EProj(LikeList, chain, pp,
            EAccess(EVar(pp), "u"))), TInt)
          case _ => // outer-referencing projection: needs both rows in scope
            (EACIFold(AGMin, EProj(LikeList, chain, pp,
              EBinop(OPlus, EAccess(EVar(pp), "u"), xa("v")))),
              TOption(TInt))
        }
      }
      val (agg1, t1T) = mkAgg("a")
      val two = rnd.nextInt(3) == 0
      val (agg2, t2T) = if (two) mkAgg("b") else (EAtom(AInt(0)), TInt)
      val jpred =
        if (rnd.nextBoolean()) EBinop(OEq, xa("k"), yb("k"))
        else EBinop(OLess, xa("v"), yb("w"))
      val body = ERecord(List(
        "a" -> xa("k"), "b" -> yb("w"), "g" -> agg1, "h" -> agg2))
      val prog = EJoin(LikeList, ELoc("t1"), ELoc("t2"), "jx", "jy",
        jpred, body)
      val elemT = TRecord.sorted("a" -> TInt, "b" -> TInt,
        "g" -> t1T, "h" -> t2T)
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark)) match {
          case TV(df) =>
            val got = collectTable(df, elemT)
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[jbinder case $i two=$two]\ncompiled=$got\n" +
                s"reference=$want\n${show(prog)}")
            supported += 1
          case CV(_) => fail(s"[jbinder case $i] compiled to a scalar")
        }
      } catch {
        case e: UnsupportedOperationException =>
          val sup = e.getSuppressed.toVector.map(_.getMessage)
          fail(s"[jbinder case $i] unsupported: ${e.getMessage}\n" +
            s"suppressed=$sup\n${show(prog)}")
      }
    }
    info(s"jbinder: $supported supported-and-correct of 52")
    assert(supported == 52)
  }

  test("leg-binder aggregates under correlated flatmap joins: triple-table rewrite == reference") {
    // Round-10 boundary closure, the TWO-BINDER-LEVEL residual: a
    // correlated flatmap whose body is an EJoin (legs possibly correlated
    // on the outer row) and whose join BODY holds scalar aggregates
    // referencing the join's LEG binders — previously the last directed
    // correlation error with a non-fundamental cause. The reference
    // nested-loops outer × pair × subquery (Interpret.v:273-312); the
    // engine decorrelates the join, emits (outer, leg1, leg2) record
    // TRIPLES, and re-enters the compiler with the body as an EProj over
    // the triple table — all three binders are fields of one projection
    // binder, so the projection unnester lowers the subqueries with its
    // ordinary plans (Compiler triple-table rewrite). Shapes: correlated
    // and uncorrelated legs × equi / non-equi / x-referencing join
    // predicates × aggregate ties on either leg binder, computed
    // both-binder keys, gate-only, and mixed x+leg ties × LENGTH / SUM /
    // MIN consumers × an optional x-free projection layer above the join.
    val aT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val bT = TRecord.sorted("k" -> TInt, "w" -> TInt)
    val cT = TRecord.sorted("k" -> TInt, "u" -> TInt)
    val rnd0 = new Random(15500)
    val t1Rows = Vector.fill(7)(genValue(aT, rnd0))
    val t2Rows = Vector.fill(8)(genValue(bT, rnd0))
    val t3Rows = Vector.fill(9)(genValue(cT, rnd0))
    val d1 = tableDF(t1Rows, aT)
    val d2 = tableDF(t2Rows, bT)
    val d3 = tableDF(t3Rows, cT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows),
      "t3" -> VList(t3Rows))
    var supported = 0
    for (i <- 0 until 52) {
      val rnd = new Random(15600 + i)
      def xf(f: String) = EAccess(EVar("x"), f)
      def ja(f: String) = EAccess(EVar("ja"), f)
      def jb(f: String) = EAccess(EVar("jb"), f)
      val l1b = s"l1$i"; val l2b = s"l2$i"
      val leg1 = rnd.nextInt(3) match {
        case 0 => ELoc("t2") // uncorrelated
        case 1 => EFilter(LikeList, ELoc("t2"), l1b,
          EBinop(OEq, EAccess(EVar(l1b), "k"), xf("k")))
        case _ => EFilter(LikeList, ELoc("t2"), l1b,
          EBinop(OLess, EAccess(EVar(l1b), "w"), xf("v")))
      }
      val leg2 = rnd.nextInt(2) match {
        case 0 => ELoc("t3")
        case _ => EFilter(LikeList, ELoc("t3"), l2b,
          EBinop(OLess, xf("k"), EAccess(EVar(l2b), "u")))
      }
      val jp = rnd.nextInt(3) match {
        case 0 => EBinop(OEq, ja("k"), jb("k"))
        case 1 => EBinop(OLess, ja("w"), jb("u"))
        case _ => // join predicate referencing the outer row too
          EBinop(OEq, EBinop(OPlus, ja("k"), xf("k")), jb("k"))
      }
      val cb = s"ac$i"
      def cw = EAccess(EVar(cb), "w")
      def ck = EAccess(EVar(cb), "k")
      val tie = rnd.nextInt(5) match {
        case 0 => EBinop(OEq, ck, ja("k")) // equi on leg 1
        case 1 => EBinop(OLess, cw, jb("u")) // non-equi on leg 2
        case 2 => EBinop(OEq, ck, EBinop(OPlus, ja("k"), jb("k")))
        case 3 => // MIXED outer+leg tie
          EBinop(OEq, ck, EBinop(OPlus, ja("k"), xf("k")))
        case _ => // gate-only on leg 1 (zero-key broadcast group)
          EBinop(OEq, EBinop(OMod, ja("k"), EAtom(AInt(2))), EAtom(AInt(0)))
      }
      val chain = EFilter(LikeList, ELoc("t2"), cb, tie)
      val pp = s"ap$i"
      val (agg, aggT) = rnd.nextInt(3) match {
        case 0 => (EUnop(OLength, chain), TInt: FType)
        case 1 => (EACFold(AGSum, EProj(LikeList, chain, pp,
          EAccess(EVar(pp), "w"))), TInt: FType)
        case _ => (EACIFold(AGMin, EProj(LikeList, chain, pp,
          EBinop(OPlus, EAccess(EVar(pp), "w"), jb("u")))),
          TOption(TInt): FType)
      }
      val jr = ERecord(List(
        "a" -> xf("k"), "b" -> ja("w"), "c" -> jb("u"), "g" -> agg))
      val join = EJoin(LikeList, leg1, leg2, "ja", "jb", jp, jr)
      val pu = s"pu$i"
      val joinT =
        TRecord.sorted("a" -> TInt, "b" -> TInt, "c" -> TInt, "g" -> aggT)
      val (body, elemT) = rnd.nextInt(4) match {
        case 0 | 1 => (join, joinT)
        case 2 => // x-free projection layer above the join
          (EProj(LikeList, join, pu, ERecord(List(
            "s" -> EBinop(OPlus, EAccess(EVar(pu), "a"),
              EAccess(EVar(pu), "b")),
            "g" -> EAccess(EVar(pu), "g")))),
            TRecord.sorted("g" -> aggT, "s" -> TInt))
        case _ =>
          // layers ABOVE the join that reference the OUTER row: the
          // triple rewrite threads x through (element, outer) pairs
          if (rnd.nextBoolean())
            (EFilter(LikeList, join, pu,
              EBinop(OLess, EAccess(EVar(pu), "c"), xf("k"))), joinT)
          else
            (EProj(LikeList, join, pu, ERecord(List(
              "s" -> EBinop(OPlus, EAccess(EVar(pu), "b"), xf("v")),
              "g" -> EAccess(EVar(pu), "g")))),
              TRecord.sorted("g" -> aggT, "s" -> TInt))
      }
      val prog = EFlatmap(LikeList, ELoc("t1"), "x", body)
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark)) match {
          case TV(df) =>
            val got = collectTable(df, elemT)
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[legbind case $i]\ncompiled=$got\nreference=$want\n" +
                show(prog))
            supported += 1
          case CV(_) => fail(s"[legbind case $i] compiled to a scalar")
        }
      } catch {
        case e: UnsupportedOperationException =>
          val sup = e.getSuppressed.toVector.map(_.getMessage)
          fail(s"[legbind case $i] unsupported: ${e.getMessage}\n" +
            s"suppressed=$sup\n${show(prog)}")
      }
    }
    info(s"legbind: $supported supported-and-correct of 52")
    assert(supported == 52)
  }

  test("aggregates over correlated EJoin sources: lifted-leg flatmap form == reference") {
    // Round-10 boundary closure: an aggregate whose SOURCE is a
    // correlated EJoin — `len(join(σ[corr x] T2, T3, a, b, p, r))` and
    // friends — previously the "not a filter chain" directed error (whose
    // message unhelpfully advised rewriting with the very EJoin it could
    // not peel). The engine now lifts the x-FREE right leg to its
    // canonical array literal and rewrites the join to flatmap form
    // (Compiler.liftJoinAggSource), so the flat peel's product-explode
    // machinery applies. Shapes: correlated/uncorrelated left legs ×
    // join predicates tying the legs, referencing x, or gate-only ×
    // scalar and record projections × an optional EProj layer above ×
    // consumers LENGTH / SUM / COUNT / MIN / MAX / ESort / EFold(ESort) /
    // LENGTH(ESetOf). An EFold DIRECTLY over the correlated join (its
    // emission order) must stay a DIRECTED error.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val lT = TRecord.sorted("k" -> TInt, "w" -> TInt)
    val rT = TRecord.sorted("k" -> TInt, "u" -> TInt)
    val rnd0 = new Random(16500)
    val t1Rows = {
      val base = Vector.fill(8)(genValue(outT, rnd0))
      base ++ base.take(2)
    }
    val t2Rows = Vector.fill(9)(genValue(lT, rnd0))
    val t3Rows = Vector.fill(10)(genValue(rT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, lT)
    val d3 = tableDF(t3Rows, rT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows),
      "t3" -> VList(t3Rows))
    var supported = 0
    for (i <- 0 until 52) {
      val rnd = new Random(16600 + i)
      def xk = EAccess(EVar("x"), "k")
      val la = s"sa$i"; val lb = s"sb$i"
      def af(f: String) = EAccess(EVar(la), f)
      def bf(f: String) = EAccess(EVar(lb), f)
      val l1b = s"sl$i"
      val leg1 = rnd.nextInt(3) match {
        case 0 => ELoc("t2")
        case 1 => EFilter(LikeList, ELoc("t2"), l1b,
          EBinop(OEq, EAccess(EVar(l1b), "k"), xk))
        case _ => EFilter(LikeList, ELoc("t2"), l1b,
          EBinop(OLess, EAccess(EVar(l1b), "w"), xk))
      }
      val jp = rnd.nextInt(4) match {
        case 0 => EBinop(OEq, af("k"), bf("k"))
        case 1 => EBinop(OLess, af("w"), bf("u"))
        case 2 => // predicate referencing the outer row too
          EBinop(OEq, bf("k"), EBinop(OPlus, af("k"), xk))
        case _ => // gate-only predicate on the outer row
          EBinop(OEq, EBinop(OMod, xk, EAtom(AInt(2))), EAtom(AInt(0)))
      }
      val jr = rnd.nextInt(3) match {
        case 0 => EBinop(OPlus, af("w"), bf("u")) // scalar pair value
        case 1 => EBinop(OPlus, bf("u"), xk) // references the outer row
        case _ => af("w")
      }
      val join = EJoin(LikeList, leg1, ELoc("t3"), la, lb, jp, jr)
      val pp = s"sp$i"
      val src =
        if (rnd.nextBoolean())
          EProj(LikeList, join, pp,
            EBinop(OTimes, EVar(pp), EAtom(AInt(2))))
        else join
      val el = s"se$i"; val ac = s"sc$i"
      val kind = rnd.nextInt(8)
      val aggNode = kind match {
        case 0 => EUnop(OLength, src)
        case 1 => EACFold(AGSum, src)
        case 2 => EACFold(AGCount, src)
        case 3 => EACIFold(AGMin, src)
        case 4 => EACIFold(AGMax, src)
        case 5 => ESort(LikeList, src)
        case 6 => EFold(ESort(LikeList, src), EAtom(AInt(0)), el, ac,
          EBinop(OPlus, EVar(el), EVar(ac)))
        case _ => EUnop(OLength, ESetOf(src))
      }
      val aggT: FType = kind match {
        case 3 | 4 => TOption(TInt)
        case 5 => TList(TInt)
        case _ => TInt
      }
      val prog = EProj(LikeList, ELoc("t1"), "x", ERecord(List(
        "k" -> xk, "g" -> aggNode)))
      val elemT = TRecord.sorted("g" -> aggT, "k" -> TInt)
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark,
          storeTypes = Map("t1" -> TList(outT), "t2" -> TList(lT),
            "t3" -> TList(rT)))) match {
          case TV(df) =>
            val got = collectTable(df, elemT)
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[jaggsrc case $i kind=$kind]\ncompiled=$got\n" +
                s"reference=$want\n${show(prog)}")
            supported += 1
          case CV(_) => fail(s"[jaggsrc case $i] compiled to a scalar")
        }
      } catch {
        case e: UnsupportedOperationException =>
          val sup = e.getSuppressed.toVector.map(_.getMessage)
          fail(s"[jaggsrc case $i kind=$kind] unsupported: " +
            s"${e.getMessage}\nsuppressed=$sup\n${show(prog)}")
      }
    }
    info(s"jaggsrc: $supported supported-and-correct of 52")
    assert(supported == 52)
    // order-dependent residual: EFold DIRECTLY over the correlated join
    // consumes its emission order — must refuse with the sort-first
    // directed message, not fold a different order
    val foldDirect = EProj(LikeList, ELoc("t1"), "x", ERecord(List(
      "k" -> EAccess(EVar("x"), "k"),
      "g" -> EFold(
        EJoin(LikeList,
          EFilter(LikeList, ELoc("t2"), "fl",
            EBinop(OLess, EAccess(EVar("fl"), "w"),
              EAccess(EVar("x"), "k"))),
          ELoc("t3"), "fa", "fb",
          EBinop(OLess, EAccess(EVar("fa"), "k"),
            EAccess(EVar("fb"), "k")),
          EBinop(OPlus, EAccess(EVar("fa"), "w"),
            EAccess(EVar("fb"), "u"))),
        EAtom(AInt(0)), "fe", "fc",
        EBinop(OMinus, EVar("fe"), EVar("fc"))))))
    val err = intercept[UnsupportedOperationException] {
      Compiler.compileProgram(foldDirect, Env(Map.empty,
        Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark,
        storeTypes = Map("t1" -> TList(outT), "t2" -> TList(lT),
          "t3" -> TList(rT)))) match {
        case TV(df) => df.collect()
        case other => other
      }
    }
    val msgs = err.getMessage +:
      err.getSuppressed.toVector.map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("ESort")),
      s"expected the sort-first directed error, got: $msgs")
  }

  test("fold-built dicts, triple-nested flatmaps, aggregate-conditioned EIf, mid-chain x-projections: correct or DIRECTED") {
    // Round-10 fourth boundary push — compositions no earlier battery
    // emits (reference semantics Interpret.v:273-350: every expression
    // form may close over an enclosing binder, at any depth):
    //   0: a DICT BUILT PER OUTER ROW — EFold over a sorted correlated
    //      chain accumulating OInsert into an empty dict, consumed by
    //      EDictFold (fold → dict → dict-fold, all per outer row);
    //   1: TRIPLE-NESTED correlated flatmaps under an aggregate, with
    //      correlation at depths 1 AND 3 (the scalar-land fallback's
    //      depth stress — doubly-nested is already pinned);
    //   2: EIf whose CONDITION is itself a correlated-aggregate
    //      comparison, choosing between two correlated aggregates;
    //   3: an x-DEPENDENT PROJECTION sandwiched mid-chain — filter ABOVE
    //      a proj-with-x ABOVE a correlated filter (the layered peel must
    //      carry x through the middle layer or refuse).
    // Whatever the engine supports must match the reference; whatever it
    // does not must throw the directed correlation error. 52 seeds/shape.
    val outT = TRecord.sorted("k" -> TInt, "s" -> TString)
    val inT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val rnd0 = new Random(16900)
    val t1Rows = {
      val base = Vector.fill(8)(genValue(outT, rnd0))
      base ++ base.take(2) // duplicate outer rows
    }
    val t2Rows = Vector.fill(11)(genValue(inT, rnd0))
    val t3Rows = Vector.fill(7)(genValue(inT, rnd0))
    val d1 = tableDF(t1Rows, outT)
    val d2 = tableDF(t2Rows, inT)
    val d3 = tableDF(t3Rows, inT)
    val renv = REnv("t1" -> VList(t1Rows), "t2" -> VList(t2Rows),
      "t3" -> VList(t3Rows))
    val scalarT = TRecord.sorted("k" -> TInt, "g" -> TInt)
    val emptyDict = literal(VDict(Vector.empty), TDict(TInt, TInt))
    val perShape = 52
    val ran = Array.fill(4)(0)
    val directed = Array.fill(4)(0)
    for (shape <- 0 until 4; i <- 0 until perShape) {
      val rnd = new Random(17000 + shape * 1000 + i)
      def xk = EAccess(EVar("x"), "k")
      def corrPred(b: String): Expr = rnd.nextInt(3) match {
        case 0 => EBinop(OEq, EAccess(EVar(b), "k"), xk)
        case 1 => EBinop(OLess, EAccess(EVar(b), "v"), xk)
        case _ => EBinop(OLess, xk, EAccess(EVar(b), "k"))
      }
      val g: Expr = shape match {
        case 0 =>
          // per-row: fold sorted correlated values into a dict keyed by
          // v mod 3, then dict-fold it back to a scalar. Later inserts
          // overwrite earlier ones, so the fold ORDER is observable.
          val vs = ESort(LikeList, EProj(LikeList,
            EFilter(LikeList, ELoc("t2"), s"df$i", corrPred(s"df$i")),
            s"dp$i", EAccess(EVar(s"dp$i"), "v")))
          val dict = EFold(vs, emptyDict, s"de$i", s"da$i",
            ETernop(OInsert, EVar(s"da$i"),
              EBinop(OMod, EVar(s"de$i"), EAtom(AInt(3))), EVar(s"de$i")))
          EDictFold(dict, EAtom(AInt(i % 2)), s"dk$i", s"dv$i", s"dc$i",
            EBinop(OPlus, EVar(s"dc$i"), EBinop(OPlus,
              EBinop(OTimes, EVar(s"dk$i"), EAtom(AInt(10))),
              EVar(s"dv$i"))))
        case 1 =>
          val fm1 = EFlatmap(LikeList, ELoc("t2"), s"y$i",
            EIf(corrPred(s"y$i"),
              EBinop(OCons, EVar(s"y$i"), EBinop(OCons, EVar(s"y$i"),
                EAtom(ANil(inT)))),
              EAtom(ANil(inT))))
          val fm2 = EFlatmap(LikeList, fm1, s"z$i",
            EBinop(OCons, EVar(s"z$i"), EAtom(ANil(inT))))
          val fm3 = EFlatmap(LikeList, fm2, s"w$i",
            EIf(EBinop(OLess, EAccess(EVar(s"w$i"), "v"), xk),
              EBinop(OCons, EVar(s"w$i"), EAtom(ANil(inT))),
              EBinop(OCons, EVar(s"w$i"), EBinop(OCons, EVar(s"w$i"),
                EAtom(ANil(inT))))))
          EUnop(OLength, fm3)
        case 2 =>
          val cond = EBinop(OLess,
            EUnop(OLength, EFilter(LikeList, ELoc("t3"), s"cf$i",
              corrPred(s"cf$i"))), xk)
          EIf(cond,
            EACFold(AGSum, EProj(LikeList,
              EFilter(LikeList, ELoc("t2"), s"tf$i", corrPred(s"tf$i")),
              s"tp$i", EAccess(EVar(s"tp$i"), "v"))),
            EUnop(OLength, EFilter(LikeList, ELoc("t2"), s"ef$i",
              corrPred(s"ef$i"))))
        case _ =>
          val mid = EProj(LikeList,
            EFilter(LikeList, ELoc("t2"), s"mf$i", corrPred(s"mf$i")),
            s"mp$i", EBinop(OPlus, EAccess(EVar(s"mp$i"), "v"), xk))
          EUnop(OLength, EFilter(LikeList, mid, s"uf$i",
            EBinop(OLess, EVar(s"uf$i"), xk)))
      }
      val prog = EProj(LikeList, ELoc("t1"), "x", ERecord(List(
        "k" -> xk, "g" -> g)))
      val expected = interp(prog, renv)
      try {
        Compiler.compileProgram(prog, Env(Map.empty,
          Map("t1" -> d1, "t2" -> d2, "t3" -> d3), spark)) match {
          case TV(df) =>
            val got = collectTable(df, scalarT)
            ran(shape) += 1
            val want = sortedV(elems(expected))
            assert(cmpValues(got, want) == 0,
              s"[shape $shape case $i]\ncompiled=$got\nreference=$want\n${show(prog)}")
          case CV(_) => fail(s"[shape $shape case $i] compiled to a scalar")
        }
      } catch {
        case u: UnsupportedOperationException =>
          assert(Option(u.getMessage)
            .exists(m => m.toLowerCase.contains("correlat") ||
              m.contains("strict order mode")),
            s"[shape $shape case $i] UNDIRECTED error: ${u.getMessage}\n${show(prog)}")
          directed(shape) += 1
      }
    }
    for (s <- 0 until 4) {
      info(s"shape $s: ${ran(s)} supported-and-correct, " +
        s"${directed(s)} directed-unsupported of $perShape")
      assert(ran(s) + directed(s) == perShape)
    }
  }
}
