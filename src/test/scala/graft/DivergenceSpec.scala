package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Lang._
import graft.lang.RefInterp._
import graft.lang.Compiler.{CV, Env}

/** The README "Known divergences" pinned EXECUTABLE: each test demonstrates
  * the engine differing from the reference semantics exactly as documented
  * — and nothing more. If an engine change closes one of these gaps, the
  * failing test is the signal to update the README (and usually to
  * celebrate); if a change widens a gap, `DifferentialSpec` is the side
  * that catches it.
  */
class DivergenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def evalCompiled(e: Expr): Any =
    Compiler.compile(e, Env(Map.empty, Map.empty, spark)) match {
      case CV(c) => spark.range(1).select(c.as("v")).head.get(0)
      case _ => fail("expected a scalar")
    }

  test("nested options DON'T flatten: Some(None) is distinct from None (closed r11)") {
    // Options are nullable columns, EXCEPT an option DIRECTLY over an
    // option, which boxes the inner in a single-field struct
    // (Compiler.sparkType) — so Some(None) (non-null box holding null)
    // stays distinct from None (null box), like the reference's free
    // value nesting (fiat2/src/fiat2/Value.v:5-22). Formerly the pinned
    // nested-option-flattening divergence.
    // match (Some None) with None => 1 | Some _ => 5 — the Some branch
    val e = EOptMatch(EUnop(OSome, EAtom(ANone(TInt))),
      EAtom(AInt(1)), "x", EAtom(AInt(5)))
    assert(interp(e, REnv()) == VI(5))
    assert(evalCompiled(e) == 5L)
    // the binder carries the INNER option: re-matching it takes ITS None
    // branch
    val e2 = EOptMatch(EUnop(OSome, EAtom(ANone(TInt))),
      EAtom(AInt(1)), "x",
      EOptMatch(EVar("x"), EAtom(AInt(2)), "y", EVar("y")))
    assert(interp(e2, REnv()) == VI(2))
    assert(evalCompiled(e2) == 2L)
    // deep equality distinguishes the three inhabitants
    def eq(a: Expr, b: Expr) = EBinop(OEq, a, b)
    val someNone: Expr = EUnop(OSome, EAtom(ANone(TInt)))
    val none: Expr = EAtom(ANone(TOption(TInt)))
    val someSome: Expr = EUnop(OSome, EUnop(OSome, EAtom(AInt(7))))
    assert(evalCompiled(eq(someNone, none)) == false)
    assert(evalCompiled(eq(someNone, someNone)) == true)
    assert(evalCompiled(eq(someSome, someNone)) == false)
    // canonical order: None < Some(None) < Some(Some 7) — sort position
    // inside a collection, engine == reference
    val lst = EBinop(OCons, someSome, EBinop(OCons, none,
      EBinop(OCons, someNone, EAtom(ANil(TOption(TOption(TInt)))))))
    val sorted = ESort(LikeList, lst)
    assert(interp(sorted, REnv()) == VList(Vector(VOpt(None),
      VOpt(Some(VOpt(None))), VOpt(Some(VOpt(Some(VI(7))))))))
    val got = Compiler.compile(sorted,
      Env(Map.empty, Map.empty, spark)) match {
      case CV(c) =>
        fromSpark(spark.range(1).select(c.as("v")).head.get(0),
          TList(TOption(TOption(TInt))))
      case _ => fail("expected a scalar")
    }
    assert(cmp(got, interp(sorted, REnv())) == 0)
    // option-VALUED dicts: a found None (Some(None)) is distinct from a
    // missing key (None)
    val d = ETernop(OInsert, EAtom(AEmptyDict(TInt, TOption(TInt))),
      EAtom(AInt(1)), EAtom(ANone(TInt)))
    def look(k: Long) = EBinop(OLookup, d, EAtom(AInt(k)))
    def branch(l: Expr) = EOptMatch(l, EAtom(AInt(-1)), "x",
      EOptMatch(EVar("x"), EAtom(AInt(-2)), "y", EVar("y")))
    assert(interp(branch(look(1)), REnv()) == VI(-2)) // found None
    assert(interp(branch(look(2)), REnv()) == VI(-1)) // missing key
    assert(evalCompiled(branch(look(1))) == -2L)
    assert(evalCompiled(branch(look(2))) == -1L)
  }

  test("collections of words sort UNSIGNED — engine matches the reference (closed r11)") {
    // reference `value_compare` orders words via `word.ltu`
    // (fiat2/src/fiat2/Value.v:118-119): -1 as a word is 2^64-1, the
    // LARGEST value. The engine realizes the same order with a CanonOrder
    // sign-bit key in the sort paths (formerly the pinned signed-sort
    // divergence).
    val l = EBinop(OCons, EAtom(AWord(-1L)),
      EBinop(OCons, EAtom(AWord(1L)), EAtom(ANil(TWord))))
    val sorted = ESort(LikeList, l)
    assert(interp(sorted, REnv()) == VList(Vector(VW(1L), VW(-1L))))
    assert(evalCompiled(sorted).asInstanceOf[scala.collection.Seq[Long]]
      .toSeq == Seq(1L, -1L))
    // scalar comparison was always exact in both: OWLessU is unsigned
    assert(interp(EBinop(OWLessU, EAtom(AWord(1L)), EAtom(AWord(-1L))),
      REnv()) == VB(true))
    assert(evalCompiled(EBinop(OWLessU, EAtom(AWord(1L)),
      EAtom(AWord(-1L)))) == true)
    // sub-64 Long widths store SIGN-EXTENDED, keyed by unsigned-residue
    // mask: width 32's -1 (= 2^32-1) likewise sorts LAST
    val sorted32 = Compiler.compile(sorted,
      Env(Map.empty, Map.empty, spark, wordWidth = 32)) match {
      case CV(c) => spark.range(1).select(c.as("v")).head.getSeq[Long](0)
      case _ => fail("expected a scalar")
    }
    assert(sorted32.toSeq == Seq(1L, -1L))
    assert(interp(sorted, REnv(Map.empty, Map.empty, width = 32)) ==
      VList(Vector(VW(1L), VW(-1L))))
    // and canonical SET order over words is the same unsigned order
    val asSet = ESort(LikeList, ESetOf(l))
    assert(interp(asSet, REnv()) == VList(Vector(VW(1L), VW(-1L))))
    assert(evalCompiled(asSet).asInstanceOf[scala.collection.Seq[Long]]
      .toSeq == Seq(1L, -1L))
  }

  test("default-TInt overflow raises a DIRECTED error naming bigInt; bigInt and the reference grow") {
    // reference TInt is unbounded Z (fiat2/src/fiat2/Value.v:12). The
    // default Long mapping cannot grow, so past 2^63 the engine raises a
    // DIRECTED error pointing at the fix (Env(bigInt = true)) — r11,
    // formerly a silent/ANSI-bare boundary.
    def directed(e: Expr): Unit = {
      val err = intercept[Exception] { evalCompiled(e) }
      assert(err.getMessage.contains("bigInt"),
        s"expected the directed bigInt error, got: ${err.getMessage}")
    }
    val big = EBinop(OTimes, EAtom(AInt(1L << 62)), EAtom(AInt(4)))
    assert(interp(big, REnv()) == VI(BigInt(1L << 62) * 4)) // reference: Z
    directed(big)
    directed(EBinop(OPlus, EAtom(AInt(Long.MaxValue)), EAtom(AInt(1))))
    directed(EBinop(OMinus, EAtom(AInt(Long.MinValue)), EAtom(AInt(1))))
    directed(EUnop(ONeg, EAtom(AInt(Long.MinValue))))
    // the boundary itself stays exact: MaxValue + 0, MinValue * 1, -(Max)
    assert(evalCompiled(EBinop(OPlus, EAtom(AInt(Long.MaxValue)),
      EAtom(AInt(0)))) == Long.MaxValue)
    assert(evalCompiled(EBinop(OTimes, EAtom(AInt(Long.MinValue)),
      EAtom(AInt(1)))) == Long.MinValue)
    assert(evalCompiled(EUnop(ONeg, EAtom(AInt(Long.MaxValue)))) ==
      -Long.MaxValue)
    val bignum = Compiler.compile(big,
      Env(Map.empty, Map.empty, spark, bigInt = true)) match {
      case CV(c) => spark.range(1).select(c.as("v")).head.get(0)
      case _ => fail("expected a scalar")
    }
    assert(fromSpark(bignum, TInt) == VI(BigInt(1L << 62) * 4))
  }

  test("autoWide tier: past-2^63 arithmetic matches the reference with NO flag (closed r12)") {
    // Tiered TInt execution closes divergence #1 at the program boundary:
    // Compiler.autoWide runs narrow, catches the directed overflow (from
    // the eager table fold at compile time OR the checked scalar op at
    // action time), and replays the program on the bignum tier — the
    // reference's exact Z value, with zero widening cost for programs that
    // never overflow.
    val big = EBinop(OTimes, EAtom(AInt(1L << 62)), EAtom(AInt(4)))
    val ref = interp(big, REnv())
    assert(ref == VI(BigInt(1L << 62) * 4))
    var tiers = 0
    val got = Compiler.autoWide(Env(Map.empty, Map.empty, spark)) { env =>
      tiers += 1
      Compiler.compile(big, env) match {
        case CV(c) => spark.range(1).select(c.as("v")).head.get(0)
        case _ => fail("expected a scalar")
      }
    }
    assert(tiers == 2, "expected the narrow tier to abort and the bignum tier to run")
    assert(fromSpark(got, TInt) == ref)
    // and a program that NEVER overflows stays on the fast narrow tier
    var tiers2 = 0
    val small = Compiler.autoWide(Env(Map.empty, Map.empty, spark)) { env =>
      tiers2 += 1
      Compiler.compile(EBinop(OPlus, EAtom(AInt(20)), EAtom(AInt(22))),
        env) match {
        case CV(c) => spark.range(1).select(c.as("v")).head.get(0)
        case _ => fail("expected a scalar")
      }
    }
    assert(tiers2 == 1 && small == 42L)
  }

  test("bignum tier: past-10^38 arithmetic matches the reference with NO flag (r13)") {
    // A value far past 2^63 — here (10^18)^6 = 10^108 — re-tiers onto the
    // BinaryType bignum encoding and matches the reference interpreter's
    // unbounded Z. Floor div/mod and negation ride along to pin Coq Z
    // semantics at arbitrary precision.
    val e18 = EAtom(AInt(1000000000000000000L)) // 10^18
    def mul(a: Expr, b: Expr) = EBinop(OTimes, a, b)
    val big = mul(mul(mul(e18, e18), mul(e18, e18)), mul(e18, e18)) // 10^108
    val prog = EBinop(OMinus,
      EBinop(ODiv, big, EAtom(AInt(-7))), // floor(-10^108 / 7) semantics
      EUnop(ONeg, EBinop(OMod, big, EAtom(AInt(-13)))))
    val ref = interp(prog, REnv())
    assert(ref.isInstanceOf[VI] &&
      ref.asInstanceOf[VI].v.abs > BigInt(10).pow(100))
    var tiers = 0
    val got = Compiler.autoWide(Env(Map.empty, Map.empty, spark)) { env =>
      tiers += 1
      Compiler.compile(prog, env) match {
        case CV(c) => spark.range(1).select(c.as("v")).head.get(0)
        case _ => fail("expected a scalar")
      }
    }
    // one speculation, one exact fallback: narrow → big = 2 runs
    assert(tiers == 2,
      s"expected the narrow tier to abort and the bignum tier to run, got $tiers")
    assert(fromSpark(got, TInt) == ref)
    // and OIntToString renders the bignum tier's exact decimal digits
    val s = Compiler.compile(EUnop(OIntToString, prog),
      Env(Map.empty, Map.empty, spark, bigInt = true)) match {
      case CV(c) => spark.range(1).select(c.as("v")).head.getString(0)
      case _ => fail("expected a scalar")
    }
    assert(s == ref.asInstanceOf[VI].v.toString)
  }

  test("bignum encoding: order-preserving, canonical, and round-trips (r13)") {
    // The BinaryType tier leans on Spark's native unsigned-lexicographic
    // binary comparison for <, sort, min/max, and group-by — sound ONLY if
    // the encoding is order-preserving and canonical. Pin both properties
    // over a structured + random value battery (both sides of zero, limb
    // boundaries, hundreds of digits).
    import graft.functions.BigIntMath
    val rnd = new scala.util.Random(20260815)
    val vals: Seq[BigInt] =
      (Seq(BigInt(0), BigInt(1), BigInt(-1), BigInt(255), BigInt(256),
        BigInt(-255), BigInt(-256), BigInt(Long.MaxValue), BigInt(Long.MinValue),
        BigInt(10).pow(38), -BigInt(10).pow(38), BigInt(10).pow(100),
        -BigInt(10).pow(100)) ++
        (1 to 200).map(_ => BigInt(rnd.nextInt(900) + 1, rnd))
          .map(v => if (rnd.nextBoolean()) -v else v)).distinct
    def lexCmp(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    for (v <- vals) {
      val enc = BigIntMath.encode(v.bigInteger)
      assert(BigInt(BigIntMath.decode(enc)) == v, s"round-trip $v")
      // canonical: re-encoding the decoded value is byte-identical
      assert(java.util.Arrays.equals(enc,
        BigIntMath.encode(BigIntMath.decode(enc))))
    }
    val sortedByBytes = vals.sortWith((a, b) =>
      lexCmp(BigIntMath.encode(a.bigInteger), BigIntMath.encode(b.bigInteger)) < 0)
    assert(sortedByBytes == vals.sorted, "byte order must equal numeric order")
  }

  test("undeclared Long columns read as TInt: a table sort and an untyped correlated fold compile with no declaration") {
    // An undeclared store table is typed from its schema (a Long column is
    // a TInt), so the sort and the decorrelated fold are type-directed
    // without a storeTypes declaration; there is no type-unknown order.
    val df = spark.range(4).select((col("id") * -1).as("k"))
    Compiler.compile(ESort(LikeList, ELoc("t")),
        Env(Map.empty, Map("t" -> df), spark)) match {
      case Compiler.TV(d) =>
        assert(d.collect().map(_.getLong(0)).toSeq === Seq(-3L, -2L, -1L, 0L))
      case other => fail(s"expected a table, got $other")
    }
    val t1 = spark.range(3).select(col("id").as("k"))
    val t2 = spark.range(5).select(col("id").as("k"), col("id").as("v"))
    val corr = EFilter(LikeBag, ELoc("t2"), "s",
      EBinop(OLess, EAccess(EVar("s"), "k"), EAccess(EVar("n"), "k")))
    val folded = EFold(
      ESort(LikeList, EProj(LikeBag, corr, "p", EAccess(EVar("p"), "v"))),
      EAtom(AInt(0)), "e", "a", EBinop(OPlus, EVar("e"), EVar("a")))
    val prog = EProj(LikeBag, ELoc("t1"), "n", ERecord(List(
      "k" -> EAccess(EVar("n"), "k"), "g" -> folded)))
    val out = Compiler.compileProgram(prog,
      Env(Map.empty, Map("t1" -> t1, "t2" -> t2), spark))
    assert(out.asInstanceOf[Compiler.TV].df.count() == 3)
  }

  test("an undeclared Long column used as a word is a TypeError before any Spark job") {
    // Words are never read off a schema (a word and an int share the Long
    // encoding): the same column used with a word operator is rejected by
    // the typecheck at the program's entry, and declaring it fixes that.
    val df = spark.range(4).select(col("id").as("k"))
    val prog = EProj(LikeBag, ELoc("t"), "r",
      EBinop(OWPlus, EAccess(EVar("r"), "k"), EAtom(AWord(1))))
    val group = s"divergence-word-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "undeclared word column")
    try {
      val err = intercept[TypeCheck.TypeError] {
        Compiler.compile(prog, Env(Map.empty, Map("t" -> df), spark))
      }
      assert(err.getMessage.contains("expected word"), err.getMessage)
      assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
        "the mistyped program started a Spark job")
    } finally sc.clearJobGroup()
    val declared = Compiler.compile(prog, Env(Map.empty, Map("t" -> df), spark,
      storeTypes = Map("t" -> TBag(TRecord.sorted("k" -> TWord)))))
    assert(declared.asInstanceOf[Compiler.TV].df.count() == 4)
  }

  test("correlated aggregates over tables above the localization cap raise the directed error") {
    // The reference interprets ARBITRARY correlated bodies nested-loop-
    // style (fiat2/src/fiat2/Interpret.v:273-299). The engine decorrelates
    // every shape a distributed plan can express — filter chains, scalar
    // aggregates in projections and filter predicates incl. non-equi,
    // join legs/binders/sources, folds/sorts over correlated chains —
    // and, for order-safe aggregates with NO peelable chain in any form
    // (e.g. an aggregate over a DOUBLY-NESTED correlated flatmap, as
    // here), falls back to SCALAR-LAND: every table leg localizes to
    // its canonical array literal and the aggregate compiles per outer
    // row (Compiler.liftLocsToArrays). That localization is capped at
    // 10k rows — a driver array of an unbounded table is not a plan —
    // so the same shape over a table ABOVE the cap REFUSES with an
    // error directing the user to the EJoin/comprehension form, rather
    // than silently collecting an arbitrarily large table.
    val rowT = TRecord.sorted("k" -> TInt, "v" -> TInt)
    val fmBody = EFlatmap(LikeList, ELoc("t2"), "y",
      EIf(EBinop(OEq, EAccess(EVar("y"), "k"), EAccess(EVar("x"), "k")),
        EBinop(OCons, EVar("y"), EBinop(OCons, EVar("y"),
          EAtom(ANil(rowT)))),
        EAtom(ANil(rowT))))
    val fmBody2 = EFlatmap(LikeList, fmBody, "z",
      EBinop(OCons, EVar("z"), EBinop(OCons, EVar("z"),
        EAtom(ANil(rowT)))))
    val prog = EProj(LikeList, ELoc("t1"), "x",
      ERecord(List("k" -> EAccess(EVar("x"), "k"),
        "h" -> EUnop(OLength, fmBody2))))
    // the reference evaluates it fine (arbitrary-body semantics): the
    // matching row doubles in the inner flatmap, doubles again in the
    // outer — length 4
    val rows = VList(Vector(VRec(Vector("k" -> VI(1), "v" -> VI(5)))))
    val ref = interp(prog, REnv("t1" -> rows, "t2" -> rows))
    assert(ref == VList(Vector(VRec(Vector("h" -> VI(4), "k" -> VI(1))))))
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, 5L)), schema)
    // BELOW the cap the shape is supported-and-correct (round 10): the
    // scalar-land fallback matches the reference
    val storeT = Map("t1" -> TList(rowT), "t2" -> TList(rowT))
    Compiler.compileProgram(prog,
      Env(Map.empty, Map("t1" -> df, "t2" -> df), spark,
        storeTypes = storeT)) match {
      case Compiler.TV(out) =>
        val got = out.collect().map(r =>
          (r.getAs[Long]("k"), r.getAs[Long]("h"))).toSeq
        assert(got == Seq((1L, 4L)))
      case other => fail(s"expected a table result, got $other")
    }
    // ABOVE the cap (10k+1 rows in the aggregate's table leg) the
    // directed error remains
    val big = spark.range(10001).select(col("id").as("k"),
      col("id").as("v"))
    val err = intercept[UnsupportedOperationException] {
      Compiler.compileProgram(prog,
        Env(Map.empty, Map("t1" -> df, "t2" -> big), spark,
          storeTypes = storeT)) match {
        case Compiler.TV(out) => out.collect()
        case other => other
      }
    }
    assert(err.getMessage.contains("EJoin"),
      s"expected the directed rewrite-as-EJoin error, got: ${err.getMessage}")
  }

  test("nested bags sort by (value,count) run-length pairs — engine matches the reference (closed r11)") {
    // {a,a,b} vs {a,c} with a<b<c: the reference's run-length pairs order
    // them GT ((a,2) > (a,1), fiat2/src/fiat2/Value.v:110-113) where flat
    // element arrays would say LT. RefInterp.cmp now implements the pair
    // order, and the engine realizes it with a CanonOrder run-length sort
    // key — STORAGE stays the sorted element array (equality agrees either
    // way), only comparisons are keyed. Formerly a pinned divergence.
    val bagA = Vector[V](VI(1), VI(1), VI(2)) // {a,a,b}
    val bagB = Vector[V](VI(1), VI(3)) // {a,c}
    assert(cmp(VBag(bagA), VBag(bagB)) > 0) // (value,count) pair order
    // end-to-end: a LIST of the two bags, sorted — bagB must come FIRST
    def intList(xs: Long*): Expr =
      xs.foldRight[Expr](EAtom(ANil(TInt))) { (v, acc) =>
        EBinop(OCons, EAtom(AInt(v)), acc) }
    val pair = EBinop(OCons, EBagOf(intList(1, 1, 2)),
      EBinop(OCons, EBagOf(intList(1, 3)), EAtom(ANil(TBag(TInt)))))
    val sorted = ESort(LikeList, pair)
    assert(interp(sorted, REnv()) == VList(Vector(
      VBag(Vector(VI(1), VI(3))), VBag(Vector(VI(1), VI(1), VI(2))))))
    val got = evalCompiled(sorted).asInstanceOf[scala.collection.Seq[_]]
      .map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq).toSeq
    assert(got == Seq(Seq(1L, 3L), Seq(1L, 1L, 2L)))
  }

  test("decorrelation's per-outer-row arrays sort words UNSIGNED (closed r11)") {
    // A correlated EFold/ESort over a WORD-column table collects each
    // outer row's matches into a canonically-sorted array inside the
    // unnesting machinery (Compiler's array path). The chain's value type
    // now synthesizes from PeeledSrc's exprs (core element type through
    // the flatmap/projection layers), so the collected array sorts with
    // the CanonOrder key — an order-sensitive fold over sign-spanning
    // words matches the reference's unsigned order. Formerly the last
    // raw-order word path.
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rowO = TRecord.sorted("k" -> TInt)
    val rowW = TRecord.sorted("k" -> TInt, "w" -> TWord)
    val oRows = Vector(VRec(Vector("k" -> VI(1))))
    // one group, words spanning the sign boundary: signed order [-5, 3],
    // unsigned order [3, -5] — the right-fold 31*acc+w differs
    val iRows = Vector(
      VRec(Vector("k" -> VI(1), "w" -> VW(-5L))),
      VRec(Vector("k" -> VI(1), "w" -> VW(3L))))
    val prog = EProj(LikeList, ELoc("t1"), "x",
      ERecord(List(
        "k" -> EAccess(EVar("x"), "k"),
        "f" -> EFold(
          ESort(LikeList, EProj(LikeList,
            EFilter(LikeList, ELoc("t2"), "y",
              EBinop(OEq, EAccess(EVar("y"), "k"), EAccess(EVar("x"), "k"))),
            "p", EAccess(EVar("p"), "w"))),
          EAtom(AWord(1L)), "e", "a",
          EBinop(OWPlus, EBinop(OWTimes, EVar("a"), EAtom(AWord(31L))),
            EVar("e"))))))
    val renv = REnv("t1" -> VList(oRows), "t2" -> VList(iRows))
    val ref = interp(prog, renv) match {
      case VList(Vector(VRec(fs))) => fs.collectFirst {
        case ("f", VW(v)) => v }.get
      case o => fail(s"unexpected reference shape $o")
    }
    def df(schema: StructType, rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val d1 = df(StructType(Seq(StructField("k", LongType))),
      Seq(org.apache.spark.sql.Row(1L)))
    val d2 = df(StructType(Seq(StructField("k", LongType),
      StructField("w", LongType))),
      Seq(org.apache.spark.sql.Row(1L, -5L), org.apache.spark.sql.Row(1L, 3L)))
    val got = Compiler.compileProgram(prog, Compiler.Env(Map.empty,
      Map("t1" -> d1, "t2" -> d2), spark,
      storeTypes = Map("t1" -> TList(rowO), "t2" -> TList(rowW)))) match {
      case Compiler.TV(out) => out.collect()(0).getAs[Long]("f")
      case o => fail(s"expected a table, got $o")
    }
    // unsigned order is [3, -5] (a negative word is a HIGH residue); the
    // RIGHT fold consumes -5 first: f = 31*(31*1 + -5) + 3 = 809
    assert(ref == 31L * (31L * 1L + -5L) + 3L)
    assert(got == ref,
      s"engine produced $got, reference $ref — the decorrelation word " +
        "order diverged again")
  }

  test("word family boundaries: 64 wraps in Long, 65+ wraps in bytes (no ceiling)") {
    // The reference's section parameter ranges over any width: Z
    // (fiat2/src/fiat2/Language.v:4). The engine has two representations:
    // sign-extended Longs through width 64 and fixed-length byte residues
    // from 65 up, with no ceiling; the handoff at the 64/65 boundary must
    // be seamless.
    import graft.functions.{WordMathBytes, WordOps}
    // last Long width: (2^64 - 1) + 1 ≡ 0 (mod 2^64)
    val w64 = WordOps.forWidth(64)
    assert(w64.isInstanceOf[WordOps.Narrow], s"width 64 runs $w64")
    val wrapped = spark.range(1)
      .select(w64.wadd(w64.literal(-1L), w64.literal(1L)).as("v"))
      .head.getLong(0)
    assert(wrapped == 0L)
    assert((65 to 300).forall(WordOps.forWidth(_).isInstanceOf[WordOps.Bytes]),
      "a width above 64 left the byte family")
    // first Bytes width and deeper ones: (2^w - 1) + 1 ≡ 0 (mod 2^w), and
    // the residue round-trips the fixed-length encoding (9 bytes at 65)
    for (w <- Seq(65, 126, 256, 1000)) {
      val fam = WordOps.forWidth(w).asInstanceOf[WordOps.Bytes]
      val max = org.apache.spark.sql.functions.lit(WordMathBytes.toBytes(
        java.math.BigInteger.ONE.shiftLeft(w).subtract(java.math.BigInteger.ONE), w))
      val z = spark.range(1).select(fam.wadd(max, fam.literal(1L)).as("v"))
        .head.getAs[Array[Byte]](0)
      assert(WordMathBytes.fromBytes(z) == java.math.BigInteger.ZERO,
        s"width $w wrap")
      assert(z.length == (w + 7) / 8, s"width $w fixed length")
    }
  }
}
