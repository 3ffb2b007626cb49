package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Lang._
import graft.lang.Compiler._

/** The reference's §4.2 rewrite laws as differential properties on random
  * inputs: both sides compile through our engine and must agree row-for-row
  * (the ScalaCheck analog of fiat2's `preserve_sem` proofs — e.g.
  * `efilter_efilter` Optimize.v:1421, `filter_into_join` Optimize.v:1202,
  * `join_comm` Optimize.v:1356).
  */
class LangLawsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def randTable(n: Int): DataFrame =
    Seq.fill(n)((rnd.nextInt(10).toLong, rnd.nextInt(100).toLong))
      .toDF("k", "v")

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def rowsOf(e: Expr, store: Map[String, DataFrame]): Seq[(Long, Long)] =
    rows(compile(e, Env(Map.empty, store, spark)).asInstanceOf[TV].df)

  private val pK5 = EBinop(OLess, EAccess(EVar("x"), "k"), EAtom(AInt(5)))
  private val pV50 = EBinop(OLess, EAccess(EVar("x"), "v"), EAtom(AInt(50)))

  test("filter fusion: filter(filter(t,p1),p2) == filter(t, p1 && p2)") {
    val store = Map("t" -> randTable(200))
    val lhs = EFilter(LikeBag, EFilter(LikeBag, ELoc("t"), "x", pK5), "x", pV50)
    val rhs = EFilter(LikeBag, ELoc("t"), "x", EBinop(OAnd, pK5, pV50))
    assert(rowsOf(lhs, store) === rowsOf(rhs, store))
  }

  test("filter into join: join(filter(t1,p),t2,q) == join(t1,t2, p && q)") {
    val store = Map("t1" -> randTable(80), "t2" -> randTable(80))
    val q = EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("y"), "k"))
    val proj = ERecord(List("a" -> EAccess(EVar("x"), "v"),
      "b" -> EAccess(EVar("y"), "v")))
    val lhs = EJoin(LikeBag, EFilter(LikeBag, ELoc("t1"), "x", pK5),
      ELoc("t2"), "x", "y", q, proj)
    val rhs = EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y",
      EBinop(OAnd, pK5, q), proj)
    assert(rowsOf(lhs, store) === rowsOf(rhs, store))
  }

  test("join commutativity under bag semantics (result fields swapped back)") {
    val store = Map("t1" -> randTable(60), "t2" -> randTable(60))
    val q = EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("y"), "k"))
    val lhs = EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y", q,
      ERecord(List("a" -> EAccess(EVar("x"), "v"),
        "b" -> EAccess(EVar("y"), "v"))))
    val rhs = EJoin(LikeBag, ELoc("t2"), ELoc("t1"), "x", "y", q,
      ERecord(List("a" -> EAccess(EVar("y"), "v"),
        "b" -> EAccess(EVar("x"), "v"))))
    assert(rowsOf(lhs, store) === rowsOf(rhs, store))
  }

  test("flatmap(if p then [x] else []) == filter p (to_filter_head)") {
    // RelTransf.v:311-317 — the filter-recognition rewrite, run backwards.
    val store = Map("t" -> randTable(150))
    val lhs = EFlatmap(LikeBag, ELoc("t"), "x",
      EIf(pK5,
        EBinop(OCons, ERecord(List("k" -> EAccess(EVar("x"), "k"),
          "v" -> EAccess(EVar("x"), "v"))),
          EAtom(ANil(TRecord.sorted("k" -> TInt, "v" -> TInt)))),
        EAtom(ANil(TRecord.sorted("k" -> TInt, "v" -> TInt)))))
    val rhs = EFilter(LikeBag, ELoc("t"), "x", pK5)
    assert(rowsOf(lhs, store) === rowsOf(rhs, store))
  }

  test("annotate_collection preserves semantics on random list pipelines") {
    // the CollectionTransf analog of the reference's soundness statement:
    // annotated (bag/set aggregate) and source (sequential fold) agree on
    // random inputs, including the empty-filter-result edge
    def litList(xs: Seq[Long]): Expr = xs.foldRight[Expr](EAtom(ANil(TInt))) {
      (x, a) => EBinop(OCons, EAtom(AInt(x)), a)
    }
    def evalv(e: Expr): Any = spark.range(1).select(
      asScalar(compile(e, Env(Map.empty, Map.empty, spark))).as("v"))
      .head().get(0)
    for (_ <- 1 to 15) {
      val xs = Seq.fill(rnd.nextInt(8))(rnd.nextInt(100).toLong)
      val th = rnd.nextInt(120).toLong // sometimes filters everything out
      val src = EFilter(LikeList, litList(xs), "x",
        EBinop(OLess, EAtom(AInt(th)), EVar("x")))
      val sumIdiom = EFold(src, EAtom(AInt(0)), "v", "acc",
        EBinop(OPlus, EVar("v"), EVar("acc")))
      val minIdiom = EFold(src, EAtom(ANone(TInt)), "v", "acc",
        EOptMatch(EVar("acc"), EUnop(OSome, EVar("v")), "m",
          EIf(EBinop(OLess, EVar("v"), EVar("m")),
            EUnop(OSome, EVar("v")), EVar("acc"))))
      for (e <- Seq(sumIdiom, EUnop(OLength, src), minIdiom)) {
        val annotated = CollectionTransf.annotate(e)
        assert(annotated !== e, s"annotation must fire on $e")
        assert(Option(evalv(annotated)) === Option(evalv(e)),
          s"divergence on xs=$xs th=$th for $e")
      }
    }
  }

  test("swap_flatmap_if: row-independent condition hoists out of flatmap") {
    // RelTransf.v:131-138 — structure: the EIf moves outside; semantics:
    // both sides agree whether the condition holds or not
    val store = Map("t" -> randTable(100), "u" -> randTable(40))
    for (cond <- Seq(true, false)) {
      val p = EBinop(OEq, EAtom(ABool(cond)), EAtom(ABool(true)))
      val body = EBinop(OCons,
        ERecord(List("k" -> EAccess(EVar("x"), "k"),
          "v" -> EAccess(EVar("x"), "v"))),
        EBinop(OCons, ERecord(List("k" -> EAccess(EVar("x"), "v"),
          "v" -> EAccess(EVar("x"), "k"))),
          EAtom(ANil(TRecord.sorted("k" -> TInt, "v" -> TInt)))))
      val fm = EFlatmap(LikeBag, ELoc("t"), "x",
        EIf(p, body, EAtom(ANil(TRecord.sorted("k" -> TInt, "v" -> TInt)))))
      val hoisted = Rewrites.normalize(fm)
      hoisted match {
        case EIf(p2, EFlatmap(_, ELoc("t"), "x", b2), _) =>
          assert(p2 === p && b2 === body)
        case other => fail(s"condition not hoisted: $other")
      }
      // the hoisted EIf folds its row-free condition eagerly: the false
      // branch is a typed-empty CV, so compare through toDF
      def rowsAny(e: Expr): Seq[String] =
        Compiler.toDF(compile(e, Env(Map.empty, store, spark)),
          Env(Map.empty, store, spark))
          .collect().map(_.toString).toSeq.sorted
      assert(rowsAny(hoisted) === rowsAny(fm))
    }
  }

  test("joinComm rewrite: commuted join equals source modulo binder swap") {
    val store = Map("t1" -> randTable(60), "t2" -> randTable(60))
    val q = EBinop(OEq, EAccess(EVar("x"), "k"), EAccess(EVar("y"), "k"))
    val j = EJoin(LikeBag, ELoc("t1"), ELoc("t2"), "x", "y", q,
      ERecord(List("a" -> EAccess(EVar("x"), "v"),
        "b" -> EAccess(EVar("y"), "v"))))
    val commuted = Rewrites.joinComm(j)
    assert(commuted !== j)
    assert(Rewrites.joinComm(commuted) === j, "involution")
    assert(rowsOf(commuted, store) === rowsOf(j, store))
  }

  test("set_of(concat(a,b)) == set_of(concat(set_of(a), set_of(b)))") {
    val store = Map("a" -> randTable(100), "b" -> randTable(100))
    val lhs = ESetOf(EBinop(OConcat, ELoc("a"), ELoc("b")))
    // concat takes lists or bags, so the sets are read back as bags
    val rhs = ESetOf(EBinop(OConcat, EBagOf(ESetOf(ELoc("a"))),
      EBagOf(ESetOf(ELoc("b")))))
    assert(rowsOf(lhs, store) === rowsOf(rhs, store))
  }
}
