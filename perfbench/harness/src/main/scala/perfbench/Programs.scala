package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Tables
import graft.lang.{Compiler, Interp, Lang, Optimize, Parser, RefInterp, Rewrites, TypeCheck}

/** Seeded fiat2-style command programs over `orders(o_custkey, o_orderkey)`,
  * shaped after the reference's Ex_Orders / Ex_Sum / compo_idx examples:
  * loops that insert orders and read the running count, sum and minimum
  * and a point-filter count. Three write:read mixes, 3:1, 2:2 and 1:3,
  * and a read-back expression over the final store. */
object Programs {
  final case class Program(mix: String, command: String, readBack: String)

  val mixes: Seq[(String, Int, Int)] = Seq(("w3r1", 3, 1), ("w2r2", 2, 2), ("w1r3", 1, 3))

  private val out = "nil[{c : int, k : int, m : int, n : int, s : int}]"

  private def insert(tag: Int) =
    s"set orders := { o_orderkey : kv * 1000 + $tag, o_custkey : kv } :: mut orders"

  // binder forms (map / filter), not comprehensions: `check` desugars to
  // an untyped nil, which the command typechecker rejects
  private val read =
    """set out := { k : kv,
      |    n : len(mut orders),
      |    s : fold (map (mut orders) o o[o_custkey]) 0 v acc v + acc,
      |    m : optmatch min(map (mut orders) o o[o_custkey]) 0 x x,
      |    c : len(filter (mut orders) o (o[o_custkey] == kv))
      |  } :: mut out""".stripMargin

  // a typed cons chain: a `[...]` literal ends in an untyped nil
  private def list(ks: Seq[Int]) = ks.map(k => s"$k :: ").mkString + "nil[int]"

  def generate(seed: Long, count: Int): Seq[Program] = {
    val rnd = new Random(seed)
    // customer keys, zipf-ranked in a seed-shuffled order
    val keys = rnd.shuffle((1 to 1500).toVector)
    val keyOf = Common.zipfSampler(keys.size, 1.0, rnd)
    def ks(n: Int) = Seq.fill(n)(keys(keyOf()))
    (0 until count).map { i =>
      val (mix, w, r) = mixes(i % mixes.size)
      val tag = rnd.nextInt(1000)
      val body =
        if (w == r) s"for kv in ${list(ks(w))} :\n  ${insert(tag)};\n  $read\nend"
        else s"for kv in ${list(ks(w))} :\n  ${insert(tag)}\nend;\n" +
          s"for kv in ${list(ks(r))} :\n  $read\nend"
      Program(mix, s"let mut out := $out in\n$body;\nset result := mut out",
        s"fold (map (filter (mut orders) o (o[o_custkey] == ${keys(keyOf())})) " +
          "o o[o_orderkey]) 0 v acc v + acc")
    }
  }
}

/** Runs the command programs of `catalog` in-process against a store
  * loaded once: parse, typecheck, `Rewrites.normalizeCommand`,
  * `Optimize.transform`, `Interp.run`, materializing `result`, then the
  * read-back expression compiled by `Compiler.compile` against the final
  * store. Answers are checked after the window against `RefInterp`, the
  * repository's in-memory reference interpreter (no Spark, no Optimize,
  * no Compiler), on the same parsed command. */
final class CommandPrograms(ctx: Ctx) {
  import Lang._

  type Answer = (Seq[String], String)

  private val orders = Tables.load(ctx.spark, ctx.dataDir, "orders")
    .select(col("o_custkey"), col("o_orderkey"))
  private val env = Compiler.Env(Map.empty, Map("orders" -> orders), ctx.spark)
  private val storeTypes: Map[String, FType] =
    Map("orders" -> TList(TRecord.sorted("o_custkey" -> TInt, "o_orderkey" -> TInt)))

  /** Rows rendered with their columns in name order, sorted. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def readBack(e: Lang.Expr, store: Map[String, DataFrame]): String =
    Compiler.compile(e, Compiler.Env(Map.empty, store, ctx.spark)) match {
      case Compiler.CV(c) => Compiler.oneRow(ctx.spark).select(c).collect().head.toString
      case Compiler.TV(df) => rows(df).mkString(";")
    }

  /** One program, each call into the lang layer a span. */
  def run(p: Programs.Program): Answer = {
    val (cmd, rb) = Trace.span("lang.parse")(
      (Parser.parseCommand(p.command), Parser.parseExpr(p.readBack)))
    Trace.span("lang.typecheck")(TypeCheck.typecheck(cmd, Map.empty, storeTypes))
    val (norm, rbNorm) = Trace.span("lang.normalize")(
      (Rewrites.normalizeCommand(cmd), Rewrites.normalize(rb)))
    val (opt, primed) = Trace.span("lang.optimize")(Optimize.transform(norm, env))
    val end = Trace.span("lang.interp")(Interp.run(opt, primed))
    val result = Trace.span("lang.result")(rows(end.store("result")))
    (result, Trace.span("lang.compile")(readBack(rbNorm, end.store)))
  }

  /** The reference answer: `RefInterp` on the command and read-back as
    * parsed. */
  private def reference(p: Programs.Program, refOrders: RefInterp.V): Answer = {
    import RefInterp._
    val end = RefInterp.run(Parser.parseCommand(p.command), REnv("orders" -> refOrders))
    def render(v: V): String = v match {
      case VI(x) => x.toString
      case VRec(fs) => fs.sortBy(_._1).map(f => render(f._2)).mkString("[", ",", "]")
      case other => other.toString
    }
    val result = end.store("result") match {
      case VList(xs) => xs.map(render).sorted
      case other => Seq(render(other))
    }
    (result, s"[${render(RefInterp.interp(Parser.parseExpr(p.readBack), end))}]")
  }

  /** Compare answers, given per op index, with the reference; returns the
    * wrong ones. Each distinct program is interpreted once. */
  def check(answers: Seq[(Int, Programs.Program, Answer)]): Map[Int, String] = {
    val refOrders = RefInterp.VList(orders.collect().toVector.map(r =>
      RefInterp.VRec(Vector("o_custkey" -> RefInterp.VI(r.getLong(0)),
        "o_orderkey" -> RefInterp.VI(r.getLong(1))))))
    val want = answers.map(_._2).distinct
      .map(p => p -> scala.util.Try(reference(p, refOrders))).toMap
    answers.flatMap { case (i, p, got) =>
      want(p) match {
        case scala.util.Success(w) if w == got => None
        case scala.util.Success(w) => Some(i -> (s"program ${p.mix}: answer differs from " +
          s"the reference interpreter's: ${got._2} vs ${w._2}, ${got._1.take(3)} vs ${w._1.take(3)}"))
        case scala.util.Failure(e) => Some(i -> s"program ${p.mix}: reference threw $e")
      }
    }.toMap
  }
}
