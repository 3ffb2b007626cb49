package graft

import scala.util.Random

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Lang._
import graft.lang.Compiler.Env

/** fiat2's `preserve_ty` (TransfSound.v:12-56): every pass of the
  * optimization pipeline keeps the program's elaborated type. An
  * expression's type is its synthesized type; a command's is its final
  * store typing. Each pass is checked in the env it returns, so the cells
  * and components a pass introduces must be typed there. The programs are
  * `DifferentialSpec`'s seeded generators and the catalog benchmark's
  * three command mixes.
  */
class PreserveTySpec extends AnyFunSuite {
  import DifferentialSpec._
  lazy val spark = TestSpark.spark

  private val exprPasses: Seq[(String, Expr => Expr)] = Seq(
    "Rewrites.normalize" -> (e => Rewrites.normalize(e)),
    "CollectionTransf.annotate" -> CollectionTransf.annotate,
    "Pruning.fuse" -> (e => Pruning.fuse(e)))

  private def checkExpr(name: String, e0: Expr,
      store: Map[String, FType]): Unit = {
    val (e, t) = TypeCheck.elaborate(e0, Map.empty, store)
    for ((pass, f) <- exprPasses) {
      val after = TypeCheck.synthesize(f(e), Map.empty, store)
      assert(after == t, s"[$name] $pass changed the type $t to $after:\n$e")
    }
  }

  test("expression passes keep the type of the differential seed programs") {
    for (i <- 0 until 140) { // the scalar/nested seeds
      val rnd = new Random(9000 + i)
      val t = if (i % 11 == 3) TWord else genType(rnd, 1 + rnd.nextInt(2))
      checkExpr(s"scalar $i", genExpr(t, Vector.empty, rnd,
        2 + rnd.nextInt(2)), Map.empty)
    }
    val tables: Map[String, FType] = Map("t1" -> TList(rowT), "t2" -> TList(rowU))
    for (i <- 0 until 40) { // the table-pipeline seeds
      val rnd = new Random(7100 + i)
      checkExpr(s"table $i", genTablePipeline(rnd, 1 + rnd.nextInt(3))._1,
        tables)
    }
  }

  /** A command's type: its final store typing in `env`. A scoped
    * binder's composed-index components, which `IndexTransf` routes the
    * body's filters to, are bound by `Interp` under the binder's CLetMut
    * as keyed copies of it: they are typed as the binder they copy. */
  private def typing(c: Command, env: Env): Map[String, FType] = {
    val copyOf = env.indexHints.toSeq.flatMap { case (x, attrs) =>
      attrs.map(IndexTransf.componentName(x, _) -> x) }.toMap
    val unrouted = Rewrites.mapExprs(c)(e => Rewrites.foldExpr(e) {
      case ELoc(n) if copyOf.contains(n) => ELoc(copyOf(n))
      case other => other
    })
    TypeCheck.elaborateCommand(unrouted, env.varTypes, env.storeTypes)._2
  }

  /** `Optimize.transform`'s passes, in its order, each returning the
    * command and the env it runs in. */
  private val commandPasses: Seq[(String, (Command, Env) => (Command, Env))] =
    Seq(
      "Rewrites.normalizeCommand" -> ((c, e) => (Rewrites.normalizeCommand(c), e)),
      "CollectionTransf.annotate" ->
        ((c, e) => (Rewrites.mapExprs(c)(CollectionTransf.annotate), e)),
      "IvmTransf.transformScoped" -> ((c, e) => (IvmTransf.transformScoped(c), e)),
      "IvmTransf.transform" -> ((c, e) => IvmTransf.transform(c, e)),
      "IndexTransf.transform" -> ((c, e) => IndexTransf.transform(c, e)),
      "Pruning.fuseCommand" -> ((c, e) => (Pruning.fuseCommand(c), e)),
      "Pruning.narrow" -> ((c, e) =>
        (Pruning.narrow(c, t => e.store.get(t).map(_.columns.toSeq)), e)))

  private def checkCommand(name: String, prog: Command, env0: Env): Unit = {
    val start = Compiler.typed(env0)
    val elaborated = TypeCheck.elaborateCommand(prog, start.varTypes,
      start.storeTypes)._1
    val want = typing(elaborated, start)
    val (_, end) = commandPasses.foldLeft((elaborated, start)) {
      case ((c, env), (pass, f)) =>
        val (c2, env2) = f(c, env)
        val got = typing(c2, env2)
        // the passes may add cells of their own; the program's keep their
        // types
        val added = env2.storeTypes.keySet -- start.storeTypes.keySet
        assert(want.forall { case (k, t) => got.get(k).contains(t) } &&
          (got.keySet -- want.keySet).subsetOf(added),
          s"[$name] $pass changed the store typing $want to $got:\n$c2")
        (c2, env2)
    }
    end.indexes.values.foreach(_.unpersist())
    end.compoIndexes.values.foreach(_.unpersist())
    (end.store.keySet -- env0.store.keySet).foreach(end.store(_).unpersist())
  }

  test("command passes keep the store typing of the differential seed programs") {
    val rows = spark.range(12).select((col("id") % 5).as("k"),
      (col("id") * 3 % 7).as("v"))
    val env = Env(Map.empty, Map("t" -> rows, "t2" -> rows.limit(9),
      "out" -> rows.limit(0)), spark)
    for (i <- 0 until 25) {
      val rnd = new Random(5200 + i)
      checkCommand(s"command $i", genCommand(rnd, 2 + rnd.nextInt(2)), env)
    }
  }

  test("command passes keep the store typing of the catalog command mixes") {
    val read =
      """set out := { k : kv,
        |    n : len(mut orders),
        |    s : fold (map (mut orders) o o[o_custkey]) 0 v acc v + acc,
        |    m : optmatch min(map (mut orders) o o[o_custkey]) 0 x x,
        |    c : len(filter (mut orders) o (o[o_custkey] == kv))
        |  } :: mut out""".stripMargin
    val insert =
      "set orders := { o_orderkey : kv * 1000 + 17, o_custkey : kv } :: mut orders"
    val out = "let mut out := nil[{c : int, k : int, m : int, n : int, s : int}] in"
    val mixes = Seq(
      "w3r1" -> s"""$out
        |for kv in 5 :: 91 :: 5 :: nil[int] :
        |  $insert
        |end;
        |for kv in 91 :: nil[int] :
        |  $read
        |end;
        |set result := mut out""".stripMargin,
      "w2r2" -> s"""$out
        |for kv in 12 :: 40 :: nil[int] :
        |  $insert;
        |  $read
        |end;
        |set result := mut out""".stripMargin,
      "w1r3" -> s"""$out
        |for kv in 7 :: nil[int] :
        |  $insert
        |end;
        |for kv in 7 :: 3 :: 12 :: nil[int] :
        |  $read
        |end;
        |set result := mut out""".stripMargin)
    val orders = graft.core.Tables.load(spark, TestSpark.sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"))
    for ((mix, text) <- mixes)
      checkCommand(mix, Parser.parseCommand(text),
        Env(Map.empty, Map("orders" -> orders), spark))
  }
}
