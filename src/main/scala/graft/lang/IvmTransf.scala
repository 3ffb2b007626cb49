package graft.lang

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.BigIntOps

/** AUTOMATIC incremental aggregate maintenance — the reference's SumAgg /
  * MinAgg materialized-view transforms (`sum_to_agg_lookup_head` +
  * `cons_to_add_head`, fiat2/src/fiat2/SumAgg.v:150-155;
  * `min_to_agg_lookup_head` + `cons_to_min_head`, fiat2/src/fiat2/MinAgg.v;
  * wired in fiat2/src/fiat2/PipelineEx.v:31-32 and composed per-table in
  * fiat2/src/fiat2/CombIdxEx.v:55-64): when a command both INSERTS into a
  * table and READS `sum(attr)`/`min(attr)` of it, re-reading is O(table)
  * per read; the transform re-represents the aggregate as a maintained
  * value updated in O(1) on every insert.
  *
  * Spark analog: the running aggregate lives in the interpreter's SCALAR
  * store (a literal, bumped on the driver — zero jobs per read and per
  * insert); the initial values of all of one table's cells come from ONE
  * distributed aggregation row over the pre-command table. The
  * program text is rewritten exactly like the reference: each
  * `sum(proj(tbl, a))` / `min(proj(tbl, a))` read becomes a cell read,
  * each `tbl := r1 :: … :: rn :: tbl` write additionally bumps the cell
  * once per consed row (the reference composes `cons_to_add_transf` once
  * per cons in the chain, CombIdxEx.v:62-64). The table itself still
  * receives the insert, so non-aggregated reads are untouched. Reads are
  * recognized through the `EBagOf`/`ESetOf` wrappers
  * `CollectionTransf.annotate` introduces — bag conversion preserves sums
  * and mins, set conversion preserves mins.
  */
object IvmTransf {
  import Lang._
  import Compiler._

  /** Run a command with automatic aggregate maintenance. With
    * `requireLoop` (the default) only aggregate reads under a `CForeach`
    * are maintained — the cost model for AUTO mode, where a one-shot read
    * is cheaper re-aggregated; `requireLoop = false` is the reference's
    * own unconditional behavior (its transforms have proofs, not cost
    * models), used by `Optimize`. */
  def runIncremental(c: Command, env: Env,
      requireLoop: Boolean = true): Env = {
    val (rewritten, primed) =
      transform(Rewrites.normalizeCommand(c), env, requireLoop)
    Interp.run(rewritten, primed)
  }

  def cellName(table: String, attr: String): String = s"$table@sum@$attr"
  def minCellName(table: String, attr: String): String = s"$table@min@$attr"
  // "()" cannot appear in a column name, so this can never collide with an
  // IndexTransf component entry `t@attr` (a table could have an attribute
  // literally named "count")
  def countCellName(table: String): String = s"$table@count()"

  private sealed trait MAgg
  private case object MSum extends MAgg
  private case object MMin extends MAgg
  private case object MCount extends MAgg

  private val ConsChain = Rewrites.ConsChain

  private def stripBags(e: Expr): Expr = e match {
    case EBagOf(l) => stripBags(l)
    case other => other
  }
  private def stripBagsSets(e: Expr): Expr = e match {
    case EBagOf(l) => stripBagsSets(l)
    case ESetOf(l) => stripBagsSets(l)
    case other => other
  }

  /** The `sum(proj(tbl, x.attr))` read shape (post-normalize), with bag
    * wrappers transparent (a bag holds the same multiset). */
  private object SumRead {
    def unapply(e: Expr): Option[(String, String)] = e match {
      case EACFold(AGSum, arg) => stripBags(arg) match {
        case EProj(_, src, x, EAccess(EVar(x2), a)) if x == x2 =>
          stripBags(src) match { case ELoc(t) => Some((t, a)); case _ => None }
        case _ => None
      }
      case _ => None
    }
  }

  /** The table-count read shape — `len(tbl)` raw, or the
    * `EACFold(AGCount, …)` form the collection annotation produces; a
    * bag-wrapped 1:1 projection underneath preserves the row count (a SET
    * projection does not — dedup — so `ESetOf` is NOT transparent here).
    * This is the pk index's O(1) `count` field
    * (fiat2/src/fiat2/BitmapIndex.v:13-18) as a maintained cell. */
  private object CountRead {
    def unapply(e: Expr): Option[String] = e match {
      case EUnop(OLength, ELoc(t)) => Some(t)
      case EACFold(AGCount, arg) => stripBags(arg) match {
        case ELoc(t) => Some(t)
        case EProj(LikeBag | LikeList, src, _, _) => stripBags(src) match {
          case ELoc(t) => Some(t)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }

  /** The `min(proj(tbl, x.attr))` read shape — bag AND set wrappers are
    * transparent (min is dedup-insensitive). */
  private object MinRead {
    def unapply(e: Expr): Option[(String, String)] = e match {
      case EACIFold(AGMin, arg) => stripBagsSets(arg) match {
        case EProj(_, src, x, EAccess(EVar(x2), a)) if x == x2 =>
          stripBagsSets(src) match {
            case ELoc(t) => Some((t, a)); case _ => None }
        case _ => None
      }
      case _ => None
    }
  }

  /** Rewrite + prime the scalar store for every (table, attr, agg) that is
    * both read and cons-written (inside a loop, unless `requireLoop` is
    * off). */
  def transform(c: Command, env: Env,
      requireLoop: Boolean = true): (Command, Env) = {
    val inLoop0 = !requireLoop
    val reads = collectReads(c, inLoop0).distinct
    val written = consWrittenTables(c, inLoop0).toSet
    // soundness: only maintain a cell when EVERY write to t is the
    // recognized cons-chain shape (with rows not reading t) and no CLetMut
    // re-binds t — any other write would leave the cell stale
    val unsafe = unsafeTables(c)
    val maintained = reads.filter { case (t, _, _) =>
      written.contains(t) && !unsafe.contains(t) && env.store.contains(t) }
    // one aggregation row per table primes ALL of its cells (one scan,
    // not one per cell): sum of empty = 0 (the column's own numeric type
    // is preserved — casting to long would truncate a double-typed sum
    // and diverge from the interpreter's un-cast aggregate); min of empty
    // = NULL (the None-on-empty ACI semantics). On the bignum tier a TInt
    // sum or count cell holds canonical bytes, like the bumps it takes.
    val inits: Map[(String, String, MAgg), Column] =
      maintained.groupBy(_._1).toSeq.flatMap { case (t, cells) =>
        val aggs = cells.map {
          case (_, a, MSum) =>
            if (env.bigInt) BigIntOps.sumCol(col(a))
            else coalesce(sum(col(a)), lit(0L))
          case (_, a, MMin) => min(col(a))
          case (_, _, MCount) =>
            if (env.bigInt) BigIntOps.fromLong(count(lit(1)))
            else count(lit(1))
        }
        val out = env.store(t).agg(aggs.head, aggs.tail: _*)
        val row = out.head()
        cells.zipWithIndex.map { case (cell, i) =>
          cell -> (if (row.isNullAt(i)) lit(null).cast(out.schema(i).dataType)
            else lit(row.get(i)))
        }
      }.toMap
    maintained.foldLeft((c, env)) { case ((cmd, acc), m @ (t, a, agg)) =>
      val cell = agg match {
        case MSum => cellName(t, a)
        case MMin => minCellName(t, a)
        case MCount => countCellName(t)
      }
      (rewrite(cmd, t, a, cell, agg),
        acc.copy(scalars = acc.scalars + (cell -> inits(m))))
    }
  }

  /** Maintenance for CLetMut-SCOPED tables — the reference examples' own
    * idiom (every Ex_* binds its tables `CLetMut (ANil ty) t …`,
    * e.g. fiat2/src/fiat2/CombIdxEx.v:86): for each empty-init table
    * binding whose body qualifies (every write the cons-chain shape, no
    * shadowing rebind), the aggregate cells are introduced as NESTED
    * SCALAR CLetMuts around the rewritten body — a pure source-to-source
    * transform, no store priming or Spark job needed, because an empty
    * table primes to sum = 0 / min = None. Scoping, shadowing, and cell
    * lifetime all fall out of the interpreter's own CLetMut semantics. */
  def transformScoped(c: Command, requireLoop: Boolean = true): Command = {
    val inLoop0 = !requireLoop
    def go(c: Command): Command = c match {
      case CLetMut(init @ EAtom(ANil(rt: TRecord)), t, body0) =>
        val body = go(body0)
        val attrTy = rt.fields.toMap
        val written = consWrittenTables(body, inLoop0).toSet
        val unsafe = unsafeTables(body)
        val maintained = collectReads(body, inLoop0).distinct.filter {
          case (t2, a, agg) => t2 == t && written.contains(t) &&
            !unsafe.contains(t) && (agg == MCount || attrTy.contains(a))
        }
        val newBody = maintained.foldLeft(body) { case (b, (_, a, agg)) =>
          val (cell, cellInit) = agg match {
            case MSum => (cellName(t, a), EAtom(AInt(0)))
            case MMin => (minCellName(t, a), EAtom(ANone(attrTy(a))))
            case MCount => (countCellName(t), EAtom(AInt(0)))
          }
          CLetMut(cellInit, cell, rewrite(b, t, a, cell, agg))
        }
        CLetMut(init, t, newBody)
      case CSkip => CSkip
      case CSeq(a, b) => CSeq(go(a), go(b))
      case CLet(e, x, b) => CLet(e, x, go(b))
      case CLetMut(e, x, b) => CLetMut(e, x, go(b))
      case ca: CAssign => ca
      case CIf(e, a, b) => CIf(e, go(a), go(b))
      case CForeach(e, x, b) => CForeach(e, x, go(b))
    }
    go(c)
  }

  /** `min(cell, v)` in AST form, NULL-aware: an empty-so-far cell (NULL)
    * takes v (cons_to_min_head's option update, MinAgg.v). */
  private def minBump(cell: Expr, v: Expr): Expr =
    EOptMatch(cell, v, "m$",
      EIf(EBinop(OLess, v, EVar("m$")), v, EVar("m$")))

  private def rewrite(c: Command, t: String, a: String, cell: String,
      agg: MAgg): Command = {
    def rewriteExpr(e: Expr): Expr = Rewrites.foldExpr(e) {
      case SumRead(`t`, `a`) if agg == MSum => ELoc(cell)
      case MinRead(`t`, `a`) if agg == MMin => ELoc(cell)
      case CountRead(`t`) if agg == MCount => ELoc(cell)
      case other => other
    }
    def bump(rows: List[Expr]): Expr = agg match {
      case MSum => rows.foldLeft[Expr](ELoc(cell)) { (acc, r) =>
        EBinop(OPlus, acc, EAccess(r, a)) }
      case MMin => rows.foldLeft[Expr](ELoc(cell)) { (acc, r) =>
        minBump(acc, EAccess(r, a)) }
      case MCount =>
        EBinop(OPlus, ELoc(cell), EAtom(AInt(rows.length.toLong)))
    }
    def go(c: Command): Command = c match {
      // the insert chain: keep it, and bump the cell once per consed row
      // (cons_to_add_head / cons_to_min_head — the O(1) incremental update)
      case CAssign(`t`, w @ ConsChain(rows, `t`)) =>
        CSeq(CAssign(t, rewriteExpr(w)), CAssign(cell, bump(rows)))
      case CSkip => CSkip
      case CSeq(c1, c2) => CSeq(go(c1), go(c2))
      case CLet(e, x, b) => CLet(rewriteExpr(e), x, go(b))
      case CLetMut(e, x, b) => CLetMut(rewriteExpr(e), x, go(b))
      case CAssign(x, e) => CAssign(x, rewriteExpr(e))
      case CIf(e, c1, c2) => CIf(rewriteExpr(e), go(c1), go(c2))
      case CForeach(e, x, b) => CForeach(rewriteExpr(e), x, go(b))
    }
    go(c)
  }

  private def collectReads(c: Command,
      inLoop: Boolean): Seq[(String, String, MAgg)] =
    c match {
      case CSkip => Nil
      case CSeq(a, b) => collectReads(a, inLoop) ++ collectReads(b, inLoop)
      case CLet(e, _, b) => readsIn(e, inLoop) ++ collectReads(b, inLoop)
      case CLetMut(e, _, b) => readsIn(e, inLoop) ++ collectReads(b, inLoop)
      case CAssign(_, e) => readsIn(e, inLoop)
      case CIf(e, a, b) => readsIn(e, inLoop) ++
        collectReads(a, inLoop) ++ collectReads(b, inLoop)
      case CForeach(e, _, b) =>
        readsIn(e, inLoop) ++ collectReads(b, inLoop = true)
    }

  private def readsIn(e: Expr, inLoop: Boolean): Seq[(String, String, MAgg)] =
    if (!inLoop) Nil
    else {
      var found = List.empty[(String, String, MAgg)]
      Rewrites.foldExpr(e) {
        case s @ SumRead(t, a) => found ::= ((t, a, MSum)); s
        case s @ MinRead(t, a) => found ::= ((t, a, MMin)); s
        case s @ CountRead(t) => found ::= ((t, "*", MCount)); s
        case other => other
      }
      found.reverse
    }

  private def mentionsLoc(e: Expr, t: String): Boolean = {
    var found = false
    Rewrites.foldExpr(e) {
      case l @ ELoc(`t`) => found = true; l
      case other => other
    }
    found
  }

  /** Tables with a write (or a shadowing CLetMut binder) that is NOT the
    * recognized cons-chain shape, or whose consed rows read the table
    * itself (the bump runs after the assign, so a self-reading row would
    * observe the post-insert table). The reference carries the same
    * precondition as a wf side-condition; here we check it syntactically
    * and leave the program untransformed otherwise. CLet / CForeach
    * binders bind expression variables, not store cells, so they cannot
    * shadow an `ELoc` read and are not collected. */
  private def unsafeTables(c: Command): Set[String] = c match {
    case CSkip => Set.empty
    case CSeq(a, b) => unsafeTables(a) ++ unsafeTables(b)
    case CLet(_, _, b) => unsafeTables(b)
    case CLetMut(_, x, b) => unsafeTables(b) + x
    case CAssign(t, ConsChain(rows, t2))
        if t == t2 && rows.forall(!mentionsLoc(_, t)) => Set.empty
    case CAssign(t, _) => Set(t)
    case CIf(_, a, b) => unsafeTables(a) ++ unsafeTables(b)
    case CForeach(_, _, b) => unsafeTables(b)
  }

  private def consWrittenTables(c: Command, inLoop: Boolean): Seq[String] =
    c match {
      case CSkip => Nil
      case CSeq(a, b) =>
        consWrittenTables(a, inLoop) ++ consWrittenTables(b, inLoop)
      case CLet(_, _, b) => consWrittenTables(b, inLoop)
      case CLetMut(_, _, b) => consWrittenTables(b, inLoop)
      case CAssign(t, ConsChain(_, t2)) if t == t2 && inLoop => Seq(t)
      case CAssign(_, _) => Nil
      case CIf(_, a, b) =>
        consWrittenTables(a, inLoop) ++ consWrittenTables(b, inLoop)
      case CForeach(_, _, b) => consWrittenTables(b, inLoop = true)
    }
}
