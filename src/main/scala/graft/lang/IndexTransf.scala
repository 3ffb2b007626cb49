package graft.lang

import graft.operators.{CompoIndex, DictIndex}

/** Index introduction — the reference's signature behavior: after
  * `transf_to_idx` (fiat2/src/fiat2/IndexTransf.v:797-803) a table is stored
  * as an index structure and `eq_filter_to_lookup_head`
  * (fiat2/src/fiat2/DictIndexImpl.v:374-389) rewrites a PLAIN
  * `filter(tbl, row.attr == k)` into a dict lookup with no user action.
  *
  * Spark analog: a static pass over the command AST finds tables that are
  * point-filtered on an attribute anywhere in the command, and
  * re-represents each such table in the store as a key-hash-partitioned
  * cached DataFrame (`DictIndex.build`). The program text is untouched —
  * the filters now execute against the in-memory keyed index (the first
  * read fills the cache; every later one is a cache-partition point lookup,
  * not a source rescan). Like the reference, whose transforms carry proofs
  * rather than a cost model, this runs unconditionally as one stage of the
  * `Optimize` pipeline; only the bitmap introduction keeps a loop condition
  * (see `introduceBitmaps`).
  */
object IndexTransf {
  import Lang._
  import Rewrites.children

  /** Store-name a composed-index component under. `@` can't appear in a
    * surface identifier, so components never collide with user tables. */
  def componentName(table: String, attr: String): String = s"$table@$attr"

  /** Introduce indexes for every point-filtered store table. The command's
    * expressions should be normalized first (`Optimize` does), so
    * comprehension-written filters (`x <- t; check(p); ret x`) are
    * recognized through their structured EFilter form.
    *
    * One filtered attribute → the table itself is re-represented as its
    * keyed index (program text untouched). Several filtered attributes →
    * the reference's COMPOSED index (`compo_idx`,
    * fiat2/src/fiat2/IndexTransf.v:20-50): one `CompoIndex` built from a
    * single source scan, each component registered in the store under
    * `componentName`, and — like the reference's `transf_to_idx`
    * substitution — the command is rewritten so each point filter reads
    * the component keyed on ITS attribute. Components and bitmap cells are
    * typed in the returned env; a SCOPED table's components are typed
    * where `Interp` binds them, under their CLetMut. `env` is typed
    * (`Compiler.typed`), as `Optimize.transform` passes it.
    */
  def transform(c: Command, env: Compiler.Env): (Command, Compiler.Env) = {
    val byTable = eqFilters(c).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // Composed components are routed to by NAME. A cons-chain insert is
    // maintained: the interpreter updates EVERY component from the one
    // delta (compo_idx_wf, fiat2/src/fiat2/IndexTransf.v:32-50 — "inserts
    // maintain every component"). Any OTHER write shape (concat,
    // re-filter) or a CLetMut re-bind cannot be maintained and would
    // leave routed filters reading a stale snapshot, so those tables are
    // not composed. The single-attribute case needs no such guard: the
    // table entry itself is swapped, and CAssign overwrites that entry.
    val mutated = nonChainMutatedCells(c)
    val dicted = byTable.foldLeft((c, env)) { case ((cmd, acc), (t, attrs0)) =>
      acc.store.get(t) match {
        case Some(df) =>
          // a filter of a CLetMut cell that shadows `t` names the cell's
          // attributes, which `t` may not have
          val attrs = attrs0.filter(df.columns.contains)
          attrs match {
            case Seq() => (cmd, acc)
            case Seq(a) =>
              val idx = DictIndex.build(df, a) // size-aware partitioning
              // the handle is kept so CAssign cons-inserts maintain the
              // index incrementally (cons_to_insert_head; see Interp)
              (cmd, acc.copy(store = acc.store + (t -> idx.keyed),
                indexes = acc.indexes + (t -> idx)))
            case _ if mutated.contains(t) => (cmd, acc)
            case several =>
              val compo = CompoIndex.build(df, several)
              val names = several.map(componentName(t, _))
              (routeFilters(cmd, t, several.toSet),
                acc.copy(store = acc.store ++ names.zip(several.map(a =>
                    compo.component(a).keyed)),
                  storeTypes = acc.storeTypes ++
                    names.map(_ -> acc.storeTypes(t)),
                  compoIndexes = acc.compoIndexes + (t -> compo)))
          }
        case None => (cmd, acc)
      }
    }
    val bitmapped = introduceBitmaps(dicted._1, dicted._2)
    transformScoped(bitmapped._1, bitmapped._2)
  }

  /** SCOPED index introduction — the reference applies `transf_to_idx`
    * UNDER each CLetMut (`apply_below_n_letmuts`,
    * fiat2/src/fiat2/OptimizeAnno.v:282-288), re-representing the scoped
    * table itself. A CLetMut-bound table whose body point-filters it
    * gets an index annotation (`Env.indexHints` — the analog of the
    * reference's per-program index_choices, Ex_Orders.v:56-67); Interp
    * builds the physical keyed representation when the cell binds, and
    * the existing CAssign maintenance then covers chain inserts in the
    * body. Several filtered attributes → composed index: the body's point
    * filters are routed to per-attribute component cells here, and Interp
    * binds those cells at CLetMut time.
    *
    * Only UNIQUELY-bound names that don't shadow a store table are
    * annotated — a name bound by two different CLetMuts would make one
    * hint apply to both scopes.
    */
  def transformScoped(c: Command,
      env: Compiler.Env): (Command, Compiler.Env) = {
    val counts = Rewrites.commands(c).collect { case CLetMut(_, x, _) => x }
      .groupBy(identity).view.mapValues(_.size)
    def eligible(n: String) =
      counts.getOrElse(n, 0) == 1 && !env.store.contains(n)
    var hints = Map.empty[String, Seq[String]]
    def go(c: Command): Command = c match {
      case CSkip => CSkip
      case CSeq(a, b) => CSeq(go(a), go(b))
      case CLet(e, x, b) => CLet(e, x, go(b))
      case CLetMut(e, x, body) =>
        val body2 = go(body)
        lazy val attrs = eqFilters(body2)
          .collect { case (`x`, a) => a }.distinct
        if (!eligible(x)) CLetMut(e, x, body2)
        else attrs match {
          case Seq() => CLetMut(e, x, body2)
          case Seq(a) =>
            hints += (x -> Seq(a)); CLetMut(e, x, body2)
          case several if !nonChainMutatedCells(body2).contains(x) =>
            hints += (x -> several)
            CLetMut(e, x, routeFilters(body2, x, several.toSet))
          case _ => CLetMut(e, x, body2) // non-chain writes: can't compose
        }
      case CAssign(x, e) => CAssign(x, e)
      case CIf(e, a, b) => CIf(e, go(a), go(b))
      case CForeach(e, x, b) => CForeach(e, x, go(b))
    }
    val rewritten = go(c)
    (rewritten, env.copy(indexHints = env.indexHints ++ hints))
  }

  // --- bitmap index (BitmapIndex.v:331-335, :709-831) ---

  /** Canonical binder for keying predicates modulo alpha-renaming. `@` keeps
    * it out of the surface identifier space. */
  private val canonBinder = "@row"

  /** A bitmap cell's fields: the precomputed predicate and the row. */
  private val bitField = "@bit"
  private val rowField = "@rec"

  /** Constant-predicate loop filters become BITMAP indexes — the
    * reference's other filter structure (`filter_to_bitmap_lookup_head`,
    * fiat2/src/fiat2/BitmapIndex.v:811-831): a boolean vector aligned with
    * the rows, built by evaluating the predicate ONCE, after which every
    * use selects by the precomputed bit instead of re-evaluating.
    *
    * Spark realization: the table is re-materialized as records of the
    * predicate's bit and the whole row, and cached; routed filters test
    * the bit (`use_bitmap_head`, BitmapIndex.v:709) and a projection takes
    * the row back out, so the rewritten expression's value is unchanged.
    * Eligible predicates depend on nothing but the row (no loop variables
    * — those are the dict index's shape — and no store reads, which could
    * change between iterations); eligible tables are never written in the
    * command (the reference maintains bitmaps through inserts,
    * cons_to_bitmap_update_head BitmapIndex.v:650-665 — here a write
    * simply downgrades to no bitmap).
    *
    * Bitmaps are LOOP-ONLY, the one loop condition in the pipeline: unlike
    * the dict/compo/scoped transforms — which re-KEY existing data and run
    * unconditionally — a bitmap is a new materialized artifact whose
    * build costs exactly one full predicate evaluation, so introducing it
    * for a one-shot filter (e.g. a conjunct the pushdown just exposed on
    * a join input) is a strict loss.
    */
  private def introduceBitmaps(c: Command,
      env: Compiler.Env): (Command, Compiler.Env) = {
    val written = writtenCells(c)
    val cands = loopConstFilters(c, inLoop = false).distinct
      .filterNot { case (t, _) => written.contains(t) }
      .filter { case (t, _) => env.store.contains(t) }
    cands.zipWithIndex.foldLeft((c, env)) {
      case ((cmd, acc), ((t, pCanon), i)) =>
        val cell = s"$t@bitmap$i"
        // each row kept whole under `rowField`, so the columns its type
        // leaves out (a double, a timestamp) ride along to the strip
        val body =
          ERecord(List(bitField -> pCanon, rowField -> EVar(canonBinder)))
        val extended = Compiler.compile(
          EProj(LikeBag, ELoc(t), canonBinder, body), acc)
          .asInstanceOf[Compiler.TV].df.cache()
        (routeBitmap(cmd, t, pCanon, cell), acc.withTable(cell, extended,
          TBag(TRecord.sorted(bitField -> TBool,
            rowField -> TypeCheck.elemOf(acc.storeTypes(t))))))
    }
  }

  /** Rewrite every filter of `t` whose predicate is alpha-equal to `pCanon`
    * into bit-test-then-strip over the bitmap cell. */
  private def routeBitmap(c: Command, t: String, pCanon: Expr,
      cell: String): Command =
    Rewrites.mapExprs(c)(e => Rewrites.foldExpr(e) {
      case f @ EFilter(tag, SrcLoc(`t`), x, p) =>
        if (Rewrites.rename(p, x, canonBinder).contains(pCanon))
          EProj(tag,
            EFilter(tag, ELoc(cell), x, EAccess(EVar(x), bitField)),
            x, EAccess(EVar(x), rowField))
        else f
      case other => other
    })

  /** Store cells the command writes at all (bitmaps are not maintained —
    * any write disqualifies, unlike the chain-maintained dict/compo case). */
  private def writtenCells(c: Command): Set[String] =
    Rewrites.commands(c).collect {
      case CLetMut(_, x, _) => x
      case CAssign(x, _) => x
    }.toSet

  /** (table, canonical predicate) for loop filters whose predicate uses
    * only the row: not an attr-eq point lookup (the dict index owns those)
    * and free of loop variables and store reads. */
  private def loopConstFilters(c: Command,
      inLoop: Boolean): Seq[(String, Expr)] = c match {
    case CSkip => Nil
    case CSeq(a, b) => loopConstFilters(a, inLoop) ++ loopConstFilters(b, inLoop)
    case CLet(e, _, b) => constFilters(e, inLoop) ++ loopConstFilters(b, inLoop)
    case CLetMut(e, _, b) => constFilters(e, inLoop) ++ loopConstFilters(b, inLoop)
    case CAssign(_, e) => constFilters(e, inLoop)
    case CIf(e, a, b) =>
      constFilters(e, inLoop) ++ loopConstFilters(a, inLoop) ++
        loopConstFilters(b, inLoop)
    case CForeach(e, _, b) =>
      constFilters(e, inLoop) ++ loopConstFilters(b, inLoop = true)
  }

  private def constFilters(e: Expr, inLoop: Boolean): Seq[(String, Expr)] = {
    val here = e match {
      case EFilter(_, SrcLoc(t), x, p)
          if inLoop && eqAttr(x, p).isEmpty &&
            (Rewrites.freeVars(p) - x).isEmpty && !readsStore(p) =>
        Rewrites.rename(p, x, canonBinder).map(t -> _).toSeq
      case _ => Nil
    }
    here ++ children(e).flatMap(constFilters(_, inLoop))
  }

  private def readsStore(e: Expr): Boolean = e match {
    case ELoc(_) => true
    case _ => children(e).exists(readsStore)
  }

  /** Store cells the command re-binds, or assigns with anything OTHER
    * than the maintainable cons-chain insert shape. */
  private def nonChainMutatedCells(c: Command): Set[String] =
    Rewrites.commands(c).collect {
      case CLetMut(_, x, _) => x
      case CAssign(x, e) if Rewrites.ConsChain.rowsOnto(e, x).isEmpty => x
    }.toSet

  /** A store read in filter-source position — transparent through the
    * `EBagOf` wrappers `CollectionTransf.annotate` introduces (a table IS
    * its bag; `ESetOf` is NOT transparent, dedup changes the rows). */
  private object SrcLoc {
    def unapply(e: Expr): Option[String] = e match {
      case ELoc(t) => Some(t)
      case EBagOf(SrcLoc(t)) => Some(t)
      case _ => None
    }
  }

  /** Point filters on a composed table read the component keyed on their
    * attribute (the reference's `eq_filter_to_lookup` on a record access
    * of the composed index, DictIndexImpl.v:374-389). */
  private def routeFilters(c: Command, t: String,
      attrs: Set[String]): Command =
    Rewrites.mapExprs(c)(e => Rewrites.foldExpr(e) {
      case f @ EFilter(tag, SrcLoc(`t`), x, p) =>
        eqAttr(x, p).filter(attrs.contains) match {
          case Some(a) => EFilter(tag, ELoc(componentName(t, a)), x, p)
          case None => f
        }
      case other => other
    })

  /** (table, attr) pairs appearing as `filter(ELoc(table), x => x.attr == k)`
    * anywhere in the command. */
  private def eqFilters(c: Command): Seq[(String, String)] = {
    val found = Seq.newBuilder[(String, String)]
    Rewrites.mapExprs(c) { e => found ++= eqFilters(e); e }
    found.result()
  }

  private def eqFilters(e: Expr): Seq[(String, String)] = {
    val here = e match {
      case EFilter(_, SrcLoc(t), x, p) => eqAttr(x, p).map(t -> _).toSeq
      case _ => Nil
    }
    here ++ children(e).flatMap(eqFilters)
  }

  /** `x.attr == k` or `k == x.attr`, k not mentioning x (a correlated k
    * would change per row — not a point lookup). */
  private def eqAttr(x: String, p: Expr): Option[String] = p match {
    case EBinop(OEq, EAccess(EVar(`x`), a), k) if !mentions(k, x) => Some(a)
    case EBinop(OEq, k, EAccess(EVar(`x`), a)) if !mentions(k, x) => Some(a)
    case _ => None
  }

  private def mentions(e: Expr, x: String): Boolean =
    e == EVar(x) || children(e).exists(mentions(_, x))
}
