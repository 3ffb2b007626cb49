package graft.lang

/** The reference's source-to-source rewrite engine (SURVEY.md §4.1-4.2):
  * head-pattern functions applied bottom-up everywhere via `fold_expr`
  * (fiat2/src/fiat2/TransfUtils.v:58-83), repeated to a fixpoint
  * (`repeat_transf`, fiat2/src/fiat2/TransfSound.v:318).
  *
  * We need only the RECOGNITION rewrites — the ones that turn
  * monad-comprehension programs (nested flatmap / if / cons, which is what
  * fiat2's `<{ x <- t; check(p); ret r }>` notation desugars to) into
  * structured EFilter/EProj/EJoin so the compiler emits real relational
  * operators and Catalyst can optimize them. The reference's
  * pushdown/fusion/commutativity rewrites are Catalyst's job
  * (PushDownPredicates, CombineFilters, ReorderJoin — see SURVEY.md §4.2).
  */
object Rewrites {
  import Lang._

  /** Bottom-up structural fold: rebuild every node with `head` applied after
    * its children are rewritten (fiat2 `fold_expr`). */
  def foldExpr(e: Expr)(head: Expr => Expr): Expr = {
    def go(e: Expr): Expr = head(e match {
      case EUnop(op, a) => EUnop(op, go(a))
      case EBinop(op, a, b) => EBinop(op, go(a), go(b))
      case ETernop(op, a, b, c) => ETernop(op, go(a), go(b), go(c))
      case EIf(c, t, f) => EIf(go(c), go(t), go(f))
      case ELet(a, x, b) => ELet(go(a), x, go(b))
      case ERecord(fs) => ERecord(fs.map { case (n, fe) => n -> go(fe) })
      case EAccess(r, f) => EAccess(go(r), f)
      case EOptMatch(a, n, x, s) => EOptMatch(go(a), go(n), x, go(s))
      case EDictFold(d, z, k, v, acc, s) =>
        EDictFold(go(d), go(z), k, v, acc, go(s))
      case ESort(t, l) => ESort(t, go(l))
      case EFilter(t, l, x, p) => EFilter(t, go(l), x, go(p))
      case EJoin(t, l1, l2, x, y, p, r) =>
        EJoin(t, go(l1), go(l2), x, y, go(p), go(r))
      case EProj(t, l, x, r) => EProj(t, go(l), x, go(r))
      case EFlatmap(t, a, x, b) => EFlatmap(t, go(a), x, go(b))
      case EFlatmap2(a, b, x1, x2, c) => EFlatmap2(go(a), go(b), x1, x2, go(c))
      case EFold(l, z, x, acc, s) => EFold(go(l), go(z), x, acc, go(s))
      case EACFold(ag, a) => EACFold(ag, go(a))
      case EACIFold(ag, a) => EACIFold(ag, go(a))
      case EBagOf(l) => EBagOf(go(l))
      case ESetOf(l) => ESetOf(go(l))
      case leaf => leaf
    })
    go(e)
  }

  /** The direct sub-expressions of `e`, in field order (ERecord's field
    * values included) — the one child traversal every generic walk uses. */
  def children(e: Expr): Seq[Expr] = e match {
    case EVar(_) | ELoc(_) | EAtom(_) => Nil
    case EUnop(_, a) => Seq(a)
    case EBinop(_, a, b) => Seq(a, b)
    case ETernop(_, a, b, c) => Seq(a, b, c)
    case EIf(c, t, f) => Seq(c, t, f)
    case ELet(a, _, b) => Seq(a, b)
    case ERecord(fs) => fs.map(_._2)
    case EAccess(r, _) => Seq(r)
    case EOptMatch(a, n, _, s) => Seq(a, n, s)
    case EDictFold(d, z, _, _, _, s) => Seq(d, z, s)
    case ESort(_, l) => Seq(l)
    case EFilter(_, l, _, p) => Seq(l, p)
    case EJoin(_, l1, l2, _, _, p, r) => Seq(l1, l2, p, r)
    case EProj(_, l, _, r) => Seq(l, r)
    case EFlatmap(_, a, _, b) => Seq(a, b)
    case EFlatmap2(a, b, _, _, c) => Seq(a, b, c)
    case EFold(l, z, _, _, s) => Seq(l, z, s)
    case EACFold(_, a) => Seq(a)
    case EACIFold(_, a) => Seq(a)
    case EBagOf(l) => Seq(l)
    case ESetOf(l) => Seq(l)
  }

  private object Singleton {
    /** `[r]` = cons(r, nil) (how `ret r` desugars, Notations.v:144-149). */
    def unapply(e: Expr): Option[Expr] = e match {
      case EBinop(OCons, r, EAtom(ANil(_) | AEmptyBag(_) | AEmptySet(_))) => Some(r)
      case _ => None
    }
  }
  private object Nil0 {
    /** An empty list, bag or set, with its element annotation. */
    def unapply(e: Expr): Option[FType] = e match {
      case EAtom(ANil(t)) => Some(t)
      case EAtom(AEmptyBag(t)) => Some(t)
      case EAtom(AEmptySet(t)) => Some(t)
      case _ => None
    }
  }

  /** `flatmap t (λx. if p then [x] else [])` → `filter t p`
    * (to_filter_head, fiat2/src/fiat2/RelTransf.v:311-317). */
  val toFilterHead: Expr => Expr = {
    case EFlatmap(tag, l, x, EIf(p, Singleton(EVar(x2)), Nil0(_))) if x2 == x =>
      EFilter(tag, l, x, p)
    case e => e
  }

  /** `flatmap t (λx. [r])` → `proj t r`
    * (to_proj_head, fiat2/src/fiat2/RelTransf.v:658-664). */
  val toProjHead: Expr => Expr = {
    case EFlatmap(tag, l, x, Singleton(r)) => EProj(tag, l, x, r)
    case e => e
  }

  /** `flatmap t (λx. if p then [r] else [])` with r ≠ x → filter then
    * project — the reference reaches this through `if_nil_into_flatmap`
    * exposing the filter and `to_proj` on the remainder
    * (fiat2/src/fiat2/RelTransf.v:203-208, :658-664). Ordered after
    * toJoinHead so two-table comprehensions become joins first. */
  val toFilterProjHead: Expr => Expr = {
    case EFlatmap(tag, l, x, EIf(p, Singleton(r), Nil0(_))) if r != EVar(x) =>
      EProj(tag, EFilter(tag, l, x, p), x, r)
    case e => e
  }

  /** `flatmap t1 (λx. flatmap t2 (λy. if p then [r] else []))` →
    * `join t1 t2 p r` — join recognition
    * (to_join_head, fiat2/src/fiat2/RelTransf.v:357-366). Sound only when
    * the inner source doesn't reference x (it's a real product, not a
    * dependent lateral). */
  val toJoinHead: Expr => Expr = {
    case EFlatmap(tag, l1, x, EFlatmap(_, l2, y, EIf(p, Singleton(r), Nil0(_))))
        if !freeVars(l2).contains(x) =>
      EJoin(tag, l1, l2, x, y, p, r)
    case e => e
  }

  /** The nested-comprehension join shape of the reference's survey example
    * (fiat2/src/fiat2/Ex_Survey.v:31-38): the inner bind's SOURCE is itself
    * a comprehension over a second table whose predicate references the
    * outer row —
    * {{{ r1 <- t1; r3 <- (r2 <- t2; check(p(r1,r2)); ret r2); ret r(r1,r3) }}}
    * After toFilter/toProj structure the inner part, the outer node is
    * `flatmap t1 (λx. proj(filter(t2, y, p), z, r))` — recognized here as
    * `join t1 t2 p r[z:=y]` (sound when t2 doesn't reference x and the
    * rename is capture-free; the filter binder and the proj binder range
    * over the same t2 element). The filter-only body is the semi-shape:
    * `flatmap t1 (λx. filter(t2, y, p))` → `join t1 t2 p y`.
    */
  val dependentBodyToJoin: Expr => Expr = {
    case e @ EFlatmap(tag, l1, x, EProj(_, EFilter(_, l2, y, p), z, r))
        if !freeVars(l2).contains(x) =>
      rename(r, z, y).map(r2 => EJoin(tag, l1, l2, x, y, p, r2)).getOrElse(e)
    case EFlatmap(tag, l1, x, EFilter(_, l2, y, p))
        if !freeVars(l2).contains(x) =>
      EJoin(tag, l1, l2, x, y, p, EVar(y))
    case e => e
  }

  /** Substitute free occurrences of variable `from` with `EVar(to)`.
    * Returns None when `to` would be captured by a binder in scope. */
  def rename(e: Expr, from: String, to: String): Option[Expr] = {
    if (from == to) return Some(e)
    def scoped(binders: Seq[String], body: Expr): Option[Expr] =
      if (binders.contains(from)) Some(body) // shadowed: untouched
      else if (binders.contains(to)) None // capture
      else go(body)
    def go(e: Expr): Option[Expr] = e match {
      case EVar(`from`) => Some(EVar(to))
      case EVar(_) | ELoc(_) | EAtom(_) => Some(e)
      case EUnop(op, a) => go(a).map(EUnop(op, _))
      case EBinop(op, a, b) =>
        for (a2 <- go(a); b2 <- go(b)) yield EBinop(op, a2, b2)
      case ETernop(op, a, b, c) =>
        for (a2 <- go(a); b2 <- go(b); c2 <- go(c)) yield ETernop(op, a2, b2, c2)
      case EIf(c, t, f) =>
        for (c2 <- go(c); t2 <- go(t); f2 <- go(f)) yield EIf(c2, t2, f2)
      case ELet(a, x, b) =>
        for (a2 <- go(a); b2 <- scoped(Seq(x), b)) yield ELet(a2, x, b2)
      case ERecord(fs) =>
        val subbed = fs.map { case (n, fe) => go(fe).map(n -> _) }
        if (subbed.forall(_.isDefined)) Some(ERecord(subbed.map(_.get)))
        else None
      case EAccess(r, f) => go(r).map(EAccess(_, f))
      case EOptMatch(a, n, x, s) =>
        for (a2 <- go(a); n2 <- go(n); s2 <- scoped(Seq(x), s))
          yield EOptMatch(a2, n2, x, s2)
      case EDictFold(d, z, k, v, acc, s) =>
        for (d2 <- go(d); z2 <- go(z); s2 <- scoped(Seq(k, v, acc), s))
          yield EDictFold(d2, z2, k, v, acc, s2)
      case ESort(t, l) => go(l).map(ESort(t, _))
      case EFilter(t, l, x, p) =>
        for (l2 <- go(l); p2 <- scoped(Seq(x), p)) yield EFilter(t, l2, x, p2)
      case EJoin(t, l1, l2, x, y, p, r) =>
        for (a <- go(l1); b <- go(l2); p2 <- scoped(Seq(x, y), p);
          r2 <- scoped(Seq(x, y), r)) yield EJoin(t, a, b, x, y, p2, r2)
      case EProj(t, l, x, r) =>
        for (l2 <- go(l); r2 <- scoped(Seq(x), r)) yield EProj(t, l2, x, r2)
      case EFlatmap(t, a, x, b) =>
        for (a2 <- go(a); b2 <- scoped(Seq(x), b)) yield EFlatmap(t, a2, x, b2)
      case EFlatmap2(a, b, x1, x2, c) =>
        for (a2 <- go(a); b2 <- go(b); c2 <- scoped(Seq(x1, x2), c))
          yield EFlatmap2(a2, b2, x1, x2, c2)
      case EFold(l, z, x, acc, s) =>
        for (l2 <- go(l); z2 <- go(z); s2 <- scoped(Seq(x, acc), s))
          yield EFold(l2, z2, x, acc, s2)
      case EACFold(ag, a) => go(a).map(EACFold(ag, _))
      case EACIFold(ag, a) => go(a).map(EACIFold(ag, _))
      case EBagOf(l) => go(l).map(EBagOf(_))
      case ESetOf(l) => go(l).map(ESetOf(_))
    }
    go(e)
  }

  /** `join t1 t2 (p1 && p) r` with a one-sided conjunct → the conjunct
    * becomes a filter on its own source (filter_pushdown_head,
    * fiat2/src/fiat2/RelTransf.v:441-448; the right side and the
    * second-conjunct cases are the reference's `swap_conjuncts_head`
    * RelTransf.v:503-508 composed with the pushdown — here matched
    * directly, so each firing strictly shrinks the join predicate and
    * no pure-swap loop exists). Catalyst performs the same move on the
    * physical plan regardless; doing it at the Lang level additionally
    * EXPOSES `EFilter(ELoc …)` shapes to the index transforms, which
    * pattern-match structured filters. */
  val filterPushdownHead: Expr => Expr = {
    // first conjunct, left-only
    case EJoin(tag, l1, l2, x, y, EBinop(OAnd, p1, p), r)
        if !freeVars(p1).contains(y) =>
      EJoin(tag, EFilter(tag, l1, x, p1), l2, x, y, p, r)
    // first conjunct, right-only
    case EJoin(tag, l1, l2, x, y, EBinop(OAnd, p1, p), r)
        if !freeVars(p1).contains(x) =>
      EJoin(tag, l1, EFilter(tag, l2, y, p1), x, y, p, r)
    // second conjunct, one-sided (swap_conjuncts + pushdown)
    case EJoin(tag, l1, l2, x, y, EBinop(OAnd, p, p1), r)
        if !freeVars(p1).contains(y) =>
      EJoin(tag, EFilter(tag, l1, x, p1), l2, x, y, p, r)
    case EJoin(tag, l1, l2, x, y, EBinop(OAnd, p, p1), r)
        if !freeVars(p1).contains(x) =>
      EJoin(tag, l1, EFilter(tag, l2, y, p1), x, y, p, r)
    case e => e
  }

  /** `if p1 (if p2 e []) []` → `if (p1 && p2) e []`
    * (merge_if, fiat2/src/fiat2/RelTransf.v:50-55). */
  val mergeIf: Expr => Expr = {
    case EIf(p1, EIf(p2, e, n1 @ Nil0(_)), Nil0(_)) =>
      EIf(EBinop(OAnd, p1, p2), e, n1)
    case e => e
  }

  /** `flatmap t (λx. if p body [])` with `p` independent of the row →
    * `if p (flatmap t body) []` (swap_flatmap_if_head,
    * fiat2/src/fiat2/RelTransf.v:131-138) — decorrelation-lite: the
    * hoisted condition is decided ONCE (the compiler's eager EIf probe
    * folds a row-free condition on the driver) instead of per row.
    * Ordered after the to_filter/to_join heads so the singleton
    * comprehension shapes become structured filters first; this head
    * catches the remaining non-singleton bodies. */
  val swapFlatmapIf: Expr => Expr = {
    case EFlatmap(tag, l, x, EIf(p, body, Nil0(t)))
        if !freeVars(p).contains(x) =>
      // the hoisted else-branch is the empty of the FLATMAP's kind, so the
      // conditional keeps the flatmap's type
      EIf(p, EFlatmap(tag, l, x, body), EAtom(tag match {
        case LikeList => ANil(t)
        case LikeBag => AEmptyBag(t)
        case LikeSet => AEmptySet(t)
      }))
    case e => e
  }

  /** `join t1 t2 x y p r` → `join t2 t1 y x p r` — join commutativity
    * under bag semantics (swap_join_likebag_head,
    * fiat2/src/fiat2/RelTransf.v:698-704; Optimize.v:1356 join_comm).
    * NOT in the `normalize` pipeline: a commute has no normal form to
    * reach (applying it twice is the identity), and physical join-order
    * choice is Catalyst's job (ReorderJoin/CBO). Exposed for callers —
    * and the law test — as the reference's proved equivalence. */
  val joinComm: Expr => Expr = {
    case EJoin(LikeBag, l1, l2, x, y, p, r) => EJoin(LikeBag, l2, l1, y, x, p, r)
    case e => e
  }

  def freeVars(e: Expr): Set[String] = e match {
    case EVar(x) => Set(x)
    case ELoc(_) | EAtom(_) => Set.empty
    case EUnop(_, a) => freeVars(a)
    case EBinop(_, a, b) => freeVars(a) ++ freeVars(b)
    case ETernop(_, a, b, c) => freeVars(a) ++ freeVars(b) ++ freeVars(c)
    case EIf(c, t, f) => freeVars(c) ++ freeVars(t) ++ freeVars(f)
    case ELet(a, x, b) => freeVars(a) ++ (freeVars(b) - x)
    case ERecord(fs) => fs.flatMap(f => freeVars(f._2)).toSet
    case EAccess(r, _) => freeVars(r)
    case EOptMatch(a, n, x, s) => freeVars(a) ++ freeVars(n) ++ (freeVars(s) - x)
    case EDictFold(d, z, k, v, acc, s) =>
      freeVars(d) ++ freeVars(z) ++ (freeVars(s) - k - v - acc)
    case ESort(_, l) => freeVars(l)
    case EFilter(_, l, x, p) => freeVars(l) ++ (freeVars(p) - x)
    case EJoin(_, l1, l2, x, y, p, r) =>
      freeVars(l1) ++ freeVars(l2) ++ (freeVars(p) - x - y) ++ (freeVars(r) - x - y)
    case EProj(_, l, x, r) => freeVars(l) ++ (freeVars(r) - x)
    case EFlatmap(_, a, x, b) => freeVars(a) ++ (freeVars(b) - x)
    case EFlatmap2(a, b, x1, x2, c) =>
      freeVars(a) ++ freeVars(b) ++ (freeVars(c) - x1 - x2)
    case EFold(l, z, x, acc, s) =>
      freeVars(l) ++ freeVars(z) ++ (freeVars(s) - x - acc)
    case EACFold(_, a) => freeVars(a)
    case EACIFold(_, a) => freeVars(a)
    case EBagOf(l) => freeVars(l)
    case ESetOf(l) => freeVars(l)
  }

  /** `r1 :: r2 :: … :: mut t` — the insert-chain shape shared by the
    * aggregate/index maintenance transforms (static analysis) and the
    * interpreter (runtime recognition). ONE matcher, so a later extension
    * of the recognized shape cannot drift between the pass that promises
    * maintenance and the interpreter that performs it. */
  object ConsChain {
    def unapply(e: Expr): Option[(List[Expr], String)] = e match {
      case EBinop(OCons, r, ELoc(t)) => Some((List(r), t))
      case EBinop(OCons, r, ConsChain(rs, t)) => Some((r :: rs, t))
      case _ => None
    }
    /** The chain's rows when it inserts into exactly table `t`. */
    def rowsOnto(e: Expr, t: String): Option[List[Expr]] = unapply(e) match {
      case Some((rows, t2)) if t2 == t => Some(rows)
      case _ => None
    }
  }

  /** The store names `e` reads (`mut t`). */
  def locs(e: Expr): Set[String] = e match {
    case ELoc(x) => Set(x)
    case _ => children(e).flatMap(locs).toSet
  }

  /** The store names `c` reads or assigns. */
  def locs(c: Command): Set[String] = c match {
    case CSkip => Set.empty
    case CSeq(a, b) => locs(a) ++ locs(b)
    case CLet(e, _, b) => locs(e) ++ locs(b)
    case CLetMut(e, _, b) => locs(e) ++ locs(b)
    case CAssign(x, e) => locs(e) + x
    case CIf(e, a, b) => locs(e) ++ locs(a) ++ locs(b)
    case CForeach(e, _, b) => locs(e) ++ locs(b)
  }

  /** Every command node of `c`, `c` first, in program order. */
  def commands(c: Command): Seq[Command] = c +: (c match {
    case CSeq(a, b) => commands(a) ++ commands(b)
    case CLet(_, _, b) => commands(b)
    case CLetMut(_, _, b) => commands(b)
    case CIf(_, a, b) => commands(a) ++ commands(b)
    case CForeach(_, _, b) => commands(b)
    case CSkip | CAssign(_, _) => Nil
  })

  /** Rebuild a command with `f` applied to every embedded expression. */
  def mapExprs(c: Command)(f: Expr => Expr): Command = c match {
    case CSkip => CSkip
    case CSeq(a, b) => CSeq(mapExprs(a)(f), mapExprs(b)(f))
    case CLet(e, x, b) => CLet(f(e), x, mapExprs(b)(f))
    case CLetMut(e, x, b) => CLetMut(f(e), x, mapExprs(b)(f))
    case CAssign(x, e) => CAssign(x, f(e))
    case CIf(e, a, b) => CIf(f(e), mapExprs(a)(f), mapExprs(b)(f))
    case CForeach(e, x, b) => CForeach(f(e), x, mapExprs(b)(f))
  }

  /** Normalize every expression inside a command (the command-level
    * `apply_optimize_anno` — used before static analyses that pattern-match
    * the structured EFilter/EJoin forms). */
  def normalizeCommand(c: Command): Command = mapExprs(c)(normalize(_))

  private val heads: Seq[Expr => Expr] =
    Seq(mergeIf, toJoinHead, toFilterHead, toProjHead, dependentBodyToJoin,
      toFilterProjHead, swapFlatmapIf, filterPushdownHead)

  /** Apply all recognition rewrites bottom-up to a fixpoint (bounded like
    * the reference's `repeat_transf 10000` — ours converges in a few). */
  def normalize(e: Expr, maxIters: Int = 100): Expr = {
    var cur = e
    var i = 0
    while (i < maxIters) {
      val next = heads.foldLeft(cur)((acc, h) => foldExpr(acc)(h))
      if (next == cur) return cur
      cur = next
      i += 1
    }
    cur
  }
}
