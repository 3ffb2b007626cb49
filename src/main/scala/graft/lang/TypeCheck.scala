package graft.lang

/** The language's bidirectional typechecker, mirroring the reference's
  * executable one: synthesis (`synthesize_expr`,
  * fiat2/src/fiat2/TypeSystem.v:1076), checking with hole elaboration
  * (`analyze_expr`, :718) and command checking (`typecheck`, :1393).
  * Errors are thrown as `TypeError` with the offending expression's shape.
  *
  * One walk serves all three. In synthesis mode an unannotated empty
  * (`ANil()`, `ANone()`, …) is an error; in elaboration mode its type is
  * filled from wherever the structure gives one: an expected type, a
  * sibling operand (`h :: []`, `e == []`, the other branch of an `if`), or
  * a comprehension's `ret` head. Every program is elaborated once, at its
  * entry (`Compiler.compile`, `Interp.run`, `Optimize.transform`); the
  * compiler then reads types off the hole-free tree.
  */
object TypeCheck {
  import Lang._

  final case class TypeError(msg: String) extends RuntimeException(msg)
  private def err(msg: String): Nothing = throw TypeError(msg)

  private def numeric(t: FType): FType = t match {
    case TInt | TWord => t
    case other => err(s"expected int/word, got $other")
  }
  private def int(t: FType): FType =
    if (t == TInt) t else err(s"expected int, got $t")
  private def word(t: FType): FType =
    if (t == TWord) t else err(s"expected word, got $t")
  /** The element type of a list, bag or set type. */
  def elemOf(t: FType): FType = t match {
    case TList(u) => u
    case TBag(u) => u
    case TSet(u) => u
    case other => err(s"expected a collection, got $other")
  }
  private def same(a: FType, b: FType, ctx: String): FType =
    if (a == b) a else err(s"$ctx: $a vs $b")
  private def hasHole(t: FType): Boolean = t match {
    case THole => true
    case TOption(u) => hasHole(u)
    case TList(u) => hasHole(u)
    case TBag(u) => hasHole(u)
    case TSet(u) => hasHole(u)
    case TDict(k, v) => hasHole(k) || hasHole(v)
    case TRecord(fs) => fs.exists(f => hasHole(f._2))
    case _ => false
  }
  private def noHole(t: FType): FType =
    if (hasHole(t)) err(s"unelaborated type hole in $t - elaborate the " +
      "program (TypeCheck.elaborate, or analyze against an expected type) " +
      "first")
    else t
  /** Result collection kind follows the operator's tag (Language.v:114). */
  private def tagged(tag: CollectionTag, elem: FType): FType = tag match {
    case LikeList => TList(elem)
    case LikeBag => TBag(elem)
    case LikeSet => TSet(elem)
  }

  /** An atom's type; an unannotated empty's has a hole. */
  private def atomType(a: Atom): FType = a match {
    case AWord(_) => TWord
    case AInt(_) => TInt
    case ABool(_) => TBool
    case AString(_) => TString
    case ANil(t) => TList(t)
    case ANone(t) => TOption(t)
    case AEmptyDict(k, v) => TDict(k, v)
    case AEmptyBag(t) => TBag(t)
    case AEmptySet(t) => TSet(t)
    case AUnit => TUnit
  }

  /** Is `e` typed only by its context: an unannotated empty, or a node
    * whose every result position is one (`if` and option-match branches,
    * a `let` or comprehension body, both sides of a cons, concat or
    * insert, `some`, a record field)? Synthesis fails on exactly these,
    * and checking against an expected type fills them. */
  private def needsContext(e: Expr): Boolean = e match {
    case EAtom(a) => hasHole(atomType(a))
    case EIf(_, a, b) => needsContext(a) && needsContext(b)
    case EOptMatch(_, a, _, b) => needsContext(a) && needsContext(b)
    case EBinop(OCons | OConcat | OBagInsert | OSetInsert, a, b) =>
      needsContext(a) && needsContext(b)
    case ELet(_, _, b) => needsContext(b)
    case EFlatmap(_, _, _, b) => needsContext(b)
    case EUnop(OSome, a) => needsContext(a)
    case ERecord(fs) => fs.exists(f => needsContext(f._2))
    case _ => false
  }

  private type Vars = Map[String, FType]

  /** The walk. `fill` selects elaboration (holes filled) over synthesis
    * (holes rejected); both return the expression with every hole the
    * walk could fill filled, and its type. */
  private final class Walk(store: Vars, fill: Boolean) {

    /** Two operands whose types determine each other: `a` is synthesized
      * and `b` checked against `bT(ta)`. When elaborating an `a` that only
      * its context can type (`needsContext`), `b` is synthesized and `a`
      * checked against `aT(tb)` instead. The direction is read off the
      * syntax, so no operand is walked twice. */
    private def either(a: Expr, va: Vars, b: Expr, vb: Vars,
        bT: FType => FType, aT: FType => FType,
        ctx: String): (Expr, FType, Expr, FType) =
      if (fill && needsContext(a)) {
        val (b2, tb) = infer(b, vb)
        val ta = aT(tb)
        (check(a, ta, va, ctx), ta, b2, tb)
      } else {
        val (a2, ta) = infer(a, va)
        val tb = bT(ta)
        (a2, ta, check(b, tb, vb, ctx), tb)
      }
    private def sameBoth(a: Expr, b: Expr, vars: Vars,
        ctx: String): (Expr, Expr, FType) = {
      val (a2, t, b2, _) = either(a, vars, b, vars, identity, identity, ctx)
      (a2, b2, t)
    }
    /** A node over one operand: the operand synthesized, the node rebuilt
      * over the result and typed from the operand's type. */
    private def over(e1: Expr, vars: Vars)(node: Expr => Expr)(
        ty: FType => FType): (Expr, FType) = {
      val (e2, t) = infer(e1, vars)
      (node(e2), ty(t))
    }

    def infer(e: Expr, vars: Vars): (Expr, FType) = e match {
      case EVar(x) => (e, vars.getOrElse(x, err(s"unbound variable $x")))
      case ELoc(x) => (e, store.getOrElse(x, err(s"unbound table $x")))

      case EAtom(a) => (e, noHole(atomType(a)))

      case EUnop(op, e1) => over(e1, vars)(EUnop(op, _))(t => op match {
        case OWNeg => word(t)
        case ONeg => int(t)
        case ONot => same(t, TBool, "not")
        case OLength => elemOf(t); TInt
        case OLengthString => same(t, TString, "strlen"); TInt
        case OIntToString => numeric(t); TString
        case OSome => TOption(t)
      })

      case EBinop(op, e1, e2) => op match {
        case OEq =>
          val (a, b, _) = sameBoth(e1, e2, vars, "eq")
          (EBinop(op, a, b), TBool)
        // list append (Interpret.v:153); bag union is the table-level form
        // the compiler supports (tables are typed TBag). TSet is NOT
        // accepted: concat doesn't re-dedup, so set union must go through
        // ESetOf(concat)
        case OConcat =>
          val (a, b, t) = sameBoth(e1, e2, vars, "concat elements")
          t match {
            case TList(_) | TBag(_) => (EBinop(op, a, b), t)
            case _ => err(s"concat expects matching lists/bags, got $t")
          }
        case OCons =>
          val (h, _, tl, lt) = either(e1, vars, e2, vars, TList(_), {
            case TList(u) => u
            case other => err(s"cons onto non-list $other")
          }, "cons")
          (EBinop(op, h, tl), lt)
        case OBagInsert | OSetInsert => // (collection, elem), Interpret.v:186
          val kind: FType => FType = if (op == OBagInsert) TBag(_) else TSet(_)
          val (b, bt, x, _) = either(e1, vars, e2, vars, {
            case TBag(u) if op == OBagInsert => u
            case TSet(u) if op == OSetInsert => u
            case other => err(s"$op into $other")
          }, kind, "insert")
          (EBinop(op, b, x), bt)
        case OLookup | ODelete =>
          val name = if (op == OLookup) "lookup" else "delete"
          infer(e1, vars) match {
            case (d, dt @ TDict(k, v)) =>
              (EBinop(op, d, check(e2, k, vars, s"$name key")),
                if (op == OLookup) TOption(v) else dt)
            case (_, other) => err(s"$name in non-dict $other")
          }
        case _ =>
          val (a, t1) = infer(e1, vars)
          val (b, t2) = infer(e2, vars)
          (EBinop(op, a, b), op match {
            case OPlus | OMinus | OTimes | ODiv | OMod =>
              same(int(t1), int(t2), "arith")
            case OWPlus | OWMinus | OWTimes | OWDivU | OWDivS | OWModU |
                OWModS => same(word(t1), word(t2), "word arith")
            case OAnd | OOr => same(t1, TBool, "bool"); same(t2, TBool, "bool")
            case OConcatString =>
              same(t1, TString, "concat"); same(t2, TString, "concat")
            case OLess => same(int(t1), int(t2), "less"); TBool
            case OWLessU | OWLessS =>
              same(word(t1), word(t2), "word less"); TBool
            case ORange => TList(same(int(t1), int(t2), "range endpoints"))
            case OWRange => TList(same(word(t1), word(t2), "range endpoints"))
            case other => err(s"unexpected operator $other")
          })
      }

      case ETernop(OInsert, d, k, v) => infer(d, vars) match {
        case (d2, dt @ TDict(kt, vt)) =>
          (ETernop(OInsert, d2, check(k, kt, vars, "insert key"),
            check(v, vt, vars, "insert value")), dt)
        case (_, other) => err(s"insert into non-dict $other")
      }

      case EIf(c, t, f) =>
        val c2 = check(c, TBool, vars, "if condition")
        val (t2, f2, ty) = sameBoth(t, f, vars, "if branches")
        (EIf(c2, t2, f2), ty)

      case ELet(e1, x, e2) =>
        val (e1b, t1) = infer(e1, vars)
        val (e2b, t2) = infer(e2, vars + (x -> t1))
        (ELet(e1b, x, e2b), t2)

      case ERecord(fields) =>
        val names = fields.map(_._1)
        if (names.distinct.size != names.size)
          err(s"duplicate record fields $names")
        val typed = fields.map { case (n, fe) => n -> infer(fe, vars) }
        (ERecord(typed.map { case (n, (fe, _)) => n -> fe }),
          TRecord(typed.map { case (n, (_, t)) => n -> t }.sortBy(_._1)))

      case EAccess(r, f) => over(r, vars)(EAccess(_, f)) {
        case TRecord(fs) => fs.collectFirst { case (`f`, t) => t }
          .getOrElse(err(s"record has no field $f (has ${fs.map(_._1)})"))
        case other => err(s"field access on non-record $other")
      }

      case EOptMatch(e1, none, x, some) => infer(e1, vars) match {
        case (e1b, TOption(u)) =>
          val (n2, t, s2, _) = either(none, vars, some, vars + (x -> u),
            identity, identity, "option match arms")
          (EOptMatch(e1b, n2, x, s2), t)
        case (_, other) => err(s"option match on $other")
      }

      case EDictFold(d, z, k, v, acc, step) => infer(d, vars) match {
        case (d2, TDict(kt, vt)) =>
          val (z2, zt) = infer(z, vars)
          (EDictFold(d2, z2, k, v, acc, check(step, zt,
            vars + (k -> kt) + (v -> vt) + (acc -> zt), "dict fold step")), zt)
        case (_, other) => err(s"dict fold over $other")
      }

      case ESort(tag, l) => over(l, vars)(ESort(tag, _))(t => TList(elemOf(t)))

      case EFilter(tag, l, x, p) =>
        val (l2, lt) = infer(l, vars)
        (EFilter(tag, l2, x, check(p, TBool, vars + (x -> elemOf(lt)),
          "filter predicate")), tagged(tag, elemOf(lt)))

      case EJoin(tag, l1, l2, x, y, p, r) =>
        val (a, t1) = infer(l1, vars); val (b, t2) = infer(l2, vars)
        val bound = vars + (x -> elemOf(t1)) + (y -> elemOf(t2))
        val p2 = check(p, TBool, bound, "join predicate")
        val (r2, rt) = infer(r, bound)
        (EJoin(tag, a, b, x, y, p2, r2), tagged(tag, rt))

      case EProj(tag, l, x, r) =>
        val (l2, lt) = infer(l, vars)
        val (r2, rt) = infer(r, vars + (x -> elemOf(lt)))
        (EProj(tag, l2, x, r2), tagged(tag, rt))

      // a comprehension's body: its `ret` head types the trailing nils
      // (EIf and cons above), so no expected type is needed
      case EFlatmap(tag, e1, x, e2) =>
        val (s, st) = infer(e1, vars)
        val (b, bt) = infer(e2, vars + (x -> elemOf(st)))
        (EFlatmap(tag, s, x, b), tagged(tag, elemOf(bt)))

      case EFlatmap2(e1, e2, x1, x2, e3) =>
        val (a, t1) = infer(e1, vars); val (b, t2) = infer(e2, vars)
        val (c, t3) =
          infer(e3, vars + (x1 -> elemOf(t1)) + (x2 -> elemOf(t2)))
        (EFlatmap2(a, b, x1, x2, c), TList(elemOf(t3)))

      case EFold(l, z, x, acc, step) =>
        val (l2, lt) = infer(l, vars)
        val (z2, zt) = infer(z, vars)
        (EFold(l2, z2, x, acc, check(step, zt,
          vars + (x -> elemOf(lt)) + (acc -> zt), "fold step")), zt)

      case EACFold(agg, e1) => over(e1, vars)(EACFold(agg, _)) { t =>
        agg match {
          case AGSum => numeric(elemOf(t))
          case AGCount => elemOf(t) // count works over any element type
        }
        TInt
      }
      case EACIFold(agg, e1) => over(e1, vars)(EACIFold(agg, _))(t =>
        TOption(numeric(elemOf(t))))

      case EBagOf(l) => over(l, vars)(EBagOf)(t => TBag(elemOf(t)))
      case ESetOf(l) => over(l, vars)(ESetOf)(t => TSet(elemOf(t)))
    }

    /** Check `e` against `t`, pushing `t` through the structure that
      * carries it (branches, cons, records, options, comprehension bodies)
      * down to the holes it fills. Elsewhere: synthesize and compare, as
      * the reference's analyze does. */
    def check(e: Expr, t: FType, vars: Vars, ctx: String = "analyze"): Expr = {
      def fits(annot: FType, actual: FType): Boolean =
        annot == THole || annot == actual
      def synthesized: Expr = {
        val (e2, actual) = infer(e, vars)
        same(actual, t, ctx); e2
      }
      if (!fill) synthesized
      else (e, t) match {
        case (EAtom(ANil(u)), TList(v)) if fits(u, v) => EAtom(ANil(v))
        case (EAtom(ANone(u)), TOption(v)) if fits(u, v) => EAtom(ANone(v))
        case (EAtom(AEmptyBag(u)), TBag(v)) if fits(u, v) => EAtom(AEmptyBag(v))
        case (EAtom(AEmptySet(u)), TSet(v)) if fits(u, v) => EAtom(AEmptySet(v))
        case (EAtom(AEmptyDict(k0, v0)), TDict(k1, v1))
            if fits(k0, k1) && fits(v0, v1) => EAtom(AEmptyDict(k1, v1))
        case (EIf(c, a, b), _) =>
          EIf(check(c, TBool, vars, "if condition"), check(a, t, vars, ctx),
            check(b, t, vars, ctx))
        case (ELet(e1, x, e2), _) =>
          val (e1b, t1) = infer(e1, vars)
          ELet(e1b, x, check(e2, t, vars + (x -> t1), ctx))
        case (EBinop(OCons, h, tl), TList(u)) =>
          EBinop(OCons, check(h, u, vars, ctx), check(tl, t, vars, ctx))
        case (EBinop(OConcat, a, b), TList(_) | TBag(_)) =>
          EBinop(OConcat, check(a, t, vars, ctx), check(b, t, vars, ctx))
        case (EBinop(op @ (OBagInsert | OSetInsert), b0, x0),
            TBag(_) | TSet(_)) =>
          EBinop(op, check(b0, t, vars, ctx), check(x0, elemOf(t), vars, ctx))
        case (EUnop(OSome, e1), TOption(u)) =>
          EUnop(OSome, check(e1, u, vars, ctx))
        case (ERecord(fields), TRecord(fts)) =>
          if (fields.map(_._1).sorted != fts.map(_._1))
            err(s"record fields ${fields.map(_._1).sorted} vs expected " +
              s"${fts.map(_._1)}")
          val fmap = fts.toMap
          ERecord(fields.map { case (n, fe) =>
            n -> check(fe, fmap(n), vars, ctx) })
        case (EOptMatch(e1, none, x, some), _) =>
          infer(e1, vars) match {
            case (e1b, TOption(u)) => EOptMatch(e1b, check(none, t, vars, ctx),
              x, check(some, t, vars + (x -> u), ctx))
            case (_, other) => err(s"option match on $other")
          }
        // comprehension spine (what `x <- e1; e2` parses to): the source
        // synthesizes, the body checks against the same collection type
        case (EFlatmap(tag, e1, x, e2), TList(_) | TBag(_) | TSet(_)) =>
          val (s, st) = infer(e1, vars)
          EFlatmap(tag, s, x, check(e2, t, vars + (x -> elemOf(st)), ctx))
        case _ => synthesized
      }
    }
  }

  /** The type of a hole-free expression; a hole is an error. */
  def synthesize(e: Expr, vars: Map[String, FType],
      store: Map[String, FType]): FType =
    new Walk(store, fill = false).infer(e, vars)._2

  /** Check `e` against `expected`, filling its holes — the reference's
    * `analyze_expr`. Returns the elaborated (hole-free) expression. */
  def analyze(e: Expr, expected: FType, vars: Map[String, FType],
      store: Map[String, FType]): Expr =
    new Walk(store, fill = true).check(e, expected, vars)

  /** Elaborate an expression that has no expected type: its holes are
    * filled from the structure around them. Returns the elaborated
    * expression and its type. */
  def elaborate(e: Expr, vars: Map[String, FType],
      store: Map[String, FType]): (Expr, FType) =
    new Walk(store, fill = true).infer(e, vars)

  /** Elaborate and check a command (fiat2 `typecheck`, TypeSystem.v:1393):
    * conditions are booleans, assignments keep a table's type (an
    * assignment's holes are filled from that type), foreach binds the
    * element type. Returns the elaborated command and the final store
    * typing. */
  def elaborateCommand(c: Command, vars: Map[String, FType],
      store: Map[String, FType]): (Command, Map[String, FType]) = {
    def expr(e: Expr, vars: Vars, store: Vars) = elaborate(e, vars, store)
    def go(c: Command, vars: Vars, store: Vars): (Command, Vars) = c match {
      case CSkip => (CSkip, store)
      case CSeq(c1, c2) =>
        val (a, s1) = go(c1, vars, store)
        val (b, s2) = go(c2, vars, s1)
        (CSeq(a, b), s2)
      case CLet(e, x, body) =>
        val (e2, t) = expr(e, vars, store)
        val (b, s) = go(body, vars + (x -> t), store)
        (CLet(e2, x, b), s)
      case CLetMut(e, x, body) =>
        val (e2, t) = expr(e, vars, store)
        val (b, inner) = go(body, vars, store + (x -> t))
        (CLetMut(e2, x, b), store.get(x).fold(inner - x)(old =>
          inner + (x -> old)))
      case CAssign(x, e) => store.get(x) match {
        case Some(old) =>
          val e2 = try analyze(e, old, vars, store) catch {
            case _: TypeError =>
              val t = expr(e, vars, store)._2
              err(s"assign changes type of $x: $old -> $t")
          }
          (CAssign(x, e2), store)
        case None =>
          val (e2, t) = expr(e, vars, store)
          (CAssign(x, e2), store + (x -> t))
      }
      case CIf(e, c1, c2) =>
        val e2 = new Walk(store, fill = true).check(e, TBool, vars,
          "if condition")
        // Both branches check against the SAME incoming store and must
        // agree on the outgoing store typing — threading one branch's
        // result into the other would let a conditionally-bound table
        // escape.
        val (a, s1) = go(c1, vars, store)
        val (b, s2) = go(c2, vars, store)
        if (s1 != s2) err(s"if branches produce different store typings: " +
          s"${s1.keySet} vs ${s2.keySet} (or differing types)")
        (CIf(e2, a, b), s1)
      case CForeach(e, x, body) =>
        val (e2, t) = expr(e, vars, store)
        val (b, s) = go(body, vars + (x -> elemOf(t)), store)
        (CForeach(e2, x, b), s)
    }
    go(c, vars, store)
  }

  /** The final store typing of a command (`elaborateCommand`'s). */
  def typecheck(c: Command, vars: Map[String, FType],
      store: Map[String, FType]): Map[String, FType] =
    elaborateCommand(c, vars, store)._2
}
