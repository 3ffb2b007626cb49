package graft.lang

/** Type synthesis for the language, mirroring the reference's executable
  * typechecker (`synthesize_expr`, fiat2/src/fiat2/TypeSystem.v:1076;
  * commands `typecheck` :1393). Atoms carry their element types in this AST
  * (the elaborated form the reference's bidirectional checker produces), so
  * synthesis alone suffices. Errors are thrown as `TypeError` with the
  * offending expression's shape.
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
  private def elemOf(t: FType): FType = t match {
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
    if (hasHole(t)) err(s"unelaborated type hole in $t - check the " +
      "expression against an expected type with TypeCheck.analyze first")
    else t
  /** Result collection kind follows the operator's tag (Language.v:114). */
  private def tagged(tag: CollectionTag, elem: FType): FType = tag match {
    case LikeList => TList(elem)
    case LikeBag => TBag(elem)
    case LikeSet => TSet(elem)
  }

  def synthesize(e: Expr, vars: Map[String, FType],
      store: Map[String, FType]): FType = {
    def go(e: Expr, vars: Map[String, FType]): FType = e match {
      case EVar(x) => vars.getOrElse(x, err(s"unbound variable $x"))
      case ELoc(x) => store.getOrElse(x, err(s"unbound table $x"))

      case EAtom(a) => noHole(a match {
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
      })

      case EUnop(op, e1) =>
        val t = go(e1, vars)
        op match {
          case OWNeg => word(t)
          case ONeg => int(t)
          case ONot => same(t, TBool, "not")
          case OLength => elemOf(t); TInt
          case OLengthString => same(t, TString, "strlen"); TInt
          case OIntToString => numeric(t); TString
          case OSome => TOption(t)
        }

      case EBinop(op, e1, e2) =>
        lazy val t1 = go(e1, vars); lazy val t2 = go(e2, vars)
        op match {
          case OPlus | OMinus | OTimes | ODiv | OMod =>
            same(int(t1), int(t2), "arith")
          case OWPlus | OWMinus | OWTimes | OWDivU | OWDivS | OWModU | OWModS =>
            same(word(t1), word(t2), "word arith")
          case OAnd | OOr => same(t1, TBool, "bool"); same(t2, TBool, "bool")
          case OConcatString =>
            same(t1, TString, "concat"); same(t2, TString, "concat")
          case OLess => same(int(t1), int(t2), "less"); TBool
          case OWLessU | OWLessS => same(word(t1), word(t2), "word less"); TBool
          case OEq => same(t1, t2, "eq"); TBool
          case OConcat => (t1, t2) match { // list append (Interpret.v:153);
            // bag union is the table-level form the compiler supports (tables
            // are typed TBag), set union by dedup on observation
            case (TList(a), TList(b)) => same(a, b, "concat elements"); TList(a)
            case (TBag(a), TBag(b)) => same(a, b, "concat elements"); TBag(a)
            // TSet is NOT accepted: concat doesn't re-dedup, so set union
            // must go through ESetOf(concat) — which synthesize types fine.
            case _ => err(s"concat expects matching lists/bags, got $t1 / $t2")
          }
          case OCons => (t2: @unchecked) match {
            case TList(u) => same(t1, u, "cons"); TList(u)
            case other => err(s"cons onto non-list $other")
          }
          case ORange => TList(same(int(t1), int(t2), "range endpoints"))
          case OWRange => TList(same(word(t1), word(t2), "range endpoints"))
          case OBagInsert => t1 match { // (bag, elem) — Interpret.v:186
            case TBag(u) => same(t2, u, "bag_insert"); TBag(u)
            case other => err(s"bag_insert into $other")
          }
          case OSetInsert => t1 match {
            case TSet(u) => same(t2, u, "set_insert"); TSet(u)
            case other => err(s"set_insert into $other")
          }
          case OLookup => t1 match {
            case TDict(k, v) => same(t2, k, "lookup key"); TOption(v)
            case other => err(s"lookup in non-dict $other")
          }
          case ODelete => t1 match {
            case TDict(k, v) => same(t2, k, "delete key"); TDict(k, v)
            case other => err(s"delete in non-dict $other")
          }
        }

      case ETernop(OInsert, d, k, v) => go(d, vars) match {
        case TDict(kt, vt) =>
          same(go(k, vars), kt, "insert key")
          same(go(v, vars), vt, "insert value")
          TDict(kt, vt)
        case other => err(s"insert into non-dict $other")
      }

      case EIf(c, t, f) =>
        same(go(c, vars), TBool, "if condition")
        same(go(t, vars), go(f, vars), "if branches")

      case ELet(e1, x, e2) => go(e2, vars + (x -> go(e1, vars)))

      case ERecord(fields) =>
        val names = fields.map(_._1)
        if (names.distinct.size != names.size)
          err(s"duplicate record fields $names")
        TRecord(fields.map { case (n, fe) => n -> go(fe, vars) }
          .sortBy(_._1))

      case EAccess(r, f) => go(r, vars) match {
        case TRecord(fs) => fs.collectFirst { case (`f`, t) => t }
          .getOrElse(err(s"record has no field $f (has ${fs.map(_._1)})"))
        case other => err(s"field access on non-record $other")
      }

      case EOptMatch(e1, none, x, some) => go(e1, vars) match {
        case TOption(u) =>
          same(go(none, vars), go(some, vars + (x -> u)), "option match arms")
        case other => err(s"option match on $other")
      }

      case EDictFold(d, z, k, v, acc, step) => go(d, vars) match {
        case TDict(kt, vt) =>
          val zt = go(z, vars)
          same(go(step, vars + (k -> kt) + (v -> vt) + (acc -> zt)), zt,
            "dict fold step")
        case other => err(s"dict fold over $other")
      }

      case ESort(_, l) => TList(elemOf(go(l, vars)))

      case EFilter(tag, l, x, p) =>
        val lt = go(l, vars)
        same(go(p, vars + (x -> elemOf(lt))), TBool, "filter predicate")
        tagged(tag, elemOf(lt))

      case EJoin(tag, l1, l2, x, y, p, r) =>
        val e1t = elemOf(go(l1, vars)); val e2t = elemOf(go(l2, vars))
        val bound = vars + (x -> e1t) + (y -> e2t)
        same(go(p, bound), TBool, "join predicate")
        tagged(tag, go(r, bound))

      case EProj(tag, l, x, r) =>
        tagged(tag, go(r, vars + (x -> elemOf(go(l, vars)))))

      case EFlatmap(tag, e1, x, e2) =>
        val et = elemOf(go(e1, vars))
        tagged(tag, elemOf(go(e2, vars + (x -> et))))

      case EFlatmap2(e1, e2, x1, x2, e3) =>
        val t1 = elemOf(go(e1, vars)); val t2 = elemOf(go(e2, vars))
        TList(elemOf(go(e3, vars + (x1 -> t1) + (x2 -> t2))))

      case EFold(l, z, x, acc, step) =>
        val et = elemOf(go(l, vars))
        val zt = go(z, vars)
        same(go(step, vars + (x -> et) + (acc -> zt)), zt, "fold step")

      case EACFold(AGSum, e1) =>
        numeric(elemOf(go(e1, vars))); TInt
      case EACFold(AGCount, e1) => // count works over any element type
        elemOf(go(e1, vars)); TInt

      case EACIFold(_, e1) =>
        TOption(numeric(elemOf(go(e1, vars))))

      case EBagOf(l) => TBag(elemOf(go(l, vars)))
      case ESetOf(l) => TSet(elemOf(go(l, vars)))
    }
    go(e, vars)
  }

  /** Bidirectional checking with hole elaboration — the reference's
    * `analyze_expr` (fiat2/src/fiat2/TypeSystem.v:718): checks `e` against
    * `expected`, FILLING the type holes of unannotated empties (`ANil()`,
    * `ANone()`, `AEmptyDict()`, `AEmptyBag()`, `AEmptySet()`) from the
    * expected type as it pushes it through branch/cons/record/insert
    * structure. Returns the elaborated expression (hole-free, so
    * `synthesize` and `Compiler.compile` accept it). Positions with no
    * pushed-down type fall back to synthesis + equality, as in the
    * reference.
    */
  def analyze(e: Expr, expected: FType, vars: Map[String, FType],
      store: Map[String, FType]): Expr = {
    def fits(annot: FType, actual: FType): Boolean =
      annot == THole || annot == actual
    def go(e: Expr, t: FType, vars: Map[String, FType]): Expr = (e, t) match {
      case (EAtom(ANil(u)), TList(v)) if fits(u, v) => EAtom(ANil(v))
      case (EAtom(ANone(u)), TOption(v)) if fits(u, v) => EAtom(ANone(v))
      case (EAtom(AEmptyBag(u)), TBag(v)) if fits(u, v) => EAtom(AEmptyBag(v))
      case (EAtom(AEmptySet(u)), TSet(v)) if fits(u, v) => EAtom(AEmptySet(v))
      case (EAtom(AEmptyDict(k0, v0)), TDict(k1, v1))
          if fits(k0, k1) && fits(v0, v1) => EAtom(AEmptyDict(k1, v1))
      case (EIf(c, a, b), _) =>
        EIf(go(c, TBool, vars), go(a, t, vars), go(b, t, vars))
      case (ELet(e1, x, e2), _) =>
        // the bound expression synthesizes (holes there need annotations —
        // same stance as the reference's analyze)
        val t1 = synthesize(e1, vars, store)
        ELet(e1, x, go(e2, t, vars + (x -> t1)))
      case (EBinop(OCons, h, tl), TList(u)) =>
        EBinop(OCons, go(h, u, vars), go(tl, TList(u), vars))
      case (EBinop(OConcat, a, b), TList(_) | TBag(_)) =>
        EBinop(OConcat, go(a, t, vars), go(b, t, vars))
      case (EBinop(OBagInsert, b0, x0), TBag(u)) =>
        EBinop(OBagInsert, go(b0, TBag(u), vars), go(x0, u, vars))
      case (EBinop(OSetInsert, s0, x0), TSet(u)) =>
        EBinop(OSetInsert, go(s0, TSet(u), vars), go(x0, u, vars))
      case (EUnop(OSome, e1), TOption(u)) => EUnop(OSome, go(e1, u, vars))
      case (ERecord(fields), TRecord(fts)) =>
        if (fields.map(_._1).sorted != fts.map(_._1))
          err(s"record fields ${fields.map(_._1).sorted} vs expected ${fts.map(_._1)}")
        val fmap = fts.toMap
        ERecord(fields.map { case (n, fe) => n -> go(fe, fmap(n), vars) })
      case (EOptMatch(e1, none, x, some), _) =>
        synthesize(e1, vars, store) match {
          case TOption(u) =>
            EOptMatch(e1, go(none, t, vars), x, go(some, t, vars + (x -> u)))
          case other => err(s"option match on $other")
        }
      // Comprehension spine (what `x <- e1; e2` parses to): the source
      // synthesizes, the body checks against the same collection type —
      // this is where the `ret`/`check` nil-holes get filled. A NESTED
      // comprehension used as the source (`s <- (t <- tbl; ...; ret h)`)
      // has no expected type from context, but its element type is
      // derivable from its own `ret` head — derive it and elaborate the
      // source first, so its trailing nil-holes fill too.
      case (EFlatmap(tag, e1, x, e2), TList(_) | TBag(_) | TSet(_)) =>
        def headOf(body: Expr): Option[Expr] = body match {
          case EBinop(OCons, h, _) => Some(h)
          case EIf(_, a, b) => headOf(a).orElse(headOf(b))
          case _ => None
        }
        def elaborateSource(src: Expr): Expr = src match {
          case EFlatmap(stag, s0, x0, b0) =>
            (try {
              val s0e = elaborateSource(s0)
              val et0 = elemOf(synthesize(s0e, vars, store))
              headOf(b0).map { h =>
                val ht = synthesize(h, vars + (x0 -> et0), store)
                go(src, tagged(stag, ht), vars)
              }
            } catch { case _: TypeError => None }).getOrElse(src)
          case _ => src
        }
        val e1e = elaborateSource(e1)
        val et = elemOf(synthesize(e1e, vars, store))
        EFlatmap(tag, e1e, x, go(e2, t, vars + (x -> et)))
      case _ => // no structure to push through: synthesize and compare
        same(synthesize(e, vars, store), t, "analyze"); e
    }
    go(e, expected, vars)
  }

  /** Command checking (fiat2 `typecheck`, TypeSystem.v:1393): verifies
    * conditions are booleans, assignments preserve table types, and foreach
    * binds the element type. Returns the final store typing. */
  def typecheck(c: Command, vars: Map[String, FType],
      store: Map[String, FType]): Map[String, FType] = c match {
    case CSkip => store
    case CSeq(c1, c2) => typecheck(c2, vars, typecheck(c1, vars, store))
    case CLet(e, x, body) =>
      typecheck(body, vars + (x -> synthesize(e, vars, store)), store)
    case CLetMut(e, x, body) =>
      val t = synthesize(e, vars, store)
      val inner = typecheck(body, vars, store + (x -> t))
      store.get(x).map(old => inner + (x -> old)).getOrElse(inner - x)
    case CAssign(x, e) =>
      val t = synthesize(e, vars, store)
      store.get(x).foreach(old =>
        if (old != t) err(s"assign changes type of $x: $old -> $t"))
      store + (x -> t)
    case CIf(e, c1, c2) =>
      same(synthesize(e, vars, store), TBool, "if condition")
      // Both branches check against the SAME incoming store and must agree
      // on the outgoing store typing — threading one branch's result into
      // the other would let a conditionally-bound table escape.
      val s1 = typecheck(c1, vars, store)
      val s2 = typecheck(c2, vars, store)
      if (s1 != s2) err(s"if branches produce different store typings: " +
        s"${s1.keySet} vs ${s2.keySet} (or differing types)")
      s1
    case CForeach(e, x, body) => synthesize(e, vars, store) match {
      case TList(u) => typecheck(body, vars + (x -> u), store)
      case TBag(u) => typecheck(body, vars + (x -> u), store)
      case TSet(u) => typecheck(body, vars + (x -> u), store)
      case other => err(s"foreach over $other")
    }
  }
}
