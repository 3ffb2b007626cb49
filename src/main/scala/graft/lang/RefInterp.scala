package graft.lang

/** Executable reference semantics: a driver-local, in-memory interpreter for
  * the full `Lang` AST, transcribing the reference interpreter
  * (fiat2/src/fiat2/Interpret.v:180-524) and its value order
  * (fiat2/src/fiat2/Value.v:116-145) into plain Scala. No Spark — this is
  * the semantic ORACLE the distributed compiler is differentially tested
  * against (`DifferentialSpec` generates random well-typed programs and
  * asserts `Compiler` and `RefInterp` agree), and a zero-dependency local
  * executor for unit-testing user programs on tiny data.
  *
  * Value encodings follow the ENGINE's documented conventions (README
  * "Known divergences", SURVEY.md §1.5) where they deliberately differ from
  * the reference's:
  *  - bags are canonically SORTED ELEMENT vectors, not the reference's
  *    (value, count) run-length pairs (same information; `Interpret.v`'s
  *    `bag_to_list` of its encoding IS this vector);
  *  - `TInt` is genuinely unbounded (`BigInt`, Coq `Z`) — the engine's
  *    default LongType mapping raises a directed overflow past 2^63 where
  *    this interpreter (and the reference) keep growing; the bignum
  *    mapping (`Env(bigInt = true)`, or `Compiler.autoWide`) closes it.
  * Everything else is reference-exact: `None < Some` (nulls-first
  * canonical sorts), unsigned word order in `value_compare`, total
  * `Z.div`/`Z.modulo` (x/0 = 0, x mod 0 = x), fold_right semantics for
  * `EFold`/`EDictFold`/aggregates, and key-ordered dict insertion.
  */
object RefInterp {
  import Lang._

  // --- Value domain (fiat2/src/fiat2/Value.v:5-22) ---
  sealed trait V
  case object VUnit extends V
  final case class VW(v: Long) extends V // TWord: 64-bit two's complement
  /** TWord at widths ≥ 65: the UNSIGNED residue in [0, 2^w) — plain
    * BigInt order IS unsigned word order, mirroring how sign-extension
    * makes the Long of `VW` order-isomorphic at sub-64 widths. */
  final case class VWide(v: BigInt) extends V
  final case class VI(v: BigInt) extends V // TInt: Coq Z, unbounded
  final case class VB(v: Boolean) extends V
  final case class VS(v: String) extends V
  final case class VOpt(v: Option[V]) extends V
  final case class VList(xs: Vector[V]) extends V
  /** Canonical: sorted by `cmp` (duplicates kept). */
  final case class VBag(xs: Vector[V]) extends V
  /** Canonical: sorted by `cmp`, distinct. */
  final case class VSet(xs: Vector[V]) extends V
  /** Canonical: sorted by key, keys distinct. */
  final case class VDict(entries: Vector[(V, V)]) extends V
  /** Canonical: fields sorted by name (fiat2 `record_sort`). */
  final case class VRec(fields: Vector[(String, V)]) extends V

  // --- value_compare (fiat2/src/fiat2/Value.v:116-145) ---
  // Only same-type comparisons occur in well-typed programs; the cross-type
  // arms of the reference's total order are therefore not needed. Words
  // compare UNSIGNED (`word.ltu`, Value.v:118-119); None < Some
  // (Value.v:126-130); lists/records/dicts lexicographic; bags by their
  // (value, multiplicity) run-length pairs (Value.v:110-113) — the engine
  // side realizes the same order via CanonOrder sort keys.
  def cmp(a: V, b: V): Int = (a, b) match {
    case (VUnit, VUnit) => 0
    case (VW(x), VW(y)) => java.lang.Long.compareUnsigned(x, y)
    case (VWide(x), VWide(y)) => x.compare(y) // residues: unsigned order
    case (VI(x), VI(y)) => x.compare(y)
    case (VB(x), VB(y)) => x.compareTo(y)
    case (VS(x), VS(y)) => x.compareTo(y)
    case (VOpt(None), VOpt(None)) => 0
    case (VOpt(None), VOpt(Some(_))) => -1
    case (VOpt(Some(_)), VOpt(None)) => 1
    case (VOpt(Some(x)), VOpt(Some(y))) => cmp(x, y)
    case (VList(x), VList(y)) => cmpSeq(x, y)
    // bags compare as their sorted (value, multiplicity) RUN-LENGTH pairs
    // (`list_to_bag` canonical form, fiat2/src/fiat2/Value.v:110-113,
    // Interpret.v:112-124) — value first, then count: {a,a,b} > {a,c}
    // because (a,2) > (a,1), where the flat element lists would say LT
    case (VBag(x), VBag(y)) =>
      cmpWith[(V, Int)](runLength(x), runLength(y), (p, q) => {
        val c = cmp(p._1, q._1); if (c != 0) c else p._2.compareTo(q._2)
      })
    case (VSet(x), VSet(y)) => cmpSeq(x, y)
    case (VDict(x), VDict(y)) =>
      cmpWith[(V, V)](x, y, (p, q) => {
        val c = cmp(p._1, q._1); if (c != 0) c else cmp(p._2, q._2)
      })
    case (VRec(x), VRec(y)) =>
      cmpWith[(String, V)](x, y, (p, q) => {
        val c = p._1.compareTo(q._1); if (c != 0) c else cmp(p._2, q._2)
      })
    case _ => throw new IllegalArgumentException(
      s"value_compare across types: ${a.getClass.getSimpleName} vs " +
        b.getClass.getSimpleName)
  }
  private def cmpSeq(x: Vector[V], y: Vector[V]): Int = cmpWith[V](x, y, cmp)
  /** Run-length encode a CANONICAL (cmp-sorted) bag element vector. */
  private def runLength(xs: Vector[V]): Vector[(V, Int)] =
    xs.foldRight(Vector.empty[(V, Int)]) { (v, acc) =>
      acc.headOption match {
        case Some((w, n)) if cmp(v, w) == 0 => (w, n + 1) +: acc.tail
        case _ => (v, 1) +: acc
      }
    }
  private def cmpWith[A](x: Vector[A], y: Vector[A],
      f: (A, A) => Int): Int = {
    val it1 = x.iterator; val it2 = y.iterator
    while (it1.hasNext && it2.hasNext) {
      val c = f(it1.next(), it2.next()); if (c != 0) return c
    }
    java.lang.Boolean.compare(it1.hasNext, it2.hasNext)
  }
  implicit val vOrdering: Ordering[V] = (a: V, b: V) => cmp(a, b)

  // --- Canonical collection builders (Interpret.v:92-138) ---
  def sortedV(xs: Seq[V]): Vector[V] = xs.toVector.sorted
  def listToSet(xs: Seq[V]): Vector[V] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[V]
    for (v <- sortedV(xs)) if (out.isEmpty || cmp(out.last, v) != 0) out += v
    out.toVector
  }
  def dictInsert(d: Vector[(V, V)], k: V, v: V): Vector[(V, V)] =
    (d.filter(e => cmp(e._1, k) != 0) :+ (k, v))
      .sortBy(_._1)(vOrdering)
  def dictDelete(d: Vector[(V, V)], k: V): Vector[(V, V)] =
    d.filter(e => cmp(e._1, k) != 0)
  def dictLookup(d: Vector[(V, V)], k: V): Option[V] =
    d.find(e => cmp(e._1, k) == 0).map(_._2)

  // --- Total integer division (Coq Z.div / Z.modulo, Interpret.v:147,150) ---
  def zdiv(a: BigInt, b: BigInt): BigInt =
    if (b == 0) BigInt(0)
    else {
      val q = a / b; val r = a % b
      if (r != 0 && (r < 0) != (b < 0)) q - 1 else q
    }
  def zmod(a: BigInt, b: BigInt): BigInt =
    if (b == 0) a
    else {
      val r = a % b
      if (r != 0 && (r < 0) != (b < 0)) r + b else r
    }

  // --- Interpreter environment ---
  /** `width` mirrors the reference's section-level word parameter
    * (fiat2/src/fiat2/Language.v:4, `Section WithWord {width: Z}`): 64
    * (default) or 32. A 32-bit word is carried as its SIGN-EXTENDED value
    * in the Long of `VW` — the same canonical form the Spark engine uses —
    * so the universal value order (unsigned compare, Value.v) is preserved
    * verbatim: sign extension is order-isomorphic to 32-bit unsigned order. */
  final case class REnv(vars: Map[String, V], store: Map[String, V],
      width: Int = 64) {
    def bind(x: String, v: V): REnv = copy(vars = vars + (x -> v))
  }
  object REnv {
    def apply(store: (String, V)*): REnv =
      REnv(Map.empty[String, V], store.toMap)
  }

  private def err(msg: String): Nothing =
    throw new IllegalStateException(s"RefInterp: $msg (ill-typed program?)")

  private def asI(v: V): BigInt = v match { case VI(x) => x; case o => err(s"int expected, got $o") }
  private def asW(v: V): Long = v match { case VW(x) => x; case o => err(s"word expected, got $o") }
  private def asWd(v: V): BigInt = v match { case VWide(x) => x; case o => err(s"wide word expected, got $o") }
  // Wide-width (≥ 65) word helpers — an INDEPENDENT formulation from
  // the engine's WordMathBytes (BigInteger there, Scala BigInt mask
  // arithmetic here) so the differential fuzz cross-checks the two.
  private def wdMask(w: Int): BigInt = (BigInt(1) << w) - 1
  private def wdResL(v: Long, w: Int): BigInt = BigInt(v) & wdMask(w)
  private def wdSigned(x: BigInt, w: Int): BigInt =
    if (x >= (BigInt(1) << (w - 1))) x - (BigInt(1) << w) else x
  private def wdOp(op: Binop, a: BigInt, b: BigInt, w: Int): BigInt = op match {
    case OWPlus => (a + b) & wdMask(w)
    case OWMinus => (a - b) & wdMask(w)
    case OWTimes => (a * b) & wdMask(w)
    case OWDivU => if (b == 0) BigInt(0) else a / b
    case OWDivS => if (b == 0) BigInt(0)
      else (wdSigned(a, w) / wdSigned(b, w)) & wdMask(w)
    case OWModU => if (b == 0) a else a % b
    case OWModS => if (b == 0) a
      else (wdSigned(a, w) % wdSigned(b, w)) & wdMask(w)
    case o => err(s"not a word op: $o")
  }
  private def asB(v: V): Boolean = v match { case VB(x) => x; case o => err(s"bool expected, got $o") }
  private def asS(v: V): String = v match { case VS(x) => x; case o => err(s"string expected, got $o") }
  /** Element view of any collection, canonical order for bag/set/dict. */
  private def elems(v: V): Vector[V] = v match {
    case VList(xs) => xs
    case VBag(xs) => xs
    case VSet(xs) => xs
    case VDict(es) => es.map { case (k, w) =>
      VRec(Vector("key" -> k, "value" -> w)) }
    case o => err(s"collection expected, got $o")
  }

  /** interp_expr (fiat2/src/fiat2/Interpret.v:261-501). */
  def interp(e: Expr, env: REnv): V = e match {
    case EVar(x) => env.vars.getOrElse(x, err(s"unbound var $x"))
    case ELoc(x) => env.store.getOrElse(x, err(s"unbound loc $x"))

    case EAtom(a) => a match {
      case AWord(v) =>
        if (env.width > 64) VWide(wdResL(v, env.width))
        else VW(if (env.width == 64) v
           else graft.functions.WordMath.truncW(v, env.width))
      case AInt(v) => VI(BigInt(v))
      case ABool(v) => VB(v)
      case AString(v) => VS(v)
      case ANil(_) => VList(Vector.empty)
      case ANone(_) => VOpt(None)
      case AEmptyDict(_, _) => VDict(Vector.empty)
      case AEmptyBag(_) => VBag(Vector.empty)
      case AEmptySet(_) => VSet(Vector.empty)
      case AUnit => VUnit
    }

    case EUnop(op, e1) =>
      val v = interp(e1, env)
      op match {
        case OWNeg => // word.opp wraps at the width's MinValue
          if (env.width > 64) VWide(wdOp(OWMinus, BigInt(0), asWd(v), env.width))
          else VW(if (env.width == 64) -asW(v)
             else graft.functions.WordMath.wsubW(0L, asW(v), env.width))
        case ONeg => VI(-asI(v))
        case ONot => VB(!asB(v))
        case OLength => VI(BigInt(elems(v).size))
        case OLengthString => VI(BigInt(asS(v).length))
        case OIntToString => VS(asI(v).toString)
        case OSome => VOpt(Some(v))
      }

    case EBinop(op, e1, e2) =>
      lazy val v1 = interp(e1, env)
      lazy val v2 = interp(e2, env)
      op match {
        case OPlus => VI(asI(v1) + asI(v2))
        case OMinus => VI(asI(v1) - asI(v2))
        case OTimes => VI(asI(v1) * asI(v2))
        case ODiv => VI(zdiv(asI(v1), asI(v2)))
        case OMod => VI(zmod(asI(v1), asI(v2)))
        case OWPlus | OWMinus | OWTimes | OWDivU | OWDivS | OWModU | OWModS =>
          // width-dispatched machine arithmetic; the 32-bit family operates
          // on the truncated Int view and re-sign-extends (WordMath *32)
          import graft.functions.WordMath
          if (env.width > 64)
            return VWide(wdOp(op, asWd(v1), asWd(v2), env.width))
          val (a, b) = (asW(v1), asW(v2))
          // sub-64 widths go through the generic mask/shift family — at
          // width 32 this is a deliberately DIFFERENT implementation from
          // the engine's specialized WordMath.*32 Int path, so the
          // differential fuzz cross-checks the two
          VW(if (env.width != 64) op match {
            case OWPlus => WordMath.waddW(a, b, env.width)
            case OWMinus => WordMath.wsubW(a, b, env.width)
            case OWTimes => WordMath.wmulW(a, b, env.width)
            case OWDivU => WordMath.divuW(a, b, env.width)
            case OWDivS => WordMath.divsW(a, b, env.width)
            case OWModU => WordMath.moduW(a, b, env.width)
            case _ => WordMath.modsW(a, b, env.width)
          } else op match {
            case OWPlus => a + b
            case OWMinus => a - b
            case OWTimes => a * b
            case OWDivU => WordMath.divu(a, b)
            case OWDivS => WordMath.divs(a, b)
            case OWModU => WordMath.modu(a, b)
            case _ => WordMath.mods(a, b)
          })
        // sign-extension is order-isomorphic for both families, so the
        // 64-bit comparisons are width-correct on the canonical form
        case OWLessU => VB(
          if (env.width > 64) asWd(v1) < asWd(v2)
          else java.lang.Long.compareUnsigned(asW(v1), asW(v2)) < 0)
        case OWLessS => VB(
          if (env.width > 64)
            wdSigned(asWd(v1), env.width) < wdSigned(asWd(v2), env.width)
          else asW(v1) < asW(v2))
        case OAnd => VB(asB(v1) && asB(v2))
        case OOr => VB(asB(v1) || asB(v2))
        case OConcatString => VS(asS(v1) + asS(v2))
        case OLess => VB(asI(v1) < asI(v2))
        case OEq => VB(cmp(v1, v2) == 0)
        case OCons => v2 match {
          case VList(xs) => VList(v1 +: xs)
          case o => err(s"cons onto $o")
        }
        case OConcat => (v1, v2) match {
          case (VList(x), VList(y)) => VList(x ++ y)
          case (a, b) => err(s"concat of $a / $b")
        }
        // eval_range: empty when hi <= lo (Z.to_nat of negative = 0)
        case ORange =>
          val lo = asI(v1); val hi = asI(v2)
          VList((lo until hi).map(VI(_)).toVector)
        // eval_range_word: length = unsigned(hi) - unsigned(lo), wrap adds.
        // The 2^24 materialization cap is MIRRORED by the engine
        // (WordOps.capRangeLen): both sides of the differential fuzz refuse
        // the same ranges, so a "too large" outcome is never one-sided.
        case OWRange if env.width > 64 =>
          val ulo = asWd(v1); val uhi = asWd(v2)
          val len = (uhi - ulo).max(0)
          require(len < (1 << 24), s"word range too large to materialize: $len")
          VList(Vector.tabulate(len.toInt)(i =>
            VWide((ulo + i) & wdMask(env.width))))
        case OWRange =>
          val lo = asW(v1); val hi = asW(v2)
          def uns(x: Long): BigInt =
            if (env.width == 64) BigInt(java.lang.Long.toUnsignedString(x))
            else BigInt(graft.functions.WordMath.umaskW(x, env.width))
          val ulo = uns(lo); val uhi = uns(hi)
          val len = (uhi - ulo).max(0)
          require(len < (1 << 24), s"word range too large to materialize: $len")
          VList(Vector.tabulate(len.toInt)(i =>
            VW(if (env.width == 64) lo + i
               else graft.functions.WordMath.waddW(lo, i, env.width))))
        // NB (collection, element) order — Interpret.v:186-193
        case OBagInsert => v1 match {
          case VBag(xs) => VBag(sortedV(xs :+ v2))
          case o => err(s"bag_insert into $o")
        }
        case OSetInsert => v1 match {
          case VSet(xs) => VSet(listToSet(xs :+ v2))
          case o => err(s"set_insert into $o")
        }
        case OLookup => v1 match {
          case VDict(d) => VOpt(dictLookup(d, v2))
          case o => err(s"lookup in $o")
        }
        case ODelete => v1 match {
          case VDict(d) => VDict(dictDelete(d, v2))
          case o => err(s"delete in $o")
        }
      }

    case ETernop(OInsert, d, k, v) => interp(d, env) match {
      case VDict(es) => VDict(dictInsert(es, interp(k, env), interp(v, env)))
      case o => err(s"insert into $o")
    }

    case EIf(c, t, f) =>
      if (asB(interp(c, env))) interp(t, env) else interp(f, env)

    case ELet(e1, x, e2) => interp(e2, env.bind(x, interp(e1, env)))

    case ERecord(fields) =>
      require(fields.map(_._1).distinct.size == fields.size,
        s"duplicate record fields in ${fields.map(_._1)}")
      VRec(fields.map { case (n, fe) => n -> interp(fe, env) }
        .sortBy(_._1).toVector)

    case EAccess(r, f) => interp(r, env) match {
      case VRec(fs) => fs.find(_._1 == f)
        .getOrElse(err(s"no field $f"))._2
      case o => err(s"access .$f on $o")
    }

    case EOptMatch(e1, none, x, some) => interp(e1, env) match {
      case VOpt(None) => interp(none, env)
      case VOpt(Some(v)) => interp(some, env.bind(x, v))
      case o => err(s"optmatch on $o")
    }

    // fold_right over the key-sorted entries (Interpret.v:346-350)
    case EDictFold(d, z, k, v, acc, step) => interp(d, env) match {
      case VDict(es) => es.foldRight(interp(z, env)) { case ((kk, vv), a) =>
        interp(step, env.bind(k, kk).bind(v, vv).bind(acc, a))
      }
      case o => err(s"dictfold on $o")
    }

    // ESort: list → value_sort; bag/set → their (already sorted) element
    // list AS A LIST (Interpret.v:352-369 returns VList for all three tags)
    case ESort(_, l) => VList(sortedV(elems(interp(l, env))))

    case EFilter(_, l, x, p) =>
      def keep(v: V) = asB(interp(p, env.bind(x, v)))
      interp(l, env) match {
        case VList(xs) => VList(xs.filter(keep))
        case VBag(xs) => VBag(xs.filter(keep)) // filter preserves canonical order
        case VSet(xs) => VSet(xs.filter(keep))
        case o => err(s"filter on $o")
      }

    case EJoin(_, l1, l2, x, y, p, r) =>
      val a = interp(l1, env); val b = interp(l2, env)
      val rows = for {
        v1 <- elems(a)
        v2 <- elems(b)
        bound = env.bind(x, v1).bind(y, v2)
        if asB(interp(p, bound))
      } yield interp(r, bound)
      (a, b) match {
        case (VList(_), VList(_)) => VList(rows)
        case (VBag(_), VBag(_)) => VBag(sortedV(rows))
        case (VSet(_), VSet(_)) => VSet(listToSet(rows))
        case _ => err("join of mixed collection kinds")
      }

    case EProj(_, l, x, r) =>
      def body(v: V) = interp(r, env.bind(x, v))
      interp(l, env) match {
        case VList(xs) => VList(xs.map(body))
        case VBag(xs) => VBag(sortedV(xs.map(body)))
        case VSet(xs) => VSet(listToSet(xs.map(body)))
        case o => err(s"proj on $o")
      }

    case EFlatmap(_, e1, x, e2) =>
      def body(v: V): Vector[V] = elems(interp(e2, env.bind(x, v)))
      interp(e1, env) match {
        case VList(xs) => VList(xs.flatMap(body))
        case VBag(xs) => VBag(sortedV(xs.flatMap(body)))
        case VSet(xs) => VSet(listToSet(xs.flatMap(body)))
        case o => err(s"flatmap on $o")
      }

    // flat_map2: lockstep, cut at the shorter side (Interpret.v:7-11)
    case EFlatmap2(e1, e2, x1, x2, e3) =>
      val a = elems(interp(e1, env)); val b = elems(interp(e2, env))
      VList(a.zip(b).flatMap { case (v1, v2) =>
        elems(interp(e3, env.bind(x1, v1).bind(x2, v2)))
      })

    // fold_right (Interpret.v:313-319): step sees (x = element, acc)
    case EFold(l, z, x, acc, step) => interp(l, env) match {
      case VList(xs) => xs.foldRight(interp(z, env))((v, a) =>
        interp(step, env.bind(x, v).bind(acc, a)))
      case o => err(s"fold on $o")
    }

    case EACFold(agg, e1) =>
      val xs = elems(interp(e1, env))
      agg match {
        case AGSum => VI(xs.map(asI).sum)
        case AGCount => VI(BigInt(xs.size))
      }

    // init VOption None; min/max over TInt (Interpret.v:218-239)
    case EACIFold(agg, e1) =>
      val xs = elems(interp(e1, env)).map(asI)
      if (xs.isEmpty) VOpt(None)
      else VOpt(Some(VI(agg match {
        case AGMin => xs.min
        case AGMax => xs.max
      })))

    case EBagOf(l) => VBag(sortedV(elems(interp(l, env))))
    case ESetOf(l) => VSet(listToSet(elems(interp(l, env))))
  }

  /** interp_command (fiat2/src/fiat2/Interpret.v:503-524): returns the
    * final store. `CLetMut` scopes its cell (binding restored after the
    * body — `map.update` with the saved entry). */
  def run(c: Command, env: REnv): REnv = c match {
    case CSkip => env
    case CSeq(c1, c2) => run(c2, run(c1, env))
    case CLet(e, x, body) =>
      // env binding is scoped to the body; the STORE updates persist
      val after = run(body, env.bind(x, interp(e, env)))
      after.copy(vars = env.vars)
    case CLetMut(e, x, body) =>
      val saved = env.store.get(x)
      val after = run(body,
        env.copy(store = env.store + (x -> interp(e, env))))
      saved match {
        case Some(v) => after.copy(store = after.store + (x -> v))
        case None => after.copy(store = after.store - x)
      }
    case CAssign(x, e) =>
      env.copy(store = env.store + (x -> interp(e, env)))
    case CIf(e, c1, c2) =>
      if (asB(interp(e, env))) run(c1, env) else run(c2, env)
    case CForeach(e, x, body) => interp(e, env) match {
      case VList(xs) => xs.foldLeft(env)((acc, v) => run(body, acc.bind(x, v)))
      case o => err(s"foreach over $o")
    }
  }

  // -------------------------------------------------------------------------
  // Bridges to the compiled world (used by the differential harness).
  // -------------------------------------------------------------------------

  /** Convert a value collected from a compiled plan (Row / Seq / scalar,
    * under the engine's type mapping — `Compiler.sparkType`) into a `V`,
    * guided by the language type. */
  def fromSpark(a: Any, t: FType): V = (t, a) match {
    case (TOption(_), null) => VOpt(None)
    // boxed nested option (Compiler.sparkType: single-field struct "s")
    case (TOption(u @ TOption(_)), r: org.apache.spark.sql.Row) =>
      VOpt(Some(fromSpark(r.get(0), u)))
    case (TOption(u), x) => VOpt(Some(fromSpark(x, u)))
    case (_, null) => err(s"null at non-option type $t")
    case (TInt, x: Long) => VI(BigInt(x))
    case (TInt, x: Array[Byte]) => // bignum tier: canonical ordered bytes
      VI(BigInt(graft.functions.BigIntMath.decode(x)))
    case (TWord, x: Long) => VW(x)
    case (TWord, x: Array[Byte]) => // widths ≥ 65: fixed-length BE bytes
      VWide(BigInt(new java.math.BigInteger(1, x)))
    case (TBool, x: Boolean) => VB(x)
    case (TString, x: String) => VS(x)
    case (TUnit, _) => VUnit
    case (TList(u), s: scala.collection.Seq[_]) =>
      VList(s.map(fromSpark(_, u)).toVector)
    case (TBag(u), s: scala.collection.Seq[_]) =>
      VBag(s.map(fromSpark(_, u)).toVector)
    case (TSet(u), s: scala.collection.Seq[_]) =>
      VSet(s.map(fromSpark(_, u)).toVector)
    case (TDict(kt, vt), s: scala.collection.Seq[_]) =>
      VDict(s.map { e =>
        val r = e.asInstanceOf[org.apache.spark.sql.Row]
        (fromSpark(r.get(r.fieldIndex("key")), kt),
          fromSpark(r.get(r.fieldIndex("value")), vt))
      }.toVector)
    case (TRecord(fs), r: org.apache.spark.sql.Row) =>
      VRec(fs.sortBy(_._1).map { case (n, u) =>
        n -> fromSpark(r.get(r.fieldIndex(n)), u)
      }.toVector)
    case _ => err(s"cannot decode $a at type $t")
  }

  /** Rebuild a value as a `Lang` expression of the given type — the literal
    * injection the random-program generator uses for leaves. Scalars become
    * atoms; collections become insert/cons chains onto typed empties, which
    * also exercises the constructors themselves. */
  def literal(v: V, t: FType): Expr = (v, t) match {
    case (VI(x), TInt) =>
      require(x.isValidLong, s"literal out of Long range: $x")
      EAtom(AInt(x.toLong))
    case (VW(x), TWord) => EAtom(AWord(x))
    case (VB(x), TBool) => EAtom(ABool(x))
    case (VS(x), TString) => EAtom(AString(x))
    case (VUnit, TUnit) => EAtom(AUnit)
    case (VOpt(None), TOption(u)) => EAtom(ANone(u))
    case (VOpt(Some(x)), TOption(u)) => EUnop(OSome, literal(x, u))
    case (VList(xs), TList(u)) =>
      xs.foldRight(EAtom(ANil(u)): Expr)((x, acc) =>
        EBinop(OCons, literal(x, u), acc))
    case (VBag(xs), TBag(u)) =>
      xs.foldLeft(EAtom(AEmptyBag(u)): Expr)((acc, x) =>
        EBinop(OBagInsert, acc, literal(x, u)))
    case (VSet(xs), TSet(u)) =>
      xs.foldLeft(EAtom(AEmptySet(u)): Expr)((acc, x) =>
        EBinop(OSetInsert, acc, literal(x, u)))
    case (VDict(es), TDict(kt, vt)) =>
      es.foldLeft(EAtom(AEmptyDict(kt, vt)): Expr)((acc, e) =>
        ETernop(OInsert, acc, literal(e._1, kt), literal(e._2, vt)))
    case (VRec(fs), TRecord(fts)) =>
      ERecord(fs.toList.map { case (n, x) =>
        n -> literal(x, fts.find(_._1 == n)
          .getOrElse(err(s"no field type for $n"))._2)
      })
    case _ => err(s"literal: value $v does not match type $t")
  }
}
