package graft.lang

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression,
  GenericRowWithSchema, Literal, RuntimeReplaceable, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Fiat2
import graft.functions.{BigIntOps, WordOps}

/** Compiles `Lang` expressions to Spark plans. Two levels, mirroring the
  * reference's table/value split (tables are list-of-record globals,
  * fiat2/src/fiat2/Language.v:214):
  *
  *  - value level → `Column` expression trees (codegen'd, never UDFs);
  *  - table level → `DataFrame` logical plans, so filters/joins/projections
  *    become relational operators that Catalyst optimizes — the rewrites the
  *    reference proves by hand (SURVEY.md §4.2) fall out of `PushDownPredicates`,
  *    `ColumnPruning`, `ReorderJoin`, etc.
  *
  * Table DataFrame convention: record elements → one column per (name-sorted)
  * field; scalar elements → a single column named `value`.
  */
object Compiler {
  import Lang._

  sealed trait Val
  final case class CV(c: Column) extends Val
  final case class TV(df: DataFrame) extends Val

  final case class Env(vars: Map[String, Val], store: Map[String, DataFrame],
      spark: SparkSession, rowVars: Set[String] = Set.empty,
      scalars: Map[String, Column] = Map.empty,
      // index handles for store tables whose entry is a keyed cache
      // (IndexTransf) — lets CAssign cons-inserts maintain the index
      // incrementally (cons_to_insert_head) instead of degrading to a
      // plain unkeyed union
      indexes: Map[String, graft.operators.DictIndex] = Map.empty,
      // composed-index handles (compo_idx): base table name → the record of
      // components; a cons-insert updates EVERY component (compo_idx_wf)
      compoIndexes: Map[String, graft.operators.CompoIndex] = Map.empty,
      // the bignum TInt tier: arbitrary-precision integers in BinaryType
      // columns under BigIntMath's order-preserving canonical encoding
      // (functions/BigIntOps.scala) — the reference's actual unbounded Z
      // (fiat2/src/fiat2/Value.v:12), memory-bounded only. autoWide
      // escalates narrow → big; set once when building the Env.
      bigInt: Boolean = false,
      // TWord width (the reference is width-parametric, `Section WithWord`
      // fiat2/src/fiat2/Language.v:4): 64 (default) or 32 — selects the
      // WordOps bundle and canonicalizes AWord literals. Set once when
      // building the Env, like bigInt.
      wordWidth: Int = 64,
      // SCOPED index annotations (IndexTransf.transformScoped): CLetMut
      // binder → attributes its body loop-point-filters on. The analog of
      // the reference's per-program index_choices (Ex_Orders.v:56-67);
      // Interp.CLetMut performs the physical re-representation at bind
      // time (transf_to_idx under the letmut, OptimizeAnno.v:282-288)
      indexHints: Map[String, Seq[String]] = Map.empty,
      // The fiat2 type of every variable and of every store cell (tables
      // and scalar cells alike). An entry point (`compile`, `Interp.run`,
      // `Optimize.transform`) completes them with `typed` and typechecks
      // the program against them; from there on every binder is bound
      // with its type, so the compiler reads a subtree's type off them
      // (`synthLite`) instead of guessing it.
      varTypes: Map[String, FType] = Map.empty,
      storeTypes: Map[String, FType] = Map.empty) {
    def bind(x: String, v: Val, t: FType): Env =
      copy(vars = vars + (x -> v), rowVars = rowVars - x,
        varTypes = varTypes + (x -> t))
    /** Bind a PLAN-ATTRIBUTE row variable (a table operator's binder). Such
      * variables must not leak into a nested table operator's lambda — the
      * attribute references would mis-resolve (silently, for the same table).
      */
    def bindRow(x: String, v: Val, t: FType): Env =
      copy(vars = vars + (x -> v), rowVars = rowVars + x,
        varTypes = varTypes + (x -> t))
    /** `x` bound as it is in `outer` (unbound if it is not) — a scoped
      * binder's restore on leaving its scope. */
    def restoreVar(x: String, outer: Env): Env = copy(
      vars = outer.vars.get(x).fold(vars - x)(v => vars + (x -> v)),
      rowVars = if (outer.rowVars(x)) rowVars + x else rowVars - x,
      varTypes =
        outer.varTypes.get(x).fold(varTypes - x)(t => varTypes + (x -> t)))
    /** Store table `x` bound to `df`, of type `t`. */
    def withTable(x: String, df: DataFrame, t: FType): Env =
      copy(store = store + (x -> df), storeTypes = storeTypes + (x -> t))
  }

  /** The fiat2 type a Spark column type encodes, None for one with no
    * fiat2 reading (double, timestamp, `array<float>`, …). Long and int
    * columns read as TInt (on the bignum tier, its binary encoding too);
    * a word reads as a Long or binary column just the same, so words are
    * never inferred: they are declared. */
  private def columnType(dt: DataType, bigInt: Boolean): Option[FType] =
    dt match {
      case LongType | IntegerType => Some(TInt)
      case BinaryType if bigInt => Some(TInt)
      case StringType => Some(TString)
      case BooleanType => Some(TBool)
      case ArrayType(et, _) => columnType(et, bigInt).map(TList(_))
      case MapType(k, v, _) =>
        for (kt <- columnType(k, bigInt); vt <- columnType(v, bigInt))
          yield TDict(kt, vt)
      case st: StructType =>
        val fs = st.fields.toList.map(f =>
          columnType(f.dataType, bigInt).map(f.name -> _))
        if (fs.forall(_.isDefined)) Some(TRecord(fs.flatten.sortBy(_._1)))
        else None
      case _ => None
    }

  /** The type of an undeclared store table, read from its schema: a list
    * of the records it encodes (the scalar of a `value` table), with every
    * column that has no fiat2 type left out of the record. */
  private def schemaType(schema: StructType, bigInt: Boolean): Option[FType] =
    if (schema.fieldNames.sameElements(Array("value")))
      columnType(schema.head.dataType, bigInt).map(TList(_))
    else Some(TList(TRecord(schema.fields.toList.flatMap(f =>
      columnType(f.dataType, bigInt).map(f.name -> _)).sortBy(_._1))))

  /** `env` with a type for every store table: a declared type wins, an
    * undeclared table is typed from its schema. Variables and scalar cells
    * are typed where they are bound (an env passed in declares them). */
  def typed(env: Env): Env = {
    val undeclared = env.store.collect {
      case (t, df) if !env.storeTypes.contains(t) =>
        schemaType(df.schema, env.bigInt).map(t -> _)
    }.flatten
    if (undeclared.isEmpty) env
    else env.copy(storeTypes = env.storeTypes ++ undeclared)
  }

  /** Is this (possibly wrapped) failure a TInt value leaving the narrow
    * tier's range? Decided by error condition and type, never by message
    * text, walking the cause chain (a failure can arrive wrapped):
    *  - the DIRECTED error of a checked scalar op or `tierSum`
    *    (`raise_error`: condition USER_RAISED_EXCEPTION) whose message
    *    parameter starts with `Fiat2.TIntOverflowMarker`;
    *  - NUMERIC_VALUE_OUT_OF_RANGE: a narrow-tier Decimal(38,0) partial
    *    sum (`tierSum`, the table sum) past 10^38;
    *  - `Fiat2.TIntOverflow`: the eager table-sum range check.
    * ANSI's long overflow (ARITHMETIC_OVERFLOW) is not one: every narrow
    * TInt op is checked before ANSI sees it, so it is some other fault. */
  def isTIntOverflow(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
      case _: Fiat2.TIntOverflow => true
      case t: SparkThrowable => Option(t.getCondition).exists { c =>
        c.startsWith("NUMERIC_VALUE_OUT_OF_RANGE") ||
          c == "USER_RAISED_EXCEPTION" &&
            Option(t.getMessageParameters.get("errorMessage"))
              .exists(_.startsWith(Fiat2.TIntOverflowMarker))
      }
      case _ => false
    }

  /** TIERED TInt execution — the engine's AUTO stance on the reference's
    * unbounded `Z` (fiat2/src/fiat2/Value.v:12): run the program on the
    * fast, overflow-checked 64-bit mapping first; if a TInt value leaves
    * its range anywhere (`isTIntOverflow`: eager table folds at compile
    * time, checked scalar ops and sums at action time), re-run the SAME
    * program ONCE on the BIGNUM mapping (`Env.bigInt`): arbitrary-precision
    * BinaryType columns under BigIntMath's order-preserving encoding —
    * the reference's exact value, bounded only by memory. The common case
    * pays zero widening cost; the overflowing case pays one extra
    * (narrow, aborted) run — one speculation, one exact fallback.
    *
    * `run` receives the tier's Env (`bigInt` per tier) and must
    * (a) rebuild any TInt store columns for the tier's type — Long vs
    * canonical bytes (BigIntOps.fromLong); `Store.bind` does this from a
    * store declaration — and (b) MATERIALIZE its result (run the
    * action): an overflow that only surfaces after this call returns is
    * too late to re-tier. Program-level entry points are eager anyway,
    * like the reference interpreter. Sound to replay because programs are
    * pure — the narrow run's partial effects live only in its discarded
    * Env. */
  def autoWide[A](env: Env)(run: Env => A): A =
    try run(env.copy(bigInt = false))
    catch { case e: Throwable if isTIntOverflow(e) =>
      logTierEscalation("narrow -> bignum", e)
      run(env.copy(bigInt = true))
    }

  /** `autoWide` for TABLE-valued programs: `build` returns the program's
    * result DataFrame; the tier MATERIALIZES it via cache + count so a
    * narrow-tier overflow surfaces INSIDE the tier (the autoWide
    * contract — an overflow after return is too late to re-tier) while
    * the caller's consumers read the cached rows without recompute. The
    * cache is dropped by the harnesses between queries/reps (Bench and
    * Verify both clearCache), so every bench rep still pays the
    * full plan cost; a failed attempt unpersists its own half-built
    * cache before re-tiering. */
  def autoWideTable(env: Env)(build: Env => DataFrame): DataFrame =
    autoWide(env) { e =>
      val df = build(e)
      df.cache()
      try { df.count(); df }
      catch { case t: Throwable => df.unpersist(blocking = false); throw t }
    }

  /** A program's store, declared once per table: the columns it loads, in
    * load order, with their fiat2 types. The one declaration gives both
    * the store types a program is checked against and, for whichever tier
    * runs, the store frames — contract (a) of `autoWide`. */
  final case class Store(tables: (String, Seq[(String, FType)])*) {
    /** Each table as a bag of its declared records. */
    def types: Map[String, FType] = tables.map { case (t, cols) =>
      t -> (TBag(TRecord.sorted(cols: _*)): FType) }.toMap

    /** `env` with each declared table loaded from `dir`, narrowed to its
      * columns and typed by its declaration (unless `env` types it). A
      * TInt column takes the tier's representation: Long, or BigIntOps
      * bytes on the bignum tier; every other column loads as stored. */
    def bind(env: Env, dir: String): Env = env.copy(store = tables.map {
      case (t, cols) => t -> graft.core.Tables.load(env.spark, dir, t)
        .select(cols.map {
          case (c, TInt) => intCol(col(c).cast(LongType), env).as(c)
          case (c, _) => col(c)
        }: _*)
    }.toMap, storeTypes = types ++ env.storeTypes)
  }

  private lazy val tierLog = org.slf4j.LoggerFactory.getLogger("graft.tint")

  /** ONE line per tier escalation, naming the overflow that caused it.
    * The aborted narrow run's task failures still reach Spark's own logs
    * (`ERROR TaskSetManager`); this line marks them as the expected
    * retry. Log levels are left alone: they are process-global, and
    * other requests run concurrently. */
  private def logTierEscalation(hop: String, e: Throwable): Unit = {
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .flatMap(t => Option(t.getMessage)).toSeq.lastOption.getOrElse("")
    tierLog.info(s"TInt tier escalation $hop (expected, re-running the " +
      s"program on the bignum mapping): ${msg.linesIterator.take(1).mkString}")
  }

  /** A TInt-producing Long column, re-encoded for the bignum tier (the
    * narrow tier consumes raw Longs; BinaryType has no implicit coercion,
    * so every TInt PRODUCER must encode on the big tier). */
  private def intCol(c: Column, env: Env): Column =
    if (env.bigInt) BigIntOps.fromLong(c) else c

  /** TInt ZERO at the env's tier — the sum default on no-match rows (the
    * big tier needs the canonical byte encoding). */
  private def tintZero(env: Env): Column =
    if (env.bigInt) lit(graft.functions.BigIntMath.ZERO_BYTES) else lit(0L)

  /** Distributed TInt SUM at the env's tier. The NARROW tier sums in
    * Decimal(38,0) partials and range-checks each group at read time,
    * raising the DIRECTED TInt-overflow error (autoWide's re-tier signal)
    * instead of ANSI's bare long-overflow — the same stance as the eager
    * table-sum check in EACFold below, applied to the DECORRELATED
    * per-key/per-outer aggregates so the corr family rides the tiers too
    * (OVERFLOW_r14 measured q_lang_corr_nonequi.sum_below crossing int64
    * at ~191x and ANSI-throwing; with this check the program re-tiers
    * onto the exact bignum mapping instead — as it does when the Decimal
    * partials themselves pass 10^38). The big tier sums canonical bytes
    * map-side (BigIntSumAgg). */
  private def tierSum(v: Column, env: Env): Column =
    if (env.bigInt) BigIntOps.sumCol(v)
    else {
      val w = sum(v.cast(DecimalType(38, 0)))
      val hi = lit(new java.math.BigDecimal(Long.MaxValue))
      val lo = lit(new java.math.BigDecimal(Long.MinValue))
      // CaseWhen evaluates branches lazily, so raise_error only fires on
      // an out-of-range group; a null sum (unmatched left-join row) falls
      // through both comparisons to the cast, which preserves the null
      when(w > hi || w < lo, raise_error(concat(
        lit(s"${Fiat2.TIntOverflowMarker}: correlated aggregate sum "),
        w.cast(StringType), lit(" exceeds the 64-bit default mapping")))
        .cast(LongType))
        .otherwise(w.cast(LongType))
    }

  /** The type of `e` in `env`. Every binder and store cell is typed (see
    * `Env`), so synthesis of a subtree of a typechecked program succeeds. */
  private[lang] def synthLite(e: Expr, env: Env): FType =
    TypeCheck.synthesize(e, env.varTypes, env.storeTypes)

  /** Element type of a collection-valued expression. */
  private def synthElem(e: Expr, env: Env): FType =
    TypeCheck.elemOf(synthLite(e, env))

  /** A row type extended with `fields`: a record's own fields, or a
    * scalar row's `value` column, plus the new ones — the type of a frame
    * the decorrelation widens with hoisted columns. */
  private def withFields(t: FType, fields: Seq[(String, FType)]): FType =
    TRecord.sorted(((t match {
      case TRecord(fs) => fs.toMap
      case _ => Map("value" -> t)
    }) ++ fields).toSeq: _*)

  /** Reject correlation of an outer table-row variable into a nested
    * table-level operator (fiat2 interprets these nested-loop-style; a
    * distributed engine needs the EJoin form — and on the SAME table the
    * attribute ids would collide and silently produce wrong results). */
  private def assertUncorrelated(env: Env, binders: Set[String],
      lambdas: Expr*): Unit = {
    val free = lambdas.flatMap(Rewrites.freeVars).toSet -- binders
    val leaked = free & env.rowVars
    if (leaked.nonEmpty)
      throw new UnsupportedOperationException(
        s"table operator's lambda references outer table-row variable(s) " +
          s"$leaked - a correlated table subquery; rewrite as EJoin (or a " +
          "flatmap/if/cons comprehension, which Rewrites.normalize " +
          "recognizes as a join)")
  }

  /** The Spark type of a fiat2 type. `bigInt` maps `TInt` to the bignum
    * tier's canonical bytes instead of the checked Long — the path for
    * programs whose Coq-`Z` arithmetic overflows a 64-bit long (README
    * "Known divergences": TInt is unbounded in the reference), while
    * `TWord` keeps its machine-word wrap semantics at `wordWidth`. */
  def sparkType(t: FType, wordWidth: Int = 64,
      bigInt: Boolean = false): DataType = t match {
    case THole => throw new UnsupportedOperationException(
      "unelaborated type hole - compile through an entry point, which " +
        "elaborates the program first")
    // bignum tier: order-preserving canonical bytes (BigIntMath) — binary
    // lexicographic IS numeric order, so native compare/sort/group work
    case TInt if bigInt => BinaryType
    // TWord's physical type follows the width family (WordOps.forWidth):
    // sign-extended Long through 64, fixed-length byte residues beyond
    case TWord if wordWidth > 64 => BinaryType
    case TWord | TInt => LongType
    case TBool => BooleanType
    case TString => StringType
    case TUnit => NullType
    // options are nullable columns of the inner type — EXCEPT an option
    // DIRECTLY over an option, which boxes the inner in a single-field
    // struct so Some(None) (non-null struct holding null) stays distinct
    // from None (null struct). The box recurses: TOption^n nests n-1
    // boxes. Closed in r11 — formerly the nested-option-flattening
    // divergence (the reference's values nest freely, Value.v:5-22).
    case TOption(u @ TOption(_)) => StructType(Seq(
      StructField("s", sparkType(u, wordWidth, bigInt))))
    case TOption(u) => sparkType(u, wordWidth, bigInt)
    case TList(u) => ArrayType(sparkType(u, wordWidth, bigInt))
    case TBag(u) => ArrayType(sparkType(u, wordWidth, bigInt))
    case TSet(u) => ArrayType(sparkType(u, wordWidth, bigInt))
    case TDict(k, v) => ArrayType(StructType(Seq(
      StructField("key", sparkType(k, wordWidth, bigInt)),
      StructField("value", sparkType(v, wordWidth, bigInt)))))
    case TRecord(fs) => StructType(
      fs.sortBy(_._1).map { case (n, u) =>
        StructField(n, sparkType(u, wordWidth, bigInt)) })
  }

  /** Fresh alias ids for flatmap decorrelation — nested correlated
    * flatmaps each need distinct left/right join aliases. */
  private val latIds = new java.util.concurrent.atomic.AtomicInteger

  /** Find the first `EIf` in a COLLECTION position inside a flatmap body
    * whose condition references the outer binder `x` but no binder
    * introduced between the body root and the node — the
    * correlated-CONDITIONAL table body (`for x in t1: if p(x) then legA
    * else legB`, reference semantics Interpret.v:299-303 evaluate the
    * condition per outer row and take ONE leg). Returns the condition and
    * the body with the conditional replaced by each leg; the caller splits
    * the OUTER table on the condition and unions the two arms. Only
    * collection positions are walked: a scalar `EIf` (record field,
    * predicate) compiles to a per-row `when` and needs no split. */
  private def splitTableIf(e0: Expr, x: String): Option[(Expr, Expr, Expr)] = {
    type Split = (Expr, Expr, Expr)
    def go(e: Expr, sh: Set[String]): Option[Split] = e match {
      case EIf(c, a, b) =>
        val fv = Rewrites.freeVars(c)
        if (fv.contains(x) && fv.intersect(sh).isEmpty) Some((c, a, b))
        else go(a, sh).map { case (c2, aa, bb) =>
            (c2, EIf(c, aa, b), EIf(c, bb, b)) }
          .orElse(go(b, sh).map { case (c2, aa, bb) =>
            (c2, EIf(c, a, aa), EIf(c, a, bb)) })
      case EProj(t, l, y, r) => go(l, sh).map { case (c, aa, bb) =>
        (c, EProj(t, aa, y, r), EProj(t, bb, y, r)) }
      case EFilter(t, l, y, p) => go(l, sh).map { case (c, aa, bb) =>
        (c, EFilter(t, aa, y, p), EFilter(t, bb, y, p)) }
      case ESort(t, l) => go(l, sh).map { case (c, aa, bb) =>
        (c, ESort(t, aa), ESort(t, bb)) }
      case EBagOf(l) => go(l, sh).map { case (c, aa, bb) =>
        (c, EBagOf(aa), EBagOf(bb)) }
      case ESetOf(l) => go(l, sh).map { case (c, aa, bb) =>
        (c, ESetOf(aa), ESetOf(bb)) }
      case EJoin(t, l1, l2, a, b, p, r) =>
        go(l1, sh).map { case (c, aa, bb) =>
            (c, EJoin(t, aa, l2, a, b, p, r), EJoin(t, bb, l2, a, b, p, r)) }
          .orElse(go(l2, sh).map { case (c, aa, bb) =>
            (c, EJoin(t, l1, aa, a, b, p, r), EJoin(t, l1, bb, a, b, p, r)) })
      case EFlatmap(t, l, y, b) =>
        go(l, sh).map { case (c, aa, bb) =>
            (c, EFlatmap(t, aa, y, b), EFlatmap(t, bb, y, b)) }
          .orElse(go(b, sh + y).map { case (c, aa, bb) =>
            (c, EFlatmap(t, l, y, aa), EFlatmap(t, l, y, bb)) })
      case EFlatmap2(l1, l2, y1, y2, b) =>
        go(l1, sh).map { case (c, aa, bb) =>
            (c, EFlatmap2(aa, l2, y1, y2, b), EFlatmap2(bb, l2, y1, y2, b)) }
          .orElse(go(l2, sh).map { case (c, aa, bb) =>
            (c, EFlatmap2(l1, aa, y1, y2, b), EFlatmap2(l1, bb, y1, y2, b)) })
      case ELet(a, y, b) => go(b, sh + y).map { case (c, aa, bb) =>
        (c, ELet(a, y, aa), ELet(a, y, bb)) }
      case EOptMatch(s, n, y, sm) =>
        go(n, sh).map { case (c, aa, bb) =>
            (c, EOptMatch(s, aa, y, sm), EOptMatch(s, bb, y, sm)) }
          .orElse(go(sm, sh + y).map { case (c, aa, bb) =>
            (c, EOptMatch(s, n, y, aa), EOptMatch(s, n, y, bb)) })
      case EBinop(OConcat, a, b) =>
        go(a, sh).map { case (c, aa, bb) =>
            (c, EBinop(OConcat, aa, b), EBinop(OConcat, bb, b)) }
          .orElse(go(b, sh).map { case (c, aa, bb) =>
            (c, EBinop(OConcat, a, aa), EBinop(OConcat, a, bb)) })
      case _ => None
    }
    go(e0, Set.empty)
  }

  /** Inline `ELet` bindings whose bound expression references the outer
    * binder `x` — a let-bound correlated aggregate (`let v = len(σ[corr]
    * T) in body`) is invisible to the aggregate unnester until the binder
    * is substituted back to its definition sites. Sound because the
    * language is pure (duplication only duplicates computation, and the
    * unnester computes each distinct aggregate once). Skipped when the
    * body rebinds the let variable or any free variable of the bound
    * expression (capture) — those keep the directed error. */
  private def inlineCorrelatedLets(e0: Expr, x: String): Expr =
    Rewrites.foldExpr(e0) {
      case e @ ELet(a, v, b)
          if Rewrites.freeVars(a).contains(x) && !bindsVar(b, v) &&
            !Rewrites.freeVars(a).exists(fv => bindsVar(b, fv)) =>
        Rewrites.foldExpr(b) { case EVar(`v`) => a; case other => other }
      case e => e
    }

  /** OUTERMOST aggregate nodes inside `r` whose SOURCE is correlated on
    * the projection binder `x` — the correlated-scalar-subquery shape
    * (`len(u <- T; check(u.k == x.k); ret u)` and friends) that
    * `projCorrelatedAggs` unnests. */
  private def collectCorrelatedAggs(r: Expr, x: String): List[Expr] = {
    val buf = scala.collection.mutable.ListBuffer.empty[Expr]
    def walk(e: Expr): Unit = e match {
      case EACFold(_, s0) if Rewrites.freeVars(s0).contains(x) => buf += e
      case EACIFold(_, s0) if Rewrites.freeVars(s0).contains(x) => buf += e
      case EUnop(OLength, s0) if Rewrites.freeVars(s0).contains(x) => buf += e
      // sequential/ordered consumers of a correlated table: the SOURCE is
      // rewritten to a per-outer-row canonical array (the node itself
      // stays for EFold — its init/step may hold further correlated
      // aggregates, so keep walking them)
      case e2 @ EFold(s0, z, _, _, st)
          if Rewrites.freeVars(s0).contains(x) =>
        buf += e2; walk(z); walk(st)
      case e2 @ ESort(_, s0) if Rewrites.freeVars(s0).contains(x) =>
        buf += e2
      case _ => Rewrites.children(e).foreach(walk)
    }
    walk(r)
    buf.toList.distinct
  }

  /** Does `e0` bind `x` anywhere (any binder form)? Guards syntactic
    * substitutions on the flatmap binder against capture by shadowing. */
  private def bindsVar(e0: Expr, x: String): Boolean = {
    def binders(e: Expr): Seq[String] = e match {
      case ELet(_, b, _) => Seq(b)
      case EOptMatch(_, _, b, _) => Seq(b)
      case EDictFold(_, _, k, v, a, _) => Seq(k, v, a)
      case EFilter(_, _, b, _) => Seq(b)
      case EJoin(_, _, _, a, b, _, _) => Seq(a, b)
      case EProj(_, _, b, _) => Seq(b)
      case EFlatmap(_, _, b, _) => Seq(b)
      case EFlatmap2(_, _, a, b, _) => Seq(a, b)
      case EFold(_, _, b, a, _) => Seq(b, a)
      case _ => Nil
    }
    binders(e0).contains(x) || Rewrites.children(e0).exists(bindsVar(_, x))
  }

  /** Peel a correlated aggregate source into [optional value projection]
    * over [an optional correlated EFlatmap] over [a chain of filters] over
    * an uncorrelated core. A projection value that itself references `x`
    * is allowed — it forces the distinct-outer path (both rows are in
    * scope there), never the keyed groupBy. `subst`, when set,
    * marks the LAYERED shape (canonicalization wrappers between the
    * aggregate and the chain): the filter-chain subtree to substitute with
    * the per-outer-row collected array, leaving the wrapper layers to
    * compile as nested collection ops over it. `flat`, when set, is a
    * flatmap layer whose BODY may reference the outer row — each
    * (outer, inner) pair contributes the body's whole array, so the
    * consumers explode (aggregates) or flatten (sorted collections) the
    * per-pair arrays; `sortedAboveFlat` records an explicit ESort above
    * the flatmap, the only thing that makes its order observable to an
    * order-dependent consumer. */
  private final case class PeeledSrc(core: Expr,
      filters: List[(String, Expr)], proj: Option[(String, Expr)],
      subst: Option[Expr] = None, flat: Option[(String, Expr)] = None,
      sortedAboveFlat: Boolean = false)
  private def peelCorrelated(x: String, src0: Expr): Option[PeeledSrc] = {
    var proj: Option[(String, Expr)] = None
    var cur = src0
    // a sort layer (the list-typed `EFold(ESort(bag), ...)` idiom) is the
    // identity here: the unnesting collects a canonically-SORTED array
    var sawSort = false
    cur match {
      case ESort(_, l0) => sawSort = true; cur = l0
      case _ => ()
    }
    // STACKED projection layers compose by substitution (normalize turns
    // single-element flatmap bodies into projections, so π over π is a
    // routine shape here): π(pbO,pvO)(π(pbI,pvI)(l)) ≡ π(pbI, pvO[pbO:=pvI])(l).
    // Binders are assumed unique (the compiler-wide substitution stance),
    // so the inner value cannot be captured by the outer one's binders.
    var going = true
    while (going) cur match {
      case EProj(_, l0, pb, pv) =>
        proj = proj match {
          case None => Some((pb, pv))
          case Some((ob, opv)) => Some((pb, Rewrites.foldExpr(opv) {
            case EVar(b) if b == ob => pv
            case o => o
          }))
        }
        cur = l0
      case _ => going = false
    }
    // a CORRELATED flatmap layer (body references the outer row, or the
    // chain below it does): peel it — the reference nested-loops the
    // (outer × inner) product and concatenates the body arrays
    // (Interpret.v:273-299); the unnesting reproduces that product with a
    // distinct-outer join and explodes/flattens the per-pair arrays
    var flat: Option[(String, Expr)] = None
    cur match {
      case EFlatmap(_, l0, fb, fbody)
          if Rewrites.freeVars(cur).contains(x) =>
        flat = Some((fb, fbody)); cur = l0
      case _ => ()
    }
    var filters = List.empty[(String, Expr)]
    while (Rewrites.freeVars(cur).contains(x)) cur match {
      case EFilter(_, l0, b, p) => filters ::= ((b, p)); cur = l0
      case _ =>
        // wrapper layers in the way — but only the no-flatmap shape has
        // a layered fallback; a correlated core under a flatmap is out
        return if (flat.isEmpty) peelLayered(x, src0) else None
    }
    // proj-ONLY correlation (no tying filter at all) is still peelable:
    // the aggregate runs over the FULL inner table per outer row — the
    // reference nested-loops that exact product, and the distinct-outer
    // join below reproduces it with a true join condition
    if (flat.isEmpty && filters.isEmpty && !proj.exists(p =>
        Rewrites.freeVars(p._2).contains(x))) None
    else Some(PeeledSrc(cur, filters, proj, flat = flat,
      sortedAboveFlat = sawSort))
  }

  /** LAYERED peel: the aggregate's source holds ESetOf/EBagOf (and
    * possibly EProj/ESort) layers ABOVE the correlated filter chain —
    * `len(setof(σ[corr] T))`, `sum(π(bagof(σ[corr] T)))`. The aggregates
    * this feeds are multiset functions and the wrappers re-canonicalize,
    * so substituting the chain with its per-outer-row canonically-sorted
    * array (the ESort/EFold collection path) is order-safe; the layers
    * then run as nested-collection ops over the array. Only engaged when
    * a wrapper layer is present — plain chains keep the cheaper
    * aggregate-pushdown paths. */
  private def peelLayered(x: String, src0: Expr): Option[PeeledSrc] = {
    var sawWrapper = false
    def chainOf(e: Expr): Option[Expr] = e match {
      case EFilter(_, _, _, _) => Some(e)
      case ESort(_, l) => chainOf(l)
      case EProj(_, l, _, _) => chainOf(l)
      case EBagOf(l) => sawWrapper = true; chainOf(l)
      case ESetOf(l) => sawWrapper = true; chainOf(l)
      // a flatmap between the wrappers and the chain is just another
      // layer: after the chain substitutes to its per-outer-row canonical
      // array, the flatmap compiles as a nested-collection op over it
      // (its body — even an x-referencing one — is scalar-land there,
      // with the outer row in scope). The wrappers above re-canonicalize,
      // so the emission order the flatmap imposes is never observed.
      case EFlatmap(_, l, _, _) => chainOf(l)
      case _ => None
    }
    chainOf(src0).flatMap { chain =>
      if (!sawWrapper) None
      else {
        var filters = List.empty[(String, Expr)]
        var cur = chain
        while (Rewrites.freeVars(cur).contains(x)) cur match {
          case EFilter(_, l0, b, p) => filters ::= ((b, p)); cur = l0
          case _ => return None
        }
        if (filters.isEmpty) None
        else Some(PeeledSrc(cur, filters, None, subst = Some(chain)))
      }
    }
  }

  /** UNNEST correlated scalar aggregates in a table projection — the
    * classic subquery decorrelation (the reference interprets the nested
    * loop, Interpret.v:273-299; a distributed plan needs the join form):
    * for each aggregate over a correlated-filtered table, groupBy the
    * inner side on its equi-keys, LEFT-join the per-key aggregates back
    * onto the (aliased) outer table, and substitute the joined column for
    * the aggregate node. Sum/count default to 0 on no-match; min/max stay
    * null (the ACI None-on-empty). Outer-only conjuncts gate the result
    * per row with CASE WHEN. Join-key equality is the null-safe `<=>`
    * (value_eqb). Correlation the keyed plan cannot express takes the
    * distinct-outer join-then-reaggregate path (see unnestAggsOnce).
    */
  private def projCorrelatedAggs(tag: CollectionTag, df: DataFrame,
      x: String, r: Expr, env: Env, xT: FType): Val = {
    val (joined, benv, r2) = unnestCorrelatedAggs(df, x, r, env, xT)._1
    val res = asCV(lower(r2, benv))
    TV(canonTagDF(tag, flattenResult(joined, res)))
  }

  /** The same unnesting applied to a FILTER predicate holding a correlated
    * scalar aggregate (`filter(T, t => len(σ[s.k == t.k] S) > 2)` — the
    * reference's arbitrary-body semantics put aggregates anywhere an
    * expression goes, Interpret.v:273-299): LEFT-join the per-key
    * aggregates on, evaluate the rewritten predicate, and project the
    * outer row back out. The left join is key-grouped so it never
    * duplicates outer rows — filter cardinality semantics survive.
    * Aggregates group as in a projection; when a conjunct rejects
    * no-match rows (`count > 0`), Catalyst turns the shared left join
    * into an inner one. */
  private def filterCorrelatedAggs(df: DataFrame, x: String, p: Expr,
      env: Env, xT: FType): Val = {
    val ((joined, benv, p2), la) =
      unnestCorrelatedAggs(df, x, p, env, xT)
    val kept = joined.filter(asCV(lower(p2, benv)))
    TV(kept.select(df.columns.map(c => col(s"$la.$c").as(c)): _*))
  }

  /** Correlated aggregates nested INSIDE an aggregate's source — i.e.
    * inside the chain's filter predicates / projection values / core, NOT
    * the chain spine itself (an `ESort`/`EFilter` layer of the source IS
    * the aggregate's own collection idiom, never a nested aggregate). */
  private def aggsInsideSource(s: Expr, x: String): List[Expr] = s match {
    case EFilter(_, l, _, p) =>
      collectCorrelatedAggs(p, x) ++ aggsInsideSource(l, x)
    case EProj(_, l, _, pv) =>
      collectCorrelatedAggs(pv, x) ++ aggsInsideSource(l, x)
    case ESort(_, l) => aggsInsideSource(l, x)
    case EBagOf(l) => aggsInsideSource(l, x)
    case ESetOf(l) => aggsInsideSource(l, x)
    case core => collectCorrelatedAggs(core, x)
  }

  /** INNERMOST correlated aggregates: descend through each node's
    * sub-expressions until a node holds no deeper correlated aggregate —
    * those must unnest FIRST (a doubly-nested aggregate's predicate can
    * only compile once the inner value is an outer-row field). */
  private def innermostAggs(nodes: List[Expr], x: String): List[Expr] =
    nodes.flatMap { n =>
      val inside = (n match {
        case EACFold(_, s) => aggsInsideSource(s, x)
        case EACIFold(_, s) => aggsInsideSource(s, x)
        case EUnop(OLength, s) => aggsInsideSource(s, x)
        case EFold(s, z, _, _, st) => aggsInsideSource(s, x) ++
          collectCorrelatedAggs(z, x) ++ collectCorrelatedAggs(st, x)
        case ESort(_, s) => aggsInsideSource(s, x)
        case _ => Nil
      }).toList
      if (inside.isEmpty) List(n) else innermostAggs(inside, x)
    }.distinct

  /** Iterating wrapper: unnest the innermost correlated aggregates, and
    * while nesting remains (an aggregate held another aggregate — the
    * doubly-nested shape, reference semantics Interpret.v:273-312 nested
    * loops both levels), FLATTEN the augmented frame into a plain table
    * whose extra columns carry the hoisted values, rewrite their reads to
    * outer-row field accesses, and go again. The final round returns the
    * usual (joined, benv, rewritten) triple. */
  private def unnestCorrelatedAggs(df: DataFrame, x: String, r: Expr,
      env: Env, xT: FType): ((DataFrame, Env, Expr), String) = {
    var curDf = df; var curR = r; var curXT = xT
    var rounds = 0
    while (rounds < 6) {
      val nodes = collectCorrelatedAggs(curR, x)
      val inner = innermostAggs(nodes, x)
      val nested = inner.toSet != nodes.toSet
      val ((joined, benv, r2), la) =
        unnestAggsOnce(curDf, x, curR, env, if (nested) inner else nodes,
          curXT)
      if (!nested) return ((joined, benv, r2), la)
      rounds += 1
      val newVars = (benv.vars.keySet -- env.vars.keySet) - x
      curR = Rewrites.foldExpr(r2) {
        case EVar(v) if newVars(v) => EAccess(EVar(x), v)
        case o => o
      }
      curDf = joined.select(
        curDf.columns.map(cn => col(s"$la.$cn").as(cn)) ++
          newVars.toSeq.sorted.map(n => asCV(benv.vars(n)).as(n)): _*)
      // the flattened outer's element type EXTENDS with the hoisted
      // columns, typed by their binds
      curXT = withFields(curXT, newVars.toSeq.map(n => n -> benv.varTypes(n)))
    }
    throw new UnsupportedOperationException(
      "correlated aggregate nesting deeper than 6 levels")
  }

  /** Aggregate sources holding a correlated EJOIN (under optional
    * projection layers) have no peelable chain shape — rewrite the join
    * to FLATMAP form so the flat peel applies: the x-FREE right leg
    * localizes to its canonical array literal (the ≤10k `tableArrayLit`
    * localization correlated zips already use), the per-pair body
    * becomes a pure ARRAY expression (filter + map over the lifted
    * array, both rows in scope), and the left leg's possibly-correlated
    * chain peels as usual. Sound for the order-insensitive consumers the
    * flat peel admits (ACI aggregates, ESort, EFold-over-ESort) — the
    * reference enumerates the join in storage order (Interpret.v:273-299)
    * but those consumers cannot observe it; EFold DIRECTLY over the
    * result keeps the emission-order directed error. */
  private def liftJoinAggSource(src: Expr, x: String,
      env: Env): Option[(Expr, Env)] = src match {
    case EProj(t, l0, pb, pv) =>
      liftJoinAggSource(l0, x, env).map { case (l2, e2) =>
        (EProj(t, l2, pb, pv), e2) }
    // wrapper layers ride the layered peel once the join beneath them is
    // in flatmap form (the corrflat wrapped shapes' path)
    case ESetOf(l0) =>
      liftJoinAggSource(l0, x, env).map { case (l2, e2) => (ESetOf(l2), e2) }
    case EBagOf(l0) =>
      liftJoinAggSource(l0, x, env).map { case (l2, e2) => (EBagOf(l2), e2) }
    case ESort(t, l0) =>
      liftJoinAggSource(l0, x, env).map { case (l2, e2) =>
        (ESort(t, l2), e2) }
    case EJoin(jt, l1, l2, a, b, p, r)
        if Rewrites.freeVars(src).contains(x) &&
          !Rewrites.freeVars(l2).contains(x) &&
          a != x && b != x && !bindsVar(src, x) =>
      val arrOpt =
        // only the compiler's own DIRECTED refusal (an unsupported shape /
        // over-cap localization) may degrade to the generic correlation
        // error — anything else is a genuine defect and must propagate
        try lower(l2, env) match {
          case cv @ CV(_) => Some(asCV(cv))
          case TV(d) =>
            tableArrayLit(d, 10000, synthElem(l2, env), env.wordWidth)
        } catch { case _: UnsupportedOperationException => None }
      arrOpt.map { arr =>
        val n = s"__jaggleg${latIds.incrementAndGet()}"
        (EFlatmap(jt, l1, a,
          EProj(jt, EFilter(jt, EVar(n), b, p), b, r)),
          env.bind(n, CV(arr), synthLite(l2, env)))
      }
    case _ => None
  }

  /** Replace every `ELoc` TABLE reference inside `e` with a bound
    * canonical-array literal (≤10k rows — the zip-leg localization),
    * returning the rewritten expression and the extended env. Wrapped or
    * body-only-correlated aggregate sources with no peelable chain then
    * compile entirely in SCALAR-LAND per outer row — the very nested
    * loop the reference interprets (Interpret.v:273-299), over
    * dimension-sized literals. Tables above the cap return None and keep
    * the directed error: a driver array of an unbounded table is not a
    * plan. */
  private def liftLocsToArrays(e: Expr, env: Env): Option[(Expr, Env)] = {
    val locs = scala.collection.mutable.LinkedHashSet.empty[String]
    Rewrites.foldExpr(e) {
      case l @ ELoc(nm) => locs += nm; l
      case o => o
    }
    var env2 = env
    var mapping = Map.empty[String, String]
    locs.foreach { nm =>
      lower(ELoc(nm), env) match {
        case TV(d) => tableArrayLit(d, 10000, synthElem(ELoc(nm), env),
            env.wordWidth) match {
          case Some(arr) =>
            val n = s"__aggloc${latIds.incrementAndGet()}"
            env2 = env2.bind(n, CV(arr), synthLite(ELoc(nm), env))
            mapping += (nm -> n)
          case None => return None
        }
        case CV(_) => () // scalar cell — already scalar-land
      }
    }
    // no table legs at all (everything already a bound array / scalar
    // cell): the node IS scalar-land — report it lifted unchanged, so
    // iterating rounds that re-collect it terminate instead of throwing
    if (mapping.isEmpty) Some((e, env))
    else Some((Rewrites.foldExpr(e) {
      case ELoc(nm) if mapping.contains(nm) => EVar(mapping(nm))
      case o => o
    }, env2))
  }

  /** Tier-aware read-back of a decorrelated aggregate column: count/sum
    * default to the tier's zero on no-match, ACI folds stay null
    * (None-on-empty); an outer-only gate empties the value per row;
    * counts — computed as a plain Long on every tier — re-encode for the
    * big tier's canonical-byte TInt representation. */
  private def tierAggRead(node: Expr, aCol: Column, gate: Option[Column],
      env: Env): Column = {
    val isCount = node match {
      case EACFold(AGCount, _) | EUnop(OLength, _) => true
      case _ => false
    }
    val zero = if (isCount) lit(0L) else tintZero(env)
    val base = node match {
      case EACIFold(_, _) => aCol
      case _ => coalesce(aCol, zero)
    }
    val gated = gate match {
      case None => base
      case Some(oc) => node match {
        case EACIFold(_, _) => when(oc, base)
        case _ => when(oc, base).otherwise(zero)
      }
    }
    if (isCount) intCol(gated, env) else gated
  }

  private def unnestAggsOnce(df: DataFrame, x: String, r: Expr,
      env0: Env, only: List[Expr], xT: FType)
      : ((DataFrame, Env, Expr), String) = {
    // join-source / scalar-land lifts extend the env with canonical-array
    // binds; every compile below must see them
    var env = env0
    // nodes resolved WITHOUT a join: their table legs lifted to array
    // literals, the whole aggregate left in `r` to compile per outer row
    // in scalar-land (x bound to the outer row struct)
    var rPre = r
    var scalarLifted = false
    val peeled = only.flatMap { node =>
      val src = node match {
        case EACFold(_, s0) => s0
        case EACIFold(_, s0) => s0
        case EUnop(OLength, s0) => s0
        case EFold(s0, _, _, _, _) => s0
        case ESort(_, s0) => s0
        case _ => throw new IllegalStateException("non-aggregate collected")
      }
      var pe0 = peelCorrelated(x, src)
      // a successful join-source lift changes the node's SOURCE subtree;
      // the node in `r` must be rewritten to match, because the layered
      // (subst) path replaces the chain SUBTREE inside the node — keying
      // on the original (join-form) node would leave a CV/TV-mixed join
      // behind
      var nodeU = node
      if (pe0.isEmpty) liftJoinAggSource(src, x, env).foreach {
        case (src2, env2) =>
          val p2 = peelCorrelated(x, src2)
          if (p2.nonEmpty) {
            env = env2
            nodeU = node match {
              case EACFold(ag, _) => EACFold(ag, src2)
              case EACIFold(ag, _) => EACIFold(ag, src2)
              case EUnop(OLength, _) => EUnop(OLength, src2)
              case EFold(_, z, a1, a2, st) => EFold(src2, z, a1, a2, st)
              case ESort(t, _) => ESort(t, src2)
              case o => o
            }
            rPre = Rewrites.foldExpr(rPre)(e0 =>
              if (e0 == node) nodeU else e0)
            pe0 = p2
          }
      }
      // LAST RESORT, order-safe nodes only: no peelable chain in any form
      // (wrapped shapes with body-only correlation, joins under
      // wrappers…) — localize every table leg and let the node compile
      // as a per-row scalar-land expression. A bare EFold keeps the
      // directed error (its fold order is the source's storage order,
      // which the canonical array cannot reproduce); EFold(ESort(…)) is
      // canonical and safe.
      val orderSafe = node match {
        case EFold(s0, _, _, _, _) => s0.isInstanceOf[ESort]
        case _ => true
      }
      val liftedHere = pe0.isEmpty && orderSafe &&
        (liftLocsToArrays(node, env) match {
          case Some((node2, env2)) =>
            env = env2
            rPre = Rewrites.foldExpr(rPre)(e0 =>
              if (e0 == node) node2 else e0)
            scalarLifted = true
            true
          case None => false
        })
      if (liftedHere) None
      else {
        // an EFold DIRECTLY over a correlated flatmap consumes the
        // flatmap's emission order — per-element body-array
        // concatenation, which no distributed plan can observe. An
        // explicit ESort between them makes the order canonical and the
        // per-row flattened-array path applies.
        pe0.foreach { pe =>
          node match {
            case EFold(_, _, _, _, _)
                if pe.flat.nonEmpty && !pe.sortedAboveFlat =>
              throw new UnsupportedOperationException(
                "EFold over a correlated EFlatmap folds in the flatmap's " +
                  "emission order, which a distributed plan cannot observe " +
                  "- sort it first: EFold(ESort(flatmap...), ...)")
            case _ => ()
          }
        }
        pe0.map(p => (nodeU, p))
      }
    }
    if (peeled.isEmpty && !scalarLifted)
      throw new UnsupportedOperationException(
        "correlated aggregate whose source is not a filter chain over an " +
          "uncorrelated table - rewrite with an explicit EJoin")
    // Split each aggregate's filter conjuncts up front: clean outer=inner
    // equalities (keyPairs — the keyed groupBy), inner-only
    // (pre-aggregation filters), outer-only (CASE gates), and everything
    // else mixing the two rows (`mixed` — one-sided equalities, non-equi
    // comparisons). A mixed conjunct that is not a keyed `<` range residue
    // forces the distinct-outer path, so the split must precede the
    // chain's base frame.
    final case class ConjSplit(keyPairs: List[(Expr, (String, Expr))],
        residual: List[(String, Expr)], outerOnly: List[Expr],
        mixed: List[(String, Expr)])
    def conjuncts(p: Expr): List[Expr] = p match {
      case EBinop(OAnd, a, b) => conjuncts(a) ++ conjuncts(b)
      case other => List(other)
    }
    def splitConjuncts(pe: PeeledSrc): ConjSplit = {
      var keyPairs = List.empty[(Expr, (String, Expr))]
      var residual = List.empty[(String, Expr)]
      var outerOnly = List.empty[Expr]
      var mixed = List.empty[(String, Expr)]
      pe.filters.foreach { case (b, p) =>
        conjuncts(p).foreach { c =>
          val fv = Rewrites.freeVars(c)
          val usesX = fv.contains(x); val usesB = fv.contains(b)
          c match {
            case EBinop(OEq, a1, a2) if usesX && usesB =>
              val f1 = Rewrites.freeVars(a1); val f2 = Rewrites.freeVars(a2)
              if (f1.contains(x) && !f1.contains(b) &&
                  f2.contains(b) && !f2.contains(x))
                keyPairs ::= ((a1, (b, a2)))
              else if (f2.contains(x) && !f2.contains(b) &&
                  f1.contains(b) && !f1.contains(x))
                keyPairs ::= ((a2, (b, a1)))
              else mixed ::= ((b, c))
            case _ if usesX && usesB => mixed ::= ((b, c))
            case _ if usesX => outerOnly ::= c
            case _ => residual ::= ((b, c))
          }
        }
      }
      ConjSplit(keyPairs, residual, outerOnly, mixed)
    }
    // parse every mixed conjunct as outer-vs-inner under OLess:
    // (outerExpr, innerBinder, innerExpr, outerIsLeft) — None if any
    // conjunct has another shape. OLess is TInt-total and every tier's
    // encoding is order-preserving (Long; BigIntMath canonical bytes),
    // so a raw `<` on the collected expression values
    // IS value_compare.
    def rangeConjsOf(sp: ConjSplit)
        : Option[List[(Expr, String, Expr, Boolean)]] = {
      val parsed = sp.mixed.map {
        case (b, EBinop(OLess, a1, a2)) =>
          val f1 = Rewrites.freeVars(a1); val f2 = Rewrites.freeVars(a2)
          if (f1.contains(x) && !f1.contains(b) &&
              f2.contains(b) && !f2.contains(x))
            Some((a1, b, a2, true)) // outer < inner
          else if (f2.contains(x) && !f2.contains(b) &&
              f1.contains(b) && !f1.contains(x))
            Some((a2, b, a1, false)) // inner < outer
          else None
        case _ => None
      }
      if (parsed.nonEmpty && parsed.forall(_.isDefined))
        Some(parsed.flatten) else None
    }
    val id = latIds.incrementAndGet()
    val la = s"__caggl$id"
    val outerRow = qualifiedRow(df.columns, la)
    def synthW(e: Expr, extra: (String, FType)*): FType =
      TypeCheck.synthesize(e, env.varTypes + (x -> xT) ++ extra,
        env.storeTypes)
    // One record per peeled node: its conjunct split, the residual-filtered
    // inner frame, and the binder types every compile below threads
    // through — the chain's element type (coreT), the projection's input
    // (projInT: the flatmap body's element type, if there is one), and
    // the value type after the optional projection (valT: the per-row
    // array's element type and the ACI fold's result type). Threading them
    // keeps order/boxing decisions (CanonOrder keys, nested-option boxing)
    // type-directed inside decorrelated bodies.
    final case class Agg(node: Expr, pe: PeeledSrc, sp: ConjSplit, i: Int,
        inner: DataFrame, coreT: FType) {
      // the flatmap body's element type (both binders in scope), or the
      // chain's when there is no flatmap layer
      val projInT: FType = pe.flat.fold(coreT) { case (fb, fbody) =>
        TypeCheck.elemOf(synthW(fbody, fb -> coreT))
      }
      val valT: FType = pe.proj match {
        case Some((pb, pv)) => synthW(pv, pb -> projInT)
        case None => projInT
      }
      // sequential/ordered consumers (EFold, ESort) and layered wrappers
      // read a per-row canonically sorted array; ACI aggregates a scalar
      val collected: Boolean = pe.subst.nonEmpty || (node match {
        case EFold(_, _, _, _, _) | ESort(_, _) => true
        case _ => false
      })
      // count/length never look at the element value
      val countOnly: Boolean = node match {
        case EACFold(AGCount, _) | EUnop(OLength, _) => true
        case _ => false
      }
      val exploded: Boolean = !collected && pe.flat.nonEmpty
      val name = s"__cagg_${id}_$i"
      val aName = s"__agg${id}_$i"
    }
    val aggs = peeled.zipWithIndex.map { case ((node, pe), i) =>
      val coreT = synthElem(pe.core, env)
      var inner = lower(pe.core, env) match {
        case TV(d) => d
        case cv @ CV(_) => toDF(cv, env)
      }
      val sp = splitConjuncts(pe)
      sp.residual.reverse.foreach { case (b, p) =>
        inner = inner.filter(asCV(lower(p,
          env.bindRow(b, CV(rowStruct(inner)), coreT))))
      }
      Agg(node, pe, sp, i, inner, coreT)
    }
    var joined: DataFrame = df.alias(la)
    var extraBinds = List.empty[(String, Val, FType)]
    var r2 = rPre // scalar-land-lifted nodes already substituted

    def outerCol(e: Expr): Column =
      asCV(lower(e, env.bind(x, CV(outerRow), xT)))
    // the node's inner key and range expressions over one inner row
    def innerCol(a: Agg, b: String, e: Expr): Column =
      asCV(lower(e, env.bindRow(b, CV(rowStruct(a.inner)), a.coreT)))
    def innerKeys(a: Agg): List[Column] =
      a.sp.keyPairs.map { case (_, (b, ie)) => innerCol(a, b, ie) }
    def innerRanges(a: Agg): List[Column] = rangeConjsOf(a.sp).getOrElse(Nil)
      .map { case (_, b, ie, _) => innerCol(a, b, ie) }
    def aggOf(a: Agg, v: Column): Column = a.node match {
      case EACFold(AGSum, _) => tierSum(v, env)
      case EACFold(AGCount, _) | EUnop(OLength, _) => count(v)
      case EACIFold(AGMin, _) => min(v)
      case EACIFold(AGMax, _) => max(v)
      case _ => throw new IllegalStateException("non-aggregate node")
    }
    // Elements ride in a one-field wrapper struct so a genuine null value
    // (None) survives collect_list's null-dropping. The sort runs in
    // REFERENCE order (word/bag elements take the CanonOrder key).
    def canonArr(a: Agg, c: Column): Column = CanonOrder.sortArray(c,
      TRecord(List("v" -> a.valT)), env.wordWidth)
    // the node's element value over one inner row bound as `iRow` (the
    // projection layer's value, or the row itself)
    def valueOf(a: Agg, envB: Env, iRow: Column): Column = a.pe.proj match {
      case Some((pb, pv)) =>
        asCV(lower(pv, envB.bindRow(pb, CV(iRow), a.projInT)))
      case None => iRow
    }
    // a flat peel's per-inner-row body array, each element run through the
    // optional projection layer above the flatmap
    def flatArrOf(a: Agg, envB: Env, iRow: Column): Column = {
      val (fb, fbody) = a.pe.flat.get
      val arr0 = asCV(lower(fbody, envB.bindRow(fb, CV(iRow), a.coreT)))
      a.pe.proj match {
        case Some((pb, pv)) => transform(arr0, e =>
          asCV(lower(pv, envB.bind(pb, CV(e), a.projInT))))
        case None => arr0
      }
    }
    def gateOf(a: Agg): Option[Column] =
      a.sp.outerOnly.map(outerCol).reduceOption(_ && _)
    // Read-back of a scalar node: tier defaults and the outer-only gate
    // (tierAggRead). The hoisted scalar's type is the node's own:
    // count/sum/length are TInt, a min/max of int or word values (its
    // elements are numeric) is their option, None on empty.
    def bindScalar(a: Agg, aCol: Column): Unit = {
      extraBinds ::= ((a.name, CV(tierAggRead(a.node, aCol, gateOf(a), env)),
        synthW(a.node)))
      r2 = Rewrites.foldExpr(r2)(e0 => if (e0 == a.node) EVar(a.name) else e0)
    }
    // Read-back of a collected node from the sorted wrapper array in
    // column aName: ESort becomes the array itself, EFold folds it through
    // the nested-array path, and a LAYERED node swaps only its chain
    // subtree (the ESetOf/EBagOf/EProj/ESort layers above it compile as
    // nested-collection ops over the per-row array). A failing outer-only
    // gate means the correlated source is EMPTY for that row (fold yields
    // its init; sort yields []). The bound array's ELEMENT type rides
    // along so a layered ESort re-sorting EVar(name) keys the same way.
    def bindArray(a: Agg): Unit = {
      val ext = transform(col(a.aName), s => s("v"))
      val arrCol = gateOf(a) match {
        case None => ext
        case Some(oc) => when(oc, ext).otherwise(slice(ext, lit(1), lit(0)))
      }
      extraBinds ::= ((a.name, CV(arrCol), TList(a.valT)))
      r2 = Rewrites.foldExpr(r2)(e0 => if (e0 == a.node) (a.pe.subst match {
        case Some(chain) =>
          Rewrites.foldExpr(a.node)(n => if (n == chain) EVar(a.name) else n)
        case None => a.node match {
          case EFold(_, z, xv, accv, st) => EFold(EVar(a.name), z, xv, accv, st)
          case _ => EVar(a.name) // ESort: already canonically sorted
        }
      }) else e0)
    }

    // KEYED: every correlated conjunct is an equi-key, an outer-only gate,
    // or — under at least one key and no flatmap — an outer-vs-inner `<`
    // range residue, and neither the projection nor a flatmap body reads
    // the outer row. The inner side then groups on its equi-keys and
    // left-joins onto the outer (zero keys: the gate-only shape, whose
    // per-row value is ONE global aggregate broadcast onto every row).
    // Nodes sharing (canonicalized inner plan with its key and range
    // expressions, outer key expressions, element shape) share ONE
    // select, ONE groupBy and ONE join: one shuffle instead of N, and no
    // duplicated subtrees whose racing materializations made job counts
    // nondeterministic across reps. Alpha-renamed binders compile to the
    // same plan, hence the canonicalized signature. The outer key
    // expressions are part of the identity (the group shares one join
    // predicate); outer RANGE sides and directions are not — each node
    // applies its own residue map-side over the shared collection.
    def keyedOk(a: Agg): Boolean = {
      val oneSided = !a.pe.proj.exists(p => Rewrites.freeVars(p._2).contains(x)) &&
        a.pe.flat.forall { case (_, fbody) => !Rewrites.freeVars(fbody).contains(x) }
      oneSided && (
        if (a.sp.mixed.isEmpty) a.sp.keyPairs.nonEmpty || a.pe.flat.isEmpty
        else a.sp.keyPairs.nonEmpty && a.pe.flat.isEmpty &&
          rangeConjsOf(a.sp).isDefined)
    }
    val keyed = aggs.filter(keyedOk).flatMap { a =>
      try {
        val sigCols =
          innerKeys(a).zipWithIndex.map { case (c, j) => c.as(s"__sigk$j") } ++
            innerRanges(a).zipWithIndex.map { case (c, m) => c.as(s"__sigm$m") }
        val sig = a.inner.select(sigCols: _*).queryExecution.analyzed.canonicalized
        Some(((sig, a.sp.keyPairs.map(_._1), a.collected, a.exploded), a))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    keyed.groupBy(_._1).values.map(_.map(_._2)).toList.sortBy(_.head.i)
      .foreach { g =>
      val h = g.head
      val row = rowStruct(h.inner)
      val ranges = innerRanges(h)
      val kN = (j: Int) => s"__k${id}_${h.i}_$j"
      val vN = (k: Int) => s"__v${id}_${h.i}_$k"
      val rN = s"__ragg${id}_${h.i}"
      val keyCols = innerKeys(h).zipWithIndex.map { case (c, j) => c.as(kN(j)) }
      // node k's element value over ONE inner row (count nodes carry a
      // constant: only the element's presence matters)
      def value(a: Agg): Column =
        if (a.countOnly && !a.collected) lit(1L) else valueOf(a, env, row)
      val (elems, aggCols) =
        if (ranges.nonEmpty) {
          // each key's (values, range-exprs) elements in ONE collect_list;
          // every node filters them by its own residue after the join
          val elem = struct((g.zipWithIndex.map { case (a, k) =>
            value(a).as(s"v$k") } ++
            ranges.zipWithIndex.map { case (c, m) => c.as(s"m$m") }): _*)
          (Seq(elem.as(vN(0))), Seq(collect_list(col(vN(0))).as(rN)))
        } else if (h.exploded) {
          // element of node k carries its value in field v<k>, null
          // elsewhere — sum/min/max skip the nulls, count counts the
          // constant 1s, so one explode feeds every aggregate
          val arrs = g.map(flatArrOf(_, env, row))
          val vdt = g.map(a => if (a.countOnly) LongType
            else sparkType(a.valT, env.wordWidth, env.bigInt))
          val tagged = g.zip(arrs).zipWithIndex.map { case ((a, arr), k) =>
            transform(arr, e => struct(vdt.indices.map { j =>
              (if (j != k) lit(null).cast(vdt(j))
               else if (a.countOnly) lit(1L) else e).as(s"v$j")
            }: _*))
          }
          (Seq(explode(concat(tagged: _*)).as(vN(0))),
            g.zipWithIndex.map { case (a, k) =>
              aggOf(a, col(vN(0))(s"v$k")).as(a.aName) })
        } else if (h.collected) {
          // per-inner-row wrapped arrays (one element for a chain row, the
          // body's whole array for a flat source), flattened per key
          (g.zipWithIndex.map { case (a, k) => (a.pe.flat match {
            case Some(_) =>
              transform(flatArrOf(a, env, row), e => struct(e.as("v")))
            case None => array(struct(value(a).as("v")))
          }).as(vN(k)) },
            g.zipWithIndex.map { case (a, k) =>
              canonArr(a, flatten(collect_list(col(vN(k))))).as(a.aName) })
        } else
          (g.zipWithIndex.map { case (a, k) => value(a).as(vN(k)) },
            g.zipWithIndex.map { case (a, k) =>
              aggOf(a, col(vN(k))).as(a.aName) })
      val aggDF = h.inner.select(keyCols ++ elems: _*)
        .groupBy(keyCols.indices.map(j => col(kN(j))): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      joined =
        if (keyCols.isEmpty) joined.crossJoin(broadcast(aggDF))
        else joined.join(aggDF, h.sp.keyPairs.zipWithIndex.map {
          case ((oe, _), j) => outerCol(oe) <=> col(kN(j)) }.reduce(_ && _),
          "left")
      // unmatched outer rows read an EMPTY collection, not a null
      def orEmpty(c: String): Column =
        coalesce(col(c), array().cast(aggDF.schema(c).dataType))
      g.zipWithIndex.foreach { case (a, k) =>
        if (ranges.isEmpty) {
          if (!a.collected) bindScalar(a, col(a.aName))
          else {
            joined = joined.withColumn(a.aName, orEmpty(a.aName))
            bindArray(a)
          }
        } else {
          val matched = filter(orEmpty(rN), e =>
            rangeConjsOf(a.sp).get.zipWithIndex.map {
              case ((oe, _, _, outerLeft), m) =>
                if (outerLeft) outerCol(oe) < e(s"m$m")
                else e(s"m$m") < outerCol(oe)
            }.reduce(_ && _))
          val vals = transform(matched, e => e(s"v$k"))
          if (a.collected) {
            // filter-then-sort yields exactly the matched sorted multiset
            joined = joined.withColumn(a.aName, canonArr(a,
              transform(matched, e => struct(e(s"v$k").as("v")))))
            bindArray(a)
          } else bindScalar(a, a.node match {
            case EACFold(AGCount, _) | EUnop(OLength, _) =>
              size(matched).cast("long")
            case EACFold(AGSum, _) =>
              // the tier's scalar-land sum (same as the CV-level AGSum):
              // narrow checkedAdd raises the DIRECTED overflow, so this
              // path re-tiers under autoWide exactly like the others
              if (env.bigInt) aggregate(vals,
                lit(graft.functions.BigIntMath.ZERO_BYTES),
                (acc, v) => BigIntOps.add(acc, v))
              else aggregate(vals, lit(0L),
                (acc, v) => Fiat2.checkedAdd(acc, v))
            case EACIFold(AGMin, _) => array_min(vals)
            case EACIFold(AGMax, _) => array_max(vals)
            case _ => throw new IllegalStateException("non-aggregate node")
          })
        }
      }
    }

    // DISTINCT-OUTER (the fallback: non-equi or one-sided correlation, an
    // outer-reading projection or flatmap body, a group that could not be
    // built): left-join the inner onto the DISTINCT outer rows on the FULL
    // correlated predicate (equi conjuncts included, compiled through the
    // normal null-safe OEq), aggregate per outer row, and join the
    // per-row values back onto the chain by null-safe equality on every
    // outer column — duplicate outer rows have identical correlated
    // results by definition, and the plan stays inside Catalyst. The
    // non-equi join is the honest distributed cost of this shape —
    // Catalyst picks a broadcast nested-loop or range join; the reference
    // nested-loop-interprets the very same product (Interpret.v:273-299).
    val keyedIdx = keyed.map(_._2.i).toSet
    aggs.filterNot(a => keyedIdx(a.i)).foreach { a =>
      val lo = s"__cao${id}_${a.i}"
      val ib = s"__cai${id}_${a.i}"
      val mark = s"__cm${id}_${a.i}"
      val oRow = qualifiedRow(df.columns, lo)
      val iRow = qualifiedRow(a.inner.columns, ib)
      val envX = env.bindRow(x, CV(oRow), xT)
      val pred = (a.sp.mixed.map { case (b, c) =>
        asCV(lower(c, envX.bindRow(b, CV(iRow), a.coreT)))
      } ++ a.sp.keyPairs.map { case (oe, (b, ie)) =>
        asCV(lower(oe, envX)) <=>
          asCV(lower(ie, env.bindRow(b, CV(iRow), a.coreT)))
      }).reduceOption(_ && _).getOrElse(lit(true))
      val pairs = df.dropDuplicates().alias(lo)
        .join(a.inner.withColumn(mark, lit(1L)).alias(ib), pred, "left")
      val hit = col(s"$ib.$mark").isNotNull
      val outerCols = df.columns.toIndexedSeq
      val okName = (c: String) => s"__oc${id}_${a.i}_$c"
      def perOuter(aggCol: Column): DataFrame = pairs
        .groupBy(outerCols.map(c => col(s"$lo.$c")): _*)
        .agg(aggCol.as(a.aName))
        .toDF(outerCols.map(okName) :+ a.aName: _*)
      // a flat peel's per-(outer, inner)-pair body array, wrapped so
      // genuine null elements survive counting; null for an unmatched row
      def wrappedArr: Column =
        when(hit, transform(flatArrOf(a, envX, iRow), e => struct(e.as("v"))))
      val aggDF = (a.collected, a.pe.flat.isDefined) match {
        // flatten the collected pair-arrays and re-sort canonically — only
        // order-safe consumers reach here (ESort itself, or EFold over an
        // explicit ESort layer)
        case (true, true) => perOuter(canonArr(a,
          flatten(collect_list(wrappedArr))))
        case (true, false) => perOuter(canonArr(a,
          collect_list(when(hit, struct(valueOf(a, envX, iRow).as("v"))))))
        case (false, true) =>
          // the per-pair arrays explode between the product join and the
          // per-outer aggregation (ACI aggregates never observe the
          // emission order); explode_outer keeps outer rows whose every
          // pair-array is empty (count 0 / sum 0 / min null)
          val vName = s"__v${id}_${a.i}"
          pairs.select(outerCols.map(c => col(s"$lo.$c").as(okName(c))) :+
              explode_outer(wrappedArr).as(vName): _*)
            .groupBy(outerCols.map(c => col(okName(c))): _*)
            .agg((if (a.countOnly) count(col(vName))
              else aggOf(a, col(vName)("v"))).as(a.aName))
        // count counts the inner-side marker so unmatched rows stay at 0
        case (false, false) => perOuter(aggOf(a,
          if (a.countOnly) col(s"$ib.$mark") else valueOf(a, envX, iRow)))
      }
      joined = joined.join(aggDF,
        outerCols.map(c => col(s"$la.$c") <=> col(okName(c))).reduce(_ && _),
        "left").drop(outerCols.map(okName): _*)
      if (a.collected) bindArray(a) else bindScalar(a, col(a.aName))
    }
    // x stays a ROW variable: any remaining table-level correlation on it
    // must trip assertUncorrelated, not silently mis-resolve
    val benv = extraBinds.foldLeft(env.bindRow(x, CV(outerRow), xT)) {
      case (acc, (n, v, t)) => acc.bind(n, v, t)
    }
    ((joined, benv, r2), la)
  }

  /** Row variable of a table as a (name-sorted) struct; Catalyst's
    * SimplifyExtractValueOps collapses `struct(cols).field` back to the
    * column, so pushdown/pruning still reach the scan. */
  private def rowStruct(df: DataFrame): Column = {
    val cols = df.columns.sorted
    if (cols.sameElements(Array("value"))) df.col("value")
    else struct(cols.map(c => df.col(c).as(c)): _*)
  }

  /** The same row-struct convention through a dataset ALIAS — for binary
    * operators (join, zip) whose two sides must resolve independently. */
  private def qualifiedRow(cols: Array[String], q: String): Column = {
    val sorted = cols.sorted
    if (sorted.sameElements(Array("value"))) col(s"$q.value")
    else struct(sorted.map(c => col(s"$q.$c").as(c)): _*)
  }

  /** A SINGLE-PARTITION one-row frame, the base for every literal/scalar
    * plan. `spark.range(1)` defaults to defaultParallelism splits, so a
    * driver loop that unions N one-row deltas would schedule N×cores
    * empty tasks on its final action (800 tasks for 25 rows at
    * local[32]) — measured 6× slower than the single-split form. */
  def oneRow(spark: SparkSession): DataFrame = spark.range(0, 1, 1, 1).toDF()

  /** Materialize any compiled value as a table DataFrame (array value →
    * table of its elements; scalar → one-row table). */
  def toDF(v: Val, env: Env): DataFrame = v match {
    case TV(df) => df
    case CV(c) =>
      val probe = oneRow(env.spark).select(c.as("v"))
      probe.schema.head.dataType match {
        case _: ArrayType => flattenExploded(probe, col("v"))
        case _ => probe.select(col("v").as("value"))
      }
  }

  /** Optimize-then-compile — the reference's pipeline entry
    * (`apply_optimize_anno`, fiat2/src/fiat2/OptimizeAnno.v:307-312): run the
    * recognition rewrites so comprehension-style programs (nested
    * flatmap/if/cons) lower to real filters/projections/joins, then compile.
    * Like `compile`, it typechecks `e` first.
    */
  def compileProgram(e: Expr, env: Env): Val = elaborated(e, env)(lowerProgram)

  /** `compileProgram` on a typechecked expression in a typed env. */
  private[lang] def lowerProgram(e: Expr, env: Env): Val =
    lower(Rewrites.normalize(e), env)

  /** The one row of a row-free plan `oneRow(spark).select(cs)`, computed
    * on the driver with no Spark job: one literal per column. Some only
    * when every analyzed column is deterministic and reads no attribute
    * and no subquery, and evaluates without throwing once each
    * `RuntimeReplaceable` takes its replacement (the optimizer's
    * ReplaceExpressions step, which interpreted `eval` needs). Otherwise
    * None, and the caller runs the same plan as a job, so every error
    * (a directed TInt overflow, ANSI, a UDF's) still surfaces from it. */
  def driverRow(plan: DataFrame): Option[Seq[Literal]] = {
    def constant(e: Expression) = e.deterministic && e.references.isEmpty &&
      !SubqueryExpression.hasSubquery(e)
    plan.queryExecution.analyzed match {
      case Project(cols, _) if cols.forall {
          case a: Alias => constant(a.child); case _ => false } =>
        try Some(cols.map { a =>
          val e = a.asInstanceOf[Alias].child
            .transform { case r: RuntimeReplaceable => r.replacement }
          Literal(e.eval(null), a.dataType)
        }) catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
  }

  /** Evaluate a row-free scalar expression eagerly (CIf/EIf conditions,
    * streamed fold batches — the reference interpreter is equally eager,
    * fiat2/src/fiat2/Interpret.v:515-518): on the driver when `driverRow`
    * can, else as a one-row job. */
  def evalScalar(env: Env, c: Column): Any = {
    val plan = oneRow(env.spark).select(c.as("v"))
    driverRow(plan) match {
      case Some(Seq(l)) => CatalystTypeConverters.convertToScala(l.value, l.dataType)
      case _ => plan.head().get(0)
    }
  }

  /** The elements of a row-free array value with `toDF`'s column layout,
    * computed on the driver (`driverRow`); None when it does not fold. */
  def driverTable(env: Env, c: Column): Option[(StructType, Seq[Row])] =
    driverRow(oneRow(env.spark).select(c.as("v"))).collect {
      case Seq(Literal(arr: ArrayData, ArrayType(et, _))) =>
        val schema = et match {
          case st: StructType => st
          case _ => StructType(Seq(StructField("value", et)))
        }
        val rows = (0 until arr.numElements()).map { i =>
          val elem = arr.get(i, et)
          et match {
            case st: StructType =>
              CatalystTypeConverters.convertToScala(elem, st).asInstanceOf[Row]
            case _ => new GenericRowWithSchema(
              Array(CatalystTypeConverters.convertToScala(elem, et)), schema)
          }
        }
        (schema, rows)
    }

  /** Row-free one-row plans of one schema as ONE local relation (no job to
    * build or read), or None when any of them does not fold on the driver
    * or their schemas differ. */
  def localUnion(plans: Seq[DataFrame]): Option[DataFrame] = {
    val schema = plans.head.schema
    if (plans.exists(_.schema != schema)) None
    else {
      val rows = plans.map(driverRow)
      if (rows.exists(_.isEmpty)) None
      else Some(plans.head.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.get.map(l =>
          CatalystTypeConverters.convertToScala(l.value, l.dataType)))): _*),
        schema))
    }
  }

  /** Flatten a per-row result expression into table columns. */
  private def flattenResult(df: DataFrame, res: Column): DataFrame =
    spread(df.select(res.as("__res")))

  /** A one-column frame as table columns: its struct's fields, or the
    * scalar as `value`. */
  private def spread(probe: DataFrame): DataFrame = {
    val c = col(probe.columns.head)
    probe.schema.head.dataType match {
      case st: StructType =>
        probe.select(st.fieldNames.map(f => c(f).as(f)): _*)
      case _ => probe.select(c.as("value"))
    }
  }

  private def asCV(v: Val): Column = v match {
    case CV(c) => c
    case TV(_) => throw TypeCheck.TypeError(
      "table value where a scalar/nested value was expected")
  }

  /** Public scalar view of a compiled value. */
  def asScalar(v: Val): Column = asCV(v)

  /** Re-canonicalize a rebuilt NESTED collection by its tag — the
    * reference's `list_to_bag`/`list_to_set` applied to the outputs of
    * proj/flatmap/join (fiat2/src/fiat2/Interpret.v:373-501): a projected
    * bag re-sorts, a projected set re-sorts AND dedups; filter needs
    * neither (it preserves canonical order). Lists pass through. The sort
    * runs in REFERENCE order (CanonOrder key): a bag/set of words stores
    * unsigned-ascending like the reference's canonical form. */
  private def canonTag(tag: CollectionTag, c: Column, elemT: FType,
      width: Int): Column = tag match {
    case LikeList => c
    case LikeBag => CanonOrder.sortArray(c, elemT, width)
    case LikeSet => CanonOrder.sortArray(array_distinct(c), elemT, width)
  }

  /** The same per-tag canonicalization for TABLE results: DataFrames are
    * bags natively (no order to restore), so only the set tag needs work
    * (distinct). */
  private def canonTagDF(tag: CollectionTag, df: DataFrame): DataFrame =
    tag match {
      case LikeSet => df.distinct()
      case _ => df
    }

  /** Compile a program: complete `env`'s typing (`typed`), elaborate and
    * typecheck `e` against it — a mistyped program throws `TypeError`
    * here, before any Spark job — and lower the hole-free tree. */
  def compile(e: Expr, env: Env): Val = elaborated(e, env)(lower)

  /** `lowering` of `e` elaborated against `env` completed by `typed`. */
  private def elaborated(e: Expr, env: Env)(lowering: (Expr, Env) => Val)
      : Val = {
    val tenv = typed(env)
    lowering(TypeCheck.elaborate(e, tenv.varTypes, tenv.storeTypes)._1, tenv)
  }

  /** Lower a typechecked expression in a typed env (`compile`'s body, and
    * the command interpreter's per-expression step). */
  private[lang] def lower(e: Expr, env: Env): Val = e match {
    case EVar(x) => env.vars.getOrElse(x,
      throw TypeCheck.TypeError(s"unbound variable $x"))
    case ELoc(x) => env.scalars.get(x) match {
      // mutable SCALAR store cell (the reference's `all_feedback`-style
      // TString/TInt globals, fiat2/src/fiat2/Ex_Survey.v:44-49)
      case Some(c) => CV(c)
      case None => TV(env.store.getOrElse(x,
        throw TypeCheck.TypeError(s"unbound table or scalar cell $x")))
    }

    case EAtom(a) => CV(a match {
      case AWord(v) => WordOps.forWidth(env.wordWidth).literal(v)
      case AInt(v) if env.bigInt => BigIntOps.literal(v)
      case AInt(v) => lit(v)
      case ABool(v) => lit(v)
      case AString(v) => lit(v)
      case ANil(t) => array().cast(ArrayType(
        sparkType(t, env.wordWidth, env.bigInt)))
      // None : TOption(t) — cast to the OPTION's encoding (boxed struct
      // when t is itself an option; the inner type's encoding otherwise)
      case ANone(t) =>
        lit(null).cast(sparkType(TOption(t), env.wordWidth, env.bigInt))
      case AEmptyDict(k, v) =>
        array().cast(sparkType(TDict(k, v), env.wordWidth, env.bigInt))
      case AEmptyBag(t) => array().cast(ArrayType(
        sparkType(t, env.wordWidth, env.bigInt)))
      case AEmptySet(t) => array().cast(ArrayType(
        sparkType(t, env.wordWidth, env.bigInt)))
      case AUnit => lit(null)
    })

    case EUnop(op, e1) => (op, lower(e1, env)) match {
      case (OLength, TV(df)) => // eager, like the interp
        CV(intCol(lit(df.count()), env))
      case (OLength, v) => CV(intCol(size(asCV(v)).cast("long"), env))
      case (OWNeg, v) => // wraps at the width's MinValue
        CV(WordOps.forWidth(env.wordWidth).wneg(asCV(v)))
      case (ONeg, v) => CV(if (env.bigInt) BigIntOps.neg(asCV(v))
        else Fiat2.checkedNeg(asCV(v)))
      case (ONot, v) => CV(!asCV(v))
      case (OLengthString, v) =>
        CV(intCol(length(asCV(v)).cast("long"), env))
      case (OIntToString, v) => CV(if (env.bigInt) BigIntOps.toStr(asCV(v))
        else asCV(v).cast("string"))
      case (OSome, v) => synthLite(e1, env) match {
        // Some over an OPTION boxes (Some(None) must stay distinct from
        // None — sparkType's nested-option struct); over any other type
        // the nullable wrap is a no-op
        case TOption(_) => CV(struct(asCV(v).as("s")))
        case _ => CV(asCV(v))
      }
    }

    case EBinop(op, e1, e2) => compileBinop(op, e1, e2, env)

    case ETernop(OInsert, d, k, v) =>
      // insert-or-overwrite, storage sorted by key (`dict_insert`,
      // Interpret.v:92-110) — in REFERENCE key order when the key type
      // needs a CanonOrder key (word/bag keys)
      val base = asCV(lower(d, env))
      val kc = asCV(lower(k, env))
      val vc = asCV(lower(v, env))
      synthLite(d, env) match {
        case TDict(kt, vt) if CanonOrder.needsKey(kt, env.wordWidth) =>
          val entries = concat(filter(base, e => !(e("key") <=> kc)),
            array(struct(kc.as("key"), vc.as("value"))))
          CV(CanonOrder.dictIterOrder(entries, kt, vt, env.wordWidth))
        case _ => CV(Fiat2.dictInsert(base, kc, vc))
      }

    case EIf(c, t, f) =>
      // Lazy branch semantics (the reference interpreter evaluates the
      // condition first, then ONLY the taken branch): when the condition is
      // row-free it can be decided on the driver and the not-taken branch is
      // never compiled — required for table-valued branches, and harmless
      // constant-folding for scalar ones. A row-dependent condition (plan
      // attributes / lambda variables) fails the eager probe and falls back
      // to the per-row `when` form, where both branches are scalar columns.
      val cc = asCV(lower(c, env))
      val eager =
        try Some(evalScalar(env, cc).asInstanceOf[Boolean])
        catch { case _: Exception => None }
      eager match {
        case Some(b) => lower(if (b) t else f, env)
        case None => (lower(t, env), lower(f, env)) match {
          case (CV(a), CV(b)) => CV(when(cc, a).otherwise(b))
          case _ => throw new UnsupportedOperationException(
            "correlated conditional (EIf) selecting between TABLE legs on " +
              "a row-dependent condition - the flatmap outer-split rewrite " +
              "(splitTableIf) handles collection positions; reaching here " +
              "means the conditional sits somewhere that rewrite does not " +
              "walk")
        }
      }

    case ELet(e1, x, e2) =>
      lower(e2, env.bind(x, lower(e1, env), synthLite(e1, env)))

    case ERecord(fields) =>
      CV(Fiat2.record(fields.map { case (n, fe) =>
        n -> asCV(lower(fe, env)) }: _*))

    case EAccess(r, f) => CV(asCV(lower(r, env))(f))

    case EOptMatch(e1, none, x, some) =>
      val c = asCV(lower(e1, env))
      val TOption(innerT) = synthLite(e1, env): @unchecked
      // a boxed scrutinee (option DIRECTLY over option) binds the box's
      // payload, not the box — Some(None) then reaches the Some branch
      // with x = None, exactly the reference (Interpret.v:340-345)
      val unwrap: Column => Column = innerT match {
        case TOption(_) => v => v("s")
        case _ => v => v
      }
      CV(Fiat2.optMatch(c, asCV(lower(none, env)),
        v => asCV(lower(some, env.bind(x, CV(unwrap(v)), innerT)))))

    case EDictFold(d, z, k, v, acc, step) =>
      // fold_right over the sorted entries (Interpret.v:346-350) — sorted
      // in REFERENCE key order: storage is raw-sorted, so when the key type
      // needs a CanonOrder key (words/bags) the folded VIEW re-sorts
      val TDict(kt, vt) = synthLite(d, env): @unchecked
      val entries = CanonOrder.dictIterOrder(asCV(lower(d, env)), kt, vt,
        env.wordWidth)
      val accT = synthLite(z, env)
      CV(aggregate(reverse(entries), asCV(lower(z, env)),
        (a, entry) => asCV(lower(step,
          env.bind(k, CV(entry("key")), kt)
            .bind(v, CV(entry("value")), vt)
            .bind(acc, CV(a), accT)))))

    case ESort(_, l) =>
      // REFERENCE order (value_compare): raw encoding order except where
      // CanonOrder needs a key (words sort unsigned, nested bags compare
      // as run-length pairs).
      val elemT = synthElem(l, env)
      lower(l, env) match {
        case TV(df) =>
          TV(df.orderBy(canonSortCols(df, elemT, env.wordWidth): _*))
        case CV(c) => CV(CanonOrder.sortArray(c, elemT, env.wordWidth))
      }

    case EFilter(_, l, x, p) => lower(l, env) match {
      case TV(df) =>
        try {
          assertUncorrelated(env, Set(x), p)
          TV(df.filter(asCV(lower(p, env.bindRow(x,
            CV(rowStruct(df)), synthElem(l, env))))))
        } catch {
          // predicate holds an aggregate over a CORRELATED-filtered table
          // (a correlated scalar subquery in a WHERE clause) — unnest it:
          // groupBy the inner side on its equi-keys, LEFT-join the
          // aggregates on, filter, and project the outer row back
          case direct: UnsupportedOperationException
              if collectCorrelatedAggs(p, x).nonEmpty =>
            try filterCorrelatedAggs(df, x, p, env, synthElem(l, env))
            catch { case scala.util.control.NonFatal(dec) =>
              direct.addSuppressed(dec); throw direct
            }
        }
      case CV(c) =>
        val et = synthElem(l, env)
        CV(filter(c, v => asCV(lower(p, env.bind(x, CV(v), et)))))
    }

    case EJoin(tag, l1, l2, x, y, p, r) =>
      (lower(l1, env), lower(l2, env)) match {
        case (TV(_), TV(_))
            if (collectCorrelatedAggs(r, x).nonEmpty ||
                collectCorrelatedAggs(r, y).nonEmpty) &&
              !bindsVar(r, x) && !bindsVar(r, y) =>
          // PAIR-TABLE REWRITE (aggregates referencing a JOIN BINDER):
          // the body holds a correlated scalar aggregate whose source
          // references x and/or y — a per-join-pair subquery the reference
          // nested-loops (Interpret.v:273-312). Materialize the join as a
          // table of (l, r) record pairs FIRST, then run the body as an
          // EProj over that table with both binders read through the pair
          // row — the projection unnester (projCorrelatedAggs) lowers the
          // aggregates against the pair frame with its ordinary groupBy /
          // join-then-reaggregate / broadcast plans. Guarded against
          // binder shadowing, which would capture the substituted reads.
          val z = s"__jpair${latIds.incrementAndGet()}"
          val pairJoin = EJoin(tag, l1, l2, x, y, p,
            ERecord(List("l" -> EVar(x), "r" -> EVar(y))))
          val body2 = Rewrites.foldExpr(r) {
            case EVar(`x`) => EAccess(EVar(z), "l")
            case EVar(`y`) => EAccess(EVar(z), "r")
            case o => o
          }
          lower(EProj(tag, pairJoin, z, body2), env)
        case (TV(d1), TV(d2)) =>
          // Alias both sides and resolve row variables through the aliases:
          // ELoc of the same table on both sides yields the SAME DataFrame
          // (identical attribute ids), and an unqualified self-join predicate
          // would resolve both x.k and y.k to one side (fiat2's Ex_Family /
          // Ex_Triangle are exactly this shape).
          assertUncorrelated(env, Set(x, y), p, r)
          val la = d1.alias("__join_l")
          val ra = d2.alias("__join_r")
          val bound = env
            .bindRow(x, CV(qualifiedRow(d1.columns, "__join_l")),
              synthElem(l1, env))
            .bindRow(y, CV(qualifiedRow(d2.columns, "__join_r")),
              synthElem(l2, env))
          val pred = asCV(lower(p, bound))
          val res = asCV(lower(r, bound))
          TV(flattenResult(la.join(ra, pred, "inner"), res))
        case (v1, v2) => // nested-array nested-loop join, fused projection
          val a1 = asCV(v1); val a2 = asCV(v2)
          val (t1, t2) = (synthElem(l1, env), synthElem(l2, env))
          val rt = synthElem(EJoin(tag, l1, l2, x, y, p, r), env)
          CV(canonTag(tag, flatten(transform(a1, xv =>
            transform(
              filter(a2, yv => asCV(lower(p,
                env.bind(x, CV(xv), t1).bind(y, CV(yv), t2)))),
              yv => asCV(lower(r,
                env.bind(x, CV(xv), t1).bind(y, CV(yv), t2)))))),
            rt, env.wordWidth))
      }

    case EProj(tag, l, x, r) => lower(l, env) match {
      case TV(df) =>
        assertUncorrelated(env, Set(x), r)
        try {
          val res = asCV(lower(r, env.bindRow(x, CV(rowStruct(df)),
            synthElem(l, env))))
          TV(canonTagDF(tag, flattenResult(df, res)))
        } catch {
          // projection body holds an aggregate over a CORRELATED-filtered
          // table (a correlated scalar subquery) — unnest it: groupBy the
          // inner side on its equi-keys, LEFT-join the aggregates back
          case direct: UnsupportedOperationException
              if collectCorrelatedAggs(r, x).nonEmpty =>
            try projCorrelatedAggs(tag, df, x, r, env, synthElem(l, env))
            catch { case scala.util.control.NonFatal(dec) =>
              direct.addSuppressed(dec); throw direct
            }
        }
      case CV(c) =>
        val et = synthElem(l, env)
        val rt = synthElem(EProj(tag, l, x, r), env)
        CV(canonTag(tag, transform(c,
          v => asCV(lower(r, env.bind(x, CV(v), et)))),
          rt, env.wordWidth))
    }

    case EFlatmap(tag, e1, x, e2)
        if lower(e1, env).isInstanceOf[TV] && splitTableIf(e2, x).nonEmpty =>
      // Correlated-CONDITIONAL table body: split the OUTER table on the
      // condition — rows where it holds flatmap the then-leg, the rest
      // the else-leg — and union the arms. Tables are bags and the arms
      // partition the outer rows, so the union IS the reference's per-row
      // lazy branch choice; each arm is an ordinary (possibly correlated)
      // flatmap the machinery below already lowers.
      val Some((c, bodyA, bodyB)) = splitTableIf(e2, x)
      val arms = Seq((c, bodyA), (EUnop(ONot, c), bodyB)).map { case (g, bd) =>
        lower(EFlatmap(tag, EFilter(tag, e1, x, g), x, bd), env) match {
          case TV(d) => d
          case cv @ CV(_) => toDF(cv, env)
        }
      }
      TV(canonTagDF(tag,
        arms(0).select(arms(0).columns.sorted.map(col): _*).unionByName(
          arms(1).select(arms(1).columns.sorted.map(col): _*))))

    case EFlatmap(tag, e1, x, e2) => lower(e1, env) match {
      case TV(df) =>
        def correlatedError(cause: Throwable) =
          new UnsupportedOperationException(
            "correlated table-valued flatmap body that neither " +
              "Rewrites.normalize nor lateral decorrelation could lower - " +
              "write the product as EJoin (or a flatmap/if/cons " +
              "comprehension, which Rewrites.normalize recognizes as a join)",
            cause)
        // GENERAL DECORRELATION (the reference interpreter's arbitrary
        // correlated body, fiat2/src/fiat2/Interpret.v:273-299): peel the
        // body into [optional projection] over [a chain of filters] over an
        // uncorrelated core, then lower the whole flatmap to ONE aliased
        // θ-join — predicates from the correlated filters, projection
        // applied over the join output. This is the dependent-join
        // elimination a distributed plan needs: the nested loop the
        // reference interprets becomes a join Catalyst is free to execute
        // broadcast or sort-merge, instead of per-outer-row evaluation.
        // (Deliberately NOT Spark's lateralJoin/Column.outer: chained
        // eager-analyzed Datasets holding lazy outer references resolve
        // nondeterministically in this Spark version.) Bodies whose
        // correlation sits deeper than filter predicates / the final
        // projection — e.g. a correlated aggregate — keep the directed
        // error.
        def decorrelate(): Val = {
          // let-bound correlated aggregates are invisible to the peels
          // below until substituted back to their use sites
          val e2i = inlineCorrelatedLets(e2, x)
          // NESTED correlated scalar aggregates inside a correlated JOIN
          // body (a leg's filter predicate holding an EACFold whose source
          // is itself correlated on x — the reference nested-loops both
          // levels, Interpret.v:273-312): unnest the aggregates FIRST.
          // unnestCorrelatedAggs augments the outer table with one column
          // per aggregate value; the body is rewritten to read those as
          // outer-row FIELDS and the flatmap re-enters over the augmented
          // outer, where the now-aggregate-free join lowers through the
          // ordinary leg decorrelation below. Guarded to x-only SCALAR
          // aggregates over an EJoin core: array-collecting nodes
          // (ESort/EFold sources) belong to the zip path, an aggregate
          // referencing a join/leg binder has no per-outer-row value to
          // hoist, and a body that rebinds x would capture the substituted
          // field reads.
          locally {
            // r10: the gate is no longer EJoin-only — a correlated scalar
            // aggregate inside ANY body position the chain paths cannot
            // compile (a filter predicate, a projection value, a zip leg)
            // hoists the same way; on failure fall through to the
            // original paths (try below), so no previously-supported
            // shape can regress
            if (!bindsVar(e2i, x)) try {
              val aggs = collectCorrelatedAggs(e2i, x)
              val hoistable = aggs.nonEmpty && aggs.forall { n =>
                (n match {
                  case EACFold(_, _) | EACIFold(_, _) | EUnop(OLength, _) =>
                    true
                  case _ => false
                }) && (Rewrites.freeVars(n) - x).forall(env.vars.contains)
              }
              if (hoistable) {
                val ((joined, benv, e2r), la) =
                  unnestCorrelatedAggs(df, x, e2i, env, synthElem(e1, env))
                val newVars = (benv.vars.keySet -- env.vars.keySet) - x
                val flat = joined.select(
                  df.columns.map(cn => col(s"$la.$cn").as(cn)) ++
                    newVars.toSeq.sorted
                      .map(n => asCV(benv.vars(n)).as(n)): _*)
                val e2x = Rewrites.foldExpr(e2r) {
                  case EVar(v) if newVars(v) => EAccess(EVar(x), v)
                  case other => other
                }
                val tn = s"__caggflat${latIds.incrementAndGet()}"
                val flatT = TBag(withFields(synthElem(e1, env),
                  newVars.toSeq.map(n => n -> benv.varTypes(n))))
                return lower(EFlatmap(tag, ELoc(tn), x, e2x),
                  env.withTable(tn, flat, flatT))
              }
            } catch { case scala.util.control.NonFatal(_) => () }
          }
          val (relBody, peeledProj) = e2i match {
            case EProj(_, l, u, r) => (l, Some((u, r)))
            case _ => (e2i, None)
          }
          // Peel correlated filters down to the first subtree that does
          // not reference x at all — that subtree compiles as-is. A core
          // that still references x but is an EJoin is handled below
          // (correlation inside the join's legs, Interpret.v:273-299).
          var filters = List.empty[(String, Expr)]
          var core = relBody
          while (Rewrites.freeVars(core).contains(x) &&
              core.isInstanceOf[EFilter]) core match {
            case EFilter(_, l, y, p) => filters ::= (y, p); core = l
            case _ => ()
          }
          val id = latIds.incrementAndGet()
          val la = s"__decor_l$id"; val ra = s"__decor_r$id"
          val leftRow = qualifiedRow(df.columns, la)
          if (!Rewrites.freeVars(core).contains(x)) {
            val inner = lower(core, env) match {
              case TV(d) => d
              case CV(c) => toDF(CV(c), env)
            }
            val innerRow = qualifiedRow(inner.columns, ra)
            // every filter binder sees the same right-side row (filters
            // preserve schema), x sees the left row; plain bind for x so
            // nested references don't trip assertUncorrelated
            def bodyEnv(binder: String) =
              env.bind(x, CV(leftRow), synthElem(e1, env))
                .bindRow(binder, CV(innerRow), synthElem(core, env))
            val pred = filters
              .map { case (y, p) => asCV(lower(p, bodyEnv(y))) }
              .reduceOption(_ && _).getOrElse(lit(true))
            val joined = df.alias(la).join(inner.alias(ra), pred, "inner")
            peeledProj match {
              case None => TV(joined.select(
                inner.columns.map(c => col(s"$ra.$c").as(c)): _*))
              case Some((u, r)) =>
                TV(flattenResult(joined, asCV(lower(r, bodyEnv(u)))))
            }
          } else core match {
            // CORRELATION INSIDE A JOIN LEG (the last decorrelation shape
            // vs Interpret.v:273-299): for-each outer row, join two inner
            // tables each restricted by correlated filters. Lowered to ONE
            // three-way join — outer ⋈(leg-1 preds) inner1 ⋈(leg-2 preds ∧
            // join pred) inner2 — so Catalyst plans ordinary equi/θ-joins
            // (broadcast or shuffle) instead of a per-outer-row nested
            // loop. The join predicate and result may reference the outer
            // row too (arbitrary-body semantics).
            case EJoin(_, jl1, jl2, a, b, jp, jr) =>
              def peelLeg(leg: Expr): (List[(String, Expr)], Expr) = {
                var fs = List.empty[(String, Expr)]; var c = leg
                while (Rewrites.freeVars(c).contains(x)) c match {
                  case EFilter(_, l, y, p) => fs ::= (y, p); c = l
                  case _ => throw correlatedError(null)
                }
                (fs, c)
              }
              val (fs1, c1) = peelLeg(jl1); val (fs2, c2) = peelLeg(jl2)
              val r1a = s"__decor_j1_$id"; val r2a = s"__decor_j2_$id"
              def legDF(c: Expr) = lower(c, env) match {
                case TV(d) => d
                case cv @ CV(_) => toDF(cv, env)
              }
              val in1 = legDF(c1); val in2 = legDF(c2)
              val row1 = qualifiedRow(in1.columns, r1a)
              val row2 = qualifiedRow(in2.columns, r2a)
              val (legT1, legT2) = (synthElem(c1, env), synthElem(c2, env))
              val envL = env.bind(x, CV(leftRow), synthElem(e1, env))
              val p1 = fs1.map { case (y, p) =>
                  asCV(lower(p, envL.bindRow(y, CV(row1), legT1))) }
                .reduceOption(_ && _).getOrElse(lit(true))
              val p2 = fs2.map { case (y, p) =>
                  asCV(lower(p, envL.bindRow(y, CV(row2), legT2))) }
                .reduceOption(_ && _).getOrElse(lit(true))
              val envJ = envL.bindRow(a, CV(row1), legT1)
                .bindRow(b, CV(row2), legT2)
              val jpC = asCV(lower(jp, envJ))
              val joined = df.alias(la)
                .join(in1.alias(r1a), p1, "inner")
                .join(in2.alias(r2a), p2 && jpC, "inner")
              // TRIPLE-TABLE REWRITE (round 10): the join BODY holds
              // correlated scalar aggregates referencing a LEG binder —
              // the two-binder-level shape (a per-(outer,pair) subquery,
              // reference semantics Interpret.v:273-312). Emit the
              // decorrelated join as a table of (outer, leg1, leg2)
              // record triples and re-enter the compiler with the body as
              // an EProj over it: all three binders become fields of ONE
              // projection binder, so the projection unnester lowers the
              // subqueries with its ordinary groupBy / join-then-
              // reaggregate / gate-broadcast plans. Filters/projection
              // peeled ABOVE the join re-apply as expression layers over
              // the rewritten proj; layers that reference the OUTER row
              // thread it through as (element, outer) pairs (needX below)
              // so the binding survives x folding into the triple.
              val abAggs = collectCorrelatedAggs(jr, a) ++
                collectCorrelatedAggs(jr, b)
              if (abAggs.nonEmpty && !bindsVar(jr, x) &&
                  !bindsVar(jr, a) && !bindsVar(jr, b) &&
                  filters.forall(f => !bindsVar(f._2, x)) &&
                  peeledProj.forall(pr => !bindsVar(pr._2, x))) {
                def partCol(alias: String, cols: Array[String],
                    name: String): Column =
                  (if (cols.sameElements(Array("value")))
                    col(s"$alias.value")
                  else struct(cols.sorted.map(c =>
                    col(s"$alias.$c").as(c)): _*)).as(name)
                val tn = s"__jtrip${latIds.incrementAndGet()}"
                val z = s"__jtz${latIds.incrementAndGet()}"
                val flat = joined.select(
                  partCol(la, df.columns, "xo"),
                  partCol(r1a, in1.columns, "lg"),
                  partCol(r2a, in2.columns, "rg"))
                val tripEnv = env.withTable(tn, flat, TBag(TRecord.sorted(
                  "xo" -> synthElem(e1, env), "lg" -> legT1, "rg" -> legT2)))
                val elem2 = Rewrites.foldExpr(jr) {
                  case EVar(`x`) => EAccess(EVar(z), "xo")
                  case EVar(`a`) => EAccess(EVar(z), "lg")
                  case EVar(`b`) => EAccess(EVar(z), "rg")
                  case o => o
                }
                val needX =
                  filters.exists(f => Rewrites.freeVars(f._2).contains(x)) ||
                    peeledProj.exists(pr =>
                      Rewrites.freeVars(pr._2).contains(x))
                if (!needX) {
                  var rex: Expr = EProj(tag, ELoc(tn), z, elem2)
                  filters.foreach { case (fy, fp) =>
                    rex = EFilter(tag, rex, fy, fp) }
                  peeledProj.foreach { case (u, pr) =>
                    rex = EProj(tag, rex, u, pr) }
                  return lower(rex, tripEnv)
                } else {
                  // filters/projection above the join reference the OUTER
                  // row: thread it through — project (element, outer-row)
                  // PAIRS, rewrite each layer's x reads to the pair's
                  // carried outer row, and extract the element at the end
                  var rex: Expr = EProj(tag, ELoc(tn), z, ERecord(List(
                    "e" -> elem2, "xv" -> EAccess(EVar(z), "xo"))))
                  def overPair(binder: String, e0: Expr): Expr =
                    Rewrites.foldExpr(e0) {
                      case EVar(`binder`) => EAccess(EVar(binder), "e")
                      case EVar(`x`) => EAccess(EVar(binder), "xv")
                      case o => o
                    }
                  filters.foreach { case (fy, fp) =>
                    rex = EFilter(tag, rex, fy, overPair(fy, fp)) }
                  peeledProj match {
                    case Some((u, pr)) =>
                      rex = EProj(tag, rex, u, overPair(u, pr))
                    case None =>
                      val w = s"__jtw${latIds.incrementAndGet()}"
                      rex = EProj(tag, rex, w, EAccess(EVar(w), "e"))
                  }
                  return lower(rex, tripEnv)
                }
              }
              val elem = asCV(lower(jr, envJ))
              // the join element's type, via the typed leg binders
              val jrT = synthLite(jr, envJ)
              // filters peeled ABOVE the join bind to the join's computed
              // element (jr's value), not to plan attributes
              val kept = filters.map { case (y, p) =>
                  asCV(lower(p, envL.bind(y, CV(elem), jrT))) }
                .reduceOption(_ && _).map(joined.where).getOrElse(joined)
              peeledProj match {
                case None => TV(flattenResult(kept, elem))
                case Some((u, r)) =>
                  TV(flattenResult(kept,
                    asCV(lower(r, envL.bind(u, CV(elem), jrT)))))
              }
            // CORRELATED ZIP-FLATMAP (EFlatmap2 under a correlated body):
            // each correlated leg is an ESort of a correlated filter chain
            // — exactly the sequential consumer the aggregate unnesting
            // already lowers to a per-distinct-outer-row canonical array.
            // Route the WHOLE body through that machinery: the ESort legs
            // become bound array columns, the rewritten EFlatmap2 zips
            // them through the nested zip_with path (shorter-side cut),
            // and the per-outer-row result array explodes against the
            // join chain. An UNCORRELATED table leg lifts to its canonical
            // array literal (the ≤10k localization the table EFold
            // defines) so it can zip against a correlated sibling; legs
            // without an ESort keep the directed error — their reference
            // order is storage order, which no distributed plan can see.
            case fm2 @ EFlatmap2(zl1, zl2, za, zb, zbody) =>
              var legBinds = List.empty[(String, Val, FType)]
              def liftLeg(leg: Expr): Expr =
                if (Rewrites.freeVars(leg).contains(x)) leg
                else lower(leg, env) match {
                  case CV(_) => leg
                  case TV(d) =>
                    val arr = tableArrayLit(d, 10000,
                        synthElem(leg, env), env.wordWidth)
                      .getOrElse(throw correlatedError(null))
                    val n = s"__zleg${latIds.incrementAndGet()}"
                    legBinds ::= ((n, CV(arr), synthLite(leg, env)))
                    EVar(n)
                }
              val fm2b = EFlatmap2(liftLeg(zl1), liftLeg(zl2), za, zb, zbody)
              val e2b =
                if (legBinds.isEmpty) e2i
                else Rewrites.foldExpr(e2i)(n0 => if (n0 == fm2) fm2b else n0)
              val envB = legBinds.foldLeft(env) {
                case (acc, (n, v, t)) => acc.bind(n, v, t)
              }
              def zipUnnest(): Val = {
                val ((joined, benv, body2), _) =
                  unnestCorrelatedAggs(df, x, e2b, envB, synthElem(e1, env))
                lower(body2, benv) match {
                  case CV(arr) => TV(canonTagDF(tag,
                    flattenExploded(joined, arr)))
                  case TV(_) => throw correlatedError(null)
                }
              }
              try zipUnnest()
              catch { case u: UnsupportedOperationException =>
                // no collectible correlated leg (both lifted / list
                // values): x stays a scalar row reference over the plain
                // outer table; bindRow keeps any deeper table-level
                // correlation on the directed-error path
                lower(e2b, envB.bindRow(x, CV(rowStruct(df)),
                    synthElem(e1, env))) match {
                  case CV(arr) => TV(canonTagDF(tag,
                    flattenExploded(df, arr)))
                  case TV(_) => throw correlatedError(u)
                }
              }
            case _ => throw correlatedError(null)
          }
        }
        def directPath(): Val = {
          assertUncorrelated(env, Set(x), e2)
          // A correlated body over a DIFFERENT table crashes inside the
          // body compile (foreign attributes in a filter), so catch and
          // redirect. x is a bindRow: a nested table operator referencing
          // it trips assertUncorrelated (catching the silent same-table
          // case too).
          val body =
            try lower(e2, env.bindRow(x, CV(rowStruct(df)),
              synthElem(e1, env)))
            catch {
              case e: org.apache.spark.sql.AnalysisException
                  if Rewrites.freeVars(e2).contains(x) =>
                throw correlatedError(e)
            }
          body match {
            case CV(arr) => // per-row list → explode
              TV(flattenExploded(df, arr))
            case TV(inner) => // table body: cross product when uncorrelated
              if (Rewrites.freeVars(e2).contains(x))
                throw correlatedError(null)
              TV(df.crossJoin(inner))
          }
        }
        try directPath()
        catch {
          case direct: UnsupportedOperationException
              if Rewrites.freeVars(e2).contains(x) =>
            try decorrelate()
            catch { case scala.util.control.NonFatal(dec) =>
              direct.addSuppressed(dec); throw direct
            }
        }
      case CV(c) =>
        val et = synthElem(e1, env)
        val rt = synthElem(EFlatmap(tag, e1, x, e2), env)
        CV(canonTag(tag, flatten(transform(c,
          v => asCV(lower(e2, env.bind(x, CV(v), et))))),
          rt, env.wordWidth))
    }

    case EFlatmap2(e1, e2, x1, x2, e3) =>
      (lower(e1, env), lower(e2, env)) match {
        // at least one TABLE side: lift the other (a typed list value) to
        // a table too and zip positionally
        case (v1, v2) if v1.isInstanceOf[TV] || v2.isInstanceOf[TV] =>
          val d1 = toDF(v1, env)
          val d2 = toDF(v2, env)
          // lockstep zip of two TABLES. A top-level list's observable
          // order is canonical value order (the table-level EFold takes
          // the same stance), so positions come from zipWithIndex over
          // each canonically-sorted side — a DISTRIBUTED zip (one count
          // pass for per-partition offsets), not a single-partition
          // window — and the inner position join cuts at the shorter
          // side (flat_map2, fiat2/src/fiat2/Interpret.v:7-11).
          assertUncorrelated(env, Set(x1, x2), e3)
          val (t1, t2) = (synthElem(e1, env), synthElem(e2, env))
          val z1 = zipIndexed(d1, t1, env.wordWidth).alias("__zip_l")
          val z2 = zipIndexed(d2, t2, env.wordWidth).alias("__zip_r")
          val joined = z1.join(z2,
            col("__zip_l.__pos") === col("__zip_r.__pos"), "inner")
          val bound = env
            .bindRow(x1, CV(qualifiedRow(d1.columns, "__zip_l")), t1)
            .bindRow(x2, CV(qualifiedRow(d2.columns, "__zip_r")), t2)
          TV(flattenExploded(joined, asCV(lower(e3, bound))))
        case (v1, v2) =>
          // nested lists: zip_with pads with null, so slice both sides
          // to the common length first
          val a1 = asCV(v1); val a2 = asCV(v2)
          val n = least(size(a1), size(a2))
          val (t1, t2) = (synthElem(e1, env), synthElem(e2, env))
          CV(flatten(zip_with(slice(a1, lit(1), n), slice(a2, lit(1), n),
            (w1, w2) => asCV(lower(e3,
              env.bind(x1, CV(w1), t1).bind(x2, CV(w2), t2))))))
      }

    case EFold(l, z, x, acc, step) => lower(l, env) match {
      case CV(c) =>
        // the reference's EFold is a RIGHT fold (fold_right,
        // Interpret.v:313-319): left-aggregate over the reversed list
        val et = synthElem(l, env)
        val accT = synthLite(z, env)
        CV(aggregate(reverse(c), asCV(lower(z, env)),
          (a, v) => asCV(lower(step,
            env.bind(x, CV(v), et).bind(acc, CV(a), accT)))))
      case TV(df) =>
        // General fold over a table is inherently sequential (SURVEY.md §7).
        // A DataFrame has no intrinsic order, so the fold is DEFINED over
        // canonical value order (sort by all columns) — deterministic, and
        // the order an ESort of the table would expose. Small tables
        // localize to an array literal and stay LAZY (they compose into
        // larger expressions with no job); larger tables stream through
        // the driver in canonical-DESC batches — a right fold is a left
        // fold over the reversed order — evaluating one bounded batch per
        // job, so memory is O(batch) at ANY row count and the reference's
        // own O(n) sequential semantics is preserved instead of refused.
        df.schema.foreach { f =>
          val nested = f.dataType match {
            case _: ArrayType | _: StructType | _: MapType => true
            case _ => false
          }
          if (nested) throw new UnsupportedOperationException(
            s"EFold over a table with nested column ${f.name} - use " +
              "EACFold/EACIFold or fold a nested collection value instead")
        }
        val batchSize = 10000
        val cols = df.columns.sorted
        val elemT = synthElem(l, env)
        val accTT = synthLite(z, env)
        def foldArr(arr: Column, accCol: Column): Column =
          aggregate(arr, accCol, (a, v) =>
            asCV(lower(step, env.bind(x, CV(v), elemT)
              .bind(acc, CV(a), accTT))))
        val zCol = asCV(lower(z, env))
        tableArrayLit(df, batchSize, elemT, env.wordWidth) match {
          // right fold (Interpret.v:313-319) over the canonical order
          case Some(arr) => CV(foldArr(reverse(arr), zCol))
          case None =>
          // streamed batched fold, canonical-DESC order; the accumulator
          // is re-literalized between batches, so it must stay scalar
          import scala.jdk.CollectionConverters._
          val it = df.orderBy(canonSortCols(df, elemT, env.wordWidth)
              .map(_.desc): _*)
            .toLocalIterator().asScala
          var accCol = zCol
          val buf = new scala.collection.mutable.ArrayBuffer[
            org.apache.spark.sql.Row](batchSize)
          def flush(): Unit = if (buf.nonEmpty) {
            val elems = buf.map(rowLiteral(_, df.schema, cols)).toIndexedSeq
            val res = evalScalar(env, foldArr(array(elems: _*), accCol))
            accCol =
              try lit(res)
              catch { case _: RuntimeException =>
                throw new UnsupportedOperationException(
                  "EFold over a large table with a non-scalar " +
                    "accumulator - use EACFold/EACIFold or restructure") }
            buf.clear()
          }
          it.foreach { r => buf += r; if (buf.size >= batchSize) flush() }
          flush()
          CV(accCol)
        }
    }

    // Table-level AC/ACI folds aggregate DISTRIBUTED, then surface the one
    // result value eagerly as a scalar (same stance as table OLength above,
    // and the reference interpreter's eagerness) — so an aggregate composes
    // into records/arithmetic anywhere a scalar goes.
    case EACFold(agg, e1) => (agg, lower(e1, env)) match {
      case (AGSum, TV(df)) if env.bigInt =>
        // ONE distributed agg, map-side-combinable partials in the
        // canonical encoding (BigIntSumAgg); empty input yields the
        // aggregator's zero, not null — same stance as the other tiers
        CV(lit(df.agg(BigIntOps.sumCol(col("value"))).head()
          .getAs[Array[Byte]](0)))
      case (AGSum, TV(df)) =>
        // sum WIDE (Decimal(38,0) partials — still one distributed agg),
        // then range-check on the driver: a table sum past 2^63 raises the
        // DIRECTED, typed overflow instead of ANSI's bare ARITHMETIC_OVERFLOW
        val wide = df.agg(coalesce(sum(col("value").cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0)))).head().getDecimal(0)
        // bitLength excludes the sign bit: -2^63 (in range) is 63, 2^63 and
        // -2^63-1 (out of range) are 64
        val bi = wide.toBigInteger
        if (bi.bitLength > 63)
          throw new Fiat2.TIntOverflow(Fiat2.overflowMessage(s"table sum $bi"))
        CV(lit(bi.longValueExact()))
      case (AGCount, TV(df)) => CV(intCol(lit(df.count()), env))
      case (AGSum, CV(c)) => CV(if (env.bigInt)
          aggregate(c, lit(graft.functions.BigIntMath.ZERO_BYTES),
            (a, v) => BigIntOps.add(a, v))
        else aggregate(c, lit(0L), (a, v) => Fiat2.checkedAdd(a, v)))
      case (AGCount, CV(c)) => CV(intCol(size(c).cast("long"), env))
    }

    case EACIFold(agg, e1) => (agg, lower(e1, env)) match {
      case (AGMin, TV(df)) => CV(typedAggLit(df, min(col("value"))))
      case (AGMax, TV(df)) => CV(typedAggLit(df, max(col("value"))))
      case (AGMin, CV(c)) => CV(array_min(c))
      case (AGMax, CV(c)) => CV(array_max(c))
    }

    case EBagOf(l) => lower(l, env) match {
      case TV(df) => TV(df) // DataFrames are bags natively
      case CV(c) => // canonical nested bag: REFERENCE element order
        CV(CanonOrder.sortArray(c, synthElem(l, env), env.wordWidth))
    }
    case ESetOf(l) => lower(l, env) match {
      case TV(df) => TV(df.distinct())
      case CV(c) => CV(CanonOrder.sortArray(array_distinct(c),
        synthElem(l, env), env.wordWidth))
    }
  }

  /** Canonical-order sort columns for a TABLE: the name-sorted columns,
    * keyed through CanonOrder where the element type needs it (word
    * columns order unsigned, nested-bag columns by run-length pairs) — the
    * TABLE analog of `CanonOrder.sortArray`, shared by `ESort`, the table
    * `EFold` stream order, `tableArrayLit`, and `zipIndexed`. */
  private def canonSortCols(df: DataFrame, elemT: FType,
      width: Int): Seq[Column] = {
    val cols = df.columns.sorted
    val keys = elemT match {
      case TRecord(fs) if fs.exists(f => CanonOrder.needsKey(f._2, width)) =>
        fs.sortBy(_._1).map { case (n, ft) => CanonOrder.key(col(n), ft, width) }
      case t if CanonOrder.needsKey(t, width) &&
          cols.sameElements(Array("value")) =>
        Seq(CanonOrder.key(col("value"), t, width))
      case _ => Nil
    }
    // CanonOrder keys are non-injective on null-encoded inputs (None vs
    // boxed Some(None); null bag vs empty bag) — the raw name-sorted
    // columns follow as tie-breaks so the row order on keyed ties is
    // deterministic and matches sortArray's decorate-sort, which
    // tie-breaks on the raw value.
    keys ++ cols.map(col)
  }

  /** Canonical-order ARRAY LITERAL of a table — the ≤`cap`-row localization
    * the table EFold and the zip-leg lift share; None when the table is too
    * big to localize. Lazy in the Spark sense: composes into larger
    * expressions with no job beyond the one limit-collect here. */
  private def tableArrayLit(df: DataFrame, cap: Int, elemT: FType,
      width: Int): Option[Column] = {
    val cols = df.columns.sorted
    val head = df.orderBy(canonSortCols(df, elemT, width): _*)
      .limit(cap + 1).collect()
    if (head.length > cap) None
    else Some {
      val elems = head.map(rowLiteral(_, df.schema, cols))
      if (elems.isEmpty) array().cast(ArrayType(
        if (cols.sameElements(Array("value"))) df.schema("value").dataType
        else StructType(cols.map(c => df.schema(c)))))
      else array(elems.toIndexedSeq: _*)
    }
  }

  /** Rebuild a collected row as a literal expression. NULL cells must keep
    * their column's type — a bare `lit(null)` is NullType and breaks any fold
    * body that touches it. */
  def rowLiteral(row: org.apache.spark.sql.Row, schema: StructType,
      cols: Array[String]): Column = {
    def cell(c: String): Column =
      if (row.isNullAt(row.fieldIndex(c)))
        lit(null).cast(schema(c).dataType)
      else lit(row.getAs[Any](c))
    if (cols.sameElements(Array("value"))) cell("value")
    else struct(cols.map(c => cell(c).as(c)): _*)
  }

  /** Contiguous 0-based positions over the canonical (all-columns,
    * name-sorted, CanonOrder-keyed where the element type needs it) order —
    * `zipWithIndex` computes per-partition offsets from one count pass and
    * never funnels the data through a single partition, unlike a global
    * `row_number` window. */
  private def zipIndexed(df: DataFrame, elemT: FType,
      width: Int): DataFrame = {
    val ordered = df.orderBy(canonSortCols(df, elemT, width): _*)
    val schema2 = ordered.schema.add("__pos", LongType, nullable = false)
    val rdd = ordered.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, schema2)
  }

  private def flattenExploded(df: DataFrame, arr: Column): DataFrame =
    spread(df.select(explode(arr).as("__elem")))

  private def wordOps(env: Env): WordOps.Width =
    WordOps.forWidth(env.wordWidth)

  private def compileBinop(op: Binop, e1: Expr, e2: Expr, env: Env): Val = {
    lazy val v1 = lower(e1, env)
    lazy val v2 = lower(e2, env)
    op match {
      // default TInt (Long) path: overflow-checked with a DIRECTED error
      // naming bigInt (the reference's TInt is unbounded Z, Value.v:12 —
      // a silent wrap or a bare ANSI error would both mis-serve it)
      case OPlus => CV(if (env.bigInt) BigIntOps.add(asCV(v1), asCV(v2))
        else Fiat2.checkedAdd(asCV(v1), asCV(v2)))
      case OMinus => CV(if (env.bigInt) BigIntOps.sub(asCV(v1), asCV(v2))
        else Fiat2.checkedSub(asCV(v1), asCV(v2)))
      case OTimes => CV(if (env.bigInt) BigIntOps.mul(asCV(v1), asCV(v2))
        else Fiat2.checkedMul(asCV(v1), asCV(v2)))
      case ODiv => CV(if (env.bigInt) BigIntOps.ediv(asCV(v1), asCV(v2))
        else Fiat2.ediv(asCV(v1), asCV(v2)))
      case OMod => CV(if (env.bigInt) BigIntOps.emod(asCV(v1), asCV(v2))
        else Fiat2.emod(asCV(v1), asCV(v2)))
      // TWord machine-word family — wrap-around + total div/mod, never the
      // ANSI overflow-checked builtins (functions/WordOps.scala). The op
      // bundle is width-selected (64 default, 32 opt-in via Env.wordWidth).
      case OWPlus => CV(wordOps(env).wadd(asCV(v1), asCV(v2)))
      case OWMinus => CV(wordOps(env).wsub(asCV(v1), asCV(v2)))
      case OWTimes => CV(wordOps(env).wmul(asCV(v1), asCV(v2)))
      case OWDivU => CV(wordOps(env).divu(asCV(v1), asCV(v2)))
      case OWDivS => CV(wordOps(env).divs(asCV(v1), asCV(v2)))
      case OWModU => CV(wordOps(env).modu(asCV(v1), asCV(v2)))
      case OWModS => CV(wordOps(env).mods(asCV(v1), asCV(v2)))
      case OWLessU => CV(wordOps(env).ltu(asCV(v1), asCV(v2)))
      case OWLessS => CV(wordOps(env).lts(asCV(v1), asCV(v2)))
      // width-correct unsigned length + wrapping step (NOT the signed
      // Int-range semantics of ORange/Fiat2.rangeList)
      case OWRange => CV(wordOps(env).range(asCV(v1), asCV(v2)))
      case OAnd => CV(asCV(v1) && asCV(v2))
      case OOr => CV(asCV(v1) || asCV(v2))
      case OConcatString => CV(concat(asCV(v1), asCV(v2)))
      case OLess => CV(asCV(v1) < asCV(v2))
      // value_eqb is TOTAL (Value.v:150): None == None is true, None ==
      // Some _ is false. Spark `===` returns NULL on a null operand, so
      // option-typed comparands need the null-safe `<=>` to match.
      case OEq => CV(asCV(v1) <=> asCV(v2))
      case ORange => CV(if (env.bigInt)
          // bounds decode to the Long domain (a range longer than 2^63 is
          // unmaterializable at ANY tier — BigIntToLong raises directed);
          // elements re-encode so the result list is tier-consistent
          transform(Fiat2.rangeList(BigIntOps.toLong(asCV(v1)),
            BigIntOps.toLong(asCV(v2))), e => BigIntOps.fromLong(e))
        else Fiat2.rangeList(asCV(v1), asCV(v2)))
      case OLookup => synthLite(e1, env) match {
        // lookup : TOption(vt) — an OPTION-VALUED dict must box the found
        // value (a found None is Some(None), distinct from a missing key)
        case TDict(_, vt @ TOption(_)) =>
          val entry = get(filter(asCV(v1), e => e("key") <=> asCV(v2)),
            lit(0))
          CV(when(entry.isNull,
            lit(null).cast(sparkType(TOption(vt), env.wordWidth,
              env.bigInt)))
            .otherwise(struct(entry("value").as("s"))))
        case _ => CV(Fiat2.dictLookup(asCV(v1), asCV(v2)))
      }
      case ODelete => CV(Fiat2.dictDelete(asCV(v1), asCV(v2)))
      case OConcat => (v1, v2) match {
        // Align by NAME (engine convention: name-sorted row structs) — a
        // positional union would silently misalign ELoc tables whose columns
        // arrive in different physical order but identical positional types.
        case (TV(d1), TV(d2)) =>
          TV(d1.select(d1.columns.sorted.map(col): _*)
            .unionByName(d2.select(d2.columns.sorted.map(col): _*)))
        case (a, b) => CV(concat(asCV(a), asCV(b)))
      }
      case OCons => e2 match {
        // cons onto the empty list (the notation's `[x, .., y]` / `ret e`
        // sugar): the singleton of the head, in the head's own encoding — a
        // row of a schema-typed table keeps the columns its type leaves out
        case EAtom(ANil(_)) => CV(array(asCV(v1)))
        case _ => (v1, v2) match {
          case (elem, TV(df)) => TV(consRow(asCV(elem), df))
          case (a, b) => CV(concat(array(asCV(a)), asCV(b)))
        }
      }
      // NB argument order is (collection, element), unlike OCons —
      // fiat2/src/fiat2/Interpret.v:186-193.
      case OBagInsert => (v1, v2) match {
        case (TV(df), elem) => TV(consRow(asCV(elem), df))
        case (a, b) => CV(CanonOrder.sortArray(
          concat(asCV(a), array(asCV(b))), synthElem(e1, env), env.wordWidth))
      }
      case OSetInsert => (v1, v2) match {
        case (TV(df), elem) => TV(consRow(asCV(elem), df).distinct())
        case (a, b) => CV(CanonOrder.sortArray(
          array_union(asCV(a), array(asCV(b))), synthElem(e1, env),
          env.wordWidth))
      }
    }
  }

  /** Aggregate a 1-column table to one eager value, preserving the column
    * type when the result is NULL (ACI None-on-empty). */
  private def typedAggLit(df: DataFrame, agg: Column): Column = {
    val out = df.agg(agg.as("value"))
    val v = out.head().get(0)
    if (v == null) lit(null).cast(out.schema.head.dataType) else lit(v)
  }

  /** fiat2's INSERT: `cons` a record onto a table (SURVEY.md §4.3). */
  private def consRow(elem: Column, df: DataFrame): DataFrame =
    rowPlan(df.sparkSession, elem, df.columns).union(df)

  /** One inserted element (a record, or the scalar of a `value` table) as
    * a one-row plan with the columns `cols`. A single-split Range plan is
    * one partition, so a cons chain of them unions without a shuffle; a
    * `LocalRelation` per row would not, and a global sort over the chain
    * would plan an Exchange. An insert chain's delta folds its rows into
    * one relation with `localUnion`. */
  def rowPlan(spark: SparkSession, elem: Column,
      cols: Array[String]): DataFrame =
    if (cols.sameElements(Array("value")))
      oneRow(spark).select(elem.as("value"))
    else oneRow(spark).select(cols.map(c => elem(c).as(c)): _*)
}
