package graft.lang

/** SQL extraction backend — the analog of the reference's pretty-print-to-
  * Python execution path (fiat2/src/fiat2/ToPython.v:231-232 `program_py`,
  * run under CPython; SURVEY.md §3.1 step 4). The Spark-first extraction
  * target is ANSI SQL text: the emitted string runs under `spark.sql` AND
  * under DuckDB unchanged, so an extracted program carries its own oracle.
  *
  * Covers the relational subset the recognition rewrites produce (run
  * `Rewrites.normalize` first): table reads, filter/proj/join/sort, the
  * AC folds, and the scalar operators whose SQL semantics coincide across
  * engines. Operators with engine-divergent SQL builtins (`ODiv`/`OMod`
  * floor semantics, word ops) are deliberately NOT emitted — the compiled
  * path handles those; extraction refuses rather than silently changing
  * semantics (the same stance as the reference, whose ToPython.v renders a
  * strict subset — SURVEY.md §2.4 notes its EFlatmap2 clause diverges from
  * the interpreter, which this refusal avoids by construction).
  */
object ToSql {
  import Lang._

  final case class Unextractable(what: String)
      extends RuntimeException(s"no SQL extraction for $what")

  /** Extract a whole COMMAND as a SQL script — the analog of the
    * reference's whole-program extraction (`program_py`,
    * fiat2/src/fiat2/ToPython.v:231-232): each binding becomes a
    * `CREATE OR REPLACE TEMP VIEW`, sequencing becomes statement order.
    *
    * The honest subset is SINGLE-ASSIGNMENT straight-line programs:
    * Spark resolves a view's definition at CREATE time while DuckDB
    * resolves at query time, so re-assigning a name that an earlier view
    * reads would give the two engines different answers — extraction
    * refuses re-definition outright (same stance as the expression
    * subset). `CIf`/`CForeach` (driver control flow) have no SQL-script
    * form and refuse too.
    */
  def program(c: Command): List[String] = {
    // `used` = names already defined by the script OR read (as a table
    // location) by any earlier emitted statement. Defining either kind
    // again diverges: Spark froze the earlier reader's plan against the
    // OLD binding (base table or view) at CREATE time, while DuckDB
    // would re-resolve it to the new view at query time.
    def go(c: Command, used: Set[String]): (List[String], Set[String]) =
      c match {
        case CSkip => (Nil, used)
        case CSeq(a, b) =>
          val (s1, u1) = go(a, used)
          val (s2, u2) = go(b, u1)
          (s1 ++ s2, u2)
        case CLet(e, x, body) => define(x, e, body, used)
        case CLetMut(e, x, body) => define(x, e, body, used)
        case CAssign(x, e) => define(x, e, CSkip, used)
        case CIf(_, _, _) => throw Unextractable("CIf")
        case CForeach(_, _, _) => throw Unextractable("CForeach")
      }
    def define(x: String, e: Expr, body: Command,
        used: Set[String]): (List[String], Set[String]) = {
      if (used.contains(x) || locs(e).contains(x)) throw Unextractable(
        s"re-definition of '$x' (view semantics diverge across engines)")
      val stmt = s"CREATE OR REPLACE TEMP VIEW ${ident(x)} AS ${apply(e)}"
      val (rest, u) = go(body, used + x ++ locs(e))
      (stmt :: rest, u)
    }
    go(c, Set.empty)._1
  }

  /** Every table location an expression reads. */
  private def locs(e: Expr): Set[String] = {
    val here = e match { case ELoc(t) => Set(t); case _ => Set.empty[String] }
    here ++ Rewrites.children(e).flatMap(locs)
  }

  /** Extract a table-valued expression to a standalone SQL query. */
  def apply(e: Expr): String = e match {
    case ELoc(t) => s"SELECT * FROM ${ident(t)}"
    case ESort(_, l) => s"SELECT * FROM (${apply(l)}) ORDER BY ALL"
    case EFilter(_, l, x, p) =>
      s"SELECT * FROM ${rel(l, x)} WHERE ${scalar(p)}"
    case EProj(_, l, x, ERecord(fields)) =>
      s"SELECT ${selectList(fields)} FROM ${rel(l, x)}"
    case EProj(_, l, x, body) => // scalar projection → engine "value" column
      s"SELECT ${scalar(body)} AS value FROM ${rel(l, x)}"
    case EJoin(_, l1, l2, x, y, p, ERecord(fields)) =>
      s"SELECT ${selectList(fields)} FROM ${rel(l1, x)} " +
        s"JOIN ${rel(l2, y)} ON ${scalar(p)}"
    // Collection conversions (what CollectionTransf.annotate introduces):
    // SQL relations are bags natively; a set conversion is DISTINCT.
    case EBagOf(l) => apply(l)
    case ESetOf(l) => s"SELECT DISTINCT * FROM (${apply(l)})"
    // A bag conversion under any aggregate is transparent (multiset
    // preserved); a set conversion is transparent only under MIN/MAX
    // (dedup-insensitive) — under COUNT it must stay a DISTINCT subquery.
    case EACFold(agg, EBagOf(l)) => apply(EACFold(agg, l))
    case EACIFold(agg, EBagOf(l)) => apply(EACIFold(agg, l))
    case EACIFold(agg, ESetOf(l)) => apply(EACIFold(agg, l))
    case EBinop(OConcat, l1, l2) => // list/bag append = UNION ALL
      s"SELECT * FROM (${apply(l1)}) UNION ALL SELECT * FROM (${apply(l2)})"
    case EACFold(AGCount, l) => // count works over any element shape
      s"SELECT CAST(COUNT(*) AS BIGINT) AS value FROM (${apply(l)})"
    case EACFold(AGSum, EProj(_, l, x, body)) =>
      s"SELECT CAST(SUM(${scalar(body)}) AS BIGINT) AS value FROM ${rel(l, x)}"
    case EACFold(AGSum, l) => // bare "value"-shaped relation
      s"SELECT CAST(SUM(value) AS BIGINT) AS value FROM (${apply(l)})"
    case EACIFold(agg, EProj(_, l, x, body)) =>
      // None-on-empty maps to SQL NULL-on-empty for MIN/MAX — semantics
      // coincide, so extraction is sound here
      val fn = agg match { case AGMin => "MIN"; case AGMax => "MAX" }
      s"SELECT CAST($fn(${scalar(body)}) AS BIGINT) AS value FROM ${rel(l, x)}"
    case EACIFold(agg, l) =>
      val fn = agg match { case AGMin => "MIN"; case AGMax => "MAX" }
      s"SELECT CAST($fn(value) AS BIGINT) AS value FROM (${apply(l)})"
    case other => throw Unextractable(other.getClass.getSimpleName)
  }

  private def selectList(fields: List[(String, Expr)]): String =
    fields.map { case (n, e) => s"${scalar(e)} AS ${ident(n)}" }.mkString(", ")

  /** A relation in FROM position, aliased by its row variable. */
  private def rel(l: Expr, alias: String): String = l match {
    case ELoc(t) => s"${ident(t)} AS ${ident(alias)}"
    case _ => s"(${apply(l)}) AS ${ident(alias)}"
  }

  private def scalar(e: Expr): String = e match {
    case EAccess(EVar(x), a) => s"${ident(x)}.${ident(a)}"
    case EVar(x) => ident(x)
    case EAtom(AInt(v)) => v.toString
    case EAtom(ABool(v)) => v.toString.toUpperCase
    case EAtom(AString(s)) =>
      if (s.exists(c => c < ' ')) throw Unextractable("control char in string")
      else "'" + s.replace("'", "''") + "'"
    case EUnop(ONeg, a) => s"(- ${scalar(a)})"
    case EUnop(ONot, a) => s"(NOT ${scalar(a)})"
    case EUnop(OLengthString, a) => s"length(${scalar(a)})"
    case EBinop(op, a, b) =>
      val sym = op match {
        case OPlus => "+"; case OMinus => "-"; case OTimes => "*"
        case OLess => "<"; case OEq => "="
        case OAnd => "AND"; case OOr => "OR"
        case OConcatString => "||"
        case other => throw Unextractable(other.toString)
      }
      s"(${scalar(a)} $sym ${scalar(b)})"
    case EIf(c, t, f) =>
      s"(CASE WHEN ${scalar(c)} THEN ${scalar(t)} ELSE ${scalar(f)} END)"
    // Aggregates in scalar position extract as scalar subqueries (both
    // engines evaluate an uncorrelated parenthesized SELECT to one value).
    case EUnop(OLength, l) =>
      s"(SELECT CAST(COUNT(*) AS BIGINT) FROM (${apply(l)}))"
    case f: EACFold => s"(${apply(f)})"
    case f: EACIFold => s"(${apply(f)})"
    case other => throw Unextractable(other.getClass.getSimpleName)
  }

  private val identPat = "[A-Za-z_][A-Za-z0-9_]*".r
  private def ident(s: String): String = s match {
    case identPat() => s
    case _ => throw Unextractable(s"identifier '$s'")
  }
}
