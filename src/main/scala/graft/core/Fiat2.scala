package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level helpers realizing the reference's value semantics
  * (mit-plv/fiat2) on Spark, per SURVEY.md §1.5.
  *
  * Conventions:
  *  - Records = `StructType` with fields pre-sorted by name, mirroring
  *    `record_sort` (fiat2/src/fiat2/Interpret.v:334-335). This makes Spark's
  *    lexicographic struct comparison coincide with fiat2's `record_compare`
  *    (fiat2/src/fiat2/Value.v:106-107).
  *  - Options = nullable columns (fiat2/src/fiat2/Language.v:10).
  *  - Sets (nested) = sorted deduplicated arrays (fiat2/src/fiat2/Interpret.v:126-135).
  *  - Bags (nested) = sorted arrays of (value, count) structs
  *    (fiat2/src/fiat2/Interpret.v:112-124).
  *  - Dicts = sorted arrays of (key, value) structs — NOT MapType, which Spark
  *    forbids in `=`/`groupBy`/`orderBy` (fiat2/src/fiat2/Value.v:492-497).
  *
  * All helpers compose built-in `org.apache.spark.sql.functions` so the whole
  * expression tree stays inside whole-stage codegen.
  */
object Fiat2 {

  // ---------------------------------------------------------------------------
  // Integer arithmetic with fiat2 (Coq Z) semantics.
  // ---------------------------------------------------------------------------

  /** The prefix of every directed TInt-overflow message: the narrow tier's
    * checked ops, correlated sums and table sums all start with it, and
    * `Compiler.isTIntOverflow` recognizes a `raise_error` by it. */
  val TIntOverflowMarker = "TInt overflow"

  /** The eager table-sum range check's overflow, typed so the tiering can
    * recognize it without reading its message. */
  final class TIntOverflow(msg: String) extends ArithmeticException(msg)

  private val fix = " exceeds the 64-bit default mapping - fiat2 TInt is " +
    "unbounded Z; compile with Env(bigInt = true) for the bignum mapping"

  /** The directed overflow message for `what`. */
  def overflowMessage(what: String): String = s"$TIntOverflowMarker: $what$fix"

  /** Overflow-CHECKED Long arithmetic for the DEFAULT `TInt` mapping. The
    * reference's `TInt` is Coq `Z` — unbounded — so a 64-bit wrap would be
    * silent data corruption and an ANSI `ARITHMETIC_OVERFLOW` an undirected
    * one. `try_add`/`try_subtract`/`try_multiply` compute the wrap-free
    * result-or-null, and a null under non-null operands raises a DIRECTED
    * error naming the fix: `Env(bigInt = true)`, the unbounded bignum
    * mapping. Null operands (None-encoded options) still propagate null,
    * exactly like the unchecked `+`. All codegen'd builtins.
    */
  def checkedArith(op: String, sym: String, a: Column, b: Column): Column = {
    val t = call_function(s"try_$op", a, b)
    when(a.isNotNull && b.isNotNull && t.isNull,
      raise_error(concat(
        lit(s"$TIntOverflowMarker: ("), a.cast("string"), lit(s") $sym ("),
        b.cast("string"), lit(")" + fix))).cast("long"))
      .otherwise(t)
  }
  def checkedAdd(a: Column, b: Column): Column =
    checkedArith("add", "+", a, b)
  def checkedSub(a: Column, b: Column): Column =
    checkedArith("subtract", "-", a, b)
  def checkedMul(a: Column, b: Column): Column =
    checkedArith("multiply", "*", a, b)
  /** Checked unary negation: only -(-2^63) overflows. The CASE guard keeps
    * ANSI's own negate from ever seeing it (branches evaluate lazily). */
  def checkedNeg(a: Column): Column =
    when(a === lit(Long.MinValue),
      raise_error(lit(overflowMessage("-(-9223372036854775808)"))).cast("long"))
      .otherwise(-a)

  /** Euclidean-style modulo with the sign of the DIVISOR — Coq `Z.modulo`
    * (fiat2/src/fiat2/Interpret.v:150). Differs from Spark/Java `%`, which
    * takes the sign of the dividend. `((a % b) + b) % b` flips the sign in
    * pure long arithmetic (codegen'd, no UDF). TOTAL like the reference:
    * `a mod 0 = a` (Coq `Z.mod_0_r`) instead of an ANSI error — CASE WHEN
    * evaluates branches lazily, so the `%` never sees a zero divisor.
    */
  def emod(a: Column, b: Column): Column =
    when(b === 0, a).otherwise(((a % b) + b) % b)

  /** Floor division — Coq `Z.div` (fiat2/src/fiat2/Interpret.v:147). Differs
    * from Spark/Java truncation toward zero. `a - emod(a,b)` is exactly
    * divisible by `b`, so integral `div` (truncating) gives the floor result
    * exactly, with no double-precision round-trip. TOTAL like the reference:
    * `a / 0 = 0` (Coq `Z.div_0_r`).
    */
  def ediv(a: Column, b: Column): Column =
    when(b === 0, lit(0L)).otherwise(call_function("div", a - emod(a, b), b))

  // ---------------------------------------------------------------------------
  // Records (name-sorted structs).
  // ---------------------------------------------------------------------------

  /** Build a record struct with fields sorted by name (fiat2 `record_sort`,
    * fiat2/src/fiat2/Interpret.v:334-335). Duplicate field names are rejected
    * eagerly, mirroring `record_wf` (fiat2/src/fiat2/Value.v:485-490).
    */
  def record(fields: (String, Column)*): Column = {
    require(fields.map(_._1).distinct.size == fields.size,
      s"duplicate record fields in ${fields.map(_._1)}")
    struct(fields.sortBy(_._1).map { case (n, c) => c.as(n) }: _*)
  }

  // ---------------------------------------------------------------------------
  // Options (nullable columns).
  // ---------------------------------------------------------------------------

  /** fiat2 `EOptMatch` (fiat2/src/fiat2/Interpret.v:340-345):
    * `match e with None => none | Some x => some x end`.
    */
  def optMatch(e: Column, none: Column, some: Column => Column): Column =
    when(e.isNull, none).otherwise(some(e))

  // ---------------------------------------------------------------------------
  // Sets and bags as nested canonical arrays.
  // ---------------------------------------------------------------------------

  /** The reference's EXACT nested-bag encoding — sorted (value, count)
    * pairs, fiat2 `list_to_bag` (fiat2/src/fiat2/Interpret.v:112-124) — for
    * interop at the boundary. NOTE: the engine's own nested-bag convention
    * (Compiler/sparkType) is the equivalent sorted ELEMENT array (README
    * "Known divergences"); convert with this helper when the reference
    * encoding is required.
    *
    * Run-length encodes the SORTED array: first-occurrence positions are
    * found in one linear pass, and each count is the gap to the next
    * boundary — O(n log n) total in the array length (the sort), not the
    * per-distinct-value rescan (O(n·d)) of the naive form.
    */
  def bagOfArray(arr: Column): Column = {
    val s = sort_array(arr)
    val n = size(s)
    // 0-based first-occurrence positions of each run in the sorted array
    // (greatest(...) keeps `sequence` ascending on an empty input, where
    // the n>0 guard then filters everything out)
    val bounds = filter(sequence(lit(0), greatest(n - 1, lit(0))),
      i => (i === 0 && n > 0) || (i > 0 && get(s, i) =!= get(s, i - 1)))
    transform(bounds, (i, j) =>
      struct(get(s, i).as("value"),
        (coalesce(get(bounds, j + 1), n).cast("long") - i).as("count")))
  }

  /** Inverse boundary conversion: (value, count) bag encoding → the
    * engine's sorted element array. */
  def arrayOfBag(bag: Column): Column =
    flatten(transform(sort_array(bag),
      e => array_repeat(e("value"), e("count").cast("int"))))

  // ---------------------------------------------------------------------------
  // Dicts as sorted (key, value) entry arrays.
  // ---------------------------------------------------------------------------

  /** Dict lookup → option (null when absent), fiat2 `dict_lookup`
    * (fiat2/src/fiat2/Interpret.v:92-110). `get` (0-based) returns null
    * out-of-bounds even under ANSI mode.
    */
  def dictLookup(dict: Column, key: Column): Column =
    get(filter(dict, e => e("key") <=> key), lit(0))("value")

  /** Dict insert-or-overwrite, fiat2 `dict_insert`
    * (fiat2/src/fiat2/Interpret.v:92-110). */
  def dictInsert(dict: Column, key: Column, value: Column): Column =
    sort_array(concat(
      filter(dict, e => !(e("key") <=> key)),
      array(struct(key.as("key"), value.as("value")))))

  /** Dict delete, fiat2 `dict_delete`. */
  def dictDelete(dict: Column, key: Column): Column =
    filter(dict, e => !(e("key") <=> key))

  /** Fold over dict entries in sorted (= stored) order, fiat2 `EDictFold`
    * (fiat2/src/fiat2/Interpret.v:346-350). */
  def dictFold(dict: Column, init: Column,
      step: (Column, Column) => Column): Column =
    // the reference folds dict entries RIGHT (fold_right over the sorted
    // entry list, Interpret.v:346-350): left-aggregate over the reverse
    aggregate(reverse(dict), init, (acc, e) => step(acc, e))

  // ---------------------------------------------------------------------------
  // Ranges.
  // ---------------------------------------------------------------------------

  /** `[lo, hi)` as an array — fiat2 `ORange` (fiat2/src/fiat2/Interpret.v:80-90).
    * fiat2 returns [] when hi <= lo; Spark `sequence` would count DOWN, so
    * guard explicitly.
    */
  def rangeList(lo: Column, hi: Column): Column =
    when(hi <= lo, array().cast("array<long>"))
      .otherwise(sequence(lo, hi - 1))
}
