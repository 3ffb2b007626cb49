package graft.lang

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Order-isomorphic SORT KEYS realizing the reference's universal value
  * order (`value_compare`, fiat2/src/fiat2/Value.v:116-145) on the engine's
  * Spark encodings, for the two places the raw encodings' natural order
  * diverges from it:
  *
  *  - WORDS compare UNSIGNED in the reference (`word.ltu`,
  *    fiat2/src/fiat2/Value.v:118-119) but the engine stores the Long-family
  *    widths (1..64) SIGN-EXTENDED, whose natural order is signed. The key
  *    maps a word into the Long whose SIGNED order equals the width's
  *    unsigned order: at width 64 flip the sign bit (XOR 2^63 — adding 2^63
  *    mod 2^64), below 64 mask to the non-negative unsigned residue. The
  *    byte-array family (65+) already stores fixed-length non-negative
  *    residues whose natural (unsigned-lexicographic binary) order IS
  *    unsigned order, so it needs no key.
  *
  *  - NESTED BAGS compare as sorted (value, multiplicity) run-length pairs
  *    in the reference (`bag_compare` over `list_to_bag`,
  *    fiat2/src/fiat2/Value.v:110-113, Interpret.v:112-124), not as their
  *    flat element lists: {a,a,b} vs {a,c} is GT by pairs ((a,2) > (a,1))
  *    but LT element-wise. The engine's STORED encoding stays the sorted
  *    element array (equality agrees either way); the key run-length-encodes
  *    it so lexicographic array-of-struct comparison matches pair order.
  *
  * Sets and dicts store raw-sorted, so when their ELEMENTS need a key the
  * key re-sorts the keyed copies into reference order (a set of words
  * enumerates unsigned-ascending in the reference). Keys are injective on
  * canonical values, so decorate-sort-undecorate (sort structs of (key,
  * value), project the value back) is exact; on a NULL (None-encoded) input
  * a rebuilt key may collide with a non-null value's key, but the struct
  * tie-break then falls to the raw value where null sorts first — exactly
  * the reference's None < Some.
  *
  * Everything composes built-in higher-order functions — no UDFs, the whole
  * key stays inside codegen.
  *
  * Every caller passes the element type: programs are typechecked at their
  * entry and the compiler binds every variable and store cell with its
  * type, so no sort runs on a guessed order. A store table nobody declared
  * is typed from its schema, which reads a Long column as TInt; a word or
  * nested-bag column has to be declared (`Env.storeTypes`), and a program
  * that uses an undeclared one as such fails the typecheck.
  */
object CanonOrder {
  import Lang._

  /** Does sorting values of type `t` need a computed key, or is the raw
    * encoding's natural order already the reference order? */
  def needsKey(t: FType, width: Int): Boolean = t match {
    case TWord => width <= 64 // Long family: stored sign-extended
    case TBag(_) => true // run-length pair order differs from element order
    case TOption(u) => needsKey(u, width)
    case TList(u) => needsKey(u, width)
    case TSet(u) => needsKey(u, width)
    case TDict(k, v) => needsKey(k, width) || needsKey(v, width)
    case TRecord(fs) => fs.exists(f => needsKey(f._2, width))
    case _ => false
  }

  /** The order-isomorphic key of a value of type `t`. Identity when no key
    * is needed (callers should gate on `needsKey` to skip the rebuild). */
  def key(c: Column, t: FType, width: Int): Column =
    if (!needsKey(t, width)) c
    else t match {
      case TWord =>
        if (width == 64) c.bitwiseXOR(lit(Long.MinValue))
        else c.bitwiseAND(lit((1L << width) - 1))
      // boxed nested option (sparkType: struct("s")): rebuild the box
      // around the inner key. A null (None) input rebuilds to a non-null
      // struct-of-null-key, which can only collide with Some(None)'s key;
      // the decorate tie-break then falls to the raw value where null
      // sorts first — again exactly None < Some.
      case TOption(u @ TOption(_)) => struct(key(c("s"), u, width).as("s"))
      case TOption(u) => key(c, u, width)
      case TList(u) => transform(c, e => key(e, u, width))
      // stored raw-sorted; the reference enumerates/compares in ITS order,
      // so keyed elements must re-sort
      case TSet(u) => sort_array(transform(c, e => key(e, u, width)))
      case TDict(k, v) =>
        sort_array(transform(c, e => struct(
          key(e("key"), k, width).as("key"),
          key(e("value"), v, width).as("value"))))
      case TRecord(fs) =>
        // engine records are name-sorted structs; keep that order (it IS
        // record_compare order, Value.v:106-107), key each field
        struct(fs.sortBy(_._1).map { case (n, ft) =>
          key(c(n), ft, width).as(n) }: _*)
      case TBag(u) =>
        rlePairs(sort_array(transform(c, e => key(e, u, width))))
      case _ => c
    }

  /** Run-length encode a KEY-SORTED array into (value, count) structs —
    * value field first so lexicographic struct order compares value, then
    * multiplicity, exactly `bag_compare` (Value.v:110-113). Null-safe run
    * boundaries (`<=>`) keep None runs from merging into their neighbor. */
  private def rlePairs(s: Column): Column = {
    val n = size(s)
    val bounds = filter(sequence(lit(0), greatest(n - 1, lit(0))),
      i => (i === 0 && n > 0) || (i > 0 && !(get(s, i) <=> get(s, i - 1))))
    transform(bounds, (i, j) =>
      struct(get(s, i).as("v"),
        (coalesce(get(bounds, j + 1), n).cast("long") - i).as("c")))
  }

  /** `sort_array` in REFERENCE order: decorate-sort-undecorate when the
    * element type needs a key, plain `sort_array` otherwise (the raw
    * order is then provably the reference's). */
  def sortArray(c: Column, elemT: FType, width: Int): Column =
    if (needsKey(elemT, width)) sortBy(c, key(_, elemT, width))
    else sort_array(c)

  /** Decorate-sort-undecorate: `c`'s elements in the order of `k`. */
  private def sortBy(c: Column, k: Column => Column): Column =
    transform(sort_array(transform(c, e => struct(k(e).as("k"), e.as("v")))),
      p => p("v"))

  /** (Re)order dict (key, value) entries into reference key order — used
    * both to canonicalize STORAGE on insert (`dict_insert` keeps entries
    * key-sorted, Interpret.v:92-110) and as the ITERATION view for
    * `EDictFold` (folds entries in the reference's sorted order,
    * Interpret.v:346-350), which covers dicts built by other means than an
    * insert (a table's dict column). Identity-shaped (already sorted input
    * re-sorts stably to itself), so applying it at both points is safe. */
  def dictIterOrder(entries: Column, kt: FType, vt: FType,
      width: Int): Column =
    if (!needsKey(kt, width)) entries
    else sortBy(entries, e => key(e("key"), kt, width))
}
