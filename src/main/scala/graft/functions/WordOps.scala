package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** 64-bit machine-word arithmetic with the reference's semantics
  * (fiat2/src/fiat2/Interpret.v:139-151 via coqutil `word`):
  * silent two's-complement wrap-around (Spark 4 runs ANSI mode, whose +,-,*
  * THROW on Long overflow — correct for fiat2's TInt = ℤ, wrong for TWord),
  * unsigned and signed (truncating, `Z.quot`/`Z.rem`) division families, and
  * total division: `divu/divs x 0 = 0`, `modu/mods x 0 = x` (Coq's `Z.div`/
  * `Z.quot` by 0 are 0; `Z.modulo`/`Z.rem` by 0 are the dividend).
  */
object WordMath {
  def wadd(a: Long, b: Long): Long = a + b
  def wsub(a: Long, b: Long): Long = a - b
  def wmul(a: Long, b: Long): Long = a * b
  def divu(a: Long, b: Long): Long =
    if (b == 0) 0L else java.lang.Long.divideUnsigned(a, b)
  def divs(a: Long, b: Long): Long = if (b == 0) 0L else a / b
  def modu(a: Long, b: Long): Long =
    if (b == 0) a else java.lang.Long.remainderUnsigned(a, b)
  def mods(a: Long, b: Long): Long = if (b == 0) a else a % b

  // WIDTH-32 family (the reference is width-parametric: `Section WithWord`,
  // fiat2/src/fiat2/Language.v:4): a 32-bit word is represented as its
  // SIGN-EXTENDED Int value in a Long column, so two's-complement wrap
  // comes from Int arithmetic and the signed family is plain Int ops.
  // (Java Int division MIN_VALUE / -1 wraps to MIN_VALUE per JLS 15.17.2 —
  // the same wrap coqutil's word gives.)
  def trunc32(a: Long): Long = a.toInt.toLong
  def wadd32(a: Long, b: Long): Long = (a.toInt + b.toInt).toLong
  def wsub32(a: Long, b: Long): Long = (a.toInt - b.toInt).toLong
  def wmul32(a: Long, b: Long): Long = (a.toInt * b.toInt).toLong
  def divu32(a: Long, b: Long): Long =
    if (b == 0) 0L
    else Integer.divideUnsigned(a.toInt, b.toInt).toLong
  def divs32(a: Long, b: Long): Long =
    if (b == 0) 0L else (a.toInt / b.toInt).toLong
  def modu32(a: Long, b: Long): Long =
    if (b == 0) trunc32(a)
    else Integer.remainderUnsigned(a.toInt, b.toInt).toLong
  def mods32(a: Long, b: Long): Long =
    if (b == 0) trunc32(a) else (a.toInt % b.toInt).toLong

  // GENERIC width family (any 1 ≤ w ≤ 63; 64 and 32 have the specialized
  // paths above): the canonical form of a width-w word is its
  // SIGN-EXTENDED value in a Long, so wrap-around is shift-truncation and
  // the unsigned view is a mask. Sign extension is order-isomorphic for
  // both comparison families at every width, and |a % b| < |b| ≤ 2^(w-1)
  // keeps signed rem in canonical range without re-truncation (kept for
  // uniformity — truncW on an in-range value is the identity).
  def truncW(a: Long, w: Int): Long = (a << (64 - w)) >> (64 - w)
  def umaskW(a: Long, w: Int): Long =
    if (w == 64) a else a & ((1L << w) - 1) // 1L<<64 wraps (JLS 15.19)
  def waddW(a: Long, b: Long, w: Int): Long = truncW(a + b, w)
  def wsubW(a: Long, b: Long, w: Int): Long = truncW(a - b, w)
  def wmulW(a: Long, b: Long, w: Int): Long = truncW(a * b, w)
  def divuW(a: Long, b: Long, w: Int): Long =
    if (b == 0) 0L
    else if (w == 64) java.lang.Long.divideUnsigned(a, b)
    else truncW(umaskW(a, w) / umaskW(b, w), w)
  def divsW(a: Long, b: Long, w: Int): Long =
    if (b == 0) 0L else truncW(a / b, w)
  def moduW(a: Long, b: Long, w: Int): Long =
    if (b == 0) truncW(a, w)
    else if (w == 64) java.lang.Long.remainderUnsigned(a, b)
    else truncW(umaskW(a, w) % umaskW(b, w), w)
  def modsW(a: Long, b: Long, w: Int): Long =
    if (b == 0) truncW(a, w) else truncW(a % b, w)

  def applyW(op: String, a: Long, b: Long, w: Int): Long = op match {
    case "wadd" => waddW(a, b, w)
    case "wsub" => wsubW(a, b, w)
    case "wmul" => wmulW(a, b, w)
    case "divu" => divuW(a, b, w)
    case "divs" => divsW(a, b, w)
    case "modu" => moduW(a, b, w)
    case "mods" => modsW(a, b, w)
  }

  def apply(op: String, a: Long, b: Long): Long = op match {
    case "wadd" => wadd(a, b)
    case "wsub" => wsub(a, b)
    case "wmul" => wmul(a, b)
    case "divu" => divu(a, b)
    case "divs" => divs(a, b)
    case "modu" => modu(a, b)
    case "mods" => mods(a, b)
    case "wadd32" => wadd32(a, b)
    case "wsub32" => wsub32(a, b)
    case "wmul32" => wmul32(a, b)
    case "divu32" => divu32(a, b)
    case "divs32" => divs32(a, b)
    case "modu32" => modu32(a, b)
    case "mods32" => mods32(a, b)
  }
}

/** One codegen'd binary expression per word op — a static-call primitive,
  * never an overflow-checked builtin or a UDF. */
case class WordBinOp(left: Expression, right: Expression, op: String)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_word_$op"

  override def nullSafeEval(a: Any, b: Any): Any =
    WordMath(op, a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.WordMath.$op($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordBinOp =
    copy(left = newLeft, right = newRight)
}

/** Width-parametric variant for widths without a specialized family:
  * the width rides along as a constructor parameter and is baked into the
  * generated call site as an int literal, so the hot path stays a static
  * primitive call inside whole-stage codegen. */
case class WordBinOpW(left: Expression, right: Expression, op: String,
    width: Int) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_word_${op}_$width"

  override def nullSafeEval(a: Any, b: Any): Any =
    WordMath.applyW(op, a.asInstanceOf[Long], b.asInstanceOf[Long], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.WordMath.${op}W($a, $b, $width)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordBinOpW =
    copy(left = newLeft, right = newRight)
}

/** MULTI-LIMB family (every width ≥ 65, where no machine integer holds a
  * word): the unsigned residue in [0, 2^w) as a
  * FIXED-LENGTH big-endian byte array of ceil(w/8) bytes in a BinaryType
  * column. Fixed length makes Spark's native binary comparison (unsigned
  * lexicographic) coincide with unsigned word order — so `ltu`, `OEq`,
  * group-by and the universal sort order all ride the built-in binary
  * operators.
  * Arithmetic runs in BigInteger inside codegen'd static calls; the mask /
  * modulus per width is cached (an op sits inside whole-stage codegen and
  * runs per row). Width is UNBOUNDED, matching the reference's
  * `Section WithWord {width: Z}` (fiat2/src/fiat2/Language.v:4). */
object WordMathBytes {
  import java.math.BigInteger
  private val masks = new java.util.concurrent.ConcurrentHashMap[Int, BigInteger]()
  def mask(w: Int): BigInteger = masks.computeIfAbsent(w,
    w2 => BigInteger.ONE.shiftLeft(w2).subtract(BigInteger.ONE))
  def nbytes(w: Int): Int = (w + 7) / 8

  /** Fixed-length big-endian encoding of a residue already in [0, 2^w). */
  def toBytes(x: BigInteger, w: Int): Array[Byte] = {
    val n = nbytes(w)
    val raw = x.toByteArray // two's-complement BE; ≤ n+1 bytes for a residue
    val out = new Array[Byte](n)
    val copy = math.min(n, raw.length)
    System.arraycopy(raw, raw.length - copy, out, n - copy, copy)
    out
  }
  def fromBytes(b: Array[Byte]): BigInteger = new BigInteger(1, b)
  private def res(x: BigInteger, w: Int): BigInteger = x.and(mask(w))
  private def signed(x: BigInteger, w: Int): BigInteger =
    if (x.testBit(w - 1)) x.subtract(BigInteger.ONE.shiftLeft(w)) else x

  def op(name: String, ab: Array[Byte], bb: Array[Byte], w: Int): Array[Byte] = {
    val a = fromBytes(ab); val b = fromBytes(bb)
    // same op table as the Long families: wrap add/sub/mul, total unsigned
    // and signed (truncating) div/mod with x/0 = 0, x mod 0 = x
    val r = name match {
      case "wadd" => res(a.add(b), w)
      case "wsub" => res(a.subtract(b), w)
      case "wmul" => res(a.multiply(b), w)
      case "divu" => if (b.signum == 0) BigInteger.ZERO else a.divide(b)
      case "divs" => if (b.signum == 0) BigInteger.ZERO
        else res(signed(a, w).divide(signed(b, w)), w)
      case "modu" => if (b.signum == 0) a else a.mod(b)
      case "mods" => if (b.signum == 0) a
        else res(signed(a, w).remainder(signed(b, w)), w)
    }
    toBytes(r, w)
  }

  /** Signed comparison: the unsigned (= native binary) order with the two
    * sign-bit halves swapped. */
  def lts(ab: Array[Byte], bb: Array[Byte], w: Int): Boolean =
    signed(fromBytes(ab), w).compareTo(signed(fromBytes(bb), w)) < 0

  def fromLong(v: Long, w: Int): Array[Byte] =
    toBytes(res(BigInteger.valueOf(v), w), w)

  /** `eval_range_word` length: unsigned(hi) - unsigned(lo), clamped to 0
    * when non-positive (the caller's `ltu` guard already yields the empty
    * array there). Mirrors RefInterp's 2^24 materialization cap — both
    * sides of the differential fuzz must refuse the same ranges. */
  def rangeLen(lo: Array[Byte], hi: Array[Byte], w: Int): Long = {
    val diff = fromBytes(hi).subtract(fromBytes(lo))
    if (diff.signum <= 0) 0L
    else if (diff.compareTo(BigInteger.valueOf(1L << 24)) >= 0)
      throw new IllegalArgumentException(
        s"word range too large to materialize: $diff")
    else diff.longValueExact()
  }
}

/** Codegen'd multi-limb word binary op over fixed-length byte residues. */
case class WordBinOpBytes(left: Expression, right: Expression, op: String,
    width: Int) extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_word_${op}_b$width"

  override def nullSafeEval(a: Any, b: Any): Any =
    WordMathBytes.op(op, a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"""graft.functions.WordMathBytes.op("$op", $a, $b, $width)""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordBinOpBytes =
    copy(left = newLeft, right = newRight)
}

/** Signed less-than over byte residues (unsigned lt is the native binary
  * comparison — no custom expression needed there). */
case class WordLtsBytes(left: Expression, right: Expression, width: Int)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_word_lts_b$width"

  override def nullSafeEval(a: Any, b: Any): Any =
    WordMathBytes.lts(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.WordMathBytes.lts($a, $b, $width)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordLtsBytes =
    copy(left = newLeft, right = newRight)
}

/** Long → width-w byte residue (range steps, literal-from-column sites). */
case class LongToWordBytes(child: Expression, width: Int)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_long_to_word_b$width"

  override def nullSafeEval(a: Any): Any =
    WordMathBytes.fromLong(a.asInstanceOf[Long], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.WordMathBytes.fromLong($a, $width)")

  override protected def withNewChildInternal(newChild: Expression): LongToWordBytes =
    copy(child = newChild)
}

/** Unsigned range length with the shared 2^24 materialization cap. */
case class WordRangeLenBytes(left: Expression, right: Expression, width: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_word_rangelen_b$width"

  override def nullSafeEval(a: Any, b: Any): Any =
    WordMathBytes.rangeLen(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.WordMathBytes.rangeLen($a, $b, $width)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordRangeLenBytes =
    copy(left = newLeft, right = newRight)
}

object WordOps {
  private def bin(op: String)(a: Column, b: Column): Column =
    GraftBridge.column(WordBinOp(
      GraftBridge.expression(a), GraftBridge.expression(b), op))

  val wadd: (Column, Column) => Column = bin("wadd")
  val wsub: (Column, Column) => Column = bin("wsub")
  val wmul: (Column, Column) => Column = bin("wmul")
  val divu: (Column, Column) => Column = bin("divu")
  val divs: (Column, Column) => Column = bin("divs")
  val modu: (Column, Column) => Column = bin("modu")
  val mods: (Column, Column) => Column = bin("mods")
  def wneg(v: Column): Column = wsub(lit(0L), v)

  /** Unsigned 64-bit compare by flipping the sign bit — plain codegen'd
    * builtins, no custom expression needed. */
  def ltu(a: Column, b: Column): Column = {
    val m = lit(Long.MinValue)
    a.bitwiseXOR(m) < b.bitwiseXOR(m)
  }
  def lts(a: Column, b: Column): Column = a < b

  /** Width-parametric op bundle (the reference's `Context {width: Z}`,
    * fiat2/src/fiat2/Language.v:4). Widths 1..64 carry sign-extended
    * Longs (`Narrow`); every wider width carries fixed-length unsigned
    * byte residues (`Bytes`). The compiler selects the bundle from
    * `Env.wordWidth` and never sees the representation. */
  sealed trait Width {
    def width: Int
    val wadd, wsub, wmul, divu, divs, modu, mods: (Column, Column) => Column
    def wneg(v: Column): Column
    def ltu(a: Column, b: Column): Column
    def lts(a: Column, b: Column): Column
    def literal(v: Long): Column
    def range(lo: Column, hi: Column): Column
  }

  /** 1..64: 64 (the default everywhere) and 32 route to the specialized
    * `WordMath` families; every other width compiles `WordBinOpW`, which
    * bakes the width into the codegen'd static call (`WordMath.*W(a, b,
    * w)`) over the same sign-extended-in-Long canonical form. */
  final class Narrow private[WordOps] (val width: Int) extends Width {
    require(width >= 1 && width <= 64,
      s"unsupported word width $width (must be in 1..64)")
    private def sel(op: String): (Column, Column) => Column = width match {
      case 64 => bin(op)
      case 32 => bin(op + "32")
      case w => (a: Column, b: Column) => GraftBridge.column(WordBinOpW(
        GraftBridge.expression(a), GraftBridge.expression(b), op, w))
    }
    val wadd: (Column, Column) => Column = sel("wadd")
    val wsub: (Column, Column) => Column = sel("wsub")
    val wmul: (Column, Column) => Column = sel("wmul")
    val divu: (Column, Column) => Column = sel("divu")
    val divs: (Column, Column) => Column = sel("divs")
    val modu: (Column, Column) => Column = sel("modu")
    val mods: (Column, Column) => Column = sel("mods")
    def wneg(v: Column): Column = wsub(lit(0L), v)
    def ltu(a: Column, b: Column): Column =
      if (width == 64) WordOps.ltu(a, b)
      // sign-extended words: the unsigned value is the low `width` bits
      else {
        val m = lit((1L << width) - 1)
        a.bitwiseAND(m) < b.bitwiseAND(m)
      }
    def lts(a: Column, b: Column): Column = a < b
    /** Canonicalize a literal into the width's representation. */
    def literal(v: Long): Column =
      if (width == 64) lit(v) else lit(WordMath.truncW(v, width))
    /** `eval_range_word` (fiat2/src/fiat2/Interpret.v:80-90): length =
      * unsigned(hi) - unsigned(lo) (empty when ≤ 0), elements step by
      * WRAPPING add from `lo` — all width-correct, unlike a signed
      * `sequence(lo, hi-1)`, which disagrees whenever an endpoint is
      * negative in the signed view. The length is the masked wrap-sub for
      * sub-64 widths (the unsigned diff fits a signed Long); at width 64 a
      * signed-negative diff means len ≥ 2^63 and trips the shared
      * materialization cap below. */
    def range(lo: Column, hi: Column): Column = {
      import org.apache.spark.sql.functions.{array, sequence, transform, when}
      val diff = wsub(hi, lo)
      val len = if (width == 64) diff else diff.bitwiseAND(lit((1L << width) - 1))
      val checked = WordOps.capRangeLen(len)
      when(!ltu(lo, hi), array().cast("array<long>"))
        .otherwise(transform(sequence(lit(0L), checked - lit(1L)), i => wadd(lo, i)))
    }
  }

  /** Shared materialization bound for `eval_range_word`, mirrored from
    * RefInterp's OWRange guard (2^24 elements): both sides of the
    * differential fuzz must refuse the same ranges, or an engine-buildable
    * plan the reference declines to materialize masks or misattributes
    * divergences (round-10 ADVICE). Message prefix matches RefInterp's. A
    * negative `len` occurs only at width 64, where it means an unsigned
    * length ≥ 2^63. */
  private[graft] def capRangeLen(len: Column): Column = {
    import org.apache.spark.sql.functions.{concat, lit, raise_error, when}
    when(len < lit(0L) || len >= lit(1L << 24),
      raise_error(concat(lit("word range too large to materialize: "),
        len.cast("string"))).cast("long"))
      .otherwise(len)
  }

  /** 65 and beyond, unbounded (the reference's `width: Z` has no ceiling):
    * fixed-length big-endian byte residues in BinaryType; ops are
    * `WordBinOpBytes` static calls; unsigned order is the NATIVE binary
    * comparison (fixed length ⇒ lexicographic = numeric), signed order
    * compares the two's-complement views in a static call. */
  final class Bytes private[WordOps] (val width: Int) extends Width {
    require(width >= 65, s"Bytes is the >=65 family; width $width routes " +
      "elsewhere: forWidth dispatches <=64 to Narrow")
    import org.apache.spark.sql.functions.{array, sequence, transform, when}
    private def bbin(op: String): (Column, Column) => Column =
      (a: Column, b: Column) => GraftBridge.column(WordBinOpBytes(
        GraftBridge.expression(a), GraftBridge.expression(b), op, width))
    val wadd: (Column, Column) => Column = bbin("wadd")
    val wsub: (Column, Column) => Column = bbin("wsub")
    val wmul: (Column, Column) => Column = bbin("wmul")
    val divu: (Column, Column) => Column = bbin("divu")
    val divs: (Column, Column) => Column = bbin("divs")
    val modu: (Column, Column) => Column = bbin("modu")
    val mods: (Column, Column) => Column = bbin("mods")
    def wneg(v: Column): Column = wsub(literal(0L), v)
    def ltu(a: Column, b: Column): Column = a < b // fixed-length BE bytes
    def lts(a: Column, b: Column): Column = GraftBridge.column(WordLtsBytes(
      GraftBridge.expression(a), GraftBridge.expression(b), width))
    def literal(v: Long): Column = lit(WordMathBytes.fromLong(v, width))
    /** Long column → residue bytes (query input staging). */
    def fromLong(c: Column): Column =
      GraftBridge.column(LongToWordBytes(GraftBridge.expression(c), width))
    /** eval_range_word: empty unless unsigned(lo) < unsigned(hi), elements
      * step by wrapping add; the length call carries the shared 2^24 cap. */
    def range(lo: Column, hi: Column): Column = {
      val len = GraftBridge.column(WordRangeLenBytes(
        GraftBridge.expression(lo), GraftBridge.expression(hi), width))
      when(!ltu(lo, hi), array().cast(
        org.apache.spark.sql.types.ArrayType(BinaryType)))
        .otherwise(transform(sequence(lit(0L), len - lit(1L)),
          i => wadd(lo, fromLong(i))))
    }
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[Int, Width]()
  def forWidth(width: Int): Width =
    cache.computeIfAbsent(width, w =>
      if (w <= 64) new Narrow(w)
      else new Bytes(w))
}
