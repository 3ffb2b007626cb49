package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.{Column, Encoder, Encoders, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{lit, udaf}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType, StringType}

/** UNBOUNDED `TInt` — the second tier of the engine's mapping for the
  * reference's Coq `Z` (fiat2/src/fiat2/Value.v:12). Tier 1 is the
  * overflow-checked Long default (`Compiler.autoWide` replays a program
  * here when it overflows); this tier carries arbitrary-precision
  * integers in a `BinaryType`
  * column using an ORDER-PRESERVING canonical encoding, so Spark's
  * native binary comparison (unsigned lexicographic) coincides with
  * numeric order — `<`, `=`, `sort`, `min`/`max`, group-by keys, and
  * dict-key ordering all work with ZERO custom comparators; only the
  * arithmetic needs the codegen'd expressions below.
  *
  * Encoding (canonical, prefix-comparable):
  *   x > 0 : [0x80, len(4B BE), magnitude BE (minimal, no leading 0)]
  *   x = 0 : [0x80, 0,0,0,0]
  *   x < 0 : [0x7F, ~len(4B BE), ~magnitude]
  * Non-negatives lead with 0x80 > 0x7F so every negative sorts first;
  * among positives a longer minimal magnitude is strictly larger and the
  * big-endian length tag sorts it after; within a length big-endian
  * magnitude bytes compare numerically. Negatives invert both tags so
  * the order reverses. Canonical (minimal magnitude) makes equality =
  * byte equality. Magnitudes up to 2^31-1 bytes — in practice bounded
  * only by memory, like the reference's `Z`.
  */
object BigIntMath {

  val ZERO_BYTES: Array[Byte] = encode(BigInteger.ZERO)

  def encode(x: BigInteger): Array[Byte] = {
    val neg = x.signum < 0
    val mag = x.abs.toByteArray // two's-complement BE of a non-negative:
    // may carry ONE leading 0x00 pad byte — strip to the minimal form
    val off = if (mag.length > 1 && mag(0) == 0) 1 else 0
    val n = if (x.signum == 0) 0 else mag.length - off
    val out = new Array[Byte](5 + n)
    out(0) = if (neg) 0x7f else 0x80.toByte
    var i = 0
    while (i < 4) {
      val b = ((n >>> (8 * (3 - i))) & 0xff).toByte
      out(1 + i) = if (neg) (~b).toByte else b
      i += 1
    }
    i = 0
    while (i < n) {
      out(5 + i) = if (neg) (~mag(off + i)).toByte else mag(off + i)
      i += 1
    }
    out
  }

  def decode(b: Array[Byte]): BigInteger = {
    require(b.length >= 5, s"bad bignum encoding: ${b.length} bytes")
    val neg = b(0) == 0x7f
    var n = 0
    var i = 0
    while (i < 4) {
      val raw = if (neg) (~b(1 + i)).toByte else b(1 + i)
      n = (n << 8) | (raw & 0xff); i += 1
    }
    if (n == 0) return BigInteger.ZERO
    val mag = new Array[Byte](n)
    i = 0
    while (i < n) {
      mag(i) = if (neg) (~b(5 + i)).toByte else b(5 + i); i += 1
    }
    val m = new BigInteger(1, mag)
    if (neg) m.negate() else m
  }

  def fromLong(v: Long): Array[Byte] = encode(BigInteger.valueOf(v))

  /** Decode to Long for sites that must materialize in the Long domain
    * (range bounds) — DIRECTED error past 2^63: a range that long is
    * unmaterializable at any tier. */
  def toLongExact(b: Array[Byte], what: String): Long = {
    val x = decode(b)
    if (x.bitLength > 63)
      throw new ArithmeticException(
        s"$what $x exceeds the 64-bit materialization domain")
    x.longValueExact()
  }

  /** Binary ops with the reference's `Z` semantics: unbounded +,-,*;
    * floor div/mod (Coq `Z.div`/`Z.modulo` — modulo takes the DIVISOR's
    * sign), total on zero (`x/0 = 0`, `x mod 0 = x`). */
  def op(name: String, ab: Array[Byte], bb: Array[Byte]): Array[Byte] = {
    val a = decode(ab); val b = decode(bb)
    val r = name match {
      case "add" => a.add(b)
      case "sub" => a.subtract(b)
      case "mul" => a.multiply(b)
      case "ediv" =>
        if (b.signum == 0) BigInteger.ZERO
        else { // floor: BigInteger divide truncates toward zero
          val Array(q, rem) = a.divideAndRemainder(b)
          if (rem.signum != 0 && rem.signum != b.signum)
            q.subtract(BigInteger.ONE)
          else q
        }
      case "emod" =>
        if (b.signum == 0) a
        else { // sign of the divisor (Coq Z.modulo)
          val rem = a.remainder(b)
          if (rem.signum != 0 && rem.signum != b.signum) rem.add(b) else rem
        }
    }
    encode(r)
  }

  def neg(ab: Array[Byte]): Array[Byte] = encode(decode(ab).negate())
  def toStr(ab: Array[Byte]): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(decode(ab).toString)
}

/** Codegen'd unbounded-integer binary op over canonical byte encodings. */
case class BigIntBinOp(left: Expression, right: Expression, op: String)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_bigint_$op"

  override def nullSafeEval(a: Any, b: Any): Any =
    BigIntMath.op(op, a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"""graft.functions.BigIntMath.op("$op", $a, $b)""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BigIntBinOp =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd unbounded-integer negate. */
case class BigIntNeg(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bigint_neg"
  override def nullSafeEval(a: Any): Any =
    BigIntMath.neg(a.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.BigIntMath.neg($a)")
  override protected def withNewChildInternal(newChild: Expression): BigIntNeg =
    copy(child = newChild)
}

/** Codegen'd decimal rendering (OIntToString on the bignum tier). */
case class BigIntToString(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bigint_tostring"
  override def nullSafeEval(a: Any): Any =
    BigIntMath.toStr(a.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.BigIntMath.toStr($a)")
  override protected def withNewChildInternal(newChild: Expression): BigIntToString =
    copy(child = newChild)
}

/** Codegen'd Long → canonical bignum encoding (counts, store rebuilds,
  * range elements). */
case class LongToBigInt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_long_to_bigint"
  override def nullSafeEval(a: Any): Any =
    BigIntMath.fromLong(a.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.BigIntMath.fromLong($a)")
  override protected def withNewChildInternal(newChild: Expression): LongToBigInt =
    copy(child = newChild)
}

/** Codegen'd bignum → Long (range bounds; DIRECTED error past 2^63). */
case class BigIntToLong(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bigint_to_long"
  override def nullSafeEval(a: Any): Any =
    BigIntMath.toLongExact(a.asInstanceOf[Array[Byte]], "range bound")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"""graft.functions.BigIntMath.toLongExact($a, "range bound")""")
  override protected def withNewChildInternal(newChild: Expression): BigIntToLong =
    copy(child = newChild)
}

/** Map-side-combinable SUM over bignum columns — a typed `Aggregator`
  * (partial aggregation + merge, ONE distributed agg like the Long/Decimal
  * tiers; the buffer stays in the canonical encoding so the Encoders are
  * plain BINARY). */
object BigIntSumAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = BigIntMath.ZERO_BYTES
  override def reduce(acc: Array[Byte], v: Array[Byte]): Array[Byte] =
    if (v == null) acc else BigIntMath.op("add", acc, v)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    BigIntMath.op("add", a, b)
  override def finish(r: Array[Byte]): Array[Byte] = r
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Column-level surface for the bignum tier (Compiler `env.bigInt`). */
object BigIntOps {
  private def bin(op: String)(a: Column, b: Column): Column =
    GraftBridge.column(BigIntBinOp(
      GraftBridge.expression(a), GraftBridge.expression(b), op))

  val add: (Column, Column) => Column = bin("add")
  val sub: (Column, Column) => Column = bin("sub")
  val mul: (Column, Column) => Column = bin("mul")
  val ediv: (Column, Column) => Column = bin("ediv")
  val emod: (Column, Column) => Column = bin("emod")
  def neg(v: Column): Column =
    GraftBridge.column(BigIntNeg(GraftBridge.expression(v)))
  def toStr(v: Column): Column =
    GraftBridge.column(BigIntToString(GraftBridge.expression(v)))
  def fromLong(v: Column): Column =
    GraftBridge.column(LongToBigInt(GraftBridge.expression(v)))
  def toLong(v: Column): Column =
    GraftBridge.column(BigIntToLong(GraftBridge.expression(v)))
  def literal(v: Long): Column = lit(BigIntMath.fromLong(v))

  /** Distributed bignum SUM column (map-side partials + merge). */
  def sumCol(c: Column): Column = udaf(BigIntSumAgg).apply(c)
}
