package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content fingerprint of a DataFrame: its row count and
  * the sum of one 64-bit hash per row over ALL columns, taken in column-name
  * order (the oracle's convention). Computing it materializes every column,
  * unlike `count()`, which lets Catalyst prune the columns away.
  *
  * Doubles are hashed at float precision, so a sum whose last bits depend
  * on partition arrival order still fingerprints the same. Maps hash as
  * their key-sorted entry arrays. */
final case class Fingerprint(rows: Long, hash: BigDecimal) {
  def render: String = s"$rows:$hash"
}

object Fingerprint {
  def parse(s: String): Fingerprint = {
    val Array(r, h) = s.split(":", 2)
    Fingerprint(r.toLong, BigDecimal(h))
  }

  private def norm(dt: DataType): DataType = dt match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(norm(e), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = norm(f.dataType))))
    case MapType(k, v, n) => MapType(norm(k), norm(v), n)
    case o => o
  }

  private def hashable(c: Column, dt: DataType): Column = {
    val n = norm(dt)
    val cast = if (n == dt) c else c.cast(n)
    dt match {
      case _: MapType => array_sort(map_entries(cast))
      case _ => cast
    }
  }

  def rowHash(df: DataFrame): (DataFrame, Column) = {
    val fields = df.schema.fields.toSeq.zipWithIndex
    val renamed = df.toDF(fields.map { case (_, i) => s"c$i" }: _*)
    val cols = fields.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => hashable(col(s"c$i"), f.dataType) }
    (renamed, if (cols.isEmpty) lit(0L) else xxhash64(cols: _*))
  }

  def of(df: DataFrame): Fingerprint = {
    val (renamed, h) = rowHash(df)
    val r = renamed.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0))))
      .collect().head
    Fingerprint(r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
