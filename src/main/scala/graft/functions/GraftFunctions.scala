package graft.functions

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL faces for the engine's native codegen expressions, so `spark.sql`
  * users get the same functions the Column API exposes — the library is a
  * drop-in for SQL-first workloads, not just DataFrame code.
  *
  * Wiring: `GraftFunctions.register(spark)` registers them as temp
  * functions on a live session through the `private[sql]` bridge, so a
  * session built anywhere gets them on first use.
  *
  * `BloomMightContainLong` is deliberately absent: it closes over a
  * driver-built BloomFilter object, which has no SQL literal form.
  */
object GraftFunctions {

  private def arity(name: String, n: Int,
      args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n,
      s"$name expects $n arguments, got ${args.length}")
    args
  }

  /** name → (arity doc, builder). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { args: Seq[Expression] =>
      val Seq(a, b) = arity("graft_dot", 2, args); DotProduct(a, b) },
    "graft_l2sq" -> { args: Seq[Expression] =>
      val Seq(a, b) = arity("graft_l2sq", 2, args); SquaredDistance(a, b) },
    "graft_simhash64" -> { args: Seq[Expression] =>
      val Seq(a) = arity("graft_simhash64", 1, args); SimHash64(a) },
    "graft_md5_low64" -> { args: Seq[Expression] =>
      val Seq(a) = arity("graft_md5_low64", 1, args); Md5Low64(a) },
    "graft_nfc" -> { args: Seq[Expression] =>
      val Seq(a) = arity("graft_nfc", 1, args); NfcNormalize(a) },
    "graft_zorder2" -> { args: Seq[Expression] =>
      val Seq(a, b) = arity("graft_zorder2", 2, args); ZOrder2(a, b) },
    "graft_minhash" -> { args: Seq[Expression] =>
      val Seq(a, p) = arity("graft_minhash", 2, args)
      p match {
        case Literal(v: Int, IntegerType) => MinHashSignature(a, v)
        case other => throw new IllegalArgumentException(
          s"graft_minhash permutation count must be an INT literal, " +
            s"got $other")
      } }
  ) ++ Seq("wadd", "wsub", "wmul", "divu", "divs", "modu", "mods").map {
    op =>
      s"graft_word_$op" -> { args: Seq[Expression] =>
        val Seq(a, b) = arity(s"graft_word_$op", 2, args)
        WordBinOp(a, b, op)
      }
  }

  /** Register every function on a live session (idempotent — temp
    * functions replace by name). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      GraftBridge.registerFunction(spark, name, b)
    }

  /** The SQL face proven end-to-end: a pure-SQL query over the registered
    * functions, oracle-replayed in DuckDB. Unsigned 64-bit outputs cross
    * the engines as DECIMAL STRINGS (`conv(hex(x), 16, 10)` ↔ DuckDB
    * UBIGINT→VARCHAR) so signedness never skews the compare; the wrapped
    * word-add is replayed with explicit 2^64 modular arithmetic. */
  val queries: Seq[graft.core.GraftQuery] = Seq(
    graft.core.GraftQuery.sql("q_sql_funcs",
      """WITH w AS (SELECT doc_id, text,
        |             regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |           FROM documents),
        |tok AS (SELECT doc_id, md5_number_lower(t.w) AS h
        |        FROM w, unnest(ws) AS t(w)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |votes AS (SELECT doc_id, j,
        |            SUM(CAST((h >> CAST(j AS INT)) & 1 AS BIGINT)) AS ones
        |          FROM tok, unnest(range(0, 64)) AS r(j) GROUP BY doc_id, j),
        |sim AS (SELECT v.doc_id,
        |          CAST(SUM(CASE WHEN 2 * v.ones > c.n
        |            THEN (CAST(1 AS UBIGINT) << CAST(v.j AS INT))
        |            ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS simhash
        |        FROM votes v JOIN cnt c USING (doc_id) GROUP BY v.doc_id)
        |SELECT w.doc_id AS doc_id,
        |  CAST(md5_number_lower(w.text) AS VARCHAR) AS fp,
        |  CAST(sim.simhash AS VARCHAR) AS sh,
        |  CAST((CAST(w.doc_id AS HUGEINT) + 9223372036854775807
        |        + 9223372036854775808) % 18446744073709551616
        |       - 9223372036854775808 AS BIGINT) AS wrapped
        |FROM w JOIN sim USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        register(s)
        graft.core.Tables.load(s, dir, "documents")
          .createOrReplaceTempView("graft_docs")
        s.sql(
          """SELECT doc_id,
            |  conv(hex(graft_md5_low64(text)), 16, 10) AS fp,
            |  conv(hex(graft_simhash64(
            |    split(lower(trim(text)), '\\s+'))), 16, 10) AS sh,
            |  graft_word_wadd(doc_id, 9223372036854775807L) AS wrapped
            |FROM graft_docs ORDER BY doc_id""".stripMargin)
    })
}

