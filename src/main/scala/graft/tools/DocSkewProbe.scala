package graft.tools

import org.apache.spark.sql.functions._

/** Doc-skew gate probe (r16, r15 directive 4): measure — don't assume —
  * that the hot-shingle frequency cap (`Dedup.maxShingleDocFreq`)
  * actually TRUNCATED postings on the given corpus. Prints the shingle
  * document-frequency head and the number of capped postings; exits
  * non-zero when the cap never fired, so the ritual's doc-skew step
  * cannot silently run a corpus that exercises nothing.
  */
object DocSkewProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata_docskew9x")
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val cap = graft.operators.Dedup.maxShingleDocFreq
    val freqs = graft.operators.Dedup.shingleFreqs(spark, dir)
      .agg(max(col("df")).as("max_df"),
        sum(when(col("df") > cap, 1L).otherwise(0L)).as("capped"),
        count(lit(1)).as("postings"))
      .head()
    val (maxDf, capped, postings) =
      (freqs.getLong(0), freqs.getLong(1), freqs.getLong(2))
    println(s"[docskew-probe] dir=$dir postings=$postings max_df=$maxDf " +
      s"cap=$cap capped_postings=$capped")
    spark.stop()
    if (capped == 0) {
      System.err.println("[docskew-probe] FAIL: the frequency cap never " +
        "fired - this corpus does not exercise the hot-shingle path")
      sys.exit(1)
    }
  }
}
