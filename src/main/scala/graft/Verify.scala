package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.selected.foreach { case (name, fn) =>
      // drop any dump from a previous run FIRST: if this query fails now,
      // a stale success must not masquerade as a pass in a reused outDir
      graft.core.Tables.deleteTree(new java.io.File(s"$outDir/$name"))
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A thrown query must be VISIBLE in the correctness artifact, not
        // silently absent (r8: 10 thrown queries produced an all-green
        // 154/154 report). Dump a one-row error-marker parquet — it can
        // never hash-match any oracle, so the compare records an explicit
        // failing entry for this name.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        // the marker write itself must never abort the run (a session-fatal
        // first failure would otherwise skip every remaining query)
        try spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(
            s"query threw: ${failures(name).take(500)}")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__graft_error",
              org.apache.spark.sql.types.StringType))))
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case m: Throwable =>
          System.err.println(s"[verify] $name marker write failed: " +
            s"${m.getMessage}")
        }
      }
      // queries build private caches (indexes, shingle sets); drop them so
      // 100+ queries don't accumulate executor memory
      SparkEntry.release(spark, before)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-describing failure record alongside the dumps (the error-marker
    // parquets above make failures visible in the driver's compare; this
    // file carries the full messages)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }

}
