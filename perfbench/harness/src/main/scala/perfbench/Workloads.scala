package perfbench

import org.apache.spark.sql.SparkSession

object Workloads {
  /** The timed query set of `catalog`, listed in the golden directory:
    * a fixed sample of the registry, since all 201 queries do not fit one
    * run. Changing it changes the benchmark. */
  def catalogQueries(golden: String): Seq[String] =
    Common.readLines(s"$golden/catalog_queries.txt").map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  def make(name: String, golden: String): Workload = name match {
    case "catalog" =>
      new Catalog(catalogQueries(golden), s"$golden/catalog.tsv")
    case "serve" => new Serve
    case other => sys.error(s"unknown workload $other")
  }

  /** Ms to `Tables.load` the ten-table store: schema discovery of every
    * table, no data read. */
  def tablesLoadMs(spark: SparkSession, dataDir: String): Double = {
    val t0 = System.nanoTime()
    graft.core.Tables.all.foreach(graft.core.Tables.load(spark, dataDir, _))
    (System.nanoTime() - t0) / 1e6
  }
}

/** Input fingerprints, one line per corpus table:
  * `table<TAB>rows:content hash<TAB>sha256 of its files`.
  *
  * run.py compares the file digests before it starts the JVM, so a changed
  * corpus is refused before anything is timed. The row count and
  * order-insensitive content hash are the engine's view of the same table
  * (`Tables.load`); `--check-inputs 1` and the self-test compare them too. */
object Inputs {
  def fingerprints(spark: SparkSession, dataDir: String): Seq[(String, Fingerprint)] =
    graft.core.Tables.all.map(t =>
      t -> Fingerprint.of(graft.core.Tables.load(spark, dataDir, t)))

  /** sha256 over every regular file of a table, in relative-path order,
    * each contributing its relative path and its bytes (as run.py does). */
  def fileDigest(dataDir: String, table: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dataDir)
    val files = java.nio.file.Files.walk(root.resolve(s"$table.parquet")).iterator.asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> f).toSeq.sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { case (rel, f) =>
      md.update(rel.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def verify(spark: SparkSession, dataDir: String, path: String): Unit = {
    val want = Common.readLines(path).filter(_.nonEmpty).map { l =>
      val Array(t, f, _) = l.split("\t"); t -> f }.toMap
    val got = fingerprints(spark, dataDir).map { case (t, f) => t -> f.render }.toMap
    val bad = (want.keySet ++ got.keySet).toSeq.sorted
      .filter(t => want.get(t) != got.get(t))
    if (bad.nonEmpty) throw new IllegalStateException(
      "input fingerprints differ, refusing to time: " + bad.map(t =>
        s"$t got ${got.getOrElse(t, "-")} want ${want.getOrElse(t, "-")}").mkString("; "))
  }

  /** Record the fingerprints of a corpus: `Inputs <dataDir> <out.tsv>`. */
  def main(args: Array[String]): Unit = {
    val spark = Common.session(args.lift(2).getOrElse("/tmp"))
    val lines = fingerprints(spark, args(0)).map { case (t, f) =>
      s"$t\t${f.render}\t${fileDigest(args(0), t)}" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
