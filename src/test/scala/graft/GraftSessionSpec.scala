package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession` is the one place session configuration lives. These
  * checks keep it that way: the pinned confs are on the session, no other
  * source file builds a session, and the program reads only the
  * deployment settings listed here. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Deployment settings the program may read. Adding a name here is a
    * design decision, not a fix for a failing build. */
  private val allowedSettings = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_REPS", "SPARK_GRAFT_BENCH_OUT",
    "java.io.tmpdir")

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"run from the project root: no $root")
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    } finally walk.close()
  }

  test("the session carries the pinned confs") {
    val conf = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val tmp = Paths.get(sys.props("java.io.tmpdir")).toAbsolutePath
    val warehouse = Paths.get(new java.net.URI(
      conf.get("spark.sql.warehouse.dir")).getPath)
    assert(warehouse.startsWith(tmp), s"$warehouse is not under $tmp")
  }

  test("only core/GraftSession.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val builders = scalaFiles("src")
      .filter(f => Files.readString(f).contains(needle))
      .map(_.toString.replace('\\', '/'))
    assert(builders.size === 1 &&
      builders.head.endsWith("main/scala/graft/core/GraftSession.scala"),
      s"files that build a SparkSession: ${builders.mkString(", ")}")
  }

  test("src/main reads only the allow-listed environment settings") {
    val read = "sys\\.(?:env|props)|System\\.get(?:env|Property)".r
    // a read names its setting with a string literal
    val named = ("(?:sys\\.(?:env|props)(?:\\.(?:get|getOrElse|contains))?" +
      "|System\\.get(?:env|Property))\\(\\s*\"([^\"]+)\"").r
    val blockComment = "(?s)/\\*.*?\\*/".r
    val lineComment = "(?m)(^|\\s)//\\s.*$".r
    val offenders = scalaFiles("src/main").flatMap { f =>
      val code = lineComment.replaceAllIn(
        blockComment.replaceAllIn(Files.readString(f), ""), "$1")
      val names = named.findAllMatchIn(code).map(_.group(1)).toVector
      val unnamed = read.findAllIn(code).size - names.size
      names.filterNot(allowedSettings).map(n => s"$f: $n") ++
        (if (unnamed > 0) Seq(s"$f: $unnamed read(s) without a literal name")
         else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
