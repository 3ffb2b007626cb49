package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{call_function, lit, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Source layer. The reference has no file formats — tables are environment
  * bindings (fiat2/src/fiat2/Ex_Employee.v:68-71); ours are parquet scans,
  * which get Catalyst predicate pushdown + column pruning for free.
  */
object Tables {
  /** Recursive delete for scratch dirs (verify dumps, stream feeds). */
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }


  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The accepted layouts for `events.ts` (TESTDATA.md, "events schema
    * contract") — the driver has generated both over time:
    *   - epoch-nanos int64 (parquet TIMESTAMP(NANOS), readable only as
    *     longs via the legacy nanosAsLong conf);
    *   - timestamp[us] (read as TimestampNTZ — already µs precision).
    * Any other type fails here, loudly, naming both layouts — not as ten
    * scattered analysis exceptions in downstream event-time queries. */
  private def assertEventsTs(dt: DataType): Unit = dt match {
    case LongType | TimestampType | TimestampNTZType => ()
    case other => sys.error(
      s"events.ts has unsupported type $other; accepted layouts are " +
        "epoch-nanos int64 (legacy) or timestamp[us]/TimestampNTZ - see " +
        "TESTDATA.md 'events schema contract'")
  }

  /** Read one table. Resolving a parquet source infers its schema (a Spark
    * job, one footer read per call) and lists its files again, so each
    * table's resolved relation is memoized process-wide, as a catalog
    * table's relation is bound once in the environment. The memo holds one
    * entry per table path, valid while its stamp matches:
    *   - the sorted listing of every file under the path (path, length,
    *     modification time), taken through the Hadoop FileSystem so that
    *     part-file directories (ScaleUp corpora) are covered; a rewritten
    *     table changes it;
    *   - the session's `*parquet*` confs, because they change what
    *     inference returns (`spark.sql.legacy.parquet.nanosAsLong` turns
    *     `events.ts` into epoch-nanos longs).
    * An entry serves only the session that resolved it. A hit starts no
    * job and no process: it wraps a fresh instance of the analyzed
    * relation, whose new expression ids let two loads of one table join
    * each other. A miss resolves once, exactly as an unmemoized read. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Legacy-layout support: TIMESTAMP(NANOS) footers are rejected by the
    // reader unless surfaced as epoch-nanos longs (no-op for µs files).
    // GraftSession pins it at build time; a session built elsewhere gets it
    // on its first load of any table, before the stamp is taken. The conf
    // is part of every table's stamp, so setting it only at the first
    // `events` load would make each table loaded before that resolve
    // again. Only an `events` load overrides an explicit "false". Writing
    // only when needed keeps loads from issuing a session-global conf write
    // per request.
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val setTo = spark.conf.getAll.get(nanos)
    if (!setTo.contains("true") && (name == "events" || setTo.isEmpty))
      spark.conf.set(nanos, "true")
    if (name == "events") {
      // Event-time derivations (the NTZ→LTZ cast in tsCol, date_trunc /
      // window bucketing) must agree with the UTC DuckDB oracle.
      // GraftSession pins spark.sql.session.timeZone=UTC; a session
      // that arrives here non-UTC is misconfigured, and silently flipping
      // its zone mid-session would corrupt any intentional setting — fail
      // loudly instead.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      val isUtc = try {
        java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
      } catch { case _: java.time.DateTimeException => false }
      require(isUtc,
        s"events requires spark.sql.session.timeZone=UTC (found '$tz'): " +
          "event-time derivations must agree with the UTC DuckDB oracle. " +
          "Build it with graft.core.GraftSession.local, or pin " +
          ".config(\"spark.sql.session.timeZone\", \"UTC\") in your own " +
          "SparkSession builder")
      val df = read(spark, s"$dir/$name.parquet")
      assertEventsTs(df.schema("ts").dataType)
      df
    } else read(spark, s"$dir/$name.parquet")
  }

  private final case class Stamp(files: Seq[(String, Long, Long)],
      confs: Seq[(String, String)])

  private final case class Entry(stamp: Stamp, session: SparkSession,
      relation: LogicalRelation)

  private val relations = new ConcurrentHashMap[String, Entry]()

  private def read(spark: SparkSession, path: String): DataFrame = {
    // the stamp is taken BEFORE resolution: a rewrite racing the read can
    // then only leave an entry whose stamp no longer matches
    val stamp = Stamp(listing(spark, path), spark.conf.getAll.toSeq
      .filter(_._1.toLowerCase.contains("parquet")).sorted)
    Option(relations.get(path)) match {
      case Some(Entry(`stamp`, session, relation)) if session eq spark =>
        GraftBridge.ofRows(spark, relation.newInstance())
      case _ =>
        val df = spark.read.parquet(path)
        df.queryExecution.analyzed match {
          case relation: LogicalRelation =>
            relations.put(path, Entry(stamp, spark, relation))
          case _ => () // a DSv2 parquet scan (useV1SourceList) is not kept
        }
        df
    }
  }

  /** Every file under `path`, sorted; empty when the path does not exist
    * (the read then fails exactly as an unmemoized one would). The walk
    * uses `listStatus`, whose local-file statuses load permissions only
    * when asked; `listFiles` builds `LocatedFileStatus`es, which ask at
    * once and, without the native Hadoop library, fork an `ls -ld` per
    * file. */
  private def listing(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[(String, Long, Long)]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    try walk(p) catch { case _: java.io.FileNotFoundException => () }
    out.result().sorted
  }

  /** µs-precision TimestampType event time from `df("ts")`, whichever
    * accepted layout the file carries: epoch-nanos longs floor to µs
    * (DuckDB's ns→µs truncation); TimestampNTZ casts under the UTC pin. */
  def tsCol(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => timestamp_micros(
      call_function("div", df("ts"), lit(1000L)))
    case TimestampType => df("ts")
    case _ => df("ts").cast(TimestampType)
  }

  /** Epoch-microseconds LongType event time — the integer both engines
    * compare/bucket on exactly (no float, no ns-vs-µs edge). */
  def epochUs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => call_function("div", df("ts"), lit(1000L))
    case _ => unix_micros(tsCol(df))
  }

  /** Register every table as a temp view so queries can also be authored in
    * SQL (mirrors the driver's DuckDB oracle environment). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
