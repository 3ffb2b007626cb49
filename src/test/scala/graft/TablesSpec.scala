package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** The events schema contract (TESTDATA.md): the driver has regenerated
  * `events.ts` in two layouts across rounds; Tables must adapt to both and
  * fail LOUDLY — one assertion naming the accepted layouts — on anything
  * else, instead of ten scattered analysis exceptions downstream. Also the
  * relation memo: a repeated load of unchanged files runs no job and
  * shares the first load's relation under fresh expression ids; a rewrite
  * or a parquet conf flip resolves afresh, and another session never gets
  * this one's relation. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val group = "graft_tables_spec"
  private val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
  private lazy val listenerInstalled: Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    })

  /** Jobs `f` starts on this thread. JobStart is posted at submission,
    * before the action unblocks, but delivered asynchronously: wait until
    * the count is stable for 300ms (bounded at 15s), as JobCountSpec does. */
  private def jobsOf(f: => Unit): Int = {
    listenerInstalled
    val j0 = jobs.get()
    spark.sparkContext.setJobGroup(group, "tables memo")
    try f finally spark.sparkContext.clearJobGroup()
    var last = jobs.get(); var stableFor = 0; var waited = 0
    while (stableFor < 3 && waited < 150) {
      Thread.sleep(100); waited += 1
      val now = jobs.get()
      if (now == last) stableFor += 1 else { stableFor = 0; last = now }
    }
    jobs.get() - j0
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h
    }.getOrElse(fail(s"no file relation in ${df.queryExecution.analyzed}"))

  private def tempDir(): String =
    Files.createTempDirectory("graft_tables_memo_").toString

  private def fakeEventsDir(tsExpr: org.apache.spark.sql.Column): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_spec_")
    spark.range(10)
      .select(col("id").as("event_id"), tsExpr.as("ts"),
        (col("id") % 3).as("user_id"), lit("click").as("event_type"),
        col("id").cast("double").as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    dir.toString
  }

  test("load accepts both ts layouts; tsCol/epochUs agree across them") {
    // current layout: timestamp (µs); legacy layout: epoch-nanos long
    val tsDir = fakeEventsDir(
      timestamp_micros(col("id") * 1000000L + 123456L))
    val nsDir = fakeEventsDir(col("id") * 1000000000L + 123456000L)
    try {
      val a = Tables.load(spark, tsDir, "events")
      val b = Tables.load(spark, nsDir, "events")
      val ea = a.select(Tables.epochUs(a).as("t")).orderBy("t")
        .collect().map(_.getLong(0)).toSeq
      val eb = b.select(Tables.epochUs(b).as("t")).orderBy("t")
        .collect().map(_.getLong(0)).toSeq
      assert(ea === eb, "epochUs must agree across stored layouts")
      val ta = a.select(Tables.tsCol(a).as("ts")).orderBy("ts")
        .collect().map(_.getTimestamp(0)).toSeq
      val tb = b.select(Tables.tsCol(b).as("ts")).orderBy("ts")
        .collect().map(_.getTimestamp(0)).toSeq
      assert(ta === tb, "tsCol must agree across stored layouts")
    } finally {
      Tables.deleteTree(new java.io.File(tsDir))
      Tables.deleteTree(new java.io.File(nsDir))
    }
  }

  test("an unknown ts layout fails loudly at load, naming the contract") {
    val badDir = fakeEventsDir(col("id").cast("string"))
    try {
      val e = intercept[RuntimeException] {
        Tables.load(spark, badDir, "events")
      }
      assert(e.getMessage.contains("accepted layouts"), e.getMessage)
      assert(e.getMessage.contains("TESTDATA.md"), e.getMessage)
    } finally Tables.deleteTree(new java.io.File(badDir))
  }

  test("a repeated load of unchanged files starts no job and keeps the inferred schema") {
    val dir = tempDir()
    try {
      spark.range(10).write.parquet(s"$dir/t.parquet")
      // the first load infers (the counter sees that job), the second reuses
      assert(jobsOf(Tables.load(spark, dir, "t")) >= 1)
      assert(jobsOf(Tables.load(spark, dir, "t")) === 0)
      for (t <- Tables.all) {
        Tables.load(spark, TestSpark.sfDir, t)
        val memo = Tables.load(spark, TestSpark.sfDir, t).schema
        assert(memo === spark.read.parquet(s"${TestSpark.sfDir}/$t.parquet").schema, t)
      }
    } finally Tables.deleteTree(new java.io.File(dir))
  }

  test("rewriting a table's files re-infers its schema") {
    val dir = tempDir()
    try {
      spark.range(3).write.parquet(s"$dir/t.parquet")
      assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("id"))
      spark.range(3).select(col("id").cast("string").as("a"), lit(1).as("b"))
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val df = Tables.load(spark, dir, "t")
      assert(df.schema === spark.read.parquet(s"$dir/t.parquet").schema)
      assert(df.columns.toSeq === Seq("a", "b"))
      assert(df.where(col("a") === "2").count() === 1)
    } finally Tables.deleteTree(new java.io.File(dir))
  }

  test("flipping nanosAsLong re-infers a TIMESTAMP(NANOS) ts column") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // the legacy events layout: epoch nanos under the NANOS logical type,
    // which Spark cannot write itself
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$dir/legacy.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i =>
      w.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", i * 1000000000L + 123L)))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "legacy").schema("ts").dataType === LongType)
      // the files are unchanged; only the conf flipped — a memo that
      // ignored confs would keep answering LongType here
      spark.conf.set(key, "false")
      val flipped = scala.util.Try(
        Tables.load(spark, dir, "legacy").schema("ts").dataType)
      val fresh = scala.util.Try(
        spark.read.parquet(s"$dir/legacy.parquet").schema("ts").dataType)
      assert(flipped.toOption === fresh.toOption)
      assert(!flipped.toOption.contains(LongType), s"$flipped")
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "legacy").schema("ts").dataType === LongType)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Tables.deleteTree(new java.io.File(dir))
    }
  }

  test("four threads loading the store at once get identical schemas") {
    val dir = tempDir()
    try {
      // a fresh copy, so every thread starts on a miss
      for (t <- Tables.all) Files.copy(
        Paths.get(s"${TestSpark.sfDir}/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val stores = try {
        (1 to 4).map(_ => pool.submit(() =>
          Tables.all.map(t => Tables.load(spark, dir, t).schema)))
          .map(_.get())
      } finally pool.shutdown()
      val expected = Tables.all.map(t => Tables.load(spark, dir, t).schema)
      stores.foreach(s => assert(s === expected))
      assert(expected === Tables.all.map(t =>
        spark.read.parquet(s"$dir/$t.parquet").schema))
    } finally Tables.deleteTree(new java.io.File(dir))
  }

  test("two loads of an unchanged table share one relation under fresh expression ids") {
    val dir = tempDir()
    try {
      spark.range(10).write.parquet(s"$dir/t.parquet")
      val loads = Seq.fill(3)(Tables.load(spark, dir, "t"))
      val relations = loads.map(relationOf)
      assert(relations.forall(_ eq relations.head))
      val ids = loads.map(_.queryExecution.analyzed.output.map(_.exprId).toSet)
      for (i <- ids.indices; j <- ids.indices if i < j)
        assert(ids(i).intersect(ids(j)).isEmpty, s"loads $i and $j")
      val Seq(a, b, c) = loads
      assert(a.join(b, a("id") === b("id")).count() === 10)
      assert(b.join(c, b("id") === c("id") + 1).count() === 9)
    } finally Tables.deleteTree(new java.io.File(dir))
  }

  test("a rewrite or a parquet conf flip gives the next load a new relation") {
    val dir = tempDir()
    // a conf whose name matches the stamp's `parquet` filter and which
    // changes nothing these reads return
    val key = "spark.sql.parquet.recordLevelFilter.enabled"
    val prev = spark.conf.getOption(key)
    try {
      spark.range(3).write.parquet(s"$dir/t.parquet")
      val r0 = relationOf(Tables.load(spark, dir, "t"))
      assert(relationOf(Tables.load(spark, dir, "t")) eq r0)
      spark.range(5).write.mode("overwrite").parquet(s"$dir/t.parquet")
      val rewritten = Tables.load(spark, dir, "t")
      val r1 = relationOf(rewritten)
      assert(r1 ne r0)
      assert(rewritten.count() === 5)
      assert(relationOf(Tables.load(spark, dir, "t")) eq r1)
      spark.conf.set(key, (!prev.contains("true")).toString)
      val r2 = relationOf(Tables.load(spark, dir, "t"))
      assert(r2 ne r1)
      assert(relationOf(Tables.load(spark, dir, "t")) eq r2)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Tables.deleteTree(new java.io.File(dir))
    }
  }

  test("a session without nanosAsLong gets it on its first load of any table") {
    // the conf is part of every table's stamp: set only at the first
    // events load, it would make customer, loaded before, resolve again
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getAll.get(key)
    try {
      spark.conf.unset(key)
      val c0 = relationOf(Tables.load(spark, TestSpark.sfDir, "customer"))
      Tables.load(spark, TestSpark.sfDir, "events")
      assert(relationOf(Tables.load(spark, TestSpark.sfDir, "customer")) eq c0)
      assert(spark.conf.get(key) === "true")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a memo entry serves only the session that resolved it") {
    val dir = tempDir()
    try {
      spark.range(4).write.parquet(s"$dir/t.parquet")
      assert(relationOf(Tables.load(spark, dir, "t")).sparkSession eq spark)
      val other = spark.newSession()
      val a = Tables.load(other, dir, "t")
      assert(relationOf(a).sparkSession eq other)
      assert(relationOf(Tables.load(other, dir, "t")) eq relationOf(a))
      // and back: the first session resolves its own again
      val b = Tables.load(spark, dir, "t")
      assert(relationOf(b).sparkSession eq spark)
      assert(relationOf(Tables.load(spark, dir, "t")) eq relationOf(b))
      assert(a.count() === 4 && b.count() === 4)
    } finally Tables.deleteTree(new java.io.File(dir))
  }
}
