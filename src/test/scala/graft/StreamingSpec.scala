package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamRun, StreamStage}

/** Watermark semantics: windowed aggregation in append mode over a two-batch
  * file arrival — the watermark from batch 1 closes old windows (emitted) and
  * drops batch 2's too-late data.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `f` with a maker of temp directories; every directory it made
    * is deleted afterwards, whether `f` passes or fails. */
  private def withTempDirs[T](f: (String => java.nio.file.Path) => T): T = {
    val made = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
    try f { prefix => val d = Files.createTempDirectory(prefix); made += d; d }
    finally made.foreach(d => graft.core.Tables.deleteTree(d.toFile))
  }

  test("watermarked windowed agg emits closed windows and drops late data") {
    withTempDirs { temp =>
      val dir = temp("graft_wm_").toString
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
      def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
      // batch 1: events in windows 00:00 and 01:00, max event time 02:00
      Seq((ts(0), "a"), (ts(1), "a"), (ts(60), "b"), (ts(120), "c"))
        .toDF("ts", "k").coalesce(1).write.parquet(s"$dir/b1")
      // batch 2: an event 2h LATE (window 00:00, watermark now 01:50) plus a
      // fresh one
      Seq((ts(2), "late"), (ts(125), "c"))
        .toDF("ts", "k").coalesce(1).write.parquet(s"$dir/b2")

      // stage batch 1 before starting so arrival order is deterministic
      val arrivals = temp("graft_wm_arrivals_").toString
      Files.copy(java.nio.file.Paths.get(
        spark.read.parquet(s"$dir/b1").inputFiles.head.stripPrefix("file:")),
        java.nio.file.Paths.get(s"$arrivals/b1.parquet"))
      val schema = spark.read.parquet(s"$dir/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(arrivals)
      val agg = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select($"w.start".as("start"), $"n")
      val q = agg.writeStream.outputMode("append")
        .format("memory").queryName("wm_out").start()
      try {
        try {
          q.processAllAvailable()
          Files.copy(java.nio.file.Paths.get(
            spark.read.parquet(s"$dir/b2").inputFiles.head.stripPrefix("file:")),
            java.nio.file.Paths.get(s"$arrivals/b2.parquet"))
          q.processAllAvailable()
        } finally q.stop()
        val out = spark.table("wm_out")
          .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
        // 00:00 window emitted with n=2 — the late event did NOT inflate it
        assert(out.get("2024-01-01 00:00:00.0").contains(2L),
          s"closed 00:00 window wrong: $out")
        // the late event's window was already closed; count stays 2 (dropped)
        assert(!out.contains("2024-01-01 00:00:00.0") ||
          out("2024-01-01 00:00:00.0") == 2L)
      } finally spark.catalog.dropTempView("wm_out")
    }
  }

  test("linkTable stages directory-shaped tables so the file stream sees every row (r13)") {
    // The ScaleUp corpora are Spark-written parquet DIRECTORIES; a
    // symlink to the directory is invisible to FileStreamSource's
    // non-recursive listing, which made six streaming queries consume
    // ZERO rows at 9x (caught by the first 9x oracle run). linkTable
    // links each part file individually; with no maxFilesPerTrigger the
    // source takes them all in ONE micro-batch.
    withTempDirs { temp =>
      val dir = temp("graft_link_src_").toString
      spark.range(100).select(col("id").as("doc_id"))
        .repartition(4) // several part files, like a ScaleUp table
        .write.parquet(s"$dir/documents.parquet")
      val watch = temp("graft_link_watch_")
      graft.streaming.StreamStage.linkTable(watch, dir, "documents")
      assert(java.nio.file.Files.list(watch).count() >= 4)
      val schema = spark.read.parquet(s"$dir/documents.parquet").schema
      val stream = spark.readStream.schema(schema).parquet(watch.toString)
        .groupBy().agg(count(lit(1)).as("n"), sum($"doc_id").as("s"))
      val sink = "graft_link_sink"
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName(sink).start()
      try {
        try q.processAllAvailable() finally q.stop()
        val row = spark.table(sink).head()
        assert(row.getLong(0) == 100L && row.getLong(1) == 4950L)
      } finally spark.catalog.dropTempView(sink)
      // and the single-file layout (driver-generated SFs) still stages
      val one = temp("graft_link_one_").toString
      spark.range(5).select(col("id").as("doc_id")).coalesce(1)
        .write.parquet(s"$one/stage")
      val f = new java.io.File(s"$one/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$one/documents.parquet"))
      val watch2 = temp("graft_link_watch2_")
      graft.streaming.StreamStage.linkTable(watch2, one, "documents")
      assert(spark.read.parquet(watch2.toString).count() == 5)
    }
  }

  test("linkTable from a relative directory links to files that exist") {
    // a relative link target resolves against the watch directory, not the
    // working directory: every link would dangle and the stream would
    // silently read zero rows. The table lives under the working directory,
    // so no `..` steps can happen to reach it from the watch directory too.
    val rel = Files.createTempDirectory(
      Files.createDirectories(java.nio.file.Paths.get("target")),
      "graft_link_rel_")
    assert(!rel.isAbsolute)
    val abs = rel.toAbsolutePath
    try {
      spark.range(10).select(col("id").as("doc_id")).repartition(2)
        .write.parquet(s"$abs/parts/documents.parquet")
      spark.range(5).select(col("id").as("doc_id")).coalesce(1)
        .write.parquet(s"$abs/stage")
      Files.createDirectory(abs.resolve("one"))
      Files.move(new java.io.File(s"$abs/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath,
        abs.resolve("one/documents.parquet"))
      for (layout <- Seq("parts", "one")) {
        val watch = Files.createTempDirectory("graft_link_rel_watch_")
        try {
          graft.streaming.StreamStage.linkTable(watch, s"$rel/$layout", "documents")
          val links = new java.io.File(watch.toString).listFiles().map(_.toPath)
          assert(links.nonEmpty, layout)
          links.foreach(l => assert(Files.exists(l), s"$layout: $l dangles"))
        } finally graft.core.Tables.deleteTree(watch.toFile)
      }
    } finally graft.core.Tables.deleteTree(abs.toFile)
  }

  /** A one-file feed of `(id, k)` rows grouped by `k` into a runner
    * stream, with `feed` run while the query is live. */
  private def countByK(feed: StreamingQuery => Unit): DataFrame = {
    val rows = spark.range(100).select(col("id"), (col("id") % 5).as("k"))
    StreamRun(spark, "complete", feed = (q, _) => feed(q)) { watch =>
      StreamStage.writeBatchFile(rows, watch, "feed.parquet")
      spark.readStream.schema(rows.schema).parquet(watch.toString)
        .groupBy("k").agg(count(lit(1)).as("n"))
    }
  }

  test("a runner stream keeps its state partitions off the shared session") {
    var sessionWidth = ""
    var stateWidth = -1L
    val out = countByK { q =>
      q.processAllAvailable()
      sessionWidth = spark.conf.get("spark.sql.shuffle.partitions")
      stateWidth = q.lastProgress.stateOperators.head.numShufflePartitions
    }
    assert(out.count() === 5)
    assert(sessionWidth === "4", "the session's batch width changed under a stream")
    assert(stateWidth === StreamRun.statePartitions)
  }

  test("the registered streams leave no view, active query or temp directory") {
    val streams = Seq("q_stream_window", "q_stream_join",
      "q_stream_stream_join", "q_stream_outer_join", "q_stream_late",
      "q_sessionize", "q_stream_dedup", "q_stream_score", "q_stream_curate")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    // StreamStage's staged feeds live for the JVM by design
    def dirs = tmp.list().filter(n =>
      n.startsWith("graft_") && !n.startsWith("graft_stage_")).toSet
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val (dirs0, views0) = (dirs, views)
    streams.foreach(n => SparkEntry.queries(n)(spark, TestSpark.sfDir).count())
    assert(views -- views0 === Set.empty)
    assert(spark.streams.active.isEmpty)
    assert(dirs -- dirs0 === Set.empty)
  }

  test("two runner streams feed at the same time") {
    // each feed waits for the other's to start: streams that ran one at a
    // time would leave the first waiting out its timeout
    val started = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val met = Seq.fill(2)(pool.submit(new Callable[Boolean] {
        def call(): Boolean = {
          var both = false
          countByK { q =>
            q.processAllAvailable()
            started.countDown()
            both = started.await(30, TimeUnit.SECONDS)
          }.count()
          both
        }
      }))
      assert(met.map(_.get(120, TimeUnit.SECONDS)) === Seq(true, true))
    } finally pool.shutdown()
  }
}
