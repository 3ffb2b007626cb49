package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables

/** The whole life of one bounded stream into a memory sink: a fresh watch
  * directory, the plan built over it, the query started with the stream's
  * confs, the caller's feed, and then the sink's rows. The sink's view and
  * the watch directory are gone again on every path, so a long-lived
  * server that runs streams per request keeps neither.
  *
  * Stateful operators fix their state partitioning to
  * `spark.sql.shuffle.partitions` when the stream starts, and every state
  * partition pays a store open and commit per micro-batch (a stream-stream
  * join keeps four stores per partition). A bounded feed does not need the
  * session's batch width, so streams run on `statePartitions`.
  *
  * The confs are on the shared session only while `start()` runs. The
  * query copies the session when it is constructed inside `start()`
  * (`StreamExecution.sparkSessionForStream`) and plans every micro-batch
  * with that copy, so the stream keeps them after the session's own values
  * are back. The lock only keeps two starts from interleaving their
  * save and restore; feeds run outside it, concurrently. A batch query
  * planned during that window sees the stream's width. Streams do not run
  * in a cloned session: each clone that starts a stream leaves one
  * listener on the SparkContext's bus, and a `StreamingQueryListener` on
  * the shared session would not see the clone's queries.
  */
object StreamRun {
  val statePartitions = 2

  private val lock = new Object

  /** Stream `dir`'s `table`, linked into the watch directory, through
    * `plan`, and drain it. */
  def linked(s: SparkSession, dir: String, table: String, outputMode: String,
      noDataBatches: Boolean = true)(plan: Path => DataFrame): DataFrame =
    apply(s, outputMode, noDataBatches) { watch =>
      StreamStage.linkTable(watch, dir, table)
      plan(watch)
    }

  /** Run `plan(watch)` as a stream in `outputMode`, with `feed` delivering
    * into the watch directory and awaiting the batches (by default it
    * drains what the directory holds), and return the sink's rows. With
    * `noDataBatches = false` the stream runs no trigger round without new
    * data: only for plans whose every emission rides a data batch. */
  def apply(s: SparkSession, outputMode: String, noDataBatches: Boolean = true,
      feed: (StreamingQuery, Path) => Unit = (q, _) => q.processAllAvailable())(
      plan: Path => DataFrame): DataFrame = {
    // the sink is named after its watch directory, unique under tmpdir
    val watch = Files.createTempDirectory("graft_watch_")
    val sink = watch.getFileName.toString
    try {
      val df = plan(watch)
      val q = start(s, noDataBatches) {
        df.writeStream.outputMode(outputMode).format("memory")
          .queryName(sink).start()
      }
      try feed(q, watch) finally q.stop()
      s.table(sink)
    } finally {
      s.catalog.dropTempView(sink)
      Tables.deleteTree(watch.toFile)
    }
  }

  private def start(s: SparkSession, noDataBatches: Boolean)(
      body: => StreamingQuery): StreamingQuery = {
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString)
    lock.synchronized {
      val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try body finally prev.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }
  }
}
