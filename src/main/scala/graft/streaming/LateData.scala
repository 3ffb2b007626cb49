package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{GraftQuery, Tables}

/** Watermark/late-data semantics. The reference has no late data — its
  * event loop (CForeach, SURVEY.md §2.10) processes arrivals in program
  * order — but any unbounded feed at scale must bound its state, and the
  * watermark is Structured Streaming's contract for that: state for a
  * window is kept only until the watermark passes its end, after which
  * stragglers for it are DROPPED. This query makes that behavior a
  * deterministic, oracle-checked fact rather than a flaky timing artifact:
  * the feed is two files whose arrivals are separated by a completed
  * micro-batch (processAllAvailable between them), so the watermark
  * position at every step is a pure function of the data.
  *
  *   batch 1: every event from day 2 on — advances the watermark to
  *            max(ts) - 12h, far past the first day's windows;
  *   batch 2: the first day's events, now all late — every one is dropped
  *            (their hour windows closed when the watermark passed).
  *
  * Append mode then emits exactly the closed windows: batch-1 rows,
  * windows ending at or before the watermark. The DuckDB oracle replays
  * the same rules in SQL — same split, same watermark arithmetic, same
  * bucket alignment (time_bucket and Spark's window() both align to the
  * epoch) — so a hash match proves both the drop and the emission rule.
  * If the engine failed to drop the late rows, the first day's windows
  * would emit with inflated counts and the hashes would differ.
  */
object LateData {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery.sql("q_stream_late",
      """WITH t0 AS (SELECT min(ts) + INTERVAL 1 DAY AS cut FROM events),
        |b1 AS (SELECT e.* FROM events e, t0 WHERE e.ts >= t0.cut),
        |wm AS (SELECT max(ts) - INTERVAL 12 HOUR AS w FROM b1),
        |agg AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
        |               event_type, COUNT(*) AS n,
        |               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |        FROM b1 GROUP BY 1, 2)
        |SELECT window_start, event_type, n, total FROM agg, wm
        |WHERE window_start + INTERVAL 1 HOUR <= wm.w
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val schema = ev.schema
      // the split threshold is min(ts) + 1 day in integer epoch-µs
      // (Tables.epochUs normalizes either stored layout), so both engines
      // cut identically. Cut and split files are pure functions of the
      // source — staged once, re-delivered per run (the arrival sequencing
      // is the thing under test)
      val cutUs = StreamStage.scalarOnce("late_min_us", dir)(
        ev.agg(min(Tables.epochUs(ev))).head().getLong(0)) + 86400L * 1000000L
      val staged = StreamStage.stagedOnce("late", dir) { p =>
        StreamStage.writeBatchFile(
          ev.filter(Tables.epochUs(ev) >= cutUs), p, "batch01.parquet")
        StreamStage.writeBatchFile(
          ev.filter(Tables.epochUs(ev) < cutUs), p, "batch02.parquet")
      }
      def addBatch(watch: java.nio.file.Path, seq: Int): Unit =
        StreamStage.deliver(staged, watch, f"batch$seq%02d.parquet")
      // The straggler file must ARRIVE after the on-time batch commits:
      // a backlog present at stream start gets its batches planned
      // against the pre-stream watermark (observed: batch 2 of a
      // 2-file backlog late-filters with watermark 0 and the "late"
      // rows sail through), whereas a file that arrives after the
      // previous batch's commit is filtered with that batch's
      // watermark — the semantics an actually-arriving feed gets.
      StreamRun(s, "append", feed = { (q, watch) =>
        addBatch(watch, 1) // advances the watermark
        q.processAllAvailable()
        addBatch(watch, 2) // stragglers: all dropped
        q.processAllAvailable()
      }) { watch =>
        val stream = s.readStream.schema(schema).parquet(watch.toString)
        stream
          .withColumn("tstamp", Tables.tsCol(stream))
          .withWatermark("tstamp", "12 hours")
          .groupBy(window($"tstamp", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(DecimalType(18, 2))).cast("double").as("total"))
          .select($"window.start".cast("timestamp_ntz").as("window_start"),
            $"event_type", $"n", $"total")
      }.orderBy("window_start", "event_type")
    },
  )
}
