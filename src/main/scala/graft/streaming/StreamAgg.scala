package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{GraftQuery, Tables}

/** Structured Streaming layer. The reference's streaming idiom is a CForeach
  * over an event list with incrementally-maintained aggregates
  * (fiat2/src/fiat2/Ex_Sum.v:30; SURVEY.md §2.10); the idiomatic Spark
  * equivalent is readStream → windowed stateful aggregation → sink. Here the
  * finite events parquet drives the stream to completion and the final state
  * is compared against a batch oracle — the IVM correctness statement.
  */
object StreamAgg {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery.sql("q_stream_window",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      // Batch read once for the events schema (whichever accepted ts
      // layout), then stream the same file through a windowed aggregation
      // into an in-memory sink.
      val schema = Tables.load(s, dir, "events").schema
      // The file-stream source needs a directory to watch; the events file
      // is linked into one (the arrival directory of a real feed).
      StreamRun.linked(s, dir, "events", "complete") { watch =>
        val stream = s.readStream.schema(schema).parquet(watch.toString)
        stream
          .withColumn("tstamp", Tables.tsCol(stream))
          .groupBy(window($"tstamp", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(DecimalType(18, 2))).cast("double").as("total"))
          // ntz: the dump's parquet timestamp must be naive MICROS (what the
          // DuckDB oracle yields); LTZ would write INT96/adjusted-to-UTC and
          // read back as a different pandas dtype than the oracle's.
          .select($"window.start".cast("timestamp_ntz").as("window_start"),
            $"event_type", $"n", $"total")
      }.orderBy("window_start", "event_type")
    },

    // Stream-STATIC join: the arriving event feed enriched against a static
    // dimension table — the streaming analog of the reference's event loop
    // reading a store table per event (CForeach + ELoc, Ex_Orders.v:54).
    // The static side broadcasts, so the join is STATELESS map-side work on
    // the stream; only the downstream aggregation keeps state. That's the
    // shape that scales: no stream-stream state, no repartition of arrivals.
    GraftQuery.sql("q_stream_join",
      """SELECT c_mktsegment AS seg, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val schema = Tables.load(s, dir, "events").schema
      val dim = broadcast(Tables.load(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment"))
      StreamRun.linked(s, dir, "events", "complete") { watch =>
        s.readStream.schema(schema).parquet(watch.toString)
          .join(dim, $"user_id" === $"c_custkey")
          .groupBy($"c_mktsegment".as("seg"))
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(DecimalType(18, 2))).cast("double").as("total"))
      }.orderBy("seg")
    },

    // Stream-STREAM interval join: click events joined to the same user's
    // purchase events within the following hour. Both sides carry
    // WATERMARKS and the join condition is an event-time INTERVAL, so the
    // state store holds only the last ~watermark horizon of each stream —
    // bounded state regardless of total stream length, which is the shape
    // that survives an unbounded feed at scale (inner-join rows emit as
    // soon as matched; the watermark only bounds state retention). The
    // oracle is the equivalent batch self-join, truncated to the engine's
    // microsecond event-time precision.
    GraftQuery.sql("q_stream_stream_join",
      """SELECT a.user_id AS user_id, a.event_id AS click_id,
        |       b.event_id AS purchase_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND date_trunc('microseconds', b.ts) >= date_trunc('microseconds', a.ts)
        | AND date_trunc('microseconds', b.ts) <=
        |     date_trunc('microseconds', a.ts) + INTERVAL 1 HOUR
        |ORDER BY user_id, click_id, purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val schema = Tables.load(s, dir, "events").schema
      // A stream-stream join keeps FOUR state stores per shuffle partition
      // (left/right × keyToNumValues/keyWithIndexToValue), each with its
      // own checkpoint commit per batch — per-partition overhead dominates
      // a modest feed (see StreamRun). INNER join matches emit during
      // data batches; the trailing no-data micro-batch only evicts state
      // and emits nothing, so skip its fixed trigger round.
      StreamRun.linked(s, dir, "events", "append", noDataBatches = false) {
        watch =>
          val src = s.readStream.schema(schema).parquet(watch.toString)
          val clicks = src.filter($"event_type" === "click")
            .select($"event_id".as("click_id"), $"user_id".as("c_user"),
              Tables.tsCol(src).as("c_ts"))
            .withWatermark("c_ts", "2 hours")
          val purchases = src.filter($"event_type" === "purchase")
            .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
              Tables.tsCol(src).as("p_ts"))
            .withWatermark("p_ts", "2 hours")
          clicks.join(purchases,
            $"c_user" === $"p_user" && $"p_ts" >= $"c_ts" &&
              $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"))
            .select($"c_user".as("user_id"), $"click_id", $"purchase_id")
      }.orderBy("user_id", "click_id", "purchase_id")
    },

    // Stream-stream LEFT OUTER interval join: clicks that found NO
    // purchase within the hour must still emit (with a null purchase) —
    // but only once the watermark proves no match can still arrive, which
    // is the part an inner join never exercises: outer rows are
    // state-store EVICTIONS, not matches. The feed arrives in three
    // watermark-ordered files with completed micro-batches between them
    // (LateData's determinism discipline), so eviction points are a pure
    // function of the data: the joinable window is the first 2 days;
    // the later files only advance the watermark past every batch-1
    // click's match horizon, flushing the unmatched ones. The oracle is
    // the equivalent batch LEFT JOIN over the same window.
    GraftQuery.sql("q_stream_outer_join",
      """WITH t0 AS (SELECT min(ts) + INTERVAL 2 DAY AS cut FROM events),
        |c AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS cts
        |      FROM events, t0 WHERE event_type = 'click'
        |        AND date_trunc('microseconds', ts) < date_trunc('microseconds', t0.cut)),
        |p AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS pts
        |      FROM events, t0 WHERE event_type = 'purchase'
        |        AND date_trunc('microseconds', ts) < date_trunc('microseconds', t0.cut))
        |SELECT c.user_id AS user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
        |ORDER BY user_id, click_id, purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val schema = ev.schema
      // layout-independent integer µs arithmetic (Tables.epochUs) — the
      // same cut both engines compute
      val minUs = StreamStage.scalarOnce("soj_min_us", dir)(
        ev.agg(min(Tables.epochUs(ev))).head().getLong(0))
      val cut = minUs + 2L * 86400L * 1000000L
      val cut2 = minUs + 4L * 86400L * 1000000L
      // the three watermark-ordered arrival files are a pure function of
      // the source — stage them once; every run re-delivers them between
      // completed micro-batches (the arrival sequencing under test)
      val staged = StreamStage.stagedOnce("soj", dir) { p =>
        StreamStage.writeBatchFile(
          ev.filter(Tables.epochUs(ev) < cut), p, "batch01.parquet")
        StreamStage.writeBatchFile(
          ev.filter(Tables.epochUs(ev) >= cut && Tables.epochUs(ev) < cut2),
          p, "batch02.parquet")
        StreamStage.writeBatchFile(
          ev.filter(Tables.epochUs(ev) >= cut2), p, "batch03.parquet")
      }
      def addBatch(watch: java.nio.file.Path, seq: Int): Unit =
        StreamStage.deliver(staged, watch, f"batch$seq%02d.parquet")
      // The joinable-window cut must be a predicate ON THE WATERMARK
      // COLUMN: Catalyst pushes any other filter below the
      // EventTimeWatermark node (PushPredicateThroughNonJoin exempts only
      // the event-time column), and a pushed cut would hide files 2-4 from
      // the watermark — which must see them, because their advancement IS
      // what flushes the unmatched outer rows.
      val cutTs = lit(java.time.Instant.ofEpochSecond(
        cut / 1000000L, cut % 1000000L * 1000L))
      // No-data micro-batches add one trigger round (~0.3-0.5s fixed) per
      // processAllAvailable and prove nothing HERE: every eviction this
      // query tests is flushed by a DATA batch — file 2's batch evicts
      // with the watermark committed after file 1, file 3's with file 2's,
      // and the click cut (< day 2) means no straggler outlives file 3's
      // batch. Queries whose FINAL emissions ride the watermark (window
      // agg, late-data) keep the default.
      StreamRun(s, "append", noDataBatches = false, feed = { (q, watch) =>
        addBatch(watch, 1) // the joinable window
        q.processAllAvailable()
        addBatch(watch, 2) // advancer
        q.processAllAvailable()
        addBatch(watch, 3) // advancer: flush stragglers
        q.processAllAvailable()
      }) { watch =>
        val src = s.readStream.schema(schema).parquet(watch.toString)
        val clicks = src.select($"event_id", $"user_id", $"event_type",
            Tables.tsCol(src).as("c_ts"))
          .withWatermark("c_ts", "2 hours")
          .filter($"event_type" === "click" && $"c_ts" < cutTs)
          .select($"event_id".as("click_id"), $"user_id".as("c_user"), $"c_ts")
        val purchases = src.select($"event_id", $"user_id", $"event_type",
            Tables.tsCol(src).as("p_ts"))
          .withWatermark("p_ts", "2 hours")
          .filter($"event_type" === "purchase" && $"p_ts" < cutTs)
          .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"p_ts")
        clicks.join(purchases,
          $"c_user" === $"p_user" && $"p_ts" >= $"c_ts" &&
            $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"),
          "left_outer")
          .select($"c_user".as("user_id"), $"click_id", $"purchase_id")
      }.orderBy("user_id", "click_id", "purchase_id")
    },
  )
}
