package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.{GraftQuery, Tables}

/** Custom stateful streaming: gap-based sessionization with
  * `flatMapGroupsWithState` — per-user state is O(1) (the open session), the
  * canonical KeyValueGroupedDataset pattern for training-data pipelines
  * (session-ize interaction logs before example generation). The finite
  * events feed drives the stream; the result must equal the batch
  * window-function oracle.
  */
object Sessionize {

  /** Gap threshold: a new session starts after >24h of inactivity. */
  val gapUs: Long = 86400000000L

  final case class Ev(user_id: Long, t: Long)
  final case class OpenSession(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, session_start_us: Long, n: Long)

  /** Merge this batch's (sorted) timestamps into the open-session state,
    * emitting closed sessions. End-of-stream flush emits the open one. */
  def step(uid: Long, evs: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[Session] = {
    val ts = evs.map(_.t).toArray.sorted
    var open = state.getOption.orNull
    val closed = Array.newBuilder[Session]
    ts.foreach { t =>
      open match {
        case null => open = OpenSession(t, t, 1)
        case o if t - o.last > gapUs =>
          closed += Session(uid, o.start, o.n)
          open = OpenSession(t, t, 1)
        case o => open = OpenSession(o.start, t, o.n + 1)
      }
    }
    if (open != null) state.update(open)
    // Finite-feed demo: the driver compares against a batch oracle, so the
    // still-open session is emitted too (exactly-one-batch semantics). A
    // live deployment would instead set an event-time timeout and emit it
    // on expiry.
    closed.result().iterator ++ state.getOption
      .map(o => Session(uid, o.start, o.n)).iterator
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery.sql("q_sessionize",
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
         |g AS (SELECT user_id, t,
         |        CASE WHEN lag(t) OVER w IS NULL
         |               OR t - lag(t) OVER w > $gapUs THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         |s AS (SELECT user_id, t,
         |        SUM(brk) OVER (PARTITION BY user_id ORDER BY t
         |                       ROWS UNBOUNDED PRECEDING) AS sid FROM g)
         |SELECT user_id, CAST(MIN(t) AS BIGINT) AS session_start_us, COUNT(*) AS n
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
      import s.implicits._
      val schema = Tables.load(s, dir, "events").schema
      StreamRun.linked(s, dir, "events", "append") { watch =>
        val src = s.readStream.schema(schema).parquet(watch.toString)
        src.select($"user_id", Tables.epochUs(src).as("t"))
          .as[Ev]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append,
            GroupStateTimeout.NoTimeout)(step)
          .toDF()
      }.orderBy("user_id", "session_start_us")
    },
  )
}
