package graft.streaming

import org.apache.spark.sql.functions._
import graft.core.{GraftQuery, Tables}

/** Streaming deduplication — the pipeline-side crossover of the dedup family
  * (operators/Dedup.scala) and the streaming layer: exact dedup as a
  * STATEFUL streaming operator (`dropDuplicates` keyed on the content
  * digest), so a continuously-arriving corpus is cleaned incrementally
  * instead of re-deduplicating the accumulated corpus per batch.
  *
  * State note for 100 TB: keying on the 128-bit digest keeps per-doc state
  * constant-size regardless of document length; on an unbounded feed the
  * production form is `dropDuplicatesWithinWatermark` over the arrival-time
  * column, which expires state past the watermark horizon (duplicates in
  * training-data feeds are overwhelmingly near-in-time re-crawls). The
  * finite corpus here drives the same operator to completion for the batch
  * oracle comparison.
  */
object StreamDedup {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery.sql("q_stream_dedup",
      """SELECT DISTINCT md5(text) AS digest FROM documents
        |ORDER BY digest""".stripMargin) { (s, dir) =>
      import s.implicits._
      val schema = Tables.load(s, dir, "documents").schema
      StreamRun.linked(s, dir, "documents", "append") { watch =>
        s.readStream.schema(schema).parquet(watch.toString)
          .select(md5($"text").as("digest"))
          .dropDuplicates("digest")
      }.orderBy("digest")
    },
  )
}
