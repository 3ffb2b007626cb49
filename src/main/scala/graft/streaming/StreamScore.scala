package graft.streaming

import org.apache.spark.sql.functions._
import graft.core.{GraftQuery, Tables}

/** Train-offline / score-online: the DSIR domain-affinity model (see
  * `operators.Curation`'s `q_dsir_select`) trains in BATCH over the
  * corpus, then an ARRIVING document stream scores against the broadcast
  * model — a stream-static join, stateless map-side work on every
  * arrival; only the per-document aggregation keeps state. This is the
  * production shape for applying trained curation filters at ingest time:
  * the model is a batch artifact, arrivals never re-train it, and the
  * stream result must equal the batch scorer on the same corpus (the
  * parity statement the oracle checks — it is the SAME oracle SQL as the
  * batch query).
  */
object StreamScore {

  import graft.core.Text.toks

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery.sql("q_stream_score",
      """WITH tk AS (SELECT doc_id, source = 'src0' AS is_t, t.w AS w
        |  FROM (SELECT doc_id, source,
        |          regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |        FROM documents), unnest(ws) AS t(w)),
        |md AS (SELECT w,
        |         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tgt,
        |         CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS bgd
        |       FROM tk GROUP BY w),
        |sc AS (SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |         CAST(SUM(md.tgt) AS BIGINT) AS sum_tgt,
        |         CAST(SUM(md.bgd) AS BIGINT) AS sum_bgd
        |       FROM tk JOIN md USING (w) GROUP BY tk.doc_id)
        |SELECT doc_id, n_tok, sum_tgt, sum_bgd,
        |  CAST(sum_tgt + 1 AS DOUBLE) / (sum_bgd + 1) AS affinity,
        |  CAST(sum_tgt + 1 AS DOUBLE) / (sum_bgd + 1) >= 0.0558 AS pick
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // the model is a BATCH artifact: one token-keyed conditional-sum
      // aggregate over the corpus, broadcast into the stream join
      val docs = Tables.load(s, dir, "documents")
      val batchTok = docs
        .select(($"source" === "src0").as("is_t"),
          explode(toks($"text")).as("w"))
      val model = broadcast(batchTok.groupBy("w").agg(
        sum(when($"is_t", 1L).otherwise(0L)).as("tgt"),
        sum(when($"is_t", 0L).otherwise(1L)).as("bgd")))
      // the same corpus file arrives as a stream (the feed-directory
      // pattern the rest of the streaming family uses)
      val schema = docs.schema
      // DETACH the (small, per-document) result from the memory sink with
      // an eager localCheckpoint: the scoring below reads checkpointed
      // blocks, not the sink
      val fromSink = StreamRun.linked(s, dir, "documents", "complete") {
        watch =>
          s.readStream.schema(schema).parquet(watch.toString)
            .select($"doc_id", explode(toks($"text")).as("w"))
            .join(model, "w") // stream-static, stateless on the stream side
            .groupBy($"doc_id")
            .agg(count(lit(1)).as("n_tok"), sum($"tgt").as("sum_tgt"),
              sum($"bgd").as("sum_bgd"))
      }.localCheckpoint(true)
      val affinity = ($"sum_tgt" + 1).cast("double") / ($"sum_bgd" + 1)
      fromSink
        .select($"doc_id", $"n_tok", $"sum_tgt", $"sum_bgd",
          affinity.as("affinity"), (affinity >= 0.0558).as("pick"))
        .orderBy("doc_id")
    },
  )
}
