package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Event-time keep-first deduplication — Flink's streaming "Deduplication"
  * special query with `ORDER BY rowtime ASC` semantics:
  *
  *   SELECT ... FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY k
  *     ORDER BY rowtime ASC) AS rn FROM s) WHERE rn = 1
  *
  * `dropDuplicates` keeps the first-ARRIVING row, which is wrong on
  * out-of-order streams; this operator keeps the row with the MINIMUM event
  * time, emitting it exactly once when the watermark proves no
  * earlier-timestamped row can still arrive (candidate time strictly below
  * the watermark — the same finality rule as the streaming as-of join and
  * CEP operators).
  *
  * State per key: one candidate row while pending, then an emitted flag —
  * the same O(1)-per-key bound as Flink's dedup state without TTL.
  */
object StreamingDedup {

  def keepFirstByEventTime(
      df: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    val schema = df.schema
    val tsIdx = schema.fieldIndex(tsCol)
    val rowEnc = org.apache.spark.sql.Encoders.row(schema)
    val stateEnc = org.apache.spark.sql.Encoders.javaSerialization[(Option[Row], Boolean)]

    def millis(r: Row): Long = r.get(tsIdx) match {
      case null => Long.MinValue
      case t: java.sql.Timestamp => t.getTime
      case i: java.time.Instant => i.toEpochMilli
      case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case other => throw new IllegalArgumentException(s"not an event time: $other")
    }

    df.as(rowEnc)
      .groupByKey(StateKeys.encoder(schema, keys))(
        org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[(Option[Row], Boolean)]) => {
          val (cand0, emitted) = state.getOption.getOrElse((None, false))
          if (emitted) {
            // winner already emitted: every later row is a duplicate
            rows.foreach(_ => ())
            Iterator.empty
          } else {
            // earliest event time wins; arrival order breaks exact ties
            // (Flink's rn=1 behavior for equal rowtimes). Null rowtimes are
            // skipped — as Long.MinValue they would instantly win and
            // permanently suppress every real row for the key.
            var cand = cand0
            rows.foreach { r =>
              if (!r.isNullAt(tsIdx) &&
                (cand.isEmpty || millis(r) < millis(cand.get))) cand = Some(r)
            }
            val wm = state.getCurrentWatermarkMs()
            // strictly below the watermark: rows at exactly wm may still
            // arrive (Spark's late filter admits them), so they're not final
            if (cand.isDefined && millis(cand.get) < wm) {
              state.update((None, true))
              Iterator.single(cand.get)
            } else if (cand.isEmpty) {
              // nothing buffered (all rows so far had null rowtimes): keeping
              // (None,false) + a timer would hold state and re-fire forever —
              // drop it; a later real row recreates the state from scratch
              state.remove()
              Iterator.empty
            } else {
              state.update((cand, false))
              // a quiet key wakes in the first batch whose watermark passes
              // its candidate (the timeout fires once ts < wm, the emission
              // rule above); Spark rejects timestamps <= 0, and wm >= 0
              state.setTimeoutTimestamp(millis(cand.get) max 1L)
              Iterator.empty
            }
          }
        })(stateEnc, rowEnc)
      .toDF()
  }
}
