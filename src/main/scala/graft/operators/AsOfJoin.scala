package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Temporal / as-of join: for each left row, the latest right row whose
  * timestamp is <= the left timestamp, per key — Flink's
  * `JOIN t FOR SYSTEM_TIME AS OF l.ts` (reference test/syntax-test.fsql:159-162,
  * grammar syntaxes/flink.tmLanguage.json:359).
  *
  * Implementation is the scalable union-and-carry-forward pattern rather than a
  * join-then-reduce: tag both inputs, union, and run `last(value, ignoreNulls)`
  * over (key ORDER BY ts, side) — one shuffle on the key, one sort, zero
  * row-explosion. A join-based formulation (l JOIN r ON key AND r.ts <= l.ts,
  * then max) multiplies rows by the right-side history length and dies at
  * 100 TB; this stays linear and is exactly how a 1000-executor cluster wants
  * it partitioned.
  */
object AsOfJoin {

  /** Left as-of join.
    * @param rightValueCols right-side payload columns to carry onto left rows
    *                       (must not collide with left column names).
    */
  def leftAsOf(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      rightValueCols: Seq[String]): DataFrame = {

    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // carry the LATEST right row even when its payload is legitimately NULL:
    // wrap payloads in a struct that is non-null exactly for right rows, so
    // last(ignoreNulls) tracks row recency, not payload nullability
    val carried = rightValueCols.foldLeft(
      tagAndUnion(left, right, key, leftTs, rightTs, rightValueCols)) { (df, c) =>
      df.withColumn(c,
        last(when(col("__side") === 0, struct(col(c).as("v"))), ignoreNulls = true)
          .over(w).getField("v"))
    }
    carried.filter(col("__side") === 1).drop("__side", "__ts")
  }

  /** Tag right (side 0) and left (side 1) rows with (key, __ts, __side) and
    * union — shared by the batch and streaming operators so the equal-ts tie
    * rule (right BEFORE left: a version at exactly l.ts is visible, ASOF `>=`
    * semantics matching DuckDB's ASOF JOIN) can never diverge between them.
    * Callers must ensure right is unique per (key, ts). Plain aliases only:
    * wrapping an already-watermarked column in a cast would strip its
    * event-time tag. */
  private def tagAndUnion(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightValueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val rCols: Seq[Column] =
      Seq(col(key), col(rightTs).as("__ts"), lit(0).as("__side")) ++
        leftCols.filterNot(_ == key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightValueCols.map(col)
    val lCols: Seq[Column] =
      Seq(col(key), col(leftTs).as("__ts"), lit(1).as("__side")) ++
        leftCols.filterNot(_ == key).map(col) ++
        rightValueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c))
    // NULL-keyed right versions are dropped: the join condition is SQL
    // equality (l.k = r.k), and NULL = NULL is not true — partitioning
    // groups nulls together, so without this filter a NULL-keyed left row
    // would pick up a NULL-keyed right version no SQL engine would match.
    // NULL-keyed LEFT rows stay (LEFT join) and naturally carry NULL
    // payloads from their now-empty partition.
    right.filter(col(key).isNotNull).select(rCols: _*)
      .unionByName(left.select(lCols: _*))
  }

  // ----------------------------------------------------------- streaming --

  /** Streaming event-time temporal join (Flink's `FOR SYSTEM_TIME AS OF` on
    * two streams): same union + carry-forward semantics as [[leftAsOf]],
    * executed in `flatMapGroupsWithState` with event-time timeouts.
    *
    * A left row at time t is FINAL once the watermark passes t — every right
    * version at or before t has arrived by then — so each left row emits
    * exactly once with the right payload that was current at its timestamp.
    * State per key = the rows still above the watermark plus ONE carried
    * right payload (the current version): the same bound as Flink's
    * temporal-join state after watermark cleanup. */
  def leftAsOfStream(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      rightValueCols: Seq[String],
      watermarkDelay: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    val l0 = left.withColumn(leftTs, col(leftTs).cast("timestamp"))
      .withWatermark(leftTs, watermarkDelay)
    val r0 = right.withColumn(rightTs, col(rightTs).cast("timestamp"))
      .withWatermark(rightTs, watermarkDelay)
    val unioned = tagAndUnion(l0, r0, key, leftTs, rightTs, rightValueCols)

    val schema = unioned.schema
    val tsIdx = schema.fieldIndex("__ts")
    val sideIdx = schema.fieldIndex("__side")
    val payloadIdx = rightValueCols.map(schema.fieldIndex)
    val outIdx = schema.fields.indices.filterNot(i =>
      i == tsIdx || i == sideIdx) // key, left cols, payload slots
    val outSchema = org.apache.spark.sql.types.StructType(outIdx.map(schema.fields))
    val rowEnc = org.apache.spark.sql.Encoders.row(schema)
    val outEnc = org.apache.spark.sql.Encoders.row(outSchema)
    val stateEnc = org.apache.spark.sql.Encoders.javaSerialization[(Array[Row], Option[Array[Any]])]

    def millis(r: Row): Long = r.get(tsIdx) match {
      case null => Long.MinValue // null event time sorts first, like batch NULLS FIRST
      case t: java.sql.Timestamp => t.getTime
      case i: java.time.Instant => i.toEpochMilli
      case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case other => throw new IllegalArgumentException(s"not an event time: $other")
    }
    // constant per-query: output slot -> payload slot (-1 = copy from left row)
    val outToPayload: Array[Int] = outIdx.map(payloadIdx.indexOf).toArray

    unioned.as(rowEnc)
      // shared length-prefixed key encoding: the hand-rolled null-sentinel
      // variant collided NULL with the literal one-char "\u0000" string
      .groupByKey(StateKeys.encoder(schema, Seq(key)))(
        org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[(Array[Row], Option[Array[Any]])]) => {
          val (held, carry0) = state.getOption.getOrElse((Array.empty[Row], None))
          // right rows sort before left at equal ts → a version at exactly
          // the left timestamp is visible (ASOF >= semantics, as in batch)
          val buf = (held ++ rows).sortBy(r => (millis(r), r.getInt(sideIdx)))
          val wm = state.getCurrentWatermarkMs()
          // STRICTLY below the watermark: Spark's late filter admits rows at
          // exactly the watermark, so ts == wm is not final yet
          val matureLen = buf.count(millis(_) < wm)
          var carry = carry0
          val out = ArrayBuffer.empty[Row]
          var i = 0
          while (i < matureLen) {
            val r = buf(i)
            if (r.getInt(sideIdx) == 0) carry = Some(payloadIdx.map(r.get).toArray)
            else {
              // a NULL-event-time left row has NO preceding right version in
              // batch (NULLS FIRST sorts it before every right row) — the
              // cross-batch carry must not leak onto it
              val useCarry = if (r.isNullAt(tsIdx)) None else carry
              out += Row.fromSeq(outIdx.indices.map { o =>
                val pi = outToPayload(o)
                if (pi >= 0) useCarry.map(_(pi)).orNull else r.get(outIdx(o))
              })
            }
            i += 1
          }
          val kept = buf.drop(matureLen)
          state.update((kept, carry))
          // wake in the first batch whose watermark passes the earliest held
          // row (buf is sorted; the timeout fires once ts < wm, the maturity
          // rule above); nothing held, no timer. Spark rejects timestamps
          // <= 0, and a held row has ts >= wm >= 0
          kept.headOption.foreach(r => state.setTimeoutTimestamp(millis(r) max 1L))
          out.iterator
        })(stateEnc, outEnc)
      .toDF()
  }

  // ------------------------------------------------------------- SQL form --

  /** `SELECT ... FROM lt [AS] la [LEFT] JOIN rt FOR SYSTEM_TIME AS OF la.ts
    * [AS ra] ON la.k = ra.k [rest]` (test/syntax-test.fsql:159-162,
    * grammar :359). */
  private val TemporalRe =
    ("""(?is)^\s*(SELECT\s+.*?)\s+FROM\s+([\w.`]+)""" +
      """(?:\s+(?:AS\s+)?(?!(?:LEFT|JOIN|RIGHT|INNER|CROSS|FULL)\b)(\w+))?\s+""" +
      """(LEFT\s+(?:OUTER\s+)?)?JOIN\s+([\w.`]+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+""" +
      """(\w+)\.(\w+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s+""" +
      """ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*(.*)$""").r

  def isTemporalSql(stmt: String): Boolean =
    stmt.toUpperCase.contains("FOR SYSTEM_TIME AS OF")

  /** Route the SQL form of the temporal join to the carry-forward pattern —
    * same one-shuffle/one-sort shape as [[leftAsOf]], expressed as Spark SQL
    * text so the surrounding SELECT/WHERE/ORDER BY survive verbatim and stay
    * in Catalyst. Returns None when the statement doesn't match the canonical
    * shape or the right side's version-time column can't be resolved (the
    * caller then falls back to snapshot semantics — correct for processing-
    * time temporal joins, where "AS OF now" IS the current snapshot). */
  def sql(spark: SparkSession, stmt0: String): Option[DataFrame] = {
    val stmt = stmt0.trim.stripSuffix(";")
    for {
      m <- TemporalRe.findFirstMatchIn(stmt)
      sel = m.group(1)
      lt = m.group(2)
      la = Option(m.group(3)).getOrElse(lt)
      isLeft = m.group(4) != null
      rt = m.group(5)
      ra = Option(m.group(8)).getOrElse(rt)
      if m.group(6).equalsIgnoreCase(la) // AS OF must use the left time
      aofCol = m.group(7)
      keys <- (m.group(9), m.group(11)) match {
        case (a, b) if a.equalsIgnoreCase(la) && b.equalsIgnoreCase(ra) =>
          Some((m.group(10), m.group(12)))
        case (a, b) if a.equalsIgnoreCase(ra) && b.equalsIgnoreCase(la) =>
          Some((m.group(12), m.group(10)))
        case _ => None
      }
      rts <- rightTimeColumn(spark, rt)
    } yield {
      val (lk, rk) = keys
      def subst(t: String): String = t
        .replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(la) + "\\.", "__lrow.")
        .replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(ra) + "\\.", "__rmatch.")
      val innerFilter = if (isLeft) "" else " AND __rmatch IS NOT NULL"
      val q =
        s"""${subst(sel)} FROM (
           |  SELECT __lrow, __rmatch FROM (
           |    SELECT __lrow, __side,
           |      last_value(CASE WHEN __side = 0 THEN __rrow END) IGNORE NULLS OVER (
           |        PARTITION BY __k ORDER BY __ts ASC, __side ASC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __rmatch
           |    FROM (
           |      SELECT `$rk` AS __k, `$rts` AS __ts, 0 AS __side,
           |             NULL AS __lrow, struct($ra.*) AS __rrow FROM $rt AS $ra
           |      WHERE `$rk` IS NOT NULL
           |      UNION ALL
           |      SELECT `$lk`, `$aofCol`, 1, struct($la.*), NULL FROM $lt AS $la
           |    )
           |  ) WHERE __side = 1$innerFilter
           |) ${subst(m.group(13))}""".stripMargin
      q
    }
  }.flatMap { q =>
    // a shape we mis-assembled (e.g. unaliased dotted table names making
    // "AS db.t") must fall back to the snapshot rewrite, not hard-fail
    scala.util.Try(spark.sql(q)).toOption
  }

  /** The right side's version-time column: the binding's WATERMARK column if
    * the table is a connector binding, else its single timestamp column. */
  private def rightTimeColumn(spark: SparkSession, rt: String): Option[String] = {
    val name = rt.replace("`", "")
    graft.engine.TableEnv.lookup(name).flatMap(_.watermark.map(_._1)).orElse {
      scala.util.Try(spark.table(name).schema).toOption.flatMap { sch =>
        sch.fields.filter(f =>
          f.dataType == TimestampType || f.dataType == TimestampNTZType) match {
          case Array(one) => Some(one.name)
          case _ => None
        }
      }
    }
  }
}
