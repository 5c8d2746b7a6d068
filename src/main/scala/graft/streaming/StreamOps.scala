package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming building blocks for a continuously-ingesting training-data
  * pipeline, composed over any streaming source (including the
  * `hudi-graft` micro-batch reader). Spark-native first: watermarked
  * `dropDuplicates` and windowed aggregates ARE the engine's managed
  * state; custom `flatMapGroupsWithState` appears only for latest-wins
  * upsert views, which no built-in expresses (stream-side
  * overwrite-with-latest needs per-key ordering state, the streaming
  * analog of the per-slice MOR merge in
  * [[graft.sources.GraftPartitionReader]]).
  */
object StreamOps {

  /** Streaming exact dedup: keep the FIRST record per key, with state
    * bounded by the watermark on `eventTimeCol` — the streaming analog of
    * the batch `dedup_exact` operator. Pure built-ins:
    * `dropDuplicatesWithinWatermark` keys the seen-set on the KEY columns
    * alone (a plain `dropDuplicates(keys :+ eventTime)` would pass every
    * same-key record that differs in timestamp — not dedup at all), while
    * Spark manages the seen-keys store, drops state once the watermark
    * passes a key's first-seen event time, and scales it per-partition
    * across executors.
    */
  def dedupFirst(
      stream: DataFrame,
      keyCols: Seq[String],
      eventTimeCol: String,
      watermark: String): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked tumbling-window aggregation — the streaming shape of the
    * hourly-rollup batch query (`q_events_hourly`): append-mode emission
    * once the watermark passes a window, partial aggregation map-side.
    */
  def windowedCounts(
      stream: DataFrame,
      eventTimeCol: String,
      windowLength: String,
      watermark: String,
      groupCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLength) +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Latest-wins upsert view: for each key keep the row with the highest
    * `orderingCol` seen so far, emitting a row only when the winner
    * CHANGES (update-log semantics). This is per-key ordering state no
    * built-in expresses — `flatMapGroupsWithState` with one compact state
    * row per key, the streaming analog of overwrite-with-latest
    * (record_merger.rs semantics on an unbounded stream).
    */
  def latestByKey(
      stream: DataFrame,
      keyCols: Seq[String],
      orderingCol: String): DataFrame = {
    val schema = stream.schema
    implicit val rowEnc: Encoder[Row] = Encoders.row(schema)
    val orderingIdx = schema.fieldIndex(orderingCol)
    val keyIdxs = keyCols.map(schema.fieldIndex)

    // same-class Comparable comparison: lossless for Long orderings (a
    // doubleValue round-trip collapses distinct values past 2^53) and
    // works for any Comparable ordering column (Timestamp, String,
    // Decimal), null lowest — the MOR merge's null-ordering convention
    def cmpOrdering(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Comparable[_], _) => x.asInstanceOf[Comparable[Any]].compareTo(b)
      case (x, _) =>
        throw new IllegalArgumentException(s"non-comparable ordering value $x")
    }
    def ord(r: Row): Any = r.get(orderingIdx)

    stream
      .groupByKey(r => keyIdxs.map(i => String.valueOf(r.get(i))).mkString("\u0000"))(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val incoming = rows.reduceOption((a, b) => if (cmpOrdering(ord(b), ord(a)) > 0) b else a)
          incoming match {
            case None => Iterator.empty
            case Some(best) =>
              val prev = state.getOption
              if (prev.forall(p => cmpOrdering(ord(best), ord(p)) > 0)) {
                state.update(best)
                Iterator.single(best)
              } else Iterator.empty
          }
      }
  }
}
