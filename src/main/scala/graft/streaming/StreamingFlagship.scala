package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming form of the flagship pipeline (the reference's
  * whole program, App.java:38-87): per-user state replaces the
  * changelog → versioned-table machinery (AddWatermark.java, App.java:143-193).
  *
  * Semantics mirror the batch engine exactly (SURVEY.md §2.5):
  *  - example fires on the second consecutive error event (OVER-window A3 —
  *    unsupported in streaming, so re-expressed as last-event state, §7.4);
  *  - err_cents is the cumulative error value as of _prediction_time,
  *    INCLUSIVE, including same-timestamp ties later in event_id order;
  *  - purchases is the cumulative purchase count as of _label_time
  *    (= prediction + 1h), which lies in the future at example creation:
  *    examples are buffered in state and emitted only once the event-time
  *    watermark passes their label time (event-time timeout) — the
  *    streaming-correct answer to the reference's second temporal join
  *    (App.java:228-233) with no temporal leakage.
  *
  * State per key is bounded: three scalars + purchases within the label
  * horizon (older ones collapse into a base count) + pending examples
  * (horizon = label delay). In-order delivery per key is assumed for
  * same-timestamp ties split across micro-batches (the reference assumes
  * strictly ascending time globally, App.java:121).
  */
object StreamingFlagship {

  case class StreamEvent(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class PendingExample(predUs: Long, labelUs: Long, errCents: Long)

  case class FlagshipState(
      lastWasError: Boolean,
      errCents: Long,
      purchaseBase: Long,
      purchaseTs: List[Long],
      pending: List[PendingExample])

  case class TrainingExample(
      _entity: Long,
      _prediction_time: java.sql.Timestamp,
      _label_time: java.sql.Timestamp,
      err_cents: Option[Long],
      purchases: Option[Long])

  val LabelDelayUs: Long = 3600L * 1000 * 1000

  /** Timestamps round-trip through epoch MICROS (TimestampType precision) —
    * java.sql.Timestamp.getTime alone would truncate to millis. */
  def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def purchasesAsOf(s: FlagshipState, tUs: Long): Long =
    s.purchaseBase + s.purchaseTs.count(_ <= tUs)

  private def emitMatured(
      s: FlagshipState, key: Long, watermarkUs: Long): (FlagshipState, List[TrainingExample]) = {
    val (ready, waiting) = s.pending.partition(_.labelUs <= watermarkUs)
    val out = ready.sortBy(p => (p.predUs, p.labelUs)).map { p =>
      val n = purchasesAsOf(s, p.labelUs)
      TrainingExample(
        key,
        fromMicros(p.predUs),
        fromMicros(p.labelUs),
        Some(p.errCents),
        if (n == 0L) None else Some(n))
    }
    // collapse purchases no longer needed by any remaining pending example
    // (all remaining/future label times exceed the watermark)
    val (old, recent) = s.purchaseTs.partition(_ <= watermarkUs)
    (s.copy(
      purchaseBase = s.purchaseBase + old.size,
      purchaseTs = recent,
      pending = waiting), out)
  }

  private def fold(
      key: Long,
      events: Iterator[StreamEvent],
      state: GroupState[FlagshipState]): Iterator[TrainingExample] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    var s = state.getOption.getOrElse(FlagshipState(false, 0L, 0L, Nil, Nil))

    if (!state.hasTimedOut) {
      val batch = events.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
      // phase 1: error-cents deltas of this batch (for same-ts tie handling)
      val deltas = batch.collect {
        case e if e.event_type == "error" =>
          (toMicros(e.ts), math.round(e.value * 100))
      }
      val baseCents = s.errCents
      var newPending = List.empty[PendingExample]
      var lastWasError = s.lastWasError
      for (e <- batch) {
        val isError = e.event_type == "error"
        if (isError && lastWasError) {
          val predUs = toMicros(e.ts)
          // inclusive as-of: all error cents with ts <= predUs (incl. ties)
          val cents = baseCents + deltas.filter(_._1 <= predUs).map(_._2).sum
          newPending ::= PendingExample(predUs, predUs + LabelDelayUs, cents)
        }
        lastWasError = isError
        if (e.event_type == "purchase")
          s = s.copy(purchaseTs = toMicros(e.ts) :: s.purchaseTs)
      }
      s = s.copy(
        lastWasError = lastWasError,
        errCents = baseCents + deltas.map(_._2).sum,
        pending = s.pending ++ newPending.reverse)
    }

    val (next, out) = emitMatured(s, key, wmUs)
    if (next.pending.nonEmpty) {
      state.update(next)
      // An event-time timeout fires once the watermark is strictly past it,
      // while emitMatured accepts label <= watermark. So set it one ms
      // before the first ms watermark that covers the label: the example
      // then emits at the same watermark whether or not its key has input
      // in that batch. Never earlier than the current watermark, because
      // every pending label is > watermark.
      state.setTimeoutTimestamp(
        Math.floorDiv(next.pending.map(_.labelUs).min + 999L, 1000L) - 1L)
    } else if (next.lastWasError || next.purchaseBase > 0 || next.purchaseTs.nonEmpty ||
      next.errCents > 0) {
      state.update(next)
    } else {
      state.remove()
    }
    out.iterator
  }

  /** events must be a STREAMING DataFrame with the events-table schema.
    * Returns an append-mode stream of training examples. */
  def apply(events: DataFrame, watermarkDelay: String = "0 seconds"): Dataset[TrainingExample] = {
    val spark: SparkSession = events.sparkSession
    import spark.implicits._
    implicit val stateEnc: Encoder[FlagshipState] = Encoders.product[FlagshipState]
    implicit val outEnc: Encoder[TrainingExample] = Encoders.product[TrainingExample]
    events
      .select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .withWatermark("ts", watermarkDelay)
      .as[StreamEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fold)
  }
}
