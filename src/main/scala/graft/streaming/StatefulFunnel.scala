package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming funnel (signup → click → purchase) via
  * flatMapGroupsWithState — the STREAMING twin of q62's batch funnel: a
  * per-user finite-state machine that emits a record the moment a user
  * completes a stage, instead of recomputing the whole funnel per batch
  * window. State per user is three fixed longs (bounded memory per key —
  * O(active users) total), and each batch's events are folded in event-time
  * order so the result matches the batch semantics ("first click strictly
  * after the first signup") whenever arrival respects event time across
  * batches — the standard streaming-funnel contract; a cross-batch
  * regression (an earlier-timestamped signup arriving after a later one
  * was already absorbed) is governed by the watermark exactly as in every
  * stateful operator here.
  *
  * Event time is carried as epoch MICROS (the q62/q66 discipline — ms
  * would silently truncate the strict after-previous-stage comparisons
  * the funnel is defined by).
  *
  * Engine extension beyond the reference (SURVEY §2.10: the reference is
  * batch-only); StatefulFunnelSpec pins the FSM fold, cross-batch
  * progression, and equivalence with the q62 batch derivation on an
  * in-order feed.
  */
object StatefulFunnel {

  final case class Event(userId: Long, eventType: String, tus: Long)

  /** -1 = stage not reached. */
  final case class FunnelState(signupUs: Long, clickUs: Long, purchaseUs: Long)

  final case class StageCompletion(userId: Long, stage: String, tus: Long)

  /** Fold a user's new events (sorted by event time within the batch)
    * through the stage machine, emitting one record per newly completed
    * stage. Pure function of (state, events) — unit-testable without a
    * streaming harness. */
  def advance(userId: Long, events: Iterator[Event],
      state: GroupState[FunnelState]): Iterator[StageCompletion] = {
    val (s, out) = foldEvents(userId,
      state.getOption.getOrElse(FunnelState(-1L, -1L, -1L)), events.toSeq)
    state.update(s)
    out.iterator
  }

  /** The stage machine itself, independent of any state API — the
    * body [[advance]] wires into flatMapGroupsWithState. */
  private def foldEvents(userId: Long, s0: FunnelState,
      events: Seq[Event]): (FunnelState, Seq[StageCompletion]) = {
    var s = s0
    val out = Seq.newBuilder[StageCompletion]
    events.sortBy(e => (e.tus, e.eventType)).foreach { e =>
      e.eventType match {
        case "signup" if s.signupUs < 0 =>
          s = s.copy(signupUs = e.tus)
          out += StageCompletion(userId, "signup", e.tus)
        case "click" if s.signupUs >= 0 && s.clickUs < 0 && e.tus > s.signupUs =>
          s = s.copy(clickUs = e.tus)
          out += StageCompletion(userId, "click", e.tus)
        case "purchase" if s.clickUs >= 0 && s.purchaseUs < 0 && e.tus > s.clickUs =>
          s = s.copy(purchaseUs = e.tus)
          out += StageCompletion(userId, "purchase", e.tus)
        case _ => // stage already reached, out of order, or irrelevant type
      }
    }
    (s, out.result())
  }

  /** Wire the FSM over an event stream with NO eviction — for bounded key
    * cardinality (a backfill, a test fixture). At unbounded cardinality
    * use [[trackEvicting]]: per-user state is only three longs, but three
    * longs × forever × every user ever seen is still growth without
    * bound. */
  def track(spark: SparkSession, events: Dataset[Event]): Dataset[StageCompletion] = {
    import spark.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(advance)
  }

  /** The last completed stage's event time, or -1 when none. */
  private def lastStageUs(s: FunnelState): Long =
    math.max(s.signupUs, math.max(s.clickUs, s.purchaseUs))

  /** [[advance]] plus state eviction: on EventTimeTimeout, drop the user's
    * state — emitting one terminal `abandoned` record (timestamped at the
    * last completed stage) iff the user ENTERED the funnel (signed up) but
    * never finished it, so the funnel report can count non-converters.
    * Users who never signed up evict silently (they never entered), and
    * completed funnels evict silently (nothing was abandoned). On data,
    * the fold schedules/refreshes the timeout `abandonAfterUs` past the
    * user's last completed stage — each stage completion pushes the
    * deadline out, the definition of "abandoned N hours into the funnel".
    * The timeout timestamp is clamped above the current watermark (Spark
    * rejects a deadline the watermark has already passed — a user whose
    * deadline expired mid-batch evicts at the next watermark tick). */
  def advanceEvicting(abandonAfterUs: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[FunnelState]): Iterator[StageCompletion] = {
    if (state.hasTimedOut) {
      val s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
      state.remove()
      if (s.signupUs >= 0 && s.purchaseUs < 0)
        Iterator.single(StageCompletion(userId, "abandoned", lastStageUs(s)))
      else Iterator.empty
    } else {
      val out = advance(userId, events, state)
      val baseMs = math.max(lastStageUs(state.get) / 1000L, 0L)
      state.setTimeoutTimestamp(
        math.max(baseMs + abandonAfterUs / 1000L,
          state.getCurrentWatermarkMs() + 1L))
      out
    }
  }

  /** Production wiring of the FSM: watermarked event time +
    * EventTimeTimeout so total state is O(users active within the
    * abandonment horizon), not O(users ever seen) — the unbounded-key
    * requirement of any 100 TB-scale funnel. Emits the same
    * StageCompletion records as [[track]] for completed stages (eviction
    * cannot affect a completed funnel — StatefulFunnelSpec pins it) plus
    * one `abandoned` record per evicted non-converter. Late events below
    * the watermark are subject to the standard stateful-operator
    * contract: after a user's eviction, a replayed prehistoric event
    * would re-enter them fresh — bound by `watermarkDelay` exactly as in
    * every watermark-bounded operator in this engine. */
  def trackEvicting(spark: SparkSession, events: Dataset[Event],
      watermarkDelay: String = "1 hour",
      abandonAfterUs: Long = 4L * 3600 * 1000000L): Dataset[StageCompletion] = {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import spark.implicits._
    events
      .withColumn("eventTime", timestamp_micros(col("tus")))
      .withWatermark("eventTime", watermarkDelay)
      .as[Event]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        advanceEvicting(abandonAfterUs))
  }
}
