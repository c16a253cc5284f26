package graft.streaming

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.pipeline.SimHashDedup

/** INCREMENTAL near-duplicate detection over a document stream — the
  * streaming counterpart of [[graft.pipeline.SimHashDedup]], built on
  * `flatMapGroupsWithState` (custom keyed state, the Structured Streaming
  * primitive for operators Spark's built-ins can't express).
  *
  * Keyed by (chunk_idx, chunk) — the same 7-byte-chunk SimHash banding as
  * the batch path — each bucket's state holds the (doc_id, fp) of members
  * seen so far: 16 bytes per member, NOT the documents, so state size is
  * bounded and independent of text length. A new arrival emits a pair for
  * every stored member within maxHamming, then joins the state. Buckets are
  * capped at maxMembers (the streaming form of the census cap: a boilerplate
  * chunk's state stops growing and the overflow is counted in `dropped`),
  * so a hot bucket costs O(cap) per arrival, never O(n).
  *
  * Fingerprints and chunks come from the batch path's
  * [[graft.pipeline.SimHashDedup.fingerprints]] and
  * [[graft.pipeline.SimHashDedup.chunks]], so both paths exclude the same
  * null-text rows and bucket the same chunks (the stream≡batch
  * equivalence).
  *
  * A pair sharing several chunks is emitted once per shared chunk
  * (OR-amplification); consumers dedupe downstream — chaining a stateful
  * dropDuplicates onto flatMapGroupsWithState is restricted by Spark, and
  * at scale the dedupe belongs in the (idempotent) sink anyway.
  *
  * Retention on UNBOUNDED streams — two variants:
  *  - [[pairs]] with `stateTtl`: processing-time TTL (wall-clock inactivity);
  *  - [[pairsEventTime]]: watermark-driven event-time retention — state
  *    expires once the watermark passes last-arrival + retention, so memory
  *    is bounded by the DATA's time axis, independent of wall-clock replay
  *    speed (a backfill replaying a year of docs in an hour retains exactly
  *    the retention window of data-time, not the whole year).
  */
object NearDupStream {

  final case class ChunkKey(chunk_idx: Int, chunk: Long)
  final case class DocChunk(chunk_idx: Int, chunk: Long, doc_id: Long, fp: Long)
  final case class DocChunkT(
      chunk_idx: Int, chunk: Long, doc_id: Long, fp: Long, event_time: java.sql.Timestamp)
  /** Per-bucket state. `maxTs` = max event time over ALL stored members (0
    * for paths without event time) — the event-time deadline must be armed
    * from it, not from one batch's arrivals: a late-but-within-lateness
    * straggler would otherwise MOVE THE DEADLINE EARLIER and expire fresher
    * members before their retention window ends (silent recall loss).
    * Adding the field is a state-schema change: event-time streams resuming
    * a pre-round-5 checkpoint must restart state (batch mode and the TTL
    * path are unaffected — both store maxTs = 0). */
  final case class BucketState(
      ids: List[Long], fps: List[Long], dropped: Long, maxTs: Long = 0L)
  final case class DupPair(doc_a: Long, doc_b: Long, hamming: Int)

  /** The per-bucket state transition, extracted so the timeout branch is
    * directly unit-testable (via `TestGroupState`) — a livelocking
    * end-to-end test is not a substitute for testing `hasTimedOut`.
    *
    * @param rows     (doc_id, fp, eventTimeMs) arrivals for this bucket
    *                 (eventTimeMs = 0 for paths without event time)
    * @param onUpdate invoked after `state.update` with the MAX event time
    *                 over all STORED members (this batch's arrivals and
    *                 every prior one — so a re-armed deadline can never
    *                 regress) — the timeout-arming hook (sets a
    *                 processing-time duration, an event-time timestamp
    *                 derived from the arrivals, or nothing)
    */
  private[graft] def updateBucket(
      maxHamming: Int,
      maxMembers: Int,
      rows: Iterator[(Long, Long, Long)],
      state: GroupState[BucketState],
      onUpdate: (GroupState[BucketState], Long) => Unit): Iterator[DupPair] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      var st = state.getOption.getOrElse(BucketState(Nil, Nil, 0L))
      var maxTs = st.maxTs // deadline can only move LATER across batches
      val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
      rows.foreach { case (docId, fp, ts) =>
        var ids = st.ids
        var fps = st.fps
        while (ids.nonEmpty) {
          val h = java.lang.Long.bitCount(fp ^ fps.head)
          if (h <= maxHamming && ids.head != docId)
            out += DupPair(math.min(ids.head, docId), math.max(ids.head, docId), h)
          ids = ids.tail; fps = fps.tail
        }
        // at-least-once sources redeliver: a doc_id already in the bucket is
        // NOT appended again (a duplicate member would burn a cap slot per
        // redelivery — a hot doc could evict every genuine later member —
        // and double-emit its pairs forever). Its pairs ARE re-evaluated
        // above, and its STORED fp is refreshed to this arrival's: a
        // re-crawl whose text changed carries a new fp, and leaving the
        // first-seen fp in state would make every FUTURE arrival
        // hamming-compare against a fingerprint of text that no longer
        // exists (ADVICE r5 — the newest-write-wins contract).
        st = {
          val at = st.ids.indexOf(docId)
          if (at >= 0) {
            // stored member (redelivery/re-crawl) — its new arrival time
            // counts toward the retention deadline
            if (ts > maxTs) maxTs = ts
            if (st.fps(at) == fp) st else st.copy(fps = st.fps.updated(at, fp))
          } else if (st.ids.length < maxMembers) {
            if (ts > maxTs) maxTs = ts
            BucketState(docId :: st.ids, fp :: st.fps, st.dropped)
          } else
            // capped: disclose, don't grow — and do NOT advance maxTs: the
            // deadline is 'max event time over all STORED members', and a
            // cap-dropped arrival with a rogue far-future timestamp would
            // otherwise arm a retention deadline no stored member backs,
            // keeping the bucket's state alive indefinitely (round-6
            // review; watermarks bound lateness, not future timestamps)
            st.copy(dropped = st.dropped + 1)
        }
      }
      state.update(st.copy(maxTs = maxTs))
      onUpdate(state, maxTs)
      out.iterator
    }
  }

  /** Streaming near-dup pairs at hamming ≤ maxHamming. Works on a streaming
    * OR batch `docs(doc_id, text)` DataFrame (flatMapGroupsWithState runs in
    * both; batch mode is the test-oracle path — timeouts never fire there,
    * so the TTL variant is batch-equivalent to no TTL).
    *
    * @param stateTtl when set (e.g. "1 hour"), bucket state expires after
    *                 that much processing-time inactivity — a wall-clock
    *                 retention bound. For a DATA-time bound (backfills,
    *                 late arrivals) use [[pairsEventTime]]. None = keep
    *                 state forever (bounded replays, tests). */
  def pairs(
      docs: DataFrame,
      maxHamming: Int,
      maxMembers: Int,
      stateTtl: Option[String] = None): Dataset[DupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    SimHashDedup.chunks(SimHashDedup.fingerprints(docs)).as[DocChunk]
      .groupByKey(r => ChunkKey(r.chunk_idx, r.chunk))
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf) {
        (_: ChunkKey, rows: Iterator[DocChunk], state: GroupState[BucketState]) =>
          updateBucket(maxHamming, maxMembers, rows.map(r => (r.doc_id, r.fp, 0L)), state,
            (st, _) => stateTtl.foreach(st.setTimeoutDuration))
      }
  }

  /** Event-time retention variant (STREAMING ONLY — it reads the watermark):
    * `docs(doc_id, text, event_time)` → pairs, where a bucket expires once
    * the watermark passes its NEWEST member's EVENT TIME + retention (the
    * max over members, not the last arrival — out-of-order stragglers must
    * not shorten fresher members' remaining retention).
    * Docs arriving after a bucket expired can no longer pair with its
    * pre-expiry members — the disclosed retention/recall tradeoff, now
    * bounded in DATA time: an unbounded stream holds O(docs-per-retention-
    * window · chunks) state regardless of how long it runs.
    *
    * @param lateness  watermark delay — how far out-of-order event_time may
    *                  arrive before being dropped
    * @param retention how long (in event time) a document stays pairable
    */
  def pairsEventTime(
      docs: DataFrame,
      maxHamming: Int,
      maxMembers: Int,
      lateness: FiniteDuration,
      retention: FiniteDuration): Dataset[DupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val retentionMs = retention.toMillis
    // null event_time rows are EXCLUDED (like null text): watermarking does
    // NOT drop them, and one would NPE the executor at `event_time.getTime`
    // in the state update. A doc with no timestamp has no place on the
    // retention axis — callers who want it paired must assign one upstream.
    SimHashDedup.chunks(SimHashDedup.fingerprints(
      docs.where(col("event_time").isNotNull)
        .withWatermark("event_time", s"${lateness.toMillis} milliseconds"), "event_time"))
      .as[DocChunkT]
      .groupByKey(r => ChunkKey(r.chunk_idx, r.chunk))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (_: ChunkKey, rows: Iterator[DocChunkT], state: GroupState[BucketState]) =>
          updateBucket(maxHamming, maxMembers,
            rows.map(r => (r.doc_id, r.fp, r.event_time.getTime)), state,
            // deadline = NEWEST stored member's EVENT time + retention —
            // retention is measured in DATA time, exactly as documented
            // (arming from the watermark instead would expire a bucket
            // retention-early whenever the watermark lags the data; arming
            // from only THIS batch's max would let a late straggler move the
            // deadline EARLIER — updateBucket carries the lifetime max in
            // state for exactly that reason). setTimeoutTimestamp must
            // exceed the current watermark, so a bucket whose deadline
            // already passed is clamped one tick past it (expires next
            // batch).
            (st, maxTs) => st.setTimeoutTimestamp(
              math.max(maxTs + retentionMs, st.getCurrentWatermarkMs() + 1)))
      }
  }
}
