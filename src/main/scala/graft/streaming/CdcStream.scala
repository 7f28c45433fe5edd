package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** One CDC feed row, the streaming shape of
  * [[graft.cdc.ChangeFeed]]'s column contract.
  */
final case class FeedRow(
    pos: Long,
    ts: java.sql.Timestamp,
    pk: Long,
    op: String, // insert | update | delete
    value: Double
)

/** Current materialized state of one key. A row with `op = delete` is
  * a tombstone: the key is gone downstream, but the state (and its
  * `pos`) is retained so late/replayed events older than the delete
  * cannot resurrect the key.
  */
final case class KeyState(pk: Long, pos: Long, op: String, value: Double)

/** One event inside a transaction envelope (SURVEY op #21: the
  * reference's designed-but-disabled tx buffering,
  * `internal/cannal/handler.go:55-82`).
  */
final case class TxEvent(
    tx: Long,
    seq: Int,
    kind: String, // row | commit
    payload: String
)

/** Transaction-buffer state: pending rows plus a `committed` marker.
  * The marker outlives the flush so rows arriving in a later batch
  * for an already-flushed transaction are dropped instead of
  * re-opening the transaction (which would deliver a second partial
  * batch downstream).
  */
final case class TxState(rows: Vector[TxEvent], committed: Boolean)

/** A flushed transaction: all row payloads in sequence order. */
final case class TxBatch(tx: Long, n_rows: Int, payloads: Seq[String])

/** Structured Streaming jobs over the CDC feed — the streaming half
  * of the reference's capture pipeline, re-expressed on Spark's
  * unified API (the same DataFrame transforms run batch or stream):
  *
  *   - binlog tail (`incremental.go:180-232`) ⇒ `readStream` source
  *     feeding [[graft.cdc.ChangeFeed.fromEvents]]-shaped rows
  *     ([[graft.cdc.CdcPipeline]] wires it end-to-end);
  *   - positions/offsets (`gtid.go`) ⇒ checkpointed offsets; per-batch
  *     GTID tracking via [[graft.cdc.CdcPipeline.batchGtidSet]];
  *   - event filtering (`incremental_event.go:15-29`) ⇒
  *     `stream.filter(FilterRule.toColumn(...))`;
  *   - tx buffering (`handler.go:55-82`) ⇒ flatMapGroupsWithState
  *     keyed by transaction id, flush on commit marker, timeout for
  *     stragglers.
  *
  * Scale notes: all stateful ops key by pk/tx — state is partitioned
  * across executors by the state-store; watermarks bound state size;
  * nothing collects to the driver.
  */
object CdcStream {

  /** Streaming latest-wins materialization: one [[KeyState]] per key,
    * emitted on every *effective* change (Update mode). The streaming
    * equivalent of [[graft.cdc.ChangeFeed.latestState]], with the
    * GTID-watermark rule (`docs/全量抓取逻辑.md:44-52`) applied
    * per key: only advance, never regress.
    *
    *   - a late/replayed event whose pos is older than the current
    *     state emits nothing (re-emitting unchanged state would send
    *     duplicate updates downstream);
    *   - deletes keep a tombstone carrying the delete's pos, so an
    *     older event arriving after the delete cannot resurrect the
    *     key. Tombstone state is retained for the stream's lifetime —
    *     bounded by the key space, the same bound the reference's
    *     metadata table has; a TTL eviction would trade that for a
    *     resurrection window.
    */
  def latestState(feed: Dataset[FeedRow]): Dataset[KeyState] = {
    implicit val ksEnc = Encoders.product[KeyState]
    implicit val lEnc = Encoders.scalaLong
    feed
      .groupByKey(_.pk)
      .flatMapGroupsWithState[KeyState, KeyState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (pk, events, state: GroupState[KeyState]) =>
          val latest = events.maxBy(_.pos)
          val cur = state.getOption
          if (cur.forall(_.pos <= latest.pos)) {
            val next = KeyState(pk, latest.pos, latest.op, latest.value)
            state.update(next) // delete ⇒ tombstone: pos survives
            Iterator(next)
          } else Iterator.empty
      }
  }

  /** Watermarked tumbling-window counts per op — the streaming form
    * of the batch q31 tumbling query; events later than the
    * watermark drop.
    */
  def windowedCounts(feed: DataFrame, watermark: String, windowLen: String): DataFrame =
    feed
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("op"))
      .agg(count(lit(1)).as("n"), max(col("pos")).as("max_pos"))
      .select(col("window.start").as("w_start"), col("op"), col("n"), col("max_pos"))

  /** Session windows with a gap — the streaming form of the batch
    * q30 sessionization.
    */
  def sessionCounts(feed: DataFrame, watermark: String, gap: String): DataFrame =
    feed
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("pk"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("pk"), col("n_events")
      )

  /** Transaction grouping: buffer row events per transaction id,
    * flush the whole group when the commit marker arrives, or after a
    * processing-time timeout (stragglers flush as-is; the caller
    * distinguishes by the absence of a commit row).
    *
    * After a flush (commit or timeout) a `committed` marker stays in
    * state for one more timeout period: row events for that
    * transaction arriving in a later batch are dropped rather than
    * silently re-opening the transaction and double-delivering it.
    *
    * `stragglerTimeout = false` disables the processing-time timers
    * entirely (commit-only flushing, markers retained for the run):
    * the mode for bounded replays under `Trigger.AvailableNow`, which
    * otherwise never terminates — pending timers force no-data batch
    * after no-data batch, the same livelock that makes
    * `processAllAvailable` hang with timers registered.
    */
  def txGrouping(
      events: Dataset[TxEvent],
      timeout: String = "10 minutes",
      stragglerTimeout: Boolean = true
  ): Dataset[TxBatch] = {
    implicit val stEnc = Encoders.kryo[TxState]
    implicit val outEnc = Encoders.product[TxBatch]
    implicit val lEnc = Encoders.scalaLong
    def flush(tx: Long, rows: Vector[TxEvent]): Iterator[TxBatch] =
      if (rows.isEmpty) Iterator.empty
      else Iterator(TxBatch(tx, rows.length, rows.sortBy(_.seq).map(_.payload)))
    val timeoutConf =
      if (stragglerTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    // setTimeoutDuration throws under NoTimeout — arm timers only in
    // straggler mode
    def arm(state: GroupState[TxState]): Unit =
      if (stragglerTimeout) state.setTimeoutDuration(timeout)
    events
      .groupByKey(_.tx)
      .flatMapGroupsWithState[TxState, TxBatch](
        OutputMode.Append(), timeoutConf) {
        (tx, it, state: GroupState[TxState]) =>
          if (state.hasTimedOut) {
            val st = state.getOption.getOrElse(TxState(Vector.empty, committed = false))
            if (st.committed) {
              // marker TTL expired — safe to forget the transaction
              state.remove()
              Iterator.empty
            } else {
              // straggler: flush partial, keep the marker one period
              state.update(TxState(Vector.empty, committed = true))
              arm(state)
              flush(tx, st.rows)
            }
          } else {
            val st = state.getOption.getOrElse(TxState(Vector.empty, committed = false))
            val incoming = it.toVector
            if (st.committed) {
              // late rows for an already-flushed transaction: drop
              arm(state)
              Iterator.empty
            } else {
              val buffered = st.rows ++ incoming.filter(_.kind == "row")
              if (incoming.exists(_.kind == "commit")) {
                state.update(TxState(Vector.empty, committed = true))
                arm(state)
                flush(tx, buffered)
              } else {
                state.update(TxState(buffered, committed = false))
                arm(state)
                Iterator.empty
              }
            }
          }
      }
  }

}
