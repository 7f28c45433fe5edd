package graft.sources

import graft.model.GtidSet
import graft.streaming.FeedRow

/** The transport failure a binlog client surfaces: connection drop,
  * auth error, server gone — anything the reference's syncer returns
  * an `err` for.
  */
class TransportException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** Deterministic stream-CONTENT failure — bad magic, a truncated or
  * malformed event, a CRC32 mismatch, an unaddressable anonymous-GTID
  * stream. Unlike a dropped connection this cannot heal on retry: the
  * same bytes decode to the same error, so [[ReconnectingTransport]]
  * fails fast instead of walking the full backoff ladder (which would
  * burn ~2 minutes of driver-thread sleeps per fetch before surfacing
  * the error).
  */
final class CorruptStreamException(msg: String, cause: Throwable = null)
    extends TransportException(msg, cause)

/** The seam between [[GtidReplayStream]] and the wire. `fetch()`
  * returns at least every transaction not returned before, each
  * transaction whole within one call; a fetch that throws advances
  * nothing. Returning a transaction again is allowed (the stream drops
  * GTIDs it has already seen), so a transport keeps no replay buffer:
  * the stream owns the one uncommitted window. A production build
  * implements this trait with the binlog protocol client and nothing
  * above the seam changes.
  */
trait BinlogTransport {
  def fetch(): Vector[FeedRow]

  /** Release hook, driven by the stream's `commit(end)` and, once per
    * stream, by the offset it starts from (a restart's checkpoint):
    * every `(uuid, pos)` in `committed` is durably admitted into a
    * finished micro-batch, so a transport need never serve those
    * transactions again. Default no-op.
    */
  def commit(uuid: String, committed: GtidSet): Unit = ()
}

/** The harness transport: the whole driver-side replay buffer, every fetch. */
final class BufferTransport(bufferId: String) extends BinlogTransport {
  override def fetch(): Vector[FeedRow] = GtidReplayBuffers.get(bufferId)
}

/** The reference's reconnect/backoff policy
  * (`internal/cannal/incremental.go:100-114` and the outer loop
  * `:116-177`), decorating any transport:
  *
  *   - on failure: sleep the current backoff, then double it, capped
  *     at 30 s (`backoff = min(backoff*2, 30*time.Second)`);
  *   - give up after 10 consecutive failures (`fallbackTimes > 10`);
  *   - on success: reset the backoff to 1 s (the reference resets
  *     after a successful `StartSyncGTID`).
  *
  * `sleep` is injectable so the policy is testable without wall-clock
  * time; the default is a real sleep. Thread-safety follows the
  * caller: Spark drives a MicroBatchStream from one driver thread,
  * same as the reference's single `init()` goroutine.
  */
final class ReconnectingTransport(
    inner: BinlogTransport,
    initialBackoffMs: Long = 1000L,
    maxBackoffMs: Long = 30000L,
    maxConsecutiveFailures: Int = 10,
    sleep: Long => Unit = Thread.sleep
) extends BinlogTransport {

  private var backoffMs = initialBackoffMs

  override def fetch(): Vector[FeedRow] = {
    var failures = 0
    while (true) {
      try {
        val rows = inner.fetch()
        backoffMs = initialBackoffMs // successful (re)connect resets
        return rows
      } catch {
        case e: CorruptStreamException => throw e // retry cannot fix bytes
        case e: TransportException =>
          failures += 1
          if (failures > maxConsecutiveFailures)
            throw new TransportException(
              s"transport failed $failures times, giving up", e)
          sleep(backoffMs)
          backoffMs = math.min(backoffMs * 2, maxBackoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def commit(uuid: String, committed: GtidSet): Unit = inner.commit(uuid, committed)
}
