package graft.streaming

import scala.collection.mutable

/** Producer-side client pipeline (D9/D10/D11) against any sink that
  * answers a batch with a [[RowBuffer.WriteResult]] (an ingest queue,
  * a socket or gRPC client) — observable semantics
  * match the reference client:
  *
  *  - per-type buffering with a shared per-type capacity; a write is
  *    rejected `Oversized` if the incoming batch alone, or combined
  *    with that type's existing buffer, exceeds capacity
  *    (client/batcher.go:89-113);
  *  - flush swaps the whole buffer map under the lock, then writes one
  *    framed batch per type (client/batcher.go:63-87);
  *  - sync write with retry: `Full` results retry up to `retryTimes`
  *    (-1 = until success) — `TooBig` is non-retryable and drops the
  *    batch (client/client.go:158-209);
  *  - a session type-name dictionary assigns a stable uint id per
  *    type on first use (D11, reference ingest_service.go:196-217) —
  *    transport-level concern, surfaced so a wire source can use it.
  */
object Batcher {
  sealed trait WriteError
  case object Oversized extends WriteError
  case object DroppedTooBig extends WriteError
  case object RetriesExhausted extends WriteError
}

final class Batcher(
    bufferSize: Int,
    sink: (String, Seq[Array[Byte]]) => RowBuffer.WriteResult,
    retryTimes: Int = 0,
    retrySleepMs: Long = 10) {
  import Batcher._

  private val batches = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Array[Byte]]]
  private val typeIds = mutable.LinkedHashMap.empty[String, Int]
  @volatile private var backoffUntil: Long = 0L

  /** D8: honor a server-issued backoff — deliveries are suspended
    * until the deadline (reference client/client.go:128-135,158-163;
    * the v1 server never sends one, but the client-side contract is
    * the operative half).
    */
  def backoff(untilEpochMs: Long): Unit = { backoffUntil = untilEpochMs }
  def inBackoff: Boolean = System.currentTimeMillis() < backoffUntil

  /** D11: session-stable type id, assigned on first registration. */
  def typeId(messageType: String): Int = synchronized {
    typeIds.getOrElseUpdate(messageType, typeIds.size + 1)
  }

  def buffered(messageType: String): Int =
    synchronized(batches.get(messageType).map(_.size).getOrElse(0))

  def writeBatch(messageType: String,
      messages: Seq[Array[Byte]]): Either[WriteError, Unit] = synchronized {
    typeId(messageType)
    if (messages.size > bufferSize) return Left(Oversized)
    val buf = batches.get(messageType)
    if (buf.exists(_.size + messages.size > bufferSize)) return Left(Oversized)
    batches.getOrElseUpdate(messageType, mutable.ArrayBuffer.empty)
      .appendAll(messages)
    Right(())
  }

  /** Flush every type's buffer through the sink with the retry policy.
    * Returns per-type outcomes (Right = delivered).
    */
  def flush(): Map[String, Either[WriteError, Unit]] = {
    // swap under the lock, deliver outside it (reference lock-scope
    // minimization, client/batcher.go:63-69)
    val toSend = synchronized {
      val s = batches.map { case (k, v) => k -> v.toSeq }.toMap
      batches.clear()
      s
    }
    toSend.map { case (t, msgs) => t -> deliver(t, msgs) }
  }

  private def deliver(t: String, msgs: Seq[Array[Byte]]): Either[WriteError, Unit] = {
    var attemptsLeft = retryTimes
    while (true) {
      // backoff wait precedes every send attempt — including Full
      // retries, so a backoff set mid-delivery is honored (the
      // reference re-checks before each send, client/client.go:158-163)
      while (inBackoff) Thread.sleep(
        math.min(retrySleepMs.max(1), backoffUntil - System.currentTimeMillis()).max(1))
      sink(t, msgs) match {
        case RowBuffer.Ok => return Right(())
        case RowBuffer.TooBig => return Left(DroppedTooBig) // non-retryable
        // Full and TooManyInFlight are both transient backpressure —
        // the reference client retries TOO_MANY_IN_FLIGHT exactly like
        // FULL (client/client.go:158-170); before this arm a
        // permit-limited sink crashed the delivery loop with a
        // MatchError instead of backing off
        case RowBuffer.Full | RowBuffer.TooManyInFlight =>
          if (attemptsLeft == 0) return Left(RetriesExhausted)
          if (attemptsLeft > 0) attemptsLeft -= 1
          // -1: retry forever; sleep between attempts so a full sink
          // can drain instead of being busy-spun against (the
          // reference client sleeps too, client/client.go:158-170)
          if (retrySleepMs > 0) Thread.sleep(retrySleepMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
