package graft.net

import graft.net.ControlProto._
import graft.proto.Wire
import graft.streaming.RowBuffer

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The session surface both transports' clients share. */
trait IngestSession {
  def registerType(msgType: String): Int
  def writeBatch(msgType: String, bodies: Seq[Array[Byte]], retryTimes: Int = 3): Int
  def close(): Unit
}

/** Transport-agnostic client half of the streaming ingest session
  * (reference `client/client.go:49-210`): per-batch ack bookkeeping,
  * the message-type → session-id dictionary, the monotonic backoff
  * deadline, and the synchronous `writeBatch` retry loop (`FULL`
  * retried, `TOO_BIG` fast-failed, backoff honored before EVERY
  * attempt, `client.go:158-196`).
  *
  * A transport supplies `sendFn` (serialize one [[ClientMessage]] to
  * the wire) and pumps every received [[ServerMessage]] into
  * [[onServerMessage]]; [[onDisconnect]] releases all waiters so a
  * dropped connection surfaces as an error, not a hang. Both
  * [[IngestClient]] (varint frames on a socket) and
  * [[GrpcIngestClient]] (gRPC over netty HTTP/2) are thin shells over
  * this one core, so client semantics cannot drift between transports.
  */
private[net] final class ClientCore(retrySleepMs: Long, ackTimeoutMs: Long,
    sendFn: ClientMessage => Unit) {

  private val nextId = new AtomicInteger(0)
  private val backoffUntil = new AtomicLong(0L)
  private val pendingAcks = new ConcurrentHashMap[Int, Ack]()
  private val typeIds = new ConcurrentHashMap[String, Int]()
  private val pendingIdentify = new ConcurrentHashMap[String, CountDownLatch]()

  private final class Ack {
    val latch = new CountDownLatch(1)
    @volatile var result: Int = -1
  }

  def onServerMessage(m: ServerMessage): Unit = m match {
    case ServerWriteBatchResult(id, result) =>
      val ack = pendingAcks.remove(id)
      if (ack != null) { ack.result = result; ack.latch.countDown() }
    case ServerBackoff(until, _) =>
      // monotonic max, like the reference's atomic store guard
      var done = false
      while (!done) {
        val cur = backoffUntil.get()
        done = until <= cur || backoffUntil.compareAndSet(cur, until)
      }
    case ServerIdentifyType(t, id) =>
      typeIds.put(t, id)
      val l = pendingIdentify.remove(t)
      if (l != null) l.countDown()
  }

  def onDisconnect(): Unit = {
    pendingAcks.forEach((_, a) => a.latch.countDown())
    pendingIdentify.forEach((_, l) => l.countDown())
  }

  def inBackoff: Boolean = System.currentTimeMillis() < backoffUntil.get()
  def backoffDeadline: Long = backoffUntil.get()

  /** Register `msgType`, returning the session id the server assigned.
    * Subsequent [[writeBatch]] calls for the type use the id form.
    */
  def registerType(msgType: String): Int = {
    if (typeIds.containsKey(msgType)) return typeIds.get(msgType)
    val latch = pendingIdentify.computeIfAbsent(msgType, _ => new CountDownLatch(1))
    sendFn(ClientRegisterType(msgType, Array.emptyByteArray))
    if (!latch.await(ackTimeoutMs, TimeUnit.MILLISECONDS))
      throw new java.io.IOException(s"registerType($msgType) timed out")
    if (!typeIds.containsKey(msgType))
      throw new java.io.IOException(s"registerType($msgType): connection lost")
    typeIds.get(msgType)
  }

  /** Synchronous batch write: returns the server's `BatchResult` after
    * retrying `FULL` up to `retryTimes` times (−1 = forever). Backoff
    * deadlines are honored before EVERY attempt.
    */
  def writeBatch(msgType: String, bodies: Seq[Array[Byte]],
      retryTimes: Int = 3): Int = {
    val data = Wire.joinFrames(bodies)
    var attemptsLeft = retryTimes
    while (true) {
      var until = backoffUntil.get()
      while (System.currentTimeMillis() < until) {
        Thread.sleep(math.max(1, math.min(retrySleepMs,
          until - System.currentTimeMillis())))
        until = backoffUntil.get()
      }
      val id = nextId.incrementAndGet()
      val ack = new Ack
      pendingAcks.put(id, ack)
      val msg =
        if (typeIds.containsKey(msgType))
          ClientWriteBatch(id, None, Some(typeIds.get(msgType)), bodies.size, data)
        else ClientWriteBatch(id, Some(msgType), None, bodies.size, data)
      sendFn(msg)
      if (!ack.latch.await(ackTimeoutMs, TimeUnit.MILLISECONDS)) {
        pendingAcks.remove(id)
        throw new java.io.IOException(s"writeBatch ack timed out after ${ackTimeoutMs}ms")
      }
      ack.result match {
        case r if r == BatchResult.Ok || r == BatchResult.TooBig => return r
        case -1 => throw new java.io.IOException("connection lost awaiting ack")
        case r => // FULL / TOO_MANY_IN_FLIGHT / transient: retry budget
          if (attemptsLeft == 0) return r
          if (attemptsLeft > 0) attemptsLeft -= 1
          if (retrySleepMs > 0) Thread.sleep(retrySleepMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Adapter for [[graft.streaming.Batcher]]'s sink signature: one
    * delivery attempt per call (the Batcher owns retry/backoff).
    */
  def sink: (String, Seq[Array[Byte]]) => RowBuffer.WriteResult =
    (t, msgs) => writeBatch(t, msgs, retryTimes = 0) match {
      case BatchResult.Ok => RowBuffer.Ok
      case BatchResult.TooBig => RowBuffer.TooBig
      case _ => RowBuffer.Full
    }
}
