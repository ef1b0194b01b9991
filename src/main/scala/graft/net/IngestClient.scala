package graft.net

import graft.net.ControlProto._
import graft.streaming.RowBuffer

import java.net.Socket
import scala.util.control.NonFatal

/** Client half of the ingest protocol (reference
  * `client/client.go:49-210`) over the plain-socket transport: one
  * streaming session per connection and a reader thread pumping
  * per-batch acks and server backoff into the shared [[ClientCore]],
  * which owns all session semantics (ack latches, type-id dictionary,
  * backoff-honoring retry loop). See [[GrpcIngestClient]] for the
  * same core over real gRPC/HTTP2.
  *
  * [[sink]] adapts a session to the `(type, bodies) => WriteResult`
  * function [[graft.streaming.Batcher]] delivers through, so the
  * whole client stack — batching, type dictionary, retry/backoff —
  * runs unchanged over the network instead of in-process.
  */
final class IngestClient(host: String, port: Int,
    retrySleepMs: Long = 20, ackTimeoutMs: Long = 10000) extends IngestSession {

  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
  private val in = new java.io.BufferedInputStream(sock.getInputStream)
  out.write('S'); out.flush()

  @volatile private var closed = false
  private val sendLock = new Object
  private val core = new ClientCore(retrySleepMs, ackTimeoutMs,
    m => sendLock.synchronized { writeFrame(out, encode(m)) })

  private val reader = new Thread(() => {
    try {
      var open = true
      while (open && !closed) readFrame(in) match {
        case None => open = false
        case Some(frame) => core.onServerMessage(decodeServerMessage(frame))
      }
    } catch { case NonFatal(_) => () }
    finally core.onDisconnect()
  }, "graft-ingest-client-reader")
  reader.setDaemon(true)
  reader.start()

  def inBackoff: Boolean = core.inBackoff
  def backoffDeadline: Long = core.backoffDeadline

  /** Register `msgType`, returning the session id the server assigned.
    * Subsequent [[writeBatch]] calls for the type use the id form.
    */
  def registerType(msgType: String): Int = core.registerType(msgType)

  /** Synchronous batch write: returns the server's `BatchResult` after
    * retrying `FULL` up to `retryTimes` times (−1 = forever). Backoff
    * deadlines are honored before EVERY attempt.
    */
  def writeBatch(msgType: String, bodies: Seq[Array[Byte]],
      retryTimes: Int): Int = core.writeBatch(msgType, bodies, retryTimes)

  /** Adapter for [[graft.streaming.Batcher]]'s sink signature: one
    * delivery attempt per call (the Batcher owns retry/backoff).
    */
  def sink: (String, Seq[Array[Byte]]) => RowBuffer.WriteResult = core.sink

  def close(): Unit = {
    closed = true
    try sock.close() catch { case NonFatal(_) => }
    reader.join(2000)
  }
}

object IngestClient {
  /** One-shot unary `WriteBatch` (reference `ingest_service.go:109`):
    * returns the status `BatchResult` and, when OK, the response.
    */
  def unaryWriteBatch(host: String, port: Int,
      req: WriteBatchRequest): (Int, Option[WriteBatchResponse]) = {
    val sock = new Socket(host, port)
    try {
      sock.setTcpNoDelay(true)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      out.write('U')
      writeFrame(out, encode(req))
      val status = readFrame(in).map(decodeServerMessage) match {
        case Some(ServerWriteBatchResult(_, r)) => r
        case other => throw new java.io.IOException(s"bad unary status: $other")
      }
      if (status != BatchResult.Ok) (status, None)
      else {
        val resp = readFrame(in).map(decodeWriteBatchResponse).getOrElse(
          throw new java.io.IOException("missing WriteBatchResponse"))
        (status, Some(resp))
      }
    } finally sock.close()
  }
}
