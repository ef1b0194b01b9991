package graft.net

import graft.net.ControlProto._
import graft.proto.PMessage
import graft.sources.QueueSource
import java.net.{ServerSocket, Socket, SocketException}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.util.control.NonFatal

/** The network half of S1/S2: a TCP server speaking the ingest
  * protocol of reference `ingest_service.go` — unary `WriteBatch`
  * (`:109-120`) and the bidirectional streaming session (`:185-234`)
  * with the per-session type-id dictionary, the 12-permit in-flight
  * admission semaphore, per-batch `BatchResult` acks, and server-push
  * backoff. Message schemas and result codes are `bristle.proto`
  * verbatim (see [[ControlProto]]); the transport is varint-framed
  * messages on a plain socket instead of gRPC/HTTP2 — the one
  * documented seam in the zero-egress build.
  *
  * Connection protocol: first byte selects the RPC, `'U'` (unary) or
  * `'S'` (streaming); all subsequent traffic is varint-length-framed
  * protobuf, both directions.
  *  - Unary: one `WriteBatchRequest` in; `ServerWriteBatchResult`
  *    (id 0) as the status out, then — only when OK — a
  *    `WriteBatchResponse` with the acknowledged payload count. The
  *    reference surfaces non-OK as a gRPC error
  *    (`ingest_service.go:113`); raw TCP has no side channel, so the
  *    status message carries the same `BatchResult`.
  *  - Streaming: `ClientMessage` frames in, `ServerMessage` frames
  *    out, interleaved. Writes admitted under `maxInFlight` permits
  *    and executed off the read loop (reference `:199-207`); register
  *    with a non-empty descriptor and update-default close the stream,
  *    mirroring `ErrUnsupported` (`:181,228`).
  *
  * Admitted bodies land in per-message-type [[QueueSource]] queues —
  * the same admission-controlled buffers the Structured Streaming
  * drain (`QueueIngest.transcoded` → the `LandingSinkProvider` sink) reads —
  * so the full path is socket → queue → micro-batch → transcode →
  * parquet. Server-side synchronous checks mirror the reference's:
  * unknown type → `UNK_MESSAGE`, per-body decode failure →
  * `DECODE_ERR`, buffer policy → `FULL`/`TOO_BIG`. There is no per-row
  * transcode rejection (P11) at ack time: the drain decodes strictly
  * (`ProtoRows.decode`) and transcodes in its micro-batch, after the
  * ack. Answering `TRANSCODE_ERR` at admission is ROADMAP #4.
  *
  * Backoff: the reference schema defines server-push backoff
  * (`bristle.proto:96`) and its client honors it
  * (`client/client.go:128-136`) but its server never emits it; here
  * the streaming session pushes `ServerBackoff` when a queue crosses
  * `backoffHighWater` of capacity, deadline `now + backoffMs`,
  * rate-limited to one push per deadline window per connection —
  * completing the protocol with the documented flow-control loop.
  */
final class IngestServer(
    targets: () => Map[String, IngestServer.Target],
    port: Int = 0,
    maxInFlight: Int = 12,
    backoffHighWater: Double = 0.8,
    backoffMs: Long = 250,
    metrics: Metrics = Metrics.default) {

  private val listener = new ServerSocket(port)
  private val running = new AtomicBoolean(false)
  private val conns = ConcurrentHashMap.newKeySet[Socket]()
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-ingest")
    t.setDaemon(true)
    t
  })

  metrics.help("graft_ingest_batches_total",
    "Write batches received, by rpc and result")
  metrics.help("graft_ingest_rows_total", "Rows admitted into queues")
  metrics.help("graft_ingest_backoff_sent_total", "Backoff pushes sent")
  metrics.help("graft_ingest_connections_open", "Open ingest connections")
  metrics.gauge("graft_ingest_connections_open")(conns.size.toDouble)

  /** The transport-agnostic admission core; shared with the gRPC
    * transport so both speak identical semantics.
    */
  val engine = new IngestEngine(targets, maxInFlight, backoffHighWater,
    backoffMs, metrics, pool)

  def boundPort: Int = listener.getLocalPort

  def start(): this.type = {
    if (!running.compareAndSet(false, true)) return this
    pool.submit[Unit](() => acceptLoop())
    this
  }

  private def acceptLoop(): Unit =
    while (running.get()) {
      try {
        val sock = listener.accept()
        sock.setTcpNoDelay(true)
        conns.add(sock)
        pool.submit[Unit](() => serve(sock))
      } catch {
        case _: SocketException if !running.get() => // closed in stop()
        case NonFatal(e) =>
          if (running.get())
            System.err.println(s"[ingest-server] accept failed: ${e.getMessage}")
      }
    }

  private def serve(sock: Socket): Unit = {
    try {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      in.read() match {
        case 'U' => serveUnary(in, out)
        case 'S' => serveStreaming(in, out)
        case -1 => // connected and left
        case other =>
          System.err.println(s"[ingest-server] unknown mode byte $other")
      }
    } catch {
      case _: java.io.EOFException | _: SocketException => // client went away
      case NonFatal(e) =>
        System.err.println(s"[ingest-server] connection error: ${e.getMessage}")
    } finally {
      conns.remove(sock)
      try sock.close() catch { case NonFatal(_) => }
    }
  }

  private def serveUnary(in: java.io.InputStream,
      out: java.io.OutputStream): Unit =
    readFrame(in).foreach { frame =>
      val req = decodeWriteBatchRequest(frame)
      val status = engine.unaryWriteBatch(req, rpc = "unary")
      writeFrame(out, encode(ServerWriteBatchResult(0, status)))
      if (status == BatchResult.Ok)
        writeFrame(out,
          encode(WriteBatchResponse(req.payloads.size.toLong, 0L)))
    }

  private def serveStreaming(in: java.io.InputStream,
      rawOut: java.io.OutputStream): Unit = {
    val sendLock = new Object
    val session = new engine.Session(m => sendLock.synchronized {
      writeFrame(rawOut, encode(m))
    })
    var open = true
    while (open) readFrame(in) match {
      case None => open = false
      case Some(frame) => open = session.handle(decodeClientMessage(frame))
    }
    session.drain()
  }

  def stop(): Unit = {
    if (!running.compareAndSet(true, false)) return
    try listener.close() catch { case NonFatal(_) => }
    conns.forEach(s => try s.close() catch { case NonFatal(_) => })
    pool.shutdown()
    pool.awaitTermination(5, TimeUnit.SECONDS)
    ()
  }
}

object IngestServer {
  /** One registered ingest target: the message schema used for the
    * synchronous decode check and the admission-controlled queue the
    * streaming drain reads.
    *
    * `scratch` is the target's decode instance pool (SURVEY §2 D12,
    * reference `clickhouse_table.go:245` — one strictly-sized pool per
    * binding): a checkout covers ONE payload and is reused across all
    * its bodies, so at most [[InstancePool.DefaultSize]] payloads of a
    * type decode concurrently, whatever the session/transport count.
    */
  final case class Target(message: PMessage, queue: QueueSource.IngestQueue,
      scratch: InstancePool[Array[Any]]) {
    require(scratch != null, "Target requires a scratch pool")
  }

  object Target {
    /** Fresh pool for a new binding. Config reload passes the OLD
      * target's pool through the 3-arg form when the message schema is
      * unchanged — a reload must not mint a second pool while up to
      * DefaultSize payloads still hold slots of the first, or the
      * decode-memory bound (D12) transiently doubles.
      */
    def apply(message: PMessage, queue: QueueSource.IngestQueue): Target =
      Target(message, queue, new InstancePool(InstancePool.DefaultSize,
        () => new Array[Any](message.fields.length)))
  }
}
