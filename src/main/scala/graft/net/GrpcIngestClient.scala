package graft.net

import graft.net.ControlProto._
import graft.streaming.RowBuffer

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel._
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2._
import io.netty.util.AsciiString

import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}
import scala.util.control.NonFatal

/** gRPC client half over netty HTTP/2 with prior-knowledge h2c — the
  * connection style grpc-go uses with insecure credentials, i.e. what
  * a stock bristle client (`client/client.go`) actually puts on the
  * wire. Session semantics (ack latches, type-id dictionary, backoff
  * retry loop) are the shared [[ClientCore]], so this client behaves
  * identically to the socket [[IngestClient]] — only the transport
  * differs: one long-lived HTTP/2 stream carrying the `Streaming`
  * bidi RPC, client messages as length-prefixed gRPC frames out,
  * server messages reassembled by a [[GrpcWire.Framer]] in.
  */
final class GrpcIngestClient(host: String, port: Int,
    retrySleepMs: Long = 20, ackTimeoutMs: Long = 10000,
    tlsTrust: Option[java.nio.file.Path] = None,
    gzip: Boolean = false) extends IngestSession {

  import GrpcIngestClient._

  private val group = GrpcIngestServer.ioGroup()
  private val conn = connect(group, host, port, tlsTrust)
  private val core = new ClientCore(retrySleepMs, ackTimeoutMs, sendMessage)

  private val stream: Http2StreamChannel = {
    val bootstrap = new Http2StreamChannelBootstrap(conn)
    bootstrap.handler(new ChannelInitializer[Channel] {
      override def initChannel(ch: Channel): Unit = {
        ch.pipeline().addLast(new ResponseHandler(core))
        ()
      }
    })
    val s = bootstrap.open().syncUninterruptibly().getNow
    s.writeAndFlush(new DefaultHttp2HeadersFrame(
      requestHeaders(host, "Streaming", gzipEncoding = gzip)))
      .syncUninterruptibly()
    s
  }

  private def sendMessage(m: ClientMessage): Unit = {
    if (!stream.isActive)
      throw new java.io.IOException("gRPC stream closed")
    val payload = encode(m)
    // header + payload as a zero-copy composite: the payload array is
    // handed to the HTTP/2 codec as-is instead of being copied into a
    // contiguous frame array first (GrpcWire.frame) — one fewer
    // full-payload copy per message on the hot path
    val buf =
      if (gzip) Unpooled.wrappedBuffer(GrpcWire.frameGzip(payload))
      else GrpcWire.composeFrame(payload)
    // voidPromise: nothing awaits the write (acks are the protocol's
    // own confirmation), so skip per-frame promise alloc+notify
    stream.writeAndFlush(new DefaultHttp2DataFrame(buf),
      stream.voidPromise())
    ()
  }

  def inBackoff: Boolean = core.inBackoff
  def backoffDeadline: Long = core.backoffDeadline
  def registerType(msgType: String): Int = core.registerType(msgType)
  def writeBatch(msgType: String, bodies: Seq[Array[Byte]],
      retryTimes: Int): Int = core.writeBatch(msgType, bodies, retryTimes)
  def sink: (String, Seq[Array[Byte]]) => RowBuffer.WriteResult = core.sink

  /** Half-close the request side and wait briefly for the server's
    * OK trailers, the graceful gRPC stream shutdown.
    */
  def close(): Unit = {
    try {
      stream.writeAndFlush(new DefaultHttp2DataFrame(true)).syncUninterruptibly()
      stream.closeFuture().await(2, TimeUnit.SECONDS)
    } catch { case NonFatal(_) => } finally {
      try conn.close().syncUninterruptibly() catch { case NonFatal(_) => }
      group.shutdownGracefully(0, 2, TimeUnit.SECONDS).syncUninterruptibly()
      ()
    }
  }
}

object GrpcIngestClient {

  private def requestHeaders(authority: String, method: String,
      gzipEncoding: Boolean = false): Http2Headers = {
    val h = new DefaultHttp2Headers()
      .method("POST")
      .scheme("http")
      .authority(authority)
      .path(GrpcIngestServer.ServicePrefix + method)
      .set(AsciiString.cached("content-type"), GrpcIngestServer.ContentType)
      .set(AsciiString.cached("te"), AsciiString.cached("trailers"))
    if (gzipEncoding)
      h.set(AsciiString.cached("grpc-encoding"), AsciiString.cached("gzip"))
    h
  }

  private def connect(group: EventLoopGroup, host: String,
      port: Int, tlsTrust: Option[java.nio.file.Path] = None): Channel = {
    // TLS mode: handshake with ALPN h2 before the frame codec — the
    // connection style a TLS-credentialed gRPC client uses; trust is
    // pinned to the given PEM (tests) or the JVM default when None…
    // which this client surface doesn't need yet, so trust is always
    // explicit here.
    val sslCtx = tlsTrust.map { pem =>
      io.netty.handler.ssl.SslContextBuilder.forClient()
        .trustManager(pem.toFile)
        .sslProvider(io.netty.handler.ssl.SslProvider.JDK)
        .applicationProtocolConfig(GrpcIngestServer.alpnH2)
        .build()
    }
    val b = new Bootstrap()
    b.group(group)
      .channel(GrpcIngestServer.clientChannelClass)
      .option[java.lang.Boolean](ChannelOption.TCP_NODELAY, true)
      .handler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          sslCtx.foreach(ssl =>
            ch.pipeline().addLast(ssl.newHandler(ch.alloc(), host, port)))
          ch.pipeline().addLast(
            // same enlarged windows/frames as the server advertises
            // (GrpcIngestServer.h2Settings) so the ack direction and
            // any server-push control traffic get the same treatment
            Http2FrameCodecBuilder.forClient()
              .initialSettings(GrpcIngestServer.h2Settings).build(),
            // server-initiated streams are not part of gRPC; drop them
            new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
          ()
        }
      })
    b.connect(host, port).syncUninterruptibly().channel()
  }

  /** Pumps response DATA through a framer into the shared core;
    * trailers / stream close release all waiters.
    */
  private final class ResponseHandler(core: ClientCore)
      extends ChannelInboundHandlerAdapter {
    private val framer = new GrpcWire.Framer

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      msg match {
        case d: Http2DataFrame =>
          try {
            // dispatch the ack FIRST (it releases the writer's latch —
            // the round-trip critical path), then return flow-control
            // bytes unflushed; channelReadComplete flushes once per
            // read burst instead of one syscall per ack
            val bytes = new Array[Byte](d.content().readableBytes())
            d.content().readBytes(bytes)
            framer.feed(bytes).foreach(m =>
              core.onServerMessage(decodeServerMessage(m)))
            val consumed = d.initialFlowControlledBytes()
            if (consumed > 0) {
              ctx.write(new DefaultHttp2WindowUpdateFrame(consumed)); ()
            }
          } finally d.release()
        case h: Http2HeadersFrame =>
          if (h.isEndStream) ctx.close() // trailers: stream over
        case _: Http2ResetFrame => ctx.close(); ()
        case other => ctx.fireChannelRead(other); ()
      }

    override def channelReadComplete(ctx: ChannelHandlerContext): Unit = {
      ctx.flush() // drain window updates batched in channelRead
      ctx.fireChannelReadComplete()
      ()
    }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      core.onDisconnect()
      ctx.fireChannelInactive()
      ()
    }
  }

  /** One-shot unary `WriteBatch` over real gRPC: returns the
    * `BatchResult` (parsed back from the reference-format
    * `grpc-message` on error) and, when OK, the response message.
    */
  def unaryWriteBatch(host: String, port: Int,
      req: WriteBatchRequest,
      timeoutMs: Long = 10000,
      gzipFrame: Boolean = false,
      gzipHeader: Boolean = false): (Int, Option[WriteBatchResponse]) = {
    val group = GrpcIngestServer.ioGroup()
    try {
      val conn = connect(group, host, port)
      unaryWriteBatchOn(conn, host, req, timeoutMs, gzipFrame, gzipHeader)
    } finally {
      group.shutdownGracefully(0, 2, TimeUnit.SECONDS).syncUninterruptibly()
      ()
    }
  }

  /** One h2c connection for repeated unary calls — the production
    * gRPC channel shape (one TCP connection, one HTTP/2 stream per
    * RPC). Caller owns both halves; shut the group down when done.
    */
  private[graft] def openChannel(host: String, port: Int)
      : (EventLoopGroup, Channel) = {
    val group = GrpcIngestServer.ioGroup()
    (group, connect(group, host, port))
  }

  /** Unary `WriteBatch` over an EXISTING connection — one new HTTP/2
    * stream per call, how a gRPC channel multiplexes unary RPCs.
    * [[unaryWriteBatch]] is the one-shot convenience that owns its
    * connection; a throughput measurement must use THIS form (a
    * connection per call measures TCP + preface setup, not the RPC).
    */
  def unaryWriteBatchOn(conn: Channel, authority: String,
      req: WriteBatchRequest,
      timeoutMs: Long = 10000,
      gzipFrame: Boolean = false,
      gzipHeader: Boolean = false): (Int, Option[WriteBatchResponse]) = {
    {
      val done = new CountDownLatch(1)
      val frames = new LinkedBlockingQueue[Array[Byte]]()
      @volatile var grpcStatus = -1
      @volatile var grpcMessage = ""
      val bootstrap = new Http2StreamChannelBootstrap(conn)
      bootstrap.handler(new ChannelInitializer[Channel] {
        override def initChannel(ch: Channel): Unit = {
          ch.pipeline().addLast(new ChannelInboundHandlerAdapter {
            private val framer = new GrpcWire.Framer
            override def channelRead(ctx: ChannelHandlerContext,
                msg: AnyRef): Unit = msg match {
              case d: Http2DataFrame =>
                try {
                  val bytes = new Array[Byte](d.content().readableBytes())
                  d.content().readBytes(bytes)
                  framer.feed(bytes).foreach(frames.put)
                } finally d.release()
                if (d.isEndStream) done.countDown()
              case h: Http2HeadersFrame =>
                val st = h.headers().get(GrpcIngestServer.GrpcStatus)
                if (st != null) grpcStatus = Integer.parseInt(st.toString)
                val gm = h.headers().get(GrpcIngestServer.GrpcMessage)
                if (gm != null)
                  grpcMessage = GrpcWire.decodeMessage(gm.toString)
                if (h.isEndStream) done.countDown()
              case other => ctx.fireChannelRead(other); ()
            }
            override def channelInactive(ctx: ChannelHandlerContext): Unit = {
              done.countDown()
              ctx.fireChannelInactive()
              ()
            }
          })
          ()
        }
      })
      val stream = bootstrap.open().syncUninterruptibly().getNow
      stream.write(new DefaultHttp2HeadersFrame(
        requestHeaders(authority, "WriteBatch", gzipEncoding = gzipHeader)))
      val framed = if (gzipFrame)
        Unpooled.wrappedBuffer(GrpcWire.frameGzip(encode(req)))
        else GrpcWire.composeFrame(encode(req))
      stream.writeAndFlush(new DefaultHttp2DataFrame(framed, true))
      if (!done.await(timeoutMs, TimeUnit.MILLISECONDS))
        throw new java.io.IOException("unary WriteBatch timed out")
      if (grpcStatus == GrpcWire.StatusOk) {
        val body = frames.poll()
        if (body == null)
          throw new java.io.IOException("OK response without a message")
        (BatchResult.Ok, Some(decodeWriteBatchResponse(body)))
      } else {
        val parsed = GrpcWire.parseWriteBatchError(grpcMessage)
        if (parsed < 0)
          throw new java.io.IOException(
            s"gRPC error $grpcStatus: $grpcMessage")
        (parsed, None)
      }
    }
  }
}
