package graft

import graft.net.{GrpcIngestClient, GrpcIngestServer, IngestClient, IngestEngine, IngestServer, IngestSession, Metrics}
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import graft.sources.QueueSource
import graft.streaming.RowBuffer

/** Wire-ingest throughput: the network half [[IngestBench]] excludes —
  * concurrent client sessions → wire framing → server decode-check →
  * queue admission, measured as rows/s. Together the two numbers cover
  * the reference's full path: wire acceptance (its gRPC service) and
  * durable transcode landing (its writer group). Bodies are
  * pre-encoded once outside the clock (client encode is excluded from
  * the reference's envelope too); every timed batch write waits for
  * its per-batch ack, so the number includes the full request/ack
  * round trip, not a fire-and-forget upper bound.
  *
  * Two transports, same engine: `transport = "socket"` measures the
  * varint-framed plain-socket path, `"grpc"` the real gRPC/HTTP2 path
  * (netty h2c both sides) — the apples-to-apples number against the
  * reference's grpc-go service.
  */
object WireBench {

  /** Dev harness: `scripts/run.sh graft.WireBench [transport] [rows]
    * [batch] [clients] [reps]` — prints rows/s per rep so transport
    * overheads can be isolated without the full Bench run.
    */
  def main(args: Array[String]): Unit = {
    val transport = args.headOption.getOrElse("socket")
    val rows = args.lift(1).map(_.toInt).getOrElse(262144)
    val batch = args.lift(2).map(_.toInt).getOrElse(256)
    val clients = args.lift(3).map(_.toInt).getOrElse(4)
    val reps = args.lift(4).map(_.toInt).getOrElse(3)
    for (_ <- 0 until reps) {
      val (n, sec) = run(rows, batch, clients, transport)
      println(f"$transport rows=$n batch=$batch clients=$clients " +
        f"sec=$sec%.3f rows_per_sec=${(n / sec).toLong}")
    }
  }

  /** Returns (rows admitted, wall seconds). Capacity is sized so the
    * fill never crosses the server's backoff high-water mark — this
    * measures the acceptance path's speed; the flow-control path
    * (deliberately pacing clients at ~4 batches/s once a queue is 80%
    * full) is NetSpec's subject, and letting it trigger here turned
    * the tail of the run into a measurement of the backoff deadline.
    */
  def run(rows: Int, batch: Int = 256, clients: Int = 4,
      transport: String = "socket"): (Long, Double) = {
    val qname = s"wire-bench-$transport"
    val q = QueueSource.create(qname, rows * 2, RowBuffer.Block)
    val targets = Map("ExampleMessage" ->
      IngestServer.Target(TranscodeE2E.message, q))
    val srv = new IngestServer(() => targets, 0, metrics = new Metrics).start()
    val grpcSrv =
      if (transport.startsWith("grpc"))
        Some(new GrpcIngestServer(srv.engine, 0, new Metrics).start())
      else None
    def connect(): IngestSession = grpcSrv match {
      case Some(g) if transport == "grpc_unary" =>
        // the reference's unary WriteBatch RPC: ONE long-lived h2c
        // connection, a fresh HTTP/2 stream per call (the gRPC channel
        // shape) — measures the full unary round trip incl. per-RPC
        // headers/trailers, against the same engine and queue
        val (group, conn) =
          net.GrpcIngestClient.openChannel("127.0.0.1", g.boundPort)
        new IngestSession {
          def registerType(t: String) = 0 // unary names the type per payload
          def writeBatch(t: String, b: Seq[Array[Byte]], r: Int) = {
            val (status, _) = net.GrpcIngestClient.unaryWriteBatchOn(
              conn, "127.0.0.1",
              net.ControlProto.WriteBatchRequest("bench",
                Seq(net.ControlProto.Payload(t, b))))
            status
          }
          def close() = {
            try conn.close().syncUninterruptibly()
            catch { case _: Throwable => () }
            group.shutdownGracefully(0, 2,
              java.util.concurrent.TimeUnit.SECONDS).syncUninterruptibly()
            ()
          }
        }
      case Some(g) => new GrpcIngestClient("127.0.0.1", g.boundPort)
      case None => new IngestClient("127.0.0.1", srv.boundPort)
    }
    try {
      val bodies = (0 until batch).map(i => ProtoRows.encodeValues(
        TranscodeE2E.message, TranscodeE2E.Fixture(i % 64).protoValues))
      val batchesPerClient = rows / clients / batch
      val errors = new java.util.concurrent.atomic.AtomicLong(0)
      val t0 = System.nanoTime()
      val threads = (0 until clients).map { _ =>
        val t = new Thread(() => {
          val c = connect()
          try {
            c.registerType("ExampleMessage")
            var b = 0
            while (b < batchesPerClient) {
              if (c.writeBatch("ExampleMessage", bodies,
                  retryTimes = -1) != net.ControlProto.BatchResult.Ok)
                errors.incrementAndGet()
              b += 1
            }
          } finally c.close()
        })
        t.start()
        t
      }
      threads.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      require(errors.get() == 0, s"wire bench: ${errors.get()} failed batches")
      (q.endSeq - q.firstSeq, sec)
    } finally {
      grpcSrv.foreach(_.stop())
      srv.stop()
      QueueSource.drop(qname)
    }
  }
}
