package graft.net

import graft.net.ControlProto._
import graft.proto.ProtoRows
import graft.queries.TranscodeE2E
import graft.sources.QueueSource
import graft.streaming.RowBuffer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.Executors

/** The real-gRPC transport ([[GrpcIngestServer]] /
  * [[GrpcIngestClient]]): the same engine semantics as the socket
  * transport (NetSpec), carried over actual HTTP/2.
  *
  * Interop is checked in both cleartext connection styles against an
  * INDEPENDENT HTTP/2 implementation where possible:
  *  - prior-knowledge h2c (what grpc-go's insecure mode sends) via
  *    the netty-based client, and
  *  - the HTTP/1.1 `Upgrade: h2c` dance via the JDK's own
  *    `java.net.http.HttpClient` — a from-scratch HTTP/2 stack that
  *    shares no code with netty, so a successful exchange pins our
  *    frames/HPACK/flow-control behavior to the spec, not to netty's
  *    own client half.
  */
class GrpcSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def body(i: Int): Array[Byte] =
    ProtoRows.encodeValues(TranscodeE2E.message,
      TranscodeE2E.Fixture(i).protoValues)

  private def targetFor(capacity: Int,
      onFull: RowBuffer.OnFull = RowBuffer.Block,
      qname: String = s"grpcspec-${System.nanoTime()}") = {
    val q = QueueSource.create(qname, capacity, onFull)
    (qname, q, Map("ExampleMessage" ->
      IngestServer.Target(TranscodeE2E.message, q)))
  }

  private def withServer[A](targets: Map[String, IngestServer.Target],
      maxInFlight: Int = 12, backoffHighWater: Double = 0.8,
      maxRecvBytes: Int = GrpcIngestServer.DefaultMaxRecvBytes)(
      f: GrpcIngestServer => A): A = {
    val pool = Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "grpcspec-engine"); t.setDaemon(true); t
    })
    val engine = new IngestEngine(() => targets, maxInFlight,
      backoffHighWater, backoffMs = 250, new Metrics, pool)
    val s = new GrpcIngestServer(engine, 0, new Metrics,
      maxRecvMessageBytes = maxRecvBytes).start()
    try f(s) finally { s.stop(); pool.shutdownNow(); () }
  }

  // ---- unary over prior-knowledge h2c (grpc-go's insecure mode) ----

  test("gRPC unary WriteBatch: OK lands bodies, response is the reference's zeros") {
    val (qn, q, targets) = targetFor(capacity = 64)
    try withServer(targets) { srv =>
      val bodies = (0 until 6).map(body)
      val (status, resp) = GrpcIngestClient.unaryWriteBatch("127.0.0.1",
        srv.boundPort, WriteBatchRequest("k", Seq(Payload("ExampleMessage", bodies))))
      assert(status == BatchResult.Ok)
      // the reference's literal zeros (ingest_service.go:115-119)
      assert(resp.contains(WriteBatchResponse(0, 0)))
      assert(q.endSeq - q.firstSeq == 6)
      assert(q.slice(0, 6).map(_._2.toSeq) == bodies.map(_.toSeq))
    } finally QueueSource.drop(qn)
  }

  test("gRPC unary non-OK: grpc-status UNKNOWN with the reference's error format") {
    val (qn, q, targets) = targetFor(capacity = 64)
    try withServer(targets) { srv =>
      val (status, resp) = GrpcIngestClient.unaryWriteBatch("127.0.0.1",
        srv.boundPort, WriteBatchRequest("k", Seq(Payload("no.Such", Seq(body(0))))))
      assert(status == BatchResult.UnkMessage && resp.isEmpty)
      assert(q.endSeq == q.firstSeq) // nothing admitted
    } finally QueueSource.drop(qn)
  }

  test("over-limit message → RESOURCE_EXHAUSTED, never buffered (MaxRecvMsgSize)") {
    val (qn, q, targets) = targetFor(capacity = 64)
    try withServer(targets, maxRecvBytes = 1024) { srv =>
      // one WriteBatchRequest well past the 1 KiB limit
      val big = Array.fill(32)(Array.fill(256)(0x41.toByte))
      val ex = intercept[java.io.IOException] {
        GrpcIngestClient.unaryWriteBatch("127.0.0.1", srv.boundPort,
          WriteBatchRequest("k", Seq(Payload("ExampleMessage",
            big.toIndexedSeq))))
      }
      assert(ex.getMessage.contains("8") &&
        ex.getMessage.contains("max receive size"),
        s"expected RESOURCE_EXHAUSTED, got: ${ex.getMessage}")
      assert(q.endSeq == q.firstSeq) // nothing admitted
      // the connection-level limit must not break a small follow-up
      val (st, resp) = GrpcIngestClient.unaryWriteBatch("127.0.0.1",
        srv.boundPort, WriteBatchRequest("k",
          Seq(Payload("ExampleMessage", Seq(body(0))))))
      assert(st == BatchResult.Ok && resp.isDefined)
    } finally QueueSource.drop(qn)
  }

  // ---- the JDK's independent HTTP/2 stack over Upgrade: h2c --------

  test("JDK HttpClient interop: h2c upgrade, then a real unary gRPC exchange") {
    val (qn, q, targets) = targetFor(capacity = 64)
    try withServer(targets) { srv =>
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val client = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_2).build()

      // the JDK performs its h2c upgrade on this GET; HTTP_2 in the
      // response version proves OUR 101 + settings exchange satisfied
      // a foreign implementation
      val bootstrap = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/")).GET().build(),
        HttpResponse.BodyHandlers.discarding())
      assert(bootstrap.version() == HttpClient.Version.HTTP_2)
      assert(bootstrap.statusCode() == 200)

      // unary WriteBatch as raw gRPC bytes on the multiplexed conn
      val bodies = (0 until 4).map(body)
      val reqBytes = GrpcWire.frame(encode(
        WriteBatchRequest("k", Seq(Payload("ExampleMessage", bodies)))))
      val ok = client.send(
        HttpRequest.newBuilder(
            URI.create(s"$base/bristle.BristleIngestService/WriteBatch"))
          .header("content-type", "application/grpc")
          .POST(HttpRequest.BodyPublishers.ofByteArray(reqBytes)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(ok.version() == HttpClient.Version.HTTP_2)
      assert(ok.statusCode() == 200)
      assert(ok.headers().firstValue("content-type").orElse("") == "application/grpc")
      val messages = new GrpcWire.Framer().feed(ok.body())
      assert(messages.size == 1)
      assert(decodeWriteBatchResponse(messages.head) == WriteBatchResponse(0, 0))
      assert(q.endSeq - q.firstSeq == 4)

      // non-OK: a Trailers-Only response, so the JDK client sees
      // grpc-status/grpc-message as plain response headers
      val bad = client.send(
        HttpRequest.newBuilder(
            URI.create(s"$base/bristle.BristleIngestService/WriteBatch"))
          .header("content-type", "application/grpc")
          .POST(HttpRequest.BodyPublishers.ofByteArray(GrpcWire.frame(encode(
            WriteBatchRequest("k", Seq(Payload("no.Such", Seq(body(0)))))))))
          .build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(bad.statusCode() == 200) // gRPC errors ride trailers, not :status
      assert(bad.headers().firstValue("grpc-status").orElse("") == "2")
      val msg = GrpcWire.decodeMessage(
        bad.headers().firstValue("grpc-message").orElse(""))
      assert(msg == "WriteBatch error code UNK_MESSAGE")
      assert(bad.body().isEmpty)
    } finally QueueSource.drop(qn)
  }

  // ---- bidi Streaming RPC ------------------------------------------

  test("gRPC streaming: register → type-id batches → queue holds bodies") {
    val (qn, q, targets) = targetFor(capacity = 64)
    try withServer(targets) { srv =>
      val client = new GrpcIngestClient("127.0.0.1", srv.boundPort)
      try {
        val id = client.registerType("ExampleMessage")
        assert(id == 1) // session ids start at 1 (ingest_service.go:190)
        val bodies = (0 until 8).map(body)
        assert(client.writeBatch("ExampleMessage", bodies) == BatchResult.Ok)
        assert(client.writeBatch("ExampleMessage",
          (8 until 12).map(body)) == BatchResult.Ok)
        assert(q.endSeq - q.firstSeq == 12)
        assert(q.slice(0, 12).map(_._2.toSeq) == (0 until 12).map(body(_).toSeq))
      } finally client.close()
    } finally QueueSource.drop(qn)
  }

  test("gRPC streaming rejections mirror the socket transport exactly") {
    val (qn, q, targets) = targetFor(capacity = 4)
    try withServer(targets) { srv =>
      val client = new GrpcIngestClient("127.0.0.1", srv.boundPort)
      try {
        assert(client.writeBatch("no.Such", Seq(body(0)), retryTimes = 0) ==
          BatchResult.UnkMessage)
        assert(client.writeBatch("ExampleMessage",
          Seq(Array[Byte](-1, -1, -1)), retryTimes = 0) == BatchResult.DecodeErr)
        assert(client.writeBatch("ExampleMessage",
          (0 until 5).map(body), retryTimes = 0) == BatchResult.TooBig)
        assert(client.writeBatch("ExampleMessage",
          (0 until 3).map(body), retryTimes = 0) == BatchResult.Ok)
        assert(client.writeBatch("ExampleMessage",
          (0 until 2).map(body), retryTimes = 0) == BatchResult.Full)
        assert(q.endSeq - q.firstSeq == 3) // Block policy sheds nothing
      } finally client.close()
    } finally QueueSource.drop(qn)
  }

  test("gRPC streaming: zero permits → TOO_MANY_IN_FLIGHT_BATCHES") {
    val (qn, _, targets) = targetFor(capacity = 64)
    try withServer(targets, maxInFlight = 0) { srv =>
      val client = new GrpcIngestClient("127.0.0.1", srv.boundPort)
      try assert(client.writeBatch("ExampleMessage", Seq(body(0)),
        retryTimes = 0) == BatchResult.TooManyInFlightBatches)
      finally client.close()
    } finally QueueSource.drop(qn)
  }

  test("TLS endpoint: ALPN-h2 handshake, JDK https interop, bidi over TLS") {
    // reference TlsConfig parity (config.go:33-36, 112-125): PEM
    // cert/key served with NoClientCert; generated here per-run
    val dir = java.nio.file.Files.createTempDirectory("grpc-tls-")
    val cert = dir.resolve("server.pem")
    val key = dir.resolve("server.key")
    val gen = new ProcessBuilder("openssl", "req", "-x509", "-newkey",
      "rsa:2048", "-nodes", "-keyout", key.toString, "-out", cert.toString,
      "-days", "2", "-subj", "/CN=localhost",
      "-addext", "subjectAltName=IP:127.0.0.1,DNS:localhost")
      .redirectErrorStream(true).start()
    assert(gen.waitFor() == 0, "openssl cert generation failed")

    val (qn, q, targets) = targetFor(capacity = 64)
    val pool = Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "grpcspec-tls"); t.setDaemon(true); t
    })
    val engine = new IngestEngine(() => targets, 12, 0.8, 250,
      new Metrics, pool)
    val srv = new GrpcIngestServer(engine, 0, new Metrics,
      tls = Some(GrpcIngestServer.Tls(cert, key))).start()
    try {
      // JDK HttpClient over REAL TLS: its own trust store pinned to
      // our cert, ALPN must negotiate h2 (HTTP_2 in the response
      // version proves it — https has no Upgrade fallback)
      val cf = java.security.cert.CertificateFactory.getInstance("X.509")
      val x509 = cf.generateCertificate(
        java.nio.file.Files.newInputStream(cert))
      val ks = java.security.KeyStore.getInstance(
        java.security.KeyStore.getDefaultType)
      ks.load(null, null)
      ks.setCertificateEntry("srv", x509)
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ssl = javax.net.ssl.SSLContext.getInstance("TLS")
      ssl.init(null, tmf.getTrustManagers, null)
      val client = HttpClient.newBuilder().sslContext(ssl)
        .version(HttpClient.Version.HTTP_2).build()
      val bodies = (0 until 3).map(body)
      val reqBytes = GrpcWire.frame(encode(
        WriteBatchRequest("k", Seq(Payload("ExampleMessage", bodies)))))
      val ok = client.send(
        HttpRequest.newBuilder(URI.create(
            s"https://127.0.0.1:${srv.boundPort}" +
              "/bristle.BristleIngestService/WriteBatch"))
          .header("content-type", "application/grpc")
          .POST(HttpRequest.BodyPublishers.ofByteArray(reqBytes)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(ok.version() == HttpClient.Version.HTTP_2,
        "ALPN did not negotiate h2")
      assert(ok.statusCode() == 200)
      val messages = new GrpcWire.Framer().feed(ok.body())
      assert(messages.size == 1 &&
        decodeWriteBatchResponse(messages.head) == WriteBatchResponse(0, 0))
      assert(q.endSeq - q.firstSeq == 3)

      // the netty client half: bidi streaming RPC over the same TLS
      val c = new GrpcIngestClient("127.0.0.1", srv.boundPort,
        tlsTrust = Some(cert))
      try {
        assert(c.registerType("ExampleMessage") == 1)
        assert(c.writeBatch("ExampleMessage",
          (3 until 8).map(body)) == BatchResult.Ok)
        assert(q.endSeq - q.firstSeq == 8)
      } finally c.close()
    } finally {
      srv.stop(); pool.shutdownNow(); QueueSource.drop(qn); ()
    }
  }

  test("the Batcher client stack delivers through the gRPC sink unchanged") {
    val (qn, q, targets) = targetFor(capacity = 64)
    try withServer(targets) { srv =>
      val client = new GrpcIngestClient("127.0.0.1", srv.boundPort)
      try {
        // the full reference client stack — batching, type dictionary,
        // retry/backoff — over the gRPC transport via the shared sink
        // signature, exactly as it runs over the socket transport
        val b = new graft.streaming.Batcher(bufferSize = 16,
          sink = client.sink)
        assert(b.writeBatch("ExampleMessage",
          (0 until 10).map(body)).isRight)
        val outcomes = b.flush()
        assert(outcomes("ExampleMessage").isRight, s"flush failed: $outcomes")
        assert(q.endSeq - q.firstSeq == 10)
        assert(q.slice(0, 10).map(_._2.toSeq) == (0 until 10).map(body(_).toSeq))
      } finally client.close()
    } finally QueueSource.drop(qn)
  }

  test("ForwardJson --grpc: the producer CLI forwards protojson over real gRPC") {
    val (qn, q, targets) = targetFor(capacity = 256)
    try withServer(targets) { srv =>
      val dir = java.nio.file.Files.createTempDirectory("fwdjson-grpc-")
      val in = getClass.getResourceAsStream("/descriptors/example.pb")
      val desc = dir.resolve("example.desc")
      java.nio.file.Files.write(desc, in.readAllBytes())
      in.close()
      val lines = (0 until 40)
        .map(TranscodeE2E.Fixture(_).protojsonLine).mkString("\n")
      val oldIn = System.in
      try {
        System.setIn(new java.io.ByteArrayInputStream(
          lines.getBytes("UTF-8")))
        ForwardJson.main(Array("--grpc", s"127.0.0.1:${srv.boundPort}",
          "ExampleMessage", desc.toString, "16"))
      } finally System.setIn(oldIn)
      assert(q.endSeq - q.firstSeq == 40,
        s"expected 40 forwarded rows, queue holds ${q.endSeq - q.firstSeq}")
    } finally QueueSource.drop(qn)
  }

  test("gRPC streaming: server pushes backoff past high water; client honors it") {
    val (qn, _, targets) = targetFor(capacity = 8, onFull = RowBuffer.DropOldest)
    try withServer(targets, backoffHighWater = 0.5) { srv =>
      val client = new GrpcIngestClient("127.0.0.1", srv.boundPort)
      try {
        // 6 rows in an 8-cap queue crosses the 0.5 high-water mark;
        // the ack for this batch is followed by a ServerBackoff push
        assert(client.writeBatch("ExampleMessage",
          (0 until 6).map(body)) == BatchResult.Ok)
        val deadline = System.currentTimeMillis() + 5000
        while (!client.inBackoff && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
        assert(client.inBackoff,
          "client never saw the server's backoff push over gRPC")
      } finally client.close()
    } finally QueueSource.drop(qn)
  }

  test("Framer: arbitrary DATA splits reassemble exactly (chunk-queue property)") {
    // the chunk-queue framer must be split-invariant: any partition of
    // the byte stream into DATA frames yields the same message
    // sequence as one whole-buffer feed — including 5-byte headers
    // torn across chunks, empty messages, and gzip frames
    val rnd = new scala.util.Random(0xF8A3E5L)
    for (trial <- 0 until 50) {
      val msgs = (0 until rnd.nextInt(6) + 1).map { i =>
        val n = rnd.nextInt(if (trial % 3 == 0) 7 else 4000)
        val b = new Array[Byte](n); rnd.nextBytes(b); b
      }
      val gz = trial % 4 == 0
      val wire = msgs.flatMap(m =>
        if (gz) GrpcWire.frameGzip(m) else GrpcWire.frame(m)).toArray
      val framer = new GrpcWire.Framer
      if (gz) framer.codec = GrpcWire.gunzip(_, 1 << 20)
      val out = scala.collection.mutable.Buffer.empty[Array[Byte]]
      var off = 0
      while (off < wire.length) {
        val take = math.min(rnd.nextInt(9) + 1, wire.length - off)
        out ++= framer.feed(java.util.Arrays.copyOfRange(wire, off, off + take))
        off += take
      }
      assert(framer.pendingBytes == 0, s"trial $trial left pending bytes")
      assert(out.size == msgs.size, s"trial $trial: ${out.size} != ${msgs.size}")
      out.zip(msgs).zipWithIndex.foreach { case ((a, b), i) =>
        assert(java.util.Arrays.equals(a, b), s"trial $trial msg $i differs")
      }
    }
  }

  test("gzip message compression: unary + streaming land; bomb and codec-less refused") {
    val (qn, q, targets) = targetFor(capacity = 64)
    try withServer(targets, maxRecvBytes = 64 * 1024) { srv =>
      // unary with grpc-encoding: gzip → decompressed and admitted
      val bodies = (0 until 4).map(body)
      val (st, resp) = GrpcIngestClient.unaryWriteBatch("127.0.0.1",
        srv.boundPort, WriteBatchRequest("k",
          Seq(Payload("ExampleMessage", bodies))),
        gzipFrame = true, gzipHeader = true)
      assert(st == BatchResult.Ok && resp.isDefined)
      assert(q.slice(0, 4).map(_._2.toSeq) == bodies.map(_.toSeq))

      // compressed flag WITHOUT the encoding header: the framer has no
      // codec → UNIMPLEMENTED, the no-registered-compressor posture
      val ex = intercept[java.io.IOException] {
        GrpcIngestClient.unaryWriteBatch("127.0.0.1", srv.boundPort,
          WriteBatchRequest("k", Seq(Payload("ExampleMessage",
            Seq(body(0))))), gzipFrame = true, gzipHeader = false)
      }
      assert(ex.getMessage.contains("12") || ex.getMessage.contains("codec"),
        s"expected UNIMPLEMENTED, got: ${ex.getMessage}")

      // gzip bomb: tiny on the wire, past the cap decompressed — the
      // limit applies to the DECOMPRESSED size and fails BEFORE
      // buffering past it
      val bomb = Seq(Array.fill(256 * 1024)(0x41.toByte))
      val ex2 = intercept[java.io.IOException] {
        GrpcIngestClient.unaryWriteBatch("127.0.0.1", srv.boundPort,
          WriteBatchRequest("k", Seq(Payload("ExampleMessage", bomb))),
          gzipFrame = true, gzipHeader = true)
      }
      assert(ex2.getMessage.contains("8") || ex2.getMessage.contains("larger"),
        s"expected RESOURCE_EXHAUSTED, got: ${ex2.getMessage}")

      // streaming session with gzip on: register + batch land intact
      val c = new GrpcIngestClient("127.0.0.1", srv.boundPort, gzip = true)
      try {
        assert(c.registerType("ExampleMessage") == 1)
        assert(c.writeBatch("ExampleMessage",
          (4 until 9).map(body)) == BatchResult.Ok)
        assert(q.slice(4, 9).map(_._2.toSeq) == (4 until 9).map(body(_).toSeq))
      } finally c.close()
    } finally QueueSource.drop(qn)
  }

  test("D14 reload swaps the registry the gRPC endpoint serves") {
    // NetSpec pins reload semantics for the socket endpoint; this
    // pins that the SAME atomic swap is what a live gRPC session
    // resolves against (shared engine, per-batch target resolution):
    // every kept table keeps its queue and buffered rows across the
    // swap, a changed table is reconfigured in place, and the client
    // connection survives both.
    import java.nio.file.Files
    val dir = Files.createTempDirectory("grpcspec-reload-")
    val desc = dir.resolve("example.desc")
    val in = getClass.getResourceAsStream("/descriptors/example.pb")
    Files.write(desc, in.readAllBytes())
    in.close()
    val cols = TranscodeE2E.table.map { c =>
      s"""{"name": "${c.name}", "type": "${c.typeString}"}"""
    }.mkString("[", ", ", "]")
    def writeCfg(capacity: Int): Unit =
      Files.write(dir.resolve("config.json"),
        s"""{
           |  "ingest": {"bind_port": 0, "grpc_port": 0},
           |  "proto_descriptor_paths": ["$desc"],
           |  "catalogs": [{"name": "landing", "tables": {
           |    "example": {"capacity": $capacity, "on_full": "block",
           |      "messages": ["ExampleMessage"], "columns": $cols}
           |  }}]
           |}""".stripMargin.getBytes("UTF-8"))
    writeCfg(capacity = 16)
    val server = new BristleServer(dir.resolve("config.json"), new Metrics)
      .start()
    try {
      val srv = server.grpc.get
      val client = new GrpcIngestClient("127.0.0.1", srv.boundPort)
      try {
        assert(client.registerType("ExampleMessage") == 1)
        assert(client.writeBatch("ExampleMessage",
          (0 until 3).map(body)) == BatchResult.Ok)
        val q1 = server.queues("landing.example")
        assert(q1.endSeq - q1.firstSeq == 3)

        // same settings → the swap keeps the live queue; the live
        // gRPC session keeps landing into it (rows accumulate)
        writeCfg(capacity = 16)
        assert(server.reload().isRight)
        assert(server.queues("landing.example") eq q1)
        assert(client.writeBatch("ExampleMessage",
          (3 until 5).map(body)) == BatchResult.Ok)
        assert(q1.endSeq - q1.firstSeq == 5)

        // changed capacity → the SAME queue, reconfigured in place; the
        // SAME live connection (and its registered type id) keeps
        // landing into it after the buffered rows
        writeCfg(capacity = 32)
        assert(server.reload().isRight)
        val q2 = server.queues("landing.example")
        assert(q2 eq q1)
        assert(q2.capacity == 32 && q2.endSeq - q2.firstSeq == 5)
        assert(client.writeBatch("ExampleMessage",
          (5 until 9).map(body)) == BatchResult.Ok)
        assert(q2.endSeq - q2.firstSeq == 9)
        assert(q2.slice(0, 9).map(_._2.toSeq) == (0 until 9).map(body(_).toSeq))
      } finally client.close()
    } finally {
      server.stop()
      server.queues.keys.foreach(QueueSource.drop)
    }
  }
}
