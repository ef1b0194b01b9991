package graft.queries

import graft.bind.{ChColumn, SchemaBinder}
import graft.proto.{PMessage, ProtoRows, Wire}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

/** End-to-end transcode parity (VERDICT r1 item 3): literal rows →
  * proto wire encode → varint framing → decodeFramed (S3+S4) →
  * SchemaBinder.bind().transcode (P1-P3, P6-P10) → compare against a
  * DuckDB oracle over the SAME literal rows. The fixture mirrors the
  * reference's canonical example (reference examples/example.proto:12-21,
  * examples/example.sql:1-11): enum, timestamp, int64, map→Nested
  * parallel arrays, repeated→Array.
  *
  * One deterministic row generator feeds both sides, so the Spark
  * result only matches if every wire/decode/bind/transcode step is an
  * exact identity over the logical values — including proto3
  * zero-value skipping (row 0 has "" name, enum 0, empty map/array).
  */
object TranscodeE2E {

  /** The message schema comes from a checked-in serialized
    * FileDescriptorSet (src/main/resources/descriptors/example.pb),
    * loaded at runtime exactly like the reference loads `*.pb`
    * artifacts (proto_registry.go:45-103) — so the descriptor loader
    * itself sits on the driver-verified path. DescriptorSetSpec pins
    * the loaded schema against a hand-built expectation.
    */
  val message: PMessage = {
    val in = Option(getClass.getResourceAsStream("/descriptors/example.pb"))
      .getOrElse(throw new IllegalStateException(
        "resource /descriptors/example.pb missing from classpath"))
    val bytes = try in.readAllBytes() finally in.close()
    graft.proto.DescriptorSet.load(bytes)("ExampleMessage")
  }

  /** Sink schema, as the reference would introspect it from
    * system.columns for examples/example.sql.
    */
  val table: Seq[ChColumn] = Seq(
    ChColumn("name", 1, "String"),
    ChColumn("type", 2, "Enum8('empty' = 0, 'small' = 1, 'big' = 2)"),
    ChColumn("timestamp", 3, "DateTime"),
    ChColumn("value", 4, "Int64"),
    ChColumn("tags.key", 5, "Array(String)"),
    ChColumn("tags.value", 6, "Array(String)"),
    ChColumn("labels", 7, "Array(String)", default = "[]"))

  /** The single comparison projection all transcode queries share with
    * q25's oracle: one definition, zero drift between the five paths
    * (batch wire, stream, jsonl, queue source, catalog bind).
    */
  private def sinkSelect(df: org.apache.spark.sql.DataFrame) = df.select(
      col("name"),
      col("type").cast("tinyint").as("type_code"),
      unix_millis(col("timestamp")).as("ts_ms"),
      col("value"),
      array_join(col("`tags.key`"), ",").as("tag_keys"),
      array_join(col("`tags.value`"), ",").as("tag_values"),
      array_join(col("labels"), ",").as("labels"))
    .orderBy(col("value"))

  val NumRows = 64
  val MsgsPerFrame = 8
  private val BaseEpoch = 1622551496L // 2021-06-01T12:44:56Z

  /** Logical fixture rows, the single source of truth for both engines. */
  final case class Fixture(i: Int) {
    val name: String = if (i % 7 == 0) "" else s"name_$i"
    val typeCode: Int = i % 3
    val tsSeconds: Long = BaseEpoch + i * 3600L
    val tsMillisPart: Int = i % 5 // sub-second part, whole millis
    val value: Long = i.toLong * 1000003L - 32L
    // ≤2 entries, insertion order = sorted keys, so MapType iteration
    // order is deterministic end-to-end
    val tags: Seq[(String, String)] =
      (0 until i % 3).map(j => s"k$j" -> s"v${i}_$j")
    val labels: Seq[String] = (0 until i % 4).map(j => s"l${i}_$j")

    def protoValues: Seq[Any] = Seq(
      name, typeCode,
      Timestamp.from(Instant.ofEpochSecond(tsSeconds, tsMillisPart * 1000000L)),
      value, tags.toMap, labels)

    def tsMillis: Long = tsSeconds * 1000L + tsMillisPart

    /** protojson rendering (enum NAME, RFC3339 timestamp, map object,
      * repeated array) — the line format the reference's JSON
      * forwarder consumes (cmd/bristle-forward-json/main.go:29-38).
      * Fraction width cycles through protojson's legal renderings
      * (none / 3 / 6 / 9 digits, same instant) so q35 exercises every
      * width the spec allows (ADVICE r2 #2).
      */
    def protojsonLine: String = {
      val enumName = Seq("EMPTY", "SMALL", "BIG")(typeCode)
      val iso = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(Instant.ofEpochSecond(tsSeconds))
      val frac = (i % 4) match {
        case 0 if tsMillisPart == 0 => ""
        case 0 | 1 => ".%03d".format(tsMillisPart)
        case 2 => ".%06d".format(tsMillisPart * 1000)
        case _ => ".%09d".format(tsMillisPart.toLong * 1000000L)
      }
      val tagsJson = tags.map { case (k, v) => s""""$k":"$v"""" }
        .mkString("{", ",", "}")
      val labelsJson = labels.map(l => s""""$l"""").mkString("[", ",", "]")
      // int64 quoted per the protojson spec on even rows, bare number
      // (accepted by real parsers, and by ours) on odd rows
      val valueJson = if (i % 2 == 0) s""""$value"""" else s"$value"
      s"""{"name":"$name","type":"$enumName",""" +
        s""""timestamp":"$iso${frac}Z",""" +
        s""""value":$valueJson,"tags":$tagsJson,"labels":$labelsJson}"""
    }
  }

  val fixtures: Seq[Fixture] = (0 until NumRows).map(Fixture)

  /** Wire-encoded, varint-framed batches — what would arrive in a
    * WriteBatch payload (reference ingest_service.go:152-177).
    */
  def frames: Seq[Array[Byte]] =
    fixtures.grouped(MsgsPerFrame).map { group =>
      Wire.joinFrames(group.map(f => ProtoRows.encodeValues(message, f.protoValues)))
    }.toSeq

  val q25 = Q(
    "q25_transcode_e2e",
    (spark, _) => {
      import spark.implicits._
      val binding = SchemaBinder.bind(message, table)
      val decoded = ProtoRows.decodeFramed(spark.createDataset(frames), message)
      binding.transcode(decoded)
        .transform(sinkSelect)
    },
    Some {
      val rows = fixtures.map { f =>
        def s(x: String) = "'" + x.replace("'", "''") + "'"
        Seq[Any](s(f.name), f.typeCode, f.tsMillis, f.value,
          s(f.tags.map(_._1).mkString(",")),
          s(f.tags.map(_._2).mkString(",")),
          s(f.labels.mkString(","))).mkString("(", ", ", ")")
      }
      s"""
      SELECT name,
             CAST(type_code AS TINYINT) AS type_code,
             CAST(ts_ms AS BIGINT) AS ts_ms,
             CAST(value AS BIGINT) AS value,
             tag_keys, tag_values, labels
      FROM (VALUES
        ${rows.mkString(",\n        ")})
        AS t(name, type_code, ts_ms, value, tag_keys, tag_values, labels)
      ORDER BY value"""
    })

  /** The same 64 fixture rows driven through the STREAMING path
    * (D1-D5) with ONE writer: queue admission → a micro-batch read as
    * one slice → decode → transcode → the DSv2 landing sink's part
    * file, published by its epoch commit — then read back. Oracle
    * identical to q25: the streaming pipeline must land exactly what
    * batch transcode produces (batch-stream equivalence). q41 lands the same rows with two writers, so the
    * pair covers the one-slice and the multi-slice plan.
    */
  val q33 = Q(
    "q33_stream_transcode",
    (spark, _) => {
      import graft.streaming.{QueueIngest, RowBuffer}
      val binding = SchemaBinder.bind(message, table)
      val batches = fixtures.grouped(MsgsPerFrame)
        .map(_.map(f => ProtoRows.encodeValues(message, f.protoValues)))
        .toSeq
      QueueIngest.runOnce(spark, message, binding, batches,
          capacity = NumRows, onFull = RowBuffer.Block, numWriters = 1,
          name = "q33")
        .transform(sinkSelect)
    },
    q25.oracle)

  /** S5: the same fixture rows ingested as protojson lines (the
    * reference's bristle-forward-json input format) through
    * JsonLines.parse → the SAME binding — one binder, two wire
    * formats, one oracle.
    */
  val q35 = Q(
    "q35_jsonl_ingest",
    (spark, _) => {
      import spark.implicits._
      val binding = SchemaBinder.bind(message, table)
      val lines = spark.createDataset(fixtures.map(_.protojsonLine))
      binding.transcode(graft.streaming.JsonLines.parse(lines, message))
        .transform(sinkSelect)
    },
    q25.oracle)

  /** S1/S2 as a REAL custom DataSourceV2 MicroBatchStream: the same
    * fixture rows admitted through QueueSource's in-source admission
    * control, streamed out as micro-batches, transcoded, landed by the
    * idempotent sink. Oracle identical to q25 — the custom source must
    * be invisible in the landed values.
    */
  val q41 = Q(
    "q41_queue_ingest",
    (spark, _) => {
      import graft.streaming.{QueueIngest, RowBuffer}
      val binding = SchemaBinder.bind(message, table)
      val batches = fixtures.grouped(MsgsPerFrame)
        .map(_.map(f => ProtoRows.encodeValues(message, f.protoValues)))
        .toSeq
      QueueIngest.runOnce(spark, message, binding, batches,
          capacity = NumRows, onFull = RowBuffer.Block, name = "q41")
        .transform(sinkSelect)
    },
    q25.oracle)

  /** S6 driver-verified: the sink schema is INTROSPECTED from a landed
    * parquet footer (ChCatalog.fromParquet — the system.columns
    * analog), and the binding compiled against those introspected
    * columns must transcode identically to the hand-declared table:
    * land → introspect → re-bind → transcode, one oracle.
    */
  val q48 = Q(
    "q48_catalog_bind",
    (spark, _) => {
      import spark.implicits._
      val landed = java.nio.file.Files
        .createTempDirectory("graft-catalog-").resolve("t").toString
      SchemaBinder.bind(message, table)
        .transcode(ProtoRows.decodeFramed(spark.createDataset(frames), message))
        .write.mode("overwrite").parquet(landed)
      val introspected = graft.bind.ChCatalog.fromParquet(spark, landed)
      val binding = SchemaBinder.bind(message, introspected)
      binding.transcode(
          ProtoRows.decodeFramed(spark.createDataset(frames), message))
        .transform(sinkSelect)
    },
    q25.oracle)

  /** Lands every fixture batch through a [[graft.net.BristleServer]]
    * assembled from a config file + descriptor set (the reference's
    * startup path, server.go + config.json): a client registers the
    * message type for a session id and streams every batch with
    * per-batch acks, then the landed queue drains through the
    * MicroBatchStream → transcode → idempotent-sink pipeline. `grpc`
    * picks real gRPC over HTTP/2 (the `grpc_port` endpoint) instead of
    * the socket protocol.
    */
  private def wireIngest(spark: org.apache.spark.sql.SparkSession,
      grpc: Boolean): org.apache.spark.sql.DataFrame = {
    import graft.net.{BristleServer, GrpcIngestClient, IngestClient, IngestSession}
    import graft.streaming.QueueIngest
    val base = Files.createTempDirectory("graft-wire-ingest-")
    // descriptor set on disk, as the reference deploys schemas
    val in = getClass.getResourceAsStream("/descriptors/example.pb")
    Files.write(base.resolve("example.desc"), in.readAllBytes())
    in.close()
    val colsJson = table.map { c =>
      val d = if (c.default.isEmpty) ""
        else s""", "default": "${c.default.replace("\"", "\\\"")}""""
      s"""{"name": "${c.name}", "type": "${c.typeString}"$d}"""
    }.mkString("[", ", ", "]")
    val grpcPort = if (grpc) """, "grpc_port": 0""" else ""
    Files.write(base.resolve("config.json"),
      s"""{
         |  "ingest": {"bind_port": 0$grpcPort, "max_in_flight": 12},
         |  "proto_descriptor_paths": ["${base.resolve("example.desc")}"],
         |  "catalogs": [{
         |    "name": "landing",
         |    "tables": {"example": {
         |      "capacity": $NumRows,
         |      "on_full": "block",
         |      "messages": ["ExampleMessage"],
         |      "columns": $colsJson
         |    }}}]
         |}""".stripMargin.getBytes("UTF-8"))
    val server = new BristleServer(base.resolve("config.json")).start()
    try {
      val client: IngestSession =
        if (grpc) new GrpcIngestClient("127.0.0.1", server.grpc.get.boundPort)
        else new IngestClient("127.0.0.1", server.ingest.boundPort)
      try {
        client.registerType("ExampleMessage")
        fixtures.grouped(MsgsPerFrame).foreach { group =>
          val bodies = group.map(f =>
            ProtoRows.encodeValues(message, f.protoValues))
          val r = client.writeBatch("ExampleMessage", bodies)
          require(r == graft.net.ControlProto.BatchResult.Ok,
            s"wire ingest batch rejected: $r")
        }
      } finally client.close()
      val binding = SchemaBinder.bind(message, table)
      QueueIngest.drain(spark, "landing.example", message, binding)
        .transform(sinkSelect)
    } finally {
      server.stop()
      server.queues.keys.foreach(graft.sources.QueueSource.drop)
    }
  }

  /** S1/S2 over the REAL network: the fixture rows sent over a TCP
    * socket into a config-assembled server ([[wireIngest]]). Oracle
    * identical to q25 — the wire hop must be invisible in the landed
    * values.
    */
  val q64 = Q("q64_wire_ingest", (spark, _) => wireIngest(spark, grpc = false),
    q25.oracle)

  /** S1/S2 over the reference's ACTUAL transport: same assembly as
    * q64, but the client speaks real gRPC over HTTP/2 — netty h2c on
    * both sides, `bristle.BristleIngestService/Streaming` bidi with
    * register/identify and per-batch acks as length-prefixed gRPC
    * frames. Oracle identical to q25: the HTTP/2 hop must be invisible
    * in the landed values.
    */
  val q100 = Q("q100_grpc_ingest", (spark, _) => wireIngest(spark, grpc = true),
    q25.oracle)

  val all: Seq[Q] = Seq(q25, q33, q35, q41, q48, q64, q100)
}
