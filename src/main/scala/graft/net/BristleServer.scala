package graft.net

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.bind.{BindError, ChCatalog, ChColumn, SchemaBinder}
import graft.proto.{DescriptorSet, PMessage}
import graft.sources.QueueSource
import graft.streaming.RowBuffer

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Server configuration (reference `config.go:12-86`, example
  * `config.json`): ingest bind, debugging bind, descriptor paths,
  * autobind flag, and per-catalog table settings (capacity, on-full
  * policy, explicit message lists, sink columns). Sink schemas are
  * inline `columns` — the reference introspects them from ClickHouse
  * `system.columns` at connect time; a file-landing build carries the
  * same (name, type, default) tuples in the config, and
  * [[graft.bind.ChCatalog.fromParquet]] can generate them from a
  * landed table.
  *
  * ```json
  * {
  *   "ingest": {"bind_port": 0, "max_in_flight": 12},
  *   "debugging": {"bind_port": 0, "metrics": true},
  *   "proto_descriptor_paths": ["schemas/"],
  *   "autobind": true,
  *   "catalogs": [{
  *     "name": "landing",
  *     "tables": {
  *       "events": {
  *         "capacity": 8192,
  *         "on_full": "block",
  *         "messages": ["graft.Event"],
  *         "columns": [{"name": "id", "type": "UInt64"}]
  *       }}}]
  * }
  * ```
  */
final case class ServerConfig(
    ingestPort: Int,
    maxInFlight: Int,
    grpcPort: Option[Int],
    grpcTls: Option[GrpcIngestServer.Tls],
    maxRecvMessageBytes: Int,
    debugPort: Option[Int],
    descriptorPaths: Seq[String],
    autobind: Boolean,
    catalogs: Seq[ServerConfig.CatalogConf])

object ServerConfig {
  /** `jdbcUrl` (config `jdbc_url`) redirects the table's drain to the
    * transactional JDBC sink (the reference's actual landing shape —
    * INSERTs into a SQL engine) instead of parquet; `landing_dir`
    * stays required for the stream's checkpoint. `jdbc_table`
    * defaults to the table name. A table with a jdbc_url and NO
    * `columns` list introspects its sink schema from the engine's
    * catalog at apply/reload time ([[graft.bind.ChCatalog.fromJdbc]])
    * — the reference's startup shape, where config names tables and
    * ClickHouse's system.columns owns the schemas.
    */
  final case class TableConf(name: String, capacity: Int,
      onFull: RowBuffer.OnFull, messages: Seq[String], columns: Seq[ChColumn],
      landingDir: Option[String] = None, flushIntervalMs: Int = 1000,
      writers: Int = 2, jdbcUrl: Option[String] = None,
      jdbcTable: Option[String] = None)
  final case class CatalogConf(name: String, tables: Seq[TableConf])

  private val mapper = new ObjectMapper()

  private def onFull(s: String): RowBuffer.OnFull = s match {
    case "block" | "" => RowBuffer.Block
    case "drop_oldest" => RowBuffer.DropOldest
    case "drop_newest" => RowBuffer.DropNewest
    case other => throw BindError(s"unknown on_full policy '$other'")
  }

  def parse(json: String): ServerConfig = {
    val root = mapper.readTree(json)
    def opt(n: JsonNode, f: String): Option[JsonNode] =
      Option(n.get(f)).filterNot(_.isNull)
    val ingest = opt(root, "ingest")
    val debugging = opt(root, "debugging")
    val catalogs = opt(root, "catalogs").toSeq
      .flatMap(_.elements().asScala).map { c =>
        val tables = opt(c, "tables").toSeq
          .flatMap(_.properties().asScala).map { e =>
            val t = e.getValue
            val cols = opt(t, "columns").toSeq
              .flatMap(_.elements().asScala).zipWithIndex.map { case (cn, i) =>
                ChColumn(
                  opt(cn, "name").map(_.asText).getOrElse(
                    throw BindError("column without a name")),
                  i + 1,
                  opt(cn, "type").map(_.asText).getOrElse(
                    throw BindError("column without a type")),
                  opt(cn, "default").map(_.asText).getOrElse(""))
              }
            ServerConfig.TableConf(
              e.getKey,
              opt(t, "capacity").map(_.asInt).getOrElse(1 << 16),
              onFull(opt(t, "on_full").map(_.asText).getOrElse("block")),
              opt(t, "messages").toSeq.flatMap(_.elements().asScala)
                .map(_.asText),
              cols,
              opt(t, "landing_dir").map(_.asText),
              opt(t, "flush_interval").map(_.asInt).getOrElse(1000),
              opt(t, "writers").map(_.asInt).getOrElse(2),
              opt(t, "jdbc_url").map(_.asText),
              opt(t, "jdbc_table").map(_.asText))
          }
        CatalogConf(
          opt(c, "name").map(_.asText).getOrElse("default"),
          tables)
      }
    ServerConfig(
      ingestPort = ingest.flatMap(opt(_, "bind_port")).map(_.asInt).getOrElse(0),
      maxInFlight = ingest.flatMap(opt(_, "max_in_flight")).map(_.asInt)
        .getOrElse(12),
      grpcPort = ingest.flatMap(opt(_, "grpc_port")).map(_.asInt),
      // reference TlsConfig (config.go:33-36): PEM file paths
      grpcTls = ingest.flatMap(opt(_, "tls")).map(t =>
        GrpcIngestServer.Tls(
          Paths.get(opt(t, "certificate").map(_.asText).getOrElse(
            throw BindError("tls without a certificate path"))),
          Paths.get(opt(t, "key").map(_.asText).getOrElse(
            throw BindError("tls without a key path"))))),
      // reference `max_receive_message_size` (config.go:41); grpc-go's
      // 4 MiB default when unset
      maxRecvMessageBytes = ingest
        .flatMap(opt(_, "max_receive_message_size")).map(_.asInt)
        .getOrElse(GrpcIngestServer.DefaultMaxRecvBytes),
      debugPort = debugging.flatMap(opt(_, "bind_port")).map(_.asInt),
      descriptorPaths = opt(root, "proto_descriptor_paths").toSeq
        .flatMap(_.elements().asScala).map(_.asText),
      autobind = opt(root, "autobind").exists(_.asBoolean),
      catalogs = catalogs)
  }

  def load(path: Path): ServerConfig =
    parse(new String(Files.readAllBytes(path), "UTF-8"))
}

/** The server assembly (reference `server.go`): load config, load
  * descriptor sets, compile message→table bindings (fail-fast at
  * startup), create admission queues, run the [[IngestServer]] and
  * optional [[DebugServer]] — plus D14, hot config reload: `SIGHUP`
  * (or a direct [[reload]] call) re-reads the config file and
  * atomically swaps the binding/queue registry, exactly the
  * reference's signal loop (`server.go:134-161`): a config that fails
  * to load or apply logs and leaves the running registry untouched.
  *
  * Reload swap rules: every table that stays keeps its live queue,
  * with a changed capacity or on-full policy set in place — buffered
  * rows, and batches admitted by payloads that resolved the queue
  * before the swap, are read by the same drain offsets as before; a
  * new table gets a new queue; a removed table's queue is dropped from
  * the global registry. The writer half of the swap (stop the drains
  * at a barrier, restart them with the new writer count) is
  * [[ServerMain.reloadDrains]].
  */
final class BristleServer(configPath: Path,
    val metrics: Metrics = Metrics.default) {

  import BristleServer.DrainPlan

  @volatile private var conf = ServerConfig.load(configPath)
  @volatile private var targetsNow = Map.empty[String, IngestServer.Target]
  @volatile private var queuesNow = Map.empty[String, QueueSource.IngestQueue]
  @volatile private var drainsNow = Seq.empty[DrainPlan]
  applyConfig(conf, first = true)

  val ingest = new IngestServer(() => targetsNow, conf.ingestPort,
    conf.maxInFlight, metrics = metrics)
  /** The reference transport: `grpc_port` in the `ingest` section
    * serves the same engine over real gRPC/HTTP2 (0 = ephemeral).
    */
  val grpc: Option[GrpcIngestServer] = conf.grpcPort.map(p =>
    new GrpcIngestServer(ingest.engine, p, metrics, conf.grpcTls,
      conf.maxRecvMessageBytes))
  val debug: Option[DebugServer] = conf.debugPort.map(p =>
    new DebugServer(p, metrics, () => statusz()))

  metrics.help("graft_config_reloads_total", "Config reloads, by outcome")
  metrics.help("graft_queue_depth", "Buffered rows per ingest queue")

  private def statusz(): Map[String, String] =
    queuesNow.map { case (name, q) =>
      s"queue.$name.depth" -> (q.endSeq - q.firstSeq).toString
    } ++ Map("bound_types" -> targetsNow.keys.toSeq.sorted.mkString(","))

  /** Queue registry name: `catalog.table`. */
  private def qname(cat: String, table: String): String = s"$cat.$table"

  private def loadMessages(c: ServerConfig): Map[String, PMessage] =
    c.descriptorPaths.flatMap { p =>
      val path = Paths.get(p)
      if (Files.isDirectory(path))
        Files.list(path).iterator().asScala
          .filter(f => { val n = f.getFileName.toString
            n.endsWith(".desc") || n.endsWith(".protoset") || n.endsWith(".bin") })
          .toSeq.sortBy(_.toString)
          .flatMap(DescriptorSet.loadFile)
      else DescriptorSet.loadFile(path)
    }.toMap

  /** Compile the full registry off to the side, then swap — any
    * failure (missing table, bad bind, bad descriptor) throws before
    * anything live is touched.
    */
  private def applyConfig(c: ServerConfig, first: Boolean): Unit = {
    val messages = loadMessages(c)
    // message type → (table qname, table conf, binding): explicit
    // bindings first, autobind (bristle_table option) second,
    // autobind overwriting on collision (BindingRegistry.bindAll order)
    val tablesByQname = (for {
      cat <- c.catalogs; t <- cat.tables
    } yield qname(cat.name, t.name) -> t).toMap
    val explicit = for {
      cat <- c.catalogs
      t <- cat.tables
      m <- t.messages
    } yield {
      val msg = messages.getOrElse(m,
        throw BindError(s"message type '$m' is not registered"))
      m -> (qname(cat.name, t.name), msg)
    }
    val auto = messages.toSeq.collect {
      case (name, msg) if c.autobind && msg.bristleTable.nonEmpty =>
        val tbl = msg.bristleTable.get
        val qn = c.catalogs.iterator
          .flatMap(cat => cat.tables.collectFirst {
            case t if t.name == tbl => qname(cat.name, t.name)
          }).nextOption().getOrElse(
            throw BindError(s"failed to find table $tbl for message $name"))
        name -> (qn, msg)
    }
    // Sink schemas: explicit `columns` win; a table with a jdbc_url
    // and NO columns introspects them from the SQL engine's catalog at
    // apply time — the reference's actual startup shape (it SELECTs
    // system.columns per table, clickhouse_cluster.go:74-91; config
    // carries table names, the engine owns the schema). Introspection
    // failures throw here, inside the compile-then-swap, so a reload
    // against an unreachable/missing table leaves the registry as-is.
    val colsByQname = tablesByQname.map { case (qn, t) =>
      qn -> (t.columns match {
        case cols if cols.nonEmpty => cols
        case _ => t.jdbcUrl match {
          case Some(url) =>
            ChCatalog.fromJdbc(url, t.jdbcTable.getOrElse(t.name))
          case None =>
            throw BindError(s"table $qn has no columns configured " +
              "and no jdbc_url to introspect them from")
        }
      })
    }
    val bound = (explicit ++ auto).map { case (msgName, (qn, msg)) =>
      SchemaBinder.bind(msg, colsByQname(qn)) // fail-fast bind compile
      msgName -> (qn, msg)
    }.toMap
    val drains = bound.toSeq.collect {
      case (msgName, (qn, msg)) if tablesByQname(qn).landingDir.isDefined =>
        DrainPlan(qn, msgName, msg,
          SchemaBinder.bind(msg, colsByQname(qn)), tablesByQname(qn))
    }.sortBy(_.queueName)
    drains.groupBy(_.queueName).foreach { case (qn, ds) =>
      if (ds.size > 1) throw BindError(
        s"table $qn has a landing_dir but ${ds.size} bound message types; " +
          "a drained table must bind exactly one")
    }

    // swap queues: a kept table reconfigures its live queue in place
    // (a replaced one would strand every row admitted into the old
    // object that no drain reads again); new create; removed drop
    val nextQueues = tablesByQname.map { case (qn, t) =>
      qn -> (queuesNow.get(qn) match {
        case Some(q) => q.reconfigure(t.capacity, t.onFull); q
        case None => QueueSource.create(qn, t.capacity, t.onFull)
      })
    }
    (queuesNow.keySet -- nextQueues.keySet).foreach(QueueSource.drop)
    nextQueues.foreach { case (qn, q) =>
      metrics.gauge("graft_queue_depth", "queue" -> qn)(
        (q.endSeq - q.firstSeq).toDouble)
    }
    queuesNow = nextQueues
    // like the queues above, an unchanged message schema keeps its
    // LIVE decode pool across the swap: in-flight checkouts and new
    // payloads share one bound (D12), instead of old+new pools
    // transiently doubling it
    targetsNow = bound.map { case (msgName, (qn, msg)) =>
      msgName -> (targetsNow.get(msgName) match {
        case Some(old) if old.message == msg =>
          if (old.queue eq nextQueues(qn)) old
          else IngestServer.Target(msg, nextQueues(qn), old.scratch)
        case _ => IngestServer.Target(msg, nextQueues(qn))
      })
    }
    drainsNow = drains
    if (!first)
      System.err.println(s"[server] configuration reload completed: " +
        s"${targetsNow.size} bound types, ${nextQueues.size} queues")
  }

  /** Reload the config file; `Left(reason)` leaves the running
    * registry untouched (reference `server.go:146-158`).
    */
  def reload(): Either[String, Unit] =
    try {
      val next = ServerConfig.load(configPath)
      applyConfig(next, first = false)
      conf = next
      metrics.inc("graft_config_reloads_total", "outcome" -> "ok")
      Right(())
    } catch {
      case NonFatal(e) =>
        metrics.inc("graft_config_reloads_total", "outcome" -> "error")
        System.err.println(
          s"[server] configuration reload failed, no action taken: ${e.getMessage}")
        Left(e.getMessage)
    }

  /** Install the `SIGHUP` → [[reload]] hook (reference
    * `server.go:134-145`). Separate from the constructor because
    * signal handlers are process-global: tests and embedded servers
    * call [[reload]] directly instead.
    *
    * Returns whether the hook actually installed. The JVM refuses to
    * override a HUP disposition that was SIG_IGN at process start
    * (`Signal.handle` returns the SIG_IGN pseudo-handler and keeps the
    * signal ignored) — so under `nohup` and some supervisors the hook
    * silently cannot work. The reference does not share this edge:
    * Go's `signal.Notify` overrides an ignored disposition, so the Go
    * server hot-reloads under nohup while a JVM one cannot — hence the
    * loud stderr warning instead of quiet parity loss.
    */
  def installSighup(): Boolean = {
    val old = sun.misc.Signal.handle(new sun.misc.Signal("HUP"),
      (_: sun.misc.Signal) => {
        System.err.println("[server] received SIGHUP, reloading configuration...")
        reload()
        ()
      })
    val installed = old ne sun.misc.SignalHandler.SIG_IGN
    if (!installed)
      System.err.println("[server] SIGHUP was ignored at JVM start " +
        "(nohup?) — the kernel keeps ignoring it and config hot-reload " +
        "via SIGHUP is UNAVAILABLE in this process; use the debug " +
        "endpoint or restart to apply config changes")
    installed
  }

  def targets: Map[String, IngestServer.Target] = targetsNow
  def queues: Map[String, QueueSource.IngestQueue] = queuesNow
  def drains: Seq[DrainPlan] = drainsNow

  def start(): this.type = {
    ingest.start()
    grpc.foreach(_.start())
    debug.foreach(_.start())
    this
  }

  def stop(): Unit = {
    ingest.stop()
    grpc.foreach(_.stop())
    debug.foreach(_.stop())
  }
}

object BristleServer {
  /** One landing drain a runner should keep alive: the queue to read,
    * the message schema to decode, and the table's sink settings. Only
    * built for tables with a `landing_dir`, which must have exactly
    * ONE bound message type — the queue holds raw bodies, so a shared
    * table would make them indistinguishable at decode time (the
    * reference buffers *prepared rows*, which is why it can merge
    * types; our decode runs in the Spark drain). Companion-scoped so
    * the type carries no outer-instance reference.
    */
  final case class DrainPlan(queueName: String, msgType: String,
      message: PMessage, binding: graft.bind.Binding,
      table: ServerConfig.TableConf)
}
