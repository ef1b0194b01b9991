package graft.streaming

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.concurrent.ArrayBlockingQueue

import org.apache.spark.sql.{DataFrame, Row}

/** Transactional batch INSERT sink over plain JDBC — the executable
  * analog of the reference's ClickHouse writer (SURVEY §2 D5;
  * semantics from `clickhouse_table_writer.go:115-149` and the query
  * generator `clickhouse_table.go:87-111`):
  *
  *  - one cached `INSERT INTO t (c…) VALUES (?…)` per table, built
  *    once from the column list
  *  - one transaction per batch: prepare, exec per row, commit — a
  *    failing row aborts the whole batch (rollback, NO partial rows)
  *  - commit failure DISCARDS the connection instead of returning it
  *    to the pool (the reference closes the conn because its driver
  *    leaks it otherwise); any other failure rolls back and releases
  *  - idempotent replay: each batch carries a `batch_key`; the tx
  *    deletes the key's prior rows before inserting, so re-delivering
  *    a batch (streaming retry, foreachBatch replay after a crash)
  *    converges to exactly-once OUTPUT without engine support
  *
  * The pool is deliberately tiny and explicit (get / release /
  * discard) to make the discard-on-commit-error path testable — the
  * unit suite (JdbcSinkSpec) drives it against embedded Derby, a real
  * transactional SQL engine, with a proxied Connection whose commit
  * throws to pin the discard branch.
  *
  * Scale shape: the Spark entry point writes per PARTITION with its
  * own connection and (batchId, partitionId) idempotence key — the
  * unit of atomicity is the partition batch, exactly the reference's
  * per-writer batch, and no executor ever routes rows through the
  * driver.
  */
object JdbcSink {

  /** Identifier delimiting and INSERT spelling live on the dialect
    * seam now (VERDICT r14 #4, [[graft.bind.SqlDialect]]): the ANSI
    * arm delimits only names that need it, the ClickHouse arm encloses
    * every column and ends with `;` exactly as the reference's cached
    * insert query does (`clickhouse_table.go:87-111`). These
    * delegates keep the historical entry points.
    */
  private def ident(name: String): String =
    graft.bind.AnsiDialect.ident(name)

  /** `INSERT INTO t (c1,…) VALUES (?,…)` in the ANSI arm's spelling —
    * built once and reused for every batch, like the reference's
    * cached insert query.
    */
  def insertSql(table: String, cols: Seq[String]): String =
    graft.bind.AnsiDialect.insertSql(table, cols)

  /** The array dialect seam (VERDICT r11 #3; reference parity
    * `clickhouse_table.go:375-377`, `examples/finnhub.sql:6`
    * `tradeConditions Array(LowCardinality(String))`, and the Nested
    * map flatten's two parallel arrays `clickhouse_table.go:183-201`):
    * engines whose JDBC drivers take java arrays straight through
    * `setObject` get them natively; every ANSI engine without array
    * columns (Derby, the test twin) lands Array(T) as canonical JSON
    * text — `to_json` on the write side, `from_json` the exact inverse
    * on read-back for the binder's scalar element types.
    */
  val nativeArrayUrlPrefixes: Seq[String] =
    Seq("jdbc:clickhouse:", "jdbc:ch:", "jdbc:postgresql:")
  def arraysNative(url: String): Boolean =
    nativeArrayUrlPrefixes.exists(url.startsWith)

  /** ANSI-ish DDL for a Spark schema (+ the batch_key column), for
    * creating the landing table on engines like Derby/Postgres. Array
    * columns map to the JSON-text serialization column (see
    * [[arraysNative]]); native-array engines own their DDL — the
    * reference never creates tables either, it introspects ones the
    * engine already has (`clickhouse_cluster.go:74-91`).
    */
  def ddlFor(table: String, schema: org.apache.spark.sql.types.StructType,
      keyCol: String = "batch_key"): String = {
    import org.apache.spark.sql.types._
    def sqlType(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "SMALLINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case StringType => "VARCHAR(4096)"
      case BinaryType => "BLOB"
      case TimestampType => "TIMESTAMP"
      case DateType => "DATE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      // JSON text of an Array(T) column; 32672 is Derby's VARCHAR cap
      case ArrayType(e, _) if sqlType(e) != null => "VARCHAR(32672)"
      case other => throw new IllegalArgumentException(
        s"no generic JDBC mapping for $other — dialect-specific (see scaladoc)")
    }
    val cols = schema.fields.map(f =>
      s"${ident(f.name)} ${sqlType(f.dataType)}${if (f.nullable) "" else " NOT NULL"}")
    s"CREATE TABLE $table ($keyCol VARCHAR(64) NOT NULL, ${cols.mkString(", ")})"
  }

  /** Write-side half of the ANSI arm: Array(T) columns → canonical
    * JSON text via `to_json` (codegen'd, runs where the rows are — the
    * serialization never visits the driver). Scalar columns pass
    * through untouched.
    */
  def serializeArrays(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.to_json
    import org.apache.spark.sql.types.ArrayType
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        // df(name) resolves dotted Nested names (tags.key) exactly
        case _: ArrayType => to_json(df(s"`${f.name}`")).as(f.name)
        case _ => df(s"`${f.name}`")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Read-back inverse of [[serializeArrays]]: parse the JSON-text
    * columns back to `target`'s array types (exact for the binder's
    * long/string element types — the round-trip the spec pins).
    */
  def parseArrays(df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.from_json
    import org.apache.spark.sql.types.ArrayType
    val cols = target.fields.map { f =>
      f.dataType match {
        case a: ArrayType => from_json(df(s"`${f.name}`"), a).as(f.name)
        case _ => df(s"`${f.name}`")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Connection pool with checkout/ping/evict/limit semantics —
    * SURVEY §2 D13, the reference's cluster pool
    * (`clickhouse_cluster.go:110-182`):
    *
    *  - checkout PINGS the candidate (JDBC `isValid`); a dead conn is
    *    closed and its slot freed for a fresh dial — `GetConn`'s
    *    ping → Close → delete → re-dial flow;
    *  - `size` caps live connections; [[tryGet]] at capacity returns
    *    None (the reference's `ErrNoConn` — it does not block, its
    *    own TODO notes "eventually we may want to block here");
    *  - [[get]] is the blocking evolution that TODO asks for, used by
    *    the sink's write path;
    *  - an explicit [[discard]] path for commit-error conns.
    *
    * One deliberate divergence: the reference's `GetConn` tail
    * bookkeeping (`clickhouse_cluster.go:179`) inserts `selectedConn`
    * — still nil on the fresh-dial path — so a newly dialed conn is
    * only tracked once `ReleaseConn`ed while a nil key pads the map;
    * this pool counts the dial itself (intended semantics).
    */
  final class Pool(size: Int, connect: () => Connection) {
    def this(url: String, size: Int) =
      this(size, () => DriverManager.getConnection(url))
    private val idle = new ArrayBlockingQueue[Connection](size)
    private var created = 0
    @volatile var discarded = 0 // observability for tests/metrics

    /** `isValid` is the JDBC spelling of the reference's `Ping`; a
      * driver that throws on a closed conn means "dead" too.
      */
    private def ping(c: Connection): Boolean =
      try c.isValid(1) catch { case _: Exception => false }

    /** Ping-on-checkout: null in → null out; dead in → evicted
      * (closed, slot freed) and null out; live in → out.
      */
    private def validOrEvict(c: Connection): Connection =
      if (c == null || ping(c)) c
      else { discard(c); null }

    /** Never blocks while holding the monitor (a waiter parked inside
      * `synchronized` would deadlock discard()/close(), which need
      * it), and re-checks dial capacity periodically so capacity freed
      * by a discard() or eviction is re-dialed by whoever is waiting.
      */
    def get(): Connection = {
      var c: Connection = validOrEvict(idle.poll())
      while (c == null) {
        val dialed = synchronized {
          // count the slot only after connect() succeeds — a failed
          // dial must not leak capacity
          if (created < size) { val cc = connect(); created += 1; Some(cc) }
          else None
        }
        c = dialed.getOrElse(validOrEvict(
          idle.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)))
      }
      c
    }

    /** Non-blocking checkout — the reference's `GetConn` shape: an
      * idle live conn, else a fresh dial if under the cap, else None
      * (`ErrNoConn`). Dead idle conns found on the way are evicted.
      */
    def tryGet(): Option[Connection] = {
      var c: Connection = null
      var drained = false
      while (c == null && !drained) {
        val p = idle.poll()
        if (p == null) drained = true else c = validOrEvict(p)
      }
      if (c != null) Some(c)
      else synchronized {
        if (created < size) { val cc = connect(); created += 1; Some(cc) }
        else None
      }
    }
    def release(c: Connection): Unit = idle.put(c)
    def discard(c: Connection): Unit = {
      try c.close() catch { case _: Exception => () }
      // both counters under the monitor: ping-eviction makes discard
      // reachable from any checkout thread, and `discarded += 1` on a
      // bare volatile is a lost-update race
      synchronized { created -= 1; discarded += 1 }
    }
    def close(): Unit = synchronized {
      var c = idle.poll()
      while (c != null) { try c.close() catch { case _: Exception => () }; c = idle.poll() }
      created = 0
    }
  }

  /** One batch, one transaction. Returns normally only if the batch
    * is durably committed; throws after rollback (no partial rows) on
    * any row error, and after DISCARDING the connection on a commit
    * error. `batchKey` makes redelivery idempotent: the same tx that
    * inserts the rows first deletes the key's previous rows.
    */
  def writeBatch(pool: Pool, table: String, cols: Seq[String],
      batchKey: String, rows: Iterator[Seq[Any]],
      keyCol: String = "batch_key", nativeArrays: Boolean = false,
      dialect: graft.bind.SqlDialect = graft.bind.AnsiDialect): Int = {
    val conn = pool.get()
    var committed = false
    var n = 0
    try {
      conn.setAutoCommit(false)
      val del = conn.prepareStatement(s"DELETE FROM $table WHERE $keyCol = ?")
      try { del.setString(1, batchKey); del.executeUpdate() } finally del.close()
      val stmt: PreparedStatement =
        conn.prepareStatement(dialect.insertSql(table, keyCol +: cols))
      try {
        rows.foreach { row =>
          stmt.setString(1, batchKey)
          var i = 0
          while (i < row.length) {
            row(i) match {
              // the Spark entry serializes arrays before rows reach
              // here (serializeArrays); this arm covers direct callers
              // handing Seq cells: native drivers take a java array
              // through setObject, ANSI engines get the same JSON text
              // the to_json arm writes
              case s: scala.collection.Seq[_] =>
                if (nativeArrays)
                  stmt.setObject(i + 2,
                    s.map(_.asInstanceOf[AnyRef]).toArray[AnyRef])
                else stmt.setString(i + 2, jsonArrayText(s))
              case v => stmt.setObject(i + 2, v.asInstanceOf[AnyRef])
            }
            i += 1
          }
          stmt.executeUpdate()
          n += 1
        }
      } finally stmt.close()
      try {
        conn.commit()
        committed = true
      } catch {
        case e: Exception =>
          // reference parity: clickhouse-go leaks the conn on commit
          // error, so the writer closes it instead of releasing
          pool.discard(conn)
          throw e
      }
      pool.release(conn)
      n
    } catch {
      case e: Exception if !committed =>
        if (!conn.isClosed) {
          try conn.rollback() catch { case _: Exception => () }
          pool.release(conn)
        }
        throw e
    }
  }

  /** foreachBatch-shaped Spark entry: lands `df` into `table` with
    * one connection + one tx PER PARTITION and idempotence key
    * `"<batchId>:<partitionId>"`. A server drain reads each
    * micro-batch as one partition per configured writer, so this is
    * one transaction per writer per batch (`pid < writers`), the
    * reference's per-writer batched INSERT
    * (clickhouse_table_writer.go:115-149). Executors dial `url`
    * directly — rows never visit the driver. Column order is the
    * DataFrame's.
    * Replay safety assumes attempts of one partition run serially
    * (Spark's default — speculation off); with speculation on, give
    * the table a (batch_key, row-key) primary key so the loser's
    * duplicate insert aborts its own tx (the reference relies on the
    * same whole-batch-abort behavior).
    */
  def sinkBatch(df: DataFrame, batchId: Long, url: String,
      table: String): Unit = {
    // dialect arm: serialize Array(T) columns to JSON text for ANSI
    // engines BEFORE rows leave Spark (codegen, executor-side); native
    // drivers get the arrays untouched
    val native = arraysNative(url)
    val out = if (native) df else serializeArrays(df)
    val cols = out.columns.toSeq
    out.rdd.foreachPartition { (it: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      // dialect resolved executor-side from the url (a captured
      // dialect object would ride the task closure)
      val pool = new Pool(url, 1)
      try {
        writeBatch(pool, table, cols, s"$batchId:$pid",
          it.map(_.toSeq), nativeArrays = native,
          dialect = graft.bind.SqlDialect.forUrl(url))
        ()
      } finally pool.close()
    }
  }

  /** JSON text of one array cell, matching `to_json`'s canonical form
    * (no spaces, JSON string escaping, numbers/booleans raw) so direct
    * writeBatch callers and the Spark entry land byte-identical text.
    */
  private[streaming] def jsonArrayText(s: scala.collection.Seq[_]): String =
    s.map {
      case null => "null"
      case v: String =>
        val b = new StringBuilder("\"")
        v.foreach {
          case '"' => b ++= "\\\""
          case '\\' => b ++= "\\\\"
          case '\n' => b ++= "\\n"
          case '\r' => b ++= "\\r"
          case '\t' => b ++= "\\t"
          case '\b' => b ++= "\\b"
          case '\f' => b ++= "\\f"
          case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
          case c => b += c
        }
        (b += '"').result()
      case v => v.toString
    }.mkString("[", ",", "]")
}
