package graft.sources.connector

import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.readStream.format("graft-connector")` — an offset-based DataSource
  * V2 streaming source that IS the engine side of the at-least-once
  * connector protocol ([[Wire]]; reference machida/lib/wallaroo/
  * experimental/connectors.py `BaseSource`/`AtLeastOnceSourceConnector`):
  * external senders connect over a live TCP socket, handshake
  * (Hello → Ok), announce streams (Notify → NotifyAck carrying the RESUME
  * position), and send framed messages whose `message_id` is the sender's
  * own point of reference.
  *
  * The Spark twin of the reference's per-worker source listener:
  *  - **Offsets ARE the por map.** A batch offset is `{stream_id: por}`;
  *    Spark's offset WAL therefore persists exactly the protocol's
  *    replay positions — no secondary bookkeeping diverges from it.
  *  - **Commit = Ack.** When Spark commits a batch (downstream sink made
  *    it durable), the source sends `Ack(credits, [(sid, por)])` to every
  *    connected sender, which releases its buffered tail ≤ por, and the
  *    driver-side receive buffer evicts the same range. The acked por is
  *    also persisted next to the checkpoint so a RESTARTED query answers
  *    `NotifyAck` with the exact resume position before any batch runs —
  *    a reconnecting sender re-sends only the unflushed tail.
  *  - **Replay between committed and WAL-end** is the sender's half of the
  *    contract: after a crash, `planInputPartitions(start, end)` blocks
  *    until the reconnected sender has re-sent past `end` (bounded by
  *    `replayTimeoutMs`), mirroring how the reference engine stalls a
  *    recovering source until its connector catches up.
  *
  * Scale shape: one listener per source instance on the driver — the same
  * topology as the reference, where every worker runs one source listener
  * and a pipeline fans out AFTER ingest. Credits bound the in-flight
  * window (sender-side backpressure → driver memory is `credits ×
  * frame size` at most); for more ingest bandwidth run N listeners and
  * `union` the N sources, each with its own checkpoint lineage.
  *
  * Options: `port` (required; 0 = ephemeral, see [[ConnectorRegistry]]),
  * `cookie` (handshake secret, default empty), `credits` (initial window,
  * default 65536), `replayTimeoutMs` (default 60000).
  */
class ConnectorSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-connector"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ConnectorSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ConnectorTable(new CaseInsensitiveStringMap(properties))
}

object ConnectorSource {
  /** Warn-once latch for [[ConnectorMicroBatchStream.flushDurableAcks]]'s
    * offset-log parse fallback. */
  private[connector] val warnedOffsetLogParse =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One row per protocol Message, positions included so downstream logic
    * can key, dedup, or order on them exactly like the reference's
    * decoder sees (stream_id, message_id, event_time, key, payload).
    */
  val Schema: StructType = StructType(Seq(
    StructField("stream_id", LongType, nullable = false),
    StructField("message_id", LongType, nullable = false),
    StructField("event_time", LongType, nullable = false),
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true)))
}

final class ConnectorTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-connector:${options.get("port")}"
  override def schema(): StructType = ConnectorSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ConnectorSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ConnectorMicroBatchStream(opts, checkpointLocation)
      }
    }
}

/** Offset = the por frontier per stream, JSON `{"<stream_id>":<por>}`. */
final case class ConnectorOffset(pors: SortedMap[Long, Long]) extends Offset {
  override def json(): String =
    pors.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

object ConnectorOffset {
  val empty: ConnectorOffset = ConnectorOffset(SortedMap.empty)
  def parse(json: String): ConnectorOffset = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) empty
    else ConnectorOffset(SortedMap.from(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toLong -> v.trim.toLong
    }))
  }
}

/** Lets a test (or co-located sender) discover the bound port of an
  * ephemeral (`port=0`) listener: keyed by the `name` option.
  */
object ConnectorRegistry {
  private val ports = new ConcurrentHashMap[String, Integer]()
  private[connector] def publish(name: String, port: Int): Unit =
    if (name != null && name.nonEmpty) ports.put(name, port)
  /** Remove `name` only if it still maps to `port` — a restarted query
    * re-publishes the same name with a new port, and the OLD stream's
    * (possibly later-running) close must not erase the new registration.
    */
  private[connector] def retract(name: String, port: Int): Unit =
    if (name != null && name.nonEmpty) ports.remove(name, Integer.valueOf(port))
  def port(name: String): Option[Int] = Option(ports.get(name)).map(_.toInt)
}

final class ConnectorMicroBatchStream(options: CaseInsensitiveStringMap,
    checkpointLocation: String) extends MicroBatchStream {

  private val replayTimeoutMs =
    options.getLong("replayTimeoutMs", 60000L)
  // checkpointLocation may arrive as a file: URI, not a filesystem path
  private val porFile: Path = {
    val base =
      if (checkpointLocation.startsWith("file:"))
        Paths.get(java.net.URI.create(checkpointLocation))
      else Paths.get(checkpointLocation)
    base.resolve("graft-connector-por.json")
  }

  /** Committed (= acked) por per stream; survives restart via `porFile`
    * so NotifyAck can answer with the resume position immediately.
    */
  private val committed: SortedMap[Long, Long] = {
    if (Files.exists(porFile))
      ConnectorOffset.parse(
        new String(Files.readAllBytes(porFile), StandardCharsets.UTF_8)).pors
    else SortedMap.empty
  }

  private val server = new ConnectorServer(
    options.getInt("port", 0),
    options.getOrDefault("cookie", ""),
    options.getInt("credits", 65536),
    committed)
  private val regName = options.getOrDefault("name", "")
  ConnectorRegistry.publish(regName, server.port)

  override def initialOffset(): Offset = ConnectorOffset(committed)

  override def deserializeOffset(json: String): Offset =
    ConnectorOffset.parse(json)

  override def latestOffset(): Offset = {
    flushDurableAcks()
    ConnectorOffset(server.frontier())
  }

  // ------------------------------------------------------------- ack flow

  /** Monotone union of everything acked so far — a batch whose end offset
    * omits a quiet stream must not erase that stream's resume position.
    */
  private var ackedSoFar: SortedMap[Long, Long] = committed

  /** Persist the resume positions, then turn them into protocol Acks. */
  private def ackPors(pors: SortedMap[Long, Long]): Unit = synchronized {
    ackedSoFar = pors.foldLeft(ackedSoFar) { case (acc, (sid, por)) =>
      if (por > acc.getOrElse(sid, Long.MinValue)) acc.updated(sid, por) else acc
    }
    // persist BEFORE acking: a crash between the two re-sends a tail
    // (at-least-once) rather than losing the resume position
    val tmp = porFile.resolveSibling(porFile.getFileName.toString + ".tmp")
    Files.createDirectories(porFile.getParent)
    Files.write(tmp,
      ConnectorOffset(ackedSoFar).json().getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, porFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    server.ackAndEvict(pors)
  }

  private val sourceCkptDir = porFile.getParent // <queryCkpt>/sources/<idx>
  private val sourceIdx =
    sourceCkptDir.getFileName.toString.toIntOption.getOrElse(0)
  private val queryCkptDir = sourceCkptDir.getParent.getParent
  private var lastFlushedCommit = -1L

  /** Spark only calls `commit(N)` when batch N+1 starts, so the LAST
    * batch's rows — durable per the commit log — would never be acked on
    * an idle stream, and a sender lingering for its final ack (the EOS
    * flow) would wait forever. The commit log is the durability truth:
    * poll it from the trigger loop and ack as soon as a batch lands,
    * one batch earlier than the `commit()` callback. Best-effort;
    * `commit()` remains the authoritative (idempotent) path.
    */
  private def flushDurableAcks(): Unit = {
    try {
      val commitsDir = queryCkptDir.resolve("commits")
      if (!Files.exists(commitsDir)) return
      val stream = Files.list(commitsDir)
      val maxBatch =
        try stream.iterator().asScala
          .flatMap(p => p.getFileName.toString.toLongOption).maxOption
            .getOrElse(-1L)
        finally stream.close()
      if (maxBatch <= lastFlushedCommit) return
      val offFile = queryCkptDir.resolve("offsets").resolve(maxBatch.toString)
      if (!Files.exists(offFile)) return
      // offset-seq layout: line 0 version, line 1 metadata, then one
      // serialized offset per source in declaration order
      val lines = Files.readAllLines(offFile).asScala.filter(_.nonEmpty)
      lines.drop(2).toSeq.lift(sourceIdx).foreach { line =>
        if (line.startsWith("{")) ackPors(ConnectorOffset.parse(line).pors)
      }
      lastFlushedCommit = maxBatch
    } catch {
      case e: Exception =>
        // Best-effort by design, but never SILENTLY so: this parses Spark's
        // internal offset-log layout, and if a Spark upgrade changes it the
        // early-ack path degrades to commit()-only (idle streams then wait
        // for the next batch's commit callback). Say it once.
        if (!ConnectorSource.warnedOffsetLogParse.getAndSet(true))
          System.err.println(
            "graft-connector: early-ack offset-log parse failed (" + e +
              "); falling back to commit()-callback acks only. The " +
              "checkpoint offset-log layout may have changed in this " +
              "Spark version — see ConnectorOffsetLogLayoutSpec.")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ConnectorOffset].pors
    val e = end.asInstanceOf[ConnectorOffset].pors
    // recovery contract: block until the (re-sending) senders have covered
    // the WAL range — the tail between the last ack and the batch end
    val deadline = System.currentTimeMillis + replayTimeoutMs
    while (!server.covers(e) && System.currentTimeMillis < deadline)
      Thread.sleep(20)
    if (!server.covers(e))
      throw new java.io.IOException(
        s"graft-connector: senders did not replay to ${ConnectorOffset(e).json()} " +
          s"within ${replayTimeoutMs}ms (have ${ConnectorOffset(server.frontier()).json()}); " +
          "an at-least-once sender must reconnect and re-send from its acked por")
    e.toArray.map { case (sid, hi) =>
      // no start position for a new stream → everything up to hi
      server.slice(sid, s.getOrElse(sid, Long.MinValue), hi)
    }.filter(_.numRows > 0).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ConnectorReaderFactory

  override def commit(end: Offset): Unit =
    ackPors(end.asInstanceOf[ConnectorOffset].pors)

  override def stop(): Unit = {
    server.close()
    ConnectorRegistry.retract(regName, server.port)
  }
}

/** One buffered slice of one stream (`lo < message_id ≤ hi`), shipped
  * driver → executor inside the task, in columnar form:
  *  - `messageIds` and `eventTimes`: one entry per row, in message-id order;
  *  - `lengths`: the key and the value length of each row, in that order
  *    (`2 * numRows` entries), where -1 is a null key or value, so null and
  *    empty stay distinct;
  *  - `bytes`: every non-null key and value, back to back in row order.
  *
  * Why columnar: the scan's plan holds its input partitions, so Spark
  * Java-serialises each batch's rows three times (the task, and the two
  * stage task-binary broadcasts). As one tuple per row, 65,536 rows of
  * ~37 payload bytes took 96 ms to serialise and 55 ms to read back with
  * Spark's `JavaSerializer`, at 6.29 MB (59 bytes a row over the payload);
  * as these arrays, 7 ms and 4 ms at 4.00 MB (24 bytes a row).
  * One partition per stream per batch is kept on measurement: splitting a
  * slice into `defaultParallelism` row ranges did not drain the
  * `stream_windows` burst faster (median 1.66 s against 1.68 s, faster in
  * 2 of 5 interleaved pairs, slowest run 2.04 s against 1.77 s).
  */
final case class ConnectorPartition(
    streamId: Long,
    messageIds: Array[Long],
    eventTimes: Array[Long],
    lengths: Array[Int],
    bytes: Array[Byte])
  extends InputPartition {
  def numRows: Int = messageIds.length
}

object ConnectorPartition {
  /** Lay out `rows` (message_id → (event_time, key, value)) of stream
    * `sid`: one pass sizes the arrays, one copies into them.
    */
  def of(sid: Long,
      rows: java.util.SortedMap[Long, (Long, Array[Byte], Array[Byte])])
      : ConnectorPartition = {
    def size(b: Array[Byte]): Long = if (b == null) 0 else b.length
    var n = 0
    var total = 0L
    val sizing = rows.values.iterator
    while (sizing.hasNext) {
      val (_, k, v) = sizing.next()
      n += 1
      total += size(k) + size(v)
    }
    val mids = new Array[Long](n)
    val ets = new Array[Long](n)
    val lengths = new Array[Int](2 * n)
    val bytes = new Array[Byte](Math.toIntExact(total))
    var off = 0
    def put(b: Array[Byte]): Int =
      if (b == null) -1
      else { System.arraycopy(b, 0, bytes, off, b.length); off += b.length; b.length }
    var i = 0
    val copy = rows.entrySet.iterator
    while (copy.hasNext) {
      val e = copy.next()
      val (et, k, v) = e.getValue
      mids(i) = e.getKey
      ets(i) = et
      lengths(2 * i) = put(k)
      lengths(2 * i + 1) = put(v)
      i += 1
    }
    ConnectorPartition(sid, mids, ets, lengths, bytes)
  }
}

/** Rows `(stream_id, message_id, event_time, key, value)` of one
  * [[ConnectorPartition]], in message-id order.
  */
object ConnectorReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val p = partition.asInstanceOf[ConnectorPartition]
      private var i = -1
      private var off = 0 // start of row i's key in p.bytes
      private var row: InternalRow = _

      private def take(len: Int): Array[Byte] =
        if (len < 0) null
        else {
          val b = java.util.Arrays.copyOfRange(p.bytes, off, off + len)
          off += len
          b
        }

      override def next(): Boolean = {
        i += 1
        if (i >= p.numRows) return false
        val key = take(p.lengths(2 * i))
        val value = take(p.lengths(2 * i + 1))
        row = new GenericInternalRow(Array[Any](
          p.streamId, p.messageIds(i), p.eventTimes(i), key, value))
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

/** Driver-side protocol listener: accepts sender connections, handshakes,
  * buffers Message frames per stream ordered by message_id (a TreeMap, so
  * re-sent duplicates collapse by id), answers Notify with the committed
  * resume por, and turns batch commits into protocol Acks + buffer
  * eviction. All mutation under one lock — the hot path is a buffer
  * insert; row bytes are copied once, into the batch's partition.
  */
private[connector] final class ConnectorServer(requestedPort: Int,
    cookie: String, initialCredits: Int,
    initialCommitted: SortedMap[Long, Long]) extends AutoCloseable {

  private val serverSocket = {
    val ss = new ServerSocket()
    ss.setReuseAddress(true)
    ss.bind(new java.net.InetSocketAddress(requestedPort))
    ss
  }
  val port: Int = serverSocket.getLocalPort

  private val lock = new Object
  // per stream: message_id → (event_time, key, value); ids ≤ committed evicted
  private val buffers =
    scala.collection.mutable.Map.empty[Long, java.util.TreeMap[Long, (Long, Array[Byte], Array[Byte])]]
  private var committedPor: Map[Long, Long] = initialCommitted
  private val conns =
    java.util.Collections.newSetFromMap(new ConcurrentHashMap[Conn, java.lang.Boolean]())
  @volatile private var running = true

  private final class Conn(socket: Socket) {
    private val out = socket.getOutputStream
    @volatile var helloed = false
    /** streams announced on this connection (targets for Ack frames) */
    val streams = java.util.Collections.newSetFromMap(
      new ConcurrentHashMap[java.lang.Long, java.lang.Boolean]())
    /** messages consumed since the last credit replenish */
    val consumed = new java.util.concurrent.atomic.AtomicInteger(0)

    def send(m: Wire.Msg): Unit =
      out.synchronized { Wire.writeFrame(out, m) }

    def closeQuietly(): Unit =
      try socket.close() catch { case _: Throwable => () }

    def run(): Unit = {
      val in = socket.getInputStream
      try {
        var open = true
        while (open && running) {
          Wire.readFrame(in) match {
            case None => open = false
            case Some(Wire.Hello(_, c, _, _)) =>
              if (c == cookie) { helloed = true; send(Wire.Ok(initialCredits)) }
              else { send(Wire.ErrorMsg("bad cookie")); open = false }
            case Some(Wire.Notify(sid, _, _)) if helloed =>
              streams.add(sid)
              val resume = lock.synchronized(
                committedPor.getOrElse(sid, Wire.PorUnknown))
              send(Wire.NotifyAck(success = true, sid, resume))
            case Some(m: Wire.Message) if helloed =>
              consumed.incrementAndGet()
              lock.synchronized {
                if (m.messageId > committedPor.getOrElse(m.streamId, -1L)) {
                  buffers.getOrElseUpdate(m.streamId,
                    new java.util.TreeMap[Long, (Long, Array[Byte], Array[Byte])]())
                    .put(m.messageId, (m.eventTime, m.key, m.payload))
                }
              }
            case Some(_: Wire.Eos) if helloed => () // stream end: final Ack
              // still flows from the last commit; nothing to buffer
            case Some(other) =>
              send(Wire.ErrorMsg(s"unexpected frame $other")); open = false
          }
        }
      } catch { case _: java.io.IOException => () }
      finally { conns.remove(this); closeQuietly() }
    }
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = serverSocket.accept()
        s.setTcpNoDelay(true)
        val c = new Conn(s)
        conns.add(c)
        val t = new Thread(() => c.run(), s"graft-connector-conn-$port")
        t.setDaemon(true); t.start()
      } catch { case _: Throwable => if (running) Thread.sleep(50) }
    }
  }, s"graft-connector-accept-$port")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Latest known position per stream: max(buffered, committed) — monotone
    * even across eviction, so offsets never move backwards.
    */
  def frontier(): SortedMap[Long, Long] = lock.synchronized {
    val keys = buffers.keySet ++ committedPor.keySet
    SortedMap.from(keys.map { sid =>
      val buffered = buffers.get(sid).filterNot(_.isEmpty).map(_.lastKey)
      sid -> math.max(buffered.getOrElse(Long.MinValue),
        committedPor.getOrElse(sid, Long.MinValue))
    })
  }

  /** Does the buffer (or committed history) reach `end` on every stream? */
  def covers(end: SortedMap[Long, Long]): Boolean = lock.synchronized {
    end.forall { case (sid, hi) =>
      committedPor.getOrElse(sid, Long.MinValue) >= hi ||
        buffers.get(sid).filterNot(_.isEmpty).exists(_.lastKey >= hi)
    }
  }

  /** Rows with `lo < message_id ≤ hi` for one stream, in id order. */
  def slice(sid: Long, lo: Long, hi: Long): ConnectorPartition =
    lock.synchronized {
      ConnectorPartition.of(sid, buffers.get(sid) match {
        case None => java.util.Collections.emptySortedMap()
        case Some(b) => b.subMap(lo, false, hi, true)
      })
    }

  /** Batch commit: evict ≤ por, then Ack every connection that announced
    * the stream, replenishing exactly the credits it consumed.
    */
  def ackAndEvict(pors: SortedMap[Long, Long]): Unit = {
    lock.synchronized {
      pors.foreach { case (sid, por) =>
        if (por > committedPor.getOrElse(sid, Long.MinValue)) {
          committedPor = committedPor.updated(sid, por)
          buffers.get(sid).foreach(_.headMap(por, true).clear())
        }
      }
    }
    conns.iterator().asScala.foreach { c =>
      val mine = pors.filter { case (sid, _) => c.streams.contains(sid) }
      if (mine.nonEmpty) {
        val replenish = c.consumed.getAndSet(0)
        try c.send(Wire.Ack(replenish, mine.toSeq))
        catch { case _: java.io.IOException => c.closeQuietly() }
      }
    }
  }

  def close(): Unit = {
    running = false
    conns.iterator().asScala.foreach { c =>
      try c.send(Wire.Restart(null)) catch { case _: Throwable => () }
      c.closeQuietly()
    }
    try serverSocket.close() catch { case _: Throwable => () }
  }
}
