package graft.sources

import java.io.{BufferedReader, File, FileReader}
import java.util.Optional
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Kinesis-semantics Structured Streaming source backed by a directory of
  * shard files (offline-friendly simulator of the reference's ingestion
  * engine, worker/worker.go).
  *
  * Stream layout: `<path>/shard-<id>.jsonl`, one JSON record per line
  * (`sequenceNumber`, `partitionKey`, `data`, `approximateArrivalTimestamp`
  * epoch-millis), plus optional `<path>/shards.json` metadata marking closed
  * shards. Appends to a shard file between micro-batches are picked up
  * (simulating a live stream).
  *
  * Reference mapping (SURVEY.md §2.1):
  *  - S1 shard discovery → [[ShardMicroBatchStream.discover]] lists shard
  *    files per micro-batch (DescribeStream, worker.go:95-112);
  *  - S2 iterator seek → `startingPosition` option resolves the initial
  *    offset per shard: TRIM_HORIZON, LATEST, AT_SEQUENCE_NUMBER,
  *    AFTER_SEQUENCE_NUMBER (worker.go:13-18,148-169);
  *  - S3 micro-batch poll with BatchSize cap → admission control limits each
  *    micro-batch to `batchSize` records per shard (GetRecords Limit,
  *    worker.go:210-214);
  *  - S4 per-shard fan-out → one [[ShardInputPartition]] per shard = one
  *    Spark task per shard (worker.go:102-123);
  *  - S5 shard merge → the partitions union into one DataFrame, per-shard
  *    order preserved, cross-shard interleaving unspecified (worker.go:49);
  *  - S6 rate limiting → `Trigger.ProcessingTime(sleepTime)` at query level
  *    (worker.go:180-196);
  *  - S7 backpressure → micro-batch pull model (inherent);
  *  - S8 error handling → Spark task retry re-reads the partition range;
  *  - S9 lag telemetry → [[ReportsSourceMetrics]] exposes
  *    `recordsBehindLatest` (MillisBehindLatest analogue, worker.go:226-227);
  *  - S10 graceful stop + checkpointed offsets → StreamingQuery.stop() and
  *    offset JSON round-trip; restart resumes exactly-once (the reference
  *    loses position on restart — strict improvement, SURVEY §2.1 quirks);
  *  - closed shards (the reference nil-derefs, worker.go:233): a shard
  *    marked closed in shards.json is drained to EOF and then simply stops
  *    producing — handled, not crashed;
  *  - shard split/merge lineage: a child shard (parentShardId /
  *    adjacentParentShardId in shards.json, api.go:1609-1627) is gated until
  *    its parent(s) are fully drained, preserving per-key order across
  *    resharding (see [[ShardMicroBatchStream.latestOffset]]).
  */
object ShardStream {
  val Schema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", StringType),
    StructField("approximateArrivalTimestamp", TimestampType),
    StructField("shardId", StringType)))

  val TrimHorizon = "TRIM_HORIZON"
  val Latest = "LATEST"
  val AtSequenceNumber = "AT_SEQUENCE_NUMBER"
  val AfterSequenceNumber = "AFTER_SEQUENCE_NUMBER"

  /** S8 fault-injection telemetry: number of reader failures injected by the
    * `chaosFailFirstAttempt` option (test hook — local mode shares the JVM,
    * so the retry spec can assert failures actually fired). */
  val chaosInjectedFailures = new java.util.concurrent.atomic.AtomicLong()

  /** Test/demo helper: write rows as a shard directory. `rows` =
    * (shardId, sequenceNumber, partitionKey, data, arrivalMillis).
    * Shard files are newline-terminated JSONL (every record line ends in
    * '\n' — the head-position counter relies on it).
    *
    * `parents` records split/merge lineage: child shard → (parentShardId,
    * optional adjacentParentShardId), mirroring the reference Shard fields
    * (vendor/.../kinesis/api.go:1609-1627). A split parent appears once as
    * `parentShardId` of each child; a merge's two parents appear as
    * `parentShardId` + `adjacentParentShardId` of the single child. */
  def writeShardDir(dir: String, rows: Seq[(String, String, String, String, Long)],
                    closedShards: Set[String] = Set.empty,
                    parents: Map[String, (String, Option[String])] = Map.empty): Unit = {
    val d = new File(dir)
    d.mkdirs()
    val mapper = new ObjectMapper()
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val w = new java.io.PrintWriter(new File(d, s"shard-$shard.jsonl"), "UTF-8")
      try rs.foreach { case (_, seq, pk, data, ts) =>
        val node = mapper.createObjectNode()
        node.put("sequenceNumber", seq)
        node.put("partitionKey", pk)
        node.put("data", data)
        node.put("approximateArrivalTimestamp", ts)
        w.println(mapper.writeValueAsString(node))
      } finally w.close()
    }
    if (closedShards.nonEmpty || parents.nonEmpty) {
      val ids = (closedShards ++ parents.keys).toSeq.sorted
      val meta = ids.map { s =>
        val node = mapper.createObjectNode()
        node.put("shardId", s)
        if (closedShards(s)) node.put("closed", true)
        parents.get(s).foreach { case (p, adj) =>
          node.put("parentShardId", p)
          adj.foreach(a => node.put("adjacentParentShardId", a))
        }
        mapper.writeValueAsString(node)
      }.mkString("[", ",", "]")
      java.nio.file.Files.writeString(new File(d, "shards.json").toPath, meta)
    }
  }
}

class ShardStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kinesiscat"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ShardStream.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new ShardStreamTable(new CaseInsensitiveStringMap(properties))
}

class ShardStreamTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"kinesiscat(${options.get("path")})"
  override def schema(): StructType = ShardStream.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ShardStream.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ShardMicroBatchStream(opts)
      }
    }
}

/** Offset = per-shard consumed record count (sequence position). */
case class ShardOffsets(positions: Map[String, Long]) extends Offset {
  override def json(): String =
    positions.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${k}":$v""" }.mkString("{", ",", "}")
}

object ShardOffsets {
  private val mapper = new ObjectMapper()
  def fromJson(s: String): ShardOffsets = {
    val node = mapper.readTree(s)
    ShardOffsets(node.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)
  }
}

class ShardMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  private val path = Option(options.get("path"))
    .getOrElse(throw new IllegalArgumentException("kinesiscat source requires option 'path'"))
  /** GetRecords Limit per shard per micro-batch (reference BatchSize,
    * worker.go:21: library default 10; we default higher for throughput). */
  private val batchSize = options.getLong("batchSize", 10000L)
  private val startingPosition = Option(options.get("startingPosition"))
    .getOrElse(ShardStream.Latest).toUpperCase
  private val startingSequenceNumber = Option(options.get("startingSequenceNumber"))

  @transient private val mapper = new ObjectMapper()

  /** S1: shard discovery — list shard files + closed metadata. */
  private def discover(): Map[String, File] = {
    val d = new File(path)
    val files = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("shard-") && f.getName.endsWith(".jsonl"))
    files.map(f => f.getName.stripPrefix("shard-").stripSuffix(".jsonl") -> f).toMap
  }

  /** Per-shard metadata from shards.json: closed flag + split/merge lineage
    * (reference Shard.ParentShardId / AdjacentParentShardId,
    * vendor/.../kinesis/api.go:1609-1627). */
  private case class ShardMeta(closed: Boolean, parents: Seq[String])

  private def shardMeta(): Map[String, ShardMeta] = {
    val meta = new File(path, "shards.json")
    if (!meta.exists()) Map.empty
    else mapper.readTree(meta).elements().asScala.map { n =>
      val parents = Seq("parentShardId", "adjacentParentShardId")
        .map(k => n.path(k).asText("")).filter(_.nonEmpty)
      n.path("shardId").asText() -> ShardMeta(n.path("closed").asBoolean(false), parents)
    }.toMap
  }

  private def closedShards(): Set[String] =
    shardMeta().collect { case (id, m) if m.closed => id }.toSet

  /** Per-file (byteSize, lineCount) cache: shard files are append-only
    * newline-terminated JSONL, so when the size is unchanged the count is
    * reused, and growth is counted incrementally from the previous byte
    * offset — each poll costs O(new data), not O(file). */
  @transient private lazy val lineCache =
    scala.collection.mutable.Map[String, (Long, Long)]()

  private def countLines(f: File): Long = lineCache.synchronized {
    val size = f.length()
    val key = f.getAbsolutePath
    lineCache.get(key) match {
      case Some((bytes, lines)) if bytes == size => lines
      case prev =>
        val (startBytes, startLines) =
          prev.filter(_._1 <= size).getOrElse((0L, 0L)) // truncation → rescan
        val in = new java.io.FileInputStream(f)
        try {
          var toSkip = startBytes
          while (toSkip > 0) { val s = in.skip(toSkip); if (s <= 0) toSkip = 0 else toSkip -= s }
          var lines = startLines
          val buf = new Array[Byte](65536)
          var n = in.read(buf)
          while (n > 0) {
            var i = 0
            while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
            n = in.read(buf)
          }
          lineCache(key) = (size, lines)
          lines
        } finally in.close()
    }
  }

  /** Position of the first record with sequenceNumber >= / > the given one
    * (AT/AFTER semantics over the per-shard ordered file), compared
    * numerically by [[KinesisStream.seqCompare]]. */
  private def seekPosition(f: File, seq: String, after: Boolean): Long = {
    val r = new BufferedReader(new FileReader(f))
    try {
      var idx = 0L
      var line = r.readLine()
      while (line != null) {
        val s = mapper.readTree(line).path("sequenceNumber").asText()
        val c = KinesisStream.seqCompare(s, seq)
        if ((after && c > 0) || (!after && c >= 0)) return idx
        idx += 1
        line = r.readLine()
      }
      idx
    } finally r.close()
  }

  /** S2: iterator seek per shard. */
  override def initialOffset(): Offset = {
    val shards = discover()
    ShardOffsets(shards.map { case (id, f) =>
      id -> (startingPosition match {
        case ShardStream.TrimHorizon => 0L
        case ShardStream.Latest      => countLines(f)
        case ShardStream.AtSequenceNumber =>
          seekPosition(f, startingSequenceNumber.getOrElse(
            throw new IllegalArgumentException(
              "AT_SEQUENCE_NUMBER requires startingSequenceNumber")), after = false)
        case ShardStream.AfterSequenceNumber =>
          seekPosition(f, startingSequenceNumber.getOrElse(
            throw new IllegalArgumentException(
              "AFTER_SEQUENCE_NUMBER requires startingSequenceNumber")), after = true)
        case other =>
          throw new IllegalArgumentException(s"unknown startingPosition $other")
      })
    })
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)

  /** Trigger.AvailableNow support: snapshot the stream head; subsequent
    * capped micro-batches drain up to exactly this target, then stop. */
  @volatile private var availableNowTarget: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(reportLatestOffset().asInstanceOf[ShardOffsets].positions)

  /** S3: micro-batch poll — advance each shard by at most batchSize.
    *
    * Split/merge lineage: a child shard does not advance until every parent
    * still present in the stream is fully drained (consumed offset == parent
    * head). Kinesis guarantees a child only carries records written *after*
    * the split/merge closed its parent(s), so parent-first draining
    * reconstructs total per-key order across the lineage — the ordering
    * `Sessionize.streaming` relies on. Without the gate, a parent's tail and
    * its child's head would be read by concurrent tasks in the same
    * micro-batch and interleave per-key (Shard.ParentShardId /
    * AdjacentParentShardId, reference vendor/.../kinesis/api.go:1609-1627). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startPos = start.asInstanceOf[ShardOffsets].positions
    val shards = discover()
    val meta = shardMeta()
    def parentDrained(id: String): Boolean = shards.get(id) match {
      case Some(f) => startPos.getOrElse(id, 0L) >= countLines(f)
      case None    => true // expired/deleted parent file: nothing left to drain
    }
    ShardOffsets(shards.map { case (id, f) =>
      val cur = startPos.getOrElse(id, 0L) // newly discovered shard → from 0
      val gated = meta.get(id).exists(_.parents.exists(p => !parentDrained(p)))
      val head =
        if (gated) cur
        else availableNowTarget match {
          case Some(t) => t.getOrElse(id, 0L)
          case None    => countLines(f)
        }
      id -> math.max(cur, math.min(head, cur + batchSize))
    })
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control latestOffset is used")

  override def reportLatestOffset(): Offset = {
    val shards = discover()
    ShardOffsets(shards.map { case (id, f) => id -> countLines(f) })
  }

  /** S4: one partition per shard with an advancing range. Closed shards that
    * are fully drained stop producing partitions (no reference nil-deref). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].positions
    val e = end.asInstanceOf[ShardOffsets].positions
    val shards = discover()
    e.toSeq.sortBy(_._1).flatMap { case (id, endPos) =>
      val startPos = s.getOrElse(id, 0L)
      shards.get(id) match {
        case Some(f) if endPos > startPos =>
          Some(ShardInputPartition(id, f.getAbsolutePath, startPos, endPos))
        case _ => None // drained or vanished shard (incl. closed)
      }
    }.toArray
  }

  /** S8: error handling — the reader is deterministic over its [start, end)
    * range, so Spark task retry re-reads exactly the same records
    * (reference worker.go retries GetRecords on error, worker.go:219-224;
    * our failed task's partial output is discarded by Spark, making the
    * retry exactly-once rather than at-least-once). The
    * `chaosFailFirstAttempt` option injects a mid-range failure on every
    * first task attempt to prove it (RetrySpec). */
  override def createReaderFactory(): PartitionReaderFactory =
    new ShardReaderFactory(options.getBoolean("chaosFailFirstAttempt", false))

  override def deserializeOffset(json: String): Offset = ShardOffsets.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** S9: lag telemetry — records remaining behind the stream head, total plus
    * per-shard (the reference emits WorkerState{ShardId, Lag} per shard,
    * worker/worker.go:143-146,226-227 — the per-shard keys keep that skew
    * signal instead of collapsing it into one sum). */
  override def metrics(latestConsumedOffset: Optional[Offset]): java.util.Map[String, String] = {
    val consumed: Map[String, Long] =
      if (latestConsumedOffset.isPresent)
        latestConsumedOffset.get.asInstanceOf[ShardOffsets].positions
      else Map.empty
    val shards = discover()
    val perShard = shards.map { case (id, f) =>
      id -> math.max(0L, countLines(f) - consumed.getOrElse(id, 0L))
    }
    (Map("recordsBehindLatest" -> perShard.values.sum.toString,
         "numShards" -> shards.size.toString,
         "numClosedShards" -> closedShards().size.toString) ++
      perShard.map { case (id, l) => s"recordsBehindLatest.$id" -> l.toString }).asJava
  }
}

case class ShardInputPartition(shardId: String, file: String, start: Long, end: Long)
    extends InputPartition

class ShardReaderFactory(chaosFailFirstAttempt: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ShardInputPartition]
    new PartitionReader[InternalRow] {
      private val mapper = new ObjectMapper()
      private val reader = new BufferedReader(new FileReader(p.file))
      private var pos = 0L
      // seek to start (a real connector would resume an iterator token)
      while (pos < p.start && reader.readLine() != null) pos += 1
      private var current: InternalRow = _
      // S8 fault injection: die mid-range on the first attempt of every task
      private val chaosAt =
        if (chaosFailFirstAttempt &&
            org.apache.spark.TaskContext.get() != null &&
            org.apache.spark.TaskContext.get().attemptNumber() == 0)
          (p.start + p.end) / 2
        else -1L

      override def next(): Boolean = {
        if (pos >= p.end) return false
        if (pos == chaosAt) {
          ShardStream.chaosInjectedFailures.incrementAndGet()
          throw new java.io.IOException(
            s"injected reader failure at $pos in [${p.start}, ${p.end}) of ${p.shardId}")
        }
        val line = reader.readLine()
        if (line == null) return false
        pos += 1
        val n = mapper.readTree(line)
        current = InternalRow(
          n.path("data").asText().getBytes("UTF-8"),
          UTF8String.fromString(n.path("partitionKey").asText()),
          UTF8String.fromString(n.path("sequenceNumber").asText()),
          n.path("approximateArrivalTimestamp").asLong() * 1000L, // ms → µs
          UTF8String.fromString(p.shardId))
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}
