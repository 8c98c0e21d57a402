package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 source for the reference's Kafka WIRE FORMAT — JSONL
  * envelope records `{"data":{event_id,event_type,user_id,value},
  * "source":"database"}` (kafka-database-import.go:199-200, exactly
  * what `KafkaIO.toEnvelope` serializes) — i.e. the "import" direction
  * of the reference, re-read as a first-class table.
  *
  * This is the engine's custom-SOURCE tier: a full `TableProvider` →
  * `ScanBuilder` → `Batch` → `PartitionReader` stack with
  *
  *  - '''column pruning''' (`SupportsPushDownRequiredColumns`): the
  *    reader materializes only the requested envelope fields —
  *    `ReadSchema` in explain shows the pruned struct;
  *  - '''filter pushdown''' (`SupportsPushDownFilters`): simple
  *    comparisons on envelope fields are evaluated INSIDE the reader,
  *    next to the parse, so non-matching rows never become Spark rows.
  *    Every filter is also returned as a residual, so Spark re-checks
  *    them — pushdown here is a fast path, never a correctness risk
  *    (the same contract the built-in JSON source uses for corrupt
  *    records);
  *  - '''file-granular parallelism''': one `InputPartition` per file
  *    via the Hadoop FileSystem API (works on file:// locally and on
  *    HDFS/object stores unchanged). At 100 TB the unit of parallelism
  *    is the files themselves — the producer (Kafka → landing files)
  *    shards them, so no in-file splitting is needed for line-oriented
  *    envelope dumps.
  *
  * Usage: `spark.read.format("graft.sources.EnvelopeSource")
  * .option("path", dir).load()`.
  */
class EnvelopeSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EnvelopeSource.fullSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new EnvelopeTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

object EnvelopeSource {
  /** Flattened envelope: the four `data` fields + the provenance tag. */
  val fullSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("user_id", LongType),
    StructField("value", DoubleType),
    StructField("source", StringType)))
}

class EnvelopeTable(path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"envelope($path)"
  override def schema(): StructType = EnvelopeSource.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EnvelopeScanBuilder(
      Option(path).getOrElse(options.get("path")),
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val expect = EnvelopeSource.fullSchema.fieldNames.toSeq
    val got = info.schema().fieldNames.toSeq
    require(got == expect, s"envelope sink expects columns $expect, got $got")
    val target = Option(path).getOrElse(info.options().get("path"))
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new EnvelopeBatchWrite(target)
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new EnvelopeStreamingWrite(target)
      }
    }
  }
}

/** The custom-SINK half of the envelope format (the reference's export
  * direction): a full `BatchWrite` → `DataWriterFactory` →
  * `DataWriter` stack with the FILESYSTEM TASK-COMMIT PROTOCOL —
  * each task streams its rows to a HIDDEN temp file (leading "_", so
  * concurrent readers never observe it: the scan skips underscore
  * names), its commit message names that file, and only the DRIVER
  * commit renames the committed attempts' files to visible part
  * files. A zombie or speculative duplicate attempt's temp file is
  * named by its (partition, task) identity but never renamed — its
  * leftovers are deleted by driver commit/abort — so exactly one
  * attempt per partition becomes visible no matter how tasks race
  * (the same protocol FileOutputCommitter v2 and every object-store
  * committer implement). Append-only: each write lands new part files
  * keyed by a driver-chosen monotonic write id, never touching existing
  * data. The write id is time-ordered (epoch millis + per-JVM sequence)
  * so a batch append's visible names sort AFTER every previously
  * published file — the ordering convention EnvelopeMicroBatchStream's
  * name watermark relies on when stream-reading a directory this sink
  * also appends to. */
class EnvelopeBatchWrite(path: String) extends BatchWrite {
  private val writeId = EnvelopeBatchWrite.nextWriteId()

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    EnvelopeWriterFactory(path, writeId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, conf)
    EnvelopeCommitProtocol.publish(fs, root, messages)
    // trailing "-" so write id 1's sweep can never match write id 10's
    // in-flight temps
    EnvelopeCommitProtocol.sweepTemps(fs, root, s"_env-$writeId-")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(path)
    EnvelopeCommitProtocol.sweepTemps(
      FileSystem.get(root.toUri, conf), root, s"_env-$writeId-")
  }
}

object EnvelopeBatchWrite {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Time-ordered, collision-free within this JVM: fixed-width millis
    * then a fixed-width sequence — lexicographic order == issue order. */
  def nextWriteId(): String =
    f"${System.currentTimeMillis()}%013d${seq.getAndIncrement() % 100000}%05d"
}

/** Driver-side half of the task-commit protocol, shared by the batch
  * and streaming writes. */
object EnvelopeCommitProtocol {
  /** Rename each committed attempt's temp file to its visible name.
    * An already-existing visible name means this unit of work was
    * published before (a REPLAYED streaming epoch): first commit wins,
    * the replay's temp is dropped — idempotent re-delivery. */
  def publish(fs: FileSystem, root: Path,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach { case EnvelopeCommitMessage(tmpName, visibleName, _) =>
      val tmp = new Path(root, tmpName)
      val visible = new Path(root, visibleName)
      if (fs.exists(tmp)) {
        // rename is atomic on a real FS; object stores substitute
        // their multipart-complete here
        if (fs.exists(visible)) fs.delete(tmp, false)
        else fs.rename(tmp, visible)
      }
    }

  /** Delete every temp file with this write/epoch prefix (losing
    * attempts' leftovers; a concurrent writer's temps are untouched). */
  def sweepTemps(fs: FileSystem, root: Path, prefix: String): Unit =
    if (fs.exists(root))
      fs.listStatus(root)
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(prefix) &&
          st.getPath.getName.endsWith(".tmp"))
        .foreach(st => fs.delete(st.getPath, false))
}

/** Streaming flavor of the sink: one visible file per (epoch,
  * partition) — the visible name deliberately EXCLUDES the task id, so
  * a replayed epoch (restart from checkpoint re-delivers the last
  * uncommitted batch) maps to the SAME visible names and publish()
  * drops the duplicates: exactly-once file output per epoch on top of
  * Structured Streaming's at-least-once delivery. */
class EnvelopeStreamingWrite(path: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    EnvelopeStreamingWriterFactory(path)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, conf)
    EnvelopeCommitProtocol.publish(fs, root, messages)
    // trailing "-" so epoch 1's sweep can never match epoch 10's
    // in-flight temps (a straggler task of a later epoch running
    // concurrently with this commit keeps its temp)
    EnvelopeCommitProtocol.sweepTemps(
      fs, root, s"_env-epoch${EnvelopeStreamingWrite.pad(epochId)}-")
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(path)
    EnvelopeCommitProtocol.sweepTemps(
      FileSystem.get(root.toUri, conf), root,
      s"_env-epoch${EnvelopeStreamingWrite.pad(epochId)}-")
  }
}

object EnvelopeStreamingWrite {
  /** Zero-padded epoch id: epoch 10's visible names must sort AFTER
    * epoch 2's (the source's name-watermark convention); unpadded,
    * "env-epoch10-…" < "env-epoch2-…" lexicographically and a stream
    * reading this sink's output would silently drop epochs >= 10. */
  def pad(epochId: Long): String = f"$epochId%020d"
}

case class EnvelopeStreamingWriterFactory(path: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    val e = EnvelopeStreamingWrite.pad(epochId)
    // partition id padded too: all of an epoch's files must sort as one
    // contiguous name range so a reader consuming p10 mid-publish can't
    // strand a not-yet-renamed p2 below its watermark
    new EnvelopeDataWriter(path,
      f"_env-epoch$e-p$partitionId%05d-t$taskId.jsonl.tmp",
      f"env-epoch$e-p$partitionId%05d.jsonl")
  }
}

case class EnvelopeCommitMessage(tmpName: String, visibleName: String, rows: Long)
    extends WriterCommitMessage

case class EnvelopeWriterFactory(path: String, writeId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // taskId in the visible name too: batch publishes exactly the
    // attempts in the commit-message set, one per partition
    val tmp = f"_env-$writeId-p$partitionId%05d-t$taskId.jsonl.tmp"
    new EnvelopeDataWriter(path, tmp, tmp.stripPrefix("_").stripSuffix(".tmp"))
  }
}

/** Task-side writer: streams rows to a HIDDEN temp file (leading "_" —
  * the scan skips underscore names), names it in the commit message. */
class EnvelopeDataWriter(path: String, tmpName: String, visibleName: String)
    extends DataWriter[InternalRow] {
  private val tmpPath = new Path(new Path(path), tmpName)
  private val fs = FileSystem.get(
    tmpPath.toUri, CommitLogSource.readerConf)
  // opened by the first row: a partition with no rows leaves no temp
  // file, and publish skips a missing temp, so it makes nothing visible
  private var out: Option[java.io.BufferedWriter] = None
  private def writer: java.io.BufferedWriter = out.getOrElse {
    fs.mkdirs(new Path(path))
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(tmpPath, true), "UTF-8"))
    out = Some(w)
    w
  }
  private val mapper = new ObjectMapper()
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val node = mapper.createObjectNode()
    val data = node.putObject("data")
    if (!row.isNullAt(0)) data.put("event_id", row.getLong(0))
    if (!row.isNullAt(1)) data.put("event_type", row.getUTF8String(1).toString)
    if (!row.isNullAt(2)) data.put("user_id", row.getLong(2))
    if (!row.isNullAt(3)) data.put("value", row.getDouble(3))
    if (!row.isNullAt(4)) node.put("source", row.getUTF8String(4).toString)
    val w = writer
    w.write(mapper.writeValueAsString(node))
    w.write("\n")
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.foreach(_.close())
    EnvelopeCommitMessage(tmpName, visibleName, rows)
  }

  override def abort(): Unit = {
    try out.foreach(_.close()) catch { case _: Exception => () }
    if (fs.exists(tmpPath)) fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}

class EnvelopeScanBuilder(path: String, maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = EnvelopeSource.fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(EnvelopeFilters.supported)
    filters // everything stays residual: pushdown is a fast path only
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*) pushdown (partial): each file partition returns ONE
    * pre-counted row instead of materializing every envelope as an
    * InternalRow — Spark sums the per-partition partials. Catalyst
    * only offers the aggregate when no residual filter sits above the
    * scan (this source keeps every filter residual, so only the
    * unfiltered global count qualifies — exactly the cheap case).
    * The reader still parses each line: COUNT(*) counts the rows the
    * source would EMIT, and malformed lines drop (R6 semantics), so
    * line-counting without the parse would overcount. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val ok = pushed.isEmpty &&
      agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) {
      countPushed = true
      required = StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    }
    ok
  }

  override def build(): Scan =
    EnvelopeScan(path, required, pushed, countPushed, maxFilesPerTrigger)
}

case class EnvelopeScan(
    path: String, required: StructType, filters: Array[Filter],
    countOnly: Boolean = false, maxFilesPerTrigger: Option[Int] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"EnvelopeScan path=$path, PushedEnvelopeFilters=[${filters.mkString(", ")}], " +
      s"PushedAggregation=[${if (countOnly) "COUNT(*)" else ""}], " +
      s"ReadSchema=${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, conf)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(st => EnvelopeInputPartition(st.getPath.toString): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (countOnly) EnvelopeCountReaderFactory()
    else EnvelopeReaderFactory(required, filters)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new EnvelopeMicroBatchStream(path, required, filters, maxFilesPerTrigger)
}

/** Streaming READ of a landing directory of envelope files — the
  * micro-batch half of the custom connector (the import loop the
  * reference runs forever, as a Structured Streaming source). The
  * offset is a NAME WATERMARK: files are consumed in name order and
  * the offset records the highest name consumed, so each micro-batch
  * is exactly the files that sorted after the previous watermark —
  * restart-safe because the offset is a plain JSON value in the
  * checkpoint and re-planning `(start, end]` yields the same files.
  * Requires the landing convention every log-structured producer
  * follows: arriving files sort AFTER already-consumed ones
  * (sequence-numbered part files); a file injected below the
  * watermark is ignored, exactly like a Kafka record below the
  * committed offset. NOTE: Spark plans streaming v2 scans WITHOUT
  * operator pushdown (V2ScanRelationPushDown is batch-only), so the
  * micro-batch path always reads the full envelope schema and
  * filters/pruning apply ABOVE the scan — correct, just not
  * reader-resident like the batch path (PlanSpec `t13` pins this
  * shape so a Spark upgrade that adds streaming pushdown surfaces). */
class EnvelopeMicroBatchStream(
    path: String, required: StructType, filters: Array[Filter],
    maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private def listNames(): Array[(String, String)] = { // (name, full path)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, conf)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName -> st.getPath.toString)
      .sortBy(_._1)
  }

  // ---- admission control (backpressure) ----
  //
  // Without a cap, a restart against a deep landing-directory backlog
  // plans the WHOLE backlog as one giant micro-batch — one all-or-
  // nothing commit whose shuffle/state footprint scales with the outage
  // length, not the steady-state rate. `maxFilesPerTrigger` bounds each
  // batch to N files (the same dial Spark's built-in file source and
  // Kafka's maxOffsetsPerTrigger expose): the engine passes the limit
  // back into [[latestOffset]], which advances the name watermark at
  // most N names past `start`. Under Trigger.AvailableNow the backlog
  // then drains as ceil(backlog/N) bounded batches and STOPS at the
  // snapshot taken in [[prepareForTriggerAvailableNow]] — files landing
  // mid-drain wait for the next invocation (exactly-once either way:
  // the offset is still just a name watermark in the checkpoint).

  /** Files that sort after the AvailableNow snapshot are out of scope
    * for this run (None = unbounded continuous mode). */
  @volatile private var availableNowCap: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(listNames().lastOption.map(_._1).getOrElse(""))

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[EnvelopeOffset].last
    val pending0 = listNames().map(_._1).filter(_ > lo)
    val pending = availableNowCap match {
      case Some(cap) => pending0.filter(_ <= cap)
      case None => pending0
    }
    val admitted = limit match {
      case mf: ReadMaxFiles => pending.take(mf.maxFiles())
      case _ => pending
    }
    EnvelopeOffset(if (admitted.isEmpty) lo else admitted.last)
  }

  override def initialOffset(): Offset = EnvelopeOffset("")
  // non-admission-control path (not taken once SupportsAdmissionControl
  // is implemented; kept as the unbounded fallback)
  override def latestOffset(): Offset =
    EnvelopeOffset(listNames().lastOption.map(_._1).getOrElse(""))
  override def deserializeOffset(json: String): Offset =
    EnvelopeOffset(new ObjectMapper().readTree(json).get("last").asText())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[EnvelopeOffset].last
    val hi = end.asInstanceOf[EnvelopeOffset].last
    listNames()
      .filter { case (n, _) => n > lo && n <= hi }
      .map { case (_, p) => EnvelopeInputPartition(p): InputPartition }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    EnvelopeReaderFactory(required, filters)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class EnvelopeOffset(last: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("last", last)
    m.writeValueAsString(node)
  }
}

case class EnvelopeInputPartition(file: String) extends InputPartition

case class EnvelopeReaderFactory(required: StructType, filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EnvelopePartitionReader(
      partition.asInstanceOf[EnvelopeInputPartition].file, required, filters)
}

/** COUNT(*)-pushdown reader: one pre-counted row per file. Lines are
  * still parse-validated (malformed lines drop and must not count)
  * but never become InternalRows — no field extraction, no filter
  * eval, no projection. */
case class EnvelopeCountReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val mapper = new ObjectMapper()
      private val file = partition.asInstanceOf[EnvelopeInputPartition].file
      private var emitted = false
      private var count = 0L

      override def next(): Boolean = {
        if (emitted) return false
        val p = new Path(file)
        val fs = FileSystem.get(p.toUri, CommitLogSource.readerConf)
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(p), "UTF-8"))
        try {
          var line = reader.readLine()
          while (line != null) {
            if (line.nonEmpty &&
                (try { mapper.readTree(line); true }
                 catch { case _: Exception => false })) count += 1
            line = reader.readLine()
          }
        } finally reader.close()
        emitted = true
        true
      }

      override def get(): InternalRow = new GenericInternalRow(Array[Any](count))
      override def close(): Unit = ()
    }
}

object EnvelopeFilters {
  private val fields = EnvelopeSource.fullSchema.fieldNames.toSet

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => fields(a)
    case GreaterThan(a, _) => fields(a)
    case GreaterThanOrEqual(a, _) => fields(a)
    case LessThan(a, _) => fields(a)
    case LessThanOrEqual(a, _) => fields(a)
    case _ => false
  }

  /** Evaluate a pushed filter against the parsed envelope fields. */
  def eval(f: Filter, get: String => Any): Boolean = {
    def cmp(a: String, v: Any): Option[Int] = (get(a), v) match {
      case (null, _) => None
      case (x: Long, y: Number) => Some(java.lang.Long.compare(x, y.longValue()))
      case (x: Double, y: Number) => Some(java.lang.Double.compare(x, y.doubleValue()))
      case (x: String, y: String) => Some(x.compareTo(y))
      case _ => None
    }
    f match {
      case EqualTo(a, v) => cmp(a, v).contains(0)
      case GreaterThan(a, v) => cmp(a, v).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v).exists(_ >= 0)
      case LessThan(a, v) => cmp(a, v).exists(_ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v).exists(_ <= 0)
      case _ => true
    }
  }
}

class EnvelopePartitionReader(
    file: String, required: StructType, filters: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val reader = {
    val p = new Path(file)
    // executor-side FS access: default Hadoop conf resolves file:// and
    // cluster-default HDFS; custom fs conf would ride the factory as a
    // Map[String,String] (SparkHadoopUtil/SerializableConfiguration are
    // private[spark])
    val fs = FileSystem.get(p.toUri, CommitLogSource.readerConf)
    new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
  }
  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        val parsed = parse(line)
        if (parsed != null) { row = parsed; return true }
      }
      line = reader.readLine()
    }
    false
  }

  /** Parse one envelope line; apply pushed filters; project to the
    * pruned schema. Returns null for filtered-out or malformed lines
    * (drop-on-error — the reference's R6 semantics). */
  private def parse(line: String): InternalRow = {
    val node =
      try mapper.readTree(line)
      catch { case _: Exception => return null }
    val data = node.get("data")
    def field(name: String): Any = name match {
      case "source" => textOf(node.get("source"))
      case "event_type" => if (data == null) null else textOf(data.get("event_type"))
      case "event_id" => longOf(if (data == null) null else data.get("event_id"))
      case "user_id" => longOf(if (data == null) null else data.get("user_id"))
      case "value" => doubleOf(if (data == null) null else data.get("value"))
      case _ => null
    }
    var i = 0
    while (i < filters.length) {
      if (!EnvelopeFilters.eval(filters(i), field)) return null
      i += 1
    }
    val out = new GenericInternalRow(required.length)
    i = 0
    while (i < required.length) {
      out(i) = field(required(i).name) match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }
      i += 1
    }
    out
  }

  private def textOf(n: JsonNode): String =
    if (n == null || n.isNull) null else n.asText()
  private def longOf(n: JsonNode): Any =
    if (n == null || n.isNull) null else Long.box(n.asLong())
  private def doubleOf(n: JsonNode): Any =
    if (n == null || n.isNull) null else Double.box(n.asDouble())

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
