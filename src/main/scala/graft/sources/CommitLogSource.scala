package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The [[CommitLog]] table as a FIRST-CLASS DataSourceV2 source — the
  * API a Spark user actually reaches for instead of the driver-side
  * [[CommitLogTail.drain]] loop:
  *
  *  - '''Batch''': `spark.read.format("commitlog").option("path", root)
  *    .load()` reads the LATEST snapshot; `option("versionAsOf", v)`
  *    time-travels (the S22 read, as a connector).
  *  - '''Streaming''': `spark.readStream.format("commitlog")…` tails
  *    the log with Delta-streaming-source semantics. The offset is the
  *    VERSION CURSOR — a plain `{"version":N}` value in SPARK'S OWN
  *    checkpoint, so restart/replay, trigger cadence and admission
  *    control all come from Structured Streaming instead of a
  *    hand-rolled cursor file. Each micro-batch plans exactly the
  *    files ADDED by the versions it admits (never a table rescan —
  *    keeping a downstream current costs O(changes));
  *    `maxVersionsPerTrigger` bounds a restart-against-backlog to N
  *    versions per batch, and `Trigger.AvailableNow` drains to the
  *    entry snapshot and stops. Delete semantics mirror Delta's source
  *    contract (and [[CommitLogTail]]): a remove-only commit fails the
  *    stream unless `ignoreDeletes` is set; a copy-on-write commit
  *    always fails (its adds re-state rows the stream already
  *    emitted). Exactly-once: manifests and data files are immutable,
  *    so re-planning a checkpointed `(start, end]` yields byte-identical
  *    batches.
  *
  * Schema authority is the LOG, not the files: the declared DDL in
  * force (S22e) plans the scan, and pre-evolution files NULL-FILL
  * missing columns in the reader (fields are matched by name per
  * file), so no footer double-pass at plan time. An undeclared-schema
  * table falls back to one footer read of the newest snapshot batch.
  *
  * The per-file reader is parquet-hadoop's record-materialization API
  * (`GroupReadSupport`) over the stable public parquet library — the
  * tail reads version-delta-sized batches, where correctness of the
  * offset protocol dominates; swapping in a vectorized reader is a
  * reader-factory-local change. Spark plans streaming v2 scans without
  * operator pushdown (the t13 note), so filters/pruning run above the
  * scan either way.
  *
  * Options: `path` (required); batch: `versionAsOf` / `timestampAsOf`
  * (commit-time travel); stream: `startingVersion` (default 0 = table
  * start) / `startingTimestamp`, `maxVersionsPerTrigger`,
  * `maxBytesPerTrigger` (soft byte budget per micro-batch),
  * `ignoreDeletes`, `skipChangeCommits` (Delta's escape hatch: skip
  * versions that delete/modify rows entirely, stream only pure
  * appends). Write options: `bloomColumns`, `bloomBits`
  * (see [[CommitLogWriteBuilder]]).
  */
class CommitLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "commitlog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = options.get("path")
    require(root != null, "commitlog source requires option(\"path\", <table root>)")
    // time travel reads under the schema IN FORCE at that version
    // (Delta semantics): a later RENAME or evolution must not leak
    // backward into an era that never declared it
    val v = Option(options.get("versionAsOf")).map(_.toInt)
      .orElse(Option(options.get("timestampAsOf"))
        .map(t => CommitLog.versionAt(root, CommitLogSource.parseTime(t))))
      .getOrElse(CommitLog.latestVersion(root))
    val base = CommitLogSource.tableSchema(root, v)
    // CHANGE FEED reads carry the Delta CDF columns on top of the data
    // schema — rows describe changes, not current state. A ROW-TRACKED
    // table's feed additionally exposes the stable row id: an update
    // then reads as delete(id) + insert(id) with the SAME id, so a
    // consumer folds the feed BY IDENTITY instead of needing a key.
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      val withId =
        if (CommitLogWrite.rowTrackingOn(CommitLog.tblPropsOf(root, v)))
          base.add(CommitLogWrite.RowIdCol, LongType)
        else base
      withId.add(CommitLogCdf.ChangeTypeCol, StringType)
        .add(CommitLogCdf.CommitVersionCol, IntegerType)
    } else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new CommitLogTable(properties.get("path"), schema)

  // a user-supplied .schema(...) overrides the log's (e.g. to read a
  // projection of the declared DDL)
  override def supportsExternalMetadata(): Boolean = true
}

object CommitLogSource {
  /** The `_batch` metadata column's name (see CommitLogTable). */
  val BatchCol = "_batch"

  /** An accepted top-N pushdown: leading sort column, direction, null
    * ordering, limit. No proof rides the hint (r15): the cut
    * self-gates at the SCAN's resolved version — a NOT NULL proof in
    * force there, or per-batch null counts, bound the top-k; neither
    * means no pruning. A concurrent DROP CONSTRAINT between pushdown
    * and planning therefore has no window at all. */
  case class TopNHint(col: String, desc: Boolean, nullsFirst: Boolean, k: Int)

  /** Whether version `v` of the log PROVES column `col` holds no
    * null: a declared CHECK `col IS NOT NULL` in force, or a NOT NULL
    * column in the recorded DDL (both enforced at the write — the
    * sink gates CHECKs, Spark's v2 writes assert declared
    * non-nullability). The top-N cut's fast path (nulls = 0
    * everywhere, no per-batch counts consulted). */
  private[sources] def notNullProven(
      root: String, v: Int, col: String): Boolean =
    CommitLog.constraintsOf(root, v).values.exists(
      _.trim.equalsIgnoreCase(s"$col IS NOT NULL")) ||
      CommitLog.schemaOf(root, v).map(StructType.fromDDL)
        .exists(_.fields.exists(f => f.name == col && !f.nullable))

  /** Row-identity metadata columns: the data file holding a row and
    * its physical position in it — the (file, pos) identity deletion
    * vectors key by, and the `rowId` of the DELTA-based row-level
    * operation ([[CommitLogDeltaOperation]]). */
  val RowFileCol = "_row_file"
  val RowPosCol = "_row_pos"

  /** `timestampAsOf` / `startingTimestamp` accept epoch millis or any
    * `yyyy-MM-dd[ HH:mm:ss]` timestamp, resolved against commit times
    * by [[CommitLog.versionAt]]. */
  private[sources] def parseTime(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else {
      val norm = if (s.contains(" ") || s.contains("T"))
        s.replace("T", " ") else s + " 00:00:00"
      java.sql.Timestamp.valueOf(norm).getTime
    }

  /** The table schema: declared DDL in force at the latest version,
    * else ONE footer read of the newest snapshot batch. An EMPTY table
    * (no committed version) reports an empty schema — the shape a SINK
    * writing the table's first batch needs (the write builder plans
    * with the query's own schema from LogicalWriteInfo; the first
    * commit then declares the DDL). Batch READS of an empty root fail
    * loudly at scan build instead (see [[CommitLogScan]]). */
  def tableSchema(root: String): StructType =
    tableSchema(root, CommitLog.latestVersion(root))

  /** The schema in force at `v` — what a time-travel read plans with. */
  def tableSchema(root: String, v: Int): StructType = {
    CommitLog.schemaOf(root, v) match {
      case Some(ddl) => StructType.fromDDL(ddl)
      case None if v == 0 => new StructType()
      case None =>
        // sample a DATA batch: a dv- deletion-vector batch carries
        // (_file, _pos) positions, not the table's columns
        val files = CommitLog.files(root, v)
          .filterNot(_.startsWith(CommitLogMerge.DvPrefix))
        require(files.nonEmpty,
          s"cannot infer the schema of empty commit-log table $root — " +
            "declare a schema on commit (S22e) or pass .schema(...)")
        val parts = listParquet(root, files.last)
        require(parts.nonEmpty, s"batch ${files.last} holds no parquet files")
        footerSchema(parts.head)
    }
  }

  /** The visible parquet part files of one committed batch, sorted by
    * name. Batches are immutable once committed, so this listing is
    * replay-stable. */
  def listParquet(root: String, batch: String): Seq[String] =
    listParquetStatus(root, batch).map(_._1)

  /** As [[listParquet]], keeping each file's LENGTH from the same
    * directory listing — planning hands it to the vectorized reader's
    * split so executors never re-stat the file (at 100 TB, one saved
    * namenode RPC per file-task). */
  def listParquetStatus(root: String, batch: String): Seq[(String, Long)] = {
    val dir = new Path(CommitLog.batchPath(root, batch))
    val fs = FileSystem.get(dir.toUri, hadoopConf())
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir)
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      })
      .map(st => st.getPath.toString -> st.getLen).sortBy(_._1).toSeq
  }

  /** Read a set of committed batches AS THE LOG'S TABLE, not as loose
    * parquet: when a DDL is declared, the scan plans with it and
    * pre-evolution files null-fill missing columns by name — a plain
    * `spark.read.parquet` would infer from one sampled footer and
    * silently DROP additively-evolved columns, which under a rewrite
    * (OPTIMIZE, MERGE COW) that removes the originals is permanent
    * data loss. Zero-file batch sets (all-empty epochs commit an empty
    * dir) read as an empty frame of the right schema instead of
    * throwing schema-inference errors. Undeclared-schema tables fall
    * back to mergeSchema (every footer consulted — correct, at the
    * cost S22e's declared-DDL contract exists to avoid). */
  def readBatches(
      spark: SparkSession, root: String, batches: Seq[String],
      schemaDdl: Option[String]): org.apache.spark.sql.DataFrame =
    readBatches(spark, root, batches, schemaDdl, Map.empty, keepMeta = false)

  /** As above, resolving RENAMED columns through the table's column
    * map: the scan schema is the logical schema plus every still-mapped
    * former name (typed as its logical column), and each logical column
    * is the codegen'd `coalesce` of its name chain — old files answer
    * through the name they were written with, new files through the
    * logical name, at zero per-row interpretive cost. `keepMeta` passes
    * the hidden `_metadata` struct through the projection for callers
    * that need file/position columns (the projection would otherwise
    * make it unresolvable). */
  def readBatches(
      spark: SparkSession, root: String, batches: Seq[String],
      schemaDdl: Option[String],
      formerNames: Map[String, Seq[String]],
      keepMeta: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    if (formerNames.nonEmpty) {
      val ddl = schemaDdl.getOrElse(throw new IllegalStateException(
        s"cannot read renamed table $root without its log-declared schema"))
      val logical = StructType.fromDDL(ddl)
      val extra = formerNames.toSeq.flatMap { case (l, formers) =>
        logical.fields.find(_.name == l).toSeq.flatMap(f =>
          formers.filterNot(logical.fieldNames.contains)
            .map(n => org.apache.spark.sql.types.StructField(
              n, f.dataType, nullable = true)))
      }
      val files = batches.flatMap(listParquet(root, _))
      if (files.isEmpty)
        return spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), logical)
      val raw = spark.read.schema(StructType(logical.fields ++ extra))
        .parquet(files: _*)
      val cols = logical.fields.toSeq.map { f =>
        val chain = f.name +: formerNames.getOrElse(f.name, Seq.empty)
          .filterNot(logical.fieldNames.contains)
        coalesce(chain.map(col): _*).as(f.name)
      } ++ (if (keepMeta) Seq(col("_metadata")) else Nil)
      return raw.select(cols: _*)
    }
    val files = batches.flatMap(listParquet(root, _))
    (schemaDdl, files) match {
      case (Some(d), Nil) =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType.fromDDL(d))
      case (Some(d), fs) =>
        spark.read.schema(StructType.fromDDL(d)).parquet(fs: _*)
      case (None, Nil) =>
        throw new IllegalStateException(
          s"cannot read empty batch set of $root with no declared schema")
      case (None, fs) =>
        spark.read.option("mergeSchema", true).parquet(fs: _*)
    }
  }

  /** Total visible parquet bytes of one committed batch. */
  def batchBytes(root: String, batch: String): Long =
    listParquet(root, batch).map { f =>
      val p = new Path(f)
      p.getFileSystem(hadoopConf()).getFileStatus(p).getLen
    }.sum

  private def hadoopConf(): Configuration = {
    val active = SparkSession.getActiveSession
    active.map(_.sessionState.newHadoopConf()).getOrElse(graft.Engine.hadoopConf())
  }

  /** Shared read-only Configuration for the row-leg parquet readers
    * (r16 optimization): the old per-file `new Configuration()` parsed
    * the Hadoop default XML resources once per opened FILE — pure CPU
    * overhead on many-small-batch tables. GroupReadSupport only reads
    * from it, so one instance serves every reader in the JVM. */
  private[sources] lazy val readerConf: Configuration = graft.Engine.hadoopConf()

  /** Columns the reader SYNTHESIZES per row (metadata + change-feed
    * stamps) — their presence in a read schema forces the row-at-a-time
    * leg. */
  private[sources] val SpecialCols: Set[String] = Set(
    BatchCol, RowFileCol, RowPosCol,
    CommitLogCdf.ChangeTypeCol, CommitLogCdf.CommitVersionCol)

  /** The change-feed stamp columns. CONSTANT per feed partition on the
    * whole-file legs (insert / whole-batch delete), which is what lets
    * those partitions ride the VECTORIZED reader: the stamps trail the
    * batch as constant partition vectors instead of forcing the
    * row-at-a-time leg (see [[CommitLogScan]] columnarEligible). */
  private[sources] val StampCols: Set[String] = Set(
    CommitLogCdf.ChangeTypeCol, CommitLogCdf.CommitVersionCol)

  /** Scan option that declines VARIANT-extraction pushdown. Set by
    * [[NoVariantPushdownOnMetadataScans]]: when a plan references any
    * METADATA column of a commitlog relation, Spark's variant-pushdown
    * phase would consume the scan-builder holder BEFORE the
    * column-pruning phase that normally conveys metadata columns to
    * the scan — the built scan then starves the plan of them
    * (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at bind). Whole-variant reads
    * of those plans are the correct trade: they are the engine's own
    * row-level/feed scans plus rare metadata-selecting user queries. */
  private[graft] val NoVariantExtractionOpt = "graft.noVariantExtraction"

  /** Types Spark's vectorized parquet reader decodes — anything else
    * (UDT, interval) falls back to the row leg. Variant is vectorized:
    * Spark's reader assembles both the unshredded and the shredded
    * parquet layouts into VariantVal column vectors
    * (SparkShreddingUtils.assembleVariantBatch); the row leg's own
    * reassembly (readValue) serves only DV/CDF/metadata-forced reads. */
  private[sources] def vectorizable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType | _: DecimalType => true
    case ArrayType(e, _) => vectorizable(e)
    case StructType(fields) => fields.forall(f => vectorizable(f.dataType))
    case MapType(k, v, _) => vectorizable(k) && vectorizable(v)
    case org.apache.spark.sql.types.VariantType => true
    case _ => false
  }

  /** Deletion-vector batches hold (file, row_index) POSITIONS, not
    * rows — any consumer that would read them as data must fail. */
  private[sources] def requireNoDv(batches: Seq[String], what: String): Unit = {
    val dvs = batches.filter(_.startsWith(CommitLogMerge.DvPrefix))
    if (dvs.nonEmpty)
      throw new IllegalStateException(
        s"$what: merge-on-read table has outstanding deletion-vector " +
          s"batches ${dvs.mkString(",")} — read through " +
          "CommitLogMerge.snapshot (broadcast anti-join reconcile), or " +
          "compact with a COW merge first")
  }

  /** Restricted parquet→Spark type mapping for the footer fallback —
    * the flat primitive shapes the engine's own writes produce.
    * Declared-DDL tables (the recommended contract) never hit this. */
  private[sources] def footerSchema(file: String): StructType = {
    val in = HadoopInputFile.fromPath(new Path(file), hadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val msg = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    StructType(msg.getFields.toArray.map { f =>
      val p = f.asInstanceOf[org.apache.parquet.schema.Type]
      require(p.isPrimitive,
        s"commitlog footer inference supports flat primitive schemas; " +
          s"field ${p.getName} is nested — declare a DDL on commit instead")
      StructField(p.getName, sparkType(p.asPrimitiveType()))
    })
  }

  private def sparkType(p: PrimitiveType): DataType = {
    import PrimitiveType.PrimitiveTypeName._
    val logical = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case INT64
          if logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] &&
            logical.asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
              .getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
        TimestampType
      case INT64 | FIXED_LEN_BYTE_ARRAY
          if logical.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
        val d = logical.asInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
        DecimalType(d.getPrecision, d.getScale)
      case INT32
          if logical.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        DateType
      case INT64 => LongType
      case INT32 => IntegerType
      case DOUBLE => DoubleType
      case FLOAT => FloatType
      case BOOLEAN => BooleanType
      case BINARY
          if logical != null &&
            logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        StringType
      case other =>
        throw new IllegalArgumentException(
          s"commitlog footer inference does not map parquet $other " +
            s"(field ${p.getName}) — declare a DDL on commit instead")
    }
  }
}

/** Translate Spark v1 source filters to the SQL-expression dialect
  * [[CommitLogDml]] consumes — SQL `DELETE FROM` arrives this way.
  * `None` = not translatable (Spark then refuses the delete cleanly;
  * arbitrary-expression deletes go through CommitLogDml directly). */
object CommitLogFilters {
  import org.apache.spark.sql.sources._

  private def q(a: String): String = s"`${a.replace("`", "``")}`"

  private def lit(v: Any): Option[String] = v match {
    case null => None
    case s: String =>
      Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
    case b: Boolean => Some(b.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    // NaN/Infinity have no SQL literal spelling — refuse, so the
    // statement falls through to the row-level path instead of
    // claiming a predicate deleteWhere cannot execute
    case d: Double if !d.isNaN && !d.isInfinite => Some(d.toString)
    case f: Float if !f.isNaN && !f.isInfinite =>
      Some(s"CAST($f AS FLOAT)")
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.bigDecimal.toPlainString)
    case _ => None // timestamps/dates/binary/NaN: refuse, never guess
  }

  def toSql(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => lit(v).map(l => s"${q(a)} = $l")
    case EqualNullSafe(a, v) => lit(v).map(l => s"${q(a)} <=> $l")
    case GreaterThan(a, v) => lit(v).map(l => s"${q(a)} > $l")
    case GreaterThanOrEqual(a, v) => lit(v).map(l => s"${q(a)} >= $l")
    case LessThan(a, v) => lit(v).map(l => s"${q(a)} < $l")
    case LessThanOrEqual(a, v) => lit(v).map(l => s"${q(a)} <= $l")
    case In(a, vs) if vs.nonEmpty =>
      val ls = vs.toSeq.map(lit)
      if (ls.forall(_.isDefined))
        Some(s"${q(a)} IN (${ls.flatten.mkString(", ")})")
      else None
    case IsNull(a) => Some(s"${q(a)} IS NULL")
    case IsNotNull(a) => Some(s"${q(a)} IS NOT NULL")
    case And(l, r) =>
      for { a <- toSql(l); b <- toSql(r) } yield s"($a AND $b)"
    case Or(l, r) =>
      for { a <- toSql(l); b <- toSql(r) } yield s"($a OR $b)"
    case Not(c) => toSql(c).map(s => s"(NOT $s)")
    case _: AlwaysTrue => Some("true")
    case _: AlwaysFalse => Some("false")
    case _ => None
  }

  /** Filter values the manifest boxes can compare: numerics directly;
    * timestamps as micros-since-epoch and dates as epoch days — the
    * same units the sink boxes them in. */
  private def num(v: Any): Option[Double] = v match {
    // a NaN literal (`c = double('NaN')`, `c IN (..., 'NaN')`) has no
    // box: NaN poisons the min/max intersection (every Java compare
    // is false, which would PRUNE every batch) while Spark's own
    // semantics say NaN = NaN is TRUE — decline, keep all batches,
    // and the residual filter answers exactly
    case n: Number => Some(n.doubleValue).filter(!_.isNaN)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000.0 + (t.getNanos % 1000000) / 1000.0)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1e6 + i.getNano / 1000.0)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
    case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
    case _ => None
  }

  /** The [lo, hi] a filter bounds one column to, widened to be SAFE
    * for pruning (strict bounds kept inclusive: opening an extra
    * batch is free of risk, skipping one is not). */
  def rangeOf(f: Filter): Option[(String, Double, Double)] = f match {
    case EqualTo(c, v) => num(v).map(d => (c, d, d))
    case GreaterThan(c, v) => num(v).map(d => (c, d, Double.PositiveInfinity))
    case GreaterThanOrEqual(c, v) => num(v).map(d => (c, d, Double.PositiveInfinity))
    case LessThan(c, v) => num(v).map(d => (c, Double.NegativeInfinity, d))
    case LessThanOrEqual(c, v) => num(v).map(d => (c, Double.NegativeInfinity, d))
    case In(c, vs) if vs.nonEmpty =>
      val ds = vs.map(num)
      if (ds.forall(_.isDefined)) {
        val flat = ds.flatten
        Some((c, flat.min, flat.max))
      } else None
    case _ => None
  }

  /** Membership constraint a filter imposes — the bloom-probe twin of
    * [[rangeOf]]: a batch must possibly contain at least ONE of the
    * listed values, per filter. Strings probe verbatim; INTEGRAL
    * equality literals probe their decimal-string canonical form (the
    * same key the writer hashed — [[CommitLogBloom]]'s grammar), so a
    * sparse BIGINT point lookup (`WHERE order_id = 123`) prunes from
    * blooms where overlapping range boxes cannot. Floats/decimals
    * stay out (no canonical text form shared with the writer). */
  def probeOf(f: Filter): Option[(String, Seq[String])] = {
    def key(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case n @ (_: Long | _: Integer | _: java.lang.Short |
          _: java.lang.Byte) => Some(n.toString)
      case _ => None
    }
    f match {
      case EqualTo(c, v) => key(v).map(k => (c, Seq(k)))
      case In(c, vs) if vs.nonEmpty =>
        val ks = vs.toSeq.map(key)
        if (ks.forall(_.isDefined)) Some((c, ks.flatten)) else None
      case _ => None
    }
  }

  /** Per-column [lo, hi] boxes a filter set implies (several filters
    * on one column AND together: intersect). */
  def boxesOf(filters: Seq[Filter]): Map[String, (Double, Double)] =
    filters.flatMap(rangeOf).groupBy(_._1).map { case (c, rs) =>
      c -> (rs.map(_._2).max, rs.map(_._3).min)
    }

  /** The CLOSED byte-lex range a filter bounds one STRING column to —
    * the string twin of [[rangeOf]], compared against the manifest's
    * truncated string bounds (both sides UTF-8 unsigned byte order,
    * which is Spark's UTF8String comparison and DuckDB's binary
    * collation). `LIKE 'p%'` bounds to [p, p-incremented): every match
    * starts with p, so it is ≥ p and strictly below the prefix with
    * its last non-0xFF byte incremented (no upper when p is all 0xFF).
    * None bound = unbounded on that side. */
  def strRangeOf(f: Filter)
      : Option[(String, Option[Array[Byte]], Option[Array[Byte]])] = {
    def b(s: String): Array[Byte] = s.getBytes("UTF-8")
    f match {
      case EqualTo(c, s: String) => Some((c, Some(b(s)), Some(b(s))))
      case GreaterThan(c, s: String) => Some((c, Some(b(s)), None))
      case GreaterThanOrEqual(c, s: String) => Some((c, Some(b(s)), None))
      case LessThan(c, s: String) => Some((c, None, Some(b(s))))
      case LessThanOrEqual(c, s: String) => Some((c, None, Some(b(s))))
      case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        val bs = vs.map(v => b(v.asInstanceOf[String]))
        val lo = bs.reduce((x, y) =>
          if (java.util.Arrays.compareUnsigned(x, y) <= 0) x else y)
        val hi = bs.reduce((x, y) =>
          if (java.util.Arrays.compareUnsigned(x, y) <= 0) y else x)
        Some((c, Some(lo), Some(hi)))
      case StringStartsWith(c, p) =>
        val pb = b(p)
        val upper = {
          val q = pb.clone()
          var i = q.length - 1
          while (i >= 0 && q(i) == -1) i -= 1
          if (i < 0) None
          else {
            q(i) = (q(i) + 1).toByte
            Some(java.util.Arrays.copyOf(q, i + 1))
          }
        }
        Some((c, Some(pb), upper))
      case _ => None
    }
  }

  /** Per-column closed string ranges a filter set implies (AND =
    * intersect: max of lowers, min of uppers, None = unbounded). */
  def strBoxesOf(filters: Seq[Filter])
      : Map[String, (Option[Array[Byte]], Option[Array[Byte]])] =
    filters.flatMap(strRangeOf).groupBy(_._1).map { case (c, rs) =>
      def pick(side: Seq[Option[Array[Byte]]], wantMax: Boolean) = {
        val defined = side.flatten
        if (defined.isEmpty) None
        else Some(defined.reduce((x, y) =>
          if ((java.util.Arrays.compareUnsigned(x, y) <= 0) ^ wantMax) x
          else y))
      }
      c -> (pick(rs.map(_._2), wantMax = true),
        pick(rs.map(_._3), wantMax = false))
    }
}

class CommitLogTable(
    root: String, tableSchema: StructType,
    extraOptions: Map[String, String] = Map.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  private val schema0 = tableSchema

  // ---- PARTITION MANAGEMENT (SHOW PARTITIONS / ALTER TABLE …
  //      DROP PARTITION / TRUNCATE TABLE … PARTITION) ----
  //
  // The read side is pure metadata: the distinct tuples of the live
  // batches, straight from the manifests the snapshot replay already
  // holds. The destructive side is the same METADATA-ONLY removal the
  // dynamic partition overwrite runs — whole batches drop from the
  // manifest, files stay readable behind time travel until vacuum.
  // Partitions are BORN WITH DATA in this layout (a batch IS a
  // partition's rows), so `ADD PARTITION` has nothing to create.

  private def partColsNow: Seq[String] =
    CommitLog.partColsOf(root, CommitLog.latestVersion(root))

  override def partitionSchema(): StructType = {
    val cols = partColsNow
    StructType(cols.map(c => schema0.fields.find(_.name == c).getOrElse(
      throw new IllegalStateException(
        s"partition column '$c' missing from the schema of $root"))))
  }

  /** The distinct live partition tuples, optionally constrained on a
    * subset of partition columns (`names` + the matching `ident`
    * values — SHOW PARTITIONS' PARTITION(...) clause). */
  override def listPartitionIdentifiers(
      names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val cols = partColsNow
    if (cols.isEmpty) return Array.empty
    val ps = partitionSchema()
    val v = CommitLog.latestVersion(root)
    val parts = CommitLog.partsOf(root, v)
    val live = CommitLog.files(root, v)
      .filter(b => parts.get(b).exists(t => cols.forall(t.contains)))
    val tuples = live.map { b =>
      cols.map { c =>
        CommitLog.partValue(parts(b)(c))
          .map(CommitLogPartitions.catalystValue(_,
            ps(ps.fieldIndex(c)).dataType)).orNull
      }
    }.distinct
    val nameIdx = names.toSeq.map { n =>
      val i = cols.indexOf(n)
      require(i >= 0, s"'$n' is not a partition column of $root ($cols)")
      i
    }
    tuples.filter { t =>
      nameIdx.zipWithIndex.forall { case (ci, ii) =>
        val want =
          if (ident.isNullAt(ii)) null
          else ident.get(ii, ps(ps.fieldIndex(names(ii))).dataType)
        val have = t(ci)
        (want == null && have == null) || (want != null && want == have)
      }
    }.map(t => new GenericInternalRow(t.toArray[Any]): InternalRow).toArray
  }

  /** Metadata-only partition drop: remove every live batch holding the
    * tuple in ONE commit (plus any deletion-vector batches left fully
    * covered). Old versions keep serving the partition — this is the
    * lakehouse DROP PARTITION, not a file delete. Refused while any
    * live data batch lacks a tuple (engine rewrites drop them): such a
    * batch may hold rows of the dropped partition, and a "successful"
    * drop that leaves them live silently serves a partition SHOW
    * PARTITIONS no longer lists. `optimizeRepartition` restores
    * partition purity. */
  override def dropPartition(ident: InternalRow): Boolean = {
    val cols = partColsNow
    require(cols.nonEmpty, s"$root is not partitioned")
    val ps = partitionSchema()
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val v = CommitLog.latestVersion(root)
      val parts = CommitLog.partsOf(root, v)
      val (dvs, datas) = CommitLog.files(root, v)
        .partition(_.startsWith(CommitLogMerge.DvPrefix))
      val untupled = datas
        .filterNot(b => parts.get(b).exists(t => cols.forall(t.contains)))
        .filter(b => CommitLogSource.listParquet(root, b).nonEmpty)
      if (untupled.nonEmpty)
        throw new IllegalStateException(
          s"DROP PARTITION on $root needs every live batch to carry a " +
            s"partition tuple; missing for ${untupled.mkString(",")} " +
            "(engine rewrites drop tuples — their rows may belong to the " +
            "dropped partition) — run CommitLogOptimize.optimizeRepartition " +
            "first")
      val matching = datas.filter { b =>
        parts.get(b).exists { t =>
          cols.forall(t.contains) && cols.zipWithIndex.forall { case (c, i) =>
            val have = CommitLog.partValue(t(c))
              .map(CommitLogPartitions.catalystValue(_,
                ps(ps.fieldIndex(c)).dataType)).orNull
            val want =
              if (ident.isNullAt(i)) null
              else ident.get(i, ps(ps.fieldIndex(c)).dataType)
            (want == null && have == null) || (want != null && want == have)
          }
        }
      }
      if (matching.isEmpty) return false
      val spark = org.apache.spark.sql.SparkSession.active
      val dirs = matching
        .map(b => CommitLogMerge.normDir(CommitLog.batchPath(root, b))).toSet
      val coveredDvs = CommitLogMerge.coveredDvBatches(spark, root, dvs, dirs)
      if (CommitLog.tryCommit(root, v + 1, added = Nil,
          removed = matching ++ coveredDvs, op = Some("DROP PARTITION"))) {
        if ((v + 1) % CommitLog.checkpointInterval == 0)
          CommitLog.writeCheckpoint(root, v + 1)
        return true
      }
    }
    throw new IllegalStateException(
      s"DROP PARTITION on $root gave up after 50 attempts (livelock?)")
  }

  override def truncatePartition(ident: InternalRow): Boolean = {
    if (!dropPartition(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        name(), ident, partitionSchema())
    true
  }

  /** Partitions exist exactly when data does — there is no empty
    * partition to register in a manifest-per-commit layout. */
  override def createPartition(
      ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "commitlog partitions are born with data: INSERT rows carrying " +
        "the partition value instead of ADD PARTITION")

  override def replacePartitionMetadata(
      ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "commitlog partitions carry no metadata to replace")

  override def loadPartitionMetadata(
      ident: InternalRow): java.util.Map[String, String] =
    new java.util.HashMap[String, String]()

  /** `_batch`: the commit-log batch directory a row came from — the
    * table's group identity. Selectable like any Spark metadata column
    * (`SELECT _batch, * FROM t`), and the attribute the row-level
    * operation requires so Spark routes rewrites through the
    * metadata-projecting write path. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = CommitLogSource.BatchCol
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "commit-log batch directory holding the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = CommitLogSource.RowFileCol
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file holding the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = CommitLogSource.RowPosCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "physical row position in the data file (the DV identity)"
      }) ++ (
      // ROW TRACKING: the stable row id is a PHYSICAL column in every
      // data file of a tracked table (the sink materializes it), so
      // unlike the synthesized columns above it reads VECTORIZED and
      // never forces the row leg — exposing it as a metadata column
      // only hides it from `SELECT *`
      if (CommitLogWrite.rowTrackingOn(
          CommitLog.tblPropsOf(root, CommitLog.latestVersion(root))) &&
          !schema0.fieldNames.contains(CommitLogWrite.RowIdCol))
        Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
          new org.apache.spark.sql.connector.catalog.MetadataColumn {
            override def name(): String = CommitLogWrite.RowIdCol
            override def dataType(): org.apache.spark.sql.types.DataType =
              org.apache.spark.sql.types.LongType
            override def isNullable: Boolean = false
            override def comment(): String =
              "stable row id (row tracking) — survives OPTIMIZE and " +
                "copy-on-write DML"
          })
      else
        Array.empty[org.apache.spark.sql.connector.catalog.MetadataColumn])

  /** SQL `UPDATE` / `MERGE INTO` / expression `DELETE`: the
    * group-based copy-on-write rewrite by default
    * ([[CommitLogRowLevelOperation]]), or the merge-on-read DELTA
    * plan ([[CommitLogDeltaOperation]] — only changed rows land, as
    * positions + postimages) when the session sets
    * `spark.graft.rowLevel.mode = delta`. The dial mirrors
    * [[CommitLogMerge]]'s write-amplification choice for statements
    * whose matched fraction the user knows to be sparse.
    * Simple-filter DELETEs never get here: `canDeleteWhere` claims
    * them for the metadata path. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      // IDENTITY guard (both row-level legs): UPDATE can overwrite a
      // GENERATED ALWAYS value and MERGE's NOT-MATCHED INSERT would
      // land NULL (or user-supplied) values with no generation and no
      // watermark advance — silently breaking the uniqueness contract
      // the append/overwrite writes enforce. Refuse loudly (mirroring
      // the streaming-sink refusal); DELETE stays allowed — it only
      // removes or copies rows verbatim, synthesizing nothing.
      if (info.command !=
          org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE) {
        val idCols = CommitLog.tblPropsOf(root, CommitLog.latestVersion(root))
          .keys.filter(_.startsWith(CommitLogWrite.IdentityPropPrefix))
          .map(_.stripPrefix(CommitLogWrite.IdentityPropPrefix)).toSeq.sorted
        if (idCols.nonEmpty)
          throw new UnsupportedOperationException(
            s"${info.command} on a table with identity column(s) " +
              s"${idCols.mkString(",")} is not supported — row-level " +
              "rewrites cannot allocate identity values (no watermark " +
              "advance); DELETE + INSERT through the sink instead")
      }
      val mode = org.apache.spark.sql.SparkSession.active.conf
        .get("spark.graft.rowLevel.mode", "cow")
      // ROW-TRACKED tables always take the DELTA (merge-on-read) leg:
      // unchanged rows keep their files (ids trivially preserved),
      // update postimages carry the id as a metadata attribute, and
      // MERGE inserts allocate from the watermark. The group-based COW
      // leg CANNOT honor row tracking — Spark's replace-data plan
      // projects metadata attributes away before the writer, so the
      // rewrite would silently unmake every surviving row's identity.
      val tracked = CommitLogWrite.rowTrackingOn(
        CommitLog.tblPropsOf(root, CommitLog.latestVersion(root)))
      if (tracked || mode == "delta")
        new CommitLogDeltaOperation(root, info.command)
      else new CommitLogRowLevelOperation(root, info.command)
    }

  /** SQL `DELETE FROM t WHERE …` (catalog tables): the predicate
    * arrives as v1 filters, translates to [[CommitLogDml.delete]]'s
    * expression dialect, and runs the same find-phase + leg-dial
    * delete as the API — serializable, audited, CDC-capable. The scan
    * reconciles any resulting deletion vectors, so a post-DELETE
    * SELECT just works. A predicate with untranslatable pieces is
    * refused by `canDeleteWhere` and Spark reports it cleanly. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => CommitLogFilters.toSql(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val cond =
      if (filters.isEmpty) "true"
      else filters.flatMap(CommitLogFilters.toSql).mkString(" AND ")
    // changeFeed on: the SQL surface offers no per-statement opt-in,
    // and a DV delete WITHOUT materialized change rows permanently
    // faults any streaming change-feed consumer at that version —
    // paying one extra touched-batch read is the safe default
    CommitLogDml.delete(
      org.apache.spark.sql.SparkSession.active, root, cond,
      changeFeed = true)
  }

  /** SQL `TRUNCATE TABLE` / unconditional DELETE: drop every live
    * batch as one metadata commit (files stay for time travel until
    * vacuum). The removal list is RE-RESOLVED per attempt — a plain
    * rebasing commit would keep a stale list and let a rival's append
    * survive a "successful" truncate. */
  override def truncateTable(): Boolean = {
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val v = CommitLog.latestVersion(root)
      val live = CommitLog.files(root, v)
      if (live.isEmpty) return true
      if (CommitLog.tryCommit(root, v + 1, added = Nil, removed = live,
          op = Some("TRUNCATE"))) {
        if ((v + 1) % CommitLog.checkpointInterval == 0)
          CommitLog.writeCheckpoint(root, v + 1)
        return true
      }
    }
    throw new IllegalStateException(
      s"TRUNCATE on $root gave up after 50 attempts (livelock?)")
  }
  override def name(): String = s"commitlog($root)"
  override def schema(): StructType = schema0

  /** Surfaced by `DESCRIBE TABLE EXTENDED`: the table's log-level
    * state at resolution time — current version, live batch count,
    * and the exact row count when every live batch carries one
    * (blank otherwise: unknown must not read as zero). Metadata-sized:
    * one snapshot replay. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("provider", "commitlog")
    m.put("location", root)
    val v = CommitLog.latestVersion(root)
    // stored user TBLPROPERTIES first: the connector's computed keys
    // below always win a collision (they state live log facts)
    CommitLog.tblPropsOf(root, v).foreach { case (k, pv) => m.put(k, pv) }
    m.put("version", v.toString)
    if (v > 0) {
      val snap = CommitLog.snapshotAt(root, v)
      m.put("numBatches", snap.files.size.toString)
      val dataBatches =
        snap.files.filterNot(_.startsWith(CommitLogMerge.DvPrefix))
      if (!snap.files.exists(_.startsWith(CommitLogMerge.DvPrefix)) &&
          dataBatches.forall(snap.rows.contains))
        m.put("numRows", dataBatches.map(snap.rows).sum.toString)
    }
    m
  }

  /** The identity partitioning in force (empty = unpartitioned) — what
    * makes SQL `PARTITIONED BY` round-trip through DESCRIBE and routes
    * `INSERT OVERWRITE` under partitionOverwriteMode=dynamic onto the
    * dynamic-overwrite plan. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    CommitLog.partColsOf(root, CommitLog.latestVersion(root)).map { spec =>
      CommitLogBucket.parse(spec) match {
        case Some((n, src)) => Expressions.bucket(n, src)
        case None => CommitLogMonotone.parse(spec) match {
          case Some(CommitLogMonotone.Time(u, src)) => u match {
            case "days" => Expressions.days(src)
            case "hours" => Expressions.hours(src)
            case "months" => Expressions.months(src)
            case "years" => Expressions.years(src)
          }
          case Some(CommitLogMonotone.Trunc(w, src)) =>
            Expressions.apply("truncate",
              Expressions.literal(w), Expressions.column(src))
          case None => Expressions.identity(spec)
        }
      }
    }.toArray
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  /** Append-only writes (see [[CommitLogWrite]]): batch appends commit
    * one fresh-named batch; streaming appends commit one batch per
    * epoch with a (queryId, epochId) txn watermark for exactly-once.
    * Rewrites (MERGE, delete, compaction) go through [[CommitLogMerge]]
    * — a sink that silently truncated a versioned table would defeat
    * the log's whole point. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new CommitLogWriteBuilder(root, info)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // catalog-loaded tables carry their own context (e.g. versionAsOf
    // from a SQL time-travel clause) — merge it under the caller's
    val merged = new java.util.HashMap[String, String](options)
    extraOptions.foreach { case (k, v) => merged.put(k, v) }
    new CommitLogScanBuilder(root, schema0, new CaseInsensitiveStringMap(merged))
  }
}

/** Plan-time MANIFEST pruning + column pruning for the batch leg —
  * eleven pushdown modalities, every one decided from metadata already
  * in hand from snapshot replay (zero data reads, the s22g path behind
  * the connector API): numeric range boxes, STRING byte-lex bounds
  * (ranges + `LIKE 'prefix%'`), bloom membership (string AND integral
  * keys), per-column NULL COUNTS (`IS [NOT] NULL`), exact
  * partition-tuple evaluation, LIMIT early-out, TOP-N accumulate-to-k
  * cuts (null-tolerant), metadata-only aggregates (COUNT(*)/COUNT(col)/
  * MIN/MAX incl. exact string extremes), variant-extraction schema
  * narrowing, runtime (DPP) filters, and column pruning. ALL filters
  * are returned as residual — Spark re-evaluates them above the scan,
  * so a batch without stats (always kept) or a boundary approximation
  * can never change results, only the set of files opened. Streaming
  * micro-batch scans get no pushdown from Spark (the t13 note) and
  * plan unpruned. */
class CommitLogScanBuilder(
    root: String, schema0: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {
  import org.apache.spark.sql.sources._

  // ---- TOP-N pushdown (partial): `ORDER BY c LIMIT k` plans only the
  // FILES that can hold the global top-k, decided from manifest boxes —
  // at 100 TB, `ORDER BY ts DESC LIMIT 100` over a time-sorted table
  // plans one file instead of a million (write-time sort order makes
  // the boxes range-disjoint; see SortOrdersProp). Soundness argument
  // in [[CommitLogScan.topNPrunedBatches]]; requires a `c IS NOT NULL`
  // CHECK in force (batch row counts must equal non-null counts for
  // the accumulate-to-k bound). Spark re-sorts above the scan
  // (isPartiallyPushed), so declining or under-pruning never changes
  // results, only the file set opened. Spark offers the pushdown only
  // when the sort sits directly over the scan; residual filters (all
  // of this source's filters stay residual) block the offer, and the
  // acceptance below re-checks defensively.
  private var topNHint: Option[CommitLogSource.TopNHint] = None

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (allFilters.nonEmpty || limitHint.isDefined || orders.isEmpty)
      return false
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) return false
    // the bound is sound on the LEADING key alone: lexicographic
    // order is primarily by it, so the top-k rows carry exactly the
    // k largest (DESC) leading values — trailing keys only arbitrate
    // ties WITHIN equal leading values and can never pull a row from
    // a batch whose leading box misses the bound. `ORDER BY ts DESC,
    // id LIMIT 100` prunes exactly like the single-key spelling;
    // Spark still applies the full multi-key sort above the scan
    // (isPartiallyPushed). Null handling lives entirely in the cut
    // (NOT NULL proof, or the per-batch null counts — r15), so
    // acceptance is unconditional for any named leading key.
    val o = orders(0)
    val col = o.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        nr.fieldNames()(0)
      case _ => return false
    }
    topNHint = Some(CommitLogSource.TopNHint(
      col, o.direction() == SortDirection.DESCENDING,
      o.nullOrdering() == NullOrdering.NULLS_FIRST, limit))
    true
  }

  // ---- VARIANT EXTRACTION pushdown (SupportsPushDownVariantExtractions)
  //
  // `variant_get(v, '$.k')` over a shredded layout should read ONLY the
  // `k` shredded subcolumn — that is the point of shredding. Spark's
  // planner offers the extractions; accepting them contracts this
  // builder to REWRITE each pushed variant column in `readSchema()`
  // into a struct of the extractions (fields named "0","1",… in array
  // order, each carrying the VariantMetadata path in its metadata —
  // the planner's GetStructField ordinals are exactly those indexes,
  // and `buildScanWithPushedVariants` consumes the holder BEFORE the
  // pruneColumns phase, so the scan must reflect the rewrite itself).
  // The vectorized leg then hands the annotated struct to Spark's
  // VectorizedParquetRecordReader, which serves each field from the
  // file's shredded subcolumn when present and decodes from the binary
  // when not; the row leg (DV/CDF/metadata-forced reads) reassembles
  // the whole variant and evaluates the paths per row.
  //
  // Acceptance is ALL-OR-NOTHING: a partially-accepted array would
  // leave the planner's field ordinals out of step with the struct the
  // scan serves (rejected entries are dropped from the planner's
  // mapping without renumbering the survivors' ordinals).
  private var variantStructs: Map[String, StructType] = Map.empty
  private var variantDeclined = false

  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction])
      : Array[Boolean] = {
    if (extractions == null || extractions.isEmpty) return Array.empty
    // CHANGE FEED: an INSERT-ONLY window reads ordinary whole data
    // files with constant stamps — the r15 constant-stamp columnar leg
    // serves shredded subcolumn extractions exactly like a snapshot
    // scan, so `variant_get` over a feed of appends (the dominant
    // tailing shape) narrows to the requested paths. Any window with
    // removes, DV commits or materialized change files keeps whole
    // variants (their row-leg shapes — per-row stamp synthesis,
    // DV-position deletes — were the r14 decline; should the window
    // grow past plan time, the row leg still EVALUATES accepted paths
    // per row via variantStructEval, so degradation is never wrong).
    // Metadata-bearing plans were tagged to decline by
    // [[NoVariantPushdownOnMetadataScans]] (accepting would starve
    // them of their metadata columns — see that rule's scaladoc).
    def insertOnlyWindow: Boolean = {
      val lo = Option(options.get("startingVersion")).map(_.toInt)
        .orElse(Option(options.get("startingTimestamp")).map { t =>
          val ms = parseTime(t)
          if (CommitLog.history(root).forall(_.timestampMs > ms)) 0
          else CommitLog.versionAt(root, ms)
        }).getOrElse(0)
      val hi = Option(options.get("endingVersion")).map(_.toInt)
        .getOrElse(CommitLog.latestVersion(root))
      CommitLog.changes(root, lo, hi).filter(_.dataChange).forall { ch =>
        ch.removed.isEmpty &&
          !ch.added.exists(_.startsWith(CommitLogMerge.DvPrefix)) &&
          (ch.changeFiles match {
            // round-16 grammar: the committing writer recorded whether
            // it promoted materialized change rows — planning stays
            // metadata-only, no per-version remote listing
            case Some(present) => !present
            // legacy manifest: only the row-level verbs ever promote a
            // change dir, so an append/overwrite-shaped version is
            // clean by its op alone; merge-family (or op-less direct)
            // commits keep the listing fallback
            case None if !ch.op.forall(
              Set("MERGE", "UPDATE", "DELETE")) => true
            case None => CommitLogSource.listParquet(
              root, CommitLogMerge.changeDirName(ch.version)).isEmpty
          })
      }
    }
    val changeFeed = (Option(options.get("readChangeFeed"))
        .exists(_.toBoolean) && !insertOnlyWindow) ||
      Option(options.get(CommitLogSource.NoVariantExtractionOpt))
        .exists(_.toBoolean)
    def serveable(
        e: org.apache.spark.sql.connector.read.VariantExtraction): Boolean =
      e.columnName().length == 1 &&
        schema0.fields.exists(f => f.name == e.columnName()(0) &&
          f.dataType == org.apache.spark.sql.types.VariantType) &&
        e.metadata() != null &&
        e.metadata().contains(
          org.apache.spark.sql.execution.datasources.VariantMetadata.METADATA_KEY)
    // COVERAGE gate: the planner's post-build remap composes the old
    // variant attributes through the rewritten holder output ZIPPED
    // POSITIONALLY with the new scan output — with a variant column
    // left un-extracted the composition drops the extracted columns'
    // original attributes and the plan fails to bind (reproduced on
    // Spark's own parquet v2, 4.1.2). Accept only when the array
    // covers EVERY variant column of this table; decline otherwise
    // (whole-variant read — correct, just not narrowed).
    val allVariantCols = schema0.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.VariantType => f.name
    }.toSet
    val covered = extractions.map(_.columnName()(0)).toSet
    // STICKY decline: after a declined offer the planner RE-OFFERS
    // whole-'$' extractions per column, but its field mapping still
    // holds the original path keys — accepting the retry crashes the
    // plan rewrite upstream (NoSuchElementException in rewriteExpr,
    // 4.1.2). One decline means this scan reads whole variants.
    // a metadata-only aggregate already claimed this scan: build()
    // returns the agg scan verbatim and could not honor a variant
    // rewrite (no current plan shape offers both, but the guard keeps
    // that a decline instead of a readSchema mismatch)
    if (variantDeclined || changeFeed || pushedAgg.isDefined ||
        !extractions.forall(serveable) || covered != allVariantCols) {
      variantDeclined = true
      return extractions.map(_ => false)
    }
    variantStructs = extractions.toSeq.groupBy(_.columnName()(0))
      .map { case (c, group) =>
        c -> StructType(group.zipWithIndex.map { case (e, i) =>
          StructField(i.toString, e.expectedDataType(), nullable = true,
            e.metadata())
        })
      }
    extractions.map(_ => true)
  }

  /** `required` with every pushed variant column rewritten to its
    * extraction struct — what the scan reads and serves. */
  private def requiredWithVariants: StructType =
    if (variantStructs.isEmpty) required
    else StructType(required.fields.map(f =>
      variantStructs.get(f.name).map(st => f.copy(dataType = st)).getOrElse(f)))

  // ---- LIMIT pushdown (partial): plan only as many FILES as the
  // manifest row counts prove necessary. `SELECT * FROM t LIMIT 10` at
  // 100 TB plans one batch instead of a million files — Spark still
  // applies the exact limit above the scan (isPartiallyPushed), so
  // batches without counts merely stop the early-out, never
  // correctness. Declined under filters (a filtered row doesn't count
  // toward the limit) — Spark only offers the pushdown for limits
  // directly over the scan anyway.
  private var limitHint: Option[Int] = None

  override def pushLimit(n: Int): Boolean = {
    if (allFilters.nonEmpty || topNHint.isDefined) return false
    limitHint = Some(n)
    true
  }

  /** Spark keeps its own LIMIT above the scan: file-level early-out is
    * a planning optimization, not an exact row bound. */
  override def isPartiallyPushed(): Boolean = true

  private var required: StructType = schema0
  private var pushed: Array[Filter] = Array.empty
  private var boxes: Map[String, (Double, Double)] = Map.empty
  private var probes: Seq[(String, Seq[String])] = Nil
  private var allFilters: Seq[Filter] = Nil

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      CommitLogFilters.rangeOf(f).isDefined ||
        CommitLogFilters.probeOf(f).isDefined ||
        CommitLogFilters.strRangeOf(f).isDefined)
    // several filters on one column AND together: intersect the boxes
    boxes = CommitLogFilters.boxesOf(filters.toSeq)
    probes = filters.flatMap(CommitLogFilters.probeOf).toSeq
    // every filter also goes to the scan whole for EXACT evaluation
    // against manifest partition tuples (see CommitLogPartitions)
    allFilters = filters.toSeq
    filters // everything stays residual: pruning is a fast path only
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // the reader resolves fields by name and null-fills, so narrowing
    // the output schema is all pruning needs (no footer projection)
    required = requiredSchema

  /** `timestampAsOf` / `startingTimestamp` accept epoch millis or any
    * `yyyy-MM-dd[ HH:mm:ss]` timestamp, resolved against commit times
    * by [[CommitLog.versionAt]]. */
  private def parseTime(s: String): Long = CommitLogSource.parseTime(s)

  // ---- metadata-only AGGREGATE pushdown ----
  //
  // An unfiltered COUNT(*) / MIN / MAX (optionally GROUP BY partition
  // columns) is answered entirely from commit metadata: counts from the
  // manifests' exact per-batch row counts ([[CommitLog.Rows]]), MIN/MAX
  // from the stats boxes where the boxed double is PROVABLY the exact
  // value, groups from the recorded partition tuples. Zero data files
  // open — at 100 TB, `SELECT count(*) FROM t` costs one checkpoint+
  // delta replay instead of a million-file scan. Spark only offers the
  // aggregate when no residual filter sits above the scan (this source
  // keeps every filter residual, so exactly the unfiltered shapes
  // qualify), and any condition this check cannot prove — outstanding
  // deletion vectors, an uncounted batch, a boxless batch, a lossy box
  // type — declines the pushdown and the scan runs normally.

  private var pushedAgg: Option[CommitLogAggScan] = None
  private var checkedAgg: Option[(AnyRef, Option[CommitLogAggScan])] = None

  private def metadataAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[CommitLogAggScan] = {
    // supportCompletePushDown and pushAggregation both ask — one replay
    checkedAgg match {
      case Some((ref, res)) if ref eq agg => return res
      case _ =>
    }
    val res = computeMetadataAggregate(agg)
    checkedAgg = Some((agg, res))
    res
  }

  private def computeMetadataAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[CommitLogAggScan] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (allFilters.nonEmpty) return None // defensive: Spark gates this
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) return None
    val v = Option(options.get("versionAsOf")).map(_.toInt)
      .orElse(Option(options.get("timestampAsOf"))
        .map(t => CommitLog.versionAt(root, parseTime(t))))
      .getOrElse(CommitLog.latestVersion(root))
    val snap = CommitLog.snapshotAt(root, v)
    // a DV position deletes rows the counts/boxes still describe
    if (snap.files.exists(_.startsWith(CommitLogMerge.DvPrefix))) return None
    // counts gate everything: exact cardinality AND knowing which
    // batches are empty (an empty batch legally has no boxes; an empty
    // GROUP must emit no row)
    if (!snap.files.forall(snap.rows.contains)) return None
    val fm = CommitLog.formerNamesOf(root, v)
    val typeSchema = CommitLog.schemaOf(root, v)
      .map(StructType.fromDDL).getOrElse(schema0)

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val gbColsOpt = agg.groupByExpressions().toSeq.map(colOf)
    if (gbColsOpt.exists(_.isEmpty)) return None
    val gbCols = gbColsOpt.flatten
    // grouping is answerable over any column with a recorded tuple
    // token in EVERY live batch — a token is the batch's single value
    // for it. Token presence (checked below), not current-spec
    // membership, is the test: after partition evolution an
    // ex-partition column keeps answering while the live set is still
    // its era's, and declines once a new-era batch lacks the token.

    def tupleOf(b: String): Option[Map[String, String]] =
      snap.parts.get(b).map { tokens =>
        fm.foldLeft(tokens) { case (acc, (logical, formers)) =>
          if (acc.contains(logical)) acc
          else formers.collectFirst {
            case fn if acc.contains(fn) => acc(fn)
          }.map(v0 => acc + (logical -> v0)).getOrElse(acc)
        }
      }
    // zero-row batches contribute no rows, no groups, and need no boxes
    val live = snap.files.filter(b => snap.rows(b) > 0L)
    if (gbCols.nonEmpty &&
        !live.forall(b => tupleOf(b).exists(t => gbCols.forall(t.contains))))
      return None

    def chainStat(b: String, c: String): Option[CommitLog.ColStat] =
      snap.stats.get(b).flatMap { bm =>
        (c +: fm.getOrElse(c, Seq.empty)).iterator.map(bm.get)
          .collectFirst { case Some(t) => t }
      }
    def chainBox(b: String, c: String): Option[(Double, Double)] =
      chainStat(b, c).flatMap(_.box)
    def dtOf(c: String): Option[DataType] =
      typeSchema.fields.find(_.name == c).map(_.dataType)
    // a boxed double is the exact value for int/date (< 2^31), float/
    // double (identity), and long/timestamp within ±2^53; decimals are
    // boxed SCALED (lossy) and everything else is unboxed — decline
    def exactValue(c: String, d: Double): Option[Any] = dtOf(c).flatMap {
      case IntegerType | DateType => Some(Int.box(d.toInt))
      // an INFINITE float/double bound is ambiguous: a genuine ±Inf
      // value boxes the same as the writer's NaN-presence marker
      // (hi = +Inf; NaN sorts above +Inf, so the true MAX of a
      // NaN-bearing batch is NaN, not the box) — decline and let the
      // scan read data. Finite bounds prove the batch NaN-free.
      case FloatType =>
        if (d.isInfinite) None else Some(Float.box(d.toFloat))
      case DoubleType =>
        if (d.isInfinite) None else Some(Double.box(d))
      case LongType | TimestampType =>
        if (math.abs(d) < 9007199254740992.0) Some(Long.box(d.toLong))
        else None
      case _ => None
    }

    sealed trait Fn
    case object CountAll extends Fn
    case class MinOf(c: String) extends Fn
    case class MaxOf(c: String) extends Fn
    case class CountOf(c: String) extends Fn
    case class SumOf(c: String) extends Fn
    case class AvgOf(c: String) extends Fn
    case class CountDistinctOf(c: String) extends Fn
    // COUNT(DISTINCT c) is exact from IDENTITY tuple tokens: a token
    // is THE value of every row in its batch, so the distinct non-null
    // tokens of the group's batches are exactly the distinct values
    // (bucket/monotone tokens are transform images — never eligible,
    // and tupleOf keys them under their spec names, not `c`)
    def tokenCovered(c: String): Boolean =
      live.forall(b => tupleOf(b).exists(_.contains(c)))
    // SUM/AVG are integral-only: that is where the writer records the
    // exact sum facet (S79) — float/double sums are order-dependent
    // and would not reproduce Spark's own fold anyway
    def integral(c: String): Boolean = dtOf(c).exists {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val fnsOpt: Seq[Option[Fn]] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(CountAll)
      case m: Min => colOf(m.column).map(MinOf)
      case m: Max => colOf(m.column).map(MaxOf)
      // COUNT(col) = rows − nulls, answerable since r15 from the
      // per-column null counts the sink records with every box
      case c: Count if !c.isDistinct => colOf(c.column).map(CountOf)
      case c: Count if c.isDistinct =>
        colOf(c.column).filter(tokenCovered).map(CountDistinctOf)
      case s: Sum if !s.isDistinct =>
        colOf(s.column).filter(integral).map(SumOf)
      case a: Avg if !a.isDistinct =>
        colOf(a.column).filter(integral).map(AvgOf)
      case _ => None
    }
    if (fnsOpt.exists(_.isEmpty)) return None
    val fns = fnsOpt.flatten

    // one group per distinct tuple projection (global agg = one group,
    // present even over an empty table: COUNT(*) of nothing is 0)
    val groups: Seq[(Seq[String], Seq[String])] =
      if (gbCols.isEmpty) Seq((Nil, live))
      else live.groupBy(b => gbCols.map(c => tupleOf(b).get(c)))
        .toSeq.map { case (k, bs) => (k, bs) }.sortBy(_._1.mkString("\u0000"))

    // STRING MIN/MAX from the truncated bounds (r15): exact only when
    // every CONTRIBUTING batch's bound is shorter than the cap (a
    // cap-length bound may be a truncated lower or an incremented
    // upper — not a real value); batches provably all-null in c
    // (nulls == rows) contribute no values and may lack bounds
    def strExtreme(batches: Seq[String], c: String, isMin: Boolean)
        : Option[Any] = {
      val contributing = batches.filterNot(b =>
        chainStat(b, c).flatMap(_.nulls).contains(snap.rows(b)))
      if (contributing.isEmpty) return Some(null) // no values: NULL
      val bounds = contributing.map { b =>
        chainStat(b, c).flatMap(st => if (isMin) st.strLo else st.strHi)
          .filter(_.length < CommitLog.ColStat.StrCap)
      }
      if (bounds.exists(_.isEmpty)) None
      else {
        val sel = bounds.flatten.reduce((a, x) =>
          if ((java.util.Arrays.compareUnsigned(a, x) <= 0) == isMin) a
          else x)
        Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(sel))
      }
    }
    def fnValue(batches: Seq[String], fn: Fn): Option[Any] = fn match {
      case CountAll => Some(Long.box(batches.map(snap.rows).sum))
      case MinOf(c) =>
        if (batches.isEmpty) Some(null) // MIN over no rows is NULL
        else if (dtOf(c).contains(StringType)) strExtreme(batches, c, true)
        else {
          val bs = batches.map(b => chainBox(b, c))
          // a live batch without a box may be all-null in c (box
          // correct) or simply unboxed (engine rewrite) — cannot prove
          if (bs.exists(_.isEmpty)) None
          else exactValue(c, bs.flatten.map(_._1).min)
        }
      case MaxOf(c) =>
        if (batches.isEmpty) Some(null)
        else if (dtOf(c).contains(StringType)) strExtreme(batches, c, false)
        else {
          val bs = batches.map(b => chainBox(b, c))
          if (bs.exists(_.isEmpty)) None
          else exactValue(c, bs.flatten.map(_._2).max)
        }
      case CountOf(c) =>
        // exact when every live batch carries BOTH its exact row count
        // (gated above) and a null count for c — COUNT over no rows is
        // 0, and a pre-evolution batch (no stats entry for c: its rows
        // null-fill the column) correctly declines to a data read
        val parts = batches.map(b => chainStat(b, c).flatMap(_.nulls)
          .map(snap.rows(b) - _))
        if (parts.exists(_.isEmpty)) None
        else Some(Long.box(parts.flatten.sum))
      case CountDistinctOf(c) =>
        // tokenCovered gated eligibility over the WHOLE live set, so
        // every batch here has a token; null tokens are all-null
        // batches and contribute no value
        Some(Long.box(batches.flatMap(b => tupleOf(b).flatMap(_.get(c)))
          .flatMap(CommitLog.partValue).distinct.size.toLong))
      case SumOf(c) => sumAndCount(batches, c).map {
        case (_, 0L) => null // SUM over no values is NULL
        case (s, _) => Long.box(s)
      }
      case AvgOf(c) => sumAndCount(batches, c).map {
        case (_, 0L) => null
        // the exact-sum-then-divide double: what DuckDB and ANSI SQL
        // produce (Spark's own double fold can lose low bits past
        // 2^53, so the metadata answer is the MORE exact one)
        case (s, n) => Double.box(s.toDouble / n.toDouble)
      }
    }
    // (exact sum, non-null count) over the group's batches — both
    // facets required everywhere (sum alone cannot settle NULL-ness,
    // and a facet-less batch may predate S79 or have overflowed); the
    // merged total declines on overflow rather than wrapping
    def sumAndCount(batches: Seq[String], c: String): Option[(Long, Long)] = {
      val parts = batches.map { b =>
        for {
          st <- chainStat(b, c)
          s <- st.sum
          n <- st.nulls
        } yield (s, snap.rows(b) - n)
      }
      if (parts.exists(_.isEmpty)) None
      else try Some(parts.flatten.foldLeft((0L, 0L)) { case ((s, n), (ps, pn)) =>
        (Math.addExact(s, ps), n + pn)
      }) catch { case _: ArithmeticException => None }
    }
    def keyValue(c: String, tok: String): Option[Any] =
      CommitLog.partValue(tok) match {
        case None => Some(null)
        case Some(s) => dtOf(c).flatMap(dt =>
          try Some(CommitLogPartitions.catalystValue(s, dt))
          catch { case _: IllegalArgumentException => None })
      }

    val rows: Seq[Seq[Any]] = groups.map { case (keyToks, batches) =>
      val keyVals = gbCols.zip(keyToks).map { case (c, tok) =>
        keyValue(c, tok).getOrElse(return None)
      }
      val fnVals = fns.map(fn => fnValue(batches, fn).getOrElse(return None))
      keyVals ++ fnVals
    }

    // output schema POSITIONALLY matches Spark's expectation: group
    // columns first, then the aggregate expressions in declared order
    val gbFields = gbCols.map(c =>
      StructField(c, dtOf(c).getOrElse(return None), nullable = true))
    val fnFields = fns.map {
      case CountAll => StructField("count(*)", LongType, nullable = false)
      case MinOf(c) =>
        StructField(s"min($c)", dtOf(c).getOrElse(return None), nullable = true)
      case MaxOf(c) =>
        StructField(s"max($c)", dtOf(c).getOrElse(return None), nullable = true)
      case CountOf(c) => StructField(s"count($c)", LongType, nullable = false)
      case CountDistinctOf(c) =>
        StructField(s"count(DISTINCT $c)", LongType, nullable = false)
      // Spark's SUM over any integral input widens to bigint; AVG to
      // double — the scan's schema must agree positionally
      case SumOf(c) => StructField(s"sum($c)", LongType, nullable = true)
      case AvgOf(c) => StructField(s"avg($c)", DoubleType, nullable = true)
    }
    Some(CommitLogAggScan(StructType(gbFields ++ fnFields), rows))
  }

  /** Complete pushdown: the scan's rows ARE the final aggregate — no
    * re-aggregation above. True exactly when the metadata proof
    * succeeds; the same answer also serves Spark's partial-pushdown
    * path (a single pre-aggregated partition re-aggregates to itself). */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = metadataAggregate(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedAgg = metadataAggregate(agg)
    pushedAgg.isDefined
  }

  override def build(): Scan = {
    if (pushedAgg.isDefined) return pushedAgg.get
    val versionAsOf = Option(options.get("versionAsOf")).map(_.toInt)
      .orElse(Option(options.get("timestampAsOf"))
        .map(t => CommitLog.versionAt(root, parseTime(t))))
    val startingVersion = Option(options.get("startingVersion")).map(_.toInt)
      .orElse(Option(options.get("startingTimestamp")).map { t =>
        // start AFTER the last version at or before the time: the
        // stream emits commits the reader at that instant had not seen
        val ms = parseTime(t)
        if (CommitLog.history(root).forall(_.timestampMs > ms)) 0
        else CommitLog.versionAt(root, ms)
      }).getOrElse(0)
    // GENERATED-COLUMN FILTER DERIVATION: a filter on a generated
    // column's SOURCE derives a conservative filter on the generated
    // column itself, joining the partition-tuple pruning — the Delta
    // generated-partition behavior (`WHERE ts >= X` prunes a table
    // partitioned by `day = CAST(ts AS DATE)` without naming day).
    // Tuple pruning only: box/bloom literal encodings are the
    // writer's, so derived literals stay out of them.
    val derivedPart =
      if (allFilters.isEmpty) Nil
      else {
        val v = versionAsOf.getOrElse(CommitLog.latestVersion(root))
        val gens = CommitLog.tblPropsOf(root, v).collect {
          case (k, sql) if k.startsWith(CommitLogWrite.GeneratedPropPrefix) =>
            k.stripPrefix(CommitLogWrite.GeneratedPropPrefix) -> sql
        }
        GeneratedPruning.derived(
          org.apache.spark.sql.SparkSession.active, schema0, gens, allFilters)
      }
    CommitLogScan(
      root, requiredWithVariants, boxes, probes,
      partFilters = allFilters ++ derivedPart,
      versionAsOf = versionAsOf,
      startingVersion = startingVersion,
      maxVersionsPerTrigger = Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      ignoreDeletes = Option(options.get("ignoreDeletes")).exists(_.toBoolean),
      skipChangeCommits =
        Option(options.get("skipChangeCommits")).exists(_.toBoolean),
      readChangeFeed = Option(options.get("readChangeFeed")).exists(_.toBoolean),
      endingVersion = Option(options.get("endingVersion")).map(_.toInt),
      limitHint = limitHint,
      topN = topNHint)
  }
}

/** Plans one committed version as CHANGE-FEED partitions — the shared
  * leg of the connector's batch `table_changes` read and the streaming
  * change feed. Rules, in order:
  *
  *  - dataChange=false versions (OPTIMIZE) emit nothing;
  *  - a version with MATERIALIZED change rows (`_changes/v<N>`,
  *    written by a `changeFeed = true` merge or any SQL row-level
  *    verb) plans those files — the file carries `_change_type`, the
  *    reader stamps `_commit_version`;
  *  - a DV commit (sparse delete / delta UPDATE-MERGE) SYNTHESIZES its
  *    delete rows from the deletion-vector positions: the base file is
  *    read at exactly the removed positions (`onlyPositions`) as
  *    constant `delete` — exact at row granularity, no diff join, no
  *    touched-batch re-read on the write path. Positions restated from
  *    a consolidated (removed) DV are subtracted — they were retracted
  *    at their own versions. The commit's added data files
  *    (postimages/inserts) plan as `insert`;
  *  - appends plan their added files as constant `insert`; whole-batch
  *    deletes plan the removed files as constant `delete`, SKIPPING
  *    positions already dead under DVs in force at v-1
  *    (file-granularity deletes are exact only for rows still live —
  *    re-emitting a DV-deleted row would double-retract it);
  *  - a data rewrite (adds AND removes data batches) WITHOUT
  *    materialized change rows fails with guidance — a scan cannot run
  *    the preimage/postimage diff join. SQL row-level verbs always
  *    materialize, so this is reachable only from API merges run with
  *    changeFeed=false. */
object CommitLogChangePlan {
  def partitions(root: String, ch: CommitLog.Change): Seq[CommitLogInputPartition] = {
    if (!ch.dataChange) return Nil
    // the DIRECTORY is the marker: a materialized-but-empty change set
    // (a rewrite that changed nothing) is "no feed rows", not "fall
    // through to the synthesized legs"
    val changeDir = new org.apache.hadoop.fs.Path(
      s"$root/${CommitLogMerge.changeDirName(ch.version)}")
    val fs = org.apache.hadoop.fs.FileSystem.get(changeDir.toUri,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (fs.exists(changeDir))
      return CommitLogSource
        .listParquet(root, CommitLogMerge.changeDirName(ch.version))
        .map(f => CommitLogInputPartition(f, None, ch.version))
    val (addedDvs, addedData) =
      ch.added.partition(_.startsWith(CommitLogMerge.DvPrefix))
    val (removedDvs, removedData) =
      ch.removed.partition(_.startsWith(CommitLogMerge.DvPrefix))
    // REPLACE-semantics verbs carry no row identity between their
    // sides: every removed row is a delete and every added row an
    // insert, so file granularity is exact without a diff. (RESTORE
    // across a compaction may restate unchanged rows as delete+insert
    // churn — sign-correct under the retraction fold, which is the
    // consumer contract.) A row-level rewrite has no such license.
    val replaceSemantics = ch.op.exists(o =>
      o == "OVERWRITE" || o == "OVERWRITE WHERE" ||
        o == "OVERWRITE PARTITIONS" || o == "TRUNCATE" ||
        o == "RESTORE" || o == "REPLACE TABLE")
    // NON-COMPARABLE tables (map/variant columns): EXCEPT ALL cannot
    // row-diff them, so their COW rewrites NEVER materialize change
    // rows — serve those versions at FILE granularity (every removed
    // row a delete, every added row an insert) under the replace-
    // semantics license: unchanged rows restate as delete+insert
    // churn, sign-exact under the retraction fold (the consumer
    // contract). A comparable table's unmaterialized rewrite stays a
    // refusal — it could have diffed and chose not to.
    lazy val nonComparable = CommitLog.schemaOf(root, ch.version)
      .map(StructType.fromDDL)
      .exists(_.fields.exists(f => !CommitLogCdf.multisetComparable(f.dataType)))
    if (addedData.nonEmpty && removedData.nonEmpty && !replaceSemantics &&
        !nonComparable)
      throw new IllegalStateException(
        s"v${ch.version} of $root is a copy-on-write rewrite with no " +
          "materialized change rows — run MERGE with changeFeed=true " +
          "(or consume via CommitLogCdf.changeFeed, which computes the diff)")
    val spark = org.apache.spark.sql.SparkSession.active
    // DV leg: this commit's deletes ARE the new vectors' positions
    // (deletes-sized and capped — the dvPositionsByFile contract)
    val dvDeletes =
      if (addedDvs.isEmpty) Nil
      else {
        val fresh = CommitLogMerge.dvPositionsByFile(spark, root, addedDvs)
        val restated = CommitLogMerge.dvPositionsByFile(spark, root, removedDvs)
        fresh.toSeq.flatMap { case (file, pos) =>
          val prior = restated.getOrElse(file, Array.empty[Long]).toSet
          val mine = pos.filterNot(prior)
          if (mine.isEmpty) None
          else Some(CommitLogInputPartition(file, Some("delete"), ch.version,
            onlyPositions = mine))
        }
      }
    val inserts = addedData
      .flatMap(CommitLogSource.listParquet(root, _))
      .map(f => CommitLogInputPartition(f, Some("insert"), ch.version))
    val deletes =
      if (removedData.isEmpty) Nil
      else {
        // rows already dead under DVs in force BEFORE this version were
        // retracted at their own versions — skip them here
        val dvsBefore = CommitLog.files(root, ch.version - 1)
          .filter(_.startsWith(CommitLogMerge.DvPrefix))
        val dead = CommitLogMerge.dvPositionsByFile(spark, root, dvsBefore)
        removedData.flatMap(CommitLogSource.listParquet(root, _))
          .map(f => CommitLogInputPartition(f, Some("delete"), ch.version,
            deletedPositions = dead.getOrElse(
              CommitLogMerge.normDir(f), Array.empty)))
      }
    dvDeletes ++ inserts ++ deletes
  }
}

case class CommitLogScan(
    root: String, schema: StructType,
    boxes: Map[String, (Double, Double)],
    probes: Seq[(String, Seq[String])],
    partFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    versionAsOf: Option[Int], startingVersion: Int,
    maxVersionsPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    ignoreDeletes: Boolean,
    skipChangeCommits: Boolean = false,
    readChangeFeed: Boolean = false,
    endingVersion: Option[Int] = None,
    limitHint: Option[Int] = None,
    topN: Option[CommitLogSource.TopNHint] = None)
    extends Scan with Batch
    with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with SupportsReportPartitioning {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = {
    val b = boxes.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"$c in [$lo,$hi]" }.mkString(", ")
    val p = probes.map { case (c, vs) => s"$c in {${vs.mkString("|")}}" }
      .mkString(", ")
    s"CommitLogScan root=$root versionAsOf=${versionAsOf.getOrElse(-1)}" +
      (if (b.isEmpty) "" else s" PrunedByManifestStats: [$b]") +
      (if (p.isEmpty) "" else s" PrunedByManifestBlooms: [$p]")
  }

  // ---- one consistent metadata snapshot per scan ----
  // A scan is one read: version, snapshot facets, column map and
  // partition layout resolve ONCE (first use) and every planning
  // surface below — pruning, statistics, partitioning, runtime
  // replans — answers from the same replay-sized metadata.
  @transient private lazy val emptyTable =
    schema.isEmpty && CommitLog.latestVersion(root) == 0
  @transient private lazy val resolvedVersion: Int =
    versionAsOf.getOrElse(CommitLog.latestVersion(root))
  @transient private lazy val snap = CommitLog.snapshotAt(root, resolvedVersion)
  @transient private lazy val fm = CommitLog.formerNamesOf(root, resolvedVersion)
  @transient private lazy val partCols =
    CommitLog.partColsOf(root, resolvedVersion)
  @transient private lazy val typeSchema =
    CommitLog.schemaOf(root, resolvedVersion)
      .map(StructType.fromDDL).getOrElse(schema)

  // RUNTIME (join-driven) filters land here after static planning and
  // the scan replans; see [[filter]]
  @transient private var runtimeFilters
      : Seq[org.apache.spark.sql.sources.Filter] = Nil

  /** Boxes and blooms recorded before a RENAME carry the then-logical
    * name — probe the column's whole name chain so old batches stay
    * prunable after a rename (same type and units by the rename gate). */
  private def chainLookup[T](m: Option[Map[String, T]], c: String): Option[T] =
    m.flatMap { bm =>
      (c +: fm.getOrElse(c, Seq.empty)).iterator.map(bm.get)
        .collectFirst { case Some(t) => t }
    }

  /** The batch's partition tuple under CURRENT logical names (a
    * pre-rename tuple keyed by a former name answers for its logical
    * column); None when the batch has no recorded tuple. */
  private def tupleTokensOf(b: String): Option[Map[String, String]] =
    snap.parts.get(b).map { tokens =>
      fm.foldLeft(tokens) { case (acc, (logical, formers)) =>
        if (acc.contains(logical)) acc
        else formers.collectFirst {
          case fn if acc.contains(fn) => acc(fn)
        }.map(v0 => acc + (logical -> v0)).getOrElse(acc)
      }
    }

  /** The data batches surviving every pruning modality — manifest
    * (min,max) boxes, blooms, exact partition-tuple evaluation — under
    * the statically pushed PLUS any runtime filters. The one list that
    * statistics, output partitioning and partition planning all derive
    * from, decided entirely from metadata already in hand. */
  private def prunedBatches(): Seq[String] = prunedBatches(runtimeFilters)

  /** As above with the runtime-filter set passed EXPLICITLY — the
    * static prune ([[staticBatches]]) passes Nil instead of briefly
    * nulling the shared mutable var, which a concurrent
    * [[prunedBatches]] caller could otherwise observe. */
  private def prunedBatches(
      rtFilters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    val dataBatches =
      snap.files.filterNot(_.startsWith(CommitLogMerge.DvPrefix))
    val allBoxes: Map[String, (Double, Double)] =
      (boxes.toSeq ++ CommitLogFilters.boxesOf(rtFilters).toSeq)
        .groupBy(_._1).map { case (c, bs) =>
          c -> (bs.map(_._2._1).max, bs.map(_._2._2).min)
        }
    val allProbes = probes ++ rtFilters.flatMap(CommitLogFilters.probeOf)
    val allPartFilters = partFilters ++ rtFilters
    // manifest-stats pruning: intersect each pushed range box against
    // the batches' committed (min, max) boxes — a batch with no box
    // for the column is always read (unknown = keep), and Spark still
    // evaluates the exact predicate above the scan
    val boxPruned = allBoxes.foldLeft(dataBatches) { case (fs, (col, (lo, hi))) =>
      fs.filter { b =>
        chainLookup(snap.stats.get(b), col).flatMap(_.box) match {
          case Some((bLo, bHi)) => bHi >= lo && bLo <= hi
          case None => true
        }
      }
    }
    // bloom probes: a batch survives only if, for EVERY pushed
    // equality/IN filter, its bloom admits at least one probed value
    // (no bloom for the column → keep; false positive → the residual
    // filter excludes the rows, never the other way around)
    val bloomPruned = allProbes.foldLeft(boxPruned) { case (fs, (col, values)) =>
      fs.filter { b =>
        chainLookup(snap.blooms.get(b), col) match {
          case Some(hex) => values.exists(CommitLogBloom.mightContain(hex, _))
          case None => true
        }
      }
    }
    // STRING-BOUND pruning (r15): intersect each pushed string range
    // (equality, comparisons, IN, LIKE 'prefix%') against the batches'
    // truncated byte-lex bounds — the stored lower is ≤ the true min
    // and the stored upper ≥ the true max, so a missed intersection
    // proves absence; a batch without bounds is kept
    val strBoxes = CommitLogFilters.strBoxesOf(allPartFilters)
    val strPruned = strBoxes.foldLeft(bloomPruned) {
      case (fs, (col, (qLo, qHi))) =>
        fs.filter { b =>
          chainLookup(snap.stats.get(b), col) match {
            case Some(st) if st.strLo.isDefined && st.strHi.isDefined =>
              val loOk = qHi.forall(h =>
                java.util.Arrays.compareUnsigned(st.strLo.get, h) <= 0)
              val hiOk = qLo.forall(l =>
                java.util.Arrays.compareUnsigned(st.strHi.get, l) >= 0)
              loOk && hiOk
            case _ => true
          }
        }
    }
    // NULL-COUNT pruning (r15): the per-column null counts the sink
    // records with every box answer the two nullability probes boxes
    // cannot — `IS NULL` drops batches with a PROVEN-ZERO null count,
    // and `IS NOT NULL` (which Spark pushes implicitly for nearly
    // every filter and join key) drops batches that are provably
    // ALL-null in the column. Unknown counts keep the batch.
    val nullProbes: Seq[(String, Boolean)] = allPartFilters.collect {
      case org.apache.spark.sql.sources.IsNull(c) => (c, true)
      case org.apache.spark.sql.sources.IsNotNull(c) => (c, false)
    }
    val nullPruned = nullProbes.foldLeft(strPruned) {
      case (fs, (c, wantNull)) =>
        fs.filter { b =>
          chainLookup(snap.stats.get(b), c).flatMap(_.nulls) match {
            case Some(k) =>
              if (wantNull) k > 0L
              else snap.rows.get(b).forall(n => k < n)
            case None => true
          }
        }
    }
    // PARTITION pruning: exact three-valued evaluation of every pushed
    // filter against the batch's recorded partition tuple — prunes
    // equality/range/IN/IS NULL/string predicates for all types, which
    // boxes (numeric ranges) and blooms (membership) cannot. A batch
    // without a tuple (engine rewrite) is kept; filter types resolve
    // against the DECLARED schema (the pruned read schema may drop
    // filter-only columns).
    if (allPartFilters.isEmpty || snap.parts.isEmpty) nullPruned
    else nullPruned.filter { b =>
      tupleTokensOf(b) match {
        case Some(tokens) =>
          CommitLogPartitions.mayMatch(allPartFilters,
            CommitLogPartitions.decodeTuple(tokens), typeSchema)
        case None => true
      }
    }
  }

  /** Batch leg: the snapshot at `versionAsOf` (default latest) — the
    * S22 time-travel read as a connector. One partition per part file.
    * A merge-on-read table (outstanding `dv-` deletion-vector batches
    * from CommitLogMerge/CommitLogDml) is served DIRECTLY: the DV
    * positions load at plan time and ride each file's partition,
    * where the record reader skips them. */
  override def planInputPartitions(): Array[InputPartition] = {
    // an empty table (no committed version) plans zero partitions: the
    // streaming-write path physically plans a scan of the SINK relation
    // pre-first-commit, so this cannot be an error. A typo'd read path
    // surfaces as a zero-column schema — any column reference fails
    // analysis loudly before reaching here.
    if (emptyTable) return Array.empty
    // batch CHANGE FEED: the row changes of (startingVersion,
    // endingVersion] — Delta's table_changes — instead of a snapshot
    if (readChangeFeed)
      return changeFeedParts.map(p => p: InputPartition).toArray
    // MERGE-ON-READ reconciliation: a `dv-` deletion-vector batch is
    // not data — its (file, row_index) positions are loaded at plan
    // time (deletes-sized by the MOR contract; compaction is what
    // bounds them) and attached to each file's partition, where the
    // sequential record reader skips them at zero join cost. The
    // connector therefore serves DV tables directly — the S23 read
    // shape without requiring CommitLogMerge.snapshot.
    val dvBatches = snap.files.filter(_.startsWith(CommitLogMerge.DvPrefix))
    val deletedByFile = CommitLogMerge.dvPositionsByFile(
      org.apache.spark.sql.SparkSession.active, root, dvBatches)
    val pruned = prunedBatches()
    // LIMIT early-out: plan batches only until the KNOWN counts cover
    // the limit. Unknown counts contribute nothing (the early-out just
    // arrives later); deletion vectors make counts over-estimates, so
    // any outstanding DV disables the cut — Spark's own LIMIT above
    // the scan keeps the result exact either way.
    val limited = limitHint match {
      case Some(n) if dvBatches.isEmpty =>
        var acc = 0L
        var done = false
        pruned.takeWhile { b =>
          val take = !done
          snap.rows.get(b).foreach { c =>
            acc += c
            if (acc >= n) done = true
          }
          take
        }
      case _ =>
        topN match {
          // runtime filters shrink the competing row set — the
          // unfiltered bound could then prune a file holding the
          // FILTERED top-k, so any replan disables the cut
          case Some(CommitLogSource.TopNHint(c, desc, nullsFirst, k))
              if dvBatches.isEmpty && runtimeFilters.isEmpty =>
            topNPrunedBatches(pruned, c, desc, nullsFirst, k)
          case _ => pruned
        }
    }
    limited
      .flatMap { b =>
        // storage-partitioned scans attach the batch's tuple as the
        // partition key (constant across the batch's files); plain
        // scans plan the same files unkeyed
        val key =
          if (keyedByPartition) tupleTokensOf(b).map(keyRowOf) else None
        CommitLogSource.listParquetStatus(root, b).map { case (f, len) =>
          val base = CommitLogInputPartition(f,
            deletedPositions = deletedByFile.getOrElse(
              CommitLogMerge.normDir(f), Array.empty),
            fileLength = len)
          key.map(CommitLogKeyedInputPartition(base, _))
            .getOrElse(base): InputPartition
        }
      }
      .toArray
  }

  /** TOP-N file pruning from manifest metadata: keep exactly the
    * batches that can hold a row of the global top-k.
    *
    * DESC NULLS LAST soundness (the default DESC spelling): sort
    * batches by box-LO descending and accumulate EXACT NON-NULL
    * counts until ≥ k — every counted row has `c ≥` its own lo ≥ L
    * (the minimum taken lo), so at least k non-null rows have
    * `c ≥ L`, the true k-th value is ≥ L, and null rows (sorting
    * last) are out of the running; a batch with box-HI < L and no
    * chance of beating L therefore holds no top-k row. Non-null
    * counts come from a `c IS NOT NULL` proof in force at THIS scan's
    * version (nulls = 0 everywhere) or the per-batch null counts the
    * sink records (r15). ASC NULLS LAST mirrors with box-HI ascending
    * and `lo ≤ U`. Boxed doubles only weaken the bound: rounding to
    * nearest is monotone, so `hi_d < L_d ⇒ true hi < true L` — exact
    * for every numeric width, including longs past 2^53.
    *
    * NULLS FIRST (the default ASC spelling): nulls beat every value,
    * so FULL row counts accumulate (each counted row is null — a
    * winner — or inside its box), all-null batches rank first, and a
    * batch is prunable only when its box misses the bound AND its
    * null count is provably zero.
    *
    * NaN (floats/doubles): the writer marks a NaN-bearing batch with
    * hi = +Inf ([[CommitLogWrite]] box()) because Spark sorts NaN
    * above every value. DESC: such a batch always survives the keep
    * test (+Inf ≥ L), and taking it is sound (NaN ≥ its lo). ASC: an
    * infinite hi sorts LAST among boxed batches, so every batch
    * COUNTED toward a finite bound U has a finite hi and is therefore
    * NaN-free; a NaN batch pruned by `lo > U` holds only rows above U.
    *
    * STRING sort columns (r16) run the same cut in the truncated
    * byte-lexicographic bound domain (S73's strLo/strHi, the order
    * Spark's UTF8String compares in): strLo is a byte-PREFIX of the
    * true min (≤ it — truncation only WEAKENS the accumulated bound),
    * and strHi when cut is incremented past every string carrying the
    * prefix (≥ the true max — an over-estimate likewise only weakens),
    * so the accumulate/keep algebra is unchanged with ≤/≥ read under
    * unsigned byte comparison. No exactness is needed — only bound
    * direction — so even cap-length (possibly truncated) bounds
    * participate. `ORDER BY name LIMIT k` over a name-sorted table
    * plans one file like the ts spelling does.
    *
    * Conservative exits (NO pruning, never wrong results): any live
    * batch missing its exact count, an unreachable bound, or —
    * per batch — missing facts (no box / unknown nulls) that leave it
    * unprovable: such a batch is KEPT, never counted. */
  private def topNPrunedBatches(
      batches: Seq[String], c: String, desc: Boolean, nullsFirst: Boolean,
      k: Int): Seq[String] = {
    val isString = typeSchema.fields.find(_.name == c)
      .exists(_.dataType == org.apache.spark.sql.types.StringType)
    if (isString) {
      implicit val byteOrd: Ordering[Array[Byte]] =
        (a: Array[Byte], b: Array[Byte]) =>
          java.util.Arrays.compareUnsigned(a, b)
      topNCut[Array[Byte]](batches, c, desc, nullsFirst, k,
        st => for (l <- st.strLo; h <- st.strHi) yield (l, h),
        validBox = _ => true)
    } else
      topNCut[Double](batches, c, desc, nullsFirst, k, _.box,
        // boxes never carry NaN (writer contract) — defensive keep-all
        validBox = x => !x._1.isNaN && !x._2.isNaN)
  }

  /** The cut itself, generic over the bound domain `B` (`Double`
    * manifest boxes; unsigned byte arrays for string bounds): the
    * soundness arguments above only use that `boxOf` yields a
    * conservative (lower-of-min, upper-of-max) pair under `ord`. */
  private def topNCut[B](
      batches: Seq[String], c: String, desc: Boolean, nullsFirst: Boolean,
      k: Int, boxOf: CommitLog.ColStat => Option[(B, B)],
      validBox: ((B, B)) => Boolean)(
      implicit ord: Ordering[B]): Seq[String] = {
    // EVERY batch needs an exact count up front: a count-less batch is
    // indistinguishable from an empty one further down, and dropping
    // it there would lose rows — unprovable means keep all
    if (batches.exists(b => snap.rows.get(b).isEmpty)) return batches
    val live = batches.filter(b => snap.rows(b) > 0L)
    if (live.size <= 1) return batches
    val proven = CommitLogSource.notNullProven(root, resolvedVersion, c)
    case class Fact(rows: Long, nulls: Option[Long],
        box: Option[(B, B)]) {
      def nonNull: Option[Long] = nulls.map(rows - _)
      def allNull: Boolean = nonNull.contains(0L)
    }
    val facts: Seq[(String, Fact)] = live.map { b =>
      val st = chainLookup(snap.stats.get(b), c)
      val box = st.flatMap(boxOf)
      if (box.exists(!validBox(_))) return batches
      b -> Fact(snap.rows(b),
        if (proven) Some(0L) else st.flatMap(_.nulls), box)
    }
    // rank: most-winning batches first under (direction, nulls order);
    // None = an all-null batch under NULLS FIRST, ranking before any box
    val rankOrd: Ordering[Option[B]] = new Ordering[Option[B]] {
      private val onB = if (desc) ord.reverse else ord
      def compare(x: Option[B], y: Option[B]): Int = (x, y) match {
        case (None, None) => 0
        case (None, _) => -1
        case (_, None) => 1
        case (Some(a), Some(b)) => onB.compare(a, b)
      }
    }
    def rank(f: Fact): Option[B] =
      f.box.map { case (lo, hi) => if (desc) lo else hi }
    var acc = 0L
    // Some(Some(t)) = finite cut; Some(None) = the crossing batch was
    // all-null under NULLS FIRST (only null-bearers can compete — no
    // boxed value beats a null); None = unreachable, keep all
    var bound: Option[Option[B]] = None
    if (!nullsFirst) {
      // NULLS LAST: accumulate NON-NULL counts of boxed batches
      facts.filter { case (_, f) => f.box.isDefined && f.nonNull.isDefined }
        .sortBy { case (_, f) => rank(f) }(rankOrd)
        .foreach { case (_, f) =>
          if (bound.isEmpty) {
            acc += f.nonNull.get
            if (acc >= k)
              bound = Some(Some(if (desc) f.box.get._1 else f.box.get._2))
          }
        }
      bound.flatten match {
        case None => batches // unreachable bound: keep all
        case Some(t) =>
          val keep = facts.collect {
            case (b, f) if f.box.exists { case (lo, hi) =>
              if (desc) ord.gteq(hi, t) else ord.lteq(lo, t) } => b
            // unboxed: prunable only when provably all-null (those
            // rows sort after every value — never in the top-k the
            // bound just proved exists)
            case (b, f) if f.box.isEmpty && !f.allNull => b
          }.toSet
          batches.filter(keep)
      }
    } else {
      // NULLS FIRST: nulls win — accumulate FULL counts; a batch
      // participates when boxed (each row: null, or inside the box)
      // or provably all-null (ranks first)
      facts.filter { case (_, f) => f.box.isDefined || f.allNull }
        .sortBy { case (_, f) => rank(f) }(rankOrd)
        .foreach { case (_, f) =>
          if (bound.isEmpty) {
            acc += f.rows
            if (acc >= k)
              // boxed crossing: its lo/hi cuts; all-null crossing:
              // only null-bearers survive (strictly tighter than the
              // old ±Inf spelling, which let a NaN-boxed batch — rows
              // that can never beat a null — slip through the keep)
              bound = Some(f.box.map(b => if (desc) b._1 else b._2))
          }
        }
      bound match {
        case None => batches
        case Some(tOpt) =>
          val keep = facts.collect {
            // a batch with any (or unknown) nulls always competes
            case (b, f) if !f.nulls.contains(0L) => b
            case (b, f) if tOpt.exists(t => f.box.exists { case (lo, hi) =>
              if (desc) ord.gteq(hi, t) else ord.lteq(lo, t) }) => b
            // unboxed entries are legitimate for sort columns whose
            // type carries no bounds in THIS domain (a numeric sort
            // column's stats entry has no byte bounds and vice versa)
            // — and also cover a contradictory manifest. Either way:
            // unprovable, never prune. This keep is load-bearing, not
            // just defensive.
            case (b, f) if f.box.isEmpty => b
          }.toSet
          batches.filter(keep)
      }
    }
  }

  // ---- planner statistics from commit metadata (zero data reads) ----

  /** Post-pushdown statistics from the manifest: sizeInBytes over the
    * SURVIVING batches' files, rowCount EXACT when every surviving
    * batch carries a committed count ([[CommitLog.Rows]]) and no
    * deletion vectors are outstanding. This is what lets Spark
    * auto-broadcast a small (or well-pruned) commitlog table with no
    * hint — at 100 TB the difference between a broadcast hash join and
    * an accidental full shuffle of the big side. */
  override def estimateStatistics(): Statistics = {
    if (emptyTable)
      return CommitLogStatistics(Some(0L), Some(0L))
    if (readChangeFeed)
      return CommitLogStatistics(None, None)
    val batches = prunedBatches()
    val bytes = batches.map(CommitLogSource.batchBytes(root, _)).sum
    val hasDv = snap.files.exists(_.startsWith(CommitLogMerge.DvPrefix))
    val counted = !hasDv && batches.forall(snap.rows.contains)
    CommitLogStatistics(Some(bytes),
      if (counted) Some(batches.map(snap.rows).sum) else None,
      if (hasDv) Map.empty else columnStatsOf(batches))
  }

  /** Per-column CBO statistics over the SURVIVING batches (SURVEY S76) —
    * Spark's `transformV2Stats` folds these into the relation's
    * `attributeStats`, so `FilterEstimation` range-estimates filters and
    * the CBO join machinery sees real nullCounts, all zero-read and
    * filter-aware (pruning tightens them). Per facet, all-or-nothing
    * across batches: a single batch missing the fact drops that facet,
    * never degrades it. min/max converts the merged double box back to
    * the column's catalyst value form — estimation-only, so the box's
    * round-to-nearest is fine (a >2^53 integral bound lands within one
    * ULP of the truth; CBO selectivity cannot misuse that). Declined:
    * outstanding DVs (counts/bounds would include deleted rows — purge
    * restores the stats with the columnar leg), NaN-marked boxes
    * (hi=+Inf is a presence marker, not a bound), truncated string
    * bounds (not actual values), variant-rewritten struct reads. */
  private def columnStatsOf(
      batches: Seq[String]): Map[String, CommitLogColumnStat] = {
    if (batches.isEmpty) return Map.empty
    val typeOf = typeSchema.fields.map(f => f.name -> f.dataType).toMap
    schema.fields.iterator.flatMap { f =>
      // only columns the table DECLARES with this exact simple type —
      // a variant-extraction rewrite changes the field's shape and
      // must not inherit the raw column's box
      if (!typeOf.get(f.name).contains(f.dataType)) None
      else {
        val entries = batches.map(b => chainLookup(snap.stats.get(b), f.name))
        val nulls =
          if (entries.forall(e => e.exists(_.nulls.isDefined)))
            Some(entries.map(_.get.nulls.get).sum)
          else None
        // boxed batches carry the bound; an unboxed batch is ignorable
        // only when PROVABLY all-null (contributes no values)
        val boxes = entries.zip(batches).map {
          case (Some(st), _) if st.boxed => Some(Some((st.lo, st.hi)))
          case (Some(st), b) if st.nulls.isDefined &&
              snap.rows.get(b).contains(st.nulls.get) => Some(None)
          case _ => None
        }
        val range: Option[(Double, Double)] =
          if (boxes.exists(_.isEmpty)) None
          else {
            val bs = boxes.flatMap(_.get)
            if (bs.isEmpty) None
            else Some((bs.map(_._1).min, bs.map(_._2).max))
          }
        val (mn, mx) = range match {
          case Some((lo, hi))
              if !lo.isInfinite && !hi.isInfinite && lo <= hi =>
            (cboValue(f.dataType, lo), cboValue(f.dataType, hi))
          case _ => (None, None)
        }
        // distinctCount from the merged NDV sketches (register max) —
        // again all-or-nothing; clamped by the exact non-null count
        // when known (the sketch is ±13%, the count is truth)
        val ndv: Option[Long] =
          if (entries.forall(_.exists(_.ndv.isDefined))) {
            val est = CommitLogNdv.estimate(
              entries.map(_.get.ndv.get).reduce(CommitLogNdv.merge))
            val cap = for {
              ns <- nulls
              if batches.forall(snap.rows.contains)
            } yield batches.map(snap.rows).sum - ns
            // an untouched sketch estimates 0 (all-null column) — and
            // any observed value drives linear counting ≥ 1, so the
            // floor needs no special-casing
            Some(math.max(0L, cap.fold(est.toLong)(c => math.min(est.toLong, c))))
          } else None
        if (mn.isEmpty && mx.isEmpty && nulls.isEmpty && ndv.isEmpty) None
        else Some(f.name -> CommitLogColumnStat(mn, mx, nulls, ndv))
      }
    }.toMap
  }

  /** The merged box bound in the column's catalyst value form, or None
    * for types whose box the writer never records (strings, booleans,
    * composites) — the CBO types `EstimationUtils` can range over. */
  private def cboValue(dt: DataType, v: Double): Option[Any] = dt match {
    case LongType => Some(v.toLong)
    case IntegerType => Some(v.toInt)
    case DoubleType => Some(v)
    case FloatType => Some(v.toFloat)
    case TimestampType | TimestampNTZType => Some(v.toLong) // micros
    case DateType => Some(v.toInt) // days
    case d: DecimalType =>
      Some(org.apache.spark.sql.types.Decimal(
        BigDecimal(v).setScale(d.scale, BigDecimal.RoundingMode.HALF_UP)))
    case _ => None
  }

  // ---- runtime (join-driven) filtering — DPP through the connector ----

  /** Columns a runtime filter can prune on: the partition columns
    * (exact tuple evaluation) plus every column some live batch carries
    * a stats box or bloom for (range/membership pruning). Spark's
    * dynamic partition pruning materializes the OTHER join side's keys
    * and hands them to [[filter]] — dynamic FILE pruning of the fact
    * side decided from metadata, zero data reads. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    if (emptyTable || readChangeFeed) return Array.empty
    val toLogical = fm.toSeq.flatMap { case (l, fs) => fs.map(_ -> l) }.toMap
    // BOXED or STRING-BOUNDED entries only: since r15 every column
    // carries a stats entry (null counts ride unboxed ones), but
    // runtime filters are range/membership probes — claiming a
    // null-count-only column would make Spark materialize join keys
    // that can never prune
    val metaCols = (snap.stats.values
      .flatMap(_.collect {
        case (c, st) if st.boxed || st.strLo.isDefined => c
      }) ++
      snap.blooms.values.flatMap(_.keys)).map(c => toLogical.getOrElse(c, c))
    (partCols ++ metaCols).distinct
      .filter(schema.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  /** Merge runtime filters in and let the next [[planInputPartitions]]
    * replan. Pruning only ever DROPS whole batches, so a key group of a
    * storage-partitioned scan shrinks or vanishes but never splits —
    * the invariant Spark's re-grouping after runtime filtering needs. */
  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = runtimeFilters ++ filters

  /** Test-only view of the runtime filters in effect. */
  private[graft] def runtimeFiltersNow: Seq[org.apache.spark.sql.sources.Filter] =
    runtimeFilters

  // ---- storage-partitioned joins (SPJ) ----

  /** Whether this scan plans with partition keys: a partitioned table
    * whose surviving batches ALL carry full tuples (engine rewrites
    * may drop them — optimizeRepartition restores), with the partition
    * columns still in the read schema. Memoized: the decision must be
    * identical between [[outputPartitioning]] and every
    * [[planInputPartitions]] call, including runtime-filter replans
    * (so eligibility is decided over the STATIC prune set). */
  @transient private lazy val keyedByPartition: Boolean =
    // a LIMIT-cut scan may drop whole key groups — don't claim a
    // partitioning the planned partitions might not honor (a LIMIT
    // directly over the scan has no join to co-partition anyway)
    limitHint.isEmpty && topN.isEmpty &&
    !emptyTable && !readChangeFeed && partCols.nonEmpty &&
      partCols.forall(c =>
        schema.fieldNames.contains(CommitLogBucket.sourceOf(c))) &&
      partCols.forall(c =>
        typeSchema.fields.exists(_.name == CommitLogBucket.sourceOf(c))) &&
      staticBatches.forall(b => tupleTokensOf(b)
        .exists(t => partCols.forall(t.contains)) ||
        CommitLogSource.listParquet(root, b).isEmpty)

  @transient private lazy val staticBatches: Seq[String] =
    prunedBatches(Nil)

  /** The identity KeyGroupedPartitioning over the partition columns —
    * what makes two commitlog tables partitioned on the same key join
    * with ZERO shuffle (Spark SPJ, `spark.sql.sources.v2.bucketing
    * .enabled`): each batch is one key group, Spark aligns groups by
    * key across both sides. The v2 form of the co-bucketed J14 — at
    * 100 TB this deletes the exchange of BOTH fact tables. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    if (!keyedByPartition)
      return new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    val keys = staticBatches
      .filter(b => CommitLogSource.listParquet(root, b).nonEmpty)
      .flatMap(tupleTokensOf)
      .map(t => partCols.map(t(_))).distinct
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      partCols.map { c =>
        import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
        CommitLogBucket.parse(c) match {
          case Some((n, src)) => Expressions.bucket(n, src): Expression
          case None => CommitLogMonotone.parse(c) match {
            case Some(CommitLogMonotone.Time(u, src)) => (u match {
              case "days" => Expressions.days(src)
              case "hours" => Expressions.hours(src)
              case "months" => Expressions.months(src)
              case "years" => Expressions.years(src)
            }): Expression
            case Some(CommitLogMonotone.Trunc(w, src)) =>
              Expressions.apply("truncate",
                Expressions.literal(w), Expressions.column(src)): Expression
            case None => Expressions.identity(c): Expression
          }
        }
      }.toArray,
      keys.size)
  }

  /** Decode a batch tuple to the typed partition-key row, in partition-
    * column order — the writer's value forms (micros, epoch days,
    * unscaled decimals) are exactly InternalRow's representations. */
  private def keyRowOf(tokens: Map[String, String]): InternalRow = {
    val vals: Array[Any] = partCols.map { c =>
      CommitLog.partValue(tokens(c)) match {
        case None => null
        // a bucket entry's key value IS the id (int) — the type the
        // reported bucket transform evaluates to
        case Some(s) if CommitLogBucket.isBucket(c) => Int.box(s.toInt)
        case Some(s) => CommitLogMonotone.parse(c) match {
          // time tokens are int epochs-counts; truncate keeps the
          // source domain (long for integrals, utf8 for strings) —
          // matching the bound functions' result types
          case Some(_: CommitLogMonotone.Time) => Int.box(s.toInt)
          case Some(CommitLogMonotone.Trunc(_, src)) =>
            typeSchema.fields.find(_.name == src).map(_.dataType) match {
              case Some(StringType) =>
                org.apache.spark.unsafe.types.UTF8String.fromString(s)
              case _ => Long.box(s.toLong)
            }
          case None => CommitLogPartitions.catalystValue(s,
            typeSchema.fields.find(_.name == c).map(_.dataType).get)
        }
      }
    }.toArray
    new GenericInternalRow(vals)
  }

  /** The batch change feed's planned partitions, memoized: planning
    * and the columnar-eligibility decision must see the SAME set. */
  @transient private lazy val changeFeedParts: Seq[CommitLogInputPartition] = {
    val hi = endingVersion.getOrElse(CommitLog.latestVersion(root))
    CommitLog.changes(root, startingVersion, hi)
      .flatMap(CommitLogChangePlan.partitions(root, _))
  }

  /** Columnar exactly when NO planned partition needs per-row work.
    * Snapshot scans: no outstanding deletion vectors, no synthesized
    * metadata columns, all types vectorized-decodable. CHANGE-FEED
    * scans (r15): columnar when every planned partition is an ordinary
    * WHOLE-FILE read whose `_change_type`/`_commit_version` are
    * constant — the stamps trail the batch as constant partition
    * vectors (`initBatch` partition columns, the same mechanism
    * hive-style partition values ride), so tailing the appends of an
    * ingest table — the dominant 100 TB feed shape — runs the ~GB/s
    * vectorized inner loop instead of row-at-a-time Groups. Any
    * per-row bookkeeping (DV position skips or synthesized deletes,
    * materialized change files carrying `_change_type` as DATA) keeps
    * the row leg. One flag for the whole scan — Spark requires every
    * partition of a scan to agree. */
  @transient private lazy val columnarEligible: Boolean =
    if (emptyTable) false
    else if (readChangeFeed) {
      val stamps = schema.fields.filter(f =>
        CommitLogSource.StampCols.contains(f.name))
      val nonStamp = schema.fields.filterNot(f =>
        CommitLogSource.StampCols.contains(f.name))
      // stamps must TRAIL the pruned schema exactly (they are appended
      // after the file columns by the vectorized reader)
      schema.fields.sameElements(nonStamp ++ stamps) &&
        !nonStamp.map(_.name).exists(CommitLogSource.SpecialCols.contains) &&
        nonStamp.forall(f => CommitLogSource.vectorizable(f.dataType)) &&
        changeFeedParts.forall(p => p.constChangeType.isDefined &&
          p.deletedPositions.isEmpty && p.onlyPositions.isEmpty)
    } else
      !snap.files.exists(_.startsWith(CommitLogMerge.DvPrefix)) &&
        !schema.fieldNames.exists(CommitLogSource.SpecialCols.contains) &&
        schema.fields.forall(f => CommitLogSource.vectorizable(f.dataType))

  override def createReaderFactory(): PartitionReaderFactory =
    // the memoized column map: readers must resolve against the SAME
    // snapshot the partitions were planned from (a rename committing
    // between planning and execution must not skew resolution), and
    // the replay is already paid
    CommitLogReaderFactory(schema, fm, columnarEligible,
      if (columnarEligible)
        Some(CommitLogColumnar.readerConf(SparkSession.active))
      else None)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new CommitLogMicroBatchStream(
      root, schema, startingVersion, maxVersionsPerTrigger,
      maxBytesPerTrigger, ignoreDeletes, skipChangeCommits, readChangeFeed)
}

/** Version-cursor offsets in Spark's checkpoint: each micro-batch is
  * the half-open version range `(start, end]`, planned as exactly the
  * files those versions ADDED. Admission control bounds `end - start`
  * to `maxVersionsPerTrigger`; AvailableNow snapshots the target at
  * entry (commits landing mid-drain wait for the next run). */
class CommitLogMicroBatchStream(
    root: String, schema: StructType, startingVersion: Int,
    maxVersionsPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    ignoreDeletes: Boolean,
    skipChangeCommits: Boolean = false,
    readChangeFeed: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(CommitLog.latestVersion(root))

  // ReadMaxFiles is the carrier Spark offers for a discrete per-trigger
  // cap; here one "file" = one committed VERSION (each version may add
  // several part files — the bound that matters for backlog drain is
  // versions, the unit of commit)
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = CommitLogStreamOffset(startingVersion)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[CommitLogStreamOffset].version
    val target = availableNowCap.getOrElse(CommitLog.latestVersion(root))
    val byVersions = limit match {
      case mf: ReadMaxFiles => math.min(target, lo + mf.maxFiles())
      case _ => target
    }
    // maxBytesPerTrigger: admit versions until their ADDED bytes
    // exceed the budget — a soft cap (the version that crosses it is
    // still admitted whole: versions are the atomic unit), so a
    // restart-against-backlog drains in bounded-memory micro-batches
    // regardless of how lumpy the commits were. dataChange=false
    // versions (OPTIMIZE) cost ZERO budget — planInputPartitions emits
    // nothing for them, so charging a whole-table repack's bytes would
    // stall the drain with an empty cycle. Manifests and committed
    // batches are immutable, so per-version byte counts memoize.
    val admitted = maxBytesPerTrigger match {
      case None => byVersions
      case Some(budget) =>
        var v = lo
        var bytes = 0L
        while (v < byVersions && bytes < budget) {
          v += 1
          bytes += versionBytes.computeIfAbsent(v, { vv =>
            val ch = CommitLog.changes(root, vv - 1, vv).head
            Long.box(
              if (!ch.dataChange) 0L
              else ch.added.map(CommitLogSource.batchBytes(root, _)).sum)
          })
        }
        v
    }
    CommitLogStreamOffset(math.max(lo, admitted))
  }

  // immutable once committed → safe to memoize across latestOffset polls
  private val versionBytes =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  // non-admission-control fallback (not taken once
  // SupportsAdmissionControl is implemented)
  override def latestOffset(): Offset =
    CommitLogStreamOffset(CommitLog.latestVersion(root))

  override def deserializeOffset(json: String): Offset =
    CommitLogStreamOffset(new ObjectMapper().readTree(json).get("version").asInt())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[CommitLogStreamOffset].version
    val hi = end.asInstanceOf[CommitLogStreamOffset].version
    // STREAMING CHANGE FEED: emit every version's row changes —
    // deletes and (materialized) merges become feed rows instead of
    // faulting the tail, which is what makes the stream able to follow
    // a table that UPDATES, not just one that appends
    if (readChangeFeed) {
      val parts = CommitLog.changes(root, lo, hi)
        .flatMap(CommitLogChangePlan.partitions(root, _))
      // r16: an epoch made ONLY of constant-stamp shapes (appends,
      // whole-batch deletes with no prior DVs) serves columnar exactly
      // like a batch feed window — stamps ride as constant trailing
      // partition vectors. One row-leg shape anywhere in the epoch
      // (materialized change files carrying _change_type as data, DV
      // position synthesis, position skips) row-forces EVERY partition,
      // so Spark's all-or-none per-scan columnar check always sees
      // uniform children — the r15 mixed-epoch crash has no window.
      val uniform = parts.forall(p => p.constChangeType.isDefined &&
        p.deletedPositions.isEmpty && p.onlyPositions.isEmpty)
      val served = if (uniform) parts else parts.map(_.copy(forceRow = true))
      return served.map(p => p: InputPartition).toArray
    }
    // a RENAME or DROP COLUMN landed mid-stream: this stream's schema
    // still names the OLD column, which later appends no longer carry —
    // the per-file name resolution would silently null-fill the new
    // era's values (the rename commit itself plans zero files, so
    // nothing else would notice). Fail loudly; a restart plans with
    // the current schema and resolves the old era through the column
    // map. Additive evolution stays a live null-fill as before.
    CommitLog.schemaOf(root, hi).foreach { ddl =>
      val now = StructType.fromDDL(ddl).fieldNames.toSet
      val gone = schema.fieldNames.filterNot(now.contains)
        .filterNot(n => n == CommitLogCdf.ChangeTypeCol ||
          n == CommitLogCdf.CommitVersionCol ||
          n == CommitLogSource.BatchCol ||
          n == CommitLogSource.RowFileCol ||
          n == CommitLogSource.RowPosCol)
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"column(s) ${gone.mkString(",")} were renamed or dropped under " +
            s"this stream (table $root is now [${now.mkString(",")}]): " +
            "restart the query to pick up the current schema — continuing " +
            "would silently null-fill the new files' values")
    }
    // dataChange=false versions (OPTIMIZE) restate rows this stream
    // already emitted in new files: skipped wholesale — this is what
    // lets compaction run UNDER a live tail without faulting it
    CommitLog.changes(root, lo, hi).filter(_.dataChange).flatMap { ch =>
      // skipChangeCommits (the Delta escape hatch): versions that
      // DELETE or MODIFY existing rows — COW rewrites, whole-batch
      // removes, DV merges — are skipped ENTIRELY (their adds restate
      // or alter rows, so emitting them would double-count); only
      // pure-append versions flow. Opt-in: the default stays the loud
      // contract below, because silently dropping updates is only
      // correct when the consumer knows the table's changes are
      // re-derivable downstream.
      val dvTouched = (ch.added ++ ch.removed)
        .exists(_.startsWith(CommitLogMerge.DvPrefix))
      if (skipChangeCommits && (ch.removed.nonEmpty || dvTouched)) Nil
      else {
        CommitLogSource.requireNoDv(ch.added ++ ch.removed,
          s"streaming v${ch.version} of $root")
        if (ch.removed.nonEmpty && ch.added.nonEmpty)
          throw new IllegalStateException(
            s"v${ch.version} rewrites data (adds ${ch.added.size}, removes " +
              s"${ch.removed.size}): its added files re-state rows this " +
              "stream already emitted — a tail cannot process a " +
              "copy-on-write commit without double-counting (set " +
              "skipChangeCommits to stream across it)")
        if (ch.removed.nonEmpty && !ignoreDeletes)
          throw new IllegalStateException(
            s"v${ch.version} removes ${ch.removed.mkString(",")}: a tail " +
              "emits appends only and cannot retract — set ignoreDeletes " +
              "to skip delete commits")
        ch.added.flatMap(CommitLogSource.listParquetStatus(root, _))
      }
    }.map { case (f, len) =>
      CommitLogInputPartition(f, fileLength = len): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // a plain tail plans only appended data files (DV/COW commits fail
    // the stream above), so vectorized batches apply whenever no
    // change-feed stamps or synthesized columns are requested. A
    // change-feed tail (r16) is columnar at the SCHEMA level when the
    // stamps trail the pruned columns (the batch-window shape); the
    // per-EPOCH decision rides each partition's forceRow flag, set in
    // [[planInputPartitions]] — a mixed epoch row-forces uniformly.
    val columnar =
      if (readChangeFeed) {
        val stamps = schema.fields.filter(f =>
          CommitLogSource.StampCols.contains(f.name))
        val nonStamp = schema.fields.filterNot(f =>
          CommitLogSource.StampCols.contains(f.name))
        schema.fields.sameElements(nonStamp ++ stamps) &&
          !nonStamp.map(_.name).exists(CommitLogSource.SpecialCols.contains) &&
          nonStamp.forall(f => CommitLogSource.vectorizable(f.dataType))
      } else
        !schema.fieldNames.exists(CommitLogSource.SpecialCols.contains) &&
          schema.fields.forall(f => CommitLogSource.vectorizable(f.dataType))
    // the chain only grows and names are never reused, so the LATEST
    // map correctly resolves every earlier era's files
    CommitLogReaderFactory(schema,
      CommitLog.formerNamesOf(root, CommitLog.latestVersion(root)),
      columnar,
      if (columnar) Some(CommitLogColumnar.readerConf(SparkSession.active))
      else None)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class CommitLogStreamOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("version", version)
    m.writeValueAsString(node)
  }
}

/** `constChangeType` + `version` drive change-feed reads: the reader
  * stamps them onto every row (a file without a physical
  * `_change_type` column — an added/removed data file — gets the
  * constant; materialized change files carry their own). `version` is
  * ignored by snapshot scans (their schema lacks the CDF columns).
  * `onlyPositions` (sorted) inverts `deletedPositions`: emit ONLY the
  * rows at these indexes — how a DV commit's delete rows are
  * synthesized from the base file without a diff join. */
case class CommitLogInputPartition(
    file: String, constChangeType: Option[String] = None, version: Int = -1,
    deletedPositions: Array[Long] = Array.empty,
    onlyPositions: Array[Long] = Array.empty,
    fileLength: Long = -1L, // -1 = unknown; columnar reader re-stats
    // r16 streaming-feed coercion: a mixed epoch (constant-stamp AND
    // row-leg shapes) marks EVERY partition row-forced so Spark's
    // all-or-none per-scan columnar check sees uniform children; a
    // homogeneous constant-stamp epoch leaves it false and the epoch
    // serves columnar. Batch scans never set it (their scan-wide flag
    // already agrees across partitions).
    forceRow: Boolean = false)
    extends InputPartition

/** A file partition of a STORAGE-PARTITIONED scan: the wrapped
  * partition plus its batch's partition tuple as the key Spark groups
  * and aligns on (`HasPartitionKey`). Constant per batch — the
  * partitioned sink lands one batch per tuple. */
case class CommitLogKeyedInputPartition(
    base: CommitLogInputPartition, key: InternalRow)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** A fully pushed-down aggregate answered from COMMIT METADATA alone —
  * COUNT(*) from the manifests' exact per-batch row counts, MIN/MAX
  * from the stats boxes (only where provably exact), GROUP BY
  * partition columns from the recorded tuples: ONE input partition
  * emitting the pre-computed rows, ZERO data files opened. Values are
  * already in catalyst form (UTF8String/Decimal serialize fine for the
  * one metadata-sized partition). */
case class CommitLogAggScan(aggSchema: StructType, rows: Seq[Seq[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"CommitLogAggScan metadata-only rows=${rows.size} " +
      s"PushedAggregation=${aggSchema.fieldNames.mkString("[", ", ", "]")}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(CommitLogAggPartition(rows.map(_.toArray).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    CommitLogAggReaderFactory()
}

case class CommitLogAggPartition(rows: Array[Array[Any]])
    extends InputPartition

case class CommitLogAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[CommitLogAggPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
  }
}

/** Manifest-derived scan statistics (see
  * [[CommitLogScan.estimateStatistics]]). */
case class CommitLogStatistics(
    bytes: Option[Long], rowCount: Option[Long],
    colStats: Map[String, CommitLogColumnStat] = Map.empty)
    extends Statistics {
  override def sizeInBytes(): java.util.OptionalLong =
    bytes.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
  override def numRows(): java.util.OptionalLong =
    rowCount.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
  override def columnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    colStats.foreach { case (c, st) =>
      m.put(org.apache.spark.sql.connector.expressions.Expressions.column(c), st)
    }
    m
  }
}

/** Per-column planner statistics served from the manifest (SURVEY S76):
  * min/max from the merged stats boxes (converted back to the column's
  * catalyst value form), nullCount from the merged per-column null
  * counts. Estimation-only consumers (Spark's CBO `FilterEstimation` /
  * join reorder) — never a correctness surface, so the box's
  * round-to-nearest double is fine at any width. */
case class CommitLogColumnStat(
    minVal: Option[Any], maxVal: Option[Any], nulls: Option[Long],
    ndv: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
  override def min(): java.util.Optional[Object] =
    minVal.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
      .getOrElse(java.util.Optional.empty())
  override def max(): java.util.Optional[Object] =
    maxVal.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
      .getOrElse(java.util.Optional.empty())
  override def nullCount(): java.util.OptionalLong =
    nulls.map(java.util.OptionalLong.of)
      .getOrElse(java.util.OptionalLong.empty())
  override def distinctCount(): java.util.OptionalLong =
    ndv.map(java.util.OptionalLong.of)
      .getOrElse(java.util.OptionalLong.empty())
}

/** `columnar` is decided ONCE per scan (Spark requires every partition
  * of a scan to agree) — true exactly when no partition needs per-row
  * bookkeeping: no deletion vectors outstanding, no change-feed
  * constants, no metadata columns in the read schema. The columnar leg
  * decodes through Spark's vectorized parquet reader
  * ([[CommitLogColumnarReader]]); the row leg keeps the Group-record
  * reader for the delta-sized shapes that skip/stamp per row. */
case class CommitLogReaderFactory(
    schema: StructType,
    formers: Map[String, Seq[String]] = Map.empty,
    columnar: Boolean = false,
    columnarConf: Option[SerializableConfiguration] = None)
    extends PartitionReaderFactory {
  private def unwrap(partition: InputPartition): CommitLogInputPartition =
    partition match {
      case k: CommitLogKeyedInputPartition => k.base
      case b: CommitLogInputPartition => b
    }
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && !unwrap(partition).forceRow
  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = unwrap(partition)
    new CommitLogColumnarReader(
      p.file, schema, formers, columnarConf.get.value, p.fileLength,
      stamp = p.constChangeType.map(ct => (ct, p.version)))
  }
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = unwrap(partition)
    new CommitLogPartitionReader(p.file, schema, p.constChangeType, p.version,
      formers, p.deletedPositions, p.onlyPositions)
  }
}

/** Per-file reader: parquet-hadoop Group records converted to
  * InternalRows against the LOG's schema. Fields resolve by NAME per
  * file, so pre-evolution files (S22e additive evolution) null-fill
  * missing columns here in the reader — no mergeSchema footer pass. */
class CommitLogPartitionReader(
    file: String, schema: StructType,
    constChangeType: Option[String] = None, version: Int = -1,
    formers: Map[String, Seq[String]] = Map.empty,
    deletedPositions: Array[Long] = Array.empty,
    onlyPositions: Array[Long] = Array.empty)
    extends PartitionReader[InternalRow] {

  private val constChangeUtf8 =
    constChangeType.map(UTF8String.fromString).orNull

  // the `_batch` metadata column: this file's batch directory,
  // constant per partition
  private val batchUtf8 =
    UTF8String.fromString(CommitLogMerge.normDir(
      file.substring(0, file.lastIndexOf('/'))))

  // `_row_file`: the row's data file, scheme-stripped — the same form
  // deletion vectors record, so a DV written from these values
  // reconciles against every read path
  private val fileUtf8 =
    UTF8String.fromString(CommitLogMerge.normDir(file))

  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(CommitLogSource.readerConf)
      .build()

  // per-file name→index map, built from the first record's group type
  private var fieldIdx: Array[Int] = _
  private var fileType: GroupType = _
  private var current: Group = _

  // merge-on-read skip: this file's deletion-vector positions, sorted;
  // the sequential scan counts record indexes and hops over them
  private var rowIdx = -1L
  private var delPtr = 0
  private var onlyPtr = 0

  private def isDeleted(i: Long): Boolean = {
    while (delPtr < deletedPositions.length && deletedPositions(delPtr) < i)
      delPtr += 1
    delPtr < deletedPositions.length && deletedPositions(delPtr) == i
  }

  // onlyPositions mode: emit EXACTLY these (sorted) row indexes —
  // the DV-synthesized delete leg of the change feed
  private def isIncluded(i: Long): Boolean = {
    while (onlyPtr < onlyPositions.length && onlyPositions(onlyPtr) < i)
      onlyPtr += 1
    onlyPtr < onlyPositions.length && onlyPositions(onlyPtr) == i
  }

  override def next(): Boolean = {
    // all requested positions served: stop without draining the file
    if (onlyPositions.nonEmpty && onlyPtr >= onlyPositions.length)
      return false
    current = reader.read()
    rowIdx += 1
    while (current != null && (isDeleted(rowIdx) ||
        (onlyPositions.nonEmpty && !isIncluded(rowIdx)))) {
      if (onlyPositions.nonEmpty && onlyPtr >= onlyPositions.length)
        return false
      current = reader.read()
      rowIdx += 1
    }
    current != null
  }

  override def get(): InternalRow = {
    if (fieldIdx == null) {
      fileType = current.getType
      // resolve through the RENAME chain, newest name first: an old
      // file answers a renamed logical column under the name it was
      // written with (column mapping, resolved once per file)
      fieldIdx = schema.fields.map { f =>
        (f.name +: formers.getOrElse(f.name, Seq.empty))
          .find(fileType.containsField)
          .map(fileType.getFieldIndex).getOrElse(-1)
      }
    }
    val out = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val fi = fieldIdx(i)
      out(i) =
        // change-feed constants: a data file planned as one side of a
        // change (insert/delete) lacks the CDF columns — stamp them
        if (fi < 0 && schema(i).name == CommitLogCdf.CommitVersionCol && version >= 0)
          Int.box(version)
        else if (fi < 0 && schema(i).name == CommitLogCdf.ChangeTypeCol &&
            constChangeUtf8 != null)
          constChangeUtf8
        else if (fi < 0 && schema(i).name == CommitLogSource.BatchCol)
          batchUtf8
        else if (fi < 0 && schema(i).name == CommitLogSource.RowFileCol)
          fileUtf8
        else if (fi < 0 && schema(i).name == CommitLogSource.RowPosCol)
          Long.box(rowIdx)
        else if (fi < 0 || current.getFieldRepetitionCount(fi) == 0) null
        else readValue(current, fi, 0, schema(i).dataType)
      i += 1
    }
    out
  }

  /** One value out of one group field, recursing through the standard
    * 3-level list layout and nested struct groups — the row leg's
    * mirror of the writer's `writeField`. The sink's encodings (and
    * Spark's own): INT64 micros, INT32 epoch days, unscaled decimal
    * (INT32/INT64/fixed-width binary by precision) — all exactly
    * InternalRow's representations.
    * Timestamps additionally accept Spark's two other parquet
    * encodings: INT64 millis and legacy INT96 (julian day + nanos),
    * so batches written by Spark's own writer (COW rewrites, optimize)
    * read back identically to sink-written ones. Struct subfields
    * resolve by NAME per file, so additive struct evolution null-fills
    * like top-level columns do. */
  private def readValue(
      g: Group, fi: Int, idx: Int, dt: DataType): Any = dt match {
    // LONG/DOUBLE requests dispatch on the FILE's primitive type so a
    // TYPE-WIDENED column (S77) serves pre-widening files' narrow
    // physical values under the wide logical type — same pattern wide
    // decimals already use below
    case LongType =>
      g.getType.getType(fi).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveType.PrimitiveTypeName.INT32 =>
          Long.box(g.getInteger(fi, idx).toLong)
        case _ => Long.box(g.getLong(fi, idx))
      }
    case IntegerType => Int.box(g.getInteger(fi, idx))
    case DoubleType =>
      g.getType.getType(fi).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveType.PrimitiveTypeName.FLOAT =>
          Double.box(g.getFloat(fi, idx).toDouble)
        case _ => Double.box(g.getDouble(fi, idx))
      }
    case FloatType => Float.box(g.getFloat(fi, idx))
    case BooleanType => Boolean.box(g.getBoolean(fi, idx))
    case StringType => UTF8String.fromString(g.getString(fi, idx))
    case BinaryType => g.getBinary(fi, idx).getBytes
    case TimestampType | TimestampNTZType =>
      Long.box(readTimestampMicros(g, fi, idx))
    case DateType => Int.box(g.getInteger(fi, idx))
    case d: DecimalType =>
      // Spark's writer picks the narrowest storage: INT32 below
      // precision 10, INT64 to 18, FIXED_LEN_BYTE_ARRAY (big-endian
      // two's-complement) above; legacy writers may use plain BINARY
      // — accept all four
      g.getType.getType(fi).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveType.PrimitiveTypeName.INT32 =>
          org.apache.spark.sql.types.Decimal(
            g.getInteger(fi, idx).toLong, d.precision, d.scale)
        case PrimitiveType.PrimitiveTypeName.INT64 =>
          org.apache.spark.sql.types.Decimal(
            g.getLong(fi, idx), d.precision, d.scale)
        case _ =>
          val bytes = g.getBinary(fi, idx).getBytes
          org.apache.spark.sql.types.Decimal(
            BigDecimal(BigInt(new java.math.BigInteger(bytes)), d.scale),
            d.precision, d.scale)
      }
    case ArrayType(et, _) =>
      // standard 3-level list: field 0 of the LIST group is the
      // repeated `list` group, whose field 0 is the element
      val lg = g.getGroup(fi, idx)
      val n = lg.getFieldRepetitionCount(0)
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        val eg = lg.getGroup(0, j)
        out(j) =
          if (eg.getFieldRepetitionCount(0) == 0) null
          else readValue(eg, 0, 0, et)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    case st: StructType
        if org.apache.spark.sql.execution.datasources.VariantMetadata
          .isVariantStruct(st) =>
      // PUSHED VARIANT EXTRACTIONS on the row leg (DV / CDF / metadata
      // -forced reads): the file holds a variant group; reassemble the
      // whole value once, then evaluate each requested path with the
      // same VariantGet the plan would have run above the scan.
      val v = readValue(g, fi, idx,
        org.apache.spark.sql.types.VariantType)
        .asInstanceOf[org.apache.spark.unsafe.types.VariantVal]
      variantStructEval(st)(v)
    case st: StructType =>
      val sg = g.getGroup(fi, idx)
      val gt = sg.getType
      val out = new GenericInternalRow(st.length)
      var j = 0
      while (j < st.length) {
        out(j) =
          if (!gt.containsField(st(j).name)) null
          else {
            val sfi = gt.getFieldIndex(st(j).name)
            if (sg.getFieldRepetitionCount(sfi) == 0) null
            else readValue(sg, sfi, 0, st(j).dataType)
          }
        j += 1
      }
      out
    case MapType(kt, vt, _) =>
      // standard MAP layout: field 0 of the MAP group is the repeated
      // `key_value` group — key at subfield 0 (required), value at
      // subfield 1 (optional: absent means a null map value)
      val mg = g.getGroup(fi, idx)
      val n = mg.getFieldRepetitionCount(0)
      val keys = new Array[Any](n)
      val vals = new Array[Any](n)
      var j = 0
      while (j < n) {
        val kv = mg.getGroup(0, j)
        keys(j) = readValue(kv, 0, 0, kt)
        vals(j) =
          if (kv.getFieldRepetitionCount(1) == 0) null
          else readValue(kv, 1, 0, vt)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
    case org.apache.spark.sql.types.VariantType =>
      // Two file layouts, both Spark's own. UNSHREDDED (the sink's):
      // a group of two required binaries — reassemble directly.
      // SHREDDED (Spark's datasource writer under
      // spark.sql.variant.writeShredding.enabled, i.e. COW rewrites /
      // OPTIMIZE output): per-field typed_value/value trees — read the
      // group as the file-derived shredded struct (plain structs/
      // arrays/scalars, which this reader already decodes) and let
      // Spark's own SparkShreddingUtils re-encode the variant binary.
      // Field order resolves by NAME either way (the writer's order is
      // an implementation detail of Spark's converter).
      val vg = g.getGroup(fi, idx)
      val gt = vg.getType
      require(gt.containsField("metadata"),
        s"variant group missing metadata field: $gt")
      if (!gt.containsField("typed_value") &&
          gt.getType(gt.getFieldIndex("value")).isPrimitive) {
        new org.apache.spark.unsafe.types.VariantVal(
          vg.getBinary(gt.getFieldIndex("value"), 0).getBytes,
          vg.getBinary(gt.getFieldIndex("metadata"), 0).getBytes)
      } else {
        val (shreddedSt, variantSchema) = shredSchemaFor(gt)
        val shreddedRow = readValue(g, fi, idx, shreddedSt)
          .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        val v = org.apache.spark.sql.execution.datasources.parquet
          .SparkShreddingUtils.assembleVariant(shreddedRow, variantSchema)
        v
      }
    case other =>
      throw new IllegalArgumentException(
        s"commitlog reader does not support $other — project it out " +
          "or extend the reader")
  }

  /** Per-row evaluator for a pushed-variant-extraction struct: one
    * bound [[org.apache.spark.sql.catalyst.expressions.variant
    * .VariantGet]] per field (path/type/failOnError from the field's
    * VariantMetadata), memoized per struct shape. */
  private val variantEvalCache =
    scala.collection.mutable.HashMap.empty[
      StructType,
      org.apache.spark.unsafe.types.VariantVal => GenericInternalRow]
  private def variantStructEval(st: StructType)
      : org.apache.spark.unsafe.types.VariantVal => GenericInternalRow =
    variantEvalCache.getOrElseUpdate(st, {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
      import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
      import org.apache.spark.sql.execution.datasources.VariantMetadata
      val gets = st.fields.map { f =>
        val m = VariantMetadata.fromMetadata(f.metadata)
        VariantGet(
          BoundReference(0, org.apache.spark.sql.types.VariantType,
            nullable = true),
          Literal(UTF8String.fromString(m.path)),
          f.dataType, m.failOnError, Some(m.timeZoneId))
      }
      val holder = new GenericInternalRow(1)
      v => {
        holder(0) = v
        val out = new GenericInternalRow(st.length)
        var j = 0
        while (j < gets.length) {
          out(j) = if (v == null) null else gets(j).eval(holder)
          j += 1
        }
        out
      }
    })

  /** File-derived shredded-variant schema, memoized per distinct
    * parquet group shape (one per file in practice — the shredding
    * schema was inferred from that file's data). */
  private val shredCache =
    scala.collection.mutable.HashMap.empty[
      org.apache.parquet.schema.GroupType,
      (StructType, org.apache.spark.types.variant.VariantSchema)]
  private def shredSchemaFor(gt: org.apache.parquet.schema.GroupType)
      : (StructType, org.apache.spark.types.variant.VariantSchema) =
    shredCache.getOrElseUpdate(gt, {
      import org.apache.spark.sql.execution.datasources.parquet.SparkShreddingUtils
      val st = SparkShreddingUtils.parquetTypeToSparkType(gt)
        .asInstanceOf[StructType]
      (st, SparkShreddingUtils.buildVariantSchema(st))
    })

  private def readTimestampMicros(g: Group, fi: Int, idx: Int): Long = {
    val pt = g.getType.getType(fi).asPrimitiveType()
    pt.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.INT96 =>
        // 12 bytes little-endian: nanos-of-day (8) + julian day (4)
        val bytes = g.getInt96(fi, idx).getBytes
        val buf = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
      case _ =>
        val unit = pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
          case _ => LogicalTypeAnnotation.TimeUnit.MICROS
        }
        val v = g.getLong(fi, idx)
        unit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
          case LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
          case _ => v
        }
    }
  }

  override def close(): Unit = reader.close()
}
