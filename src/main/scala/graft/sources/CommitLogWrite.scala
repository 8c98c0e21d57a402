package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

/** The WRITE half of the [[CommitLogSource]] connector: `df.write
  * .format("commitlog")` appends a committed batch, `writeStream
  * .format("commitlog")` appends one batch per micro-batch epoch with
  * EXACTLY-ONCE delivery — closing the loop with the streaming source
  * (t14): a commit-log table can now sit on BOTH ends of a pipeline.
  *
  * '''Exactly-once protocol''' (the Delta idempotent-sink design):
  * Structured Streaming re-delivers the last uncommitted epoch after a
  * crash, so the sink records a `txn` watermark `(queryId, epochId)` in
  * the SAME manifest that publishes the epoch's batch — data and
  * watermark commit atomically (one `link(2)`), and a replayed epoch is
  * detected by [[CommitLog.TxnAlreadyCommittedException]] inside the
  * optimistic-commit loop (re-checked per rebase, so a rival replay
  * that wins the race is skipped, not double-applied).
  *
  * '''Task-commit protocol''' (two-level, both levels first-wins):
  * tasks stream rows to HIDDEN `.tmp` parquet files inside a staging
  * directory (`stage-<token>/`); the driver renames exactly the
  * committed attempts' temps to visible part names (zombie/speculative
  * attempts' files are swept, a replayed task's rename finds the
  * visible name taken and drops its temp), then renames the staging
  * directory to the final batch name and publishes the manifest.
  * Crash windows map onto the log's existing contracts: a stage dir
  * without a manifest is orphan data that vacuum sweeps (under its
  * `minAgeMs` in-flight guard); a final-named dir without a manifest
  * entry is deleted and replaced by the replaying epoch before its
  * rename. Batch names are deterministic per unit of work — streaming
  * `txn-<queryId>-e<epoch>`, batch one-shot `w<writeId>` — so replays
  * collide loudly instead of double-listing.
  *
  * '''Stats ride along''': each task tracks numeric (min, max) per
  * column while writing; the driver merges the boxes and commits them
  * as manifest stats, so every batch this sink lands is born prunable
  * by [[CommitLog.prunedFiles]] — zero extra reads, no side index.
  *
  * At 100 TB the shape holds: a micro-batch's files are written by N
  * parallel tasks, the driver does O(N) renames + one delta-sized
  * manifest publish, and the idempotence check is bounded metadata
  * (one checkpoint + ≤8 delta reads). Append-only by design — MERGE,
  * deletes and compaction go through [[CommitLogMerge]]/[[CommitLog]]
  * directly, which arbitrate against this sink's commits via the same
  * optimistic protocol.
  */
object CommitLogWrite {

  /** Spark→parquet schema for the shapes the commitlog reader supports
    * — the write-side mirror of the readers' mappings. Timestamps land
    * as INT64 micros (UTC-adjusted), dates as INT32 days, decimals of
    * precision ≤ 18 as INT64 unscaled and wider ones (to 38) as
    * minimal-width FIXED_LEN_BYTE_ARRAY; BINARY passes through; arrays
    * write the STANDARD 3-level list layout
    * (`group (LIST) { repeated group list { element } }` — exactly what
    * Spark's own writer emits with writeLegacyFormat=false, so
    * sink-written and COW-rewritten files read back identically),
    * structs nest as groups, and maps write the standard MAP layout
    * (`group (MAP) { repeated group key_value { required key;
    * optional value } }` — Spark's own non-legacy shape), all to any
    * depth. The north-star columns this unlocks in a commitlog table:
    * `embeddings.embedding` (array<float>), multimodal payloads
    * (binary), the envelope struct, `events.props`-style maps. */
  def parquetType(schema: StructType): MessageType =
    new MessageType("spark_schema",
      schema.fields.toSeq.map(f => typeFor(f.name, f.dataType)): _*)

  private def typeFor(
      name: String, dt: DataType,
      rep: Type.Repetition = Type.Repetition.OPTIONAL): Type = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    dt match {
      case LongType => Types.primitive(INT64, rep).named(name)
      case IntegerType => Types.primitive(INT32, rep).named(name)
      case DoubleType => Types.primitive(DOUBLE, rep).named(name)
      case FloatType => Types.primitive(FLOAT, rep).named(name)
      case BooleanType => Types.primitive(BOOLEAN, rep).named(name)
      case StringType =>
        Types.primitive(BINARY, rep).as(stringType()).named(name)
      case BinaryType => Types.primitive(BINARY, rep).named(name)
      case TimestampType => Types.primitive(INT64, rep).as(
        LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case TimestampNTZType => Types.primitive(INT64, rep).as(
        LogicalTypeAnnotation.timestampType(
          false, LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case DateType => Types.primitive(INT32, rep).as(
        LogicalTypeAnnotation.dateType()).named(name)
      case d: DecimalType if d.precision <= 18 =>
        Types.primitive(INT64, rep).as(
          LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
      case d: DecimalType if d.precision <= DecimalType.MAX_PRECISION =>
        // wide decimals (19–38): FIXED_LEN_BYTE_ARRAY of the minimal
        // big-endian two's-complement width — Spark's own non-legacy
        // layout, so sink files and COW rewrites stay byte-compatible
        Types.primitive(FIXED_LEN_BYTE_ARRAY, rep)
          .length(org.apache.spark.sql.types.Decimal
            .minBytesForPrecision(d.precision))
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
      case ArrayType(et, _) =>
        Types.list(rep)
          .setElementType(typeFor("element", et)).named(name)
      case st: StructType =>
        Types.buildGroup(rep)
          .addFields(st.fields.toSeq.map(f => typeFor(f.name, f.dataType)): _*)
          .named(name)
      case MapType(kt, vt, _) =>
        // Spark's map-key invariant (keys never null) maps onto the
        // layout's required key; valueContainsNull onto optional value
        Types.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
          .addField(Types.repeatedGroup()
            .addFields(typeFor("key", kt, Type.Repetition.REQUIRED),
              typeFor("value", vt))
            .named("key_value"))
          .named(name)
      case org.apache.spark.sql.types.VariantType =>
        // Spark's UNSHREDDED variant layout: a group of two required
        // binaries (`value`, `metadata` — the open variant encoding),
        // annotated with the parquet VARIANT logical type, spec
        // version 1 — exactly what Spark's own converter emits under
        // the annotate conf the sink writer pins (internalRowWriter)
        Types.buildGroup(rep)
          .as(LogicalTypeAnnotation.variantType(1.toByte))
          .addFields(
            Types.primitive(BINARY, Type.Repetition.REQUIRED).named("value"),
            Types.primitive(BINARY, Type.Repetition.REQUIRED).named("metadata"))
          .named(name)
      case other =>
        throw new IllegalArgumentException(
          s"commitlog writer does not support $other (column $name) " +
            "— supported: flat primitives, binary, array, struct, map, " +
            "variant (pre-serialize UDTs)")
    }
  }

  /** A parquet writer that consumes [[InternalRow]]s directly through
    * Spark's own `ParquetWriteSupport` — the identical record-consumer
    * path `df.write.parquet` uses, so the sink's files carry the exact
    * standard layout (3-level lists, key_value maps, nested groups,
    * micros timestamps) with zero per-row materialization. */
  /** Per-schema writer Configuration cache (r16 optimization). A bare
    * `new Configuration()` parses the Hadoop default XML resources —
    * milliseconds of CPU per call — and the old per-file construction
    * made partitioned writes (one file per partition tuple, hundreds of
    * tuples) pay it per FILE: measured ~40% of s79_hidden_partition's
    * INSERT time. The configured object is schema-keyed (setSchema
    * writes the schema JSON into the conf) and IMMUTABLE once built —
    * builders and write-support only read it — so one instance serves
    * every writer of that schema; the map is bounded by the set of
    * distinct schemas written in the JVM. */
  private val writerConfCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.hadoop.conf.Configuration]()

  /** Thread-confined parquet codec factory, reused across every file a
    * task writes (r17). ParquetWriter otherwise builds a fresh
    * CodecFactory — and a fresh direct-buffer compressor — per FILE and
    * releases it in close(); for one-file-per-tuple partitioned writes
    * (s79: 235 files on one write task) that codec setup/teardown was
    * ~20% of the INSERT stage (measured by an uncompressed-codec A/B).
    * release() is a no-op so the pooled compressors survive close();
    * they are confined to their thread (one factory per thread, writers
    * on a thread run in one call stack and parquet's page writer copies
    * compressed bytes out inside the compress call), so lifetime is
    * bounded by threads × codecs. */
  private class PersistentCodecFactory(
      conf: org.apache.hadoop.conf.Configuration)
      extends org.apache.parquet.hadoop.CodecFactory(
        conf, org.apache.parquet.hadoop.ParquetWriter.DEFAULT_PAGE_SIZE) {
    override def release(): Unit = ()
  }
  private val threadCodecFactory =
    new ThreadLocal[PersistentCodecFactory]()
  private def codecFactoryFor(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.CodecFactory = {
    var f = threadCodecFactory.get()
    if (f == null) {
      f = new PersistentCodecFactory(conf)
      threadCodecFactory.set(f)
    }
    f
  }

  def internalRowWriter(path: Path, schema: StructType)
      : org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val conf = writerConfCache.computeIfAbsent(schema.json, _ => {
      val c = graft.Engine.hadoopConf()
      ParquetWriteSupport.setSchema(schema, c)
      // ParquetWriteSupport and SparkToParquetSchemaConverter read these
      // keys RAW (an unset key would NPE), so every one is pinned: the
      // non-legacy standard layout, and the readers' declared time unit
      c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
      c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
      c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "true")
      // local-scheme writes go through NioRawLocalFileSystem, the
      // checksum-free half of the engine's local filesystem (r16): the
      // default ChecksummedFileSystem writes a .crc SIDECAR per file —
      // for a partitioned write (one file per tuple) that doubles the
      // small-file creates and re-hashes every byte. Warehouse targets
      // carry transport-level integrity (HDFS datanode checksums, S3
      // etags) where no sidecar exists; parquet itself additionally
      // CRCs each page. Scoped to THIS conf + cache-disabled, so the
      // JVM's shared file:// FileSystem keeps its default behavior.
      // UNIQUE-PATH INVARIANT (ADVICE r16): every write site feeds this
      // writer a path that embeds a fresh UUID/version tag, so a raw
      // (sidecar-less) file can never land where a checksummed file of
      // the same name previously lived — the stale-.crc
      // ChecksumException class is unreachable while that holds. Any
      // new write site MUST keep the tagged-name discipline.
      c.set("fs.file.impl", classOf[NioRawLocalFileSystem].getName)
      c.set("fs.file.impl.disable.cache", "true")
      c
    })
    // compress like Spark's own writer would (COW rewrites use the
    // session codec): honor spark.sql.parquet.compression.codec, with
    // Spark's default as the fallback for exotic spellings
    val codec = try {
      org.apache.parquet.hadoop.metadata.CompressionCodecName.valueOf(
        SQLConf.get.getConf(SQLConf.PARQUET_COMPRESSION)
          .toUpperCase(java.util.Locale.ROOT))
    } catch {
      case _: Exception =>
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY
    }
    new InternalRowWriterBuilder(path).withConf(conf)
      .withCompressionCodec(codec)
      .withCodecFactory(codecFactoryFor(conf))
      .build()
  }

  private class InternalRowWriterBuilder(path: Path)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, InternalRowWriterBuilder](path) {
    override def self(): InternalRowWriterBuilder = this
    override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport()
  }

  /** Table property carrying the declared write sort order (see the
    * sortCols resolution in the write builder). */
  val SortOrderProp = "graft.write.sortOrder"

  /** Optional companion property pinning the range write's file count
    * (requiredNumPartitions); unset = Spark/AQE sizes the shuffle. */
  val SortBucketsProp = "graft.write.sortBuckets"

  /** Table-property prefix carrying `GENERATED ALWAYS AS` expressions
    * (`graft.generated.<col>` -> the expression SQL) — written by
    * [[GraftCatalog]] at CREATE, read here by every sink write. */
  val GeneratedPropPrefix = "graft.generated."

  /** IDENTITY columns (`GENERATED ALWAYS|BY DEFAULT AS IDENTITY`):
    * the definition rides `graft.identity.<col>` -> "start,step,
    * allowExplicitInsert" (written at CREATE, carried by REPLACE/
    * RESTORE/clone like every props-facet entry), and the HIGH
    * WATERMARK — the last value handed out — rides
    * `graft.identityHwm.<col>`, advanced ATOMICALLY by the same
    * manifest commit that publishes the rows (so RESTORE rolls it
    * back with the rows it covers, and vacuum/checkpoint carry it).
    *
    * Allocation is coordination-free, the only shape that survives
    * 10k concurrent tasks: the driver reads the watermark ONCE at
    * write-plan time (k0 = the next unused step index), and task p
    * takes k-blocks strided by the task count — block j of task p
    * covers indexes k0 + (p + j·numPartitions)·B … +B-1, B =
    * [[IdentityBlockProp]] rows. Values are start + step·k: unique
    * within the write by construction, unique across writes because
    * the commit re-verifies the watermark it planned against
    * (propsExpected) and ABORTS if a rival advanced it — the Delta
    * identity-conflict contract. Gaps are allowed and bounded by
    * B·numPartitions per write (the SQL-standard identity contract
    * never promises density). */
  val IdentityPropPrefix = "graft.identity."
  val IdentityHwmPrefix = "graft.identityHwm."

  /** Rows per task allocation block (table property; the gap bound). */
  val IdentityBlockProp = "graft.identityBlock"
  val DefaultIdentityBlock: Long = 1L << 20

  /** ROW TRACKING (`'graft.rowTracking' = 'true'`): every data file the
    * sink writes materializes a hidden BIGINT `_graft_row_id` column —
    * a STABLE PER-ROW IDENTITY that survives OPTIMIZE/ZORDER packing
    * and copy-on-write DML (rewrites read the hidden column back and
    * re-write it; see [[CommitLog.rewriteDdl]]), the Delta row-tracking
    * idea. Allocation reuses the identity-column machinery wholesale:
    * a synthesized BY-DEFAULT spec (start 0, step 1) fills NULL
    * arrivals from the coordination-free k-block ladder, keeps
    * non-null arrivals (that is what PRESERVATION is, mechanically),
    * and the data commit advances `graft.identityHwm._graft_row_id`
    * atomically with a rival-abort precondition. The column never
    * appears in the recorded DDL ([[CommitLog.bareDdl]] scrubs it) —
    * readers see it only as a metadata column, vectorized like any
    * physical column. Enablement is gated to tables holding no data
    * (no backfill story; Delta gates the same way), so every live file
    * of a tracked table carries the column by construction. */
  val RowTrackingProp = "graft.rowTracking"
  val RowIdCol = "_graft_row_id"

  def rowTrackingOn(props: Map[String, String]): Boolean =
    props.get(RowTrackingProp).exists(_.trim.equalsIgnoreCase("true"))

  /** The write schema with the hidden row-id column appended. */
  def withRowId(schema: StructType): StructType = {
    require(!schema.fieldNames.contains(RowIdCol),
      s"'$RowIdCol' is the engine's reserved row-tracking column — a " +
        "row-tracked table's writers must not provide it (rewrites " +
        "carry it implicitly)")
    StructType(schema.fields :+ StructField(RowIdCol, LongType,
      nullable = true))
  }

  /** The synthesized identity spec that allocates row ids at the sink:
    * BY DEFAULT (non-null arrivals are PRESERVED ids from a rewrite),
    * watermarked under the identity prefix so restore/vacuum/clone
    * carry it exactly like user identity columns. */
  def rowIdSpec(
      writeSchema: StructType, props: Map[String, String]): IdentitySpec =
    IdentitySpec(RowIdCol, writeSchema.fieldIndex(RowIdCol),
      intWidth = false, start = 0L, step = 1L, allowExplicit = true,
      hwm = props.get(IdentityHwmPrefix + RowIdCol).map(_.toLong))

  /** The watermark advance a finished identity write publishes: next
    * watermark per spec (max of the current one, the highest generated
    * value, and the highest provided BY-DEFAULT value, in step
    * direction) plus the PRECONDITION that the planned-against
    * watermark is still in force — a rival advance must abort exactly
    * one of the two racing writes (the loser's staged values were
    * derived from a stale watermark and may collide). Shared by the
    * batch and streaming identity wrappers. */
  def identityWatermarkProps(
      specs: Seq[IdentitySpec], idMsgs: Seq[IdentityCommitMessage])
      : (Map[String, Option[String]], Map[String, Option[String]]) = {
    val maxK = if (idMsgs.isEmpty) -1L else idMsgs.map(_.maxK).max
    val props = Map.newBuilder[String, Option[String]]
    val expected = Map.newBuilder[String, Option[String]]
    specs.zipWithIndex.foreach { case (s, si) =>
      val generated: Option[Long] =
        if (maxK < 0) None
        else Some(Math.addExact(s.start,
          Math.multiplyExact(s.step, Math.addExact(s.baseK, maxK))))
      val given: Option[Long] = idMsgs.flatMap(_.provided(si))
        .reduceOption((a, b) => if (s.beyond(a, b)) a else b)
      val next = (s.hwm.toSeq ++ generated ++ given)
        .reduceOption((a, b) => if (s.beyond(a, b)) a else b)
      if (next != s.hwm) {
        props += (IdentityHwmPrefix + s.col) -> next.map(_.toString)
        expected += (IdentityHwmPrefix + s.col) -> s.hwm.map(_.toString)
      }
    }
    (props.result(), expected.result())
  }

  /** Per-table change-feed dial (`'graft.changeFeed' = 'false'` opts
    * OUT): when on — the default — every SQL row-level verb
    * materializes its row changes to `_changes/v<N>` so the `.changes`
    * metadata table and `readChangeFeed` scans can serve the version
    * (the SQL surface has no per-statement opt-in; same policy as
    * `deleteWhere`). Off trades that read for a cheaper write: the
    * feed then refuses rewrite versions with guidance. */
  val ChangeFeedProp = "graft.changeFeed"

  /** One identity column's definition + the watermark in force when
    * the write was planned. */
  case class IdentitySpec(
      col: String, ordinal: Int, intWidth: Boolean,
      start: Long, step: Long, allowExplicit: Boolean,
      hwm: Option[Long]) {
    /** First unused step index: 0 on a fresh table, else strictly past
      * the watermark in step direction (floorDiv is exact for either
      * sign; an explicit BY DEFAULT insert may leave the watermark
      * unaligned, the +1 still lands strictly beyond it). */
    def baseK: Long = hwm match {
      case None => 0L
      case Some(h) => Math.addExact(
        Math.floorDiv(Math.subtractExact(h, start), step), 1L)
    }
    /** a beats b in step direction. */
    def beyond(a: Long, b: Long): Boolean = if (step > 0) a > b else a < b
  }

  /** The identity columns a write must fill, resolved against the
    * write schema and the table properties in force. */
  def identitySpecs(
      schema: StructType, props: Map[String, String]): Seq[IdentitySpec] =
    props.collect {
      case (k, v) if k.startsWith(IdentityPropPrefix) =>
        val col = k.stripPrefix(IdentityPropPrefix)
        require(schema.fieldNames.contains(col),
          s"identity column '$col' is missing from the write schema " +
            s"(got ${schema.fieldNames.mkString(",")})")
        val i = schema.fieldIndex(col)
        val intWidth = schema(i).dataType match {
          case IntegerType => true
          case LongType => false
          case other => throw new IllegalArgumentException(
            s"identity column '$col' must be BIGINT or INT, got $other")
        }
        val parts = v.split(",", 3)
        IdentitySpec(col, i, intWidth,
          parts(0).toLong, parts(1).toLong, parts(2).toBoolean,
          props.get(IdentityHwmPrefix + col).map(_.toLong))
    }.toSeq.sortBy(_.ordinal)

  /** Resolve + bind the table's generation expressions against the
    * write schema, once per write on the driver: each returns
    * (ordinal, bound expression) ready for per-row `eval` in the
    * tasks. Spark validated the expressions at CREATE (deterministic,
    * no subqueries, only non-generated column references), so binding
    * here can only fail if evolution broke a referenced column — in
    * which case the write must refuse, not null-fill. */
  def boundGenerators(
      schema: StructType, props: Map[String, String])
      : Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    val gens = props.collect {
      case (k, v) if k.startsWith(GeneratedPropPrefix) =>
        k.stripPrefix(GeneratedPropPrefix) -> v
    }
    if (gens.isEmpty) return Nil
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Cast}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    val attrs =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val session = SparkSession.active
    val parser = session.sessionState.sqlParser
    // parse + analyze under FORCED ANSI semantics: casts and arithmetic
    // inside the generation expression capture their eval mode at parse
    // time from the thread-local conf, and the declared type is a
    // contract — a bad value must refuse loudly at the write, never
    // null-fill, even when the session runs with lax cast semantics
    // (Spark's own generated-column validation does the same).
    withAnsiConf(session) {
      gens.toSeq.sortBy(_._1).map { case (col, sql) =>
        require(schema.fieldNames.contains(col),
          s"generated column '$col' is missing from the write schema")
        val i = schema.fieldIndex(col)
        val analyzed = org.apache.spark.sql.catalyst.util.GeneratedColumnAnalyzer
          .execute(Project(
            Seq(Alias(parser.parseExpression(sql), col)()),
            LocalRelation(attrs)))
        val expr = analyzed.asInstanceOf[Project].projectList.head
          .asInstanceOf[Alias].child
        require(expr.resolved,
          s"generation expression for '$col' does not resolve against " +
            s"(${schema.fieldNames.mkString(",")}): $sql")
        val fit =
          if (expr.dataType == schema(i).dataType) expr
          else Cast(expr, schema(i).dataType,
            Some(session.sessionState.conf.sessionLocalTimeZone),
            org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI)
        i -> BindReferences.bindReference(fit, attrs)
      }
    }
  }

  /** Run `f` with the thread-local SQLConf forced to ANSI — parse-time
    * eval-mode capture (Cast, arithmetic) sees ANSI regardless of the
    * session's own setting. */
  private def withAnsiConf[T](session: SparkSession)(f: => T): T = {
    import org.apache.spark.sql.internal.SQLConf
    val forced = session.sessionState.conf.clone()
    forced.setConf(SQLConf.ANSI_ENABLED, true)
    SQLConf.withExistingConf(forced)(f)
  }

  /** DataFrame-side twin of [[boundGenerators]] for the row-level
    * rewrite paths (UPDATE/DELETE-COW/MERGE regen): recomputes every
    * GENERATED column over `df` with the same ANSI contract the sink
    * enforces — an explicitly-ANSI [[Cast]] to the declared type, so a
    * value the sink would REFUSE loudly can never be silently nulled
    * into the table by a rewrite running under lax session cast
    * semantics. The generation expression itself was validated at
    * CREATE (deterministic, no subqueries, non-generated refs only),
    * so resolving it by name against `df` is the same resolution the
    * sink's analyzer performs. */
  def regenFrame(
      df: org.apache.spark.sql.DataFrame, tableSchema: StructType,
      props: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, EvalMode}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    import org.apache.spark.sql.GraftShims
    val gens = props.collect {
      case (k, v) if k.startsWith(GeneratedPropPrefix) =>
        k.stripPrefix(GeneratedPropPrefix) -> v
    }
    if (gens.isEmpty) return df
    val session = SparkSession.active
    val tz = Some(session.sessionState.conf.sessionLocalTimeZone)
    val parser = session.sessionState.sqlParser
    val attrs =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(df.schema)
    // parse AND analyze under forced ANSI (see boundGenerators): not
    // just parse-time eval-mode capture — the implicit type-coercion
    // casts the ANALYZER inserts inside the expression capture their
    // eval mode at construction too, so handing an unresolved tree to
    // the session analyzer would build them under lax session
    // semantics (a silently-nulling coercion the sink's own analyzer
    // would refuse). The fully-resolved tree is re-leafed by NAME so
    // it binds to df's actual attributes downstream; nothing is left
    // for the session analyzer to coerce.
    withAnsiConf(session) {
      gens.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, sql)) =>
        val analyzed = org.apache.spark.sql.catalyst.util.GeneratedColumnAnalyzer
          .execute(Project(
            Seq(Alias(parser.parseExpression(sql), c)()),
            LocalRelation(attrs)))
        val e0 = analyzed.asInstanceOf[Project].projectList.head
          .asInstanceOf[Alias].child
        require(e0.resolved,
          s"generation expression for '$c' does not resolve against " +
            s"(${df.schema.fieldNames.mkString(",")}): $sql")
        val fit =
          if (e0.dataType == tableSchema(c).dataType) e0
          else Cast(e0, tableSchema(c).dataType, tz, EvalMode.ANSI)
        val byName = fit.transform {
          case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
        }
        d.withColumn(c, GraftShims.columnOf(byName))
      }
    }
  }

  def pad(epochId: Long): String = f"$epochId%020d"

  /** queryId arrives as a UUID; strip the dashes so the batch name
    * stays within the manifest name grammar with margin. */
  def appOf(queryId: String): String = queryId.replace("-", "")

  /** ADD CONSTRAINT (Delta's CHECK invariant): validates EXISTING data
    * first (one filtered scan of the current snapshot — a constraint
    * the table already violates must not be declarable), then publishes
    * a metadata-only commit recording it. From that version on, every
    * sink publish re-validates its staged epoch (see [[publish]]).
    * SQL-standard semantics: a row passes when the expression is TRUE
    * or NULL; only FALSE violates. */
  def addConstraint(
      spark: SparkSession, root: String, name: String, expr: String): Unit = {
    val v = CommitLog.latestVersion(root)
    // the expression must at least parse, and reference only declared
    // columns — an unanalyzable constraint would otherwise enter force
    // unvalidated (empty table skips the data scan) and fail EVERY
    // later publish with no way to retire it but dropConstraint
    val parsed =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(expr)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"CHECK constraint '$name' does not parse: $expr", e)
      }
    CommitLog.schemaOf(root, v).foreach { ddl =>
      val fields = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        .fieldNames.toSet
      val unknown = parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.filterNot(fields.contains)
      require(unknown.isEmpty,
        s"CHECK constraint '$name' references unknown column(s) " +
          s"${unknown.mkString(",")} (table has ${fields.mkString(",")})")
    }
    val live = CommitLog.files(root, v)
    if (live.nonEmpty) {
      val bad = CommitLogSource.readBatches(spark, root, live,
          CommitLog.schemaOf(root, v),
          CommitLog.formerNamesOf(root, v), keepMeta = false)
        .filter(org.apache.spark.sql.functions.not(
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(expr),
            org.apache.spark.sql.functions.lit(true))))
        .count()
      if (bad > 0)
        throw new CommitLog.ConstraintViolationException(name, expr, bad)
    }
    // SERIALIZABLE publish at exactly v+1: a rebase past a rival
    // append would put rows in force this scan never validated — the
    // loser re-reads and re-validates instead (merge/DML discipline)
    if (!CommitLog.tryCommit(root, v + 1, added = Nil, removed = Nil,
        op = Some("ADD CONSTRAINT"), constraints = Map(name -> expr)))
      throw new java.util.ConcurrentModificationException(
        s"ADD CONSTRAINT '$name' on $root lost the race at v${v + 1}: a " +
          "rival committed rows this validation never scanned — re-run")
    if ((v + 1) % CommitLog.checkpointInterval == 0)
      CommitLog.writeCheckpoint(root, v + 1)
  }

  /** Filter to rows VIOLATING `checkExpr` (FALSE only — NULL passes). */
  private[sources] def violations(
      df: org.apache.spark.sql.DataFrame, checkExpr: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    df.filter(not(coalesce(expr(checkExpr), lit(true)))).count()
  }

  /** Enforce every CHECK in `inForce` over `staged` in ONE aggregation
    * pass (r17: was one count job per constraint — the statement-dense
    * DML decls paid the per-job driver latency N times over).
    * Violations throw [[CommitLog.ConstraintViolationException]] in
    * iteration order with the per-check violating-row count, after
    * `cleanup` runs — byte-identical failure surface to the loop it
    * replaces. */
  private[sources] def enforceChecks(
      staged: org.apache.spark.sql.DataFrame,
      inForce: Seq[(String, String)],
      cleanup: () => Unit = () => ()): Unit = {
    if (inForce.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val sums = inForce.map { case (_, ce) =>
      coalesce(sum(when(not(coalesce(expr(ce), lit(true))), 1L)), lit(0L))
    }
    val r = staged.agg(sums.head, sums.tail: _*).head()
    inForce.zipWithIndex.foreach { case ((name, ce), i) =>
      if (r.getLong(i) > 0) {
        cleanup()
        throw new CommitLog.ConstraintViolationException(name, ce, r.getLong(i))
      }
    }
  }

  /** SET NOT NULL (SURVEY S78): `ALTER TABLE … ALTER COLUMN c SET NOT
    * NULL` as a (usually) ZERO-READ commit. The proof discipline is
    * [[addConstraint]]'s — existing data must already satisfy the
    * declaration — but the manifest's exact per-column null counts
    * (S72) usually carry it without touching a byte: every live batch
    * recording nulls=0 for `c` proves the snapshot null-free (the
    * counts cover DV-deleted rows too, so the zero-read proof stays
    * conservative under outstanding vectors). Only when some batch
    * lacks the fact (legacy writer, ZORDER aggregate stats, a column
    * evolution null-fills in pre-evolution files) does ONE filtered
    * scan of the current snapshot run — DV-exact through the normal
    * reader, and an evolved column's null-fill correctly refuses
    * there. From the committed version on the declared NOT NULL is a
    * write-time contract like a CHECK: every publish gate holds it
    * ([[checksInForce]]) and planning builds the same proofs
    * (CommitLogSource.notNullProven → top-N fast path, IS NULL
    * pruning, metadata COUNT). SERIALIZABLE at exactly proven-v+1:
    * rebasing past a rival append would put rows in force this proof
    * never saw (the ADD CONSTRAINT discipline). */
  def setNotNull(spark: SparkSession, root: String, col: String): Unit = {
    import org.apache.spark.sql.types.StructType
    val v = CommitLog.latestVersion(root)
    val ddl = CommitLog.schemaOf(root, v).getOrElse(
      throw new IllegalArgumentException(
        s"SET NOT NULL needs a log-declared schema on $root — declare " +
          "one (schema-enforced write) before altering nullability"))
    val st = StructType.fromDDL(ddl)
    val field = st.fields.find(_.name == col).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$col' in $root (schema: ${st.fieldNames.mkString(",")})"))
    if (!field.nullable) return // already declared
    val live = CommitLog.files(root, v)
    val stats = CommitLog.statsOf(root, v)
    val zeroProven = live.forall(b =>
      stats.get(b).flatMap(_.get(col)).flatMap(_.nulls).contains(0L))
    if (!zeroProven && live.nonEmpty) {
      val bad = spark.read.format("commitlog").option("path", root)
        .option("versionAsOf", v).load()
        .filter(org.apache.spark.sql.functions.col(col).isNull).count()
      if (bad > 0)
        throw new CommitLog.ConstraintViolationException(
          s"NOT NULL ($col)", s"$col IS NOT NULL", bad)
    }
    val newDdl = StructType(st.fields.map(f =>
      if (f.name == col) f.copy(nullable = false) else f)).toDDL
    if (!CommitLog.tryCommit(root, v + 1, added = Nil, removed = Nil,
        schema = Some(newDdl), op = Some("SET NOT NULL")))
      throw new java.util.ConcurrentModificationException(
        s"SET NOT NULL ($col) on $root lost the race at v${v + 1}: a " +
          "rival committed rows this proof never covered — re-run")
    if ((v + 1) % CommitLog.checkpointInterval == 0)
      CommitLog.writeCheckpoint(root, v + 1)
  }

  /** DROP NOT NULL: the always-legal loosening — metadata-only and
    * rebase-safe (no rival's rows can invalidate MORE nullability).
    * From the committed version on [[CommitLogSource.notNullProven]]
    * stops holding, so top-N falls back to per-batch null counts and
    * the publish gates stop checking the column. */
  def dropNotNull(root: String, col: String): Unit = {
    import org.apache.spark.sql.types.StructType
    val v = CommitLog.latestVersion(root)
    val ddl = CommitLog.schemaOf(root, v).getOrElse(
      throw new IllegalArgumentException(
        s"DROP NOT NULL needs a log-declared schema on $root"))
    val st = StructType.fromDDL(ddl)
    val field = st.fields.find(_.name == col).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$col' in $root (schema: ${st.fieldNames.mkString(",")})"))
    if (field.nullable) return // already nullable
    val newDdl = StructType(st.fields.map(f =>
      if (f.name == col) f.copy(nullable = true) else f)).toDDL
    CommitLog.commit(root, v, added = Nil, removed = Nil,
      schema = Some(newDdl), op = Some("DROP NOT NULL"),
      schemaNullability = true)
  }

  /** Synthetic per-column checks the recorded DDL's NOT NULL flags
    * impose on new rows, spelled in [[violations]]' CHECK grammar. The
    * declaration is a write-time contract exactly like a CHECK — the
    * planner builds proofs on it (notNullProven) — so EVERY publish
    * gate must hold both. Columns absent from the staged write's
    * schema are skipped: such a write is refused by schema evolution
    * at commit time before it could publish anything. */
  private[sources] def notNullChecks(
      root: String, v: Int, staged: StructType): Map[String, String] = {
    val stagedCols = staged.fieldNames.toSet
    CommitLog.schemaOf(root, v)
      .map(d => org.apache.spark.sql.types.StructType.fromDDL(d))
      .toSeq.flatMap(_.fields)
      .filter(f => !f.nullable && stagedCols.contains(f.name))
      .map(f => s"NOT NULL (${f.name})" -> s"`${f.name}` IS NOT NULL")
      .toMap
  }

  /** Every row-content check in force at `v` over a staged write:
    * declared CHECK constraints plus the DDL's NOT NULL columns. */
  private[sources] def checksInForce(
      root: String, v: Int, staged: StructType): Map[String, String] =
    CommitLog.constraintsOf(root, v) ++ notNullChecks(root, v, staged)

  /** Level-1 task publish: exactly the committed attempts' temp files
    * become visible parts inside the stage; every other `.tmp` is a
    * losing or zombie attempt's leftover and is swept. Shared by the
    * sink's publish and the row-level replace-write. */
  private[sources] def promoteTasks(
      f: FileSystem, stage: Path,
      msgs: Seq[CommitLogCommitMessage]): Unit =
    promoteTaskFiles(f, stage, msgs.map(m => (m.tmpName, m.visibleName)))

  /** As [[promoteTasks]], over raw (tmp, visible) name pairs — the
    * partitioned sink's messages carry several files per task. */
  private[sources] def promoteTaskFiles(
      f: FileSystem, stage: Path, names: Seq[(String, String)]): Unit = {
    names.foreach { case (tmpName, visibleName) =>
      val tmp = new Path(stage, tmpName)
      val visible = new Path(stage, visibleName)
      if (f.exists(tmp)) {
        if (f.exists(visible)) f.delete(tmp, false)
        else f.rename(tmp, visible)
      }
    }
    if (f.exists(stage))
      f.listStatus(stage)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".tmp"))
        .foreach(st => f.delete(st.getPath, false))
  }

  /** The visible `.parquet` parts inside a stage dir (post-promote). */
  private[sources] def stagedParts(f: FileSystem, stage: Path): Seq[String] =
    if (!f.exists(stage)) Nil
    else f.listStatus(stage).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq

  /** Per-task column stats merged into one manifest stats entry. */
  private[sources] def mergedStats(
      msgs: Seq[CommitLogCommitMessage], batchName: String): CommitLog.Stats = {
    val merged = boxesOf(msgs.flatMap(_.stats))
    if (merged.isEmpty) Map.empty else Map(batchName -> merged)
  }

  /** Bloom union across tasks is bitwise OR — a value written by ANY
    * task is visible in the batch's merged filter. Auto-built filters
    * fold to the batch's exact-row-count size here (publish is the
    * first point that knows n — [[CommitLogBloom.finalizeHex]]). */
  private[sources] def mergedBlooms(
      msgs: Seq[CommitLogCommitMessage], batchName: String): CommitLog.Blooms = {
    val rows = msgs.map(_.rows).sum
    val merged = msgs.flatMap(_.blooms).groupBy(_._1).map {
      case (col, sets) =>
        col -> CommitLogBloom.finalizeHex(
          sets.map(_._2).reduce(CommitLogBloom.merge), rows)
    }
    if (merged.isEmpty) Map.empty else Map(batchName -> merged)
  }

  /** OVERWRITE's schema gate: the sink's append path gets additive
    * evolution checked inside [[CommitLog.commit]]; the overwrite legs
    * publish via [[CommitLog.tryCommit]] directly (full overwrite
    * re-resolves its removal list per attempt, conditional overwrite is
    * serializable at one version) and must enforce the same contract
    * themselves — every declared column keeps its name and type, new
    * columns may append, DROPPED names stay reserved forever. */
  private[sources] def requireAppendableSchema(
      root: String, v: Int, schema: StructType): Unit =
    CommitLog.schemaOf(root, v).foreach { cur =>
      if (cur != CommitLog.bareDdl(schema)) {
        StructType.fromDDL(cur).fields.foreach { f =>
          val kept = schema.fields.find(_.name == f.name)
          require(kept.exists(_.dataType == f.dataType),
            s"overwrite must keep the declared schema ($cur) or evolve it " +
              s"additively — column '${f.name}' is missing or retyped " +
              "(renames and drops go through ALTER TABLE)")
        }
        val zombie = schema.fieldNames.filter(CommitLog.droppedOf(root, v).contains)
        require(zombie.isEmpty,
          s"column name(s) ${zombie.mkString(",")} were DROPPED and are " +
            "reserved forever: old files still carry data under them")
      }
    }

  /** The DDL an overwrite records: the write schema with each EXISTING
    * column's nullability aligned to the declaration in force — a plan
    * schema (all-NOT-NULL under a VALUES of literals) must never
    * tighten the declared contract (CommitLog.commit runs the same
    * alignment for the append legs). */
  private[sources] def recordedDdl(
      root: String, v: Int, schema: StructType): String = {
    val bare = CommitLog.bareDdl(schema)
    CommitLog.schemaOf(root, v)
      .map(cur => CommitLog.alignNullability(cur, bare)).getOrElse(bare)
  }

  /** Truncated byte-lexicographic string-bound helpers (the soundness
    * rules [[CommitLog.ColStat]] documents): the LOWER bound is a
    * byte-prefix of the true min (compares ≤ it under unsigned
    * byte-lex, which is Spark's UTF8String order and DuckDB's binary
    * collation); a cut UPPER bound is the prefix INCREMENTED at its
    * last non-0xFF byte (strictly greater than every string carrying
    * the original prefix) — None when every prefix byte is 0xFF
    * (unbounded; the merge then poisons the column's bounds). */
  private[sources] def truncLower(b: Array[Byte]): Array[Byte] =
    if (b.length <= CommitLog.ColStat.StrCap) b
    else java.util.Arrays.copyOf(b, CommitLog.ColStat.StrCap)

  private[sources] def truncUpper(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= CommitLog.ColStat.StrCap) Some(b)
    else {
      val p = java.util.Arrays.copyOf(b, CommitLog.ColStat.StrCap)
      var i = p.length - 1
      while (i >= 0 && p(i) == -1) i -= 1
      if (i < 0) None
      else {
        // increment, then ZERO-FILL back to exactly StrCap bytes: a
        // truncated upper is thereby always cap-length, so
        // `length < StrCap` is the EXACTNESS test metadata MIN/MAX
        // rely on (the zero-filled value still strictly exceeds every
        // string carrying the original prefix — they differ first at
        // byte i, where the stored bound is one larger)
        p(i) = (p(i) + 1).toByte
        java.util.Arrays.fill(p, i + 1, p.length, 0.toByte)
        Some(p)
      }
    }

  private def byteLt(a: Array[Byte], b: Array[Byte]): Boolean =
    java.util.Arrays.compareUnsigned(a, b) < 0

  /** Column stats merged across task messages: boxes union (min of
    * los, max of his — an unboxed part's +Inf/-Inf init is the unit of
    * that union), null counts SUM — exact only when every part counted
    * (they all do since r15; None-propagation keeps a replayed old
    * message conservative). String bounds union over the parts that
    * DEFINE them (a task with zero non-null strings contributes no
    * values, so skipping it is exact); a HALF-DEFINED pair is the
    * writer's unbounded-upper poison marker and drops the column's
    * bounds for the whole batch. */
  private[sources] def boxesOf(
      stats: Seq[(String, CommitLog.ColStat)]): Map[String, CommitLog.ColStat] =
    stats.groupBy(_._1).map { case (c, bs) =>
      val nulls =
        if (bs.forall(_._2.nulls.isDefined)) Some(bs.map(_._2.nulls.get).sum)
        else None
      val poisoned =
        bs.exists(p => p._2.strLo.isDefined != p._2.strHi.isDefined)
      val withBounds = bs.map(_._2)
        .filter(p => p.strLo.isDefined && p.strHi.isDefined)
      val (slo, shi) =
        if (poisoned || withBounds.isEmpty) (None, None)
        else (Some(withBounds.map(_.strLo.get).reduce((a, b) =>
            if (byteLt(a, b)) a else b)),
          Some(withBounds.map(_.strHi.get).reduce((a, b) =>
            if (byteLt(a, b)) b else a)))
      // ndv union = register max; a part without a sketch poisons the
      // merge (None) — a partial-coverage estimate would under-report
      val ndv =
        if (bs.forall(_._2.ndv.isDefined))
          Some(bs.map(_._2.ndv.get).reduce(CommitLogNdv.merge))
        else None
      // sums ADD — exact only when every part carries one, and the
      // merged total itself can overflow (drop, never wrap)
      val sum =
        if (bs.forall(_._2.sum.isDefined))
          try Some(bs.map(_._2.sum.get).reduce(Math.addExact(_, _)))
          catch { case _: ArithmeticException => None }
        else None
      c -> CommitLog.ColStat(
        bs.map(_._2.lo).min, bs.map(_._2.hi).max, nulls, slo, shi, ndv, sum)
    }

  /** Bloom bitsets OR-merged across task messages, hex-encoded;
    * `batchRows` folds an auto-built filter to its exact-count size. */
  private[sources] def bloomHexOf(
      blooms: Seq[(String, Array[Long])], batchRows: Long): Map[String, String] =
    blooms.groupBy(_._1).map { case (c, sets) =>
      c -> CommitLogBloom.finalizeHex(
        sets.map(_._2).reduce(CommitLogBloom.merge), batchRows)
    }

  /** One staged partition of a partitioned write: its deterministic
    * batch name, manifest tuple tokens, and the task files holding its
    * rows. */
  private[sources] final case class TupleGroup(
      batch: String, tokens: Map[String, String], files: Seq[CommitLogFileMsg])

  /** Group a partitioned write's file messages into one batch per
    * partition tuple, named `<batchBase>-p<k>` in sorted-token order —
    * deterministic, so a replayed epoch converges on the same names. */
  private[sources] def groupByTuple(
      files: Seq[CommitLogFileMsg], batchBase: String): Seq[TupleGroup] =
    files.groupBy(_.tuple).toSeq
      .map { case (tuple, fs) =>
        val tokens = tuple.map { case (c, v) => c -> CommitLog.partToken(v) }
        (tuple.map { case (_, v) => CommitLog.partToken(v) }.mkString("~"),
          tokens.toMap, fs)
      }
      .sortBy(_._1)
      .zipWithIndex
      .map { case ((_, tokens, fs), k) =>
        TupleGroup(s"$batchBase-p$k", tokens, fs)
      }

  /** Driver-side publish for a PARTITIONED write: staged files group
    * into ONE BATCH PER PARTITION TUPLE (`<batchBase>-p<k>`), all
    * committed in one manifest that carries each batch's stats boxes,
    * blooms AND partition tuple — so every partition a write lands is
    * born exactly prunable and partition-overwritable from metadata.
    * The protocol is [[publish]]'s: txn idempotence, CHECK gating,
    * first-wins task promote, crash-orphan replacement; level 2 just
    * moves each tuple's visible files into its own batch directory
    * (all invisible until the single manifest lists them). Returns
    * false when the unit of work was already committed. */
  /** AUTO-COMPACTION (SURVEY S84): after a successful append publish,
    * if the table opts in (`graft.autoCompact.minFiles` = N ≥ 2) and
    * the live set holds ≥ N small batches (< `graft.autoCompact
    * .smallBytes`, default 32 MiB) — scoped to the WRITE'S OWN tuples
    * on a partitioned table — run one bounded OPTIMIZE pack inline as
    * a `dataChange=false` commit. Why at the sink: streaming epochs
    * and micro-appends mint one batch per commit, and at 100 TB an
    * unmaintained ingest table decays into millions of manifest
    * entries and tiny files that tax every scan; the threshold
    * amortizes the pack (one rewrite per N appends, each byte moving
    * ≤ 1/N-th as often as it lands). BEST-EFFORT by design: a rival's
    * concurrent rewrite, an outstanding DV, or any failure abandons
    * the attempt silently — the append itself already committed, and
    * maintenance must never turn a durable write into an error.
    * Sorted writes are exempt (their one-batch-per-file layout IS the
    * point — packing would merge the disjoint boxes). */
  private[sources] def maybeAutoCompact(
      root: String, touched: Option[Set[Map[String, String]]]): Unit = {
    val v = CommitLog.latestVersion(root)
    val props = CommitLog.tblPropsOf(root, v)
    val minFiles = props.get(AutoCompactMinFilesProp).flatMap(s =>
      try Some(s.toInt) catch { case _: NumberFormatException => None })
      .filter(_ >= 2)
    if (minFiles.isEmpty) return
    val smallBytes = props.get(AutoCompactSmallBytesProp).flatMap(s =>
      try Some(s.toLong) catch { case _: NumberFormatException => None })
      .filter(_ > 0L).getOrElse(32L << 20)
    try {
      CommitLogOptimize.optimize(SparkSession.active, root, smallBytes,
        minGroup = minFiles.get,
        tupleScope = touched.filter(_ => CommitLog.partColsOf(root, v).nonEmpty))
      ()
    } catch { case _: Exception => () } // maintenance never fails a write
  }

  val AutoCompactMinFilesProp = "graft.autoCompact.minFiles"
  val AutoCompactSmallBytesProp = "graft.autoCompact.smallBytes"

  def publishPartitioned(
      root: String, stageName: String, batchBase: String,
      messages: Array[WriterCommitMessage], schema: StructType,
      txn: Option[(String, Long)], partCols: Seq[String],
      extraProps: Map[String, Option[String]] = Map.empty,
      propsExpected: Map[String, Option[String]] = Map.empty): Boolean = {
    val rootP = new Path(root)
    val f = fs(rootP)
    val stage = new Path(rootP, stageName)
    def dropStage(): Unit = if (f.exists(stage)) f.delete(stage, true)

    txn.foreach { case (app, epoch) =>
      val v = CommitLog.latestVersion(root)
      if (CommitLog.txnsOf(root, v).get(app).exists(_ >= epoch)) {
        dropStage()
        return false
      }
    }
    val fileMsgs = messages.collect {
      case m: CommitLogPartitionedCommitMessage => m.files
    }.flatten.toSeq
    promoteTaskFiles(f, stage, fileMsgs.map(m => (m.tmpName, m.visibleName)))
    gateConstraints(f, stage, root, schema,
      stagedStats = fileMsgs.filter(_.rows > 0).map(_.stats),
      stagedTuples = fileMsgs.filter(_.rows > 0).map(_.tuple))

    val grouped = groupByTuple(fileMsgs, batchBase)
    val listed = CommitLog.files(root, CommitLog.latestVersion(root)).toSet
    var i = 0
    while (i < grouped.length) {
      val g = grouped(i)
      val dest = new Path(rootP, g.batch)
      if (f.exists(dest)) {
        if (listed.contains(g.batch)) {
          // a rival replay of this unit of work already published
          dropStage()
          return false
        }
        f.delete(dest, true) // crashed earlier attempt of THIS unit
      }
      f.mkdirs(dest)
      g.files.foreach { m =>
        val from = new Path(stage, m.visibleName)
        if (f.exists(from)) f.rename(from, new Path(dest, m.visibleName))
      }
      i += 1
    }
    dropStage()

    val stats: CommitLog.Stats = grouped
      .map(g => g.batch -> boxesOf(g.files.flatMap(_.stats)))
      .filter(_._2.nonEmpty).toMap
    val blooms: CommitLog.Blooms = grouped
      .map(g => g.batch -> bloomHexOf(
        g.files.flatMap(_.blooms), g.files.map(_.rows).sum))
      .filter(_._2.nonEmpty).toMap
    val parts: CommitLog.Parts =
      grouped.map(g => g.batch -> g.tokens).toMap
    val rowCounts: CommitLog.Rows =
      grouped.map(g => g.batch -> g.files.map(_.rows).sum).toMap
    val latest = CommitLog.latestVersion(root)
    try {
      // an all-empty epoch commits ZERO batches but still consumes a
      // version and advances the txn watermark (dense versions; a
      // restart must not replay the epoch forever)
      CommitLog.commit(root, latest, added = grouped.map(_.batch),
        schema = Some(CommitLog.bareDdl(schema)), stats = stats, txn = txn,
        op = Some(if (txn.isDefined) "STREAMING UPDATE" else "WRITE"),
        blooms = blooms, parts = parts, partCols = partCols,
        rows = rowCounts,
        props = extraProps, propsExpected = propsExpected)
      maybeAutoCompact(root, Some(grouped.map(_.tokens).toSet))
      true
    } catch {
      case _: CommitLog.TxnAlreadyCommittedException =>
        val now = CommitLog.latestVersion(root)
        val nowListed = CommitLog.files(root, now).toSet
        grouped.foreach { g =>
          val dest = new Path(rootP, g.batch)
          if (!nowListed.contains(g.batch) && f.exists(dest))
            f.delete(dest, true)
        }
        false
    }
  }

  /** SORTED-WRITE publish: one batch PER TASK FILE, all in ONE atomic
    * manifest commit. Under the write's ordered (range) distribution
    * each task holds a disjoint slice of the sort key, so per-batch
    * stats boxes — the log's pruning granularity — become per-file and
    * MUTUALLY DISJOINT: a point/range filter on the sort key plans
    * only the files that can hold it, with zero read-path changes
    * (batch-level box pruning already existed). The batch-count cost
    * is O(tasks) manifest entries — the same shape partitioned writes
    * already commit (one batch per tuple), bounded by checkpoints and
    * packable by OPTIMIZE. */
  def publishSorted(
      root: String, stageName: String, batchBase: String,
      messages: Array[WriterCommitMessage], schema: StructType,
      extraProps: Map[String, Option[String]] = Map.empty,
      propsExpected: Map[String, Option[String]] = Map.empty): Boolean = {
    val rootP = new Path(root)
    val f = fs(rootP)
    val stage = new Path(rootP, stageName)

    val msgs = messages.collect { case m: CommitLogCommitMessage => m }
    promoteTasks(f, stage, msgs)
    gateConstraints(f, stage, root, schema,
      stagedStats = msgs.filter(_.rows > 0).map(_.stats))

    val named = promoteSortedBatches(f, rootP, stage, batchBase, msgs)
    if (f.exists(stage)) f.delete(stage, true)

    val latest = CommitLog.latestVersion(root)
    // an all-empty write still consumes a version (dense sequence)
    CommitLog.commit(root, latest, added = named.map(_._1),
      schema = Some(CommitLog.bareDdl(schema)),
      stats = sortedStats(named), op = Some("WRITE"),
      blooms = sortedBlooms(named), rows = sortedRows(named),
      props = extraProps, propsExpected = propsExpected)
    true
  }

  /** The publish gate for row-content contracts, shared by every
    * append publish leg: declared CHECK constraints plus the DDL's
    * NOT NULL columns ([[checksInForce]]). CHECKs cost one filtered
    * scan of the staged parts each (epoch-sized); a NOT NULL check is
    * usually discharged for FREE from facts the tasks already
    * computed — the per-file null counts (`stagedStats`, every live
    * file recording nulls=0) or, for a partition column, the staged
    * partition tuples (`stagedTuples`, no null token) — and scans
    * only when neither carries the column. A violation drops the
    * stage and throws — no version consumed, nothing published. */
  private[sources] def gateConstraints(
      f: FileSystem, stage: Path, root: String, schema: StructType,
      stagedStats: Seq[Seq[(String, CommitLog.ColStat)]] = Nil,
      stagedTuples: Seq[Seq[(String, Option[String])]] = Nil): Unit = {
    val v = CommitLog.latestVersion(root)
    val declared = CommitLog.constraintsOf(root, v)
    val notNull = notNullChecks(root, v, schema)
    def statsProve(col: String): Boolean =
      stagedStats.nonEmpty && stagedStats.forall(
        _.collectFirst { case (c, st) if c == col => st.nulls }
          .flatten.contains(0L))
    def tuplesProve(col: String): Boolean =
      stagedTuples.nonEmpty && stagedTuples.forall(
        _.collectFirst { case (c, tok) if c == col => tok.isDefined }
          .contains(true))
    val pending = declared ++ notNull.filterNot { case (name, _) =>
      val col = name.stripPrefix("NOT NULL (").stripSuffix(")")
      statsProve(col) || tuplesProve(col)
    }
    if (pending.nonEmpty && f.exists(stage)) {
      val parts = stagedParts(f, stage)
      if (parts.nonEmpty) {
        val staged = SparkSession.active.read.schema(schema).parquet(parts: _*)
        enforceChecks(staged, pending.toSeq, () => f.delete(stage, true))
      }
    }
  }

  /** Level-2 promotion for a SORTED publish: each non-empty task file
    * becomes its own final-named batch dir (`<base>-s<k>`, in task
    * order = range order under the ordered distribution). Returns the
    * (batch, message) pairs; the caller commits them atomically.
    * Shared by the append and overwrite sorted legs. */
  private[sources] def promoteSortedBatches(
      f: FileSystem, rootP: Path, stage: Path, batchBase: String,
      msgs: Seq[CommitLogCommitMessage])
      : Seq[(String, CommitLogCommitMessage)] = {
    val live = msgs.filter(_.rows > 0).sortBy(_.visibleName)
    val listed =
      CommitLog.files(rootP.toString, CommitLog.latestVersion(rootP.toString))
        .toSet
    val named = live.zipWithIndex.map { case (m, i) =>
      (f"$batchBase-s$i%04d", m)
    }
    named.foreach { case (batch, m) =>
      val dest = new Path(rootP, batch)
      if (f.exists(dest)) {
        // a fresh writeId makes rival publishes of THIS name impossible
        // — an existing dir is a crashed earlier attempt unless listed
        require(!listed.contains(batch),
          s"sorted write target $batch already live — writeId reuse?")
        f.delete(dest, true)
      }
      f.mkdirs(dest)
      val from = new Path(stage, m.visibleName)
      if (f.exists(from)) f.rename(from, new Path(dest, m.visibleName))
    }
    named
  }

  private[sources] def sortedStats(
      named: Seq[(String, CommitLogCommitMessage)]): CommitLog.Stats =
    named.map { case (b, m) => b -> boxesOf(m.stats) }
      .filter(_._2.nonEmpty).toMap

  private[sources] def sortedBlooms(
      named: Seq[(String, CommitLogCommitMessage)]): CommitLog.Blooms =
    named.map { case (b, m) => b -> bloomHexOf(m.blooms, m.rows) }
      .filter(_._2.nonEmpty).toMap

  private[sources] def sortedRows(
      named: Seq[(String, CommitLogCommitMessage)]): CommitLog.Rows =
    named.map { case (b, m) => b -> m.rows }.toMap

  private def fs(path: Path): FileSystem = {
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(graft.Engine.hadoopConf())
    FileSystem.get(path.toUri, conf)
  }

  /** Driver-side publish: rename committed temps to visible parts,
    * sweep losing attempts, promote the stage dir to `batchName`, and
    * commit — one manifest carrying the batch, its stats boxes, the
    * writer's schema DDL and (streaming) the txn watermark. Returns
    * false when the unit of work was already committed (replayed
    * epoch): staged files are dropped, nothing publishes. */
  def publish(
      root: String, stageName: String, batchName: String,
      messages: Array[WriterCommitMessage], schema: StructType,
      txn: Option[(String, Long)],
      extraProps: Map[String, Option[String]] = Map.empty,
      propsExpected: Map[String, Option[String]] = Map.empty): Boolean = {
    val rootP = new Path(root)
    val f = fs(rootP)
    val stage = new Path(rootP, stageName)
    val dest = new Path(rootP, batchName)

    def dropStage(): Unit = if (f.exists(stage)) f.delete(stage, true)

    // fast idempotence path: the epoch's watermark is already in the
    // log (crash AFTER publish, replay re-runs the tasks) — the
    // authoritative re-check rides inside commit()'s rebase loop
    txn.foreach { case (app, epoch) =>
      val v = CommitLog.latestVersion(root)
      if (CommitLog.txnsOf(root, v).get(app).exists(_ >= epoch)) {
        dropStage()
        return false
      }
    }

    // level 1: task publish (see [[promoteTasks]])
    val msgs = messages.collect { case m: CommitLogCommitMessage => m }
    promoteTasks(f, stage, msgs)

    // CHECK constraints in force gate the epoch BEFORE anything
    // publishes — no version consumed, no watermark advanced, so the
    // pipeline stops instead of poisoning the table
    gateConstraints(f, stage, root, schema,
      stagedStats = msgs.filter(_.rows > 0).map(_.stats))

    // an ALL-EMPTY epoch (every partition wrote zero rows) never
    // created the stage dir — the batch still commits, as an empty
    // dir: the version sequence stays dense and, for streaming, the
    // txn watermark must still advance or a restart would replay the
    // epoch forever
    if (!f.exists(stage)) f.mkdirs(stage)

    // level 2: batch publish — a final-named dir with no manifest entry
    // is a crashed earlier attempt of THIS unit of work; replace it so
    // the published batch is exactly this attempt's file set. The
    // listed-check reads a FRESH snapshot immediately before the
    // delete: a rival replay that published between our fast-path
    // check and here must not have its live batch dir deleted. (The
    // residual window — a rival publishing between THIS read and the
    // delete — requires two drivers replaying the same epoch in the
    // same instant; both attempts stage the same micro-batch rows, so
    // the replacement is content-equivalent, and the txn re-check in
    // commit() still prevents any double-publish.)
    if (f.exists(dest)) {
      val latestNow = CommitLog.latestVersion(root)
      if (CommitLog.files(root, latestNow).contains(batchName)) {
        dropStage()
        return false
      }
      f.delete(dest, true)
    }
    require(f.rename(stage, dest),
      s"failed to promote $stage to $dest")
    val latest = CommitLog.latestVersion(root)

    val stats = mergedStats(msgs, batchName)
    val blooms = mergedBlooms(msgs, batchName)
    try {
      CommitLog.commit(root, latest, added = Seq(batchName),
        schema = Some(CommitLog.bareDdl(schema)), stats = stats, txn = txn,
        op = Some(if (txn.isDefined) "STREAMING UPDATE" else "WRITE"),
        blooms = blooms,
        rows = Map(batchName -> msgs.map(_.rows).sum),
        props = extraProps, propsExpected = propsExpected)
      maybeAutoCompact(root, None)
      true
    } catch {
      case _: CommitLog.TxnAlreadyCommittedException =>
        // a rival replay published while we were renaming; our dir is
        // the final name only if the rival hasn't listed it — leave a
        // listed batch alone, drop an unlisted one
        val now = CommitLog.latestVersion(root)
        if (!CommitLog.files(root, now).contains(batchName) && f.exists(dest))
          f.delete(dest, true)
        false
    }
  }
}

/** (min, max) per numeric column, bloom bitsets per designated string
  * column, + the two-level names of one task's output file. */
case class CommitLogCommitMessage(
    tmpName: String, visibleName: String, rows: Long,
    stats: Seq[(String, CommitLog.ColStat)],
    blooms: Seq[(String, Array[Long])] = Nil) extends WriterCommitMessage

/** One file of a PARTITIONED task's output: the per-file facts of
  * [[CommitLogCommitMessage]] plus the partition tuple its rows hold
  * (col -> value in partition-column order; None = null). */
case class CommitLogFileMsg(
    tmpName: String, visibleName: String, rows: Long,
    stats: Seq[(String, CommitLog.ColStat)],
    blooms: Seq[(String, Array[Long])],
    tuple: Seq[(String, Option[String])])

/** A partitioned task commits one message carrying ALL its files —
  * one per distinct partition tuple the task saw. */
case class CommitLogPartitionedCommitMessage(
    files: Seq[CommitLogFileMsg]) extends WriterCommitMessage

/** Task-side writer for a PARTITIONED table: routes each row to a
  * per-tuple [[CommitLogDataWriter]] (file names embed the tuple's
  * URL-safe token). The write requests clustering + ordering on the
  * partition columns ([[RequiresDistributionAndOrdering]] on the
  * Write), so a task normally sees whole partitions and holds ONE open
  * file at a time; the keyed map is correctness insurance when Spark
  * relaxes the distribution, at the cost of one open writer per
  * distinct tuple in the task. Partition values are captured in the
  * file's own unit system (timestamps micros, dates epoch days,
  * decimals unscaled) — the same units [[CommitLogPartitions]]
  * compares in at plan time. */
class CommitLogPartitionedDataWriter(
    stageDir: String, schema: StructType, partCols: Seq[String],
    tmpNameOf: String => String, visibleNameOf: String => String,
    bloomCols: Seq[String] = Nil,
    bloomBits: Int = CommitLogBloom.AutoBits)
    extends DataWriter[InternalRow] {

  // per spec entry: identity reads the column's value form verbatim;
  // `bucketN(col)` hashes the source value to its bucket id (null
  // keys route to the null token, exactly like identity)
  private val partEval: Array[InternalRow => Option[String]] =
    partCols.toArray.map { spec =>
      CommitLogMonotone.parse(spec) match {
        case Some(s) =>
          val i = schema.fieldIndex(s.source)
          val dt = schema(i).dataType
          val tok: InternalRow => String = s match {
            case t: CommitLogMonotone.Time => dt match {
              case TimestampType =>
                r => CommitLogMonotone.timeValue(t, dt, r.getLong(i)).toString
              case DateType =>
                r => CommitLogMonotone.timeValue(t, dt, r.getInt(i).toLong).toString
              case other => throw new IllegalArgumentException(
                s"unsupported ${t.unit} source type $other for '$spec'")
            }
            case CommitLogMonotone.Trunc(w, _) => dt match {
              case LongType =>
                r => CommitLogMonotone.truncLong(w, r.getLong(i)).toString
              case IntegerType =>
                r => CommitLogMonotone.truncLong(w, r.getInt(i).toLong).toString
              case ShortType =>
                r => CommitLogMonotone.truncLong(w, r.getShort(i).toLong).toString
              case ByteType =>
                r => CommitLogMonotone.truncLong(w, r.getByte(i).toLong).toString
              case StringType =>
                r => new String(CommitLogMonotone.truncChars(
                  w, r.getUTF8String(i).getBytes), "UTF-8")
              case other => throw new IllegalArgumentException(
                s"unsupported truncate source type $other for '$spec'")
            }
          }
          (r: InternalRow) => if (r.isNullAt(i)) None else Some(tok(r))
        case None => partEvalBucket(spec)
      }
    }

  private def partEvalBucket(spec: String): InternalRow => Option[String] =
      CommitLogBucket.parse(spec) match {
        case Some((n, src)) =>
          val i = schema.fieldIndex(src)
          val id: InternalRow => Int = schema(i).dataType match {
            case LongType | TimestampType =>
              r => CommitLogBucket.idOfLong(r.getLong(i), n)
            case IntegerType | DateType =>
              r => CommitLogBucket.idOfLong(r.getInt(i).toLong, n)
            case ShortType =>
              r => CommitLogBucket.idOfLong(r.getShort(i).toLong, n)
            case ByteType =>
              r => CommitLogBucket.idOfLong(r.getByte(i).toLong, n)
            case StringType =>
              r => CommitLogBucket.idOfBytes(r.getUTF8String(i).getBytes, n)
            case other => throw new IllegalArgumentException(
              s"unsupported bucket source type $other for '$spec'")
          }
          r => if (r.isNullAt(i)) None else Some(id(r).toString)
        case None =>
          val i = schema.fieldIndex(spec)
          r => valueOf(r, i)
      }

  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[String, (CommitLogDataWriter, Seq[(String, Option[String])])]

  private def valueOf(row: InternalRow, i: Int): Option[String] =
    if (row.isNullAt(i)) None
    else Some(schema(i).dataType match {
      case LongType | TimestampType => row.getLong(i).toString
      case IntegerType | DateType => row.getInt(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case BooleanType => row.getBoolean(i).toString
      case StringType => row.getUTF8String(i).toString
      case d: DecimalType if d.precision <= 18 =>
        row.getDecimal(i, d.precision, d.scale).toUnscaledLong.toString
      case d: DecimalType =>
        // wide decimals: unscaled big-endian two's-complement value as
        // a decimal string — same unit system, arbitrary precision
        row.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.unscaledValue.toString
      case other => throw new IllegalArgumentException(
        s"unsupported partition column type $other")
    })

  override def write(row: InternalRow): Unit = {
    val tuple = partCols.indices
      .map(j => partCols(j) -> partEval(j)(row))
    val token = tuple.map { case (_, v) => CommitLog.partToken(v) }
      .mkString("~")
    val (w, _) = writers.getOrElseUpdate(token,
      (new CommitLogDataWriter(stageDir, schema,
        tmpNameOf(token), visibleNameOf(token), bloomCols, bloomBits),
        tuple))
    w.write(row)
  }

  override def commit(): WriterCommitMessage =
    CommitLogPartitionedCommitMessage(writers.values.toSeq.map {
      case (w, tuple) =>
        val m = w.commit().asInstanceOf[CommitLogCommitMessage]
        CommitLogFileMsg(m.tmpName, m.visibleName, m.rows, m.stats,
          m.blooms, tuple)
    })

  override def abort(): Unit = writers.values.foreach(_._1.abort())
  override def close(): Unit = ()
}

/** Partitioned twin of [[CommitLogBatchWriterFactory]]. */
case class CommitLogPartitionedBatchWriterFactory(
    stageDir: String, schema: StructType, partCols: Seq[String],
    bloomCols: Seq[String] = Nil, bloomBits: Int = CommitLogBloom.AutoBits)
    extends DataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CommitLogPartitionedDataWriter(stageDir, schema, partCols,
      tok => f"_$tok-p$partitionId%05d-t$taskId.parquet.tmp",
      tok => f"part-$tok-p$partitionId%05d-t$taskId.parquet",
      bloomCols, bloomBits)
}

/** Partitioned twin of [[CommitLogStreamingWriterFactory]] — visible
  * names exclude the task id (within-attempt task replays map onto
  * the same name, first-publish wins). */
case class CommitLogPartitionedStreamingWriterFactory(
    root: String, schema: StructType, partCols: Seq[String], app: String,
    attempt: String,
    bloomCols: Seq[String] = Nil, bloomBits: Int = CommitLogBloom.AutoBits)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new CommitLogPartitionedDataWriter(
      s"$root/stage-txn-$app-$attempt-e${CommitLogWrite.pad(epochId)}",
      schema, partCols,
      tok => f"_$tok-p$partitionId%05d-t$taskId.parquet.tmp",
      tok => f"part-$tok-p$partitionId%05d.parquet",
      bloomCols, bloomBits)
}

/** How an overwriting write resolves its removal set. */
private[sources] sealed trait OverwriteSpec
/** Remove every live batch (TRUNCATE + add in one commit). */
private[sources] case object FullOverwrite extends OverwriteSpec
/** Delta's replaceWhere: remove the rows matching the predicate.
  * Carries BOTH forms — the SQL for scanning/containment and the v1
  * filters for exact metadata classification against partition
  * tuples. */
private[sources] final case class ReplaceWhere(
    sql: String, filters: Seq[org.apache.spark.sql.sources.Filter])
    extends OverwriteSpec
/** Replace exactly the partitions present in the incoming data —
  * metadata-only removals on a partitioned table. */
private[sources] case object DynamicOverwrite extends OverwriteSpec

class CommitLogWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  /** `option("bloomColumns", "c1,c2")` + `option("bloomBits", n)`:
    * build a per-batch membership filter for the named STRING columns
    * as rows stream through ([[CommitLogBloom]]) — point lookups then
    * prune from the manifest like range predicates do from boxes. */
  private def bloomCols: Seq[String] =
    Option(info.options.get("bloomColumns")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
  private def bloomBits: Int =
    Option(info.options.get("bloomBits")).map(_.toInt)
      .getOrElse(CommitLogBloom.AutoBits) // auto: size from row count

  private var overwriteMode: Option[OverwriteSpec] = None

  /** `INSERT OVERWRITE` / `mode("overwrite")`: replace the WHOLE table
    * — one atomic manifest removes every live batch and adds the new
    * data; a reader sees old rows or new rows, never neither. The
    * path-based API has no way to carry a predicate, so
    * `option("replaceWhere", "<sql>")` narrows a full overwrite to the
    * region it names (Delta's spelling of the same verb). */
  override def truncate(): WriteBuilder = {
    overwriteMode = Some(
      Option(info.options.get("replaceWhere")).map(_.trim).filter(_.nonEmpty)
        .map(sql => ReplaceWhere(sql, Nil)).getOrElse(FullOverwrite))
    this
  }

  override def canOverwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => CommitLogFilters.toSql(f).isDefined)

  /** `df.writeTo(t).overwrite(cond)` — Delta's replaceWhere: the rows
    * matching `filters` are deleted and the new data inserted in ONE
    * commit (the idempotent-backfill verb). Untranslatable predicates
    * are refused by [[canOverwrite]] and Spark reports them cleanly. */
  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    val sqls = filters.toSeq.map(f => CommitLogFilters.toSql(f).getOrElse(
      throw new UnsupportedOperationException(
        s"overwrite predicate $f is not translatable")))
    overwriteMode =
      if (sqls.isEmpty || sqls.forall(_ == "true")) Some(FullOverwrite)
      else Some(ReplaceWhere(sqls.mkString(" AND "), filters.toSeq))
    this
  }

  /** `df.writeTo(t).overwritePartitions()` / `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`: replace
    * exactly the partitions the incoming data holds — the classic
    * idempotent backfill, with the removal set decided entirely from
    * manifest partition tuples (zero data reads). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    overwriteMode = Some(DynamicOverwrite)
    this
  }

  override def build(): Write = {
    val schema = info.schema()
    bloomCols.foreach { c =>
      require(schema.fieldNames.contains(c) &&
          CommitLogBloom.bloomable(schema(c).dataType),
        s"bloomColumns entry '$c' must name a STRING or integral " +
          "column of the write")
    }
    // partition columns in force: every write to a partitioned table
    // routes rows into one batch per tuple, so batches stay
    // partition-pure and the manifest tuple stays exact
    val partCols = CommitLog.partColsOf(root, CommitLog.latestVersion(root))
    partCols.foreach { c =>
      require(schema.fieldNames.contains(CommitLogBucket.sourceOf(c)),
        s"table at $root is partitioned by '$c' — the write schema " +
          s"must include '${CommitLogBucket.sourceOf(c)}' " +
          s"(got ${schema.fieldNames.mkString(",")})")
    }
    overwriteMode.foreach {
      case DynamicOverwrite => require(partCols.nonEmpty,
        s"dynamic partition overwrite needs a partitioned table — " +
          s"$root is unpartitioned (use plain overwrite)")
      case _ => ()
    }
    // declared WRITE SORT ORDER — `option("sortOrder", "c1,c2")`, or
    // the table property `graft.write.sortOrder` so every writer of
    // the table inherits it (the Iceberg write-order idea): rows land
    // range-clustered on the sort key, so each file's (min, max)
    // stats box covers a DISJOINT slice and a point/range filter
    // prunes to the few files that can hold it — data is born
    // z-ordered-by-one-key without a post-hoc OPTIMIZE pass
    val tblProps = CommitLog.tblPropsOf(root, CommitLog.latestVersion(root))
    // an empty option must fall through to the table property (the
    // replaceWhere discipline), not mask it
    def optOrProp(opt: String, prop: String): Option[String] =
      Option(info.options.get(opt)).map(_.trim).filter(_.nonEmpty)
        .orElse(tblProps.get(prop).map(_.trim).filter(_.nonEmpty))
    val sortCols: Seq[String] =
      optOrProp("sortOrder", CommitLogWrite.SortOrderProp)
        .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    sortCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"sortOrder column '$c' is not in the write schema " +
          s"(got ${schema.fieldNames.mkString(",")})")
      // the range shuffle runs BEFORE the sink computes generated
      // columns, so it would cluster on the incoming placeholders
      require(!tblProps.contains(s"${CommitLogWrite.GeneratedPropPrefix}$c"),
        s"sortOrder column '$c' is GENERATED — sort on its source " +
          "columns instead (generation is computed at the sink, after " +
          "the write's range shuffle)")
      // same shape for identity: values are assigned at the sink,
      // after the range shuffle clustered on the incoming placeholders
      require(!tblProps.contains(s"${CommitLogWrite.IdentityPropPrefix}$c"),
        s"sortOrder column '$c' is an IDENTITY column — its values " +
          "are assigned at the sink, after the write's range shuffle")
    }
    // optional file-count pin for the range write: without it Spark
    // (AQE) sizes the shuffle, which is right at scale but coalesces
    // small writes to one file; 0 = let Spark decide
    val sortBuckets: Int =
      optOrProp("sortBuckets", CommitLogWrite.SortBucketsProp).map { s =>
        require(s.forall(_.isDigit),
          s"sortBuckets must be a non-negative integer, got '$s'")
        s.toInt
      }.getOrElse(0)
    require(sortBuckets == 0 || sortCols.nonEmpty,
      "sortBuckets needs a sortOrder to bucket by")
    // the pin forces a STRICT distribution (exact partition count) —
    // only meaningful where the sorted split applies; a partitioned
    // table must keep its non-strict clustering (AQE splits skew)
    require(sortBuckets == 0 || partCols.isEmpty,
      "sortBuckets applies to unpartitioned sorted writes — a " +
        "partitioned table's file layout follows its partition tuples")
    // ROW TRACKING: on via table property, or via write option on the
    // FIRST data (empty-table) write — the option then records the
    // property in the same commit. A non-empty untracked table refuses
    // (old files lack the column; there is no backfill). The PROPERTY
    // DOMINATES the option: a tracked table's writes always carry the
    // column — option("rowTracking","false") must not smuggle id-less
    // files into a table whose readers serve the id from every file.
    val rowTracking: Boolean =
      CommitLogWrite.rowTrackingOn(tblProps) ||
        optOrProp("rowTracking", CommitLogWrite.RowTrackingProp)
          .exists(_.toBoolean)
    val recordRowTracking: Boolean =
      rowTracking && !CommitLogWrite.rowTrackingOn(tblProps)
    if (recordRowTracking)
      require(
        CommitLog.files(root, CommitLog.latestVersion(root)).isEmpty,
        s"rowTracking can only be ENABLED while $root holds no data " +
          "(existing files lack the hidden row-id column) — create the " +
          "table with TBLPROPERTIES('graft.rowTracking'='true'), or " +
          "truncate first")
    val writeSchema =
      if (rowTracking) CommitLogWrite.withRowId(schema) else schema
    val mode = overwriteMode
    new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder}

      private def asc(cols: Seq[String]): Array[SortOrder] =
        cols.map(c =>
          Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
          .toArray

      /** Cluster + sort incoming rows by the partition columns so each
        * task sees whole partitions and writes one file per tuple —
        * without it every task would hold one open file per distinct
        * tuple it happens to see. NOT strictly required: Spark then
        * plans a REBALANCE, and AQE splits a skewed partition across
        * several tasks (several files, one batch — the tuple grouping
        * merges them), so one huge partition cannot serialize a 100 TB
        * backfill onto one task. An unpartitioned write with a
        * declared sort order requests a RANGE distribution instead —
        * files end up mutually disjoint on the sort key, not merely
        * internally sorted. Plain unpartitioned writes request nothing
        * (no shuffle imposed). */
      override def requiredDistribution(): Distribution =
        // a bucket entry clusters on its SOURCE column — same-key rows
        // co-locate, which also co-locates their bucket; the per-task
        // writer fans out to at most N open bucket files
        if (partCols.nonEmpty) Distributions.clustered(
          partCols.map(c => Expressions.identity(
            CommitLogBucket.sourceOf(c)): Expression).toArray)
        else if (sortCols.nonEmpty) Distributions.ordered(asc(sortCols))
        else Distributions.unspecified()
      // non-strict by default (Spark plans a REBALANCE and AQE
      // right-sizes it — correct at scale, where shuffle sizing should
      // follow data volume); an explicit sortBuckets pin needs the
      // strict form, since only RepartitionByExpression honors an
      // exact partition count
      override def distributionStrictlyRequired(): Boolean = sortBuckets > 0
      override def requiredNumPartitions(): Int = sortBuckets
      override def requiredOrdering(): Array[SortOrder] = {
        val partSrcs = partCols.map(CommitLogBucket.sourceOf)
        asc(partSrcs ++ sortCols.filterNot(partSrcs.contains))
      }

      // a sorted unpartitioned write publishes one batch per task
      // file (range-disjoint boxes) — append AND overwrite legs;
      // partitioned tables already get per-tuple batches, streaming
      // keeps its deterministic single-batch replay contract
      private val sortedSplit = sortCols.nonEmpty && partCols.isEmpty
      // GENERATED ALWAYS AS: computed sink-side per row (bound once
      // here on the driver), so routing/boxes see the real values
      private val generators =
        CommitLogWrite.boundGenerators(writeSchema, tblProps)
      // IDENTITY columns: null arrivals are assigned from the
      // watermark in force; the data commit advances it atomically
      // and aborts on a rival advance (see [[IdentityBatchWrite]]).
      // Row tracking rides the same machinery as one synthesized
      // BY-DEFAULT spec over the hidden trailing column.
      private val identities =
        CommitLogWrite.identitySpecs(writeSchema, tblProps) ++
          (if (rowTracking)
            Seq(CommitLogWrite.rowIdSpec(writeSchema, tblProps))
          else Nil)
      private val identityBlock = {
        val b = tblProps.get(CommitLogWrite.IdentityBlockProp).map(_.toLong)
          .getOrElse(CommitLogWrite.DefaultIdentityBlock)
        // 0 would divide-by-zero per task mid-write; a negative block
        // allocates BELOW the watermark and can duplicate identity
        // values issued by earlier commits
        require(b > 0,
          s"${CommitLogWrite.IdentityBlockProp} must be positive, got $b")
        b
      }
      override def toBatch: BatchWrite = {
        val core: BatchWrite with SupportsCommitProps = mode match {
          case Some(spec) =>
            new CommitLogOverwriteWrite(root, writeSchema, spec,
              bloomCols, bloomBits, partCols, sortedSplit)
          case None =>
            new CommitLogBatchWrite(root, writeSchema, bloomCols, bloomBits,
              partCols, sortedSplit)
        }
        // an option-enabled first write records the property in the
        // SAME commit that publishes the rows (IdentityBatchWrite
        // merges its watermark entries in, never overwrites)
        if (recordRowTracking)
          core.commitProps =
            Map(CommitLogWrite.RowTrackingProp -> Some("true"))
        // identity OUTERMOST: generation expressions may reference the
        // identity column, so its ordinal must be filled first
        val gen: BatchWrite =
          if (generators.isEmpty) core
          else new GeneratingBatchWrite(core, writeSchema, generators)
        if (identities.isEmpty) gen
        else new IdentityBatchWrite(gen, core, writeSchema, identities,
          identityBlock)
      }
      override def toStreaming: StreamingWrite = mode match {
        case Some(_) =>
          throw new UnsupportedOperationException(
            "commitlog streaming writes are append-only (one batch per " +
              "epoch) — overwrite is a batch verb")
        case None =>
          // sortOrder is honored (each epoch's files land sorted);
          // the file-count pin is a batch dial — the epoch batch is
          // deterministic by the replay contract
          require(sortBuckets == 0,
            "sortBuckets is a batch write dial — the streaming sink " +
              "publishes one batch per epoch (unset " +
              s"${CommitLogWrite.SortBucketsProp} or the option)")
          // IDENTITY / ROW TRACKING: micro-batch execution asks for a
          // fresh writer factory per epoch, which is the per-epoch
          // driver hook [[IdentityStreamingWrite]] uses to re-read the
          // committed watermark — ids allocate per epoch and the
          // advance rides the epoch's own manifest (see its scaladoc)
          val base = new CommitLogStreamingWrite(
            root, writeSchema, CommitLogWrite.appOf(info.queryId()),
            bloomCols, bloomBits, partCols)
          if (recordRowTracking)
            base.commitProps =
              Map(CommitLogWrite.RowTrackingProp -> Some("true"))
          val gen: StreamingWrite =
            if (generators.isEmpty) base
            else new GeneratingStreamingWrite(base, writeSchema, generators)
          if (identities.isEmpty) gen
          else new IdentityStreamingWrite(gen, base, root, writeSchema,
            identities, identityBlock)
      }
    }
  }
}

/** GENERATED ALWAYS AS, computed at the sink: wraps a write's task
  * writers so each row's generated ordinals are overwritten with their
  * expression's value BEFORE stats boxes, partition routing and the
  * parquet encode see the row — so generated partition tuples route
  * exactly and generated columns are born box-prunable. Incoming
  * values for generated ordinals are IGNORED (the ALWAYS contract:
  * the definition, not the writer, owns the column). Applied only
  * when the table declares generators — zero cost otherwise. */
class GeneratingDataWriter(
    base: DataWriter[InternalRow], schema: StructType,
    gens: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DataWriter[InternalRow] {
  private val types = schema.fields.map(_.dataType)
  private val genArr = gens.toArray
  override def write(row: InternalRow): Unit = {
    val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      types.length)
    // narrower rows pad as null (hidden trailing columns; see
    // IdentityDataWriter — identity wraps outermost so this leg only
    // pads when a tracked table has generators but no identity fill)
    val n = math.min(types.length, row.numFields)
    var i = 0
    while (i < n) {
      out(i) = if (row.isNullAt(i)) null else row.get(i, types(i))
      i += 1
    }
    var g = 0
    while (g < genArr.length) {
      val (gi, e) = genArr(g)
      out(gi) = e.eval(row)
      g += 1
    }
    base.write(out)
  }
  override def commit(): WriterCommitMessage = base.commit()
  override def abort(): Unit = base.abort()
  override def close(): Unit = base.close()
}

case class GeneratingWriterFactory(
    base: DataWriterFactory, schema: StructType,
    gens: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GeneratingDataWriter(
      base.createWriter(partitionId, taskId), schema, gens)
}

case class GeneratingStreamingWriterFactory(
    base: StreamingDataWriterFactory, schema: StructType,
    gens: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GeneratingDataWriter(
      base.createWriter(partitionId, taskId, epochId), schema, gens)
}

class GeneratingBatchWrite(
    base: BatchWrite, schema: StructType,
    gens: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GeneratingWriterFactory(base.createBatchWriterFactory(info), schema, gens)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    base.commit(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    base.abort(messages)
  override def useCommitCoordinator(): Boolean = base.useCommitCoordinator()
}

class GeneratingStreamingWrite(
    base: StreamingWrite, schema: StructType,
    gens: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GeneratingStreamingWriterFactory(
      base.createStreamingWriterFactory(info), schema, gens)
  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    base.commit(epochId, messages)
  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    base.abort(epochId, messages)
  override def useCommitCoordinator(): Boolean = base.useCommitCoordinator()
}

/** A batch write whose manifest commit can carry extra table-property
  * entries, atomically, with preconditions (see
  * [[CommitLog.commit]]'s propsExpected) — the seam the identity
  * wrapper publishes its watermark through. */
trait SupportsCommitProps {
  /** Written by the SAME manifest commit that publishes the rows. */
  var commitProps: Map[String, Option[String]] = Map.empty
  /** Values that must still be in force at commit time, else abort. */
  var commitPropsExpected: Map[String, Option[String]] = Map.empty
}

/** IDENTITY columns, assigned at the sink: each task fills the NULL
  * arrivals of every identity ordinal from its own coordination-free
  * k-block ladder (see [[CommitLogWrite.IdentityPropPrefix]]), refuses
  * non-null arrivals on ALWAYS columns (the writer does not own the
  * column), keeps + tracks non-null arrivals on BY DEFAULT columns,
  * and reports its extremes so the driver can advance the watermark
  * in the data commit itself. */
class IdentityDataWriter(
    base: DataWriter[InternalRow], schema: StructType,
    specs: Array[CommitLogWrite.IdentitySpec],
    partitionId: Int, numPartitions: Int, block: Long)
    extends DataWriter[InternalRow] {
  private val types = schema.fields.map(_.dataType)
  private var j = 0L // rows written by this task
  private var maxK = -1L // highest local step index consumed
  // extreme PROVIDED value per spec, in the spec's step direction
  private val provided = Array.fill[Option[Long]](specs.length)(None)

  override def write(row: InternalRow): Unit = {
    // one step index per row, shared by every identity column: block
    // b of task p covers indexes (p + b*numPartitions)*block ..+block
    val k = Math.addExact(
      Math.multiplyExact(
        Math.addExact(partitionId.toLong,
          Math.multiplyExact(j / block, numPartitions.toLong)),
        block),
      j % block)
    j += 1
    if (k > maxK) maxK = k
    val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      types.length)
    // incoming rows may be NARROWER than the write schema (the hidden
    // row-tracking column is appended sink-side, never provided by the
    // writer) — missing trailing fields pad as null and the spec fills
    val n = math.min(types.length, row.numFields)
    var i = 0
    while (i < n) {
      out(i) = if (row.isNullAt(i)) null else row.get(i, types(i))
      i += 1
    }
    var si = 0
    while (si < specs.length) {
      val s = specs(si)
      if (s.ordinal >= row.numFields || row.isNullAt(s.ordinal)) {
        val v = Math.addExact(s.start,
          Math.multiplyExact(s.step, Math.addExact(s.baseK, k)))
        out(s.ordinal) =
          if (!s.intWidth) Long.box(v)
          else {
            if (v < Int.MinValue || v > Int.MaxValue)
              throw new ArithmeticException(
                s"identity column '${s.col}' (INT) overflowed at $v — " +
                  "declare it BIGINT")
            Int.box(v.toInt)
          }
      } else {
        if (!s.allowExplicit)
          throw new IllegalArgumentException(
            s"column '${s.col}' is GENERATED ALWAYS AS IDENTITY — the " +
              "writer cannot provide values (omit the column, insert " +
              "NULL, or declare it GENERATED BY DEFAULT AS IDENTITY)")
        val v = if (s.intWidth) row.getInt(s.ordinal).toLong
          else row.getLong(s.ordinal)
        if (provided(si).forall(p => s.beyond(v, p))) provided(si) = Some(v)
      }
      si += 1
    }
    base.write(out)
  }

  override def commit(): WriterCommitMessage =
    IdentityCommitMessage(base.commit(), maxK, provided.toSeq)
  override def abort(): Unit = base.abort()
  override def close(): Unit = base.close()
}

/** The base writer's message + this task's identity extremes. */
case class IdentityCommitMessage(
    base: WriterCommitMessage, maxK: Long,
    provided: Seq[Option[Long]]) extends WriterCommitMessage

case class IdentityWriterFactory(
    base: DataWriterFactory, schema: StructType,
    specs: Array[CommitLogWrite.IdentitySpec],
    numPartitions: Int, block: Long)
    extends DataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IdentityDataWriter(base.createWriter(partitionId, taskId),
      schema, specs, partitionId, numPartitions, block)
}

/** Wraps the append/overwrite batch write of a table with identity
  * columns: tasks assign values (see [[IdentityDataWriter]]), and the
  * driver advances each column's watermark IN the data commit, with
  * the planned-against watermark as a precondition — a rival identity
  * write racing this one aborts exactly one of the two (the staged
  * values of the loser were derived from a stale watermark and may
  * collide). */
class IdentityBatchWrite(
    base: BatchWrite, propsSink: SupportsCommitProps, schema: StructType,
    specs: Seq[CommitLogWrite.IdentitySpec], block: Long)
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    IdentityWriterFactory(base.createBatchWriterFactory(info), schema,
      specs.toArray, info.numPartitions(), block)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val idMsgs = messages.collect { case m: IdentityCommitMessage => m }
    val baseMsgs: Array[WriterCommitMessage] = messages.map {
      case m: IdentityCommitMessage => m.base
      case m => m
    }
    val (props, expected) =
      CommitLogWrite.identityWatermarkProps(specs, idMsgs)
    // MERGE over anything the builder staged (e.g. the rowTracking
    // enablement property on a first write) — never overwrite
    propsSink.commitProps = propsSink.commitProps ++ props
    propsSink.commitPropsExpected =
      propsSink.commitPropsExpected ++ expected
    base.commit(baseMsgs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    base.abort(messages.map {
      case m: IdentityCommitMessage => m.base
      case m => m
    })
  override def useCommitCoordinator(): Boolean = base.useCommitCoordinator()
}

case class IdentityStreamingWriterFactory(
    base: StreamingDataWriterFactory, schema: StructType,
    specs: Array[CommitLogWrite.IdentitySpec],
    numPartitions: Int, block: Long)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new IdentityDataWriter(base.createWriter(partitionId, taskId, epochId),
      schema, specs, partitionId, numPartitions, block)
}

/** IDENTITY / ROW-TRACKING for the STREAMING sink. The per-epoch
  * driver hook is `createStreamingWriterFactory`: micro-batch
  * execution constructs a fresh `MicroBatchWrite` per epoch and asks
  * for a factory each time, so the identity watermark read here is
  * fresh for exactly the epoch about to run. Tasks then allocate from
  * the same coordination-free k-block ladder the batch path uses, and
  * `commit(epoch)` publishes the watermark advance IN the epoch's data
  * manifest with the planned-against watermark as a PRECONDITION —
  * the same serializable-commit discipline as [[IdentityBatchWrite]]:
  *  - a rival advance (concurrent batch append, second query) aborts
  *    this epoch; the restart replans against the new watermark;
  *  - a REPLAYED epoch after a crash is dropped whole by the txn
  *    watermark ([[CommitLog.TxnAlreadyCommittedException]] inside the
  *    publish loop), so it can never mint a second id range — data and
  *    id watermark ride one manifest, there is no torn state.
  * Continuous mode would reuse one factory across epochs (no fresh
  * watermark hook), so only micro-batch execution is supported — the
  * engine's streaming surface is micro-batch throughout. */
class IdentityStreamingWrite(
    base: StreamingWrite, propsSink: SupportsCommitProps,
    root: String, schema: StructType, buildSpecs: Seq[CommitLogWrite.IdentitySpec],
    block: Long)
    extends StreamingWrite {

  // the specs the CURRENT epoch's tasks were planned against —
  // commit(epoch) preconditions on exactly these (epochs run serially
  // within a micro-batch query, so one slot is sufficient)
  @volatile private var epochSpecs: Seq[CommitLogWrite.IdentitySpec] =
    buildSpecs

  /** Re-resolve every identity spec (user columns + the hidden row-id)
    * against the CURRENT committed watermark — fresh per epoch. On a
    * first-ever write the log holds no props yet: the build-time specs
    * (empty watermarks) stand. */
  private def freshSpecs(): Seq[CommitLogWrite.IdentitySpec] = {
    val v = CommitLog.latestVersion(root)
    if (v <= 0) return buildSpecs
    val props = CommitLog.tblPropsOf(root, v)
    buildSpecs.map { s =>
      s.copy(hwm =
        props.get(CommitLogWrite.IdentityHwmPrefix + s.col).map(_.toLong)
          .orElse(s.hwm))
    }
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val specs = freshSpecs()
    epochSpecs = specs
    IdentityStreamingWriterFactory(
      base.createStreamingWriterFactory(info), schema, specs.toArray,
      info.numPartitions(), block)
  }

  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val idMsgs = messages.collect { case m: IdentityCommitMessage => m }
    val baseMsgs: Array[WriterCommitMessage] = messages.map {
      case m: IdentityCommitMessage => m.base
      case m => m
    }
    val (props, expected) =
      CommitLogWrite.identityWatermarkProps(epochSpecs, idMsgs)
    // the props sink lives for the whole QUERY — strip the previous
    // epoch's identity entries before staging this epoch's (an empty
    // epoch must not re-publish, let alone re-precondition, stale ones)
    val idKeys = buildSpecs
      .map(s => CommitLogWrite.IdentityHwmPrefix + s.col).toSet
    propsSink.commitProps =
      propsSink.commitProps.filterNot(kv => idKeys(kv._1)) ++ props
    propsSink.commitPropsExpected =
      propsSink.commitPropsExpected.filterNot(kv => idKeys(kv._1)) ++ expected
    base.commit(epochId, baseMsgs)
  }

  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    base.abort(epochId, messages.map {
      case m: IdentityCommitMessage => m.base
      case m => m
    })
}

/** One-shot append: `df.write.format("commitlog").mode("append")`.
  * The batch name is a fresh time-ordered write id, so concurrent
  * one-shot appends never collide and the optimistic commit loop
  * linearizes them. */
class CommitLogBatchWrite(
    root: String, schema: StructType,
    bloomCols: Seq[String] = Nil, bloomBits: Int = CommitLogBloom.AutoBits,
    partCols: Seq[String] = Nil, sortedSplit: Boolean = false)
    extends BatchWrite with SupportsCommitProps {
  private val writeId = EnvelopeBatchWrite.nextWriteId()
  private val stageName = s"stage-$writeId"
  private val batchName = s"w$writeId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    if (partCols.isEmpty)
      CommitLogBatchWriterFactory(s"$root/$stageName", schema, bloomCols, bloomBits)
    else
      CommitLogPartitionedBatchWriterFactory(
        s"$root/$stageName", schema, partCols, bloomCols, bloomBits)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (sortedSplit)
      CommitLogWrite.publishSorted(root, stageName, batchName, messages,
        schema, extraProps = commitProps,
        propsExpected = commitPropsExpected)
    else if (partCols.isEmpty)
      CommitLogWrite.publish(root, stageName, batchName, messages, schema,
        txn = None, extraProps = commitProps,
        propsExpected = commitPropsExpected)
    else
      CommitLogWrite.publishPartitioned(
        root, stageName, batchName, messages, schema, txn = None,
        partCols = partCols, extraProps = commitProps,
        propsExpected = commitPropsExpected)

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(s"$root/$stageName")
    val f = FileSystem.get(p.toUri,
      SparkSession.active.sessionState.newHadoopConf())
    if (f.exists(p)) f.delete(p, true)
  }
}

/** OVERWRITE as ONE atomic commit — the verbs behind SQL
  * `INSERT OVERWRITE`, `df.write.mode("overwrite")`,
  * `df.writeTo(t).overwrite(cond)` (Delta's replaceWhere) and
  * `df.writeTo(t).overwritePartitions()` (dynamic partition
  * overwrite):
  *
  *  - '''Full overwrite''' ([[FullOverwrite]]): the manifest removes
  *    every live batch (deletion vectors included — the table restarts
  *    clean) and adds the staged data. The removal list is RE-RESOLVED
  *    per commit attempt, exactly like `TRUNCATE`: a rival's append
  *    landing mid-race must fall inside the overwrite, not survive
  *    beside it.
  *  - '''Dynamic partition overwrite''' ([[DynamicOverwrite]]):
  *    replace exactly the partitions present in the incoming data.
  *    The removal set is decided ENTIRELY from manifest partition
  *    tuples — zero data reads — and re-resolved per attempt like the
  *    full overwrite. Refused when a live batch carries no tuple (an
  *    engine rewrite's output): its rows cannot be proven in or out
  *    of the replaced partitions.
  *  - '''replaceWhere''' ([[ReplaceWhere]]): rows matching the
  *    predicate are deleted and the new data inserted, all in one
  *    manifest. Batches are first classified against their manifest
  *    partition tuples — provably-all-matching batches drop as pure
  *    metadata, provably-disjoint batches are untouched — and only
  *    the undecidable remainder is scanned and copy-on-write-rewritten
  *    (for a predicate over partition columns of a partitioned table,
  *    that remainder is EMPTY: the verb is metadata-only, the Hive
  *    static-partition INSERT OVERWRITE shape). Content-dependent, so
  *    it publishes SERIALIZABLE at exactly readVersion+1 and aborts on
  *    any rival ([[CommitLogDml]]'s discipline).
  *
  * Incoming rows must LIE INSIDE the replaced region (every staged row
  * satisfies the predicate) — the Delta replaceWhere contract; without
  * it a backfill of `date = X` could smuggle other dates into the
  * table. CHECK constraints in force validate the staged data
  * pre-publish. On a partitioned table the staged data lands as one
  * batch per tuple with its tuple in the manifest, so an overwritten
  * table prunes and partition-overwrites exactly like an appended one.
  * Readers see the old region or the new region, never neither — that
  * atomicity is what makes these verbs idempotent backfills at 100 TB:
  * re-running a failed partition reload converges instead of
  * double-appending. */
class CommitLogOverwriteWrite(
    root: String, schema: StructType, spec: OverwriteSpec,
    bloomCols: Seq[String] = Nil, bloomBits: Int = CommitLogBloom.AutoBits,
    partCols: Seq[String] = Nil, sortedSplit: Boolean = false)
    extends BatchWrite with SupportsCommitProps {
  import org.apache.spark.sql.functions._

  /** Per-attempt check of [[SupportsCommitProps.commitPropsExpected]]
    * for the tryCommit-loop legs below (CommitLog.commit runs the same
    * check internally for the single-call legs). */
  private def checkExpectedProps(v: Int): Unit =
    if (commitPropsExpected.nonEmpty) {
      val cur = CommitLog.tblPropsOf(root, v)
      commitPropsExpected.foreach { case (k, expected) =>
        if (cur.get(k) != expected)
          throw new java.util.ConcurrentModificationException(
            s"conflict at v$v: property '$k' is ${cur.get(k)}, this " +
              s"write planned against $expected (a rival advanced it " +
              "first) — re-run the statement")
      }
    }

  private val writeId = EnvelopeBatchWrite.nextWriteId()
  private val stageName = s"stage-$writeId"
  private val batchBase = s"o$writeId"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    if (partCols.isEmpty)
      CommitLogBatchWriterFactory(s"$root/$stageName", schema, bloomCols, bloomBits)
    else
      CommitLogPartitionedBatchWriterFactory(
        s"$root/$stageName", schema, partCols, bloomCols, bloomBits)

  /** The staged new data after level-2 promotion: batch dirs on disk
    * (invisible until a manifest lists them) + their manifest facets. */
  private case class StagedAdd(
      batches: Seq[String], stats: CommitLog.Stats,
      blooms: CommitLog.Blooms, parts: CommitLog.Parts,
      rows: CommitLog.Rows)

  private def dropBatches(f: FileSystem, batches: Seq[String]): Unit =
    batches.foreach { b =>
      val p = new Path(s"$root/$b")
      if (f.exists(p)) f.delete(p, true)
    }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val rootP = new Path(root)
    val f = FileSystem.get(rootP.toUri, spark.sessionState.newHadoopConf())
    val stage = new Path(rootP, stageName)
    def dropStage(): Unit = if (f.exists(stage)) f.delete(stage, true)

    val plainMsgs = messages.collect { case m: CommitLogCommitMessage => m }
    val fileMsgs = messages.collect {
      case m: CommitLogPartitionedCommitMessage => m.files
    }.flatten.toSeq
    if (partCols.isEmpty) CommitLogWrite.promoteTasks(f, stage, plainMsgs)
    else CommitLogWrite.promoteTaskFiles(
      f, stage, fileMsgs.map(m => (m.tmpName, m.visibleName)))

    // gate the staged rows BEFORE anything publishes: CHECKs in force,
    // and the replaceWhere containment contract
    val replaceSql = spec match {
      case ReplaceWhere(sql, _) => Some(sql)
      case _ => None
    }
    val stagedFiles = CommitLogWrite.stagedParts(f, stage)
    if (stagedFiles.nonEmpty) {
      val staged = spark.read.schema(schema).parquet(stagedFiles: _*)
      CommitLogWrite.enforceChecks(staged,
        CommitLogWrite.checksInForce(
          root, CommitLog.latestVersion(root), schema).toSeq,
        () => dropStage())
      replaceSql.foreach { c =>
        val escapees =
          staged.filter(not(coalesce(expr(c), lit(false)))).count()
        if (escapees > 0) {
          dropStage()
          throw new IllegalArgumentException(
            s"overwrite WHERE ($c): $escapees written row(s) fall outside " +
              "the replaced region — new data must satisfy the predicate " +
              "(the replaceWhere contract; widen the predicate or fix the " +
              "data)")
        }
      }
    }

    // level 2: promote the stage into final-named batch dir(s) —
    // invisible to every reader until the single manifest below
    val add: StagedAdd =
      if (partCols.isEmpty && sortedSplit && plainMsgs.exists(_.rows > 0)) {
        // sorted overwrite: the rebuilt table keeps the declared
        // range-disjoint layout — one batch per task file, exactly
        // like the sorted append leg (an all-empty overwrite falls
        // through to the single-empty-batch leg below)
        val named = CommitLogWrite.promoteSortedBatches(
          f, rootP, stage, batchBase, plainMsgs)
        dropStage()
        StagedAdd(named.map(_._1),
          CommitLogWrite.sortedStats(named),
          CommitLogWrite.sortedBlooms(named), Map.empty,
          CommitLogWrite.sortedRows(named))
      } else if (partCols.isEmpty) {
        // an empty overwrite still replaces (truncate-to-empty):
        // publish the batch as an empty dir
        if (!f.exists(stage)) f.mkdirs(stage)
        require(f.rename(stage, new Path(rootP, batchBase)),
          s"failed to promote $stage to $batchBase")
        StagedAdd(Seq(batchBase),
          CommitLogWrite.mergedStats(plainMsgs, batchBase),
          CommitLogWrite.mergedBlooms(plainMsgs, batchBase), Map.empty,
          Map(batchBase -> plainMsgs.map(_.rows).sum))
      } else {
        val grouped = CommitLogWrite.groupByTuple(fileMsgs, batchBase)
        grouped.foreach { g =>
          val dest = new Path(rootP, g.batch)
          if (f.exists(dest)) f.delete(dest, true) // crashed prior attempt
          f.mkdirs(dest)
          g.files.foreach { m =>
            val from = new Path(stage, m.visibleName)
            if (f.exists(from)) f.rename(from, new Path(dest, m.visibleName))
          }
        }
        dropStage()
        StagedAdd(grouped.map(_.batch),
          grouped.map(g => g.batch -> CommitLogWrite.boxesOf(
            g.files.flatMap(_.stats))).filter(_._2.nonEmpty).toMap,
          grouped.map(g => g.batch -> CommitLogWrite.bloomHexOf(
            g.files.flatMap(_.blooms), g.files.map(_.rows).sum))
            .filter(_._2.nonEmpty).toMap,
          grouped.map(g => g.batch -> g.tokens).toMap,
          grouped.map(g => g.batch -> g.files.map(_.rows).sum).toMap)
      }

    spec match {
      case FullOverwrite => commitFull(f, add)
      case DynamicOverwrite => commitDynamic(spark, f, add)
      case ReplaceWhere(sql, filters) =>
        commitReplaceWhere(spark, f, add, sql, filters)
    }
  }

  /** Full overwrite: truncate + add in one manifest, removal list
    * re-resolved per attempt so a mid-race rival append is overwritten,
    * never merged. */
  private def commitFull(f: FileSystem, add: StagedAdd): Unit = {
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val v = CommitLog.latestVersion(root)
      CommitLogWrite.requireAppendableSchema(root, v, schema)
      checkExpectedProps(v)
      val live = CommitLog.files(root, v)
      if (CommitLog.tryCommit(root, v + 1, added = add.batches,
          removed = live,
          schema = Some(CommitLogWrite.recordedDdl(root, v, schema)),
          stats = add.stats,
          blooms = add.blooms, parts = add.parts, partCols = partCols,
          rows = add.rows, op = Some("OVERWRITE"), props = commitProps)) {
        if ((v + 1) % CommitLog.checkpointInterval == 0)
          CommitLog.writeCheckpoint(root, v + 1)
        return
      }
    }
    dropBatches(f, add.batches)
    throw new IllegalStateException(
      s"OVERWRITE on $root gave up after 50 attempts (livelock?)")
  }

  /** Dynamic partition overwrite: drop exactly the live batches whose
    * manifest tuple matches a staged tuple — pure metadata, re-resolved
    * per attempt. */
  private def commitDynamic(
      spark: SparkSession, f: FileSystem, add: StagedAdd): Unit = {
    val stagedTuples: Set[Map[String, String]] = add.parts.values.toSet
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val v = CommitLog.latestVersion(root)
      CommitLogWrite.requireAppendableSchema(root, v, schema)
      checkExpectedProps(v)
      val (dvs, datas) = CommitLog.files(root, v)
        .partition(_.startsWith(CommitLogMerge.DvPrefix))
      val liveParts = CommitLog.partsOf(root, v)
      val untupled = datas.filterNot(b =>
          liveParts.get(b).exists(m => partCols.forall(m.contains)))
        // a zero-file batch holds no rows — provably outside every
        // partition, so it cannot block the metadata-only removal
        .filter(b => CommitLogSource.listParquet(root, b).nonEmpty)
      if (untupled.nonEmpty) {
        dropBatches(f, add.batches)
        throw new IllegalStateException(
          s"dynamic partition overwrite on $root needs every live batch " +
            s"to carry a full current-spec partition tuple; missing for " +
            s"${untupled.mkString(",")} (engine rewrites drop tuples; " +
            "pre-evolution batches may predate a widened spec) — use " +
            "plain overwrite, or optimizeRepartition to re-land the " +
            "table under the current spec")
      }
      // match on the tuple PROJECTED onto the current partition
      // columns: a pre-evolution batch may carry extra tokens from a
      // wider old spec (narrowing evolution), and its projection IS
      // its current-spec partition — tokens are per-batch constants
      val replaced = datas.filter(b => liveParts.get(b).exists(m =>
        partCols.forall(m.contains) &&
          stagedTuples.contains(partCols.map(c => c -> m(c)).toMap)))
      val replacedDirs = replaced
        .map(b => CommitLogMerge.normDir(CommitLog.batchPath(root, b))).toSet
      val coveredDvs =
        CommitLogMerge.coveredDvBatches(spark, root, dvs, replacedDirs)
      if (CommitLog.tryCommit(root, v + 1, added = add.batches,
          removed = replaced ++ coveredDvs,
          schema = Some(CommitLogWrite.recordedDdl(root, v, schema)),
          stats = add.stats, blooms = add.blooms, parts = add.parts,
          partCols = partCols, rows = add.rows,
          op = Some("OVERWRITE PARTITIONS"), props = commitProps)) {
        if ((v + 1) % CommitLog.checkpointInterval == 0)
          CommitLog.writeCheckpoint(root, v + 1)
        return
      }
    }
    dropBatches(f, add.batches)
    throw new IllegalStateException(
      s"OVERWRITE PARTITIONS on $root gave up after 50 attempts (livelock?)")
  }

  /** replaceWhere: delete-by-predicate + insert, one serializable
    * manifest at readVersion+1 (rivals abort — the touched set was
    * computed against rows a rival may have changed). Batches are
    * classified from their manifest partition tuples first; only the
    * undecidable remainder is scanned. */
  private def commitReplaceWhere(
      spark: SparkSession, f: FileSystem, add: StagedAdd, c: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Unit = {
    val readV = CommitLog.latestVersion(root)
    CommitLogWrite.requireAppendableSchema(root, readV, schema)
    checkExpectedProps(readV)
    val (dvs, datas) = CommitLog.files(root, readV)
      .partition(_.startsWith(CommitLogMerge.DvPrefix))
    val hit = coalesce(expr(c), lit(false))

    // exact metadata classification against recorded partition tuples:
    // eval answers are uniform across a batch's rows (one tuple), so
    // all-true = every row matches (drop whole batch, zero reads) and
    // any-false = no row matches (untouched, zero reads)
    val liveParts = CommitLog.partsOf(root, readV)
    val (provablyIn, rest) =
      if (filters.isEmpty) (Nil, datas)
      else {
        val classified = datas.map { b =>
          b -> liveParts.get(b).map { tokens =>
            val tuple = CommitLogPartitions.decodeTuple(tokens)
            filters.map(fl => CommitLogPartitions.eval(fl, tuple, schema))
          }
        }
        val in = classified.collect {
          case (b, Some(evals)) if evals.forall(_.contains(true)) => b
        }
        val out = classified.collect {
          case (b, Some(evals)) if evals.exists(_.contains(false)) => b
        }.toSet
        (in, datas.filterNot(in.contains).filterNot(out))
      }

    var added = add.batches
    var removedData = provablyIn
    var rewrite: Option[String] = None
    // all-empty epoch batches hold no rows to replace and no files to
    // resolve `_metadata` against — leave them out of the scan
    val scannable =
      rest.filter(b => CommitLogSource.listParquet(root, b).nonEmpty)
    if (scannable.nonEmpty) {
      val schemaDdl = CommitLog.schemaOf(root, readV)
      val formers = CommitLog.formerNamesOf(root, readV)
      def visible(batches: Seq[String]) = {
        val base = CommitLogSource.readBatches(spark, root, batches,
            schemaDdl, formers, keepMeta = true)
          .withColumn("_file", col("_metadata.file_path"))
          .withColumn("_pos", col("_metadata.row_index"))
        if (dvs.isEmpty) base
        else CommitLogMerge.dvAntiJoin(base,
          spark.read.parquet(
            dvs.map(b => CommitLog.batchPath(root, b)): _*))
      }
      val byDir = CommitLogMerge.dirToName(root, scannable)
      val touched = visible(scannable).filter(hit)
        .select(regexp_extract(col("_file"), "^(.*)/[^/]+$", 1).as("b"))
        .distinct().collect()
        .map(r => byDir(CommitLogMerge.normDir(r.getString(0)))).toSeq.sorted
      if (touched.nonEmpty) {
        val survivors = visible(scannable.filter(touched.contains))
          .filter(!hit).drop("_file", "_pos", "_metadata")
        if (!survivors.isEmpty) {
          val tag = java.util.UUID.randomUUID().toString.take(8)
          val rw = s"ow${readV + 1}-$tag"
          survivors.write
            .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
            .parquet(s"$root/$rw")
          rewrite = Some(rw)
          added = added :+ rw
        }
        removedData = removedData ++ touched
      }
    }
    val removedDirs = removedData
      .map(b => CommitLogMerge.normDir(CommitLog.batchPath(root, b))).toSet
    val coveredDvs =
      CommitLogMerge.coveredDvBatches(spark, root, dvs, removedDirs)
    if (!CommitLog.tryCommit(root, readV + 1, added,
        removedData ++ coveredDvs,
        schema = Some(CommitLogWrite.recordedDdl(root, readV, schema)),
        stats = add.stats, blooms = add.blooms,
        parts = add.parts, partCols = partCols,
        // the survivor-rewrite batch (if any) carries no count: its
        // cardinality was never driver-known and counting it would be
        // an extra data pass — unknown degrades metadata answers, never
        // correctness
        rows = add.rows,
        op = Some("OVERWRITE WHERE"), props = commitProps)) {
      dropBatches(f, add.batches ++ rewrite.toSeq)
      throw new java.util.ConcurrentModificationException(
        s"OVERWRITE WHERE ($c) lost the race at v${readV + 1} of $root: " +
          "a rival committed first — re-run (replaceWhere never rebases: " +
          "the rival may have changed rows the touched-set scan read)")
    }
    if ((readV + 1) % CommitLog.checkpointInterval == 0)
      CommitLog.writeCheckpoint(root, readV + 1)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(s"$root/$stageName")
    val f = FileSystem.get(p.toUri,
      SparkSession.active.sessionState.newHadoopConf())
    if (f.exists(p)) f.delete(p, true)
  }
}

/** Per-epoch append with the txn watermark: one committed batch per
  * micro-batch, replayed epochs are no-ops. Visible part names exclude
  * the task id (a replayed task's output maps onto the same name —
  * first publish wins), the batch name is deterministic per (query,
  * epoch) — replays converge on the same unit of work instead of
  * inventing a second one. */
class CommitLogStreamingWrite(
    root: String, schema: StructType, app: String,
    bloomCols: Seq[String] = Nil, bloomBits: Int = CommitLogBloom.AutoBits,
    partCols: Seq[String] = Nil)
    extends StreamingWrite with SupportsCommitProps {

  /** ATTEMPT-unique staging: one random token per query RUN. A crashed
    * run's replay of the same epoch stages into a DIFFERENT dir, so a
    * dead attempt's already-renamed visible parts can never ride this
    * attempt's promote — the published batch is exactly one attempt's
    * file set even when the replay runs with different partitioning.
    * The dead attempt's stage dir is orphan data a later vacuum
    * sweeps (it is never promoted, never listed). */
  private val attempt = java.util.UUID.randomUUID().toString.take(8)

  private[graft] def stageName(epochId: Long) =
    s"stage-txn-$app-$attempt-e${CommitLogWrite.pad(epochId)}"
  private def batchName(epochId: Long) =
    s"txn-$app-e${CommitLogWrite.pad(epochId)}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    if (partCols.isEmpty)
      CommitLogStreamingWriterFactory(root, schema, app, attempt, bloomCols, bloomBits)
    else
      CommitLogPartitionedStreamingWriterFactory(
        root, schema, partCols, app, attempt, bloomCols, bloomBits)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    if (partCols.isEmpty)
      CommitLogWrite.publish(root, stageName(epochId), batchName(epochId),
        messages, schema, txn = Some((app, epochId)),
        extraProps = commitProps, propsExpected = commitPropsExpected)
    else
      CommitLogWrite.publishPartitioned(root, stageName(epochId),
        batchName(epochId), messages, schema, txn = Some((app, epochId)),
        partCols, extraProps = commitProps,
        propsExpected = commitPropsExpected)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(s"$root/${stageName(epochId)}")
    val f = FileSystem.get(p.toUri,
      SparkSession.active.sessionState.newHadoopConf())
    if (f.exists(p)) f.delete(p, true)
  }
}

/** Serializable task-side factory for the one-shot batch write: the
  * task id stays in the visible name (the batch commit publishes
  * exactly the committed attempts, one per partition). */
case class CommitLogBatchWriterFactory(
    stageDir: String, schema: StructType,
    bloomCols: Seq[String] = Nil, bloomBits: Int = CommitLogBloom.AutoBits)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CommitLogDataWriter(stageDir, schema,
      f"_p$partitionId%05d-t$taskId.parquet.tmp",
      f"part-p$partitionId%05d-t$taskId.parquet", bloomCols, bloomBits)
}

/** Streaming twin: the visible name EXCLUDES the task id so a replayed
  * TASK's output within one attempt maps onto the same name and
  * first-publish wins; cross-attempt isolation comes from the
  * attempt-unique stage dir. */
case class CommitLogStreamingWriterFactory(
    root: String, schema: StructType, app: String, attempt: String,
    bloomCols: Seq[String] = Nil, bloomBits: Int = CommitLogBloom.AutoBits)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new CommitLogDataWriter(
      s"$root/stage-txn-$app-$attempt-e${CommitLogWrite.pad(epochId)}", schema,
      f"_p$partitionId%05d-t$taskId.parquet.tmp",
      f"part-p$partitionId%05d.parquet", bloomCols, bloomBits)
}

/** Task-side parquet writer: rows stream STRAIGHT from their
  * InternalRow form into parquet through Spark's own
  * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
  * — the exact record-consumer inner loop every built-in parquet write
  * uses (zero per-row materialization; the old path built one
  * parquet-example `SimpleGroup` per row with a name→index lookup per
  * FIELD — at 100 TB that allocation-and-hash loop is the write-side
  * twin of the read path's Group-record scale-killer). Delegating the
  * layout to Spark also makes sink-written files byte-identical to
  * COW-rewritten ones BY CONSTRUCTION (same converter, same consumer),
  * not by careful mirroring. [[CommitLogWrite.parquetType]] stays as
  * the commit-time SHAPE GATE — the declared refusal (UDTs) still
  * refuses before any byte lands.
  *
  * Tracks numeric (min, max) per column as rows stream through so the
  * batch commits born-prunable. Rows land in a hidden `.tmp` inside the
  * stage dir — invisible to every reader until two renames and a
  * manifest publish later. */
class CommitLogDataWriter(
    stageDir: String, schema: StructType, tmpName: String, visibleName: String,
    bloomCols: Seq[String] = Nil,
    bloomBits: Int = CommitLogBloom.AutoBits)
    extends DataWriter[InternalRow] {

  // (column index, bitset, key extractor) per designated bloom column:
  // strings hash their UTF-8 bytes; integral columns hash the DECIMAL
  // STRING of the value — the same canonical form the probe side
  // derives from a pushed equality literal ([[CommitLogBloom]] key
  // grammar), so `WHERE order_id = 123` prunes a sparse BIGINT point
  // lookup that overlapping range boxes cannot
  private val bloomSets: Array[(Int, Array[Long], (InternalRow, Int) => String)] =
    bloomCols.toArray.map { c =>
      val i = schema.fieldIndex(c)
      val keyer: (InternalRow, Int) => String = schema(i).dataType match {
        case StringType => (r, ci) => r.getUTF8String(ci).toString
        case LongType => (r, ci) => r.getLong(ci).toString
        case IntegerType => (r, ci) => r.getInt(ci).toString
        case ShortType => (r, ci) => r.getShort(ci).toString
        case ByteType => (r, ci) => r.getByte(ci).toString
        case dt => throw new IllegalArgumentException(
          s"bloom column '$c' has unsupported type $dt")
      }
      (i, CommitLogBloom.emptyBits(CommitLogBloom.buildWidth(bloomBits)), keyer)
    }

  // the shape gate: throws the documented refusal for types the read
  // legs don't serve (the WRITTEN layout is Spark's own, below)
  CommitLogWrite.parquetType(schema)

  private val tmpPath = new Path(stageDir, tmpName)
  // opened on first row only: an empty partition must leave NO file —
  // its commit message names a temp that never existed and publish()
  // skips it, so empty tasks cost zero bytes in the batch
  private var writerOpt: Option[org.apache.parquet.hadoop.ParquetWriter[
    InternalRow]] = None
  private def writer = {
    if (writerOpt.isEmpty)
      writerOpt = Some(CommitLogWrite.internalRowWriter(tmpPath, schema))
    writerOpt.get
  }

  private var rows = 0L
  private val lo = Array.fill(schema.length)(Double.PositiveInfinity)
  private val hi = Array.fill(schema.length)(Double.NegativeInfinity)
  // exact per-column null counts (r15): every column, every type — the
  // facet metadata COUNT(col), IS [NOT] NULL pruning and null-tolerant
  // top-N bounds answer from. One branch per cell, counted in the same
  // pass the boxes ride.
  private val nullCount = Array.fill(schema.length)(0L)
  // string min/max per StringType column (r15): tracked as UTF8String
  // views (compareTo is unsigned byte-lex — the column's sort order),
  // cloned only on a new extreme; truncated to ColStat.StrCap at commit
  private val strIdx: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == StringType => i
  }
  private val strMin = new Array[org.apache.spark.unsafe.types.UTF8String](schema.length)
  private val strMax = new Array[org.apache.spark.unsafe.types.UTF8String](schema.length)

  // NDV sketch per column (SURVEY S76): one 64-register HLL, one
  // fmix64 per non-null cell — the distinctCount facet the CBO needs
  // (FilterEstimation refuses min/max-only columns). Types without a
  // canonical 64-bit form (composites, variant, binary blobs) get no
  // sketch; consumers degrade to no-distinctCount.
  private type NdvHasher = (InternalRow, Int) => Long
  private val ndvHashers: Array[NdvHasher] = schema.fields.map { f =>
    f.dataType match {
      case LongType | TimestampType | TimestampNTZType =>
        (r: InternalRow, i: Int) => CommitLogNdv.hashLong(r.getLong(i))
      case IntegerType | DateType =>
        (r: InternalRow, i: Int) => CommitLogNdv.hashLong(r.getInt(i).toLong)
      case ShortType =>
        (r: InternalRow, i: Int) => CommitLogNdv.hashLong(r.getShort(i).toLong)
      case ByteType =>
        (r: InternalRow, i: Int) => CommitLogNdv.hashLong(r.getByte(i).toLong)
      case BooleanType =>
        (r: InternalRow, i: Int) =>
          CommitLogNdv.hashLong(if (r.getBoolean(i)) 1L else 0L)
      case DoubleType =>
        (r: InternalRow, i: Int) => CommitLogNdv.hashDouble(r.getDouble(i))
      case FloatType =>
        (r: InternalRow, i: Int) =>
          CommitLogNdv.hashDouble(r.getFloat(i).toDouble)
      case StringType =>
        (r: InternalRow, i: Int) =>
          CommitLogNdv.hashUTF8(r.getUTF8String(i))
      case d: DecimalType =>
        // same canonical form the box uses: equal decimals share a
        // double, unequal ones colliding is estimator noise
        (r: InternalRow, i: Int) =>
          CommitLogNdv.hashDouble(r.getDecimal(i, d.precision, d.scale).toDouble)
      case _ => null
    }
  }
  private val ndvRegs: Array[Array[Byte]] = schema.fields.indices.map { i =>
    if (ndvHashers(i) == null) null else CommitLogNdv.empty()
  }.toArray

  // exact non-null sum per INTEGRAL column (SURVEY S79): the facet
  // metadata SUM/AVG answer from. Integral only — a long add is exact
  // or detectably overflows (facet drops, never lies); float/double
  // sums are order-dependent and decimal overflows silently at scale.
  // Date/timestamp are integral under the hood but SUM is not SQL over
  // them, so no facet.
  private type Summer = (InternalRow, Int) => Long
  private val summers: Array[Summer] = schema.fields.map { f =>
    f.dataType match {
      case LongType => (r: InternalRow, i: Int) => r.getLong(i)
      case IntegerType => (r: InternalRow, i: Int) => r.getInt(i).toLong
      case ShortType => (r: InternalRow, i: Int) => r.getShort(i).toLong
      case ByteType => (r: InternalRow, i: Int) => r.getByte(i).toLong
      case _ => null
    }
  }
  private val sums = new Array[Long](schema.length)
  private val sumOk = Array.fill(schema.length)(true)

  // stats plan per column, resolved once: which accessor feeds the
  // (min, max) box. Composites (binary/array/struct/map) have no
  // numeric box — the manifest declines them and pruning skips them.
  private type Boxer = (InternalRow, Int) => Unit
  private val boxers: Array[Boxer] = schema.fields.map { f =>
    f.dataType match {
      case LongType => (r: InternalRow, i: Int) => box(i, r.getLong(i).toDouble)
      case IntegerType => (r: InternalRow, i: Int) => box(i, r.getInt(i).toDouble)
      case DoubleType => (r: InternalRow, i: Int) => box(i, r.getDouble(i))
      case FloatType => (r: InternalRow, i: Int) => box(i, r.getFloat(i).toDouble)
      // InternalRow carries micros-since-epoch, the file's declared
      // unit — box as micros so time filters prune
      case TimestampType | TimestampNTZType =>
        (r: InternalRow, i: Int) => box(i, r.getLong(i).toDouble)
      case DateType => (r: InternalRow, i: Int) => box(i, r.getInt(i).toDouble)
      // double boxes are SAFE for any precision (38 included): both
      // the box and the pushed literal round to-nearest (monotone),
      // and pruning compares inclusively — a rounded box can only
      // open an extra batch, never skip one holding a match
      case d: DecimalType =>
        (r: InternalRow, i: Int) =>
          box(i, r.getDecimal(i, d.precision, d.scale).toDouble)
      case _ => null
    }
  }

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < boxers.length) {
      if (row.isNullAt(i)) nullCount(i) += 1L
      else {
        if (boxers(i) != null) boxers(i)(row, i)
        if (ndvRegs(i) != null)
          CommitLogNdv.add(ndvRegs(i), ndvHashers(i)(row, i))
        if (summers(i) != null && sumOk(i)) {
          try sums(i) = Math.addExact(sums(i), summers(i)(row, i))
          catch { case _: ArithmeticException => sumOk(i) = false }
        }
      }
      i += 1
    }
    var si = 0
    while (si < strIdx.length) {
      val ci = strIdx(si)
      if (!row.isNullAt(ci)) {
        val v = row.getUTF8String(ci)
        if (strMin(ci) == null || v.compareTo(strMin(ci)) < 0)
          strMin(ci) = v.clone()
        if (strMax(ci) == null || v.compareTo(strMax(ci)) > 0)
          strMax(ci) = v.clone()
      }
      si += 1
    }
    var bi = 0
    while (bi < bloomSets.length) {
      val (ci, bits, key) = bloomSets(bi)
      if (!row.isNullAt(ci))
        CommitLogBloom.add(bits, key(row, ci))
      bi += 1
    }
    writer.write(row)
    rows += 1
  }

  private def box(i: Int, v: Double): Unit = {
    // NaN never enters a box as a BOUND (the manifest grammar rejects
    // it) — but its PRESENCE must reach pruning: Spark's total order
    // puts NaN ABOVE every value including +Infinity, so a batch that
    // silently excluded NaN from a finite box could be pruned by
    // `c > x` / `ORDER BY c DESC LIMIT k` even though its NaN rows
    // satisfy both. A NaN therefore records hi = +Infinity, the
    // closest representable supremum; every read-side consumer treats
    // an infinite hi conservatively (range pruning keeps the batch
    // for any upward probe, top-N never prunes it, metadata MAX
    // declines). Contract: a FINITE hi proves the batch NaN-free in
    // that column. An all-NaN batch boxes as (+Inf, +Inf) — lo stays
    // at its init, which correctly prunes downward probes (`c < x` is
    // false for NaN).
    if (v.isNaN) hi(i) = Double.PositiveInfinity
    else {
      if (v < lo(i)) lo(i) = v
      if (v > hi(i)) hi(i) = v
    }
  }

  override def commit(): WriterCommitMessage = {
    writerOpt.foreach(_.close())
    // every valid-named column gets an entry: boxed numerics carry
    // (lo, hi, nulls); strings add truncated byte-lex bounds; other
    // unboxable columns (composites, all-null numerics) carry the
    // null count alone (lo > hi = the documented unboxed carrier
    // form). A string max whose truncated upper cannot increment
    // ships the half-defined POISON pair the merge drops.
    val stats = schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if !f.name.exists(",\"[]\\|".contains(_)) =>
        val (slo, shi) =
          if (strMin(i) == null) (None, None)
          else (Some(CommitLogWrite.truncLower(strMin(i).getBytes)),
            CommitLogWrite.truncUpper(strMax(i).getBytes))
        (f.name, CommitLog.ColStat(lo(i), hi(i), Some(nullCount(i)), slo, shi,
          Option(ndvRegs(i)),
          // sum of zero non-null values is 0 (contributes nothing to a
          // merge); SQL NULL-ness is the READER's call from null counts
          if (summers(i) != null && sumOk(i)) Some(sums(i)) else None))
    }
    val blooms = bloomSets.toSeq.map { case (ci, bits, _) =>
      schema(ci).name -> bits
    }
    CommitLogCommitMessage(tmpName, visibleName, rows, stats, blooms)
  }

  override def abort(): Unit = {
    try writerOpt.foreach(_.close()) catch { case _: Exception => () }
    val f = FileSystem.get(tmpPath.toUri, graft.Engine.hadoopConf())
    if (f.exists(tmpPath)) f.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}
