package graft.queries

import graft.functions.ZOrder
import graft.sources.KafkaIO
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.B S3–S6 — non-parquet sources/sinks, each proved by a
  * round trip: write from the fixture table, read back through the
  * format under test, aggregate, and hash-check the aggregate against
  * DuckDB reading the ORIGINAL parquet. A format bug anywhere in the
  * write→read loop breaks the hash.
  *
  * S3 (JDBC) runs against embedded Derby — a real JDBC driver on the
  * unmanaged classpath — standing in for the reference's dormant
  * Postgres leg (go.mod:6, sql/createUserFilter.sql). S2/S5 (Kafka) have
  * no broker in this container; the wire-format surface is checked here
  * (s5_kafka_envelope), the connector plumbing lives in
  * [[graft.sources.KafkaIO]].
  */
object Sources {

  private def ioDir(name: String): String = Qh.ioDir(name)

  val decls: Seq[Decl] = Seq(

    // S4: JSON-lines round trip (PERMISSIVE mode, explicit schema — the
    // reference's drop-on-error semantics are pinned in
    // ReferenceBehaviorSpec; here the happy path must be lossless).
    Decl(
      "s4_json_roundtrip",
      s"""SELECT event_type,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s4_json")
      Qh.t(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
        .write.mode(SaveMode.Overwrite).json(path)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .filter($"_corrupt_record".isNull)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .orderBy("event_type")
    },

    // S6: CSV round trip with header + explicit schema.
    Decl(
      "s6_csv_roundtrip",
      s"""SELECT c_mktsegment,
         |  count(*) AS n,
         |  ${Qh.oSum2("c_acctbal")} AS total_bal
         |FROM customer
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s6_csv")
      Qh.t(s, dir, "customer")
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      s.read.schema(schema).option("header", "true").csv(path)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"c_acctbal").as("total_bal"))
        .orderBy("c_mktsegment")
    },

    // S7: ORC round trip — the second columnar format (built-in Spark
    // source, predicate pushdown + vectorized read like parquet). The
    // oracle reads the ORIGINAL parquet, so any value corruption in the
    // ORC write→read loop breaks the hash.
    Decl(
      "s7_orc_roundtrip",
      s"""SELECT o_orderstatus,
         |  count(*) AS n,
         |  ${Qh.oSum2("o_totalprice")} AS total_price
         |FROM orders
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s7_orc")
      Qh.t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .write.mode(SaveMode.Overwrite).orc(path)
      s.read.orc(path)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total_price"))
        .orderBy("o_orderstatus")
    },

    // S3: JDBC round trip through embedded Derby — the user_filter
    // dimension (sql/createUserFilter.sql shape: user_id + partition)
    // written via df.write.jdbc, read back via spark.read.jdbc, then
    // driving the reference semi-join (R4).
    Decl(
      "s3_jdbc_roundtrip",
      """SELECT count(*) AS n_allowed,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'signup')""".stripMargin) { (s, dir) =>
      import s.implicits._
      val url = "jdbc:derby:memory:graftdb;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val ev = Qh.t(s, dir, "events")
      val userFilter = ev.filter($"event_type" === "signup")
        .select($"user_id", ($"user_id" % 4).cast(IntegerType).as("partition"))
        .distinct()
      // R11 (sql/createUserFilter.sql): explicit column DDL on create —
      // the reference's user_filter(user_id TEXT, partition INT) shape
      userFilter.write.mode(SaveMode.Overwrite)
        .option("createTableColumnTypes", "user_id BIGINT, partition INT")
        .jdbc(url, "user_filter", props)
      val dim = s.read.jdbc(url, "user_filter", props).select($"user_id")
      ev.join(broadcast(dim), Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("n_allowed"), countDistinct($"user_id").as("n_users"))
    },

    // S8: the custom DataSourceV2 source (graft.sources.EnvelopeSource)
    // reading the reference's Kafka WIRE FORMAT back as a table — the
    // "import" direction, full TableProvider → PartitionReader stack
    // with column pruning + in-reader filter evaluation. The loop:
    // events → KafkaIO.toEnvelope (R7+R8 bytes) → JSONL landing files →
    // custom source with a pushed event_type filter → agg, hash-checked
    // against DuckDB on the ORIGINAL parquet. A parse bug, a pushdown
    // bug, or an envelope-shape drift all break the hash.
    Decl(
      "s8_envelope_source",
      s"""SELECT user_id,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value
         |FROM events
         |WHERE event_type = 'purchase'
         |GROUP BY user_id
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s8_envelope")
      KafkaIO.toEnvelope(Qh.t(s, dir, "events"))
        .select($"value")
        .write.mode(SaveMode.Overwrite).text(path)
      s.read.format("graft.sources.EnvelopeSource")
        .option("path", path).load()
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .orderBy("user_id")
    },

    // S19: the custom DSv2 SINK — the write half S8's source was
    // missing, so the envelope format is now a full source+sink pair.
    // Events flow OUT through EnvelopeBatchWrite's filesystem
    // task-commit protocol (per-task hidden temp file → commit message
    // → driver rename; zombie/speculative attempts never become
    // visible — see EnvelopeSource.scala) and back IN through the S8
    // reader with its pushdown, then aggregate. The oracle aggregates
    // the ORIGINAL parquet: a row lost by a failed rename, duplicated
    // by a double-committed attempt, or corrupted in the JSON
    // round trip breaks the hash. The dir is wiped first (the sink is
    // append-only by design; the decl must be idempotent under the
    // bench's double-run).
    Decl(
      "s19_envelope_sink",
      s"""SELECT event_type,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s19_sink")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(path))
      Qh.t(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id", $"value",
          lit("database").as("source"))
        .write.format("graft.sources.EnvelopeSource")
        .mode(SaveMode.Append).option("path", path).save()
      s.read.format("graft.sources.EnvelopeSource")
        .option("path", path).load()
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          Qh.sumd2($"value").as("total_value"),
          countDistinct($"user_id").as("n_users"))
        .orderBy("event_type")
    },

    // S9: hive-style partitioned layout — the 100-TB table organization.
    // Write events partitioned by event_type, read back with a filter on
    // the partition column: the filter must resolve from DIRECTORY NAMES
    // (partition pruning — PlanSpec asserts the scan's partitionFilters
    // and that only 1 of the partitions is selected), so the engine never
    // opens a single non-matching file. The oracle reads the ORIGINAL
    // parquet, so value corruption in the partitioned write→read loop
    // (e.g. the partition column's string round trip) breaks the hash.
    Decl(
      "s9_partitioned_prune",
      s"""SELECT user_id,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value
         |FROM events
         |WHERE event_type = 'click'
         |GROUP BY user_id
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s9_part")
      Qh.t(s, dir, "events")
        .select($"event_id", $"user_id", $"value", $"event_type")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_type").parquet(path)
      s.read.parquet(path)
        .filter($"event_type" === "click")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .orderBy("user_id")
    },

    // S13: DYNAMIC partition pruning — the 100-TB scan-killer S9 doesn't
    // prove. S9's filter is a LITERAL on the partition column, resolved
    // at plan time; the production shape is a date-partitioned fact
    // joined to a filtered dimension, where the surviving dates are only
    // known at RUNTIME. Spark's DPP turns the broadcast dim into a
    // partition filter on the fact scan (dynamicpruningexpression in
    // PartitionFilters — PlanSpec pins it), so the fact side opens 4 of
    // the 30 date directories instead of all of them. At 100 TB with
    // daily partitions this is the difference between scanning ~13% and
    // 100% of the table. No date literal appears anywhere in the query:
    // the filter is on the dim's derived attribute and arrives at the
    // fact only through the join. The oracle recomputes from the
    // original events, so a dropped or double-scanned partition breaks
    // the hash.
    Decl(
      "s13_dpp_join",
      s"""SELECT event_type,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value
         |FROM events
         |WHERE day(CAST(ts AS TIMESTAMP)) % 7 = 0
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s13_dpp")
      val ev = Qh.t(s, dir, "events")
        .select($"event_id", $"user_id", $"value", $"event_type",
          to_date(Qh.tsUs($"ts")).as("event_date"))
      ev.write.mode(SaveMode.Overwrite)
        .partitionBy("event_date").parquet(s"$path/fact")
      // calendar dim: one row per date + a derived attribute; the decl
      // filters on the ATTRIBUTE, never on a date value (an equality
      // predicate — the "likely selective" shape DPP's planner rule
      // requires before it will graft a runtime filter onto the fact)
      ev.select($"event_date").distinct()
        .withColumn("day_kind",
          when(dayofmonth($"event_date") % 7 === 0, "audit").otherwise("regular"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/dim")
      val fact = s.read.parquet(s"$path/fact")
      val dim = s.read.parquet(s"$path/dim").filter($"day_kind" === "audit")
      fact.join(dim.select($"event_date"), Seq("event_date"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .orderBy("event_type")
    },

    // S14: Z-ORDER DATA LAYOUT — multi-dimensional clustering for file
    // skipping (Morton 1966; the technique behind Delta's OPTIMIZE
    // ZORDER BY and Iceberg's z-order sort). S9/S13 prune on ONE
    // partition column; production scans also carry range predicates on
    // non-partition columns, where the only pruning is parquet min/max
    // statistics — and a linear sort makes those statistics useless for
    // every column but the leading one. Writing the fact range-
    // partitioned + sorted by the Morton key of (user_id, time) packs
    // each file into a compact 2-D sub-rectangle, so the read-back's
    // conjunctive box predicate skips most files/row-groups on stats
    // alone. The key is pure builtin bit-arithmetic (codegen'd, see
    // graft.functions.ZOrder); ZOrderSpec property-tests bit-equality
    // vs a Scala model, pins that BOTH range predicates reach the scan
    // as PushedFilters, and pins the skipping itself: under a
    // user-only predicate the z-layout's candidate file set (by
    // per-file min/max) is a fraction of the time-sorted layout's,
    // which must open every file. The oracle recomputes the box
    // aggregate from the original events, so a row lost, duplicated,
    // or mis-keyed by the layout rewrite breaks the hash.
    Decl(
      "s14_zorder_layout",
      s"""SELECT event_type,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value
         |FROM events
         |WHERE user_id BETWEEN 3 AND 7
         |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s14_zorder")
      val ev = Qh.t(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value",
          Qh.tsUs($"ts").as("ts"))
        .withColumn("t", unix_timestamp($"ts"))
      // layout build: one cheap bounds pass (the analogue of the range
      // sampling every sorted write already does), broadcast to a
      // narrow map that grid-quantizes both dims and interleaves
      val bounds = ev.agg(
        min($"user_id").as("u_min"), max($"user_id").as("u_max"),
        min($"t").as("t_min"), max($"t").as("t_max"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("zkey", ZOrder.interleave(
          ZOrder.gridCell($"user_id", $"u_min", $"u_max", 16),
          ZOrder.gridCell($"t", $"t_min", $"t_max", 16)))
        .select($"event_id", $"user_id", $"event_type", $"value", $"ts", $"zkey")
        .repartitionByRange(16, $"zkey")
        .sortWithinPartitions($"zkey")
        .write.mode(SaveMode.Overwrite).parquet(path)
      s.read.parquet(path)
        .filter($"user_id".between(3, 7) &&
          $"ts" >= lit("2024-01-08 00:00:00").cast(TimestampType) &&
          $"ts" < lit("2024-01-16 00:00:00").cast(TimestampType))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .orderBy("event_type")
    },

    // S15: STATS-INDEX PRUNED SCAN — the metadata-driven file planning
    // that Delta's transaction-log stats and Iceberg's manifest file
    // ranges do at 100 TB: per-file (min,max) column statistics live in
    // a tiny index TABLE, the planner intersects the predicate box with
    // the index, and only the surviving files are ever opened — footer
    // reads included. Composes with S14: the z-order layout is what
    // makes the per-file ranges tight enough to exclude most files.
    // Here the index is built by one 2-column scan of the layout
    // (production systems persist the same stats at WRITE time; the
    // build is the amortized-once analogue). The candidate file list is
    // a driver-side collect of bounded METADATA (like the ANN probe
    // ids — ~N_files rows, never data). The oracle recomputes the box
    // aggregate from the original events, so a file wrongly excluded by
    // the index (or a stale/duplicated stats row) breaks the hash.
    Decl(
      "s15_stats_pruned_scan",
      s"""SELECT event_type,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value,
         |  min(event_id) AS first_event,
         |  max(event_id) AS last_event
         |FROM events
         |WHERE user_id BETWEEN 8 AND 11
         |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s15_zlayout")
      val ev = Qh.t(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value",
          Qh.tsUs($"ts").as("ts"))
        .withColumn("t", unix_timestamp($"ts"))
      val bounds = ev.agg(
        min($"user_id").as("u_min"), max($"user_id").as("u_max"),
        min($"t").as("t_min"), max($"t").as("t_max"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("zkey", ZOrder.interleave(
          ZOrder.gridCell($"user_id", $"u_min", $"u_max", 16),
          ZOrder.gridCell($"t", $"t_min", $"t_max", 16)))
        .select($"event_id", $"user_id", $"event_type", $"value", $"ts", $"zkey")
        .repartitionByRange(16, $"zkey")
        .sortWithinPartitions($"zkey")
        .write.mode(SaveMode.Overwrite).parquet(path)
      // the stats index: one tiny table, N_files rows
      val statsIndex = s.read.parquet(path)
        .groupBy(input_file_name().as("file"))
        .agg(min($"user_id").as("u_lo"), max($"user_id").as("u_hi"),
          min($"ts").as("ts_lo"), max($"ts").as("ts_hi"))
      val lo = lit("2024-01-10 00:00:00").cast(TimestampType)
      val hi = lit("2024-01-20 00:00:00").cast(TimestampType)
      // plan from the index: keep files whose range intersects the box
      val candidates = statsIndex
        .filter($"u_hi" >= 8 && $"u_lo" <= 11 && $"ts_hi" >= lo && $"ts_lo" < hi)
        .select($"file").as[String].collect().toSeq
      s.read.parquet(candidates: _*)
        .filter($"user_id".between(8, 11) && $"ts" >= lo && $"ts" < hi)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"),
          min($"event_id").as("first_event"), max($"event_id").as("last_event"))
        .orderBy("event_type")
    },

    // S16: BINARYFILE MULTIMODAL INGEST — the other half of the L6
    // story. l6_decode_real proves the codec over payloads already in a
    // table column; in production the media lands as FILES in an object
    // store, and ingestion is: enumerate files → read bytes → parse the
    // record key from the path → decode. That path is Spark's native
    // `binaryFile` source (distributed file enumeration + per-file
    // content rows, with pathGlobFilter pushdown). Here each document's
    // REAL PNG payload is written as an individual file, re-ingested
    // through binaryFile, the doc_id recovered from the filename, and
    // the bytes decoded with the real JDK codec in the same batched
    // mapPartitions stage the column path uses (shared
    // Multimodal.decodePngRows). The oracle recomputes the global pixel
    // statistics relationally, so a file dropped/duplicated by the
    // enumeration, a mis-parsed path, or a byte mangled in the
    // write→read loop breaks the hash.
    Decl(
      "s16_binaryfile_ingest",
      """WITH px AS (
        |  SELECT doc_id,
        |    CAST(8 + (doc_id % 5) * 4 AS INT) AS width,
        |    CAST(6 + (doc_id % 3) * 6 AS INT) AS height
        |  FROM documents),
        |gx AS (SELECT doc_id, width, height, unnest(range(width)) AS x FROM px),
        |gxy AS (SELECT doc_id, width, height, x, unnest(range(height)) AS y FROM gx)
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS total_pixels,
        |  CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((doc_id * 17 + x * 11 + y * 5) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((doc_id * 29 + x * 3 + y * 19) % 256) AS BIGINT) AS sum_b
        |FROM gxy""".stripMargin) { (s, dir) =>
      import s.implicits._
      val mediaDir = ioDir("s16_media")
      // land each payload as its own file (executor-side writes — the
      // local stand-in for an object-store landing zone)
      Multimodal.pngTable(s, dir).as[Multimodal.PngRow]
        .foreachPartition { (it: Iterator[Multimodal.PngRow]) =>
          val d = java.nio.file.Paths.get(mediaDir)
          java.nio.file.Files.createDirectories(d)
          it.foreach { r =>
            java.nio.file.Files.write(d.resolve(s"img_${r.doc_id}.png"), r.payload)
          }
        }
      val rows = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(mediaDir)
        .select(
          regexp_extract($"path", "img_(\\d+)\\.png$", 1).cast(LongType).as("doc_id"),
          $"content".as("payload"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.PngRow]
      Multimodal.decodePngRows(rows)
        .agg(
          count(lit(1)).as("n_files"),
          sum($"n_pixels".cast(LongType)).as("total_pixels"),
          sum($"sum_r").as("sum_r"),
          sum($"sum_g").as("sum_g"),
          sum($"sum_b").as("sum_b"))
    },

    // S11: SCHEMA EVOLUTION across ingestion batches — a 100-TB table is
    // never written by one schema version. Batch 1 lands without
    // `event_type` (the old producer), batch 2 adds it; a mergeSchema
    // read must union the schemas and null-fill the old batch. The
    // oracle recreates the same visibility rule from the original
    // parquet, so a mis-merged schema, dropped batch, or mis-aligned
    // null-fill breaks the hash.
    Decl(
      "s11_schema_evolution",
      s"""SELECT
         |  CASE WHEN event_id % 2 = 0 THEN '_absent' ELSE event_type END AS etype,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value
         |FROM events
         |GROUP BY 1
         |ORDER BY etype""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s11_evolve")
      val ev = Qh.t(s, dir, "events")
      ev.filter($"event_id" % 2 === 0)
        .select($"event_id", $"user_id", $"value")
        .write.mode(SaveMode.Overwrite).parquet(s"$path/batch=1")
      ev.filter($"event_id" % 2 =!= 0)
        .select($"event_id", $"user_id", $"value", $"event_type")
        .write.mode(SaveMode.Overwrite).parquet(s"$path/batch=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(coalesce($"event_type", lit("_absent")).as("etype"))
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .orderBy("etype")
    },

    // S12: SMALL-FILE COMPACTION (r5) — the OPTIMIZE-style table
    // maintenance every long-lived 100-TB dataset needs: streaming and
    // per-batch ingestion leave thousands of small files (here: a
    // 64-way write of a small table), and scan throughput collapses
    // under per-file open/footer costs. Compaction rewrites the landing
    // data into few right-sized files (coalesce — a NARROW rewrite, no
    // shuffle). The decl reads back the COMPACTED copy and aggregates;
    // the oracle aggregates the ORIGINAL table, so any row lost,
    // duplicated, or mangled by the rewrite breaks the hash.
    // CompactionSpec pins the file-count contract itself.
    Decl(
      "s12_compaction",
      s"""SELECT event_type, count(*) AS n, ${Qh.oSum2("value")} AS total_value
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s12_compact")
      Qh.t(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
        .repartition(64) // the small-file problem, simulated
        .write.mode(SaveMode.Overwrite).parquet(s"$path/landing")
      s.read.parquet(s"$path/landing")
        .coalesce(4) // narrow rewrite: no shuffle, 64 -> 4 files
        .write.mode(SaveMode.Overwrite).parquet(s"$path/compacted")
      s.read.parquet(s"$path/compacted")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .orderBy("event_type")
    },

    // S17: XML round trip — Spark 4's built-in XML source (the
    // spark-xml package folded into core), rowTag framing + explicit
    // schema on read (inference is a second scan AND a portability
    // hazard, same rule as S4/S6). Lossless happy path hash-checked
    // against the original parquet like every format decl.
    Decl(
      "s17_xml_roundtrip",
      s"""SELECT event_type,
         |  count(*) AS n,
         |  ${Qh.oSum2("value")} AS total_value
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s17_xml")
      Qh.t(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
        .write.mode(SaveMode.Overwrite).option("rowTag", "event").xml(path)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      s.read.schema(schema).option("rowTag", "event").xml(path)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .orderBy("event_type")
    },

    // S5: the Kafka wire format — key + envelope value bytes exactly as
    // they would land on the topic (R7+R8+R9 serialization surface).
    Decl(
      "s5_kafka_envelope",
      """SELECT CAST(user_id AS VARCHAR) AS key,
        |  to_json(struct_pack(
        |    data := struct_pack(event_id := event_id, event_type := event_type,
        |                        user_id := user_id, value := value),
        |    source := 'database'))::VARCHAR AS value
        |FROM events
        |WHERE event_id < 100
        |ORDER BY key, value""".stripMargin) { (s, dir) =>
      import s.implicits._
      KafkaIO.toEnvelope(Qh.t(s, dir, "events").filter($"event_id" < 100))
        .orderBy("key", "value")
    },

    // S18: DROP-ON-ERROR ingestion with ACTUALLY CORRUPT input — the
    // reference's load-bearing §1.4 semantics (a record that fails
    // decode is skipped with a log line and the job continues,
    // kafka-database-import.go:188-197). Every doc_id % 7 == 0 line is
    // written as garbage; the PERMISSIVE read must route exactly those
    // to the corrupt-record column with all data fields null, leaving
    // the good rows' values intact — counts AND a content checksum per
    // bucket are oracle-checked against the relational recomputation.
    // (s4 exercises the same reader config on clean input; this decl
    // proves the drop path itself.)
    Decl(
      "s18_corrupt_drop",
      """SELECT CASE WHEN doc_id % 7 = 0 THEN '_dropped' ELSE lang END AS lang_bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s18_corrupt")
      Qh.t(s, dir, "documents")
        .select(
          when($"doc_id" % 7 === 0,
            concat(lit("{malformed json "), $"doc_id".cast(StringType)))
            .otherwise(to_json(struct($"doc_id", $"lang", $"n_chars")))
            .as("value"))
        .write.mode(SaveMode.Overwrite).text(path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("n_chars", LongType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .select(
          when($"_corrupt_record".isNotNull, lit("_dropped"))
            .otherwise($"lang").as("lang_bucket"),
          when($"_corrupt_record".isNotNull, lit(0L))
            .otherwise($"n_chars").as("nc"))
        .groupBy($"lang_bucket")
        .agg(
          count(lit(1)).cast("bigint").as("n_docs"),
          sum($"nc").cast("bigint").as("sum_chars"))
        .orderBy("lang_bucket")
    },

    // S20: BSON DUMP ingest — the file form of the reference's ACTUAL
    // fact source: its Mongo cursor decodes BSON documents (`bson.M`,
    // kafka-database-import.go:192) that a mongodump exports verbatim
    // as length-prefixed concatenated documents. The fixture is written
    // distributed (one .bson shard per partition, executor-side), then
    // a corrupt shard exercises §1.4: a framed-but-undecodable document
    // DROPS and the reader RESYNCS to the valid doc after it (the
    // event_id = -1 sentinel must surface), and a truncated tail drops
    // the remainder of that file only. Full row compare incl. ObjectId
    // hex and BSON UTC-datetime millis against the relational oracle.
    Decl(
      "s20_bson_dump",
      """SELECT printf('%024x', event_id) AS _id, event_id, event_type,
        |  user_id, value, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
        |FROM events
        |UNION ALL
        |SELECT '00000000000000000000dead', -1, 'resync', 42, 1.5, 0
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s20_bson")
      val rows = Qh.t(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id", $"value",
          unix_millis(Qh.tsUs($"ts")).as("ts_ms"))
      MongoFixtures.writeBsonDump(rows, path)
      MongoFixtures.writeCorruptShard(path)
      s.read.format("graft.sources.MongoDumpSource")
        .option("path", path).load()
        .orderBy("event_id")
    },

    // S21: Mongo EXTENDED JSON ingest — the text form of the same
    // documents (mongoexport): $oid / $numberLong / $numberDouble /
    // $date type wrappers normalized in the reader. Every
    // event_id % 7 == 0 line is written as garbage and must drop
    // (§1.4), pinned by the oracle's WHERE.
    Decl(
      "s21_mongo_extjson",
      """SELECT printf('%024x', event_id) AS _id, event_id, event_type,
        |  user_id, value, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
        |FROM events
        |WHERE event_id % 7 <> 0
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = ioDir("s21_extjson")
      Qh.t(s, dir, "events")
        .select(
          when($"event_id" % 7 === 0,
            concat(lit("{corrupt extended json "), $"event_id".cast(StringType)))
            .otherwise(format_string(
              """{"_id":{"$oid":"%024x"},"event_id":{"$numberLong":"%d"},""" +
                """"event_type":"%s","user_id":{"$numberLong":"%d"},""" +
                """"value":{"$numberDouble":"%s"},"ts":{"$date":{"$numberLong":"%d"}}}""",
              $"event_id", $"event_id", $"event_type", $"user_id",
              $"value".cast(StringType), unix_millis(Qh.tsUs($"ts"))))
            .as("value"))
        .write.mode(SaveMode.Overwrite).text(path)
      s.read.format("graft.sources.MongoDumpSource")
        .option("path", path).option("format", "extjson").load()
        .orderBy("event_id")
    },

    // S22: SNAPSHOT ISOLATION + TIME TRAVEL over a commit-log table
    // layout — the lakehouse mechanism (Delta/Iceberg) behind the
    // C-family's CDC/SCD queries: every commit writes IMMUTABLE data
    // files plus a versioned DELTA manifest (_log/v<N>.json — the
    // commit's add/remove sets; snapshots replay from the nearest
    // checkpoint, so commit metadata is O(delta) not O(table)); a
    // reader plans its scan from one version's replayed file set and
    // is isolated from every later commit by construction. Three commits here: v1 = initial load, v2 =
    // append (new files only — v1's are untouched), v3 = copy-on-write
    // DELETE (affected files rewritten into new ones, manifest swaps
    // the list — the old files stay on disk, which is what makes v1/v2
    // still readable). The decl reads ALL THREE versions after the
    // last commit — a manifest leaking later files, a COW delete
    // mutating v2's data, or a dropped append row each breaks a
    // different version's aggregate against the oracle's relational
    // reconstruction. Commits go through [[graft.sources.CommitLog]] —
    // the optimistic-concurrency protocol (atomic create-if-absent
    // manifests, rebase-or-abort on conflict) ConcurrentCommitSpec
    // races two writers over; here the three commits are sequential so
    // each must land first-attempt at versions 1/2/3. At 100 TB the
    // manifest lists per-partition files and composes with S9/S15
    // pruning; planning cost is manifest-sized, never a directory
    // listing.
    Decl(
      "s22_time_travel",
      oVersionAggs(Seq(
        1 -> "o_orderkey % 3 = 0",
        2 -> "o_orderkey % 3 <= 1",
        3 -> "o_orderkey % 3 <= 1 AND o_orderstatus <> 'F'"))) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val root = ioDir("s22_tbl")
      // manifests are create-if-absent immutable: a re-run in the same
      // JVM starts the log from scratch so versions 1/2/3 stay stable
      Qh.deleteRecursively(new java.io.File(root))
      def snapshot(v: Int): org.apache.spark.sql.DataFrame =
        s.read.parquet(CommitLog.files(root, v).map(b => s"$root/$b"): _*)
      val ord = Qh.t(s, dir, "orders")
      ord.filter($"o_orderkey" % 3 === 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b1")
      val c1 = CommitLog.commit(root, 0, added = Seq("b1"))
      ord.filter($"o_orderkey" % 3 === 1)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b2")
      val c2 = CommitLog.commit(root, c1.version, added = Seq("b2"))
      // copy-on-write delete: survivors of the affected files are
      // rewritten into b3; v1/v2's files are not touched
      snapshot(c2.version).filter($"o_orderstatus" =!= "F")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b3")
      CommitLog.commit(root, c2.version,
        added = Seq("b3"), removed = Seq("b1", "b2"))
      versionAggs(snapshot)
    },

    // S22b: LOG RETENTION (VACUUM) — the maintenance half of the S22
    // commit log (Delta VACUUM / Iceberg expire-snapshots): after the
    // same three commits as s22 (append, append, copy-on-write
    // delete), retention drops to the latest version only — the two
    // expired manifests delete, and the sweep removes exactly the two
    // batches (b1, b2) no surviving manifest references, while the
    // retained version's files are untouched. The decl then reads the
    // retained version THROUGH the swept log: a sweep that deleted a
    // live file breaks the aggregate; a sweep that missed a dead one
    // or an expiry that miscounted breaks the accounting columns. At
    // 100 TB vacuum is the background job that bounds metadata AND
    // dead-data growth; the minAge guard for in-flight writers is
    // pinned in ConcurrentCommitSpec.
    Decl(
      "s22b_log_vacuum",
      s"""SELECT CAST(2 AS BIGINT) AS expired_manifests,
         |  CAST(2 AS BIGINT) AS swept_batches,
         |  CAST(count(*) AS BIGINT) AS n,
         |  ${Qh.oSum2("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey % 3 <= 1 AND o_orderstatus <> 'F'""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val root = ioDir("s22b_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
      ord.filter($"o_orderkey" % 3 === 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b1")
      val c1 = CommitLog.commit(root, 0, added = Seq("b1"))
      ord.filter($"o_orderkey" % 3 === 1)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b2")
      val c2 = CommitLog.commit(root, c1.version, added = Seq("b2"))
      s.read.parquet(s"$root/b1", s"$root/b2")
        .filter($"o_orderstatus" =!= "F")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b3")
      val c3 = CommitLog.commit(root, c2.version,
        added = Seq("b3"), removed = Seq("b1", "b2"))
      val stats = CommitLog.vacuum(root, keepLast = 1,
        minAgeMs = 0L) // explicit 0: single sequential writer, nothing in flight
      s.read.parquet(CommitLog.files(root, c3.version).map(b => s"$root/$b"): _*)
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(
          lit(stats.expiredManifests.toLong).as("expired_manifests"),
          lit(stats.sweptBatches.size.toLong).as("swept_batches"),
          $"n", $"total")
    },

    // S22c: CHANGE FEED → incremental consumption — the read-side
    // payoff of delta manifests (Delta CDF / Iceberg incremental scan
    // at file granularity): a downstream consumer processes each
    // version's OWN add/remove record instead of re-reading the table,
    // so keeping an aggregate current costs O(changes), not O(table) —
    // at 100 TB that is the difference between a nightly full recompute
    // and a minutes-behind materialized view. Four commits (append,
    // append, copy-on-write delete, append); the consumer folds the
    // whole feed as ONE signed union (added batches +1, removed -1 —
    // the C5 retraction discipline at file granularity) and its
    // net aggregate must equal the latest snapshot's relational
    // reconstruction: a feed that misses a remove double-counts b1/b2,
    // one that misses an add drops b4, and the accounting columns pin
    // the feed's shape itself. The version loop is bounded metadata
    // (one manifest read per version); every data-touching step is one
    // distributed union-scan-agg.
    Decl(
      "s22c_change_feed",
      s"""SELECT CAST(4 AS BIGINT) AS n_versions,
         |  CAST(4 AS BIGINT) AS n_adds,
         |  CAST(2 AS BIGINT) AS n_removes,
         |  CAST(count(*) AS BIGINT) AS n,
         |  ${Qh.oSum2("o_totalprice")} AS total
         |FROM orders
         |WHERE (o_orderkey % 3 <= 1 AND o_orderstatus <> 'F')
         |   OR o_orderkey % 3 = 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val root = ioDir("s22c_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
      ord.filter($"o_orderkey" % 3 === 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b1")
      val c1 = CommitLog.commit(root, 0, added = Seq("b1"))
      ord.filter($"o_orderkey" % 3 === 1)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b2")
      val c2 = CommitLog.commit(root, c1.version, added = Seq("b2"))
      s.read.parquet(s"$root/b1", s"$root/b2")
        .filter($"o_orderstatus" =!= "F")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b3")
      val c3 = CommitLog.commit(root, c2.version,
        added = Seq("b3"), removed = Seq("b1", "b2"))
      ord.filter($"o_orderkey" % 3 === 2)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b4")
      val c4 = CommitLog.commit(root, c3.version, added = Seq("b4"))
      // consume the feed from v0: signed per-batch frames, one union
      val feed = CommitLog.changes(root, 0, c4.version)
      val signed = feed.flatMap(ch =>
        ch.added.map(_ -> 1) ++ ch.removed.map(_ -> -1))
      val frames = signed.map { case (b, sign) =>
        s.read.parquet(s"$root/$b")
          .select($"o_totalprice".cast(DecimalType(18, 2)).as("p"))
          .withColumn("sign", lit(sign))
      }
      frames.reduce(_ unionByName _)
        .agg(
          sum($"sign").cast("long").as("n"),
          sum($"sign" * $"p").cast("double").as("total"))
        .select(
          lit(feed.size.toLong).as("n_versions"),
          lit(signed.count(_._2 == 1).toLong).as("n_adds"),
          lit(signed.count(_._2 == -1).toLong).as("n_removes"),
          $"n", $"total")
    },

    // S22d: CHANGE-FEED TAIL → downstream sync — the streaming-style
    // consumer over the S22c feed (Delta streaming source semantics):
    // a durable VERSION CURSOR in the consumer's checkpoint advances
    // only after a version's batch lands, each drained version reads
    // exactly its own added files (never a table rescan), a pure-delete
    // commit is skipped under ignoreDeletes (a tail emits appends only
    // and cannot retract — rows already emitted stay emitted, which is
    // why the oracle INCLUDES b1's rows after their upstream delete),
    // and a copy-on-write rewrite always fails the drain
    // (CommitLogTailSpec pins the failure, crash-replay and
    // AvailableNow bounds). The sink here is version-keyed overwrite —
    // the t8 idempotence discipline that upgrades the cursor's
    // at-least-once to exactly-once — and the decl re-reads the
    // downstream copy so a dropped, duplicated, or misordered batch
    // breaks the aggregate; the accounting columns pin the drain
    // shape (3 emitting versions of 4, cursor at 4).
    Decl(
      "s22d_log_tail",
      s"""SELECT CAST(3 AS BIGINT) AS n_batches,
         |  CAST(4 AS BIGINT) AS last_version,
         |  CAST(count(*) AS BIGINT) AS n,
         |  ${Qh.oSum2("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey % 4 <= 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogTail}
      val root = ioDir("s22d_tbl")
      val ckpt = ioDir("s22d_ckpt")
      val out = ioDir("s22d_out")
      Seq(root, ckpt, out).foreach(p => Qh.deleteRecursively(new java.io.File(p)))
      val ord = Qh.t(s, dir, "orders")
      def stage(batch: String, m: Int): Unit =
        ord.filter($"o_orderkey" % 4 === m)
          .write.mode(SaveMode.Overwrite).parquet(s"$root/$batch")
      stage("b1", 0)
      val c1 = CommitLog.commit(root, 0, added = Seq("b1"))
      stage("b2", 1)
      val c2 = CommitLog.commit(root, c1.version, added = Seq("b2"))
      val c3 = CommitLog.commit(root, c2.version, added = Nil, removed = Seq("b1"))
      stage("b4", 2)
      CommitLog.commit(root, c3.version, added = Seq("b4"))
      val emitted = CommitLogTail.drain(s, root, ckpt, ignoreDeletes = true) {
        (batch, v) =>
          batch.write.mode(SaveMode.Overwrite).parquet(s"$out/v=$v")
      }
      s.read.parquet(out).drop("v")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(
          lit(emitted.toLong).as("n_batches"),
          lit(CommitLogTail.lastProcessed(ckpt).toLong).as("last_version"),
          $"n", $"total")
    },

    // S22e: LOG-GOVERNED SCHEMA ENFORCEMENT + EVOLUTION — the schema
    // half of the lakehouse contract (Delta schema enforcement /
    // mergeSchema), layered on the same commit log: the first commit
    // DECLARES the table DDL, an additive append EVOLVES it (recorded
    // by the evolving commit only — O(delta) schema metadata), and a
    // retyping commit is REJECTED before any manifest publishes, so
    // bad writers cannot corrupt the table (S11's mergeSchema decl
    // shows file-level evolution mechanics; this one makes the LOG the
    // authority and adds the enforcement side S11 cannot express).
    // The read plans with the log's schema-in-force, so pre-evolution
    // files null-fill the new column in the scan itself — no
    // mergeSchema double-pass over footers at read time, which at
    // 100 TB is the difference between planning from one manifest and
    // touching a million file footers. Accounting pins the protocol
    // (2 versions landed, 1 rejected); n_status counts only the
    // evolved batch's rows, so a null-fill or evolution failure breaks
    // the value columns too.
    Decl(
      "s22e_schema_enforced",
      s"""SELECT CAST(2 AS BIGINT) AS n_versions,
         |  CAST(1 AS BIGINT) AS rejected,
         |  CAST(count(*) AS BIGINT) AS n,
         |  ${Qh.oSum2("o_totalprice")} AS total,
         |  CAST(count(CASE WHEN o_orderkey % 5 = 1 THEN o_orderstatus END) AS BIGINT) AS n_status
         |FROM orders
         |WHERE o_orderkey % 5 <= 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val root = ioDir("s22e_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
      val a = ord.filter($"o_orderkey" % 5 === 0)
        .select($"o_orderkey", $"o_totalprice")
      a.write.mode(SaveMode.Overwrite).parquet(s"$root/b1")
      val c1 = CommitLog.commit(root, 0, added = Seq("b1"),
        schema = Some(a.schema.toDDL))
      val b = ord.filter($"o_orderkey" % 5 === 1)
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      b.write.mode(SaveMode.Overwrite).parquet(s"$root/b2")
      val c2 = CommitLog.commit(root, c1.version, added = Seq("b2"),
        schema = Some(b.schema.toDDL))
      // a writer retyping o_orderkey must be refused pre-publish
      val rejected =
        try {
          CommitLog.commit(root, c2.version, added = Seq("bX"),
            schema = Some("o_orderkey INT, o_totalprice DOUBLE, o_orderstatus STRING"))
          0L
        } catch { case _: CommitLog.SchemaChangeException => 1L }
      val ddl = CommitLog.schemaOf(root, c2.version).get
      s.read.schema(StructType.fromDDL(ddl))
        .parquet(CommitLog.files(root, c2.version).map(f => s"$root/$f"): _*)
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"),
          count($"o_orderstatus").as("n_status"))
        .select(
          lit(c2.version.toLong).as("n_versions"),
          lit(rejected).as("rejected"),
          $"n", $"total", $"n_status")
    },

    // S22f: ROW-GRANULARITY CHANGE FEED (CDF) — the Delta-CDF contract
    // S22c/S22d could not give at file granularity (which is why the
    // tail hard-fails COW commits): graft.sources.CommitLogCdf diffs
    // each copy-on-write commit's removed-rows against its added-rows
    // ON THE TABLE KEY, so the feed carries _change_type rows — insert
    // / delete / update_preimage / update_postimage — and a signed fold
    // (+1 post/insert, −1 pre/delete) reconstructs the latest snapshot
    // THROUGH the COW commit. Four commits: append, append, COW
    // (deletes 'F' rows AND bumps %7 keys' totalprice — exercising the
    // delete, update, and silent-copy paths in one rewrite), append.
    // The oracle restates the final snapshot relationally and the
    // accounting columns pin the feed's exact composition: a rewrite
    // row wrongly emitted as churn breaks n_update, a missed delete
    // breaks n and total, a double-stated copy breaks both. Scale: the
    // version loop is bounded metadata; the COW diff is ONE join of
    // commit-sized sides on the key — never a table rescan.
    Decl(
      "s22f_cdf_rows",
      s"""WITH ins AS (SELECT count(*) AS c FROM orders),
         |del AS (
         |  SELECT count(*) AS c FROM orders
         |  WHERE o_orderkey % 3 <= 1 AND o_orderstatus = 'F'),
         |upd AS (
         |  SELECT count(*) AS c FROM orders
         |  WHERE o_orderkey % 3 <= 1 AND o_orderstatus <> 'F'
         |    AND o_orderkey % 7 = 0),
         |fin AS (
         |  SELECT count(*) AS n, ${Qh.oSum2(
             "o_totalprice + CASE WHEN o_orderkey % 3 <= 1 AND o_orderkey % 7 = 0 THEN 1 ELSE 0 END")} AS total
         |  FROM orders
         |  WHERE (o_orderkey % 3 <= 1 AND o_orderstatus <> 'F')
         |     OR o_orderkey % 3 = 2)
         |SELECT CAST(ins.c AS BIGINT) AS n_insert,
         |  CAST(del.c AS BIGINT) AS n_delete,
         |  CAST(upd.c AS BIGINT) AS n_update_pairs,
         |  CAST(fin.n AS BIGINT) AS n, fin.total AS total
         |FROM ins, del, upd, fin""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogCdf}
      val root = ioDir("s22f_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
      ord.filter($"o_orderkey" % 3 === 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b1")
      val c1 = CommitLog.commit(root, 0, added = Seq("b1"))
      ord.filter($"o_orderkey" % 3 === 1)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b2")
      val c2 = CommitLog.commit(root, c1.version, added = Seq("b2"))
      // copy-on-write rewrite: drop 'F' rows, bump %7 keys' totalprice,
      // copy the rest untouched (the silent-copy path the row diff must
      // NOT report as churn)
      s.read.parquet(s"$root/b1", s"$root/b2")
        .filter($"o_orderstatus" =!= "F")
        .withColumn("o_totalprice",
          when($"o_orderkey" % 7 === 0, $"o_totalprice" + 1)
            .otherwise($"o_totalprice"))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b3")
      val c3 = CommitLog.commit(root, c2.version,
        added = Seq("b3"), removed = Seq("b1", "b2"))
      ord.filter($"o_orderkey" % 3 === 2)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b4")
      val c4 = CommitLog.commit(root, c3.version, added = Seq("b4"))
      val feed = CommitLogCdf.changeFeed(
        s, root, 0, c4.version, keyCols = Seq("o_orderkey"))
      val ct = col(CommitLogCdf.ChangeTypeCol)
      feed.agg(
          count(when(ct === "insert", 1)).as("n_insert"),
          count(when(ct === "delete", 1)).as("n_delete"),
          count(when(ct === "update_postimage", 1)).as("n_update_pairs"),
          sum(CommitLogCdf.changeSign(ct)).as("n"),
          sum(CommitLogCdf.changeSign(ct) *
            $"o_totalprice".cast(DecimalType(18, 2)))
            .cast("double").as("total"))
        .select($"n_insert", $"n_delete", $"n_update_pairs", $"n", $"total")
    },

    // S22g: STATS-IN-MANIFEST PLANNING — the Delta/Iceberg design
    // S15's side table only approximates: each commit records a
    // numeric (min,max) box per column FOR THE BATCHES IT ADDS, boxes
    // replay with the snapshot (checkpoints carry survivors forward),
    // and CommitLog.prunedFiles intersects the predicate box against
    // metadata ALREADY IN HAND from snapshot replay — zero extra reads
    // at plan time (S15 pays a side-table read; footer-based pruning
    // pays a million opens at 100 TB). Three range-partitioned batches;
    // the half-range predicate must prune exactly the top batch — the
    // accounting columns pin fewer files opened (n_read=2) than the
    // manifest lists (n_total=3), and the aggregate over the pruned
    // read must still match the oracle's full relational answer
    // (pruning is a fast path: the exact predicate re-applies as the
    // residual, the S8 contract at file granularity). A batch with no
    // box is always read — unknown never prunes to wrong answers.
    Decl(
      "s22g_manifest_stats",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
         |SELECT CAST(3 AS BIGINT) AS n_total, CAST(2 AS BIGINT) AS n_read,
         |  CAST(count(*) AS BIGINT) AS n, ${Qh.oSum2("o_totalprice")} AS total
         |FROM orders, m
         |WHERE o_orderkey <= mx // 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val root = ioDir("s22g_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
      val mx = ord.agg(max($"o_orderkey")).head().getLong(0)
      val (cut1, cut2, half) = (mx / 3, 2 * mx / 3, mx / 2)
      var v = 0
      Seq(
        ("b1", $"o_orderkey" <= cut1),
        ("b2", $"o_orderkey" > cut1 && $"o_orderkey" <= cut2),
        ("b3", $"o_orderkey" > cut2)).foreach { case (b, pred) =>
        val part = ord.filter(pred)
        part.write.mode(SaveMode.Overwrite).parquet(s"$root/$b")
        // the writer just computed this data — its box is one agg away
        val r = part.agg(min($"o_orderkey"), max($"o_orderkey")).head()
        v = CommitLog.commit(root, v, added = Seq(b),
          stats = Map(b -> Map("o_orderkey" -> graft.sources.CommitLog
            .ColStat(r.getLong(0).toDouble, r.getLong(1).toDouble)))).version
      }
      val all = CommitLog.files(root, v)
      val pruned = CommitLog.prunedFiles(
        root, v, "o_orderkey", Double.NegativeInfinity, half.toDouble)
      s.read.parquet(pruned.map(b => s"$root/$b"): _*)
        .filter($"o_orderkey" <= half) // exact residual predicate
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(
          lit(all.size.toLong).as("n_total"),
          lit(pruned.size.toLong).as("n_read"),
          $"n", $"total")
    },

    // S22h: MANIFEST-STATS PRUNING BEHIND THE CONNECTOR — s22g's
    // zero-read file skipping as the API a user actually hits: the
    // three range-partitioned batches are written through the DSv2
    // SINK (`df.write.format("commitlog")` — each batch commits its
    // (min,max) boxes automatically, no hand-built stats), and the
    // half-range predicate is pushed down by Spark into
    // CommitLogScanBuilder, which intersects it against the manifest
    // boxes at plan time. The accounting columns pin the pruned plan
    // (n_read=2 INPUT PARTITIONS planned, counted from the executed
    // plan's BatchScanExec, vs n_total=3 batches committed) while the
    // aggregate still matches the full relational answer — the filter
    // stays residual above the scan, so pruning can only drop files
    // the predicate provably excludes. CommitLogWriteSpec pins the
    // two-sided box intersection and the no-over-prune boundary case.
    Decl(
      "s22h_connector_pruned_scan",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
         |SELECT CAST(3 AS BIGINT) AS n_total, CAST(2 AS BIGINT) AS n_read,
         |  CAST(count(*) AS BIGINT) AS n, ${Qh.oSum2("o_totalprice")} AS total
         |FROM orders, m
         |WHERE o_orderkey <= mx // 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s22h_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
      val mx = ord.agg(max($"o_orderkey")).head().getLong(0)
      val (cut1, cut2, half) = (mx / 3, 2 * mx / 3, mx / 2)
      Seq(
        $"o_orderkey" <= cut1,
        $"o_orderkey" > cut1 && $"o_orderkey" <= cut2,
        $"o_orderkey" > cut2).foreach { pred =>
        ord.filter(pred).repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      }
      val read = s.read.format("commitlog").option("path", root).load()
        .filter($"o_orderkey" <= half)
      val planned = read.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }.sum
      read
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(
          lit(graft.sources.CommitLog.files(root,
            graft.sources.CommitLog.latestVersion(root)).size.toLong).as("n_total"),
          lit(planned.toLong).as("n_read"),
          $"n", $"total")
    },

    // S26: OPTIMIZE over the commit log — small-batch compaction as a
    // COMMITTED, LAYOUT-ONLY rewrite (dataChange=false, the Delta
    // OPTIMIZE verb): four sink appends land four small batches, one
    // optimize packs them into a single batch with a shuffle-free
    // coalesce (each byte moves once) and a manifest flagged
    // dataChange=false, with the pack's stats box UNIONED from the
    // sources' boxes (no second data pass). The proof is the flag's
    // CONSUMER contract: the decl then STREAMS the table from version
    // 0 — the stream emits exactly the four appends' rows and SKIPS
    // the optimize version (pre-flag, a rewrite commit hard-failed
    // every tail; a wrong skip loses rows, a missed skip doubles
    // them — either breaks the hash). Accounting pins 4 batches
    // before, 1 after, 5 versions streamed as 4 non-empty batches.
    // CommitLogOptimizeSpec pins tail/CDF/time-travel composition and
    // rival-rewrite arbitration.
    Decl(
      "s26_log_optimize",
      s"""SELECT CAST(4 AS BIGINT) AS n_before, CAST(1 AS BIGINT) AS n_after,
         |  CAST(count(*) AS BIGINT) AS n, ${Qh.oSum2("o_totalprice")} AS total
         |FROM orders""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogOptimize}
      val root = ioDir("s26_tbl")
      val ckpt = ioDir("s26_ckpt")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.deleteRecursively(new java.io.File(ckpt))
      val ord = Qh.t(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
      (0 until 4).foreach { m =>
        ord.filter($"o_orderkey" % 4 === m).repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      }
      val nBefore = CommitLog.files(root, CommitLog.latestVersion(root)).size
      CommitLogOptimize.optimize(s, root, smallBytes = 1L << 30)
      val nAfter = CommitLog.files(root, CommitLog.latestVersion(root)).size
      val sink = s"s26_out_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      graft.streaming.Streams.withStatePartitions(s) {
        val q = s.readStream.format("commitlog").option("path", root).load()
          .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("complete")
          .start()
        q.awaitTermination()
      }
      s.table(sink)
        .select(lit(nBefore.toLong).as("n_before"),
          lit(nAfter.toLong).as("n_after"), $"n", $"total")
    },

    // S27: DESCRIBE HISTORY — the audit surface of the commit log:
    // every committing verb labels its manifest (sink appends WRITE /
    // STREAMING UPDATE, compaction OPTIMIZE, CommitLogMerge MERGE), and
    // CommitLog.history replays one manifest per still-readable version
    // into (version, operation, add/remove counts, dataChange) — cost
    // is bounded metadata, history reaches exactly as far back as time
    // travel. The decl pins the trail of a 4-verb session: two modulo
    // appends, an OPTIMIZE (1 added, 2 removed, dataChange FALSE), a
    // third append — with each version's added-row count tied back to
    // the fixture, so a mislabeled, miscounted, or misordered audit row
    // breaks the hash.
    Decl(
      "s27_log_history",
      s"""WITH c0 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 2 = 0),
         |c1 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 2 = 1),
         |c3 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 3 = 0)
         |SELECT * FROM (
         |  SELECT 1 AS version, 'WRITE' AS operation, 1 AS n_added,
         |    0 AS n_removed, true AS data_change, (SELECT n FROM c0) AS n_rows
         |  UNION ALL SELECT 2, 'WRITE', 1, 0, true, (SELECT n FROM c1)
         |  UNION ALL SELECT 3, 'OPTIMIZE', 1, 2, false,
         |    (SELECT n FROM c0) + (SELECT n FROM c1)
         |  UNION ALL SELECT 4, 'WRITE', 1, 0, true, (SELECT n FROM c3))
         |ORDER BY version""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogOptimize}
      val root = ioDir("s27_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
      def append(pred: org.apache.spark.sql.Column): Unit =
        ord.filter(pred).repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      append($"o_orderkey" % 2 === 0)
      append($"o_orderkey" % 2 === 1)
      CommitLogOptimize.optimize(s, root, smallBytes = 1L << 30)
      append($"o_orderkey" % 3 === 0)
      val latest = CommitLog.latestVersion(root)
      val addedRows = CommitLog.changes(root, 0, latest).map { ch =>
        ch.version -> (if (ch.added.isEmpty) 0L
          else s.read.parquet(ch.added.map(b => s"$root/$b"): _*).count())
      }.toMap
      CommitLog.history(root).map { h =>
        (h.version, h.operation.orNull, h.nAdded, h.nRemoved,
          h.dataChange, addedRows(h.version))
      }.toDF("version", "operation", "n_added", "n_removed",
        "data_change", "n_rows")
        .orderBy("version")
    },

    // S28: OPTIMIZE ZORDER BY over the commit log — S14's Morton
    // layout as a COMMITTED clustered rewrite: three scattered sink
    // appends (each spanning the full user/time range, so no manifest
    // box can prune anything), then optimizeClustered re-lays the
    // table along the (user_id, ts) z-curve into 8 range-contiguous
    // batches, each committed with RECOMPUTED tight boxes — timestamps
    // boxed in MICROS, the exact unit the scan's pushdown probes. The
    // s14 predicate (user band × week) is then answered through the
    // connector with most buckets pruned straight from the manifest
    // (`pruned_fewer` pins planned < committed AND > 0 at every SF);
    // the aggregate must still match the full relational oracle, and
    // the rewrite is dataChange=false — a live tail skips it
    // (CommitLogOptimizeSpec pins quadrant pruning exactly and the
    // tail skip). One bounds pass + one shuffle on the bucket id: the
    // minimum a clustered rewrite can cost.
    Decl(
      "s28_zorder_optimize",
      s"""SELECT true AS pruned_fewer, event_type,
         |  count(*) AS n, ${Qh.oSum2("value")} AS total_value
         |FROM events
         |WHERE user_id BETWEEN 3 AND 7
         |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogOptimize}
      val root = ioDir("s28_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ev = Qh.t(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value",
          Qh.tsUs($"ts").as("ts"))
      (0 until 3).foreach { m =>
        ev.filter($"event_id" % 3 === m).repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      }
      val r = CommitLogOptimize.optimizeClustered(
        s, root, zorderBy = Seq("user_id", "ts"), buckets = 8)
      val filtered = s.read.format("commitlog").option("path", root).load()
        .filter($"user_id".between(3, 7) &&
          $"ts" >= lit("2024-01-08 00:00:00").cast(TimestampType) &&
          $"ts" < lit("2024-01-16 00:00:00").cast(TimestampType))
      val planned = filtered.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }.sum
      filtered
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .select(lit(planned > 0 && planned < r.packed.size).as("pruned_fewer"),
          $"event_type", $"n", $"total_value")
        .orderBy("event_type")
    },

    // S29: BLOOM-IN-MANIFEST POINT LOOKUP — the membership modality
    // (min,max) boxes cannot provide: boxes answer range questions on
    // ordered values, but `WHERE event_type = 'purchase'` on a string
    // column needs membership. The sink builds a per-batch bloom for
    // `option("bloomColumns", ...)` as rows stream through each task
    // (union across tasks = bitwise OR at driver publish), the filter
    // rides the manifest like stats, and the scan's pushed equality
    // probe drops every batch whose bloom says DEFINITELY ABSENT —
    // zero data reads. One batch per event type, so the probe must
    // plan exactly one (`pruned_to_one` pins it); a false positive
    // only costs an extra read (the residual filter re-applies), an
    // absent bloom never prunes — pruning is a fast path, never a
    // correctness risk. At 100 TB this is the difference between a
    // needle-in-haystack key lookup scanning every batch and scanning
    // ~the one that holds it. CommitLogWriteSpec pins IN-list probes,
    // bloomless batches, and replay through vacuum's cutoff checkpoint.
    Decl(
      "s29_bloom_point_lookup",
      s"""SELECT true AS pruned_to_one,
         |  CAST(count(*) AS BIGINT) AS n, ${Qh.oSum2("value")} AS total_value
         |FROM events
         |WHERE event_type = 'purchase'""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s29_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ev = Qh.t(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id", $"value")
      val types = ev.select($"event_type").distinct()
        .as[String].collect().sorted
      types.foreach { t =>
        ev.filter($"event_type" === t).repartition(1)
          .write.format("commitlog").option("path", root)
          .option("bloomColumns", "event_type").mode("append").save()
      }
      val probe = s.read.format("commitlog").option("path", root).load()
        .filter($"event_type" === "purchase")
      val planned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }.sum
      probe
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .select(lit(planned == 1).as("pruned_to_one"), $"n", $"total_value")
    },

    // S30: STREAMING CHANGE FEED through the connector — the Delta CDF
    // read (`option("readChangeFeed", true)`) as a LIVE STREAM that
    // follows a table being UPDATED, not just appended: appends emit
    // `insert` rows, a whole-batch delete emits `delete` rows (exact at
    // file granularity — every row of a removed batch is a deleted
    // row), and a MERGE run with changeFeed=true emits all four Delta
    // CDC row kinds from the change rows it MATERIALIZED at commit time
    // (`_changes/v<N>/` — a scan cannot run the preimage diff join, so
    // merges write their changes once and every consumer reads them).
    // The decl streams the feed of appends + delete + merge (updates,
    // deletes AND inserts through the DV leg) and aggregates per change
    // kind; the oracle restates each kind's count and decimal total
    // relationally, so a missing preimage, doubled insert, wrong
    // constant stamp, or mis-signed kind breaks the hash.
    // CommitLogChangeFeedSpec pins the signed-fold reconstruction,
    // resume-across-delete, un-materialized-merge guidance, and vacuum
    // expiry of change rows.
    Decl(
      "s30_change_feed_stream",
      s"""WITH a AS (SELECT o_orderkey k, CAST(o_totalprice AS DECIMAL(18,2)) p
         |  FROM orders WHERE o_orderkey % 3 = 0),
         |b AS (SELECT o_orderkey k, CAST(o_totalprice AS DECIMAL(18,2)) p
         |  FROM orders WHERE o_orderkey % 3 = 1),
         |c AS (SELECT o_orderkey k, CAST(o_totalprice AS DECIMAL(18,2)) p
         |  FROM orders WHERE o_orderkey % 3 = 2),
         |u AS (SELECT k, p FROM b WHERE k % 97 = 0),
         |d AS (SELECT k, p FROM b WHERE k % 89 = 0 AND k % 97 <> 0)
         |SELECT * FROM (
         |  SELECT 'delete' AS change_type,
         |    (SELECT count(*) FROM a) + (SELECT count(*) FROM d) AS n,
         |    CAST((SELECT sum(p) FROM a) + coalesce((SELECT sum(p) FROM d), 0)
         |      AS DOUBLE) AS total
         |  UNION ALL SELECT 'insert',
         |    (SELECT count(*) FROM a) + (SELECT count(*) FROM b)
         |      + (SELECT count(*) FROM c),
         |    CAST((SELECT sum(p) FROM a) + (SELECT sum(p) FROM b)
         |      + (SELECT sum(p) FROM c) AS DOUBLE)
         |  UNION ALL SELECT 'update_preimage',
         |    (SELECT count(*) FROM u), CAST((SELECT sum(p) FROM u) AS DOUBLE)
         |  UNION ALL SELECT 'update_postimage',
         |    (SELECT count(*) FROM u),
         |    CAST((SELECT sum(p) FROM u) + (SELECT count(*) FROM u) AS DOUBLE))
         |ORDER BY change_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogMerge}
      val root = ioDir("s30_tbl")
      val ckpt = ioDir("s30_ckpt")
      Seq(root, ckpt).foreach(p => Qh.deleteRecursively(new java.io.File(p)))
      val ord = Qh.t(s, dir, "orders")
        .select($"o_orderkey".as("k"), $"o_totalprice".as("p"))
      (0 to 1).foreach { m =>
        ord.filter($"k" % 3 === m).repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      }
      // v3: whole-batch delete of the first append
      CommitLog.commit(root, 2, added = Nil,
        removed = Seq(CommitLog.files(root, 1).head))
      // v4: merge with materialized change rows — updates (+1), deletes,
      // and unmatched inserts, through whichever leg the dial picks
      val src = ord.filter($"k" % 3 === 1 && $"k" % 97 === 0)
        .select($"k", ($"p" + 1).as("p"), lit("U").as("_op"))
        .unionByName(ord.filter($"k" % 3 === 2)
          .select($"k", $"p", lit("U").as("_op")))
        .unionByName(ord.filter($"k" % 3 === 1 && $"k" % 89 === 0 && $"k" % 97 =!= 0)
          .select($"k", $"p", lit("D").as("_op")))
      CommitLogMerge.merge(s, root, src, keyCols = Seq("k"), changeFeed = true)
      val sink = s"s30_out_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      graft.streaming.Streams.withStatePartitions(s) {
        val q = s.readStream.format("commitlog")
          .option("path", root).option("readChangeFeed", true).load()
          .groupBy(col(graft.sources.CommitLogCdf.ChangeTypeCol).as("change_type"))
          .agg(count(lit(1)).as("n"), Qh.sumd2($"p").as("total"))
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("complete")
          .start()
        q.awaitTermination()
      }
      s.table(sink).orderBy("change_type")
    },

    // S31: RESTORE — Delta's RESTORE TABLE … TO VERSION as a commit-log
    // verb: after an append, a second append, and a whole-batch delete,
    // `CommitLog.restore(root, 2)` publishes a NEW commit whose
    // add/remove sets transform the current snapshot back into v2 —
    // history stays append-only (the deleted state at v3 remains
    // readable for forensics), data files are REUSED (a restore is
    // metadata-sized, no bytes copied), and the verb is audited. The
    // decl reads the restored latest (must equal the v2 relational
    // restatement — a missed add, stale remove, or double-listed batch
    // breaks the hash), pins the version count and the audit label,
    // and reads v3 to prove the rolled-back state survived.
    // CommitLogRestoreSpec pins schema rollback, vacuumed-history
    // failure, and the change feed's view of a restore.
    Decl(
      "s31_restore",
      s"""WITH t AS (SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 3 <= 1)
         |SELECT CAST(4 AS INT) AS n_versions, 'RESTORE' AS last_op,
         |  CAST((SELECT count(*) FROM t) AS BIGINT) AS n,
         |  ${Qh.oSum2("o_totalprice")} AS total,
         |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 3 = 1)
         |    AS BIGINT) AS n_at_v3
         |FROM t""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val root = ioDir("s31_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
      (0 to 1).foreach { m =>
        ord.filter($"o_orderkey" % 3 === m).repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      }
      CommitLog.commit(root, 2, added = Nil,
        removed = Seq(CommitLog.files(root, 1).head)) // v3: drop the m=0 batch
      val c = CommitLog.restore(root, toVersion = 2) // v4: bring it back
      val restored = s.read.format("commitlog").option("path", root).load()
      val atV3 = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", 3).load().count()
      restored
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(
          lit(c.version).as("n_versions"),
          lit(CommitLog.history(root).last.operation.orNull).as("last_op"),
          $"n", $"total", lit(atV3).as("n_at_v3"))
    },

    // S32: CHECK CONSTRAINTS — Delta's table invariants as log state:
    // `addConstraint` validates EXISTING data with one filtered scan,
    // then publishes a metadata-only commit; from that version on,
    // every sink publish re-validates its staged epoch (epoch-sized
    // scan, SQL CHECK semantics: NULL passes, only FALSE violates) and
    // a violation drops the stage and fails BEFORE anything publishes —
    // no version consumed, no watermark advanced, the pipeline stops
    // instead of poisoning the table. The decl declares
    // `o_totalprice > 0`, lands a clean append, attempts an append of
    // NEGATED prices (must be rejected with the table unchanged), and
    // pins versions + the audit label + the final relational state.
    // Constraints ride checkpoints through vacuum (spec-pinned).
    Decl(
      "s32_check_constraint",
      s"""SELECT CAST(3 AS INT) AS n_versions, true AS rejected,
         |  'ADD CONSTRAINT' AS op_v2,
         |  CAST(count(*) AS BIGINT) AS n, ${Qh.oSum2("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 3 <= 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogWrite}
      val root = ioDir("s32_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
      def append(df: org.apache.spark.sql.DataFrame): Unit =
        df.repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      append(ord.filter($"o_orderkey" % 3 === 0))
      CommitLogWrite.addConstraint(s, root, "price_pos", "o_totalprice > 0")
      append(ord.filter($"o_orderkey" % 3 === 1))
      val rejected =
        try {
          append(ord.filter($"o_orderkey" % 3 === 2)
            .select($"o_orderkey", (-$"o_totalprice").as("o_totalprice")))
          false
        } catch {
          case e: Throwable =>
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .exists(_.isInstanceOf[CommitLog.ConstraintViolationException])
        }
      s.read.format("commitlog").option("path", root).load()
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(
          lit(CommitLog.latestVersion(root)).as("n_versions"),
          lit(rejected).as("rejected"),
          lit(CommitLog.history(root)(1).operation.orNull).as("op_v2"),
          $"n", $"total")
    },

    // S33: DELETE WHERE / UPDATE SET … WHERE — the row-level verbs a
    // lakehouse user runs between merges (Delta's `DELETE FROM` /
    // `UPDATE`), as commit-log commits (graft.sources.CommitLogDml).
    // The caller brings only a PREDICATE: the find phase is a
    // column-pruned scan (predicate + assignment columns + row
    // position, reconciled against outstanding DVs), and the physical
    // leg follows MERGE's write-amplification dial. The decl runs
    // both: UPDATE touches ~1% of rows → DV APPEND (positions +
    // postimage rows, nothing rewrites), then DELETE drops the
    // 'O'-status half → COW REWRITE whose rewrite covers the update's
    // DV batch, so the verb doubles as compaction and the final table
    // is DV-free (read through the plain connector — which REFUSES
    // DV tables, so that read passing IS the compaction proof). v3 is
    // read through the reconciling snapshot. Leg + audit-verb columns
    // pin the dial decision and history labels; a row lost, kept, or
    // double-applied at either granularity breaks the hash.
    // CommitLogDmlSpec pins the no-op path, constraint-violating
    // UPDATE rejection, racing-verb arbitration, and the CDC rows a
    // changeFeed DML materializes.
    Decl(
      "s33_delete_update",
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |    o_totalprice
         |      + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS p,
         |    o_orderstatus AS st
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |v3 AS (SELECT count(*) AS n, ${Qh.oSum2("p")} AS total FROM base),
         |v4 AS (SELECT count(*) AS n, ${Qh.oSum2("p")} AS total
         |       FROM base WHERE st <> 'O')
         |SELECT CAST(3 AS BIGINT) AS version, 'dv' AS leg, 'UPDATE' AS op,
         |  v3.n, v3.total FROM v3
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), 'cow', 'DELETE', v4.n, v4.total FROM v4
         |ORDER BY version""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogDml, CommitLogMerge}
      val root = ioDir("s33_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      Seq(0, 2).foreach { m =>
        ord.filter($"o_orderkey" % 4 === m).repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      }
      val u = CommitLogDml.update(s, root, "o_orderkey % 97 = 0",
        Seq("o_totalprice" -> "o_totalprice + 1"))
      val d = CommitLogDml.delete(s, root, "o_orderstatus = 'O'")
      def opOf(v: Int): String =
        CommitLog.history(root).find(_.version == v).flatMap(_.operation).orNull
      val atV3 = CommitLogMerge.snapshot(s, root, u.version)
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(lit(u.version.toLong).as("version"), lit(u.leg).as("leg"),
          lit(opOf(u.version)).as("op"), $"n", $"total")
      val atV4 = s.read.format("commitlog").option("path", root).load()
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(lit(d.version.toLong).as("version"), lit(d.leg).as("leg"),
          lit(opOf(d.version)).as("op"), $"n", $"total")
      atV3.unionAll(atV4).orderBy("version")
    },

    // S34: SHALLOW CLONE — Delta's `CREATE TABLE … SHALLOW CLONE src`
    // as a commit-log verb (CommitLog.cloneTable): the clone's v1
    // manifest REFERENCES the source's batches as external `@/abs/dir`
    // names (resolved by CommitLog.batchPath, the one seam every
    // reader already goes through), so creation is a metadata-sized
    // commit — the decl PINS zero parquet files under the clone root
    // at clone time. Schema/stats/blooms/constraints carry, history
    // does not (fresh lineage, op=CLONE). The two tables then diverge:
    // the source gains an append the clone must not see, and a dense
    // DELETE on the clone COW-rewrites the referenced data into LOCAL
    // batches (incremental localization — pinned: no external refs
    // remain) without touching one source byte. Clone-side vacuum can
    // never sweep source data because the sweep lists only LOCAL
    // directories (CommitLogCloneSpec pins that, plus DV-source
    // refusal, version-pinned clones, and clone-of-clone ref
    // flattening). At 100 TB this is the zero-copy dev/test-table
    // verb: cloning a million-file table costs one manifest write.
    Decl(
      "s34_shallow_clone",
      s"""WITH src AS (
         |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
         |  WHERE o_orderkey % 4 IN (0, 1, 2)),
         |cl AS (
         |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
         |  WHERE o_orderkey % 4 IN (0, 2) AND o_orderkey % 8 NOT IN (0, 2))
         |SELECT CAST(0 AS BIGINT) AS copied_at_clone, 'CLONE' AS clone_op,
         |  false AS ext_refs_left,
         |  (SELECT count(*) FROM src) AS src_n,
         |  (SELECT ${Qh.oSum2("p")} FROM src) AS src_total,
         |  (SELECT count(*) FROM cl) AS clone_n,
         |  (SELECT ${Qh.oSum2("p")} FROM cl) AS clone_total""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogDml}
      val src = ioDir("s34_src")
      val tgt = ioDir("s34_clone")
      Seq(src, tgt).foreach(p => Qh.deleteRecursively(new java.io.File(p)))
      val ord = Qh.t(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
      def append(root: String, m: Int): Unit =
        ord.filter($"o_orderkey" % 4 === m).repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      append(src, 0); append(src, 2)
      CommitLog.cloneTable(src, tgt)
      def parquetCount(root: String): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
          .asScala.count(_.toString.endsWith(".parquet"))
      }
      val copied = parquetCount(tgt)
      append(src, 1) // diverge: the clone must not see this
      // dense delete hitting BOTH referenced batches → COW localizes all
      CommitLogDml.delete(s, tgt, "o_orderkey % 8 IN (0, 2)")
      val extLeft = CommitLog.files(tgt, CommitLog.latestVersion(tgt))
        .exists(_.startsWith("@"))
      val srcAgg = s.read.format("commitlog").option("path", src).load()
        .agg(count(lit(1)).as("src_n"), Qh.sumd2($"o_totalprice").as("src_total"))
      val clAgg = s.read.format("commitlog").option("path", tgt).load()
        .agg(count(lit(1)).as("clone_n"), Qh.sumd2($"o_totalprice").as("clone_total"))
      srcAgg.crossJoin(clAgg).select(
        lit(copied).as("copied_at_clone"),
        lit(CommitLog.history(tgt).head.operation.orNull).as("clone_op"),
        lit(extLeft).as("ext_refs_left"),
        $"src_n", $"src_total", $"clone_n", $"clone_total")
    },

    // S35: RENAME COLUMN without rewrite — Delta's column mapping as
    // log state (CommitLog.renameColumn): a metadata-only commit
    // records the renamed DDL plus a name chain (new → every name the
    // column ever had), and every reader resolves per FILE ERA — the
    // connector's record reader walks the chain newest-first per file,
    // engine verbs coalesce through it inside codegen, writers always
    // write current names so rewrites localize the rename. The decl
    // appends under the old name, renames o_totalprice → price
    // (pinning ZERO parquet files touched), appends under the new
    // name, then UPDATEs through the new name across BOTH eras (DV
    // leg: postimages land new-named while preimage positions point
    // into old-named files); the latest read must see one logical
    // column over mixed-era files, and a versionAsOf=1 read must see
    // the ERA's schema (old name) — Delta's time-travel contract.
    // CommitLogRenameSpec pins chained renames, collision/constraint
    // guards, checkpoint replay under vacuum, optimize box-unioning
    // across eras, and manifest pruning through the name chain (a
    // pre-rename batch prunes from its old-name stats box when the
    // filter arrives under the new name). At 100 TB: renaming a
    // column on a million-file table is one manifest write, and the
    // per-file chain probe costs one footer-name lookup at open time.
    Decl(
      "s35_rename_column",
      s"""WITH latest AS (
         |  SELECT o_totalprice
         |    + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS price
         |  FROM orders WHERE o_orderkey % 4 IN (0, 2)),
         |v1 AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 4 = 0)
         |SELECT 'RENAME COLUMN' AS op, true AS metadata_only,
         |  'price' AS latest_col, 'o_totalprice' AS v1_col,
         |  (SELECT count(*) FROM latest) AS n,
         |  (SELECT ${Qh.oSum2("price")} FROM latest) AS total,
         |  (SELECT count(*) FROM v1) AS n_v1,
         |  (SELECT ${Qh.oSum2("o_totalprice")} FROM v1) AS total_v1""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogDml}
      val root = ioDir("s35_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
      ord.filter($"o_orderkey" % 4 === 0)
        .select($"o_orderkey", $"o_totalprice").repartition(1)
        .write.format("commitlog").option("path", root).mode("append").save()
      def parquetCount(): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
          .asScala.count(_.toString.endsWith(".parquet"))
      }
      val before = parquetCount()
      CommitLog.renameColumn(root, "o_totalprice", "price") // v2
      val metadataOnly = parquetCount() == before
      ord.filter($"o_orderkey" % 4 === 2)
        .select($"o_orderkey", $"o_totalprice".as("price")).repartition(1)
        .write.format("commitlog").option("path", root).mode("append").save()
      CommitLogDml.update(s, root, "o_orderkey % 97 = 0",
        Seq("price" -> "price + 1")) // v4, through the new name, both eras
      // the DV-leg update leaves the table merge-on-read: read latest
      // through the reconciling snapshot (the S23 read shape)
      val latest = graft.sources.CommitLogMerge.snapshot(s, root)
      val v1 = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", 1).load()
      val latestAgg = latest
        .agg(count(lit(1)).as("n"), Qh.sumd2($"price").as("total"))
      val v1Agg = v1
        .agg(count(lit(1)).as("n_v1"), Qh.sumd2($"o_totalprice").as("total_v1"))
      latestAgg.crossJoin(v1Agg).select(
        lit(CommitLog.history(root)(1).operation.orNull).as("op"),
        lit(metadataOnly).as("metadata_only"),
        lit(latest.columns.last).as("latest_col"),
        lit(v1.columns.last).as("v1_col"),
        $"n", $"total", $"n_v1", $"total_v1")
    },

    // S36: DROP COLUMN under column mapping — the metadata-only narrow
    // (CommitLog.dropColumn): the commit records the narrowed DDL and
    // RESERVES the column's whole name chain forever (old files still
    // carry data under those names — re-declaring any of them would
    // resurrect zombie values, so the evolution gate rejects them for
    // the table's lifetime; the decl pins that rejection). Readers
    // stop projecting the column at zero rewrite cost (pinned: no
    // parquet file touched); TIME TRAVEL still reads the era's schema
    // and the dropped column's data (pinned via a v1 predicate on the
    // dropped column); physical purge happens as a side effect of any
    // COW rewrite or OPTIMIZE (CommitLogDropColumnSpec pins the purged
    // footer, the reserve surviving checkpoint+vacuum replay, the
    // rename-chain reserve, CHECK/last-column guards, and a clone
    // carrying both registries). At 100 TB: dropping a column from a
    // million-file table is one manifest write, and the storage
    // reclaims incrementally through maintenance already scheduled.
    Decl(
      "s36_drop_column",
      s"""WITH latest AS (
         |  SELECT o_totalprice FROM orders WHERE o_orderkey % 4 IN (0, 2)),
         |v1 AS (
         |  SELECT count(*) AS n_o FROM orders
         |  WHERE o_orderkey % 4 = 0 AND o_orderstatus = 'O')
         |SELECT 'DROP COLUMN' AS op, true AS metadata_only,
         |  true AS readd_rejected, CAST(2 AS INT) AS n_cols,
         |  (SELECT count(*) FROM latest) AS n,
         |  (SELECT ${Qh.oSum2("o_totalprice")} FROM latest) AS total,
         |  (SELECT n_o FROM v1) AS n_o_v1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val root = ioDir("s36_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
      ord.filter($"o_orderkey" % 4 === 0)
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
        .repartition(1)
        .write.format("commitlog").option("path", root).mode("append").save()
      def parquetCount(): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
          .asScala.count(_.toString.endsWith(".parquet"))
      }
      val before = parquetCount()
      CommitLog.dropColumn(root, "o_orderstatus") // v2
      val metadataOnly = parquetCount() == before
      ord.filter($"o_orderkey" % 4 === 2)
        .select($"o_orderkey", $"o_totalprice").repartition(1)
        .write.format("commitlog").option("path", root).mode("append").save()
      val readdRejected =
        try {
          ord.filter($"o_orderkey" % 4 === 1).limit(1)
            .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
            .repartition(1)
            .write.format("commitlog").option("path", root).mode("append").save()
          false
        } catch {
          case e: Throwable =>
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .exists(_.isInstanceOf[CommitLog.SchemaChangeException])
        }
      val latest = s.read.format("commitlog").option("path", root).load()
      val nOv1 = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", 1).load()
        .filter($"o_orderstatus" === "O").count()
      latest
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
        .select(
          lit(CommitLog.history(root)(1).operation.orNull).as("op"),
          lit(metadataOnly).as("metadata_only"),
          lit(readdRejected).as("readd_rejected"),
          lit(latest.columns.length).as("n_cols"),
          $"n", $"total", lit(nOv1).as("n_o_v1"))
    },

    // S37: SQL CATALOG — the lakehouse behind `spark.sql`: a DSv2
    // TableCatalog (graft.sources.GraftCatalog) resolves a warehouse
    // directory of commitlog tables, so CREATE TABLE / INSERT INTO /
    // SELECT / VERSION AS OF / ALTER TABLE RENAME COLUMN run as plain
    // SQL against the same log every path-addressed verb uses — the
    // decl's whole pipeline is SQL statements. The catalog holds NO
    // state (a table IS its directory; resolution is one
    // latestVersion listing), so concurrent sessions arbitrate through
    // the optimistic commit protocol unchanged. The decl creates a
    // table, loads it from the parquet fixture via SQL in two inserts,
    // renames a column mid-history, inserts under the new name, and
    // reads: latest (one logical column over three file eras), a
    // VERSION AS OF count, and the audited verb trail. GraftCatalogSpec
    // pins SHOW TABLES, TIMESTAMP AS OF, ADD/DROP COLUMN, RENAME TO,
    // DROP TABLE, manifest-stat pruning through catalog scans, and
    // identifier hygiene.
    Decl(
      "s37_sql_catalog",
      s"""WITH latest AS (
         |  SELECT o_totalprice AS price FROM orders
         |  WHERE o_orderkey % 4 IN (0, 1, 2)),
         |v2 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 4 = 0)
         |SELECT 'CREATE TABLE' AS op_v1, 'RENAME COLUMN' AS op_v4,
         |  (SELECT count(*) FROM latest) AS n,
         |  (SELECT ${Qh.oSum2("price")} FROM latest) AS total,
         |  (SELECT n FROM v2) AS n_v2""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val wh = ioDir("s37_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt37", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt37.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt37.sqldb")
      s.sql("CREATE TABLE gt37.sqldb.ord (o_orderkey BIGINT, o_totalprice DOUBLE)")
      val src = s"parquet.`$dir/orders.parquet`"
      def ins(m: Int, col: String): Unit =
        s.sql(s"INSERT INTO gt37.sqldb.ord SELECT o_orderkey, " +
          s"o_totalprice AS $col FROM $src WHERE o_orderkey % 4 = $m")
      ins(0, "o_totalprice") // v2
      ins(2, "o_totalprice") // v3
      s.sql("ALTER TABLE gt37.sqldb.ord RENAME COLUMN o_totalprice TO price") // v4
      ins(1, "price") // v5
      val root = s"$wh/sqldb/ord"
      val nV2 = s.sql("SELECT count(*) AS n FROM gt37.sqldb.ord VERSION AS OF 2")
        .head().getLong(0)
      s.sql("SELECT price FROM gt37.sqldb.ord")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"price").as("total"))
        .select(
          lit(CommitLog.history(root).head.operation.orNull).as("op_v1"),
          lit(CommitLog.history(root)(3).operation.orNull).as("op_v4"),
          $"n", $"total", lit(nV2).as("n_v2"))
    },

    // S38: ROW-LEVEL SQL — UPDATE, MERGE INTO and arbitrary-expression
    // DELETE as plain spark.sql against a catalog table, through
    // Spark's SupportsRowLevelOperations contract
    // (graft.sources.CommitLogRowLevelOperation): the rewrite rules
    // read the table through the operation's scan (which requires the
    // `_batch` metadata column — that is what routes the write through
    // the metadata-projecting task, stripping Spark's internal
    // __row_operation marker), compute the post-command rows, and the
    // replace-write commits removed=the read snapshot, added=one fresh
    // batch, SERIALIZABLY at readVersion+1 (rivals abort, never
    // rebase). The honest group-based COW baseline: no filter pushdown
    // on the replace scan (a pruned file would silently lose rows).
    // The decl's whole pipeline is SQL: CREATE/INSERT, then UPDATE
    // (+1 on %97 keys), MERGE INTO against a source view (delete 'F'
    // rows, upsert %4=1∧%13=0 rows at price+2), then expression DELETE
    // (o_orderkey % 89 = 0 — the predicate the metadata path refuses).
    // CommitLogRowLevelSpec pins DV compaction by rewrite, CHECK
    // gating, and empty-result replaces.
    Decl(
      "s38_sql_row_level",
      s"""WITH base AS (
         |  SELECT o_orderkey AS k,
         |    o_totalprice
         |      + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS p,
         |    o_orderstatus AS st
         |  FROM orders WHERE o_orderkey % 4 = 0),
         |merged AS (
         |  SELECT k, p FROM base WHERE st <> 'F'
         |  UNION ALL
         |  SELECT o_orderkey, o_totalprice + 2 FROM orders
         |  WHERE o_orderkey % 4 = 1 AND o_orderkey % 13 = 0),
         |final AS (SELECT k, p FROM merged WHERE k % 89 <> 0)
         |SELECT 'UPDATE' AS op_u, 'MERGE' AS op_m, 'DELETE' AS op_d,
         |  CAST(count(*) AS BIGINT) AS n, ${Qh.oSum2("p")} AS total
         |FROM final""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val wh = ioDir("s38_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt38", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt38.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt38.db")
      s.sql("CREATE TABLE gt38.db.ord (k BIGINT, p DOUBLE, st STRING)")
      val src = s"parquet.`$dir/orders.parquet`"
      s.sql(s"INSERT INTO gt38.db.ord SELECT o_orderkey, o_totalprice, " +
        s"o_orderstatus FROM $src WHERE o_orderkey % 4 = 0")
      s.sql("UPDATE gt38.db.ord SET p = p + 1 WHERE k % 97 = 0")
      // the MATCHED clause (never fires: source keys are %4=1, table
      // holds %4=0) keeps Spark on the row-level plan — an insert-only
      // MERGE would optimize into a plain append
      s.sql(s"""MERGE INTO gt38.db.ord AS t USING (
        SELECT o_orderkey AS k, o_totalprice AS np FROM $src
        WHERE o_orderkey % 4 = 1 AND o_orderkey % 13 = 0) AS m ON t.k = m.k
        WHEN MATCHED THEN UPDATE SET p = m.np + 2
        WHEN NOT MATCHED THEN INSERT (k, p, st) VALUES (m.k, m.np + 2, 'X')""")
      s.sql("DELETE FROM gt38.db.ord WHERE st = 'F'")
      s.sql("DELETE FROM gt38.db.ord WHERE k % 89 = 0") // expression path
      val root = s"$wh/db/ord"
      val ops = CommitLog.history(root).flatMap(_.operation)
      s.sql("SELECT k, p FROM gt38.db.ord")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"p").as("total"))
        .select(
          lit(ops.find(_ == "UPDATE").orNull).as("op_u"),
          lit(ops.find(_ == "MERGE").orNull).as("op_m"),
          lit(ops.find(_ == "DELETE").orNull).as("op_d"),
          $"n", $"total")
    },

    // S39: INSERT OVERWRITE + replaceWhere — the connector's overwrite
    // verbs (graft.sources.CommitLogOverwriteWrite), each ONE atomic
    // manifest so a reader sees the old region or the new region,
    // never neither (the idempotent-backfill contract: re-running a
    // failed reload converges instead of double-appending). SQL
    // `INSERT OVERWRITE` / `mode("overwrite")` removes every live
    // batch (deletion vectors included) and adds the staged data, with
    // the removal list RE-RESOLVED per commit attempt so a mid-race
    // rival append falls inside the overwrite; `writeTo(...)
    // .overwrite(cond)` / `option("replaceWhere", …)` rewrites only
    // the touched batches without the matching rows (COW), publishing
    // SERIALIZABLE at readVersion+1, with incoming rows validated to
    // lie INSIDE the replaced region (Delta's replaceWhere contract).
    // The decl loads two region batches via SQL, reloads region m=0
    // with +5 prices through replaceWhere (v4), then full-overwrites
    // with the other half of orders at doubled prices (v5), and reads
    // all three versions through SQL time travel plus the audited verb
    // labels. CommitLogOverwriteSpec pins untouched-batch survival,
    // containment refusal, CHECK gating, DV cleanup, and the
    // one-version atomicity.
    Decl(
      "s39_insert_overwrite",
      s"""WITH v3 AS (
         |  SELECT count(*) AS n, ${Qh.oSum2("o_totalprice")} AS total
         |  FROM orders WHERE o_orderkey % 4 IN (0, 1)),
         |v4 AS (
         |  SELECT count(*) AS n, ${Qh.oSum2("p")} AS total FROM (
         |    SELECT o_totalprice + 5 AS p FROM orders WHERE o_orderkey % 4 = 0
         |    UNION ALL
         |    SELECT o_totalprice FROM orders WHERE o_orderkey % 4 = 1)),
         |v5 AS (
         |  SELECT count(*) AS n, ${Qh.oSum2("p")} AS total FROM (
         |    SELECT o_totalprice * 2 AS p FROM orders
         |    WHERE o_orderkey % 4 IN (2, 3)))
         |SELECT CAST(3 AS BIGINT) AS version, 'WRITE' AS op, n, total FROM v3
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), 'OVERWRITE WHERE', n, total FROM v4
         |UNION ALL
         |SELECT CAST(5 AS BIGINT), 'OVERWRITE', n, total FROM v5
         |ORDER BY version""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val wh = ioDir("s39_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt39", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt39.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt39.db")
      s.sql("CREATE TABLE gt39.db.ow (k BIGINT, p DOUBLE, m BIGINT)")
      val src = s"parquet.`$dir/orders.parquet`"
      s.sql(s"INSERT INTO gt39.db.ow SELECT o_orderkey, o_totalprice, 0 " +
        s"FROM $src WHERE o_orderkey % 4 = 0") // v2: region m=0
      s.sql(s"INSERT INTO gt39.db.ow SELECT o_orderkey, o_totalprice, 1 " +
        s"FROM $src WHERE o_orderkey % 4 = 1") // v3: region m=1
      // v4: idempotent reload of region m=0 (one atomic commit; the
      // m=1 batch is neither read nor rewritten)
      Qh.t(s, dir, "orders").filter($"o_orderkey" % 4 === 0)
        .select($"o_orderkey".as("k"), ($"o_totalprice" + 5).as("p"),
          lit(0L).as("m"))
        .writeTo("gt39.db.ow").overwrite($"m" === 0L)
      // v5: full overwrite — truncate + add in one manifest
      s.sql(s"INSERT OVERWRITE gt39.db.ow SELECT o_orderkey, " +
        s"o_totalprice * 2, o_orderkey % 4 FROM $src " +
        "WHERE o_orderkey % 4 IN (2, 3)")
      val root = s"$wh/db/ow"
      val opOf = CommitLog.history(root)
        .map(h => h.version -> h.operation.orNull).toMap
      def asOf(v: Int) =
        s.sql(s"SELECT p FROM gt39.db.ow VERSION AS OF $v")
          .agg(count(lit(1)).as("n"), Qh.sumd2($"p").as("total"))
          .select(lit(v.toLong).as("version"), lit(opOf(v)).as("op"),
            $"n", $"total")
      asOf(3).unionAll(asOf(4)).unionAll(asOf(5)).orderBy("version")
    },

    // S40: PARTITIONED TABLE — `CREATE TABLE … PARTITIONED BY (region)`
    // over the commit log: every write lands ONE BATCH PER PARTITION
    // TUPLE with the tuple recorded in the manifest
    // (CommitLog.Parts), so (a) planning prunes EXACTLY — a string
    // equality keeps one batch of three, decided from metadata the
    // snapshot replay already paid for (boxes are numeric ranges,
    // blooms probabilistic membership; a tuple evaluates ANY
    // deterministic predicate definitively, CommitLogPartitions); and
    // (b) partition-level verbs are METADATA-ONLY — dynamic partition
    // overwrite (`writeTo.overwritePartitions()`) and partition-aligned
    // replaceWhere drop whole batches from the manifest with zero data
    // reads, the Hive INSERT OVERWRITE shapes at lakehouse atomicity.
    // The decl loads three region partitions from orders via SQL,
    // reloads 'eu' through dynamic overwrite (doubled prices),
    // reloads 'ap' through partition-aligned replaceWhere (+10 on a
    // %7 subset), then reads per-region aggregates plus the planned-
    // partition count for a region equality (pinned 1-of-3) and the
    // audited verb labels. CommitLogPartitionSpec pins batch-per-tuple
    // layout, NOT/IN/IS NULL pruning, metadata-only overwrite legs,
    // per-partition OPTIMIZE, clone carry, and the immutability edges.
    Decl(
      "s40_partitioned_table",
      s"""WITH final AS (
         |  SELECT 'us' AS region, o_totalprice AS p FROM orders
         |  WHERE o_orderkey % 3 = 0
         |  UNION ALL
         |  SELECT 'eu', o_totalprice * 2 FROM orders WHERE o_orderkey % 3 = 1
         |  UNION ALL
         |  SELECT 'ap', o_totalprice + 10 FROM orders
         |  WHERE o_orderkey % 3 = 2 AND o_orderkey % 7 = 0)
         |SELECT region, count(*) AS n, ${Qh.oSum2("p")} AS total,
         |  CAST(1 AS INT) AS planned_us, CAST(3 AS INT) AS planned_all,
         |  'OVERWRITE PARTITIONS' AS op_dyn, 'OVERWRITE WHERE' AS op_rw
         |FROM final GROUP BY region ORDER BY region""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val wh = ioDir("s40_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt40", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt40.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt40.db")
      s.sql("CREATE TABLE gt40.db.pt (k BIGINT, p DOUBLE, region STRING) " +
        "PARTITIONED BY (region)")
      val src = s"parquet.`$dir/orders.parquet`"
      s.sql(s"INSERT INTO gt40.db.pt SELECT o_orderkey, o_totalprice, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN 'us' " +
        "WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END " +
        s"FROM $src") // v2: three tuple batches in one commit
      // v3: reload 'eu' via DYNAMIC overwrite — removal decided from
      // manifest tuples, zero data reads
      Qh.t(s, dir, "orders").filter($"o_orderkey" % 3 === 1)
        .select($"o_orderkey".as("k"), ($"o_totalprice" * 2).as("p"),
          lit("eu").as("region"))
        .writeTo("gt40.db.pt").overwritePartitions()
      // v4: reload 'ap' via partition-aligned replaceWhere — the
      // predicate classifies every batch from its tuple, so the old
      // 'ap' batch drops as pure metadata (no scan, no rewrite)
      Qh.t(s, dir, "orders")
        .filter($"o_orderkey" % 3 === 2 && $"o_orderkey" % 7 === 0)
        .select($"o_orderkey".as("k"), ($"o_totalprice" + 10).as("p"),
          lit("ap").as("region"))
        .writeTo("gt40.db.pt").overwrite($"region" === "ap")
      val root = s"$wh/db/pt"
      val ops = CommitLog.history(root).flatMap(_.operation)
      def plannedOf(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val pUs = plannedOf(s.sql("SELECT * FROM gt40.db.pt WHERE region = 'us'"))
      val pAll = plannedOf(s.sql("SELECT * FROM gt40.db.pt"))
      s.sql("SELECT region, p FROM gt40.db.pt")
        .groupBy($"region")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"p").as("total"))
        .select($"region", $"n", $"total",
          lit(pUs).as("planned_us"), lit(pAll).as("planned_all"),
          lit(ops.find(_ == "OVERWRITE PARTITIONS").orNull).as("op_dyn"),
          lit(ops.find(_ == "OVERWRITE WHERE").orNull).as("op_rw"))
        .orderBy("region")
    },

    // S41: DELTA-BASED (merge-on-read) row-level SQL — the
    // SupportsDelta twin of s38's group-based COW
    // (graft.sources.CommitLogDeltaOperation, selected by
    // spark.graft.rowLevel.mode=delta): UPDATE / MERGE INTO /
    // expression DELETE write ONLY the changed rows — deleted
    // positions land as a `dv-` batch keyed by the scan's
    // (_row_file, _row_pos) metadata identity, postimages/inserts as
    // a data batch — and the touched batches SURVIVE unrewritten.
    // Updating 50 rows of a million-row table costs 50 positions + 50
    // postimages (S23's write amplification behind plain SQL), at the
    // standing MOR price: reads reconcile the (deletes-sized) DVs at
    // plan time until a COW verb absorbs them. Unlike the COW
    // operation's scan, the delta scan safely prunes (an unread row
    // is simply unmatched — nothing unread is rewritten away), so the
    // matched-row search uses manifest boxes/blooms/tuples like any
    // query. The decl runs s38's relational pipeline in delta mode
    // and PINS the physical contract: the base batch survives every
    // statement (base_survives) and deletion vectors are outstanding
    // at the end (has_dv). CommitLogDeltaSpec pins the per-verb batch
    // shapes, CHECK gating, no-op statements, and cow/delta content
    // agreement.
    Decl(
      "s41_sql_delta_dml",
      s"""WITH base AS (
         |  SELECT o_orderkey AS k,
         |    o_totalprice
         |      + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS p,
         |    o_orderstatus AS st
         |  FROM orders WHERE o_orderkey % 4 = 0),
         |merged AS (
         |  SELECT k, p FROM base WHERE st <> 'F'
         |  UNION ALL
         |  SELECT o_orderkey, o_totalprice + 2 FROM orders
         |  WHERE o_orderkey % 4 = 1 AND o_orderkey % 13 = 0),
         |final AS (SELECT k, p FROM merged WHERE k % 89 <> 0)
         |SELECT CAST(count(*) AS BIGINT) AS n, ${Qh.oSum2("p")} AS total,
         |  CAST(1 AS INT) AS base_survives, CAST(1 AS INT) AS has_dv
         |FROM final""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogMerge}
      val wh = ioDir("s41_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      // rowLevel.mode=delta rides an ISOLATED child session: Verify
      // runs decls concurrently, and flipping the shared session's
      // mode would re-leg a rival decl's UPDATE/MERGE mid-flight
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.gt41", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gt41.warehouse", wh)
      s2.sql("CREATE NAMESPACE IF NOT EXISTS gt41.db")
      s2.sql("CREATE TABLE gt41.db.ord (k BIGINT, p DOUBLE, st STRING)")
      val src = s"parquet.`$dir/orders.parquet`"
      s2.sql(s"INSERT INTO gt41.db.ord SELECT o_orderkey, o_totalprice, " +
        s"o_orderstatus FROM $src WHERE o_orderkey % 4 = 0")
      val root = s"$wh/db/ord"
      val baseBatches = CommitLog.files(root, CommitLog.latestVersion(root))
      s2.conf.set("spark.graft.rowLevel.mode", "delta")
      s2.sql("UPDATE gt41.db.ord SET p = p + 1 WHERE k % 97 = 0")
      // the source carries BOTH the table's 'F' keys (matched →
      // DELETE) and fresh %4=1 keys (unmatched → INSERT)
      s2.sql(s"""MERGE INTO gt41.db.ord AS t USING (
        SELECT o_orderkey AS k, o_totalprice AS np FROM $src
        WHERE (o_orderkey % 4 = 0 AND o_orderstatus = 'F')
           OR (o_orderkey % 4 = 1 AND o_orderkey % 13 = 0)) AS m
        ON t.k = m.k
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, p, st) VALUES (m.k, m.np + 2, 'X')""")
      s2.sql("DELETE FROM gt41.db.ord WHERE k % 89 = 0") // expression path
      val v = CommitLog.latestVersion(root)
      val live = CommitLog.files(root, v)
      val baseSurvives = if (baseBatches.forall(live.contains)) 1 else 0
      val hasDv =
        if (live.exists(_.startsWith(CommitLogMerge.DvPrefix))) 1 else 0
      s2.sql("SELECT k, p FROM gt41.db.ord")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"p").as("total"))
        .select($"n", $"total",
          lit(baseSurvives).as("base_survives"), lit(hasDv).as("has_dv"))
    },

    // S42: METADATA-ONLY AGGREGATES — the connector's complete
    // aggregate pushdown (CommitLogScanBuilder.pushAggregation):
    // an unfiltered COUNT(*) / MIN / MAX, optionally GROUP BY the
    // partition columns, is answered entirely from commit metadata —
    // counts from the manifests' exact per-batch row counts
    // (CommitLog.Rows, committed by the sink as rows stream through),
    // MIN/MAX from the stats boxes where the boxed double is provably
    // the exact value, groups from the recorded partition tuples. The
    // scan plans ONE metadata partition and opens ZERO data files — at
    // 100 TB, `SELECT count(*)` costs a checkpoint+delta replay
    // instead of a million-file scan (Delta/Iceberg answer the same
    // shapes from their logs). Anything unprovable — a WHERE clause
    // (all connector filters stay residual), outstanding deletion
    // vectors, an uncounted or unboxed batch, a lossy box type —
    // declines, and the scan runs normally. The decl pins the plan
    // shape itself: meta_only=1 requires every BatchScan of both the
    // grouped and the global aggregate to be the metadata scan.
    // CommitLogMetadataSpec pins count survival through checkpoint/
    // vacuum/OPTIMIZE/ZORDER, the DV and WHERE declines, and the
    // rejection edges.
    Decl(
      "s42_metadata_agg",
      s"""WITH t AS (
         |  SELECT o_orderkey AS k, o_totalprice AS p,
         |    CASE WHEN o_orderkey % 3 = 0 THEN 'us'
         |         WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END AS region
         |  FROM orders)
         |SELECT region, CAST(count(*) AS BIGINT) AS n, max(k) AS max_k,
         |  CAST(1 AS INT) AS meta_only, CAST(1 AS INT) AS one_partition
         |FROM t GROUP BY region
         |UNION ALL
         |SELECT '*', CAST(count(*) AS BIGINT), max(k), 1, 1 FROM t
         |ORDER BY region""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s42_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt42", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt42.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt42.db")
      s.sql("CREATE TABLE gt42.db.ma (k BIGINT, p DOUBLE, region STRING) " +
        "PARTITIONED BY (region)")
      s.sql(s"INSERT INTO gt42.db.ma SELECT o_orderkey, o_totalprice, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN 'us' " +
        "WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END " +
        s"FROM parquet.`$dir/orders.parquet`")
      val grouped = s.sql(
        "SELECT region, count(*) AS n, max(k) AS max_k FROM gt42.db.ma " +
          "GROUP BY region")
      val global = s.sql("SELECT count(*) AS n, max(k) AS max_k FROM gt42.db.ma")
      def scans(df: org.apache.spark.sql.DataFrame) =
        Qh.flattenPlan(df.queryExecution.executedPlan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
      val all = scans(grouped) ++ scans(global)
      val metaOnly =
        if (all.nonEmpty && all.forall(
            _.scan.isInstanceOf[graft.sources.CommitLogAggScan])) 1 else 0
      val onePartition =
        if (all.forall(_.inputPartitions.length == 1)) 1 else 0
      grouped
        .unionAll(global.select(lit("*").as("region"), $"n", $"max_k"))
        .select($"region", $"n", $"max_k",
          lit(metaOnly).as("meta_only"), lit(onePartition).as("one_partition"))
        .orderBy("region")
    },

    // S43: STORAGE-PARTITIONED JOIN — the v2 form of the co-bucketed
    // J14, through the connector: both tables are PARTITIONED BY the
    // join key, every batch is one partition tuple, and the scan
    // reports identity KeyGroupedPartitioning with each file partition
    // exposing its tuple as the partition key (HasPartitionKey) — so
    // under `spark.sql.sources.v2.bucketing.enabled` Spark aligns the
    // key groups of BOTH sides and plans the join with ZERO shuffle
    // (Iceberg's SPJ). The downstream GROUP BY the same key also rides
    // the reported partitioning exchange-free. At 100 TB this deletes
    // the two largest exchanges a warehouse runs — both fact tables
    // move no bytes. The decl pins the shape: shuffles=0 counts every
    // ShuffleExchange in the executed plan (AQE-flattened), smj=1
    // requires the sort-merge join to be present (broadcast disabled),
    // and the per-key aggregate is oracle-checked against the plain
    // relational join. CommitLogMetadataSpec pins the same plan shape
    // through SQL.
    Decl(
      "s43_spj_join",
      s"""WITH c AS (
         |  SELECT c_custkey AS ck, c_custkey % 8 AS m FROM customer),
         |o AS (
         |  SELECT o_orderkey AS k, o_totalprice AS p, o_orderkey % 8 AS m
         |  FROM orders)
         |SELECT c.m, CAST(count(*) AS BIGINT) AS n, ${Qh.oSum2("o.p")} AS total,
         |  CAST(0 AS INT) AS shuffles, CAST(1 AS INT) AS smj
         |FROM c JOIN o ON c.m = o.m AND c.ck = o.k
         |GROUP BY c.m ORDER BY c.m""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s43_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      // Verify runs decls CONCURRENTLY on one session; behavior confs
      // (broadcast threshold, bucketing) go in an ISOLATED child
      // session so no rival decl plans under them
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.gt43", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gt43.warehouse", wh)
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // join keys are a SUPERSET of the partition keys (the selective
      // real-world shape: equi-join on the row key, co-partitioned on
      // its hash class) — KeyGroupedPartitioning(m) satisfies
      // clustering on (m, k) only when Spark is not forced to demand
      // all cluster keys for co-partitioning
      s2.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      s2.sql("CREATE NAMESPACE IF NOT EXISTS gt43.db")
      s2.sql("CREATE TABLE gt43.db.cust (ck BIGINT, m BIGINT) PARTITIONED BY (m)")
      s2.sql("CREATE TABLE gt43.db.ord (k BIGINT, p DOUBLE, m BIGINT) " +
        "PARTITIONED BY (m)")
      s2.sql(s"INSERT INTO gt43.db.cust SELECT c_custkey, c_custkey % 8 " +
        s"FROM parquet.`$dir/customer.parquet`")
      s2.sql(s"INSERT INTO gt43.db.ord SELECT o_orderkey, o_totalprice, " +
        s"o_orderkey % 8 FROM parquet.`$dir/orders.parquet`")
      val j = s2.sql(
        "SELECT c.m AS m, count(*) AS n, " +
          "CAST(sum(CAST(o.p AS DECIMAL(18,2))) AS DOUBLE) AS total " +
          "FROM gt43.db.cust c JOIN gt43.db.ord o " +
          "ON c.m = o.m AND c.ck = o.k " +
          "GROUP BY c.m")
      // collect() drives THIS dataset's own QueryExecution (head()
      // would execute a limited clone and leave these exec nodes
      // unexecuted), so the shape read below is the FINAL adaptive plan
      j.collect()
      val all = Qh.flattenPlan(j.queryExecution.executedPlan)
      val shuffles = all.count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      val smj = if (all.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
        1 else 0
      // re-state the aggregate (same SPJ plan) with the pinned shape
      j.select($"m", $"n", $"total",
        lit(shuffles).as("shuffles"), lit(smj).as("smj"))
        .orderBy("m")
    },

    // S44: STATISTICS-DRIVEN AUTO-BROADCAST — the connector reports
    // post-pruning statistics from commit metadata
    // (CommitLogScan.estimateStatistics: sizeInBytes from the
    // surviving batches' files, rowCount EXACT when every batch
    // carries a committed count and no DVs are outstanding), so
    // Spark's join planner broadcasts a small commitlog dimension
    // WITHOUT a hint. A DSv2 source that reports no statistics
    // defaults to spark.sql.defaultSizeInBytes (≈ Long.Max) and can
    // NEVER be auto-broadcast — at 100 TB that one missing interface
    // turns every dim join into a full shuffle of the fact side. The
    // decl joins the orders fixture against a 1%-of-customers
    // commitlog dim with no hint and pins bhj=1 (a BroadcastHashJoin
    // planned) and build_meta=1 (the broadcast side IS the commitlog
    // scan); the aggregate is oracle-checked relationally.
    Decl(
      "s44_stats_broadcast",
      s"""SELECT CAST(count(*) AS BIGINT) AS n,
         |  ${Qh.oSum2("o.o_totalprice")} AS total,
         |  CAST(1 AS INT) AS bhj, CAST(1 AS INT) AS build_meta
         |FROM orders o
         |JOIN (SELECT c_custkey AS ck FROM customer WHERE c_custkey % 100 = 0) c
         |  ON o.o_custkey = c.ck""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s44_dim")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "customer").filter($"c_custkey" % 100 === 0)
        .select($"c_custkey".as("ck"), $"c_name".as("name"))
        .write.format("commitlog").option("path", root).mode("append").save()
      val dim = s.read.format("commitlog").option("path", root).load()
      val j = Qh.t(s, dir, "orders").join(dim, $"o_custkey" === $"ck")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
      j.collect() // drive THIS QueryExecution — the final adaptive plan
      val all = Qh.flattenPlan(j.queryExecution.executedPlan)
      val bhjs = all.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      val bhj = if (bhjs.nonEmpty) 1 else 0
      val buildMeta = if (bhjs.exists { b =>
        val buildSide = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
          case _ => b.left
        }
        Qh.flattenPlan(buildSide).exists {
          case sc: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            sc.scan.isInstanceOf[graft.sources.CommitLogScan]
          case _ => false
        }
      }) 1 else 0
      j.select($"n", $"total",
        lit(bhj).as("bhj"), lit(buildMeta).as("build_meta"))
    },

    // S45: PARTITION MANAGEMENT — SupportsPartitionManagement on the
    // commitlog table: SHOW PARTITIONS answers from the manifest
    // tuples (pure metadata, zero data reads — the same facet the
    // exact pruning uses), and ALTER TABLE … DROP PARTITION is the
    // METADATA-ONLY removal the dynamic overwrite runs — whole batches
    // drop from the manifest in ONE commit, files stay on disk and the
    // pre-drop version stays readable behind time travel until vacuum
    // (the lakehouse DROP PARTITION, not a file delete). The decl
    // loads three region partitions, SQL-drops 'eu', and pins: the
    // surviving per-region aggregates, the post-drop SHOW PARTITIONS
    // list, and metadata_only=1 — exactly one version consumed, the
    // dropped batch's directory still present, the old version still
    // serving all rows. CommitLogCatalogOpsSpec pins the PARTITION
    // clause filter, re-drop refusal, and ADD PARTITION's refusal.
    Decl(
      "s45_partition_mgmt",
      s"""WITH t AS (
         |  SELECT o_orderkey AS k, o_totalprice AS p,
         |    CASE WHEN o_orderkey % 3 = 0 THEN 'us'
         |         WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END AS region
         |  FROM orders)
         |SELECT region, CAST(count(*) AS BIGINT) AS n,
         |  ${Qh.oSum2("p")} AS total,
         |  'region=ap,region=us' AS live_partitions,
         |  CAST(1 AS INT) AS metadata_only
         |FROM t WHERE region <> 'eu'
         |GROUP BY region ORDER BY region""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val wh = ioDir("s45_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt45", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt45.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt45.db")
      s.sql("CREATE TABLE gt45.db.pm (k BIGINT, p DOUBLE, region STRING) " +
        "PARTITIONED BY (region)")
      s.sql(s"INSERT INTO gt45.db.pm SELECT o_orderkey, o_totalprice, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN 'us' " +
        "WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END " +
        s"FROM parquet.`$dir/orders.parquet`")
      val root = s"$wh/db/pm"
      val vBefore = CommitLog.latestVersion(root)
      val before = CommitLog.files(root, vBefore)
      val allRows = s.sql("SELECT count(*) FROM gt45.db.pm").head().getLong(0)
      s.sql("ALTER TABLE gt45.db.pm DROP PARTITION (region = 'eu')")
      val v = CommitLog.latestVersion(root)
      val dropped = before.toSet -- CommitLog.files(root, v).toSet
      val oldStillServes =
        s.sql(s"SELECT count(*) FROM gt45.db.pm VERSION AS OF $vBefore")
          .head().getLong(0) == allRows
      val metadataOnly =
        if (v == vBefore + 1 && dropped.size == 1 && oldStillServes &&
          new java.io.File(CommitLog.batchPath(root, dropped.head)).exists())
          1 else 0
      val livePartitions = s.sql("SHOW PARTITIONS gt45.db.pm")
        .collect().map(_.getString(0)).sorted.mkString(",")
      s.sql("SELECT region, p FROM gt45.db.pm")
        .groupBy($"region")
        .agg(count(lit(1)).as("n"), Qh.sumd2($"p").as("total"))
        .select($"region", $"n", $"total",
          lit(livePartitions).as("live_partitions"),
          lit(metadataOnly).as("metadata_only"))
        .orderBy("region")
    },

    // S46: ATOMIC CTAS / RTAS — the StagingTableCatalog protocol:
    // CREATE TABLE AS SELECT stages the whole table (write and all)
    // in a HIDDEN directory and publishes with ONE rename, so a failed
    // CTAS leaves nothing (CommitLogCatalogOpsSpec pins the failure
    // path); REPLACE TABLE AS SELECT adopts the staged batches into
    // the target's OWN log as ONE serializable manifest — removed =
    // every live batch, schema restated (the one verb besides RESTORE
    // allowed to roll the DDL backward), the old definition's CHECK
    // constraints tombstoned — so readers see the old table or the new
    // one, never neither, and the old version stays time-travelable
    // exactly like an OVERWRITE. The decl CTAS-loads the %2=0 half of
    // orders, RTAS-replaces with the %2=1 half at doubled prices, and
    // reads BOTH definitions back through SQL time travel with
    // one_commit pinning the atomicity (exactly one version between
    // the two reads) and the audited verb labels.
    Decl(
      "s46_atomic_rtas",
      s"""WITH v2 AS (
         |  SELECT count(*) AS n, ${Qh.oSum2("o_totalprice")} AS total
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |v3 AS (
         |  SELECT count(*) AS n, ${Qh.oSum2("o_totalprice * 2")} AS total
         |  FROM orders WHERE o_orderkey % 2 = 1)
         |SELECT CAST(2 AS BIGINT) AS version, 'CREATE' AS def, n, total,
         |  CAST(1 AS INT) AS one_commit, 'REPLACE TABLE' AS op
         |FROM v2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), 'REPLACE', n, total, 1, 'REPLACE TABLE'
         |FROM v3
         |ORDER BY version""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val wh = ioDir("s46_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt46", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt46.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt46.db")
      val src = s"parquet.`$dir/orders.parquet`"
      // v1 CREATE TABLE (staged, committed by one rename), v2 the data
      s.sql(s"CREATE TABLE gt46.db.at AS SELECT o_orderkey AS k, " +
        s"o_totalprice AS p FROM $src WHERE o_orderkey % 2 = 0")
      val root = s"$wh/db/at"
      val vOld = CommitLog.latestVersion(root)
      // RTAS: one serializable commit swaps the definition
      s.sql(s"REPLACE TABLE gt46.db.at AS SELECT o_orderkey AS k, " +
        s"o_totalprice * 2 AS p FROM $src WHERE o_orderkey % 2 = 1")
      val v = CommitLog.latestVersion(root)
      val oneCommit = if (v == vOld + 1) 1 else 0
      val op = CommitLog.history(root)
        .find(_.version == v).flatMap(_.operation).orNull
      def defAgg(atV: Int, label: String) =
        s.sql(s"SELECT p FROM gt46.db.at VERSION AS OF $atV")
          .agg(count(lit(1)).as("n"), Qh.sumd2($"p").as("total"))
          .select(lit(atV.toLong).as("version"), lit(label).as("def"),
            $"n", $"total", lit(oneCommit).as("one_commit"),
            lit(op).as("op"))
      defAgg(vOld, "CREATE").unionAll(defAgg(v, "REPLACE")).orderBy("version")
    },

    // S47: COLUMN DEFAULT VALUES — `CREATE TABLE … (c T DEFAULT
    // <expr>)` through the catalog (TableCatalogCapability
    // .SUPPORT_COLUMN_DEFAULT_VALUE): Spark's analyzer fills omitted
    // INSERT columns and the DEFAULT keyword from the table's
    // CURRENT_DEFAULT metadata; the engine persists the expressions as
    // their OWN manifest facet (CommitLog.defaultsOf — the stored DDL
    // stays bare, because StructType.toDDL renders `DEFAULT` clauses
    // fromDDL cannot parse, and one leaked clause would brick every
    // later read of the table) and re-attaches them on loadTable.
    // Defaults migrate with RENAME COLUMN, die with DROP COLUMN and
    // REPLACE TABLE, and are REFUSED on ADD COLUMN (evolved columns
    // null-fill old files; accepting a default would silently change
    // what existing rows read as — Delta's exists-default semantics
    // are a different contract). The decl creates a two-default
    // table, runs the three INSERT shapes (omitted columns, partial
    // list, explicit DEFAULT keyword), and oracle-checks the filled
    // values relationally. CommitLogDefaultSpec pins checkpoint/
    // vacuum survival, rename migration, drop retirement, the ADD
    // COLUMN refusal and the REPLACE swap.
    Decl(
      "s47_column_defaults",
      s"""WITH t AS (
         |  SELECT o_orderkey AS k, 'new' AS status, CAST(3 AS BIGINT) AS prio
         |  FROM orders WHERE o_orderkey % 4 = 0
         |  UNION ALL
         |  SELECT o_orderkey, o_orderstatus, 3 FROM orders
         |  WHERE o_orderkey % 4 = 1
         |  UNION ALL
         |  SELECT o_orderkey, 'new', 7 FROM orders WHERE o_orderkey % 4 = 2)
         |SELECT status, prio, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(k) AS BIGINT) AS sum_k
         |FROM t GROUP BY status, prio
         |ORDER BY status, prio""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s47_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt47", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt47.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt47.db")
      s.sql("CREATE TABLE gt47.db.d (k BIGINT, status STRING DEFAULT 'new', " +
        "prio BIGINT DEFAULT 3)")
      val src = s"parquet.`$dir/orders.parquet`"
      // omitted columns → both defaults fill
      s.sql(s"INSERT INTO gt47.db.d (k) SELECT o_orderkey FROM $src " +
        "WHERE o_orderkey % 4 = 0")
      // partial column list → the other default fills
      s.sql(s"INSERT INTO gt47.db.d (k, status) SELECT o_orderkey, " +
        s"o_orderstatus FROM $src WHERE o_orderkey % 4 = 1")
      // explicit DEFAULT keyword beside a real value
      s.sql(s"INSERT INTO gt47.db.d SELECT o_orderkey, DEFAULT, 7 " +
        s"FROM $src WHERE o_orderkey % 4 = 2")
      s.sql("SELECT status, prio, count(*) AS n, sum(k) AS sum_k " +
        "FROM gt47.db.d GROUP BY status, prio ORDER BY status, prio")
    },

    // S48: LIMIT PUSHDOWN (partial) — SupportsPushDownLimit: a LIMIT
    // directly over the scan plans only as many FILES as the
    // manifests' row counts prove necessary (`SELECT * FROM t LIMIT
    // 100` at 100 TB plans one batch instead of a million files);
    // Spark keeps the exact limit above the scan (isPartiallyPushed),
    // so uncounted batches or a filter merely disable the early-out —
    // never correctness — and outstanding deletion vectors (counts
    // become over-estimates) disable it too. The decl loads four
    // counted batches from orders, limits to 100, and pins BOTH plan
    // shapes: planned_limited=1 (the first 3750-row batch covers the
    // limit) vs planned_all=4. CommitLogMetadataSpec pins the
    // two-batch reach and the DV disable.
    Decl(
      "s48_limit_pushdown",
      s"""SELECT CAST(100 AS BIGINT) AS n,
         |  CAST(1 AS INT) AS planned_limited,
         |  CAST(4 AS INT) AS planned_all""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s48_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      (0 to 3).foreach { q =>
        Qh.t(s, dir, "orders").filter($"o_orderkey" % 4 === q)
          .select($"o_orderkey".as("k"), $"o_totalprice".as("p"))
          .repartition(1)
          .write.format("commitlog").option("path", root).mode("append").save()
      }
      def planned(df: org.apache.spark.sql.DataFrame): Int =
        Qh.flattenPlan(df.queryExecution.executedPlan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val limited = s.read.format("commitlog").option("path", root).load()
        .limit(100)
      val pAll = planned(s.read.format("commitlog").option("path", root).load())
      limited.agg(count(lit(1)).as("n"))
        .select($"n",
          lit(planned(limited)).as("planned_limited"),
          lit(pAll).as("planned_all"))
    },

    // S24: MERGE INTO over the commit log — C4's relational MERGE
    // semantics (graft.sources.CommitLogMerge) composed with the
    // optimistic commit protocol, with the physical leg chosen by a
    // WRITE-AMPLIFICATION threshold: merge 1 changes ~2% of the
    // touched rows → DV APPEND (S23's merge-on-read: only positions +
    // new rows land, nothing rewrites); merge 2 deletes ~half → COW
    // REWRITE (S22: touched batches rewrite, and the now-fully-covered
    // DV batch drops from the manifest — the merge doubles as
    // compaction). All three MERGE paths run: merge 1 inserts (%4=1
    // keys, unmatched U), updates (%97 keys, +1) and deletes (%89
    // keys); merge 2 updates the merge-1 inserts (+2 over the original)
    // and deletes the 'O'-status rows. The decl reads all three
    // versions through CommitLogMerge.snapshot (v2 = base − DV + new
    // rows, v3 = the rewrite), so the oracle's relational restatement
    // catches a row lost/duplicated/resurrected at either granularity;
    // the leg columns pin the threshold decision itself, and
    // CommitLogMergeSpec pins two racing merges arbitrating. Scale: the
    // match phase joins a key+position PROJECTION of the base (pruned
    // scan) with the change set once; the rewrite re-reads only touched
    // batches — the Delta MERGE two-pass shape, never a full-width
    // table pass.
    Decl(
      "s24_merge_upsert",
      s"""WITH v1 AS (
         |  SELECT count(*) AS n, ${Qh.oSum2("o_totalprice")} AS total
         |  FROM orders WHERE o_orderkey % 4 = 0),
         |v2 AS (
         |  SELECT count(*) AS n, ${Qh.oSum2("p")} AS total FROM (
         |    SELECT o_totalprice
         |      + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS p
         |    FROM orders
         |    WHERE o_orderkey % 4 = 0
         |      AND NOT (o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
         |    UNION ALL
         |    SELECT o_totalprice FROM orders
         |    WHERE o_orderkey % 4 = 1 AND o_orderkey % 13 = 0)),
         |v3 AS (
         |  SELECT count(*) AS n, ${Qh.oSum2("p")} AS total FROM (
         |    SELECT o_totalprice
         |      + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS p
         |    FROM orders
         |    WHERE o_orderkey % 4 = 0 AND o_orderstatus <> 'O'
         |      AND NOT (o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
         |    UNION ALL
         |    SELECT o_totalprice + 2 FROM orders
         |    WHERE o_orderkey % 4 = 1 AND o_orderkey % 13 = 0))
         |SELECT CAST(1 AS BIGINT) AS version, 'base' AS leg, v1.n, v1.total FROM v1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'dv', v2.n, v2.total FROM v2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), 'cow', v3.n, v3.total FROM v3
         |ORDER BY version""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogMerge}
      val root = ioDir("s24_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ord = Qh.t(s, dir, "orders")
      // seed commit records the batch's row count (rides the write as
      // an observation — r17): both merges' touched-row math then
      // answers from the manifest facet instead of a footer-count job
      val b1Obs = new org.apache.spark.sql.Observation(
        s"s24_b1_${java.util.UUID.randomUUID().toString.take(8)}")
      ord.filter($"o_orderkey" % 4 === 0)
        .observe(b1Obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b1")
      CommitLog.commit(root, 0, added = Seq("b1"),
        rows = Map("b1" -> b1Obs.get("n").asInstanceOf[Long]))
      // merge 1: sparse change set → DV leg. Updates %97 (+1), deletes
      // %89 (U wins the %89∩%97 overlap), inserts %4=1 ∧ %13=0.
      val src1 = ord.filter(
          ($"o_orderkey" % 4 === 0 &&
            ($"o_orderkey" % 97 === 0 || $"o_orderkey" % 89 === 0)) ||
          ($"o_orderkey" % 4 === 1 && $"o_orderkey" % 13 === 0))
        .withColumn("o_totalprice",
          when($"o_orderkey" % 4 === 0 && $"o_orderkey" % 97 === 0,
            $"o_totalprice" + 1).otherwise($"o_totalprice"))
        .withColumn("_op",
          when($"o_orderkey" % 4 === 0 && $"o_orderkey" % 89 === 0 &&
            $"o_orderkey" % 97 =!= 0, lit("D")).otherwise(lit("U")))
      val m1 = CommitLogMerge.merge(s, root, src1, keyCols = Seq("o_orderkey"))
      // merge 2: dense change set → COW leg. Deletes the 'O'-status
      // base rows, updates the merge-1 inserts to original+2.
      val src2 = ord.filter(
          ($"o_orderkey" % 4 === 0 && $"o_orderstatus" === "O") ||
          ($"o_orderkey" % 4 === 1 && $"o_orderkey" % 13 === 0))
        .withColumn("o_totalprice",
          when($"o_orderkey" % 4 === 1, $"o_totalprice" + 2)
            .otherwise($"o_totalprice"))
        .withColumn("_op",
          when($"o_orderkey" % 4 === 0, lit("D")).otherwise(lit("U")))
      val m2 = CommitLogMerge.merge(s, root, src2, keyCols = Seq("o_orderkey"))
      def asOf(v: Int, leg: String) =
        CommitLogMerge.snapshot(s, root, v)
          .agg(count(lit(1)).as("n"), Qh.sumd2($"o_totalprice").as("total"))
          .select(lit(v.toLong).as("version"), lit(leg).as("leg"),
            $"n", $"total")
      asOf(1, "base")
        .unionAll(asOf(m1.version, m1.leg))
        .unionAll(asOf(m2.version, m2.leg))
        .orderBy("version")
    },

    // S23: MERGE-ON-READ deletes via positional DELETION VECTORS — the
    // other half of the lakehouse delete design space next to S22's
    // copy-on-write: a delete commit writes only the (file, row_index)
    // positions of deleted rows (Iceberg position deletes / Delta
    // deletion vectors); data files are NOT rewritten, and readers
    // reconcile at scan time with an anti-join against the DV set.
    // Positions come from the parquet reader's own _metadata
    // (file_path, row_index), so the vector is file-scoped and
    // position-based — the real mechanism, not a key-list stand-in.
    // v3 then COMPACTS: applies the DVs once, rewrites survivors, and
    // the manifest drops the vector — v2 and v3 must agree logically
    // (that equality IS part of the oracle check) while v1 still
    // serves the pre-delete data. Write amplification trade: COW pays
    // at delete time (S22), MOR pays a per-read anti-join until
    // compaction — at 100 TB the DV side of that join is deletes-sized
    // and broadcasts, and compaction is the background job that
    // returns reads to scan speed.
    Decl(
      "s23_merge_on_read",
      oVersionAggs(Seq(
        1 -> "o_orderkey % 4 = 0",
        2 -> "o_orderkey % 4 = 0 AND o_orderstatus <> 'O'",
        3 -> "o_orderkey % 4 = 0 AND o_orderstatus <> 'O'"))) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s23_tbl")
      new java.io.File(s"$root/_log").mkdirs()
      def commit(v: Int, data: Seq[String], dv: Seq[String]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$root/_log/v$v.list"),
          (data.mkString(",") + "\n" + dv.mkString(",")).getBytes("UTF-8"))
      def snapshot(v: Int): org.apache.spark.sql.DataFrame = {
        val lines = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$root/_log/v$v.list")), "UTF-8")
          .split("\n", -1)
        val data = lines(0).split(",").filter(_.nonEmpty).toSeq
        val dvs = lines(1).split(",").filter(_.nonEmpty).toSeq
        val base = s.read.parquet(data.map(b => s"$root/$b"): _*)
          .withColumn("_file", col("_metadata.file_path"))
          .withColumn("_pos", col("_metadata.row_index"))
        val visible =
          if (dvs.isEmpty) base
          else base.join(
            broadcast(s.read.parquet(dvs.map(b => s"$root/$b"): _*)),
            Seq("_file", "_pos"), "left_anti")
        visible.drop("_file", "_pos")
      }
      val ord = Qh.t(s, dir, "orders")
      ord.filter($"o_orderkey" % 4 === 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/b1")
      commit(1, Seq("b1"), Nil)
      // merge-on-read DELETE: only positions are written; b1 untouched
      s.read.parquet(s"$root/b1")
        .select(col("_metadata.file_path").as("_file"),
          col("_metadata.row_index").as("_pos"), $"o_orderstatus")
        .filter($"o_orderstatus" === "O")
        .select($"_file", $"_pos")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/dv1")
      commit(2, Seq("b1"), Seq("dv1"))
      // compaction: reconcile once, rewrite survivors, drop the vector
      snapshot(2).write.mode(SaveMode.Overwrite).parquet(s"$root/b2")
      commit(3, Seq("b2"), Nil)
      versionAggs(snapshot)
    },

    // S50: NESTED + BINARY columns in the commitlog table format — the
    // engine's own north-star columns (embeddings' array<float>, a
    // binary payload, a struct) living IN a commitlog table and
    // composing with the lakehouse verbs: the DSv2 sink writes them
    // (standard 3-level lists / groups — byte-compatible with Spark's
    // own writer, so COW rewrites read back identically), DML deletes
    // run through the leg dial, time travel serves the pre-delete
    // snapshot, and the change feed materializes the deleted rows WITH
    // their nested payloads. Values are content-checked three ways:
    // the array through an exact integer-grid fold of element 1 (same
    // IEEE ops in both engines), the binary by decoding it back to the
    // key it encodes, the struct by recomputing its field. Reference
    // bar: Delta/Iceberg both store these types; without this, L2/L3/L6
    // operators needed a JSON/base64 detour around the lakehouse.
    // CommitLogNestedSpec pins null/empty shapes, the DV row leg and
    // the COW (Spark-written) read-back.
    Decl(
      "s50_commitlog_nested",
      s"""WITH m AS (
         |  SELECT vec_id,
         |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0 + 0.5)
         |      AS BIGINT) AS e1
         |  FROM embeddings)
         |SELECT CAST(1 AS BIGINT) AS version, 'base' AS leg,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(e1) AS BIGINT) AS es,
         |  CAST(count(*) AS BIGINT) AS pay_ok,
         |  CAST(count(*) AS BIGINT) AS src_ok
         |FROM m
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'after_delete',
         |  CAST(count(*) AS BIGINT), CAST(sum(e1) AS BIGINT),
         |  CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT)
         |FROM m WHERE vec_id % 7 <> 0
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'cdf_delete',
         |  CAST(count(*) AS BIGINT), CAST(sum(e1) AS BIGINT),
         |  CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT)
         |FROM m WHERE vec_id % 7 = 0
         |ORDER BY version, leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s50_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "embeddings")
        .withColumn("payload", encode($"vec_id".cast("string"), "UTF-8"))
        .withColumn("meta", struct(
          concat(lit("s"), ($"vec_id" % 5).cast("string")).as("src"),
          size($"embedding").as("dim")))
        .write.format("commitlog").option("path", root).mode("append").save()
      graft.sources.CommitLogDml.delete(s, root, "vec_id % 7 = 0",
        changeFeed = true)
      def legAgg(df: org.apache.spark.sql.DataFrame, v: Long, leg: String) =
        df.agg(
          count(lit(1)).as("n"),
          sum(floor(element_at($"embedding", 1).cast("double") * 1000000.0
            + 0.5).cast("long")).as("es"),
          count(when(decode($"payload", "UTF-8") === $"vec_id".cast("string"),
            1)).as("pay_ok"),
          count(when($"meta.src" ===
            concat(lit("s"), ($"vec_id" % 5).cast("string")) &&
            $"meta.dim" === size($"embedding"), 1)).as("src_ok"))
          .select(lit(v).as("version"), lit(leg).as("leg"),
            $"n", $"es", $"pay_ok", $"src_ok")
      val v1 = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", 1).load()
      val v2 = s.read.format("commitlog").option("path", root).load()
      val cdf = s.read.format("commitlog").option("path", root)
        .option("readChangeFeed", true).option("startingVersion", 1).load()
        .filter(col("_change_type") === "delete")
      legAgg(v1, 1, "base")
        .unionAll(legAgg(v2, 2, "after_delete"))
        .unionAll(legAgg(cdf, 2, "cdf_delete"))
        .orderBy("version", "leg")
    },

    // S51: the MAINTENANCE VERBS as SQL — Spark 4's DSv2 stored
    // procedures (CALL catalog.system.<verb>, the Iceberg surface),
    // implemented by GraftCatalog+GraftProcedures: OPTIMIZE compacts
    // the three insert batches into one pack (dataChange=false),
    // RESTORE rolls the table back to v3 (metadata-sized: 2 re-adds +
    // 1 remove), VACUUM dry-runs retention, and DESCRIBE HISTORY is
    // the history() procedure — the full audit trail of operations,
    // batch deltas and dataChange flags is the oracle-checked output,
    // alongside the verbs' own result rows and the post-restore row
    // count. A SQL-only user can now run the table's whole lifecycle;
    // before this, compaction/rollback/audit needed the Scala API.
    Decl(
      "s51_sql_maintenance",
      s"""WITH c AS (
         |  SELECT CAST(count(*) FILTER (WHERE o_orderkey % 4 = 0) AS INT) AS n0,
         |    CAST(count(*) FILTER (WHERE o_orderkey % 4 = 1) AS INT) AS n1
         |  FROM orders)
         |SELECT 'history' AS leg, 1 AS version, 'CREATE TABLE' AS operation,
         |  0 AS n_added, 0 AS n_removed, true AS data_change,
         |  CAST(NULL AS BIGINT) AS n FROM c
         |UNION ALL SELECT 'history', 2, 'WRITE', 1, 0, true, NULL FROM c
         |UNION ALL SELECT 'history', 3, 'WRITE', 1, 0, true, NULL FROM c
         |UNION ALL SELECT 'history', 4, 'WRITE', 1, 0, true, NULL FROM c
         |UNION ALL SELECT 'history', 5, 'OPTIMIZE', 1, 3, false, NULL FROM c
         |UNION ALL SELECT 'history', 6, 'RESTORE', 2, 1, true, NULL FROM c
         |UNION ALL SELECT 'optimize_result', 5, NULL, 3, NULL, NULL, NULL FROM c
         |UNION ALL SELECT 'restore_result', 6, NULL, 3, NULL, NULL, NULL FROM c
         |UNION ALL SELECT 'vacuum_dry', NULL, NULL, 0, 0, NULL, 1 FROM c
         |UNION ALL SELECT 'rows_after_restore', NULL, NULL, NULL, NULL, NULL,
         |  CAST(n0 + n1 AS BIGINT) FROM c
         |ORDER BY leg, version""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s51_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt51", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt51.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt51.db")
      s.sql("CREATE TABLE gt51.db.t (k BIGINT, p DOUBLE)")
      val src = s"parquet.`$dir/orders.parquet`"
      (0 to 2).foreach { q =>
        s.sql(s"INSERT INTO gt51.db.t SELECT o_orderkey, o_totalprice " +
          s"FROM $src WHERE o_orderkey % 4 = $q")
      }
      // small_bytes = 1 GiB: all three insert batches qualify → one pack
      val opt = s.sql("CALL gt51.system.optimize(tbl => 'db.t', " +
        "small_bytes => 1073741824)").head()
      val res = s.sql(
        "CALL gt51.system.restore(tbl => 'db.t', version => 3)").head()
      // min_age_ms excludes the just-written dirs; keep_last covers all
      // versions → a deterministic (0, 0, 1) dry-run
      val vac = s.sql("CALL gt51.system.vacuum(tbl => 'db.t', " +
        "keep_last => 10, min_age_ms => 3600000, dry_run => true)").head()
      val nAfter = s.table("gt51.db.t").count()
      val hist = s.sql("CALL gt51.system.history(tbl => 'db.t')")
        .select(lit("history").as("leg"), $"version", $"operation",
          $"n_added", $"n_removed", $"data_change",
          lit(null).cast("long").as("n"))
      val verbRows = Seq[(String, Option[Int], Option[String], Option[Int],
          Option[Int], Option[Boolean], Option[Long])](
        ("optimize_result", Some(opt.getInt(0)), None,
          Some(opt.getInt(1)), None, None, None),
        ("restore_result", Some(res.getInt(1)), None,
          Some(res.getInt(0)), None, None, None),
        ("vacuum_dry", None, None, Some(vac.getInt(0)),
          Some(vac.getInt(1)), None, Some(vac.getInt(2).toLong)),
        ("rows_after_restore", None, None, None, None, None, Some(nAfter)))
        .toDF("leg", "version", "operation", "n_added", "n_removed",
          "data_change", "n")
        .select($"leg", $"version".cast("int"), $"operation".cast("string"),
          $"n_added".cast("int"), $"n_removed".cast("int"),
          $"data_change".cast("boolean"), $"n".cast("long"))
      hist.unionAll(verbRows).orderBy("leg", "version")
    },

    // S52 (r12): user TBLPROPERTIES as a log-governed facet — CREATE
    // ... TBLPROPERTIES declares, ALTER TABLE SET/UNSET amends (one
    // tombstoning commit each), SHOW TBLPROPERTIES reads the folded
    // state, REPLACE TABLE swaps the set with the new definition's and
    // RESTORE rolls it back with the schema (TblPropertiesSpec pins
    // clone-carry, checkpoint/vacuum durability and the reserved-key
    // refusal). Values ride base64 in the manifest, so any string is
    // storable. The decl runs the full SQL lifecycle and emits the
    // property set at three checkpoints plus the restored state.
    Decl(
      "s52_tblproperties",
      s"""SELECT * FROM (VALUES
         |  ('created', 'pii', 'false'),
         |  ('created', 'team', 'data-eng'),
         |  ('altered', 'pii', 'true'),
         |  ('altered', 'tier', 'gold'),
         |  ('replaced', 'tier', 'silver'),
         |  ('replaced', 'zone', 'eu'),
         |  ('restored', 'pii', 'true'),
         |  ('restored', 'tier', 'gold')
         |) AS t(stage, key, value)
         |ORDER BY stage, key""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s52_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt52", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt52.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt52.db")
      val userKeys = Seq("pii", "team", "tier", "zone")
      def stage(name: String): org.apache.spark.sql.DataFrame =
        s.sql("SHOW TBLPROPERTIES gt52.db.p")
          .filter($"key".isin(userKeys: _*))
          .select(lit(name).as("stage"), $"key", $"value")
      s.sql("CREATE TABLE gt52.db.p (k BIGINT) " +
        "TBLPROPERTIES('team'='data-eng', 'pii'='false')")
      s.sql(s"INSERT INTO gt52.db.p SELECT o_orderkey " +
        s"FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 4 = 0")
      val created = stage("created")
      s.sql("ALTER TABLE gt52.db.p SET TBLPROPERTIES('pii'='true', 'tier'='gold')")
      s.sql("ALTER TABLE gt52.db.p UNSET TBLPROPERTIES('team')")
      val altered = stage("altered")
      val preReplace = graft.sources.CommitLog
        .latestVersion(s"$wh/db/p")
      s.sql("REPLACE TABLE gt52.db.p (k BIGINT) " +
        "TBLPROPERTIES('tier'='silver', 'zone'='eu')")
      val replaced = stage("replaced")
      graft.sources.CommitLog.restore(s"$wh/db/p", preReplace)
      val restored = stage("restored")
      created.unionAll(altered).unionAll(replaced).unionAll(restored)
        .orderBy("stage", "key")
    },

    // S53: MAP columns in the commitlog table format — the last
    // composite type the format refused (the old contract said
    // "pre-serialize maps"). The sink writes Spark's standard MAP
    // layout (`group (MAP) { repeated group key_value { required key;
    // optional value } }` — byte-compatible with Spark's own writer,
    // so COW rewrites read back identically), the vectorized leg
    // decodes it natively, and the row leg (DV skips / CDF stamps)
    // mirrors it recursively. The decl types `events.props` (the
    // fixture's JSON envelope) into map<string,int> — WITH a
    // null-valued entry exercising optional values — plus a
    // map<string,array<double>> for depth, runs a leg-dialed DML
    // delete, and content-checks v1 / v2 / the CDF deletes through
    // the map accessors against DuckDB recomputing from raw columns.
    // Reference bar: Delta/Iceberg both store maps; events-style
    // property bags previously needed the JSON-string detour.
    // CommitLogNestedSpec pins empty/null maps, the DV row leg, the
    // COW read-back; CommitLogNestedProps fuzzes both legs.
    Decl(
      "s53_commitlog_map",
      s"""WITH m AS (
         |  SELECT event_id,
         |    CAST(json_extract_string(props, '$$.k') AS INT) AS kv,
         |    CAST(user_id % 100 AS INT) AS uv,
         |    CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS z_set,
         |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS wv
         |  FROM events)
         |SELECT CAST(1 AS BIGINT) AS version, 'base' AS leg,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(kv) AS BIGINT) AS ks,
         |  CAST(sum(uv) AS BIGINT) AS us,
         |  CAST(sum(z_set) AS BIGINT) AS zs,
         |  CAST(sum(wv) AS BIGINT) AS ws
         |FROM m
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'after_delete',
         |  CAST(count(*) AS BIGINT), CAST(sum(kv) AS BIGINT),
         |  CAST(sum(uv) AS BIGINT), CAST(sum(z_set) AS BIGINT),
         |  CAST(sum(wv) AS BIGINT)
         |FROM m WHERE event_id % 7 <> 0
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'cdf_delete',
         |  CAST(count(*) AS BIGINT), CAST(sum(kv) AS BIGINT),
         |  CAST(sum(uv) AS BIGINT), CAST(sum(z_set) AS BIGINT),
         |  CAST(sum(wv) AS BIGINT)
         |FROM m WHERE event_id % 7 = 0
         |ORDER BY version, leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s53_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events")
        .select($"event_id",
          map(
            lit("k"), get_json_object($"props", "$.k").cast("int"),
            lit("u"), ($"user_id" % 100).cast("int"),
            lit("z"), when($"event_id" % 3 === 0, lit(1).cast("int")))
            .as("m"),
          map(lit("w"), array($"value", $"value" * 2)).as("mm"))
        .write.format("commitlog").option("path", root).mode("append").save()
      graft.sources.CommitLogDml.delete(s, root, "event_id % 7 = 0",
        changeFeed = true)
      def legAgg(df: org.apache.spark.sql.DataFrame, v: Long, leg: String) =
        df.agg(
          count(lit(1)).as("n"),
          sum(element_at($"m", "k").cast("long")).as("ks"),
          sum(element_at($"m", "u").cast("long")).as("us"),
          count(element_at($"m", "z")).as("zs"),
          sum(floor(element_at(element_at($"mm", "w"), 1) * 1000000.0 + 0.5)
            .cast("long")).as("ws"))
          .select(lit(v).as("version"), lit(leg).as("leg"),
            $"n", $"ks", $"us", $"zs", $"ws")
      val v1 = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", 1).load()
      val v2 = s.read.format("commitlog").option("path", root).load()
      val cdf = s.read.format("commitlog").option("path", root)
        .option("readChangeFeed", true).option("startingVersion", 1).load()
        .filter(col("_change_type") === "delete")
      legAgg(v1, 1, "base")
        .unionAll(legAgg(v2, 2, "after_delete"))
        .unionAll(legAgg(cdf, 2, "cdf_delete"))
        .orderBy("version", "leg")
    },

    // S54: DECLARED WRITE SORT ORDER — `option("sortOrder", c)` (or
    // the `graft.write.sortOrder` table property) makes the sink
    // request an ordered (range) distribution and publish ONE BATCH
    // PER TASK FILE in a single atomic commit, so the log's per-batch
    // stats boxes are born mutually disjoint on the sort key: a
    // point/range filter plans only the files that can hold it —
    // data lands pre-clustered (Iceberg's write order / Delta's
    // OPTIMIZE ZORDER, paid at write time, zero read-path changes).
    // The decl pins the LAYOUT through the gate (8 batches, 0 box
    // overlaps — deterministic under sortBuckets=8) alongside full
    // and range-pruned value checks; SortedWriteSpec pins the plan
    // (a point filter plans 1 of 8 files), the property leg, OPTIMIZE
    // packing and both DML legs over the split batches.
    Decl(
      "s54_sorted_write",
      s"""WITH m AS (
         |  SELECT l_orderkey,
         |    CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT) AS q
         |  FROM lineitem)
         |SELECT 'full' AS leg, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(q) AS BIGINT) AS qs
         |FROM m
         |UNION ALL
         |SELECT 'meta', CAST(8 AS BIGINT), CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'range', CAST(count(*) AS BIGINT), CAST(sum(q) AS BIGINT)
         |FROM m WHERE l_orderkey BETWEEN 1000 AND 2000
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s54_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey", $"l_quantity")
        .write.format("commitlog").option("path", root)
        .option("sortOrder", "l_orderkey").option("sortBuckets", "8")
        .mode("append").save()
      val t = s.read.format("commitlog").option("path", root).load()
      def agg(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.agg(count(lit(1)).as("n"),
          sum(floor($"l_quantity" * 1000000.0 + 0.5).cast("long")).as("qs"))
          .select(lit(leg).as("leg"), $"n", $"qs")
      // layout facts, read from the manifest: batch count and the
      // number of OVERLAPPING sort-key box pairs (0 = range-disjoint)
      val boxes = graft.sources.CommitLog.statsOf(root, 1).values
        .flatMap(_.get("l_orderkey").flatMap(_.box)).toSeq.sortBy(_._1)
      val overlaps = boxes.sliding(2).count {
        case Seq((_, hi1), (lo2, _)) => hi1 > lo2
        case _ => false
      }
      val meta = s.range(1).select(lit("meta").as("leg"),
        lit(graft.sources.CommitLog.files(root, 1).length.toLong).as("n"),
        lit(overlaps.toLong).as("qs"))
      agg(t, "full")
        .unionAll(meta)
        .unionAll(agg(t.filter($"l_orderkey".between(1000, 2000)), "range"))
        .orderBy("leg")
    },

    // S55: DESCRIBE DETAIL as a stored procedure — `CALL
    // <cat>.system.detail(tbl)` returns the metadata-sized table
    // summary (format, version, batch/row counts, partition columns,
    // declared sort order, property/constraint counts), answered
    // ENTIRELY from manifests: zero data reads, the operational
    // visibility verb Delta ships as DESCRIBE DETAIL. The decl runs
    // the lifecycle (CREATE with a sort order + property, two
    // INSERTs, ADD CONSTRAINT) and oracle-checks the summary's
    // deterministic columns (size_bytes and location are env-shaped
    // and excluded).
    Decl(
      "s55_describe_detail",
      s"""SELECT 'commitlog' AS format, CAST(4 AS INT) AS version,
         |  CAST(2 AS INT) AS num_batches,
         |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 3 <> 2)
         |    AS BIGINT) AS num_rows,
         |  '' AS partition_columns, 'ok' AS sort_order,
         |  CAST(3 AS INT) AS num_properties,
         |  CAST(1 AS INT) AS num_constraints""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s55_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt55", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt55.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt55.db")
      // sortBuckets pins the per-insert file count so num_batches
      // stays scale-invariant (AQE would split bigger inserts)
      s.sql("CREATE TABLE gt55.db.d (ok BIGINT, total DOUBLE) " +
        "TBLPROPERTIES('graft.write.sortOrder'='ok', " +
        "'graft.write.sortBuckets'='1', 'team'='data')")
      s.sql(s"INSERT INTO gt55.db.d SELECT o_orderkey, o_totalprice " +
        s"FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 3 = 0")
      s.sql(s"INSERT INTO gt55.db.d SELECT o_orderkey, o_totalprice " +
        s"FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 3 = 1")
      graft.sources.CommitLogWrite.addConstraint(
        s, s"$wh/db/d", "pos", "ok >= 0")
      s.sql("CALL gt55.system.detail(tbl => 'db.d')")
        .select($"format", $"version", $"num_batches", $"num_rows",
          $"partition_columns", $"sort_order",
          $"num_properties", $"num_constraints")
    },

    // S56: GENERATED ALWAYS AS columns (Delta parity) — Spark
    // validates the expression at CREATE (the catalog declares
    // SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS), the definition
    // rides the props facet as `graft.generated.<col>`, and the SINK
    // computes the column per row BEFORE stats boxes and partition
    // routing — so a table PARTITIONED BY a generated date column
    // routes tuples exactly and day filters prune at plan time, while
    // writers never supply (or can corrupt) the derived value. The
    // decl partitions events by the generated event DATE, then checks
    // per-day routing (partition count = distinct days), a
    // single-day read, and that the stored dates equal the
    // recomputation — all against DuckDB deriving the same dates from
    // raw timestamps. GeneratedColumnSpec pins the ALWAYS overwrite,
    // plan-time pruning, the streaming sink and the sortOrder guard.
    Decl(
      "s56_generated_columns",
      s"""WITH m AS (
         |  SELECT CAST(ts AS DATE) AS d,
         |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
         |  FROM events)
         |SELECT 'all' AS leg, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(v) AS BIGINT) AS vs
         |FROM m
         |UNION ALL
         |SELECT 'days', CAST(count(DISTINCT d) AS BIGINT),
         |  CAST(count(DISTINCT d) AS BIGINT)
         |FROM m
         |UNION ALL
         |SELECT 'one_day', CAST(count(*) AS BIGINT), CAST(sum(v) AS BIGINT)
         |FROM m WHERE d = (SELECT min(d) FROM m)
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s56_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt56", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt56.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt56.db")
      s.sql("CREATE TABLE gt56.db.e (ts TIMESTAMP, v DOUBLE, " +
        "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) PARTITIONED BY (d)")
      // ALWAYS: the writer's d is a placeholder; the sink computes it
      Qh.t(s, dir, "events")
        .select($"ts", $"value".as("v"), lit(null).cast("date").as("d"))
        .writeTo("gt56.db.e").append()
      val root = s"$wh/db/e"
      val t = s.table("gt56.db.e")
      def agg(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.agg(count(lit(1)).as("n"),
          sum(floor($"v" * 1000000.0 + 0.5).cast("long")).as("vs"))
          .select(lit(leg).as("leg"), $"n", $"vs")
      // partition count = distinct generated days (tuple routing was
      // exact); stored d equals its recomputation for every row
      val days = graft.sources.CommitLog.partsOf(root,
        graft.sources.CommitLog.latestVersion(root)).size
      require(t.filter($"d" =!= $"ts".cast("date")).count() == 0,
        "a stored generated value diverged from its definition")
      val daysLeg = s.range(1).select(lit("days").as("leg"),
        lit(days.toLong).as("n"), lit(days.toLong).as("vs"))
      val minDay = t.agg(min($"d")).head().getDate(0)
      agg(t, "all")
        .unionAll(daysLeg)
        .unionAll(agg(t.filter($"d" === lit(minDay)), "one_day"))
        .orderBy("leg")
    },

    // S57: WIDE DECIMALS (precision 19–38) in the commitlog table
    // format — the last composite-type refusal after r12's
    // array/struct/map/binary work (only UDTs remain). The sink
    // writes Spark's minimal-width FIXED_LEN_BYTE_ARRAY layout, the
    // vectorized leg decodes it natively, the row leg (the DV delete
    // below) through the recursive group reader, and stats boxes keep
    // their double form — safe at any precision because rounding is
    // monotone and pruning compares inclusively. Values sit past 2^53
    // so any double detour in the DATA path would corrupt the sums;
    // aggregates compare as exact decimal STRINGS against DuckDB
    // recomputing from raw parquet. Time travel serves the pre-delete
    // snapshot from the same files.
    Decl(
      "s57_wide_decimal",
      s"""WITH m AS (
         |  SELECT l_orderkey,
         |    CAST(CAST('10000000000000000000.0000000001' AS DECIMAL(30,10))
         |      + CAST(l_orderkey AS DECIMAL(20,10)) AS DECIMAL(38,10)) AS amt
         |  FROM lineitem)
         |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(amt) AS VARCHAR) AS ssum,
         |  CAST(min(amt) AS VARCHAR) AS mn, CAST(max(amt) AS VARCHAR) AS mx
         |FROM m
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(sum(amt) AS VARCHAR), CAST(min(amt) AS VARCHAR),
         |  CAST(max(amt) AS VARCHAR)
         |FROM m WHERE l_orderkey % 7 <> 0
         |ORDER BY version""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val root = ioDir("s57_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.tSpread(s, dir, "lineitem")
        .select($"l_orderkey",
          // add at precision 31 (no precision-cap truncation in either
          // engine), then widen to the stored 38
          (lit("10000000000000000000.0000000001").cast(DecimalType(30, 10))
            + $"l_orderkey".cast(DecimalType(20, 10)))
            .cast(DecimalType(38, 10)).as("amt"))
        .write.format("commitlog").option("path", root).mode("append").save()
      graft.sources.CommitLogDml.delete(s, root, "l_orderkey % 7 = 0",
        changeFeed = false)
      def agg(df: org.apache.spark.sql.DataFrame, v: Long) =
        df.agg(count(lit(1)).as("n"),
          sum($"amt").cast("string").as("ssum"),
          min($"amt").cast("string").as("mn"),
          max($"amt").cast("string").as("mx"))
          .select(lit(v).as("version"), $"n", $"ssum", $"mn", $"mx")
      val v1 = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", 1).load()
      val v2 = s.read.format("commitlog").option("path", root).load()
      agg(v1, 1).unionAll(agg(v2, 2)).orderBy("version")
    },

    // S58: IDENTITY COLUMNS — `GENERATED ALWAYS|BY DEFAULT AS
    // IDENTITY (START WITH s INCREMENT BY k)` through the SQL catalog
    // (Delta's identity columns). Allocation is coordination-free:
    // the driver reads the per-column HIGH WATERMARK once at plan
    // time, tasks fill NULL arrivals from strided k-blocks (gaps
    // allowed, never duplicates), and the SAME manifest commit that
    // publishes the rows advances the watermark with the planned
    // value as a precondition — a racing identity write aborts
    // instead of double-allocating. Identity values depend on task
    // layout, so every oracle-checked aggregate here is
    // LAYOUT-INVARIANT: cardinalities, uniqueness, step alignment,
    // cross-insert ordering, payload sums. IdentityColumnSpec pins
    // the deterministic single-writer shapes (rival abort, RESTORE
    // rollback, INT overflow, refusal edges).
    Decl(
      "s58_identity",
      s"""SELECT 'a_first' AS leg,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS uniq,
         |  CAST(count(*) AS BIGINT) AS aligned,
         |  CAST(sum(o_orderkey) AS BIGINT) AS paysum
         |FROM orders
         |UNION ALL
         |SELECT 'b_both', CAST(2 * count(*) AS BIGINT),
         |  CAST(2 * count(*) AS BIGINT), CAST(2 * count(*) AS BIGINT),
         |  CAST(2 * sum(o_orderkey) AS BIGINT)
         |FROM orders
         |UNION ALL
         |SELECT 'c_beyond', CAST(count(*) AS BIGINT),
         |  CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(count(*) AS BIGINT)
         |FROM orders
         |UNION ALL
         |SELECT 'd_bydefault', CAST(count(*) AS BIGINT),
         |  CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(2 * sum(o_orderkey) AS BIGINT)
         |FROM orders
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s58_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt58", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt58.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt58.db")
      s.sql("CREATE TABLE gt58.db.t (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY (START WITH 100 INCREMENT BY 10), pay BIGINT)")
      val orders = Qh.t(s, dir, "orders").select($"o_orderkey".as("pay"))
      orders.select(lit(null).cast("long").as("id"), $"pay")
        .writeTo("gt58.db.t").append()
      val root = s"$wh/db/t"
      val v1 = graft.sources.CommitLog.latestVersion(root)
      orders.select(lit(null).cast("long").as("id"), $"pay")
        .writeTo("gt58.db.t").append()
      def shape(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.agg(count(lit(1)).as("n"),
          countDistinct($"id").as("uniq"),
          count(when($"id" >= 100 && ($"id" - 100) % 10 === 0, 1))
            .as("aligned"),
          sum($"pay").as("paysum"))
          .select(lit(leg).as("leg"), $"n", $"uniq", $"aligned", $"paysum")
      val first = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", v1).load()
      val both = s.table("gt58.db.t")
      // every second-insert id lands strictly past the first insert's
      // watermark — the cross-commit uniqueness contract
      val max1 = first.agg(max($"id")).head().getLong(0)
      val beyond = both.filter($"id" > max1)
        .agg(count(lit(1)).as("n"))
        .select(lit("c_beyond").as("leg"), $"n", $"n".as("uniq"),
          $"n".as("aligned"), $"n".as("paysum"))
      // BY DEFAULT: explicit values are kept verbatim
      s.sql("CREATE TABLE gt58.db.u (id BIGINT GENERATED BY DEFAULT AS " +
        "IDENTITY, pay BIGINT)")
      orders.select(($"pay" * 2).as("id"), $"pay")
        .writeTo("gt58.db.u").append()
      val byDef = s.table("gt58.db.u")
        .agg(count(lit(1)).as("n"), countDistinct($"id").as("uniq"),
          count(when($"id" === $"pay" * 2, 1)).as("aligned"),
          sum($"id").as("paysum"))
        .select(lit("d_bydefault").as("leg"), $"n", $"uniq", $"aligned",
          $"paysum")
      shape(first, "a_first")
        .unionAll(shape(both, "b_both"))
        .unionAll(beyond)
        .unionAll(byDef)
        .orderBy("leg")
    },

    // S59: the `.changes` METADATA TABLE — `SELECT * FROM
    // <cat>.db.t.changes [VERSION AS OF v]`, the SQL-only spelling of
    // the row-granularity change feed (Iceberg metadata-table shape,
    // Delta table_changes semantics: VERSION AS OF = the start
    // bound). The whole lifecycle below runs through spark.sql —
    // CREATE / INSERT / DELETE / the feed read — nothing touches the
    // DataFrame option API, and the feed plans as a distributed
    // BatchScan (ChangesTableSpec pins the plan shape and the
    // read-only contract). Oracle: DuckDB recomputes the per-version
    // change counts and value sums from the raw events fixture.
    Decl(
      "s59_changes_table",
      s"""WITH m AS (
         |  SELECT event_id, CAST(user_id % 100 AS BIGINT) AS u
         |  FROM events)
         |SELECT 'v2_insert' AS leg, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(u) AS BIGINT) AS us
         |FROM m
         |UNION ALL
         |SELECT 'v3_delete', CAST(count(*) AS BIGINT),
         |  CAST(sum(u) AS BIGINT)
         |FROM m WHERE event_id % 7 = 0
         |UNION ALL
         |SELECT 'since_v3', CAST(count(*) AS BIGINT),
         |  CAST(sum(u) AS BIGINT)
         |FROM m WHERE event_id % 7 = 0
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s59_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt59", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt59.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt59.db")
      s.sql("CREATE TABLE gt59.db.e (event_id BIGINT, u BIGINT)")
      Qh.t(s, dir, "events")
        .select($"event_id", ($"user_id" % 100).cast("long").as("u"))
        .createOrReplaceTempView("s59_src")
      s.sql("INSERT INTO gt59.db.e SELECT event_id, u FROM s59_src") // v2
      s.sql("DELETE FROM gt59.db.e WHERE event_id % 7 = 0")          // v3
      def leg(name: String, sql: String) =
        s.sql(sql).select(lit(name).as("leg"), $"n", $"us")
      leg("v2_insert",
        "SELECT count(*) AS n, sum(u) AS us FROM gt59.db.e.changes " +
          "WHERE _change_type = 'insert' AND _commit_version = 2")
        .unionAll(leg("v3_delete",
          "SELECT count(*) AS n, sum(u) AS us FROM gt59.db.e.changes " +
            "WHERE _change_type = 'delete' AND _commit_version = 3"))
        .unionAll(leg("since_v3",
          "SELECT count(*) AS n, sum(u) AS us FROM gt59.db.e.changes " +
            "VERSION AS OF 3 WHERE _change_type = 'delete'"))
        .orderBy("leg")
    },

    // S60 (SURVEY S65): GENERATED-COLUMN FILTER DERIVATION — a table
    // partitioned by `day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))`
    // prunes on a query that filters ONLY `ts` (Delta's
    // generated-partition behavior; the user never names the partition
    // column). The planned-partition counts ride the result as
    // constant columns, s40-style, so the ORACLE gate pins the pruning
    // itself: planned_all = 10 day partitions, planned_range = 4 (days
    // 3..5 plus the conservative `ts < Y → day <= floor(Y)` boundary
    // day), planned_point = 1. Timestamps are built at midnight from
    // event_id so the day layout is timezone-independent; DuckDB
    // recomputes the data legs from event_id arithmetic alone.
    Decl(
      "s60_generated_prune",
      s"""WITH m AS (
         |  SELECT event_id, CAST(user_id % 100 AS BIGINT) AS u,
         |    event_id % 10 AS off
         |  FROM events)
         |SELECT 'point' AS leg, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(u) AS BIGINT) AS us, CAST(4 AS INT) AS planned_range,
         |  CAST(10 AS INT) AS planned_all, CAST(1 AS INT) AS planned_point
         |FROM m WHERE off = 4
         |UNION ALL
         |SELECT 'range', CAST(count(*) AS BIGINT), CAST(sum(u) AS BIGINT),
         |  CAST(4 AS INT), CAST(10 AS INT), CAST(1 AS INT)
         |FROM m WHERE off IN (3, 4, 5)
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s60_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt60", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt60.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt60.db")
      s.sql(
        """CREATE TABLE gt60.db.g (
          |  event_id BIGINT, u BIGINT, ts TIMESTAMP,
          |  day DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))
          |PARTITIONED BY (day)""".stripMargin)
      Qh.t(s, dir, "events")
        .select($"event_id", ($"user_id" % 100).cast("long").as("u"),
          date_add(lit(java.sql.Date.valueOf("2024-03-01")),
            ($"event_id" % 10).cast("int")).cast("timestamp").as("ts"))
        .createOrReplaceTempView("s60_src")
      s.sql("INSERT INTO gt60.db.g (event_id, u, ts) " +
        "SELECT event_id, u, ts FROM s60_src") // 10 day partitions
      def plannedOf(sql: String): Int =
        s.sql(sql).queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val rangePred = "ts >= timestamp'2024-03-04 00:00:00' AND " +
        "ts < timestamp'2024-03-07 00:00:00'"
      val pR = plannedOf(s"SELECT u FROM gt60.db.g WHERE $rangePred")
      val pA = plannedOf("SELECT u FROM gt60.db.g")
      val pP = plannedOf(
        "SELECT u FROM gt60.db.g WHERE ts = timestamp'2024-03-05 00:00:00'")
      def leg(name: String, pred: String) =
        s.sql(s"SELECT count(*) AS n, sum(u) AS us FROM gt60.db.g WHERE $pred")
          .select(lit(name).as("leg"), $"n", $"us",
            lit(pR).as("planned_range"), lit(pA).as("planned_all"),
            lit(pP).as("planned_point"))
      leg("point", "ts = timestamp'2024-03-05 00:00:00'")
        .unionAll(leg("range", rangePred))
        .orderBy("leg")
    },

    // S61 (SURVEY S66): VARIANT COLUMNS in the commitlog table format —
    // semi-structured ingestion keeps its raw shape (`parse_json`
    // straight off the wire) instead of a JSON-string detour, and the
    // whole lakehouse surface composes: v1 serves SINK-written files
    // (unshredded variant groups), the `% 2 = 0` delete forces the
    // COPY-ON-WRITE leg (fraction 0.5 > the 0.3 DV dial) so v2's
    // survivors land via Spark's own writer with SHREDDING enabled —
    // the after_delete leg hash-checks the row leg's shredded-variant
    // REASSEMBLY (SparkShreddingUtils.assembleVariant over the
    // file-derived shredded struct) against DuckDB reading the
    // original JSON. Scalar, array-index and nested-object paths all
    // extract through variant_get.
    Decl(
      "s61_variant",
      s"""WITH m AS (
         |  SELECT event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS kv,
         |    event_id % 5 AS a0,
         |    CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS x0
         |  FROM events)
         |SELECT CAST(1 AS BIGINT) AS version, 'base' AS leg,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(kv) AS BIGINT) AS ks,
         |  CAST(sum(a0) AS BIGINT) AS a0s, CAST(sum(x0) AS BIGINT) AS xs
         |FROM m
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'after_delete',
         |  CAST(count(*) AS BIGINT), CAST(sum(kv) AS BIGINT),
         |  CAST(sum(a0) AS BIGINT), CAST(sum(x0) AS BIGINT)
         |FROM m WHERE event_id % 2 <> 0
         |ORDER BY version, leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s61_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events")
        .select($"event_id",
          parse_json($"props").as("v"),
          parse_json(format_string("""[%d,{"s":"x%d"}]""",
            $"event_id" % 5, $"event_id" % 3)).as("va"))
        .write.format("commitlog").option("path", root).mode("append").save()
      graft.sources.CommitLogDml.delete(s, root, "event_id % 2 = 0",
        changeFeed = false)
      def legAgg(df: org.apache.spark.sql.DataFrame, ver: Long, leg: String) =
        df.agg(
          count(lit(1)).as("n"),
          sum(variant_get($"v", "$.k", "long")).as("ks"),
          sum(variant_get($"va", "$[0]", "long")).as("a0s"),
          sum(when(variant_get($"va", "$[1].s", "string") === "x0", 1L)
            .otherwise(0L)).as("xs"))
          .select(lit(ver).as("version"), lit(leg).as("leg"),
            $"n", $"ks", $"a0s", $"xs")
      val v1 = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", 1).load()
      val v2 = s.read.format("commitlog").option("path", root).load()
      legAgg(v1, 1, "base")
        .unionAll(legAgg(v2, 2, "after_delete"))
        .orderBy("version", "leg")
    },

    // S62 (SURVEY S67): ROW TRACKING — stable per-row identities. The
    // hidden `_graft_row_id` column is allocated at the sink (identity
    // k-block ladder, watermark advanced in the data commit), hidden
    // from the schema, selectable as a metadata column, and PRESERVED
    // through the whole DML lifecycle this decl drives: UPDATE routes
    // the merge-on-read delta leg (postimage carries its id as a
    // metadata attribute), the dense DELETE takes the COW rewrite
    // (rewriteDdl threads the hidden column through the file swap,
    // absorbing the update's DVs), and OPTIMIZE repacks DV-free files.
    // Lifecycle: v2 INSERT mints ids; v3 SQL UPDATE takes the DELTA
    // leg (DV + postimages carrying preserved ids); v4 is the DENSE
    // path-API DELETE — the COW rewrite that both threads the hidden
    // column through the file swap AND absorbs v3's deletion vectors;
    // v5 appends fresh keys (fresh ids past the watermark); v6
    // OPTIMIZE packs the two DV-free batches. Each leg emits `bad` =
    // surviving v2 keys whose id drifted and `dup` = duplicate ids —
    // the ORACLE pins both at 0, so identity stability itself is
    // hash-gated, alongside the value aggregates DuckDB recomputes.
    Decl(
      "s62_row_tracking",
      s"""WITH m AS (
         |  SELECT event_id, MIN(user_id % 100) AS u
         |  FROM events GROUP BY event_id),
         |upd AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 10 = 3 THEN -1 ELSE u END AS u FROM m),
         |del AS (SELECT * FROM upd WHERE event_id % 2 <> 0),
         |ins AS (
         |  SELECT * FROM del
         |  UNION ALL
         |  SELECT -event_id - 1, u FROM m WHERE event_id % 5 = 0)
         |SELECT 1 AS step, 'base' AS leg, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(u) AS BIGINT) AS us, CAST(0 AS BIGINT) AS bad,
         |  CAST(0 AS BIGINT) AS dup
         |FROM m
         |UNION ALL
         |SELECT 2, 'upd', CAST(count(*) AS BIGINT),
         |  CAST(sum(u) AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |FROM upd
         |UNION ALL
         |SELECT 3, 'del', CAST(count(*) AS BIGINT),
         |  CAST(sum(u) AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |FROM del
         |UNION ALL
         |SELECT 4, 'opt', CAST(count(*) AS BIGINT),
         |  CAST(sum(u) AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |FROM ins
         |ORDER BY step""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s62_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt62", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt62.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt62.db")
      s.sql("CREATE TABLE gt62.db.t (event_id BIGINT, u BIGINT) " +
        "TBLPROPERTIES ('graft.rowTracking'='true')") // v1
      val root = s"$wh/db/t"
      Qh.t(s, dir, "events")
        .groupBy($"event_id")
        .agg(min($"user_id" % 100).cast("long").as("u"))
        .createOrReplaceTempView("s62_src")
      s.sql("INSERT INTO gt62.db.t SELECT event_id, u FROM s62_src") // v2
      s.sql("UPDATE gt62.db.t SET u = -1 WHERE event_id % 10 = 3") // v3 delta
      graft.sources.CommitLogDml.delete(s, root, "event_id % 2 = 0",
        changeFeed = true) // v4: dense -> COW, absorbs v3's DVs
      s.sql("INSERT INTO gt62.db.t " +
        "SELECT -event_id - 1, u FROM s62_src WHERE event_id % 5 = 0") // v5
      graft.sources.CommitLogOptimize.optimize(s, root,
        smallBytes = 1L << 30) // v6: packs the two DV-free batches
      // the ids minted at v2 are THE identities — every later leg must
      // carry them unchanged on its surviving keys; post-v2 inserts
      // only need uniqueness (dup = 0)
      val origin = s.sql(
        "SELECT event_id, _graft_row_id AS rid0 FROM gt62.db.t VERSION AS OF 2")
      def leg(step: Int, name: String, ver: Option[Int]) = {
        val t = ver.map(v => s"gt62.db.t VERSION AS OF $v")
          .getOrElse("gt62.db.t")
        val cur = s.sql(
          s"SELECT event_id, u, _graft_row_id AS rid FROM $t")
        cur.join(origin, Seq("event_id"), "left")
          .agg(
            count(lit(1)).as("n"),
            sum($"u").as("us"),
            sum(when($"rid0".isNotNull && $"rid" =!= $"rid0", 1L)
              .otherwise(0L)).as("bad"),
            (count(lit(1)) - countDistinct($"rid")).as("dup"))
          .select(lit(step).as("step"), lit(name).as("leg"),
            $"n", $"us", $"bad", $"dup")
      }
      leg(1, "base", Some(2))
        .unionAll(leg(2, "upd", Some(3)))
        .unionAll(leg(3, "del", Some(4)))
        .unionAll(leg(4, "opt", None))
        .orderBy("step")
    },

    // S63q (SURVEY S67 feed leg): FOLD THE CHANGE FEED BY IDENTITY —
    // the point of exposing `_graft_row_id` in `.changes`. The decl
    // replays a tracked table's whole feed (insert / the delta
    // UPDATE's delete+re-insert pairs / the DELETE's retractions),
    // nets +1/-1 PER ROW ID with no table key, takes each surviving
    // id's latest insert, and emits the reconstruction next to the
    // live snapshot — the ORACLE computes the final state once and
    // pins both legs to it, so feed completeness, id stability and
    // the retraction contract are all hash-gated together.
    Decl(
      "s63_feed_identity_fold",
      s"""WITH m AS (
         |  SELECT event_id, MIN(user_id % 100) AS u
         |  FROM events GROUP BY event_id),
         |fin AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 10 = 3 THEN -1 ELSE u END AS u
         |  FROM m WHERE event_id % 2 <> 0)
         |SELECT 'fold' AS leg, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(u) AS BIGINT) AS us
         |FROM fin
         |UNION ALL
         |SELECT 'snap', CAST(count(*) AS BIGINT), CAST(sum(u) AS BIGINT)
         |FROM fin
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s63_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt63", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt63.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt63.db")
      s.sql("CREATE TABLE gt63.db.t (event_id BIGINT, u BIGINT) " +
        "TBLPROPERTIES ('graft.rowTracking'='true')") // v1
      Qh.t(s, dir, "events")
        .groupBy($"event_id")
        .agg(min($"user_id" % 100).cast("long").as("u"))
        .createOrReplaceTempView("s63_src")
      s.sql("INSERT INTO gt63.db.t SELECT event_id, u FROM s63_src") // v2
      s.sql("UPDATE gt63.db.t SET u = -1 WHERE event_id % 10 = 3") // v3
      s.sql("DELETE FROM gt63.db.t WHERE event_id % 2 = 0") // v4 (delta)
      val feed = s.sql(
        "SELECT _graft_row_id AS rid, u, _change_type AS ct, " +
          "_commit_version AS cv FROM gt63.db.t.changes VERSION AS OF 1")
      // net the feed per IDENTITY: +1 insert, -1 delete; survivors'
      // values are their latest insert
      val net = feed.groupBy($"rid")
        .agg(sum(when($"ct" === "insert", 1L).otherwise(-1L)).as("net"))
      val latest = feed.filter($"ct" === "insert")
        .groupBy($"rid").agg(max_by($"u", $"cv").as("u"))
      val folded = net.filter($"net" === 1L).join(latest, "rid")
        .agg(count(lit(1)).as("n"), sum($"u").as("us"))
        .select(lit("fold").as("leg"), $"n", $"us")
      val snap = s.sql("SELECT count(*) AS n, sum(u) AS us FROM gt63.db.t")
        .select(lit("snap").as("leg"), $"n", $"us")
      folded.unionAll(snap).orderBy("leg")
    },

    // S64 (SURVEY S68): VARIANT EXTRACTION PUSHDOWN. `variant_get(v,
    // '$.k')` pushes into the scan (DSv2 SupportsPushDownVariant-
    // Extractions): the connector rewrites the variant column to a
    // struct of the requested paths and the vectorized leg reads a
    // SHREDDED file from just those subcolumns — at 100 TB the variant
    // binary dominates the table's bytes, so the filter legs here scan
    // one field of the table instead of all of it (A/B-pinned at
    // 0.85x in VariantPushdownSpec; 0.41x measured). The table is
    // force-shredded by an all-rows COW UPDATE (Spark's writer,
    // writeShredding on); the 'sums' leg keeps the whole-variant ('$')
    // aggregate shape exact on shredded files — a shape Spark's own
    // parquet v2 reader nulls out on 4.1.2.
    Decl(
      "s64_variant_pushdown",
      s"""WITH m AS (
         |  SELECT event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS kv,
         |    'x' || CAST(event_id % 5 AS VARCHAR) AS sv
         |  FROM events)
         |SELECT 'filter_k' AS leg, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(event_id) AS BIGINT) AS sid
         |FROM m WHERE kv % 7 = 3
         |UNION ALL
         |SELECT 'filter_s', CAST(count(*) AS BIGINT),
         |  CAST(sum(event_id) AS BIGINT)
         |FROM m WHERE sv = 'x2'
         |UNION ALL
         |SELECT 'sums', CAST(count(*) AS BIGINT), CAST(sum(kv) AS BIGINT)
         |FROM m
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s64_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events")
        .select($"event_id",
          parse_json(format_string(
            """{"k":%s,"s":"x%d","pad":"%s-%d"}""",
            get_json_object($"props", "$.k"), $"event_id" % 5,
            lit("z" * 40), $"event_id")).as("v"))
        .write.format("commitlog").option("path", root).mode("append").save()
      // all-rows COW UPDATE: every file rewrites through Spark's
      // writer and lands SHREDDED
      graft.sources.CommitLogDml.update(s, root, "event_id >= 0",
        Seq("event_id" -> "event_id"), changeFeed = false)
      val tbl = s.read.format("commitlog").option("path", root).load()
      // filter legs: v referenced ONLY in the predicate, so the planner
      // pushes exactly that path — the scan reads one shredded subcolumn
      def filterLeg(name: String, cond: org.apache.spark.sql.Column) =
        tbl.where(cond)
          .agg(count(lit(1)).as("n"), sum($"event_id").as("sid"))
          .select(lit(name).as("leg"), $"n", $"sid")
      val fk = filterLeg("filter_k",
        variant_get($"v", "$.k", "long") % 7 === 3L)
      val fs = filterLeg("filter_s",
        variant_get($"v", "$.s", "string") === "x2")
      // aggregate shape registers the whole variant ('$') — exactness
      // of the shredded whole-value reassembly
      val sums = tbl.agg(count(lit(1)).as("n"),
          sum(variant_get($"v", "$.k", "long")).as("sid"))
        .select(lit("sums").as("leg"), $"n", $"sid")
      fk.unionAll(fs).unionAll(sums).orderBy("leg")
    },

    // S65 (SURVEY S67 extension, r14): ROW TRACKING for the STREAMING
    // sink — a tracked table fed by `writeStream.format("commitlog")`.
    // Ids allocate per EPOCH from the committed watermark (micro-batch
    // execution creates a fresh writer factory per epoch — the driver
    // hook IdentityStreamingWrite uses to re-read it), and the advance
    // rides the epoch's own data manifest with the planned-against
    // watermark as a precondition. Three file-stream epochs land here;
    // the oracle pins n_ids == n per group — a replayed or stale-
    // watermark epoch would mint duplicates and break the hash.
    // Replay-drop itself is pinned in RowTrackingStreamSpec.
    Decl(
      "s65_stream_row_tracking",
      s"""SELECT event_type, CAST(3 * count(*) AS BIGINT) AS n,
         |  CAST(3 * count(*) AS BIGINT) AS n_ids
         |FROM events
         |WHERE event_id % 4 = 0
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = s"$dir/events.parquet"
      val runId = java.util.UUID.randomUUID()
      val root = ioDir(s"s65_tbl_$runId")
      val ckpt = ioDir(s"s65_ckpt_$runId")
      val srcDir = java.nio.file.Paths.get(ioDir(s"s65_src_$runId"))
      java.nio.file.Files.createDirectories(srcDir)
      (1 to 3).foreach { i =>
        java.nio.file.Files.createSymbolicLink(
          srcDir.resolve(s"events_$i.parquet"), java.nio.file.Paths.get(path))
      }
      val schema = s.read.parquet(path).schema
      graft.streaming.Streams.withStatePartitions(s) {
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
          .filter($"event_id" % 4 === 0)
          .select($"event_id", $"event_type", $"user_id")
          .writeStream.format("commitlog")
          .option("path", root).option("rowTracking", "true")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("append")
          .start()
        q.awaitTermination()
      }
      s.read.format("commitlog").option("path", root).load()
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("_graft_row_id")).as("n_ids"))
        .orderBy("event_type")
    },

    // S66 (SURVEY S69): TOP-N PUSHDOWN — `ORDER BY c LIMIT k` plans
    // only the files that can hold the global top-k, decided from
    // manifest boxes: accumulate exact per-batch counts down the
    // lo-sorted batches to bound the k-th value, keep batches whose
    // box reaches it (sound for every numeric width — rounding to
    // nearest is monotone; requires the `c IS NOT NULL` CHECK so
    // counts equal non-null counts). The table is written with
    // declared sort order, so boxes are range-disjoint and the plan
    // opens 1 file of 8 (TopNPushdownSpec pins the file counts and
    // the decline paths) — at 100 TB this is `ORDER BY ts DESC LIMIT
    // 100` planning one file instead of a million. Both directions
    // exercised; Spark re-sorts above the scan (partial pushdown), so
    // the oracle hash is over exact rows.
    Decl(
      "s66_topn_prune",
      s"""WITH top AS (
         |  SELECT event_id, event_type FROM events
         |  ORDER BY event_id DESC LIMIT 25),
         |bottom AS (
         |  SELECT event_id, event_type FROM events
         |  ORDER BY event_id ASC LIMIT 25)
         |SELECT 'desc' AS leg, event_id, event_type FROM top
         |UNION ALL
         |SELECT 'asc', event_id, event_type FROM bottom
         |ORDER BY leg, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s66_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events")
        .select($"event_id", $"event_type")
        .repartition(8)
        .write.format("commitlog").option("path", root)
        .option("sortOrder", "event_id").option("sortBuckets", "8")
        .mode("append").save()
      graft.sources.CommitLogWrite.addConstraint(
        s, root, "eid_nn", "event_id IS NOT NULL")
      def tbl = s.read.format("commitlog").option("path", root).load()
      val top = tbl.orderBy($"event_id".desc).limit(25)
        .select(lit("desc").as("leg"), $"event_id", $"event_type")
      val bottom = tbl.orderBy($"event_id".asc).limit(25)
        .select(lit("asc").as("leg"), $"event_id", $"event_type")
      top.unionAll(bottom).orderBy("leg", "event_id")
    },

    // S67 (SURVEY S70): NaN SOUNDNESS of the stats boxes. Spark and
    // DuckDB agree NaN = NaN is TRUE and NaN sorts ABOVE every value
    // (+Inf included) — so range pruning, top-N pruning and metadata
    // MIN/MAX must never let a manifest box hide NaN rows. The writer
    // marks a NaN-bearing batch with hi = +Inf; this decl runs every
    // NaN-sensitive read over a commitlog table seeded with NaNs:
    // an upward range probe beyond every finite value (only NaN
    // satisfies it), NaN equality, MAX (true answer is NaN — the
    // metadata aggregate must decline its ambiguous +Inf bound and
    // read data), and a NaN-first top-5 under the pushed top-N cut
    // (v carries a CHECK, so the cut engages and must keep the
    // NaN-marked batches). NaNStatsSpec pins the per-batch file
    // counts; here DuckDB pins the values.
    Decl(
      "s67_nan_box",
      s"""WITH t AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 37 = 0 THEN 'NaN'::DOUBLE
         |         ELSE COALESCE(value, 0.0) END AS v
         |  FROM events),
         |top5 AS (SELECT event_id FROM t ORDER BY v DESC, event_id LIMIT 5)
         |SELECT 'eq_count' AS leg, CAST(count(*) AS BIGINT) AS n
         |FROM t WHERE v = 'NaN'::DOUBLE
         |UNION ALL
         |SELECT 'gt_count', CAST(count(*) AS BIGINT)
         |FROM t WHERE v > 1e300
         |UNION ALL
         |SELECT 'max_is_nan', CAST(isnan(max(v)) AS BIGINT) FROM t
         |UNION ALL
         |SELECT 'top5_ids',
         |  (SELECT CAST(sum(event_id) AS BIGINT) FROM top5)
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s67_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events")
        .select($"event_id",
          when($"event_id" % 37 === 0, lit(Double.NaN))
            .otherwise(coalesce($"value", lit(0.0))).as("v"))
        .repartition(4)
        .write.format("commitlog").option("path", root)
        .mode("append").save()
      graft.sources.CommitLogWrite.addConstraint(
        s, root, "v_nn", "v IS NOT NULL")
      def tbl = s.read.format("commitlog").option("path", root).load()
      val eq = tbl.filter($"v" === lit(Double.NaN))
        .agg(count(lit(1)).as("n")).select(lit("eq_count").as("leg"), $"n")
      val gt = tbl.filter($"v" > lit(1e300))
        .agg(count(lit(1)).as("n")).select(lit("gt_count").as("leg"), $"n")
      val mx = tbl.agg(max($"v").as("m"))
        .select(lit("max_is_nan").as("leg"),
          isnan($"m").cast("long").as("n"))
      val top5 = tbl.orderBy($"v".desc, $"event_id".asc).limit(5)
        .agg(sum($"event_id").as("n"))
        .select(lit("top5_ids").as("leg"), $"n")
      eq.unionAll(gt).unionAll(mx).unionAll(top5).orderBy("leg")
    },

    // S68 (SURVEY S71): NUMERIC BLOOMS — a sparse BIGINT point lookup
    // (`WHERE event_id = <k>`) on an UNSORTED multi-batch table is the
    // case range boxes cannot prune: every batch's id box overlaps
    // every other's (the table is written INTERLEAVED by id % 6, so
    // all six boxes span nearly the full id range). The sink hashes
    // each integral value's decimal-string canonical form through the
    // same 64-bit bloom grammar strings use, the probe side derives
    // the identical key from the pushed equality literal, and the
    // plan opens ~one batch of six (the decl pins planned <= 2 —
    // deterministic murmur3, one false positive tolerated by margin).
    // At 100 TB this is THE needle-in-haystack shape: a key lookup on
    // an append-ordered fact table scans one file, not a million.
    Decl(
      "s68_bloom_bigint",
      s"""SELECT true AS pruned, CAST(count(*) AS BIGINT) AS n,
         |  ${Qh.oSum2("value")} AS total_value
         |FROM events
         |WHERE event_id =
         |  (SELECT min(event_id) FROM events WHERE event_id % 6 = 3)""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s68_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ev = Qh.t(s, dir, "events")
        .select($"event_id", $"event_type", $"value")
      (0L until 6L).foreach { r =>
        ev.filter($"event_id" % 6 === r).repartition(1)
          .write.format("commitlog").option("path", root)
          .option("bloomColumns", "event_id")
          .option("bloomBits", (1 << 18).toString)
          .mode("append").save()
      }
      val probeId = ev.filter($"event_id" % 6 === 3)
        .agg(min($"event_id")).head().getLong(0)
      val probe = s.read.format("commitlog").option("path", root).load()
        .filter($"event_id" === probeId)
      val planned = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }.sum
      probe
        .agg(count(lit(1)).as("n"), Qh.sumd2($"value").as("total_value"))
        .select(lit(planned <= 2).as("pruned"), $"n", $"total_value")
    },

    // S69 (SURVEY S72): PER-COLUMN NULL COUNTS in manifest stats — the
    // third planning facet next to boxes and blooms, recorded by the
    // sink for EVERY column in the same pass the boxes ride. Three
    // consumers, each pinned here with its file count:
    // metadata COUNT(v) = Σ(rows − nulls) with zero data reads;
    // IS NULL / IS NOT NULL pruning (one batch is ALL-null in v, the
    // other null-free — each probe plans exactly one); and the top-N
    // cut over a NULLABLE column with no NOT NULL proof, in both null
    // orderings (NULLS FIRST keeps the null-bearing batch, NULLS LAST
    // bounds over non-null counts). Spark and DuckDB default null
    // orders differ (Spark ASC=NULLS FIRST; DuckDB NULLS LAST), so
    // both sides spell the order explicitly. At 100 TB: count(col)
    // dashboards and the ubiquitous implicit IS NOT NULL join-key
    // filter stop reading data at all.
    Decl(
      "s69_null_stats",
      s"""WITH t AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 7 = 0 THEN NULL
         |         ELSE COALESCE(value, 0.0) END AS v
         |  FROM events)
         |SELECT 'cnt_v' AS leg, CAST(count(v) AS BIGINT) AS n FROM t
         |UNION ALL
         |SELECT 'null_rows', CAST(count(*) AS BIGINT) FROM t WHERE v IS NULL
         |UNION ALL
         |SELECT 'plans', CAST(4 AS BIGINT)
         |UNION ALL
         |SELECT 'top5_nf',
         |  (SELECT CAST(sum(event_id) AS BIGINT) FROM
         |    (SELECT event_id FROM t
         |     ORDER BY v ASC NULLS FIRST, event_id LIMIT 5))
         |UNION ALL
         |SELECT 'top5_nl',
         |  (SELECT CAST(sum(event_id) AS BIGINT) FROM
         |    (SELECT event_id FROM t
         |     ORDER BY v DESC NULLS LAST, event_id LIMIT 5))
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s69_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ev = Qh.t(s, dir, "events")
        .select($"event_id",
          when($"event_id" % 7 === 0, lit(null).cast("double"))
            .otherwise(coalesce($"value", lit(0.0))).as("v"))
      // two batches split BY nullness: one all-null in v, one null-free
      ev.filter($"event_id" % 7 === 0).repartition(1)
        .write.format("commitlog").option("path", root).mode("append").save()
      ev.filter($"event_id" % 7 =!= 0).repartition(1)
        .write.format("commitlog").option("path", root).mode("append").save()
      def tbl = s.read.format("commitlog").option("path", root).load()
      def plannedOf(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val cnt = tbl.agg(count($"v").as("n"))
        .select(lit("cnt_v").as("leg"), $"n")
      val isNullQ = tbl.filter($"v".isNull)
      val notNullQ = tbl.filter($"v".isNotNull)
      val topNf = tbl.orderBy($"v".asc_nulls_first, $"event_id".asc).limit(5)
      val topNl = tbl.orderBy($"v".desc_nulls_last, $"event_id".asc).limit(5)
      // one row pinning all four file counts (each must plan 1 of 2)
      val plans = s.range(1).select(lit("plans").as("leg"),
        lit((plannedOf(isNullQ) + plannedOf(notNullQ) +
          plannedOf(topNf) + plannedOf(topNl)).toLong).as("n"))
      val nullRows = isNullQ.agg(count(lit(1)).as("n"))
        .select(lit("null_rows").as("leg"), $"n")
      val nf = topNf.agg(sum($"event_id").as("n"))
        .select(lit("top5_nf").as("leg"), $"n")
      val nl = topNl.agg(sum($"event_id").as("n"))
        .select(lit("top5_nl").as("leg"), $"n")
      cnt.unionAll(nullRows).unionAll(plans).unionAll(nf).unionAll(nl)
        .orderBy("leg")
    },

    // S70 (SURVEY S73): STRING BOUNDS in manifest stats — truncated
    // byte-lexicographic min/max of each string column's UTF-8 bytes,
    // the RANGE modality blooms (membership-only) cannot provide.
    // Spark's UTF8String order and DuckDB's binary collation are both
    // unsigned byte-lex, so `BETWEEN`, comparisons, equality and
    // `LIKE 'prefix%'` (pushed as StringStartsWith, bounded to
    // [p, p-incremented)) prune batches straight from the manifest —
    // NO bloom option declared here; bounds alone carry every probe.
    // Metadata MIN/MAX on strings answers from exact (shorter-than-cap)
    // bounds with zero data reads. The table is written in three
    // alphabet-range batches; `plans` pins each probe at 1 of 3.
    Decl(
      "s70_string_bounds",
      s"""SELECT 'between_n' AS leg, CAST(count(*) AS BIGINT) AS n
         |FROM events WHERE event_type BETWEEN 'p' AND 'sz'
         |UNION ALL
         |SELECT 'eq_n', CAST(count(*) AS BIGINT)
         |FROM events WHERE event_type = 'error'
         |UNION ALL
         |SELECT 'like_n', CAST(count(*) AS BIGINT)
         |FROM events WHERE event_type LIKE 'v%'
         |UNION ALL
         |SELECT 'minmax_ok',
         |  CAST((min(event_type) = 'click' AND max(event_type) = 'view')
         |    AS BIGINT)
         |FROM events
         |UNION ALL
         |SELECT 'plans', CAST(3 AS BIGINT)
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s70_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val ev = Qh.t(s, dir, "events").select($"event_id", $"event_type")
      Seq(Seq("click", "error"), Seq("purchase", "signup"), Seq("view"))
        .foreach { group =>
          ev.filter($"event_type".isin(group: _*)).repartition(1)
            .write.format("commitlog").option("path", root)
            .mode("append").save()
        }
      def tbl = s.read.format("commitlog").option("path", root).load()
      def plannedOf(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val betweenQ = tbl.filter($"event_type" >= "p" && $"event_type" <= "sz")
      val eqQ = tbl.filter($"event_type" === "error")
      val likeQ = tbl.filter($"event_type".startsWith("v"))
      val between = betweenQ.agg(count(lit(1)).as("n"))
        .select(lit("between_n").as("leg"), $"n")
      val eq = eqQ.agg(count(lit(1)).as("n"))
        .select(lit("eq_n").as("leg"), $"n")
      val like = likeQ.agg(count(lit(1)).as("n"))
        .select(lit("like_n").as("leg"), $"n")
      val minmax = tbl.agg(min($"event_type").as("mn"), max($"event_type").as("mx"))
        .select(lit("minmax_ok").as("leg"),
          ($"mn" === "click" && $"mx" === "view").cast("long").as("n"))
      val plans = s.range(1).select(lit("plans").as("leg"),
        lit((plannedOf(betweenQ) + plannedOf(eqQ) + plannedOf(likeQ)).toLong)
          .as("n"))
      between.unionAll(eq).unionAll(like).unionAll(minmax).unionAll(plans)
        .orderBy("leg")
    },

    // S71 (SURVEY S74): STRING TOP-N — `ORDER BY name LIMIT k` over a
    // string-sorted table runs the S69 accumulate-to-k file cut in
    // S73's truncated byte-lex bound domain (strLo under-estimates
    // the min, strHi over-estimates the max — both only WEAKEN the
    // bound, so the numeric soundness argument transfers verbatim).
    // Zero-padded keys make byte order = numeric order; the 4-bucket
    // range-partitioned write yields byte-disjoint bounds and each
    // direction plans 1 file of 4 (`plans` pins the sum at 2). At
    // 100 TB: `ORDER BY url LIMIT 100` over a url-clustered corpus
    // opens one file, same as the timestamp spelling always has.
    Decl(
      "s71_string_topn",
      s"""WITH t AS (
         |  SELECT printf('k%08d', event_id) AS name, event_id FROM events)
         |SELECT 'plans' AS leg, CAST(2 AS BIGINT) AS n
         |UNION ALL
         |SELECT 'top5_asc',
         |  (SELECT CAST(sum(event_id) AS BIGINT) FROM
         |    (SELECT event_id FROM t ORDER BY name ASC LIMIT 5))
         |UNION ALL
         |SELECT 'top5_desc',
         |  (SELECT CAST(sum(event_id) AS BIGINT) FROM
         |    (SELECT event_id FROM t ORDER BY name DESC LIMIT 5))
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s71_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events")
        .select(format_string("k%08d", $"event_id").as("name"), $"event_id")
        .repartition(4)
        .write.format("commitlog").option("path", root)
        .option("sortOrder", "name").option("sortBuckets", "4")
        .mode("append").save()
      def tbl = s.read.format("commitlog").option("path", root).load()
      def plannedOf(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val ascQ = tbl.orderBy($"name".asc).limit(5)
      val descQ = tbl.orderBy($"name".desc).limit(5)
      val plans = s.range(1).select(lit("plans").as("leg"),
        lit((plannedOf(ascQ) + plannedOf(descQ)).toLong).as("n"))
      val asc5 = ascQ.agg(sum($"event_id").as("n"))
        .select(lit("top5_asc").as("leg"), $"n")
      val desc5 = descQ.agg(sum($"event_id").as("n"))
        .select(lit("top5_desc").as("leg"), $"n")
      plans.unionAll(asc5).unionAll(desc5).orderBy("leg")
    },

    // S72 (SURVEY S75): REORG … APPLY PURGE — deletion-vector
    // compaction, the verb completing the merge-on-read lifecycle.
    // A 10% DV delete leaves outstanding vectors that tax every read
    // (per-row position skipping) and disqualify the snapshot from
    // BOTH the vectorized columnar leg and OPTIMIZE; purge rewrites
    // just the vector-referenced batches with the deletions APPLIED
    // and drops the vectors in one dataChange=false commit. Pinned
    // legs: vectors gone, live rows IDENTICAL to the oracle's
    // post-delete aggregate, columnar service restored, and the
    // pre-purge version still reconciling the SAME rows through its
    // vectors (time travel unbroken). At 100 TB purge is the bounded
    // maintenance pass (touched batches only — untouched data moves
    // zero bytes) that keeps a heavily-DML'd table on the fast leg.
    Decl(
      "s72_reorg_purge",
      s"""WITH live AS (SELECT * FROM events WHERE event_id % 10 != 3)
         |SELECT 'columnar' AS leg, CAST(1 AS BIGINT) AS n
         |UNION ALL
         |SELECT 'dv_after', CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'live_n', CAST(count(*) AS BIGINT) FROM live
         |UNION ALL
         |SELECT 'live_sum', CAST(sum(event_id) AS BIGINT) FROM live
         |UNION ALL
         |SELECT 'pre_purge_n', CAST(count(*) AS BIGINT) FROM live
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogDml, CommitLogMerge, CommitLogOptimize}
      val root = ioDir("s72_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events").select($"event_id", $"event_type")
        .repartition(2)
        .write.format("commitlog").option("path", root)
        .mode("append").save()
      CommitLogDml.delete(s, root, "event_id % 10 = 3") // 10% → DV leg
      val r = CommitLogOptimize.purge(s, root)
      def tbl = s.read.format("commitlog").option("path", root).load()
      val dvAfter = CommitLog.files(root, CommitLog.latestVersion(root))
        .count(_.startsWith(CommitLogMerge.DvPrefix))
      val columnar =
        if (tbl.queryExecution.executedPlan.toString.contains("ColumnarToRow")) 1L
        else 0L
      val pins = s.range(1).select(lit("columnar").as("leg"),
          lit(columnar).as("n"))
        .unionAll(s.range(1).select(lit("dv_after").as("leg"),
          lit(dvAfter.toLong).as("n")))
      val live = tbl.agg(count(lit(1)).as("c"), sum($"event_id").as("sm"))
      val liveN = live.select(lit("live_n").as("leg"), $"c".as("n"))
      val liveSum = live.select(lit("live_sum").as("leg"), $"sm".as("n"))
      val prePurge = s.read.format("commitlog").option("path", root)
        .option("versionAsOf", r.version - 1).load()
        .agg(count(lit(1)).as("n"))
        .select(lit("pre_purge_n").as("leg"), $"n")
      pins.unionAll(liveN).unionAll(liveSum).unionAll(prePurge)
        .orderBy("leg")
    },

    // S73 (SURVEY S76): CBO COLUMN STATISTICS — the scan reports
    // per-column min/max/nullCount/distinctCount to Spark through DSv2
    // `Statistics.columnStats()`, built from the manifest's boxes,
    // null counts and NDV sketches over the SURVIVING batches (zero
    // data reads, filter-aware). Spark folds them into the relation's
    // attributeStats, so FilterEstimation range-estimates filters and
    // join reorder sees real null fractions on commitlog tables with
    // no ANALYZE pass — at 100 TB the CBO plans against live manifest
    // truth instead of defaults. The decl reads the REPORTED stats off
    // the scan and pins them against the oracle computing the same
    // facts from the raw data (the ±13% NDV estimate is spec-pinned,
    // not oracle-pinned — approximation is its contract).
    Decl(
      "s73_cbo_stats",
      s"""WITH t AS (
         |  SELECT event_id,
         |         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
         |  FROM events)
         |SELECT 'id_max' AS leg, CAST(max(event_id) AS DOUBLE) AS x FROM t
         |UNION ALL
         |SELECT 'id_min', CAST(min(event_id) AS DOUBLE) FROM t
         |UNION ALL
         |SELECT 'id_nulls', CAST(0 AS DOUBLE)
         |UNION ALL
         |SELECT 'rows', CAST(count(*) AS DOUBLE) FROM t
         |UNION ALL
         |SELECT 'v_max', max(v) FROM t
         |UNION ALL
         |SELECT 'v_min', min(v) FROM t
         |UNION ALL
         |SELECT 'v_nulls', CAST(count(*) - count(v) AS DOUBLE) FROM t
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = ioDir("s73_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events")
        .select($"event_id",
          when($"event_id" % 7 === 0, lit(null)).otherwise($"value").as("v"))
        .repartition(3)
        .write.format("commitlog").option("path", root)
        .mode("append").save()
      val df = s.read.format("commitlog").option("path", root).load()
      val stats = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[
            org.apache.spark.sql.connector.read.SupportsReportStatistics]
            .estimateStatistics()
      }.get
      import scala.jdk.CollectionConverters._
      val cs = stats.columnStats().asScala.map { case (ref, st) =>
        ref.fieldNames().mkString(".") -> st
      }
      def mm(c: String, f: org.apache.spark.sql.connector.read.colstats.ColumnStatistics => java.util.Optional[Object]): Double =
        f(cs(c)).get() match {
          case l: java.lang.Long => l.toDouble
          case d: java.lang.Double => d
          case other => other.toString.toDouble
        }
      val rows = Seq(
        ("id_max", mm("event_id", _.max())),
        ("id_min", mm("event_id", _.min())),
        ("id_nulls", cs("event_id").nullCount().getAsLong.toDouble),
        ("rows", stats.numRows().getAsLong.toDouble),
        ("v_max", mm("v", _.max())),
        ("v_min", mm("v", _.min())),
        ("v_nulls", cs("v").nullCount().getAsLong.toDouble))
      rows.toDF("leg", "x").orderBy("leg")
    },

    // S74 (SURVEY S77): TYPE WIDENING — `ALTER COLUMN k TYPE BIGINT`
    // as a metadata-only commit. The decl writes an INT era, widens,
    // appends a BIGINT era with values PAST the int range, and pins:
    // both eras aggregate as one BIGINT column (the row values prove
    // narrow files serve under the wide type), and a range probe above
    // the int boundary plans exactly the wide-era batch (`plans` leg —
    // boxes are width-blind, so pruning crosses the widening). At
    // 100 TB this is the schema change that would otherwise rewrite
    // every file of a petabyte table costing nothing but one manifest.
    Decl(
      "s74_widen",
      s"""WITH t AS (
         |  SELECT CAST(event_id AS BIGINT) AS k FROM events
         |  UNION ALL
         |  SELECT CAST(event_id + 5000000000 AS BIGINT) FROM events)
         |SELECT 'max' AS leg, CAST(max(k) AS BIGINT) AS n FROM t
         |UNION ALL
         |SELECT 'min', CAST(min(k) AS BIGINT) FROM t
         |UNION ALL
         |SELECT 'n', CAST(count(*) AS BIGINT) FROM t
         |UNION ALL
         |SELECT 'plans', CAST(1 AS BIGINT)
         |UNION ALL
         |SELECT 'sum', CAST(sum(k) AS BIGINT) FROM t
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val root = ioDir("s74_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      Qh.t(s, dir, "events").select($"event_id".cast("int").as("k"))
        .repartition(1)
        .write.format("commitlog").option("path", root)
        .mode("append").save()
      CommitLog.widenColumn(
        root, "k", org.apache.spark.sql.types.LongType)
      Qh.t(s, dir, "events").select(($"event_id" + 5000000000L).as("k"))
        .repartition(1)
        .write.format("commitlog").option("path", root)
        .mode("append").save()
      def tbl = s.read.format("commitlog").option("path", root).load()
      def plannedOf(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val agg = tbl.agg(max($"k").as("mx"), min($"k").as("mn"),
        count(lit(1)).as("c"), sum($"k").as("sm"))
      val mx = agg.select(lit("max").as("leg"), $"mx".as("n"))
      val mn = agg.select(lit("min").as("leg"), $"mn".as("n"))
      val n = agg.select(lit("n").as("leg"), $"c".as("n"))
      val plans = s.range(1).select(lit("plans").as("leg"),
        lit(plannedOf(tbl.filter($"k" >= 5000000000L)).toLong).as("n"))
      val sm = agg.select(lit("sum").as("leg"), $"sm".as("n"))
      mx.unionAll(mn).unionAll(n).unionAll(plans).unionAll(sm)
        .orderBy("leg")
    },

    // S75 (SURVEY S78): NOT NULL lifecycle — `ALTER COLUMN k SET NOT
    // NULL` proves existing data from the manifest's exact null counts
    // (zero-read), then every publish gate enforces the declaration:
    // the decl pins the full arc — SET flips the recorded DDL
    // (`nn_set`), a null append REFUSES at the gate leaving the count
    // intact (`gate`), DROP NOT NULL lifts it and the same null row
    // lands (`nulls`, `n`). At 100 TB the SET costs one manifest line
    // where a validating scan would read the whole table.
    Decl(
      "s75_notnull",
      s"""SELECT 'gate' AS leg, CAST(count(*) AS BIGINT) AS n FROM events
         |UNION ALL
         |SELECT 'n', CAST(count(*) + 1 AS BIGINT) FROM events
         |UNION ALL
         |SELECT 'nn_set', CAST(1 AS BIGINT)
         |UNION ALL
         |SELECT 'nulls', CAST(1 AS BIGINT)
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogWrite}
      val root = ioDir("s75_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      // launder event_id's non-nullability with a non-foldable guard
      // (when(lit(true),…) folds back): the table must START nullable
      // so SET NOT NULL is the thing under test
      Qh.t(s, dir, "events")
        .select(when($"event_id" >= 0, $"event_id".cast("long")).as("k"))
        .repartition(1)
        .write.format("commitlog").option("path", root)
        .mode("append").save()
      CommitLogWrite.setNotNull(s, root, "k")
      def tbl = s.read.format("commitlog").option("path", root).load()
      val nnSet = if (!tbl.schema("k").nullable) 1L else 0L
      val refused =
        try {
          Seq(Option.empty[Long]).toDF("k")
            .write.format("commitlog").option("path", root)
            .mode("append").save()
          false
        } catch { case _: Exception => true }
      val gateCount = if (refused) tbl.count() else -1L
      CommitLogWrite.dropNotNull(root, "k")
      Seq(Option.empty[Long]).toDF("k")
        .write.format("commitlog").option("path", root)
        .mode("append").save()
      Seq(
        ("gate", gateCount),
        ("n", tbl.count()),
        ("nn_set", nnSet),
        ("nulls", tbl.filter($"k".isNull).count())
      ).toDF("leg", "n").orderBy("leg")
    },

    // S76 (SURVEY S79): EXACT SUM facet — unfiltered SUM/AVG over
    // integral columns, global and grouped by partition columns,
    // answered from the manifest's per-batch exact sums with ZERO data
    // reads (`meta_only` pins the CommitLogAggScan plan; DuckDB
    // recomputes from the raw rows). At 100 TB `SELECT sum(bytes)
    // GROUP BY shard` is a manifest replay, not a table scan.
    Decl(
      "s76_sum_pushdown",
      s"""WITH t AS (
         |  SELECT o_orderkey AS k,
         |    CASE WHEN o_orderkey % 3 = 0 THEN 'us'
         |         WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END AS region
         |  FROM orders)
         |SELECT region, CAST(sum(k) AS BIGINT) AS sk, avg(k) AS ak,
         |  CAST(count(k) AS BIGINT) AS nk, CAST(1 AS INT) AS meta_only
         |FROM t GROUP BY region
         |UNION ALL
         |SELECT '*', CAST(sum(k) AS BIGINT), avg(k), CAST(count(k) AS BIGINT), 1
         |FROM t
         |ORDER BY region""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s76_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt76", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt76.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt76.db")
      s.sql("CREATE TABLE gt76.db.sm (k BIGINT, region STRING) " +
        "PARTITIONED BY (region)")
      s.sql("INSERT INTO gt76.db.sm SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN 'us' " +
        "WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END " +
        s"FROM parquet.`$dir/orders.parquet`")
      val grouped = s.sql(
        "SELECT region, sum(k) AS sk, avg(k) AS ak, count(k) AS nk " +
          "FROM gt76.db.sm GROUP BY region")
      val global = s.sql(
        "SELECT sum(k) AS sk, avg(k) AS ak, count(k) AS nk FROM gt76.db.sm")
      def scans(df: org.apache.spark.sql.DataFrame) =
        Qh.flattenPlan(df.queryExecution.executedPlan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
      val all = scans(grouped) ++ scans(global)
      val metaOnly =
        if (all.nonEmpty && all.forall(
            _.scan.isInstanceOf[graft.sources.CommitLogAggScan])) 1 else 0
      grouped
        .unionAll(global.select(lit("*").as("region"), $"sk", $"ak", $"nk"))
        .select($"region", $"sk", $"ak", $"nk", lit(metaOnly).as("meta_only"))
        .orderBy("region")
    },

    // S77 (SURVEY S80): PARTITION SPEC EVOLUTION — one metadata commit
    // re-partitions the table for FUTURE writes while every committed
    // batch keeps its era's tuple. The decl pins the whole arc: era A
    // partitioned by region, evolve to day, era B lands keyed on day,
    // both eras' counts stay exact, and BOTH eras still prune — the
    // region probe plans fewer files than the full scan (old tuples
    // serve) and so does the day probe (new tuples serve), pinned as
    // 1-flags. At 100 TB this replaces a petabyte re-layout with a
    // manifest line; DuckDB recomputes the counts from raw rows.
    Decl(
      "s77_partition_evolution",
      s"""WITH a AS (
         |  SELECT o_orderkey AS k,
         |    CASE WHEN o_orderkey % 3 = 0 THEN 'us'
         |         WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END AS region,
         |    CAST(1 AS INT) AS day
         |  FROM orders),
         |b AS (
         |  SELECT o_orderkey + 1000000 AS k, 'new' AS region,
         |    CAST(o_orderkey % 2 + 2 AS INT) AS day
         |  FROM orders),
         |t AS (SELECT * FROM a UNION ALL SELECT * FROM b)
         |SELECT 'n_day2' AS leg,
         |  CAST((SELECT count(*) FROM t WHERE day = 2) AS BIGINT) AS n
         |UNION ALL SELECT 'n_total', CAST(count(*) AS BIGINT) FROM t
         |UNION ALL SELECT 'n_us',
         |  CAST((SELECT count(*) FROM t WHERE region = 'us') AS BIGINT)
         |UNION ALL SELECT 'new_keyed_on_day', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'prunes_both_eras', CAST(1 AS BIGINT)
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.CommitLog
      val wh = ioDir("s77_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt77", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt77.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt77.db")
      s.sql("CREATE TABLE gt77.db.pe (k BIGINT, region STRING, day INT) " +
        "PARTITIONED BY (region)")
      s.sql("INSERT INTO gt77.db.pe SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN 'us' " +
        "WHEN o_orderkey % 3 = 1 THEN 'eu' ELSE 'ap' END, 1 " +
        s"FROM parquet.`$dir/orders.parquet`")
      val root = s"$wh/db/pe"
      val eraA = CommitLog.files(root, CommitLog.latestVersion(root)).toSet
      s.sql("CALL gt77.system.set_partitioning(tbl => 'db.pe', cols => 'day')")
      s.sql("INSERT INTO gt77.db.pe SELECT o_orderkey + 1000000, 'new', " +
        s"CAST(o_orderkey % 2 + 2 AS INT) FROM parquet.`$dir/orders.parquet`")
      val v = CommitLog.latestVersion(root)
      val parts = CommitLog.partsOf(root, v)
      val newKeyed =
        if (CommitLog.files(root, v).filterNot(eraA.contains)
            .forall(b => parts.get(b).exists(_.keySet == Set("day")))) 1L
        else 0L
      def planned(df: org.apache.spark.sql.DataFrame): Int =
        Qh.flattenPlan(df.queryExecution.executedPlan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val t = s.table("gt77.db.pe")
      val all = planned(t)
      val prunes =
        if (planned(t.filter($"region" === "us")) < all &&
            planned(t.filter($"day" === 2)) < all) 1L
        else 0L
      Seq(
        ("n_day2", t.filter($"day" === 2).count()),
        ("n_total", t.count()),
        ("n_us", t.filter($"region" === "us").count()),
        ("new_keyed_on_day", newKeyed),
        ("prunes_both_eras", prunes)
      ).toDF("leg", "n").orderBy("leg")
    },

    // S78 (SURVEY S81): HASH-BUCKET PARTITIONING — `PARTITIONED BY
    // (bucket(8, k))` over a HIGH-CARDINALITY key: point probes and
    // IN-lists prune to ~1/8 of the files from the manifest's bucket
    // tokens (`probe_prunes`/`in_prunes` pin planned-file inequalities;
    // null keys route to the null token, `null_prunes` pins IS NULL
    // planning exactly one batch), where identity partitioning would
    // need one tuple per distinct key. DuckDB recomputes every count
    // from the raw rows.
    Decl(
      "s78_bucket_partition",
      s"""WITH t AS (
         |  SELECT CASE WHEN o_orderkey % 50 = 0 THEN NULL
         |              ELSE o_orderkey END AS k,
         |    o_totalprice AS p
         |  FROM orders)
         |SELECT 'in3' AS leg,
         |  CAST((SELECT count(*) FROM t WHERE k IN (6, 10, 14)) AS BIGINT) AS n
         |UNION ALL SELECT 'in_prunes', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'n_nulls',
         |  CAST((SELECT count(*) FROM t WHERE k IS NULL) AS BIGINT)
         |UNION ALL SELECT 'n_total', CAST(count(*) AS BIGINT) FROM t
         |UNION ALL SELECT 'null_prunes', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'point',
         |  CAST((SELECT count(*) FROM t WHERE k = 42) AS BIGINT)
         |UNION ALL SELECT 'probe_prunes', CAST(1 AS BIGINT)
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s78_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt78", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt78.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt78.db")
      s.sql("CREATE TABLE gt78.db.bp (k BIGINT, p DOUBLE) " +
        "PARTITIONED BY (bucket(8, k))")
      s.sql("INSERT INTO gt78.db.bp SELECT CASE WHEN o_orderkey % 50 = 0 " +
        "THEN NULL ELSE o_orderkey END, o_totalprice " +
        s"FROM parquet.`$dir/orders.parquet`")
      def planned(df: org.apache.spark.sql.DataFrame): Int =
        Qh.flattenPlan(df.queryExecution.executedPlan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      val t = s.table("gt78.db.bp")
      val all = planned(t)
      def flag(ok: Boolean): Long = if (ok) 1L else 0L
      Seq(
        ("in3", t.filter($"k".isin(6L, 10L, 14L)).count()),
        ("in_prunes", flag(planned(t.filter($"k".isin(6L, 10L, 14L))) < all)),
        ("n_nulls", t.filter($"k".isNull).count()),
        ("n_total", t.count()),
        ("null_prunes", flag(planned(t.filter($"k".isNull)) < all)),
        ("point", t.filter($"k" === 42L).count()),
        ("probe_prunes", flag(planned(t.filter($"k" === 42L)) < all))
      ).toDF("leg", "n").orderBy("leg")
    },

    // S79 (SURVEY S82): MONOTONE HIDDEN PARTITIONING — `months(date)`
    // and `truncate(W, string)` transforms. The queries filter the
    // SOURCE columns only (never a partition column — the "hidden"
    // in hidden partitioning) and RANGES prune through the transforms
    // because both are order-preserving; `range_prunes`/
    // `prefix_prunes` pin planned-file inequalities, DuckDB recomputes
    // every count from the raw rows.
    Decl(
      "s79_hidden_partition",
      s"""SELECT 'n_prefix' AS leg,
         |  CAST((SELECT count(*) FROM customer
         |        WHERE c_name LIKE 'Customer#0000001%') AS BIGINT) AS n
         |UNION ALL SELECT 'n_range',
         |  CAST((SELECT count(*) FROM orders
         |        WHERE o_orderdate >= DATE '1997-06-15') AS BIGINT)
         |UNION ALL SELECT 'n_total', CAST(count(*) AS BIGINT) FROM orders
         |UNION ALL SELECT 'n_window',
         |  CAST((SELECT count(*) FROM orders
         |        WHERE o_orderdate BETWEEN DATE '1995-01-01'
         |          AND DATE '1995-03-31') AS BIGINT)
         |UNION ALL SELECT 'prefix_prunes', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'range_prunes', CAST(1 AS BIGINT)
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s79_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt79", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt79.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt79.db")
      s.sql("CREATE TABLE gt79.db.om (od DATE, k BIGINT) " +
        "PARTITIONED BY (months(od))")
      s.sql("INSERT INTO gt79.db.om SELECT o_orderdate, o_orderkey " +
        s"FROM parquet.`$dir/orders.parquet`")
      s.sql("CREATE TABLE gt79.db.cn (name STRING, k BIGINT) " +
        "PARTITIONED BY (truncate(16, name))")
      s.sql("INSERT INTO gt79.db.cn SELECT c_name, c_custkey " +
        s"FROM parquet.`$dir/customer.parquet`")
      def planned(df: org.apache.spark.sql.DataFrame): Int =
        Qh.flattenPlan(df.queryExecution.executedPlan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.sum
      def flag(ok: Boolean): Long = if (ok) 1L else 0L
      val om = s.table("gt79.db.om")
      val cn = s.table("gt79.db.cn")
      val range = om.filter($"od" >= "1997-06-15")
      val window = om.filter($"od".between("1995-01-01", "1995-03-31"))
      val prefix = cn.filter($"name".startsWith("Customer#0000001"))
      Seq(
        ("n_prefix", prefix.count()),
        ("n_range", range.count()),
        ("n_total", om.count()),
        ("n_window", window.count()),
        ("prefix_prunes", flag(planned(prefix) < planned(cn))),
        ("range_prunes", flag(planned(range) < planned(om) &&
          planned(window) < planned(om)))
      ).toDF("leg", "n").orderBy("leg")
    },

    // S80 (SURVEY S83): COUNT(DISTINCT partition-col) from tuple
    // tokens — a token IS the single value of every row in its batch,
    // so the distinct non-null tokens of the live set are EXACTLY the
    // column's distinct values: zero data reads, global and grouped
    // (`meta_only` pins the CommitLogAggScan plan), NULL partitions
    // correctly not counted. DuckDB recomputes from the raw rows.
    Decl(
      "s80_count_distinct",
      s"""WITH t AS (
         |  SELECT o_orderkey AS k, o_orderpriority AS pri,
         |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
         |         ELSE CAST(o_orderkey % 5 AS INT) END AS shard
         |  FROM orders)
         |SELECT pri AS grp,
         |  CAST(count(DISTINCT shard) AS BIGINT) AS nd,
         |  CAST(1 AS INT) AS meta_only
         |FROM t GROUP BY pri
         |UNION ALL
         |SELECT '*', CAST(count(DISTINCT shard) AS BIGINT), 1 FROM t
         |ORDER BY grp""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wh = ioDir("s80_wh")
      Qh.deleteRecursively(new java.io.File(wh))
      s.conf.set("spark.sql.catalog.gt80", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gt80.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gt80.db")
      s.sql("CREATE TABLE gt80.db.cd (k BIGINT, pri STRING, shard INT) " +
        "PARTITIONED BY (pri, shard)")
      s.sql("INSERT INTO gt80.db.cd SELECT o_orderkey, o_orderpriority, " +
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL " +
        "ELSE CAST(o_orderkey % 5 AS INT) END " +
        s"FROM parquet.`$dir/orders.parquet`")
      val grouped = s.sql("SELECT pri AS grp, count(DISTINCT shard) AS nd " +
        "FROM gt80.db.cd GROUP BY pri")
      val global = s.sql(
        "SELECT count(DISTINCT shard) AS nd FROM gt80.db.cd")
      def scans(df: org.apache.spark.sql.DataFrame) =
        Qh.flattenPlan(df.queryExecution.executedPlan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
      val all = scans(grouped) ++ scans(global)
      val metaOnly =
        if (all.nonEmpty && all.forall(
            _.scan.isInstanceOf[graft.sources.CommitLogAggScan])) 1 else 0
      grouped
        .unionAll(global.select(lit("*").as("grp"), $"nd"))
        .select($"grp", $"nd", lit(metaOnly).as("meta_only"))
        .orderBy("grp")
    },

    // S81 (SURVEY S84): AUTO-COMPACTION — a table opting in via
    // `graft.autoCompact.minFiles` packs its small batches inline
    // after an append once the threshold is reached (dataChange=false
    // OPTIMIZE commits). The decl pins the ops outcome: 12 micro-
    // appends land, the live file count stays BOUNDED (`bounded`),
    // the history shows OPTIMIZE maintenance (`maintained`), and the
    // content is byte-identical to the oracle's plain union.
    Decl(
      "s81_auto_compact",
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
         |           WHERE o_orderkey > 0 AND o_orderkey <= 1200)
         |SELECT 'bounded' AS leg, CAST(1 AS BIGINT) AS n
         |UNION ALL SELECT 'maintained', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'n_rows', CAST(count(*) AS BIGINT) FROM t
         |UNION ALL SELECT 'sum_k', CAST(sum(k) AS BIGINT) FROM t
         |ORDER BY leg""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.{CommitLog, CommitLogWrite}
      val root = ioDir("s81_tbl")
      Qh.deleteRecursively(new java.io.File(root))
      val src = Qh.t(s, dir, "orders")
        .filter($"o_orderkey" > 0 && $"o_orderkey" <= 1200)
        .select($"o_orderkey".as("k"), $"o_totalprice".as("p"))
      // 12 micro-appends of ~100 keys each
      (0 until 12).foreach { i =>
        src.filter($"k" > i * 100 && $"k" <= (i + 1) * 100)
          .repartition(1)
          .write.format("commitlog").option("path", root)
          .mode("append").save()
        if (i == 0)
          CommitLog.commit(root, CommitLog.latestVersion(root), added = Nil,
            removed = Nil,
            props = Map(CommitLogWrite.AutoCompactMinFilesProp -> Some("4")),
            op = Some("SET TBLPROPERTIES"))
      }
      val live = CommitLog.files(root, CommitLog.latestVersion(root))
      val bounded = if (live.size < 12) 1L else 0L
      val maintained =
        if (CommitLog.history(root).exists(_.operation.contains("OPTIMIZE")))
          1L
        else 0L
      val t = s.read.format("commitlog").option("path", root).load()
      Seq(
        ("bounded", bounded),
        ("maintained", maintained),
        ("n_rows", t.count()),
        ("sum_k", t.agg(sum($"k")).head().getLong(0))
      ).toDF("leg", "n").orderBy("leg")
    }
  )

  /** Shared by the two commit-log decls (S22 copy-on-write, S23
    * merge-on-read): the (version, n, total) per-version aggregate in
    * its engine and oracle forms — ONE construction site for the
    * versioned-read contract. The manifest FORMATS stay deliberately
    * distinct (a json file list vs a data+dv two-line list): the two
    * delete mechanisms are the point of having two decls. */
  private def versionAggs(
      snapshot: Int => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def asOf(v: Int) = snapshot(v)
      .agg(count(lit(1)).as("n"), Qh.sumd2(col("o_totalprice")).as("total"))
      .select(lit(v.toLong).as("version"), col("n"), col("total"))
    asOf(1).unionAll(asOf(2)).unionAll(asOf(3)).orderBy("version")
  }

  private def oVersionAggs(preds: Seq[(Int, String)]): String =
    preds.map { case (v, pred) =>
      s"""SELECT CAST($v AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n,
         |  ${Qh.oSum2("o_totalprice")} AS total
         |FROM orders WHERE $pred""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY version").trim
}

/** Fixture writers for the S20 BSON-dump decl: the dump a `mongodump`
  * of the reference's fact collection would produce, written with the
  * engine's own [[graft.sources.Bson]] encoder — distributed, one
  * shard per partition, executor-side (no driver collect). */
object MongoFixtures {
  import graft.sources.Bson
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  /** rows: (event_id L, event_type S, user_id L, value D, ts_ms L). */
  def writeBsonDump(rows: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val dir = new java.io.File(path)
    if (dir.exists()) {
      dir.listFiles().foreach(_.delete())
    }
    dir.mkdirs()
    rows.repartition(4).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.get().partitionId()
        val p = new HPath(f"$path/part-$pid%05d.bson")
        val fs = FileSystem.get(p.toUri, graft.Engine.hadoopConf())
        val out = new java.io.BufferedOutputStream(fs.create(p, true))
        try it.foreach { r =>
          out.write(Bson.encode(Seq(
            "_id" -> Bson.BsonObjectId(f"${r.getLong(0)}%024x"),
            "event_id" -> r.getLong(0),
            "event_type" -> r.getString(1),
            "user_id" -> r.getLong(2),
            "value" -> r.getDouble(3),
            "ts" -> Bson.BsonDateTime(r.getLong(4)))))
        } finally out.close()
    }
  }

  /** One shard of deliberate damage: framed garbage (drops, framing
    * resyncs), then a VALID sentinel doc (must surface), then a
    * truncated tail (drops the remainder of this file only). */
  def writeCorruptShard(path: String): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    // exactly 16 bytes as declared (honest framing), but element type
    // 0x63 is unknown → decode fails, reader resyncs after it
    out.write(Array[Byte](16, 0, 0, 0, 0x63, 120, 121, 122, 0, 1, 2, 3, 4, 5, 6, 0))
    out.write(Bson.encode(Seq(
      "_id" -> Bson.BsonObjectId("00000000000000000000dead"),
      "event_id" -> -1L,
      "event_type" -> "resync",
      "user_id" -> 42L,
      "value" -> 1.5,
      "ts" -> Bson.BsonDateTime(0L))))
    // declared length 100, only 3 bytes present: ragged tail drops
    out.write(Array[Byte](100, 0, 0, 0, 1, 2, 3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "zz-corrupt.bson"), out.toByteArray)
  }
}
