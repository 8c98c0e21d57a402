package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Query helpers shared by every declared-query module.
  *
  * == Cross-engine float determinism ==
  *
  * The driver hash-compares engine output against DuckDB, so every float
  * that leaves a query must be bit-identical across engines. Two hazards:
  *
  * 1. '''Shuffle-order-dependent sums.''' `sum(double)` accumulates in
  *    partition order, which differs between Spark (parallel partial aggs)
  *    and DuckDB (and between Spark runs). Fix: cast to DECIMAL before
  *    aggregating — decimal addition is associative and exact — then cast
  *    the result back to DOUBLE (exact below 2^53).
  *
  * 2. '''Decimal-string rounding.''' Spark's `round()` rounds the SHORTEST
  *    DECIMAL REPRESENTATION of a double (BigDecimal.valueOf semantics),
  *    DuckDB rounds the BINARY value; on grid-aligned data (money with 2
  *    decimals) they disagree on exact .xx5 boundaries. Fix: round with
  *    pure IEEE arithmetic — `floor(x*scale + 0.5)/scale` — and write the
  *    SAME formula in the oracle SQL, so both engines evaluate identical
  *    instructions on identical inputs.
  */
object Qh {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** A fixture table with its scan parallelism FLOORED at the session's
    * core count (r16 optimization, guide §2.5 "one huge unsplittable
    * file" remedy): the bench fixtures are single-row-group parquet
    * files, so Spark's scan emits every row from ONE task and any
    * CPU-dense pipeline sitting on the scan (shingle+md5 signatures,
    * per-position gram codes, JSON/try_* projections) serializes on one
    * core regardless of cluster size. When — and only when — the
    * table's bytes could not fill half the cores with default-sized
    * splits, a round-robin repartition to the default parallelism is
    * inserted after the scan: the serial part shrinks to scan +
    * shuffle-write of the raw bytes and the expensive compute lands on
    * every core. On a production-sized input (bytes ≫ cores ×
    * maxPartitionBytes) the guard makes this a NO-OP — the scan already
    * parallelizes and no extra exchange is paid; the decision derives
    * from input size and session parallelism, never a local constant. */
  def tSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val bytes = tableBytes(spark, s"$dir/$name.parquet")
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    if (bytes < maxSplit * (target.toLong max 2L) / 2) df.repartition(target)
    else df
  }

  /** Total bytes under `path`, resolved through the path's OWN Hadoop
    * FileSystem (r17 fix: the r16 probe used `java.io.File`, which
    * returns 0 for any non-local scheme — on hdfs:// or s3:// the
    * "guard that no-ops at scale" then fired an unconditional
    * full-table exchange, the exact opposite of its contract). Missing
    * paths report Long.MaxValue, not 0: "can't size it" must never
    * buy a spurious repartition of what might be a petabyte table.
    * Sizes are immutable per fixture path, so one probe per (JVM,
    * path) — repeated tSpread calls don't re-walk the tree. */
  private val tableBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def tableBytes(spark: SparkSession, path: String): Long =
    tableBytesCache.computeIfAbsent(path, _ => {
      val p = new org.apache.hadoop.fs.Path(path)
      try {
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        fs.getContentSummary(p).getLength
      } catch { case _: Exception => java.lang.Long.MAX_VALUE }
    })

  /** Scratch directory for decls that exercise a write→read loop
    * (s4/s6/s7/s8/s9/s10/s11, l3_ann_trained). One shared convention so
    * every IO decl gets the same uniqueness/cleanup behavior: the path
    * is namespaced per JVM (tests and a concurrent Verify run never race
    * on the same directory during overwrite). */
  /** One sweep per JVM (not per ioDir call), deleting only dirs that are
    * BOTH pid-dead AND older than an hour: pid liveness alone misfires
    * when an unrelated process recycles a dead JVM's pid (the dir would
    * then survive forever), and the age floor means a recycled pid can
    * at worst delay cleanup to a later round, never block it. */
  private lazy val sweepDeadScratch: Unit = {
    val base = new java.io.File("/tmp/graft_io")
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    Option(base.listFiles()).getOrElse(Array.empty).foreach { f =>
      val alive = f.getName.toLongOption
        .exists(pid => java.lang.ProcessHandle.of(pid).isPresent)
      if (f.isDirectory && f.getName.forall(_.isDigit) && !alive &&
          f.lastModified() < cutoff) deleteRecursively(f)
    }
  }

  /** Recursive local delete (scratch-dir hygiene; no-op if absent). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  def ioDir(name: String): String = {
    sweepDeadScratch
    val d = s"/tmp/graft_io/${java.lang.ProcessHandle.current().pid()}/$name"
    new java.io.File(d).getParentFile.mkdirs()
    d
  }

  /** Global order for a SMALL-by-construction result (grouped
    * aggregates over bounded-cardinality keys): one single-partition
    * round-robin exchange + local sort. `orderBy` inserts a RANGE
    * exchange whose partitioner SAMPLES its child — re-executing the
    * entire subtree above the last materialized shuffle once for the
    * sample pass and again for the real write (r17 profile: the a6
    * exact-percentile merge ran twice, ~0.8 s each at sf0.1, to sort 3
    * rows). Same rows, same order (sort keys are the full group key);
    * only the duplicate evaluation and the sampling job go away. At
    * scale this is the RIGHT shape for these decls too — a
    * 3-to-few-thousand-row result never needs a sampled range shuffle,
    * while the avoided double merge grows with partial count. Use ONLY
    * where the result is provably bounded; a big ordered output must
    * keep orderBy's parallel range sort. */
  def orderSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  // ---- pure-IEEE rounding (same formula emitted in oracle SQL) ----
  def r(c: Column, scale: Long): Column = floor(c * scale + lit(0.5)) / lit(scale.toDouble)
  def r2(c: Column): Column = r(c, 100L)
  def r4(c: Column): Column = r(c, 10000L)
  def r6(c: Column): Column = r(c, 1000000L)
  def oR(x: String, scale: Long): String = s"floor(($x) * $scale + 0.5) / $scale.0"
  def oR2(x: String): String = oR(x, 100L)
  def oR4(x: String): String = oR(x, 10000L)
  def oR6(x: String): String = oR(x, 1000000L)

  /** Flatten an executed plan through AQE wrappers, query stages AND
    * subquery expressions — plain `collect` treats the first two as
    * leaves, and none of the three descends into plans hanging off
    * EXPRESSIONS (scalar subqueries, DPP's SubqueryBroadcastExec), so
    * plan-shape pins that count nodes would otherwise miss exchanges
    * or scans executing inside them. */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(flattenPlan)
  }

  // ---- order-independent exact sums over money-grid doubles ----
  def sumd2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)
  def sumd6(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast(DoubleType)
  def oSum2(x: String): String = s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
  def oSum6(x: String): String = s"CAST(sum(CAST($x AS DECIMAL(28,6))) AS DOUBLE)"

  /** Exact average as exact-sum / count (both engines do the same double
    * division on identical inputs). */
  def avgd2(c: Column): Column = sumd2(c) / count(lit(1))
  def oAvg2(x: String): String = s"(${oSum2(x)} / count(*))"

  // ---- portable 32-bit hash (identical text → identical value in
  // Spark and DuckDB: first 8 hex chars of md5, parsed base-16).
  // Engine side runs the native graft.functions.Md5Prefix32 — same
  // value straight from digest bytes, no hex-encode/parse round trip
  // (equality property-tested in PortableHashSpec); the oracle states
  // the hex formula. ----
  def phash(c: Column, seed: Int): Column =
    call_function("md5_prefix32", c, lit(seed))
  def oPhash(x: String, seed: Int): String =
    s"CAST(concat('0x', substr(md5(concat($x, '#$seed')),1,8)) AS BIGINT)"

  /** Oracle-side dot product as a SEQUENTIAL left fold — bit-identical
    * to Spark's `aggregate(zip_with(...))`. DuckDB's list_dot_product
    * uses a different accumulation order (last-ulp drift that survives
    * rounding at the boundary), so the oracle must fold explicitly. */
  def oDot(x: String, y: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(len($x)), i -> CAST($x[i+1] AS DOUBLE) * CAST($y[i+1] AS DOUBLE))), (a, b) -> a + b)"

  // ---- portable tokenization over documents.text ----
  /** Lowercased alpha tokens (Java regex and RE2 agree on this class). */
  val toksExpr = "regexp_extract_all(lower(text), '[a-z]+', 0)"
  val oToksExpr = "regexp_extract_all(lower(text), '[a-z]+')"

  /** events.ts is ns-precision in parquet; Spark truncates to µs on read.
    * Cast defensively so any arithmetic happens at µs on both sides (the
    * oracle SQL casts TIMESTAMP_NS → TIMESTAMP for the same reason). */
  def tsUs(c: Column): Column = c.cast(TimestampType)

  /** Materialize a multiply-consumed subtree ONCE (Catalyst does not
    * reuse exchanges across self-join branches, so without this the
    * shared pipeline — e.g. MinHash signatures — recomputes per
    * consumer; measured 4–6× on the LSH/ngram decls).
    *
    * Durability is a deployment choice, selected by
    * `spark.graft.materialize`:
    *
    *  - `local` (default): `localCheckpoint` — fastest, but blocks live
    *    only on executors; right for local[*] and short batch runs.
    *  - `disk`: eager `persist(DISK_ONLY)` — lineage is kept, so a lost
    *    executor recomputes instead of failing the job; the right mode
    *    for long multi-hour cluster runs.
    *  - `checkpoint`: reliable HDFS/object-store checkpoint (eager,
    *    lineage truncated) under `spark.graft.checkpointDir`; survives
    *    executor AND driver-retry loss — the 100 TB production mode.
    */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("spark.graft.materialize", "local") match {
      case "disk" =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        p.count() // eager: consumers read the store, never race to rebuild
        p
      case "checkpoint" =>
        val dir = spark.conf.get("spark.graft.checkpointDir", "/tmp/graft_checkpoints")
        spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case _ => df.localCheckpoint()
    }
  }

  // ---- one-time bucketed table persistence ----
  private val bucketTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Persist a DataFrame ONCE per (JVM, prefix, input dir) as a
    * BUCKETED + SORTED table and return it; later calls reuse the
    * table. `repartition(nBuckets, keys)` before the write guarantees
    * one file per bucket, so downstream joins/aggs keyed on `keys`
    * read it exchange-free AND sort-free — the co-located layout
    * production warehouses maintain for their hottest join keys.
    * Shared by the PageRank adjacency, the LSH band table, and the
    * co-bucketed fact join (one construction site — a divergent copy
    * per module is how band-config bugs ship). computeIfAbsent
    * serializes concurrent builders (Verify runs decls 4-at-a-time; a
    * double saveAsTable would race). The stale-location sweep, in the
    * session's own `spark.sql.warehouse.dir`, clears this table's own
    * leftover dir plus any same-prefix dir whose JVM is BOTH pid-dead
    * and >1h old (the Qh.ioDir sweep contract). */
  def bucketedTable(
      spark: SparkSession, prefix: String, dir: String,
      nBuckets: Int, keys: Seq[String])(df: => DataFrame): DataFrame =
    spark.table(bucketTables.computeIfAbsent(s"$prefix|$dir", _ => {
      val tbl =
        s"${prefix}_${java.lang.ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val warehouse = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
      val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
      Option(new java.io.File(warehouse).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.getName == tbl ||
          (f.getName.startsWith(s"${prefix}_") &&
            f.lastModified() < cutoff &&
            f.getName.stripPrefix(s"${prefix}_").takeWhile(_.isDigit).toLongOption
              .exists(pid => java.lang.ProcessHandle.of(pid).isEmpty)))
        .foreach(deleteRecursively)
      df.repartition(nBuckets, keys.map(col): _*)
        .write.bucketBy(nBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .mode("overwrite").saveAsTable(tbl)
      tbl
    }))

  /** Floor the partition count of a MATERIALIZED frame at the session's
    * core count (r17). AQE rightly coalesces a small aggregate's output
    * to one partition, but when a CPU-dense pipeline (the simhash band
    * explode: 20 packed block keys per row) sits directly on the
    * materialized result, that one partition serializes the whole stage
    * on one core. The guard is the actual partition count — knowable for
    * free on a materialized frame — so on production-sized inputs
    * (already ≥ cores partitions) this is a NO-OP and no exchange is
    * paid; the decision derives from data, never a local constant. */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < ((target max 2) / 2)) df.repartition(target)
    else df
  }

  /** [[materialize]] + [[spreadIfNarrow]], with the spread exchange
    * RE-MATERIALIZED when it fires (r17). A lazy repartition on top of
    * a checkpoint is re-executed by EVERY consumer — and because column
    * pruning pushes each consumer's projection below it, the copies are
    * canonically different and exchange reuse never collapses them
    * (measured on l2_ngram_jaccard: three serial 1-task exchange map
    * stages, one per consumer leg). Materializing the spread frame
    * pays the tiny narrow-frame exchange once and hands every consumer
    * a wide, shared RDD. On production-sized inputs the frame is
    * already ≥ cores partitions, nothing fires, and this is exactly
    * [[materialize]]. */
  def materializeSpread(df: DataFrame): DataFrame = {
    val m = materialize(df)
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (m.rdd.getNumPartitions < ((target max 2) / 2)) {
      val wide = materialize(m.repartition(target))
      release(m) // the narrow checkpoint has no readers left
      wide
    } else m
  }

  /** Free a frontier produced by [[materialize]] once its successor
    * exists and nothing will read it again. Iterative loops (PageRank,
    * label propagation) otherwise accumulate one persisted frontier per
    * round — unbounded storage growth over a long convergence run.
    * `disk` mode unpersists the cached query; `local`/`checkpoint`
    * frontiers are LogicalRDD plans the cache manager doesn't track, so
    * their block storage is dropped directly. A released frontier must
    * NEVER be used again: checkpoint lineage is truncated, so there is
    * nothing left to recompute it from. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
    case _ => df.unpersist(false)
  }
}
