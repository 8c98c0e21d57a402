package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table catalog (TESTDATA.md / FIXTURES.md §2).
  *
  * All engine queries read the driver-generated parquet tables through this
  * single entry point so that scans stay declarative (parquet source →
  * vectorized reader, predicate pushdown, column pruning all come for free
  * from Catalyst).
  *
  * Scale notes: at 100 TB these would be partitioned/bucketed external
  * tables; the loader keeps the access path identical (`spark.read.parquet`)
  * so swapping the path for a partitioned root is a config change, not a
  * code change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table. `dir` is e.g. /root/testdata/sf0.01
    *
    * events.ts normalization — fixture generations have shipped it as
    * either parquet TIMESTAMP(NANOS) or TIMESTAMP(MICROS), so dispatch
    * on the type actually read and normalize, once, to a µs
    * TimestampType:
    *  - ns arrives as Long (Spark has no native ns type; the
    *    nanosAsLong escape hatch in [[Engine.builder]] avoids
    *    PARQUET_TYPE_ILLEGAL). Integer `div` — NOT double division, ns
    *    epoch values (~1.7e18) are above 2^53 and would lose
    *    precision — floor-truncates exactly like DuckDB's
    *    TIMESTAMP_NS → TIMESTAMP cast.
    *  - µs arrives as TIMESTAMP_NTZ (naive, as DuckDB also reads it);
    *    cast to the session-zone type under the UTC session so both
    *    engines see identical µs instants. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    else df
  }

  /** Register every fixture table as a temp view (SQL entry point). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}

/** SparkSession factory with the engine's standard configuration.
  *
  * - shuffle.partitions sized to the local core count (not the 200 default,
  *   which at local[32] creates tiny-task overhead; on a real cluster this
  *   is raised to ~2-3× total cores, and AQE coalesces down).
  * - AQE on: runtime re-planning (skew-join split, partition coalescing,
  *   broadcast demotion/promotion) is the main lever that keeps the same
  *   plans viable from sf0.001 to 100 TB.
  * - UTC session timezone so timestamp semantics match the DuckDB oracle.
  */
object Engine {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Hadoop keys that route `file:` paths, for both `FileSystem` and
    * `FileContext`, to the local filesystem in [[graft.sources]] that
    * sets permissions and reads link status through java.nio instead of
    * forking `chmod`/`readlink`. */
  val localFsConf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[graft.sources.GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[graft.sources.GraftLocalFs].getName)

  /** A fresh Hadoop conf carrying [[localFsConf]], for code that runs
    * without a session's conf. Hadoop caches `FileSystem` instances by
    * scheme, authority and user, not by conf, so a bare
    * `new Configuration()` that creates the `file:` instance first would
    * hand the stock class to every later caller. */
  def hadoopConf(): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    localFsConf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      // must be injected (not experimental.extraOptimizations): the
      // decline tag has to land BEFORE the early-pushdown batch reads
      // it — injected optimizer rules run in the operator batch,
      // extraOptimizations run after pushdown
      .withExtensions(ext => ext.injectOptimizerRule(_ =>
        graft.sources.NoVariantPushdownOnMetadataScans))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // fixture events.ts is parquet TIMESTAMP(NANOS); read as Long
      // (nanos since epoch) and normalize in Tables.apply
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed-table warehouse outside the repo (bucketed tables etc.)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // trust the per-bucket sort order of bucketed tables when each
      // bucket holds EXACTLY ONE file (Spark still checks the file
      // count per bucket before claiming the ordering). Qh.bucketedTable
      // repartitions to one file per bucket by construction, so joins
      // and aggs over those layouts run sort-free as well as
      // exchange-free — the j14/l13/l2 co-located read contract
      // (SPARK-28595 moved this behind a flag; the one-file guarantee
      // is precisely the case it is safe for)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // JVM-wide LRU of compiled generated classes (static conf, read
      // once when the codegen cache is first built; Spark's default is
      // 100). Measured at sf0.01: one pass over all 261 decls compiles
      // 3,105 distinct classes, the 8 perfbench batch_mix decls 122. At
      // 100 entries a repeated pass evicts every class before its next
      // use, so warm passes recompile as if cold (4,287 compiles on a
      // second full-suite pass; 130 at this cap). 4096 holds the suite
      // with headroom, for +92 MB live heap and +24 MB metaspace after
      // two full-suite passes.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config(localFsConf.map { case (k, v) => s"spark.hadoop.$k" -> v })
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def session(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // native codegen'd functions (cosine_sim, dot_product) — idempotent
    graft.functions.GraftFunctions.register(s)
    // custom top-k operator: strategy + the window-idiom rewrite rule
    graft.plans.TopKPerGroup.register(s)
    s
  }
}
