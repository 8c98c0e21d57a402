package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_seconds}
import org.apache.spark.sql.streaming.Trigger

import graft.{Engine, SparkEntry}
import graft.perfbench.Recorder.{obj, Obj}

/** One benchmark run in one JVM: set up, time the workload, dump the
  * decl outputs for the oracle check, and write a raw JSON record.
  *
  *   Harness --workload W --data DIR --work DIR --out FILE --seconds S --seed N
  *           --trace 0|1 (--decls a,b,c --min-warm K --verify-out DIR
  *                        | --stream-plan FILE)
  *
  * Every layer is timed from outside, through public entry points
  * (`Engine.session`, `SparkEntry.queries`, the layout builders,
  * `Streams.*`, the `EnvelopeSource` format) and Spark's listener APIs.
  * Timed work materializes through the `noop` sink, as `graft.Bench`
  * does: `count()` would let Catalyst prune the projections. Nothing is
  * caught around set-up, so a failed layout build fails the run. */
object Harness {

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  /** Epoch milliseconds on the monotonic clock, with sub-ms digits. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work"))
    val traced = opt("trace") == "1"
    val rec = new Recorder
    val record = obj(
      "workload" -> opt("workload"), "seed" -> opt("seed").toLong, "trace" -> traced,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime)
    val (spark, sessionS) = timed {
      Engine.builder("perfbench")
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.graft.checkpointDir", work.resolve("checkpoints").toString)
        .getOrCreate()
      Engine.session("perfbench")
    }
    record.put("cpus", Engine.cpus)
    record.put("spark_version", spark.version)
    record.put("java_version", System.getProperty("java.version"))
    record.put("session_s", sessionS)
    spark.streams.addListener(rec.streamListener)

    opt.get("stream-plan") match {
      case Some(plan) => StreamRun(spark, rec, work, Paths.get(plan), traced, record)
      case None => BatchRun(spark, rec, opt, record)
    }

    if (traced) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      record.put("jobs", rec.jobList)
      record.put("stages", new java.util.ArrayList(rec.stages))
      record.put("plans", new java.util.ArrayList(rec.plans))
    }
    record.put("progress", new java.util.ArrayList(rec.progress))
    // live heap with the session and its catalog still up. Leftover
    // intermediates and the stopped stream's state stores are dropped
    // first, and the heap is collected again after Spark's cleaner thread
    // has released the broadcast and shuffle blocks the first collection
    // made unreachable; otherwise how many were still held would depend
    // on timing.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.perfbench.StateStores.unloadAll()
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    record.put("live_heap_mb", heap / 1048576.0)
    spark.stop()
    record.put("end_ms", nowMs)
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(opt("out")), record)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compile-time estimate: the histogram keeps a reservoir, not a sum,
    * so the total is the count times the reservoir mean. */
  def codegenMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" ").take(300)
}

/** The closed-loop batch workload: set-up builds the graph and band
  * layouts, each timed; then one client runs the decls one at a time, in
  * a seeded order per pass, until `--seconds` have elapsed and at least
  * `--min-warm` warm passes are done. Pass 0 is the cold pass.
  * In a traced run the cold pass carries the listeners and the warm
  * passes run traced, untraced, untraced, traced, ... so that untraced
  * passes give the tracing overhead in the same JVM, and the warm-up
  * still going on in the early passes weighs on both sides alike. */
object BatchRun {
  import Harness._

  def apply(spark: SparkSession, rec: Recorder, opt: Map[String, String], record: Obj): Unit = {
    val data = opt("data")
    val decls = opt("decls").split(",").toSeq
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val minWarm = opt("min-warm").toInt

    record.put("layouts", obj(
      "edge_table" -> timed(noop(graft.queries.Graph.edgeTable(spark, data)))._2,
      "edge_table_by_dst" -> timed(noop(graft.queries.Graph.edgeTableByDst(spark, data)))._2,
      "band_table" -> timed(noop(graft.queries.Dedup.bandTableDf(spark, data)))._2))
    record.put("ready_ms", nowMs)

    val passes = new java.util.ArrayList[Obj]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    while (pass == 0 || elapsed < seconds || pass - 1 < minWarm) {
      val tracedPass = traced && (pass == 0 || pass % 4 == 0 || pass % 4 == 1)
      rec.trace(spark, tracedPass)
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(decls)
      val cg0 = (codegenCount, codegenMs)
      val p0 = nowMs
      val runs = order.map(name => runDecl(spark, data, name))
      passes.add(obj(
        "index" -> pass, "traced" -> tracedPass, "start_ms" -> p0, "end_ms" -> nowMs,
        "codegen_compiles" -> (codegenCount - cg0._1),
        "codegen_ms" -> (codegenMs - cg0._2),
        "decls" -> runs.asJava))
      pass += 1
    }
    rec.trace(spark, false)
    record.put("passes", passes)

    // untimed: each decl's output on the exact inputs it was timed on
    val outDir = opt("verify-out")
    val verify = obj()
    decls.foreach { name =>
      try {
        SparkEntry.queries(name)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        verify.put(name, "written")
      } catch { case e: Throwable => verify.put(name, message(e)) }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    record.put("verify", verify)
    record.put("oracles", SparkEntry.oracleSql.filter { case (k, _) => decls.contains(k) }.asJava)
  }

  private def runDecl(spark: SparkSession, data: String, name: String): Obj = {
    val r = obj("name" -> name, "start_ms" -> nowMs)
    try {
      val df = SparkEntry.queries(name)(spark, data)
      r.put("built_ms", nowMs)
      noop(df)
    } catch { case e: Throwable => r.put("error", message(e)) }
    r.put("end_ms", nowMs)
    // outside the timed region, as graft.Bench does: drop the decl's
    // leftover materialized intermediates so the next decl starts clean
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    r
  }
}

/** The open-loop stream workload. The harness thread is the generator:
  * it lands pre-built envelope JSONL files into the watched directory on
  * the plan's schedule, whatever the query's progress. The query is the
  * reference job in streaming form: `EnvelopeSource` stream →
  * `Streams.streamStaticSemiJoin` → `Streams.dedupWithinWatermark` → the
  * `EnvelopeSource` exactly-once sink, on a fixed trigger. Phases run one
  * after another; each waits until the query has committed every file of
  * the phase before the next one starts. In a traced run the generator
  * attaches or detaches the listeners as each file's `traced` flag asks,
  * and records when it did. */
object StreamRun {
  import Harness._

  def apply(spark: SparkSession, rec: Recorder, work: Path, planFile: Path,
      traced: Boolean, record: Obj): Unit = {
    val plan = new ObjectMapper().readTree(planFile.toFile)
    val staged = Paths.get(plan.get("staged_dir").asText())
    val live = Files.createDirectories(work.resolve("live"))
    val sink = work.resolve("sink")
    val allow = spark.read.parquet(plan.get("allow").asText()).cache()
    allow.count()

    rec.trace(spark, traced)
    record.put("ready_ms", nowMs)

    def start() = graft.streaming.Streams.withStatePartitions(spark) {
      val src = spark.readStream.format("graft.sources.EnvelopeSource")
        .option("path", live.toString).load()
      graft.streaming.Streams.dedupWithinWatermark(
        graft.streaming.Streams.streamStaticSemiJoin(src, allow)
          // the envelope carries no event time: derive one that grows
          // with the event id, from 2024-01-01 (an event at the epoch
          // would sit exactly on the initial watermark and count as late)
          .withColumn("ts", timestamp_seconds(col("event_id") + 1704067200L)))
        .select("event_id", "event_type", "user_id", "value", "source")
        .writeStream.format("graft.sources.EnvelopeSource")
        .option("path", sink.toString)
        .option("checkpointLocation", work.resolve("stream-ckpt").toString)
        .trigger(Trigger.ProcessingTime(plan.get("trigger_ms").asLong()))
        .start()
    }

    // The first phase's backlog lands before the query starts, so its
    // phase is a one-shot import job: start, drain, commit.
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    val phases = new java.util.ArrayList[Obj]()
    val toggles = new java.util.ArrayList[Obj]()
    toggles.add(obj("at_ms" -> nowMs, "on" -> traced))
    try {
      plan.get("phases").elements().asScala.foreach { ph =>
        val name = ph.get("name").asText()
        val files = ph.get("files").elements().asScala.toSeq
        val lands = new java.util.ArrayList[Obj]()
        val cg0 = (codegenCount, codegenMs)
        val p0 = nowMs
        files.foreach { f =>
          val due = p0 + f.get("due_ms").asDouble()
          val wait = due - nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val on = traced && f.get("traced").asBoolean()
          if (on != rec.tracing) {
            rec.trace(spark, on)
            toggles.add(obj("at_ms" -> nowMs, "on" -> on))
          }
          val fname = f.get("name").asText()
          Files.move(staged.resolve(fname), live.resolve(fname), StandardCopyOption.ATOMIC_MOVE)
          lands.add(obj("name" -> fname, "due_ms" -> due, "landed_ms" -> nowMs,
            "events" -> f.get("events").asLong()))
        }
        if (query == null) query = start()
        val lastName = files.last.get("name").asText()
        val limit = System.nanoTime() + ph.get("timeout_s").asLong() * 1000000000L
        while (rec.committedLast.get < lastName && System.nanoTime() < limit) {
          require(query.isActive, s"stream query stopped: ${query.exception.map(_.getMessage)}")
          Thread.sleep(2)
        }
        require(rec.committedLast.get >= lastName,
          s"phase $name: not committed within ${ph.get("timeout_s").asLong()} s")
        phases.add(obj("name" -> name, "kind" -> ph.get("kind").asText(),
          "start_ms" -> p0, "end_ms" -> nowMs, "files" -> lands,
          "codegen_compiles" -> (codegenCount - cg0._1),
          "codegen_ms" -> (codegenMs - cg0._2)))
      }
    } finally {
      if (query != null) {
        query.stop()
        query.awaitTermination()
      }
    }
    rec.trace(spark, false)
    toggles.add(obj("at_ms" -> nowMs, "on" -> false))
    record.put("phases", phases)
    record.put("trace_toggles", toggles)
    record.put("sink_dir", sink.toString)
  }
}
