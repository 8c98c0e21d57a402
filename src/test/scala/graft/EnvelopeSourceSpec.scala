package graft

import graft.sources.{EnvelopeScan, KafkaIO}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Pushdown contract of the custom DSv2 envelope source: pruning
  * reaches the reader's schema, supported filters reach the reader,
  * and results survive both (Spark re-checks residuals, so pushdown
  * can only drop work, never rows). */
class EnvelopeSourceSpec extends SparkSpec {

  private lazy val path = {
    val p = "/tmp/graft_io/spec_envelope"
    KafkaIO.toEnvelope(Tables(spark, sf0001, "events"))
      .select(col("value"))
      .write.mode("overwrite").text(p)
    p
  }

  private def read =
    spark.read.format("graft.sources.EnvelopeSource").option("path", path).load()

  private def scanOf(df: org.apache.spark.sql.DataFrame): EnvelopeScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[EnvelopeScan]
    }.getOrElse(fail("no BatchScanExec in plan"))

  test("round trip preserves every row and field") {
    import spark.implicits._
    val ev = Tables(spark, sf0001, "events")
      .select($"event_id", $"event_type", $"user_id", $"value")
    val back = read.select($"event_id", $"event_type", $"user_id", $"value")
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
  }

  test("column pruning reaches the reader") {
    import spark.implicits._
    val scan = scanOf(read.select($"user_id"))
    assert(scan.required.fieldNames.toSeq == Seq("user_id"),
      s"expected pruned schema, got ${scan.required.catalogString}")
  }

  test("supported filters are pushed into the reader; rows match an unpushed plan") {
    import spark.implicits._
    val filtered = read.filter($"event_type" === "purchase" && $"user_id" < 50)
    val scan = scanOf(filtered)
    assert(scan.filters.length == 2,
      s"expected 2 pushed filters, got ${scan.filters.mkString(", ")}")
    val expected = Tables(spark, sf0001, "events")
      .filter($"event_type" === "purchase" && $"user_id" < 50).count()
    assert(filtered.count() == expected)
  }

  test("malformed lines drop (R6 semantics), valid lines survive") {
    import spark.implicits._
    val p = "/tmp/graft_io/spec_envelope_corrupt"
    Seq(
      """{"data":{"event_id":1,"event_type":"click","user_id":7,"value":1.5},"source":"database"}""",
      """this is not json""",
      """{"data":{"event_id":2,"event_type":"view","user_id":8,"value":2.5},"source":"database"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(p)
    val rows = spark.read.format("graft.sources.EnvelopeSource")
      .option("path", p).load()
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L))
  }

  test("sink task-commit: rows invisible until driver commit; abort leaves nothing") {
    import graft.sources.{EnvelopeBatchWrite, EnvelopeWriterFactory}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    def row(id: Long): InternalRow = InternalRow(
      id, UTF8String.fromString("click"), 7L, 1.5, UTF8String.fromString("database"))
    def visible(p: String): Seq[String] = {
      val fs = Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
      fs.map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
    }
    // committed write: temp invisible pre-commit, renamed on commit
    val p1 = java.nio.file.Files.createTempDirectory("env_sink").toString
    val bw = new EnvelopeBatchWrite(p1)
    val factory = bw.createBatchWriterFactory(null)
      .asInstanceOf[EnvelopeWriterFactory]
    val w = factory.createWriter(0, 42L)
    w.write(row(1)); w.write(row(2))
    val msg = w.commit()
    assert(visible(p1).isEmpty, "task output visible before driver commit")
    // a racing zombie attempt for the same partition: writes, never
    // reaches the commit message set
    val zombie = factory.createWriter(0, 43L)
    zombie.write(row(99)); zombie.commit()
    bw.commit(Array(msg))
    assert(visible(p1).size == 1, s"want the one committed file: ${visible(p1)}")
    val back = spark.read.format("graft.sources.EnvelopeSource")
      .option("path", p1).load()
    import spark.implicits._
    assert(back.select($"event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "zombie attempt's rows leaked into the visible output")
    assert(!new java.io.File(p1).listFiles().exists(_.getName.endsWith(".tmp")),
      "losing attempt's temp file not swept")
    // aborted write: nothing visible, temps gone
    val p2 = java.nio.file.Files.createTempDirectory("env_sink_abort").toString
    val bw2 = new EnvelopeBatchWrite(p2)
    val w2 = bw2.createBatchWriterFactory(null)
      .asInstanceOf[EnvelopeWriterFactory].createWriter(0, 1L)
    w2.write(row(5)); w2.commit()
    bw2.abort(Array.empty)
    assert(Option(new java.io.File(p2).listFiles()).getOrElse(Array.empty).isEmpty,
      "abort left files behind")
  }

  test("sink writers with no rows create no file: an empty epoch publishes nothing") {
    import graft.sources.EnvelopeStreamingWrite
    val p = java.nio.file.Files.createTempDirectory("env_sink_empty").toString
    val sw = new EnvelopeStreamingWrite(p)
    val factory = sw.createStreamingWriterFactory(null)
    val msgs = (0 until 3).map(part => factory.createWriter(part, 10L + part, 4L).commit())
    assert(new java.io.File(p).list().isEmpty, "an empty writer opened a temp file")
    sw.commit(4L, msgs.toArray)
    assert(new java.io.File(p).list().isEmpty,
      s"empty partitions published files: ${new java.io.File(p).list().toSeq}")
    // a writer that never wrote and is aborted creates nothing either,
    // not even the sink directory
    val gone = new java.io.File(p, "never")
    factory.createWriter(0, 20L, 5L).abort()
    new EnvelopeStreamingWrite(gone.toString).createStreamingWriterFactory(null)
      .createWriter(0, 21L, 5L).abort()
    assert(new java.io.File(p).list().isEmpty && !gone.exists())
  }

  test("COUNT(*) pushes into the source; filtered counts fall back and stay exact") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("env_cnt").toString
    val lines = (1L to 100L).map(i =>
      s"""{"data":{"event_id":$i,"event_type":"click","user_id":7,"value":1.5},"source":"database"}""") :+
      "not json at all" // malformed: drops, must NOT count
    java.nio.file.Files.write(java.nio.file.Paths.get(p, "part-0001.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val df = spark.read.format("graft.sources.EnvelopeSource").option("path", p).load()
    // unfiltered global count: the aggregate reaches the scan
    val agg = df.groupBy().count()
    val desc = agg.queryExecution.executedPlan.toString
    assert(desc.contains("PushedAggregation=[COUNT(*)]"),
      s"count(*) not pushed into the scan:\n${desc.take(800)}")
    assert(agg.as[Long].head() == 100L, "pushed count wrong (malformed line counted?)")
    assert(df.count() == 100L)
    // a filter above the scan disables the pushdown (this source keeps
    // all filters residual) — the count must still be exact
    val filtered = df.filter($"event_id" <= 40L).groupBy().count()
    val fdesc = filtered.queryExecution.executedPlan.toString
    assert(!fdesc.contains("PushedAggregation=[COUNT(*)]"),
      "aggregate pushed below a residual filter — correctness bug")
    assert(filtered.as[Long].head() == 40L)
  }

  test("streaming envelope source: batches follow the name watermark; below-watermark files ignore") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("env_stream_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("env_src_ckpt").toString
    def land(name: String, ids: Seq[Long]): Unit = {
      val lines = ids.map(i =>
        s"""{"data":{"event_id":$i,"event_type":"click","user_id":7,"value":1.5},"source":"database"}""")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, name),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    land("part-0001.jsonl", Seq(1L, 2L))
    val q = spark.readStream.format("graft.sources.EnvelopeSource")
      .option("path", p).load()
      .writeStream.format("memory").queryName("env_src_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      def ids() = spark.table("env_src_out")
        .select($"event_id").as[Long].collect().sorted.toSeq
      assert(ids() == Seq(1L, 2L), s"first batch wrong: ${ids()}")
      // a new file above the watermark arrives → exactly its rows land
      land("part-0002.jsonl", Seq(3L))
      q.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 3L), s"incremental batch wrong: ${ids()}")
      // a file injected BELOW the watermark is never read (the Kafka
      // below-committed-offset analogy the scaladoc states)
      land("part-0000.jsonl", Seq(99L))
      q.processAllAvailable()
      assert(ids() == Seq(1L, 2L, 3L), s"below-watermark file leaked: ${ids()}")
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch; AvailableNow drains a backlog in capped batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val p = java.nio.file.Files.createTempDirectory("env_bp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("env_bp_ckpt").toString
    // a 9-file backlog, one row per file (numInputRows per progress
    // entry == files consumed by that micro-batch)
    (1 to 9).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, f"part-$i%04d.jsonl"),
        s"""{"data":{"event_id":$i,"event_type":"click","user_id":7,"value":1.5},"source":"database"}"""
          .getBytes("UTF-8"))
    }
    val q = spark.readStream.format("graft.sources.EnvelopeSource")
      .option("path", p).option("maxFilesPerTrigger", "2").load()
      .writeStream.format("memory").queryName("env_bp_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .outputMode("append").start()
    try {
      q.awaitTermination(60000)
      assert(!q.isActive, "AvailableNow did not self-terminate under the cap")
      val ids = spark.table("env_bp_out").select($"event_id").as[Long]
        .collect().sorted.toSeq
      assert(ids == (1L to 9L), s"backlog drained wrong: $ids")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 5,
        s"9 files / cap 2 must drain as 5 micro-batches, got ${batches.length}: " +
          batches.map(_.numInputRows).mkString(","))
      assert(batches.forall(_.numInputRows <= 2),
        s"a micro-batch exceeded the cap: ${batches.map(_.numInputRows).mkString(",")}")
    } finally if (q.isActive) q.stop()
  }

  test("AvailableNow snapshot: files landing after prepare wait for the next invocation") {
    import graft.sources.{EnvelopeMicroBatchStream, EnvelopeOffset, EnvelopeSource}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark.sparkContext // ensure an active session for the stream's FS access
    val p = java.nio.file.Files.createTempDirectory("env_an_cap").toString
    def land(name: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, name),
        """{"data":{"event_id":1,"event_type":"c","user_id":7,"value":1.5},"source":"database"}"""
          .getBytes("UTF-8"))
    land("part-0001.jsonl"); land("part-0002.jsonl")
    val stream = new EnvelopeMicroBatchStream(
      p, EnvelopeSource.fullSchema, Array.empty, None)
    stream.prepareForTriggerAvailableNow() // snapshot: 0002 is the end
    land("part-0003.jsonl") // lands mid-drain
    val end = stream.latestOffset(EnvelopeOffset(""), ReadLimit.allAvailable())
      .asInstanceOf[EnvelopeOffset]
    assert(end.last == "part-0002.jsonl",
      s"mid-drain arrival leaked into the AvailableNow run: $end")
    // capped admission from the same snapshot: one file per batch
    val first = stream.latestOffset(EnvelopeOffset(""), ReadLimit.maxFiles(1))
      .asInstanceOf[EnvelopeOffset]
    assert(first.last == "part-0001.jsonl", s"cap ignored: $first")
  }

  test("streaming envelope sink: micro-batches land; a replayed epoch publishes once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val p = java.nio.file.Files.createTempDirectory("env_stream_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("env_stream_ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, Double)]
    val q = mem.toDF()
      .toDF("event_id", "event_type", "user_id", "value")
      .withColumn("source", org.apache.spark.sql.functions.lit("database"))
      .writeStream.format("graft.sources.EnvelopeSource")
      .option("path", p).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData((1L, "click", 7L, 1.5), (2L, "view", 8L, 2.5))
      q.processAllAvailable()
      mem.addData((3L, "purchase", 7L, 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("graft.sources.EnvelopeSource")
      .option("path", p).load()
    assert(back.select($"event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L), "streamed rows lost or duplicated")
    assert(!new java.io.File(p).listFiles().exists(_.getName.endsWith(".tmp")),
      "streaming commit left temp files")

    // epoch REPLAY (restart re-delivers the last batch): the second
    // attempt's file must be dropped, not double-published
    import graft.sources.EnvelopeStreamingWrite
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    def row(id: Long): InternalRow = InternalRow(
      id, UTF8String.fromString("click"), 7L, 1.5, UTF8String.fromString("database"))
    val sw = new EnvelopeStreamingWrite(p)
    val w1 = sw.createStreamingWriterFactory(null).createWriter(0, 100L, 7L)
    w1.write(row(50))
    sw.commit(7L, Array(w1.commit()))
    val w2 = sw.createStreamingWriterFactory(null).createWriter(0, 101L, 7L)
    w2.write(row(51)); w2.write(row(52))
    sw.commit(7L, Array(w2.commit())) // replayed epoch
    val epochRows = spark.read.format("graft.sources.EnvelopeSource")
      .option("path", p).load()
      .filter($"event_id" >= 50L).select($"event_id").as[Long].collect().sorted.toSeq
    assert(epochRows == Seq(50L), s"replayed epoch double-published: $epochRows")
  }

  test("chaos: crash mid-batch + files landing above AND below the watermark + replayed epoch = no loss, no dup") {
    // The composed failure the per-direction tests don't cover: a
    // source→sink pipeline crashes AFTER batch 1's offsets are written
    // and its sink epoch is published, but BEFORE the commit marker
    // lands (simulated by deleting commits/1 — the exact on-disk state
    // a mid-batch crash leaves). During the outage, new files land
    // both above and below the source's name watermark. The restart
    // must (a) RE-EXECUTE batch 1 → the sink sees a REPLAYED epoch 1
    // and publish() must drop the duplicates, (b) pick up the
    // above-watermark file in the next batch, (c) never read the
    // below-watermark file, and (d) lose nothing.
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("chaos_src").toString
    val dst = java.nio.file.Files.createTempDirectory("chaos_dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chaos_ckpt").toString
    def land(name: String, ids: Seq[Long]): Unit = {
      val lines = ids.map(i =>
        s"""{"data":{"event_id":$i,"event_type":"click","user_id":7,"value":1.5},"source":"database"}""")
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    def start() = spark.readStream.format("graft.sources.EnvelopeSource")
      .option("path", src).load()
      .writeStream.format("graft.sources.EnvelopeSource")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    def stopped(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(!spark.streams.active.exists(_.id == q.id), "query never deregistered")
    }

    land("part-0001.jsonl", Seq(1L, 2L))
    val q1 = start()
    try {
      q1.processAllAvailable() // batch 0: {1,2}
      land("part-0002.jsonl", Seq(3L, 4L))
      q1.processAllAvailable() // batch 1: {3,4} — epoch 1 published
    } finally stopped(q1)

    // crash simulation: batch 1's sink COMMIT MARKER never landed, so
    // the restart re-delivers batch 1 to the sink as a replayed epoch
    val marker = java.nio.file.Paths.get(ckpt, "commits", "1")
    assert(java.nio.file.Files.deleteIfExists(marker), s"no commit marker at $marker")
    // the local FS keeps a Hadoop checksum shadow; a real crash leaves
    // neither, so remove it too or the re-commit's rename fails
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    // outage: one file above the watermark, one injected below it
    land("part-0003.jsonl", Seq(5L))
    land("part-0000.jsonl", Seq(99L))

    val q2 = start()
    try q2.processAllAvailable() // replays batch 1, then batch 2: {5}
    finally stopped(q2)

    val back = spark.read.format("graft.sources.EnvelopeSource")
      .option("path", dst).load()
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(back == Seq(1L, 2L, 3L, 4L, 5L),
      s"chaos run lost or duplicated rows (99 must never appear): $back")

    // belt and braces: a SECOND duplicated delivery of epoch 1 straight
    // at the sink in the same run — first-commit-wins must hold again
    import graft.sources.EnvelopeStreamingWrite
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val sw = new EnvelopeStreamingWrite(dst)
    val w = sw.createStreamingWriterFactory(null).createWriter(0, 999L, 1L)
    w.write(InternalRow(777L, UTF8String.fromString("click"), 7L, 1.5,
      UTF8String.fromString("database")))
    sw.commit(1L, Array(w.commit()))
    val after = spark.read.format("graft.sources.EnvelopeSource")
      .option("path", dst).load()
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(after == Seq(1L, 2L, 3L, 4L, 5L),
      s"manually replayed epoch double-published: $after")
  }

  test("sink→source round trip: 12 sink epochs + 2 batch appends all clear the name watermark") {
    // The advertised composition: a stream READS the directory this
    // connector's own sink WRITES. Visible names must sort in publish
    // order or the source's name watermark drops them — unpadded epoch
    // ids ("env-epoch10" < "env-epoch2") lost every epoch >= 10, and
    // random batch write ids lost half the appends.
    import spark.implicits._
    import graft.sources.{EnvelopeBatchWrite, EnvelopeStreamingWrite, EnvelopeWriterFactory}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    def row(id: Long): InternalRow = InternalRow(
      id, UTF8String.fromString("click"), 7L, 1.5, UTF8String.fromString("database"))
    val p = java.nio.file.Files.createTempDirectory("env_roundtrip").toString
    val ckpt = java.nio.file.Files.createTempDirectory("env_rt_ckpt").toString
    val q = spark.readStream.format("graft.sources.EnvelopeSource")
      .option("path", p).load()
      .writeStream.format("memory").queryName("env_rt_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      def ids() = spark.table("env_rt_out")
        .select($"event_id").as[Long].collect().sorted.toSeq
      val sw = new EnvelopeStreamingWrite(p)
      (0L to 11L).foreach { epoch =>
        val w = sw.createStreamingWriterFactory(null).createWriter(0, epoch, epoch)
        w.write(row(epoch))
        sw.commit(epoch, Array(w.commit()))
        q.processAllAvailable()
      }
      assert(ids() == (0L to 11L),
        s"epochs dropped below the watermark (padding broken): ${ids()}")
    } finally q.stop()

    // successive BATCH appends to a (separate) stream-read directory:
    // the time-ordered write id makes each append sort after the last —
    // a random UUID id made later appends land below the watermark
    // about half the time
    val pb = java.nio.file.Files.createTempDirectory("env_roundtrip_b").toString
    val ckptB = java.nio.file.Files.createTempDirectory("env_rtb_ckpt").toString
    val qb = spark.readStream.format("graft.sources.EnvelopeSource")
      .option("path", pb).load()
      .writeStream.format("memory").queryName("env_rtb_out")
      .option("checkpointLocation", ckptB).outputMode("append").start()
    try {
      def idsB() = spark.table("env_rtb_out")
        .select($"event_id").as[Long].collect().sorted.toSeq
      (100L to 105L).foreach { id =>
        val bw = new EnvelopeBatchWrite(pb)
        val w = bw.createBatchWriterFactory(null)
          .asInstanceOf[EnvelopeWriterFactory].createWriter(0, id)
        w.write(row(id))
        bw.commit(Array(w.commit()))
        Thread.sleep(2) // distinct millis => strictly increasing write ids
        qb.processAllAvailable()
      }
      assert(idsB() == (100L to 105L),
        s"batch appends dropped below the watermark: ${idsB()}")
    } finally qb.stop()
  }
}
