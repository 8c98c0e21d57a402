package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.sources.{CommitLogDml, GraftLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, FsConstants, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, timestamp_seconds}

/** The engine's `file:` filesystem (`Engine.localFsConf`) behaves like
  * stock Hadoop — same POSIX modes, `.crc` sidecars, rename semantics and
  * link status — and a stream or a commit-log DML statement on local disk
  * starts no process. */
class LocalFsSpec extends SparkSpec {

  private def conf(umask: String, graftFs: Boolean): Configuration = {
    val c = if (graftFs) Engine.hadoopConf() else new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (stock, graft) `FileSystem` pair, built directly so Hadoop's
    * instance cache cannot hand back the other class. */
  private def fileSystems(umask: String): (FileSystem, FileSystem) = {
    val stock = new LocalFileSystem()
    stock.initialize(FsConstants.LOCAL_FS_URI, conf(umask, graftFs = false))
    val graft = new GraftLocalFileSystem()
    graft.initialize(FsConstants.LOCAL_FS_URI, conf(umask, graftFs = true))
    (stock, graft)
  }

  private def fileContexts(umask: String): (FileContext, FileContext) =
    (FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf(umask, graftFs = false)),
      FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf(umask, graftFs = true)))

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0x0fff

  private def tmpDir(tag: String): Path =
    new Path(Files.createTempDirectory(s"localfs_$tag").toUri)

  private val umasks = Seq("022", "077", "002")

  test("FileSystem.create and mkdirs leave the same POSIX mode as stock Hadoop") {
    for (umask <- umasks) {
      val (stock, graft) = fileSystems(umask)
      val perms = Seq(None) ++ Seq(0640, 0751, 0704, 0777, 01777).map(m => Some(new FsPermission(m.toShort)))
      def modes(fs: FileSystem, root: Path): Seq[Int] = perms.zipWithIndex.flatMap { case (perm, i) =>
        val file = new Path(root, s"f$i")
        val dir = new Path(root, s"d$i/sub")
        perm match {
          case None =>
            fs.create(file).close()
            fs.mkdirs(dir)
          case Some(p) =>
            fs.create(file, p, true, 4096, 1.toShort, 32L << 20, null).close()
            fs.mkdirs(dir, p)
        }
        Seq(mode(file), mode(dir), mode(dir.getParent))
      }
      val want = modes(stock, tmpDir("stock"))
      val got = modes(graft, tmpDir("graft"))
      assert(got == want, s"umask $umask: ${got.map(_.toOctalString)} vs stock ${want.map(_.toOctalString)}")
    }
  }

  test("FileContext.create and mkdir leave the same POSIX mode as stock Hadoop") {
    for (umask <- umasks) {
      val (stock, graft) = fileContexts(umask)
      def modes(fc: FileContext, root: Path): Seq[Int] = {
        val file = new Path(root, "f")
        val dir = new Path(root, "d/sub")
        fc.create(file, java.util.EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(dir, FsPermission.getDirDefault, true)
        Seq(mode(file), mode(dir), mode(dir.getParent))
      }
      assert(modes(graft, tmpDir("fc_graft")) == modes(stock, tmpDir("fc_stock")), s"umask $umask")
    }
  }

  test("the .crc sidecar is still written by FileSystem and FileContext") {
    val (_, fs) = fileSystems("022")
    val (_, fc) = fileContexts("022")
    val root = tmpDir("crc")
    val viaFs = new Path(root, "a")
    val out = fs.create(viaFs)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val viaFc = new Path(root, "b")
    val out2 = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE))
    out2.write(Array[Byte](4, 5))
    out2.close()
    for (p <- Seq(viaFs, viaFc))
      assert(Files.exists(Paths.get(new Path(root, s".${p.getName}.crc").toUri)), s"no .crc for $p")
  }

  test("FileContext.rename refuses an existing destination unless OVERWRITE, like stock") {
    val (stock, graft) = fileContexts("022")
    def run(fc: FileContext): (String, Array[Byte]) = {
      val root = tmpDir("rename")
      def put(name: String, body: String): Path = {
        val p = new Path(root, name)
        val o = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
        o.write(body.getBytes("UTF-8"))
        o.close()
        p
      }
      val src = put("src", "new")
      val dst = put("dst", "old")
      val refused = Try(fc.rename(src, dst)).failed.toOption.map(_.getClass.getSimpleName).getOrElse("renamed")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src))
      (refused, Files.readAllBytes(Paths.get(dst.toUri)))
    }
    val (refused, body) = run(graft)
    assert(refused == classOf[FileAlreadyExistsException].getSimpleName)
    assert(new String(body, "UTF-8") == "new")
    assert(run(stock)._1 == refused)
  }

  test("getFileLinkStatus matches stock for a symlink, a dangling symlink and a plain file") {
    val (stockFs, graftFs) = fileSystems("022")
    val (stockFc, graftFc) = fileContexts("022")
    val root = Paths.get(Files.createTempDirectory("localfs_links").toUri)
    val file = Files.write(root.resolve("file"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def view(st: => FileStatus): Either[String, Seq[Any]] = Try(st).toEither match {
      case Left(e) => Left(e.getClass.getName)
      case Right(s) => Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else None, s.getLen, s.getModificationTime))
    }
    for (p <- Seq(file, link, dangling)) {
      // qualified (file:/…) and bare paths take different stock branches
      for (hp <- Seq(new Path(p.toUri), new Path(p.toString))) {
        assert(view(graftFs.getFileLinkStatus(hp)) == view(stockFs.getFileLinkStatus(hp)), s"FileSystem $hp")
        assert(view(graftFc.getFileLinkStatus(hp)) == view(stockFc.getFileLinkStatus(hp)), s"FileContext $hp")
      }
    }
  }

  test("a bare conf from Engine.hadoopConf names the engine's filesystem") {
    val fs = FileSystem.newInstance(new URI("file:///"), Engine.hadoopConf())
    try assert(fs.getClass == classOf[GraftLocalFileSystem])
    finally fs.close()
  }

  /** The command of every `jdk.ProcessStart` event in this JVM while `f`
    * runs, except Spark's `rm -rf` of a dropped session's artifact dir
    * (`JavaUtils.deleteRecursively` forks it on Unix): a GC cleaner runs
    * that whenever an earlier cloned session is collected, once per
    * session rather than per file operation. */
  private def processStarts(f: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      f
      rec.stop()
      val dump = Files.createTempFile("localfs_forks", ".jfr")
      rec.dump(dump)
      try jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filterNot(_.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getName == "deleteRecursivelyUsingUnixNative"))
        .map(_.getString("command"))
      finally Files.delete(dump)
    } finally rec.close()
  }

  test("a dedup stream into the envelope sink and a commit-log append + DELETE start no process") {
    import spark.implicits._
    val src = Files.createTempDirectory("localfs_src")
    val sink = Files.createTempDirectory("localfs_sink").toString
    val ckpt = Files.createTempDirectory("localfs_ckpt").toString
    val table = Files.createTempDirectory("localfs_table").toString
    def land(batch: Int): Unit = {
      val lines = (0 until 20).map { i =>
        val id = batch * 10 + i // overlapping ids: the dedup state drops repeats
        s"""{"data":{"event_id":$id,"event_type":"click","user_id":${id % 3},"value":1.5},"source":"database"}"""
      }
      Files.write(src.resolve(f"part-$batch%04d.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val forks = processStarts {
      graft.streaming.Streams.withStatePartitions(spark) {
        val q = graft.streaming.Streams.dedupWithinWatermark(
          spark.readStream.format("graft.sources.EnvelopeSource")
            .option("path", src.toString).load()
            .withColumn("ts", timestamp_seconds(col("event_id") + 1704067200L)))
          .select("event_id", "event_type", "user_id", "value", "source")
          .writeStream.format("graft.sources.EnvelopeSource")
          .option("path", sink).option("checkpointLocation", ckpt)
          .start()
        try (0 until 5).foreach { b => land(b); q.processAllAvailable() }
        finally q.stop()
      }
      (1L to 100L).toDF("k").withColumn("v", $"k" * 10)
        .write.format("commitlog").option("path", table).mode("append").save()
      CommitLogDml.delete(spark, table, "k % 10 = 0")
    }
    assert(forks.isEmpty, s"${forks.size} process starts: ${forks.distinct.take(5).mkString("; ")}")
    // the workloads did their work: 5 data triggers (plus any no-data
    // ones that advance the watermark), all 60 distinct ids out once
    assert(new java.io.File(ckpt, "commits").list().count(_.forall(_.isDigit)) >= 5)
    val out = spark.read.format("graft.sources.EnvelopeSource").option("path", sink).load()
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(out == (0L until 60L))
    assert(spark.read.format("commitlog").option("path", table).load().count() == 90)
    // the checkpoint still carries Hadoop's `.name.crc` sidecars and
    // Spark's own checkpoint checksum files, `name.crc`
    val crcs = Files.walk(Paths.get(ckpt)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
    assert(crcs.exists(_.startsWith(".")) && crcs.exists(!_.startsWith(".")), crcs)
  }
}
