package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions.{col, date_format}

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.{Pipelines, Sinks}

/** The sessions' `file:` filesystem ([[graft.io.NioLocalFileSystem]] and
  * [[graft.io.NioLocalFs]]) answers as the stock one does — the class a
  * plain Hadoop conf resolves, Hive's `ProxyLocalFileSystem` for the
  * FileSystem API and Hadoop's `LocalFs` for FileContext — and the sinks
  * and a streaming micro-batch through it start no OS process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val root = new URI("file:///")

  /** What a conf without the session's entries resolves `file:` to. */
  private lazy val stockFs: FileSystem = {
    val c = new Configuration()
    val fs = FileSystem.getFileSystemClass("file", c).getDeclaredConstructor().newInstance()
    fs.initialize(root, c)
    fs
  }
  private lazy val stockFc: FileContext = FileContext.getFileContext(root, new Configuration())

  private def sessionFs: FileSystem = FileSystem.get(root, spark.sessionState.newHadoopConf())
  private def sessionFc: FileContext =
    FileContext.getFileContext(root, spark.sessionState.newHadoopConf())

  /** Processes `body` starts on its own path. Housekeeping that forks on
    * its own schedule is left out: the JDK Cleaner's `rm -rf` of the
    * artifact directory of a session clone the GC collected (Spark's
    * ArtifactManager), and the executor heartbeat's once-per-JVM
    * `getconf PAGESIZE`. State stores an earlier suite's stopped queries
    * left loaded are unloaded before the recording starts
    * (`StateStore.stop()`; the next store access restarts maintenance):
    * the maintenance thread would otherwise unload them on its own
    * schedule, and a RocksDB store's unload deletes its local directory
    * with `rm -rf`. */
  private def forksOf(body: => Unit): Seq[SparkSpec.Launch] = {
    StateStore.stop()
    processesStartedBy(body).filterNot(_.frames.exists(f =>
      f.startsWith("jdk.internal.ref.CleanerImpl.") ||
        f.startsWith("org.apache.spark.executor.ProcfsMetricsGetter.")))
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def write(fs: FileSystem, p: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(new Path(p))
    try out.write(bytes) finally out.close()
  }
  private def write(fc: FileContext, p: String, bytes: Array[Byte]): Unit = {
    val out = fc.create(new Path(p), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
  }
  private def read(fs: FileSystem, p: String): Seq[Byte] = {
    val in = fs.open(new Path(p))
    try in.readAllBytes().toSeq finally in.close()
  }
  private def read(fc: FileContext, p: String): Seq[Byte] = {
    val in = fc.open(new Path(p))
    try in.readAllBytes().toSeq finally in.close()
  }

  test("sessions resolve file: to the engine classes, on the shared session and in a foreachBatch clone") {
    assert(stockFs.getClass.getName === "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")
    assert(stockFc.getDefaultFileSystem.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
    def resolved(s: SparkSession): Seq[Class[_]] =
      Seq(s.sessionState.newHadoopConf(), s.sparkContext.hadoopConfiguration).flatMap { c =>
        Seq(FileSystem.get(c).getClass, FileSystem.get(root, c).getClass,
          FileSystem.getLocal(c).getClass, FileContext.getFileContext(c).getDefaultFileSystem.getClass,
          FileContext.getFileContext(root, c).getDefaultFileSystem.getClass)
      }
    val expected = Seq.fill(2)(Seq(classOf[NioLocalFileSystem], classOf[NioLocalFileSystem],
      classOf[NioLocalFileSystem], classOf[NioLocalFs], classOf[NioLocalFs])).flatten
    assert(resolved(spark) === expected)
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Long]
    val inBatch = new AtomicReference[(SparkSession, Seq[Class[_]])]
    val q = input.toDF().writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      inBatch.set((b.sparkSession, resolved(b.sparkSession)))
    }.start()
    try { input.addData(1L); q.processAllAvailable() } finally q.stop()
    assert(inBatch.get._1 ne spark)
    assert(inBatch.get._2 === expected)
  }

  test("created files and directories get the stock permission bits, .crc sidecars included") {
    val dir = tmp("graft_fs_modes")
    val layout = Seq("d", "d/e", "d/f", "d/.f.crc", "d/g", "d/.g.crc", "d/s", "c", "c/h", "c/.h.crc")
    for ((side, fs, fc) <- Seq(("stock", stockFs, stockFc), ("nio", sessionFs, sessionFc))) {
      val b = s"$dir/$side"
      assert(fs.mkdirs(new Path(s"$b/d/e")))
      write(fs, s"$b/d/f", Array[Byte](1, 2, 3))
      write(fs, s"$b/d/g", Array[Byte](4))
      fs.setPermission(new Path(s"$b/d/g"), new FsPermission(Integer.parseInt("640", 8).toShort))
      assert(fs.mkdirs(new Path(s"$b/d/s")))
      // the sticky bit is not a plain rwx mode: the parent class's chmod sets it
      fs.setPermission(new Path(s"$b/d/s"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      write(fc, s"$b/c/h", Array[Byte](5, 6))
    }
    val stock = layout.map(p => p -> mode(s"$dir/stock/$p"))
    assert(layout.map(p => p -> mode(s"$dir/nio/$p")) === stock)
    assert(stock.toMap.apply("d/s") === Integer.parseInt("1777", 8))
    assert(stock.toMap.apply("d/g") === Integer.parseInt("640", 8))
    intercept[FileNotFoundException](
      sessionFs.setPermission(new Path(s"$dir/missing"), FsPermission.getFileDefault))
  }

  test("a flipped data byte fails a checksummed read through both APIs") {
    val dir = tmp("graft_fs_crc")
    val data = Array.tabulate[Byte](2048)(_.toByte)
    write(sessionFs, s"$dir/fs.bin", data)
    write(stockFc, s"$dir/stock.bin", data)
    write(sessionFc, s"$dir/fc.bin", data)
    assert(read(sessionFs, s"$dir/fs.bin") === data.toSeq)
    assert(read(sessionFc, s"$dir/fc.bin") === data.toSeq)
    Seq("fs.bin", "stock.bin", "fc.bin").foreach { f =>
      assert(Files.isRegularFile(Paths.get(s"$dir/.$f.crc")), f)
      val raf = new RandomAccessFile(s"$dir/$f", "rw")
      try { raf.seek(1000); raf.write(data(1000) ^ 0xff) } finally raf.close()
    }
    intercept[ChecksumException](read(sessionFs, s"$dir/fs.bin"))
    def readSized(fc: FileContext, p: String): Seq[Byte] = {
      val in = fc.open(new Path(p), 4096)
      try in.readAllBytes().toSeq finally in.close()
    }
    intercept[ChecksumException](readSized(stockFc, s"$dir/stock.bin"))
    intercept[ChecksumException](readSized(sessionFc, s"$dir/fc.bin"))
    // Hadoop's FilterFs.open(path) skips ChecksumFs's verification: the
    // stock LocalFs reads the flipped byte back, the engine's verifies it
    assert(read(stockFc, s"$dir/stock.bin")(1000) === (data(1000) ^ 0xff).toByte)
    intercept[ChecksumException](read(sessionFc, s"$dir/fc.bin"))
  }

  test("FileSystem rename onto an existing file returns false; FileContext OVERWRITE replaces") {
    val dir = tmp("graft_fs_rename")
    for ((side, fs) <- Seq("stock" -> stockFs, "nio" -> sessionFs)) {
      write(fs, s"$dir/$side.a", Array[Byte](1))
      write(fs, s"$dir/$side.b", Array[Byte](2))
      assert(!fs.rename(new Path(s"$dir/$side.a"), new Path(s"$dir/$side.b")), side)
      assert(read(fs, s"$dir/$side.b") === Seq[Byte](2), side)
      assert(fs.rename(new Path(s"$dir/$side.a"), new Path(s"$dir/$side.c")), side)
      assert(read(fs, s"$dir/$side.c") === Seq[Byte](1), side)
      assert(!fs.exists(new Path(s"$dir/$side.a")), side)
    }
    val fc = sessionFc
    write(fc, s"$dir/x", Array[Byte](7, 7))
    write(fc, s"$dir/y", Array[Byte](8))
    intercept[FileAlreadyExistsException](fc.rename(new Path(s"$dir/x"), new Path(s"$dir/y")))
    fc.rename(new Path(s"$dir/x"), new Path(s"$dir/y"), Options.Rename.OVERWRITE)
    assert(read(fc, s"$dir/y") === Seq[Byte](7, 7)) // its .crc moved with it
    assert(!Files.exists(Paths.get(s"$dir/x")) && !Files.exists(Paths.get(s"$dir/.x.crc")))
  }

  test("getFileLinkStatus answers as RawLocalFileSystem for a file, a directory, a missing path and links") {
    val dir = tmp("graft_fs_links")
    Files.write(Paths.get(s"$dir/file"), Array[Byte](1, 2, 3))
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    def raw(fs: RawLocalFileSystem): RawLocalFileSystem = { fs.initialize(root, new Configuration()); fs }
    val (stock, nio) = (raw(new RawLocalFileSystem), raw(new NioRawLocalFileSystem))
    def shape(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getModificationTime)
    def answer(fs: RawLocalFileSystem, p: String) =
      try Right(shape(fs.getFileLinkStatus(new Path(p)))) catch {
        case e: FileNotFoundException => Left(e.getClass)
      }
    for (name <- Seq("file", "dir", "missing", "link", "dangling"); p <- Seq(s"$dir/$name", s"file:$dir/$name"))
      assert(answer(nio, p) === answer(stock, p), p)
    assert(answer(stock, s"$dir/link").map(_._4) === Right(true))
    assert(answer(stock, s"$dir/missing").isLeft)
  }

  test("the keyed and append sinks start no OS process") {
    val dir = tmp("graft_fs_sinks")
    val t0 = Timestamp.valueOf("2024-01-05 10:00:00")
    val b1 = Seq((10L, "insert", "alice", t0, 1L), (20L, "insert", "bob", t0, 2L))
      .toDF("k", "op", "name", "ts", "seq")
    val b2 = Seq((10L, "update", "alice2", t0, 3L), (30L, "insert", "carol", t0, 4L))
      .toDF("k", "op", "name", "ts", "seq")
    def dated(b: DataFrame) = b.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
    for (b <- Seq(b1, b2)) { // the first call creates each table, the second merges or appends
      assert(forksOf(Sinks.upsertByKey(b, s"$dir/up", Seq("k"), "ts", "seq")) === Nil)
      assert(forksOf(
        Sinks.applyCdc(b, s"$dir/cdc", Seq("k"), Seq("name"), "ts", "seq")) === Nil)
      assert(forksOf(
        Sinks.appendDailyPartitioned(dated(b), s"$dir/app", "dt", Seq("k"))) === Nil)
    }
    assert(spark.read.parquet(s"$dir/up").count() === 3L)
    assert(spark.read.parquet(s"$dir/app").count() === 4L)
  }

  test("a dauDedup and a saleDetailJoin micro-batch into their sinks start no OS process") {
    implicit val sq = spark.sqlContext
    val dir = tmp("graft_fs_stream")
    val t0 = Timestamp.valueOf("2024-01-05 12:00:00")
    val events = MemoryStream[(Long, Timestamp, Long)]
    val orders = MemoryStream[(Long, Timestamp)]
    val details = MemoryStream[(Long, Long, Timestamp)]
    events.addData((1L, t0, 100L), (2L, t0, 100L), (3L, t0, 200L))
    orders.addData((1L, t0))
    details.addData((11L, 1L, new Timestamp(t0.getTime + 5000)))
    def run(name: String, df: DataFrame)(sink: (DataFrame, String) => Unit): Seq[SparkSpec.Launch] =
      forksOf {
        val q = df.writeStream.option("checkpointLocation", s"$dir/ckpt_$name")
          .foreachBatch { (b: DataFrame, _: Long) => sink(b, s"$dir/$name") }.start()
        try q.processAllAvailable() finally q.stop()
      }
    assert(run("dau", Pipelines.dauDedup(events.toDF().toDF("event_id", "ts", "user_id"))) {
      (b, p) => Sinks.upsertByKey(b, p, Seq("user_id", "log_date"), "ts", "event_id")
    } === Nil)
    assert(run("sale_detail", Pipelines.saleDetailJoin(orders.toDF().toDF("o_order_id", "o_ts"),
        details.toDF().toDF("d_id", "d_order_id", "d_ts"))) {
      (b, p) => Sinks.appendDailyPartitioned(
        b.withColumn("dt", date_format(col("o_ts"), "yyyy-MM-dd")), p, "dt", Seq("d_id"))
    } === Nil)
    assert(spark.read.parquet(s"$dir/dau").count() === 2L)
    assert(spark.read.parquet(s"$dir/sale_detail").count() === 1L)
  }
}
