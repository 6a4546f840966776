package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[LocalFs]] is Hadoop's local filesystem without process starts:
  * the same modes and link statuses as a stock `RawLocalFileSystem`,
  * the filesystem the sessions run on, and no `chmod` or `readlink`
  * process behind a streaming checkpoint, its state or a sink. */
class LocalFsSpec extends SparkTestBase {
  import spark.implicits._

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val ours = initialized(new LocalFs.Raw)

  /** Every path under `root` (relative) with its full mode bits. */
  private def modes(root: java.nio.file.Path): Map[String, Int] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap

  test("mode bits after mkdirs, create and setPermission equal the " +
    "stock filesystem's, sticky and set-id cases included") {
    val base = Files.createTempDirectory("localfs-modes-")
    def run(fs: RawLocalFileSystem, name: String): Map[String, Int] = {
      val root = base.resolve(name)
      def p(rel: String) = new Path(root.resolve(rel).toString)
      fs.mkdirs(p("a/b/c"), new FsPermission("750"))
      fs.mkdirs(p("d"))
      fs.create(p("e/f.txt")).close()
      fs.create(p("g.txt"), new FsPermission("600"), true, 4096,
        1.toShort, 1L << 20, null).close()
      for ((mode, i) <- Seq("700", "640", "1777").zipWithIndex) {
        fs.mkdirs(p(s"dir$i"))
        fs.setPermission(p(s"dir$i"), new FsPermission(mode))
        fs.create(p(s"file$i")).close()
        fs.setPermission(p(s"file$i"), new FsPermission(mode))
      }
      // a set-gid (02755) directory keeps its bit under `chmod 0750`,
      // and its new subdirectories inherit it
      fs.mkdirs(p("s"))
      Files.setAttribute(root.resolve("s"), "unix:mode", Int.box(0x5ed))
      fs.setPermission(p("s"), new FsPermission("750"))
      fs.mkdirs(p("s/t"), new FsPermission("700"))
      modes(root)
    }
    val want = run(stock, "stock")
    assert(want.size === 15)
    assert(want("s") === 0x5e8 && want("dir2") === 0x3ff) // 02750, 01777
    assert(run(ours, "ours") === want)
  }

  test("getFileLinkStatus equals the stock filesystem's on a file, a " +
    "directory, a missing path, a symlink and a dangling symlink") {
    val root = Files.createTempDirectory("localfs-links-")
    Files.write(root.resolve("file"), "abc".getBytes)
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dirlink"), root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def status(fs: RawLocalFileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getLen,
          s.getModificationTime))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    for {
      name <- Seq("file", "dir", "missing", "link", "dirlink", "dangling")
      p = new Path(root.resolve(name).toString)
      path <- Seq(p, stock.makeQualified(p))
    } assert(status(ours, path) === status(stock, path), path)
    val link = new Path(root.resolve("link").toString)
    assert(ours.getFileLinkStatus(link).isSymlink)
    assert(status(ours, new Path(root.resolve("missing").toString)) ===
      Left(classOf[FileNotFoundException]))
  }

  test("the session's FileSystem and FileContext for file: are LocalFs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[LocalFs.FileSystem])
    assert(FileSystem.getLocal(conf).getClass === classOf[LocalFs.FileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .getClass === classOf[LocalFs])
    assert(spark.sessionState.newHadoopConf()
      .get("fs.AbstractFileSystem.file.impl") === classOf[LocalFs].getName)
  }

  test("no chmod or readlink process behind a checkpointed stateful " +
    "query's two micro-batches and a parquet write") {
    val dir = Files.createTempDirectory("localfs-procs-").toString
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Long]
    val sink: (DataFrame, Long) => Unit =
      (df, _) => df.write.mode("append").parquet(s"$dir/sink")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands = try {
      val q = in.toDF().groupBy(($"value" % 3).as("k")).count()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/checkpoint")
        .foreachBatch(sink).start()
      try {
        in.addData(1L to 100L)
        q.processAllAvailable()
        in.addData(101L to 200L)
        q.processAllAvailable()
      } finally q.stop()
      spark.range(10).write.parquet(s"$dir/batch")
      // a start the recording must see
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      val file = Paths.get(dir, "procs.jfr")
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.map(_.getString("command"))
    } finally rec.close()
    assert(spark.read.parquet(s"$dir/sink").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, c) => k -> c.map(_._2).max } ===
      Map(0L -> 66L, 1L -> 67L, 2L -> 67L))
    assert(commands.exists(_.startsWith("true")))
    assert(commands.filter(c => c.startsWith("chmod") ||
      c.startsWith("readlink")) === Seq.empty)
  }
}
