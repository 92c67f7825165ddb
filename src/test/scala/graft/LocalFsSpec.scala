package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.sinks.Sinks
import graft.streaming.Streaming

/** The in-process `file:` filesystem [[Sessions]] binds: sinks, streaming
  * checkpoints and state stores fork no `chmod` or `readlink`, and every
  * result it gives matches the stock Hadoop classes it replaces.
  */
class LocalFsSpec extends SparkTestBase {
  private val Root = URI.create("file:///")

  /** The session's Hadoop configuration, or with `nio = false` a plain
    * one, where `file:` resolves as it does without the bindings (on
    * Spark's classpath: Hive's `ProxyLocalFileSystem` over Hadoop's
    * `LocalFileSystem`, and Hadoop's `LocalFs`).
    */
  private def conf(nio: Boolean, umask: String = "022"): Configuration = {
    val c = if (nio) new Configuration(spark.sparkContext.hadoopConfiguration) else new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** An uncached FileSystem, so neither side sees the other's instance. */
  private def withFs[T](c: Configuration)(f: FileSystem => T): T = {
    val fs = FileSystem.newInstance(Root, c)
    try f(fs) finally fs.close()
  }

  /** Permission bits, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  /** Relative path -> mode of everything under `dir`. */
  private def modes(dir: String): Map[String, Int] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
  }

  /** The commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_spawns", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(file) }
  }

  private def program(command: String): String =
    command.trim.split("\\s+").head.split('/').last

  test("the session resolves file: to the in-process classes for both Hadoop APIs") {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(Root, hadoopConf)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.getClass === classOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])
  }

  test("sinks, a stateful stream and a FileContext rename fork no chmod or readlink") {
    val out = tempDir("localfs_spawns")
    val commands = processStarts {
      // A spawn of our own, so an empty recording cannot pass the test.
      new ProcessBuilder("true").start().waitFor()
      // Fixture customers as person rows, one CSV per market segment.
      val people = Tables.customer(spark, Sf).select(
        lower(col("c_mktsegment")).as("csv_name"), col("c_name").as("name"),
        lit("").as("primary_email"), col("c_nationkey").cast("string").as("primary_phone_number"),
        lit("").as("grade"), lit("").as("age"))
      Sinks.writeCsvRenamed(people, s"$out/csv")
      Sinks.writeParquet(people, s"$out/parquet")
      assert(Streaming.streamDedup(spark, Sf).count() > 0)
      val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
      for (name <- Seq("a", "b")) {
        val o = fc.create(new Path(s"$out/fc/$name"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        o.write(name.getBytes); o.close()
      }
      fc.rename(new Path(s"$out/fc/a"), new Path(s"$out/fc/b"), Options.Rename.OVERWRITE)
    }
    assert(commands.map(program).contains("true"), commands)
    assert(Files.readAllLines(Paths.get(s"$out/fc/b")).asScala === Seq("a"))
    val forked = commands.filter(c => Set("chmod", "readlink")(program(c)))
    assert(forked.isEmpty, s"${forked.size} chmod/readlink spawns, e.g. ${forked.take(3)}")
  }

  test("created files and directories get the stock mode bits under each umask") {
    for (umask <- Seq("022", "027", "077")) {
      val trees = Seq(false, true).map { nio =>
        val c = conf(nio, umask)
        val base = tempDir("localfs_modes")
        withFs(c) { fs =>
          val o = fs.create(new Path(s"$base/fs/f.bin")); o.write(1); o.close()
          fs.mkdirs(new Path(s"$base/fs/d/e"))
          fs.mkdirs(new Path(s"$base/fs/p"), new FsPermission("750"))
        }
        val fc = FileContext.getFileContext(Root, c)
        val o = fc.create(new Path(s"$base/fc/g.bin"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        o.write(1); o.close()
        fc.mkdir(new Path(s"$base/fc/m/n"), FsPermission.getDirDefault, true)
        modes(base)
      }
      assert(trees.head.keySet.contains("fs/.f.bin.crc"), trees.head)
      assert(trees.head.keySet.contains("fc/.g.bin.crc"), trees.head)
      assert(trees(1) === trees.head, s"umask $umask")
    }
  }

  test("explicit setPermission matches stock, with and without the sticky bit") {
    val results = Seq(false, true).map { nio =>
      val base = tempDir("localfs_chmod")
      withFs(conf(nio)) { fs =>
        val f = new Path(s"$base/f"); val d = new Path(s"$base/d")
        fs.create(f).close(); fs.mkdirs(d)
        fs.setPermission(f, new FsPermission("604"))
        fs.setPermission(d, new FsPermission(Integer.parseInt("1777", 8).toShort))
        intercept[java.io.IOException](fs.setPermission(new Path(s"$base/missing"), new FsPermission("600")))
        (mode(Paths.get(s"$base/f")), mode(Paths.get(s"$base/d")))
      }
    }
    assert(results.head === (Integer.parseInt("604", 8), Integer.parseInt("1777", 8)))
    assert(results(1) === results.head)
  }

  test("getFileLinkStatus matches stock on a file, a missing path and a symlink") {
    val base = tempDir("localfs_links")
    Files.write(Paths.get(s"$base/file"), Array[Byte](1, 2, 3))
    // A symlink to a corpus file, as a staged or linked source directory holds one.
    Files.createSymbolicLink(Paths.get(s"$base/events.parquet"),
      Paths.get(s"$Sf/events.parquet").toAbsolutePath)
    def fields(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    val paths = Seq("file", "events.parquet").flatMap(n => Seq(s"$base/$n", s"file:$base/$n"))
    val results = Seq(false, true).map { nio =>
      val c = conf(nio)
      val fc = FileContext.getFileContext(Root, c)
      withFs(c) { fs =>
        for (missing <- Seq(s"$base/missing", s"file:$base/missing")) {
          intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(missing)))
          intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(missing)))
        }
        paths.map(p => fields(fs.getFileLinkStatus(new Path(p)))) ++
          paths.map(p => fields(fc.getFileLinkStatus(new Path(p))))
      }
    }
    // The stock class reports the unqualified symlink as one.
    assert(results.head.exists(_._4), results.head)
    assert(results(1) === results.head)
  }
}
