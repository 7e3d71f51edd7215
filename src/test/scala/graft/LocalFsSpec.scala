package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.plans.Checkpoint
import graft.sources.{NioLocalFileSystem, NioRawLocalFileSystem, Writers}

/** The `file:` scheme's in-process chmod: registered by core-site.xml,
  * same permission bits as Hadoop's stock class, no `chmod` process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("core-site.xml registers NioLocalFileSystem for file:") {
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
  }

  test("a checkpointed stage and a quarantine write start no chmod process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val dir = Files.createTempDirectory("localfs_forks")
    // control: the stock class in the same recording, on its own file
    val control = Files.createFile(dir.resolve("control"))
    val stock = new RawLocalFileSystem
    stock.initialize(new URI("file:///"), conf)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val ckpt = new Checkpoint(dir.resolve("ckpt").toString)
      val staged = ckpt.stage("filtered") {
        (0 until 100).toDF("id")
          .withColumn("keep", col("id") % 3 =!= 0)
          .withColumn("drop_reason", when(col("keep"), lit(null)).otherwise(lit("mod3")))
      }
      Writers.withQuarantine(staged, dir.resolve("kept").toString, dir.resolve("quarantine").toString)
      assert(spark.read.parquet(dir.resolve("kept").toString).count() == 66)
      stock.setPermission(new Path(control.toUri), new FsPermission(Integer.parseInt("640", 8).toShort))
    } finally rec.stop()
    val dump = dir.resolve("rec.jfr")
    rec.dump(dump)
    rec.close()
    val chmods = RecordingFile.readAllEvents(dump).asScala
      .map(e => String.valueOf(e.getString("command")))
      .filter(_.contains("chmod"))
    val (controls, graft) = chmods.partition(_.contains(control.toString))
    assert(graft.isEmpty, s"graft writes forked: ${graft.take(5)}")
    // without libhadoop the stock class forks: the recording saw that fork
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(controls.size == 1, s"stock chmod not recorded: $chmods")
  }

  test("same permission bits as the stock class for rwx modes; other modes take the stock path") {
    val root = Files.createTempDirectory("localfs_twins")
    val stock = new RawLocalFileSystem
    stock.initialize(new URI("file:///"), conf)
    val nio = new NioRawLocalFileSystem
    nio.initialize(new URI("file:///"), conf)
    def set(fs: RawLocalFileSystem, p: JPath, octal: String): Unit =
      fs.setPermission(new Path(p.toUri), new FsPermission(Integer.parseInt(octal, 8).toShort))
    for (octal <- Seq("644", "755", "700", "600"); kind <- Seq("file", "dir")) {
      def make(side: String) = {
        val p = root.resolve(s"$kind-$octal-$side")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
      }
      val (a, b) = (make("stock"), make("nio"))
      set(stock, a, octal)
      set(nio, b, octal)
      assert(mode(a) == mode(b), s"$kind $octal")
      assert((mode(b) & 0xfff) == Integer.parseInt(octal, 8), s"$kind $octal")
    }
    // the sticky bit is not a PosixFilePermission: only the fallback sets it
    val sticky = Files.createDirectory(root.resolve("sticky"))
    set(nio, sticky, "1777")
    assert((mode(sticky) & 0xfff) == Integer.parseInt("1777", 8))
  }

  test("checksum sidecars are still written and verified") {
    val dir = Files.createTempDirectory("localfs_crc")
    val fs = FileSystem.get(new URI("file:///"), conf)
    val p = new Path(dir.resolve("data.bin").toUri)
    val out = fs.create(p)
    try out.write("graft".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(dir.resolve(".data.bin.crc")))
    val in = fs.open(p)
    try assert(new String(in.readAllBytes(), "UTF-8") == "graft") finally in.close()
    (0 until 10).toDF("id").write.parquet(dir.resolve("pq").toString)
    assert(Files.list(dir.resolve("pq")).iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet.crc")))
  }

  test("a core-site.xml shadowed by graft's is named in a warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    // the test classpath holds graft's core-site.xml and no other
    assert(NioLocalFileSystem.shadowWarning(getClass.getClassLoader).isEmpty)
    // graft's classes before a site config dir, as `-cp graft.jar:$HADOOP_CONF_DIR`
    val site = Files.createTempDirectory("localfs_site")
    Files.writeString(site.resolve("core-site.xml"), "<configuration/>")
    val loader = new java.net.URLClassLoader(Array(site.toUri.toURL), getClass.getClassLoader)
    val expected = NioLocalFileSystem.shadowWarning(loader)
    assert(expected.exists(_.endsWith(s"ignored whole: ${site.resolve("core-site.xml").toUri.toURL}")), expected)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("shadowedSite", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == classOf[NioLocalFileSystem].getName && e.getLevel.isMoreSpecificThan(Level.WARN))
          warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val shadowed = new Configuration(conf)
      shadowed.setClassLoader(loader)
      // warned once per class loader
      for (_ <- 0 until 2) new NioLocalFileSystem().initialize(new URI("file:///"), shadowed)
    } finally {
      spark.sparkContext.setLogLevel("ERROR")
      root.removeAppender(capture)
      capture.stop()
    }
    assert(warnings.asScala.toSeq == expected.toSeq)
  }
}
