package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with chmod done inside the JVM.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem.setPermission` starts a
  * `chmod` process for every file it creates (the data file and its `.crc`
  * sidecar) and every directory it makes: about 90 forks per perfbench
  * `quality_filter` job. A mode with only rwx bits is set here with
  * `Files.setPosixFilePermissions`, the same nine bits; any other mode
  * (sticky, setuid, setgid) or a store without POSIX attributes takes the
  * stock path. Files, permission bits and sidecars are unchanged.
  *
  * Registered for the `file:` scheme by `fs.file.impl` in the
  * `core-site.xml` on graft's classpath, so it reaches every session
  * without a conf or flag. Hadoop reads only the first `core-site.xml` on
  * the classpath and ignores the rest whole, in both directions. Under
  * `spark-submit`, a cluster's `HADOOP_CONF_DIR/core-site.xml` comes first
  * and wins: such a deployment gets stock Hadoop behaviour. Where graft's
  * classes come first instead (`java -cp graft.jar:$HADOOP_CONF_DIR`,
  * `spark.{driver,executor}.userClassPathFirst`, graft used as a library),
  * graft's file shadows the site config and its `fs.defaultFS`, credentials
  * and the rest are lost; [[NioLocalFileSystem]] then logs a warning naming
  * the ignored files. Without the property,
  * Hadoop picks the last `file` class its service loader lists, which on
  * Spark's jars is hive-exec's `ProxyLocalFileSystem`: a LocalFileSystem
  * whose `rename` refuses to replace an existing file. graft renames
  * nothing itself, and Hadoop's output committer deletes a destination
  * file before renaming onto it. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

object NioRawLocalFileSystem {
  // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE: bit 8 down to bit 0
  private val Bits = PosixFilePermission.values()

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (0x100 >> i)) != 0) s.add(Bits(i))
    s
  }
}

/** The checksummed local file system over [[NioRawLocalFileSystem]]: `.crc`
  * sidecars are still written and verified (DsCheck relies on them). On its
  * first use with a class loader it warns if that loader sees more than one
  * `core-site.xml`: all but the first are ignored by Hadoop. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    val loader = conf.getClassLoader
    if (loader != null && NioLocalFileSystem.checked.add(loader))
      NioLocalFileSystem.shadowWarning(loader).foreach(NioLocalFileSystem.log.warn)
  }
}

object NioLocalFileSystem {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[NioLocalFileSystem])
  private val checked = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[ClassLoader, java.lang.Boolean]))

  /** Hadoop's `Configuration` loads `core-site.xml` with `getResource`: the
    * first one the loader finds. Names every later one, which is ignored. */
  def shadowWarning(loader: ClassLoader): Option[String] =
    loader.getResources("core-site.xml").asScala.toSeq match {
      case read +: ignored if ignored.nonEmpty =>
        Some(s"Hadoop reads only the first core-site.xml on the classpath, $read; " +
          s"ignored whole: ${ignored.mkString(", ")}")
      case _ => None
    }
}
