package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The Hadoop local filesystem without a forked `chmod`.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` shells out
  * (`Shell.execCommand("chmod", …)`) for every file and directory it
  * creates: a 64-bucket parquet commit forked ≈200 processes (data files,
  * their `.crc` files, directories). [[LocalFs.Raw]] sets the same 9 rwx
  * bits with one `chmod(2)` through `java.nio`, and [[LocalFs.Checksummed]]
  * wraps it in the stock checksummed `LocalFileSystem`, so `.crc` files and
  * read-side verification are unchanged. Modes with the sticky bit, and
  * file stores without POSIX attributes, take the stock path.
  *
  * Every engine writer goes through this: Spark writes pass
  * [[LocalFs.WriterOptions]], all other file IO uses [[LocalFs.get]].
  * Only the `file` scheme is affected; HDFS/S3 roots resolve as before.
  */
object LocalFs {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission is declared OWNER_READ … OTHERS_EXECUTE,
        // i.e. from bit 8 down to bit 0 of the mode
        PosixFilePermission.values.foreach { x =>
          if ((mode & (0x100 >> x.ordinal)) != 0) perms.add(x)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }

  final class Checksummed extends LocalFileSystem(new Raw)

  /** Spark writer options that resolve `file:` paths to [[Checksummed]].
    * Disabling the cache keeps the session's cached stock instance out of
    * the write.
    */
  val WriterOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[Checksummed].getName,
    "fs.file.impl.disable.cache" -> "true")

  // one instance per Hadoop configuration, like Hadoop's own FS cache:
  // the HTTP API checks its model directory on every request
  @volatile private var cached: (Configuration, FileSystem) = (null, null)

  /** The filesystem of `p` for IO outside Spark writes: [[Checksummed]]
    * for local paths, the session's configured filesystem for any other
    * scheme.
    */
  def get(spark: SparkSession, p: String): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(p).getFileSystem(conf)
    if (fs.getUri.getScheme != "file") fs
    else cached match {
      case (c, local) if c eq conf => local
      case _ =>
        val local = new Checksummed
        local.initialize(fs.getUri, conf)
        cached = (conf, local)
        local
    }
  }
}
