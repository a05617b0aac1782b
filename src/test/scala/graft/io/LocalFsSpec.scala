package graft.io

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.fixtures.Fixtures
import graft.ops.CurationStore

/** [[LocalFs]] sets exactly the modes the stock Hadoop local filesystem
  * sets (a security property: a table must not come out more readable
  * than before), and no engine write forks a process.
  */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tmpDir(): JPath = Files.createTempDirectory("graft-localfs")

  private def initialized[F <: org.apache.hadoop.fs.FileSystem](f: F): F = {
    f.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    f
  }

  /** The processes this JVM started while `body` ran, as
    * `command on thread @ frames`. Spark's executor heartbeat probes the
    * page size once per JVM on its own thread; that is not `body`'s fork.
    */
  private def forksDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      val out = Files.createTempFile("graft-forks", ".jfr")
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getThread.getJavaName != "executor-heartbeater")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(12))
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          s"${e.getString("command")} on ${e.getThread.getJavaName} @ ${frames.mkString(" < ")}"
        }
    } finally rec.close()
  }

  test("setPermission gives each of the 512 rwx modes exactly as the stock local FS does") {
    val dir = tmpDir()
    val ours = initialized(new LocalFs.Raw)
    val stock = initialized(new RawLocalFileSystem)
    val differ = (0 until 512).flatMap { m =>
      val perm = new FsPermission(m.toShort)
      Seq("file", "dir").flatMap { kind =>
        val a = dir.resolve(s"ours-$kind-$m")
        val b = dir.resolve(s"stock-$kind-$m")
        if (kind == "file") { Files.createFile(a); Files.createFile(b) }
        else { Files.createDirectory(a); Files.createDirectory(b) }
        ours.setPermission(new Path(a.toUri), perm)
        stock.setPermission(new Path(b.toUri), perm)
        val got = ours.getFileStatus(new Path(a.toUri)).getPermission
        val want = stock.getFileStatus(new Path(b.toUri)).getPermission
        if (got == want && want == perm) None else Some(s"$kind ${m.toOctalString}: $got vs $want")
      }
    }
    assert(differ.isEmpty, differ.take(10).mkString("; "))
  }

  test("a sticky-bit mode takes the stock path") {
    val dir = tmpDir()
    val ours = initialized(new LocalFs.Raw)
    val stock = initialized(new RawLocalFileSystem)
    val perm = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val a = Files.createDirectory(dir.resolve("ours"))
    val b = Files.createDirectory(dir.resolve("stock"))
    val forks = forksDuring(ours.setPermission(new Path(a.toUri), perm))
    stock.setPermission(new Path(b.toUri), perm)
    val got = ours.getFileStatus(new Path(a.toUri)).getPermission
    assert(got.getStickyBit && got == stock.getFileStatus(new Path(b.toUri)).getPermission)
    // java.nio cannot set the sticky bit: it came from the stock chmod
    assert(NativeIO.isAvailable || forks.exists(_.contains("chmod")), forks)
  }

  test("every file and directory of a table and a store has the mode the stock local FS gives it") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Option(conf.get("fs.permissions.umask-mode"))
    // a umask unlike the process default, so a skipped chmod would show
    conf.set("fs.permissions.umask-mode", "077")
    try {
      val table = tmpDir()
      TableIO.runResumable(Fixtures.generate(spark, 300), table.toString, nBuckets = 4)
      val store = tmpDir()
      CurationStore.ingestBatch(Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
        store.toString, storeWindowFps = true)
      // the same paths created through the stock checksummed local FS:
      // mkdirs per directory, create per file (which adds its .crc)
      val stock = initialized(new LocalFileSystem)
      def entries(top: JPath): Seq[JPath] =
        Files.walk(top).iterator().asScala.filter(_ != top).map(top.relativize).toSeq
      def modes(top: JPath): Map[String, String] = entries(top).map { rel =>
        rel.toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(top.resolve(rel)))
      }.toMap
      def stockModes(top: JPath): Map[String, String] = {
        val mirror = tmpDir()
        entries(top).foreach { rel =>
          val p = new Path(mirror.resolve(rel).toUri)
          if (Files.isDirectory(top.resolve(rel))) stock.mkdirs(p)
          else if (!rel.getFileName.toString.endsWith(".crc")) stock.create(p).close()
        }
        modes(mirror)
      }
      val ours = modes(table) ++ modes(store).map { case (k, v) => s"store/$k" -> v }
      assert(ours.keys.exists(_.startsWith("data/bucket=")))
      assert(ours.keys.exists(_.endsWith(".parquet.crc")))
      assert(ours.keys.exists(_.startsWith("_snapshots/")))
      assert(ours.keys.exists(_.endsWith("/_SUCCESS")))
      assert(modes(table) == stockModes(table))
      assert(modes(store) == stockModes(store))
      assert(ours.values.toSet == Set("rw-------", "rwx------"))
    } finally saved match {
      case Some(v) => conf.set("fs.permissions.umask-mode", v)
      case None => conf.unset("fs.permissions.umask-mode")
    }
  }

  test("a table commit and a store lifecycle fork no process") {
    import spark.implicits._
    // Shell's class init probes for setsid by forking once per JVM
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val table = tmpDir().toString
    val store = tmpDir().toString
    def docs(from: Long) = (from until from + 40).map(i =>
      (i, Seq.tabulate(30)(j => s"w${i % 25}x$j token$j").mkString(" "))).toDF("doc_id", "text")
    val forks = forksDuring {
      TableIO.runResumable(Fixtures.generate(spark, 200), table, nBuckets = 4)
      CurationStore.ingestBatch(docs(0), store, storeWindowFps = true)
      CurationStore.ingestBatch(docs(100), store, storeWindowFps = true)
      CurationStore.compact(spark, store)
    }
    assert(TableIO.readCommitted(spark, table).count() == 200)
    assert(CurationStore.lastSnapshot(spark, store).exists(_.version == 3))
    assert(forks.isEmpty, s"${forks.size} processes: ${forks.distinct.take(5).mkString("; ")}")
  }
}
