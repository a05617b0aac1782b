package graft.io

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.fixtures.Fixtures
import graft.pipeline.{Partitioning, QualityFilter}

/** Snapshot-log commit/resume semantics (kill-and-rerun over Parquet +
  * manifest) — the north rule's resumability requirement.
  */
class TableIOSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-table").toString

  test("kill-and-rerun: partial run commits a prefix; rerun completes; table matches a clean run") {
    val root = tmpRoot()
    val input = Fixtures.generate(spark, 2000)

    // run 1 "dies" after committing 5 of 16 buckets
    val s1 = TableIO.runResumable(input, root, nBuckets = 16, maxBucketsPerRun = 5)
    assert(s1.version == 1 && s1.committedBuckets.size == 5)
    val visible1 = TableIO.readCommitted(spark, root).count()
    assert(visible1 > 0 && visible1 < 2000)

    // run 2 resumes: processes only the remaining 11 buckets
    val s2 = TableIO.runResumable(input, root, nBuckets = 16)
    assert(s2.version == 2 && s2.parent == 1)
    assert(s2.committedBuckets == (0 until 16).toSet)

    // full visibility and exact parity with a direct pipeline run
    val committed = TableIO.readCommitted(spark, root)
    assert(committed.count() == 2000)
    val direct = QualityFilter.run(input)
      .select("commit", "sha256", "keep", "scrubbedContent")
    val viaTable = committed.select("commit", "sha256", "keep", "scrubbedContent")
    assert(viaTable.exceptAll(direct).isEmpty && direct.exceptAll(viaTable).isEmpty)
  }

  test("idempotent rerun: nothing left to do returns last snapshot unchanged") {
    val root = tmpRoot()
    val input = Fixtures.generate(spark, 300)
    val s1 = TableIO.runResumable(input, root, nBuckets = 4)
    val s2 = TableIO.runResumable(input, root, nBuckets = 4)
    assert(s2.version == s1.version)
    assert(TableIO.readCommitted(spark, root).count() == 300)
  }

  test("time travel: readAt(v1) sees only the buckets committed in v1") {
    val root = tmpRoot()
    val input = Fixtures.generate(spark, 1000)
    val s1 = TableIO.runResumable(input, root, nBuckets = 8, maxBucketsPerRun = 3)
    TableIO.runResumable(input, root, nBuckets = 8)
    val v1Rows = TableIO.readAt(spark, root, s1.version)
    val v1Buckets = v1Rows.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(v1Buckets.subsetOf(s1.committedBuckets))
    assert(v1Rows.count() < 1000)
    assert(TableIO.readAt(spark, root, 2).count() == 1000)
  }

  test("snapshot lineage metrics sum to the table contents") {
    val root = tmpRoot()
    val input = Fixtures.generate(spark, 1200)
    val snap = TableIO.runResumable(input, root, nBuckets = 8)
    assert(snap.metrics.map(_.filesScanned).sum == 1200)
    val kept = TableIO.readCommitted(spark, root).filter(col("keep")).count()
    assert(snap.metrics.map(_.filesKept).sum == kept)
  }

  test("per-bucket PII hits by category ride the snapshot lineage and round-trip the manifest") {
    val root = tmpRoot()
    val input = Fixtures.generate(spark, 1200)
    val snap = TableIO.runResumable(input, root, nBuckets = 8)
    // fixture distribution plants EMAIL/IP_ADDRESS/SECRET/PHONE spans —
    // the lineage totals must equal a direct recount over the table
    val direct = TableIO.readCommitted(spark, root)
      .select(explode(col("piiTypes")).as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromLineage = snap.metrics.flatMap(_.piiHits.toSeq)
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
    assert(fromLineage == direct, s"lineage $fromLineage vs direct $direct")
    assert(fromLineage.keySet.subsetOf(TableIO.Categories.toSet))
    assert(fromLineage.nonEmpty)
    // round-trip: the parsed manifest (not the in-memory snapshot) carries them
    val reread = TableIO.snapshots(spark, root).last
    assert(reread.metrics.sortBy(_.bucket) == snap.metrics.sortBy(_.bucket))
  }

  test("single-pass commit metrics match an on-disk audit readback") {
    val root = tmpRoot()
    val input = Fixtures.generate(spark, 1000)
    val snap = TableIO.runResumable(input, root, nBuckets = 8)
    // metrics were accumulated during the write (no post-write re-read);
    // the audit mode re-derives them from disk — they must agree exactly
    val audit = TableIO.auditMetrics(spark, root, 0 until 8)
    assert(snap.metrics.filter(_.filesScanned > 0).sortBy(_.bucket) == audit)
  }

  test("todo buckets that receive no rows still commit, with zero metrics") {
    // no row at all reaches the write: AQE may drop the observed subtree
    val root = tmpRoot()
    val none = TableIO.runResumable(
      Fixtures.generate(spark, 300).filter(lit(false)), root, nBuckets = 4)
    assert(none.committedBuckets == (0 until 4).toSet)
    assert(none.metrics.sortBy(_.bucket) ==
      (0 until 4).map(b => TableIO.BucketMetrics(b, 0, 0, 0, 0)))
    // a few rows over many buckets: most todo buckets stay empty
    val sparse = TableIO.runResumable(Fixtures.generate(spark, 5), tmpRoot(), nBuckets = 64)
    assert(sparse.committedBuckets == (0 until 64).toSet)
    assert(sparse.metrics.map(_.filesScanned).sum == 5)
    assert(sparse.metrics.count(_.filesScanned == 0) >= 59)
    assert(sparse.metrics.filter(_.filesScanned == 0).forall(m =>
      m == TableIO.BucketMetrics(m.bucket, 0, 0, 0, 0)))
  }

  test("a write task that fails its first attempt commits the rows and lineage of a clean run") {
    val clean = tmpRoot()
    val faulty = tmpRoot()
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmOpts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(java, "-Xmx1g") ++ jvmOpts ++ Seq("-cp", System.getProperty("java.class.path"),
      FaultInjectedCommit.getClass.getName.stripSuffix("$"), clean, faulty, "1000", "8")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out.takeRight(4000))
    assert(out.linesIterator.contains("INJECTED 1"), out.takeRight(4000))

    val snap = TableIO.lastSnapshot(spark, faulty).get
    assert(snap == TableIO.lastSnapshot(spark, clean).get)
    def manifest(root: String) = Files.readAllBytes(Paths.get(root, "_snapshots", "v00001.json"))
    assert(manifest(faulty).sameElements(manifest(clean)))
    assert(snap.metrics.map(_.filesScanned).sum == 1000)
    assert(snap.metrics.filter(_.filesScanned > 0).sortBy(_.bucket) ==
      TableIO.auditMetrics(spark, faulty, 0 until 8))
    val a = TableIO.readCommitted(spark, faulty)
    val b = TableIO.readCommitted(spark, clean)
    assert(a.count() == 1000 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("uncommitted data is invisible even if files exist on disk") {
    val root = tmpRoot()
    val input = Fixtures.generate(spark, 800)
    TableIO.runResumable(input, root, nBuckets = 8, maxBucketsPerRun = 2)
    // raw directory has only 2 buckets' files; committed view equals raw here,
    // but a fresh root with zero snapshots must refuse to read
    intercept[IllegalStateException] {
      TableIO.readCommitted(spark, tmpRoot())
    }
  }

  test("salted repo counts equal plain groupBy counts (skew-proof agg)") {
    val df = Fixtures.generate(spark, 1500).toDF()
    val plain = df.groupBy("repo").count()
    val salted = Partitioning.repoCountsSalted(df, salts = 8)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // and the mega-repo is in fact heavy
    val heavy = Partitioning.heavyRepos(df, 0.2)
    assert(heavy.contains(Fixtures.MegaRepo))
  }
}
