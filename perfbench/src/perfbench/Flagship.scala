package perfbench

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}

import graft.io.TableIO
import graft.model.{CodeFile, GoldRow}
import graft.pipeline.Partitioning

/** The `graft.Main` path: parquet corpus → `Partitioning.balanced` →
  * `TableIO.runResumable` into a fresh table root, and its correctness gate.
  */
object Flagship {
  val Buckets = 64

  final case class Gold(rows: Vector[(CodeFile, GoldRow)]) {
    private def key(r: GoldRow) = (r.repo, r.path, r.commit)
    val byKey: Map[(String, String, String), GoldRow] = rows.map(r => key(r._2) -> r._2).toMap
    val shaByKey: Map[(String, String, String), String] =
      rows.map { case (f, g) => key(g) -> Stats.sha256(Option(f.content).getOrElse("")) }.toMap
  }

  def materialise(spark: SparkSession, gold: Gold, path: String): Unit =
    spark.createDataset(gold.rows.map(_._1))(Encoders.product[CodeFile])
      .write.mode("overwrite").parquet(path)

  def input(spark: SparkSession, path: String, cores: Int): Dataset[CodeFile] =
    Partitioning.balanced(spark.read.parquet(path).as[CodeFile](Encoders.product[CodeFile]), cores * 4)

  def commit(spark: SparkSession, path: String, root: String, cores: Int): TableIO.Snapshot =
    TableIO.runResumable(input(spark, path, cores), root, nBuckets = Buckets)

  /** One committed output row, as the gate sees it. */
  private final case class Out(key: (String, String, String), sha: String, keep: Boolean,
      hasPii: Boolean, error: Boolean, scrubbed: String, bucket: Int,
      spans: Set[(Int, Int, String)])

  private def f1(tp: Long, fp: Long, fn: Long): Double =
    if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2.0 * tp + fp + fn)

  /** Problems with a committed table: row count, per-row sha256, keep and
    * span F1, scrub mismatches and snapshot lineage vs counted truth.
    */
  def check(spark: SparkSession, root: String, snap: TableIO.Snapshot, gold: Gold,
      corrupt: Option[String]): Seq[String] = {
    val read = TableIO.readCommitted(spark, root)
      .select("repo", "path", "commit", "sha256", "keep", "hasPii", "error",
        "scrubbedContent", "bucket", "entities").collect().toVector
    val out0 = read.map { r: Row =>
      val ents = r.getSeq[Row](9).map(e =>
        (e.getAs[Int]("start"), e.getAs[Int]("end"), e.getAs[String]("type"))).toSet
      Out((r.getString(0), r.getString(1), r.getString(2)), r.getString(3), r.getBoolean(4),
        r.getBoolean(5), !r.isNullAt(6), r.getString(7), r.getInt(8), ents)
    }.sortBy(_.key)
    val out = Corrupt.rows(corrupt, out0)(
      keep = o => o.copy(keep = !o.keep),
      redact = o => o.copy(scrubbed = o.scrubbed + " "),
      redactable = o => !o.error)
    val n = gold.rows.length
    val problems = Vector.newBuilder[String]
    if (out.length != n) problems += s"committed ${out.length} rows, expected $n"
    val unknown = out.count(o => !gold.byKey.contains(o.key))
    if (unknown > 0) problems += s"$unknown committed rows match no input row"
    val known = out.filter(o => gold.byKey.contains(o.key))
    val badSha = known.count(o => o.sha != gold.shaByKey(o.key))
    if (badSha > 0) problems += s"$badSha rows carry a wrong sha256"
    var ktp, kfp, kfn, stp, sfp, sfn, scrubBad = 0L
    known.foreach { o =>
      val g = gold.byKey(o.key)
      if (o.keep && g.expectedKeep) ktp += 1
      if (o.keep && !g.expectedKeep) kfp += 1
      if (!o.keep && g.expectedKeep) kfn += 1
      val gs = g.expectedSpans.map(s => (s.start, s.end, s.category)).toSet
      stp += (o.spans & gs).size; sfp += (o.spans -- gs).size; sfn += (gs -- o.spans).size
      if (!o.error && o.scrubbed != g.expectedScrubbed) scrubBad += 1
    }
    if (f1(ktp, kfp, kfn) < 0.99) problems += f"keep F1 ${f1(ktp, kfp, kfn)}%.4f < 0.99"
    if (f1(stp, sfp, sfn) < 0.99) problems += f"span F1 ${f1(stp, sfp, sfn)}%.4f < 0.99"
    if (scrubBad > 0) problems += s"$scrubBad scrub mismatches"
    if (snap.committedBuckets != (0 until Buckets).toSet)
      problems += s"snapshot v${snap.version} commits ${snap.committedBuckets.size}/$Buckets buckets"
    val truth = out.groupBy(_.bucket).map { case (b, os) =>
      b -> (os.length.toLong, os.count(_.keep).toLong, os.count(_.hasPii).toLong, os.count(_.error).toLong)
    }
    val recorded = snap.metrics.filter(_.filesScanned > 0).map(m =>
      m.bucket -> (m.filesScanned, m.filesKept, m.filesScrubbed, m.errors)).toMap
    if (recorded != truth) {
      val bad = (recorded.keySet ++ truth.keySet).count(b => recorded.get(b) != truth.get(b))
      problems += s"snapshot lineage disagrees with the committed rows in $bad buckets"
    }
    problems.result()
  }
}
