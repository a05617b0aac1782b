package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.CurationStore

/** The incremental-curation lifecycle (`CurationStore.ingestBatch` per
  * daily shard, `compact`, `gc`, one more ingest) and its gate.
  */
object Store {

  def materialise(spark: SparkSession, shard: Inputs.Shard, path: String): Unit = {
    import spark.implicits._
    shard.docs.toDF("doc_id", "text").write.mode("overwrite").parquet(path)
  }

  def ingest(spark: SparkSession, path: String, root: String): CurationStore.IngestReport =
    CurationStore.ingestBatch(spark.read.parquet(path), root)._2

  /** Ids whose signatures the ingest committed as batch `version`. */
  def committedIds(spark: SparkSession, root: String, version: Int): Set[Long] =
    CurationStore.committedSigs(spark, root).filter(col("batch") === version)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  /** Problems with one ingest: the curated set must be exactly the shard's
    * fresh docs, and each lineage count must match the construction.
    */
  def checkIngest(shard: Inputs.Shard, r: CurationStore.IngestReport, ids0: Set[Long],
      corrupt: Option[String]): Seq[String] = {
    val sorted = ids0.toVector.sorted
    val ids = Corrupt.rows(corrupt, sorted)(
      keep = _ => shard.docs.map(_._1).filterNot(shard.fresh).headOption.getOrElse(-1L),
      redact = identity).toSet
    val n = shard.docs.length.toLong
    val afterExact = n - shard.intraCopies
    val fresh = shard.fresh.size.toLong
    val expected = Seq(
      "arrived" -> (r.nArrived, n),
      "after exact" -> (r.nAfterExact, afterExact),
      "after corpus" -> (r.nAfterCorpusDedup, afterExact - shard.storeCopies - shard.nearVariants),
      "after intra" -> (r.nAfterIntraDedup, fresh),
      "curated" -> (r.nCurated, fresh))
    val counts = expected.collect { case (k, (got, want)) if got != want => s"$k $got != $want" }
    val kept = ids -- shard.fresh
    val lost = shard.fresh -- ids
    counts ++
      (if (kept.nonEmpty) Seq(s"${kept.size} planted copies or variants kept") else Nil) ++
      (if (lost.nonEmpty) Seq(s"${lost.size} fresh docs dropped") else Nil)
  }

  /** Order-free digest of the committed signature content. */
  def digest(spark: SparkSession, root: String): (Long, Long) = {
    val r = CurationStore.committedSigs(spark, root)
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("doc_id"), col("sig"))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}
