package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.errors._
import graft.scrub.Scrubber

/** Serving-surface semantics of the reference detector API
  * (reference src/api.py routes + src/inference.py batch contract), as
  * library functions over Datasets — the REST layer itself is out of scope,
  * but every behavioural guarantee a client of `/detect/batch` relies on is
  * reproduced:
  *  - empty input LIST raises (EmptyInputError("texts list"), api.py:322);
  *  - batch cap 1000 texts raises InvalidFieldError (api.py:53, 323-327);
  *  - per-ITEM problems never fail the batch: captured in `error`,
  *    output length always equals input length (src/inference.py:355-421);
  *  - result shape mirrors `PIIResult.to_dict()` (src/inference.py:66-67);
  *  - every failure is a `graft.errors.GraftError`, whose `toMap`/`toJson`
  *    is the reference's `to_dict()` contract (exceptions.py:38).
  */
object Detect {

  val MaxBatchTexts = 1000 // api.py:53

  /** One text's `PIIResult` fields as a struct `_1`..`_5`. */
  private val scrubUdf = udf { (text: String) =>
    val r = Scrubber.scrub(text)
    (r.hasPii, r.scrubbed, r.piiTypes, r.entities, r.error)
  }

  /** Distributed batch detect: one row per input text, index-aligned. */
  def detectBatch(spark: SparkSession, texts: Seq[String]): DataFrame = {
    if (texts.isEmpty) throw EmptyInputError("texts list") // api.py:321-322
    if (texts.length > MaxBatchTexts)
      throw InvalidFieldError("texts",
        s"list length ${texts.length} exceeds maximum allowed $MaxBatchTexts") // api.py:323-327
    import spark.implicits._
    texts.zipWithIndex.toDF("text", "idx")
      .withColumn("r", scrubUdf(col("text")))
      .select(
        col("idx"),
        col("r._1").as("hasPii"),
        col("r._2").as("redactedText"),
        col("r._3").as("piiTypes"),
        col("r._4").as("entities"),
        col("r._5").as("error"))
      .orderBy("idx")
  }

  /** File-upload detect facade (reference api.py `/detect/file`,
    * api.py:97-155 + 493-529): validate → read by extension → scrub.
    *  - `.txt`  → one detect row per non-blank line (line grid);
    *  - `.csv` / `.xlsx` → redacted grid, schema preserved, plus the
    *    per-row `_pii_types` aggregate.
    * Upload problems (missing/empty/oversized/unsupported/corrupt file)
    * surface as typed `graft.errors.GraftError`s — the reference's 4xx
    * contract (api.py:473-479 routes exactly these classes to 400).
    */
  def detectUpload(spark: SparkSession, path: String,
      columns: Option[Seq[String]] = None): DataFrame = {
    import graft.ingest.Uploads
    Uploads.validateUpload(path)
    val name = new java.io.File(path).getName
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    ext match {
      case "txt" =>
        Uploads.readTxt(spark, path)
          .withColumn("r", scrubUdf(col("line")))
          .select(col("line"), col("r._1").as("hasPii"),
            col("r._2").as("redactedText"), col("r._3").as("piiTypes"),
            col("r._4").as("entities"), col("r._5").as("error"))
      case "csv" =>
        try Uploads.scrubGrid(Uploads.readCsv(spark, path), columns, name, "csv")
        catch {
          case e: GraftError => throw e
          case e: Exception => // parse failure → typed 4xx, never a 500 (api.py:131-133)
            throw CSVParsingError(name, String.valueOf(e.getMessage))
        }
      case "xlsx" =>
        try Uploads.scrubGrid(Uploads.readXlsx(spark, path), columns, name, "excel")
        catch {
          case e: GraftError => throw e
          case e: Exception => // corrupt zip/XML → typed 4xx, never a 500 (api.py:148-150)
            throw ExcelParsingError(name, String.valueOf(e.getMessage))
        }
      case other =>
        throw UnsupportedFileTypeError(name, s".$other")
    }
  }

  /** `/info` payload analogue (api.py:232-236): service/model metadata,
    * field names mirroring the reference's JSON keys. Uninitialised model
    * dir → ModelNotFoundError, the 503 analogue (api.py:226).
    */
  final case class ServiceInfo(
      model_path: String,
      device: String,
      confidence_threshold: Double,
      supported_pii_types: Seq[String],
      num_labels: Int,
      batch_size: Int)

  /** This engine's detector is the regex scrubber: confidence is always
    * 1.0 and the type set is the north-rule four.
    */
  val SupportedPiiTypes: Seq[String] = Seq("EMAIL", "IP_ADDRESS", "PHONE", "SECRET")

  def info(spark: SparkSession, modelDir: String): ServiceInfo = {
    val m = graft.io.ModelArtifacts.loadLabelMapping(spark, modelDir) // validates like api.py:226
    ServiceInfo(modelDir, "cpu", 1.0, SupportedPiiTypes, m.numLabels, MaxBatchTexts)
  }

  /** `/health` analogue (api.py:214-219): (status, model_loaded). */
  def health(spark: SparkSession, modelDir: String): (String, Boolean) = {
    val loaded =
      try { graft.io.ModelArtifacts.validateModelDir(spark, modelDir); true }
      catch { case _: GraftError => false }
    ("healthy", loaded)
  }

  /** `get_pii_statistics` over a detect-batch result
    * (reference src/inference.py:190-205).
    */
  def statistics(results: DataFrame): DataFrame = {
    val dist = results
      .select(explode(col("piiTypes")).as("piiType"))
      .groupBy("piiType").agg(count(lit(1)).as("cnt"))
      .agg(sort_array(collect_list(struct(col("cnt"), col("piiType"))), asc = false)
        .as("piiTypeDistribution"))
    results.agg(
      count(lit(1)).as("totalTexts"),
      sum(when(col("hasPii"), 1L).otherwise(0L)).as("textsWithPii"),
      sum(when(!col("hasPii"), 1L).otherwise(0L)).as("textsWithoutPii"),
      round(avg(when(col("hasPii"), 1.0).otherwise(0.0)), 4).as("piiRate"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("errors")
    ).crossJoin(dist)
  }
}
