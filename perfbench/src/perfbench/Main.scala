package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.io.ModelArtifacts
import graft.ops.CurationStore
import graft.pipeline.Partitioning
import graft.serve.HttpApi

/** The repository benchmark. Every run drives the three production
  * surfaces at `local[nproc]` on inputs made from `--seed`:
  *
  *  - flagship: the `graft.Main` path, parquet corpus → `Partitioning.balanced`
  *    → `TableIO.runResumable` into a fresh table root;
  *  - store: `CurationStore.ingestBatch` per daily shard, `compact` + `gc`,
  *    one more ingest against the compacted store;
  *  - api: open-loop `/detect` and `/detect/batch` traffic on an in-process
  *    `HttpApi`.
  *
  * `--workload` picks the input sizes (see [[Workload]]). Each output is
  * checked (see [[Run]]); the last stdout line is the JSON result. With
  * `--trace 1` the run reports per-layer metrics instead (see [[Layers]]).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR [--trace-out FILE] [--corrupt keep|row|redaction] [--tiny]
  */
object Main {

  /** Input set-ups per run; `setup_s` counts their median. */
  val SetupReps = 3
  /** Seconds of API traffic in the warm-up pass. */
  val WarmApiS = 1.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, corrupt: Option[String], tiny: Boolean, traceOut: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1", Paths.get(need("--work")).toAbsolutePath,
      kv.get("--corrupt"), argv.contains("--tiny"), kv.get("--trace-out"))
    require(Workload.byName.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.corrupt.forall(Corrupt.Modes), s"unknown corruption ${a.corrupt.get}")
    a
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Partitioning.applyAqe(spark)
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Inputs of one run, materialised under `dir`. `warmShard` is a small
    * shard of the same shape for the warm-up pass.
    */
  final case class Prepared(dir: Path, gold: Flagship.Gold, corpus: String,
      shards: Vector[Inputs.Shard], shardPaths: Vector[String], texts: Vector[DetectApi.Text],
      modelDir: String, warmShard: String)

  def prepare(spark: SparkSession, w: Workload, seed: Long, dir: Path): Prepared = {
    Files.createDirectories(dir)
    val gold = Flagship.Gold(Inputs.fixtureWindow(seed, w.flagshipRows))
    val corpus = dir.resolve("corpus").toString
    Flagship.materialise(spark, gold, corpus)
    val shards = Inputs.storeShards(seed, Run.Shards, w.freshPerShard)
    val shardPaths = shards.indices.map(i => dir.resolve(s"shard-$i").toString).toVector
    shards.zip(shardPaths).foreach { case (s, p) => Store.materialise(spark, s, p) }
    val texts = gold.rows.collect {
      case (f, g) if !g.expectedError => DetectApi.Text(f.content, g.expectedScrubbed)
    }
    val modelDir = dir.resolve("model").toString
    ModelArtifacts.saveLabelMapping(spark, modelDir,
      graft.ingest.Prepare.buildLabelMapping(Seq("EMAIL", "PHONE"), Seq.empty))
    val warmShard = dir.resolve("warm-shard").toString
    Store.materialise(spark, Inputs.storeShards(seed + 1, 1, 30).head, warmShard)
    Prepared(dir, gold, corpus, shards, shardPaths, texts, modelDir, warmShard)
  }

  /** Discarded pass over every surface, so classes, generated code and the
    * JIT are warm before timing: one full flagship commit, a store
    * lifecycle on a small shard and one window of API traffic.
    */
  def warm(spark: SparkSession, p: Prepared, w: Workload, cores: Int): Unit = {
    val (_, commitS) = Stats.seconds(
      Flagship.commit(spark, p.corpus, p.dir.resolve("warm-table").toString, cores))
    val store = p.dir.resolve("warm-store").toString
    val (_, storeS) = Stats.seconds {
      Store.ingest(spark, p.warmShard, store)
      CurationStore.compact(spark, store)
      CurationStore.gc(spark, store)
    }
    val (_, apiS) = Stats.seconds {
      val api = new HttpApi(spark, p.modelDir)
      val port = api.start()
      try {
        DetectApi.run(port, DetectApi.plan(p.texts, WarmApiS, w.batchSize, 0), cores,
          (_, _, _, _) => (), (_, _) => ())
      } finally api.stop()
    }
    System.err.println(f"perfbench: warm-up commit $commitS%.2f s, store $storeS%.2f s, api $apiS%.2f s")
  }

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = Workload.byName(args.workload).sized(args.tiny)
    val cores = Runtime.getRuntime.availableProcessors()
    val ledger = new Ledger
    val result = new Result
    Files.createDirectories(args.work)
    System.err.println(s"perfbench: workload=${args.workload} seed=${args.seed} " +
      s"seconds=${args.seconds} trace=${if (args.trace) 1 else 0} cores=$cores ${Env.describe(cores)}")

    val (spark0, sessionS) = Stats.seconds(session(cores))
    var spark = spark0
    try {
      // set-up: the inputs are made and materialised SetupReps times into
      // fresh directories (median reported), then one discarded warm-up
      // pass runs over every surface
      val preps = (0 until SetupReps).map(r =>
        Stats.seconds(prepare(spark, w, args.seed, args.work.resolve(s"setup-$r"))))
      val prepared = preps.last._1
      val (_, warmS) = Stats.seconds(warm(spark, prepared, w, cores))
      System.err.println(s"perfbench: session $sessionS s, inputs ${preps.map(_._2).mkString(" ")} s, warm-up $warmS s")
      if (!args.trace) result.put("setup_s", sessionS + Stats.median(preps.map(_._2)) + warmS, "s")
      val run = new Run(spark, cores, prepared, w, args, ledger, result)
      if (args.trace) new Layers(run).measure()
      else run.measure()
      spark = run.spark
    } catch {
      case e: Throwable =>
        ledger.attempt()
        ledger.fail("run", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    } finally stopSession(spark)

    if (!args.trace) result.put("peak_rss_mb", Stats.peakRssMb(), "MB")
    val correct = ledger.nFailed == 0
    val metrics = result.metrics.map { case (k, (v, u)) =>
      s"${Stats.jsonStr(k)}: {\"value\": ${jsonNum(v)}, \"unit\": ${Stats.jsonStr(u)}}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ledger.nAttempted)}, "failed": ${ledger.nFailed}, "metrics": $metrics}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}

/** Host and JVM settings recorded with every run. */
object Env {
  def describe(cores: Int): String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName)
    val xmx = Runtime.getRuntime.maxMemory() / (1L << 20)
    s"xmx_mb=$xmx gc=${gc.mkString("+")} jvm=${rt.getVmVersion} " +
      s"git_sha=${sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown")} " +
      s"spark_confs=local[$cores],shuffle.partitions=$cores,aqe=on"
  }
}
