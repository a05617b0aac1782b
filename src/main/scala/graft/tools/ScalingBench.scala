package graft.tools

import org.apache.spark.sql.SparkSession

import graft.fixtures.Fixtures
import graft.pipeline.QualityFilter

/** N→4N scaling evidence (BASELINE.json: efficiency ≥ 0.8 from N to 4N
  * executors). Without a real cluster the same job runs at `local[c1]` and
  * `local[c2]` over the identical pre-materialized corpus, and we report
  * throughput at both plus efficiency = (T_c1 / T_c2) / (c2 / c1). By
  * default c2 is the host's core count and c1 a quarter of it (1→4 on a
  * 4-core host, 8→32 on a 32-core one).
  *
  * The corpus is written once to Parquet (64 splits so both levels have
  * full input parallelism); each measurement is a fresh SparkSession that
  * reads → scores → scrubs → noop-sinks the complete output.
  */
object ScalingBench {

  private def run(cores: Int, corpusPath: String): Double = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = spark.read.parquet(corpusPath)
      .as[graft.model.CodeFile](org.apache.spark.sql.Encoders.product[graft.model.CodeFile])
    // full-pass warmup, discarded: JIT-compiles the whole path and warms the
    // page cache. (A limit(n) warmup is a trap: GlobalLimit funnels through
    // one partition, so the measured pass still runs half-cold.)
    QualityFilter.run(corpus).toDF().write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    QualityFilter.run(corpus).toDF()
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    sec
  }

  /** Usage: `ScalingBench [nFiles [c1 [c2]]]`. */
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 400000L
    // N→4N pair from the host's cores. Pure-JVM thread scaling on one host
    // flattens near its full core count (turbo + memory bandwidth; on a
    // 32-core box 8→32 gave ~2.9×, BENCH.md), while a 4× EXECUTOR scale-out
    // also brings 4× memory subsystems; pass a smaller pair to stay in the
    // linear region.
    val cores = Runtime.getRuntime.availableProcessors
    val c1 = if (args.length > 1) args(1).toInt else math.max(1, cores / 4)
    val c2 = if (args.length > 2) args(2).toInt else if (args.length > 1) c1 * 4 else cores
    val corpusPath = s"/tmp/graft-scaling-corpus-$n"

    if (!new java.io.File(corpusPath).exists()) {
      val s = SparkSession.builder().master(s"local[$c2]")
        .config("spark.sql.shuffle.partitions", c2.toString)
        .config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      Fixtures.generate(s, n).repartition(128).write.mode("overwrite").parquet(corpusPath)
      s.stop()
    }

    val t1 = run(c1, corpusPath)
    val t2 = run(c2, corpusPath)
    val thr1 = n / t1
    val thr2 = n / t2
    val ratio = c2.toDouble / c1
    val efficiency = (t1 / t2) / ratio
    println(
      f"""{"metric":"scaling_efficiency","value":$efficiency%.3f,"n_files":$n,"local$c1":{"sec":$t1%.2f,"files_per_sec":$thr1%.1f},"local$c2":{"sec":$t2%.2f,"files_per_sec":$thr2%.1f},"speedup":${t1 / t2}%.2f}""")
  }
}
