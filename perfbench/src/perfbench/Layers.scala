package perfbench

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col

import graft.api.Detect
import graft.io.{ModelArtifacts, TableIO}
import graft.langid.FastLangId
import graft.model.CodeFile
import graft.ops.CurationStore
import graft.pipeline.{Partitioning, QualityFilter}
import graft.ppl.NgramLM
import graft.quality.Heuristics
import graft.scrub.Scrubber
import graft.util.Hashing

/** The traced run: per-layer metrics, each measured from outside the
  * program by timing calls into a module's public functions or by the
  * benchmark's own Spark listeners. Spans are written to `--trace-out`.
  */
final class Layers(run: Run) {
  import run.{args, cores, p, w}
  private def put(name: String, value: Double, unit: String): Unit = run.result.put(name, value, unit)

  /** Median over `reps` of the seconds one call of `body` takes. */
  private def timeMedian(reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map(_ => Stats.seconds(body)._2))

  def measure(): Unit = {
    val storePrefix = p.dir.resolve("store-").toString
    run.collector.watch(path => path.startsWith(storePrefix) && path.contains("/data/"))
    run.rounds(args.seconds)
    spark()
    tracingOverhead()
    kernels()
    ladder()
    tableIo()
    store()
    api()
    scaling()
    val self = run.trace.selfSeconds
    Seq("round", "flagship.commit", "store.ingest", "store.compact_gc", "api.window")
      .foreach(n => put(s"trace.self_s.$n", self.getOrElse(n, 0.0), "s"))
    args.traceOut.foreach(f => run.trace.write(java.nio.file.Paths.get(f)))
  }

  // commit seconds with tracing off, the untraced end-to-end reference
  private val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Flagship commits alternately traced and untraced. */
  private def tracingOverhead(): Unit = {
    val traced = (0 until 2).map { i =>
      run.trace.enabled = false
      untraced += run.flagshipCommit(s"untraced-$i")
      run.trace.enabled = true
      run.flagshipCommit(s"traced-$i")
    }
    put("trace.overhead_frac", Stats.median(traced) / Stats.median(untraced.toSeq) - 1, "ratio")
  }

  /** Spark counters of each surface's calls during the rounds. */
  private def spark(): Unit =
    Seq("flagship" -> "flagship.commit", "store" -> "store.ingest", "api" -> "api.window").foreach {
      case (name, layer) =>
        val ph = run.phases(layer)
        val c = ph.counts
        val mb = (b: Long) => b / 1e6
        put(s"spark.$name.jobs", c.jobs.toDouble, "count")
        put(s"spark.$name.tasks", c.tasks.toDouble, "count")
        put(s"spark.$name.failed_tasks", c.failedTasks.toDouble, "count")
        put(s"spark.$name.task_cpu_s", c.taskCpuNs / 1e9, "s")
        put(s"spark.$name.gc_s", c.gcMs / 1e3, "s")
        put(s"spark.$name.cpu_util", c.taskCpuNs / 1e9 / (cores * ph.seconds), "ratio")
        put(s"spark.$name.shuffle_write_mb", mb(c.shuffleWriteB), "MB")
        put(s"spark.$name.shuffle_read_mb", mb(c.shuffleReadB), "MB")
        put(s"spark.$name.spill_mb", mb(c.spillB), "MB")
        put(s"spark.$name.task_skew", ph.skew, "ratio")
    }

  /** Single-thread µs per row of each analyze kernel on the corpus rows. */
  private def kernels(): Unit = {
    val rows = p.gold.rows.map(r => Option(r._1.content).getOrElse("")).take(1000)
    val lang = FastLangId.model
    val lm = NgramLM.model
    val cfg = QualityFilter.Default
    def perRow(body: String => Any): Double =
      timeMedian(3)(rows.foreach(body)) * 1e6 / rows.length
    put("scrub.us_per_row", perRow(Scrubber.scrub), "us")
    put("langid.us_per_row", perRow(FastLangId.predict(_, lang)), "us")
    put("ppl.us_per_row", perRow(NgramLM.perplexity(_, lm)), "us")
    put("quality.us_per_row", perRow(Heuristics.stats), "us")
    put("sha256.us_per_row", perRow(Hashing.sha256Hex), "us")
    put("pipeline.analyze_us_per_row", perRow(QualityFilter.analyzeContent(_, lang, lm, cfg)), "us")
  }

  /** The flagship path rung by rung, interleaved: scan, + balance,
    * + analyze, + bucket shuffle (each into the `noop` sink), then the full
    * commit. Each rung reports its increment over the one below. The gap
    * compares the full rung with the untraced commits of this and the
    * tracing-overhead step.
    */
  private def ladder(): Unit = {
    val spark = run.spark
    def scan: Dataset[CodeFile] = spark.read.parquet(p.corpus).as[CodeFile](Encoders.product[CodeFile])
    def balanced = Partitioning.balanced(scan, cores * 4)
    def analyzed = QualityFilter.run(balanced)
    def shuffled = analyzed.withColumn("bucket", TableIO.bucketCol(Flagship.Buckets)).repartition(col("bucket"))
    def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()
    val rungs: Seq[Int => Unit] = Seq(
      _ => noop(scan), _ => noop(balanced), _ => noop(analyzed), _ => noop(shuffled),
      i => run.flagshipCommit(s"ladder-$i"))
    val times = Vector.fill(rungs.length)(scala.collection.mutable.ArrayBuffer.empty[Double])
    (0 until 3).foreach { i =>
      rungs.zipWithIndex.foreach { case (r, k) => times(k) += Stats.seconds(r(i))._2 }
      // an untraced commit beside each ladder pass, so host drift moves
      // the ladder and its end-to-end reference alike
      run.trace.enabled = false
      untraced += run.flagshipCommit(s"ladder-untraced-$i")
      run.trace.enabled = true
    }
    val m = times.map(t => Stats.median(t.toSeq))
    Seq("pipeline.scan_s", "pipeline.balance_s", "pipeline.analyze_s", "pipeline.bucket_shuffle_s",
      "io.write_commit_s").zipWithIndex.foreach { case (n, k) =>
      put(n, if (k == 0) m(0) else m(k) - m(k - 1), "s")
    }
    val e2e = Stats.median(untraced.toSeq)
    put("pipeline.ladder_gap_frac", math.abs(m.last - e2e) / e2e, "ratio")
  }

  /** Files and manifests of a committed table, and reading its snapshot. */
  private def tableIo(): Unit = {
    val root = run.commitRoots.head
    val files = Stats.parquetFiles(new java.io.File(root, "data"))
    put("io.data_files", files.length.toDouble, "count")
    put("io.data_mb", files.map(_.length).sum / 1e6, "MB")
    val manifests = Option(new java.io.File(root, "_snapshots").listFiles()).toVector.flatten
    put("io.manifest_bytes", manifests.map(_.length).sum.toDouble, "B")
    put("io.snapshot_read_ms", timeMedian(20)(TableIO.lastSnapshot(run.spark, root)) * 1e3, "ms")
    put("io.validate_model_dir_us",
      timeMedian(200)(ModelArtifacts.validateModelDir(run.spark, p.modelDir)) * 1e6, "us")
  }

  /** Store ingest counters from the rounds, and the layout of a store
    * that went through its whole lifecycle.
    */
  private def store(): Unit = {
    val ing = run.ingests.toVector
    put("ops.ingest_s_p50", Stats.median(ing.map(_.seconds)), "s")
    put("ops.jobs_per_ingest", ing.map(_.counts.jobs).sum.toDouble / ing.length, "count")
    put("ops.store_scans_per_ingest", ing.map(_.counts.scans).sum.toDouble / ing.length, "count")
    put("ops.minhash_per_doc", ing.map(_.minhash).sum.toDouble / ing.map(_.docs).sum, "ratio")
    val root = run.finishStore()
    val snaps = CurationStore.snapshots(run.spark, root)
    val last = snaps.last // the ingest after compaction; its parent is the compaction
    def bytes(sub: String) = Stats.parquetFiles(new java.io.File(root, sub)).map(_.length).sum
    put("ops.store_bytes_per_sig", bytes("data").toDouble / last.counts.map(_._2).sum, "B")
    put("ops.compact_rewritten_mb", bytes(s"data/batch=${last.parent}") / 1e6, "MB")
    put("ops.snapshot_read_ms", timeMedian(20)(CurationStore.snapshots(run.spark, root)) * 1e3, "ms")
    put("ops.compact_s", Stats.median(run.compactS.toSeq), "s")
  }

  /** Direct library calls behind each route, and what serving adds. */
  private def api(): Unit = {
    val texts = p.texts.take(w.batchSize).map(_.text)
    val m = run.collector.mark()
    val batchMs = timeMedian(10)(Detect.detectBatch(run.spark, texts).collect()) * 1e3
    val d = run.collector.since(m)
    put("api.detect_batch_ms", batchMs, "ms")
    put("api.jobs_per_batch_request", d.jobs / 10.0, "count")
    val scrubMs = Stats.median(p.texts.take(200).map(t => Stats.seconds(Scrubber.scrub(t.text))._2 * 1e3))
    put("serve.detect_overhead_ms", Stats.pct(run.latencies("/detect"), 0.5) - scrubMs, "ms")
    put("serve.detect_p90_ms", Stats.pct(run.latencies("/detect"), 0.9), "ms")
    put("serve.batch_p75_ms", Stats.pct(run.latencies("/detect/batch"), 0.75), "ms")
    put("serve.batch_overhead_ms", Stats.pct(run.latencies("/detect/batch"), 0.5) - batchMs, "ms")
    put("load.late_ms_p99", Stats.pct(run.samples.filter(_.route != DetectApi.SeqRoute).map(_.lateMs).toSeq, 0.99), "ms")
  }

  /** Flagship throughput at `local[nproc]` over `nproc` × that at `local[1]`. */
  private def scaling(): Unit = {
    val fpsN = w.flagshipRows / Stats.median(run.commitS.toSeq)
    run.restart(1)
    val one = (0 until 2).map(i => run.flagshipCommit(s"1core-$i"))
    put("scaling_eff", fpsN / (cores * (w.flagshipRows / Stats.median(one))), "ratio")
  }
}
