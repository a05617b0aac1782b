package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.functions.MinHashSignatureExpr
import graft.io.TableIO
import graft.ops.CurationStore
import graft.serve.HttpApi

/** The timed part of a run. It goes in rounds, so a burst of load from
  * outside the process spreads over the samples of every metric instead
  * of hitting all samples of one. A round is one flagship commit, one
  * store step and one window of API traffic. Rounds repeat until
  * `--seconds` is used up, at least [[Run.MinRounds]] times. Every output
  * is checked.
  */
final class Run(var spark: SparkSession, val cores: Int, val p: Main.Prepared,
    val w: Workload, val args: Main.Args, val ledger: Ledger, val result: Main.Result) {

  val trace = new Trace(args.trace)
  var collector = new Collector(spark)

  // samples gathered over the rounds
  val commitS = mutable.ArrayBuffer.empty[Double]
  val commitRoots = mutable.ArrayBuffer.empty[String]
  final case class Ingest(docs: Long, seconds: Double, counts: Collector.Counts, minhash: Long)
  val ingests = mutable.ArrayBuffer.empty[Ingest]
  val compactS = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.ArrayBuffer.empty[DetectApi.Sample]

  /** Spark counters, worst task skew and seconds of one layer's calls. */
  final class PhaseStats {
    var counts = Collector.Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    var skew = 1.0
    var seconds = 0.0
  }
  val phases = mutable.LinkedHashMap.empty[String, PhaseStats]

  /** Runs `body` as one call into `layer`: spanned, timed and counted. */
  def call[T](layer: String, owner: String)(body: => T): (T, Double, Collector.Counts) = {
    val m = collector.mark()
    val (r, s) = Stats.seconds(trace.span(layer, owner)(body))
    val d = collector.since(m)
    val ph = phases.getOrElseUpdate(layer, new PhaseStats)
    ph.counts = ph.counts + d
    ph.skew = math.max(ph.skew, collector.skewSince(m))
    ph.seconds += s
    (r, s, d)
  }

  private def failedTasks(d: Collector.Counts): Seq[String] =
    if (d.failedTasks > 0) Seq(s"${d.failedTasks} failed Spark tasks") else Nil

  def rmTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toVector.reverse.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  private var firstSnapshot: Option[TableIO.Snapshot] = None

  /** One flagship commit into a fresh table root; returns its seconds. The
    * first commit is checked row by row, later ones must record the same
    * lineage. With `keep` the table stays on disk (see `commitRoots`).
    */
  def flagshipCommit(tag: String, keep: Boolean = false): Double = {
    val root = p.dir.resolve(s"table-$tag").toString
    val (snap, s, d) = call("flagship.commit", tag)(Flagship.commit(spark, p.corpus, root, cores))
    val problems = firstSnapshot match {
      case None =>
        val ps = Flagship.check(spark, root, snap, p.gold, args.corrupt)
        if (ps.isEmpty) firstSnapshot = Some(snap)
        ps
      case Some(ref) =>
        if (snap.metrics.sortBy(_.bucket) == ref.metrics.sortBy(_.bucket) &&
            snap.committedBuckets == ref.committedBuckets) Nil
        else Seq("recorded other lineage than the first, checked commit")
    }
    ledger.check(s"flagship commit $tag", problems ++ failedTasks(d))
    if (keep) commitRoots += root else rmTree(root)
    s
  }

  // the store lifecycle as steps: one ingest per shard but the last, then
  // compact + gc followed by the last shard's ingest; then a fresh store
  private var storeStep = 0
  private var storeGen = 0
  def storeRoot: String = p.dir.resolve(s"store-$storeGen").toString

  private def ingest(i: Int): Unit = {
    val root = storeRoot
    val mh0 = MinHashSignatureExpr.invocations.sum()
    val (r, s, d) = call("store.ingest", s"store-$storeGen")(Store.ingest(spark, p.shardPaths(i), root))
    ingests += Ingest(r.nArrived, s, d, MinHashSignatureExpr.invocations.sum() - mh0)
    val ids = Store.committedIds(spark, root, r.version)
    ledger.check(s"store-$storeGen ingest shard $i",
      Store.checkIngest(p.shards(i), r, ids, args.corrupt) ++ failedTasks(d))
  }

  /** Runs the next store step. */
  def storeNext(): Unit = {
    val root = storeRoot
    val last = p.shards.length - 1
    if (storeStep < last) { ingest(storeStep); storeStep += 1 }
    else {
      val before = Store.digest(spark, root)
      val (_, s, _) = call("store.compact_gc", s"store-$storeGen") {
        CurationStore.compact(spark, root)
        CurationStore.gc(spark, root)
      }
      compactS += s
      val after = Store.digest(spark, root)
      ledger.check(s"store-$storeGen compaction digest",
        if (before == after) Nil else Seq(s"digest $before became $after"))
      ingest(last)
      storeGen += 1
      storeStep = 0
    }
  }

  /** Completes the current store lifecycle; returns the root of the last
    * complete one, which stays on disk.
    */
  def finishStore(): String = {
    if (storeGen == 0 || storeStep != 0) { storeNext(); finishStore() }
    else p.dir.resolve(s"store-${storeGen - 1}").toString
  }

  /** Open-loop traffic for `seconds`; responses are checked after the
    * window, so checking never delays a client.
    */
  def apiWindow(port: Int, seconds: Double, round: Int): Unit = {
    val planned = DetectApi.plan(p.texts, seconds, w.batchSize, round)
    val done = new ConcurrentLinkedQueue[(DetectApi.Planned, DetectApi.Sample, Int, String)]
    val errors = new ConcurrentLinkedQueue[(DetectApi.Planned, Throwable)]
    call("api.window", s"round-$round")(DetectApi.run(port, planned, cores,
      (pl, s, st, body) => done.add((pl, s, st, body)),
      (pl, e) => errors.add((pl, e))))
    val ok = done.asScala.toVector
    ok.foreach { case (pl, _, st, body) =>
      ledger.check(pl.route, DetectApi.check(pl.route, st, body, pl.texts, args.corrupt))
    }
    errors.asScala.foreach { case (pl, e) =>
      ledger.attempt(); ledger.fail(pl.route, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val lost = planned.length - ok.count(_._1.dueOffsetNs >= 0) - errors.asScala.count(_._1.dueOffsetNs >= 0)
    if (lost != 0) { ledger.attempt(lost); ledger.fail("api", s"$lost requests never completed") }
    samples ++= ok.collect { case (_, s, 200, _) => s }
  }

  /** Rounds until `seconds` is used up, at least MinRounds; a further
    * round starts only when it is expected to fit.
    */
  def rounds(seconds: Double): Unit = {
    val api = new HttpApi(spark, p.modelDir)
    val port = api.start()
    try {
      val t0 = System.nanoTime()
      var k = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (k < Run.MinRounds || elapsed * (k + 1) / k <= seconds) {
        val roundStart = System.nanoTime()
        trace.span("round", s"round-$k") {
          commitS += flagshipCommit(s"round-$k", keep = k == 0)
          storeNext()
          apiWindow(port, Run.ApiWindowS, k)
        }
        val window = samples.filter(_.doneNs >= roundStart)
        def p50(route: String) = {
          val xs = window.filter(_.route == route).map(_.latencyMs).toSeq
          if (xs.isEmpty) Double.NaN else Stats.median(xs)
        }
        System.err.println(f"perfbench: round $k commit ${commitS.last}%.3f s, " +
          f"ingest ${ingests.last.seconds}%.3f s, detect p50 ${p50("/detect")}%.2f ms, " +
          f"batch p50 ${p50("/detect/batch")}%.1f ms")
        k += 1
      }
      System.err.println(f"perfbench: $k rounds in $elapsed%.1f s")
    } finally api.stop()
  }

  /** Restarts Spark at `local[n]`, so later calls run there. */
  def restart(n: Int): Unit = {
    collector.close()
    Main.stopSession(spark)
    spark = Main.session(n)
    collector = new Collector(spark)
  }

  def latencies(route: String): Vector[Double] =
    samples.filter(_.route == route).map(_.latencyMs).toVector

  def measure(): Unit = {
    rounds(args.seconds)
    result.put("files_per_s", w.flagshipRows / Stats.median(commitS.toSeq), "files/s")
    result.put("docs_per_s", ingests.map(_.docs).sum / ingests.map(_.seconds).sum, "docs/s")
    val single = latencies("/detect")
    val batch = latencies("/detect/batch")
    val seq = latencies(DetectApi.SeqRoute)
    System.err.println(s"perfbench: api samples detect=${single.length} batch=${batch.length} " +
      s"seq=${seq.length}")
    if (single.isEmpty || batch.isEmpty || seq.isEmpty) { ledger.attempt(); ledger.fail("api", "a route returned no 200 responses") }
    else {
      result.put("detect_p50_ms", Stats.pct(single, 0.50), "ms")
      result.put("batch_p50_ms", Stats.pct(batch, 0.50), "ms")
      result.put("detect_seq_ms", Stats.pct(seq, 0.50), "ms")
    }
  }
}

object Run {
  val MinRounds = 3
  /** Seconds of API traffic per round. */
  val ApiWindowS = 3.0
  /** Daily shards per store lifecycle; the last is ingested after
    * `compact` + `gc`.
    */
  val Shards = 3
  /** `/detect` and `/detect/batch` requests due per second: about a fifth
    * and a quarter of each route's saturation, 91/s and 25/s with 4
    * keep-alive clients sending back to back on the 4-core host the rates
    * were chosen on.
    */
  val DetectRate = 20.0
  val BatchRate = 6.0
}
