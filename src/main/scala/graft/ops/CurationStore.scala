package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.LocalFs

/** The incremental-curation LIFECYCLE: a persistent MinHash signature store
  * with an explicit snapshot log, plus `ingestBatch` — the daily-shard
  * production loop the round-3 incremental pieces (q49) were built for:
  *
  *   1. exact dedup within the arriving batch;
  *   2. ONE persisted signature pass over the survivors (the dominant CPU
  *      cost, computed once and reused by every stage below);
  *   3. near-dup removal AGAINST the committed corpus store
  *      ([[Dedup.dropNearDupsAgainstFromSigs]] — the corpus is touched only
  *      through its signatures, never re-read or re-shuffled);
  *   4. intra-batch near-dup removal among the remaining docs;
  *   5. quality gate ([[Curation.Config]]);
  *   6. the CURATED survivors' signatures append to the store as a new
  *      batch partition, made visible by an atomic snapshot commit.
  *
  * Store layout (same Iceberg-shaped discipline as [[graft.io.TableIO]]):
  * {{{
  *   root/data/batch=<v>/part-*.parquet   (id, sig)
  *   root/_snapshots/v<NNNNN>.json        (committed batches + counts)
  * }}}
  * A batch's signatures are visible only once a snapshot lists it, so a
  * crashed ingest leaves no partial state behind (re-ingest overwrites the
  * uncommitted directory); the snapshot chain records per-batch lineage
  * (arrived / after each stage / curated).
  *
  * Contract: document ids must be unique ACROSS batches (new shards carry
  * new ids) — the same id-space contract as the underlying incremental
  * dedup. Only SURVIVOR signatures enter the store: a doc dropped today
  * (by dedup or quality) does not suppress tomorrow's near-dups of it —
  * dedup is always against the retained corpus, matching the semantics of
  * re-running the full pipeline over (corpus ∪ batch).
  *
  * Scale: each ingest shuffles only batch-sized data (the store side is a
  * one-pass parquet scan of signatures, pruned to buckets the batch
  * probes); the store grows by one parquet partition per day until
  * [[compact]] rewrites the committed partitions as ONE batch under a
  * fresh snapshot (shuffle-free `coalesce` — same discipline as Iceberg
  * compaction) and [[gc]] retires data unreachable from the retained
  * snapshots. Compaction changes the physical layout only: committed
  * signature CONTENT and therefore every subsequent dedup decision is
  * identical pre/post (spec-pinned).
  *
  * Each ingest also persists a per-batch KMV sketch of the curated TEXTS
  * (k longs, `sketches/batch=<v>/`): [[distinctEstimate]] answers
  * "distinct docs across any batch subset" by unioning k longs per batch
  * — exact by the KMV closure property, no re-scan of the corpus, and
  * compaction unions the inputs' sketches so the property survives it.
  */
object CurationStore {

  /** `token` is an optional idempotency key (e.g. a Structured Streaming
    * micro-batch id): a snapshot records the token whose ingest produced
    * it, so a replayed batch can be recognised and skipped (-1 = none).
    */
  final case class StoreSnapshot(
      version: Int, parent: Int, committedBatches: Set[Int],
      counts: Seq[(Int, Long)], token: Long = -1L)

  final case class IngestReport(
      version: Int, batchId: Int, nArrived: Long, nAfterExact: Long,
      nAfterCorpusDedup: Long, nAfterIntraDedup: Long, nCurated: Long)

  final case class CompactReport(version: Int, nBatchesCompacted: Int, nSigs: Long)

  final case class GcReport(removedBatchDirs: Int, removedSketchDirs: Int,
      removedSnapshots: Int)

  /** k for the per-batch curated-text KMV sketches — 256 longs (2 KB) per
    * batch bounds the estimator error at ~1/√k ≈ 6%.
    */
  val SketchK: Int = 256

  /** Target signature rows per parquet file for ingest writes (~0.5 GB at
    * 64-long signatures) — same goal as compact()'s targetRowsPerFile.
    */
  val SigRowsPerFile: Long = 1L << 20

  /** Window length / selection density of the per-batch window-fingerprint
    * partitions (the substring-dedup tier; see [[committedWindowFps]]).
    */
  val WindowLen: Int = 40
  val WindowSelectBits: Int = 4

  private def snapshotDir(root: String) = new Path(root, "_snapshots")
  private def dataDir(root: String) = new Path(root, "data").toString
  private def sketchesDir(root: String) = new Path(root, "sketches").toString
  private def windowsDir(root: String) = new Path(root, "windows").toString

  private def render(s: StoreSnapshot): String = {
    val counts = s.counts.sortBy(_._1)
      .map { case (b, n) => s"""{"batch":$b,"nSigs":$n}""" }
      .mkString("[", ",", "]")
    s"""{"version":${s.version},"parent":${s.parent},"token":${s.token},"committedBatches":${s.committedBatches.toSeq.sorted.mkString("[", ",", "]")},"counts":$counts}"""
  }

  private def parse(json: String): StoreSnapshot = {
    def intField(name: String): Int =
      s""""$name":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"bad store snapshot: missing $name"))
    val committed = """"committedBatches":\[([0-9,]*)\]""".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val counts = """\{"batch":(\d+),"nSigs":(\d+)\}""".r.findAllMatchIn(json)
      .map(m => (m.group(1).toInt, m.group(2).toLong)).toSeq
    val token = """"token":(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L) // pre-round-4 manifests
    StoreSnapshot(intField("version"), intField("parent"),
      committed.split(",").filter(_.nonEmpty).map(_.toInt).toSet, counts, token)
  }

  def snapshots(spark: SparkSession, root: String): Seq[StoreSnapshot] = {
    val dir = snapshotDir(root)
    val f = LocalFs.get(spark, root)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("v\\d+\\.json"))
      .sortBy(_.getPath.getName)
      .map { s =>
        val in = f.open(s.getPath)
        try {
          val bytes = new Array[Byte](s.getLen.toInt)
          in.readFully(bytes)
          parse(new String(bytes, "UTF-8"))
        } finally in.close()
      }
  }

  def lastSnapshot(spark: SparkSession, root: String): Option[StoreSnapshot] =
    snapshots(spark, root).lastOption

  private def commit(spark: SparkSession, root: String, s: StoreSnapshot): Unit = {
    val f = LocalFs.get(spark, root)
    val dir = snapshotDir(root)
    f.mkdirs(dir)
    val tmp = new Path(dir, f".tmp-v${s.version}%05d.json")
    val dst = new Path(dir, f"v${s.version}%05d.json")
    val out = f.create(tmp, true)
    try out.write(render(s).getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, dst))
      throw new IllegalStateException(s"store snapshot commit failed: $dst")
  }

  /** All committed signatures: (idCol, sig, batch). Empty (with the right
    * schema) before the first commit.
    */
  def committedSigs(spark: SparkSession, root: String,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("sig", ArrayType(LongType, containsNull = false)),
      StructField("batch", IntegerType)))
    lastSnapshot(spark, root) match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case Some(snap) =>
        val committed = snap.committedBatches.toSeq.sorted
        val df = spark.read.parquet(dataDir(root))
        if (committed.isEmpty) df.filter(lit(false))
        else df.filter(col("batch").isin(committed: _*))
    }
  }

  /** One lifecycle turn: curate `batch` against (and then into) the store.
    * Returns the curated survivors (a lazy plan over the caller's input —
    * the signature side effects are already committed) and the lineage
    * report. See the object scaladoc for the stage order.
    */
  def ingestBatch(batch: DataFrame, root: String,
      textCol: String = "text", idCol: String = "doc_id",
      cfg: Curation.Config = Curation.Default,
      minJaccard: Double = 0.9,
      maxBucketWidth: Int = Dedup.DefaultMaxBucketWidth,
      storeWindowFps: Boolean = false): (DataFrame, IngestReport) =
    ingestBatchIdempotent(batch, root, token = -1L, textCol, idCol, cfg,
      minJaccard, maxBucketWidth, storeWindowFps)
      .getOrElse(sys.error("unreachable: token -1 never deduplicates"))

  /** [[ingestBatch]] with an idempotency token (a Structured Streaming
    * micro-batch id, a shard date, …): if any committed snapshot already
    * carries `token`, the batch is recognised as a REPLAY and skipped —
    * returns None, the store untouched. This is what makes the streaming
    * composition ([[graft.streaming.StreamingCuration]]) exactly-once:
    * foreachBatch may re-deliver a micro-batch after a failure, and the
    * store must not double-commit its signatures. Tokens of -1 are never
    * deduplicated (the batch-mode default).
    */
  def ingestBatchIdempotent(batch: DataFrame, root: String, token: Long,
      textCol: String = "text", idCol: String = "doc_id",
      cfg: Curation.Config = Curation.Default,
      minJaccard: Double = 0.9,
      maxBucketWidth: Int = Dedup.DefaultMaxBucketWidth,
      storeWindowFps: Boolean = false): Option[(DataFrame, IngestReport)] = {
    val spark = batch.sparkSession
    if (token != -1L && snapshots(spark, root).exists(_.token == token)) return None
    val prev = lastSnapshot(spark, root)
    val version = prev.map(_.version + 1).getOrElse(1)

    // every stage below is referenced at least twice (its own lineage
    // count + the next stage's plan, and the LSH plans reference their
    // inputs up to 4×), so each is persisted for the ingest's lifetime —
    // state is batch-scale by contract, released before returning.
    //
    // Lineage counts ride existing jobs instead of one count() action per
    // number (r6: the ingest ran 7 driver actions; an action on this tiny
    // multi-stage plan costs far more in scheduling than in data):
    //  - |batch| = Σ n_copies and |exact survivors| = |groups| (ids are
    //    unique by the store contract), so ONE aggregation over the
    //    exact-dup groups yields both;
    //  - nAfterCorpus / nAfterIntra / nCurated are observe() metrics on
    //    the chain the signature write materialises (single-reference
    //    nodes count directly; the multi-referenced afterCorpus counts
    //    exactly once through its persist's block-level locking).
    val groups = Dedup.exactDupGroups(batch, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val exact = batch
      .join(groups.select(col("keeper_id").as(idCol)), Seq(idCol), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = Dedup.signatures(exact, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame](groups, exact, sigs)
    try {
      val lineage = groups
        .agg(count(lit(1)).as("n_groups"),
          coalesce(sum(col("n_copies")), lit(0L)).as("n_rows")).head()
      val nAfterExact = lineage.getLong(0)
      val nArrived = lineage.getLong(1)
      // 3. against the committed corpus store (skip when store is empty)
      val storeNonEmpty = prev.exists(_.committedBatches.nonEmpty)
      val obsCorpus = org.apache.spark.sql.Observation()
      val afterCorpus = (if (storeNonEmpty)
        Dedup.dropNearDupsAgainstFromSigs(exact, sigs,
          committedSigs(spark, root, idCol).select(col(idCol), col("sig")),
          idCol, minJaccard, maxBucketWidth)
          .observe(obsCorpus, count(lit(1)).as("n"))
      else exact).persist(StorageLevel.MEMORY_AND_DISK)
      cached += afterCorpus
      // 4. intra-batch, among the docs that survived the store check.
      // sigsAC is referenced THREE times by the intra-LSH plan (bucket
      // branch + both signature joins) — persisted like its siblings so
      // the semi join computes once (batch-scale, released in finally)
      val sigsAC = sigs.join(afterCorpus.select(col(idCol)), Seq(idCol), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      cached += sigsAC
      val obsIntra = org.apache.spark.sql.Observation()
      val obsCurated = org.apache.spark.sql.Observation()
      val afterIntra = Dedup.dropNearDupsFromSigs(afterCorpus, sigsAC, idCol,
        minJaccard, maxBucketWidth)
        .observe(obsIntra, count(lit(1)).as("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      cached += afterIntra
      // 5. quality gate
      val curated = afterIntra.filter(
        TextOps.alnumRatio(col(textCol)) >= cfg.minAlnumRatio &&
          TextOps.tokenCount(col(textCol)).between(cfg.minTokens, cfg.maxTokens))
      // 6. survivors' signatures become the new committed batch partition.
      // This write is the FIRST (and only-once, through the persists) full
      // materialisation of the whole chain — the observe() metrics above
      // and below are exact row counts.
      val curatedSigs = sigs
        .join(curated.observe(obsCurated, count(lit(1)).as("n"))
          .select(col(idCol)), Seq(idCol), "left_semi")
      // size the batch partition's files from the known upper bound
      // (guide §6: aim for ~1M sig rows ≈ 0.5 GB per file, same target as
      // compact) — the broadcast-semi-join output otherwise keeps the
      // cached input's partitioning and commits one tiny file per task.
      // nAfterExact bounds every later stage and is known BEFORE the write
      // (the post-corpus count rides the write itself, below).
      val nFiles = math.max(1L,
        (nAfterExact + SigRowsPerFile - 1) / SigRowsPerFile).toInt
      curatedSigs.coalesce(nFiles).write.options(LocalFs.WriterOptions).mode("overwrite")
        .parquet(new Path(dataDir(root), s"batch=$version").toString)
      // a metric key can be ABSENT (not zero) when AQE's empty-relation
      // propagation eliminates the CollectMetrics subtree — that happens
      // only when the subtree's own input materialised empty, so zero is
      // the true count. afterCorpus is referenced by several downstream
      // branches, but its persist() guarantees each cached block is
      // computed exactly once (block-level locking), so its observe()
      // metric is its exact row count even inside the one write job that
      // materialises the whole chain.
      val nAfterCorpus =
        if (storeNonEmpty)
          obsCorpus.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
        else nAfterExact
      val nAfterIntra = obsIntra.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
      val nCurated = obsCurated.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
      // per-batch KMV sketch of the curated texts (k longs) — visible only
      // once the snapshot commits, same crash discipline as data/
      writeSketch(spark, root, version,
        curated.agg(graft.functions.KmvSketch.kmv(col(textCol), SketchK))
          .head().getSeq[Long](0).toArray)
      // optional substring-dedup tier: the curated texts' selected-window
      // fingerprints as their own batch partition (one extra curated-scale
      // pass; [[committedWindowFps]] + Dedup.dedupWindowsAgainst consume it)
      if (storeWindowFps)
        Dedup.windowFingerprintTable(curated, textCol, WindowLen, WindowSelectBits)
          .write.options(LocalFs.WriterOptions).mode("overwrite")
          .parquet(new Path(windowsDir(root), s"batch=$version").toString)
      val snap = StoreSnapshot(
        version = version,
        parent = prev.map(_.version).getOrElse(-1),
        committedBatches = prev.map(_.committedBatches).getOrElse(Set.empty) + version,
        counts = prev.map(_.counts).getOrElse(Seq.empty) :+ (version -> nCurated),
        token = token)
      commit(spark, root, snap)
      Some((curated, IngestReport(version, version, nArrived, nAfterExact,
        nAfterCorpus, nAfterIntra, nCurated)))
    } finally cached.foreach(_.unpersist())
  }

  private def writeSketch(spark: SparkSession, root: String, batch: Int,
      kmv: Array[Long]): Unit = {
    import spark.implicits._
    Seq((SketchK, kmv)).toDF("k", "kmv")
      .write.options(LocalFs.WriterOptions).mode("overwrite")
      .parquet(new Path(sketchesDir(root), s"batch=$batch").toString)
  }

  /** Per-batch curated-text KMV sketches of the COMMITTED batches:
    * (batch, k, kmv). Batches ingested by a pre-sketch store version have
    * no sketch row — [[distinctEstimate]] rejects such subsets explicitly.
    */
  def batchSketches(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("kmv", ArrayType(LongType)),
      StructField("batch", IntegerType)))
    val committed = lastSnapshot(spark, root).map(_.committedBatches)
      .getOrElse(Set.empty)
    if (committed.isEmpty || !LocalFs.get(spark, root).exists(new Path(sketchesDir(root))))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(sketchesDir(root))
      .filter(col("batch").isin(committed.toSeq.sorted: _*))
  }

  /** The committed corpus's selected-window fingerprint table
    * (window_fp) — present for batches ingested with
    * `storeWindowFps = true`. Feed to [[Dedup.dedupWindowsAgainst]] with
    * the SAME [[WindowLen]]/[[WindowSelectBits]] to excise
    * corpus-committed substrings from an arriving shard. Empty (right
    * schema) when no committed batch carries fingerprints.
    */
  def committedWindowFps(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("window_fp", LongType),
      StructField("batch", IntegerType)))
    val committed = lastSnapshot(spark, root).map(_.committedBatches)
      .getOrElse(Set.empty)
    if (committed.isEmpty || !LocalFs.get(spark, root).exists(new Path(windowsDir(root))))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .select(col("window_fp"))
    else spark.read.schema(schema).parquet(windowsDir(root))
      .filter(col("batch").isin(committed.toSeq.sorted: _*))
      .select(col("window_fp"))
  }

  /** Union KMV sketch over a committed-batch subset (default: all) — k
    * longs per batch in, one k-long sketch out, never touching data/.
    * Exact by the KMV closure property: identical to sketching the
    * concatenation of those batches' curated texts directly (spec-pinned,
    * and the q64 crosscheck recomputes it from scratch).
    */
  def unionSketch(spark: SparkSession, root: String,
      batches: Option[Seq[Int]] = None): Array[Long] = {
    // ONE collect of #batches × k longs, union driver-side: the k-bounded
    // unsigned-min set union is order-free, so this is bit-identical to the
    // kmv_union aggregate (same KmvSketchAgg.add kernel) without paying a
    // Spark aggregation job for a kilobyte-scale input
    val rows = batchSketches(spark, root).select(col("batch"), col("kmv")).collect()
    val subset = batches match {
      case Some(bs) =>
        val have = rows.map(_.getInt(0)).toSet
        val missing = bs.filterNot(have)
        require(missing.isEmpty,
          s"no sketch for committed batches ${missing.mkString(",")} " +
            "(pre-sketch store version?)")
        val want = bs.toSet
        rows.filter(r => want(r.getInt(0)))
      case None => rows
    }
    val buf = new java.util.TreeSet[java.lang.Long](
      graft.functions.KmvSketchAgg.UnsignedOrder)
    subset.foreach { r =>
      val s = r.getSeq[Long](1)
      var i = 0
      while (i < s.length) {
        graft.functions.KmvSketchAgg.add(buf, s(i), SketchK)
        i += 1
      }
    }
    val out = new Array[Long](buf.size())
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Distinct curated documents (by text) across a batch subset, from the
    * persisted per-batch sketches alone: exact while < k distincts, the
    * Bar-Yossef (k-1)/R estimate beyond.
    */
  def distinctEstimate(spark: SparkSession, root: String,
      batches: Option[Seq[Int]] = None): Double = {
    val u = unionSketch(spark, root, batches)
    if (u.length < SketchK) u.length.toDouble
    else {
      val kth = u.last // ascending unsigned; last = kth smallest
      val kthU = if (kth < 0) kth.toDouble + math.pow(2.0, 64) else kth.toDouble
      (SketchK - 1).toDouble * math.pow(2.0, 64) / kthU
    }
  }

  /** Rewrite every committed batch partition as ONE batch under a fresh
    * snapshot — the Iceberg-style answer to ~10³ accumulated daily
    * partitions. Physical layout only: the committed signature CONTENT is
    * unchanged (one shuffle-free `coalesce` pass sized by
    * `targetRowsPerFile`), so every subsequent dedup decision is identical
    * pre/post (spec-pinned). The inputs' KMV sketches union into the new
    * batch's sketch (exact — closure property), so [[distinctEstimate]]
    * survives compaction too. Old batch directories are retired by [[gc]],
    * not here: superseded snapshots may still reference them.
    */
  def compact(spark: SparkSession, root: String,
      targetRowsPerFile: Long = 1L << 20): CompactReport = {
    val prev = lastSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val committed = prev.committedBatches
    require(committed.nonEmpty, "nothing to compact: no committed batches")
    val version = prev.version + 1
    val total = prev.counts.filter(c => committed(c._1)).map(_._2).sum
    val nFiles = math.max(1L, (total + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // nSigs rides the rewrite as an observe() metric (the compacted rows
    // flow through exactly once) instead of a separate read-back count job
    val obsSigs = org.apache.spark.sql.Observation()
    spark.read.parquet(dataDir(root))
      .filter(col("batch").isin(committed.toSeq.sorted: _*))
      .drop("batch")
      .observe(obsSigs, count(lit(1)).as("n"))
      .coalesce(nFiles)
      .write.options(LocalFs.WriterOptions).mode("overwrite")
      .parquet(new Path(dataDir(root), s"batch=$version").toString)
    val nSigs = obsSigs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
    // union the inputs' sketches when every input has one (a store created
    // before sketches existed compacts fine, just without an estimate)
    val haveSketches = batchSketches(spark, root)
      .select("batch").collect().map(_.getInt(0)).toSet
    if (committed.subsetOf(haveSketches))
      writeSketch(spark, root, version, unionSketch(spark, root))
    // window-fingerprint partitions compact as a set union (distinct —
    // the same fp may appear in several batches)
    val f = LocalFs.get(spark, root)
    val haveWindows = committed.filter(b =>
      f.exists(new Path(windowsDir(root), s"batch=$b")))
    if (haveWindows == committed && committed.nonEmpty)
      committedWindowFps(spark, root).distinct()
        .write.options(LocalFs.WriterOptions).mode("overwrite")
        .parquet(new Path(windowsDir(root), s"batch=$version").toString)
    else if (haveWindows.nonEmpty)
      // PARTIAL coverage (some batches ingested without storeWindowFps):
      // the existing window-fp partitions are NOT carried into the new
      // batch, so a later gc retires them and committedWindowFps goes
      // empty. Loud, because silently dropping the substring-dedup tier
      // was ADVICE-flagged; re-ingest with storeWindowFps or accept.
      org.slf4j.LoggerFactory.getLogger("graft.ops.CurationStore").warn(
        s"compact: window fingerprints exist for batches " +
          s"${haveWindows.toSeq.sorted.mkString(",")} but not for all of " +
          s"${committed.toSeq.sorted.mkString(",")} — the window-fp tier is " +
          "NOT compacted and will be retired by gc (partial coverage)")
    commit(spark, root, StoreSnapshot(
      version = version, parent = prev.version,
      committedBatches = Set(version),
      counts = Seq(version -> total), token = -1L))
    CompactReport(version, committed.size, nSigs)
  }

  /** Retire store data unreachable from the `retainSnapshots` most recent
    * snapshots: batch data/sketch directories referenced by none of them,
    * and the superseded snapshot files below the retained window. Batch
    * directories NEWER than the last committed snapshot are left alone —
    * they may be an in-flight ingest's uncommitted write.
    */
  def gc(spark: SparkSession, root: String, retainSnapshots: Int = 2): GcReport = {
    require(retainSnapshots >= 1, "must retain at least the latest snapshot")
    val snaps = snapshots(spark, root)
    if (snaps.isEmpty) return GcReport(0, 0, 0)
    val retained = snaps.takeRight(retainSnapshots)
    val keep = retained.flatMap(_.committedBatches).toSet
    val lastVersion = snaps.last.version
    val f = LocalFs.get(spark, root)
    def sweep(dir: String): Int = {
      val p = new Path(dir)
      if (!f.exists(p)) 0
      else f.listStatus(p).toSeq.count { st =>
        val name = st.getPath.getName
        // toIntOption: a non-numeric batch= name (stray dir, hive default
        // partition) is skipped, not a NumberFormatException mid-sweep
        name.startsWith("batch=") && name.stripPrefix("batch=").toIntOption
          .exists(v => v <= lastVersion && !keep(v) && f.delete(st.getPath, true))
      }
    }
    val dataRemoved = sweep(dataDir(root))
    val sketchRemoved = sweep(sketchesDir(root)) + sweep(windowsDir(root))
    val minKept = retained.head.version
    val snapRemoved = f.listStatus(snapshotDir(root)).toSeq.count { st =>
      val name = st.getPath.getName
      name.matches("v\\d+\\.json") &&
        name.stripPrefix("v").stripSuffix(".json").toInt < minKept &&
        f.delete(st.getPath, false)
    }
    GcReport(dataRemoved, sketchRemoved, snapRemoved)
  }
}
