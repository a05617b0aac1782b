package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in Spark counters: a `SparkListener` for jobs, tasks and stages,
  * and a `QueryExecutionListener` that counts parquet scans under a watched
  * directory. Both are registered by the benchmark; the program under test
  * is not touched. Counters are cumulative; `mark()` and `since(mark)` cut
  * out a window.
  */
final class Collector(spark: SparkSession) {
  import Collector.Counts
  private val sc: SparkContext = spark.sparkContext

  private var jobs, tasks, failedTasks, taskCpuNs, gcMs = 0L
  private var shuffleWriteB, shuffleReadB, spillB, scans = 0L
  private val running = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  // task durations (ms) of each completed stage, in completion order
  private val completed = mutable.ArrayBuffer.empty[Array[Long]]
  @volatile private var watched: Option[String => Boolean] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Collector.this.synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Collector.this.synchronized {
        tasks += 1
        if (e.reason != Success) failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          taskCpuNs += m.executorCpuTime
          gcMs += m.jvmGCTime
          shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        running.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Collector.this.synchronized {
        val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
        completed += running.remove(key).map(_.toArray).getOrElse(Array.empty[Long])
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      watched.foreach { watch =>
        val n = fileScans(qe.executedPlan, mutable.Set.empty[Int]).count(watch)
        Collector.this.synchronized { scans += n }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Root paths of every parquet scan a physical plan reads, looking
    * through adaptive stages and each cached relation once.
    */
  private def fileScans(p: SparkPlan, seenCaches: mutable.Set[Int]): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan, seenCaches)
    case q: QueryStageExec => fileScans(q.plan, seenCaches)
    case m: InMemoryTableScanExec =>
      if (seenCaches.add(System.identityHashCode(m.relation.cacheBuilder)))
        fileScans(m.relation.cacheBuilder.cachedPlan, seenCaches)
      else Seq.empty
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.toUri.getPath.stripSuffix("/") + "/")
    case other =>
      (other.children ++ other.subqueries).flatMap(fileScans(_, seenCaches))
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Counts scans whose root path (absolute, ending in `/`) passes `which`. */
  def watch(which: String => Boolean): Unit = watched = Some(which)

  def mark(): Counts = {
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    synchronized {
      Counts(jobs, tasks, failedTasks, taskCpuNs, gcMs, shuffleWriteB,
        shuffleReadB, spillB, scans, completed.length, System.nanoTime())
    }
  }

  def since(m: Counts): Counts = mark() - m

  /** Worst max÷median task time over the stages completed after `m`
    * (stages of one task have no skew and read 1.0).
    */
  def skewSince(m: Counts): Double = synchronized {
    val worst = completed.drop(m.stages).filter(_.length >= 2).map { d =>
      val s = d.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
    if (worst.isEmpty) 1.0 else worst.max
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Collector {
  final case class Counts(jobs: Long, tasks: Long, failedTasks: Long,
      taskCpuNs: Long, gcMs: Long, shuffleWriteB: Long, shuffleReadB: Long,
      spillB: Long, scans: Long, stages: Int, atNs: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
      failedTasks - o.failedTasks, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
      shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB,
      spillB - o.spillB, scans - o.scans, stages - o.stages, atNs - o.atNs)
    def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
      failedTasks + o.failedTasks, taskCpuNs + o.taskCpuNs, gcMs + o.gcMs,
      shuffleWriteB + o.shuffleWriteB, shuffleReadB + o.shuffleReadB,
      spillB + o.spillB, scans + o.scans, stages + o.stages, atNs + o.atNs)
  }
}
