package graft.io

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

import graft.fixtures.Fixtures

/** Commits the same fixture rows twice on a `local[2,2]` session (two
  * attempts per task): into `clean`, then into `faulty` with the first
  * write task to reach its commit failing once after it has written and
  * observed all of its rows. Prints `INJECTED <n>`, the number of
  * injected failures.
  *
  * Runs in its own JVM because a task can only be retried on a session
  * created with a failure budget: `TableIOSpec` launches it.
  *
  * Usage: `FaultInjectedCommit <clean root> <faulty root> <rows> <buckets>`
  */
object FaultInjectedCommit {

  private val injected = new AtomicInteger(0)

  final class FailFirstTaskCommit(jobId: String, path: String, dynamic: Boolean)
      extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
    override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
      if (TaskContext.get().attemptNumber() == 0 && injected.compareAndSet(0, 1))
        throw new java.io.IOException("injected failure of a write task's first attempt")
      super.commitTask(ctx)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(clean, faulty, rows, buckets) = args
    val spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("graft-fault-injected-commit")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val input = Fixtures.generate(spark, rows.toInt)
    TableIO.runResumable(input, clean, nBuckets = buckets.toInt)
    spark.conf.set("spark.sql.sources.commitProtocolClass", classOf[FailFirstTaskCommit].getName)
    TableIO.runResumable(input, faulty, nBuckets = buckets.toInt)
    // the faulty commit returned, so the failed task's second attempt won
    println(s"INJECTED ${injected.get}")
    spark.stop()
  }
}
