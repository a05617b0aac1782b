package perfbench

import scala.collection.mutable

/** Attempted and failed operations of one run. An operation fails on an
  * exception, a failed Spark task or a failed correctness check; every
  * failure is printed to stderr with its reason.
  */
final class Ledger {
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def attempt(n: Long = 1): Unit = synchronized { attempted += n }

  def fail(op: String, reason: String): Unit = synchronized {
    failures += s"$op: $reason"
    System.err.println(s"perfbench: FAILED $op: $reason")
  }

  /** Records one operation whose checks returned `problems` (empty = ok). */
  def check(op: String, problems: Seq[String]): Unit = {
    attempt()
    if (problems.nonEmpty) fail(op, problems.take(3).mkString("; "))
  }

  def nAttempted: Long = synchronized { attempted }
  def nFailed: Long = synchronized { failures.length.toLong }
}
