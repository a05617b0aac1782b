package perfbench

/** Deliberate output corruption for the benchmark's self-test: each mode
  * damages one observed output before it is checked, and the check must
  * then fail. `keep` flips one keep decision, `row` drops one output row,
  * `redaction` alters one redacted text.
  */
object Corrupt {
  val Modes: Set[String] = Set("keep", "row", "redaction")

  def rows[T](mode: Option[String], xs: Vector[T])(keep: T => T, redact: T => T,
      redactable: T => Boolean = (_: T) => true): Vector[T] = mode match {
    case Some("keep") if xs.nonEmpty => keep(xs.head) +: xs.tail
    case Some("row") if xs.nonEmpty => xs.tail
    case Some("redaction") =>
      val i = xs.indexWhere(redactable)
      if (i < 0) xs else xs.updated(i, redact(xs(i)))
    case _ => xs
  }
}
