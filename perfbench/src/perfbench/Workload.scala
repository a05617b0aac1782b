package perfbench

/** Input sizes of one workload. Every run drives all three surfaces; the
  * workload sets how much data each action carries. Store shard count and
  * request rates are the same for every workload (see [[Run]]).
  *
  * @param flagshipRows   fixture files per flagship commit (multiple of 100)
  * @param freshPerShard  fresh docs per store shard (planted copies come on top)
  * @param batchSize      texts per `/detect/batch` request
  */
final case class Workload(name: String, flagshipRows: Int, freshPerShard: Int, batchSize: Int) {
  def sized(tiny: Boolean): Workload =
    if (!tiny) this
    else copy(flagshipRows = 200, freshPerShard = 30, batchSize = math.min(batchSize, 4))
}

object Workload {
  val All: Seq[Workload] = Seq(
    Workload("small", flagshipRows = 1000, freshPerShard = 200, batchSize = 4),
    Workload("large", flagshipRows = 4000, freshPerShard = 800, batchSize = 32))
  val byName: Map[String, Workload] = All.map(w => w.name -> w).toMap
}
