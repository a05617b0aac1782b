package perfbench

/** Small numeric and reporting helpers. */
object Stats {

  /** Nearest-rank percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Independent sha256 (the program's own helper is what is checked). */
  def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Parquet files under `dir`, recursively. */
  def parquetFiles(dir: java.io.File): Vector[java.io.File] =
    if (dir.isDirectory) Option(dir.listFiles()).toVector.flatten.flatMap(parquetFiles)
    else if (dir.getName.endsWith(".parquet")) Vector(dir) else Vector.empty

  /** Process RSS high-water mark in MB, from /proc (Linux). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
