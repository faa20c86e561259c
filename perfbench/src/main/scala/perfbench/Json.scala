package perfbench

/** The few JSON forms the benchmark writes. Every string goes through
  * [[str]], so paths and exception messages cannot break a line. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 =>
        b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A finite number in full precision; a non-finite one is a bug in the
    * caller, so it fails here rather than printing invalid JSON. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    java.lang.Double.toString(d)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

final case class Metric(name: String, value: Double, unit: String)

/** One run's outcome: the last stdout line is [[line]]. `failed` counts
  * operations that threw or whose output did not check out. */
final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
                        notes: Seq[String]) {
  def correct: Boolean = failed == 0 && attempted > 0
  def errorRate: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted

  def line: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))

  /** Human-readable report: every metric by name and unit, then notes. */
  def report(workload: String): Seq[String] =
    (s"workload $workload: attempted=$attempted failed=$failed " +
      s"error_rate=${errorRate} correct=$correct") +:
      (metrics.map(m => f"  ${m.name}%-40s ${m.value}%.6g ${m.unit}") ++
        notes.map("  " + _))
}

object Result {
  /** A run that could not finish: one failed operation, error_rate 1. */
  def crashed(e: Throwable): Result =
    Result(1, 1, Nil, Seq(s"crashed: ${e.toString.replace('\n', ' ')}"))
}
