package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** What one run is asked to do, and where it may read and write. */
final case class RunContext(seed: Long, seconds: Int, trace: Boolean,
                            data: Path, golden: Path, work: Path, out: Path,
                            sessionStartNs: Long, goldenOut: Option[Path])

trait Workload {
  def name: String
  def run(spark: SparkSession, ctx: RunContext): Result
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --bench-dir DIR --result FILE [--golden-out FILE]`. Reports the metrics
  * that BENCHMARK.json, beside DIR, lists. Writes the report and, as its
  * last line, the result JSON to FILE; exits 1 when the run crashed or an
  * operation failed its check. */
object Main {
  def workloads: Map[String, () => Workload] = Map(
    "batch-curation" -> (() => BatchWorkload.curation),
    "stream-crawl" -> (() => new StreamWorkload))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val need = Seq("workload", "seed", "seconds", "trace", "bench-dir", "result")
    val missing = need.filterNot(a.contains)
    require(missing.isEmpty, s"missing arguments: ${missing.mkString(", ")}")
    val workload = workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))()
    val bench = Paths.get(a("bench-dir")).toAbsolutePath
    val work = bench.resolve(".work").resolve(s"${workload.name}-${a("seed")}")
    val seconds = a("seconds").toInt
    require(seconds >= 1, s"--seconds must be at least 1, got $seconds")
    val t0 = System.nanoTime()
    val ctx = RunContext(a("seed").toLong, seconds, a("trace") == "1",
      bench.resolve("data"), bench.resolve("golden"), work, bench.resolve("out"), t0,
      a.get("golden-out").map(Paths.get(_)))
    val result =
      try {
        val catalogue = Metrics.load(bench.getParent.resolve("BENCHMARK.json"), ctx.trace)
        val spark = session(work)
        val r = try workload.run(spark, ctx) finally spark.stop()
        r.copy(metrics = Metrics.complete(r.metrics, catalogue))
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Result.crashed(e)
      }
    val text = (result.report(workload.name) :+ result.line).mkString("", "\n", "\n")
    Files.write(Paths.get(a("result")), text.getBytes(StandardCharsets.UTF_8))
    sys.exit(if (result.correct) 0 else 1)
  }

  /** The engine's own session definition, with Spark's temporary files
    * kept inside the run's work directory. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
