package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** The metrics a run reports, by name and unit, as BENCHMARK.json lists
  * them: every `end_to_end` metric for a run without tracing, every
  * `per_layer` metric for a traced run. */
object Metrics {
  def load(benchmarkJson: Path, trace: Boolean): Seq[(String, String)] =
    new ObjectMapper().readTree(Files.readAllBytes(benchmarkJson))
      .get(if (trace) "per_layer" else "end_to_end").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  /** The run's metrics in catalogue order, with the catalogue's units and
    * absent ones as 0 (a layer the workload does not exercise). A run that
    * measured nothing (every operation failed) reports nothing. */
  def complete(measured: Seq[Metric], catalogue: Seq[(String, String)]): Seq[Metric] =
    if (measured.isEmpty) Nil
    else {
      val byName = measured.map(m => m.name -> m.value).toMap
      catalogue.map { case (name, unit) => Metric(name, byName.getOrElse(name, 0.0), unit) }
    }
}
