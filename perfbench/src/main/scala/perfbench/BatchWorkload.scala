package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.Tables
import graft.queries.PipelineQueries
import graft.queries.RelationalQueries.Q

/** A batch workload: a fixed set of registered queries over the fixture
  * tables, run in passes. The seed only shuffles the order of each pass.
  *
  * One operation is one query run: construction (`q.fn`, where eager jobs
  * fire), planning (`queryExecution.executedPlan`) and execution (a noop
  * write, which re-plans the write command around the query). The same
  * three calls run with tracing on and off, so the traced spans split the
  * time the untraced run measures. */
final class BatchWorkload(val name: String, queries: Seq[Q], tables: Seq[String]) extends Workload {
  import BatchWorkload._

  def run(spark: SparkSession, ctx: RunContext): Result = {
    val dir = ctx.data.resolve("sf0.01").toString
    val rng = new scala.util.Random(ctx.seed)
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None

    def pass(traced: Boolean): Pass = {
      val t = tracer.filter(_ => traced)
      val gc0 = Gc.seconds
      val t0 = System.nanoTime()
      val ops = ArrayBuffer.empty[Op]
      val failures = ArrayBuffer.empty[String]
      var cachedLeft = 0
      rng.shuffle(queries).foreach { q =>
        val q0 = System.nanoTime()
        try {
          val root = runQuery(spark, q, dir, t)
          ops += Op(q.name, (System.nanoTime() - q0) / 1e9, root)
        } catch {
          case NonFatal(e) =>
            failures += q.name
            System.err.println(s"[perfbench] ${q.name} failed: $e")
        }
        // outside the query's timed region, but inside the pass
        cachedLeft += clearPersisted(spark)
      }
      Pass((System.nanoTime() - t0) / 1e9, ops.toList, failures.toList, traced,
        cachedLeft, Gc.seconds - gc0)
    }

    // Set-up runs every query untimed: first the output check, each query
    // collected and digested against the golden file, then [[WarmPasses]]
    // passes, so that the timed passes start where the JIT-compiled code of
    // the noop write path has stopped improving quickly.
    val check0 = System.nanoTime()
    val wrongOutput = checkOutputs(spark, dir, ctx)
    val checkS = (System.nanoTime() - check0) / 1e9
    val warm = (1 to WarmPasses).map(_ => pass(traced = false))
    val warmFailures = warm.flatMap(_.failures).distinct
    // a query that is wrong or throws in set-up fails every timed run of it
    val wrong = wrongOutput ++ warmFailures
    val setupS = (System.nanoTime() - ctx.sessionStartNs) / 1e9

    val passes = (0 until passCount(ctx.seconds)).map(i => pass(traced = tracer.isDefined && i % 2 == 1))

    val attempted = passes.map(p => p.ops.size + p.failures.size).sum.toLong
    val failed = passes.map { p =>
      p.failures.size + p.ops.count(o => wrong.contains(o.query))
    }.sum.toLong
    val notes = ArrayBuffer[String](
      s"queries=${queries.size} passes=${passes.size} " +
        s"seed=${ctx.seed} data=sf0.01",
      f"set-up: output check took $checkS%.1f s, untimed passes " +
        warm.map(p => f"${p.seconds}%.1f").mkString(" ") + " s")
    wrongOutput.toSeq.sorted.foreach(q => notes += s"WRONG OUTPUT: $q")
    warmFailures.foreach(q => notes += s"FAILED IN SET-UP: $q")

    val untraced = passes.filterNot(_.traced).toList
    val lat = untraced.flatMap(_.ops.map(_.seconds))
    val metrics = tracer match {
      case None =>
        if (lat.isEmpty) Nil
        else {
          val tail = Stats.tail(lat)
          val loopS = untraced.map(_.seconds).sum
          val perQuery = untraced.flatMap(_.ops).groupBy(_.query).toSeq.sortBy(_._1)
            .map { case (q, os) => q -> Stats.median(os.map(_.seconds)) }
          notes += f"query_p50_s = ${Stats.median(lat)}%.4f s; query_tail_s = ${tail.value}%.4f s " +
            s"(p${tail.percentile} over ${tail.samples} query runs); reported, not bounded"
          notes += f"pass_s = ${loopS / untraced.size}%.4f s (mean of ${untraced.size} timed passes: " +
            untraced.map(p => f"${p.seconds}%.2f").mkString(" ") + ")"
          notes += "per-query median latency (s): " +
            perQuery.map { case (q, s) => f"$q=$s%.3f" }.mkString(" ")
          Seq(Metric("setup_s", setupS, "s"),
            Metric("latency_s", Stats.geomean(perQuery.map(_._2)), "s"),
            Metric("throughput_per_s", lat.size / loopS, "1/s"))
        }
      case Some(t) =>
        t.drain()
        val layers = layerMetrics(spark, t, passes.filter(_.traced).toList, dir, lat)
        val spans = ctx.out.resolve(s"trace-$name-${ctx.seed}.jsonl")
        t.write(spans)
        notes += s"spans written to $spans"
        t.close()
        layers ++ Kernels.measure(spark, dir)
    }
    Result(attempted, failed, metrics, notes.toList)
  }

  /** Runs one query; returns the root span id (0 untraced). */
  private def runQuery(spark: SparkSession, q: Q, dir: String, tracer: Option[Tracer]): Long =
    tracer match {
      case Some(t) =>
        t.span(s"query:${q.name}") { root =>
          val df = t.span("queries.construct", root)(_ => q.fn(spark, dir))
          t.span("planner.plan", root)(_ => df.queryExecution.executedPlan)
          t.span("exec.run", root)(_ => df.write.format("noop").mode("overwrite").save())
          root
        }
      case None =>
        val df = q.fn(spark, dir)
        df.queryExecution.executedPlan
        df.write.format("noop").mode("overwrite").save()
        0L
    }

  private def layerMetrics(spark: SparkSession, t: Tracer, traced: List[Pass], dir: String,
                           untracedLat: Seq[Double]): Seq[Metric] = {
    val spans = t.allSpans
    val roots = traced.flatMap(_.ops.map(_.root)).toSet
    def children(name: String) =
      spans.filter(s => s.name == name && roots.contains(s.parent))
    val n = traced.size.max(1).toDouble
    def sumS(name: String) = children(name).map(_.seconds).sum / n
    val construct = new Counters
    children("queries.construct").foreach(s => construct += t.countersOfSpan(s.id))
    val exec = new Counters
    children("exec.run").foreach(s => exec += t.countersOfSpan(s.id))
    val execS = sumS("exec.run")
    val cores = spark.sparkContext.defaultParallelism
    val tracedLat = traced.flatMap(_.ops.map(_.seconds))
    val overhead =
      if (tracedLat.isEmpty || untracedLat.isEmpty) 0.0
      else Stats.median(tracedLat) - Stats.median(untracedLat)
    val (readMs, readJobs) = tableReads(spark, t, dir)
    val mb = 1024.0 * 1024.0
    Seq(
      Metric("tables.read_ms", readMs, "ms"),
      Metric("tables.read_jobs", readJobs, "count"),
      Metric("queries.construct_s", sumS("queries.construct"), "s"),
      Metric("queries.construct_jobs", construct.jobs / n, "count"),
      Metric("planner.plan_s", sumS("planner.plan"), "s"),
      Metric("exec.exec_s", execS, "s"),
      Metric("exec.jobs", exec.jobs / n, "count"),
      Metric("exec.stages", exec.stages / n, "count"),
      Metric("exec.tasks", exec.tasks / n, "count"),
      Metric("exec.executor_run_s", exec.runMs / 1e3 / n, "s"),
      Metric("exec.executor_cpu_s", exec.cpuNs / 1e9 / n, "s"),
      Metric("exec.core_util", if (execS > 0) exec.runMs / 1e3 / n / (execS * cores) else 0.0, "ratio"),
      Metric("exec.input_mb", exec.inputBytes / mb / n, "MB"),
      Metric("exec.shuffle_read_mb", exec.shuffleReadBytes / mb / n, "MB"),
      Metric("exec.shuffle_write_mb", exec.shuffleWriteBytes / mb / n, "MB"),
      Metric("exec.spill_mb", exec.spillBytes / mb / n, "MB"),
      Metric("jvm.gc_s", traced.map(_.gcSeconds).sum / n, "s"),
      Metric("ops.cached_left", traced.map(_.cachedLeft).sum / n, "count"),
      Metric("trace.overhead_s", overhead, "s"))
  }

  /** Mean wall time and Spark jobs of one `Tables` read of each table this
    * workload's queries read. */
  private def tableReads(spark: SparkSession, t: Tracer, dir: String): (Double, Double) = {
    val spans = for (_ <- 1 to TableReadReps; tbl <- tables) yield
      t.span("tables.read") { id =>
        Tables.table(spark, dir, tbl)
        id
      }
    t.drain()
    val all = t.allSpans.filter(s => spans.contains(s.id))
    (all.map(_.seconds).sum * 1e3 / all.size, spans.map(t.countersOfSpan(_).jobs).sum.toDouble / all.size)
  }

  /** Queries whose result does not match the golden row count and digest.
    * With `--golden-out`, writes the golden file instead. */
  private def checkOutputs(spark: SparkSession, dir: String, ctx: RunContext): Set[String] = {
    val got = queries.sortBy(_.name).map { q =>
      val d = try {
        val rows = q.fn(spark, dir).collect().toSeq
        s"${rows.size}\t${Digest.of(rows)}"
      } catch { case NonFatal(e) => s"error\t${e.getClass.getName}" }
      clearPersisted(spark)
      q.name -> d
    }
    ctx.goldenOut match {
      case Some(out) =>
        Files.write(out, got.map { case (q, d) => s"$q\t$d\n" }.mkString
          .getBytes(StandardCharsets.UTF_8))
        Set.empty
      case None => Golden.wrong(Golden.read(ctx.golden.resolve(s"$name.tsv")), got)
    }
  }
}

object BatchWorkload {
  private final case class Op(query: String, seconds: Double, root: Long)
  private final case class Pass(seconds: Double, ops: Seq[Op], failures: Seq[String],
                                traced: Boolean, cachedLeft: Int, gcSeconds: Double)

  /** A run does a fixed amount of work sized from `--seconds`: one pass per
    * [[MillisPerPass]] asked for (about one pass's wall time on 4 cores), at
    * least three, so that every query contributes several runs to the
    * median. A sample count that grew with speed would make two versions
    * measure different amounts of work. */
  val MillisPerPass = 4500
  val WarmPasses = 3
  def passCount(seconds: Int): Int = math.max(3, seconds * 1000 / MillisPerPass)
  val TableReadReps = 5

  /** Drops every persisted RDD and cached Dataset; returns how many
    * persisted RDDs were still present. */
  def clearPersisted(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val left = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }

  private def pick(all: Seq[Q], names: Seq[String]): Seq[Q] = {
    val byName = all.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, throw new NoSuchElementException(s"no query $n")))
  }

  /** Three queries whose split of query time between construction,
    * planning and execution is close to the whole curation registry's in
    * one traced pass (perfbench/METRICS.md gives both): near-dup clustering
    * (shingle, MinHash and BLAKE2b kernels feeding a driver-loop
    * connected-components with eager construction jobs), a unigram language
    * model persisted with no unpersist, and a global bitext alignment over
    * web text. */
  val CurationNames: Seq[String] = Seq("q69_unigram_logprob", "q72_dedup_clusters", "q269_global_bitext")

  def curation = new BatchWorkload("batch-curation", pick(PipelineQueries.all, CurationNames),
    Seq("documents"))
}

/** Golden results: one `query<TAB>rows<TAB>digest` line per query. */
object Golden {
  /** Queries whose `rows<TAB>digest` differs from the golden one, or that
    * have no golden line. */
  def wrong(golden: Map[String, String], got: Seq[(String, String)]): Set[String] =
    got.collect { case (q, d) if !golden.get(q).contains(d) => q }.toSet

  def read(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").toSeq
      .filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
}
