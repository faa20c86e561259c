package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, floor, lit, regexp_extract, round}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import graft.ops.{Curation, Dedup, Warc, WebText}
import graft.runtime.{Link, NearDupGateLink, Pipeline, StreamRegistry, WarcHttpIngestLink}

/** Quality gate between WARC ingest and the near-dup gate: canonicalize the
  * capture URI, apply the C4/Gopher-style gates, keep passing docs keyed by
  * the id at the end of the canonical URL. */
final class QualityGateLink(input: String, out: String) extends Link {
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = Some(out)
  override def transform(df: DataFrame): DataFrame = {
    val canon = df.filter(col("valid"))
      .select(WebText.canonicalUrl(col("target_uri")).as("url"), col("text"))
    Curation.qualityGates(canon).filter(col("passes"))
      .select(regexp_extract(col("url"), "([0-9]+)$", 1).cast("long").as("doc_id"),
        col("url"), col("text"))
  }
}

/** The Catenae shape: WARC ingest → quality gate → near-dup gate, started
  * once with a processing-time trigger over a fresh registry, driven as a
  * closed loop by one generator. Each operation appends one micro-batch of
  * chunks, then drains every link in chain order; only then does the next
  * batch go in. Latency runs from the start of the append until the last
  * link has committed the batch. */
final class StreamWorkload extends Workload {
  import StreamWorkload._
  val name = "stream-crawl"

  def run(spark: SparkSession, ctx: RunContext): Result = {
    val pool = spark.read.parquet(ctx.data.resolve("sf0.1").resolve("documents.parquet").toString)
      .filter(col("text").isNotNull).orderBy("doc_id").select("text")
      .collect().map(_.getString(0)).toIndexedSeq
    val input = new CrawlInput(ctx.seed, pool)
    val registry = new StreamRegistry(spark, ctx.work.resolve("registry").toString)
    registry.declare("crawl_chunks", ChunkSchema)
    val gate = new QualityGateLink("crawl_docs", "crawl_gated")
    val pipeline = new Pipeline(Seq(new WarcHttpIngestLink("crawl_chunks", "crawl_docs"), gate,
      new NearDupGateLink("crawl_gated", "crawl_corpus", "crawl_pairs", minJaccard = MinJaccard)))
    val queries = Links.zip(
      pipeline.start(spark, registry, Trigger.ProcessingTime(TriggerMs))).toMap
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None

    def chunkFrame(b: Int): DataFrame = spark.createDataFrame(
      input.chunks(b).map { case (id, p) => Row(id, p) }.asJava, ChunkSchema)

    /** Appends batch `b` and drains the chain, inside spans when traced. */
    def step(b: Int, traced: Boolean): Batch = {
      val chunks = chunkFrame(b)
      val t = tracer.filter(_ => traced)
      def stage(parent: Long, span: String)(body: => Unit): Unit =
        t.fold(body)(_.span(span, parent)(_ => body))
      def run(parent: Long): Long = {
        stage(parent, "runtime.registry_write")(registry.write(chunks, "crawl_chunks"))
        Links.foreach(l => stage(parent, s"runtime.$l.drain")(queries(l).processAllAvailable()))
        parent
      }
      val t0 = System.nanoTime()
      val root = t.fold(run(0L))(_.span(s"batch:$b")(run))
      val seconds = (System.nanoTime() - t0) / 1e9
      val marks = if (tracer.isDefined) queries.map { case (l, q) => l -> lastDataBatch(q) } else Map.empty[String, Long]
      Batch(b, seconds, root, marks)
    }

    var next = 0
    val warm = ArrayBuffer.empty[Batch]
    try {
      while (next < WarmupBatches) { warm += step(next, traced = false); next += 1 }
      val setupS = (System.nanoTime() - ctx.sessionStartNs) / 1e9
      val before = tracer.map(_ => outputCounts(registry))
      val timed = ArrayBuffer.empty[Batch]
      val count = batchCount(ctx.seconds)
      var failed = 0L
      val gc0 = Gc.seconds
      val loop0 = System.nanoTime()
      try {
        while (timed.size < count) {
          timed += step(next, traced = tracer.isDefined && timed.size % 2 == 1)
          next += 1
        }
      } catch {
        case NonFatal(e) =>
          // the chain is down: every batch not completed counts as failed
          System.err.println(s"[perfbench] stream batch $next failed: $e")
          failed = count - timed.size
          next += 1
      }
      val loopS = (System.nanoTime() - loop0) / 1e9
      val gcS = Gc.seconds - gc0
      val after = tracer.map(_ => outputCounts(registry))
      pipeline.stopAll(spark)

      val check0 = System.nanoTime()
      val wrong = checkParity(spark, registry, gate, (0 until next).flatMap(input.chunks))
      val checkS = (System.nanoTime() - check0) / 1e9
      val wrongTimed = failedTimed(wrong, timed.map(_.index).toSeq)
      val attempted = timed.size + failed
      val notes = ArrayBuffer[String](
        s"docs_per_batch=${CrawlInput.DocsPerBatch} warmup_batches=$WarmupBatches " +
          s"timed_batches=${timed.size} trigger_ms=$TriggerMs seed=${ctx.seed}",
        "warm-up batch latencies (s): " + warm.map(b => f"${b.seconds}%.2f").mkString(" "),
        f"untimed parity check took $checkS%.1f s")
      wrong.toSeq.sorted.foreach(b => notes += s"WRONG OUTPUT: batch $b" +
        (if (b < WarmupBatches) " (warm-up: every timed batch counts as failed)" else ""))
      val lat = timed.filter(_.root == 0).map(_.seconds).toList
      val metrics = tracer match {
        case None if lat.nonEmpty =>
          val tail = Stats.tail(lat)
          val docsPerS = timed.size * CrawlInput.DocsPerBatch / loopS
          notes += f"batch_latency_tail_s = ${tail.value}%.4f s (p${tail.percentile} over ${tail.samples} " +
            "micro-batches); reported, not bounded"
          notes += "timed batch latencies (s): " + lat.map(x => f"$x%.2f").mkString(" ")
          Seq(Metric("setup_s", setupS, "s"),
            Metric("latency_s", Stats.median(lat), "s"),
            Metric("throughput_per_s", docsPerS, "1/s"))
        case None => Nil
        case Some(t) =>
          t.drain()
          val m = layerMetrics(spark, t, queries, (warm.lastOption ++ timed).toSeq,
            before.get, after.get, lat, ctx.work.resolve("registry")) :+
            Metric("jvm.gc_s", gcS / timed.size.max(1), "s")
          val spans = ctx.out.resolve(s"trace-$name-${ctx.seed}.jsonl")
          t.write(spans)
          notes += s"spans written to $spans"
          t.close()
          m
      }
      Result(attempted, failed + wrongTimed, metrics, notes.toList)
    } finally pipeline.stopAll(spark)
  }

  /** Highest batch id of `q` that carried input rows. */
  private def lastDataBatch(q: StreamingQuery): Long =
    q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).maxOption.getOrElse(-1L)

  private def outputCounts(r: StreamRegistry): Map[String, Long] =
    Seq("crawl_docs", "crawl_gated", "crawl_corpus", "crawl_pairs").map(s => s -> r.read(s).count()).toMap

  /** Per-batch layer metrics. `batches` starts with the last warm-up batch,
    * whose progress marks bound the first timed batch. Progress and stream
    * job counters cover every timed batch; span timings and the registry
    * append's jobs cover the traced ones. */
  private def layerMetrics(spark: SparkSession, t: Tracer, queries: Map[String, StreamingQuery],
                           batches: Seq[Batch], before: Map[String, Long], after: Map[String, Long],
                           untracedLat: Seq[Double], root: Path): Seq[Metric] = {
    val timed = batches.tail
    val n = timed.size.max(1).toDouble
    val roots = timed.map(_.root).filter(_ > 0).toSet
    val nTraced = roots.size.max(1).toDouble
    val children = t.allSpans.filter(s => roots.contains(s.parent))
    def spanMean(name: String) = children.filter(_.name == name).map(_.seconds).sum / nTraced
    val writes = new Counters
    children.filter(_.name == "runtime.registry_write").foreach(s => writes += t.countersOfSpan(s.id))
    val links = new Counters
    val perLink = Links.flatMap { l =>
      val q = queries(l)
      val (lo, hi) = (batches.head.marks(l), timed.last.marks(l))
      val progress = q.recentProgress.toSeq
        .filter(p => p.batchId > lo && p.batchId <= hi && p.numInputRows > 0)
        .groupBy(_.batchId).values.map(_.last).toSeq
      def dur(keys: String*) = progress.map(p =>
        keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / n
      val jobs = new Counters
      progress.foreach(p => jobs += t.countersOf(t.streamKey(q.id.toString, p.batchId)))
      links += jobs
      val out = OutputOf(l)
      Seq(Metric(s"runtime.$l.drain_s", spanMean(s"runtime.$l.drain"), "s"),
        Metric(s"runtime.$l.add_batch_ms", dur("addBatch"), "ms"),
        Metric(s"runtime.$l.latest_offset_ms", dur("latestOffset"), "ms"),
        Metric(s"runtime.$l.plan_ms", dur("queryPlanning"), "ms"),
        Metric(s"runtime.$l.commit_ms", dur("walCommit", "commitOffsets"), "ms"),
        Metric(s"runtime.$l.rows_in", progress.map(_.numInputRows).sum / n, "count"),
        Metric(s"runtime.$l.rows_out", (after(out) - before(out)) / n, "count"),
        Metric(s"runtime.$l.jobs_per_batch", jobs.jobs / n, "count"))
    }
    def v(name: String) = perLink.find(_.name == name).map(_.value).getOrElse(0.0)
    def perBatch(f: Counters => Long) = f(writes) / nTraced + f(links) / n
    val tracedLat = timed.filter(_.root > 0).map(_.seconds)
    val execS = timed.map(_.seconds).sum / n
    val runS = perBatch(_.runMs) / 1e3
    val cores = spark.sparkContext.defaultParallelism
    val mb = 1024.0 * 1024.0
    perLink ++ Seq(
      Metric("runtime.registry_write_s", spanMean("runtime.registry_write"), "s"),
      Metric("runtime.gate.pass_ratio", ratio(v("runtime.gate.rows_out"), v("runtime.gate.rows_in")), "ratio"),
      Metric("runtime.neardup.admit_ratio",
        ratio(v("runtime.neardup.rows_out"), v("runtime.neardup.rows_in")), "ratio"),
      Metric("runtime.neardup.pairs", (after("crawl_pairs") - before("crawl_pairs")) / n, "count"),
      Metric("runtime.stream_files", countFiles(root.resolve("streams")), "count"),
      Metric("runtime.checkpoint_files", countFiles(root.resolve("checkpoints")), "count"),
      Metric("exec.exec_s", execS, "s"),
      Metric("exec.jobs", perBatch(_.jobs), "count"),
      Metric("exec.stages", perBatch(_.stages), "count"),
      Metric("exec.tasks", perBatch(_.tasks), "count"),
      Metric("exec.executor_run_s", runS, "s"),
      Metric("exec.executor_cpu_s", perBatch(_.cpuNs) / 1e9, "s"),
      Metric("exec.core_util", if (execS > 0) runS / (execS * cores) else 0.0, "ratio"),
      Metric("exec.input_mb", perBatch(_.inputBytes) / mb, "MB"),
      Metric("exec.shuffle_read_mb", perBatch(_.shuffleReadBytes) / mb, "MB"),
      Metric("exec.shuffle_write_mb", perBatch(_.shuffleWriteBytes) / mb, "MB"),
      Metric("exec.spill_mb", perBatch(_.spillBytes) / mb, "MB"),
      Metric("trace.overhead_s",
        if (tracedLat.isEmpty || untracedLat.isEmpty) 0.0
        else Stats.median(tracedLat) - Stats.median(untracedLat), "s"))
  }

  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  private def countFiles(dir: Path): Double =
    if (!Files.exists(dir)) 0.0
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).count().toDouble finally s.close()
    }

  /** Batches whose rows differ between a chain stage and that stage's batch
    * plan over the same chunks: the decoded docs, the gated docs, and the
    * near-dup pairs and admitted corpus. Pairs are re-derived in one batch
    * screen of every gated doc against the streamed corpus, keeping the
    * pairs whose corpus doc arrived in an earlier batch; the corpus must be
    * the gated docs that have no such pair. */
  private def checkParity(spark: SparkSession, r: StreamRegistry, gate: QualityGateLink,
                          chunks: Seq[(Long, Array[Byte])]): Set[Int] = {
    val all = spark.createDataFrame(chunks.map { case (id, p) => Row(id, p) }.asJava, ChunkSchema)
    val docs = Warc.parseWarcHttpDocs(spark, all).toDF()
    val gated = gate.transform(docs).select("doc_id", "url", "text").localCheckpoint()
    val corpus = r.read("crawl_corpus").select("doc_id", "text")
    val batchOf = (c: org.apache.spark.sql.Column) =>
      floor((c - lit(CrawlInput.FirstId)) / lit(CrawlInput.DocsPerBatch))
    val screened = Dedup.minHashLshAgainstCorpus(
      corpus.select((-col("doc_id") - 1).as("doc_id"), col("text")),
      gated.select("doc_id", "text"), MinJaccard)
      .select(col("doc_new"), (-col("doc_corpus") - 1).as("doc_corpus"), col("jaccard"))
      .filter(batchOf(col("doc_corpus")) < batchOf(col("doc_new")))
    val pairCols = Seq(col("doc_new"), col("doc_corpus"), round(col("jaccard"), 6))
    val expectedCorpus = gated.select("doc_id")
      .join(screened.select(col("doc_new").as("doc_id")), Seq("doc_id"), "left_anti")

    def rows(df: DataFrame) = df.collect().toSeq
    def diffOf(streamed: DataFrame, expected: DataFrame, key: Row => Int) =
      diff(rows(streamed), rows(expected), key)
    diffOf(r.read("crawl_docs"), docs, byChunk) ++
      diffOf(r.read("crawl_gated").select("doc_id", "url", "text"), gated, byDoc) ++
      diffOf(r.read("crawl_pairs").select(pairCols: _*), screened.select(pairCols: _*), byDoc) ++
      diffOf(corpus.select("doc_id"), expectedCorpus, byDoc)
  }
}

object StreamWorkload {
  /** One micro-batch: its latency, its root span (0 untraced) and each
    * link's last batch id once it was drained. */
  private final case class Batch(index: Int, seconds: Double, root: Long,
                                 marks: Map[String, Long])

  val Links: Seq[String] = Seq("ingest", "gate", "neardup")
  val WarmupBatches = 6
  /** Like the batch passes, the number of timed batches is fixed by
    * `--seconds`: one per [[MillisPerBatch]] asked for (about one batch's
    * latency on 4 cores), at least two. */
  val MillisPerBatch = 2500
  def batchCount(seconds: Int): Int = math.max(2, seconds * 1000 / MillisPerBatch)
  val TriggerMs = 50L
  val MinJaccard = 0.8
  val OutputOf: Map[String, String] =
    Map("ingest" -> "crawl_docs", "gate" -> "crawl_gated", "neardup" -> "crawl_corpus")
  val ChunkSchema: StructType = StructType(Seq(
    StructField("chunk_id", LongType), StructField("payload", BinaryType)))

  /** The batch a row of decoded docs came from, by its chunk id. */
  val byChunk: Row => Int = row => CrawlInput.batchOfChunk(row.getLong(0))
  /** The batch a row keyed by doc id came from. */
  val byDoc: Row => Int = row => CrawlInput.batchOfDoc(row.getLong(0))

  /** Batches of the rows whose multiplicity differs between the streamed
    * and the expected rows; `key` gives a row's batch. */
  def diff(streamed: Seq[Row], expected: Seq[Row], key: Row => Int): Set[Int] = {
    val (s, e) = (streamed.groupBy(Digest.row), expected.groupBy(Digest.row))
    (s.keySet ++ e.keySet).filter(k => s.get(k).map(_.size) != e.get(k).map(_.size))
      .map(k => key(s.getOrElse(k, e(k)).head))
  }

  /** How many of the `timed` batches count as failed, given the batches
    * whose output was wrong. Every batch screens against the corpus the
    * batches before it built, so a wrong warm-up batch fails every timed
    * batch, as a wrong check pass fails every timed run of a batch query. */
  def failedTimed(wrong: Set[Int], timed: Seq[Int]): Int =
    if (wrong.exists(_ < WarmupBatches)) timed.size else timed.count(wrong.contains)
}
