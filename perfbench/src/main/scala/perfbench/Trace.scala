package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span (or one streaming micro-batch). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; inputBytes += o.inputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into each layer. Jobs
  * submitted from the calling thread inside a span carry the span's job
  * group; jobs of a streaming micro-batch carry their query id and batch
  * id. A listener owned by the tracer sums stage metrics under those keys.
  * Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stageKey = new ConcurrentHashMap[Int, String]
  private val byKey = new ConcurrentHashMap[String, Counters]
  sc.addSparkListener(this)

  private def group(id: Long) = s"perfbench-$id"
  def streamKey(queryId: String, batchId: Long) = s"stream-$queryId-$batchId"

  /** Runs `body` as span `name` under `parent` (0 for a root span). */
  def span[A](name: String, parent: Long = 0)(body: Long => A): A = {
    val id = ids.incrementAndGet()
    sc.setJobGroup(group(id), name)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      spans.synchronized(spans += Span(id, parent, name, t0, t1))
      if (parent == 0) sc.clearJobGroup() else sc.setJobGroup(group(parent), "")
    }
  }

  private def keyOf(p: java.util.Properties): String =
    if (p == null) null
    else Option(p.getProperty("sql.streaming.queryId")) match {
      case Some(q) => streamKey(q, p.getProperty("streaming.sql.batchId", "-1").toLong)
      case None    => Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith("perfbench-")).orNull
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    if (k != null) {
      val c = byKey.computeIfAbsent(k, _ => new Counters)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageKey.put(_, k))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val k = stageKey.get(e.stageInfo.stageId)
    if (k != null) {
      val c = byKey.computeIfAbsent(k, _ => new Counters)
      val m = e.stageInfo.taskMetrics
      c.synchronized {
        c.stages += 1
        c.tasks += e.stageInfo.numTasks
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBridge.drainListenerBus(sc)

  def countersOfSpan(id: Long): Counters = countersOf(group(id))
  def countersOf(key: String): Counters = Option(byKey.get(key)).getOrElse(new Counters)

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Writes every span, one JSON object a line, with its Spark counters. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    val lines = allSpans.sortBy(_.id).map { s =>
      val c = countersOfSpan(s.id)
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "jobs" -> c.jobs.toString,
        "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "executor_run_ms" -> c.runMs.toString))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def close(): Unit = sc.removeSparkListener(this)
}

/** Whole-JVM garbage-collection time so far; in local mode the executors
  * share the driver's JVM. */
object Gc {
  def seconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}
