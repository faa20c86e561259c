package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Checks of the benchmark's own machinery; none of them start Spark. */
class SelfSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  test("median and nearest-rank percentiles on known samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) === 50.0)
    assert(Stats.percentile(xs, 90) === 90.0)
    assert(Stats.percentile(xs, 100) === 100.0)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(100) === Some(90))
    assert(Stats.tailPercentile(20) === Some(50))
    assert(Stats.tailPercentile(19) === None)
    assert(Stats.tailPercentile(10) === None)
    val t = Stats.tail((1 to 100).map(_.toDouble).reverse)
    assert(t === Stats.Tail(90.0, 90, 100))
    assert(Stats.tail(Seq(5.0, 1.0, 3.0)) === Stats.Tail(5.0, 100, 3))
  }

  private val pool = (0 until 300).map(i => (0 until 40).map(j => s"w${(i * 7 + j * 13) % 97}").mkString(" "))

  private def bytesOf(seed: Long, batches: Int) =
    (0 until batches).flatMap(new CrawlInput(seed, pool).chunks).map { case (id, p) => id -> p.toSeq }

  test("the same seed gives byte-identical crawl batches; another seed does not") {
    assert(bytesOf(7, 4) === bytesOf(7, 4))
    assert(bytesOf(7, 4) !== bytesOf(8, 4))
  }

  test("every crawl batch has the fixed mix, fresh ids and half its chunks gzip-framed") {
    val in = new CrawlInput(3, pool)
    val ids = (0 until 5).flatMap(b => in.docs(b).map(_.id))
    assert(ids.distinct.size === ids.size)
    (1 until 5).foreach { b =>
      assert(in.docs(b).groupBy(_.kind).map { case (k, d) => k -> d.size } === CrawlInput.Mix.toMap)
      val gz = in.chunks(b).count { case (_, p) => (p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x8b }
      assert(gz * 2 === CrawlInput.ChunksPerBatch)
    }
    assert(in.docs(0).forall(d => d.kind == "plain" || d.kind == "gate-fail"))
  }

  test("digests ignore row order and float noise, and the check flags a tampered result") {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", 1.5f))
    val d = Digest.of(rows)
    assert(Digest.of(rows.reverse) === d)
    assert(Digest.of(Seq(Row(1L, "a", 0.3), Row(2L, "b", 1.5f))) === d)
    val golden = Map("q1" -> s"2\t$d")
    assert(Golden.wrong(golden, Seq("q1" -> s"2\t$d")).isEmpty)
    val tampered = Digest.of(Seq(Row(1L, "a", 0.31), Row(2L, "b", 1.5f)))
    assert(Golden.wrong(golden, Seq("q1" -> s"2\t$tampered")) === Set("q1"))
    assert(Golden.wrong(golden, Seq("q1" -> s"3\t$d")) === Set("q1"))
    assert(Golden.wrong(golden, Seq("q2" -> s"2\t$d")) === Set("q2"))
  }

  test("the result line is one JSON object with exactly the contract's keys") {
    val r = Result(10, 1, Seq(Metric("setup_s", 1.25, "s")),
      Seq("path \"C:\\tmp\"\nnext"))
    val line = (r.report("w") :+ r.line).mkString("\n").split("\n").last
    val node = json.readTree(line)
    assert(node.fieldNames().asScala.toSet === Set("correct", "attempted", "failed", "metrics"))
    assert(!node.get("correct").asBoolean && node.get("failed").asLong === 1L)
    assert(node.get("metrics").get("setup_s").get("value").asDouble === 1.25)
    assert(json.readTree(Json.str("a\"b\\c\u0001")).asText === "a\"b\\c\u0001")
    val crashed = json.readTree(Result.crashed(new RuntimeException("x\"y")).line)
    assert(crashed.get("attempted").asLong === 1L && crashed.get("failed").asLong === 1L)
  }

  test("a run reports the catalogue's metrics in its order, absent ones as 0") {
    val catalogue = Seq("setup_s" -> "s", "latency_s" -> "s", "ops.cached_left" -> "count")
    val got = Metrics.complete(Seq(Metric("latency_s", 0.5, "x"), Metric("setup_s", 2.0, "s"),
      Metric("not_listed", 1.0, "s")), catalogue)
    assert(got === Seq(Metric("setup_s", 2.0, "s"), Metric("latency_s", 0.5, "s"),
      Metric("ops.cached_left", 0.0, "count")))
    assert(Metrics.complete(Nil, catalogue).isEmpty)
  }

  test("a wrong crawl batch is found by its rows; a wrong warm-up batch fails every timed batch") {
    val id = (b: Int, j: Int) => CrawlInput.FirstId + b.toLong * CrawlInput.DocsPerBatch + j
    val expected = Seq(Row(id(0, 1), "a"), Row(id(1, 2), "b"), Row(id(3, 0), "c"), Row(id(3, 0), "c"))
    assert(StreamWorkload.diff(expected.reverse, expected, StreamWorkload.byDoc).isEmpty)
    // batch 0 lost a row, batch 3 sent one twice instead of once
    val streamed = Seq(Row(id(1, 2), "b"), Row(id(3, 0), "c"))
    assert(StreamWorkload.diff(streamed, expected, StreamWorkload.byDoc) === Set(0, 3))
    val timed = StreamWorkload.WarmupBatches until StreamWorkload.WarmupBatches + 4
    assert(StreamWorkload.failedTimed(Set.empty, timed) === 0)
    assert(StreamWorkload.failedTimed(Set(timed(1)), timed) === 1)
    assert(StreamWorkload.failedTimed(Set(0), timed) === timed.size)
    assert(StreamWorkload.failedTimed(Set(StreamWorkload.WarmupBatches - 1), timed) === timed.size)
  }
}
