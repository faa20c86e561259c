package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

/** One generated crawl document. */
final case class CrawlDoc(id: Long, kind: String, text: String) {
  /** A messy capture URI whose canonical form ends in the doc id. */
  def uri: String = s"HTTP://WWW.Example.COM:80//doc//$id?utm_source=warc#frag"
}

/** Seeded generator of the crawl stream's input: micro-batch `b` is a pure
  * function of (seed, b, pool). Every batch holds [[DocsPerBatch]] docs with
  * fresh ids in a fixed mix, in seeded order:
  *  - plain: a pool text not sent before;
  *  - near-dup: a plain doc of an earlier batch re-sent with one word added;
  *  - exact: a plain doc of an earlier batch re-sent unchanged;
  *  - gate-fail: a text too short or too repetitive for the quality gate.
  * Batch 0 has no earlier batch, so its re-sends are plain docs too.
  * Docs are framed [[DocsPerChunk]] to a chunk, as WARC response records
  * carrying HTTP responses; every other chunk is a gzip member stream. */
final class CrawlInput(seed: Long, pool: IndexedSeq[String]) {
  import CrawlInput._
  require(pool.nonEmpty, "empty document pool")

  private val order: IndexedSeq[Int] = new scala.util.Random(seed).shuffle(pool.indices.toVector)

  private def plainText(k: Int): String = pool(order(k % pool.size))

  /** Global index of the `i`-th plain doc of batch `b`. */
  private def plainIndex(b: Int, i: Int): Int = b * DocsPerBatch + i

  def docs(b: Int): Seq[CrawlDoc] = {
    val rng = new scala.util.Random(~(seed * 1000003L + b))
    docKinds(b).zipWithIndex.map { case (kind, j) =>
      val id = FirstId + b.toLong * DocsPerBatch + j
      val text = kind match {
        case "plain"    => plainText(plainIndex(b, j))
        case "near-dup" => earlier(rng, b) + " revised"
        case "exact"    => earlier(rng, b)
        case _ =>
          val words = plainText(plainIndex(b, j)).split(" ")
          if (j % 2 == 0) words.take(5).mkString(" ")
          else Seq.fill(30)(words.head).mkString(" ")
      }
      CrawlDoc(id, kind, text)
    }
  }

  /** The text of a plain doc from a batch before `b`. */
  private def earlier(rng: scala.util.Random, b: Int): String = {
    val prev = rng.nextInt(b)
    val plains = docKinds(prev).zipWithIndex.collect { case ("plain", j) => j }
    plainText(plainIndex(prev, plains(rng.nextInt(plains.size))))
  }

  private def docKinds(b: Int): Seq[String] = {
    val rng = new scala.util.Random(seed * 1000003L + b)
    rng.shuffle(Mix.flatMap { case (k, n) => Seq.fill(n)(if (b == 0 && resend(k)) "plain" else k) })
  }

  /** `(chunk_id, payload)` rows of batch `b`. */
  def chunks(b: Int): Seq[(Long, Array[Byte])] =
    docs(b).grouped(DocsPerChunk).zipWithIndex.map { case (group, k) =>
      val id = b.toLong * ChunksPerBatch + k
      val payload =
        if (k % 2 == 0) group.map(d => record(d)).reduce(_ ++ _)
        else group.map(d => gzip(record(d))).reduce(_ ++ _)
      id -> payload
    }.toSeq
}

object CrawlInput {
  val DocsPerBatch = 48
  val DocsPerChunk = 8
  val ChunksPerBatch: Int = DocsPerBatch / DocsPerChunk
  val FirstId = 1000000L
  val Mix: Seq[(String, Int)] = Seq("plain" -> 24, "near-dup" -> 8, "exact" -> 6, "gate-fail" -> 10)
  require(Mix.map(_._2).sum == DocsPerBatch && ChunksPerBatch % 2 == 0)

  private def resend(kind: String) = kind == "near-dup" || kind == "exact"

  def batchOfDoc(id: Long): Int = ((id - FirstId) / DocsPerBatch).toInt
  def batchOfChunk(id: Long): Int = (id / ChunksPerBatch).toInt

  /** A WARC/1.0 response record whose block is an HTTP/1.1 response. */
  def record(d: CrawlDoc): Array[Byte] = {
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n" + d.text)
      .getBytes(UTF_8)
    val head = "WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: ${d.uri}\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n"
    head.getBytes(UTF_8) ++ http ++ "\r\n\r\n".getBytes(UTF_8)
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val g = new GZIPOutputStream(out)
    g.write(b)
    g.close()
    out.toByteArray
  }
}
