package graft

import org.apache.spark.sql.functions._

import graft.functions.HtmlText
import graft.sources.Warc

/** Dev-only throughput harness for the WARC path (run with
  * `Test/runMain graft.WarcThroughputHarness [shards] [pagesPerShard]`):
  * writes synthetic gzip-per-record crawl shards, then times a cold and a
  * warm full scan, the index->fetch selective read (1 in 50 records), and
  * the crawl -> main-text extraction pipeline. Numbers land in
  * PERF_NOTES.md, like the TarShards measurement. */
object WarcThroughputHarness {

  def main(args: Array[String]): Unit = {
    val shards = if (args.length > 0) args(0).toInt else 8
    val pages = if (args.length > 1) args(1).toInt else 2000
    // "varied" -> per-page seeded word soup (~4x deflate, the realistic
    // crawl ratio) instead of the repetitive lorem block (~36x)
    val varied = args.length > 2 && args(2) == "varied"

    val spark = GraftSession.local(32)
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("warcbench").toString
    // ~20 KB of HTML per page -> per-shard raw size ~= pages * 20 KB
    val para = ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua ") * 20
    val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega").split(" ")
    var rawBytes = 0L
    (0 until shards).foreach { s =>
      val recs = (0 until pages).map { i =>
        val id = s * pages + i
        def soup(seed: Int): String = {
          val rng = new scala.util.Random(seed)
          val sb = new StringBuilder(2700)
          while (sb.length < 2500)
            sb.append(vocab(rng.nextInt(vocab.length))).append(rng.nextInt(1000)).append(' ')
          sb.toString
        }
        val html = "<html><head><title>Page " + id + "</title></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/next\">Next</a></nav>" +
          (0 until 8).map(k => s"<p>section $k of page $id: " +
            (if (varied) soup(id * 8 + k) else para) + "</p>").mkString +
          "<footer>(c) 2026</footer></body></html>"
        val body = html.getBytes("UTF-8")
        rawBytes += body.length
        Warc.WarcRec("response",
          Warc.httpResponse(200, "text/html; charset=utf-8", body),
          targetUri = s"https://bench-${id % 23}.test/p/$id",
          contentType = "application/http; msgtype=response")
      }
      Warc.write(f"$dir/crawl-$s%03d.warc.gz", recs)
    }
    val gzBytes = new java.io.File(dir).listFiles().map(_.length).sum
    println(f"[warcbench] wrote $shards shards, ${rawBytes / 1e6}%.0f MB raw, " +
      f"${gzBytes / 1e6}%.0f MB gz")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[warcbench] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val glob = s"$dir/crawl-*.warc.gz"
    time("cold full scan (count + sum payload bytes)") {
      Warc.read(spark, glob).agg(count(lit(1)), sum(length($"payload"))).head()
    }
    time("warm full scan") {
      Warc.read(spark, glob).agg(count(lit(1)), sum(length($"payload"))).head()
    }
    val idx = Warc.read(spark, glob)
      .filter(pmod(xxhash64($"target_uri"), lit(50)) === 0)
      .select($"file_uri", $"offset")
      .cache()
    val nSel = idx.count()
    println(s"[warcbench] index selects $nSel of ${shards * pages} records")
    time("selective fetch (1 in 50) + payload sum") {
      Warc.fetch(idx).agg(sum(length($"payload"))).head()
    }
    time("crawl -> main-text extraction + token count") {
      val pagesDf = Warc.read(spark, glob)
        .select($"target_uri", $"payload".cast("string").as("html"))
      HtmlText.htmlMainTextFlat(pagesDf, "target_uri", "html")
        .agg(sum(graft.functions.TextFunctions.tokenCount($"main_text"))).head()
    }
    spark.stop()
  }
}
