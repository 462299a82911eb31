package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.cli.Harness

/** `graft.cli.Harness` on the shared session: `profile` counters are exact
  * and repeatable, and `dump`'s CSV writer reproduces the committed goldens
  * byte for byte. */
class HarnessSpec extends SparkSpec {

  test("profile counters repeat exactly for a deterministic query and see its scan") {
    val q01 = Seq("q01_pricing_summary" -> SparkEntry.queries("q01_pricing_summary"))
    def once(): Harness.Profile = {
      val Seq(("q01_pricing_summary", Seq(rep))) = Harness.profile(spark, q01, sfDir, 1)
      rep.fold(e => fail(e), identity)
    }
    val (a, b) = (once(), once())
    assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks), s"$a vs $b")
    assert(a.jobs > 0 && a.stages > 0 && a.tasks > 0, a)
    // Non-zero, but only the footer reads: parquet's vectored column-chunk
    // reads complete on Hadoop's async channel threads, which the task
    // thread's FileSystem statistics (Spark's bytesRead source) never see
    assert(a.inputBytes > 0 && a.inputBytes == b.inputBytes, s"$a vs $b")
  }

  test("dump's CSV writer reproduces the q62 and q92 goldens byte for byte") {
    for (name <- Seq("q62_image_near_dups", "q92_bpe_encode")) {
      val golden = {
        val in = getClass.getResourceAsStream(s"/golden/${name}_sf0001.csv")
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      assert(Harness.csv(SparkEntry.queries(name)(spark, sfDir)) == golden, name)
    }
  }
}
