package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run benchmark: every SparkEntry query timed at the target SF,
  * one JSON line on stdout.
  *
  * Robustness against machine-window variance (the r4/r5 lessons —
  * ambient load on a shared host swung untouched queries >2x between
  * runs): after the codegen warm-up the FULL inventory runs `reps` times
  * as complete passes — pass 1 over every query, then pass 2 — and each
  * query reports the MIN across passes. Interleaving the reps this way
  * puts minutes between one query's two timings, so a single load spike
  * can no longer contaminate BOTH reps of the same query (the r5 window's
  * 12x q46 artifact). The full per-query map is also written to
  * `BENCH_DETAIL_c<cpus>.json` (all reps + min, schema unchanged) so a truncated
  * stdout capture can never lose the per-query data. A query that throws
  * records an `"error"` marker in its detail entry, is excluded from
  * `total_min` and the stdout `queries` map, and prints a `BENCH ERROR`
  * line to stderr — a broken query can't masquerade as a fast one. */
object Bench {
  private def firstLine(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}"
      .takeWhile(c => c != '\n' && c != '\r').take(300)
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // cpu-qualified default: the driver benches the SAME tree at two core
    // counts, and in r19 the 8-core arm overwrote the 32-core per-query
    // record because both defaulted to one filename
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      s"BENCH_DETAIL_c$cpus.json")
    // Default 3: r8 ran an identical binary and min-of-2 still showed phantom
    // per-query swings up to 4x; a third interleaved pass collapses that noise
    // for ~60s of extra wall time.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(cpus.toInt, cpus.toInt)
    // FileStreamSink logs a WARN + full stack trace while probing freshly
    // written fixture dirs for stream metadata (CdxIndex gz fixtures); the
    // multi-line blob can land mid-capture in the driver's bounded stdout
    // tail and break its JSON-line parse — silence that package for the
    // timed region (errors still surface)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming",
      org.apache.logging.log4j.Level.ERROR)
    val detail = passes(spark, SparkEntry.queries.toSeq.sortBy(_._1), sfDir, reps)(r => r)
    val s = summarize(detail, sfDir, reps,
      java.nio.file.Paths.get(detailPath).getFileName.toString)
    s.errors.foreach { case (name, e) => System.err.println(s"BENCH ERROR $name: $e") }
    // full per-query record to a file FIRST — stdout tails can truncate
    java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), s.detailJson)
    // the headline ALSO goes to a file: the driver's stdout-tail parse has
    // missed it two rounds running (sbt's "[info] " framing wraps every
    // line), and a file can't be corrupted by log framing
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_HEADLINE",
        "BENCH_HEADLINE.json")), s.stdoutJson + "\n")
    println(s.stdoutJson)
    spark.stop()
  }

  type Query = (SparkSession, String) => DataFrame

  /** The bench's measurement loop. Warm the JVM on the smoke scale factor
    * (classloading, whole-stage codegen compilation — janino caches by
    * generated source, which is data-independent — and shuffle machinery),
    * so timed runs measure the queries, not JVM startup. Then run `reps`
    * interleaved passes over `inventory` at `sfDir`: rep i of every query
    * runs before rep i+1 of any query (see the Scaladoc above). Each timed
    * rep, a `count()` yielding seconds or the failure's first line, runs
    * inside `around`, which may read counters on either side of it. Returns
    * every query's reps in order. */
  private[graft] def passes[A](spark: SparkSession, inventory: Seq[(String, Query)],
      sfDir: String, reps: Int)(around: (=> Either[String, Double]) => A): Seq[(String, Seq[A])] = {
    inventory.foreach { case (name, fn) =>
      // same per-query cache isolation as the timed loop: without it the
      // warm-up pass persists q46's ranked-bucket frame and q69's
      // identically-canonicalized persist logs a CacheManager WARN into
      // the driver's bounded stdout tail
      spark.sharedState.cacheManager.clearCache()
      try fn(spark, "/root/testdata/sf0.001").count() catch {
        case t: Throwable =>
          // visible but non-fatal: the timed loop below is where a broken
          // query must surface as an error marker, not a near-zero "win"
          System.err.println(s"BENCH WARMUP ERROR $name: ${firstLine(t)}")
      }
    }
    // A query that throws must NOT record its (near-zero) wall time as a
    // timing — that would let a broken query silently IMPROVE the bench total.
    def timeOnce(fn: Query): Either[String, Double] = {
      // drop persisted frames from previous runs: every rep measures
      // cold-cache, and late-alphabet queries aren't taxed by accumulated
      // cache memory pressure from the ones before them
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case t: Throwable => Left(firstLine(t)) }
    }
    val byPass = (1 to reps).map { _ =>
      inventory.map { case (name, fn) => name -> around(timeOnce(fn)) }.toMap
    }
    inventory.map { case (name, _) => name -> byPass.map(_(name)) }
  }

  private[graft] final case class Summary(
      errors: Map[String, String],
      results: Map[String, Double],
      detailJson: String,
      stdoutJson: String)

  /** Fold per-rep outcomes into the two JSON artifacts. A query is errored
    * if ANY rep threw — deterministic queries don't half-fail, and a
    * half-failed timing is not a trustworthy min. Errored queries carry an
    * `"error"` marker in the detail entry and are EXCLUDED from `total_min`
    * and the stdout `queries` map. Pure — spec-covered with a fake broken
    * query in BenchSummarySpec. */
  private[graft] def summarize(
      detail: Seq[(String, Seq[Either[String, Double]])],
      sfDir: String, reps: Int,
      detailName: String = "BENCH_DETAIL.json"): Summary = {
    val errors = detail.collect { case (name, reps) if reps.exists(_.isLeft) =>
      name -> reps.collectFirst { case Left(e) => e }.get
    }.toMap
    val results = detail.collect { case (name, reps) if !errors.contains(name) =>
      name -> reps.collect { case Right(s) => s }.min
    }.toMap
    def fmtQ(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"\"" + k + "\":" + (math.rint(v * 1e4) / 1e4)
      }.mkString("{", ",", "}")
    // The stdout line must survive the driver's bounded tail capture
    // (BENCH_r01–r10 all have "parsed": null because the 136-query map made
    // the line ~4.5 KB and the tail began mid-line). Keep the stdout map to
    // the slowest queries — the ones perf tracking cares about — and leave
    // the complete per-query record to BENCH_DETAIL.json.
    val headline =
      if (results.size <= HeadlineCap) results
      else results.toSeq.sortBy(-_._2).take(HeadlineCap).toMap
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val detailJson = detail.map { case (name, reps) =>
      val times = reps.collect { case Right(s) => s }
      // no "min" on errored queries: a min over the surviving reps would
      // read as a trustworthy timing in round-over-round diffs
      val timesPart = "\"reps\":[" + times.mkString(",") + "]" +
        (if (times.nonEmpty && !errors.contains(name)) ",\"min\":" + times.min else "")
      val errPart = errors.get(name)
        .map(e => ",\"error\":\"" + jsonEscape(e) + "\"").getOrElse("")
      s"\"" + name + "\":{" + timesPart + errPart + "}"
    }.mkString(
      s"""{"sf":"$sfDir","reps_per_query":$reps,"error_count":${errors.size},"total_min":$total,"queries":{""",
      ",", "}}")
    val stdoutJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${fmtQ(headline)},""" +
        s""""query_count":${results.size},"detail":"$detailName","sf":"$sfDir"}"""
    Summary(errors, results, detailJson, stdoutJson)
  }

  /** Max queries named on the stdout line; keeps it under ~700 bytes. */
  private[graft] val HeadlineCap = 16
}
