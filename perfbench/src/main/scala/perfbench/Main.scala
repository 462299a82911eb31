package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point. One run: generate or reuse the seeded inputs, set
  * up the session once, cold (start, tune, warm-up: `setup_s`), run the
  * workload's closed loop for `--seconds`, check every output, and print
  * one JSON line. `--trace 1` also records layer spans and Spark counters,
  * runs the probe for the layers the workload does not reach, and prints
  * the per-layer metrics instead. */
/** Cold set-up, in seconds: JVM start to `main`, session start with
  * `tune`, and the warm-up operations. */
final case class Setup(jvm: Double, session: Double, warmup: Double) {
  def total: Double = jvm + session + warmup
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, cores: Int, digest: String)

  val workloads: Seq[String] = Seq("xql_era5", "ingest_tables")
  /** Pruned queries per scan in the xql loop. */
  val PrunedPerScan = 4
  /** Nominal seconds of one untraced round on a 4-vCPU host: 15 queries
    * (each scan kind once), or 8 arrivals. */
  val XqlRoundSeconds = 3.3
  val IngestRoundSeconds = 13.0
  val XqlMiniRounds = 2

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Path.of(m("work")).toAbsolutePath, m("cores").toInt, m("digest"))
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def session(a: Args): SparkSession = {
    val s = GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", a.work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.tune(s)
  }

  /** The workload's own inputs, plus small ones for warm-up and the probe. */
  final class Inputs(a: Args) {
    private val cache = a.work.resolve("cache")
    Files.createDirectories(cache)
    private def own(w: String) = a.workload == w
    val xql: XqlEra5.Inputs =
      XqlEra5.prepare(cache, a.seed, if (own("xql_era5")) "1deg" else "mini")
    val xqlMini: XqlEra5.Inputs = if (own("xql_era5")) XqlEra5.prepare(cache, a.seed, "mini") else xql
    val ingestMini: IngestTables.Inputs = IngestTables.prepare(cache, a.seed, "mini")
    val ingest: IngestTables.Inputs =
      if (own("ingest_tables")) IngestTables.prepare(cache, a.seed, "full") else ingestMini
  }

  /** Operations of the loop's kinds, so that the loop starts on compiled
    * code paths. The JIT goes on compiling for minutes of queries, and how
    * fast it gets there differs from JVM to JVM; so the warm-up repeats
    * the loop's code paths many times on small inputs, where each
    * operation is cheap: `XqlMiniRounds` rounds of the query cycle on the
    * small store and one on the loop's own, or the first 4 arrivals of a
    * round on the small GRIB inputs (appends to both formats, one merge,
    * two queries, one split). */
  def warmup(workload: String, run: Run, in: Inputs): Unit = workload match {
    case "xql_era5" => XqlEra5.warmup(run, Seq(in.xqlMini -> XqlMiniRounds, in.xql -> 1), PrunedPerScan)
    case _ => IngestTables.run(run, in.ingestMini, 0L, 4, 4)
  }

  /** Any failure exits non-zero at once: Spark's threads would otherwise
    * keep the JVM alive past the failed run. */
  def main(argv: Array[String]): Unit =
    try {
      measure(parse(argv))
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        sys.exit(1)
    }

  def measure(a: Args): Unit = {
    // the JVM's own start-up, up to here, is part of set-up
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val start = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what done at ${(System.nanoTime() - start) / 1e9}%.2f s")
    val tmp = a.work.resolve("tmp")
    Cache.deleteTree(tmp)
    val in = new Inputs(a)
    phase("inputs")

    // set-up, cold: the session every analyst or ingest job starts with
    val t0 = System.nanoTime()
    val spark = session(a)
    val t1 = System.nanoTime()
    val warm = new Run(spark, new Recorder(None), tmp.resolve("warmup"))
    warmup(a.workload, warm, in)
    val setup = Setup(jvmStart, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    warm.failures.foreach(f => System.err.println(s"[perfbench] warm-up: $f"))
    phase("set-up")

    val rec = new Recorder(if (a.trace) Some(new ScopedCounters(spark.sparkContext)) else None)
    val run = new Run(spark, rec, tmp.resolve("run"))
    val loopStart = System.nanoTime()
    // Untraced runs make a fixed number of whole rounds, about `--seconds`
    // of work on a 4-vCPU host. A count that followed the clock would give
    // a run on a slowed host fewer and colder samples, which widens the
    // spread between runs. Traced runs make the two rounds of the
    // structural window, then go on to the deadline.
    val deadline = if (a.trace) loopStart + a.seconds * 1000000000L else 0L
    def rounds(nominalSeconds: Double): Int =
      if (a.trace) 2 else math.max(1, math.round(a.seconds / nominalSeconds).toInt)
    a.workload match {
      case "xql_era5" => XqlEra5.run(run, in.xql, deadline,
        rounds(XqlRoundSeconds) * 3 * (PrunedPerScan + 1), PrunedPerScan)
      case _ => IngestTables.run(run, in.ingest, deadline,
        rounds(IngestRoundSeconds) * in.ingest.size.arrivals)
    }
    val loopSeconds = (System.nanoTime() - loopStart) / 1e9
    phase("loop")

    val direct = mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      rec.startProbe()
      run.traceAll = true
      if (a.workload == "xql_era5") IngestTables.run(run, in.ingestMini, 0L, 8, 8)
      else XqlEra5.run(run, in.xql, 0L, 8, 3, 8)
      direct("zarr.blosc_decode_mb_per_s") = XqlEra5.bloscMbPerS(in.xql)
      val (index, decode) = GribDirect.measure(
        (0 until in.ingest.size.arrivals).filterNot(in.ingest.isRedelivery).map(in.ingest.file))
      direct("grib.index_s") = index
      direct("grib.decode_mb_per_s") = decode
      rec.writeSpans(a.work.resolve(s"trace/${a.workload}-${a.seed}.jsonl"))
      phase("probe and direct calls")
    }

    val report = new Report(a, run, setup, loopSeconds, direct.toMap)
    report.print(warm.attempted, warm.failed)
    spark.stop()
    Cache.deleteTree(tmp)
    phase("report")
  }
}
