package perfbench

import java.nio.file.Files

import scala.collection.mutable

/** Turns one run into metrics: the end-to-end set (untraced runs) or the
  * per-layer set (traced runs), a readable report of the workload's named
  * metrics, and the one-line JSON result. */
final class Report(a: Main.Args, run: Run, setup: Setup,
    loopSeconds: Double, direct: Map[String, Double]) {
  private val rec = run.rec
  private def out(s: String): Unit = println(s"[perfbench] $s")

  /** The workload's two operation classes, what one unit of work is, and
    * the repeatable class whose bare and traced pairs give the overhead. */
  private val (primary, secondary, unit, paired) = a.workload match {
    case "xql_era5" => ("xql.pruned", "xql.scan", Seq("xql.pruned", "xql.scan"), "xql.pruned")
    case _ => ("ingest.visible", "ingest.query", Seq("ingest.visible", "ingest.redelivery"), "ingest.query")
  }

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)
  private def busySeconds: Double = (run.samples.values ++ run.tracedSamples.values).flatten.sum
  private def units: Int = unit.map(run.all(_).size).sum

  def peakRssMb: Double = {
    val line = Files.readAllLines(java.nio.file.Path.of("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** Mean over a class's shapes of each shape's median. Shapes differ in
    * cost (a point series against a box, a Delta commit against an Iceberg
    * one), so one median over the mixed class falls in the gap between
    * them and jumps from run to run; each shape weighs the same here. */
  private def shapeMean(kind: String): Double = {
    val meds = run.shapes.getOrElse(kind, Map.empty).values.map(xs => median(xs.toSeq))
    if (meds.isEmpty) Double.NaN else meds.sum / meds.size
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setup.total, "s"),
    ("primary_s", shapeMean(primary), "s"),
    ("secondary_s", shapeMean(secondary), "s"),
    ("ops_per_s", units / busySeconds, "1/s"),
    ("peak_rss_mb", peakRssMb, "MB"))

  /** Metrics of one operator over its scopes: call time, Spark job time
    * and counters per call (structural window), and useful-row share when
    * the program's own figures give one. */
  private def operator(op: String, scopes: Seq[String],
      keptShare: Either[String, Double]): Seq[(String, Double, String)] = {
    val g = rec.group(scopes)
    val calls = g.get(scopes.head).map(_.windowCalls).getOrElse(0)
    val c = g.values.map(_.windowCounts).foldLeft(Counts.zero)(_ + _)
    def per(v: Long, scale: Double = 1.0) = if (calls == 0) Double.NaN else v / scale / calls
    val records =
      if (c.recordsRead == 0) {
        out(s"$op.records_read unavailable: the input counter reads 0 on calls that read data")
        Nil
      } else Seq((s"$op.records_read", per(c.recordsRead), "count"))
    if (c.bytesRead == 0) out(s"$op.input_bytes unavailable: the input counter reads 0")
    val kept = keptShare match {
      case Right(v) => Seq((s"$op.rows_kept_share", v, "ratio"))
      case Left(why) => out(s"$op.rows_kept_share unavailable: $why"); Nil
    }
    Seq(
      (s"$op.call_s", median(g.get(scopes.head).toSeq.flatMap(_.seconds)), "s"),
      (s"$op.exec_s", per(c.execMs, 1000.0), "s"),
      (s"$op.jobs", per(c.jobs), "count"),
      (s"$op.stages", per(c.stages), "count"),
      (s"$op.tasks", per(c.tasks), "count"),
      (s"$op.task_s", per(c.taskMs, 1000.0), "s"),
      (s"$op.gc_s", per(c.gcMs, 1000.0), "s"),
      (s"$op.shuffle_write_bytes", per(c.shuffleWriteBytes), "bytes")) ++
      records ++ kept
  }

  private def secondsOf(scopes: String*): Double =
    median(rec.group(scopes).values.toSeq.flatMap(_.seconds))

  private def jobsPer(scopes: String*): Double = {
    val g = rec.group(scopes).values
    val calls = g.map(_.windowCalls).sum
    if (calls == 0) Double.NaN else g.map(_.windowCounts.jobs).sum.toDouble / calls
  }

  private def value(name: String): Double = rec.valueOf(name).getOrElse(Double.NaN)

  /** Main-loop spans only: the probe's operations are not the workload's. */
  private lazy val mainSpans = rec.spans.filter(_.op < rec.probeFromOp)

  /** A span's duration minus the part its child spans cover. */
  private lazy val selfOf: Span => Double = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    mainSpans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    s => s.seconds - child(s.id)
  }

  private def selfByName: Map[String, Double] =
    mainSpans.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfOf).sum }

  private def overheadShare: Double = {
    val bare = median(run.samples.getOrElse(paired, Nil).toSeq)
    (median(run.tracedSamples.getOrElse(paired, Nil).toSeq) - bare) / bare
  }

  /** Share of traced operation time that no layer span covers. */
  private def unattributedShare: Double = {
    val roots = mainSpans.filter(_.parent < 0)
    selfByName.filter(_._1.startsWith("op.")).values.sum / roots.map(_.seconds).sum
  }

  lazy val perLayer: Seq[(String, Double, String)] = {
    val wxKept = rec.valueOf("wxsql.rows_kept_share")
      .toRight("the probe decoded no Zarr chunks")
    Seq(
      ("session.start_s", setup.session, "s"),
      ("session.warmup_s", setup.warmup, "s"),
      ("zarr.open_s", secondsOf("zarr.open"), "s"),
      ("zarr.chunks_read", value("zarr.chunks_read"), "count"),
      ("zarr.chunks_pruned_share", value("zarr.chunks_pruned_share"), "ratio"),
      ("zarr.blosc_decode_mb_per_s", direct("zarr.blosc_decode_mb_per_s"), "MB/s"),
      ("grib.index_s", direct("grib.index_s"), "s"),
      ("grib.open_s", secondsOf("grib.open"), "s"),
      ("grib.decode_mb_per_s", direct("grib.decode_mb_per_s"), "MB/s")) ++
      operator("wxsql", Seq("wxsql.call", "wxsql.exec"), wxKept) ++
      operator("mover", Seq("mover.call"), Left("its plan runs inside the append, and " +
        "the GRIB scan has no input counter, so rows decoded are not observable")) ++
      operator("splitter", Seq("splitter.call"), Left("the splitter writes every row " +
        "it reads, so the share is 1 on every correct run")) ++ Seq(
      ("commit.delta_append_s", secondsOf("commit.delta_append"), "s"),
      ("commit.iceberg_append_s", secondsOf("commit.iceberg_append"), "s"),
      ("commit.jobs_per_commit", jobsPer("commit.delta_append", "commit.iceberg_append",
        "commit.delta_merge", "commit.iceberg_merge"), "count"),
      ("commit.delta_merge_s", secondsOf("commit.delta_merge"), "s"),
      ("commit.iceberg_merge_s", secondsOf("commit.iceberg_merge"), "s"),
      ("commit.bytes_written_per_user_byte", value("commit.bytes_written_per_user_byte"), "ratio"),
      ("replay.delta_s", secondsOf("replay.delta"), "s"),
      ("replay.iceberg_s", secondsOf("replay.iceberg"), "s"),
      ("replay.jobs_per_read", jobsPer("replay.delta", "replay.iceberg"), "count"),
      ("replay.s_per_100_commits", value("replay.s_per_100_commits"), "s"),
      ("follow.poll_s", secondsOf("follow.delta", "follow.iceberg"), "s"),
      ("follow.jobs", jobsPer("follow.delta", "follow.iceberg"), "count"),
      ("trace.overhead_share", overheadShare, "ratio"),
      ("trace.unattributed_share", unattributedShare, "ratio"))
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** The issue-level named metrics of this workload, with sample counts. */
  private def printNamed(): Unit = {
    def timing(name: String, kind: String, q: Double): Unit = {
      val xs = run.all(kind)
      if (q > 0.5 && xs.size < 100)
        out(f"metric $name unreported: needs 100 samples, have ${xs.size}")
      else if (xs.nonEmpty)
        out(f"metric $name ${Stats.quantile(xs, q)}%.6f s n=${xs.size}")
    }
    out(f"metric setup_s ${setup.total}%.6f s n=1")
    for (k <- Seq(primary, secondary); (shape, xs) <- run.shapes.getOrElse(k, Map.empty))
      out(f"shape $k${if (shape.isEmpty) "" else "." + shape} p50 ${median(xs.toSeq)}%.6f s n=${xs.size}")
    a.workload match {
      case "xql_era5" =>
        timing("xql.scan_p50_s", "xql.scan", 0.5)
        timing("xql.pruned_p50_s", "xql.pruned", 0.5)
        timing("xql.pruned_p90_s", "xql.pruned", 0.9)
      case _ =>
        timing("ingest.visible_p50_s", "ingest.visible", 0.5)
        timing("ingest.visible_p90_s", "ingest.visible", 0.9)
        out(f"metric ingest.arrivals_per_s ${units / busySeconds}%.6f 1/s n=$units")
        timing("ingest.query_p50_s", "ingest.query", 0.5)
        timing("ingest.split_p50_s", "ingest.split", 0.5)
    }
    out(f"metric ops.failed_share ${run.failed.toDouble / math.max(1, run.attempted)}%.6f ratio n=${run.attempted}")
    out(f"metric peak_rss_mb $peakRssMb%.1f MB n=1")
    out(f"loop ${loopSeconds}%.2f s, busy ${busySeconds}%.2f s, operations ${run.attempted}")
  }

  /** Self time per span name, and the accounting check: no more than
    * `UnattributedBound` of traced time lies outside layer spans, and on
    * the paired operations (the same work run bare and traced) the layer
    * time, with the instrumentation's own time (measured directly) taken
    * out, is within `AccountingBound` of the untraced time. */
  private def traceCheck(): Option[String] = {
    val self = selfByName
    val total = self.values.sum
    self.toSeq.sortBy(-_._2).foreach { case (n, s) =>
      out(f"self $n%-24s $s%9.3f s ${100 * s / total}%5.1f%%")
    }
    val bare = run.samples.getOrElse(paired, Nil).toSeq
    val traced = run.tracedSamples.getOrElse(paired, Nil).toSeq
    val parts = run.tracedParts.getOrElse(paired, Nil).toSeq
    if (bare.isEmpty || traced.isEmpty) return Some(s"trace: no traced and untraced $paired samples to compare")
    val untraced = median(bare)
    val instr = median(parts.map(_._2))
    val layer = median(parts.map(p => p._1 - p._2))
    val gap = (untraced - layer) / untraced
    val unattributed = unattributedShare
    out(f"trace $paired: untraced median $untraced%.4f s (n=${bare.size}), traced median ${median(traced)}%.4f s (n=${traced.size}), " +
      f"instrumentation median $instr%.4f s")
    out(f"trace $paired: layer time without instrumentation $layer%.4f s, ${100 * gap}%.1f%% off the untraced time " +
      f"(bound ${100 * Report.AccountingBound}%.0f%%); unattributed ${100 * unattributed}%.2f%% of traced time " +
      f"(bound ${100 * Report.UnattributedBound}%.0f%%)")
    Check.all(
      if (unattributed <= Report.UnattributedBound) None
      else Some(f"trace: $unattributed%.4f of traced time is in no layer span"),
      if (math.abs(gap) <= Report.AccountingBound) None
      else Some(f"trace: layer time $layer%.4f s does not account for untraced $untraced%.4f s"))
  }

  /** Records the structural counts of this seed for this program (keyed by
    * the source digest), or compares them with the record. */
  private def structural(): Option[String] = {
    val path = a.work.resolve(s"structural/${a.digest.take(16)}/${a.workload}-${a.seed}.tsv")
    val lines = rec.scopes.map { case (n, s) =>
      val c = s.windowCounts
      s"$n\t${s.windowCalls}\t${c.jobs}\t${c.stages}\t${c.tasks}\t${c.recordsRead}\t${c.shuffleWriteBytes}"
    } ++ Seq("zarr.chunks_read", "commit.jobs_per_commit").flatMap(n =>
      perLayer.find(_._1 == n).map(m => s"$n\t${m._2}"))
    val now = lines.mkString("", "\n", "\n")
    if (Files.exists(path)) {
      val (was, is) = (Files.readString(path).linesIterator.toSet, now.linesIterator.toSet)
      val diff = (was diff is) ++ (is diff was)
      out(s"structural counts repeat exactly for seed ${a.seed}: ${diff.isEmpty}")
      if (diff.isEmpty) None
      else Some(s"structural counts changed for seed ${a.seed}: ${diff.map(_.split('\t').head).mkString(", ")}")
    } else {
      Files.createDirectories(path.getParent)
      Files.writeString(path, now)
      out(s"structural counts recorded for seed ${a.seed}")
      None
    }
  }

  def print(warmAttempted: Int, warmFailed: Int): Unit = {
    printNamed()
    run.failures.foreach(f => out(s"FAILED $f"))
    val (metrics, checks) =
      if (a.trace) (perLayer, Seq(traceCheck(), structural()).flatten) else (endToEnd, Nil)
    metrics.foreach { case (n, v, u) => out(f"$n%-36s ${fmt(v)}%s $u") }
    checks.foreach(c => out(s"FAILED $c"))
    val attempted = run.attempted + warmAttempted
    val failed = run.failed + warmFailed
    val correct = failed == 0 && checks.isEmpty &&
      metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }
}

object Report {
  val UnattributedBound = 0.05
  val AccountingBound = 0.25
}
