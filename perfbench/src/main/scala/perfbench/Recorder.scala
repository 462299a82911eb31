package perfbench

import scala.collection.mutable

/** One span: a call into a layer, or the root span of one user operation.
  * Spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-layer record: call durations, and Spark counters summed over the
  * calls made inside the structural window (a fixed, seeded prefix of the
  * run, so the counts repeat exactly for one seed). */
final class LayerStats {
  val seconds = mutable.ArrayBuffer.empty[Double]
  var windowCalls = 0
  var windowCounts: Counts = Counts.zero
}

/** Client-side instrumentation. Untraced runs only time user operations.
  * Traced runs also wrap each layer call in a span and a job-group scope;
  * spans stay in memory until [[writeSpans]]. */
final class Recorder(val counters: Option[ScopedCounters]) {
  val traced: Boolean = counters.isDefined
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Layer records of the workload's own loop, and of the probe that covers
    * the layers the loop does not reach. */
  private val main, probe = mutable.LinkedHashMap.empty[String, LayerStats]
  private val mainValues, probeValues = mutable.LinkedHashMap.empty[String, Double]
  var inMain = true
  /** First operation id of the probe; spans of earlier ids are the loop's. */
  var probeFromOp: Int = Int.MaxValue
  var window = true
  private var on = false
  private var opId = 0
  private var stack: List[Int] = Nil
  /** Of the latest traced operation: the seconds its layer spans cover
    * (top-level ones), and the seconds the instrumentation itself took
    * inside them (span and scope bookkeeping, listener-bus drains). */
  var lastLayerSeconds = 0.0
  var lastInstrSeconds = 0.0

  def startProbe(): Unit = { inMain = false; window = true; probeFromOp = opId + 1 }

  def layer(name: String): LayerStats =
    (if (inMain) main else probe).getOrElseUpdate(name, new LayerStats)

  /** A derived per-layer value (a count or ratio measured outside spans). */
  def value(name: String, v: Double): Unit = (if (inMain) mainValues else probeValues)(name) = v

  /** Records of a group of layer scopes that one metric spans: the loop's
    * when the loop reached any of them, else the probe's. */
  def group(names: Seq[String]): Map[String, LayerStats] = {
    val from = if (names.exists(main.contains)) main else probe
    names.flatMap(n => from.get(n).map(n -> _)).toMap
  }

  /** Every scope, the loop's first, for the structural record. */
  def scopes: Seq[(String, LayerStats)] =
    main.toSeq.map { case (n, s) => s"loop:$n" -> s } ++
      probe.toSeq.map { case (n, s) => s"probe:$n" -> s }

  def valueOf(name: String): Option[Double] = mainValues.get(name).orElse(probeValues.get(name))

  private def open(name: String): Int = {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), opId, name, System.nanoTime(), 0L)
    stack = id :: stack
    id
  }

  private def close(id: Int): Unit = {
    spans(id) = spans(id).copy(endNs = System.nanoTime())
    stack = stack.tail
  }

  /** One user operation; traced when the run is and `traceThis` holds.
    * Returns the body's value and its wall seconds. */
  def op[T](kind: String, traceThis: Boolean)(body: => T): (T, Double) = {
    on = traced && traceThis
    opId += 1
    lastLayerSeconds = 0.0
    lastInstrSeconds = 0.0
    val id = if (on) open(s"op.$kind") else -1
    val t0 = System.nanoTime()
    val out = try body finally { if (on) close(id); on = false }
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** A call into one layer. Inside a traced operation it gets a span and
    * its own Spark counter scope; otherwise it runs bare. */
  def call[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = open(name)
      var bodyNs = 0L
      val (out, c) =
        try counters.get.scoped(name) {
          val t0 = System.nanoTime()
          try body finally bodyNs = System.nanoTime() - t0
        }
        finally close(id)
      val s = layer(name)
      s.seconds += spans(id).seconds
      // a nested call's own bookkeeping lies inside its parent's body
      lastInstrSeconds += spans(id).seconds - bodyNs / 1e9
      if (spans(id).parent >= 0 && spans(spans(id).parent).parent < 0)
        lastLayerSeconds += spans(id).seconds
      if (window) { s.windowCalls += 1; s.windowCounts = s.windowCounts + c }
      out
    }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Stats {
  /** Linear-interpolation quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
}
