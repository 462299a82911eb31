package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the recorder, the samples of
  * each named operation, and the outcome of every output check. */
final class Run(val spark: SparkSession, val rec: Recorder, val work: Path) {
  /** Samples by operation name, split by whether the operation was traced. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val tracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Samples of each operation name by shape (a query shape, or the table
    * an arrival lands in), traced or not. */
  val shapes = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]]
  /** Per traced sample: the layer spans' seconds and the instrumentation's
    * seconds within them. */
  val tracedParts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
  /** Whether the latest execution was traced (read by its check). */
  var lastTraced = false
  /** The probe traces every operation. */
  var traceAll = false
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  private val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)

  def layerValue(name: String, v: Double): Unit = rec.value(name, v)

  /** The executions of the `k`-th operation of a kind, each marked traced
    * or not. Untraced runs and the probe execute it once. In the loop of a
    * traced run, a repeatable operation (a read) executes twice, bare and
    * traced, so the pair measures the tracing overhead on the same work.
    * The second of a pair tends to run faster, so the order
    * alternates, and flips every 4 operations: each shape of a 4-query
    * cycle runs first traced as often as first bare. An operation with
    * effects is traced in alternating pairs of its kind instead. */
  private def executions(k: Int, repeatable: Boolean): Seq[Boolean] =
    if (!rec.traced) Seq(false)
    else if (traceAll) Seq(true)
    else if (repeatable) if ((k + k / 4) % 2 == 0) Seq(false, true) else Seq(true, false)
    else Seq((k / 2) % 2 == 0)

  /** Run one user operation, then check its result outside the timed
    * region. A failed or wrong operation counts in `failed` and gives no
    * latency sample, so it can never read as a fast run. */
  def op[A](kind: String, repeatable: Boolean = false, shape: String = "")(body: => A)(
      check: A => Option[String]): Unit = {
    attempted += 1
    val k = perKind(kind)
    perKind(kind) = k + 1
    val failure = executions(k, repeatable).iterator.map { traced =>
      lastTraced = traced
      val result =
        try {
          val (out, s) = rec.op(kind, traced)(body)
          check(out).toLeft(s)
        } catch {
          case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      result.foreach { s =>
        System.err.println(f"[perfbench] $kind ${if (traced) "traced" else "bare"} $s%.4f s")
        val into = if (traced) tracedSamples else samples
        if (rec.inMain) {
          into.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
          shapes.getOrElseUpdate(kind, mutable.LinkedHashMap.empty)
            .getOrElseUpdate(shape, mutable.ArrayBuffer.empty) += s
          if (traced) tracedParts.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
            ((rec.lastLayerSeconds, rec.lastInstrSeconds))
        }
      }
      result.left.toOption
    }.collectFirst { case Some(why) => why }
    failure.foreach { why =>
      failed += 1
      if (failures.size < 20) failures += s"$kind: ${why.take(300)}"
      System.err.println(s"[perfbench] FAILED $kind: $why")
    }
  }

  def all(kind: String): Seq[Double] =
    samples.getOrElse(kind, Nil).toSeq ++ tracedSamples.getOrElse(kind, Nil)
}

object Check {
  def near(what: String, got: Double, want: Double, tol: Double): Option[String] =
    if (got.isNaN && want.isNaN) None
    else if (math.abs(got - want) <= tol) None
    else Some(f"$what: got $got%.6f, want $want%.6f (tolerance $tol)")

  def same[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def all(checks: Option[String]*): Option[String] = checks.flatten.headOption

  /** A Spark result cell as a double; SQL NULL reads as NaN. */
  def num(v: Any): Double = v match {
    case null => Double.NaN
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  def time(v: Any): java.time.LocalDateTime = v match {
    case t: java.sql.Timestamp => t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
    case l: java.time.LocalDateTime => l
    case other => throw new IllegalArgumentException(s"not a timestamp: $other")
  }
}
