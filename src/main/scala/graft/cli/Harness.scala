package graft.cli

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftBusDrain, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, GraftSession, SparkEntry}

/** The query dev harness, on the driver bench's session and loop.
  *
  *  - `profile`: `Bench`'s sf0.001 warm-up and interleaved passes over the
  *    selected queries, reporting each query's min-wall rep with the Spark
  *    jobs, stages, tasks, executor task seconds, shuffle bytes written and
  *    input bytes of that rep.
  *  - `dump`: one query's result as a single CSV (header row, driver order);
  *    the golden-file generator for queries without a DuckDB oracle.
  *  - `explain`: the formatted physical plan of each selected query, to
  *    stdout or to `<planDir>/<name>.txt` for before/after diffs.
  *
  * `names` is a comma-separated list of query-name prefixes, or `all`.
  * Cores and shuffle partitions: `SPARK_GRAFT_CPUS` (default 4).
  *
  * Usage: runMain graft.cli.Harness profile <sfDir> [names|all] [reps]
  *        runMain graft.cli.Harness dump <sfDir> <queryName> <outFile>
  *        runMain graft.cli.Harness explain <sfDir> <names|all> [planDir]
  */
object Harness {
  final case class Profile(wall: Double, jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, shuffleWriteBytes: Long, inputBytes: Long)

  /** Session-wide counters. The listener bus thread writes them while the
    * caller reads, hence atomics; `read` drains the bus first. */
  private final class Counters extends SparkListener {
    private val jobs, stages, tasks, taskMs, shuffleWrite, input = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        taskMs.addAndGet(m.executorRunTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    def read(sc: SparkContext): Seq[Long] = {
      GraftBusDrain(sc)
      Seq(jobs, stages, tasks, taskMs, shuffleWrite, input).map(_.get)
    }
  }

  /** [[Bench.passes]] over `inventory` with the counters read around each
    * rep: every query's reps in order. */
  def profile(spark: SparkSession, inventory: Seq[(String, Bench.Query)],
      sfDir: String, reps: Int): Seq[(String, Seq[Either[String, Profile]])] = {
    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)
    try Bench.passes(spark, inventory, sfDir, reps) { rep =>
      val before = counters.read(sc)
      rep.map { wall =>
        val Seq(jobs, stages, tasks, taskMs, shuffleWrite, input) =
          counters.read(sc).zip(before).map { case (a, b) => a - b }
        Profile(wall, jobs, stages, tasks, taskMs, shuffleWrite, input)
      }
    } finally sc.removeSparkListener(counters)
  }

  /** `f`'s result and its wall seconds. */
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** `df`'s rows as CSV with a header row. RFC 4180 quoting: values with a
    * comma, quote or newline are wrapped and internal quotes doubled, so
    * free-text columns can't corrupt a golden. */
  def csv(df: DataFrame): String = {
    def cell(v: String): String =
      if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    val sb = new StringBuilder(df.columns.map(cell).mkString(",")).append('\n')
    df.collect().foreach(r => sb.append(
      (0 until r.length).map(i => cell(String.valueOf(r.get(i)))).mkString(",")).append('\n'))
    sb.toString
  }

  private def select(names: String): Seq[(String, Bench.Query)] = {
    val inventory = SparkEntry.queries.toSeq.sortBy(_._1)
    if (names == "all") inventory
    else {
      val want = names.split(",").map(_.trim).toSeq
      inventory.filter { case (n, _) => want.exists(n.startsWith) }
    }
  }

  private val usage =
    "usage: Harness profile <sfDir> [names|all] [reps] | dump <sfDir> <queryName> <outFile>" +
      " | explain <sfDir> <names|all> [planDir]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("profile", "dump", "explain")(args(0)), usage)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val (spark, sfDir) = (GraftSession.local(cpus, cpus), args(1))
    try args(0) match {
      case "profile" =>
        val reps = if (args.length > 3) args(3).toInt else 1
        val runs = profile(spark, select(args.lift(2).getOrElse("all")), sfDir, reps)
        println(f"${"query"}%-34s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s " +
          f"${"taskSec"}%8s ${"shufMB"}%7s ${"inMB"}%9s")
        runs.foreach { case (name, rs) =>
          rs.collectFirst { case Left(e) => e } match {
            case Some(e) => println(s"$name ERROR: $e")
            case None =>
              val p = rs.collect { case Right(p) => p }.minBy(_.wall)
              println(f"$name%-34s ${p.wall}%7.3f ${p.jobs}%5d ${p.stages}%6d ${p.tasks}%6d " +
                f"${p.taskMs / 1e3}%8.2f ${p.shuffleWriteBytes / 1e6}%7.1f ${p.inputBytes / 1e6}%9.3f")
          }
        }
      case "dump" =>
        require(args.length == 4, usage)
        val Array(_, _, name, outFile) = args
        Files.writeString(Paths.get(outFile), csv(SparkEntry.queries(name)(spark, sfDir)))
        println(s"[dump] $name -> $outFile")
      case "explain" =>
        require(args.length >= 3, usage)
        select(args(2)).foreach { case (name, fn) =>
          val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          args.lift(3) match {
            case Some(dir) =>
              Files.createDirectories(Paths.get(dir))
              Files.writeString(Paths.get(dir, s"$name.txt"), plan)
            case None => println(s"==== $name ====\n$plan")
          }
        }
    } finally spark.stop()
  }
}
