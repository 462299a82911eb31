package graft.cli

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}

import graft.sources.{ColumnStats, DeltaTable, DeltaWriter, IcebergTable,
  IcebergWriter}

/** Scale evidence for statistics-based file skipping (the PERF_NOTES
  * discipline: 100 TB claims are measured, not asserted).
  *
  * N commits of range-disjoint rows into each table format, then a
  * selective read three ways: full scan + filter, readWhere (stats
  * pruning), and a point lookup. Every arm REQUIRES the pruned result to
  * equal the unpruned one (count + id-sum), and prints the scanned-file
  * counts — the quantity that shrinks from O(table) to O(matching
  * range) and the whole reason a selective predicate over a 100 TB
  * table reads MB.
  *
  * Usage: Test/runMain graft.cli.SkippingStress [workRoot] [commits] [rowsPerCommit]
  */
object SkippingStress {
  def main(args: Array[String]): Unit = {
    import Harness.time
    val root = if (args.length > 0) args(0) else "/tmp/graft-skipping"
    val commits = if (args.length > 1) args(1).toInt else 16
    val rows = if (args.length > 2) args(2).toInt else 25000
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    val n = commits.toLong * rows
    def batch(k: Int) = spark.range(k.toLong * rows, (k + 1).toLong * rows)
      .select($"id",
        concat((0 until 4).map(i =>
          sha2(concat($"id".cast("string"), lit(s"-$i")), 512)): _*)
          .as("text"),
        ($"id" % 997).cast("double").as("score"))

    // predicates: one range (1/commits of the table), one point row
    val lo = n / 2
    val hi = lo + rows
    val rangeF = Seq(GreaterThanOrEqual("id", lo), LessThan("id", hi))
    val pointF = Seq(EqualTo("id", lo + 7L))
    val rangeC = rangeF.map(ColumnStats.filterColumn).reduce(_ && _)

    for ((fmt, dir) <- Seq(("delta", s"$root/delta"),
      ("iceberg", s"$root/iceberg"))) {
      val (_, wT) = time {
        for (k <- 0 until commits) fmt match {
          case "delta" => DeltaWriter.writeAppend(spark, batch(k), dir)
          case _ => IcebergWriter.writeAppend(spark, batch(k), dir)
        }
      }
      def read() = fmt match {
        case "delta" => DeltaTable.read(spark, dir)
        case _ => IcebergTable.read(spark, dir)
      }
      def readW(f: Seq[org.apache.spark.sql.sources.Filter]) = fmt match {
        case "delta" => DeltaTable.readWhere(spark, dir, f)
        case _ => IcebergTable.readWhere(spark, dir, f)
      }
      val full = read()
      val totalFiles = full.inputFiles.length
      val (fullAgg, tFull) = time(full.filter(rangeC)
        .agg(count(lit(1)), sum($"id")).head())
      val pruned = readW(rangeF)
      val prunedFiles = pruned.inputFiles.length
      val (prAgg, tPruned) = time(pruned
        .agg(count(lit(1)), sum($"id")).head())
      require(fullAgg.getLong(0) == prAgg.getLong(0) &&
        fullAgg.getLong(1) == prAgg.getLong(1),
        s"$fmt: pruned result diverged — " +
          s"${fullAgg.toSeq} vs ${prAgg.toSeq}")
      val point = readW(pointF)
      val (pc, tPoint) = time(point.count())
      require(pc == 1L, s"$fmt: point lookup found $pc rows")
      println(f"[stress] $fmt skipping: $n rows / $commits commits " +
        f"(write $wT%.2f s); range predicate (1/$commits of table) — " +
        f"full scan $totalFiles files $tFull%.2f s, " +
        f"pruned ${prunedFiles} files $tPruned%.2f s " +
        f"(${tFull / tPruned}%.1fx); point lookup " +
        f"${point.inputFiles.length} files $tPoint%.2f s; " +
        s"results identical (count+idSum)")
    }

    // ---- Z-ORDER: pruning on the NON-append dimension, before vs after
    // score is independent of the append ranges, so pre-zorder a score
    // predicate prunes nothing; post-zorder it must shrink the scan
    val zdir = s"$root/zorder"
    for (k <- 0 until commits)
      DeltaWriter.writeAppend(spark, batch(k), zdir)
    // `<` — fractional UPPER bounds never prune >/>= (the NaN rule),
    // lower bounds do
    val scoreF = Seq(LessThan("score", 100.0))
    val preZ = DeltaTable.readWhere(spark, zdir, scoreF)
    val preFiles = preZ.inputFiles.length
    val (preAgg, tPre) = time(preZ.agg(count(lit(1)), sum($"id")).head())
    val (_, tOpt) = time(DeltaWriter.compact(spark, zdir,
      targetFileBytes = 8L << 20, zorderBy = Seq("id", "score")))
    val postZ = DeltaTable.readWhere(spark, zdir, scoreF)
    val postFiles = postZ.inputFiles.length
    val (postAgg, tPost) = time(postZ.agg(count(lit(1)), sum($"id")).head())
    require(preAgg.getLong(0) == postAgg.getLong(0) &&
      preAgg.getLong(1) == postAgg.getLong(1),
      s"zorder changed the result: ${preAgg.toSeq} vs ${postAgg.toSeq}")
    val totalPost = DeltaTable.read(spark, zdir).inputFiles.length
    println(f"[stress] zorder: score predicate (~1/10 of rows) scanned " +
      f"$preFiles files $tPre%.2f s pre-ZORDER, $postFiles of $totalPost " +
      f"files $tPost%.2f s after OPTIMIZE ZORDER(id, score) " +
      f"($tOpt%.2f s rewrite); results identical")
    spark.stop()
  }
}
