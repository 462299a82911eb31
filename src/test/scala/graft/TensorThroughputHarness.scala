package graft

import org.apache.spark.sql.functions._

import graft.sources.{Npy, Safetensors}

/** Dev-only throughput harness for the tensor containers (run with
  * `Test/runMain graft.TensorThroughputHarness [rows] [cols]`): writes a
  * ~128 MB f4 embedding matrix as .npy and as one safetensors tensor,
  * then times cold/warm full scans with a checksum aggregate. Numbers
  * land in PERF_NOTES.md. */
object TensorThroughputHarness {

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toInt else 2000000
    val cols = if (args.length > 1) args(1).toInt else 16

    val spark = GraftSession.local(32)

    val dir = java.nio.file.Files.createTempDirectory("tensorbench").toString
    val mb = rows.toLong * cols * 4 / 1e6
    println(f"[tensorbench] matrix ${rows}x$cols f4 = $mb%.0f MB")
    val vals = new Array[Double](rows * cols)
    var i = 0
    while (i < vals.length) { vals(i) = (i % 1000) / 8.0; i += 1 }
    val t0 = System.nanoTime()
    Npy.write(s"$dir/emb.npy", Seq(rows, cols), scala.collection.immutable.ArraySeq.unsafeWrapArray(vals), descr = "<f4")
    println(f"[tensorbench] npy write: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val t1 = System.nanoTime()
    Safetensors.write(s"$dir/emb.safetensors",
      Seq(("emb", Seq(rows.toLong, cols.toLong),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))), "F32")
    println(f"[tensorbench] safetensors write: ${(System.nanoTime() - t1) / 1e9}%.2f s")

    def time(label: String)(f: => Unit): Unit = {
      val s = System.nanoTime()
      f
      println(f"[tensorbench] $label: ${(System.nanoTime() - s) / 1e9}%.2f s")
    }
    time("npy cold scan (sum of row sums)") {
      Npy.read(spark, s"$dir/emb.npy")
        .agg(sum(aggregate(col("values"), lit(0.0), (a, x) => a + x))).head()
    }
    time("npy warm scan") {
      Npy.read(spark, s"$dir/emb.npy")
        .agg(sum(aggregate(col("values"), lit(0.0), (a, x) => a + x))).head()
    }
    time("safetensors cold scan") {
      Safetensors.read(spark, s"$dir/emb.safetensors")
        .agg(sum(aggregate(col("values"), lit(0.0), (a, x) => a + x))).head()
    }
    time("safetensors warm scan") {
      Safetensors.read(spark, s"$dir/emb.safetensors")
        .agg(sum(aggregate(col("values"), lit(0.0), (a, x) => a + x))).head()
    }
    spark.stop()
  }
}
