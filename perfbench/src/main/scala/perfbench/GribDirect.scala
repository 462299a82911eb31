package perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration

import graft.sources.grib.GribIndex

/** Direct single-thread calls on a workload's own GRIB messages. */
object GribDirect {
  /** Median seconds to index one file, and decode rate in MB of decoded
    * float64 values per second. */
  def measure(files: Seq[Path]): (Double, Double) = {
    val conf = new Configuration()
    val index = files.flatMap { f =>
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        GribIndex.indexFile(conf, f.toString)
        (System.nanoTime() - t0) / 1e9
      }
    }
    val units = files.flatMap { f =>
      val bytes = Files.readAllBytes(f)
      GribIndex.indexFile(conf, f.toString).map { u =>
        val data = java.util.Arrays.copyOfRange(bytes, u.dataOffset.toInt, u.dataOffset.toInt + u.dataBytes)
        val bitmap = if (u.bitmapOffset < 0) null else java.util.Arrays.copyOfRange(
          bytes, u.bitmapOffset.toInt, u.bitmapOffset.toInt + u.bitmapBytes)
        (u, data, bitmap)
      }
    }
    var bytes = 0L
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 2 || System.nanoTime() - t0 < 500000000L) {
      units.foreach { case (u, d, b) => bytes += 8L * u.decode(d, b).length }
      passes += 1
    }
    (Stats.median(index), bytes / 1e6 / ((System.nanoTime() - t0) / 1e9))
  }
}
