package graft.sources.grib

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** weather-sp GRIB splitting with the reference's actual output semantics
  * (weather_sp/splitter_pipeline/file_splitters.py:159-313): each output is
  * a REAL GRIB file containing the group's messages — produced by copying
  * message byte spans verbatim (offset + length from the header index), so
  * outputs are bit-identical to the inputs' messages and readable by any
  * GRIB tool. No decode, no re-encode. Every message is copied: edition 1,
  * edition 2, mixed-edition files and spectral messages alike. An edition-2
  * message carrying fields with DIFFERENT keys is copied into every
  * matching group (fields sharing a message travel together — the message
  * is the atomic unit of a byte-copy split).
  *
  * Distribution: the driver indexes headers only; groups fan out across
  * tasks, and each task ranged-reads exactly its own messages' spans and
  * streams them into its output file. Memory per task is one copy buffer.
  */
object GribSplitter {

  /** Split a GRIB file by each message's distinct shortNames (the
    * reference's `--formatting {shortname}` mode). Returns key -> output
    * path. */
  def split(spark: SparkSession, path: String, outDir: String): Map[String, String] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val msgs = GribIndex.indexMessageSpans(conf, path)
    require(msgs.nonEmpty, s"not a GRIB file: $path")
    val groups = msgs
      .flatMap { case (off, len, units) => units.map(_.shortName).distinct.map(_ -> ((off, len))) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    val base = {
      val n = new Path(path).getName
      if (n.contains('.')) n.substring(0, n.lastIndexOf('.')) else n
    }
    val pathLocal = path
    val outLocal = outDir
    val tconf = graft.sources.TaskConf(conf)
    val nPart = math.max(1, math.min(groups.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(groups, nPart).map { case (key, spans) =>
      val conf = tconf.value
      val in = new Path(pathLocal)
      val fs = in.getFileSystem(conf)
      val outPath = new Path(s"$outLocal/${base}_$key.grib")
      val outFs = outPath.getFileSystem(conf)
      val is = fs.open(in)
      val os = outFs.create(outPath, true)
      try {
        val buf = new Array[Byte](1 << 16)
        spans.foreach { case (offset, length) =>
          var remaining = length
          var pos = offset
          while (remaining > 0) {
            val take = math.min(remaining, buf.length.toLong).toInt
            is.readFully(pos, buf, 0, take)
            os.write(buf, 0, take)
            pos += take
            remaining -= take
          }
        }
      } finally { is.close(); os.close() }
      key -> outPath.toString
    }.collect().toMap
  }
}
