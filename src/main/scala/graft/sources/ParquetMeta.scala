package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Parquet FOOTER introspection on the parquet-hadoop library Spark
  * already bundles — the ops probe a 100 TB corpus needs before any data
  * moves: one row per (file, row group) with row counts, compressed and
  * uncompressed bytes, and the writer string. This is what drives
  * `maxPartitionBytes` sizing, tiny-file and fat-row-group detection, and
  * compression-ratio audits — each answered at O(footer) IO per file
  * (KBs), one task per file, no data pages touched. */
object ParquetMeta {
  private val schema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("file_bytes", LongType, nullable = false),
    StructField("row_group", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("compressed_bytes", LongType, nullable = false),
    StructField("uncompressed_bytes", LongType, nullable = false),
    StructField("n_columns", IntegerType, nullable = false),
    StructField("created_by", StringType, nullable = true)))

  /** One row per (file, row group) across every parquet file matching
    * `pattern` (glob) — footer reads only. */
  def readMeta(spark: SparkSession, pattern: String): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    // glob-or-directory expansion (the Spark output layout IS a directory
    // of part files), then Spark's own hidden-file convention: both '_'
    // and '.' prefixes are committer/marker artifacts, never data
    val files = graft.sources.grib.GribIndex
      .expand(conf, pattern)
      .filter { uri =>
        val name = uri.split('/').last
        !name.startsWith("_") && !name.startsWith(".")
      }
      .map { uri =>
        val fp = new Path(uri)
        (uri, fp.getFileSystem(conf).getFileStatus(fp).getLen)
      }
    require(files.nonEmpty, s"no parquet files match $pattern")
    val tconf = TaskConf(conf)
    val rdd = spark.sparkContext.parallelize(files,
      math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism)))
      .flatMap { case (uri, len) =>
        val footer = TableScan.footer(uri, tconf.value)
        val created = Option(footer.getFileMetaData.getCreatedBy).orNull
        footer.getBlocks.asScala.toSeq.zipWithIndex.map { case (b, i) =>
          Row(uri, len, i, b.getRowCount, b.getCompressedSize,
            b.getTotalByteSize,
            b.getColumns.size(), created)
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
