package graft.sources

import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** The merge-on-read scan core both table readers share — [[DeltaTable]]
  * and [[IcebergTable]] plan their data reads through it, and the writers
  * ([[TableCommit]]) locate rows by its row key. It owns the decisions the
  * formats agree on:
  *
  *  - the ROW KEY: each row's canonical data-file path and physical
  *    position, taken from Spark's parquet `_metadata` (zero extra IO);
  *  - KILL SETS: (data file, position) rows a deletion vector or
  *    positional-delete file names, decoded on executors and applied as
  *    one left-anti join on the row key;
  *  - the typed empty frame of a scan with no files;
  *  - the parquet FOOTER read every stats, row-count and field-id site
  *    performs;
  *  - GROUPED RELATIONS: one parquet relation per read schema, unioned by
  *    name;
  *  - the data-skipping skeleton of `readWhere`.
  *
  * What stays with each format: log or manifest replay, column-name
  * resolution, partition values, and which kill sets apply where. */
private[sources] object TableScan {
  val RowPath = "__row_path"
  val RowPos = "__row_pos"
  private val KillPath = "__del_path"
  private val KillPos = "__del_pos"

  def rowKey: Seq[Column] = Seq(col(RowPath), col(RowPos))

  /** `schema` plus the row-key fields when `keepRowKey`. */
  def keyed(schema: StructType, keepRowKey: Boolean): StructType =
    if (!keepRowKey) schema
    else StructType(schema.fields ++ Seq(
      StructField(RowPath, StringType), StructField(RowPos, LongType)))

  /** A scan with no files still has its schema. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** A parquet relation's rows with their row key. Paths go through
    * [[PathUris]] so they compare equal to manifest and log spellings. */
  def withRowKey(df: DataFrame): DataFrame = df
    .withColumn(RowPath, PathUris.canonMetaCol(col("_metadata.file_path")))
    .withColumn(RowPos, col("_metadata.row_index"))

  def dropRowKey(df: DataFrame): DataFrame = df.drop(RowPath, RowPos)

  /** One parquet footer — O(KB) driver or task IO, no data pages. */
  def footer(path: String, conf: Configuration): ParquetMetadata = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    try reader.getFooter finally reader.close()
  }

  /** A kill set decoded on EXECUTORS: the driver holds only `descs` (one
    * small descriptor per deletion vector); `positions` is the format's
    * decoder, yielding (canonical data file, deleted position) pairs.
    * Row counts of the set are data-scale and never collected. */
  def killSet[D <: Product : TypeTag](spark: SparkSession, descs: Seq[D])(
      positions: D => Iterator[(String, Long)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(descs)
      .repartition(math.min(descs.size, 32))
      .flatMap(positions)
      .toDF(KillPath, KillPos)
  }

  /** A kill set read from delete rows that store the data file's path and
    * the position as columns. */
  def killRows(rows: DataFrame, path: Column, pos: Column): DataFrame =
    rows.select(PathUris.canonCol(path).as(KillPath),
      pos.cast("long").as(KillPos))

  /** A row-keyed frame's keys as a kill set. */
  def keysAsKills(keyed: DataFrame): DataFrame =
    keyed.select(col(RowPath).as(KillPath), col(RowPos).as(KillPos))

  /** Row-keyed `df` without the rows `kills` names. */
  def withoutKilled(df: DataFrame, kills: DataFrame): DataFrame =
    df.join(kills, df(RowPath) === kills(KillPath) &&
      df(RowPos) === kills(KillPos), "left_anti")

  /** Row-keyed `df` with its ROW LINEAGE: `dim` holds each data file's
    * (canonical path, first row id, version) — O(files) driver metadata,
    * broadcast and joined map-side, no shuffle. `ids` receives the
    * default row id (the file's first id + the row's position) and the
    * file's version, and names the columns to add; the row key, the
    * dimension and the `drop` columns are dropped after. */
  def withLineage(df: DataFrame, dim: Seq[(String, Long, Long)],
      drop: Seq[String] = Nil)(
      ids: (Column, Column) => Seq[(String, Column)]): DataFrame = {
    import df.sparkSession.implicits._
    val d = dim.toDF("__rid_path", "__rid_base", "__rid_ver")
    ids(col("__rid_base") + col(RowPos), col("__rid_ver"))
      .foldLeft(df.join(broadcast(d), col(RowPath) === col("__rid_path"),
        "left")) { case (acc, (name, c)) => acc.withColumn(name, c) }
      .drop(drop ++ Seq("__rid_path", "__rid_base", "__rid_ver", RowPath,
        RowPos): _*)
  }

  /** Files read with one schema. `kills` applies to this group alone;
    * `key` is what the format's projection needs to know of it. */
  final case class ReadGroup[G](key: G, paths: Seq[String],
      schema: StructType, kills: Option[DataFrame] = None)

  /** One parquet relation per group, row-keyed when `keepRowKey` or the
    * group has kills (the key is dropped again after the kill join unless
    * kept), shaped by `project`, then unioned by name. Row keys attach per
    * relation: `_metadata` does not survive a union. */
  def scanGroups[G](spark: SparkSession, groups: Seq[ReadGroup[G]],
      keepRowKey: Boolean)(
      project: (ReadGroup[G], DataFrame) => DataFrame): DataFrame =
    groups.map { g =>
      var df = spark.read.schema(g.schema).parquet(g.paths: _*)
      if (keepRowKey || g.kills.isDefined) df = withRowKey(df)
      g.kills.foreach { k =>
        df = withoutKilled(df, k)
        if (!keepRowKey) df = dropRowKey(df)
      }
      project(g, df)
    }.reduce(_ unionByName _)

  /** Read with DATA SKIPPING: files whose `stats` (over the stat column
    * `types`), or the format's own `admits`, prove no row can satisfy
    * `filters` never reach `assemble`, and the full predicate is
    * re-applied after the pruned scan — so the result equals the unpruned
    * read filtered. Pruning only ever drops provably empty files. */
  def readWhere[F](filters: Seq[Filter], types: Map[String, DataType],
      files: Seq[F])(stats: F => ColumnStats.FileStats,
      admits: F => Boolean = (_: F) => true)(
      assemble: Seq[F] => DataFrame): DataFrame = {
    if (filters.isEmpty) return assemble(files)
    val residual = filters.map(ColumnStats.filterColumn).reduce(_ && _)
    assemble(files.filter { f =>
      admits(f) && filters.forall(ColumnStats.mayMatch(_, stats(f), types))
    }).filter(residual)
  }
}
