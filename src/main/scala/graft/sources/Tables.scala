package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's "a table is a URI" model (xql has no catalog; a
  * session alias maps a name to a store, xql/src/xql/apply.py:225-242): every
  * loader takes the scale-factor directory and resolves `<dir>/<name>.parquet`.
  *
  * `events.ts` has shipped as either TIMESTAMP(NANOS) (read as a long via
  * `nanosAsLong`) or TIMESTAMP(MICROS) (read as a timestamp, NTZ or LTZ)
  * depending on the generator version, so the loader adapts to the physical
  * type and exposes BOTH under stable names:
  *   - `ts_ns` — nanosecond epoch as a long (exact for the nanos schema;
  *     `micros * 1000` for the micros schema — ordering/equality match
  *     DuckDB's `epoch_ns(ts)`/`epoch_us(ts)` either way),
  *   - `ts`   — microsecond TimestampType (use for bucketing; the session
  *     timezone is pinned UTC so NTZ→LTZ casts are wall-clock identities).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  // Schema memo (r19): `spark.read.parquet` re-infers the schema (a
  // driver-side footer read) on EVERY loader call — a few hundred calls per
  // bench pass. Passing the remembered schema skips inference while reading
  // the data fresh each time; nanosAsLong-dependent physical types are
  // captured faithfully because the memoized schema IS the first
  // inference's result. The key carries the path's length and modification
  // time, so a fixture regenerated at the same path is inferred afresh
  // instead of being read with its predecessor's schema.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val p = path(dir, name)
    val hp = new org.apache.hadoop.fs.Path(p)
    val st = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(hp)
    val schema = schemaCache.computeIfAbsent(
      (p, st.getLen, st.getModificationTime),
      (_: (String, Long, Long)) => spark.read.parquet(p).schema)
    val df = spark.read.schema(schema).parquet(p)
    name match {
      case "events" =>
        val converted = df.schema("ts").dataType match {
          case LongType => // TIMESTAMP(NANOS) read as nanosecond epoch longs
            df.withColumnRenamed("ts", "ts_ns")
              .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
          case TimestampType | TimestampNTZType => // timestamp[us]
            val ts = col("ts").cast(TimestampType)
            df.withColumn("ts", ts).withColumn("ts_ns", unix_micros(ts) * lit(1000L))
          case other =>
            throw new IllegalArgumentException(
              s"events.ts: unexpected physical type $other; expected LongType " +
                "(nanosecond epoch) or TimestampType/TimestampNTZType (microseconds). " +
                "Refusing to cast silently - update graft.sources.Tables for the new generator schema.")
        }
        // Canonical column order regardless of which branch ran: original order
        // with `ts` kept in place and `ts_ns` immediately after it.
        val order = df.schema.fieldNames.toSeq.flatMap {
          case "ts" => Seq("ts", "ts_ns")
          case c    => Seq(c)
        }
        converted.select(order.map(col): _*)
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view (the `.set` alias catalog analog,
    * xql/src/xql/apply.py:367-386) so `spark.sql` works against plain names. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
