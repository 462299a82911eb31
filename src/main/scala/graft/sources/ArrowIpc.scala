package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.SeekableByteChannel

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{FixedSizeListVector, ListVector}
import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Arrow IPC file / Feather v2 ingestion — the columnar interchange file
  * ML dataframes ship as (`pyarrow.feather.write_feather`, HF datasets'
  * on-disk cache). Implemented on the arrow-vector library Spark already
  * bundles for its pandas-UDF path (no new dependency), so buffer
  * compression (LZ4_FRAME / ZSTD) decodes through the same factory.
  *
  * Scale shape: the file FOOTER lists every record batch's byte block, so
  * the driver plans one task per (file, batch) and each task loads ONLY
  * its batch through a positioned channel — batches are the native
  * parallelism unit of the format, exactly like Zarr chunks or parquet
  * row groups.
  *
  * Type mapping (directed error otherwise): bool -> boolean; all int
  * widths (signed + unsigned) -> long; float16/32/64 -> double;
  * utf8/large_utf8 -> string; binary flavors -> binary; date/time/
  * timestamp -> long (the raw stored value; the unit lives in the Arrow
  * schema); list / fixed-size-list of numerics -> array<double>. */
object ArrowIpc {

  final case class UnsupportedArrow(msg: String)
      extends RuntimeException(s"unsupported arrow ipc: $msg")

  /** One row per record across every file matching `pattern`; one task
    * per (file, record batch). */
  def read(spark: SparkSession, pattern: String): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath.toString)
    require(files.nonEmpty, s"no arrow files match $pattern")
    val tconf = TaskConf(conf)
    // driver: footer-only pass for schema + batch counts
    val plans = files.map { uri =>
      withReader(conf, uri) { reader =>
        (uri, sparkSchema(reader.getVectorSchemaRoot.getSchema),
          reader.getRecordBlocks.size())
      }
    }
    val schemas = plans.map(_._2).distinct
    require(schemas.size == 1,
      s"files under $pattern disagree on schema: $schemas")
    val schema = schemas.head
    val tasks = plans.flatMap { case (uri, _, n) => (0 until n).map(uri -> _) }
    require(tasks.nonEmpty, s"no record batches in $pattern")
    val nPart = math.max(1, math.min(tasks.size,
      spark.sparkContext.defaultParallelism))
    val fieldCount = schema.fields.length
    val rdd = spark.sparkContext.parallelize(tasks, nPart).flatMap {
      case (uri, batchIdx) =>
        val c = tconf.value
        val path = new Path(uri)
        val fsys = path.getFileSystem(c)
        val in = fsys.open(path)
        val len = fsys.getFileStatus(path).getLen
        val allocator = new RootAllocator()
        val reader = new ArrowFileReader(new HadoopChannel(in, len), allocator,
          CommonsCompressionFactory.INSTANCE)
        def closeAll(): Unit = {
          try reader.close() catch { case _: Throwable => }
          try allocator.close() catch { case _: Throwable => }
          try in.close() catch { case _: Throwable => }
        }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
        reader.loadRecordBatch(reader.getRecordBlocks.get(batchIdx))
        val root = reader.getVectorSchemaRoot
        val vectors = (0 until fieldCount).map(root.getVector)
        val rows = root.getRowCount
        // materialize the batch's rows, then free the native buffers —
        // the batch is this task's working set by design
        val out = (0 until rows).map { i =>
          Row.fromSeq(vectors.map(v => cell(v, i)))
        }
        closeAll()
        out.iterator
    }
    spark.createDataFrame(rdd, schema)
  }

  // ----------------------------------------------------------- type maps

  private def sparkSchema(s: org.apache.arrow.vector.types.pojo.Schema): StructType = {
    import org.apache.arrow.vector.types.pojo.ArrowType
    import scala.jdk.CollectionConverters._
    StructType(s.getFields.asScala.toSeq.map { f =>
      // dictionary-encoded fields surface through the reader as their raw
      // INDEX type — returning those codes as data would be silent
      // corruption, so they are a plan-time directed error
      if (f.getDictionary != null)
        throw UnsupportedArrow(s"column ${f.getName} is dictionary-encoded " +
          "(decode upstream, e.g. pyarrow combine/cast away categories)")
      val dt = f.getType match {
        case _: ArrowType.Bool => BooleanType
        case _: ArrowType.Int => LongType
        case _: ArrowType.FloatingPoint => DoubleType
        case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 => StringType
        case _: ArrowType.Binary | _: ArrowType.LargeBinary |
             _: ArrowType.FixedSizeBinary => BinaryType
        case _: ArrowType.Date | _: ArrowType.Time | _: ArrowType.Timestamp =>
          LongType
        case _: ArrowType.List | _: ArrowType.FixedSizeList =>
          // validate the CHILD here, at plan time — the footer has it, and
          // a per-row executor failure is the wrong place to learn a list
          // carries strings
          val child = f.getChildren.asScala.headOption.getOrElse(
            throw UnsupportedArrow(s"list column ${f.getName} without a child"))
          child.getType match {
            case _: ArrowType.Int | _: ArrowType.FloatingPoint |
                 _: ArrowType.Bool => ()
            case other => throw UnsupportedArrow(
              s"list column ${f.getName} of $other elements " +
                "(numeric/bool lists only)")
          }
          ArrayType(DoubleType, containsNull = false)
        case other => throw UnsupportedArrow(
          s"column ${f.getName} of type $other")
      }
      StructField(f.getName, dt, nullable = f.isNullable)
    })
  }

  private def cell(v: ValueVector, i: Int): Any = {
    if (v.isNull(i)) return null
    v match {
      case b: BitVector => b.get(i) != 0
      case x: TinyIntVector => x.get(i).toLong
      case x: SmallIntVector => x.get(i).toLong
      case x: IntVector => x.get(i).toLong
      case x: BigIntVector => x.get(i)
      case x: UInt1Vector => (x.get(i) & 0xff).toLong
      case x: UInt2Vector => x.get(i).toLong
      case x: UInt4Vector => x.get(i).toLong & 0xffffffffL
      case x: UInt8Vector =>
        val raw = x.get(i)
        if (raw < 0) throw UnsupportedArrow(
          s"uint64 value ${java.lang.Long.toUnsignedString(raw)} exceeds Long")
        raw
      case x: Float2Vector =>
        CfDecode.halfToDouble(x.get(i) & 0xffff)
      case x: Float4Vector => x.get(i).toDouble
      case x: Float8Vector => x.get(i)
      case x: VarCharVector => new String(x.get(i), "UTF-8")
      case x: LargeVarCharVector => new String(x.get(i), "UTF-8")
      case x: VarBinaryVector => x.get(i)
      case x: LargeVarBinaryVector => x.get(i)
      case x: FixedSizeBinaryVector => x.get(i)
      case x: DateDayVector => x.get(i).toLong
      case x: DateMilliVector => x.get(i)
      case x: TimeStampVector => x.get(i)
      case x: TimeSecVector => x.get(i).toLong
      case x: TimeMilliVector => x.get(i).toLong
      case x: TimeMicroVector => x.get(i)
      case x: TimeNanoVector => x.get(i)
      case x: ListVector => listCells(x.getDataVector, x.getElementStartIndex(i),
        x.getElementEndIndex(i))
      case x: FixedSizeListVector => listCells(x.getDataVector,
        i * x.getListSize, (i + 1) * x.getListSize)
      case other => throw UnsupportedArrow(
        s"vector class ${other.getClass.getSimpleName}")
    }
  }

  private def listCells(child: ValueVector, from: Int, until: Int): Seq[Double] =
    (from until until).map { j =>
      cell(child, j) match {
        case d: Double => d
        case l: Long => l.toDouble
        case b: Boolean => if (b) 1.0 else 0.0
        case null => throw UnsupportedArrow("null element inside a list cell")
        case other => throw UnsupportedArrow(
          s"list element ${other.getClass.getSimpleName}")
      }
    }

  /** Fixture/export writer for the (id, score, name, emb) test shape used
    * by the spec and q136 — one file, `batchRows` rows per record batch,
    * optional ZSTD buffer compression. `name = None` writes a null. */
  def writeFixture(path: String,
      rows: Seq[(Long, Double, Option[String], Seq[Double])],
      batchRows: Int, zstd: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.vector.compression.CompressionUtil
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.ipc.message.IpcOption
    import org.apache.arrow.vector.types.FloatingPointPrecision
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    val allocator = new RootAllocator()
    val fields = Seq(
      new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("score", FieldType.nullable(
        new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)), null),
      new Field("name", FieldType.nullable(new ArrowType.Utf8()), null),
      new Field("emb", FieldType.nullable(new ArrowType.List()),
        Seq(new Field("item", FieldType.nullable(
          new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)),
          null)).asJava))
    val root = VectorSchemaRoot.create(new Schema(fields.asJava), allocator)
    val idV = root.getVector("id").asInstanceOf[BigIntVector]
    val scoreV = root.getVector("score").asInstanceOf[Float8Vector]
    val nameV = root.getVector("name").asInstanceOf[VarCharVector]
    val listV = root.getVector("emb").asInstanceOf[ListVector]
    val ch = java.nio.channels.Channels.newChannel(
      new java.io.FileOutputStream(path))
    val writer =
      if (zstd) new ArrowFileWriter(root, null, ch, null, IpcOption.DEFAULT,
        CommonsCompressionFactory.INSTANCE, CompressionUtil.CodecType.ZSTD)
      else new ArrowFileWriter(root, null, ch)
    writer.start()
    rows.grouped(batchRows).foreach { batch =>
      val n = batch.size
      idV.allocateNew(n); scoreV.allocateNew(n); nameV.allocateNew(n)
      val lw = listV.getWriter
      lw.allocate()
      batch.zipWithIndex.foreach { case ((id, score, name, emb), i) =>
        idV.setSafe(i, id)
        scoreV.setSafe(i, score)
        name match {
          case Some(nm) => nameV.setSafe(i, nm.getBytes("UTF-8"))
          case None => nameV.setNull(i)
        }
        lw.setPosition(i)
        lw.startList()
        emb.foreach(x => lw.float8().writeFloat8(x))
        lw.endList()
      }
      idV.setValueCount(n); scoreV.setValueCount(n); nameV.setValueCount(n)
      listV.setValueCount(n)
      root.setRowCount(n)
      writer.writeBatch()
    }
    writer.end(); writer.close(); root.close(); allocator.close()
  }

  private def withReader[T](conf: Configuration, uri: String)(
      f: ArrowFileReader => T): T = {
    val path = new Path(uri)
    val fsys = path.getFileSystem(conf)
    val in = fsys.open(path)
    val allocator = new RootAllocator()
    val reader = new ArrowFileReader(
      new HadoopChannel(in, fsys.getFileStatus(path).getLen), allocator,
      CommonsCompressionFactory.INSTANCE)
    try f(reader)
    finally {
      try reader.close() catch { case _: Throwable => }
      try allocator.close() catch { case _: Throwable => }
      try in.close() catch { case _: Throwable => }
    }
  }

  /** Positioned-read adapter: Arrow's readers seek through a
    * [[SeekableByteChannel]]; Hadoop streams expose positioned readFully. */
  private final class HadoopChannel(in: org.apache.hadoop.fs.FSDataInputStream,
      len: Long) extends SeekableByteChannel {
    private var pos = 0L
    private var opened = true
    override def read(dst: ByteBuffer): Int = {
      if (pos >= len) return -1
      val n = math.min(dst.remaining().toLong, len - pos).toInt
      if (dst.hasArray) {
        in.readFully(pos, dst.array(), dst.arrayOffset() + dst.position(), n)
        dst.position(dst.position() + n)
      } else {
        val buf = new Array[Byte](n)
        in.readFully(pos, buf, 0, n)
        dst.put(buf, 0, n)
      }
      pos += n
      n
    }
    override def write(src: ByteBuffer): Int =
      throw new UnsupportedOperationException("read-only channel")
    override def position(): Long = pos
    override def position(newPosition: Long): SeekableByteChannel = {
      pos = newPosition; this
    }
    override def size(): Long = len
    override def truncate(size: Long): SeekableByteChannel =
      throw new UnsupportedOperationException("read-only channel")
    override def isOpen: Boolean = opened
    override def close(): Unit = opened = false // stream closed by owner
  }
}
