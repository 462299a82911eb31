package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** TRANSACTIONAL writers for the two open table formats — the publish
  * half that lets a pipeline emit datasets the same engine consumes,
  * instead of bare parquet directories. The Delta log is the protocol's
  * plain JSON surface; the Iceberg metadata/manifests emit every field
  * the v2 spec marks REQUIRED (last-column-id, last-updated-ms,
  * last-partition-id, sort orders, data_file sizes + partition structs,
  * the manifest-list counts family + added_snapshot_id, Avro field-id
  * annotations, and the manifest key-value metadata) so stock parsers
  * accept them — round-trips are exercised through this engine's own
  * reader (no stock Iceberg runtime exists in the build sandbox to
  * verify against). Both follow the formats' own commit protocols:
  *
  *  - [[DeltaWriter]]: `writeAppend` (distributed parquet write,
  *    partitionBy-aware, data files exclude partition columns per
  *    PROTOCOL.md, per-file stats JSON from footers; column-mapped
  *    name/id-mode targets write physical names + parquet field ids;
  *    ONE `_delta_log/N.json` commit), `writeDelete` (DELETION VECTORS,
  *    copy-on-write rewrite above the cap, or auto), `writeUpdate` /
  *    `writeMerge` (one-commit upsert lifecycle with CDF pre/post
  *    images), `compact` (OPTIMIZE bin-packing, optionally ZORDER
  *    clustering so stats prune on every named column), `vacuum`, and
  *    `writeCheckpoint` (classic checkpoint + `_last_checkpoint`,
  *    stats carried verbatim). CHECK constraints, column invariants,
  *    and generated columns are EVALUATED against every image-writing
  *    batch. Commits are placed with an EXCLUSIVE create (hard-link on
  *    local FS, fail-on-existing rename on HDFS-class stores), so a
  *    concurrent commit of the same version is a directed
  *    [[TableCommit.CommitConflict]], never a silent overwrite.
  *  - [[IcebergWriter]]: `writeAppend` (flat, identity-, bucket[N]-,
  *    truncate[W]-, or year/month/day/hour-partitioned — hidden
  *    partitioning with Appendix B transforms; manifest entries carry
  *    Appendix D lower/upper bounds + null counts; data files under
  *    `data/`, a uuid'd Avro manifest with explicit data sequence
  *    numbers, a manifest list carrying the previous snapshot's
  *    manifests, `v(N+1).metadata.json` committed exclusively before
  *    the `version-hint.text` swap — the HadoopTableOperations
  *    protocol), `writeDelete` (DISTRIBUTED positional-delete files,
  *    or Puffin deletion vectors on v3 targets), `writeUpdate` /
  *    `writeMerge` (one `overwrite` snapshot), `rewriteDataFiles`
  *    (optionally ZORDER), and `expireSnapshots`.
  *
  * ONE write core per format: every data-writing commit — append,
  * compaction, equality delete, MERGE, UPDATE, DELETE — loads its target
  * through the format's `rowTarget` (a CREATE starts from an in-memory
  * initial state), places its files through `DeltaWriter.placeData` or
  * `IcebergWriter.imageManifest` inside [[TableCommit.reclaiming]], and
  * commits through `commitLog` or `commitRowLevel`. Zero-row data files
  * are never committed (an empty append commits a version or snapshot
  * with no data file), and a write that fails before its commit deletes
  * every file it placed.
  *
  * Scale model: the DATA writes are Spark's native distributed parquet
  * sink; driver work is O(files) metadata (moves, one footer read per
  * file for row counts + column stats, log lines) — the same
  * bookkeeping every Delta/Iceberg writer performs. Deliberately out
  * of scope (directed errors, never silent): non-additive schema
  * evolution (renames/type changes/drops — additive nullable trailing
  * columns DO evolve via mergeSchema; never under column mapping),
  * rewriting/cdc writes on column-mapped targets (physical-name rows),
  * unsupported Iceberg transforms (`void`, truncate-over-string),
  * nested types in new Iceberg schemas, txn/rowTracking state a
  * checkpoint or delete cannot carry. */
object TableCommit {
  final case class CommitConflict(msg: String) extends RuntimeException(msg)
  final case class UnsupportedWrite(msg: String) extends RuntimeException(msg)
  /** A write whose rows violate the table's own declared CHECK
    * constraint or column invariant — the batch is rejected whole. */
  final case class ConstraintViolation(msg: String)
    extends RuntimeException(msg)

  /** Place `tmp` at `dest` EXCLUSIVELY: false (and tmp removed) when dest
    * already exists — the loser of a concurrent commit must see the
    * conflict, not overwrite the winner. Local FS uses a hard link (the
    * POSIX atomic create-exclusive; plain rename overwrites there); other
    * stores use Hadoop rename, which fails on an existing destination. */
  private[graft] def exclusivePut(fs: FileSystem, tmp: Path,
      dest: Path): Boolean = {
    if ("file".equalsIgnoreCase(fs.getUri.getScheme)) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dest.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          false
      }
    } else if (fs.exists(dest)) { fs.delete(tmp, false); false }
    else {
      val ok = fs.rename(tmp, dest)
      // dest can appear between the exists probe and the rename — the
      // loser still cleans its tmp up
      if (!ok) fs.delete(tmp, false)
      ok
    }
  }

  /** Atomic OVERWRITING placement of small text (version hints, cursors):
    * write a tmp sibling, then FileContext rename with OVERWRITE — a
    * delete-then-rename pair would have a crash window with no file on
    * disk. Shared by the Iceberg version-hint swap and the TableFollow
    * cursor commit.
    *
    * On the local FS the tmp is written through the RAW filesystem so no
    * `.crc` sidecar ever exists for these files: the checksummed local
    * FS renames data and sidecar as TWO steps, and a concurrent reader
    * (a streaming source's getOffset probe) landing between them sees a
    * checksum mismatch. One file + one atomic rename has no such
    * window. */
  private[graft] def overwriteText(fs: FileSystem,
      conf: Configuration, dest: Path, text: String): Unit = {
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    val writeFs = fs match {
      case local: org.apache.hadoop.fs.LocalFileSystem => local.getRaw
      case other => other
    }
    val out = writeFs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    // drop a STALE checksum sidecar a previous checksummed writer may
    // have left for dest — the rename carries no sidecar (raw tmp), and
    // Hadoop's ChecksumFs.rename does not delete an orphaned dest .crc,
    // so it would fail every later read. Deleting BEFORE the rename
    // keeps every intermediate state readable.
    if (writeFs ne fs)
      writeFs.delete(new Path(dest.getParent, s".${dest.getName}.crc"), false)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, conf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(dest),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e: java.io.IOException =>
        writeFs.delete(tmp, false)
        throw e
    }
  }

  /** Write UTF-8 `text` to a temp sibling and [[exclusivePut]] it. */
  private[graft] def putText(fs: FileSystem, dest: Path,
      text: String): Boolean = {
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    exclusivePut(fs, tmp, dest)
  }

  /** Distributed parquet write of `df` into a temp dir under `table`,
    * then O(files) driver moves into place. Returns one entry per data
    * file: (relative path with partition dirs, absolute path, size).
    * `validate` runs over a READ-BACK of the written temp files before
    * any file moves — the hook for row contracts that must hold on the
    * exact rows being committed (validating the input plan instead
    * would let a non-deterministic source commit rows that were never
    * checked); a validation failure deletes the temp dir and rethrows,
    * leaving nothing behind. */
  private[sources] def writeData(df: DataFrame, table: String,
      partitionBy: Seq[String], targetSubdir: String, conf: Configuration,
      validate: Option[DataFrame => Unit] = None)
      : Seq[(String, String, Long)] = {
    val base = table.stripSuffix("/")
    val uuid = java.util.UUID.randomUUID().toString
    // the temp dir lives under the format's own METADATA dir (Delta:
    // `_delta_log/`, Iceberg: targetSubdir "data" → `metadata/`), not
    // the table root: a crash mid-write must not leave droppings where
    // a foreign VACUUM / orphan-file sweep never looks
    val tmpDir = s"$base/${if (targetSubdir == "data") "metadata"
      else "_delta_log"}/_tmp_commit_$uuid"
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmpDir)
    val fs = new Path(base).getFileSystem(conf)
    val tmpPath = new Path(tmpDir)
    val written = {
      val b = Vector.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      val it = fs.listFiles(tmpPath, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith(".")) b += st
      }
      b.result()
    }
    // validation reads the EXPLICIT file list (the underscore-named tmp
    // dir as a read root would trip Spark's hidden-path WARN), with
    // basePath so a partitioned write's dir-encoded columns resolve
    validate.foreach { v =>
      if (written.nonEmpty) {
        val back = df.sparkSession.read.option("basePath", tmpDir)
          .schema(df.schema).parquet(written.map(_.getPath.toString): _*)
        try v(back)
        catch { case e: Throwable => fs.delete(tmpPath, true); throw e }
      }
    }
    val files = Seq.newBuilder[(String, String, Long)]
    written.zipWithIndex.foreach { case (st, i) =>
      // the path under tmpDir carries the partition dirs Spark built
      val rel = st.getPath.toUri.getPath
        .stripPrefix(new Path(tmpDir).toUri.getPath).stripPrefix("/")
      val subdirs = rel.split('/').dropRight(1)
      val fileName = f"part-$i%05d-$uuid.parquet"
      val outRel = (subdirs :+ fileName).mkString("/")
      val dest = new Path(s"$base/${if (targetSubdir.isEmpty) ""
        else targetSubdir + "/"}$outRel")
      fs.mkdirs(dest.getParent)
      if (!fs.rename(st.getPath, dest))
        throw UnsupportedWrite(s"could not place data file at $dest")
      val relOut = s"${if (targetSubdir.isEmpty) "" else targetSubdir + "/"}$outRel"
      files += ((relOut, dest.toString, st.getLen))
    }
    fs.delete(tmpPath, true)
    files.result()
  }

  /** Per-file row counts from the parquet FOOTERS — O(KB) per file, the
    * same stat collection every table-format writer performs at commit. */
  private[sources] def rowCounts(files: Seq[String],
      conf: Configuration): Seq[Long] =
    files.map(f =>
      TableScan.footer(f, conf).getBlocks.asScala.map(_.getRowCount).sum)

  /** Per-file `,"stats":"…"` add-action fields for freshly committed
    * parquet files, serialized as the protocol's
    * numRecords/minValues/maxValues/nullCount JSON, AND each file's row
    * count — ONE footer read per file, so the commit paths that also
    * filter empty files out never pay a second footer pass.
    * `dataSchema` is the table schema MINUS partition columns (what the
    * files store). */
  private[sources] def statsFieldsWithCounts(absPaths: Seq[String],
      dataSchema: org.apache.spark.sql.types.StructType,
      conf: Configuration): Seq[(String, Long)] =
    absPaths.map { abs =>
      val st = ColumnStats.footerStats(abs, dataSchema, conf)
      val js = ColumnStats.deltaStatsJson(st, dataSchema)
      (s""","stats":"${jsonEscape(js)}"""", st.numRecords.getOrElse(0L))
    }

  /** A deep-NULLABLE copy of the type: struct/array/map casts in Spark
    * validate member nullability as part of the TYPE, so a cast target
    * derived from a required-marked Iceberg schema must relax it (the
    * row values are unchanged; Iceberg's `required` is enforced by the
    * writer's own null guard, not the cast). */
  private[sources] def deepNullableType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(f.name, deepNullableType(f.dataType), nullable = true)))
    case ArrayType(et, _) =>
      ArrayType(deepNullableType(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(deepNullableType(k), deepNullableType(v),
        valueContainsNull = true)
    case o => o
  }

  /** Delete already-placed data files after a lost commit race — the
    * loser leaves no orphans behind. */
  private[sources] def cleanup(fs: FileSystem, files: Seq[String]): Unit =
    files.foreach(f => fs.delete(new Path(f), false))

  // ------------------------------------------------ row-level DML core
  // The MERGE / UPDATE / DELETE planning both formats share. The Delta
  // and Iceberg back-ends keep only the kill encoding, the placement of
  // data files, CDC (Delta) and the commit itself.

  /** Directed unless each of `names` is a top-level column of `schema`;
    * `what` names their role ("MERGE key", "SET column"). */
  private[sources] def requireColumns(table: String, schema: StructType,
      what: String, names: Iterable[String]): Unit =
    names.foreach { n =>
      if (!schema.fieldNames.contains(n)) throw UnsupportedWrite(
        s"$table: $what '$n' is not in the table schema")
    }

  /** A MERGE's input contract: at least one key, each key a table
    * column, and the source schema equal to the table's. */
  private[sources] def requireMergeInput(table: String, schema: StructType,
      source: DataFrame, keys: Seq[String]): Unit = {
    if (keys.isEmpty) throw UnsupportedWrite(
      s"$table: MERGE needs at least one key column")
    requireColumns(table, schema, "MERGE key", keys)
    if (!sameSchema(schema, source.schema)) throw UnsupportedWrite(
      s"$table: MERGE source schema ${source.schema.simpleString} != " +
        s"table schema ${schema.simpleString}")
  }

  /** The rows of `target`'s shape built from `df` in ONE select: each
    * column is its `set` expression or itself, cast to its `target`
    * type. Every SET expression evaluates against the PRE-update row
    * (SQL UPDATE semantics), so SET a=b, b=a swaps and Map order cannot
    * matter. The back-end passes the cast targets: the table schema, or
    * its [[deepNullableType]] where a required-marked schema must not
    * fail the cast. */
  private[sources] def images(df: DataFrame, target: StructType,
      set: Map[String, Column] = Map.empty): DataFrame =
    df.select(target.fields.toIndexedSeq.map(f =>
      set.getOrElse(f.name, col(s"`${f.name}`")).cast(f.dataType)
        .as(f.name)): _*)

  /** Evaluate `rows` ONCE into a temp parquet under the format's
    * metadata dir `metaDir` (outside every scan root, so a crash's
    * droppings never read as data) and run `body` over the read-back
    * and its row count, summed from the parquet FOOTERS without a Spark
    * job. Guards, kills, images and cdc all derive from that one
    * evaluation, so they agree even for a non-deterministic plan. The
    * read-back names its files explicitly: the underscore-prefixed dir
    * as a read root logs a spurious "All paths were ignored" WARN. An
    * empty materialization still reads — Spark's writer always leaves
    * one schema-bearing file. The temp dir is deleted however `body`
    * ends. */
  private[sources] def materialize[T](rows: DataFrame, metaDir: String,
      conf: Configuration)(body: (DataFrame, Long) => T): T = {
    val tmp = new Path(s"$metaDir/_tmp_dml_${java.util.UUID.randomUUID()}")
    val fs = tmp.getFileSystem(conf)
    try {
      rows.write.mode("overwrite").parquet(tmp.toString)
      val files = fs.listStatus(tmp).map(_.getPath)
        .filter(q => q.getName.endsWith(".parquet") &&
          !q.getName.startsWith("_") && !q.getName.startsWith("."))
        .map(_.toString).sorted.toIndexedSeq
      body(rows.sparkSession.read.parquet(files: _*),
        rowCounts(files, conf).sum)
    } finally fs.delete(tmp, true)
  }

  /** Run a row-level write whose `body` records in its buffer every data
    * file, delete file and manifest it places before the commit: any
    * throw but [[CommitConflict]] deletes them all (the loser of a commit
    * race has already cleaned up after itself). */
  private[sources] def reclaiming[T](fs: FileSystem)(
      body: mutable.ArrayBuffer[String] => T): T = {
    val written = mutable.ArrayBuffer.empty[String]
    try body(written) catch {
      case c: CommitConflict => throw c
      case t: Throwable => cleanup(fs, written.toSeq); throw t
    }
  }

  /** The frame of every MERGE and UPDATE: [[materialize]] `rows` (the
    * source cast to the table, or the rows an UPDATE matches), return
    * `unchanged` (the current version or snapshot) when there are none,
    * and otherwise run `body` over them, their count and a
    * [[reclaiming]] buffer. */
  private[sources] def rowLevelWrite[T](rows: DataFrame, metaDir: String,
      conf: Configuration, unchanged: T)(
      body: (DataFrame, Long, mutable.ArrayBuffer[String]) => T): T =
    materialize(rows, metaDir, conf) { (df, n) =>
      if (n == 0) unchanged
      else reclaiming(new Path(metaDir).getFileSystem(conf))(body(df, n, _))
    }

  /** Directed when two rows of the materialized `src` share a key;
    * `why` finishes the message. */
  private[sources] def requireUniqueKeys(table: String, src: DataFrame,
      keys: Seq[String], why: String): Unit =
    if (!src.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).isEmpty) throw UnsupportedWrite(
      s"$table: the MERGE source carries duplicate keys — $why")

  /** The target rows a MERGE replaces: `target` (a row-keyed read)
    * semi-joined on null-safe key equality with the materialized source
    * `src`, once the source keys are unique (one target row must not
    * take two images). ONE aggregation then directs both target-side
    * duplicates (killing two rows for one image would silently shrink
    * the table) and more than `maxMatched` matches; a kill that never
    * collects positions passes Long.MaxValue. */
  private[sources] def mergeMatches(table: String, src: DataFrame,
      target: DataFrame, keys: Seq[String], maxMatched: Long): DataFrame = {
    import org.apache.spark.sql.functions.{max, sum}
    requireUniqueKeys(table, src, keys, "one target row cannot take two images")
    val srcKeys = src.select(keys.map(col): _*)
    val matched = target.join(srcKeys,
      keys.map(k => target(k) <=> srcKeys(k)).reduce(_ && _), "left_semi")
    val stats = matched.groupBy(keys.map(col): _*).count()
      .agg(sum("count"), max("count")).head()
    val total = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    if (total > maxMatched) throw UnsupportedWrite(
      s"$table: MERGE matches $total rows (> $maxMatched) — deletion " +
        "vectors are for small matched sets")
    if (!stats.isNullAt(1) && stats.getLong(1) > 1) throw UnsupportedWrite(
      s"$table: MERGE keys match multiple TARGET rows for one source " +
        "row — per-key replacement would silently collapse them")
    matched
  }

  /** Row positions of a row-keyed frame grouped per file (canonical
    * path → positions): the driver-side set a deletion-vector kill
    * consumes, so its callers cap the rows first. */
  private[sources] def killPositions(keyed: DataFrame)
      : Seq[(String, Array[Long])] =
    keyed.groupBy(col(TableScan.RowPath))
      .agg(org.apache.spark.sql.functions.collect_list(col(TableScan.RowPos)))
      .collect().toSeq.map(m => (m.getString(0), m.getSeq[Long](1).toArray))

  /** The columns an append adds to the table schema `prior`: none when
    * `incoming` is the table's schema; with `mergeSchema`, the ADDITIVE
    * tail — `incoming` carries every prior field (names and types, in
    * order) as a prefix and only adds trailing columns, declared
    * nullable whatever the frame says (old files read them as null).
    * Anything else (renames, type changes, drops, reorders, or a tail
    * without `mergeSchema`) is directed. The one schema decision both
    * formats' appends make. */
  private[sources] def appendTail(table: String, prior: StructType,
      incoming: StructType, mergeSchema: Boolean): Seq[StructField] = {
    if (sameSchema(prior, incoming)) return Nil
    val (head, tail) = incoming.fields.toSeq.splitAt(prior.fields.length)
    if (tail.isEmpty || !sameSchema(StructType(head), prior))
      throw UnsupportedWrite(
        s"$table: append schema ${incoming.simpleString} != table " +
          s"schema ${prior.simpleString} (only ADDITIVE evolution — new " +
          "nullable trailing columns with mergeSchema=true — is implemented)")
    if (!mergeSchema) throw UnsupportedWrite(
      s"$table: append schema adds trailing columns — pass " +
        "mergeSchema=true to evolve the table schema additively")
    tail.map(f => StructField(f.name, f.dataType, nullable = true))
  }

  /** Structural schema equality: names and types, ignoring nullability
    * and metadata — the append-compatibility check. */
  private[sources] def sameSchema(a: StructType, b: StructType): Boolean = {
    def canon(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, canon(f.dataType))))
      case ArrayType(et, _) => ArrayType(canon(et))
      case MapType(k, v, _) => MapType(canon(k), canon(v))
      case o => o
    }
    canon(a) == canon(b)
  }

  /** JSON string escaping for log lines: quote, backslash, and control
    * characters (an unescaped newline in a value would corrupt the
    * one-action-per-line log). */
  private[sources] def jsonEscape(v: String): String = {
    val sb = new java.lang.StringBuilder(v.length + 8)
    v.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append("\\u").append(f"${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** The partitionValues JSON body: null values as protocol JSON null,
    * everything else escaped — shared by the append and delete commit
    * builders. */
  private[sources] def partitionValuesJson(pv: Map[String, String]): String =
    pv.map { case (k, v) =>
      // only REAL nulls become JSON null — a foreign log may carry the
      // hive sentinel as a literal value, which a re-emitting writer
      // (writeDelete) must round-trip verbatim; DIRECTORY-parsed values
      // convert the sentinel to null before reaching this builder
      if (v == null) s""""${jsonEscape(k)}":null"""
      else s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
    }.mkString(",")

  /** Segment-wise percent-encoding for a log-relative path (PROTOCOL.md:
    * `add.path` is a URL-encoded relative path). */
  private[sources] def pctEncodeRel(rel: String): String =
    rel.split('/').map { seg =>
      new java.net.URI(null, null, seg, null).getRawPath
    }.mkString("/")
}

/** Transactional Delta append — see [[TableCommit]]. */
object DeltaWriter {
  import TableCommit._

  private implicit val formats: Formats = DefaultFormats

  /** partitionValues from the k=v dirs Spark built (its own escaping). */
  private def partValues(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val raw = PathUris.pctDecode(seg.drop(i + 1))
        Some(seg.take(i) ->
          (if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw))
      }
    }.toMap

  private def dvJson(d: DeletionVector.Descriptor): String =
    s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
      (d.offset.map(o => s""""offset":$o,""").getOrElse("")) +
      s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  /** The snapshot facts a Delta row-level write starts from (one
    * replay). Column-mapped targets store PHYSICAL names + field ids in
    * every data, rewrite and cdc file, at every nesting level — a file
    * written with logical names would read back all-NULL through the
    * physical read schema — and key partition dirs and
    * add.partitionValues physical too. */
  private final case class RowTarget(table: String, base: String,
      conf: Configuration, fs: FileSystem, dst: DeltaTable.DeltaState) {
    val logPath = new Path(s"$base/_delta_log")
    def version: Long = dst.version
    def config: Map[String, String] = dst.configuration
    def partCols: Seq[String] = dst.partitionColumns
    val schema: StructType =
      DataType.fromJson(dst.schemaJson).asInstanceOf[StructType]
    val mapped: Boolean =
      config.get("delta.columnMapping.mode").exists(_ != "none")
    val outPartCols: Seq[String] =
      if (!mapped) partCols
      else partCols.map(c => DeltaTable.physFieldName(schema(c)))
    val cdfEnabled: Boolean = config.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))
    // rowTracking: a DV re-add carries its file's ids verbatim
    val trackIds: Option[Map[String, (Long, Long)]] =
      if (dst.protocol.writerFeatures.contains("rowTracking"))
        Some(dst.fileRowIds)
      else None
    private lazy val fileByKey = dst.files.map(f =>
      PathUris.canon(DeltaTable.resolveAdd(base, f._1)) -> f).toMap
    /** The snapshot's add for a canonical row-key path. */
    def fileOf(key: String): (String, Map[String, String],
        Option[DeletionVector.Descriptor], Option[String]) =
      fileByKey.getOrElse(key, throw UnsupportedWrite(
        s"$table: matched row's file $key is not in the snapshot — " +
          "path spelling drift"))
    def physical(df: DataFrame, extra: Seq[String] = Nil): DataFrame =
      if (!mapped) df else toPhysical(df, schema, extra)
    /** A physical read-back relabeled with the logical names (at every
      * nesting level) that the table's contract expressions use. */
    def logical(back: DataFrame): DataFrame =
      if (!mapped) back
      else back.select(schema.fields.toIndexedSeq.map { f =>
        val pf = DeltaTable.physField(f)
        DeltaTable.toLogical(col(s"`${pf.name}`"), pf.dataType, f.dataType)
          .as(f.name)
      }: _*)
  }

  private def rowTarget(spark: SparkSession, table: String): RowTarget = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    RowTarget(table, base, conf, new Path(base).getFileSystem(conf),
      DeltaTable.snapshotState(spark, table))
  }

  /** [[rowTarget]] for a write that changes rows: directed on an
    * append-only table. The appendOnly FEATURE being supported is not
    * the same as being enabled — only the table property turns it on
    * (PROTOCOL.md). */
  private def mutableTarget(spark: SparkSession, table: String,
      op: String): RowTarget = {
    val t = rowTarget(spark, table)
    if (t.config.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      throw UnsupportedWrite(
        s"$table: the table is append-only — $op is forbidden by its " +
          "own contract")
    t
  }

  /** Directed when a STRING partition value of `rows` is '' or the hive
    * null sentinel: Spark's directory encoding folds both into the null
    * directory, and Delta data files do not retain partition columns,
    * so the value would be unrecoverable. `what` says whose rows. */
  private def requireEncodablePartitions(table: String, schema: StructType,
      partCols: Seq[String], rows: DataFrame, what: String): Unit = {
    val strCols = partCols.filter(c => schema(c).dataType == StringType)
    if (strCols.nonEmpty && !rows.filter(strCols.map(c =>
      col(c) === "" || col(c) === "__HIVE_DEFAULT_PARTITION__")
      .reduce(_ || _)).isEmpty) throw UnsupportedWrite(
      s"$table: $what a string partition value that is '' or the hive " +
        "null sentinel — the directory encoding cannot represent it " +
        "distinctly from null")
  }

  /** The `add` action of a freshly written file; `extra` carries its
    * row-id and stats fields. Spark's null-partition sentinel directory
    * becomes the protocol's JSON null. */
  private def addAction(rel: String, size: Long, ts: Long,
      dataChange: Boolean, extra: String): String =
    s"""{"add":{"path":"${pctEncodeRel(rel)}",""" +
      s""""partitionValues":{${partitionValuesJson(partValues(rel))}},""" +
      s""""size":$size,"modificationTime":$ts,"dataChange":$dataChange""" +
      s"""$extra}}"""

  /** The `remove` action retiring a snapshot file, its DV included.
    * Re-emitted paths pass through jsonEscape: a foreign add whose path
    * legally carried a quote/backslash must re-encode, not corrupt the
    * commit line. */
  private def removeAction(rawPath: String, pv: Map[String, String],
      oldDv: Option[DeletionVector.Descriptor], ts: Long,
      dataChange: Boolean): String =
    s"""{"remove":{"path":"${jsonEscape(rawPath)}",""" +
      s""""deletionTimestamp":$ts,"dataChange":$dataChange,""" +
      s""""partitionValues":{${partitionValuesJson(pv)}}""" +
      oldDv.map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("") +
      "}}"

  /** Write `out` (physical on a mapped table) as new data files and
    * build their adds: footer stats over the stored table columns (not
    * the partition or `bookkeeping` columns), zero-row files dropped,
    * fresh row ids on a rowTracking table. `validate` runs over the
    * logical read-back of the written files before any is placed (see
    * [[TableCommit.writeData]]). Placed files go to `written`; returns
    * (adds, the rowTracking domain line). */
  private def placeData(t: RowTarget, out: DataFrame, ts: Long,
      written: mutable.ArrayBuffer[String],
      bookkeeping: Set[String] = Set.empty, dataChange: Boolean = true,
      validate: Option[DataFrame => Unit] = None)
      : (Seq[String], Seq[String]) = {
    val files = writeData(out, t.base, t.outPartCols, "", t.conf,
      validate.map(v => (back: DataFrame) => v(t.logical(back))))
    written ++= files.map(_._2)
    val dataSchema = StructType(out.schema.filterNot(f =>
      t.outPartCols.contains(f.name) || bookkeeping(f.name)))
    val (kept, empty) = files.zip(statsFieldsWithCounts(files.map(_._2),
      dataSchema, t.conf)).partition(_._2._2 > 0)
    cleanup(t.fs, empty.map(_._1._2))
    val (rids, domain) = rowTrackingFields(t.table, t.dst.protocol,
      t.dst.domains, kept.map(_._2._2), t.version + 1)
    (kept.zip(rids).map { case (((rel, _, size), (st, _)), rid) =>
      addAction(rel, size, ts, dataChange, rid + st)
    }, domain)
  }

  /** Write `cdc` (the table columns + `_change_type`) as `_change_data/`
    * files, recorded in `written`; returns their cdc actions. */
  private def cdcActions(t: RowTarget, cdc: DataFrame,
      written: mutable.ArrayBuffer[String]): Seq[String] = {
    val files = writeData(t.physical(cdc, extra = Seq("_change_type")),
      t.base, t.outPartCols, "_change_data", t.conf)
    written ++= files.map(_._2)
    files.map { case (rel, _, size) =>
      s"""{"cdc":{"path":"${pctEncodeRel(rel)}",""" +
        s""""partitionValues":{${partitionValuesJson(partValues(rel))}},""" +
        s""""size":$size,"dataChange":false}}"""
    }
  }

  /** Place `lines` as commit `version` EXCLUSIVELY. The loser of a
    * concurrent commit deletes `newFiles` and fails with
    * [[CommitConflict]]; `op` names what to retry. */
  private def commitLog(fs: FileSystem, logPath: Path, table: String,
      version: Long, lines: Seq[String], op: String,
      newFiles: Seq[String] = Nil): Long = {
    if (!putText(fs, new Path(logPath, f"$version%020d.json"),
      lines.mkString("\n"))) {
      cleanup(fs, newFiles)
      throw CommitConflict(
        s"$table: version $version was committed concurrently — " +
          s"re-read the table and retry the $op")
    }
    version
  }

  /** Kill row positions per data file by DELETION VECTOR: one
    * `remove(old state) + add(same file, unioned DV)` pair per touched
    * file — a file whose every live row died is plainly removed.
    * `matches` rows are (canonical file key, positions); the new DV
    * files go to `written`. Returns the action lines, led by the
    * protocol upgrade when a DV was written — it rides only on commits
    * that actually WRITE a deletion vector; one whose every touched file
    * fully died is plain remove actions and must not lock readers out.
    * Shared by DELETE, UPDATE and MERGE. On a rowTracking table a re-add
    * MUST carry its file's baseRowId/defaultRowCommitVersion verbatim
    * (fresh ids on a surviving file would silently change every row's
    * identity), and a tracked file missing them is directed. */
  private def dvKillActions(t: RowTarget,
      matches: Seq[(String, Array[Long])], ts: Long,
      written: mutable.ArrayBuffer[String]): Seq[String] = {
    val lines = Seq.newBuilder[String]
    val newDvFiles = Seq.newBuilder[String]
    matches.foreach { case (key, newPos) =>
      val (rawPath, pv, oldDv, oldStats) = t.fileOf(key)
      val ridField = t.trackIds match {
        case None => ""
        case Some(m) => m.get(rawPath) match {
          case Some((b, v)) =>
            s""","baseRowId":$b,"defaultRowCommitVersion":$v"""
          case None => throw UnsupportedWrite(
            s"${t.table}: $rawPath carries no baseRowId on a rowTracking " +
              "table — re-adding it would change its rows' identity")
        }
      }
      val oldPos = oldDv.map(d =>
        DeletionVector.positions(d, t.base, TaskConf(t.conf))).getOrElse(
        Array.empty[Long])
      val all = (oldPos ++ newPos).distinct.sorted
      val abs = DeltaTable.resolveAdd(t.base, rawPath)
      val fileRows = rowCounts(Seq(abs), t.conf).head
      lines += removeAction(rawPath, pv, oldDv, ts, dataChange = true)
      if (all.length < fileRows) {
        // some rows survive: same file re-added under the unioned DV
        val dvPath =
          s"${t.base}/deletion_vector_${java.util.UUID.randomUUID()}.bin"
        val data = DeletionVector.serialize(all)
        val (off, size) = DeletionVector.writeFile(dvPath, data, t.conf)
        newDvFiles += dvPath
        val size0 = t.fs.getFileStatus(new Path(abs)).getLen
        val nd = DeletionVector.Descriptor("p", dvPath, Some(off), size,
          all.length.toLong)
        // the file's PHYSICAL stats carry over (DV'd rows stay inside
        // the bounds — a superset bound is always valid), but marked
        // WIDE: tightBounds defaults to TRUE per PROTOCOL.md, and tight
        // stats on a file whose DV hides rows would let a
        // stats-answering reader return wrong counts/extremes
        def widen(s: String): String = try {
          // parsed, not string surgery: the key could appear inside a
          // string BOUND value, and foreign spellings carry whitespace.
          // useBigDecimalForDouble keeps numeric bounds exact through
          // the re-serialization.
          JsonMethods.parse(s, useBigDecimalForDouble = true) match {
            case JObject(fields) => JsonMethods.compact(JsonMethods.render(
              JObject(("tightBounds" -> JBool(false)) ::
                fields.filterNot(_._1 == "tightBounds"))))
            case _ => s
          }
        } catch { case _: Exception => s } // unparseable: carry verbatim
        val statsField = oldStats
          .map(s => s""","stats":"${jsonEscape(widen(s))}"""").getOrElse("")
        lines += s"""{"add":{"path":"${jsonEscape(rawPath)}",""" +
          s""""partitionValues":{${partitionValuesJson(pv)}},""" +
          s""""size":$size0,"modificationTime":$ts,"dataChange":true,""" +
          s""""deletionVector":${dvJson(nd)}$ridField$statsField}}"""
      } // else: every live row died — the remove alone retires the file
    }
    val dvFiles = newDvFiles.result()
    written ++= dvFiles
    (if (dvFiles.nonEmpty) dvProtocolUpgrade(t.dst.protocol) else Nil) ++
      lines.result()
  }

  /** UPDATE and MERGE from the matched set on: the table's row contracts
    * and the partition encoding are checked on `images`, which land as
    * new data files; `matched`'s positions die by deletion vector; and
    * on a change-data-feed table `cdc` rides along — ONE commit of
    * operation `op`. `matched` and `images` derive from one
    * materialization, so the kill, the images and the feed agree. */
  private def replaceRows(t: RowTarget, op: String, matched: DataFrame,
      images: DataFrame, cdc: => DataFrame,
      written: mutable.ArrayBuffer[String]): Long = {
    enforceConstraints(t.table, t.config, t.dst.schemaJson, Some(images))
    requireEncodablePartitions(t.table, t.schema, t.partCols, images,
      s"$op writes")
    val positions = killPositions(matched)
    val ts = System.currentTimeMillis()
    val (adds, domain) = placeData(t, t.physical(images), ts, written)
    val killLines = dvKillActions(t, positions, ts, written)
    val cdcLines = if (t.cdfEnabled) cdcActions(t, cdc, written) else Nil
    commitLog(t.fs, t.logPath, t.table, t.version + 1,
      Seq(s"""{"commitInfo":{"timestamp":$ts,"operation":"$op"}}""") ++
        killLines ++ adds ++ cdcLines ++ domain,
      op.toLowerCase, written.toSeq)
  }

  /** Image-writing paths (append/update/merge) direct on tables whose
    * contract is EVALUATED against the rows being committed:
    * `delta.constraints.*` CHECK constraints (violation = the expression
    * is FALSE; NULL passes, the SQL standard), legacy column invariants
    * (`delta.invariants` field metadata, the writer-v2 obligation), and
    * GENERATED columns (`delta.generationExpression` — the provided
    * value must null-safely equal its expression, the protocol's writer
    * obligation). A violating batch fails with [[ConstraintViolation]]
    * naming the constraint and one offending row — never a silent
    * commit of rows the table's own rules reject. Deletes are exempt
    * (removing rows cannot break a row constraint); nested-field
    * invariants stay directed. With `rows = None` only the contract is
    * RESOLVED (expressions parse) — the caller evaluates the final
    * written frame later in its flow. The caller MUST hand a
    * MATERIALIZED frame (temp parquet / written files), never the raw
    * input plan: a non-deterministic source would otherwise re-evaluate
    * between validation and write and commit rows that were never
    * checked. */
  private def enforceConstraints(table: String, config: Map[String, String],
      schemaJson: String, rows: Option[DataFrame]): Unit =
    constraintValidator(table, config, schemaJson).foreach(v =>
      rows.foreach(v))

  /** [[enforceConstraints]]'s engine: None when the table declares no
    * row contracts (the common case — zero overhead); otherwise a
    * validator to run over the exact materialized frame whose rows will
    * be committed. */
  private def constraintValidator(table: String, config: Map[String, String],
      schemaJson: String): Option[DataFrame => Unit] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val checks: Seq[(String, String)] = config.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        s"CHECK constraint ${k.stripPrefix("delta.constraints.")}" -> v
    }
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    // nested invariants stay directed: substring first (cheap), then a
    // REAL metadata key — a comment mentioning the string must not direct
    if (schemaJson.contains("delta.invariants")) {
      def nestedInvariant(dt: DataType): Boolean = dt match {
        case st: StructType => st.fields.exists(f =>
          f.metadata.contains("delta.invariants") || nestedInvariant(f.dataType))
        case ArrayType(et, _) => nestedInvariant(et)
        case MapType(k, v, _) => nestedInvariant(k) || nestedInvariant(v)
        case _ => false
      }
      if (schema.fields.exists(f => nestedInvariant(f.dataType)))
        throw UnsupportedWrite(
          s"$table: a NESTED field declares a column invariant this " +
            "writer does not evaluate")
    }
    val invariants: Seq[(String, String)] = schema.fields.toSeq.flatMap { f =>
      if (!f.metadata.contains("delta.invariants")) None
      else {
        val j = JsonMethods.parse(f.metadata.getString("delta.invariants"))
        (j \ "expression" \ "expression").extractOpt[String] match {
          case Some(sql) => Some(s"invariant on ${f.name}" -> sql)
          case None => throw UnsupportedWrite(
            s"$table: unparseable delta.invariants metadata on '${f.name}'")
        }
      }
    }
    // generated columns: the provided value must EQUAL the generation
    // expression (null-safe — a writer supplying the column must supply
    // the generated value, the protocol's writer obligation)
    // (display name, source column, expression)
    val generated: Seq[(String, String, String)] =
      schema.fields.toSeq.flatMap { f =>
        if (!f.metadata.contains("delta.generationExpression")) None
        else Some((s"generated column ${f.name}", f.name,
          f.metadata.getString("delta.generationExpression")))
      }
    if ((checks ++ invariants).isEmpty && generated.isEmpty) return None
    // violation = the expression is FALSE (NULL passes, the SQL
    // standard); for a generated column, violation = the value differs
    // null-safely from its expression. expr() parses lazily, so syntax
    // errors surface as AnalysisException at analysis, same as
    // resolution failures — analyzed per constraint (no action) so the
    // directed error can NAME the offending contract
    def parsed(name: String, sql: String) =
      try expr(sql) catch { case e: Exception =>
        throw UnsupportedWrite(
          s"$table: $name expression '$sql' does not parse — " +
            s"${e.getMessage}")
      }
    val conds =
      (checks ++ invariants).map { case (name, sql) =>
        (name, sql, coalesce(parsed(name, sql), lit(true)) === false)
      } ++ generated.map { case (name, colName, sql) =>
        (name, sql,
          org.apache.spark.sql.functions.not(
            org.apache.spark.sql.functions.col(s"`$colName`") <=>
              parsed(name, sql)))
      }
    Some { df =>
      conds.foreach { case (name, sql, viol) =>
        try df.select(viol).queryExecution.analyzed
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw UnsupportedWrite(
            s"$table: $name '$sql' does not parse/resolve against the " +
              s"write — ${e.getMessage}")
        }
      }
      // ONE pass over the input evaluates every contract: per-constraint
      // violation flags ride beside the row, any-violation filters
      val flagged = df.select(
        org.apache.spark.sql.functions.struct(
          df.columns.toIndexedSeq.map(c => org.apache.spark.sql.functions
            .col(s"`$c`")): _*).as("__row") +:
        conds.zipWithIndex.map { case ((_, _, viol), i) =>
          viol.as(s"__viol_$i") }: _*)
      val bad = flagged
        .filter(conds.indices.map(i =>
          org.apache.spark.sql.functions.col(s"__viol_$i"))
          .reduce(_ || _))
        .limit(1).collect()
      if (bad.nonEmpty) {
        val row = bad.head
        val i = conds.indices.find(i => row.getBoolean(i + 1)).getOrElse(0)
        val (name, sql, _) = conds(i)
        throw ConstraintViolation(
          s"$table: $name violated by the write — '$sql' is false for " +
            s"row ${row.getStruct(0)}")
      }
    }
  }

  /** The protocol line a first-DV commit needs: upgrade to (3, 7) +
    * deletionVectors, enumerating the LEGACY version numbers' implied
    * features (PROTOCOL.md's upgrade rule) so contracts like
    * changeDataFeed and invariants never silently vanish. Empty when the
    * table already declares the feature. */
  /** PROTOCOL.md's legacy version→feature table: the writer features a
    * pre-v7 minWriterVersion IMPLIES, which any upgrade to v7 must
    * enumerate so contracts never silently vanish. columnMapping is
    * implied only by (reader 2, writer 5) BOTH — and the replay
    * already rejects reader-2 tables, so it is never legacy-implied on
    * a table that reaches these writers. ONE table, shared by every
    * v7-upgrading commit (DV enablement, rowTracking backfill). */
  private def legacyWriterFeatures(minWriterVersion: Int): Seq[String] =
    if (minWriterVersion >= 7) Nil
    else Seq(
      ((minWriterVersion >= 2), Seq("appendOnly", "invariants")),
      ((minWriterVersion >= 3), Seq("checkConstraints")),
      ((minWriterVersion >= 4),
        Seq("changeDataFeed", "generatedColumns")),
      ((minWriterVersion >= 6), Seq("identityColumns")))
      .collect { case (true, fsq) => fsq }.flatten

  private def dvProtocolUpgrade(proto: DeltaTable.Protocol): Seq[String] = {
    val needsUpgrade = proto.minReaderVersion < 3 ||
      !proto.readerFeatures.contains("deletionVectors")
    if (!needsUpgrade) Nil
    else {
      val legacyWriter = legacyWriterFeatures(proto.minWriterVersion)
      val rf = (proto.readerFeatures :+ "deletionVectors").distinct
      val wf = (proto.writerFeatures ++ legacyWriter :+
        "deletionVectors").distinct
      Seq(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":[${rf.map(f => s""""$f"""").mkString(",")}],""" +
        s""""writerFeatures":[${wf.map(f => s""""$f"""").mkString(",")}]}}""")
    }
  }

  /** rowTracking bookkeeping for a commit that ADDS data files: per-add
    * `baseRowId`/`defaultRowCommitVersion` fields — fresh ids carved
    * from the `delta.rowTracking` domain's high-water mark (a row's id
    * is baseRowId + its position) — plus the updated domainMetadata
    * line for the same commit. No-ops on tables without the feature;
    * zero new files advance nothing. Fresh assignment is the protocol's
    * baseline for data-changing commits; rewrites that must PRESERVE
    * identity (OPTIMIZE, copy-on-write delete survivors) additionally
    * store each row's stable id in the materialized row-id columns,
    * which override these defaults at read time. */
  private def rowTrackingFields(table: String,
      proto: DeltaTable.Protocol, domains: Map[String, String],
      counts: Seq[Long], commitVersion: Long)
      : (Seq[String], Seq[String]) = {
    if (!proto.writerFeatures.contains("rowTracking"))
      return (counts.map(_ => ""), Nil)
    if (!proto.writerFeatures.contains("domainMetadata"))
      throw UnsupportedWrite(
        s"$table: rowTracking without the domainMetadata feature — the " +
          "row-id high-water mark has nowhere to live")
    // an unparseable domain configuration must DIRECT: a silent -1
    // fallback would hand out row ids that collide with existing ones
    val hwm0 = domains.get("delta.rowTracking") match {
      case None => -1L
      case Some(cfg) =>
        (try (JsonMethods.parse(cfg) \ "rowIdHighWaterMark")
          .extractOpt[Long]
        catch { case _: Exception => None }).getOrElse(
          throw UnsupportedWrite(
            s"$table: unparseable delta.rowTracking domain " +
              s"configuration '$cfg' — fresh row ids could collide"))
    }
    var hwm = hwm0
    val fields = counts.map { n =>
      val b = hwm + 1
      hwm += n
      // n == 0 leaves hwm in place, so the NEXT file shares this base —
      // vacuously: a zero-count file's id range [b, b-1] is empty, so no
      // two rows ever share an id. (This writer's commit paths filter
      // empty files out before assignment anyway; the case only arises
      // for foreign zero-row adds.)
      s""","baseRowId":$b,"defaultRowCommitVersion":$commitVersion"""
    }
    val domain =
      if (counts.isEmpty || hwm == hwm0) Nil
      else Seq(s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
        s""""configuration":"{\\"rowIdHighWaterMark\\":$hwm}",""" +
        s""""removed":false}}""")
    (fields, domain)
  }

  /** Rename a LOGICAL-schema frame to the table's PHYSICAL column names
    * (tagging each field with its parquet field id) — the shape every
    * data, rewrite, and cdc file of a column-mapped table must store; a
    * file written with logical names would read back all-NULL through
    * the physical read schema. NESTED levels rename through ONE cast
    * per column: a struct cast matches fields positionally, so casting
    * to [[DeltaTable.physField]]'s type relabels every nesting level
    * (arrays and maps included) without a hand-built nested select.
    * `extra` columns (e.g. `_change_type`) pass through verbatim: they
    * are not schema columns and carry no mapping (delta-spark stores
    * them unmapped too). */
  private def toPhysical(df: DataFrame, schema: StructType,
      extra: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol}
    df.select(schema.fields.toIndexedSeq.map { f =>
      val pf = DeltaTable.physField(f)
      fcol(s"`${f.name}`").cast(pf.dataType).as(pf.name, pf.metadata)
    } ++ extra.map(c => fcol(s"`$c`")): _*)
  }

  /** An append's target: the table's [[rowTarget]], or on CREATE (no
    * commit and no checkpoint in the log — a vacuumed log may hold ONLY
    * a checkpoint, still an existing table) a state at version -1 that
    * carries the create protocol, `schema`, `partitionBy` and
    * `properties`. Change data feed is a LEGACY writer-version-4
    * obligation; a table created with `delta.enableRowTracking` is BORN
    * tracked — writer v7 with rowTracking + domainMetadata (legacy
    * obligations enumerated), its adds carrying ids from 0 — so no
    * backfill is ever needed and the config never contradicts the
    * protocol. */
  private def appendTarget(spark: SparkSession, table: String,
      schema: StructType, partitionBy: Seq[String],
      properties: Map[String, String]): RowTarget = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val logPath = new Path(s"$base/_delta_log")
    val exists = fs.exists(logPath) && fs.listStatus(logPath).exists { st =>
      val n = st.getPath.getName
      (n.endsWith(".json") && n.length == 25) ||
        DeltaTable.ckptVersionOf(n).isDefined
    }
    if (exists && properties.nonEmpty) throw UnsupportedWrite(
      s"$table: properties apply on CREATE only — alter an existing " +
        "table's configuration with setProperties")
    if (exists) return rowTarget(spark, table)
    def on(k: String) = properties.get(k).exists(_.equalsIgnoreCase("true"))
    val minWriter = if (on("delta.enableChangeDataFeed")) 4 else 2
    val protocol =
      if (!on("delta.enableRowTracking"))
        DeltaTable.Protocol(1, minWriter, Nil, Nil)
      else DeltaTable.Protocol(1, 7, Nil, (legacyWriterFeatures(minWriter) ++
        Seq("rowTracking", "domainMetadata")).distinct)
    val metaId = java.util.UUID.randomUUID().toString
    val metaRaw = JObject("id" -> JString(metaId),
      "format" -> JObject("provider" -> JString("parquet"),
        "options" -> JObject()),
      "createdTime" -> JInt(System.currentTimeMillis()))
    RowTarget(table, base, conf, fs, DeltaTable.DeltaState(-1L, metaId,
      schema.json, partitionBy, properties, Nil, protocol, Map.empty,
      Some(metaRaw)))
  }

  /** Append `df` to (or create) the Delta table at `table`. Returns the
    * committed version. `partitionBy` and `properties` (the table
    * configuration, e.g. `delta.enableChangeDataFeed`) apply on CREATE
    * only — appends inherit the table's existing partition layout.
    * `mergeSchema = true` permits ADDITIVE schema evolution (see
    * [[TableCommit.appendTail]]): new nullable trailing columns update
    * the table's metaData in the same commit, and files written before
    * the evolution read the new columns as null. The files go through
    * [[placeData]] like every other data-writing commit: an empty append
    * places no file and still commits a version, and a failed one
    * reclaims what it placed. */
  def writeAppend(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false): Long = {
    val t = appendTarget(spark, table, df.schema, partitionBy, properties)
    if (t.mapped && !sameSchema(t.schema, df.schema)) throw UnsupportedWrite(
      s"$table: schema evolution on a column-mapped table is not " +
        "implemented (new columns need fresh ids + physical names)")
    val tail = appendTail(table, t.schema, df.schema, mergeSchema)
    t.partCols.foreach { c =>
      if (!t.schema.fieldNames.contains(c)) throw UnsupportedWrite(
        s"$table: partition column '$c' is not in the schema")
    }
    // directed up front (one extra scan on partitioned string-column
    // appends; best-effort for non-deterministic plans, which
    // re-evaluate between scans)
    requireEncodablePartitions(table, t.schema, t.partCols, df,
      "the append carries")
    // the row contracts run over the WRITTEN batch, before any file is
    // placed — validating the input plan and then re-executing it for
    // the write would let a non-deterministic source commit rows that
    // were never checked
    val validator = constraintValidator(table, t.config, t.dst.schemaJson)
    reclaiming(t.fs) { written =>
      val ts = System.currentTimeMillis()
      val (adds, domain) = placeData(t, t.physical(df), ts, written,
        validate = validator)
      // CREATE declares the protocol and metaData; an evolving append
      // re-declares the metaData (its RAW action, so foreign fields
      // survive) under the SAME table id, so no reader observes the new
      // schema without the new files
      val metaData =
        if (t.version >= 0 && tail.isEmpty) Nil
        else Seq(metaDataActionJson(t.dst.metaRaw, t.dst.metaId,
          StructType(t.schema.fields ++ tail).json, t.partCols, t.config))
      val p = t.dst.protocol
      val head =
        if (t.version >= 0)
          s"""{"commitInfo":{"timestamp":$ts,"operation":"WRITE"}}""" +: metaData
        else Seq(
          s"""{"commitInfo":{"timestamp":$ts,"operation":"CREATE TABLE AS SELECT"}}""",
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":${p.minWriterVersion}""" +
            (if (p.writerFeatures.isEmpty) "}}"
            else s""","writerFeatures":[${p.writerFeatures
              .map(f => s""""$f"""").mkString(",")}]}}""")) ++ metaData
      t.fs.mkdirs(t.logPath)
      commitLog(t.fs, t.logPath, table, t.version + 1,
        head ++ adds ++ domain, "append", written.toSeq)
    }
  }

  /** Row-level DELETE via DELETION VECTORS — the modern (Databricks-
    * default) delete shape: matching rows are killed by roaring bitmaps
    * over their file positions, NO data file is rewritten. One commit of
    * `remove(old state) + add(same file, new DV)` per touched file; a
    * file whose every live row matches is plainly removed. The protocol
    * upgrades to (3, 7) + the deletionVectors feature on first use,
    * preserving existing features. Existing DVs union with the new
    * positions. Returns the committed version (the current one when
    * nothing matches — an empty DELETE is a no-op, not an empty commit).
    *
    * `mode` picks the physical shape:
    *
    *  - `"dv"`: deletion vectors only. Deleted-row positions pass
    *    through the driver (grouped per file, ONE action — the cap is
    *    derived from the very row set the DV build consumes, so a
    *    non-deterministic condition cannot slip past it); more than
    *    `maxDeletedRows` (default 10M) fails directed.
    *  - `"rewrite"`: COPY-ON-WRITE — the touched files' SURVIVORS are
    *    rewritten distributed (data IO scales with the touched files,
    *    nothing passes the driver but file names) and the commit is
    *    remove(touched)+add(rewritten). The data-scale shape.
    *  - `"auto"` (default): one O(files) per-file count pass picks —
    *    at most `maxDeletedRows` matches take the DV shape, more take
    *    the rewrite. Like delta-spark's own DELETE, auto and rewrite
    *    locate touched files and evaluate survivors in separate passes,
    *    so a non-deterministic condition should use `"dv"`.
    *
    * On a table with `delta.enableChangeDataFeed`, EVERY shape writes
    * the killed rows as `_change_data/` cdc files (`_change_type =
    * delete`) in the same commit — the row-level truth readCdf serves
    * verbatim; without them the DV shape would be unreconstructible and
    * the rewrite would misreport survivors as inserts. */
  def writeDelete(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      maxDeletedRows: Long = 10000000L, mode: String = "auto"): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    if (!Set("auto", "dv", "rewrite")(mode)) throw UnsupportedWrite(
      s"$table: DELETE mode '$mode' (auto, dv, or rewrite)")
    // rowTracking: DV re-adds preserve their file's ids verbatim, and
    // the copy-on-write rewrite preserves SURVIVORS' identity through
    // the materialized row-id columns (only deleted rows' ids retire)
    val t = mutableTarget(spark, table, "DELETE")
    val version = t.version
    val keyed = DeltaTable.readWithRowKey(spark, table).filter(condition)

    // a CDF-enabled table's DELETE commit must carry its killed rows as
    // cdc files — without them readCdf would either fail directed (DV
    // shape) or misreport the rewrite's survivors as inserts.
    def cdcDeleteLines(killed: DataFrame,
        written: mutable.ArrayBuffer[String]): Seq[String] =
      if (!t.cdfEnabled) Nil
      else {
        // a FOREIGN table may hold ''/sentinel string partition values
        // the directory encoding cannot round-trip — the cdc rows would
        // misreport them as null (this engine's own appends direct the
        // values at write time, but other writers do not)
        requireEncodablePartitions(table, t.schema, t.partCols, killed,
          "a killed row's cdc image carries")
        cdcActions(t, killed
          .select(t.schema.fieldNames.toIndexedSeq.map(n => col(s"`$n`")): _*)
          .withColumn("_change_type", lit("delete")), written)
      }

    def dvShape(written: mutable.ArrayBuffer[String]): Long = {
      val matches = killPositions(keyed)
      val totalDeleted = matches.map(_._2.length.toLong).sum
      if (totalDeleted == 0) return version
      if (totalDeleted > maxDeletedRows) throw UnsupportedWrite(
        s"$table: DELETE matches $totalDeleted rows (> $maxDeletedRows) " +
          "— deletion vectors are for small deletes; use mode=rewrite " +
          "(or auto)")
      val ts = System.currentTimeMillis()
      val killLines = dvKillActions(t, matches, ts, written)
      // the cdc rows derive from the COLLECTED kill set (a semi-join on
      // the exact row identities), never a re-evaluation of the
      // condition — the feed always agrees with the rows the DVs killed
      val cdcLines =
        if (!t.cdfEnabled) Nil
        else {
          import spark.implicits._
          val killedDf = spark.createDataset(matches.flatMap {
            case (f, pos) => pos.toSeq.map(p => (f, p)) })
            .toDF("__kp", "__kpos")
          val whole = DeltaTable.readWithRowKey(spark, table)
          cdcDeleteLines(TableScan.dropRowKey(whole.join(killedDf,
            whole(TableScan.RowPath) === killedDf("__kp") &&
              whole(TableScan.RowPos) === killedDf("__kpos"), "left_semi")),
            written)
        }
      commitLog(t.fs, t.logPath, table, version + 1,
        Seq(s"""{"commitInfo":{"timestamp":$ts,"operation":"DELETE"}}""") ++
          killLines ++ cdcLines,
        "delete", written.toSeq)
    }

    def rewriteShape(touchedCanon: Set[String],
        written: mutable.ArrayBuffer[String]): Long = {
      if (touchedCanon.isEmpty) return version
      // rowTracking: the SURVIVORS of a copy-on-write delete keep their
      // identity — each rewritten row stores its stable id and commit
      // version in the materialized columns (minted here on first use),
      // exactly like OPTIMIZE; only the deleted rows' ids retire
      val matCols = materializedColsFor(table, t.dst.protocol, t.config,
        t.schema)
      // survivors of the TOUCHED files only (existing DVs applied) —
      // rows where the predicate is false OR NULL survive, delta's own
      // DELETE semantics
      val survivors = (matCols match {
        case Some((ridCol, rcvCol, _)) => DeltaTable
          .readFilesSubsetWithRowIds(spark, table, touchedCanon,
            ridCol, rcvCol)
        case None => DeltaTable.readFilesSubset(spark, table, touchedCanon)
      }).filter(not(coalesce(condition, lit(false))))
      // a foreign table may hold ''/sentinel string partition values the
      // directory encoding cannot round-trip — directed before rewriting
      requireEncodablePartitions(table, t.schema, t.partCols, survivors,
        "a surviving row carries")
      val ts = System.currentTimeMillis()
      // stats cover the TABLE's columns only — the materialized row-id
      // columns are bookkeeping, not pruning input; the adds still carry
      // FRESH baseRowId ranges (the protocol's required fields), the
      // materialized columns override per row
      val matNames = matCols.toSeq.flatMap(m => Seq(m._1, m._2)).toSet
      val (adds, domain) = placeData(t,
        t.physical(survivors, extra = matNames.toSeq), ts, written,
        bookkeeping = matNames)
      val removes = touchedCanon.toSeq.sorted.map { key =>
        val (rawPath, pv, oldDv, _) = t.fileOf(key)
        removeAction(rawPath, pv, oldDv, ts, dataChange = true)
      }
      // a second pass over the touched files builds the killed-row cdc
      // frame — CDF costs one extra scan of the touched files here, and
      // the documented prefer-dv-for-non-deterministic caveat covers the
      // two evaluations
      val cdcLines = cdcDeleteLines(
        DeltaTable.readFilesSubset(spark, table, touchedCanon)
          .filter(coalesce(condition, lit(false))), written)
      commitLog(t.fs, t.logPath, table, version + 1,
        Seq(s"""{"commitInfo":{"timestamp":$ts,"operation":"DELETE"}}""") ++
          materializedNames(t, matCols) ++ removes ++ adds ++ cdcLines ++
          domain,
        "delete", written.toSeq)
    }

    reclaiming(t.fs) { written =>
      mode match {
        case "dv" =>
          // a distributed pre-count protects the driver from collecting
          // a data-scale position set before the authoritative
          // (collected) cap check can run — the collect-side check still
          // governs
          if (keyed.count() > maxDeletedRows) throw UnsupportedWrite(
            s"$table: DELETE matches more than $maxDeletedRows rows — " +
              "deletion vectors are for small deletes; use mode=rewrite " +
              "(or auto)")
          dvShape(written)
        case "rewrite" =>
          rewriteShape(keyed.select(col(TableScan.RowPath)).distinct()
            .collect().map(_.getString(0)).toSet, written)
        case _ => // auto: an O(files) count pass picks the shape
          val groups = keyed.groupBy(col(TableScan.RowPath)).count().collect()
          val total = groups.map(_.getLong(1)).sum
          if (total == 0) version
          else if (total <= maxDeletedRows) dvShape(written)
          else rewriteShape(groups.map(_.getString(0)).toSet, written)
      }
    }
  }

  /** Row-level UPDATE: rows matching `condition` take the `set` column
    * expressions (every other column passes through); matched rows are
    * killed in place by DELETION VECTORS and their updated images append
    * as new data files in the SAME commit (operation UPDATE) — unmatched
    * rows are never rewritten, and a delete+append pair never splits
    * across two versions. When the table sets
    * `delta.enableChangeDataFeed`, the commit also carries
    * `_change_data/` cdc files with `update_preimage`/`update_postimage`
    * rows, the row-level shapes [[DeltaTable.readCdf]] serves verbatim —
    * an update is never double-reported as delete+insert.
    *
    * The matched set is materialized ONCE (a temp parquet under
    * `_delta_log/`, outside every scan root — a crash's droppings
    * never read as data) so the DV kill, the rewritten images, and
    * both cdc images
    * all come from the SAME evaluation of a possibly non-deterministic
    * condition. `maxUpdatedRows` caps the driver-side DV position pass,
    * exactly like [[writeDelete]]. Updating a partition column is
    * allowed — rewritten rows land in their new partitions. Returns the
    * committed version (the current one when nothing matches). */
  def writeUpdate(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      maxUpdatedRows: Long = 10000000L): Long = {
    import org.apache.spark.sql.functions.lit
    // rowTracking: the DV re-adds of surviving files preserve their
    // baseRowId verbatim, the appended post-update images take FRESH
    // ids (the protocol's baseline — stable ids across an update need
    // materialized row-id columns), and the high-water mark advances
    // in the same commit
    val t = mutableTarget(spark, table, "UPDATE")
    enforceConstraints(table, t.config, t.dst.schemaJson, None)
    requireColumns(table, t.schema, "SET column", set.keys)
    rowLevelWrite(DeltaTable.readWithRowKey(spark, table).filter(condition),
      t.logPath.toString, t.conf, t.version) { (matched, n, written) =>
      // the footer count of the MATERIALIZED matched set guards the cap
      // BEFORE any position collect, so the driver never materializes a
      // data-scale position set
      if (n > maxUpdatedRows) throw UnsupportedWrite(
        s"$table: UPDATE matches $n rows (> $maxUpdatedRows) " +
          "— deletion vectors are for small updates; rewrite the table " +
          "instead")
      val preimage = matched
        .select(t.schema.fieldNames.toIndexedSeq.map(c => col(s"`$c`")): _*)
      val rewritten = images(matched, t.schema, set)
      replaceRows(t, "UPDATE", matched, rewritten,
        preimage.withColumn("_change_type", lit("update_preimage"))
          .unionByName(rewritten
            .withColumn("_change_type", lit("update_postimage"))),
        written)
    }
  }

  /** MERGE (upsert) `source` into the table on `keys`: source rows whose
    * key matches an existing row REPLACE it (the matched target rows are
    * DV-killed), the rest INSERT — every source row lands in new data
    * files, all in ONE commit (operation MERGE). With
    * `delta.enableChangeDataFeed` the commit carries cdc files serving
    * the row-level truth: `update_preimage`/`update_postimage` for
    * matched keys, `insert` for new ones. The source is materialized
    * once (temp parquet) so the kill join, the appended files, and the
    * cdc images agree even for a non-deterministic source plan. Directed:
    * duplicate keys in the source (one target row must not take two
    * images — delta's own MERGE errors likewise), schema mismatch, and
    * the writeUpdate guard set. Returns the committed version. */
  def writeMerge(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], maxUpdatedRows: Long = 10000000L): Long = {
    import org.apache.spark.sql.functions.{lit, when}
    // rowTracking: like UPDATE — kill re-adds preserve, source images
    // take fresh ids, one high-water-mark advance per commit
    val t = mutableTarget(spark, table, "MERGE")
    enforceConstraints(table, t.config, t.dst.schemaJson, None)
    requireMergeInput(table, t.schema, source, keys)
    rowLevelWrite(images(source,
      deepNullableType(t.schema).asInstanceOf[StructType]),
      t.logPath.toString, t.conf, t.version) { (src, _, written) =>
      val target = DeltaTable.readWithRowKey(spark, table)
      val matched = mergeMatches(table, src, target, keys, maxUpdatedRows)
      // every source row lands in the table (update image or insert)
      replaceRows(t, "MERGE", matched, src, {
        // matched source rows are postimages, unmatched are inserts;
        // matched target rows are preimages
        val tKeys = target.select(keys.map(k =>
          target(k).as(s"__tk_$k")): _*).distinct()
          .withColumn("__matched", lit(1))
        val tagged = src.join(tKeys,
          keys.map(k => src(k) <=> tKeys(s"__tk_$k")).reduce(_ && _),
          "left")
          .withColumn("_change_type", when(col("__matched").isNotNull,
            lit("update_postimage")).otherwise(lit("insert")))
          .drop(keys.map(k => s"__tk_$k") :+ "__matched": _*)
        TableScan.dropRowKey(matched)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(tagged)
          .select((t.schema.fieldNames.toSeq :+ "_change_type")
            .map(n => col(s"`$n`")): _*)
      }, written)
    }
  }

  /** ALTER TABLE ... RENAME COLUMN — the migration column mapping
    * exists to serve: a metaData-ONLY commit rewrites the logical name
    * while the physical name + field id (and therefore every data, DV,
    * and cdc file, all partition dirs, partitionValues, and stats keys)
    * stay untouched. Directed on unmapped tables (their files store
    * logical names — the stored column would be orphaned), on fields
    * without a physicalName (same orphaning through the fallback), on
    * nested fields, on collisions (Spark resolves case-insensitively),
    * and when a CHECK constraint / invariant / generated column mentions
    * the old name (its expression would stop resolving — delta-spark
    * blocks these too). Returns the committed version. */
  def renameColumn(spark: SparkSession, table: String,
      oldName: String, newName: String): Long = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val logPath = new Path(s"$base/_delta_log")
    val fs = logPath.getFileSystem(conf)
    val dst = DeltaTable.snapshotState(spark, table)
    val version = dst.version
    val metaId = dst.metaId
    val schemaJson = dst.schemaJson
    val partCols = dst.partitionColumns
    val config = dst.configuration
    if (!config.get("delta.columnMapping.mode").exists(_ != "none"))
      throw UnsupportedWrite(
        s"$table: RENAME COLUMN needs column mapping — an unmapped " +
          "table's data files store logical names, and a rename would " +
          "orphan the stored column")
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val field = schema.fields.find(_.name == oldName).getOrElse(
      throw UnsupportedWrite(s"$table: column '$oldName' does not exist"))
    if (!field.metadata.contains("delta.columnMapping.physicalName"))
      throw UnsupportedWrite(
        s"$table: column '$oldName' carries no physicalName — its files " +
          "key by the logical name, and a rename would orphan them")
    if (newName.isEmpty || newName == oldName) throw UnsupportedWrite(
      s"$table: invalid rename '$oldName' -> '$newName'")
    if (schema.fields.exists(f => f.name != oldName &&
      f.name.equalsIgnoreCase(newName)))
      throw UnsupportedWrite(
        s"$table: column '$newName' already exists (names resolve " +
          "case-insensitively)")
    // a contract expression mentioning the old name would stop
    // resolving after the rename — conservative substring check
    if (contractMentions(config, schema, oldName))
      throw UnsupportedWrite(
        s"$table: a CHECK constraint / invariant / generated column " +
          s"mentions '$oldName' — rename the contract first")
    val next = StructType(schema.fields.map(f =>
      if (f.name == oldName)
        StructField(newName, f.dataType, f.nullable, f.metadata)
      else f))
    val newPartCols = partCols.map(c => if (c == oldName) newName else c)
    metaDataOnlyCommit(fs, logPath, table, version, metaId,
      dst.metaRaw, next.json, newPartCols, config, "RENAME COLUMN")
  }

  /** ALTER TABLE ... DROP COLUMN — the other metaData-only migration
    * column mapping serves: the logical field leaves the schema while
    * its PHYSICAL column stays in every data file, where readers simply
    * never select it (the reason the protocol gates DROP behind
    * mapping: an unmapped reader would re-surface the stored column
    * under a later same-name add). Directed on unmapped tables, nested
    * fields, PARTITION columns (their dirs and partitionValues would
    * dangle), contract mentions, and dropping the last column. Returns
    * the committed version. */
  def dropColumn(spark: SparkSession, table: String,
      name: String): Long = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val logPath = new Path(s"$base/_delta_log")
    val fs = logPath.getFileSystem(conf)
    val dst = DeltaTable.snapshotState(spark, table)
    val version = dst.version
    val metaId = dst.metaId
    val schemaJson = dst.schemaJson
    val partCols = dst.partitionColumns
    val config = dst.configuration
    if (!config.get("delta.columnMapping.mode").exists(_ != "none"))
      throw UnsupportedWrite(
        s"$table: DROP COLUMN needs column mapping — an unmapped " +
          "reader would re-surface the stored column under a later " +
          "same-name add")
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    if (!schema.fieldNames.contains(name))
      throw UnsupportedWrite(s"$table: column '$name' does not exist")
    if (partCols.contains(name)) throw UnsupportedWrite(
      s"$table: '$name' is a PARTITION column — its directories and " +
        "partitionValues cannot be dropped by a metadata commit")
    if (schema.fields.length == 1) throw UnsupportedWrite(
      s"$table: dropping the last column would leave an empty schema")
    if (contractMentions(config, schema, name))
      throw UnsupportedWrite(
        s"$table: a CHECK constraint / invariant / generated column " +
          s"mentions '$name' — drop the contract first")
    val next = StructType(schema.fields.filterNot(_.name == name))
    metaDataOnlyCommit(fs, logPath, table, version, metaId,
      dst.metaRaw, next.json, partCols, config, "DROP COLUMN")
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES — a metaData-only commit
    * updating the table configuration. Two property families carry
    * semantics this writer enforces rather than just storing:
    *
    *  - `delta.constraints.*` (ADD CONSTRAINT): the EXISTING rows must
    *    already satisfy the new expression (delta's own rule) — one
    *    scan of the table, rejected whole on a violation;
    *  - `delta.enableChangeDataFeed=true`: the commit also upgrades the
    *    protocol to the legacy writer version the flag obligates, so
    *    every CDF-aware writer sees the contract.
    *
    * Directed: column mapping mode changes (a real migration — existing
    * files carry no physical names/ids). `delta.enableRowTracking=true`
    * on an existing table is the BACKFILL commit: the protocol upgrades
    * to writer v7 with rowTracking+domainMetadata (legacy obligations
    * enumerated), every existing data file re-commits dataChange=false
    * with a contiguous baseRowId range carved from the domain's
    * high-water mark, and the domain records the new mark — one commit,
    * so no reader ever sees the feature without backfilled ids. Returns
    * the committed version. */
  def setProperties(spark: SparkSession, table: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val logPath = new Path(s"$base/_delta_log")
    val fs = logPath.getFileSystem(conf)
    val dst = DeltaTable.snapshotState(spark, table)
    val schema = DataType.fromJson(dst.schemaJson).asInstanceOf[StructType]
    val overlap = set.keySet.intersect(unset.toSet)
    if (overlap.nonEmpty) throw UnsupportedWrite(
      s"$table: ${overlap.mkString(", ")} appear in BOTH set and unset " +
        "— the intent is ambiguous")
    (set.keys ++ unset).find(_.startsWith("delta.columnMapping"))
      .foreach(k => throw UnsupportedWrite(
        s"$table: changing '$k' is a column-mapping MIGRATION (existing " +
          "files carry no physical names/ids) — not a property flip"))
    // delta.enableRowTracking=true on an existing table is the BACKFILL
    // commit, handled below: every existing data file re-commits with a
    // baseRowId carved from the new high-water mark
    val wantRowTracking = set.get("delta.enableRowTracking")
      .exists(_.equalsIgnoreCase("true")) &&
      !dst.protocol.writerFeatures.contains("rowTracking")
    val nextCfg = (dst.configuration ++ set) -- unset
    // a NEW (or REPLACED — value compare, not key) CHECK constraint must
    // already hold on the table's rows; validation runs the new
    // expressions ONLY, against a metadata-BARE schema — the table's
    // unrelated invariants/generated columns are not this commit's
    // business and must not fail (or slow) it
    val newChecks = set.filter { case (k, v) =>
      k.startsWith("delta.constraints.") &&
        !dst.configuration.get(k).contains(v)
    }
    if (newChecks.nonEmpty) {
      val bare = StructType(schema.fields.map(f =>
        StructField(f.name, f.dataType, f.nullable))).json
      constraintValidator(table, newChecks, bare)
        .foreach(v => v(DeltaTable.read(spark, table)))
    }
    // the property families with PROTOCOL obligations: CDF is a legacy
    // writer-version-4 contract, CHECK constraints writer-version-3;
    // v7 tables list the features instead. ONE protocol line covers
    // whatever this commit newly obligates.
    val p = dst.protocol
    val wantCdf = set.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))
    val needFeatures =
      (if (wantCdf) Seq("changeDataFeed") else Nil) ++
        (if (newChecks.nonEmpty) Seq("checkConstraints") else Nil)
    if (wantRowTracking) {
      // --- the rowTracking BACKFILL commit: protocol gains
      // rowTracking + domainMetadata (writer v7, legacy obligations
      // enumerated so no contract silently vanishes), EVERY existing
      // data file re-commits dataChange=false with a fresh contiguous
      // baseRowId range (a row's id = base + its physical position —
      // DV'd positions still consume ids, so counts come from the
      // parquet FOOTERS, not the stats' live-row view... numRecords is
      // physical too, but a foreign add may omit stats entirely), and
      // the domain records the new high-water mark. One commit: no
      // reader ever sees the feature without the backfilled ids.
      val ts = System.currentTimeMillis()
      val version = dst.version
      val p = dst.protocol
      val wf = (p.writerFeatures ++
        legacyWriterFeatures(p.minWriterVersion) ++ needFeatures ++
        Seq("rowTracking", "domainMetadata")).distinct
      val rf =
        if (p.minReaderVersion < 3) ""
        else s""""readerFeatures":[${p.readerFeatures
          .map(f => s""""$f"""").mkString(",")}],"""
      val protoLine =
        s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},""" +
          s""""minWriterVersion":7,$rf"writerFeatures":[${wf
            .map(f => s""""$f"""").mkString(",")}]}}"""
      def resolve(rel: String): String = DeltaTable.resolveAdd(base, rel)
      val counts = rowCounts(dst.files.map(f => resolve(f._1)), conf)
      // a LEFTOVER domain from a prior enablement must parse or DIRECT
      // — restarting the mark at -1 under an unreadable prior mark
      // would reassign row ids that earlier versions gave other rows
      // (the same rule rowTrackingFields applies)
      var hwm = dst.domains.get("delta.rowTracking") match {
        case None => -1L
        case Some(cfg) =>
          (try (JsonMethods.parse(cfg) \ "rowIdHighWaterMark")
            .extractOpt[Long]
          catch { case _: Exception => None }).getOrElse(
            throw UnsupportedWrite(
              s"$table: unparseable delta.rowTracking domain " +
                s"configuration '$cfg' — backfilled row ids could " +
                "collide with previously assigned ones"))
      }
      val adds = dst.files.zip(counts).map {
        case ((rel, pv, dvOpt, stats), n) =>
          val b = hwm + 1
          hwm += n
          val pvs = partitionValuesJson(pv)
          val dvJ = dvOpt.map(d2 =>
            s""","deletionVector":${dvJson(d2)}""").getOrElse("")
          val stJ = stats.map(s2 =>
            s""","stats":"${jsonEscape(s2)}"""").getOrElse("")
          val size =
            try fs.getFileStatus(new Path(resolve(rel))).getLen
            catch {
              case _: java.io.FileNotFoundException => throw UnsupportedWrite(
                s"$table: active file $rel is missing on disk — the " +
                  "backfill cannot re-commit a file it cannot stat " +
                  "(vacuumed early, or the log references a lost file)")
            }
          s"""{"add":{"path":"${jsonEscape(rel)}","partitionValues":{$pvs},""" +
            s""""size":$size,"modificationTime":$ts,"dataChange":false,""" +
            s""""baseRowId":$b,"defaultRowCommitVersion":${version + 1}""" +
            s"""$dvJ$stJ}}"""
      }
      val domainLine =
        if (hwm < 0) Nil
        else Seq(
          s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
            s""""configuration":"{\\"rowIdHighWaterMark\\":$hwm}",""" +
            s""""removed":false}}""")
      val lines = Seq(
        s"""{"commitInfo":{"timestamp":$ts,"operation":"SET TBLPROPERTIES"}}""",
        protoLine,
        metaDataActionJson(dst.metaRaw, dst.metaId, dst.schemaJson,
          dst.partitionColumns, nextCfg)) ++ adds ++ domainLine
      val dest = new Path(logPath, f"${version + 1}%020d.json")
      if (!putText(fs, dest, lines.mkString("\n")))
        throw CommitConflict(
          s"$table: version ${version + 1} was committed concurrently — " +
            "re-read the table and retry the enablement")
      return version + 1
    }
    val protoLines =
      if (needFeatures.isEmpty) Nil
      else if (p.minWriterVersion >= 7) {
        val missing = needFeatures.filterNot(p.writerFeatures.contains)
        if (missing.isEmpty) Nil
        else {
          val wf = (p.writerFeatures ++ missing).distinct
          val rf =
            if (p.minReaderVersion < 3) ""
            else s""""readerFeatures":[${p.readerFeatures
              .map(f => s""""$f"""").mkString(",")}],"""
          Seq(s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},""" +
            s""""minWriterVersion":7,$rf""" +
            s""""writerFeatures":[${wf.map(f => s""""$f"""")
              .mkString(",")}]}}""")
        }
      } else {
        val target = Seq(p.minWriterVersion,
          if (wantCdf) 4 else 0,
          if (newChecks.nonEmpty) 3 else 0).max
        if (target <= p.minWriterVersion) Nil
        else Seq(
          s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},""" +
            s""""minWriterVersion":$target}}""")
      }
    metaDataOnlyCommit(fs, logPath, table, dst.version, dst.metaId,
      dst.metaRaw, dst.schemaJson, dst.partitionColumns, nextCfg,
      "SET TBLPROPERTIES", extraLines = protoLines)
  }

  /** One metaData ACTION json: starts from the table's RAW action when
    * the replay has it — foreign fields (name, description,
    * createdTime, format options) carry verbatim — and replaces only
    * schemaString, partitionColumns, and configuration with what this
    * commit declares. Shared by the schema-only commits and the
    * evolving append. */
  private def metaDataActionJson(metaRaw: Option[JValue], metaId: String,
      schemaJsonText: String, partCols: Seq[String],
      config: Map[String, String]): String = {
    val baseObj: JObject = metaRaw.collect { case o: JObject => o }
      .getOrElse(JObject(List(
        "id" -> JString(if (metaId.nonEmpty) metaId
          else java.util.UUID.randomUUID().toString),
        "format" -> JObject(List(
          "provider" -> JString("parquet"),
          "options" -> JObject(Nil))))))
    val cfgFields = config.toList.sortBy(_._1).map { case (k, v) =>
      (k, JString(v): JValue) }
    val updated = JObject(
      baseObj.obj.filterNot { case (k, _) =>
        k == "schemaString" || k == "partitionColumns" ||
          k == "configuration"
      } ++ List(
        "schemaString" -> (JString(schemaJsonText): JValue),
        "partitionColumns" ->
          (JArray(partCols.toList.map(JString(_))): JValue),
        "configuration" -> (JObject(cfgFields): JValue)))
    JsonMethods.compact(JsonMethods.render(
      JObject(List("metaData" -> (updated: JValue)))))
  }

  private def metaDataOnlyCommit(fs: FileSystem, logPath: Path,
      table: String, version: Long, metaId: String,
      metaRaw: Option[JValue], schemaJsonText: String,
      partCols: Seq[String], config: Map[String, String],
      operation: String, extraLines: Seq[String] = Nil): Long = {
    val ts = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$ts,"operation":"$operation"}}""") ++
      extraLines ++ Seq(
      metaDataActionJson(metaRaw, metaId, schemaJsonText, partCols,
        config))
    commitLog(fs, logPath, table, version + 1, lines,
      operation.toLowerCase)
  }

  /** Does any declared contract (CHECK constraint, column invariant,
    * generated column) mention `name` as an IDENTIFIER? Matches on
    * identifier boundaries (case-insensitive, like SQL resolution) —
    * a bare-substring check would block renaming/dropping any
    * short-named column (`v`, `id`) on a table whose contract text
    * merely contains those letters. Backtick-quoted occurrences match
    * too (a backtick is not an identifier character). Conservative in
    * the remaining sense only: a match inside a string LITERAL still
    * blocks — availability, never correctness. The rename/drop guard
    * both schema-change ops share. */
  private def contractMentions(config: Map[String, String],
      schema: StructType, name: String): Boolean = {
    val texts =
      config.collect { case (k, v)
        if k.startsWith("delta.constraints.") => v } ++
        schema.fields.flatMap { f =>
          Seq("delta.invariants", "delta.generationExpression")
            .filter(f.metadata.contains).map(f.metadata.getString)
        }
    val token = ("(?i)(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_])").r
    texts.exists(t => token.findFirstIn(t).isDefined)
  }

  /** The materialized row-id column names a REWRITING commit on a
    * rowTracking table stores stable identity in: the configured pair,
    * or a freshly minted one — `true` in the result marks a mint, and
    * the commit must then carry a metaData action declaring the names
    * (a uuid cannot collide; a CONFIGURED name that shadows a schema
    * column is a malformed table and directs before any data work).
    * None when the table does not track rows. */
  private def materializedColsFor(table: String,
      proto: DeltaTable.Protocol, config: Map[String, String],
      cpSchema: StructType): Option[(String, String, Boolean)] =
    if (!proto.writerFeatures.contains("rowTracking")) None
    else DeltaTable.materializedRowIdCols(table, config) match {
      case Some((r, c)) =>
        val names = cpSchema.fields.flatMap(f =>
          Seq(f.name, DeltaTable.physFieldName(f))).toSet
        Seq(r, c).find(names).foreach(n => throw UnsupportedWrite(
          s"$table: materialized rowTracking column '$n' collides " +
            "with a table column — the row-id state is malformed"))
        Some((r, c, false))
      case None =>
        val u = java.util.UUID.randomUUID().toString
        Some((s"_row-id-col-$u", s"_row-commit-version-col-$u", true))
    }

  /** A rewrite that MINTED the materialized row-id column names commits
    * them via a metaData action in the SAME commit — no reader ever sees
    * materialized files without the names that decode them. */
  private def materializedNames(t: RowTarget,
      matCols: Option[(String, String, Boolean)]): Seq[String] =
    matCols match {
      case Some((ridCol, rcvCol, true)) => Seq(metaDataActionJson(
        t.dst.metaRaw, t.dst.metaId, t.dst.schemaJson, t.partCols,
        t.config ++ Map(
          "delta.rowTracking.materializedRowIdColumnName" -> ridCol,
          "delta.rowTracking.materializedRowCommitVersionColumnName" ->
            rcvCol)))
      case _ => Nil
    }

  /** OPTIMIZE (bin-packing compaction): partitions holding at least two
    * data files smaller than `smallFileThreshold` get those files
    * rewritten into ~`targetFileBytes` ones, in ONE commit of
    * remove+add with `dataChange = false` — the table's ROW SET is
    * unchanged, so change consumers skip the commit entirely
    * ([[DeltaTable.readChanges]] and the files-mode stream ignore
    * dataChange=false adds; readCdf serves nothing for it). Files
    * carrying DELETION VECTORS materialize their survivors and the DV
    * disappears — compaction is how DV debt is repaid. Allowed on
    * append-only tables (a dataChange=false remove is not a data
    * change). Returns the committed version (the current one when
    * nothing qualifies).
    *
    * rowTracking tables PRESERVE every row's stable identity through
    * the rewrite (PROTOCOL.md's obligation for dataChange=false
    * commits): each rewritten file stores the survivors' row ids and
    * commit versions PHYSICALLY in the table's materialized row-id
    * columns (position no longer encodes identity once files merge),
    * named by the `delta.rowTracking.materialized*ColumnName`
    * configuration — minted fresh (and committed via a metaData
    * action in the same commit) on first use. The adds still carry
    * fresh baseRowId/defaultRowCommitVersion as the protocol requires;
    * readers serve COALESCE(materialized, base + position), so ids
    * survive byte-for-byte.
    *
    * `zorderBy` (OPTIMIZE ... ZORDER BY): rewrite EVERY active file
    * with rows laid out along the [[graft.operators.ZOrder]] curve of
    * the named columns, so the per-file stats this writer collects give
    * tight bounds on ALL of them and `readWhere` prunes on any — the
    * multi-dimensional data-skipping layout. One range shuffle. */
  def compact(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L << 20,
      smallFileThreshold: Long = Long.MaxValue,
      zorderBy: Seq[String] = Nil): Long = {
    val t = rowTarget(spark, table)
    val partCols = t.partCols
    val matCols = materializedColsFor(table, t.dst.protocol, t.config,
      t.schema)
    def resolve(rel: String): String = DeltaTable.resolveAdd(t.base, rel)
    // O(files) driver stats pick the targets: per partition tuple, at
    // least two qualifying files, DV'd files always qualify (their debt
    // is the point)
    val sized = t.dst.files.map { f =>
      (f, try t.fs.getFileStatus(new Path(resolve(f._1))).getLen
        catch { case _: java.io.FileNotFoundException => 0L })
    }
    // ZORDER is a clustering rewrite: EVERY active file is a target
    // (locality is a whole-table property); plain bin-packing picks per
    // partition tuple, at least two qualifying files
    val targets =
      if (zorderBy.nonEmpty) sized
      else sized.groupBy(_._1._2).values.toSeq.flatMap { group =>
        val qualifying = group.filter { case ((_, _, dv, _), size) =>
          size < smallFileThreshold || dv.isDefined
        }
        // a LONE DV'd file still rewrites — bin-packing needs two, but
        // DV debt is per-file and compaction is its only repayment
        if (qualifying.size >= 2 ||
          qualifying.exists(_._1._3.isDefined)) qualifying
        else Nil
      }
    zorderBy.foreach { c =>
      if (partCols.contains(c)) throw UnsupportedWrite(
        s"$table: z-order column '$c' is a partition column — the " +
          "directory layout already clusters it")
    }
    if (targets.isEmpty) return t.version
    val targetCanon = targets.map(x => PathUris.canon(resolve(x._1._1))).toSet
    // rowTracking: the rewrite input carries each survivor's stable id
    // and commit version POPULATED into the materialized columns (its
    // file's prior materialized value, or baseRowId + position) — the
    // rewritten files store them physically, so merged positions stop
    // mattering
    val rows = matCols match {
      case Some((ridCol, rcvCol, _)) => DeltaTable
        .readFilesSubsetWithRowIds(spark, table, targetCanon,
          ridCol, rcvCol)
      case None => DeltaTable.readFilesSubset(spark, table, targetCanon)
    }
    val nOut = math.max(1,
      math.ceil(targets.map(_._2).sum.toDouble / targetFileBytes).toInt)
    // partitioned tables repartition BY the partition columns so the
    // dynamic writer emits one file per (task, tuple) without a
    // per-partition shuffle straggler; unpartitioned tables coalesce
    val packed =
      if (zorderBy.nonEmpty)
        graft.operators.ZOrder.cluster(rows, zorderBy, nOut, partCols)
      else if (partCols.isEmpty) rows.coalesce(nOut)
      else rows.repartition(nOut, partCols.map(col): _*)
    reclaiming(t.fs) { written =>
      val ts = System.currentTimeMillis()
      // physicalize AFTER packing: a select is narrow, so the coalesce/
      // repartition/z-order layout (and in-partition order) is
      // preserved. Stats cover the TABLE's columns only, and the adds
      // still carry FRESH baseRowId ranges (the protocol's required
      // fields on a rowTracking table); the materialized columns
      // override them row-by-row at read time
      val matNames = matCols.toSeq.flatMap(m => Seq(m._1, m._2)).toSet
      val (adds, domain) = placeData(t,
        t.physical(packed, extra = matNames.toSeq), ts, written,
        bookkeeping = matNames, dataChange = false)
      val removes = targets.map { case ((rawPath, pv, oldDv, _), _) =>
        removeAction(rawPath, pv, oldDv, ts, dataChange = false)
      }
      commitLog(t.fs, t.logPath, table, t.version + 1,
        Seq(s"""{"commitInfo":{"timestamp":$ts,"operation":"OPTIMIZE"}}""") ++
          materializedNames(t, matCols) ++ removes ++ adds ++ domain,
        "compaction", written.toSeq)
    }
  }

  /** VACUUM: physically delete files the table no longer needs — data
    * files TOMBSTONED (removed) longer than `retentionMs` ago, plus
    * deletion-vector sidecars no active add references whose mtime has
    * aged past the retention. Tombstones come from the commit json AND
    * any reachable checkpoint. Time travel to versions that referenced
    * the deleted files stops working, and readCdf over their commits
    * fails directed — vacuum's documented trade everywhere. Returns the
    * number of files deleted. */
  def vacuum(spark: SparkSession, table: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val logPath = new Path(s"$base/_delta_log")
    val fs = logPath.getFileSystem(conf)
    val files = DeltaTable.snapshotState(spark, table).files
    def resolve(rel: String): String = DeltaTable.resolveAdd(base, rel)
    val active = files.map(f => PathUris.canon(resolve(f._1))).toSet
    val activeDvs = files.flatMap(_._3)
      .filter(_.storageType == "p")
      .map(d => PathUris.canon(
        if (d.pathOrInlineDv.contains("://") ||
          d.pathOrInlineDv.startsWith("/")) d.pathOrInlineDv
        else s"$base/${d.pathOrInlineDv}")).toSet
    val horizon = System.currentTimeMillis() - retentionMs
    // tombstones from the live commit json + the newest checkpoint
    val tombstones = scala.collection.mutable.Map.empty[String, Long]
    val entries = fs.listStatus(logPath).map(_.getPath.getName).toSeq
    entries.filter(n => n.endsWith(".json") && n.length == 25).foreach { n =>
      FsText.read(fs, new Path(logPath, n)).split('\n')
        .filter(_.contains("\"remove\"")).foreach { line =>
          val j = JsonMethods.parse(line)
          (j \ "remove") match {
            case JObject(_) =>
              val p = (j \ "remove" \ "path").extract[String]
              val t = (j \ "remove" \ "deletionTimestamp")
                .extractOpt[Long].getOrElse(0L)
              tombstones(p) = math.max(tombstones.getOrElse(p, 0L), t)
            case _ =>
          }
        }
    }
    entries.flatMap(DeltaTable.ckptVersionOf).sorted.lastOption.foreach { v =>
      val pq = entries.filter(n =>
        DeltaTable.ckptVersionOf(n).contains(v) && n.endsWith(".parquet"))
      if (pq.nonEmpty) {
        val cp = spark.read.parquet(pq.map(n => s"$base/_delta_log/$n"): _*)
        if (cp.columns.contains("remove"))
          cp.select(col("remove.path"),
              col("remove.deletionTimestamp").cast("long"))
            .filter(col("path").isNotNull).collect().foreach { r =>
              val t = if (r.isNullAt(1)) 0L else r.getLong(1)
              tombstones(r.getString(0)) =
                math.max(tombstones.getOrElse(r.getString(0), 0L), t)
            }
      }
    }
    var deleted = 0
    tombstones.foreach { case (rel, ts) =>
      val abs = resolve(rel)
      val key = PathUris.canon(abs)
      if (!active(key) && ts < horizon) {
        if (fs.delete(new Path(abs), false)) deleted += 1
      }
    }
    // orphaned DV sidecars: written by a delete whose add was later
    // removed/rewritten — never tombstoned by actions, aged by mtime
    val dvGlob = fs.globStatus(new Path(s"$base/deletion_vector_*.bin"))
    Option(dvGlob).getOrElse(Array.empty).foreach { st =>
      val key = PathUris.canon(st.getPath.toString)
      if (!activeDvs(key) && st.getModificationTime < horizon) {
        if (fs.delete(st.getPath, false)) deleted += 1
      }
    }
    deleted
  }

  /** Write a CLASSIC checkpoint at the table's latest version — the log
    * compaction every long-followed Delta table needs (replay cost stays
    * O(commits since last checkpoint), and cleaned-up commit json below
    * the checkpoint stops mattering). One parquet of the REPLAYED
    * protocol verbatim + metaData + the active add set (partition
    * values, re-statted sizes, DV descriptors preserved) + the commit
    * tail's remove TOMBSTONES (vacuum bookkeeping other engines read),
    * plus the `_last_checkpoint` pointer. Idempotent: if the checkpoint
    * for this version already exists, it is left in place. Returns the
    * checkpointed version.
    *
    * rowTracking tables checkpoint too: each add re-emits its
    * baseRowId/defaultRowCommitVersion verbatim and the domainMetadata
    * rows carry the high-water mark, so id-aware readers survive a
    * vacuumed log (a TRACKED file missing its fields is directed — a
    * checkpoint without them would change row identity the moment the
    * json below is cleaned).
    *
    * `txn` (SetTransaction) watermarks are RETAINED: the checkpoint
    * carries one txn row per appId — the newest version per the
    * protocol's replay rule (prior-checkpoint baseline, then commit
    * json above it in version order) — so an external streaming
    * writer's idempotence state survives json cleanup
    * ([[DeltaTable.txnVersions]] recovers the same map). */
  def writeCheckpoint(spark: SparkSession, table: String): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val logPath = new Path(s"$base/_delta_log")
    val fs = logPath.getFileSystem(conf)
    val dst = DeltaTable.snapshotState(spark, table)
    val version = dst.version
    val metaId = dst.metaId
    val schemaJson = dst.schemaJson
    val partCols = dst.partitionColumns
    val config = dst.configuration
    val files = dst.files
    val proto = dst.protocol
    val tracking = proto.writerFeatures.contains("rowTracking")
    // sweep the LOG STATE the replay does not retain — txn watermarks
    // (carried: newest per appId) and remove tombstones (carried) —
    // from BOTH the live commit json and any PRIOR checkpoint
    // (classic/multi-part parquet, V2 json top-level, sidecars): a txn
    // or unexpired tombstone hidden inside an earlier checkpoint must
    // not vanish through compaction. (This re-reads the commit tail the
    // replay just read — O(tail) small text, paid once per checkpoint,
    // kept separate so the replay fold stays tombstone-free.)
    val removeRows = Seq.newBuilder[Row]
    // appId → (version, lastUpdated), protocol replay order: the
    // prior-checkpoint baseline first, then commit json ABOVE it in
    // version order (json at-or-below the checkpoint is already folded
    // in, and replaying a partially cleaned tail would resurrect stale
    // watermarks)
    val txns = scala.collection.mutable.Map
      .empty[String, (Long, Option[Long])]
    def sweepJsonLines(text: String, collectTxn: Boolean): Seq[String] = {
      val sidecars = Seq.newBuilder[String]
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        if (line.contains("\"txn\"")) {
          val j = JsonMethods.parse(line)
          (j \ "txn") match {
            case JObject(_) if collectTxn =>
              val app = (j \ "txn" \ "appId").extract[String]
              val v = (j \ "txn" \ "version").extract[Long]
              txns(app) = (v, (j \ "txn" \ "lastUpdated").extractOpt[Long])
            case _ =>
          }
        }
        if (line.contains("\"remove\"")) {
          val j = JsonMethods.parse(line)
          (j \ "remove") match {
            case JObject(_) => removeRows += Row(null, null, null, Row(
              (j \ "remove" \ "path").extract[String],
              (j \ "remove" \ "deletionTimestamp")
                .extractOpt[Long].getOrElse(0L),
              false), null, null)
            case _ =>
          }
        }
        if (line.contains("\"sidecar\"")) {
          val j = JsonMethods.parse(line)
          (j \ "sidecar" \ "path").extractOpt[String].foreach(sidecars += _)
        }
      }
      sidecars.result()
    }
    def sweepActionParquet(paths: Seq[String]): Unit = {
      val cp = spark.read.parquet(paths: _*)
      val cols = cp.columns.toSet
      if (cols.contains("txn")) {
        val tCols = cp.select(col("txn.*")).columns.toSet
        val luCol =
          if (tCols.contains("lastUpdated")) col("txn.lastUpdated")
          else org.apache.spark.sql.functions.lit(null)
        cp.select(col("txn.appId"), col("txn.version").cast("long"),
            luCol.cast("long"))
          .filter(col("appId").isNotNull).collect().foreach { r =>
            txns(r.getString(0)) = (r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2)))
          }
      }
      if (cols.contains("remove")) {
        val rCols = cp.select(col("remove.*")).columns.toSet
        val tsCol = org.apache.spark.sql.functions.coalesce(
          if (rCols.contains("deletionTimestamp"))
            col("remove.deletionTimestamp")
          else org.apache.spark.sql.functions.lit(0L),
          org.apache.spark.sql.functions.lit(0L)) // the field is optional
        cp.select(col("remove.path"), tsCol.cast("long"))
          .filter(col("path").isNotNull).collect().foreach { r =>
            removeRows += Row(null, null, null,
              Row(r.getString(0), r.getLong(1), false), null, null)
          }
      }
      if (cols.contains("sidecar")) {
        val sc = cp.select(col("sidecar.path")).filter(col("path").isNotNull)
          .collect().map { r =>
            val dec = PathUris.pctDecode(r.getString(0))
            if (dec.contains("://") || dec.startsWith("/")) dec
            else s"$base/_delta_log/_sidecars/$dec"
          }.toSeq
        if (sc.nonEmpty) sweepActionParquet(sc)
      }
    }
    val entries = fs.listStatus(logPath).map(_.getPath.getName).toSeq
    // prior-checkpoint BASELINE first (txn + tombstones) ...
    val priorCkpt = entries.flatMap(DeltaTable.ckptVersionOf)
      .distinct.filter(_ <= version).sorted.lastOption
    priorCkpt.foreach { v =>
      val ckptFiles = entries.filter(n =>
        DeltaTable.ckptVersionOf(n).contains(v))
      val (js, pq) = ckptFiles.partition(_.endsWith(".json"))
      js.foreach { n =>
        val sc = sweepJsonLines(FsText.read(fs, new Path(logPath, n)),
          collectTxn = true)
          .map { raw =>
            val dec = PathUris.pctDecode(raw)
            if (dec.contains("://") || dec.startsWith("/")) dec
            else s"$base/_delta_log/_sidecars/$dec"
          }
        if (sc.nonEmpty) sweepActionParquet(sc)
      }
      if (pq.nonEmpty)
        sweepActionParquet(pq.map(n => s"$base/_delta_log/$n"))
    }
    // ... then the commit json in VERSION ORDER: tombstones from every
    // retained file, txn overrides only from json above the baseline
    entries.flatMap { n =>
      if (n.endsWith(".json") && n.length == 25)
        n.take(20).toLongOption.filter(_ <= version).map((_, n))
      else None
    }.sortBy(_._1).foreach { case (v, n) =>
      sweepJsonLines(FsText.read(fs, new Path(logPath, n)),
        collectTxn = priorCkpt.forall(v > _))
    }
    def resolve(rel: String): String = DeltaTable.resolveAdd(base, rel)
    val dvType = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", dvType),
        StructField("stats", StringType),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType))))))
    // the table's protocol VERBATIM — fabricating one would silently
    // drop features (columnMapping, timestampNtz, appendOnly, ...) the
    // moment the commit json below the checkpoint is vacuumed
    val protoRow = Row(proto.minReaderVersion, proto.minWriterVersion,
      if (proto.readerFeatures.isEmpty) null else proto.readerFeatures,
      if (proto.writerFeatures.isEmpty) null else proto.writerFeatures)
    val metaRow = Row(
      if (metaId.nonEmpty) metaId else java.util.UUID.randomUUID().toString,
      Row("parquet"), schemaJson, partCols, config)
    val addRows = files.map { case (path, pv, dv, stats) =>
      // re-stat for the protocol-required size (O(files) driver metadata)
      val size = try fs.getFileStatus(new Path(resolve(path))).getLen
        catch { case _: java.io.FileNotFoundException => 0L }
      // dataChange=false in checkpoints per PROTOCOL.md (the rows
      // describe state, not a change); stats carry VERBATIM — the
      // checkpoint must not lose the scan planner's pruning input
      val (brid, dcv) =
        if (!tracking) (null, null)
        else dst.fileRowIds.get(path) match {
          case Some((b, v)) =>
            (java.lang.Long.valueOf(b), java.lang.Long.valueOf(v))
          case None => throw UnsupportedWrite(
            s"$table: $path carries no baseRowId on a rowTracking " +
              "table — a checkpoint without it would change its rows' " +
              "identity once the log below is cleaned")
        }
      Row(null, null, Row(path, pv, size, 0L, false,
        dv.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.orNull, d.sizeInBytes, d.cardinality)).orNull,
        stats.orNull, brid, dcv), null, null, null)
    }
    // a checkpoint carries each path AT MOST once: a tombstone whose
    // path was later re-added yields to the active add, and repeated
    // removes of one path collapse to the newest timestamp
    val activePaths = files.map(_._1).toSet
    val tombstones = removeRows.result()
      .map(r => (r.getStruct(3).getString(0), r))
      .filterNot { case (p, _) => activePaths(p) }
      .groupBy(_._1).values
      .map(_.maxBy(_._2.getStruct(3).getLong(1))._2).toSeq
    val domainRows = dst.domains.toSeq.sortBy(_._1).map {
      case (dom, cfg) =>
        Row(null, null, null, null, Row(dom, cfg, false), null)
    }
    val txnRows = txns.toSeq.sortBy(_._1).map { case (app, (v, lu)) =>
      Row(null, null, null, null, null,
        Row(app, v, lu.map(java.lang.Long.valueOf).orNull))
    }
    val rows = Seq(Row(protoRow, null, null, null, null, null),
      Row(null, metaRow, null, null, null, null)) ++
      addRows ++ tombstones ++ domainRows ++ txnRows
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), ckptSchema)
    val tmpDir = s"$base/_delta_log/.ckpt-${java.util.UUID.randomUUID()}"
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val part = new Path(tmpDir + "/" +
      fs.listStatus(new Path(tmpDir)).map(_.getPath.getName)
        .find(_.endsWith(".parquet")).getOrElse(
          throw UnsupportedWrite(s"$table: checkpoint parquet missing")))
    val dest = new Path(logPath, f"$version%020d.checkpoint.parquet")
    val placed = exclusivePut(fs, part, dest)
    fs.delete(new Path(tmpDir), true)
    if (placed) overwriteText(fs, conf,
      new Path(logPath, "_last_checkpoint"),
      s"""{"version":$version,"size":${rows.size}}""")
    version
  }
}

/** Transactional Iceberg append snapshot — see [[TableCommit]]. */
object IcebergWriter {
  import TableCommit._

  private implicit val formats: Formats = DefaultFormats

  private def icebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case StringType => "string"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw UnsupportedWrite(
      s"iceberg writer: type ${other.simpleString} is not implemented")
  }

  /** The Iceberg type JSON for `dt`, assigning a FRESH field id to
    * every nested field / list element / map key+value through
    * `nextId` — the spec requires ids unique across the WHOLE schema,
    * nested positions included (they key manifest stats and the
    * field-id read path). Primitives render as plain strings. */
  private def icebergTypeJson(dt: DataType, nextId: () => Int): String =
    dt match {
      case st: StructType =>
        val fs = st.fields.map { f =>
          val id = nextId()
          s"""{"id": $id, "name": "${f.name}", """ +
            s""""required": ${!f.nullable}, """ +
            s""""type": ${icebergTypeJson(f.dataType, nextId)}}"""
        }.mkString(", ")
        s"""{"type": "struct", "fields": [$fs]}"""
      case ArrayType(et, containsNull) =>
        val eid = nextId()
        s"""{"type": "list", "element-id": $eid, """ +
          s""""element": ${icebergTypeJson(et, nextId)}, """ +
          s""""element-required": ${!containsNull}}"""
      case MapType(kt, vt, vNull) =>
        val kid = nextId()
        val vid = nextId()
        s"""{"type": "map", "key-id": $kid, """ +
          s""""key": ${icebergTypeJson(kt, nextId)}, """ +
          s""""value-id": $vid, "value": ${icebergTypeJson(vt, nextId)}, """ +
          s""""value-required": ${!vNull}}"""
      case prim => "\"" + icebergType(prim) + "\""
    }

  /** (schema json, last assigned field id): top-level fields take ids
    * 1..n first (the order stock writers use), nested ids continue
    * past them. */
  private def schemaJsonOf(schema: StructType): (String, Int) = {
    var next = schema.fields.length
    def nid(): Int = { next += 1; next }
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id": ${i + 1}, "name": "${f.name}", """ +
        s""""required": ${!f.nullable}, """ +
        s""""type": ${icebergTypeJson(f.dataType, nid)}}"""
    }.mkString(", ")
    (s"""{"type": "struct", "schema-id": 0, "fields": [$fields]}""", next)
  }

  /** Avro primitive for an identity-partition value column. */
  private def partitionAvroType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case StringType => "string"
    case BooleanType => "boolean"
    case DoubleType => "double"
    case FloatType => "float"
    case other => throw UnsupportedWrite(
      s"iceberg writer: partition column type ${other.simpleString} is " +
        "not implemented (long/int/string/boolean/double/float)")
  }

  /** A partition value parsed back from its directory segment. */
  private def castPartitionValue(raw: String, dt: DataType): Any = dt match {
    case LongType => raw.toLong
    case IntegerType => raw.toInt
    case StringType => raw
    case BooleanType => raw.toBoolean
    case DoubleType => raw.toDouble
    case FloatType => raw.toFloat
    case other => throw UnsupportedWrite(
      s"iceberg writer: partition column type ${other.simpleString}")
  }

  /** The manifest-entry Avro schema with the table spec's FIELD IDS
    * annotated (stock Iceberg Avro readers resolve by them) and every
    * v2-required data_file field: content, file_path, file_format,
    * `partition` (an EMPTY record on unpartitioned specs — the field
    * itself is required), record_count, file_size_in_bytes. */
  private def manifestAvroSchema(partFields: Seq[StructField],
      partFieldIds: Seq[Int] = Nil,
      withEqualityIds: Boolean = false,
      withFirstRowId: Boolean = false): String = {
    // the spec's equality_ids list (field-id 135, element-id 136) —
    // present only on equality-delete manifests (entries then carry one
    // extra trailing cell)
    val eqField =
      if (!withEqualityIds) ""
      else """, {"name": "equality_ids", "type": ["null",
           {"type": "array", "items": "int", "element-id": 136}],
           "default": null, "field-id": 135}"""
    // v3 ROW LINEAGE: each data file's first_row_id (spec field 142) —
    // a row's id is first_row_id + its position; entries then carry one
    // extra trailing cell
    val fridField =
      if (!withFirstRowId) ""
      else """, {"name": "first_row_id", "type": ["null", "long"],
           "default": null, "field-id": 142}"""
    val pf = partFields.zipWithIndex.map { case (f, i) =>
      val fid = if (i < partFieldIds.length) partFieldIds(i) else 1000 + i
      s"""{"name": "${f.name}", "type": ["null",
          "${partitionAvroType(f.dataType)}"], "default": null,
          "field-id": $fid}"""
    }.mkString(", ")
    // the four per-column stats maps (value/null counts, lower/upper
    // bounds) in the spec's Avro map encoding for int keys: an array of
    // key/value records tagged logicalType map, with the spec's own
    // field ids (109/119/120, 110/121/122, 125/126/127, 128/129/130)
    def statsMap(name: String, fid: Int, kid: Int, vid: Int,
        vtype: String): String =
      s"""{"name": "$name", "type": ["null", {"type": "array",
           "items": {"type": "record", "name": "k${kid}_v$vid",
             "fields": [
               {"name": "key", "type": "int", "field-id": $kid},
               {"name": "value", "type": "$vtype", "field-id": $vid}]},
           "logicalType": "map"}], "default": null, "field-id": $fid}"""
    s"""{"type": "record", "name": "manifest_entry", "fields": [
         {"name": "status", "type": "int", "field-id": 0},
         {"name": "sequence_number", "type": ["null", "long"],
          "default": null, "field-id": 3},
         {"name": "data_file", "type": {"type": "record", "name": "r2",
           "fields": [
             {"name": "content", "type": "int", "field-id": 134},
             {"name": "file_path", "type": "string", "field-id": 100},
             {"name": "file_format", "type": "string", "field-id": 101},
             {"name": "partition", "type": {"type": "record",
               "name": "r102", "fields": [$pf]}, "field-id": 102},
             {"name": "record_count", "type": "long", "field-id": 103},
             {"name": "file_size_in_bytes", "type": "long",
              "field-id": 104},
             ${statsMap("value_counts", 109, 119, 120, "long")},
             ${statsMap("null_value_counts", 110, 121, 122, "long")},
             ${statsMap("lower_bounds", 125, 126, 127, "bytes")},
             ${statsMap("upper_bounds", 128, 129, 130, "bytes")}""" +
      s"""$eqField$fridField]},
          "field-id": 2}]}"""
  }

  /** No-stats tail for delete-manifest entries (the reader prunes DATA
    * files only). */
  private val noStatsCells: Seq[Any] = Seq(null, null, null, null)

  /** Per-file `first_row_id` manifest cells for a v3 ROW-LINEAGE data
    * commit: file i's range starts at `start` plus the preceding
    * files' row counts (a row's id = first_row_id + its position) —
    * the same running carve-out [[commitSnapshot]]'s next-row-id
    * advance accounts for. Empty cells (no column) below v3. */
  private def firstRowIdCells(fv: Int, start: Long,
      counts: Seq[Long]): Seq[Seq[Any]] =
    if (fv != 3) counts.map(_ => Nil)
    else counts.scanLeft(start)(_ + _).init.map(s0 => Seq(s0))

  /** ONE data manifest for freshly written files — status-ADDED entries
    * at `newSeq` with their stats cells and, on v3, the per-file
    * first_row_id lineage cells starting at `firstRowStart`. The shape
    * every data-writing commit (append, update/merge images, rewrite)
    * shares. */
  private def writeDataManifest(path: String,
      partStructFields: Seq[StructField], partFieldIds: Seq[Int],
      files: Seq[((String, String, Long), Seq[Any])],
      sc: Seq[(Seq[Any], Long)], newSeq: Long, firstRowStart: Long,
      fv: Int, conf: Configuration, meta: Map[String, String]): Unit = {
    val frid = firstRowIdCells(fv, firstRowStart, sc.map(_._2))
    AvroOcf.write(path,
      manifestAvroSchema(partStructFields, partFieldIds,
        withFirstRowId = fv == 3),
      files.zip(sc).zip(frid).map {
        case ((((_, abs, size), t), (cells, n)), fr) =>
          Seq(1, newSeq,
            Seq(0, abs, "PARQUET", t, n, size) ++ cells ++ fr)
      }, conf = conf, meta = meta)
  }

  /** The four stats cells (value_counts, null_value_counts,
    * lower_bounds, upper_bounds) for one data file, in the k/v-record
    * rows [[AvroOcf.write]] encodes — from the file's parquet FOOTER,
    * keyed by the TABLE schema's field ids. Iceberg data files retain
    * identity-partition columns, so stats cover the full schema. */
  private def statsCells(absPath: String,
      idFields: Seq[(Int, StructField)], conf: Configuration)
      : (Seq[Any], Long) = {
    val sparkSchema = StructType(idFields.map(_._2))
    val st = ColumnStats.footerStats(absPath, sparkSchema, conf)
    val byName = idFields.map { case (id, f) => f.name -> ((id, f.dataType)) }
      .toMap
    def cells(pick: ColumnStats.ColStats => Option[Any],
        enc: (DataType, Any) => Option[Any]): Seq[Seq[Any]] =
      st.cols.toSeq.sortBy(_._1).flatMap { case (name, c) =>
        byName.get(name).flatMap { case (id, dt) =>
          pick(c).flatMap(v => enc(dt, v)).map(v => Seq(id, v))
        }
      }
    val valueCounts = st.numRecords.toSeq.flatMap(n =>
      idFields.map { case (id, _) => Seq[Any](id, n) })
    val nullCounts = cells(_.nullCount, (_, v) => Some(v))
    // string bounds truncate before encoding (Iceberg's own default
    // metrics mode): the MIN prefix stays a valid lower bound, the MAX
    // rounds upward or drops — a wide text column must not copy its
    // full values into every manifest entry
    val lowers = cells(_.min,
      (dt, v) => ColumnStats.icebergBound(dt, v match {
        case s: String => ColumnStats.truncateMin(s)
        case o => o
      }).map(identity[Any]))
    val uppers = cells(_.max,
      (dt, v) => (v match {
        case s: String => ColumnStats.truncateMax(s).map(identity[Any])
        case o => Some(o)
      }).flatMap(x => ColumnStats.icebergBound(dt, x)).map(identity[Any]))
    (Seq(
      if (valueCounts.isEmpty) null else valueCounts,
      if (nullCounts.isEmpty) null else nullCounts,
      if (lowers.isEmpty) null else lowers,
      if (uppers.isEmpty) null else uppers),
      st.numRecords.getOrElse(0L))
  }

  /** The table schema json's (dotted path → field id) map through every
    * STRUCT level — the nested-id tagging input for
    * [[writeIdentityPartitioned]] and the equality-delete key writer.
    * List/map element ids have no StructField to ride on and are not
    * included (schemas carrying them write id-less). */
  private def idPathsOf(schemaJson: String): Map[String, Int] = {
    val j = JsonMethods.parse(schemaJson)
    val b = Map.newBuilder[String, Int]
    def walk(prefix: String, fs2: Seq[JValue]): Unit = fs2.foreach { f =>
      for (id <- (f \ "id").extractOpt[Int];
        n <- (f \ "name").extractOpt[String]) {
        val p = if (prefix.isEmpty) n else s"$prefix.$n"
        b += p -> id
        (f \ "type") match {
          case t: JObject
            if (t \ "type").extractOpt[String].contains("struct") =>
            walk(p, (t \ "fields").extractOpt[Seq[JValue]].getOrElse(Nil))
          case _ =>
        }
      }
    }
    walk("", (j \ "fields").extractOpt[Seq[JValue]].getOrElse(Nil))
    b.result()
  }

  /** Does the type tree contain a list or map anywhere? Such schemas
    * cannot be FULLY id-tagged (element/entry ids have no StructField
    * to carry metadata), and a partially tagged file reads
    * id-annotated to a stock resolver — nulling every untagged member —
    * so they write uniformly id-less instead. */
  private def hasListOrMap(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.exists(f => hasListOrMap(f.dataType))
    case _: ArrayType | _: MapType => true
    case _ => false
  }

  /** One TOP-LEVEL column expression carrying `parquet.field.id` at
    * every struct level: the alias's explicitMetadata tags the root
    * (it survives the optimizer — a metadata-only Project would not),
    * and a CAST to a metadata-tagged deep-nullable struct type carries
    * the nested ids in the attribute's own dataType (Cast returns its
    * target type VERBATIM, nested metadata included; deep-nullable so
    * a required-marked source member never fails the cast). Spark's
    * parquet writer then stores ids at all depths. */
  private def tagIdCol(f: StructField,
      idPaths: Map[String, Int]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col => fcol}
    def tagType(prefix: String, dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { mf =>
        val p = s"$prefix.${mf.name}"
        val md = idPaths.get(p) match {
          case Some(id) => new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id.toLong).build()
          case None => org.apache.spark.sql.types.Metadata.empty
        }
        StructField(mf.name, tagType(p, mf.dataType), nullable = true, md)
      })
      case other => deepNullableType(other)
    }
    val rootMd = idPaths.get(f.name).map(id =>
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id.toLong).build())
      .getOrElse(org.apache.spark.sql.types.Metadata.empty)
    val c0 = fcol(s"`${f.name}`")
    val c = f.dataType match {
      case st: StructType => c0.cast(tagType(f.name, st))
      case _ => c0
    }
    c.as(f.name, rootMd)
  }

  /** The table schema json's top-level (field-id, Spark field) pairs —
    * what [[statsCells]] keys its maps by. */
  private def idFieldsOf(schemaJson: String): Seq[(Int, StructField)] = {
    val j = JsonMethods.parse(schemaJson)
    (j \ "fields").extractOpt[Seq[JValue]].getOrElse(Nil).flatMap { f =>
      for {
        id <- (f \ "id").extractOpt[Int]
        fld <- IcebergTable.structFieldOf(f)
      } yield id -> fld
    }
  }

  /** The v2 manifest-list schema — every field the spec marks required
    * (the counts family, added_snapshot_id, min_sequence_number), with
    * spec field ids annotated. */
  private val listAvroSchema =
    """{"type": "record", "name": "manifest_file", "fields": [
         {"name": "manifest_path", "type": "string", "field-id": 500},
         {"name": "manifest_length", "type": "long", "field-id": 501},
         {"name": "partition_spec_id", "type": "int", "field-id": 502},
         {"name": "content", "type": "int", "field-id": 517},
         {"name": "sequence_number", "type": "long", "field-id": 515},
         {"name": "min_sequence_number", "type": "long", "field-id": 516},
         {"name": "added_snapshot_id", "type": "long", "field-id": 503},
         {"name": "added_files_count", "type": "int", "field-id": 504},
         {"name": "existing_files_count", "type": "int", "field-id": 505},
         {"name": "deleted_files_count", "type": "int", "field-id": 506},
         {"name": "added_rows_count", "type": "long", "field-id": 512},
         {"name": "existing_rows_count", "type": "long", "field-id": 513},
         {"name": "deleted_rows_count", "type": "long", "field-id": 514}]}"""

  /** One manifest-list row — new manifests fill every field; carried
    * prior manifests re-emit what their list declared (spec-required
    * fields default to 0 when a pre-upgrade list omitted them). */
  private[sources] final case class ManifestFile(path: String, length: Long,
      content: Int, seq: Long, minSeq: Long, specId: Int,
      addedSnapshotId: Long, addedFiles: Int, existingFiles: Int,
      deletedFiles: Int, addedRows: Long, existingRows: Long,
      deletedRows: Long) {
    def row: Seq[Any] = Seq(path, length, specId, content, seq, minSeq,
      addedSnapshotId, addedFiles, existingFiles, deletedFiles,
      addedRows, existingRows, deletedRows)
  }

  /** The mutable-ish table state an Iceberg commit starts from. */
  private final case class TableState(meta: JValue,
      carried: Seq[(String, String)], lastSeq: Long,
      snapshots: Seq[JValue], metaVersion: Long,
      priorManifests: Seq[ManifestFile])

  /** Load the commit-relevant state from the latest metadata json: the
    * carried-verbatim fields, sequence/snapshot bookkeeping, and the
    * current snapshot's manifest-list rows — shared by append and
    * delete. */
  private def loadState(spark: SparkSession,
      fs: FileSystem, base: String): TableState = {
    val metaPath = IcebergTable.latestMetadata(fs, base)
    val meta = JsonMethods.parse(FsText.read(fs, metaPath))
    val carried = meta match {
      case JObject(fields) => fields.filterNot { case (k, _) =>
        Set("last-sequence-number", "current-snapshot-id", "snapshots",
          "last-updated-ms", "next-row-id")(k)
      }.map { case (k, v) =>
        k -> JsonMethods.compact(JsonMethods.render(v))
      }
      case _ => Nil
    }
    val snapshots = (meta \ "snapshots").extractOpt[Seq[JValue]]
      .getOrElse(Nil)
    var priorManifests: Seq[ManifestFile] = Nil
    (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
      .foreach { cur =>
        snapshots.find(sn =>
          (sn \ "snapshot-id").extractOpt[Long].contains(cur))
          .flatMap(sn => (sn \ "manifest-list").extractOpt[String])
          .foreach { ml =>
            val rows = AvroOcf.readFilesLocal(spark, Seq(ml))
            val cols = rows.columns.toSet
            def colOr(n: String, d: org.apache.spark.sql.Column) =
              if (cols.contains(n)) col(n) else d
            import org.apache.spark.sql.functions.lit
            priorManifests = rows.select(col("manifest_path"),
                colOr("manifest_length", lit(0L)).cast("long"),
                colOr("content", lit(0)).cast("int"),
                colOr("sequence_number", lit(0L)).cast("long"),
                colOr("partition_spec_id", lit(0)).cast("int"),
                colOr("min_sequence_number",
                  colOr("sequence_number", lit(0L))).cast("long"),
                colOr("added_snapshot_id", lit(0L)).cast("long"),
                colOr("added_files_count", lit(0)).cast("int"),
                colOr("existing_files_count", lit(0)).cast("int"),
                colOr("deleted_files_count", lit(0)).cast("int"),
                colOr("added_rows_count", lit(0L)).cast("long"),
                colOr("existing_rows_count", lit(0L)).cast("long"),
                colOr("deleted_rows_count", lit(0L)).cast("long"))
              .collect().toSeq.map(r => ManifestFile(r.getString(0),
                r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(5),
                r.getInt(4), r.getLong(6), r.getInt(7), r.getInt(8),
                r.getInt(9), r.getLong(10), r.getLong(11), r.getLong(12)))
          }
      }
    TableState(meta, carried,
      (meta \ "last-sequence-number").extractOpt[Long].getOrElse(0L),
      snapshots,
      metaPath.getName.stripSuffix(".metadata.json").stripPrefix("v")
        .toLongOption.getOrElse(0L),
      priorManifests)
  }

  /** The state an Iceberg data-writing commit starts from: a table (its
    * current snapshot, or -1 for an append to a table with none), its
    * schema and default partition spec (see
    * [[partitionSpecInfo]]), and the sequence number, snapshot id and
    * attempt uuid of the snapshot the write commits. */
  private final case class RowTarget(table: String, base: String,
      conf: Configuration, fs: FileSystem, st: TableState, fv: Int,
      currentId: Long, schema: StructType, schemaJson: String,
      specId: Int, partStructFields: Seq[StructField],
      partFieldIds: Seq[Int], parts: Seq[PartField], specJson: String) {
    val newSeq: Long = st.lastSeq + 1
    /** One past every snapshot on record. */
    val snapId: Long = (st.snapshots.flatMap(sn =>
      (sn \ "snapshot-id").extractOpt[Long]) :+ 0L).max + 1
    val attempt: String = java.util.UUID.randomUUID().toString
    val priorNext: Long =
      (st.meta \ "next-row-id").extractOpt[Long].getOrElse(0L)
    /** The cast targets of images written into this table: a
      * required-marked schema must not fail the cast. */
    def imageSchema: StructType =
      deepNullableType(schema).asInstanceOf[StructType]
    def manifestMetaOf(content: String): Map[String, String] =
      manifestMeta(schemaJson, specJson, specId, content, fv)
  }

  /** Load a [[RowTarget]]: directed unless the format version is one of
    * `fvs` (`what` names the write) and a current snapshot exists
    * (`nothingTo` finishes that message; None accepts a table with no
    * snapshot, as appends do); `specOp` names the write in the
    * partition-spec guard. A CREATE passes its metadata fields as
    * `create`: the target then starts from that in-memory initial state
    * instead of the table's latest metadata. */
  private def rowTarget(spark: SparkSession, table: String, what: String,
      fvs: Seq[Int], nothingTo: Option[String], specOp: String,
      create: Option[Seq[(String, String)]] = None): RowTarget = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val st = create.fold(loadState(spark, fs, base)) { fields =>
      TableState(JsonMethods.parse(fields.map { case (k, v) =>
        s""""$k": $v""" }.mkString("{", ", ", "}")), fields, 0L, Nil, 0L, Nil)
    }
    val fv = (st.meta \ "format-version").extract[Int]
    if (!fvs.contains(fv)) throw UnsupportedWrite(
      s"$table: $what format-version ${fvs.mkString(" or ")}, not " +
        s"format-version $fv")
    val currentId = (st.meta \ "current-snapshot-id").extractOpt[Long]
      .filter(_ != -1L).getOrElse(nothingTo match {
        case None => -1L
        case Some(op) => throw UnsupportedWrite(
          s"$table: no current snapshot — nothing to $op")
      })
    val schemaNode = IcebergTable.currentSchemaJson(st.meta)
    val schema = IcebergTable.structOf(schemaNode)
    val (specId, partStructFields, partFieldIds, parts, specJson) =
      partitionSpecInfo(table, st.meta, schema, specOp)
    RowTarget(table, base, conf, fs, st, fv, currentId, schema,
      JsonMethods.compact(JsonMethods.render(schemaNode)), specId,
      partStructFields, partFieldIds, parts, specJson)
  }

  /** Write `images` as data files of the target's default spec (one
    * file set per partition tuple, field-id tagged), footer stats per
    * file with zero-row files dropped, and their data manifest at the
    * new sequence — on v3 with first_row_id cells from next-row-id.
    * Every file is recorded in `written` BEFORE the footer-stats pass,
    * so a throw there still reclaims it. */
  private def imageManifest(spark: SparkSession, t: RowTarget,
      images: DataFrame, written: mutable.ArrayBuffer[String])
      : NewManifest = {
    val files = writeIdentityPartitioned(spark, images, t.base, t.parts,
      t.table, t.fs, t.conf, fieldIds = idPathsOf(t.schemaJson))
    written ++= files.map(_._1._2)
    val idFields = idFieldsOf(t.schemaJson)
    val (kept, empty) = files.map(f =>
      (f, statsCells(f._1._2, idFields, t.conf))).partition(_._2._2 > 0)
    cleanup(t.fs, empty.map(_._1._1._2))
    val path = s"${t.base}/metadata/m-${t.attempt}-data.avro"
    writeDataManifest(path, t.partStructFields, t.partFieldIds,
      kept.map(_._1), kept.map(_._2), t.newSeq, t.priorNext, t.fv, t.conf,
      t.manifestMetaOf("data"))
    written += path
    NewManifest(path, 0, kept.size, kept.map(_._2._2).sum)
  }

  /** Commit the target's new snapshot carrying `manifests`; on v3 the
    * lineage advances by the rows of its data manifests. `written` is
    * what the loser of a commit race deletes. Returns the snapshot id. */
  private def commitRowLevel(t: RowTarget, operation: String,
      manifests: Seq[NewManifest], written: Seq[String],
      carried: Option[Seq[(String, String)]] = None,
      prior: Option[Seq[ManifestFile]] = None): Long = {
    val added = manifests.filter(_.content == 0).map(_.rows).sum
    commitSnapshot(t.fs, t.conf, t.base, t.table, t.snapId, t.newSeq,
      System.currentTimeMillis(), operation, manifests, t.attempt,
      t.specId, carried.getOrElse(t.st.carried), t.st.snapshots,
      prior.getOrElse(t.st.priorManifests), t.st.metaVersion, written,
      fv = t.fv,
      rowLineage =
        if (t.fv == 3) Some((t.priorNext, t.priorNext + added)) else None)
    t.snapId
  }

  private val BucketT = """bucket\[(\d+)\]""".r
  private val TruncT = """truncate\[(\d+)\]""".r

  /** The spec's canonical transform spelling — plural legacy forms
    * (years/months/days/hours) fold to the singular every PartField
    * consumer matches on. */
  private def canonTransform(t: String): String = t match {
    case "years" => "year"
    case "months" => "month"
    case "days" => "day"
    case "hours" => "hour"
    case other => other
  }

  /** One partition-spec field: `name` is the spec field (and dir)
    * name, `source` the schema column it derives from, `transform`
    * the spec string (`identity`, `bucket[N]`, `truncate[W]`, or the
    * temporal family `year`/`month`/`day`/`hour`). */
  private[sources] final case class PartField(name: String, source: String,
      transform: String) {
    import org.apache.spark.sql.functions.{col => fc, floor => _, _}
    private def src = fc(s"`$source`")
    def valueCol(schema: StructType): org.apache.spark.sql.Column =
      transform match {
        case "identity" => src
        case BucketT(n) => graft.functions.IcebergBucketExpr(src, n.toInt)
        case TruncT(w) if w.toLong <= 0 => throw UnsupportedWrite(
          s"truncate[$w]: the width must be positive (spec rule)")
        case TruncT(w) => schema(source).dataType match {
          // spec rule: v - (v mod W) with a POSITIVE remainder, so
          // -1 truncate 10 = -10
          case IntegerType => (src - pmod(src, lit(w.toInt))).cast("int")
          case LongType => src - pmod(src, lit(w.toLong))
          case other => throw UnsupportedWrite(
            s"truncate[$w] over ${other.simpleString} is not implemented " +
              "(int/long sources only)")
        }
        // temporal family: whole units SINCE THE UNIX EPOCH (ints);
        // timestamps are UTC micros and the session timezone is pinned
        // UTC, so year()/month() read the spec's calendar
        case "year" => (year(tsOrDate(schema)) - 1970).cast("int")
        case "month" => ((year(tsOrDate(schema)) - 1970) * 12 +
          month(tsOrDate(schema)) - 1).cast("int")
        // whole days/hours since the epoch in EXACT integer arithmetic:
        // cast(timestamp -> date) floors on the UTC calendar (the
        // session timezone is pinned UTC) and unix_date/hour() are pure
        // int ops — epoch-unit division through Spark's `/` would go
        // via Double and can round to the WRONG partition beyond 2^53
        // micros (before ~1685 / after ~2255). Dates go through
        // unix_date (cast date->int is an ANSI error); anything else is
        // DIRECTED — cast(long as timestamp) would silently read the
        // value as epoch seconds
        case "day" => schema(source).dataType match {
          case DateType => unix_date(src)
          case TimestampType | TimestampNTZType =>
            unix_date(src.cast("timestamp").cast("date"))
          case other => throw UnsupportedWrite(
            s"day over ${other.simpleString} is not implemented " +
              "(date/timestamp sources only)")
        }
        case "hour" => schema(source).dataType match {
          case TimestampType | TimestampNTZType =>
            val ts = src.cast("timestamp")
            (unix_date(ts.cast("date")).cast("long") * 24 +
              hour(ts)).cast("int")
          case other => throw UnsupportedWrite(
            s"hour over ${other.simpleString} is not implemented " +
              "(timestamp sources only)")
        }
        case other => throw UnsupportedWrite(
          s"partition transform '$other' is not implemented")
      }
    private def tsOrDate(schema: StructType): org.apache.spark.sql.Column =
      schema(source).dataType match {
        case DateType | TimestampType | TimestampNTZType => src
        case other => throw UnsupportedWrite(
          s"$transform over ${other.simpleString} is not implemented " +
            "(date/timestamp sources only)")
      }
    def valueType(schema: StructType): DataType = transform match {
      case "identity" => schema(source).dataType
      case TruncT(_) => schema(source).dataType
      case _ => IntegerType // bucket + the temporal family
    }
  }

  private val BucketSpec = """bucket\((\d+)\s*,\s*([^)\s]+)\)""".r
  private val TruncSpec = """truncate\((\d+)\s*,\s*([^)\s]+)\)""".r
  private val TemporalSpec = """(year|month|day|hour)\(([^)\s]+)\)""".r

  /** `partitionBy` entries: a plain column name (identity),
    * `bucket(N, col)` (Appendix B murmur3), `truncate(W, col)`, or
    * `year|month|day|hour(col)` — fields named `<col>_<transform>`,
    * Iceberg's convention. */
  private[sources] def parsePartitionBy(entries: Seq[String]): Seq[PartField] =
    entries.map {
      case BucketSpec(n, c) => PartField(s"${c}_bucket", c, s"bucket[$n]")
      case TruncSpec(w, c) => PartField(s"${c}_trunc", c, s"truncate[$w]")
      case TemporalSpec(t, c) => PartField(s"${c}_$t", c, t)
      case plain => PartField(plain, plain, "identity")
    }

  /** ONE distributed write of `df` grouped by its partition TRANSFORM
    * values, via computed helper columns — Spark's partitionBy excludes
    * only the helpers from the files, so the data files keep the real
    * source columns (Iceberg's hidden-partitioning model) while files
    * still group one-tuple-per-dir; each file's typed tuple parses back
    * from its k=v dirs. Identity helpers are column copies; bucket
    * helpers are the codegen'd murmur3 bucket expression. No per-tuple
    * re-scan of the input, no double evaluation of a non-deterministic
    * plan. Post-write (and race-free, since data files RETAIN the real
    * columns), identity-string files whose dir parsed as null are
    * checked for the ''/hive-sentinel ambiguity. Shared by the append
    * and compaction writers.
    *
    * `fieldIds` (DOTTED schema path -> Iceberg field id, every struct
    * level) tags each table column with `parquet.field.id` metadata —
    * Spark's parquet writer stores the ids recursively (fieldId.write
    * is on by default), giving every data file the spec's ID-KEYED
    * column identity: the read path can then resolve columns by id,
    * the rule that makes renames and foreign differently-spelled files
    * safe. Helper columns stay untagged. */
  private def writeIdentityPartitioned(spark: SparkSession, dfIn: DataFrame,
      base: String, parts: Seq[PartField], table: String, fs: FileSystem,
      conf: Configuration, fieldIds: Map[String, Int] = Map.empty)
      : Seq[((String, String, Long), Seq[Any])] = {
    import org.apache.spark.sql.functions.{col => fcol}
    // field-id tagging: flat AND pure-struct nested schemas tag
    // `parquet.field.id` at every level (`fieldIds` keys are dotted
    // paths); schemas carrying LIST/MAP types write uniformly id-less —
    // element/entry ids have no StructField to ride on, and a partially
    // tagged file reads id-annotated to a stock resolver, nulling every
    // untagged member
    val untaggable =
      dfIn.schema.fields.exists(f => hasListOrMap(f.dataType))
    val df =
      if (fieldIds.isEmpty || untaggable) dfIn
      else dfIn.select(dfIn.schema.fields.toIndexedSeq
        .map(f => tagIdCol(f, fieldIds)): _*)
    // helper names must not shadow REAL columns (a collision would
    // silently exclude the genuine column from the data files) — Spark
    // resolves case-INSENSITIVELY by default, and helpers must not
    // collide with each other either
    val taken = scala.collection.mutable.Set(
      df.schema.fieldNames.map(_.toLowerCase): _*)
    val helperOf = parts.map { pf =>
      var h = s"p__${pf.name}"
      while (taken.contains(h.toLowerCase)) h += "_"
      taken += h.toLowerCase
      pf.name -> h
    }.toMap
    val filesWithTuple: Seq[((String, String, Long), Seq[Any])] =
      if (parts.isEmpty)
        writeData(df, base, Nil, "data", conf).map(f => (f, Nil))
      else {
        val df2 = parts.foldLeft(df)((d, pf) =>
          d.withColumn(helperOf(pf.name), pf.valueCol(df.schema)))
        writeData(df2, base, parts.map(pf => helperOf(pf.name)), "data",
          conf).map { f =>
          val dirs = f._1.split('/').dropRight(1)
          val vals: Seq[Any] = parts.map { pf =>
            val pre = s"${helperOf(pf.name)}="
            val seg = dirs.find(_.startsWith(pre)).getOrElse(
              throw UnsupportedWrite(
                s"$table: partition dir for '${pf.name}' missing in ${f._1}"))
            val raw = PathUris.pctDecode(seg.drop(pre.length))
            if (raw == "__HIVE_DEFAULT_PARTITION__") null
            else castPartitionValue(raw, pf.valueType(df.schema))
          }
          (f, vals)
        }
      }
    locally {
      val strIdx = parts.zipWithIndex.filter { case (pf, _) =>
        pf.transform == "identity" &&
          df.schema(pf.source).dataType == StringType }
      val suspicious = filesWithTuple.filter { case (_, t) =>
        strIdx.exists { case (_, i) => t(i) == null } }
      if (suspicious.nonEmpty) {
        val bad = spark.read.parquet(suspicious.map(_._1._2): _*)
          .select(strIdx.map { case (pf, _) => fcol(pf.source) }: _*)
          .filter(strIdx.map { case (pf, _) => fcol(pf.source).isNotNull }
            .reduce(_ || _))
        if (!bad.isEmpty) {
          cleanup(fs, filesWithTuple.map(_._1._2))
          throw UnsupportedWrite(
            s"$table: a string partition value is '' or the hive null " +
              "sentinel — the directory encoding cannot represent it " +
              "distinctly from null")
        }
      }
    }
    filesWithTuple
  }

  /** The metadata fields of a CREATE: `schema` with top-level ids
    * 1..n, the `partitionBy` spec (see [[parsePartitionBy]]; spec-id 0,
    * field ids from 1000), and every other field the v2 spec marks
    * REQUIRED — column/partition-id high-water marks, properties, the
    * default (empty) sort order — so stock metadata parsers accept the
    * json. */
  private def createFields(table: String, schema: StructType,
      partitionBy: Seq[String], fv: Int): Seq[(String, String)] = {
    val parts = parsePartitionBy(partitionBy)
    parts.foreach { pf =>
      if (!schema.fieldNames.contains(pf.source)) throw UnsupportedWrite(
        s"$table: partition source column '${pf.source}' is not in the " +
          "schema")
    }
    val (schemaJson, lastColId) = schemaJsonOf(schema)
    val specFields = parts.zipWithIndex.map { case (pf, i) =>
      s"""{"name": "${pf.name}", "transform": "${pf.transform}", """ +
        s""""source-id": ${schema.fieldNames.indexOf(pf.source) + 1}, """ +
        s""""field-id": ${1000 + i}}"""
    }.mkString(", ")
    Seq(
      "format-version" -> fv.toString,
      "table-uuid" -> s""""${java.util.UUID.randomUUID()}"""",
      "location" -> s""""${table.stripSuffix("/")}"""",
      "last-column-id" -> lastColId.toString,
      "last-partition-id" -> (999 + parts.size).toString,
      "properties" -> "{}",
      "schemas" -> s"[$schemaJson]",
      "current-schema-id" -> "0",
      "partition-specs" -> s"""[{"spec-id": 0, "fields": [$specFields]}]""",
      "default-spec-id" -> "0",
      "sort-orders" -> """[{"order-id": 0, "fields": []}]""",
      "default-sort-order-id" -> "0")
  }

  /** `t` with `tail` appended to its schema — ADDITIVE evolution: old
    * fields verbatim (their ids are the table's contract), new field ids
    * continuing from the last-column-id high-water mark, and a schema-id
    * past every schema ever declared (spec rule — ids are never reused);
    * the commit carries the grown schemas list. */
  private def withTail(t: RowTarget, tail: Seq[StructField]): RowTarget = {
    val meta = t.st.meta
    val allSchemas = (meta \ "schemas").extractOpt[Seq[JValue]]
      .getOrElse(Seq(meta \ "schema"))
    val lastCol = (meta \ "last-column-id").extractOpt[Int].getOrElse {
      allSchemas.flatMap(s => (s \ "fields").extractOpt[Seq[JValue]]
        .getOrElse(Nil).flatMap(f => (f \ "id").extractOpt[Int]))
        .foldLeft(0)(math.max)
    }
    val newSchemaId = allSchemas.flatMap(s =>
      (s \ "schema-id").extractOpt[Int]).foldLeft(0)(math.max) + 1
    val oldFields = JsonMethods.compact(JsonMethods.render(
      JsonMethods.parse(t.schemaJson) \ "fields"))
      .stripPrefix("[").stripSuffix("]")
    var nextId = lastCol
    def evolId(): Int = { nextId += 1; nextId }
    val newFields = tail.map { f =>
      s"""{"id": ${evolId()}, "name": "${f.name}", "required": false, """ +
        s""""type": ${icebergTypeJson(f.dataType, () => evolId())}}"""
    }.mkString(", ")
    val schemaJson = s"""{"type": "struct", "schema-id": $newSchemaId, """ +
      s""""fields": [$oldFields, $newFields]}"""
    val schemas = (allSchemas.map(s =>
      JsonMethods.compact(JsonMethods.render(s))) :+ schemaJson).mkString(", ")
    t.copy(schema = StructType(t.schema.fields ++ tail),
      schemaJson = schemaJson,
      st = t.st.copy(carried = t.st.carried.filterNot { case (k, _) =>
        Set("schemas", "current-schema-id", "last-column-id")(k)
      } ++ Seq("schemas" -> s"[$schemas]",
        "current-schema-id" -> newSchemaId.toString,
        "last-column-id" -> nextId.toString)))
  }

  /** Append `df` to (or create) the Iceberg table at `table` as one new
    * `append` snapshot. Returns the snapshot id. `partitionBy` (CREATE
    * only — appends inherit the table's default spec, every transform
    * [[partitionSpecInfo]] reads) takes the [[parsePartitionBy]]
    * entries: data files keep the partition source columns (Iceberg's
    * hidden-partitioning model), one file set per touched partition
    * tuple, and the manifest records each file's `partition` struct.
    * `mergeSchema = true` permits ADDITIVE schema evolution (see
    * [[TableCommit.appendTail]] and [[withTail]]). `formatVersion`
    * (CREATE only) may be 3: v3 tables maintain the metadata-level
    * row-lineage bookkeeping (`next-row-id` advanced per commit, snapshot
    * `first-row-id`) and their row-level deletes emit Puffin deletion
    * vectors. The files go through [[imageManifest]] and the commit
    * through [[commitRowLevel]] like every other data-writing commit: an
    * empty append places no file and still commits a snapshot, and a
    * failed one reclaims what it placed. */
  def writeAppend(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false,
      formatVersion: Int = 2): Long = {
    if (formatVersion != 2 && formatVersion != 3) throw UnsupportedWrite(
      s"$table: format-version $formatVersion (2 or 3)")
    val metaDir = new Path(s"${table.stripSuffix("/")}/metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(metaDir) && fs.listStatus(metaDir)
      .exists(_.getPath.getName.endsWith(".metadata.json"))
    val t0 = rowTarget(spark, table, "appends target", Seq(2, 3), None,
      "appending", create = if (exists) None
        else Some(createFields(table, df.schema, partitionBy, formatVersion)))
    val tail = appendTail(table, t0.schema, df.schema, mergeSchema)
    val t = if (tail.isEmpty) t0 else withTail(t0, tail)
    t.partStructFields.foreach(f => partitionAvroType(f.dataType)) // directed early
    reclaiming(t.fs) { written =>
      commitRowLevel(t, "append", Seq(imageManifest(spark, t, df, written)),
        written.toSeq)
    }
  }

  /** Resolve a DOTTED column path through the struct levels of a
    * field-json list down to its parent list + leaf index, apply `leaf`
    * to the parent's field list, and re-emit every enclosing level
    * verbatim (ids untouched at every depth — field-id STABILITY is the
    * whole point of a metadata-only schema change). Directed on a
    * missing segment and on paths crossing list/map types (their
    * elements are not name-addressable). */
  private def rewriteFieldPath(table: String, fields: Seq[JValue],
      path: Seq[String], op: String)(
      leaf: (Seq[JValue], Int) => Seq[JValue]): Seq[JValue] = {
    val seg = path.head
    val idx = fields.indexWhere(f =>
      (f \ "name").extractOpt[String].contains(seg))
    if (idx < 0) throw UnsupportedWrite(
      s"$table: column path segment '$seg' does not exist")
    if (path.size == 1) leaf(fields, idx)
    else {
      val f = fields(idx)
      (f \ "type") match {
        case t: JObject
          if (t \ "type").extractOpt[String].contains("struct") =>
          val subFields = (t \ "fields").extractOpt[Seq[JValue]]
            .getOrElse(Nil)
          val newSub =
            rewriteFieldPath(table, subFields, path.tail, op)(leaf)
          val newType = JObject(t.obj.map {
            case ("fields", _) => ("fields", JArray(newSub.toList))
            case kv => kv
          })
          fields.updated(idx, JObject(f.asInstanceOf[JObject].obj.map {
            case ("type", _) => ("type", (newType: JValue))
            case kv => kv
          }))
        case _ => throw UnsupportedWrite(
          s"$table: $op through '$seg' — only struct levels are " +
            "name-addressable (list/map elements are not)")
      }
    }
  }

  /** Every name each field id EVER carried across the whole schema
    * HISTORY (every nesting level) — the rename guard's input: a new
    * name that a SIBLING id once carried would make the per-file name
    * resolution ambiguous (an old file's column could belong to either
    * member), permanently breaking reads of pre-rename files. */
  private def historicalNames(meta: JValue): Map[Int, Set[String]] = {
    val byId = scala.collection.mutable.Map.empty[Int, Set[String]]
    def walk(fs2: Seq[JValue]): Unit = fs2.foreach { f =>
      for (id <- (f \ "id").extractOpt[Int];
        n <- (f \ "name").extractOpt[String])
        byId(id) = byId.getOrElse(id, Set.empty) + n
      def types(t: JValue): Unit = t match {
        case o: JObject => (o \ "type").extractOpt[String] match {
          case Some("struct") =>
            walk((o \ "fields").extractOpt[Seq[JValue]].getOrElse(Nil))
          case Some("list") => types(o \ "element")
          case Some("map") => types(o \ "key"); types(o \ "value")
          case _ =>
        }
        case _ =>
      }
      types(f \ "type")
    }
    ((meta \ "schemas").extractOpt[Seq[JValue]].getOrElse(Nil) :+
      (meta \ "schema")).foreach(s0 =>
      walk((s0 \ "fields").extractOpt[Seq[JValue]].getOrElse(Nil)))
    byId.toMap
  }

  /** Every field id in a field-json subtree (the field itself plus all
    * nested struct members / list elements / map keys+values) — what a
    * DROP must check against the partition specs' source-ids. */
  private def subtreeIds(f: JValue): Seq[Int] = {
    def ofType(t: JValue): Seq[Int] = t match {
      case o: JObject => (o \ "type").extractOpt[String] match {
        case Some("struct") => (o \ "fields").extractOpt[Seq[JValue]]
          .getOrElse(Nil).flatMap(subtreeIds)
        case Some("list") => (o \ "element-id").extractOpt[Int].toSeq ++
          ofType(o \ "element")
        case Some("map") => (o \ "key-id").extractOpt[Int].toSeq ++
          (o \ "value-id").extractOpt[Int].toSeq ++
          ofType(o \ "key") ++ ofType(o \ "value")
        case _ => Nil
      }
      case _ => Nil
    }
    (f \ "id").extractOpt[Int].toSeq ++ ofType(f \ "type")
  }

  /** ALTER TABLE ... RENAME COLUMN: a METADATA-ONLY commit — Iceberg
    * columns are identified by field id everywhere that matters
    * (manifest bounds, partition-spec source-ids, the field-id read
    * path), so the rename appends a new schema to `schemas` (schema-id
    * bumped past every schema ever declared, ids untouched) and bumps
    * `current-schema-id`; no snapshot, manifest, or data file moves.
    * Files written before the rename resolve through the schema
    * HISTORY the reader keeps (prior names per id — nested levels
    * included: old files' nested structs read under their written
    * member names and relabel through one positional cast).
    * `oldName` may be a DOTTED PATH through struct levels
    * (`meta.author`); renaming below list/map elements is directed.
    * Returns the new metadata version. */
  def renameColumn(spark: SparkSession, table: String,
      oldName: String, newName: String): Long = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val st = loadState(spark, fs, base)
    val meta = st.meta
    val schemaNode = IcebergTable.currentSchemaJson(meta)
    val fields = (schemaNode \ "fields").extractOpt[Seq[JValue]]
      .getOrElse(Nil)
    val path = oldName.split('.').toSeq.filter(_.nonEmpty)
    if (path.isEmpty) throw UnsupportedWrite(
      s"$table: empty column path")
    if (newName.isEmpty || newName.contains(".") ||
      newName == path.last) throw UnsupportedWrite(
      s"$table: invalid rename '$oldName' -> '$newName' (the new name " +
        "is a single identifier)")
    val history = historicalNames(meta)
    val renamedFields =
      rewriteFieldPath(table, fields, path, "RENAME COLUMN") {
        (siblings, idx) =>
          // a spec FIELD named after the column keeps its dir name
          // (source-id binds it); SIBLING collisions resolve
          // case-insensitively like everywhere in SQL — against the
          // siblings' CURRENT names AND every name they EVER carried:
          // reusing a sibling's retired name would make the per-file
          // resolution of pre-rename files ambiguous (two members
          // would claim the same old column), bricking reads
          siblings.zipWithIndex.foreach { case (f, i) =>
            if (i != idx) {
              val cur = (f \ "name").extractOpt[String]
              if (cur.exists(_.equalsIgnoreCase(newName)))
                throw UnsupportedWrite(
                  s"$table: column '$newName' already exists next to " +
                    s"'$oldName' (names resolve case-insensitively)")
              val hist = (f \ "id").extractOpt[Int]
                .map(history.getOrElse(_, Set.empty)).getOrElse(Set.empty)
              if (hist.exists(_.equalsIgnoreCase(newName)))
                throw UnsupportedWrite(
                  s"$table: '$newName' is a RETIRED name of the sibling " +
                    s"'${cur.getOrElse("?")}' — reusing it would make " +
                    "pre-rename files' column resolution ambiguous")
            }
          }
          siblings.updated(idx,
            JObject(siblings(idx).asInstanceOf[JObject].obj.map {
              case ("name", _) => ("name", JString(newName))
              case kv => kv
            }))
      }
    commitNewSchema(fs, conf, base, table, st, meta, renamedFields)
  }

  /** Every partition spec's `source-id` set — the columns a schema
    * change must not touch (their dirs and manifest tuples are bound to
    * the source's identity and type). */
  private def specSourceIds(meta: JValue): Set[Int] =
    (meta \ "partition-specs").extractOpt[Seq[JValue]].getOrElse(Nil)
      .flatMap(sp => (sp \ "fields").extractOpt[Seq[JValue]]
        .getOrElse(Nil)
        .flatMap(f => (f \ "source-id").extractOpt[Int])).toSet

  /** DROP COLUMN: the schema-only twin of [[renameColumn]] — the field
    * leaves the schema (its id retired, never reused: `last-column-id`
    * stays the high-water mark) and no file moves; readers simply stop
    * selecting the column. `name` may be a DOTTED PATH through struct
    * levels. Directed when any partition spec's `source-id` references
    * the column OR any field nested under it (their dirs and tuples
    * would dangle), on dropping the last column of the schema or of an
    * enclosing struct (an empty struct type is not writable), and on
    * paths crossing list/map elements. Returns the new metadata
    * version. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val st = loadState(spark, fs, base)
    val meta = st.meta
    val schemaNode = IcebergTable.currentSchemaJson(meta)
    val fields = (schemaNode \ "fields").extractOpt[Seq[JValue]]
      .getOrElse(Nil)
    val path = name.split('.').toSeq.filter(_.nonEmpty)
    if (path.isEmpty) throw UnsupportedWrite(s"$table: empty column path")
    val dropped = rewriteFieldPath(table, fields, path, "DROP COLUMN") {
      (siblings, idx) =>
        if (siblings.size == 1) throw UnsupportedWrite(
          if (path.size == 1)
            s"$table: dropping the last column would leave an empty schema"
          else s"$table: dropping '$name' would leave its enclosing " +
            "struct empty")
        val ids = subtreeIds(siblings(idx))
        val specIds = specSourceIds(meta)
        ids.find(specIds).foreach(id => throw UnsupportedWrite(
          s"$table: '$name' covers partition SOURCE field id $id — its " +
            "spec fields, directories and manifest tuples cannot be " +
            "dropped by a metadata commit"))
        siblings.patch(idx, Nil, 1)
    }
    commitNewSchema(fs, conf, base, table, st, meta, dropped)
  }

  /** ALTER TABLE ... ALTER COLUMN TYPE — the table spec's safe
    * PROMOTIONS only (`int` -> `long`, `float` -> `double`): a
    * schema-only commit; old files keep their narrow physical type and
    * the parquet reader widens values on scan, manifest bounds promote
    * through the same width rule in the stats codec. Anything else
    * (narrowing, string/temporal changes, decimal re-scale) is
    * directed. Partition SOURCE columns are directed too — old
    * manifests' typed partition tuples would no longer match the spec's
    * result type. Returns the new metadata version. */
  def widenColumn(spark: SparkSession, table: String, name: String,
      toType: String): Long = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val st = loadState(spark, fs, base)
    val meta = st.meta
    val schemaNode = IcebergTable.currentSchemaJson(meta)
    val fields = (schemaNode \ "fields").extractOpt[Seq[JValue]]
      .getOrElse(Nil)
    val path = name.split('.').toSeq.filter(_.nonEmpty)
    if (path.isEmpty) throw UnsupportedWrite(s"$table: empty column path")
    val widened = rewriteFieldPath(table, fields, path, "ALTER COLUMN") {
      (siblings, idx) =>
        val target = siblings(idx)
        val cur = (target \ "type").extractOpt[String].getOrElse(
          throw UnsupportedWrite(
            s"$table: '$name' is not a primitive column"))
        val ok = (cur, toType) match {
          case ("int", "long") | ("float", "double") => true
          case _ => false
        }
        if (!ok) throw UnsupportedWrite(
          s"$table: type change '$cur' -> '$toType' is not a spec " +
            "promotion (int -> long, float -> double only)")
        val targetId = (target \ "id").extractOpt[Int]
        if (targetId.exists(specSourceIds(meta))) throw UnsupportedWrite(
          s"$table: '$name' is a partition SOURCE column — old " +
            "manifests' typed partition tuples cannot be widened by a " +
            "metadata commit")
        siblings.updated(idx,
          JObject(target.asInstanceOf[JObject].obj.map {
            case ("type", _) => ("type", JString(toType))
            case kv => kv
          }))
    }
    commitNewSchema(fs, conf, base, table, st, meta, widened)
  }

  /** Append a new schema (rename/drop result) to `schemas`, bump
    * `current-schema-id` past every schema ever declared, and write the
    * next metadata version — no snapshot, manifest, or data file moves.
    * Everything this writer does not manage carries forward verbatim. */
  private def commitNewSchema(fs: FileSystem, conf: Configuration,
      base: String, table: String, st: TableState, meta: JValue,
      newFields: Seq[JValue]): Long = {
    // v1 metadata requires a top-level `schema` this commit does not
    // re-emit — same v2/v3 floor as every other writer here
    val fv = (meta \ "format-version").extract[Int]
    if (fv != 2 && fv != 3) throw UnsupportedWrite(
      s"$table: schema changes target format-version 2 or 3 " +
        s"(table is $fv)")
    val allSchemas = (meta \ "schemas").extractOpt[Seq[JValue]]
      .getOrElse(Seq(meta \ "schema"))
    val newSchemaId = allSchemas.flatMap(s0 =>
      (s0 \ "schema-id").extractOpt[Int]).foldLeft(0)(math.max) + 1
    val newSchemaJson = JsonMethods.compact(JsonMethods.render(JObject(
      ("type", JString("struct")), ("schema-id", JInt(newSchemaId)),
      ("fields", JArray(newFields.toList)))))
    val schemasListJson = (allSchemas.map(s0 =>
      JsonMethods.compact(JsonMethods.render(s0))) :+ newSchemaJson)
      .mkString(", ")
    commitCarriedChange(fs, conf, base, table, st, meta,
      dropKeys = Set("schemas", "current-schema-id", "schema"),
      replace = Seq(
        "schemas" -> s"[$schemasListJson]",
        "current-schema-id" -> newSchemaId.toString))
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES for Iceberg: the `properties`
    * map is free-form table metadata (the spec interprets none of it at
    * read time) — a metadata-only commit replaces it, everything else
    * carried verbatim. Returns the new metadata version. */
  def setProperties(spark: SparkSession, table: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val st = loadState(spark, fs, base)
    val meta = st.meta
    val fv = (meta \ "format-version").extract[Int]
    if (fv != 2 && fv != 3) throw UnsupportedWrite(
      s"$table: property changes target format-version 2 or 3 " +
        s"(table is $fv)")
    val overlap = set.keySet.intersect(unset.toSet)
    if (overlap.nonEmpty) throw UnsupportedWrite(
      s"$table: ${overlap.mkString(", ")} appear in BOTH set and unset " +
        "— the intent is ambiguous")
    // keep UNKNOWN value shapes verbatim (a foreign writer may store
    // non-string json); set/unset operate by key
    val prior: List[(String, JValue)] = (meta \ "properties") match {
      case JObject(fields) => fields
      case _ => Nil
    }
    val nextProps = JObject(
      prior.filterNot { case (k, _) => set.contains(k) || unset.contains(k) } ++
        set.toList.sortBy(_._1).map { case (k, v) => (k, JString(v): JValue) })
    commitCarriedChange(fs, conf, base, table, st, meta,
      dropKeys = Set("properties"),
      replace = Seq("properties" ->
        JsonMethods.compact(JsonMethods.render(nextProps))))
  }

  /** Snapshot REFS — named TAGS and the `main` BRANCH (the spec's
    * `refs` map): point `name` at `snapshotId` in one metadata-only
    * commit. Refs PIN their snapshots ([[expireSnapshots]] keeps every
    * ref'd snapshot alive); the `main` BRANCH tracks the current
    * snapshot on every commit (the spec's rule) — re-pointing `main`
    * by hand, a ref to a snapshot the metadata does not hold, and
    * NON-main branches (they would silently freeze; this writer has no
    * branch-write surface to advance them) are all directed. Returns
    * the new metadata version. */
  def setRef(spark: SparkSession, table: String, name: String,
      snapshotId: Long, refType: String = "tag"): Long = {
    if (!Set("tag", "branch")(refType)) throw UnsupportedWrite(
      s"$table: ref type '$refType' (tag or branch)")
    if (name.isEmpty) throw UnsupportedWrite(s"$table: empty ref name")
    if (name == "main" && refType == "tag") throw UnsupportedWrite(
      s"$table: 'main' is the spec's branch name — a main TAG would " +
        "shadow it")
    // only `main` advances with commits; any other branch would
    // silently FREEZE (tag semantics under a branch name) — directed,
    // never a silent degradation
    if (name != "main" && refType == "branch") throw UnsupportedWrite(
      s"$table: non-main branches are not implemented (only 'main' " +
        s"advances with commits — use a TAG to pin '$name')")
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val st = loadState(spark, fs, base)
    val meta = st.meta
    if (name == "main" &&
      !(meta \ "current-snapshot-id").extractOpt[Long]
        .contains(snapshotId)) throw UnsupportedWrite(
      s"$table: the main branch tracks the CURRENT snapshot — it " +
        "cannot be re-pointed by hand")
    if (!st.snapshots.exists(sn =>
      (sn \ "snapshot-id").extractOpt[Long].contains(snapshotId)))
      throw UnsupportedWrite(
        s"$table: snapshot $snapshotId is not in the metadata — a ref " +
          "to it would dangle")
    val prior: List[(String, JValue)] = (meta \ "refs") match {
      case JObject(fields) => fields
      case _ => Nil
    }
    val entry: JValue = JObject(List(
      "snapshot-id" -> (JInt(snapshotId): JValue),
      "type" -> (JString(refType): JValue)))
    val next = JObject(prior.filterNot(_._1 == name) :+ (name -> entry))
    commitCarriedChange(fs, conf, base, table, st, meta,
      dropKeys = Set("refs"),
      replace = Seq("refs" ->
        JsonMethods.compact(JsonMethods.render(next))))
  }

  /** Remove a named ref — its snapshot becomes expirable again.
    * Dropping `main` or a missing ref is directed. */
  def dropRef(spark: SparkSession, table: String, name: String): Long = {
    if (name == "main") throw UnsupportedWrite(
      s"$table: the main branch cannot be dropped")
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val st = loadState(spark, fs, base)
    val meta = st.meta
    val prior: List[(String, JValue)] = (meta \ "refs") match {
      case JObject(fields) => fields
      case _ => Nil
    }
    if (!prior.exists(_._1 == name)) throw UnsupportedWrite(
      s"$table: ref '$name' does not exist")
    commitCarriedChange(fs, conf, base, table, st, meta,
      dropKeys = Set("refs"),
      replace = Seq("refs" -> JsonMethods.compact(JsonMethods.render(
        JObject(prior.filterNot(_._1 == name))))))
  }

  /** The shared metadata-only commit: `replace` swaps the named carried
    * fields (after dropping `dropKeys`), the managed tail (timestamps,
    * sequence, snapshots, lineage) re-emits verbatim, and the next
    * metadata version lands with the version-hint swap. */
  private def commitCarriedChange(fs: FileSystem, conf: Configuration,
      base: String, table: String, st: TableState, meta: JValue,
      dropKeys: Set[String], replace: Seq[(String, String)]): Long = {
    val carried2 = st.carried.filterNot { case (k, _) =>
      dropKeys(k) || replace.exists(_._1 == k)
    } ++ replace
    val ts = System.currentTimeMillis()
    val snapsJson = st.snapshots.map(sn =>
      JsonMethods.compact(JsonMethods.render(sn))).mkString(", ")
    val currentId = (meta \ "current-snapshot-id").extractOpt[Long]
      .getOrElse(-1L)
    val allFields = advanceMetadataLog(carried2, fs, base) ++ Seq(
      "last-updated-ms" -> ts.toString,
      "last-sequence-number" -> st.lastSeq.toString,
      "current-snapshot-id" -> currentId.toString,
      "snapshots" -> s"[$snapsJson]") ++
      (meta \ "next-row-id").extractOpt[Long]
        .map(n => "next-row-id" -> n.toString)
    val metaJson = allFields
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val newVersion = st.metaVersion + 1
    val metaDir = new Path(s"$base/metadata")
    val dest = new Path(metaDir, s"v$newVersion.metadata.json")
    if (!putText(fs, dest, metaJson))
      throw CommitConflict(
        s"$table: metadata version $newVersion was committed " +
          "concurrently — re-read the table and retry the change")
    overwriteText(fs, conf, new Path(metaDir, "version-hint.text"),
      newVersion.toString)
    newVersion
  }

  /** The key-value metadata stock manifest readers require in each
    * manifest Avro file. */
  private def manifestMeta(schemaJson: String, specFieldsJson: String,
      specId: Int, content: String, fv: Int = 2): Map[String, String] = Map(
    "schema" -> schemaJson,
    "partition-spec" -> specFieldsJson,
    "partition-spec-id" -> specId.toString,
    "format-version" -> fv.toString,
    "content" -> content)

  /** The manifest-entry schema for v3 DELETION-VECTOR entries: the
    * data_file record additionally locates one `deletion-vector-v1`
    * blob inside a Puffin file (spec fields 143–145). `partFields`
    * carry the table's partition struct so each DV entry scopes to its
    * referenced data file's partition (scan planners prune it
    * everywhere else). */
  private def dvManifestAvroSchema(partFields: Seq[StructField] = Nil,
      partFieldIds: Seq[Int] = Nil): String = {
    val pf = partFields.zipWithIndex.map { case (f, i) =>
      val fid = if (i < partFieldIds.length) partFieldIds(i) else 1000 + i
      s"""{"name": "${f.name}", "type": ["null",
          "${partitionAvroType(f.dataType)}"], "default": null,
          "field-id": $fid}"""
    }.mkString(", ")
    s"""{"type": "record", "name": "manifest_entry", "fields": [
         {"name": "status", "type": "int", "field-id": 0},
         {"name": "sequence_number", "type": ["null", "long"],
          "default": null, "field-id": 3},
         {"name": "data_file", "type": {"type": "record", "name": "r2",
           "fields": [
             {"name": "content", "type": "int", "field-id": 134},
             {"name": "file_path", "type": "string", "field-id": 100},
             {"name": "file_format", "type": "string", "field-id": 101},
             {"name": "partition", "type": {"type": "record",
               "name": "r102", "fields": [$pf]}, "field-id": 102},
             {"name": "record_count", "type": "long", "field-id": 103},
             {"name": "file_size_in_bytes", "type": "long",
              "field-id": 104},
             {"name": "referenced_data_file", "type": ["null", "string"],
              "default": null, "field-id": 143},
             {"name": "content_offset", "type": ["null", "long"],
              "default": null, "field-id": 144},
             {"name": "content_size_in_bytes", "type": ["null", "long"],
              "default": null, "field-id": 145}]}, "field-id": 2}]}"""
  }

  /** A manifest this commit adds: path, content kind (0 data,
    * 1 deletes), and its entry/row counts for the manifest list.
    * `specId` overrides the commit-level manifest spec id for THIS
    * manifest's list row — a merge whose global equality-delete
    * manifest sits under the unpartitioned spec while its data
    * manifest keeps the default needs both in one commit.
    * `minSeq`/`existingFiles`/`existingRows`: a manifest that CARRIES
    * status-0 entries at older explicit sequences (the delete-manifest
    * rewrite) must declare the true minimum sequence and the existing
    * counts, or stock readers' sequence-based pruning goes wrong. */
  private final case class NewManifest(path: String, content: Int,
    files: Int, rows: Long, specId: Option[Int] = None,
    minSeq: Option[Long] = None, existingFiles: Int = 0,
    existingRows: Long = 0L)

  /** `fields` with the `metadata-log` entry list advanced by the
    * metadata file this commit supersedes — the spec's breadcrumb trail
    * (timestamp-ms + metadata-file per superseded version) time-travel
    * tooling walks. Keeps the newest `write.metadata.
    * previous-versions-max` entries (table property; default 100).
    * No-op when no prior metadata file exists (the CREATE commit). */
  private def advanceMetadataLog(fields: Seq[(String, String)],
      fs: FileSystem, base: String): Seq[(String, String)] = {
    val prev =
      try Some(IcebergTable.latestMetadata(fs, base))
      catch { case _: Exception => None }
    prev match {
      case None => fields
      case Some(p) =>
        val ts =
          try fs.getFileStatus(p).getModificationTime
          catch { case _: Exception => return fields }
        val maxKeep = fields.collectFirst { case ("properties", v) =>
          (try (JsonMethods.parse(v) \
            "write.metadata.previous-versions-max")
            .extractOpt[String]
          catch { case _: Exception => None }).flatMap(_.toIntOption)
        }.flatten.getOrElse(100)
        val prior = fields.collectFirst { case ("metadata-log", v) =>
          (try JsonMethods.parse(v).extractOpt[Seq[JValue]]
          catch { case _: Exception => None }).getOrElse(Nil)
            .map(e => JsonMethods.compact(JsonMethods.render(e)))
        }.getOrElse(Nil)
        val entry =
          s"""{"timestamp-ms": $ts, "metadata-file": "$p"}"""
        val all = (prior :+ entry).takeRight(math.max(1, maxKeep))
        val logJson = s"[${all.mkString(", ")}]"
        if (fields.exists(_._1 == "metadata-log"))
          fields.map {
            case ("metadata-log", _) => "metadata-log" -> logJson
            case kv => kv
          }
        else fields :+ ("metadata-log" -> logJson)
    }
  }

  /** The shared commit tail: manifest list (new manifests + carried
    * prior ones, spec-required counts filled), the metadata json with
    * managed keys replaced, the EXCLUSIVE vN+1 placement, and the
    * version-hint swap. The loser of a commit race cleans up
    * `cleanupFiles` + the manifest artifacts. */
  private def commitSnapshot(fs: FileSystem, conf: Configuration,
      base: String, table: String, snapId: Long, newSeq: Long, ts: Long,
      operation: String, newManifests: Seq[NewManifest], attempt: String,
      manifestSpecId: Int, baseFields: Seq[(String, String)],
      snapshots: Seq[JValue],
      priorManifests: Seq[ManifestFile],
      metaVersion: Long, cleanupFiles: Seq[String],
      fv: Int = 2, rowLineage: Option[(Long, Long)] = None): Unit = {
    val metaDir = new Path(s"$base/metadata")
    val listPath = s"$base/metadata/snap-$snapId-$attempt.avro"
    val newRows = newManifests.map { m =>
      ManifestFile(m.path, fs.getFileStatus(new Path(m.path)).getLen,
        m.content, newSeq, m.minSeq.getOrElse(newSeq),
        m.specId.getOrElse(manifestSpecId),
        snapId, m.files, m.existingFiles, 0, m.rows, m.existingRows, 0)
    }
    AvroOcf.write(listPath, listAvroSchema,
      (newRows ++ priorManifests).map(_.row), conf = conf,
      meta = Map("format-version" -> fv.toString,
        "snapshot-id" -> snapId.toString,
        "sequence-number" -> newSeq.toString))
    // v3 row lineage: the snapshot records its first-row-id and the
    // metadata advances next-row-id by the rows this commit added
    val lineageSnap = rowLineage
      .map { case (first, _) => s""" "first-row-id": $first,""" }
      .getOrElse("")
    val snapJson =
      s"""{"snapshot-id": $snapId, "timestamp-ms": $ts,
           "sequence-number": $newSeq,$lineageSnap
           "summary": {"operation": "$operation"},
           "manifest-list": "$listPath"}"""
    val allSnaps = (snapshots.map(sn =>
      JsonMethods.compact(JsonMethods.render(sn))) :+ snapJson)
      .mkString(", ")
    // a declared `main` BRANCH ref tracks the current snapshot (the
    // spec's rule: the main branch and current-snapshot-id agree);
    // every other ref carries verbatim
    val withRefs = baseFields.map {
      case ("refs", v) =>
        val updated = try JsonMethods.parse(v) match {
          case JObject(refFields) =>
            JsonMethods.compact(JsonMethods.render(JObject(refFields.map {
              case ("main", JObject(rf))
                if rf.toMap.get("type").contains(JString("branch")) =>
                ("main", (JObject(rf.map {
                  case ("snapshot-id", _) =>
                    ("snapshot-id", JInt(snapId): JValue)
                  case kv => kv
                }): JValue))
              case kv => kv
            })))
          case _ => v
        } catch { case _: Exception => v }
        "refs" -> updated
      case kv => kv
    }
    val allFields = advanceMetadataLog(withRefs, fs, base) ++ Seq(
      "last-updated-ms" -> ts.toString,
      "last-sequence-number" -> newSeq.toString,
      "current-snapshot-id" -> snapId.toString,
      "snapshots" -> s"[$allSnaps]") ++
      rowLineage.map { case (_, next) => "next-row-id" -> next.toString }
    val metaJson = allFields
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    fs.mkdirs(metaDir)
    val newVersion = metaVersion + 1
    val dest = new Path(metaDir, s"v$newVersion.metadata.json")
    if (!putText(fs, dest, metaJson)) {
      cleanup(fs, cleanupFiles ++ newManifests.map(_.path) :+ listPath)
      throw CommitConflict(
        s"$table: metadata version $newVersion was committed " +
          "concurrently — re-read the table and retry")
    }
    // the version-hint swap is an OVERWRITING rename (the winner is
    // already durable in the numbered metadata file)
    overwriteText(fs, conf, new Path(metaDir, "version-hint.text"),
      newVersion.toString)
  }

  /** A primitive JSON partition value back to its typed form. */
  private def jvalueTo(dt: DataType, v: JValue): Any = v match {
    case JNull | JNothing => null
    case _ => dt match {
      case LongType => v.extract[Long]
      case IntegerType => v.extract[Int]
      case StringType => v.extract[String]
      case BooleanType => v.extract[Boolean]
      case DoubleType => v.extract[Double]
      case FloatType => v.extract[Float]
      case other => throw UnsupportedWrite(
        s"iceberg writer: partition value type ${other.simpleString}")
    }
  }

  /** The default spec's partition shape for a row-level write:
    * (spec id, partition-struct fields [spec field name, transform
    * RESULT type], manifest field ids, PartFields for re-written
    * images, the spec fields' json). Every transform the append path
    * writes through is supported — identity, bucket[N], truncate[W],
    * year/month/day/hour: the kill files scope by each data file's own
    * manifest tuple (transform-agnostic), and the rewrite re-derives
    * tuples through the same PartField expressions appends use. An
    * unknown transform directs with `opName`. */
  private def partitionSpecInfo(table: String, meta: JValue,
      schema: StructType, opName: String)
      : (Int, Seq[StructField], Seq[Int], Seq[PartField], String) = {
    val specs = (meta \ "partition-specs").extractOpt[Seq[JValue]]
      .getOrElse(Nil)
    val specId = (meta \ "default-spec-id").extractOpt[Int].getOrElse(0)
    val spec = specs.find(sp =>
      (sp \ "spec-id").extractOpt[Int].contains(specId))
    if (specs.nonEmpty && spec.isEmpty) throw UnsupportedWrite(
      s"$table: default-spec-id $specId is not in partition-specs")
    val specFields = spec.toSeq
      .flatMap(sp => (sp \ "fields").extractOpt[Seq[JValue]].getOrElse(Nil))
    val idToName: Map[Int, String] =
      (IcebergTable.currentSchemaJson(meta) \ "fields")
        .extractOpt[Seq[JValue]].getOrElse(Nil).flatMap { f =>
          for (id <- (f \ "id").extractOpt[Int];
            n <- (f \ "name").extractOpt[String]) yield id -> n
        }.toMap
    val parts = specFields.map { f =>
      val name = (f \ "name").extract[String]
      val srcId = (f \ "source-id").extract[Int]
      val srcName = idToName.getOrElse(srcId, throw UnsupportedWrite(
        s"$table: partition source-id $srcId is not in the schema"))
      val canon = canonTransform(
        (f \ "transform").extractOpt[String].getOrElse(""))
      canon match {
        case "identity" | BucketT(_) | TruncT(_) |
          "year" | "month" | "day" | "hour" =>
          PartField(name, srcName, canon)
        case other => throw UnsupportedWrite(
          s"$table: $opName through a '$other' partition transform " +
            "is not implemented")
      }
    }
    val structFields = parts.map(pf =>
      StructField(pf.name, pf.valueType(schema)))
    val fieldIds: Seq[Int] = specFields.zipWithIndex.map {
      case (f, i) => (f \ "field-id").extractOpt[Int].getOrElse(1000 + i)
    }
    val fieldsJson = spec.map(sp =>
      JsonMethods.compact(JsonMethods.render(sp \ "fields")))
      .getOrElse("[]")
    (specId, structFields, fieldIds, parts, fieldsJson)
  }

  /** Row-level DELETE for Iceberg: matching rows become POSITIONAL
    * DELETE files (`file_path`, `pos` — the v2 merge-on-read shape) in
    * one new `delete` snapshot; NO data file is rewritten. The delete
    * rows are written DISTRIBUTED (data-scale deletes never pass
    * through the driver — only the v2-positional shape makes that
    * possible; Delta's DV bitmaps cannot). On an identity-PARTITIONED
    * table the kill rows group by their target data file's partition
    * tuple — one delete file per touched tuple, its manifest entry
    * carrying the partition struct, so stock readers' partition-equality
    * application rule and file-level pruning both hold. A v3 table's
    * rows die by Puffin deletion vectors instead ([[writeDeleteV3]]).
    * An empty DELETE is a no-op. Returns the snapshot id. */
  def writeDelete(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column): Long = {
    // the delete manifest is tagged with the table's DEFAULT spec id —
    // a dangling spec-0 reference would break stock readers on tables
    // whose empty spec evolved to a nonzero id
    val t = rowTarget(spark, table, "row-level deletes target", Seq(2, 3),
      Some("delete from"), "deleting")
    if (t.fv == 3) writeDeleteV3(spark, t, condition)
    else reclaiming(t.fs) { written =>
      // ONE scan: the matching rows are written straight to positional
      // delete files and "nothing matched" is read from their footers
      positionalKill(spark, t,
        IcebergTable.readWithRowKey(spark, table).filter(condition),
        written) match {
        case None => t.currentId // empty DELETE: no-op
        case Some(man) => commitRowLevel(t, "delete", Seq(man), written.toSeq)
      }
    }
  }

  /** Row-level DELETE BY KEY — an EQUALITY delete (content=2): the key
    * rows land as delete files whose `equality_ids` name the key
    * columns, committed as one `delete` snapshot. ZERO table scan: the
    * match happens at READ time against every data file with a
    * strictly smaller data sequence (the table-spec rule the reader
    * already applies), so the cost is O(keys) however large the table
    * — the shape for "remove these ids from 100 TB", where the
    * positional path would first have to locate every matching row.
    * Null keys match null-safely (the spec's eq semantics), duplicate
    * key rows deduplicate; an empty key set is a no-op. Flat-schema v2
    * AND v3 tables — v3 deprecates POSITIONAL delete files in favor of
    * deletion vectors, but equality deletes stay first-class (the v3
    * commit carries the row-lineage bookkeeping; deleting adds no
    * rows, so next-row-id is unchanged). PARTITIONED tables take one
    * of two spec-legal routes:
    *
    *  - when the key columns COVER every partition field's source
    *    column (deleting by `id` on a bucket(id)-partitioned table, or
    *    by (category, id) on an identity(category) one), the key frame
    *    writes PARTITION-SCOPED: one delete file per touched partition
    *    tuple, its manifest entry carrying the partition struct, so
    *    scan planners skip the delete file everywhere outside its
    *    partition — the pruning that matters when the corpus is 100 TB
    *    and the kill list names three partitions;
    *  - otherwise a GLOBAL delete file lands under an UNPARTITIONED
    *    spec, registered alongside the default on first use (the
    *    default-spec-id is untouched) — the spec's route for a delete
    *    whose scope cannot be derived from the keys. Active data files
    *    under a NON-default spec also force this route: a scoped
    *    delete under the default spec would never match their scope
    *    string (silent under-deletion).
    *
    * Returns the new snapshot id. */
  def writeEqualityDelete(spark: SparkSession, table: String,
      keys: DataFrame): Long = {
    val t = rowTarget(spark, table, "equality deletes target", Seq(2, 3),
      Some("delete from"), "equality deletes")
    reclaiming(t.fs) { written =>
      eqDeleteArtifacts(spark, t, keys, written) match {
        case None => t.currentId // empty key set: no-op, no empty snapshot
        case Some((man, carried)) =>
          commitRowLevel(t, "delete", Seq(man), written.toSeq,
            carried = Some(carried))
      }
    }
  }

  /** MERGE BY KEY — the Flink-CDC upsert, and the merge shape that
    * stays O(source) at ANY table size: every target row carrying a
    * source key dies by EQUALITY delete (content=2 — the match runs at
    * READ time under the spec's strictly-smaller-sequence rule) and
    * every source row appends as new data files, BOTH manifests in ONE
    * `overwrite` snapshot. ZERO table scan at commit: where
    * [[writeMerge]] must first locate every matched row (O(table)),
    * this commit writes only the source — the "refresh these keys in
    * 100 TB" shape. The appended images commit at the SAME sequence as
    * the delete, so the strict inequality keeps them alive by
    * construction. Semantics are replace-by-key: ALL target rows with
    * a key are replaced by that key's single source image (a
    * key-duplicated target cannot be detected without the scan this
    * merge exists to avoid — use [[writeMerge]] when per-row pairing
    * must be checked); duplicate SOURCE keys stay directed. The source
    * materializes once (tmp parquet under metadata/). v2 and v3 tables
    * (v3 lineage advances by the appended rows); partitioned tables
    * route exactly like [[writeEqualityDelete]] — delete files
    * partition-scoped when the keys cover the spec, global under an
    * unpartitioned spec otherwise, with the appended images always
    * partition-grouped. Returns the new snapshot id. */
  def writeMergeByKey(spark: SparkSession, table: String,
      source: DataFrame, keys: Seq[String]): Long = {
    val t = rowTarget(spark, table, "equality-delete merges target",
      Seq(2, 3), Some("merge into"), "MERGE")
    requireMergeInput(table, t.schema, source, keys)
    // ONE evaluation of the source plan — the delete keys and the
    // appended images must agree even for a non-deterministic source
    rowLevelWrite(images(source, t.imageSchema), s"${t.base}/metadata",
      t.conf, t.currentId) { (src, _, written) =>
      requireUniqueKeys(table, src, keys, "one key cannot take two images")
      // kill half: one equality delete of the source keys — O(source)
      val eq = eqDeleteArtifacts(spark, t, src.select(keys.map(col): _*),
        written)
      // append half: every source row, partition-grouped
      commitRowLevel(t, "overwrite", imageManifest(spark, t, src, written) +:
        eq.map(_._1).toSeq, written.toSeq, carried = eq.map(_._2))
    }
  }

  /** [[writeEqualityDelete]]'s artifact half, shared with
    * [[writeMergeByKey]]: validates the key columns (top-level, with
    * field ids), routes scoped-vs-global on a partitioned table,
    * materializes `keys` ONCE (tmp parquet under metadata/, outside
    * any scan root — the null-cast guard and the committed delete file
    * must see the SAME rows even for a non-deterministic key source),
    * writes the (possibly partition-scoped) delete files, and writes
    * their content=2 manifest at the target's new sequence; every file
    * goes to `written`. Returns None for an empty key set; else (the
    * delete manifest, carrying its manifest-list spec id, and the
    * metadata fields the commit carries — extended with a freshly
    * registered unpartitioned spec on the global route). */
  private def eqDeleteArtifacts(spark: SparkSession, t: RowTarget,
      keys: DataFrame, written: mutable.ArrayBuffer[String])
      : Option[(NewManifest, Seq[(String, String)])] = {
    import org.apache.spark.sql.functions.{col => fcol}
    val (table, base, fs, conf, schema) = (t.table, t.base, t.fs, t.conf,
      t.schema)
    if (keys.columns.isEmpty) throw UnsupportedWrite(
      s"$table: the equality-delete key frame has no columns")
    val idByName = idFieldsOf(t.schemaJson)
      .map { case (id, f) => f.name -> id }.toMap
    val eqIds: Seq[Int] = keys.columns.toSeq.map { c =>
      if (!schema.fieldNames.contains(c)) throw UnsupportedWrite(
        s"$table: equality key '$c' is not a top-level table column")
      idByName.getOrElse(c, throw UnsupportedWrite(
        s"$table: no field id for equality key '$c'"))
    }
    // ------------------------------------------- partitioned-table routing
    val partitioned = t.parts.nonEmpty
    // the scoped route needs every partition field DERIVABLE from the
    // key columns: a source column that IS a key, through a transform
    // this writer computes (the same PartField family the data-file
    // writer uses — equal inputs produce equal dir tuples, so the
    // delete scope string matches the data file's by construction)
    val partsOpt: Option[Seq[PartField]] =
      if (t.parts.forall(pf => keys.columns.contains(pf.source) &&
        scala.util.Try(pf.valueCol(schema)).isSuccess)) Some(t.parts)
      else None
    val scoped = partitioned && partsOpt.exists(_.nonEmpty) && {
      // every active data file must sit under the DEFAULT spec — a
      // scoped delete never matches a foreign spec's scope string
      val scopes = IcebergTable.activeDataScopes(spark, table)
      scopes.forall { case (_, sc) =>
        sc.nonEmpty && sc.takeWhile(_ != ':') == t.specId.toString }
    }
    val parts: Seq[PartField] = if (scoped) partsOpt.get else Nil
    // ONE materialization of the caller's key plan (tmp parquet under
    // metadata/, outside any scan root): the null-cast guard and the
    // committed delete file must see the SAME rows — a
    // non-deterministic key source validated on one evaluation and
    // written from another could pass the guard and still write a
    // silently-nulled key, which would null-safely delete unrelated
    // null rows. The key frame is O(keys) by design, so the extra
    // write is small.
    val files: Seq[((String, String, Long), Long, Seq[Any])] =
      materialize(keys, s"$base/metadata", conf) { (matKeys, _) =>
        // typed to the table's own column types, deduplicated — two equal
        // key rows must not double-count or bloat the delete file. A cast
        // that turns a non-null key into null must DIRECT.
        locally {
          import org.apache.spark.sql.functions.{sum, when}
          // try_cast so the guard itself is ANSI-independent (a plain cast
          // would throw under ANSI before this count could name the column)
          val introduced = matKeys.select(keys.columns.toSeq.map(c =>
            sum(when(fcol(s"`$c`").isNotNull &&
              fcol(s"`$c`").try_cast(deepNullableType(schema(c).dataType))
                .isNull, 1)
              .otherwise(0)).as(c)): _*).head()
          keys.columns.toSeq.zipWithIndex.foreach { case (c, i) =>
            if (!introduced.isNullAt(i) && introduced.getLong(i) > 0L)
              throw UnsupportedWrite(
                s"$table: ${introduced.getLong(i)} key value(s) in '$c' do " +
                  s"not cast to the table's ${schema(c).dataType.simpleString} " +
                  "— a silently nulled key would delete unrelated null rows")
          }
        }
        // equality-delete files are data-file-spec files: their columns
        // carry the spec's ID-KEYED identity (parquet.field.id), so a
        // stock reader resolves them by id exactly like data files —
        // recursively through STRUCT-typed keys (every member tagged with
        // its own schema field id, the same tagFieldIds machinery the
        // append path uses). Keys containing LIST/MAP types stay
        // uniformly untagged (their element ids have no StructField to
        // ride on; partial tagging reads worse than none), resolving by
        // name.
        val untaggableKey = keys.columns.toSeq.exists(c =>
          hasListOrMap(schema(c).dataType))
        val src0 = matKeys.select(keys.columns.toSeq.map(c =>
          fcol(s"`$c`").try_cast(deepNullableType(schema(c).dataType))
            .as(c)): _*).distinct()
        val src =
          if (untaggableKey) src0
          else {
            val idPaths = idPathsOf(t.schemaJson)
            src0.select(src0.schema.fields.toIndexedSeq
              .map(f => tagIdCol(f, idPaths)): _*)
          }
        // scoped: grouped by the computed partition-transform values, one
        // delete file per touched tuple (src already carries its field-id
        // tags, so no second tagging pass); global/unpartitioned: one
        // unscoped file set
        val filesWithTuple: Seq[((String, String, Long), Seq[Any])] =
          if (scoped)
            writeIdentityPartitioned(spark, src, base, parts, table, fs, conf)
          else writeData(src, base, Nil, "data", conf).map(f => (f, Nil))
        written ++= filesWithTuple.map(_._1._2)
        val cts = rowCounts(filesWithTuple.map(_._1._2), conf)
        filesWithTuple.zip(cts).map { case ((f, tuple), n) => (f, n, tuple) }
      }
    val (nonEmpty, empty) = files.partition(_._2 > 0)
    cleanup(fs, empty.map(_._1._2))
    if (nonEmpty.isEmpty) return None // empty key set: no artifacts
    // the manifest's spec: the default spec (scoped / unpartitioned
    // table), or an UNPARTITIONED spec for a global file on a
    // partitioned table — reused when one is already registered,
    // registered fresh (spec-id max+1, default-spec-id unchanged)
    // otherwise, in the same commit as the delete snapshot
    var carried = t.st.carried
    val specs = (t.st.meta \ "partition-specs").extractOpt[Seq[JValue]]
      .getOrElse(Nil)
    val (manSpecId, manSpecJson, partStructFields, partFieldIds) =
      if (!partitioned) (t.specId, "[]", Nil, Nil)
      else if (scoped)
        (t.specId, t.specJson, t.partStructFields, t.partFieldIds)
      else specs.find(sp =>
        (sp \ "fields").extractOpt[Seq[JValue]].exists(_.isEmpty)) match {
        case Some(sp) => ((sp \ "spec-id").extract[Int], "[]", Nil, Nil)
        case None =>
          val newId = specs.flatMap(sp =>
            (sp \ "spec-id").extractOpt[Int]).max + 1
          val specsJson = (specs.map(sp =>
            JsonMethods.compact(JsonMethods.render(sp))) :+
            s"""{"spec-id": $newId, "fields": []}""").mkString(", ")
          carried =
            (if (carried.exists(_._1 == "partition-specs"))
              carried.map {
                case ("partition-specs", _) =>
                  "partition-specs" -> s"[$specsJson]"
                case kv => kv
              }
            else carried :+ ("partition-specs" -> s"[$specsJson]"))
          (newId, "[]", Nil, Nil)
      }
    val manifestPath = s"$base/metadata/m-${t.attempt}-eqdel.avro"
    AvroOcf.write(manifestPath,
      manifestAvroSchema(partStructFields, partFieldIds,
        withEqualityIds = true),
      nonEmpty.map { case ((_, abs, size), n, tuple) =>
        // content 2: equality deletes; the trailing cell is the ids list
        Seq(1, t.newSeq, Seq(2, abs, "PARQUET", tuple, n, size) ++
          noStatsCells ++ Seq(eqIds))
      }, conf = conf,
      meta = manifestMeta(t.schemaJson, manSpecJson, manSpecId, "deletes",
        t.fv))
    written += manifestPath
    Some((NewManifest(manifestPath, 1, nonEmpty.size,
      nonEmpty.map(_._2).sum, specId = Some(manSpecId)), carried))
  }
  /** The v2 kill encoding of every Iceberg row-level write: matching
    * rows (`keyed` must carry `__row_path`/`__row_pos`) become
    * positional-delete parquet files under `data/`, fully DISTRIBUTED —
    * the canonical row key maps back to the raw manifest path (and its
    * partition scope) through a broadcast dimension so foreign readers'
    * raw-string compares still match; rows sort (file_path, pos) within
    * each delete file per spec. On a partitioned table each delete file
    * is PARTITION-SCOPED: rows group by their data file's own scope
    * string (`specId:partitionJson`, from the manifest entry) so the
    * delete manifest's partition structs let scan planners skip the
    * delete file everywhere outside its partition. ONE scan: the plan
    * writes straight to parquet, "nothing matched" is detected from
    * footer counts (zero-row files cleaned). Returns the content=1
    * manifest of the non-empty delete files at the new sequence, or
    * None when nothing matched. A touched data file under a NON-default
    * spec cannot be scoped by this manifest and fails directed. */
  private def positionalKill(spark: SparkSession, t: RowTarget,
      keyed: DataFrame, written: mutable.ArrayBuffer[String])
      : Option[NewManifest] = {
    import org.apache.spark.sql.functions.{broadcast, col => fcol}
    import spark.implicits._
    val table = t.table
    val partStructFields = t.partStructFields
    val partitioned = partStructFields.nonEmpty
    val scopes = IcebergTable.activeDataScopes(spark, table)
    if (partitioned && scopes.exists(_._2.isEmpty)) throw UnsupportedWrite(
      s"$table: the table is partitioned but a data manifest carries no " +
        "partition struct — kill rows cannot be partition-scoped")
    val pathDim = scopes.map { case (p, sc) =>
      (PathUris.canon(p), p, sc)
    }.toDF("__ck", "file_path", "__pt")
    val keyedSel = keyed
      .select(fcol(TableScan.RowPath).as("__ck"),
        fcol(TableScan.RowPos).as("pos"))
      .join(broadcast(pathDim), "__ck")
    // positional-delete files are data-file-spec files: the spec keys
    // their two columns by the RESERVED field ids (file_path 2147483546,
    // pos 2147483545) so id-resolving readers find them regardless of
    // spelling — tagged the same way the append path tags table columns
    val fpCol = fcol("file_path").as("file_path",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 2147483546L).build())
    val posCol = fcol("pos").cast("long").as("pos",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 2147483545L).build())
    val delRows =
      if (!partitioned)
        keyedSel.select(fpCol, posCol)
          .sortWithinPartitions(fcol("file_path"), fcol("pos"))
      else
        // leading __pt in the sort satisfies the dynamic-partition
        // writer's required ordering, so (file_path, pos) order inside
        // each delete file survives the write
        keyedSel.select(fpCol, posCol, fcol("__pt"))
          .sortWithinPartitions(fcol("__pt"), fcol("file_path"), fcol("pos"))
    val files = writeData(delRows, t.base,
      if (partitioned) Seq("__pt") else Nil, "data", t.conf)
    written ++= files.map(_._2)
    // files with zero delete rows add nothing but manifest noise
    val (nonEmpty, empty) =
      files.zip(rowCounts(files.map(_._2), t.conf)).partition(_._2 > 0)
    cleanup(t.fs, empty.map(_._1._2))
    if (nonEmpty.isEmpty) return None // nothing matched
    // each delete file's partition tuple parses back from its __pt=
    // directory segment
    def tupleOf(rel: String): Seq[Any] =
      if (!partitioned) Nil
      else {
        val seg = rel.split('/').find(_.startsWith("__pt=")).getOrElse(
          throw UnsupportedWrite(
            s"$table: partition dir missing in delete file $rel"))
        val raw = PathUris.pctDecode(seg.drop("__pt=".length))
        val specPart = raw.takeWhile(_ != ':')
        if (specPart.toIntOption != Some(t.specId)) throw UnsupportedWrite(
          s"$table: matched rows live under partition spec $specPart, " +
            s"not the default spec ${t.specId} — a spec-evolved table's " +
            "old files cannot be scoped by this delete manifest")
        val jm = JsonMethods.parse(raw.drop(specPart.length + 1))
        partStructFields.map(sf => jvalueTo(sf.dataType, jm \ sf.name))
      }
    val path = s"${t.base}/metadata/m-${t.attempt}-deletes.avro"
    AvroOcf.write(path, manifestAvroSchema(partStructFields, t.partFieldIds),
      nonEmpty.map { case ((rel, abs, size), n) =>
        // content 1: positional deletes
        Seq(1, t.newSeq, Seq(1, abs, "PARQUET", tupleOf(rel), n, size) ++
          noStatsCells)
      }, conf = t.conf, meta = t.manifestMetaOf("deletes"))
    written += path
    Some(NewManifest(path, 1, nonEmpty.size, nonEmpty.map(_._2).sum))
  }

  /** v3 row-level DELETE: matching rows become Puffin DELETION VECTORS —
    * the v3 replacement for positional-delete files (v3 writers must not
    * emit positional files). One `deletion-vector-v1` blob per touched
    * data file inside ONE Puffin container (the framing is byte-identical
    * to Delta's, [[Puffin.dvBlob]]), each manifest entry carrying the
    * spec's `referenced_data_file`/`content_offset`/
    * `content_size_in_bytes` locator, committed as one `delete` snapshot.
    * Like Delta DVs, positions pass the driver grouped per file (capped
    * at 10M — DVs are the small-delete shape). On a PARTITIONED table
    * each DV entry carries its referenced data file's own partition
    * tuple (parsed back from the file's manifest scope), so scan
    * planners prune the DV everywhere outside that partition; touched
    * files under a non-default spec are directed.
    *
    * A matched file that ALREADY carries a DV gets a MERGED one (the
    * prior positions union the new — v3's one-DV-per-file rule), and
    * live v2 positional-delete files MIGRATE: every positional row
    * folds into its data file's DV. Both run through the
    * delete-manifest REWRITE in [[dvKillManifest]]: superseded delete
    * manifests drop from the new manifest list, their surviving DV
    * entries carried forward as status-EXISTING rows at their original
    * sequences. */
  private def writeDeleteV3(spark: SparkSession, t: RowTarget,
      condition: org.apache.spark.sql.Column,
      maxDeletedRows: Long = 10000000L): Long = {
    // the structural guards ran in rowTarget, BEFORE any data work — a
    // zero-match DELETE on an unsupported table must still direct
    val shapes = IcebergTable.deleteShapes(spark, t.table)
    val keyed = IcebergTable.readWithRowKey(spark, t.table).filter(condition)
    // distributed pre-count: the driver must never collect a data-scale
    // position set before the cap can trip
    if (keyed.count() > maxDeletedRows) throw UnsupportedWrite(
      s"${t.table}: DELETE matches more than $maxDeletedRows rows — " +
        "deletion vectors are for small deletes")
    val matches = killPositions(keyed)
    // the collect-side cap still GOVERNS — a non-deterministic condition
    // can pass the pre-count and still over-materialize here
    val total = matches.map(_._2.length.toLong).sum
    if (total == 0) return t.currentId
    if (total > maxDeletedRows) throw UnsupportedWrite(
      s"${t.table}: DELETE matches $total rows (> $maxDeletedRows) — " +
        "deletion vectors are for small deletes")
    reclaiming(t.fs) { written =>
      val (man, keptPrior) = dvKillManifest(spark, t, matches, "DV delete",
        shapes, maxDeletedRows, written)
      commitRowLevel(t, "delete", Seq(man), written.toSeq,
        prior = Some(keptPrior))
    }
  }

  /** The v3 DV KILL artifacts from a COLLECTED (canonical path →
    * positions) match set — shared by the v3 DELETE and UPDATE: ONE
    * Puffin container (a deletion-vector-v1 blob per touched file) and
    * the content=1 delete manifest at `newSeq`, each entry scoped to
    * its referenced data file's own partition tuple (parsed back from
    * the file's manifest scope — transform-agnostic; non-default-spec
    * files directed).
    *
    * When a matched file ALREADY carries a DV (v3 allows one per file)
    * or live v2 positional-delete files exist, this runs the
    * DELETE-MANIFEST REWRITE: prior positions (old DV blobs, every
    * positional row) union into the new per-file blobs, each prior
    * delete manifest holding a superseded entry drops from the new
    * manifest list, and its surviving DV entries carry into the new
    * manifest as status-EXISTING rows at their original explicit
    * sequences (a foreign manifest mixing equality entries with
    * superseded ones is directed — carrying its equality entries needs
    * per-spec manifest surgery this writer does not attempt). After any
    * such commit the table holds at most ONE DV per data file and ZERO
    * live positional entries. The Puffin file and the manifest go to
    * `written`. Returns (the delete manifest — its `specId` carries the
    * default spec for the manifest list — and the prior manifests the
    * new list should carry). */
  private def dvKillManifest(spark: SparkSession, t: RowTarget,
      matches: Seq[(String, Array[Long])], opName: String,
      shapes: IcebergTable.DeleteShapes, maxKillRows: Long,
      written: mutable.ArrayBuffer[String])
      : (NewManifest, Seq[ManifestFile]) = {
    import org.apache.spark.sql.functions.{col => fcol}
    val RowTarget(table, base, conf, fs, st, _, _, _, schemaJson,
      delSpecId, partStructFields, partFieldIds, _, specFieldsJson) = t
    val newSeq = t.newSeq
    val partitioned = partStructFields.nonEmpty
    val dvByFile = shapes.dvByFile
    val dataScopes = shapes.dataScopes
    val dataPaths = dataScopes.map(_._1)
    // each touched file's partition tuple comes from its own manifest
    // scope string (`specId:partitionJson`, riding on the SAME replay
    // as the delete shapes) — transform-agnostic
    val scopeByCanon: Map[String, String] =
      if (!partitioned) Map.empty
      else dataScopes.map { case (p, sc) => PathUris.canon(p) -> sc }.toMap
    def tupleOf(canon: String): Seq[Any] =
      if (!partitioned) Nil
      else {
        val sc = scopeByCanon.getOrElse(canon, "")
        if (sc.isEmpty) throw UnsupportedWrite(
          s"$table: touched file $canon carries no partition scope — " +
            "its DV entry cannot be partition-scoped")
        val specPart = sc.takeWhile(_ != ':')
        if (specPart.toIntOption != Some(delSpecId)) throw UnsupportedWrite(
          s"$table: touched file $canon lives under partition spec " +
            s"$specPart, not the default spec $delSpecId — a " +
            "spec-evolved table's old files cannot be scoped by this " +
            "delete manifest")
        val jm = JsonMethods.parse(sc.drop(specPart.length + 1))
        partStructFields.map(sf => jvalueTo(sf.dataType, jm \ sf.name))
      }
    val rawByCanon = dataPaths.map(p => PathUris.canon(p) -> p).toMap
    // ---------------------------------------- prior-delete absorption
    // v2 positional MIGRATION: every live positional row folds into its
    // data file's DV (dead files' positions are no-ops and drop); the
    // same driver-size cap as the new matches governs — migrated debt
    // passes the driver exactly once, here
    val posByFile: Map[String, Array[Long]] =
      if (shapes.posDeleteFiles.isEmpty) Map.empty
      else {
        val pd = spark.read.parquet(shapes.posDeleteFiles: _*)
          .select(PathUris.canonCol(fcol("file_path")).as("f"),
            fcol("pos").cast("long").as("p"))
        val n = pd.count()
        if (n > maxKillRows) throw UnsupportedWrite(
          s"$table: migrating the live v2 positional deletes would " +
            s"pass $n rows (> $maxKillRows) through the driver — " +
            "rewriteDataFiles first, then delete")
        pd.collect().map(r => (r.getString(0), r.getLong(1)))
          .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2) }
          .filter(kv => rawByCanon.contains(kv._1))
      }
    val matchesMap = matches.toMap
    // files whose DV this commit (re)writes: the matched set, plus
    // every file the positional migration touches; a file already
    // carrying DVs merges ALL of them in (spec-legal tables have one
    // per file; a foreign table's extras union rather than silently
    // dropping — a dropped vector's rows would resurrect)
    val affected: Seq[String] =
      (matchesMap.keySet ++ posByFile.keySet).toSeq.sorted
    val supersededDv = dvByFile.keySet.intersect(affected.toSet)
    val rewriting = supersededDv.nonEmpty || shapes.posDeleteFiles.nonEmpty
    // the size cap fires BEFORE any blob decodes: the manifests already
    // carry each DV's cardinality (record_count), so a huge foreign DV
    // directs without its positions ever touching driver memory. An
    // entry missing the spec-required count estimates 0 here — the
    // post-merge recount below still governs.
    val estimate = matches.map(_._2.length.toLong).sum +
      posByFile.valuesIterator.map(_.length.toLong).sum +
      affected.flatMap(dvByFile.get).flatten.map(_._4.getOrElse(0L)).sum
    if (estimate > maxKillRows) throw UnsupportedWrite(
      s"$table: the merged deletion vectors would hold ~$estimate " +
        s"positions (> $maxKillRows) — rewriteDataFiles first")
    val ordered: Seq[(String, Array[Long])] = affected.map { canon =>
      if (!rawByCanon.contains(canon)) throw UnsupportedWrite(
        s"$table: matched row's file $canon is not in the " +
          "snapshot — path spelling drift")
      val old = dvByFile.getOrElse(canon, Nil).toArray.flatMap {
        case (pf, off, size, _) =>
          DeletionVector.puffinDvPositions(pf, off, size, conf)
      }
      canon -> (matchesMap.getOrElse(canon, Array.empty[Long]) ++
        posByFile.getOrElse(canon, Array.empty[Long]) ++ old)
        .distinct.sorted
    }
    val total = ordered.map(_._2.length.toLong).sum
    if (total > maxKillRows) throw UnsupportedWrite(
      s"$table: the merged deletion vectors would hold $total " +
        s"positions (> $maxKillRows) — rewriteDataFiles first")
    // delete-manifest rewrite: prior delete manifests with a superseded
    // entry DROP from the new list; their surviving DV entries carry
    // into the new manifest as status-EXISTING rows at their original
    // sequences. Prior manifests untouched by the merge carry verbatim.
    // carried rows: (origSeq, puffin path, tuple, cardinality, puffin
    // len, ref raw, off, len)
    val carriedRows = Seq.newBuilder[Seq[Any]]
    var carriedCount = 0
    var carriedCards = 0L
    var minCarriedSeq = newSeq
    val keptPrior: Seq[ManifestFile] =
      if (!rewriting) st.priorManifests
      else st.priorManifests.flatMap { mf =>
        if (mf.content != 1) Some(mf)
        else {
          val df = AvroOcf.readFilesLocal(spark, Seq(mf.path))
          val cols = df.columns.toSet
          val dfCols = df.select(fcol("data_file.*")).columns.toSet
          def optC(n: String, t: String) =
            if (dfCols.contains(n)) fcol(s"data_file.$n")
            else org.apache.spark.sql.functions.lit(null).cast(t)
          val seqC =
            if (cols.contains("sequence_number")) fcol("sequence_number")
            else org.apache.spark.sql.functions.lit(null).cast("long")
          val rows = df.select(fcol("status"), seqC,
            optC("content", "int"), fcol("data_file.file_path"),
            fcol("data_file.file_format"),
            optC("referenced_data_file", "string"),
            optC("content_offset", "long"),
            optC("content_size_in_bytes", "long"),
            optC("record_count", "long"),
            optC("file_size_in_bytes", "long")).collect().toSeq
          val live = rows.filter(_.getInt(0) != 2)
          def entryContent(r: org.apache.spark.sql.Row): Int =
            if (r.isNullAt(2)) 0 else r.getInt(2)
          def isDvRow(r: org.apache.spark.sql.Row): Boolean =
            entryContent(r) == 1 && (!r.isNullAt(5) ||
              r.getString(4).equalsIgnoreCase("PUFFIN"))
          def refCanon(r: org.apache.spark.sql.Row): String = {
            if (r.isNullAt(5)) throw UnsupportedWrite(
              s"$table: DV entry ${r.getString(3)} in ${mf.path} is " +
                "missing referenced_data_file — the manifest cannot " +
                "be rewritten")
            val p = r.getString(5)
            PathUris.canon(
              if (p.contains("://") || p.startsWith("/")) p
              else s"$base/$p")
          }
          val affectedSet = affected.toSet
          def isSuperseded(r: org.apache.spark.sql.Row): Boolean =
            (isDvRow(r) && affectedSet(refCanon(r))) ||
              (entryContent(r) == 1 && !isDvRow(r)) // positional: migrated
          val (gone, kept) = live.partition(isSuperseded)
          if (gone.isEmpty) Some(mf)
          else {
            if (kept.exists(r => entryContent(r) == 2))
              throw UnsupportedWrite(
                s"$table: delete manifest ${mf.path} mixes equality " +
                  "entries with superseded DV/positional ones — " +
                  "carrying them needs per-spec manifest surgery this " +
                  s"$opName does not attempt")
            kept.foreach { r =>
              if (!isDvRow(r)) throw UnsupportedWrite(
                s"$table: delete manifest ${mf.path} carries an entry " +
                  "kind this rewrite cannot preserve")
              if (r.isNullAt(6) || r.isNullAt(7)) throw UnsupportedWrite(
                s"$table: DV entry ${r.getString(3)} in ${mf.path} is " +
                  "missing content_offset/content_size_in_bytes")
              val seq = if (!r.isNullAt(1)) r.getLong(1) else mf.seq
              minCarriedSeq = math.min(minCarriedSeq, seq)
              carriedCount += 1
              val card = if (r.isNullAt(8)) 0L else r.getLong(8)
              carriedCards += card
              carriedRows += Seq(0, seq,
                Seq(1, r.getString(3), "PUFFIN", tupleOf(refCanon(r)),
                  card,
                  if (r.isNullAt(9)) 0L else r.getLong(9),
                  r.getString(5), r.getLong(6), r.getLong(7)))
            }
            None // the superseded manifest drops from the list
          }
        }
      }
    // ------------------------------------------------- new artifacts
    val blobs = ordered.map { case (canon, pos) =>
      Puffin.Blob("deletion-vector-v1", Nil, t.snapId, newSeq,
        Map("referenced-data-file" -> rawByCanon(canon),
          "cardinality" -> pos.length.toString),
        Puffin.dvBlob(pos))
    }
    val puffinPath = s"$base/data/dv-${t.attempt}.puffin"
    written += puffinPath
    val placed = Puffin.writeFile(puffinPath, blobs,
      Map("created-by" -> "graft"), conf)
    val puffinLen = fs.getFileStatus(new Path(puffinPath)).getLen
    val manifestPath = s"$base/metadata/m-${t.attempt}-dv.avro"
    written += manifestPath
    AvroOcf.write(manifestPath,
      dvManifestAvroSchema(partStructFields, partFieldIds),
      ordered.zip(placed).map { case ((canon, pos), (off, len)) =>
        Seq(1, newSeq,
          Seq(1, puffinPath, "PUFFIN", tupleOf(canon), pos.length.toLong,
            puffinLen, rawByCanon(canon), off, len))
      } ++ carriedRows.result(), conf = conf,
      meta = manifestMeta(schemaJson, specFieldsJson, delSpecId,
        "deletes", 3))
    (NewManifest(manifestPath, 1, ordered.size, total,
      specId = Some(delSpecId),
      minSeq = if (carriedCount > 0) Some(minCarriedSeq) else None,
      existingFiles = carriedCount, existingRows = carriedCards),
      keptPrior)
  }

  /** MERGE (upsert) `source` into the Iceberg table on `keys`: matched
    * target rows are killed by a DISTRIBUTED positional-delete file,
    * every source row appends as new data files, and both manifests
    * commit in ONE `overwrite` snapshot. The source materializes once
    * (temp parquet); duplicate source keys are directed (one target row
    * must not take two images). On an identity-partitioned table both
    * halves are partition-scoped: source rows land one file set per
    * touched partition tuple (untouched partitions' files are carried
    * verbatim — byte-identical), kill rows group by their data file's
    * own partition scope, and both manifests carry the partition
    * structs scan planners prune by. Flat-schema v2 tables; non-
    * identity transforms directed. Returns the new snapshot id. */
  def writeMerge(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String]): Long = {
    val t = rowTarget(spark, table, "positional-delete merges target",
      Seq(2), Some("merge into"), "MERGE")
    requireMergeInput(table, t.schema, source, keys)
    rowLevelWrite(images(source, t.imageSchema), s"${t.base}/metadata",
      t.conf, t.currentId) { (src, _, written) =>
      // kill side: target rows whose keys match, fully distributed — a
      // positional kill never collects positions, so no cap
      val kill = positionalKill(spark, t, mergeMatches(table, src,
        IcebergTable.readWithRowKey(spark, table), keys, Long.MaxValue),
        written)
      // a merge with NO matched keys is insert-only: no delete manifest
      commitRowLevel(t, "overwrite",
        imageManifest(spark, t, src, written) +: kill.toSeq, written.toSeq)
    }
  }

  /** Row-level UPDATE for Iceberg: rows matching `condition` take the
    * `set` column expressions; matched rows are killed by a DISTRIBUTED
    * positional-delete file and their updated images append as new data
    * files, BOTH manifests committing in ONE `overwrite` snapshot (the
    * table spec's row-level-change operation) — a reader can never
    * observe the kill without the rewrite, and the change never splits
    * across two snapshots the way a writeDelete+writeAppend pair would.
    * The matched set is materialized once (a temp parquet under
    * `metadata/`, outside every scan root) so the delete rows and the
    * rewritten images come from the
    * SAME evaluation of a possibly non-deterministic condition. On an
    * identity-partitioned table both halves are partition-scoped (kill
    * rows by their data file's own scope, rewritten images one file set
    * per touched partition tuple — updating a partition column moves
    * rows to their new partitions; untouched partitions' files are
    * carried verbatim). Flat-schema v2 AND v3 tables — a v3 update
    * kills its matched rows by Puffin DELETION VECTOR instead of a
    * positional file (v3 deprecates positional files), capped like the
    * Delta twin because DV position sets pass the driver; its lineage
    * advances by the rewritten images. An empty UPDATE is a no-op.
    * Returns the new snapshot id. */
  def writeUpdate(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      maxUpdatedRows: Long = 10000000L): Long = {
    val t = rowTarget(spark, table, "row-level updates target", Seq(2, 3),
      Some("update"), "row-level updates")
    requireColumns(table, t.schema, "SET column", set.keys)
    // v3 updates kill by deletion vector; prior DVs on the touched
    // files (and any live v2 positional deletes) merge through the
    // delete-manifest rewrite inside dvKillManifest
    val v3Shapes: Option[IcebergTable.DeleteShapes] =
      if (t.fv != 3) None
      else Some(IcebergTable.deleteShapes(spark, table))
    // ONE evaluation of the condition (see the Delta twin)
    rowLevelWrite(IcebergTable.readWithRowKey(spark, table).filter(condition),
      s"${t.base}/metadata", t.conf, t.currentId) { (matched, n, written) =>
      // kill side — v2: positional files, distributed + sorted,
      // partition-scoped; v3: Puffin deletion vectors (collected and
      // capped — the DV position set passes the driver, exactly the
      // Delta twin's shape). The v3 kill may rewrite the prior delete
      // manifests: the commit then carries its filtered view.
      val (kill, prior) = v3Shapes match {
        case None => (positionalKill(spark, t, matched, written).toSeq, None)
        case Some(shapes) =>
          if (n > maxUpdatedRows) throw UnsupportedWrite(
            s"$table: UPDATE matches $n rows (> $maxUpdatedRows) — v3 " +
              "deletion vectors are for small updates")
          val (man, kept) = dvKillManifest(spark, t, killPositions(matched),
            "DV update", shapes, maxUpdatedRows, written)
          (Seq(man), Some(kept))
      }
      // rewrite side: updated images under the table schema
      commitRowLevel(t, "overwrite",
        imageManifest(spark, t, images(matched, t.imageSchema, set),
          written) +: kill, written.toSeq, prior = prior)
    }
  }

  /** Full-table compaction (the RewriteDataFiles maintenance action):
    * the current snapshot's LIVE rows — merge-on-read deletes applied —
    * rewrite into a fresh ~`targetFileBytes` file set committed as ONE
    * `replace` snapshot whose manifest list carries ONLY the new data
    * manifest. Every prior delete file's work is baked into the data,
    * so the delete manifests drop out of the active set and the
    * merge-on-read anti-join tax disappears; prior snapshots' manifest
    * lists are untouched (time travel intact), and the files-mode
    * stream directs on the replace (changelog mode serves the net
    * diff). Partitioned tables keep their spec — through EVERY
    * transform the append path writes (identity, bucket[N],
    * truncate[W], year/month/day/hour): rewritten rows re-derive
    * their tuples with the same PartField expressions, which is how
    * the merge-on-read debt that equality deletes and bucket merges
    * build on transform-partitioned tables gets repaid. fv3 tables
    * stamp the rewritten files with FRESH first_row_id ranges and
    * advance next-row-id by the rewritten rows — this compaction does
    * not materialize per-row ids, so row-lineage identity does not
    * survive it (the Delta twin's materialized-column preservation is
    * the OPTIMIZE path). Returns the snapshot id.
    *
    * `zorderBy`: lay the rewritten rows along the
    * [[graft.operators.ZOrder]] curve of the named columns so the
    * manifest bounds give tight boxes on ALL of them — `readWhere`
    * then prunes on any z-ordered column, not just a leading sort key. */
  def rewriteDataFiles(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil): Long = {
    val t = rowTarget(spark, table, "compaction targets", Seq(2, 3),
      Some("compact"), "compaction")
    val (schema, parts) = (t.schema, t.parts)
    // output sizing from the CURRENT data files' stats — O(files)
    val dataPaths = IcebergTable.activeDataScopes(spark, table).map(_._1)
    val totalBytes = dataPaths.map { p =>
      try t.fs.getFileStatus(new Path(p)).getLen
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
    val nOut = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val rows = IcebergTable.read(spark, table)
    zorderBy.foreach { c =>
      if (parts.exists(pf => pf.transform == "identity" && pf.source == c))
        throw UnsupportedWrite(
          s"$table: z-order column '$c' is a partition column — the " +
            "directory layout already clusters it")
    }
    val packed =
      if (zorderBy.nonEmpty)
        // rows cluster by z WITHIN each transform VALUE (the PartField
        // expressions compute the grouping — bucket/truncate/temporal
        // included), so the dynamic-partition write still emits one
        // file run per directory while every file gets tight bounds on
        // the z columns; z-ordering a bucket/truncate SOURCE column is
        // allowed (the transform's coarse buckets don't cluster it)
        graft.operators.ZOrder.clusterExpr(rows, zorderBy, nOut,
          parts.map(_.valueCol(schema)))
      else if (parts.isEmpty) rows.coalesce(nOut)
      // shuffle on the TRANSFORM values: rows of one partition tuple
      // co-locate whatever the transform, so the dynamic-partition
      // write emits ~one file per (task, tuple) instead of one per
      // (task, tuple) x tasks
      else rows.repartition(nOut, parts.map(_.valueCol(schema)): _*)
    // v3 row lineage: the rewritten files take FRESH id ranges — this
    // compaction does not materialize per-row ids, so identity does not
    // survive it (readWithRowIds serves the fresh ranges); the Delta
    // twin's materialized-column preservation is the OPTIMIZE path. No
    // prior manifests: the replace snapshot's list names ONLY the
    // compacted manifest — that IS the operation's semantics
    reclaiming(t.fs) { written =>
      commitRowLevel(t, "replace", Seq(imageManifest(spark, t, packed, written)),
        written.toSeq, prior = Some(Nil))
    }
  }

  /** Expire all but the newest `keepLast` snapshots: the metadata json
    * drops them (trimming the snapshot-log alongside), and every
    * artifact reachable ONLY from expired snapshots — manifest lists,
    * manifests, data/delete files — is physically deleted. The current
    * snapshot always survives (`keepLast` < 1 is directed). Time travel
    * to expired snapshots stops working — expiration's documented trade
    * everywhere. Returns the number of files deleted. */
  def expireSnapshots(spark: SparkSession, table: String,
      keepLast: Int = 1): Int = {
    if (keepLast < 1) throw UnsupportedWrite(
      s"$table: expireSnapshots must keep at least the current snapshot")
    val base = table.stripSuffix("/")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val metaPath = IcebergTable.latestMetadata(fs, base)
    val meta = JsonMethods.parse(FsText.read(fs, metaPath))
    val snaps = (meta \ "snapshots").extractOpt[Seq[JValue]].getOrElse(Nil)
    if (snaps.size <= keepLast) return 0
    val currentId = (meta \ "current-snapshot-id").extractOpt[Long]
      .getOrElse(-1L)
    // keep the newest N in SNAPSHOT-LOG order (array position — the
    // same order rangeOperations trusts); the current snapshot must be
    // among them, and every REF'D snapshot is PINNED (a tag/branch
    // pointing at an expired snapshot would dangle — drop the ref
    // first if expiring it is the intent)
    val refIds: Set[Long] = (meta \ "refs") match {
      case JObject(fields) => fields.flatMap { case (_, v) =>
        (v \ "snapshot-id").extractOpt[Long]
      }.toSet
      case _ => Set.empty
    }
    val (expired0, kept0) = snaps.splitAt(snaps.size - keepLast)
    def idOf(sn: JValue): Option[Long] =
      (sn \ "snapshot-id").extractOpt[Long]
    val (pinned, expired) = expired0.partition(sn =>
      idOf(sn).exists(refIds))
    val kept = pinned ++ kept0
    if (expired.isEmpty) return 0
    if (!kept.exists(sn => idOf(sn).contains(currentId)))
      throw UnsupportedWrite(
        s"$table: expiring would drop the CURRENT snapshot — keepLast " +
          s"$keepLast is too small or the log is reordered")
    // per-snapshot reachable artifacts: manifest list + manifests +
    // every file their entries name (O(snapshots x manifests)
    // metadata). Set membership compares CANONICAL spellings (two
    // snapshots may spell one file differently) while deletion uses a
    // raw spelling.
    val location = (meta \ "location").extractOpt[String].getOrElse(base)
    val resolveRef = refResolver(location)
    def reachable(sn: JValue): Map[String, String] = {
      val (listFiles, manifests) = snapshotManifests(spark, sn, resolveRef)
      val dataFiles =
        if (manifests.isEmpty) Nil
        else AvroOcf.readFilesLocal(spark, manifests)
          .select(col("data_file.file_path")).collect()
          .map(r => resolveRef(r.getString(0))).toSeq
      (listFiles ++ manifests ++ dataFiles)
        .map(p => PathUris.canon(p) -> p).toMap
    }
    val keptRefs = kept.map(reachable).foldLeft(Set.empty[String])(_ ++ _.keySet)
    val expiredRefs =
      expired.map(reachable).foldLeft(Map.empty[String, String])(_ ++ _)
    val doomed = (expiredRefs -- keptRefs).values.toSeq
    // the metadata commit first (exclusive vN+1 + hint swap) — a reader
    // landing mid-expiration must never see a kept snapshot whose files
    // are already gone
    val keptJson = kept.map(sn =>
      JsonMethods.compact(JsonMethods.render(sn))).mkString(", ")
    val keptIds = kept.flatMap(sn =>
      (sn \ "snapshot-id").extractOpt[Long]).toSet
    val fields = meta match {
      case JObject(fs0) => fs0.map {
        case ("snapshots", _) => "snapshots" -> s"[$keptJson]"
        case ("snapshot-log", JArray(entries)) =>
          // the log must not reference expired ids
          val keptLog = entries.filter(e =>
            (e \ "snapshot-id").extractOpt[Long].exists(keptIds))
            .map(e => JsonMethods.compact(JsonMethods.render(e)))
          "snapshot-log" -> s"[${keptLog.mkString(", ")}]"
        case (k, v) => k -> JsonMethods.compact(JsonMethods.render(v))
      }
      case _ => throw UnsupportedWrite(s"$table: malformed metadata json")
    }
    val metaVersion = metaPath.getName.stripSuffix(".metadata.json")
      .stripPrefix("v").toLongOption.getOrElse(0L)
    val metaJson = advanceMetadataLog(fields, fs, base)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val dest = new Path(s"$base/metadata/v${metaVersion + 1}.metadata.json")
    if (!putText(fs, dest, metaJson)) throw CommitConflict(
      s"$table: metadata version ${metaVersion + 1} was committed " +
        "concurrently — re-read the table and retry the expiration")
    overwriteText(fs, conf, new Path(s"$base/metadata/version-hint.text"),
      (metaVersion + 1).toString)
    var deleted = 0
    doomed.foreach { p =>
      if (fs.delete(new Path(p), false)) deleted += 1
    }
    deleted
  }

  /** A table-location-relative path resolver: absolute paths and
    * SCHEME URIs pass through (including the single-slash `file:/x`
    * spelling Hadoop's Path.toString and java Iceberg writers emit —
    * misreading one as relative would corrupt a reachability set),
    * everything else joins the table location. */
  private def refResolver(location: String): String => String = { pth =>
    val hasScheme = pth.takeWhile(c => c != '/' && c != '\\')
      .contains(':')
    if (hasScheme || pth.startsWith("/")) pth
    else s"${location.stripSuffix("/")}/$pth"
  }

  /** One snapshot's manifest paths: the v2 `manifest-list` Avro (whose
    * own path rides along as reachable) or a v1 inline `manifests`
    * array — the SAME two shapes the reader accepts; ignoring the v1
    * form here would classify a readable table's files as garbage. */
  private def snapshotManifests(spark: SparkSession, sn: JValue,
      resolveRef: String => String): (Seq[String], Seq[String]) =
    (sn \ "manifest-list") match {
      case JString(ml0) =>
        val ml = resolveRef(ml0)
        (Seq(ml), AvroOcf.readFilesLocal(spark, Seq(ml))
          .select(col("manifest_path")).collect()
          .map(r => resolveRef(r.getString(0))).toSeq)
      case _ =>
        (Nil, (sn \ "manifests").extractOpt[Seq[String]].getOrElse(Nil)
          .map(resolveRef))
    }

  /** Remove ORPHAN files: anything under the table that NO snapshot in
    * the current metadata references — the leftovers of crashed writers
    * and lost commit races that [[expireSnapshots]] (which only follows
    * snapshot references) can never reach. The referenced set is every
    * snapshot's manifest list + manifests (deduped across snapshots —
    * one manifest fan-out, not one per snapshot) + named data/delete
    * files, plus metadata-declared STATISTICS files; candidates are the
    * table's files excluding the metadata JSONs + the version hint (the
    * table's own log) and any path with a hidden (`.`/`_`-prefixed)
    * COMPONENT (staging dirs mid-commit). `olderThanTimestampMs` is an
    * ABSOLUTE epoch cutoff, the safety fence every orphan scan needs:
    * an in-flight commit's files are not yet referenced, so only files
    * whose mtime predates it (default: 3 days ago) are touched.
    * Returns the number deleted. */
  def removeOrphanFiles(spark: SparkSession, table: String,
      olderThanTimestampMs: Long = -1L): Int = {
    val base = table.stripSuffix("/")
    val cutoff = if (olderThanTimestampMs >= 0) olderThanTimestampMs
      else System.currentTimeMillis() - 3L * 24 * 3600 * 1000
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(base).getFileSystem(conf)
    val metaPath = IcebergTable.latestMetadata(fs, base)
    val meta = JsonMethods.parse(FsText.read(fs, metaPath))
    val location = (meta \ "location").extractOpt[String].getOrElse(base)
    val resolveRef = refResolver(location)
    val snaps = (meta \ "snapshots").extractOpt[Seq[JValue]].getOrElse(Nil)
    val perSnap = snaps.map(sn => snapshotManifests(spark, sn, resolveRef))
    val listFiles = perSnap.flatMap(_._1).distinct
    val manifests = perSnap.flatMap(_._2).distinct
    val dataFiles =
      if (manifests.isEmpty) Nil
      else AvroOcf.readFilesLocal(spark, manifests)
        .select(col("data_file.file_path")).collect()
        .map(r => resolveRef(r.getString(0))).toSeq
    // metadata-declared statistics files (Puffin stats /
    // partition stats) are table state, not debris
    val statsFiles = Seq("statistics", "partition-statistics").flatMap {
      key => (meta \ key).extractOpt[Seq[JValue]].getOrElse(Nil).flatMap {
        st => Seq("statistics-path", "path").flatMap(f =>
          (st \ f).extractOpt[String]).map(resolveRef)
      }
    }
    val referenced: Set[String] =
      (listFiles ++ manifests ++ dataFiles ++ statsFiles)
        .map(PathUris.canon).toSet
    // DV sidecars referenced through content_offset entries share the
    // puffin FILE path in data_file.file_path — already covered above
    val baseDepth = new Path(base).toUri.getPath
      .split('/').count(_.nonEmpty)
    val it = fs.listFiles(new Path(base), true)
    var deleted = 0
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val name = p.getName
      val inMetadataDir = p.getParent.getName == "metadata"
      val isTableLog = inMetadataDir &&
        (name.endsWith(".metadata.json") || name == "version-hint.text")
      // hidden if ANY component UNDER the table root starts with . or _
      // (a concurrent writer's staging dirs — Iceberg's HiddenPathFilter)
      val comps = p.toUri.getPath.split('/').filter(_.nonEmpty)
        .drop(baseDepth)
      val isHidden = comps.exists(c => c.startsWith(".") || c.startsWith("_"))
      if (!isTableLog && !isHidden &&
        st.getModificationTime < cutoff &&
        !referenced.contains(PathUris.canon(p.toString))) {
        if (fs.delete(p, false)) deleted += 1
      }
    }
    deleted
  }
}
