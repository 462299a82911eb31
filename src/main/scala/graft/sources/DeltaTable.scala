package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, col, lit, struct, transform, transform_values, when}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Delta Lake SNAPSHOT reads from the PUBLIC protocol spec
  * (delta-io/delta PROTOCOL.md) — many training corpora and feature
  * tables live in Delta, and Spark cannot read them without the
  * delta-spark package. This implements the reader half that a corpus
  * pipeline needs: log replay to a snapshot (latest or time-travel
  * `versionAsOf`), checkpoint parquet + JSON commit tail, add/remove
  * reconciliation, schema from the log's own `schemaString` (a Spark
  * StructType JSON — `DataType.fromJson` is the official decoding), and
  * partition-column reconstruction from each file's `partitionValues`.
  *
  * Scale model: the LOG is driver-side metadata — O(actions since last
  * checkpoint) small JSON plus one parquet checkpoint, exactly what
  * every Delta reader replays. The DATA is read by Spark's native
  * parquet source (pushdown/pruning/codegen intact); files group by
  * partition tuple so a snapshot plans one parquet relation per
  * partition value set, unioned by name.
  *
  * Deletion vectors ARE read (PROTOCOL.md "Deletion Vectors" — the
  * Databricks-default row-delete mechanism since 2023): each active
  * add's DV descriptor is decoded through [[DeletionVector]] on
  * EXECUTORS (z85 → framed blob → portable RoaringBitmapArray) into
  * `(file, deleted row index)` rows, and the scan serves
  * `data LEFT ANTI JOIN deletes ON (file, _metadata.row_index)` — the
  * same plan shape as the Iceberg positional-delete path, paths
  * normalized by [[PathUris]]. DV row counts are data-scale, never
  * collected to the driver.
  *
  * V2 CHECKPOINTS read too: the top-level `<v>.checkpoint.<uuid>`
  * parquet or json carries checkpointMetadata plus `sidecar` actions
  * naming the `_delta_log/_sidecars/` parquets that hold the file
  * actions — processed with the same handler as classic checkpoints
  * (checkpoint `remove` tombstones never replay). Column mapping decodes
  * in BOTH modes (see assemble): name mode reads by the schema's
  * physical names; id mode resolves by parquet FIELD ID (the files'
  * column names are not authoritative there) through Spark's native
  * field-id matching, then both rebuild logical names recursively.
  *
  * Guard rails (directed, never silent): minReaderVersion > 1 is
  * rejected unless it is version 3 whose readerFeatures are all either
  * implemented (deletionVectors, columnMapping-name, v2Checkpoint) or
  * understood-as-harmless (timestampNtz, vacuumProtocolCheck). */
object DeltaTable {
  final case class UnsupportedDelta(msg: String) extends RuntimeException(msg)

  private implicit val formats: Formats = DefaultFormats

  /** Reader features that do not alter how a v1 reader decodes data
    * files, plus the features this reader IMPLEMENTS. Anything else in
    * readerFeatures is a directed error. */
  private val HarmlessReaderFeatures =
    Set("timestampNtz", "vacuumProtocolCheck", "deletionVectors",
      "columnMapping", // mode-checked after replay (name ok, id directed)
      "v2Checkpoint")

  /** `dataChange`: the add ACTION's flag from the commit json — false
    * marks a rearrangement (compaction) whose rows were already served;
    * checkpoint-sourced adds read as true (checkpoints stamp every row
    * dataChange=false, which says nothing about the original commit).
    * `stats`: the add action's per-file statistics JSON, carried
    * VERBATIM (re-serialization could narrow a bound) — the scan
    * planner's file-pruning input and the checkpoint writer's
    * carry-through. */
  private final case class AddFile(path: String,
      partitionValues: Map[String, String],
      dv: Option[DeletionVector.Descriptor], dataChange: Boolean = true,
      stats: Option[String] = None,
      // rowTracking: the file's fresh-row-id base and default commit
      // version (a row's id = baseRowId + its physical position) —
      // REQUIRED on every re-add of an existing file, or the file's
      // rows silently change identity
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** The table protocol as last declared in the log — carried through
    * replay so the checkpoint writer re-emits it VERBATIM (fabricating
    * one would silently drop features). */
  private[graft] final case class Protocol(minReaderVersion: Int,
      minWriterVersion: Int, readerFeatures: Seq[String],
      writerFeatures: Seq[String])

  private final case class Snapshot(version: Long, schemaJson: String,
      partitionColumns: Seq[String], files: Seq[AddFile],
      configuration: Map[String, String], metaId: String = "",
      protocol: Protocol = Protocol(1, 2, Nil, Nil),
      // latest domainMetadata per domain (configuration string;
      // removed=true drops the domain) — rowTracking's high-water mark
      // lives here
      domains: Map[String, String] = Map.empty,
      // the latest metaData action VERBATIM (None when it was
      // reconstructed from checkpoint columns) — metadata-only commits
      // re-emit it so foreign fields (name, description, createdTime)
      // survive
      metaRaw: Option[JValue] = None)

  // ------------------------------------------------------------ log replay

  private def logDir(table: String) = s"${table.stripSuffix("/")}/_delta_log"

  private def versionOf(name: String): Option[Long] = {
    val base = name.split('/').last
    if (base.endsWith(".json") && base.length == 25)
      base.stripSuffix(".json").toLongOption
    else None
  }

  /** Resolve an `add.path` (URL-encoded, relative-or-absolute) against
    * the table root — the ONE resolver the read path, the checkpoint
    * writer, and the delete writer share. */
  private[graft] def resolveAdd(base: String, rel: String): String =
    if (rel.contains("://") || rel.startsWith("/")) PathUris.pctDecode(rel)
    else s"$base/${PathUris.pctDecode(rel)}"

  /** The version of a checkpoint FILE name: classic single-file,
    * multi-part (`NNN.checkpoint.MMM.PPP.parquet`), or V2
    * (`NNN.checkpoint.<uuid>.{parquet|json}`) — the ONE parser every
    * checkpoint-discovery site shares. */
  private[graft] def ckptVersionOf(name: String): Option[Long] = {
    val base = name.split('/').last
    if (base.indexOf(".checkpoint") == 20 &&
      (base.endsWith(".parquet") || base.endsWith(".json")))
      base.take(20).toLongOption
    else None
  }

  /** Replay the log to `versionAsOf` (or latest). `captureAt`: also
    * snapshot the active FILE STATE (path → add, with partition values
    * and DV descriptor) as the fold passes that version (right after the
    * checkpoint when they coincide) — None in the result when the capture
    * point was consumed inside a later checkpoint or lies outside the
    * replayed range. */
  private def replay(spark: SparkSession, table: String,
      versionAsOf: Option[Long],
      captureAt: Option[Long] = None)
      : (Snapshot, Option[Map[String, AddFile]], Option[Map[String, String]]) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(logDir(table))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) throw UnsupportedDelta(
      s"$table: no _delta_log — not a Delta table")
    val entries = fs.listStatus(dir).toSeq.map(_.getPath.getName)

    val commitVersions = entries.flatMap(versionOf).sorted
    if (commitVersions.isEmpty && !entries.exists(_.contains("checkpoint")))
      throw UnsupportedDelta(s"$table: empty _delta_log")
    // checkpoint versions: classic single-file, multi-part
    // (NNN.checkpoint.MMM.PPP.parquet), or V2
    // (NNN.checkpoint.<uuid>.{parquet|json} + sidecars in _sidecars/)
    val allCkptVersions = entries.flatMap(ckptVersionOf).distinct.sorted
    val latest = versionAsOf match {
      case Some(v) =>
        val ok = commitVersions.contains(v) ||
          entries.exists(_.startsWith(f"$v%020d.checkpoint"))
        if (!ok) throw UnsupportedDelta(
          s"$table: version $v is not in the log " +
            s"(have ${commitVersions.headOption.getOrElse(-1L)}.." +
            s"${commitVersions.lastOption.getOrElse(-1L)})")
        v
      case None =>
        // a fully cleaned-up log (every commit json vacuumed) is still
        // readable when a checkpoint IS the tip
        (commitVersions ++ allCkptVersions).maxOption.getOrElse(
          throw UnsupportedDelta(s"$table: no commit json in _delta_log"))
    }

    // newest checkpoint at or below the target version
    val ckptVersions = allCkptVersions.filter(_ <= latest)
    val ckpt = ckptVersions.lastOption
    val allCkptFiles: Seq[String] = ckpt.toSeq.flatMap { v =>
      entries.filter { n =>
        n.startsWith(f"$v%020d.checkpoint") &&
          (n.endsWith(".parquet") || n.endsWith(".json"))
      }.sorted.map(n => s"${logDir(table)}/$n")
    }
    val (ckptJsonFiles, ckptFiles) = allCkptFiles.partition(_.endsWith(".json"))

    val tailVersions = commitVersions
      .filter(v => v <= latest && ckpt.forall(_ < v))
    // the replay is only valid over a CONTIGUOUS version range: a missing
    // intermediate commit (lost json, directory synced mid-write) would
    // silently drop its adds/removes — directed error instead
    val replayStart = ckpt.map(_ + 1).getOrElse(0L)
    val missing = (replayStart to latest).filterNot(tailVersions.contains)
    if (missing.nonEmpty) throw UnsupportedDelta(
      s"$table: commit json missing for version(s) " +
        s"${missing.take(5).mkString(", ")}${if (missing.size > 5) ", …" else ""} " +
        s"— the log is not contiguous from " +
        s"${ckpt.map(c => s"checkpoint $c").getOrElse("version 0")} to $latest")

    // accumulated state, path-keyed (later actions win — the protocol's
    // reconciliation rule)
    val files = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    var captured: Option[Map[String, AddFile]] = None
    var capturedConf: Option[Map[String, String]] = None
    var schemaJson: String = null
    var partitionColumns: Seq[String] = Nil
    var configuration: Map[String, String] = Map.empty
    var metaId: String = ""
    var protocol: Protocol = Protocol(1, 2, Nil, Nil)
    var domains: Map[String, String] = Map.empty
    var metaRaw: Option[JValue] = None
    def applyProtocol(minReader: Int, minWriter: Int,
        readerFeatures: Seq[String], writerFeatures: Seq[String]): Unit = {
      val bad = readerFeatures.filterNot(HarmlessReaderFeatures)
      if (minReader > 3 || (minReader > 1 && minReader < 3))
        throw UnsupportedDelta(
          s"minReaderVersion $minReader (1, or 3 with harmless readerFeatures, only)")
      if (minReader == 3 && bad.nonEmpty) throw UnsupportedDelta(
        s"reader features ${bad.mkString(", ")} change data decoding")
      protocol = Protocol(minReader, minWriter, readerFeatures, writerFeatures)
    }
    // one JSON action line (commit tail, or a V2 json checkpoint —
    // checkpoint removes are tombstones and never replay)
    def applyJsonAction(j: JValue, applyRemoves: Boolean): Unit = {
      (j \ "protocol") match {
        case JObject(_) =>
          val minReader = (j \ "protocol" \ "minReaderVersion")
            .extractOpt[Int].getOrElse(1)
          val minWriter = (j \ "protocol" \ "minWriterVersion")
            .extractOpt[Int].getOrElse(2)
          val rfeats = (j \ "protocol" \ "readerFeatures")
            .extractOpt[Seq[String]].getOrElse(Nil)
          val wfeats = (j \ "protocol" \ "writerFeatures")
            .extractOpt[Seq[String]].getOrElse(Nil)
          applyProtocol(minReader, minWriter, rfeats, wfeats)
        case _ =>
      }
      (j \ "metaData") match {
        case JObject(_) =>
          schemaJson = (j \ "metaData" \ "schemaString").extract[String]
          metaId = (j \ "metaData" \ "id").extractOpt[String].getOrElse("")
          partitionColumns = (j \ "metaData" \ "partitionColumns")
            .extractOpt[Seq[String]].getOrElse(Nil)
          configuration = (j \ "metaData" \ "configuration")
            .extractOpt[Map[String, String]].getOrElse(Map.empty)
          metaRaw = Some(j \ "metaData")
        case _ =>
      }
      (j \ "domainMetadata") match {
        case JObject(_) =>
          val dom = (j \ "domainMetadata" \ "domain").extract[String]
          if ((j \ "domainMetadata" \ "removed")
            .extractOpt[Boolean].getOrElse(false)) domains -= dom
          else domains += dom -> (j \ "domainMetadata" \ "configuration")
            .extractOpt[String].getOrElse("")
        case _ =>
      }
      (j \ "add") match {
        case JObject(_) =>
          val path = (j \ "add" \ "path").extract[String]
          val pv = (j \ "add" \ "partitionValues")
            .extractOpt[Map[String, String]].getOrElse(Map.empty)
          val dv = (j \ "add" \ "deletionVector") match {
            case o: JObject => Some(DeletionVector.Descriptor(
              (o \ "storageType").extract[String],
              (o \ "pathOrInlineDv").extract[String],
              (o \ "offset").extractOpt[Int],
              (o \ "sizeInBytes").extract[Int],
              (o \ "cardinality").extract[Long]))
            case _ => None
          }
          val dc = (j \ "add" \ "dataChange").extractOpt[Boolean]
            .getOrElse(true)
          val stats = (j \ "add" \ "stats").extractOpt[String]
            .filter(_.nonEmpty)
          files += path -> AddFile(path, pv, dv, dc, stats,
            (j \ "add" \ "baseRowId").extractOpt[Long],
            (j \ "add" \ "defaultRowCommitVersion").extractOpt[Long])
        case _ =>
      }
      if (applyRemoves) (j \ "remove") match {
        case JObject(_) =>
          files -= (j \ "remove" \ "path").extract[String]
        case _ =>
      }
    }

    // ------------------------------ checkpoint: classic, multi-part, or V2
    // one row per action, struct columns; V2 top-levels additionally name
    // SIDECAR parquets (in _delta_log/_sidecars/) that carry the file
    // actions — processed with the same handler. Checkpoint `remove`
    // tombstones are vacuum bookkeeping, never replayed.
    // sidecar.path is URI-encoded like add.path (PROTOCOL.md)
    def resolveSidecar(pth: String): String = {
      val dec = PathUris.pctDecode(pth)
      if (pth.contains("://") || pth.startsWith("/")) dec
      else s"${logDir(table)}/_sidecars/$dec"
    }
    def processActionParquet(paths: Seq[String]): Unit = {
      val cp = spark.read.parquet(paths: _*)
      val colsPresent = cp.columns.toSet
      // ONE collect serves every action kind (was one filter+collect job
      // per kind — five scans of the checkpoint). A checkpoint row
      // carries exactly one action; the kinds mutate disjoint state, so
      // dispatching row-by-row in scan order applies each kind in the
      // same relative order the per-kind passes did.
      val sel = Seq.newBuilder[org.apache.spark.sql.Column]
      var next = 0
      def put(c: org.apache.spark.sql.Column): Int = {
        sel += c; next += 1; next - 1
      }
      val protoAt =
        if (!colsPresent.contains("protocol")) -1
        else {
          val pCols = cp.select(col("protocol.*")).columns.toSet
          def pcol(n: String, d: org.apache.spark.sql.Column) =
            if (pCols.contains(n)) col(s"protocol.$n") else d
          val at = put(col("protocol.minReaderVersion"))
          put(pcol("minWriterVersion", lit(2)))
          put(pcol("readerFeatures", lit(null).cast("array<string>")))
          put(pcol("writerFeatures", lit(null).cast("array<string>")))
          at
        }
      val metaAt =
        if (!colsPresent.contains("metaData")) -1
        else {
          val metaCols = cp.select(col("metaData.*")).columns.toSet
          val confCol =
            if (metaCols.contains("configuration"))
              col("metaData.configuration")
            else lit(null).cast("map<string,string>")
          val idCol =
            if (metaCols.contains("id")) col("metaData.id")
            else lit(null).cast("string")
          val at = put(col("metaData.schemaString"))
          put(col("metaData.partitionColumns")); put(confCol); put(idCol)
          at
        }
      val addAt =
        if (!colsPresent.contains("add")) -1
        else {
          val addCols = cp.select(col("add.*")).columns.toSet
          val dvSel: Seq[org.apache.spark.sql.Column] =
            if (addCols.contains("deletionVector"))
              Seq(col("add.deletionVector.storageType"),
                col("add.deletionVector.pathOrInlineDv"),
                col("add.deletionVector.offset"),
                col("add.deletionVector.sizeInBytes"),
                col("add.deletionVector.cardinality"))
            else Seq(lit(null).cast("string"), lit(null).cast("string"),
              lit(null).cast("int"), lit(null).cast("int"),
              lit(null).cast("long"))
          val statsCol =
            if (addCols.contains("stats")) col("add.stats")
            else lit(null).cast("string")
          def rtCol(n: String) =
            if (addCols.contains(n)) col(s"add.$n")
            else lit(null).cast("long")
          val at = put(col("add.path"))
          (Seq(col("add.partitionValues")) ++ dvSel ++ Seq(statsCol,
            rtCol("baseRowId"), rtCol("defaultRowCommitVersion")))
            .foreach(put)
          at
        }
      val domAt =
        if (!colsPresent.contains("domainMetadata")) -1
        else {
          val at = put(col("domainMetadata.domain"))
          put(col("domainMetadata.configuration"))
          put(col("domainMetadata.removed"))
          at
        }
      val sideAt =
        if (!colsPresent.contains("sidecar")) -1
        else put(col("sidecar.path"))
      val sidecars = Seq.newBuilder[String]
      cp.select(sel.result(): _*).collect().foreach { r =>
        if (protoAt >= 0 && !r.isNullAt(protoAt))
          applyProtocol(r.getInt(protoAt), r.getInt(protoAt + 1),
            Option(r.getSeq[String](protoAt + 2)).getOrElse(Nil),
            Option(r.getSeq[String](protoAt + 3)).getOrElse(Nil))
        if (metaAt >= 0 && !r.isNullAt(metaAt)) {
          schemaJson = r.getString(metaAt)
          partitionColumns =
            Option(r.getSeq[String](metaAt + 1)).getOrElse(Nil)
          configuration =
            Option(r.getAs[Map[String, String]](metaAt + 2))
              .getOrElse(Map.empty)
          metaId = Option(r.getString(metaAt + 3)).getOrElse("")
          // checkpoint-sourced metaData loses fields this reader does
          // not model (name/description) — metadata-only commits fall
          // back to the managed set
          metaRaw = None
        }
        if (addAt >= 0 && !r.isNullAt(addAt)) {
          val dv =
            if (r.isNullAt(addAt + 2)) None
            else Some(DeletionVector.Descriptor(r.getString(addAt + 2),
              r.getString(addAt + 3),
              if (r.isNullAt(addAt + 4)) None else Some(r.getInt(addAt + 4)),
              r.getInt(addAt + 5), r.getLong(addAt + 6)))
          files += r.getString(addAt) -> AddFile(r.getString(addAt),
            Option(r.getAs[Map[String, String]](addAt + 1))
              .getOrElse(Map.empty),
            dv, dataChange = true,
            stats = Option(r.getString(addAt + 7)).filter(_.nonEmpty),
            baseRowId =
              if (r.isNullAt(addAt + 8)) None else Some(r.getLong(addAt + 8)),
            defaultRowCommitVersion =
              if (r.isNullAt(addAt + 9)) None
              else Some(r.getLong(addAt + 9)))
        }
        if (domAt >= 0 && !r.isNullAt(domAt)) {
          if (!r.isNullAt(domAt + 2) && r.getBoolean(domAt + 2))
            domains -= r.getString(domAt)
          else domains += r.getString(domAt) ->
            Option(r.getString(domAt + 1)).getOrElse("")
        }
        if (sideAt >= 0 && !r.isNullAt(sideAt))
          sidecars += resolveSidecar(r.getString(sideAt))
      }
      val sc = sidecars.result()
      if (sc.nonEmpty) processActionParquet(sc)
    }
    if (ckptFiles.nonEmpty) processActionParquet(ckptFiles)
    // a V2 top-level may also be JSON: action-per-line, same semantics
    ckptJsonFiles.foreach { cj =>
      val text = FsText.read(fs, new Path(cj))
      val sidecars = Seq.newBuilder[String]
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        val j = JsonMethods.parse(line)
        applyJsonAction(j, applyRemoves = false)
        (j \ "sidecar" \ "path").extractOpt[String]
          .foreach(pth => sidecars += resolveSidecar(pth))
      }
      val sc = sidecars.result()
      if (sc.nonEmpty) processActionParquet(sc)
    }

    // the checkpoint state IS the snapshot at the checkpoint version
    if (ckpt.isDefined && captureAt == ckpt) {
      captured = Some(files.toMap)
      capturedConf = Some(configuration)
    }

    // JSON commits after the checkpoint, in version order
    tailVersions.foreach { v =>
      val text = FsText.read(fs, new Path(f"${logDir(table)}/$v%020d.json"))
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        applyJsonAction(JsonMethods.parse(line), applyRemoves = true)
      }
      if (captureAt.contains(v)) {
        captured = Some(files.toMap)
        capturedConf = Some(configuration)
      }
    }

    if (schemaJson == null) throw UnsupportedDelta(
      s"$table: log replay found no metaData action")
    configuration.get("delta.columnMapping.mode").foreach {
      case "name" | "id" | "none" => // both mapped modes decode in assemble
      case other => throw UnsupportedDelta(
        s"$table: columnMapping mode '$other' is not implemented")
    }
    (Snapshot(latest, schemaJson, partitionColumns, files.values.toSeq,
      configuration, metaId, protocol, domains, metaRaw),
      captured, capturedConf)
  }

  // ---------------------------------------------------------------- reads

  /** Read a Delta table snapshot: the latest version, or `versionAsOf`
    * for time travel. Partition columns come back as real columns cast
    * to the schema's types (hive `__HIVE_DEFAULT_PARTITION__` and absent
    * values read as null). */
  def read(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame =
    assemble(spark, table, replay(spark, table, versionAsOf)._1)

  /** Read with DATA SKIPPING: files whose `add.stats`
    * (numRecords/minValues/maxValues/nullCount) or partition values
    * prove no row can satisfy `filters` never reach the scan — the
    * O(files) driver-metadata pruning every Delta scan planner performs,
    * and the reason a selective predicate over a 100 TB table reads MB.
    * The FULL predicate is re-applied after the pruned scan, so the
    * result equals `read(...).filter(...)` exactly: pruning decisions
    * only ever drop provably-empty files (files without stats, foreign
    * stats shapes, and unsupported predicate forms are all kept).
    * Partition columns prune via their directory values (min = max =
    * the value); data columns via the stats bounds. NaN-aware: `>`/`>=`
    * never prune float/double columns. */
  def readWhere(spark: SparkSession, table: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = replay(spark, table, versionAsOf)._1
    val full = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val partTypes = snap.partitionColumns
      .flatMap(c => full.fields.find(_.name == c)).map(f => f.name -> f)
    // column-mapped tables key their stats by PHYSICAL name — parse
    // against the physically-named schema, then relabel to logical so
    // the same filters prune
    val mapped = snap.configuration
      .get("delta.columnMapping.mode").exists(_ != "none")
    val statsSchema = if (!mapped) full
      else StructType(full.fields.map(f =>
        StructField(physFieldName(f), f.dataType)))
    val physToLogical = full.fields.map(f => physFieldName(f) -> f.name).toMap
    def stats(f: AddFile): ColumnStats.FileStats = {
      val rawParsed = f.stats
        .map(ColumnStats.parseDeltaStats(_, statsSchema))
        .getOrElse(ColumnStats.NoStats)
      val parsed = if (!mapped) rawParsed
        else rawParsed.copy(cols = rawParsed.cols.flatMap { case (k, v) =>
          physToLogical.get(k).map(_ -> v) })
      // partition values are point stats; a null partition value is an
      // all-null column for the WHOLE file, so when the row count is
      // unknown a synthetic one still lets the all-null rule fire
      val pvCols = partTypes.map { case (name, field) =>
        // keyed by PHYSICAL name under column mapping, exactly as
        // `assemble` rebuilds the column — a missing key materializes
        // as null there, so all-null pruning here stays consistent
        val raw = f.partitionValues.get(physFieldName(field))
          .orElse(f.partitionValues.get(name))
          .flatMap(Option(_)) // a JSON-null partition value parses as null
          .filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
        name -> ColumnStats.partitionValueStats(raw, field.dataType,
          parsed.numRecords)
      }.toMap
      val nr = parsed.numRecords.orElse {
        if (pvCols.values.exists(c => c.min.isEmpty && c.nullCount.isDefined))
          Some(Long.MaxValue)
        else None
      }
      ColumnStats.FileStats(nr, parsed.cols ++ pvCols)
    }
    TableScan.readWhere(filters, ColumnStats.statTypes(full), snap.files)(
      stats)(kept => assemble(spark, table, snap.copy(files = kept)))
  }

  // ------------------------------------------------- column mapping (name)

  private[sources] def physFieldName(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** The logical schema re-labeled with physical names, recursively —
    * what the parquet files actually store under name-mode column
    * mapping. With `withIds`, each field additionally carries its
    * `delta.columnMapping.id` as `parquet.field.id` metadata — the key
    * Spark's parquet reader uses for FIELD-ID resolution (id mode, where
    * the files' column names are not authoritative). */
  private def physType(dt: DataType, withIds: Boolean): DataType = dt match {
    case st: StructType => StructType(st.fields.map { f =>
      val md =
        if (withIds && f.metadata.contains("delta.columnMapping.id"))
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id",
              f.metadata.getLong("delta.columnMapping.id")).build()
        else if (withIds) throw UnsupportedDelta(
          s"column mapping mode 'id': field '${f.name}' carries no " +
            "delta.columnMapping.id — the schema cannot resolve by field id")
        else org.apache.spark.sql.types.Metadata.empty
      StructField(physFieldName(f), physType(f.dataType, withIds),
        f.nullable, md)
    })
    case ArrayType(et, n) => ArrayType(physType(et, withIds), n)
    case MapType(k, v, n) =>
      MapType(physType(k, withIds), physType(v, withIds), n)
    case o => o
  }

  /** One logical field's PHYSICAL shape for the writers: physical name
    * at every nesting level, each field tagged with its
    * `delta.columnMapping.id` as `parquet.field.id` where declared
    * (lenient — name-mode tables resolve by name, so a missing id is
    * not an error on the WRITE side). A cast to this type IS the
    * logical→physical rename, nested levels included: struct casts
    * rename positionally. */
  private[sources] def physField(f: StructField): StructField = {
    def walk(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { nf =>
        StructField(physFieldName(nf), walk(nf.dataType), nf.nullable,
          idMeta(nf))
      })
      case ArrayType(et, n) => ArrayType(walk(et), n)
      case MapType(k, v, n) => MapType(walk(k), walk(v), n)
      case o => o
    }
    def idMeta(nf: StructField) =
      if (!nf.metadata.contains("delta.columnMapping.id"))
        org.apache.spark.sql.types.Metadata.empty
      else new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id",
          nf.metadata.getLong("delta.columnMapping.id")).build()
    StructField(physFieldName(f), walk(f.dataType), f.nullable, idMeta(f))
  }

  /** The id-mode read schema for ONE file: `expected` (the physical
    * schema, every field carrying `parquet.field.id` metadata) RENAMED to
    * the file's actual column names by matching field ids, recursively
    * through structs (including list elements and map values). A field id
    * absent from the file reads as null under a collision-proof
    * placeholder name — matching by the physical NAME there would be
    * wrong, since a same-named column with a different id may exist (ids,
    * not names, are authoritative in id mode). A duplicated id in the
    * file is a directed error. */
  private def resolveByFieldId(expected: StructType,
      g: org.apache.parquet.schema.GroupType, where: String): StructType = {
    import org.apache.parquet.schema.{GroupType => PGroup, Type => PType}
    import scala.jdk.CollectionConverters._
    val byId = scala.collection.mutable.Map.empty[Int, PType]
    val dup = scala.collection.mutable.Set.empty[Int]
    g.getFields.asScala.foreach { t =>
      Option(t.getId).map(_.intValue).foreach { id =>
        if (byId.contains(id)) dup += id else byId(id) = t
      }
    }
    // the parquet ELEMENT type of a (3-level or legacy 2-level) LIST group
    def listElement(lg: PGroup): PType = {
      val rep = lg.getType(0)
      if (rep.isPrimitive) rep
      else {
        val rg = rep.asGroupType
        // 3-level: repeated wrapper group with exactly one field; a
        // repeated group that IS the element keeps itself — including
        // parquet-mr's legacy 2-level rule, where a single-field repeated
        // group named "array" or "<list-name>_tuple" IS the element
        if (rg.getFieldCount == 1 &&
          rep.getRepetition == PType.Repetition.REPEATED &&
          rg.getLogicalTypeAnnotation == null &&
          rg.getName != "array" && rg.getName != s"${lg.getName}_tuple")
          rg.getType(0)
        else rep
      }
    }
    def remapType(dt: DataType, t: PType): DataType = (dt, t) match {
      case (st: StructType, gt: PGroup)
        if gt.getLogicalTypeAnnotation == null =>
        resolveByFieldId(st, gt, where)
      case (ArrayType(et, n), gt: PGroup) =>
        val elem = listElement(gt)
        if (elem.isPrimitive) ArrayType(et, n)
        else ArrayType(remapType(et, elem), n)
      case (MapType(kt, vt, n), gt: PGroup) =>
        val kv = gt.getType(0)
        if (kv.isPrimitive || kv.asGroupType.getFieldCount < 2)
          MapType(kt, vt, n)
        else MapType(kt, remapType(vt, kv.asGroupType.getType(1)), n)
      case _ => dt
    }
    StructType(expected.fields.map { f =>
      // physType(withIds = true) guarantees the metadata key exists
      val id = f.metadata.getLong("parquet.field.id").toInt
      if (dup(id)) throw UnsupportedDelta(
        s"$where: parquet field id $id appears on multiple columns — " +
          "id-mode resolution is ambiguous")
      byId.get(id) match {
        case None =>
          // not in this file: read as null under a name no real column
          // can shadow
          StructField(s"__graft_absent_$id", f.dataType, nullable = true,
            f.metadata)
        case Some(t) =>
          StructField(t.getName, remapType(f.dataType, t), f.nullable,
            f.metadata)
      }
    })
  }

  private def hasStruct(dt: DataType): Boolean = dt match {
    case _: StructType => true
    case ArrayType(et, _) => hasStruct(et)
    case MapType(k, v, _) => hasStruct(k) || hasStruct(v)
    case _ => false
  }

  /** A physical-named column value rebuilt under its logical names. */
  private[sources] def toLogical(c: Column, phys: DataType,
      logical: DataType): Column = (phys, logical) match {
    case _ if !hasStruct(phys) => c
    case (ps: StructType, ls: StructType) =>
      val rebuilt = struct(ps.fields.zip(ls.fields).toIndexedSeq.map {
        case (pf, lf) =>
          toLogical(c.getField(pf.name), pf.dataType, lf.dataType)
            .as(lf.name)
      }: _*)
      when(c.isNotNull, rebuilt)
    case (ArrayType(pe, _), ArrayType(le, _)) =>
      transform(c, x => toLogical(x, pe, le))
    case (MapType(pk, pv, _), MapType(lk, lv, _)) =>
      if (hasStruct(pk)) throw UnsupportedDelta(
        "column mapping over struct-typed MAP KEYS is not implemented")
      transform_values(c, (_, v) => toLogical(v, pv, lv))
    case _ => c
  }

  /** `extraCols`: PHYSICAL columns to read from the data files beyond
    * the table schema (rowTracking's materialized row-id columns — they
    * live in the parquet but not in the logical schema, delta-spark
    * stores them unmapped like `_change_type`). Files lacking them read
    * NULL (parquet missing-column semantics), which is exactly the
    * coalesce-to-default the row-id read path needs. */
  private def assemble(spark: SparkSession, table: String,
      snap: Snapshot, keepRowKey: Boolean = false,
      extraCols: Seq[StructField] = Nil): DataFrame = {
    val full = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val partCols = snap.partitionColumns
    val mappingMode = snap.configuration
      .get("delta.columnMapping.mode").filterNot(_ == "none")
    val mapped = mappingMode.isDefined
    val idMode = mappingMode.contains("id")
    val dataSchema = StructType(full.filterNot(f => partCols.contains(f.name)))
    // column mapping: files store PHYSICAL names at every nesting level;
    // read with the physical schema, then rebuild logical names
    // column-by-column (nulls preserved via isNotNull guards). In ID mode
    // the files' column names are not authoritative — each file's footer
    // is read (O(files) driver metadata, the same footer pass the writers'
    // stat collection performs) and the read schema is RENAMED to that
    // file's actual column names by matching parquet FIELD IDS. No
    // session or hadoop conf is touched — Spark's global
    // `spark.sql.parquet.fieldId.read.enabled` flag would leak id
    // semantics into every concurrent parquet read of the session.
    val readSchema =
      if (mapped) physType(dataSchema, idMode).asInstanceOf[StructType]
      else dataSchema
    val base = table.stripSuffix("/")
    // add.path is percent-encoded whether relative OR absolute
    // (PROTOCOL.md); strict RFC 3986 decoding, '+' untouched
    def resolve(rel: String): String = resolveAdd(base, rel)
    val outSchema = StructType(full.fields ++ extraCols)
    if (snap.files.isEmpty)
      return TableScan.empty(spark, TableScan.keyed(outSchema, keepRowKey))
    // deletion vectors decode on executors: descriptors (driver metadata,
    // one row per DV'd file) flat-map into (file, deleted row index) rows
    val dvFiles = snap.files.filter(_.dv.isDefined)
    val deletes: Option[DataFrame] = if (dvFiles.isEmpty) None else {
      val tconf = TaskConf(
        new Configuration(spark.sparkContext.hadoopConfiguration))
      val descs = dvFiles.map { f =>
        val d = f.dv.get
        (PathUris.canon(resolve(f.path)), d.storageType, d.pathOrInlineDv,
          d.offset.getOrElse(-1), d.sizeInBytes, d.cardinality)
      }
      Some(TableScan.killSet(spark, descs) {
        case (dataPath, st, pod, off, size, card) =>
          DeletionVector.positions(
            DeletionVector.Descriptor(st, pod,
              if (off < 0) None else Some(off), size, card),
            base, tconf).iterator.map(pos => (dataPath, pos))
      })
    }
    // one parquet relation per distinct partition tuple, partition values
    // injected as typed literals; id mode further
    // splits by RESOLVED read schema (files written by different engines
    // may spell the same field id with different column names). Each
    // group anti-joins the kill set when one of its files carries a DV.
    def group(pv: Map[String, String], fs: Seq[AddFile], schema: StructType) =
      TableScan.ReadGroup(pv, fs.map(f => resolve(f.path)),
        StructType(schema.fields ++ extraCols),
        if (fs.exists(_.dv.isDefined)) deletes else None)
    val groups =
      if (!idMode)
        snap.files.groupBy(_.partitionValues).toSeq
          .map { case (pv, fs) => group(pv, fs, readSchema) }
      else {
        val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
        snap.files
          .map(f => (f, resolveByFieldId(readSchema, TableScan.footer(
            resolve(f.path), conf).getFileMetaData.getSchema, f.path)))
          .groupBy(x => (x._1.partitionValues, x._2.json)).toSeq
          .map { case (_, xs) =>
            group(xs.head._1.partitionValues, xs.map(_._1), xs.head._2) }
      }
    TableScan.scanGroups(spark, groups, keepRowKey) { (g, scanned) =>
      var df = scanned
      if (mapped) {
        // rebuild logical names (extra physical columns and metadata
        // key columns pass through — they carry no mapping)
        val keyCols = extraCols.map(f => col(s"`${f.name}`")) ++
          (if (keepRowKey) TableScan.rowKey else Nil)
        df = df.select(g.schema.fields.zip(dataSchema.fields)
          .toIndexedSeq.map { case (pf, lf) =>
            toLogical(col(s"`${pf.name}`"), pf.dataType, lf.dataType)
              .as(lf.name)
        } ++ keyCols: _*)
      }
      partCols.foreach { c =>
        val t = full(c).dataType
        // partitionValues are keyed by PHYSICAL name under column mapping
        val key = if (mapped) physFieldName(full(c)) else c
        val raw = g.key.get(key).orElse(g.key.get(c))
          .filterNot(_ == "__HIVE_DEFAULT_PARTITION__").orNull
        df = df.withColumn(c, lit(raw).cast(t))
      }
      df.select(TableScan.keyed(outSchema, keepRowKey).fieldNames
        .toIndexedSeq.map(col): _*)
    }
  }

  /** The snapshot with each row's [[TableScan]] row key —
    * what [[DeltaWriter.writeDelete]] filters to locate the rows a
    * deletion vector must cover. Existing DVs are already applied. */
  private[graft] def readWithRowKey(spark: SparkSession,
      table: String): DataFrame =
    assemble(spark, table, replay(spark, table, None)._1, keepRowKey = true)

  /** The table's MATERIALIZED row-id column names, when configured
    * (PROTOCOL.md rowTracking: `delta.rowTracking.
    * materializedRowIdColumnName` / `...RowCommitVersionColumnName`) —
    * the physical columns a rewriting commit (OPTIMIZE) stores stable
    * ids in. A row's served id is COALESCE(materialized, baseRowId +
    * position); same for the commit version. Exactly one of the two
    * keys configured is a malformed table — directed. */
  private[graft] def materializedRowIdCols(
      table: String, config: Map[String, String]): Option[(String, String)] = {
    val r = config.get("delta.rowTracking.materializedRowIdColumnName")
    val c = config.get(
      "delta.rowTracking.materializedRowCommitVersionColumnName")
    (r, c) match {
      case (Some(rc), Some(cc)) => Some((rc, cc))
      case (None, None) => None
      case _ => throw UnsupportedDelta(
        s"$table: exactly one of the two materialized rowTracking " +
          "column names is configured — the table's row-id state is " +
          "malformed")
    }
  }

  /** Read with the protocol's ROW TRACKING identity: `_row_id` =
    * COALESCE(the materialized row-id column, the file's `baseRowId` +
    * the row's physical position) and `_row_commit_version` =
    * COALESCE(materialized, the file's `defaultRowCommitVersion`) —
    * the protocol's two routes (fresh/default for appended files,
    * materialized for files a compaction rewrote, where position no
    * longer encodes identity). One broadcast (file → base) dimension
    * joined map-side — O(files) driver metadata, no shuffle; the
    * materialized columns ride the same scan. Directed when the table
    * lacks the feature or an active file misses the fields (a foreign
    * enablement without backfill — serving ids would fabricate
    * identity). */
  def readWithRowIds(spark: SparkSession, table: String): DataFrame = {
    val snap = replay(spark, table, None)._1
    if (!snap.protocol.writerFeatures.contains("rowTracking"))
      throw UnsupportedDelta(
        s"$table: the table does not declare the rowTracking feature — " +
          "row ids do not exist")
    withRowIds(spark, table, snap,
      materializedRowIdCols(table, snap.configuration),
      ("_row_id", "_row_commit_version"),
      "rowTracking was enabled without a backfill")
  }

  /** The row-tracking read both [[readWithRowIds]] and the compaction
    * input share: `out` = (row id, commit version) per row, each the
    * `materialized` column when present, else the file's baseRowId + the
    * row's position and its defaultRowCommitVersion. A file missing
    * either field is directed, with `why` as the reason. */
  private def withRowIds(spark: SparkSession, table: String, snap: Snapshot,
      materialized: Option[(String, String)], out: (String, String),
      why: String): DataFrame = {
    val base = table.stripSuffix("/")
    val extras = materialized.toSeq.flatMap { case (r, c) => Seq(
      StructField(r, org.apache.spark.sql.types.LongType),
      StructField(c, org.apache.spark.sql.types.LongType)) }
    val dim = snap.files.map { f =>
      val b = f.baseRowId.getOrElse(throw UnsupportedDelta(
        s"$table: active file ${f.path} carries no baseRowId — $why"))
      val v = f.defaultRowCommitVersion.getOrElse(throw UnsupportedDelta(
        s"$table: active file ${f.path} carries no " +
          "defaultRowCommitVersion"))
      (PathUris.canon(resolveAdd(base, f.path)), b, v)
    }
    TableScan.withLineage(
        assemble(spark, table, snap, keepRowKey = true, extraCols = extras),
        dim, extras.map(_.name).filterNot(Set(out._1, out._2))) {
      (defaultRid, version) => materialized match {
        case Some((r, c)) => Seq(
          out._1 -> coalesce(col(s"`$r`"), defaultRid),
          out._2 -> coalesce(col(s"`$c`"), version))
        case None => Seq(out._1 -> defaultRid, out._2 -> version)
      }
    }
  }

  /** The table's SetTransaction watermarks: appId → newest `txn`
    * version — the idempotence state an external streaming writer keeps
    * (PROTOCOL.md "Transaction Identifiers"). Protocol replay order:
    * the newest checkpoint's txn rows as the baseline (classic/
    * multi-part parquet, V2 json + sidecars), then the commit json
    * above it in version order. O(log tail) small text plus one
    * checkpoint column scan — survives json cleanup because
    * [[graft.sources.DeltaWriter.writeCheckpoint]] re-emits the
    * watermarks. */
  def txnVersions(spark: SparkSession, table: String): Map[String, Long] = {
    val base = table.stripSuffix("/")
    val conf = new Configuration(
      spark.sparkContext.hadoopConfiguration)
    val lp = new Path(logDir(table))
    val fs = lp.getFileSystem(conf)
    val entries = fs.listStatus(lp).map(_.getPath.getName).toSeq
    val jsonVers = entries.flatMap(versionOf)
    val ckptV = entries.flatMap(ckptVersionOf).distinct.sorted.lastOption
    val txns = scala.collection.mutable.Map.empty[String, Long]
    def sweepParquet(paths: Seq[String]): Unit = {
      val cp = spark.read.parquet(paths: _*)
      val cols = cp.columns.toSet
      val hasTxn = cols.contains("txn")
      val hasSide = cols.contains("sidecar")
      if (!hasTxn && !hasSide) return
      // one collect for both kinds (was one job each)
      val txnSel =
        if (hasTxn) Seq(col("txn.appId"), col("txn.version").cast("long"))
        else Seq(lit(null).cast("string"), lit(null).cast("long"))
      val sideSel =
        if (hasSide) col("sidecar.path") else lit(null).cast("string")
      val sc = Seq.newBuilder[String]
      cp.select(txnSel :+ sideSel: _*).collect().foreach { r =>
        if (!r.isNullAt(0)) txns(r.getString(0)) = r.getLong(1)
        if (!r.isNullAt(2)) {
          val dec = PathUris.pctDecode(r.getString(2))
          sc += (if (dec.contains("://") || dec.startsWith("/")) dec
            else s"$base/_delta_log/_sidecars/$dec")
        }
      }
      val scr = sc.result()
      if (scr.nonEmpty) sweepParquet(scr)
    }
    def sweepJson(text: String): Unit =
      text.split('\n').filter(_.contains("\"txn\"")).foreach { line =>
        val j = JsonMethods.parse(line)
        (j \ "txn") match {
          case JObject(_) =>
            txns((j \ "txn" \ "appId").extract[String]) =
              (j \ "txn" \ "version").extract[Long]
          case _ =>
        }
      }
    ckptV.foreach { v =>
      val ckptFiles = entries.filter(n => ckptVersionOf(n).contains(v))
      val (js, pq) = ckptFiles.partition(_.endsWith(".json"))
      js.foreach { n =>
        val text = FsText.read(fs, new Path(lp, n))
        sweepJson(text)
        val sidecars = text.split('\n')
          .filter(_.contains("\"sidecar\"")).flatMap { line =>
            (JsonMethods.parse(line) \ "sidecar" \ "path")
              .extractOpt[String]
          }.map { raw =>
            val dec = PathUris.pctDecode(raw)
            if (dec.contains("://") || dec.startsWith("/")) dec
            else s"$base/_delta_log/_sidecars/$dec"
          }.toSeq
        if (sidecars.nonEmpty) sweepParquet(sidecars)
      }
      if (pq.nonEmpty) sweepParquet(pq.map(n => s"$base/_delta_log/$n"))
    }
    jsonVers.filter(v => ckptV.forall(v > _)).sorted.foreach { v =>
      sweepJson(FsText.read(fs, new Path(lp, f"$v%020d.json")))
    }
    txns.toMap
  }

  /** The live rows of ONLY the named data files with their rowTracking
    * identity POPULATED into the two named materialized columns —
    * the compaction rewrite's input: each survivor row carries
    * `ridCol` = its stable row id and `rcvCol` = its current commit
    * version (materialized value when its file already had one,
    * baseRowId + position otherwise), ready to write physically into
    * the rewritten files. Directed when a selected file misses the
    * fields. */
  private[graft] def readFilesSubsetWithRowIds(spark: SparkSession,
      table: String, canonPaths: Set[String], ridCol: String,
      rcvCol: String): DataFrame =
    withRowIds(spark, table, filesSubset(spark, table, canonPaths),
      Some((ridCol, rcvCol)), (ridCol, rcvCol),
      "its rows' identity cannot survive a rewrite")

  /** The live rows of ONLY the named data files (canonical absolute
    * paths), existing DVs applied — the copy-on-write rewrite's input:
    * data IO scales with the TOUCHED files, never the table. */
  private[graft] def readFilesSubset(spark: SparkSession, table: String,
      canonPaths: Set[String]): DataFrame =
    assemble(spark, table, filesSubset(spark, table, canonPaths))

  /** The latest snapshot narrowed to the named data files. */
  private def filesSubset(spark: SparkSession, table: String,
      canonPaths: Set[String]): Snapshot = {
    val base = table.stripSuffix("/")
    val snap = replay(spark, table, None)._1
    snap.copy(files = snap.files.filter(f =>
      canonPaths(PathUris.canon(resolveAdd(base, f.path)))))
  }

  /** Incremental consumption: rows of the data files ACTIVE at
    * `toVersion` (default latest) but not at `fromVersion` — the
    * "process only the new shards" pattern an incremental corpus
    * pipeline runs between scheduled passes. Files added with
    * `dataChange = false` (a compaction's rearrangements — their rows
    * were already served from the originals) are SKIPPED, matching
    * delta-spark's streaming semantics; the one blind spot is a
    * compaction commit consumed INSIDE a checkpoint in the range, whose
    * adds read conservatively as data changes. File-granular otherwise;
    * for row-level semantics on CDF-enabled tables use [[readCdf]]. */
  def readChanges(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    // ONE replay when the checkpoint doesn't cover past fromVersion: the
    // sequential fold snapshots the active set as it passes fromVersion
    // (incremental polls call this on a schedule — the metadata cost
    // matters); otherwise fall back to two replays
    val (toSnap, captured, _) =
      replay(spark, table, toVersion, captureAt = Some(fromVersion))
    if (toSnap.version < fromVersion) throw UnsupportedDelta(
      s"$table: readChanges range is reversed (from $fromVersion, " +
        s"to ${toSnap.version}) — a reversed diff would serve DELETED files")
    val before = captured.map(_.keySet).getOrElse(
      replay(spark, table, Some(fromVersion))._1.files.map(_.path).toSet)
    val fresh = toSnap.files.filterNot(f => before(f.path))
      .filter(_.dataChange)
    assemble(spark, table, toSnap.copy(files = fresh))
  }

  /** Row-level CHANGE DATA FEED (PROTOCOL.md "Add CDC File", the
    * `table_changes` surface): for each version in [fromVersion,
    * toVersion], a commit carrying `cdc` actions serves exactly its
    * `_change_data/` files' rows (their `_change_type` column verbatim —
    * insert / delete / update_preimage / update_postimage); a commit
    * without cdc actions synthesizes inserts from its dataChange adds
    * and deletes by re-reading its dataChange removes. Rows carry
    * `_change_type`, `_commit_version`, `_commit_timestamp`. Requires
    * `delta.enableChangeDataFeed` — without the writer-side flag the log
    * has no update-level change files and a synthesized feed would
    * misreport updates as delete+insert pairs, so that is a directed
    * error. Partition columns rebuild from each action's
    * partitionValues; column mapping applies as in snapshot reads. */
  def readCdf(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(logDir(table)).getFileSystem(conf)
    // ONE replay: the fold captures the configuration AND active file
    // state as it passes fromVersion - 1 (the readChanges trick); the
    // rare capture miss (point consumed inside a later checkpoint) falls
    // back to a lazily-computed second replay
    val capturePoint = if (fromVersion > 0) Some(fromVersion - 1) else None
    val (snap, stateAtFrom, confAtFrom) =
      replay(spark, table, toVersion, captureAt = capturePoint)
    // fromVersion == version + 1 is the legal EMPTY feed (a poller's
    // baseline tick); anything further is a reversed range
    if (fromVersion > snap.version + 1) throw UnsupportedDelta(
      s"$table: readCdf range is reversed (from $fromVersion, " +
        s"to ${snap.version})")
    lazy val fallbackAtFrom: Snapshot =
      replay(spark, table, Some(fromVersion - 1))._1
    // the flag must hold at EVERY version in the range (delta's own CDC
    // reader errors likewise): a pre-enablement commit has no cdc files
    // and synthesizing it would misreport updates as delete+insert.
    // Initialized from the config at fromVersion - 1 — a metaData action
    // AT fromVersion recomputes it inside the loop before any of that
    // commit's files are checked.
    var cdfEnabled = fromVersion > 0 && fromVersion <= snap.version &&
      confAtFrom.getOrElse(fallbackAtFrom.configuration)
        .get("delta.enableChangeDataFeed")
        .exists(_.equalsIgnoreCase("true"))
    // running active-add state across the range: a delta overlay over the
    // state at fromVersion - 1, consulted when a dataChange remove omits
    // fields PROTOCOL.md only says "should" mirror the add (the deletion
    // vector, partitionValues) — the replayed add is authoritative, and
    // trusting a bare remove would report already-deleted rows as deletes
    lazy val baseState: Map[String, AddFile] =
      if (fromVersion == 0) Map.empty
      else stateAtFrom.getOrElse(
        fallbackAtFrom.files.map(f => f.path -> f).toMap)
    val overlay = scala.collection.mutable.Map.empty[String, Option[AddFile]]
    def activeAdd(path: String): Option[AddFile] =
      overlay.getOrElse(path, baseState.get(path))
    val full = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val cdcSchemaJson = StructType(full.fields :+
      StructField("_change_type", org.apache.spark.sql.types.StringType)).json
    def tagged(df: DataFrame, v: Long, ts: Long): DataFrame = df
      .withColumn("_commit_version", lit(v))
      .withColumn("_commit_timestamp",
        lit(new java.sql.Timestamp(ts)))
    val frames = (fromVersion to snap.version).flatMap { v =>
      val p = new Path(f"${logDir(table)}/$v%020d.json")
      if (!fs.exists(p)) throw UnsupportedDelta(
        s"$table: commit json for version $v is gone (log cleanup) — " +
          "the change feed over this range is unrecoverable")
      // commitInfo is optional: the commit file's mtime is the fallback
      var ts = fs.getFileStatus(p).getModificationTime
      val cdc = Seq.newBuilder[AddFile]
      val adds = Seq.newBuilder[AddFile]
      val rawRemoves = Seq.newBuilder[AddFile]
      // state tracking sees EVERY add/remove (dataChange=false compaction
      // moves files too); the feed itself serves only dataChange actions
      val stateAdds = Seq.newBuilder[AddFile]
      val stateRemoves = Seq.newBuilder[String]
      FsText.read(fs, p).split('\n').filter(_.trim.nonEmpty).foreach { line =>
        val j = JsonMethods.parse(line)
        (j \ "commitInfo" \ "timestamp").extractOpt[Long].foreach(ts = _)
        (j \ "metaData") match {
          case JObject(_) =>
            // key ABSENCE disables too (UNSET TBLPROPERTIES writes a
            // metaData action without the key) — recompute, don't patch
            cdfEnabled = (j \ "metaData" \ "configuration" \
              "delta.enableChangeDataFeed").extractOpt[String]
              .exists(_.equalsIgnoreCase("true"))
            // the feed is served under the END version's schema; a
            // schema or partition-layout change inside the range would
            // silently misrepresent earlier rows — directed instead
            val sch = (j \ "metaData" \ "schemaString").extractOpt[String]
            val pc = (j \ "metaData" \ "partitionColumns")
              .extractOpt[Seq[String]].getOrElse(Nil)
            if (sch.exists(_ != snap.schemaJson) ||
              pc != snap.partitionColumns) throw UnsupportedDelta(
              s"$table: the schema or partition layout changes at " +
                s"version $v inside the readCdf range — rows before the " +
                "change cannot be represented under the end schema")
          case _ =>
        }
        def fileOf(node: JValue, kind: String, guard: Boolean): AddFile = {
          val f = AddFile(
            (node \ "path").extract[String],
            (node \ "partitionValues").extractOpt[Map[String, String]]
              .getOrElse(Map.empty),
            (node \ "deletionVector") match {
              case o: JObject => Some(DeletionVector.Descriptor(
                (o \ "storageType").extract[String],
                (o \ "pathOrInlineDv").extract[String],
                (o \ "offset").extractOpt[Int],
                (o \ "sizeInBytes").extract[Int],
                (o \ "cardinality").extract[Long]))
              case _ => None
            })
          if (guard && snap.partitionColumns.nonEmpty &&
            f.partitionValues.isEmpty)
            throw UnsupportedDelta(
              s"$table: $kind of ${f.path} at version $v carries no " +
                "partitionValues — its feed rows cannot rebuild " +
                "partition columns")
          f
        }
        (j \ "cdc") match {
          case o: JObject => cdc += fileOf(o, "cdc", guard = true)
          case _ =>
        }
        (j \ "add") match {
          case o: JObject =>
            val dataChange =
              (o \ "dataChange").extractOpt[Boolean].getOrElse(true)
            val f = fileOf(o, "add", guard = dataChange)
            stateAdds += f
            if (dataChange) adds += f
          case _ =>
        }
        (j \ "remove") match {
          case o: JObject =>
            // removes resolve against the pre-commit add state below, so
            // the partitionValues guard waits until after that fallback
            val f = fileOf(o, "remove", guard = false)
            stateRemoves += f.path
            if ((o \ "dataChange").extractOpt[Boolean].getOrElse(true))
              rawRemoves += f
          case _ =>
        }
      }
      val cdcFiles = cdc.result()
      val addFiles = adds.result()
      val rmFiles = rawRemoves.result().map { f =>
        val prior = activeAdd(f.path)
        val resolved = AddFile(f.path,
          if (f.partitionValues.nonEmpty) f.partitionValues
          else prior.map(_.partitionValues).getOrElse(Map.empty),
          f.dv.orElse(prior.flatMap(_.dv)))
        if (snap.partitionColumns.nonEmpty &&
          resolved.partitionValues.isEmpty) throw UnsupportedDelta(
          s"$table: remove of ${f.path} at version $v carries no " +
            "partitionValues (and no replayed add has them) — its feed " +
            "rows cannot rebuild partition columns")
        resolved
      }
      // advance the running state AFTER this commit's removes resolved
      // against the pre-commit view; removes first so a same-path
      // remove+add pair (a DV rewrite) nets to the add
      stateRemoves.result().foreach(p => overlay(p) = None)
      stateAdds.result().foreach(f => overlay(f.path) = Some(f))
      if (!cdfEnabled && (cdcFiles.nonEmpty || addFiles.nonEmpty ||
          rmFiles.nonEmpty)) throw UnsupportedDelta(
        s"$table: version $v changed data while " +
          "delta.enableChangeDataFeed was not set — the log carries no " +
          "change files there and a synthesized feed would misreport " +
          "updates")
      if (cdcFiles.nonEmpty) {
        // cdc files carry the _change_type column themselves; they apply
        // no DVs (change rows are written verbatim)
        Seq(tagged(assemble(spark, table,
          snap.copy(schemaJson = cdcSchemaJson,
            files = cdcFiles.map(_.copy(dv = None)))), v, ts))
      } else {
        // a cdc-less DV update (same path added and removed, DVs moving)
        // cannot be reconstructed from file reads alone — directed
        val both = addFiles.map(_.path).toSet
          .intersect(rmFiles.map(_.path).toSet)
        if (both.nonEmpty &&
          (addFiles.exists(f => both(f.path) && f.dv.isDefined) ||
            rmFiles.exists(f => both(f.path) && f.dv.isDefined)))
          throw UnsupportedDelta(
            s"$table: version $v rewrites deletion vectors on " +
              s"${both.size} file(s) without cdc files — the row-level " +
              "diff is not reconstructible (enable CDF on the writer)")
        // synthesized rows honor each action's DV: an insert serves the
        // add's LIVE rows, a delete the rows live at removal
        def synthesized(files: Seq[AddFile], kind: String) =
          if (files.isEmpty) Nil
          else Seq(tagged(assemble(spark, table, snap.copy(files = files))
            .withColumn("_change_type", lit(kind)), v, ts))
        synthesized(addFiles, "insert") ++ synthesized(rmFiles, "delete")
      }
    }
    if (frames.isEmpty)
      TableScan.empty(spark, StructType(full.fields ++ Seq(
        StructField("_change_type", org.apache.spark.sql.types.StringType),
        StructField("_commit_version", org.apache.spark.sql.types.LongType),
        StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType))))
    else frames.map(_.select(
        (full.fieldNames.toSeq :+ "_change_type" :+ "_commit_version" :+
          "_commit_timestamp").map(col): _*))
      .reduce(_ unionByName _)
  }

  /** (version, schemaString, partitionColumns, configuration) of the
    * latest snapshot — the append-compatibility probe [[DeltaWriter]]
    * runs before committing, and the metadata-only schema source for the
    * streaming wrapper. */
  private[graft] def snapshotInfo(spark: SparkSession, table: String)
      : (Long, String, Seq[String], Map[String, String]) = {
    val s = replay(spark, table, None)._1
    (s.version, s.schemaJson, s.partitionColumns, s.configuration)
  }

  /** The latest snapshot's full state for the writers: one replay
    * serving everything a commit needs — including the live
    * `domainMetadata` map (rowTracking's high-water mark) and the RAW
    * metaData action (so metadata-only commits can carry a foreign
    * table's name/description/createdTime verbatim; None when the
    * metaData was reconstructed from a checkpoint's columns). */
  private[graft] final case class DeltaState(version: Long, metaId: String,
      schemaJson: String, partitionColumns: Seq[String],
      configuration: Map[String, String],
      files: Seq[(String, Map[String, String],
        Option[DeletionVector.Descriptor], Option[String])],
      protocol: Protocol, domains: Map[String, String],
      metaRaw: Option[JValue],
      // rowTracking fields per RAW add path — what a re-add of an
      // existing file must carry verbatim
      fileRowIds: Map[String, (Long, Long)] = Map.empty)

  private[graft] def snapshotState(spark: SparkSession,
      table: String): DeltaState = {
    val s = replay(spark, table, None)._1
    DeltaState(s.version, s.metaId, s.schemaJson, s.partitionColumns,
      s.configuration,
      s.files.map(f => (f.path, f.partitionValues, f.dv, f.stats)),
      s.protocol, s.domains, s.metaRaw,
      s.files.flatMap(f =>
        for (b <- f.baseRowId; v <- f.defaultRowCommitVersion)
          yield f.path -> ((b, v))).toMap)
  }

  /** True when any commit in (fromExclusive, to] carries a dataChange
    * remove — a [[readChanges]] over such a range re-serves every row of
    * the REWRITTEN files (and drops the deletes), which a streaming
    * consumer must opt into explicitly. O(commits) small text reads. */
  private[graft] def rangeHasDataChangeRemoves(spark: SparkSession,
      table: String, fromExclusive: Long, to: Long): Boolean = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(logDir(table)).getFileSystem(conf)
    ((fromExclusive + 1) to to).exists { v =>
      val p = new Path(f"${logDir(table)}/$v%020d.json")
      // a vacuumed commit json inside the range is NOT remove-free — the
      // guard cannot run, and skipping it would silently re-serve
      // rewritten rows without the ignoreChanges opt-in
      if (!fs.exists(p)) throw UnsupportedDelta(
        s"$table: commit json for version $v is gone (log cleanup) — the " +
          "range's rewrite guard cannot run; restart the stream from a " +
          "fresh snapshot")
      FsText.read(fs, p).split('\n').exists { line =>
        line.contains("\"remove\"") && {
          val j = JsonMethods.parse(line)
          (j \ "remove") match {
            case JObject(_) => (j \ "remove" \ "dataChange")
              .extractOpt[Boolean].getOrElse(true)
            case _ => false
          }
        }
      }
    }
  }

  /** The latest commit version — one log LISTING, no replay. The cheap
    * "did anything change" probe an incremental poller runs each tick. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(logDir(table))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) throw UnsupportedDelta(
      s"$table: no _delta_log — not a Delta table")
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      // a checkpoint at the tip counts — every commit json below it may
      // have been vacuumed
      versionOf(n).orElse(ckptVersionOf(n))
    }.sorted.lastOption.getOrElse(
      throw UnsupportedDelta(s"$table: no commit json in _delta_log"))
  }

  /** Commit history from the log's commitInfo actions: (version,
    * timestamp ms, operation) — the `DESCRIBE HISTORY` essentials. */
  /** Resolve an epoch-ms timestamp to the newest version whose commit
    * timestamp is at or before it — time travel by TIMESTAMP. Commit
    * times come from commitInfo (0 when absent) and are MONOTONIZED by
    * a running max (the rule engines apply to out-of-order clocks); a
    * timestamp before the earliest retained commit is directed (the
    * versions below may be vacuumed, so serving the oldest one could
    * silently serve the wrong state). */
  def versionAt(spark: SparkSession, table: String,
      timestampMs: Long): Long = {
    import org.json4s.JObject
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(logDir(table))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) throw UnsupportedDelta(
      s"$table: no _delta_log — not a Delta table")
    val versions = fs.listStatus(dir).toSeq
      .flatMap(st => versionOf(st.getPath.getName).map(v => (v, st)))
      .sortBy(_._1)
    if (versions.isEmpty) throw UnsupportedDelta(
      s"$table: no commit json in _delta_log — timestamps unavailable")
    var running = 0L
    var best: Option[Long] = None
    var earliest = -1L
    val it = versions.iterator
    var continue = true
    while (continue && it.hasNext) {
      val (v, st) = it.next()
      // commitInfo timestamp when present; the commit FILE's mtime
      // otherwise (commitInfo is optional per the protocol — stamping
      // an absent one as 0 would time-travel PAST that commit)
      val ts = FsText.read(fs, st.getPath).split('\n').map(_.trim)
        .filter(_.nonEmpty).map(JsonMethods.parse(_)).map(_ \ "commitInfo")
        .collectFirst { case o: JObject =>
          (o \ "timestamp").extractOpt[Long] }
        .flatten.getOrElse(st.getModificationTime)
      running = math.max(running, ts)
      if (earliest < 0) earliest = running
      if (running <= timestampMs) best = Some(v)
      else continue = false // monotonized: later versions only grow
    }
    best.getOrElse(throw UnsupportedDelta(
      s"$table: timestamp $timestampMs predates the earliest retained " +
        s"commit ($earliest) — earlier versions may be vacuumed"))
  }

  /** Time travel by TIMESTAMP: the snapshot as of epoch-ms `timestampMs`. */
  def readAsOf(spark: SparkSession, table: String,
      timestampMs: Long): DataFrame =
    read(spark, table, Some(versionAt(spark, table, timestampMs)))

  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(logDir(table))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) throw UnsupportedDelta(
      s"$table: no _delta_log — not a Delta table")
    val rows = fs.listStatus(dir).toSeq.map(_.getPath)
      .flatMap(p => versionOf(p.getName).map(v => (v, p))).sortBy(_._1)
      .map { case (v, p) =>
        val text = FsText.read(fs, p)
        val ci = text.split('\n').map(_.trim).filter(_.nonEmpty)
          .map(JsonMethods.parse(_)).map(_ \ "commitInfo")
          .collectFirst { case o: JObject => o }
        (v,
          ci.flatMap(o => (o \ "timestamp").extractOpt[Long]).getOrElse(0L),
          ci.flatMap(o => (o \ "operation").extractOpt[String]).getOrElse(""))
      }
    rows.toDF("version", "timestamp_ms", "operation")
  }
}
