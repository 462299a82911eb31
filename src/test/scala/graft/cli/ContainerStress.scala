package graft.cli

import org.apache.spark.sql.functions._

import graft.sources.{AvroOcf, DeltaWriter, IcebergWriter, TfRecord}
import graft.sources.TfRecord.FeatureSpec

/** Throughput evidence for the r12 row-container sources (the PERF_NOTES
  * discipline: 100 TB claims are measured, not asserted).
  *
  *  - TFRecord: distributed export of N shards, then the two read paths —
  *    raw record walk and typed tf.Example extraction (CRC verified on
  *    every record either way).
  *  - Avro OCF: ONE large deflate file, read whole vs block-aligned range
  *    splits — the splittable-read claim measured for equality and time.
  *
  * Usage: Test/runMain graft.cli.ContainerStress [workRoot] [shards] [rowsPerShard]
  */
object ContainerStress {
  def main(args: Array[String]): Unit = {
    import Harness.time
    val root = if (args.length > 0) args(0) else "/tmp/graft-container"
    val shards = if (args.length > 1) args(1).toInt else 16
    val rowsPerShard = if (args.length > 2) args(2).toInt else 25000
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    val n = shards.toLong * rowsPerShard
    // ~1 KB of per-row hex entropy: repetitive text would let deflate
    // collapse the avro file and dodge the split-read measurement
    val df = spark.range(n).select(
      $"id",
      concat((0 until 8).map(i =>
        sha2(concat($"id".cast("string"), lit(s"-$i")), 512)): _*).as("text"),
      ($"id" % 997).cast("float").as("score"),
      array($"id", $"id" * 2, $"id" * 3).as("tags"))

    // ---- TFRecord
    val tfDir = s"$root/tfrecord"
    val tfSpec = Seq(FeatureSpec("id", "int64"), FeatureSpec("text", "string"),
      FeatureSpec("score", "float"), FeatureSpec("tags", "int64", scalar = false))
    val (_, wTf) = time(TfRecord.writeShards(df.repartition(shards), tfDir, tfSpec))
    val bytesTf = new java.io.File(tfDir).listFiles().map(_.length()).sum
    val (cRaw, tRaw) = time(TfRecord.records(spark, s"$tfDir/shard-*.tfrecord").count())
    val (agg, tTyped) = time(
      TfRecord.examples(spark, s"$tfDir/shard-*.tfrecord", tfSpec)
        .agg(sum($"id"), sum($"score"), sum($"tags"(2))).head())
    println(f"[stress] tfrecord: ${bytesTf / 1e6}%.0f MB / $n rows over " +
      f"$shards shards — write $wTf%.2f s, raw walk $tRaw%.2f s " +
      f"(${bytesTf / 1e6 / tRaw}%.0f MB/s), typed extract $tTyped%.2f s " +
      f"(${bytesTf / 1e6 / tTyped}%.0f MB/s); rows $cRaw, " +
      s"idSum ${agg.getLong(0)}")
    // .idx sidecars: index build + range-split typed read over the same
    // shards at an 8 MiB split budget
    val (nIdx, wIdx) = time(TfRecord.writeIndex(spark, s"$tfDir/shard-*.tfrecord"))
    val splitDf2 = TfRecord.examples(spark, s"$tfDir/shard-*.tfrecord", tfSpec,
      maxSplitBytes = 8L << 20)
    val parts2 = splitDf2.rdd.getNumPartitions
    val (agg2, tSplit2) = time(splitDf2.agg(sum($"id"), count(lit(1))).head())
    println(f"[stress] tfrecord+idx: $nIdx indexes in $wIdx%.2f s; " +
      f"$parts2-way split typed extract $tSplit2%.2f s " +
      f"(${bytesTf / 1e6 / tSplit2}%.0f MB/s); rows ${agg2.getLong(1)}, " +
      s"idSum ${agg2.getLong(0)}")

    // ---- Avro: one big deflate file, whole vs range-split reads
    val avroDir = s"$root/avro"
    val schema =
      """{"type": "record", "name": "Doc", "fields": [
           {"name": "id", "type": "long"},
           {"name": "text", "type": "string"},
           {"name": "score", "type": "float"},
           {"name": "tags", "type": {"type": "array", "items": "long"}}
         ]}"""
    // one partition -> ONE file: the splittable-read subject
    val (_, wAv) = time(AvroOcf.writeShards(
      df.repartition(1), avroDir, schema, codec = "deflate"))
    val avFile = s"$avroDir/shard-00000.avro"
    val bytesAv = new java.io.File(avFile).length()
    val (cWhole, tWhole) = time(
      AvroOcf.read(spark, avFile, maxSplitBytes = Long.MaxValue).count())
    val splitDf = AvroOcf.read(spark, avFile, maxSplitBytes = 8L << 20)
    val parts = splitDf.rdd.getNumPartitions
    val (aggAv, tSplit) = time(splitDf.agg(sum($"id"), count(lit(1))).head())
    println(f"[stress] avro: ${bytesAv / 1e6}%.0f MB deflate, one file — " +
      f"write $wAv%.2f s, whole-file read $tWhole%.2f s, " +
      f"$parts-way split read $tSplit%.2f s " +
      f"(${bytesAv / 1e6 / tSplit}%.0f MB/s compressed); " +
      s"rows whole=$cWhole split=${aggAv.getLong(1)}, " +
      s"idSum ${aggAv.getLong(0)} (expect ${n * (n - 1) / 2})")

    // ---- table formats: metadata replay at many-file scale
    // 1000 active files through 200 JSON commits (Delta) and through one
    // manifest list of 10 Avro manifests (Iceberg) — the replay cost a
    // data-lake snapshot pays BEFORE any data byte moves
    val dlDir = s"$root/delta"
    val one = spark.range(2).selectExpr("id", "concat('t', id) AS text")
    one.coalesce(1).write.mode("overwrite").parquet(s"$dlDir/seed")
    val seed = new java.io.File(s"$dlDir/seed").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val schemaJsonSpark = one.schema
      .add("bucket", org.apache.spark.sql.types.StringType).json
      .replace("\"", "\\\"")
    new java.io.File(s"$dlDir/_delta_log").mkdirs()
    val files1000 = (0 until 1000).map { i =>
      val rel = f"bucket=${i % 7}/part-$i%04d.parquet"
      new java.io.File(s"$dlDir/bucket=${i % 7}").mkdirs()
      java.nio.file.Files.copy(seed,
        java.nio.file.Paths.get(s"$dlDir/$rel"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      rel
    }
    (0 until 200).foreach { v =>
      val head =
        if (v == 0) Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"s","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJsonSpark","partitionColumns":["bucket"],"configuration":{},"createdTime":0}}""")
        else Nil
      val adds = (0 until 5).map { j =>
        val rel = files1000(v * 5 + j)
        val b = rel.takeWhile(_ != '/').stripPrefix("bucket=")
        s"""{"add":{"path":"$rel","partitionValues":{"bucket":"$b"},"size":1,"modificationTime":0,"dataChange":true}}"""
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dlDir/_delta_log/$v%020d.json"),
        (head ++ adds).mkString("\n").getBytes("UTF-8"))
    }
    val (dlDf, tReplay) = time(graft.sources.DeltaTable.read(spark, dlDir))
    val (dlCnt, tCount) = time(dlDf.count())
    println(f"[stress] delta: 1000 files / 200 commits — log replay + plan " +
      f"$tReplay%.2f s, count $tCount%.2f s; rows $dlCnt (expect 2000)")

    val ibDir = s"$root/iceberg"
    new java.io.File(s"$ibDir/metadata").mkdirs()
    new java.io.File(s"$ibDir/data").mkdirs()
    val ibFiles = (0 until 1000).map { i =>
      val p = f"$ibDir/data/p$i%04d.parquet"
      java.nio.file.Files.copy(seed, java.nio.file.Paths.get(p),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      p
    }
    val mSchema =
      """{"type": "record", "name": "manifest_entry", "fields": [
           {"name": "status", "type": "int"},
           {"name": "data_file", "type": {"type": "record", "name": "r2",
             "fields": [
               {"name": "content", "type": "int"},
               {"name": "file_path", "type": "string"},
               {"name": "file_format", "type": "string"},
               {"name": "record_count", "type": "long"}]}}]}"""
    val manifests = (0 until 10).map { m =>
      val p = s"$ibDir/metadata/m$m.avro"
      AvroOcf.write(p, mSchema, (0 until 100).map(j =>
        Seq(1, Seq(0, ibFiles(m * 100 + j), "PARQUET", 2L))))
      p
    }
    AvroOcf.write(s"$ibDir/metadata/snap-1.avro",
      """{"type": "record", "name": "manifest_file", "fields": [
           {"name": "manifest_path", "type": "string"},
           {"name": "manifest_length", "type": "long"},
           {"name": "content", "type": "int"}]}""",
      manifests.map(p => Seq(p, 1L, 0)))
    val ibSchema =
      """{"type": "struct", "schema-id": 0, "fields": [
           {"id": 1, "name": "id", "required": true, "type": "long"},
           {"id": 2, "name": "text", "required": false, "type": "string"}]}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ibDir/metadata/v1.metadata.json"),
      s"""{"format-version": 2, "location": "$ibDir",
           "current-snapshot-id": 1,
           "schemas": [$ibSchema], "current-schema-id": 0,
           "snapshots": [{"snapshot-id": 1, "timestamp-ms": 0,
             "summary": {"operation": "append"},
             "manifest-list": "$ibDir/metadata/snap-1.avro"}]}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ibDir/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val (ibDf, tIb) = time(graft.sources.IcebergTable.read(spark, ibDir))
    val (ibCnt, tIbCount) = time(ibDf.count())
    println(f"[stress] iceberg: 1000 files / 10 manifests — manifest replay " +
      f"+ plan $tIb%.2f s, count $tIbCount%.2f s; rows $ibCnt (expect 2000)")

    // ---- merge-on-read deletes at data scale: the anti-join tax
    // The same n-row corpus with 10% of rows deleted — Delta deletion
    // vectors (roaring sidecars decoded on executors) and Iceberg
    // positional deletes (a delete parquet) — measured against the plain
    // scan of identical bytes.
    val morRoot = s"$root/mor"
    val morData = df.select($"id", $"score")
    morData.repartition(shards).write.mode("overwrite")
      .parquet(s"$morRoot/plain")
    val morFiles = new java.io.File(s"$morRoot/plain").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted.toSeq
    val (plainAgg, tPlain) = time(
      spark.read.parquet(s"$morRoot/plain").agg(
        count(lit(1)), sum($"id")).head())
    // per-file row counts at FOOTER cost (ParquetMeta — no data re-read
    // perturbing the timed sections) -> exact deleted-position sets
    val fileCounts = graft.sources.ParquetMeta
      .readMeta(spark, s"$morRoot/plain/*.parquet")
      .groupBy(col("file")).agg(sum(col("rows")).as("rows"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    def countOf(f: String): Long = {
      val name = f.split('/').last
      fileCounts.collectFirst { case (k, v) if k.endsWith(name) => v }
        .getOrElse(sys.error(
          s"[stress] no footer row count matched $name — the mor arm " +
            "would silently benchmark a zero-delete table"))
    }
    def positionsOf(canonLen: Long): Array[Long] =
      (0L until canonLen by 10L).toArray

    // Delta DV table over the same files
    val dvDir = s"$morRoot/delta"
    new java.io.File(s"$dvDir/_delta_log").mkdirs()
    val morSchemaStr = morData.schema.json.replace("\"", "\\\"")
    val hconf = spark.sparkContext.hadoopConfiguration
    val dvAdds = morFiles.zipWithIndex.map { case (f, i) =>
      val cnt = countOf(f)
      val data = graft.sources.DeletionVector.serialize(positionsOf(cnt))
      val (off, size) = graft.sources.DeletionVector.writeFile(
        s"$dvDir/dv-$i.bin", data, hconf)
      s"""{"add":{"path":"$f","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"deletionVector":""" +
        s"""{"storageType":"p","pathOrInlineDv":"$dvDir/dv-$i.bin",""" +
        s""""offset":$off,"sizeInBytes":$size,"cardinality":${(cnt + 9) / 10}}}}"""
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dvDir/_delta_log/" + "0" * 20 + ".json"),
      (Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"mor","format":{"provider":"parquet","options":{}},"schemaString":"$morSchemaStr","partitionColumns":[],"configuration":{},"createdTime":0}}""") ++
        dvAdds).mkString("\n").getBytes("UTF-8"))
    val (dvAgg, tDv) = time(
      graft.sources.DeltaTable.read(spark, dvDir)
        .agg(count(lit(1)), sum($"id")).head())
    println(f"[stress] delta-dv: $n rows, 10%% DV-deleted across $shards " +
      f"files — plain scan $tPlain%.2f s, DV scan $tDv%.2f s " +
      f"(${tDv / tPlain}%.2fx); rows ${plainAgg.getLong(0)} -> " +
      s"${dvAgg.getLong(0)}")

    // Iceberg positional deletes over the same files
    val ipDir = s"$morRoot/iceberg"
    new java.io.File(s"$ipDir/metadata").mkdirs()
    import spark.implicits._
    val delDf = morFiles.flatMap { f =>
      positionsOf(countOf(f)).map(p => (f, p))
    }.toDF("file_path", "pos")
    val delFile = graft.QueriesML.singleParquet(delDf,
      s"$ipDir/data/del0.parquet")
    val ipManifestSchema =
      """{"type": "record", "name": "manifest_entry", "fields": [
           {"name": "status", "type": "int"},
           {"name": "data_file", "type": {"type": "record", "name": "r2",
             "fields": [
               {"name": "content", "type": "int"},
               {"name": "file_path", "type": "string"},
               {"name": "file_format", "type": "string"},
               {"name": "record_count", "type": "long"}]}}]}"""
    AvroOcf.write(s"$ipDir/metadata/m0.avro", ipManifestSchema,
      morFiles.map(f => Seq(1, Seq(0, f, "PARQUET", 1L))))
    AvroOcf.write(s"$ipDir/metadata/md.avro", ipManifestSchema,
      Seq(Seq(1, Seq(1, delFile, "PARQUET", 1L))))
    AvroOcf.write(s"$ipDir/metadata/snap-1.avro",
      """{"type": "record", "name": "manifest_file", "fields": [
           {"name": "manifest_path", "type": "string"},
           {"name": "manifest_length", "type": "long"},
           {"name": "content", "type": "int"}]}""",
      Seq(Seq(s"$ipDir/metadata/m0.avro", 1L, 0),
        Seq(s"$ipDir/metadata/md.avro", 1L, 1)))
    val ipSchema =
      """{"type": "struct", "schema-id": 0, "fields": [
           {"id": 1, "name": "id", "required": true, "type": "long"},
           {"id": 2, "name": "score", "required": false, "type": "float"}]}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ipDir/metadata/v1.metadata.json"),
      s"""{"format-version": 2, "location": "$ipDir",
           "current-snapshot-id": 1,
           "schemas": [$ipSchema], "current-schema-id": 0,
           "snapshots": [{"snapshot-id": 1, "timestamp-ms": 0,
             "summary": {"operation": "delete"},
             "manifest-list": "$ipDir/metadata/snap-1.avro"}]}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ipDir/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val (ipAgg, tIp) = time(
      graft.sources.IcebergTable.read(spark, ipDir)
        .agg(count(lit(1)), sum($"id")).head())
    println(f"[stress] iceberg-pos: $n rows, 10%% position-deleted — " +
      f"plain scan $tPlain%.2f s, delete-applied scan $tIp%.2f s " +
      f"(${tIp / tPlain}%.2fx); rows ${plainAgg.getLong(0)} -> " +
      s"${ipAgg.getLong(0)}")

    // ---- Iceberg v3: the SAME deletes as Puffin deletion-vector blobs
    // (one container, `shards` blobs) — the 2025 replacement for the
    // positional-delete parquet above; survivors must match both paths
    val v3Dir = s"$morRoot/icebergv3"
    new java.io.File(s"$v3Dir/metadata").mkdirs()
    val puffin = s"$v3Dir/metadata/dv.puffin"
    val blobs = morFiles.map { f =>
      graft.sources.Puffin.Blob("deletion-vector-v1", Seq(2147483546),
        1L, 1L, Map("referenced-data-file" -> f,
          "cardinality" -> ((countOf(f) + 9) / 10).toString),
        graft.sources.Puffin.dvBlob(positionsOf(countOf(f))))
    }
    val placed = graft.sources.Puffin.writeFile(puffin, blobs,
      Map.empty, hconf)
    val v3ManifestSchema =
      """{"type": "record", "name": "manifest_entry", "fields": [
           {"name": "status", "type": "int"},
           {"name": "data_file", "type": {"type": "record", "name": "r2",
             "fields": [
               {"name": "content", "type": "int"},
               {"name": "file_path", "type": "string"},
               {"name": "file_format", "type": "string"},
               {"name": "record_count", "type": "long"},
               {"name": "referenced_data_file", "type": ["null", "string"],
                "default": null},
               {"name": "content_offset", "type": ["null", "long"],
                "default": null},
               {"name": "content_size_in_bytes", "type": ["null", "long"],
                "default": null}]}}]}"""
    AvroOcf.write(s"$v3Dir/metadata/m0.avro", v3ManifestSchema,
      morFiles.map(f => Seq(1, Seq(0, f, "PARQUET", 1L, null, null, null))))
    AvroOcf.write(s"$v3Dir/metadata/md.avro", v3ManifestSchema,
      morFiles.zip(placed).map { case (f, (off, len)) =>
        Seq(1, Seq(1, puffin, "PUFFIN", 1L, f, off, len))
      })
    AvroOcf.write(s"$v3Dir/metadata/snap-1.avro",
      """{"type": "record", "name": "manifest_file", "fields": [
           {"name": "manifest_path", "type": "string"},
           {"name": "manifest_length", "type": "long"},
           {"name": "content", "type": "int"}]}""",
      Seq(Seq(s"$v3Dir/metadata/m0.avro", 1L, 0),
        Seq(s"$v3Dir/metadata/md.avro", 1L, 1)))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$v3Dir/metadata/v1.metadata.json"),
      s"""{"format-version": 3, "location": "$v3Dir",
           "current-snapshot-id": 1,
           "schemas": [$ipSchema], "current-schema-id": 0,
           "snapshots": [{"snapshot-id": 1, "timestamp-ms": 0,
             "summary": {"operation": "delete"},
             "manifest-list": "$v3Dir/metadata/snap-1.avro"}]}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$v3Dir/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val (v3Agg, tV3) = time(
      graft.sources.IcebergTable.read(spark, v3Dir)
        .agg(count(lit(1)), sum($"id")).head())
    require(v3Agg.getLong(0) == ipAgg.getLong(0) &&
      v3Agg.getLong(1) == ipAgg.getLong(1),
      s"[stress] v3 DV survivors ${v3Agg.getLong(0)} disagree with the " +
        s"positional-delete path ${ipAgg.getLong(0)}")
    println(f"[stress] iceberg-v3-dv: same 10%% deletes as ONE Puffin " +
      f"container ($shards blobs) — scan $tV3%.2f s (${tV3 / tPlain}%.2fx " +
      f"plain, vs positional ${tIp}%.2f s); survivors cross-validated")

    // ---- writer half: N append commits through the engine's own
    // writers, then snapshot + incremental reads over the result
    val nCommits = 8
    val slice = n / nCommits
    val wDelta = s"$morRoot/wdelta"
    val (_, tWd) = time {
      (0 until nCommits).foreach { i =>
        DeltaWriter.writeAppend(spark,
          morData.filter($"id" >= i * slice && $"id" < (i + 1) * slice),
          wDelta)
      }
    }
    val (wdAgg, tWdRead) = time(
      graft.sources.DeltaTable.read(spark, wDelta)
        .agg(count(lit(1)), sum($"id")).head())
    val (wdInc, tWdInc) = time(
      graft.sources.DeltaTable.readChanges(spark, wDelta,
        (nCommits - 2).toLong).count())
    println(f"[stress] delta-writer: $nCommits commits / ${wdAgg.getLong(0)} " +
      f"rows written in $tWd%.2f s, snapshot read $tWdRead%.2f s " +
      f"(plain $tPlain%.2f s), last-commit increment $tWdInc%.2f s " +
      s"($wdInc rows)")
    val wIce = s"$morRoot/wiceberg"
    var lastSnaps = List.empty[Long]
    val (_, tWi) = time {
      (0 until nCommits).foreach { i =>
        lastSnaps = IcebergWriter.writeAppend(spark,
          morData.filter($"id" >= i * slice && $"id" < (i + 1) * slice),
          wIce) :: lastSnaps
      }
    }
    val (wiAgg, tWiRead) = time(
      graft.sources.IcebergTable.read(spark, wIce)
        .agg(count(lit(1)), sum($"id")).head())
    // the appends-only changelog fast path: zero data IO on common files
    val (wiChg, tWiChg) = time(
      graft.sources.IcebergTable.readChangelog(spark, wIce,
        lastSnaps(1), Some(lastSnaps.head)).count())
    println(f"[stress] iceberg-writer: $nCommits append snapshots / " +
      f"${wiAgg.getLong(0)} rows in $tWi%.2f s, snapshot read " +
      f"$tWiRead%.2f s, last-snapshot changelog $tWiChg%.2f s " +
      s"($wiChg insert rows)")
    require(wdAgg.getLong(0) == n && wiAgg.getLong(0) == n,
      s"[stress] writer round trip lost rows: delta ${wdAgg.getLong(0)}, " +
        s"iceberg ${wiAgg.getLong(0)} of $n")

    // ---- row-level DELETE through the writers: kill 10% of the rows
    // just written, then read the survivors — no data file rewritten
    val (vDel, tDdel) = time(
      DeltaWriter.writeDelete(spark, wDelta, $"id" % 10 === 0))
    val (wdAgg2, tWdRead2) = time(
      graft.sources.DeltaTable.read(spark, wDelta)
        .agg(count(lit(1)), sum($"id")).head())
    println(f"[stress] delta-dv-delete: 10%% of $n rows deleted by " +
      f"deletion vector in $tDdel%.2f s (commit $vDel), survivor scan " +
      f"$tWdRead2%.2f s; rows ${wdAgg.getLong(0)} -> ${wdAgg2.getLong(0)}")
    val (sDel, tIdel) = time(
      IcebergWriter.writeDelete(spark, wIce, $"id" % 10 === 0))
    val (wiAgg2, tWiRead2) = time(
      graft.sources.IcebergTable.read(spark, wIce)
        .agg(count(lit(1)), sum($"id")).head())
    println(f"[stress] iceberg-pos-delete: same 10%% deleted as a " +
      f"DISTRIBUTED positional-delete file in $tIdel%.2f s (snapshot " +
      f"$sDel), survivor scan $tWiRead2%.2f s; rows ${wiAgg.getLong(0)} " +
      s"-> ${wiAgg2.getLong(0)}")
    require(wdAgg2.getLong(0) == wiAgg2.getLong(0) &&
      wdAgg2.getLong(1) == wiAgg2.getLong(1),
      s"[stress] the two formats' delete paths disagree: " +
        s"${wdAgg2.getLong(0)}/${wdAgg2.getLong(1)} vs " +
        s"${wiAgg2.getLong(0)}/${wiAgg2.getLong(1)}")

    // ---- r15: row-level UPDATE through the writers — matched survivors
    // take new images in ONE commit (Delta: DV kill + appended images;
    // Iceberg: positional kill + appended images in one overwrite
    // snapshot); both formats must agree on the post-update state
    def stateOf(d: org.apache.spark.sql.DataFrame) =
      d.agg(count(lit(1)), sum($"id"),
        round(sum($"score"), 3).cast("double")).head()
    val (vUpd, tDupd) = time(
      DeltaWriter.writeUpdate(spark, wDelta, $"id" % 7 === 1,
        Map("score" -> ($"score" + 1000.0))))
    val (uD, tDuRead) = time(stateOf(
      graft.sources.DeltaTable.read(spark, wDelta)))
    val (sUpd, tIupd) = time(
      IcebergWriter.writeUpdate(spark, wIce, $"id" % 7 === 1,
        Map("score" -> ($"score" + 1000.0))))
    val (uI, tIuRead) = time(stateOf(
      graft.sources.IcebergTable.read(spark, wIce)))
    println(f"[stress] delta-update: matched rows re-imaged in $tDupd%.2f s " +
      f"(commit $vUpd), survivor scan $tDuRead%.2f s; iceberg-update " +
      f"$tIupd%.2f s (snapshot $sUpd), scan $tIuRead%.2f s")
    require(uD == uI, s"[stress] update paths disagree: $uD vs $uI")

    // ---- r15: MERGE (upsert) — 20%% of the corpus as updated images
    // plus 10k brand-new keys, one commit/snapshot per format
    val mergeSrc = morData.filter($"id" % 5 === 2)
      .select($"id", ($"score" * 2).cast("float").as("score"))
      .unionByName(spark.range(n.toLong, n.toLong + 10000)
        .select($"id", lit(1.5f).as("score")))
    val (vMrg, tDmrg) = time(
      DeltaWriter.writeMerge(spark, wDelta, mergeSrc, Seq("id")))
    val (mD, _) = time(stateOf(
      graft.sources.DeltaTable.read(spark, wDelta)))
    val (sMrg, tImrg) = time(
      IcebergWriter.writeMerge(spark, wIce, mergeSrc, Seq("id")))
    val (mI, _) = time(stateOf(
      graft.sources.IcebergTable.read(spark, wIce)))
    println(f"[stress] delta-merge: upsert of ${n / 5 + 10000} source rows " +
      f"in $tDmrg%.2f s (commit $vMrg); iceberg-merge $tImrg%.2f s " +
      f"(snapshot $sMrg); post-merge rows ${mD.getLong(0)}")
    require(mD == mI, s"[stress] merge paths disagree: $mD vs $mI")

    // ---- r15: copy-on-write DELETE above the cap — auto switches to
    // the distributed rewrite (no driver-side positions at data scale)
    val (vRw, tRw) = time(
      DeltaWriter.writeDelete(spark, wDelta, $"id" % 3 === 2,
        maxDeletedRows = 1000L))
    val (rwD, tRwRead) = time(stateOf(
      graft.sources.DeltaTable.read(spark, wDelta)))
    println(f"[stress] delta-rewrite-delete: data-scale delete above the " +
      f"cap rewrote touched files' survivors in $tRw%.2f s (commit " +
      f"$vRw), survivor scan $tRwRead%.2f s; rows ${mD.getLong(0)} -> " +
      s"${rwD.getLong(0)}")
    val (_, tIrw) = time(
      IcebergWriter.writeDelete(spark, wIce, $"id" % 3 === 2))
    val (rwI, _) = time(stateOf(
      graft.sources.IcebergTable.read(spark, wIce)))
    require(rwD == rwI,
      s"[stress] rewrite-vs-positional delete disagree: $rwD vs $rwI")
    println(f"[stress] iceberg-pos twin of the rewrite delete: $tIrw%.2f s " +
      "(distributed positional file; survivors cross-validated)")

    // ---- r15: Iceberg v3 through the WRITER — create at fv3, append,
    // Puffin-DV delete, survivors must match the v2 twin's arithmetic
    val wIce3 = s"$morRoot/wiceberg3"
    val (_, tW3) = time {
      (0 until 2).foreach { i =>
        IcebergWriter.writeAppend(spark,
          morData.filter($"id" >= i * (n / 2) && $"id" < (i + 1) * (n / 2)),
          wIce3, formatVersion = 3)
      }
    }
    val (s3Del, tDv3) = time(
      IcebergWriter.writeDelete(spark, wIce3, $"id" % 10 === 0))
    val (w3Agg, tV3Read) = time(stateOf(
      graft.sources.IcebergTable.read(spark, wIce3)))
    println(f"[stress] iceberg-v3-writer: 2 fv3 appends in $tW3%.2f s, " +
      f"10%% Puffin-DV delete in $tDv3%.2f s (snapshot $s3Del), " +
      f"survivor scan $tV3Read%.2f s; rows ${w3Agg.getLong(0)}")
    require(w3Agg.getLong(0) == n - n / 10,
      s"[stress] v3 DV delete survivor count ${w3Agg.getLong(0)} != " +
        s"${n - n / 10}")

    // ---- r16: PARTITIONED MERGE — the production upsert shape: the
    // kill files and the appended images are partition-scoped, so the
    // cost is O(touched partitions + source), and the untouched
    // partitions' file sets must come back BYTE-IDENTICAL. Both formats
    // must agree on the post-merge arithmetic.
    val pDelta = s"$morRoot/pdelta"
    val pIce = s"$morRoot/piceberg"
    val pData = morData.withColumn("p", ($"id" % 16).cast("long"))
    val (_, tPw) = time {
      DeltaWriter.writeAppend(spark, pData, pDelta, partitionBy = Seq("p"))
      IcebergWriter.writeAppend(spark, pData, pIce, partitionBy = Seq("p"))
    }
    def untouchedDelta() = graft.sources.DeltaTable.readWhere(spark,
      pDelta, Seq(org.apache.spark.sql.sources.EqualTo("p", 15L)))
      .inputFiles.sorted.toSeq
    def untouchedIce() = graft.sources.IcebergTable.readPartitions(spark,
      pIce, Map("p" -> "15"))
      .inputFiles.filter(_.contains("p__p=")).sorted.toSeq
    val (uD0, uI0) = (untouchedDelta(), untouchedIce())
    // source touches partitions 0 and 1 only: updated images for every
    // row there plus fresh keys inserted into the same partitions
    val pUpd = pData.filter($"p" < 2)
      .withColumn("score", ($"score" + 5).cast("float"))
    val pIns = pData.filter($"p" < 2 && $"id" % 97 === 0)
      .withColumn("id", $"id" + 10L * n)
    val pSrc = pUpd.unionByName(pIns)
    val srcRows = pSrc.count()
    val (vPm, tPmD) = time(
      DeltaWriter.writeMerge(spark, pDelta, pSrc, Seq("id")))
    val (sPm, tPmI) = time(
      IcebergWriter.writeMerge(spark, pIce, pSrc, Seq("id")))
    val pd = stateOf(graft.sources.DeltaTable.read(spark, pDelta))
    val pi = stateOf(graft.sources.IcebergTable.read(spark, pIce))
    require(pd == pi,
      s"[stress] partitioned merge paths disagree: $pd vs $pi")
    require(untouchedDelta() == uD0,
      "[stress] delta merge rewrote an untouched partition")
    require(untouchedIce() == uI0,
      "[stress] iceberg merge rewrote an untouched partition")
    println(f"[stress] partitioned-merge: $srcRows source rows into 2 of " +
      f"16 partitions (tables built in $tPw%.2f s) — delta $tPmD%.2f s " +
      f"(commit $vPm), iceberg $tPmI%.2f s (snapshot $sPm); untouched " +
      s"partitions byte-identical; post-merge rows ${pd.getLong(0)}")

    // ---- r16: EQUALITY delete — the O(keys) kill: the commit writes
    // only the key frame (no table scan at all; the match runs at read
    // time, sequence-scoped). Compare against the positional arm above,
    // whose cost includes locating every matching row.
    val wIceEq = s"$morRoot/wiceberg-eq"
    val (_, tEqW) = time(
      IcebergWriter.writeAppend(spark, morData, wIceEq))
    val (sEq, tEq) = time(
      IcebergWriter.writeEqualityDelete(spark, wIceEq,
        morData.filter($"id" % 10 === 4).select($"id")))
    val (eqAgg, tEqRead) = time(stateOf(
      graft.sources.IcebergTable.read(spark, wIceEq)))
    // expected survivors from the ACTUAL key count (ids with id%10==4 in
    // [0,n) is not n/10 for every n)
    val nEqKeys = morData.filter($"id" % 10 === 4).count()
    require(eqAgg.getLong(0) == n - nEqKeys,
      s"[stress] eq-delete survivors ${eqAgg.getLong(0)} != ${n - nEqKeys}")
    println(f"[stress] iceberg-eq-delete: 10%% of $n rows deleted by KEY " +
      f"in $tEq%.2f s (snapshot $sEq — zero data scan; table built " +
      f"$tEqW%.2f s), read-side apply scan $tEqRead%.2f s")

    // ---- r17: PARTITIONED equality delete — the same O(keys) kill on
    // the layout 100 TB corpora actually use: the keys carry the
    // partition source column, so the delete files land PARTITION-
    // SCOPED (one per touched tuple, prunable everywhere else) and NO
    // data file is touched anywhere. The arm FAILS if a delete file
    // lands outside the touched partition or any data file changes.
    val pIceEq = s"$morRoot/piceberg-eq"
    val (_, tPeW) = time(
      IcebergWriter.writeAppend(spark, pData, pIceEq,
        partitionBy = Seq("p")))
    def walkParquet(root: String): Set[String] = {
      val b = Set.newBuilder[String]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles.foreach(walk)
        else if (f.getName.endsWith(".parquet")) b += f.getAbsolutePath
      walk(new java.io.File(root))
      b.result()
    }
    val preEq = walkParquet(s"$pIceEq/data")
    // keys confined to partition p=3 (id % 160 == 3 implies id % 16 == 3)
    val eqKeys = pData.filter($"id" % 160 === 3).select($"id", $"p")
    val nScopedKeys = eqKeys.count()
    val (sPeq, tPeq) = time(
      IcebergWriter.writeEqualityDelete(spark, pIceEq, eqKeys))
    val postEq = walkParquet(s"$pIceEq/data")
    val newEqFiles = postEq -- preEq
    require(newEqFiles.nonEmpty && newEqFiles.forall(_.contains("p__p=3")),
      s"[stress] scoped eq-delete leaked outside its partition: " +
        s"${newEqFiles.filterNot(_.contains("p__p=3")).take(3)}")
    require(preEq.subsetOf(postEq),
      "[stress] eq-delete rewrote a data file — the commit must be " +
        "additive (delete files only)")
    val (peAgg, tPeRead) = time(stateOf(
      graft.sources.IcebergTable.read(spark, pIceEq)))
    require(peAgg.getLong(0) == n - nScopedKeys,
      s"[stress] partitioned eq-delete survivors ${peAgg.getLong(0)} != " +
        s"${n - nScopedKeys}")
    println(f"[stress] iceberg-part-eq-delete: $nScopedKeys keys killed in " +
      f"1 of 16 partitions in $tPeq%.2f s (snapshot $sPeq; table built " +
      f"$tPeW%.2f s) — delete files partition-scoped, zero data files " +
      f"touched; survivor scan $tPeRead%.2f s")

    // ---- r18: REPEATED v3 DELETEs on the same files — the DV MERGE:
    // the second delete unions the first's vectors (one replacement
    // Puffin blob per file) through the delete-manifest rewrite. Cost
    // must scale with the DELETE size + O(manifests) metadata, never
    // the table; zero data files may be touched, and every data file
    // must carry at most ONE DV entry afterwards.
    val vMerge = s"$morRoot/v3-dv-merge"
    val (_, tVmW) = time(IcebergWriter.writeAppend(spark, pData, vMerge,
      partitionBy = Seq("p"), formatVersion = 3))
    val preVm = walkParquet(s"$vMerge/data")
    val (_, tVm1) = time(
      IcebergWriter.writeDelete(spark, vMerge, $"id" % 1000 === 7))
    val (_, tVm2) = time(
      IcebergWriter.writeDelete(spark, vMerge, $"id" % 1000 === 13))
    val postVm = walkParquet(s"$vMerge/data")
    // walkParquet collects .parquet only (the DV puffins are expected
    // additions) — the data-file set must be BYTE-IDENTICAL
    require(postVm == preVm,
      "[stress] a DV merge touched a data file: " +
        s"${((postVm -- preVm) ++ (preVm -- postVm)).take(3)}")
    val vmShapes = graft.sources.IcebergTable.deleteShapes(spark, vMerge)
    require(vmShapes.dvByFile.values.forall(_.size == 1),
      s"[stress] a data file carries ${vmShapes.dvByFile.values
        .map(_.size).max} DV entries after the merge — one allowed")
    val (vmAgg, tVmRead) = time(stateOf(
      graft.sources.IcebergTable.read(spark, vMerge)))
    val vmKilled = morData.filter(
      $"id" % 1000 === 7 || $"id" % 1000 === 13).count()
    require(vmAgg.getLong(0) == n - vmKilled,
      s"[stress] merged-DV survivors ${vmAgg.getLong(0)} != ${n - vmKilled}")
    println(f"[stress] iceberg-v3-dv-merge: two stacked deletes " +
      f"(${vmKilled} rows total) on $n rows / 16 partitions — first " +
      f"$tVm1%.2f s, MERGING second $tVm2%.2f s (table built $tVmW%.2f s); " +
      f"zero data files touched, one DV per file; survivor scan " +
      f"$tVmRead%.2f s")

    // ---- r18: Delta OPTIMIZE on a rowTracking table — stable ids
    // PRESERVED through the rewrite at scale: the id-sum over survivors
    // must match before and after the compaction byte-for-byte, and
    // the DV debt must be gone.
    val rtDir = s"$morRoot/delta-rt-compact"
    val (_, tRtW) = time(DeltaWriter.writeAppend(spark,
      morData.repartition(16), rtDir,
      properties = Map("delta.enableRowTracking" -> "true")))
    val (_, tRtDel) = time(
      DeltaWriter.writeDelete(spark, rtDir, $"id" % 100 === 5))
    def rtState() = graft.sources.DeltaTable.readWithRowIds(spark, rtDir)
      .agg(count(lit(1)), sum($"_row_id"), sum($"_row_commit_version"))
      .head()
    val beforeRt = rtState()
    val (_, tRtC) = time(DeltaWriter.compact(spark, rtDir))
    val afterRt = rtState()
    require(beforeRt == afterRt,
      s"[stress] OPTIMIZE changed row identity: $beforeRt -> $afterRt")
    require(graft.sources.DeltaTable.snapshotState(spark, rtDir)
      .files.forall(_._3.isEmpty), "[stress] OPTIMIZE left DV debt")
    println(f"[stress] delta-rt-optimize: $n tracked rows, 1%% DV debt — " +
      f"compacted in $tRtC%.2f s (build $tRtW%.2f s, delete $tRtDel%.2f s); " +
      f"(count, idSum, rcvSum) identical across the rewrite, zero DVs left")

    spark.stop()
  }
}
