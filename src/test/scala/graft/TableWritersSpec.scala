package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{DeltaTable, DeltaWriter, IcebergTable, IcebergWriter, TableCommit}
import graft.streaming.TableFollow

/** The writer half of the table formats: transactional Delta/Iceberg
  * appends whose commits are read back by THIS ENGINE'S OWN readers —
  * write→read round trips, version/snapshot numbering, incremental
  * consumption over self-written tables, exclusive-commit conflicts, and
  * the directed guards (schema evolution, partitioned Iceberg,
  * column-mapped Delta). */
class TableWritersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("writer").toString

  /** The `.parquet` files under `table`, outside its `metaDir`. */
  private def dataFiles(table: String, metaDir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(table)
    val it = java.nio.file.Files.walk(root).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(p => p.toString.endsWith(".parquet") &&
        !root.relativize(p).startsWith(metaDir))
      .map(_.toString).toSeq
  }

  test("delta writer: create partitioned, append, read back, time travel") {
    val table = tmp()
    val batch1 = Seq((1L, "t1", "en"), (2L, "t2", "en"), (3L, "t3", "de"))
      .toDF("id", "text", "lang")
    val v0 = DeltaWriter.writeAppend(spark, batch1, table,
      partitionBy = Seq("lang"))
    assert(v0 == 0L)
    val r0 = DeltaTable.read(spark, table).orderBy($"id")
    assert(r0.columns.toSeq.sorted == Seq("id", "lang", "text"))
    assert(r0.select($"id", $"lang").as[(Long, String)].collect().toSeq ==
      Seq((1L, "en"), (2L, "en"), (3L, "de")))
    // the data files exclude the partition column (PROTOCOL.md layout)
    // and live under k=v dirs
    assert(r0.inputFiles.forall(_.contains("lang=")), r0.inputFiles.toSeq)

    val batch2 = Seq((4L, "t4", "fr")).toDF("id", "text", "lang")
    val v1 = DeltaWriter.writeAppend(spark, batch2, table)
    assert(v1 == 1L)
    assert(DeltaTable.read(spark, table).count() == 4)
    // time travel: version 0 sees only batch 1
    assert(DeltaTable.read(spark, table, versionAsOf = Some(0L))
      .count() == 3)
    // incremental consumption over the self-written table
    val inc = DeltaTable.readChanges(spark, table, fromVersion = 0L)
    assert(inc.select($"id").as[Long].collect().toSeq == Seq(4L))
    // partition predicates still prune to one file group
    val pruned = DeltaTable.read(spark, table).filter($"lang" === "de")
    assert(pruned.inputFiles.length == 1 &&
      pruned.inputFiles.head.contains("lang=de"))
  }

  test("delta writer: schema evolution and column-mapped tables directed") {
    val table = tmp()
    DeltaWriter.writeAppend(spark,
      Seq((1L, "a")).toDF("id", "text"), table)
    val e = intercept[Exception] {
      DeltaWriter.writeAppend(spark,
        Seq((1L, 2.0)).toDF("id", "score"), table)
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
    // appending the SAME schema with different nullability is fine
    assert(DeltaWriter.writeAppend(spark,
      Seq((2L, "b")).toDF("id", "text"), table) == 1L)
    assert(DeltaTable.read(spark, table).count() == 2)
  }

  test("delta writer: null partition values become protocol JSON null") {
    val table = tmp()
    val df = Seq((1L, Some("en")), (2L, None), (3L, Some("de")))
      .toDF("id", "lang")
    DeltaWriter.writeAppend(spark, df, table, partitionBy = Seq("lang"))
    // the add action must carry JSON null, not the hive sentinel string
    // (the DIRECTORY keeps Spark's sentinel name — that part is layout)
    val log = graft.sources.FsText.read(
      new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(s"$table/_delta_log/00000000000000000000.json"))
    assert(log.contains(""""lang":null"""), log)
    assert(!log.contains(""""lang":"__HIVE_DEFAULT_PARTITION__""""), log)
    val got = DeltaTable.read(spark, table).orderBy($"id")
      .select($"id", $"lang").collect()
    assert(got.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, Some("en")), (2L, None), (3L, Some("de"))))
  }

  test("iceberg writer: unmanaged metadata fields carry forward verbatim") {
    val table = tmp()
    IcebergWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), table)
    // plant fields the writer does not manage into the live metadata
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val metaPath = s"$table/metadata/v1.metadata.json"
    val meta = graft.sources.FsText.read(fs, new Path(metaPath))
    java.nio.file.Files.write(java.nio.file.Paths.get(metaPath),
      meta.replaceFirst("\\{",
        """{"properties": {"commit.retry.num-retries": "7"},
           "refs": {"main": {"snapshot-id": 1, "type": "branch"}},""")
        .getBytes("UTF-8"))
    IcebergWriter.writeAppend(spark, Seq((2L, "b")).toDF("id", "text"), table)
    val after = graft.sources.FsText.read(fs,
      new Path(s"$table/metadata/v2.metadata.json"))
    assert(after.contains("commit.retry.num-retries"), after)
    assert(after.contains("\"refs\""), after)
    assert(IcebergTable.read(spark, table).count() == 2)
    // a format-version 1 target is directed, never silently upgraded
    val t1 = tmp()
    new java.io.File(s"$t1/metadata").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t1/metadata/v1.metadata.json"),
      s"""{"format-version": 1, "location": "$t1",
           "schema": {"type": "struct", "fields": [
             {"id": 1, "name": "id", "required": false, "type": "long"},
             {"id": 2, "name": "text", "required": false, "type": "string"}]},
           "snapshots": []}""".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t1/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val e = intercept[Exception] {
      IcebergWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), t1)
    }
    assert(e.getMessage.contains("format-version 1"), e.getMessage)
  }

  test("delta checkpoint writer: log compaction survives commit cleanup") {
    val table = tmp()
    DeltaWriter.writeAppend(spark,
      Seq((1L, "a", "en"), (2L, "b", "de")).toDF("id", "text", "lang"),
      table, partitionBy = Seq("lang"))
    DeltaWriter.writeAppend(spark,
      Seq((3L, "c", "en")).toDF("id", "text", "lang"), table)
    val v = DeltaWriter.writeCheckpoint(spark, table)
    assert(v == 1L)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(
      s"$table/_delta_log/00000000000000000001.checkpoint.parquet")))
    assert(fs.exists(new Path(s"$table/_delta_log/_last_checkpoint")))
    // the VACUUM shape: pre-checkpoint commit json disappears — the
    // checkpoint alone must reconstruct the snapshot
    fs.delete(new Path(s"$table/_delta_log/00000000000000000000.json"), false)
    fs.delete(new Path(s"$table/_delta_log/00000000000000000001.json"), false)
    val got = DeltaTable.read(spark, table).orderBy($"id")
      .select($"id", $"lang").as[(Long, String)].collect()
    assert(got.toSeq == Seq((1L, "en"), (2L, "de"), (3L, "en")))
    // the log keeps working past the checkpoint: append + incremental
    DeltaWriter.writeAppend(spark,
      Seq((4L, "d", "fr")).toDF("id", "text", "lang"), table)
    assert(DeltaTable.read(spark, table).count() == 4)
    assert(DeltaTable.readChanges(spark, table, 1L)
      .select($"id").as[Long].collect().toSeq == Seq(4L))
    // idempotent: re-checkpointing version 2 then re-reading still works
    assert(DeltaWriter.writeCheckpoint(spark, table) == 2L)
    assert(DeltaTable.read(spark, table).count() == 4)
  }

  test("delta checkpoint writer: DV descriptors survive compaction") {
    import graft.sources.DeletionVector
    // a DV-carrying table (hand-authored add), checkpointed by the
    // writer, then the commit json removed: survivors must still apply
    val table = tmp()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val df = Seq(1L, 2L, 3L).toDF("id")
      .select($"id", concat(lit("t"), $"id").as("text"))
    df.coalesce(1).write.mode("overwrite").parquet(s"$table/tmp0")
    val part = new java.io.File(s"$table/tmp0").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$table/part-000.parquet"))
    val dv = DeletionVector.serialize(Array(1L)) // id 2 dead
    val (off, size) = DeletionVector.writeFile(s"$table/dv0.bin", dv,
      spark.sparkContext.hadoopConfiguration)
    val schemaStr = schema.json.replace("\"", "\\\"")
    new java.io.File(s"$table/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$table/_delta_log/" + "0" * 20 + ".json"),
      (Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"dvt","format":{"provider":"parquet","options":{}},"schemaString":"$schemaStr","partitionColumns":[],"configuration":{},"createdTime":0}}""",
        s"""{"add":{"path":"part-000.parquet","partitionValues":{},"size":10,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"p","pathOrInlineDv":"$table/dv0.bin","offset":$off,"sizeInBytes":$size,"cardinality":1}}}""")
        .mkString("\n")).getBytes("UTF-8"))
    assert(DeltaWriter.writeCheckpoint(spark, table) == 0L)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$table/_delta_log/" + "0" * 20 + ".json"), false)
    // a tail commit keeps the latest-version pointer alive post-cleanup
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$table/_delta_log/00000000000000000001.json"),
      """{"commitInfo":{"timestamp":1,"operation":"OPTIMIZE"}}"""
        .getBytes("UTF-8"))
    assert(DeltaTable.read(spark, table).orderBy($"id")
      .select($"id").as[Long].collect().toSeq == Seq(1L, 3L))
    // the checkpoint re-emits the table's protocol VERBATIM — fabricating
    // one would drop the deletionVectors feature the table declares
    val ckpt = spark.read.parquet(
      s"$table/_delta_log/00000000000000000000.checkpoint.parquet")
    val proto = ckpt.select($"protocol.*")
      .filter($"minReaderVersion".isNotNull).collect().head
    assert(proto.getInt(0) == 3 && proto.getInt(1) == 7)
    assert(proto.getSeq[String](2) == Seq("deletionVectors"), proto.toString)
  }

  test("checkpoint: tombstones carry over, txn retained, rowTracking ids carried") {
    val table = tmp()
    DeltaWriter.writeAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "text"), table)
    // v1 rewrites: removes the v0 file(s), adds one new — the tombstones
    // must survive into the checkpoint (vacuum bookkeeping other engines
    // read), while the reader continues to NOT replay them
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val v0 = graft.sources.FsText.read(fs,
      new Path(s"$table/_delta_log/00000000000000000000.json"))
    val oldPaths = v0.split('\n').filter(_.contains("\"add\""))
      .map(_.split("\"path\":\"")(1).split("\"")(0)).toSeq
    val df = Seq((9L, "z")).toDF("id", "text")
    df.coalesce(1).write.mode("overwrite").parquet(s"$table/rw.dir")
    val part = new java.io.File(s"$table/rw.dir").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$table/rewrite-000.parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$table/_delta_log/00000000000000000001.json"),
      (Seq(s"""{"add":{"path":"rewrite-000.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""") ++
        oldPaths.map(p =>
          s"""{"remove":{"path":"$p","deletionTimestamp":7,"dataChange":true}}"""))
        .mkString("\n").getBytes("UTF-8"))
    assert(DeltaWriter.writeCheckpoint(spark, table) == 1L)
    val ckpt = spark.read.parquet(
      s"$table/_delta_log/00000000000000000001.checkpoint.parquet")
    val removes = ckpt.select($"remove.path", $"remove.deletionTimestamp")
      .filter($"path".isNotNull).collect()
    assert(removes.map(_.getString(0)).sorted.toSeq == oldPaths.sorted,
      removes.toSeq.toString)
    assert(removes.forall(_.getLong(1) == 7L))
    // post-vacuum read: tombstones do not resurrect, the live row serves
    fs.delete(new Path(s"$table/_delta_log/00000000000000000000.json"), false)
    fs.delete(new Path(s"$table/_delta_log/00000000000000000001.json"), false)
    assert(DeltaTable.read(spark, table).select($"id").as[Long]
      .collect().toSeq == Seq(9L))
    // tombstones survive SUCCESSIVE compactions: after the vacuum, a new
    // commit + re-checkpoint must carry them forward FROM THE PRIOR
    // CHECKPOINT (the live json no longer has them)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$table/_delta_log/00000000000000000002.json"),
      """{"commitInfo":{"timestamp":9,"operation":"OPTIMIZE"}}"""
        .getBytes("UTF-8"))
    assert(DeltaWriter.writeCheckpoint(spark, table) == 2L)
    val ckpt2 = spark.read.parquet(
      s"$table/_delta_log/00000000000000000002.checkpoint.parquet")
    val removes2 = ckpt2.select($"remove.path")
      .filter($"path".isNotNull).collect().map(_.getString(0))
    assert(removes2.sorted.toSeq == oldPaths.sorted, removes2.toSeq.toString)

    // txn (SetTransaction) watermarks are RETAINED: the checkpoint
    // carries the newest version per appId, a later commit overrides,
    // and the map survives json cleanup
    val t2 = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), t2)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/_delta_log/00000000000000000001.json"),
      ("""{"txn":{"appId":"stream-1","version":42,"lastUpdated":5}}""" +
        "\n" +
        """{"txn":{"appId":"stream-2","version":7}}""")
        .getBytes("UTF-8"))
    assert(DeltaWriter.writeCheckpoint(spark, t2) == 1L)
    val ckptT2 = spark.read.parquet(
      s"$t2/_delta_log/00000000000000000001.checkpoint.parquet")
    val txnRows = ckptT2.select($"txn.appId", $"txn.version",
        $"txn.lastUpdated")
      .filter($"appId".isNotNull).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(txnRows == Seq(("stream-1", 42L, 5L), ("stream-2", 7L, -1L)),
      s"the checkpoint carries the watermarks: $txnRows")
    // the replay recovers the same map; json cleanup does not lose it
    assert(DeltaTable.txnVersions(spark, t2) ==
      Map("stream-1" -> 42L, "stream-2" -> 7L))
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      s"$t2/_delta_log/00000000000000000000.json"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      s"$t2/_delta_log/00000000000000000001.json"))
    assert(DeltaTable.txnVersions(spark, t2) ==
      Map("stream-1" -> 42L, "stream-2" -> 7L),
      "watermarks survive json cleanup")
    // a NEWER txn above the checkpoint overrides at the next
    // checkpoint; the untouched appId carries from the prior one
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/_delta_log/00000000000000000002.json"),
      """{"txn":{"appId":"stream-1","version":43}}""".getBytes("UTF-8"))
    assert(DeltaTable.txnVersions(spark, t2) ==
      Map("stream-1" -> 43L, "stream-2" -> 7L))
    assert(DeltaWriter.writeCheckpoint(spark, t2) == 2L)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      s"$t2/_delta_log/00000000000000000002.json"))
    assert(DeltaTable.txnVersions(spark, t2) ==
      Map("stream-1" -> 43L, "stream-2" -> 7L),
      "the second checkpoint folds the override + the carried watermark")
    // a FOREIGN checkpoint carrying txn rows seeds the baseline too
    val t3 = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), t3)
    val txnDdl = "txn struct<appId:string,version:bigint>, " +
      "protocol struct<minReaderVersion:int,minWriterVersion:int>, " +
      "metaData struct<id:string,schemaString:string," +
      "partitionColumns:array<string>>, " +
      "add struct<path:string,partitionValues:map<string,string>," +
      "size:bigint,modificationTime:bigint,dataChange:boolean>"
    val v0t3 = graft.sources.FsText.read(
      new Path(t3).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(s"$t3/_delta_log/00000000000000000000.json"))
    val lines = v0t3.split('\n').filterNot(_.contains("commitInfo")).toSeq :+
      """{"txn":{"appId":"stream-2","version":7}}"""
    val cp = spark.read.schema(txnDdl).json(lines.toDS())
    cp.coalesce(1).write.mode("overwrite").parquet(s"$t3/_delta_log/cp.dir")
    val cpPart = new java.io.File(s"$t3/_delta_log/cp.dir").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(cpPart.toPath, java.nio.file.Paths.get(
      s"$t3/_delta_log/00000000000000000000.checkpoint.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$t3/_delta_log/cp.dir"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      s"$t3/_delta_log/00000000000000000000.json"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t3/_delta_log/00000000000000000001.json"),
      """{"commitInfo":{"timestamp":1,"operation":"OPTIMIZE"}}"""
        .getBytes("UTF-8"))
    assert(DeltaTable.txnVersions(spark, t3) == Map("stream-2" -> 7L))
    assert(DeltaWriter.writeCheckpoint(spark, t3) == 1L)
    val ckptT3 = spark.read.parquet(
      s"$t3/_delta_log/00000000000000000001.checkpoint.parquet")
    assert(ckptT3.select($"txn.appId", $"txn.version")
      .filter($"appId".isNotNull).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("stream-2", 7L)),
      "a foreign checkpoint's txn rows carry through re-checkpointing")

    // rowTracking tables checkpoint too: adds re-emit their ids
    // verbatim and the domain's high-water mark survives a fully
    // vacuumed log; appends past the checkpoint continue from the
    // carried mark
    val t4 = tmp()
    DeltaWriter.writeAppend(spark,
      (0L to 4L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), t4,
      properties = Map("delta.enableRowTracking" -> "true"))
    assert(DeltaWriter.writeCheckpoint(spark, t4) == 0L)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      s"$t4/_delta_log/00000000000000000000.json"))
    val rids = DeltaTable.readWithRowIds(spark, t4)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert((0L to 4L).forall(i => rids(i) == i),
      s"ids survive the vacuumed log: $rids")
    DeltaWriter.writeAppend(spark, Seq((9L, "x")).toDF("id", "text"), t4)
    val log1r = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t4/_delta_log/00000000000000000001.json")))
    assert(log1r.contains("\"baseRowId\":5"),
      s"the carried mark feeds the next append: $log1r")
  }

  test("delta writeDelete: deletion vectors kill rows without rewrites") {
    val table = tmp()
    val df = (1L to 10L).map(i => (i, s"t$i")).toDF("id", "text")
    DeltaWriter.writeAppend(spark, df, table)
    val before = DeltaTable.read(spark, table)
    val filesBefore = before.inputFiles.toSet
    assert(before.count() == 10)

    val v1 = DeltaWriter.writeDelete(spark, table, $"id" % 3 === 0)
    assert(v1 == 1L)
    val after = DeltaTable.read(spark, table)
    assert(after.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    // NO rewrite: the same data files serve, rows die by bitmap
    assert(after.inputFiles.toSet == filesBefore,
      s"${after.inputFiles.toSet} vs $filesBefore")
    // the commit upgraded the protocol to carry the feature
    val log1 = graft.sources.FsText.read(
      new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(s"$table/_delta_log/00000000000000000001.json"))
    assert(log1.contains("deletionVectors"), log1)

    // a second delete UNIONS into the existing vectors
    val v2 = DeltaWriter.writeDelete(spark, table, $"id" === 1L)
    assert(v2 == 2L)
    assert(DeltaTable.read(spark, table).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 4L, 5L, 7L, 8L, 10L))
    // time travel reaches back across both deletes
    assert(DeltaTable.read(spark, table, versionAsOf = Some(0L))
      .count() == 10)
    assert(DeltaTable.read(spark, table, versionAsOf = Some(1L))
      .count() == 7)
    // an empty DELETE is a no-op, not an empty commit
    assert(DeltaWriter.writeDelete(spark, table, $"id" === 999L) == 2L)
    // deleting every remaining row retires the files entirely
    val v3 = DeltaWriter.writeDelete(spark, table, lit(true))
    assert(v3 == 3L)
    assert(DeltaTable.read(spark, table).count() == 0)
    // in mode=dv the cap is directed, never a driver-side surprise
    val t2 = tmp()
    DeltaWriter.writeAppend(spark,
      (1L to 5L).map(i => (i, "x")).toDF("id", "text"), t2)
    val e = intercept[Exception] {
      DeltaWriter.writeDelete(spark, t2, lit(true), maxDeletedRows = 2L,
        mode = "dv")
    }
    assert(e.getMessage.contains("rewrite"), e.getMessage)
  }

  test("delta writeDelete rewrite: copy-on-write above the DV cap") {
    val table = tmp()
    // 4 files; deletes touch only some of them
    val df = spark.sparkContext
      .parallelize((1L to 20L).map(i => (i, s"t$i")), 4).toDF("id", "text")
    DeltaWriter.writeAppend(spark, df, table)
    val before = DeltaTable.read(spark, table)
    val filesBefore = before.inputFiles.toSet
    assert(filesBefore.size == 4)

    // auto mode crosses the lowered cap -> copy-on-write, one commit
    val v1 = DeltaWriter.writeDelete(spark, table, $"id" <= 9L,
      maxDeletedRows = 3L)
    assert(v1 == 1L)
    val after = DeltaTable.read(spark, table)
    assert(after.select($"id").as[Long].collect().sorted.toSeq ==
      (10L to 20L))
    // UNTOUCHED files keep their identity; touched ones are gone
    val filesAfter = after.inputFiles.toSet
    val untouched = filesBefore.intersect(filesAfter)
    assert(untouched.nonEmpty, "some original file had no matches")
    assert((filesAfter -- filesBefore).nonEmpty, "rewritten files exist")
    // no deletion vector anywhere: the rewrite commit is remove+add only
    val log1 = graft.sources.FsText.read(
      new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(s"$table/_delta_log/00000000000000000001.json"))
    assert(!log1.contains("deletionVector"), log1)
    // explicit rewrite over a table that already has DVs merges them:
    // DV-dead rows stay dead through the rewrite
    DeltaWriter.writeDelete(spark, table, $"id" === 12L, mode = "dv")
    val v3 = DeltaWriter.writeDelete(spark, table, $"id" >= 18L,
      mode = "rewrite")
    assert(v3 == 3L)
    assert(DeltaTable.read(spark, table).select($"id").as[Long]
      .collect().sorted.toSeq ==
      Seq(10L, 11L, 13L, 14L, 15L, 16L, 17L))
    // survivors of the rewrite carry no DV (fresh files) — only the
    // removes may reference the retired vector
    val log3 = graft.sources.FsText.read(
      new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(s"$table/_delta_log/00000000000000000003.json"))
    assert(log3.split('\n').filter(_.contains("\"add\""))
      .forall(!_.contains("deletionVector")), log3)
    // rewrite of a PARTITIONED table keeps rows in their partitions
    val t2 = tmp()
    DeltaWriter.writeAppend(spark,
      Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"), (4L, "d", "de"))
        .toDF("id", "text", "lang"),
      t2, partitionBy = Seq("lang"))
    DeltaWriter.writeDelete(spark, t2, $"id" === 3L, mode = "rewrite")
    val got = DeltaTable.read(spark, t2).orderBy($"id")
      .select($"id", $"lang").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "en"), (2L, "en"), (4L, "de")))
    assert(DeltaTable.read(spark, t2).filter($"lang" === "de")
      .inputFiles.forall(_.contains("lang=de")))
  }

  test("exclusive commit: the loser of a version race fails directed") {
    val dir = tmp()
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dest = new Path(s"$dir/00000000000000000001.json")
    assert(TableCommit.putText(fs, dest, "winner"))
    // the second writer of the SAME version must lose, not overwrite
    assert(!TableCommit.putText(fs, dest, "loser"))
    assert(graft.sources.FsText.read(fs, dest) == "winner")
    // no tmp litter from the loser
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet ==
      Set("00000000000000000001.json"))
  }

  test("iceberg writer: create, append snapshot, own-reader round trip") {
    val table = tmp()
    val batch1 = Seq((1L, "t1"), (2L, "t2")).toDF("id", "text")
    val s1 = IcebergWriter.writeAppend(spark, batch1, table)
    val r1 = IcebergTable.read(spark, table).orderBy($"id")
    assert(r1.as[(Long, String)].collect().toSeq ==
      Seq((1L, "t1"), (2L, "t2")))
    assert(IcebergTable.currentSnapshotId(spark, table).contains(s1))

    val batch2 = Seq((3L, "t3")).toDF("id", "text")
    val s2 = IcebergWriter.writeAppend(spark, batch2, table)
    assert(s2 != s1)
    assert(IcebergTable.read(spark, table).count() == 3)
    // time travel to the first snapshot
    assert(IcebergTable.read(spark, table, Some(s1)).count() == 2)
    // incremental: only the second batch's file is new
    val inc = IcebergTable.readAppended(spark, table, s1, Some(s2))
    assert(inc.select($"id").as[Long].collect().toSeq == Seq(3L))
    // the snapshot log shows both appends
    val snaps = IcebergTable.snapshots(spark, table)
      .orderBy($"timestamp_ms").collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(s1, s2))
    assert(snaps.map(_.getString(2)).distinct.toSeq == Seq("append"))
    // the follow loop consumes the self-written table incrementally
    val ckpt = s"$table/cursor"
    var got = Vector.empty[Seq[Long]]
    TableFollow.followIcebergOnce(spark, table, ckpt)((df, _) =>
      got :+= df.select($"id").as[Long].collect().sorted.toSeq)
    val s3 = IcebergWriter.writeAppend(spark,
      Seq((9L, "t9")).toDF("id", "text"), table)
    TableFollow.followIcebergOnce(spark, table, ckpt)((df, _) =>
      got :+= df.select($"id").as[Long].collect().sorted.toSeq)
    assert(got == Vector(Seq(1L, 2L, 3L), Seq(9L)), got.toString)
    assert(IcebergTable.currentSnapshotId(spark, table).contains(s3))
  }

  test("iceberg writer: identity-partitioned appends with manifest pruning") {
    val table = tmp()
    val b1 = Seq((1L, "a", "en"), (2L, "b", "de"), (3L, "c", "en"))
      .toDF("id", "text", "lang")
    IcebergWriter.writeAppend(spark, b1, table, partitionBy = Seq("lang"))
    // data files CONTAIN the partition column (hidden partitioning)
    val full = IcebergTable.read(spark, table).orderBy($"id")
    assert(full.columns.toSeq == Seq("id", "text", "lang"))
    assert(full.select($"id", $"lang").as[(Long, String)].collect().toSeq ==
      Seq((1L, "en"), (2L, "de"), (3L, "en")))
    // manifest-level pruning touches only the matching partition's files
    val pruned = IcebergTable.readPartitions(spark, table,
      Map("lang" -> "en"))
    assert(pruned.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${full.inputFiles.length}")
    // appends INHERIT the spec (no partitionBy passed)
    val s2 = IcebergWriter.writeAppend(spark,
      Seq((4L, "d", "fr")).toDF("id", "text", "lang"), table)
    assert(IcebergTable.read(spark, table).count() == 4)
    assert(IcebergTable.readPartitions(spark, table, Map("lang" -> "fr"))
      .select($"id").as[Long].collect().toSeq == Seq(4L))
    assert(IcebergTable.currentSnapshotId(spark, table).contains(s2))
    // an unsupported transform stays directed (bucket/truncate write)
    val t2 = tmp()
    new java.io.File(s"$t2/metadata").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/metadata/v1.metadata.json"),
      s"""{"format-version": 2, "table-uuid": "u", "location": "$t2",
           "schemas": [{"type": "struct", "schema-id": 0, "fields": [
             {"id": 1, "name": "id", "required": false, "type": "long"},
             {"id": 2, "name": "text", "required": false, "type": "string"}]}],
           "current-schema-id": 0,
           "partition-specs": [{"spec-id": 0, "fields": [
             {"name": "id_void", "transform": "void",
              "source-id": 1, "field-id": 1000}]}],
           "default-spec-id": 0, "snapshots": []}""".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val e = intercept[Exception] {
      IcebergWriter.writeAppend(spark,
        Seq((1L, "a")).toDF("id", "text"), t2)
    }
    assert(e.getMessage.contains("void"), e.getMessage)
  }

  test("iceberg truncate + temporal transforms: write, inherit, prune") {
    // truncate(10, id): spec rule v - (v mod W) with POSITIVE remainder
    val table = tmp()
    val rows = Seq(-11L, -1L, 0L, 7L, 19L, 25L).zipWithIndex
      .map { case (v, i) => (v, s"t$i") }.toDF("id", "text")
    IcebergWriter.writeAppend(spark, rows, table,
      partitionBy = Seq("truncate(10, id)"))
    // -11 -> -20, -1 -> -10, 0/7 -> 0, 19 -> 10, 25 -> 20
    val full = IcebergTable.read(spark, table)
    assert(full.count() == 6)
    val p0 = IcebergTable.readPartitions(spark, table,
      Map("id_trunc" -> "0"))
    assert(p0.select($"id").as[Long].collect().sorted.toSeq == Seq(0L, 7L))
    val pNeg = IcebergTable.readPartitions(spark, table,
      Map("id_trunc" -> "-10"))
    assert(pNeg.select($"id").as[Long].collect().toSeq == Seq(-1L),
      "negative values truncate DOWN (positive remainder)")
    assert(p0.inputFiles.length < full.inputFiles.length)
    // a second append INHERITS truncate
    IcebergWriter.writeAppend(spark, Seq((8L, "t8")).toDF("id", "text"),
      table)
    assert(IcebergTable.readPartitions(spark, table, Map("id_trunc" -> "0"))
      .count() == 3)

    // temporal family: month(date) = whole months since the epoch
    val tt = tmp()
    val dates = Seq("1970-01-15", "1970-02-01", "2024-03-05").zipWithIndex
      .map { case (d, i) => (java.sql.Date.valueOf(d), i.toLong) }
      .toDF("d", "id")
    IcebergWriter.writeAppend(spark, dates, tt,
      partitionBy = Seq("month(d)"))
    // months since epoch: 0, 1, (2024-1970)*12 + 2 = 650
    val m0 = IcebergTable.readPartitions(spark, tt, Map("d_month" -> "0"))
    assert(m0.select($"id").as[Long].collect().toSeq == Seq(0L))
    assert(IcebergTable.readPartitions(spark, tt, Map("d_month" -> "650"))
      .select($"id").as[Long].collect().toSeq == Seq(2L))

    // day(date) = days since epoch via unix_date (a date->int cast is
    // an ANSI error), and day over a non-temporal source is directed
    val ddt = tmp()
    IcebergWriter.writeAppend(spark,
      Seq(("1970-01-03", 0L), ("2024-03-05", 1L))
        .map { case (d, i) => (java.sql.Date.valueOf(d), i) }
        .toDF("d", "id"), ddt, partitionBy = Seq("day(d)"))
    assert(IcebergTable.readPartitions(spark, ddt, Map("d_day" -> "2"))
      .select($"id").as[Long].collect().toSeq == Seq(0L))
    val eDay = intercept[Exception] {
      IcebergWriter.writeAppend(spark, Seq((1L, 2L)).toDF("n", "id"),
        tmp(), partitionBy = Seq("day(n)"))
    }
    assert(eDay.getMessage.contains("date/timestamp"), eDay.getMessage)
    val eTr0 = intercept[Exception] {
      IcebergWriter.writeAppend(spark, Seq((1L, 2L)).toDF("n", "id"),
        tmp(), partitionBy = Seq("truncate(0, n)"))
    }
    assert(eTr0.getMessage.contains("positive"), eTr0.getMessage)

    // day(timestamp) floor-divides micros (negative pre-epoch too)
    val ht = tmp()
    val tss = Seq("1969-12-31 23:00:00", "1970-01-01 01:00:00",
      "1970-01-02 03:00:00").zipWithIndex
      .map { case (t, i) => (java.sql.Timestamp.valueOf(t), i.toLong) }
      .toDF("ts", "id")
    IcebergWriter.writeAppend(spark, tss, ht, partitionBy = Seq("day(ts)"))
    assert(IcebergTable.readPartitions(spark, ht, Map("ts_day" -> "-1"))
      .select($"id").as[Long].collect().toSeq == Seq(0L),
      "pre-epoch timestamps floor to day -1")
    assert(IcebergTable.readPartitions(spark, ht, Map("ts_day" -> "0"))
      .select($"id").as[Long].collect().toSeq == Seq(1L))
    // truncate over a string source is directed
    val eS = intercept[Exception] {
      IcebergWriter.writeAppend(spark, rows, tmp(),
        partitionBy = Seq("truncate(4, text)"))
    }
    assert(eS.getMessage.contains("int/long"), eS.getMessage)
  }

  test("temporal transforms stay exact beyond 2^53 micros") {
    import java.time.Instant
    // |micros| > 2^53: double-rounded division can land one partition
    // off — day/hour must use exact integer/calendar arithmetic.
    // (1650 predates -2^53 µs; 9999 exceeds +2^53. Both post-1582, so
    // the java.sql.Timestamp hybrid-calendar rebase is a no-op.)
    def micros(s: String): Long = {
      val i = Instant.parse(s)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val far = "9999-12-31T11:30:00Z"
    val old = "1650-06-15T03:00:00Z"
    val df = Seq(far, old).zipWithIndex.map { case (s, i) =>
      (java.sql.Timestamp.from(Instant.parse(s)), i.toLong)
    }.toDF("ts", "id")
    val t1 = tmp()
    IcebergWriter.writeAppend(spark, df, t1, partitionBy = Seq("day(ts)"))
    val dFar = Math.floorDiv(micros(far), 86400000000L)
    val dOld = Math.floorDiv(micros(old), 86400000000L)
    assert(IcebergTable.readPartitions(spark, t1,
      Map("ts_day" -> dFar.toString))
      .select($"id").as[Long].collect().toSeq == Seq(0L),
      s"day($far) must be exactly $dFar")
    assert(IcebergTable.readPartitions(spark, t1,
      Map("ts_day" -> dOld.toString))
      .select($"id").as[Long].collect().toSeq == Seq(1L),
      s"day($old) must be exactly $dOld")
    val t2 = tmp()
    IcebergWriter.writeAppend(spark, df, t2, partitionBy = Seq("hour(ts)"))
    val hFar = Math.floorDiv(micros(far), 3600000000L)
    val hOld = Math.floorDiv(micros(old), 3600000000L)
    assert(IcebergTable.readPartitions(spark, t2,
      Map("ts_hour" -> hFar.toString))
      .select($"id").as[Long].collect().toSeq == Seq(0L),
      s"hour($far) must be exactly $hFar")
    assert(IcebergTable.readPartitions(spark, t2,
      Map("ts_hour" -> hOld.toString))
      .select($"id").as[Long].collect().toSeq == Seq(1L),
      s"hour($old) must be exactly $hOld")
  }

  test("constraints validate the WRITTEN batch and leave nothing behind") {
    import graft.sources.TableCommit.ConstraintViolation
    import org.apache.hadoop.conf.Configuration
    val t = tmp()
    val props = Map("delta.constraints.small" -> "v < 100")
    def parquets(): Seq[String] = {
      val fsys = new Path(t).getFileSystem(new Configuration())
      if (!fsys.exists(new Path(t))) Nil
      else {
        val it = fsys.listFiles(new Path(t), true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getPath.getName
          if (n.endsWith(".parquet")) b += n
        }
        b.result()
      }
    }
    // a violating CREATE batch is rejected whole — validation runs over
    // the written temp files (never a re-execution of the input plan),
    // and the reject deletes them: no log entry, no stray data files
    val e = intercept[ConstraintViolation] {
      DeltaWriter.writeAppend(spark,
        Seq((1L, 50L), (2L, 150L)).toDF("id", "v"), t, properties = props)
    }
    assert(e.getMessage.contains("small"), e.getMessage)
    assert(parquets().isEmpty, s"rejected create left files: ${parquets()}")
    // a valid constrained batch commits
    DeltaWriter.writeAppend(spark, Seq((1L, 50L)).toDF("id", "v"), t,
      properties = props)
    assert(DeltaTable.read(spark, t).count() == 1L)
    val committed = parquets()
    // a violating APPEND to the live table is rejected with no new files
    intercept[ConstraintViolation] {
      DeltaWriter.writeAppend(spark, Seq((3L, 500L)).toDF("id", "v"), t)
    }
    assert(parquets() == committed,
      "a rejected append must add no data files")
    assert(DeltaTable.read(spark, t).count() == 1L)
  }

  test("iceberg bucket[N] partitioning: spec vectors, write, prune, " +
    "inherit") {
    import graft.functions.IcebergBucketExpr
    // the table spec's own Appendix B test vectors pin the hash
    assert(IcebergBucketExpr.hashLong(34L) == 2017239379, "int/long 34")
    assert(IcebergBucketExpr.murmur3(
      "iceberg".getBytes("UTF-8")) == 1210000089, "string")
    assert(IcebergBucketExpr.hashLong(17486L) == -653330422,
      "date 2017-11-16")
    assert(IcebergBucketExpr.hashLong(1510871468000000L) == -2047944441,
      "timestamp 2017-11-16T22:31:08")
    assert(IcebergBucketExpr.murmur3(
      java.math.BigDecimal.valueOf(1420, 2).unscaledValue.toByteArray)
      == -500754589, "decimal 14.20")
    assert(IcebergBucketExpr.murmur3(
      Array[Byte](0, 1, 2, 3)) == -188683207, "binary 00 01 02 03")

    // expression over a frame: matches the driver-side form, null-safe
    val df = Seq(Some(34L), None).toDF("id")
    val b = df.select(IcebergBucketExpr($"id", 16).as("b"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(b(0) == ((2017239379 & Int.MaxValue) % 16) && b(1) == null)

    // CREATE bucket-partitioned, append INHERITS, readPartitions prunes
    val table = tmp()
    val rows = (0L until 64L).map(i => (i, s"t$i")).toDF("id", "text")
    IcebergWriter.writeAppend(spark, rows.filter($"id" < 32), table,
      partitionBy = Seq("bucket(4, id)"))
    IcebergWriter.writeAppend(spark, rows.filter($"id" >= 32), table)
    val full = IcebergTable.read(spark, table)
    assert(full.select($"id").as[Long].collect().sorted.toSeq ==
      (0L until 64L), "bucket layout loses no rows")
    // one bucket via the same hash the writer used
    val targetBucket = (IcebergBucketExpr.hashLong(7L) & Int.MaxValue) % 4
    val pruned = IcebergTable.readPartitions(spark, table,
      Map("id_bucket" -> targetBucket.toString))
    val expect = (0L until 64L).filter(i =>
      (IcebergBucketExpr.hashLong(i) & Int.MaxValue) % 4 == targetBucket)
    assert(pruned.select($"id").as[Long].collect().sorted.toSeq == expect)
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.select($"id").as[Long].collect().contains(7L))
    // data files RETAIN the source column (hidden partitioning)
    assert(full.columns.toSeq == Seq("id", "text"))
    // readWhere point lookups prune by the TRANSFORM (min/max bounds
    // cannot — the hash scatters ids across every file's range)
    val point = IcebergTable.readWhere(spark, table,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 7L)))
    assert(point.select($"text").as[String].collect().toSeq == Seq("t7"))
    assert(point.inputFiles.length < full.inputFiles.length,
      s"${point.inputFiles.length} of ${full.inputFiles.length}")
    assert(point.inputFiles.forall(
      _.contains(s"id_bucket=$targetBucket")), point.inputFiles.toSeq)
    val inSet = IcebergTable.readWhere(spark, table,
      Seq(org.apache.spark.sql.sources.In("id", Array[Any](7L, 8L))))
    assert(inSet.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(7L, 8L))
    assert(inSet.inputFiles.length < full.inputFiles.length)
    // a filter on a NON-bucket column keeps every file (conservative)
    assert(IcebergTable.readWhere(spark, table,
      Seq(org.apache.spark.sql.sources.EqualTo("text", "t7")))
      .select($"id").as[Long].collect().toSeq == Seq(7L))
  }

  test("iceberg writeDelete: positional deletes, no rewrites, distributed") {
    val table = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 10L).map(i => (i, s"t$i")).toDF("id", "text"), table)
    val before = IcebergTable.read(spark, table)
    val filesBefore = before.inputFiles.toSet
    val s2 = IcebergWriter.writeDelete(spark, table, $"id" % 3 === 0)
    val after = IcebergTable.read(spark, table)
    assert(after.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    // data files unchanged — rows die by positional-delete file (the
    // plan's inputFiles additionally list the delete parquet itself)
    assert(filesBefore.subsetOf(after.inputFiles.toSet),
      s"${after.inputFiles.toSet} vs $filesBefore")
    // the snapshot log shows the delete operation
    val ops = IcebergTable.snapshots(spark, table)
      .orderBy($"timestamp_ms").collect().map(_.getString(2))
    assert(ops.toSeq == Seq("append", "delete"), ops.toSeq.toString)
    // time travel reaches back before the delete
    val first = IcebergTable.snapshots(spark, table)
      .orderBy($"timestamp_ms").collect().head.getLong(0)
    assert(IcebergTable.read(spark, table, Some(first)).count() == 10)
    // a second delete stacks another delete file
    IcebergWriter.writeDelete(spark, table, $"id" === 1L)
    assert(IcebergTable.read(spark, table).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 4L, 5L, 7L, 8L, 10L))
    // empty DELETE: no-op, cursor unchanged
    val cur = IcebergTable.currentSnapshotId(spark, table)
    assert(IcebergWriter.writeDelete(spark, table, $"id" === 999L) ==
      cur.get)
    // the changelog serves the deletes row-level
    val chg = IcebergTable.readChangelog(spark, table, first)
      .select($"id", $"_change_type").as[(Long, String)].collect().sorted
    assert(chg.toSeq == Seq((1L, "delete"), (3L, "delete"), (6L, "delete"),
      (9L, "delete")), chg.toSeq.toString)
    assert(s2 != first)
  }

  test("iceberg writer: guards directed — schema, partitioned, nested") {
    val table = tmp()
    IcebergWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), table)
    val e1 = intercept[Exception] {
      IcebergWriter.writeAppend(spark,
        Seq((1L, 2.0)).toDF("id", "score"), table)
    }
    assert(e1.getMessage.contains("schema"), e1.getMessage)
    // a type with no Iceberg form (CalendarInterval etc.) stays
    // directed; nested struct/list/map schemas now WRITE (see the
    // dedicated nested round-trip test)
    val e2 = intercept[Exception] {
      IcebergWriter.writeAppend(spark,
        Seq((1L, "x")).toDF("id", "v")
          .select($"id", $"v", org.apache.spark.sql.functions
            .expr("make_interval(0, 0, 0, 1, 0, 0, 0)").as("iv")), tmp())
    }
    assert(e2.getMessage.contains("not implemented"), e2.getMessage)
    // an identity-partitioned table ACCEPTS appends (spec inherited) —
    // even one authored by another writer
    val t2 = tmp()
    new java.io.File(s"$t2/metadata").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/metadata/v1.metadata.json"),
      s"""{"format-version": 2, "table-uuid": "u", "location": "$t2",
           "schemas": [{"type": "struct", "schema-id": 0, "fields": [
             {"id": 1, "name": "id", "required": false, "type": "long"},
             {"id": 2, "name": "text", "required": false, "type": "string"}]}],
           "current-schema-id": 0,
           "partition-specs": [{"spec-id": 0, "fields": [
             {"name": "id", "transform": "identity",
              "source-id": 1, "field-id": 1000}]}],
           "default-spec-id": 0, "snapshots": []}""".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    IcebergWriter.writeAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "text"), t2)
    assert(graft.sources.IcebergTable
      .readPartitions(spark, t2, Map("id" -> "2")).count() == 1)
  }

  test("schema evolution: additive nullable trailing columns, both formats") {
    // Delta: evolve, read old rows as null, evolve-read round trip
    val dt = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "a"), (2L, "b"))
      .toDF("id", "text"), dt)
    // without mergeSchema the additive append stays directed
    val e1 = intercept[Exception] {
      DeltaWriter.writeAppend(spark,
        Seq((3L, "c", 0.5)).toDF("id", "text", "score"), dt)
    }
    assert(e1.getMessage.contains("mergeSchema"), e1.getMessage)
    DeltaWriter.writeAppend(spark,
      Seq((3L, "c", 0.5)).toDF("id", "text", "score"), dt,
      mergeSchema = true)
    val dGot = DeltaTable.read(spark, dt).orderBy($"id")
    assert(dGot.columns.toSeq == Seq("id", "text", "score"))
    assert(dGot.select($"score").as[Option[Double]].collect().toSeq ==
      Seq(None, None, Some(0.5)))
    // post-evolution appends use the evolved schema plainly
    DeltaWriter.writeAppend(spark,
      Seq((4L, "d", 1.5)).toDF("id", "text", "score"), dt)
    assert(DeltaTable.read(spark, dt).count() == 4)
    // non-additive changes stay directed even with mergeSchema
    val e2 = intercept[Exception] {
      DeltaWriter.writeAppend(spark,
        Seq((5L, 9L, 0.1)).toDF("id", "text", "score"), dt,
        mergeSchema = true)
    }
    assert(e2.getMessage.contains("ADDITIVE"), e2.getMessage)

    // Iceberg: schemas list grows, ids continue, old rows read null
    val it = tmp()
    IcebergWriter.writeAppend(spark, Seq((1L, "a"), (2L, "b"))
      .toDF("id", "text"), it)
    val e3 = intercept[Exception] {
      IcebergWriter.writeAppend(spark,
        Seq((3L, "c", 0.5)).toDF("id", "text", "score"), it)
    }
    assert(e3.getMessage.contains("mergeSchema"), e3.getMessage)
    IcebergWriter.writeAppend(spark,
      Seq((3L, "c", 0.5)).toDF("id", "text", "score"), it,
      mergeSchema = true)
    val iGot = IcebergTable.read(spark, it).orderBy($"id")
    assert(iGot.columns.toSeq == Seq("id", "text", "score"))
    assert(iGot.select($"score").as[Option[Double]].collect().toSeq ==
      Seq(None, None, Some(0.5)))
    // the metadata carries BOTH schemas; the new field id continues from
    // the old high-water mark and last-column-id moved
    val metaDir = new java.io.File(s"$it/metadata")
    val latest = metaDir.listFiles()
      .filter(_.getName.endsWith(".metadata.json"))
      .maxBy(f => f.getName.stripPrefix("v")
        .stripSuffix(".metadata.json").toLong)
    val metaTxt = new String(
      java.nio.file.Files.readAllBytes(latest.toPath), "UTF-8")
    assert(metaTxt.contains(""""schema-id": 1"""), metaTxt)
    assert(metaTxt.contains(""""current-schema-id": 1"""), metaTxt)
    assert(metaTxt.contains(""""last-column-id": 3"""), metaTxt)
    assert(metaTxt.contains(""""id": 3, "name": "score""""), metaTxt)
    // row-level deletes still work across the evolution (schema parity
    // between the reader's view and the delete plan)
    IcebergWriter.writeDelete(spark, it, $"id" === 1L)
    assert(IcebergTable.read(spark, it).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("iceberg v3: appends maintain lineage, deletes emit Puffin DVs") {
    val table = tmp()
    // one file per batch: the one-DV-per-file rule below needs a known
    // file↔rows layout
    IcebergWriter.writeAppend(spark,
      (1L to 8L).map(i => (i, s"t$i")).toDF("id", "text").coalesce(1),
      table, formatVersion = 3)
    IcebergWriter.writeAppend(spark,
      (9L to 12L).map(i => (i, s"t$i")).toDF("id", "text").coalesce(1),
      table)
    val metaDir = new java.io.File(s"$table/metadata")
    def latestMeta(): String = new String(java.nio.file.Files.readAllBytes(
      metaDir.listFiles().filter(_.getName.endsWith(".metadata.json"))
        .maxBy(f => f.getName.stripPrefix("v")
          .stripSuffix(".metadata.json").toLong).toPath), "UTF-8")
    // v3 metadata with row-lineage bookkeeping: next-row-id advanced by
    // both appends, snapshots carry their first-row-id
    val m1 = latestMeta()
    assert(m1.contains(""""format-version": 3"""), m1)
    assert(m1.contains(""""next-row-id" -> "12"""")
      || m1.contains(""""next-row-id": 12"""), m1)
    assert(m1.contains(""""first-row-id": 8"""), m1)

    // DV delete: survivors correct, NO data file rewritten, the delete
    // artifact is a Puffin container referenced by a PUFFIN manifest entry
    val filesBefore = IcebergTable.read(spark, table).inputFiles.toSet
    IcebergWriter.writeDelete(spark, table, $"id" % 3 === 0 && $"id" <= 8L)
    val after = IcebergTable.read(spark, table)
    assert(after.select($"id").as[Long].collect().sorted.toSeq ==
      (1L to 12L).filterNot(i => i % 3 == 0 && i <= 8))
    assert(filesBefore.subsetOf(after.inputFiles.toSet ++ filesBefore))
    val dvFiles = new java.io.File(s"$table/data").listFiles()
      .filter(_.getName.endsWith(".puffin"))
    assert(dvFiles.length == 1, dvFiles.toSeq)
    val delManifest = metaDir.listFiles()
      .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro"))
      .maxBy(_.lastModified)
    val entries = graft.sources.AvroOcf.read(spark, delManifest.getPath)
    assert(entries.select($"data_file.file_format").as[String].collect()
      .forall(_ == "PUFFIN"))
    assert(entries.select($"data_file.referenced_data_file").as[String]
      .collect().forall(_ != null))
    // a second delete on a DIFFERENT file (the second batch's) stacks
    IcebergWriter.writeDelete(spark, table, $"id" === 9L)
    assert(IcebergTable.read(spark, table).count() == 9)
    // re-deleting from an already-DV'd file MERGES: the old positions
    // union the new into one replacement DV, the superseded delete
    // manifest drops, the untouched one carries
    IcebergWriter.writeDelete(spark, table, $"id" === 2L)
    assert(IcebergTable.read(spark, table).select($"id").as[Long]
      .collect().sorted.toSeq ==
      Seq(1L, 4L, 5L, 7L, 8L, 10L, 11L, 12L),
      "merged DV serves the union of both deletes")
    // one-DV-per-file invariant across ALL active delete manifests
    def dvEntriesPerFile(): Map[String, Int] = {
      val meta = latestMeta()
      val listPath = """"manifest-list": "([^"]+)"""".r
        .findAllMatchIn(meta).map(_.group(1)).toSeq.last
      val lst = graft.sources.AvroOcf.read(spark, listPath)
      val delMans = lst.filter($"content" === 1)
        .select($"manifest_path").as[String].collect().toSeq
      delMans.flatMap { mp =>
        graft.sources.AvroOcf.read(spark, mp)
          .filter($"status" =!= 2)
          .select($"data_file.referenced_data_file").as[String]
          .collect().toSeq
      }.groupBy(identity).map { case (k, v) => k -> v.size }
    }
    val perFile = dvEntriesPerFile()
    assert(perFile.nonEmpty && perFile.values.forall(_ == 1),
      s"one DV per file after the merge: $perFile")
    // the delete snapshots did not advance next-row-id
    assert(latestMeta().contains(""""next-row-id": 12"""), latestMeta())
    // v3 UPDATE on a file ALREADY carrying a DV merges the same way:
    // the kill position joins the existing DV, the image appends
    IcebergWriter.writeUpdate(spark, table, $"id" === 5L,
      Map("text" -> lit("x")))
    val rows5 = IcebergTable.read(spark, table).orderBy($"id")
      .select($"id", $"text").as[(Long, String)].collect().toSeq
    assert(rows5 == Seq(1L -> "t1", 4L -> "t4", 5L -> "x", 7L -> "t7",
      8L -> "t8", 10L -> "t10", 11L -> "t11", 12L -> "t12"),
      s"update through the DV merge path: $rows5")
    val perFile2 = dvEntriesPerFile()
    assert(perFile2.values.forall(_ == 1),
      s"still one DV per file after the update: $perFile2")

    // v3 UPDATE end to end on a fresh table: DV kill + rewritten
    // images in ONE overwrite snapshot, lineage advanced by the images
    val tu = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 12L).map(i => (i, s"t$i")).toDF("id", "text"), tu,
      formatVersion = 3)
    IcebergWriter.writeUpdate(spark, tu, $"id" % 4 === 0,
      Map("text" -> concat(lit("u-"), $"id")))
    assert(IcebergTable.read(spark, tu).orderBy($"id")
      .select($"text").as[String].collect().toSeq ==
      (1L to 12L).map(i => if (i % 4 == 0) s"u-$i" else s"t$i"),
      "v3 update serves the post-update state")
    val tuMeta = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$tu/metadata").listFiles
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(f => f.getName.stripPrefix("v")
          .stripSuffix(".metadata.json").toLong).toPath))
    assert(tuMeta.contains("\"next-row-id\": 15"),
      s"lineage advances by the 3 rewritten images: $tuMeta")
    // a second update touching only the IMAGE file (no DV yet) stacks
    IcebergWriter.writeUpdate(spark, tu, $"text" === "u-4",
      Map("text" -> lit("uu-4")))
    assert(IcebergTable.read(spark, tu).filter($"id" === 4L)
      .select($"text").as[String].collect().toSeq == Seq("uu-4"))
  }

  test("iceberg v3 ROW LINEAGE: first_row_id stamped per file, ids " +
    "stable through DV ops, rewrites take fresh ranges, v2 directed") {
    val t = tmp()
    // two sorted single-partition files: id == position == row id
    IcebergWriter.writeAppend(spark,
      (0L to 29L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), t, formatVersion = 3)
    IcebergWriter.writeAppend(spark,
      (30L to 59L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), t)
    val ids0 = IcebergTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(ids0.size == 60 && ids0.forall(kv => kv._1 == kv._2),
      s"contiguous ranges: first file 0.., second 30..: ${ids0.take(4)}")
    // DV delete: data files untouched, survivors' ids stable
    IcebergWriter.writeDelete(spark, t, $"id" === 7L)
    val ids1 = IcebergTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(!ids1.contains(7L) && ids1.size == 59 &&
      ids1.forall(kv => kv._1 == kv._2),
      "DV delete keeps survivor identity")
    // UPDATE: the image takes a fresh id past the high-water mark
    IcebergWriter.writeUpdate(spark, t, $"id" === 40L,
      Map("text" -> lit("x")))
    val ids2 = IcebergTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(ids2(40L) == 60L,
      s"the updated image takes the fresh range: ${ids2(40L)}")
    assert(ids2.filterNot(_._1 == 40L).forall(kv => kv._1 == kv._2),
      "every survivor keeps its id through the update")
    // the update's image carries the commit's sequence as its
    // last-updated sequence; untouched rows keep their append's
    val seqs = IcebergTable.readWithRowIds(spark, t)
      .select($"id", $"_last_updated_sequence_number")
      .as[(Long, Long)].collect().toMap
    assert(seqs(40L) > seqs(0L) && seqs(0L) == 1L && seqs(30L) == 2L,
      s"per-file data sequences serve the default route: " +
        s"${seqs(0L)}, ${seqs(30L)}, ${seqs(40L)}")
    // compaction re-stamps FRESH contiguous ranges from next-row-id
    IcebergWriter.rewriteDataFiles(spark, t)
    val ids3 = IcebergTable.readWithRowIds(spark, t)
      .select($"_row_id").as[Long].collect().sorted.toSeq
    assert(ids3 == (61L to 119L),
      s"rewritten files carve 59 fresh ids from the mark: " +
        s"${ids3.take(3)}..${ids3.takeRight(3)}")
    // below v3, lineage is directed
    val t2 = tmp()
    IcebergWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), t2)
    val eV2 = intercept[Exception](
      IcebergTable.readWithRowIds(spark, t2))
    assert(eV2.getMessage.contains("format-version 3"), eV2.getMessage)
  }

  test("iceberg refs: tags pin snapshots through expiration, main " +
    "tracks commits, metadata-log advances per commit") {
    val t = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 4L).map(i => (i, s"t$i")).toDF("id", "text"), t)
    val snapA = IcebergTable.currentSnapshotId(spark, t).get
    IcebergWriter.setRef(spark, t, "v1", snapA)
    IcebergWriter.setRef(spark, t, "main", snapA, "branch")
    IcebergWriter.writeAppend(spark,
      (5L to 8L).map(i => (i, s"t$i")).toDF("id", "text"), t)
    IcebergWriter.writeAppend(spark,
      (9L to 12L).map(i => (i, s"t$i")).toDF("id", "text"), t)
    // the main BRANCH advanced with each commit; the TAG stayed pinned
    assert(IcebergTable.refSnapshot(spark, t, "main") ==
      IcebergTable.currentSnapshotId(spark, t).get,
      "main tracks the current snapshot")
    assert(IcebergTable.readRef(spark, t, "v1").select($"id").as[Long]
      .collect().sorted.toSeq == (1L to 4L),
      "the tag reads the snapshot it pinned")
    assert(IcebergTable.read(spark, t).count() == 12)
    // expiration PINS the tagged snapshot (the middle one expires)
    val del1 = IcebergWriter.expireSnapshots(spark, t, keepLast = 1)
    assert(del1 > 0, "the untagged middle snapshot expired")
    assert(IcebergTable.readRef(spark, t, "v1").select($"id").as[Long]
      .collect().sorted.toSeq == (1L to 4L),
      "the tagged snapshot survived the expiration")
    // dropping the ref makes it expirable
    IcebergWriter.dropRef(spark, t, "v1")
    assert(IcebergWriter.expireSnapshots(spark, t, keepLast = 1) > 0)
    val eRef = intercept[Exception](IcebergTable.readRef(spark, t, "v1"))
    assert(eRef.getMessage.contains("does not exist"), eRef.getMessage)
    // directed: dangling target, hand-re-pointing main, bad type
    val eDangle = intercept[Exception](
      IcebergWriter.setRef(spark, t, "x", 12345L))
    assert(eDangle.getMessage.contains("not in the metadata"),
      eDangle.getMessage)
    val eMain = intercept[Exception](
      IcebergWriter.setRef(spark, t, "main", snapA, "branch"))
    assert(eMain.getMessage.contains("CURRENT"), eMain.getMessage)
    val eType = intercept[Exception](
      IcebergWriter.setRef(spark, t, "y", snapA, "nope"))
    assert(eType.getMessage.contains("tag or branch"), eType.getMessage)
    // metadata-log: every commit appended its superseded metadata file
    val metaTxt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$t/metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(f => f.getName.stripPrefix("v")
          .stripSuffix(".metadata.json").toLong).toPath), "UTF-8")
    assert(metaTxt.contains("\"metadata-log\""), metaTxt.take(300))
    val nLog = "\"metadata-file\"".r.findAllIn(metaTxt).size
    assert(nLog >= 5, s"one breadcrumb per superseded version: $nLog")
  }

  test("iceberg expireSnapshots after a DV merge: a carried DV entry " +
    "keeps its (older) puffin alive; orphaned merge inputs expire") {
    val t = tmp()
    // two files: file A (ids 1-8), file B (ids 9-12)
    IcebergWriter.writeAppend(spark,
      (1L to 8L).map(i => (i, s"t$i")).toDF("id", "text").coalesce(1),
      t, formatVersion = 3)
    IcebergWriter.writeAppend(spark,
      (9L to 12L).map(i => (i, s"t$i")).toDF("id", "text").coalesce(1), t)
    // DV on file B (will be CARRIED through the later merge commit)
    IcebergWriter.writeDelete(spark, t, $"id" === 9L)
    // DV on file A, then a second delete on A forces the MERGE — the
    // new manifest carries B's entry (status EXISTING, original seq)
    // pointing into B's ORIGINAL puffin
    IcebergWriter.writeDelete(spark, t, $"id" === 2L)
    IcebergWriter.writeDelete(spark, t, $"id" === 4L)
    val puffinsBefore = new java.io.File(s"$t/data").listFiles()
      .filter(_.getName.endsWith(".puffin")).map(_.getName).toSet
    assert(puffinsBefore.size == 3, s"three delete commits: $puffinsBefore")
    // expire everything but the current snapshot: the carried entry's
    // puffin (delete #1's) MUST survive — the current manifest names it
    val deleted = IcebergWriter.expireSnapshots(spark, t, keepLast = 1)
    assert(deleted > 0, "expiration reclaimed something")
    val puffinsAfter = new java.io.File(s"$t/data").listFiles()
      .filter(_.getName.endsWith(".puffin")).map(_.getName).toSet
    val shapes = IcebergTable.deleteShapes(spark, t)
    val livePuffins = shapes.dvByFile.values.flatten
      .map(d => new java.io.File(d._1).getName).toSet
    assert(livePuffins.subsetOf(puffinsAfter),
      s"expiration deleted a puffin the current manifests reference: " +
        s"live=$livePuffins after=$puffinsAfter")
    // the superseded A-puffin (delete #2's) is no longer referenced and
    // expired with its snapshots
    assert(puffinsAfter.size < puffinsBefore.size,
      s"the superseded puffin expired: $puffinsAfter")
    assert(IcebergTable.read(spark, t).select($"id").as[Long]
      .collect().sorted.toSeq ==
      (1L to 12L).filterNot(Set(2L, 4L, 9L)),
      "survivors intact after the expiration")
  }

  test("iceberg v3 delete on a table carrying v2 positional deletes: " +
    "the positions migrate into the DVs, zero live positional entries") {
    val t = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 12L).map(i => (i, s"t$i")).toDF("id", "text").coalesce(1), t)
    // v2 positional delete, then a FOREIGN upgrade to format-version 3
    IcebergWriter.writeDelete(spark, t, $"id" === 3L || $"id" === 9L)
    val metaDir = new java.io.File(s"$t/metadata")
    def latestMetaFile(): java.io.File = metaDir.listFiles()
      .filter(_.getName.endsWith(".metadata.json"))
      .maxBy(f => f.getName.stripPrefix("v")
        .stripSuffix(".metadata.json").toLong)
    val mf = latestMetaFile()
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      "UTF-8")
    assert(txt.contains("\"format-version\": 2"), txt.take(200))
    java.nio.file.Files.write(mf.toPath,
      txt.replace("\"format-version\": 2", "\"format-version\": 3")
        .getBytes("UTF-8"))
    // the next v3 DELETE absorbs the live positional rows into the DV
    IcebergWriter.writeDelete(spark, t, $"id" === 5L)
    assert(IcebergTable.read(spark, t).select($"id").as[Long]
      .collect().sorted.toSeq ==
      (1L to 12L).filterNot(Set(3L, 5L, 9L)),
      "survivors reflect both the migrated and the new positions")
    // zero live positional files, exactly one DV on the one data file
    val shapes = graft.sources.IcebergTable.deleteShapes(spark, t)
    assert(shapes.posDeleteFiles.isEmpty,
      s"positional entries all migrated: ${shapes.posDeleteFiles}")
    assert(shapes.dvByFile.size == 1,
      s"one merged DV on the single data file: ${shapes.dvByFile}")
    // stacking another delete keeps merging through the DV route
    IcebergWriter.writeDelete(spark, t, $"id" === 1L)
    assert(IcebergTable.read(spark, t).select($"id").as[Long]
      .collect().sorted.toSeq ==
      (1L to 12L).filterNot(Set(1L, 3L, 5L, 9L)))
    assert(graft.sources.IcebergTable.deleteShapes(spark, t)
      .dvByFile.size == 1, "still one DV per file")
  }

  test("iceberg v3 DV deletes on a PARTITIONED table: entries scoped to " +
    "their referenced file's tuple, untouched partitions clean") {
    val table = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 24L).map(i => (i, s"t$i", i % 3)).toDF("id", "text", "b")
        .repartition(1),
      table, partitionBy = Seq("b"), formatVersion = 3)
    // the condition touches partitions 0 and 1 only
    IcebergWriter.writeDelete(spark, table, $"id" % 6 === 0 || $"id" === 7L)
    val after = IcebergTable.read(spark, table)
    assert(after.select($"id").as[Long].collect().sorted.toSeq ==
      (1L to 24L).filterNot(i => i % 6 == 0 || i == 7L),
      "partitioned v3 DV delete serves survivors")
    // the DV manifest's entries carry their referenced files' partition
    // tuples — and only for the touched partitions
    val metaDir = new java.io.File(s"$table/metadata")
    val delManifest = metaDir.listFiles()
      .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro"))
      .maxBy(_.lastModified)
    val entries = graft.sources.AvroOcf.read(spark, delManifest.getPath)
    assert(entries.select($"data_file.file_format").as[String].collect()
      .forall(_ == "PUFFIN"))
    val tuples = entries.select($"data_file.partition.b").as[Long]
      .collect().toSet
    assert(tuples == Set(0L, 1L),
      s"DV entries scope to touched partitions only: $tuples")
    // partition pruning: the untouched partition's read carries no
    // delete-side scan (data files only in the plan)
    val p2 = IcebergTable.readPartitions(spark, table, Map("b" -> "2"))
    assert(p2.select($"id").as[Long].collect().sorted.toSeq ==
      (1L to 24L).filter(_ % 3 == 2),
      "untouched partition serves every row")
    // a bucket-transform v3 table round-trips the same way
    val tb = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 30L).map(i => (i, s"t$i")).toDF("id", "text"), tb,
      partitionBy = Seq("bucket(3, id)"), formatVersion = 3)
    IcebergWriter.writeDelete(spark, tb, $"id" % 10 === 1L)
    assert(IcebergTable.read(spark, tb).select($"id").as[Long]
      .collect().sorted.toSeq == (1L to 30L).filterNot(_ % 10 == 1),
      "v3 DV delete through a bucket spec")
  }

  test("delta writeUpdate: DV kill + rewritten images in one commit") {
    val table = tmp()
    val df = (1L to 10L).map(i => (i, s"t$i")).toDF("id", "text")
    DeltaWriter.writeAppend(spark, df, table)
    val filesBefore = DeltaTable.read(spark, table).inputFiles.toSet

    val v1 = DeltaWriter.writeUpdate(spark, table, $"id" % 3 === 0,
      Map("text" -> concat(lit("u-"), $"id")))
    assert(v1 == 1L)
    val after = DeltaTable.read(spark, table).orderBy($"id")
    assert(after.count() == 10)
    assert(after.select($"text").as[String].collect().toSeq ==
      (1L to 10L).map(i => if (i % 3 == 0) s"u-$i" else s"t$i"))
    // the original files still serve their surviving rows (DV kill, no
    // rewrite of unmatched rows); the updated images add NEW files
    val filesAfter = DeltaTable.read(spark, table).inputFiles.toSet
    assert(filesBefore.subsetOf(filesAfter),
      s"$filesBefore vs $filesAfter")
    assert(filesAfter.size > filesBefore.size)
    // ONE commit: time travel to v0 shows the pre-update state
    assert(DeltaTable.read(spark, table, versionAsOf = Some(0L))
      .filter($"text".startsWith("u-")).count() == 0)
    // a second update touching rows the first rewrote DV-kills the
    // first update's own files
    val v2 = DeltaWriter.writeUpdate(spark, table, $"id" === 6L,
      Map("text" -> lit("z")))
    assert(v2 == 2L)
    assert(DeltaTable.read(spark, table).filter($"id" === 6L)
      .select($"text").as[String].head() == "z")
    // an empty UPDATE is a no-op, not an empty commit
    assert(DeltaWriter.writeUpdate(spark, table, $"id" === 999L,
      Map("text" -> lit("nope"))) == 2L)
    // guards: unknown SET column, cap, append-only
    val eCol = intercept[Exception] {
      DeltaWriter.writeUpdate(spark, table, lit(true),
        Map("nope" -> lit("x")))
    }
    assert(eCol.getMessage.contains("SET column"), eCol.getMessage)
    val eCap = intercept[Exception] {
      DeltaWriter.writeUpdate(spark, table, lit(true),
        Map("text" -> lit("x")), maxUpdatedRows = 2L)
    }
    assert(eCap.getMessage.contains("rewrite"), eCap.getMessage)
    // no temp litter from any of the updates
    val litter = new java.io.File(table).listFiles()
      .filter(_.getName.startsWith("_tmp_update"))
    assert(litter.isEmpty, litter.toSeq)
  }

  test("delta writeUpdate: partition-column update moves rows across dirs") {
    val table = tmp()
    DeltaWriter.writeAppend(spark,
      Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"))
        .toDF("id", "text", "lang"),
      table, partitionBy = Seq("lang"))
    DeltaWriter.writeUpdate(spark, table, $"id" === 2L,
      Map("lang" -> lit("fr")))
    val got = DeltaTable.read(spark, table).orderBy($"id")
      .select($"id", $"lang").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "en"), (2L, "fr"), (3L, "de")))
    // the moved row's new file lives under its NEW partition dir
    val frFiles = DeltaTable.read(spark, table).filter($"lang" === "fr")
      .inputFiles
    assert(frFiles.nonEmpty && frFiles.forall(_.contains("lang=fr")),
      frFiles.toSeq)
  }

  test("iceberg writeDelete: partition-scoped kills on a partitioned table") {
    val table = tmp()
    val df = (1L to 12L).map(i => (i, s"t$i", i % 3)).toDF("id", "text", "b")
    IcebergWriter.writeAppend(spark, df, table, partitionBy = Seq("b"))
    val before = IcebergTable.read(spark, table)
    val filesBefore = before.inputFiles.toSet
    val untouched = IcebergTable.readPartitions(spark, table, Map("b" -> "2"))
      .inputFiles.toSet

    // kill rows of ONE bucket
    IcebergWriter.writeDelete(spark, table, $"b" === 1L && $"id" > 5L)
    val after = IcebergTable.read(spark, table)
    assert(after.select($"id").as[Long].collect().sorted.toSeq ==
      (1L to 12L).filterNot(i => i % 3 == 1 && i > 5), "survivors")
    // NO data file rewritten anywhere (inputFiles also lists the
    // delete-side scan — compare the DATA files only); the untouched
    // bucket's file set is byte-identical
    assert(after.inputFiles.filter(_.contains("p__b=")).toSet == filesBefore)
    assert(IcebergTable.readPartitions(spark, table, Map("b" -> "2"))
      .inputFiles.filter(_.contains("p__b=")).toSet == untouched)
    // the delete manifest's entries carry the partition struct, scoped to
    // the killed tuple only
    val conf = spark.sparkContext.hadoopConfiguration
    val metaDir = new java.io.File(s"$table/metadata")
    val delManifest = metaDir.listFiles()
      .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro"))
      .sortBy(_.lastModified).last
    val entries = graft.sources.AvroOcf.read(spark, delManifest.getPath)
    assert(entries.select($"data_file.content").as[Int].collect()
      .forall(_ == 1))
    assert(entries.select($"data_file.partition.b").as[Long].collect()
      .toSeq.distinct == Seq(1L), "delete files scoped to bucket 1")
    // a delete SPANNING partitions writes one scoped file per tuple
    IcebergWriter.writeDelete(spark, table, $"id" <= 2L)
    assert(IcebergTable.read(spark, table)
      .select($"id").as[Long].collect().sorted.toSeq ==
      (3L to 12L).filterNot(i => i % 3 == 1 && i > 5))
    // empty delete on the partitioned table stays a no-op
    val snaps = IcebergTable.snapshots(spark, table).count()
    IcebergWriter.writeDelete(spark, table, $"id" === 999L)
    assert(IcebergTable.snapshots(spark, table).count() == snaps)
  }

  test("iceberg partitioned UPDATE/MERGE: scoped kills, partitioned " +
    "images, cross-partition moves") {
    // UPDATE on an identity-partitioned table
    val t = tmp()
    val df = (1L to 12L).map(i => (i, s"t$i", i % 3)).toDF("id", "text", "b")
    IcebergWriter.writeAppend(spark, df, t, partitionBy = Seq("b"))
    val untouched = IcebergTable.readPartitions(spark, t, Map("b" -> "2"))
      .inputFiles.filter(_.contains("p__b=")).toSet
    IcebergWriter.writeUpdate(spark, t, $"b" === 1L,
      Map("text" -> concat(lit("u"), $"text")))
    val after = IcebergTable.read(spark, t)
    val want = (1L to 12L).map(i =>
      (i, if (i % 3 == 1) s"ut$i" else s"t$i", i % 3))
    assert(after.orderBy($"id").select($"id", $"text", $"b")
      .as[(Long, String, Long)].collect().toSeq == want,
      "updated images replace matched rows, others untouched")
    // the untouched partition's file set is byte-identical
    assert(IcebergTable.readPartitions(spark, t, Map("b" -> "2"))
      .inputFiles.filter(_.contains("p__b=")).toSet == untouched)
    // the rewritten partition prunes: a b=1 read scans fewer files than
    // the whole table, and every row carries the update
    val p1 = IcebergTable.readPartitions(spark, t, Map("b" -> "1"))
    assert(p1.count() == 4 &&
      p1.select($"text").as[String].collect().forall(_.startsWith("u")))
    assert(p1.inputFiles.length < after.inputFiles.length)
    // updating the PARTITION column moves the row to its new partition
    IcebergWriter.writeUpdate(spark, t, $"id" === 2L, Map("b" -> lit(0L)))
    assert(IcebergTable.readPartitions(spark, t, Map("b" -> "0"))
      .select($"id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 6L, 9L, 12L), "row 2 moved into b=0")
    assert(!IcebergTable.readPartitions(spark, t, Map("b" -> "2"))
      .select($"id").as[Long].collect().contains(2L))
    // empty partitioned update stays a no-op
    val snaps = IcebergTable.snapshots(spark, t).count()
    IcebergWriter.writeUpdate(spark, t, $"id" === 999L,
      Map("text" -> lit("x")))
    assert(IcebergTable.snapshots(spark, t).count() == snaps)

    // MERGE on an identity-partitioned table: a matched key can move
    // partitions (its source row's partition value wins), inserts land
    // in their own partitions, untouched partitions stay byte-identical
    val t2 = tmp()
    IcebergWriter.writeAppend(spark, df, t2, partitionBy = Seq("b"))
    val files0 = IcebergTable.read(spark, t2)
      .inputFiles.filter(_.contains("p__b=")).toSet
    val src = Seq((2L, "m2", 0L), (13L, "m13", 1L)).toDF("id", "text", "b")
    IcebergWriter.writeMerge(spark, t2, src, Seq("id"))
    val got2 = IcebergTable.read(spark, t2).orderBy($"id")
      .select($"id", $"text", $"b").as[(Long, String, Long)].collect().toSeq
    assert(got2 == ((1L to 12L).map(i =>
      if (i == 2L) (i, "m2", 0L) else (i, s"t$i", i % 3)) :+
      ((13L, "m13", 1L))).toSeq, s"merge upsert rows: $got2")
    // no data file was rewritten: every original file survives (kills
    // are positional-delete files beside them)
    val filesAfter = IcebergTable.read(spark, t2)
      .inputFiles.filter(_.contains("p__b=")).toSet
    assert(files0.subsetOf(filesAfter),
      "merge must never rewrite existing data files")
    // partition pruning on the insert's partition sees the new row
    assert(IcebergTable.readPartitions(spark, t2, Map("b" -> "1"))
      .select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 4L, 7L, 10L, 13L))

    // spec-shape arm (no stock reader in the sandbox): the merge
    // snapshot's own manifests carry everything the table spec requires
    // a foreign scan planner to see — data entries content=0 and delete
    // entries content=1, each with a typed partition STRUCT scoped to
    // its file, and the manifest metadata carrying the spec fields json
    val metaDir2 = new java.io.File(s"$t2/metadata")
    val mergeManifests = metaDir2.listFiles()
      .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro"))
      .sortBy(_.lastModified).takeRight(2).sortBy(_.getName)
    val allEntries = mergeManifests.map(m =>
      graft.sources.AvroOcf.read(spark, m.getPath))
    val dataEntries = allEntries.map(df =>
      df.select($"status", $"data_file.content", $"data_file.partition.b")
        .as[(Int, Int, Long)].collect().toSeq).reduce(_ ++ _)
    assert(dataEntries.forall(_._1 == 1), "merge entries are ADDED")
    // the one matched key (id 2) lived in partition b=2 — the kill is
    // scoped there and nowhere else
    val killTuples = dataEntries.filter(_._2 == 1).map(_._3).distinct.sorted
    assert(killTuples == Seq(2L),
      s"delete files scoped to the matched key's partition: $killTuples")
    val addTuples = dataEntries.filter(_._2 == 0).map(_._3).distinct.sorted
    assert(addTuples == Seq(0L, 1L),
      s"appended source files scoped to their own partitions: $addTuples")
  }

  test("writeMerge: upsert semantics, guards, and one-commit atomicity") {
    // Delta
    val dt = tmp()
    DeltaWriter.writeAppend(spark,
      (1L to 6L).map(i => (i, s"t$i")).toDF("id", "text"), dt)
    val src = Seq((2L, "u2"), (4L, "u4"), (9L, "n9")).toDF("id", "text")
    val v1 = DeltaWriter.writeMerge(spark, dt, src, Seq("id"))
    assert(v1 == 1L)
    val got = DeltaTable.read(spark, dt).orderBy($"id")
      .select($"id", $"text").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "t1", 2L -> "u2", 3L -> "t3", 4L -> "u4",
      5L -> "t5", 6L -> "t6", 9L -> "n9"))
    // one commit: v0 time travel shows the pre-merge state
    assert(DeltaTable.read(spark, dt, versionAsOf = Some(0L)).count() == 6)
    // duplicate source keys are directed, schema mismatch is directed
    val eDup = intercept[Exception] {
      DeltaWriter.writeMerge(spark, dt,
        Seq((2L, "a"), (2L, "b")).toDF("id", "text"), Seq("id"))
    }
    assert(eDup.getMessage.contains("duplicate"), eDup.getMessage)
    val eSchema = intercept[Exception] {
      DeltaWriter.writeMerge(spark, dt,
        Seq((2L, 1.0)).toDF("id", "score"), Seq("id"))
    }
    assert(eSchema.getMessage.contains("schema"), eSchema.getMessage)
    // an empty source is a no-op
    assert(DeltaWriter.writeMerge(spark, dt,
      Seq.empty[(Long, String)].toDF("id", "text"), Seq("id")) == v1)
    // no temp litter
    assert(new java.io.File(dt).listFiles()
      .forall(!_.getName.startsWith("_tmp_merge")))

    // Iceberg twin
    val it = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 6L).map(i => (i, s"t$i")).toDF("id", "text"), it)
    val s1 = IcebergWriter.writeMerge(spark, it, src, Seq("id"))
    val iGot = IcebergTable.read(spark, it).orderBy($"id")
      .select($"id", $"text").as[(Long, String)].collect().toSeq
    assert(iGot == got)
    // ONE overwrite snapshot
    val snaps = IcebergTable.snapshots(spark, it)
      .orderBy($"timestamp_ms").collect()
    assert(snaps.length == 2 && snaps(1).getString(2) == "overwrite")
    assert(snaps(1).getLong(0) == s1)
    // merge with NO matched keys still appends (insert-only source, no
    // delete manifest)
    IcebergWriter.writeMerge(spark, it,
      Seq((20L, "n20")).toDF("id", "text"), Seq("id"))
    assert(IcebergTable.read(spark, it).count() == 8)
    val eIDup = intercept[Exception] {
      IcebergWriter.writeMerge(spark, it,
        Seq((2L, "a"), (2L, "b")).toDF("id", "text"), Seq("id"))
    }
    assert(eIDup.getMessage.contains("duplicate"), eIDup.getMessage)
  }

  test("row-level DML parity: one script on Delta and Iceberg v2, same " +
    "rows, same guards") {
    final case class Fmt(name: String, metaDir: String,
        append: (org.apache.spark.sql.DataFrame, String) => Long,
        merge: (String, org.apache.spark.sql.DataFrame, Seq[String]) => Long,
        update: (String, org.apache.spark.sql.Column,
          Map[String, org.apache.spark.sql.Column]) => Long,
        delete: (String, org.apache.spark.sql.Column) => Long,
        read: String => org.apache.spark.sql.DataFrame)
    val formats = Seq(
      Fmt("delta", "_delta_log",
        (df, t) => DeltaWriter.writeAppend(spark, df, t),
        (t, src, k) => DeltaWriter.writeMerge(spark, t, src, k),
        (t, c, set) => DeltaWriter.writeUpdate(spark, t, c, set),
        (t, c) => DeltaWriter.writeDelete(spark, t, c),
        t => DeltaTable.read(spark, t)),
      Fmt("iceberg", "metadata",
        (df, t) => IcebergWriter.writeAppend(spark, df, t),
        (t, src, k) => IcebergWriter.writeMerge(spark, t, src, k),
        (t, c, set) => IcebergWriter.writeUpdate(spark, t, c, set),
        (t, c) => IcebergWriter.writeDelete(spark, t, c),
        t => IcebergTable.read(spark, t)))
    def rows(xs: (Long, String, String)*) = xs.toDF("id", "a", "b")
    val finals = formats.map { f =>
      def directed(needle: String)(body: => Any): Unit = {
        val e = intercept[TableCommit.UnsupportedWrite](body)
        assert(e.getMessage.contains(needle), s"${f.name}: ${e.getMessage}")
      }
      val t = tmp()
      f.append(rows((1L to 6L).map(i => (i, s"a$i", s"b$i")): _*), t)
      f.merge(t, rows((2L, "u2", "v2"), (9L, "n9", "m9")), Seq("id"))
      f.update(t, $"id" <= 3L, Map("a" -> $"b", "b" -> $"a"))
      val last = f.delete(t, $"id" === 5L)
      // an empty source is a no-op: the current version / snapshot
      assert(f.merge(t, rows(), Seq("id")) == last, f.name)
      directed("duplicate keys")(
        f.merge(t, rows((2L, "x", "y"), (2L, "z", "w")), Seq("id")))
      directed("MERGE key 'nope'")(f.merge(t, rows((2L, "x", "y")), Seq("nope")))
      directed("SET column 'nope'")(
        f.update(t, lit(true), Map("nope" -> lit("x"))))
      directed("schema")(
        f.merge(t, Seq((2L, 1.0)).toDF("id", "score"), Seq("id")))
      val dupTarget = tmp()
      f.append(rows((7L, "a", "b"), (7L, "c", "d")), dupTarget)
      directed("TARGET")(f.merge(dupTarget, rows((7L, "u", "v")), Seq("id")))
      // none of the writes, failed ones included, leaves its temp
      // materialization behind
      Seq(t, dupTarget).foreach { d =>
        val litter = new java.io.File(s"$d/${f.metaDir}").listFiles()
          .filter(_.getName.startsWith("_tmp_"))
        assert(litter.isEmpty, s"${f.name}: ${litter.toSeq}")
      }
      f.read(t).orderBy($"id").select($"id", $"a", $"b")
        .as[(Long, String, String)].collect().toSeq
    }
    assert(finals.distinct.size == 1, finals)
    assert(finals.head == Seq((1L, "b1", "a1"), (2L, "v2", "u2"),
      (3L, "b3", "a3"), (4L, "a4", "b4"), (6L, "a6", "b6"),
      (9L, "n9", "m9")))

    // where the formats differ on purpose: Delta's DV kill collects
    // positions, so its MERGE is capped; Iceberg v2's positional kill
    // is not
    val dt = tmp()
    val it = tmp()
    DeltaWriter.writeAppend(spark, rows((1L, "a", "b"), (2L, "a", "b")), dt)
    IcebergWriter.writeAppend(spark, rows((1L, "a", "b"), (2L, "a", "b")), it)
    val both = rows((1L, "x", "y"), (2L, "x", "y"))
    val eCap = intercept[TableCommit.UnsupportedWrite](
      DeltaWriter.writeMerge(spark, dt, both, Seq("id"), maxUpdatedRows = 1L))
    assert(eCap.getMessage.contains("small matched sets"), eCap.getMessage)
    IcebergWriter.writeMerge(spark, it, both, Seq("id"))
    assert(IcebergTable.read(spark, it).filter($"a" === "x").count() == 2)

    // a MERGE that fails after writing its delete files reclaims them:
    // the source's '' partition value fails the image write, which runs
    // after the matched row's positional-delete file is placed
    val pt = tmp()
    IcebergWriter.writeAppend(spark, rows((1L, "a", "en"), (2L, "b", "en")),
      pt, partitionBy = Seq("b"))
    def dataFiles(): Seq[String] = {
      val it = new Path(s"$pt/data").getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .listFiles(new Path(s"$pt/data"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath
        .toString).filterNot(_.endsWith(".crc")).toSeq.sorted
    }
    val beforeFail = dataFiles()
    intercept[TableCommit.UnsupportedWrite](IcebergWriter.writeMerge(spark,
      pt, rows((1L, "x", "")), Seq("id")))
    assert(dataFiles() == beforeFail)
  }

  test("merge-on-read read parity: Delta DV, Iceberg v2 positional " +
    "delete and v3 Puffin DV serve the same rows, keys and increments") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    final case class Fmt(name: String,
        append: (org.apache.spark.sql.DataFrame, String) => Unit,
        delete: (String, org.apache.spark.sql.Column) => Unit,
        read: String => org.apache.spark.sql.DataFrame,
        readWhere: (String, Seq[org.apache.spark.sql.sources.Filter]) =>
          org.apache.spark.sql.DataFrame,
        activeFiles: String => Set[String],
        current: String => Long,
        increment: (String, Long, Option[Long]) => org.apache.spark.sql.DataFrame,
        killMarker: String => Boolean)
    def listed(dir: String): Seq[String] = {
      val it = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(new Path(dir), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
    }
    def iceberg(v: Int) = Fmt(s"iceberg v$v",
      (df, t) => IcebergWriter.writeAppend(spark, df, t, formatVersion = v),
      (t, c) => IcebergWriter.writeDelete(spark, t, c),
      t => IcebergTable.read(spark, t),
      (t, fs) => IcebergTable.readWhere(spark, t, fs),
      t => IcebergTable.activeDataScopes(spark, t).map(p => sources.PathUris.canon(p._1))
        .toSet,
      t => IcebergTable.currentSnapshotId(spark, t).get,
      (t, from, to) => IcebergTable.readAppended(spark, t, from, to),
      t => listed(s"$t/data").exists(_.endsWith(".puffin")) == (v == 3) &&
        listed(s"$t/metadata").exists(_.endsWith("-deletes.avro")) == (v == 2))
    val formats = Seq(
      Fmt("delta",
        (df, t) => DeltaWriter.writeAppend(spark, df, t),
        (t, c) => DeltaWriter.writeDelete(spark, t, c),
        t => DeltaTable.read(spark, t),
        (t, fs) => DeltaTable.readWhere(spark, t, fs),
        t => DeltaTable.snapshotState(spark, t).files.map(f => sources.PathUris
          .canon(DeltaTable.resolveAdd(t, f._1))).toSet,
        t => DeltaTable.latestVersion(spark, t),
        (t, from, to) => DeltaTable.readChanges(spark, t, from, to),
        t => listed(s"$t/_delta_log").exists(p =>
          graft.sources.FsText.read(new Path(p).getFileSystem(
            spark.sparkContext.hadoopConfiguration), new Path(p))
            .contains("deletionVector"))),
      iceberg(2), iceberg(3))
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"a$i", i * 0.5))
      .toDF("id", "a", "x").repartition(1)
    def collected(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"a", $"x").orderBy($"id").as[(Long, String, Double)]
        .collect().toSeq
    val filters = Seq(GreaterThanOrEqual("id", 7L))
    val results = formats.map { f =>
      val t = tmp()
      // three files with disjoint id ranges, so stats prune two of them
      Seq(1L to 4L, 5L to 8L, 9L to 12L).foreach(r => f.append(rows(r), t))
      f.delete(t, $"id" === 6L)
      assert(f.killMarker(t), s"${f.name}: no kill file of the expected kind")
      val all = f.read(t)
      val where = f.readWhere(t, filters)
      assert(collected(where) == collected(all.filter($"id" >= 7L)), f.name)
      assert(where.inputFiles.length < all.inputFiles.length,
        s"${f.name}: ${where.inputFiles.toSeq} vs ${all.inputFiles.toSeq}")
      // every row key names an active data file, at a position inside it
      val keyed = (if (f.name == "delta") DeltaTable.readWithRowKey(spark, t)
        else IcebergTable.readWithRowKey(spark, t))
        .select($"__row_path", $"__row_pos").as[(String, Long)].collect()
      assert(keyed.length == all.count(), f.name)
      val active = f.activeFiles(t)
      keyed.groupBy(_._1).foreach { case (path, ks) =>
        assert(active(path), s"${f.name}: $path is not an active data file")
        val n = spark.read.parquet(path).count()
        assert(ks.forall(k => k._2 >= 0 && k._2 < n), s"${f.name}: $path")
      }
      // an empty range is a typed empty frame with the table schema
      val v = f.current(t)
      val none = f.increment(t, v, Some(v))
      assert(none.isEmpty, f.name)
      assert(none.schema.map(c => (c.name, c.dataType)) ==
        all.schema.map(c => (c.name, c.dataType)), f.name)
      val served = collected(all)
      f.append(rows(Seq(13L, 14L)), t)
      (served, collected(f.increment(t, v, None)))
    }
    assert(results.map(_._1).distinct.size == 1, results.map(_._1))
    assert(results.head._1.map(_._1) == (1L to 12L).filterNot(_ == 6L))
    assert(results.map(_._2).distinct.size == 1, results.map(_._2))
    assert(results.head._2.map(_._1) == Seq(13L, 14L))
  }

  test("review fixes: SET swap, insert-only merge protocol, target dups, " +
    "constraints, CDF deletes") {
    // SQL UPDATE semantics: every SET evaluates against the PRE-update
    // row, so a=b, b=a swaps
    val dt = tmp()
    DeltaWriter.writeAppend(spark,
      Seq((1L, "x", "y")).toDF("id", "a", "b"), dt)
    DeltaWriter.writeUpdate(spark, dt, lit(true),
      Map("a" -> col("b"), "b" -> col("a")))
    val r = DeltaTable.read(spark, dt).select($"a", $"b")
      .as[(String, String)].head()
    assert(r == ("y", "x"), r)

    // an insert-only MERGE must NOT upgrade the protocol to (3,7)
    val mt = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "t")).toDF("id", "text"), mt)
    DeltaWriter.writeMerge(spark, mt,
      Seq((2L, "n")).toDF("id", "text"), Seq("id"))
    val fsys = new Path(mt).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mLog = graft.sources.FsText.read(fsys,
      new Path(s"$mt/_delta_log/00000000000000000001.json"))
    assert(!mLog.contains("deletionVectors"), mLog)
    assert(DeltaTable.read(spark, mt).count() == 2)

    // duplicate TARGET keys are directed (a per-key replacement would
    // silently shrink the table)
    val tt = tmp()
    DeltaWriter.writeAppend(spark,
      Seq((7L, "t7a"), (7L, "t7b")).toDF("id", "text"), tt)
    val eT = intercept[Exception] {
      DeltaWriter.writeMerge(spark, tt,
        Seq((7L, "u")).toDF("id", "text"), Seq("id"))
    }
    assert(eT.getMessage.contains("TARGET"), eT.getMessage)

    // CHECK constraints are EVALUATED on the image-writing paths: a
    // violating batch is rejected whole, a passing one commits
    val ct = tmp()
    val schemaStr = Seq((1L, "a")).toDF("id", "text").schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$ct/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ct/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""" +
        "\n" +
        s"""{"metaData":{"id":"c","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":[],""" +
        s""""configuration":{"delta.constraints.pos":"id > 0"},"createdTime":0}}""")
        .getBytes("UTF-8"))
    val eC = intercept[graft.sources.TableCommit.ConstraintViolation] {
      DeltaWriter.writeAppend(spark,
        Seq((1L, "a"), (0L, "bad")).toDF("id", "text"), ct)
    }
    assert(eC.getMessage.contains("CHECK constraint pos"), eC.getMessage)
    assert(!new java.io.File(s"$ct/_delta_log/00000000000000000001.json")
      .exists(), "a violating batch must not commit")
    DeltaWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), ct)
    assert(DeltaTable.read(spark, ct).count() == 1)

    // a CDF-enabled table's DELETE serves row-level cdc in BOTH shapes
    val ft = tmp()
    DeltaWriter.writeAppend(spark,
      spark.sparkContext.parallelize((1L to 12L).map(i => (i, s"t$i")), 3)
        .toDF("id", "text"),
      ft, properties = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWriter.writeDelete(spark, ft, $"id" % 4 === 0) // DV shape
    val cdf1 = DeltaTable.readCdf(spark, ft, 1L, Some(1L))
    assert(cdf1.select($"_change_type").distinct().as[String]
      .collect().toSeq == Seq("delete"))
    assert(cdf1.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(4L, 8L, 12L))
    DeltaWriter.writeDelete(spark, ft, $"id" <= 6L, maxDeletedRows = 2L)
    val cdf2 = DeltaTable.readCdf(spark, ft, 2L, Some(2L)) // rewrite shape
    assert(cdf2.select($"_change_type").distinct().as[String]
      .collect().toSeq == Seq("delete"))
    assert(cdf2.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L, 6L))
    assert(DeltaTable.read(spark, ft).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(7L, 9L, 10L, 11L))
  }

  test("delta compact: DV debt repaid, change consumers skip the commit") {
    val table = tmp()
    val df = spark.sparkContext
      .parallelize((1L to 20L).map(i => (i, s"t$i")), 4).toDF("id", "text")
    DeltaWriter.writeAppend(spark, df, table,
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWriter.writeDelete(spark, table, $"id" % 5 === 0) // DVs on files
    val before = DeltaTable.read(spark, table)
    val nBefore = before.inputFiles.length
    val v2 = DeltaWriter.compact(spark, table)
    assert(v2 == 2L)
    val after = DeltaTable.read(spark, table)
    // same rows, fewer files, NO deletion vector left in the active set
    assert(after.select($"id").as[Long].collect().sorted.toSeq ==
      (1L to 20L).filter(_ % 5 != 0))
    assert(after.inputFiles.length < nBefore,
      s"${after.inputFiles.length} vs $nBefore")
    val log2 = graft.sources.FsText.read(
      new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(s"$table/_delta_log/00000000000000000002.json"))
    assert(log2.contains(""""dataChange":false"""), log2)
    assert(log2.split('\n').filter(_.contains("\"add\""))
      .forall(!_.contains("deletionVector")), log2)
    // change consumers SKIP the compaction: readChanges over it is
    // empty, readCdf over it is empty (dataChange=false everywhere)
    assert(DeltaTable.readChanges(spark, table, 1L).isEmpty)
    assert(DeltaTable.readCdf(spark, table, 2L, Some(2L)).isEmpty)
    // time travel still reaches the pre-compaction layout
    assert(DeltaTable.read(spark, table, versionAsOf = Some(1L))
      .count() == 16)
    // nothing to do -> no empty commit
    assert(DeltaWriter.compact(spark, table) == 2L)
  }

  test("delta vacuum: tombstoned files deleted, active state intact") {
    val table = tmp()
    val df = spark.sparkContext
      .parallelize((1L to 20L).map(i => (i, s"t$i")), 4).toDF("id", "text")
    DeltaWriter.writeAppend(spark, df, table)
    val originals = DeltaTable.read(spark, table).inputFiles.toSet
    DeltaWriter.writeDelete(spark, table, $"id" % 2 === 0,
      mode = "rewrite")
    // inside the retention window nothing is deleted
    assert(DeltaWriter.vacuum(spark, table) == 0)
    assert(originals.forall(f =>
      new java.io.File(new java.net.URI(f)).exists()))
    // retention 0: the four retired originals go
    val n = DeltaWriter.vacuum(spark, table, retentionMs = 0L)
    assert(n == 4, s"deleted $n")
    assert(originals.forall(f =>
      !new java.io.File(new java.net.URI(f)).exists()))
    // the snapshot still serves exactly the survivors
    assert(DeltaTable.read(spark, table).select($"id").as[Long]
      .collect().sorted.toSeq == (1L to 20L).filter(_ % 2 != 0))
    // idempotent
    assert(DeltaWriter.vacuum(spark, table, retentionMs = 0L) == 0)
  }

  test("iceberg rewriteDataFiles + expireSnapshots: the maintenance cycle") {
    val table = tmp()
    val df = spark.sparkContext
      .parallelize((1L to 24L).map(i => (i, s"t$i", i % 3)), 4)
      .toDF("id", "text", "b")
    IcebergWriter.writeAppend(spark, df, table, partitionBy = Seq("b"))
    IcebergWriter.writeDelete(spark, table, $"b" === 1L && $"id" > 9L)
    val preRewrite = IcebergTable.snapshots(spark, table).count()
    val survivors = (1L to 24L).filterNot(i => i % 3 == 1 && i > 9)

    val snapR = IcebergWriter.rewriteDataFiles(spark, table)
    val after = IcebergTable.read(spark, table)
    assert(after.select($"id").as[Long].collect().sorted.toSeq == survivors)
    // the merge-on-read tax is GONE: no delete-side scan in the plan
    // (inputFiles lists data files only) and far fewer files
    assert(after.inputFiles.forall(_.contains("p__b=")), after.inputFiles.toSeq)
    assert(after.inputFiles.length <= 3, after.inputFiles.length)
    // partition pruning still works on the compacted layout
    assert(IcebergTable.readPartitions(spark, table, Map("b" -> "2"))
      .select($"id").as[Long].collect().forall(_ % 3 == 2))
    // one replace snapshot; time travel to the pre-rewrite state works
    val snaps = IcebergTable.snapshots(spark, table)
      .orderBy($"timestamp_ms").collect()
    assert(snaps.length == preRewrite + 1)
    assert(snaps.last.getString(2) == "replace")
    val preId = snaps(preRewrite.toInt - 1).getLong(0)
    assert(IcebergTable.read(spark, table, Some(preId))
      .select($"id").as[Long].collect().sorted.toSeq == survivors)
    // the files-mode stream guard directs on the replace range
    val e = intercept[Exception] {
      graft.sources.IcebergTable.rangeOperations(spark, table,
        snaps.head.getLong(0), snapR) match {
        case ops if ops.exists(_ != "append") =>
          throw new IllegalStateException("non-append: " + ops.mkString(","))
        case _ => ()
      }
    }
    assert(e.getMessage.contains("non-append"), e.getMessage)

    // expire everything but the compacted state: the old snapshots'
    // exclusive artifacts (pre-rewrite data files, delete files, their
    // manifests/lists) are deleted; the kept state is untouched
    val deleted = IcebergWriter.expireSnapshots(spark, table, keepLast = 1)
    assert(deleted > 0, s"deleted $deleted")
    assert(IcebergTable.snapshots(spark, table).count() == 1)
    assert(IcebergTable.read(spark, table).select($"id").as[Long]
      .collect().sorted.toSeq == survivors)
    // time travel to the expired snapshot now fails directed
    val e2 = intercept[Exception] {
      IcebergTable.read(spark, table, Some(preId)).count()
    }
    assert(e2.getMessage.contains("snapshot"), e2.getMessage)
    // keepLast must cover the current snapshot
    val e3 = intercept[Exception] {
      IcebergWriter.expireSnapshots(spark, table, keepLast = 0)
    }
    assert(e3.getMessage.contains("at least"), e3.getMessage)
  }

  test("iceberg rewriteDataFiles through TRANSFORM partitions: bucket " +
    "eq-delete debt repaid, temporal spec kept, z-order directed") {
    // bucket(3, id) carrying an equality delete — the exact
    // merge-on-read debt a corpus-dedup kill builds on the bucketed
    // layout, repaid by compaction
    val t = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 60L).map(i => (i, s"t$i")).toDF("id", "text"), t,
      partitionBy = Seq("bucket(3, id)"))
    IcebergWriter.writeEqualityDelete(spark, t,
      (1L to 60L).filter(_ % 4 == 0).toDF("id"))
    val preSnap = IcebergTable.snapshots(spark, t)
      .orderBy($"timestamp_ms").collect().last.getLong(0)
    val survivors = (1L to 60L).filterNot(_ % 4 == 0)
    IcebergWriter.rewriteDataFiles(spark, t)
    val after = IcebergTable.read(spark, t)
    assert(after.select($"id").as[Long].collect().sorted.toSeq == survivors,
      "live rows (delete applied) survive the rewrite")
    // the spec is KEPT: compacted files group one per live bucket dir,
    // and the anti-join tax is gone (data files only in the plan)
    assert(after.inputFiles.forall(_.contains("p__id_bucket=")),
      after.inputFiles.toSeq)
    assert(after.inputFiles.length <= 3, after.inputFiles.toSeq)
    // prior snapshots untouched: time travel to the pre-compaction
    // state still serves the delete through its own manifests
    assert(IcebergTable.read(spark, t, Some(preSnap))
      .select($"id").as[Long].collect().sorted.toSeq == survivors)
    // temporal twin: month(d) spec survives a positional-delete rewrite
    val t2 = tmp()
    val dates = (0 until 12).map(i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-${i % 4 + 1}%02d-07")))
    IcebergWriter.writeAppend(spark, dates.toDF("id", "d"), t2,
      partitionBy = Seq("month(d)"))
    IcebergWriter.writeDelete(spark, t2, $"id" % 3 === 1L)
    IcebergWriter.rewriteDataFiles(spark, t2)
    val after2 = IcebergTable.read(spark, t2)
    assert(after2.select($"id").as[Long].collect().sorted.toSeq ==
      (0L until 12L).filterNot(_ % 3 == 1))
    assert(after2.inputFiles.forall(_.contains("p__d_month=")),
      after2.inputFiles.toSeq)
    // month pruning still works on the compacted layout (2024-02 is
    // epoch-month 649)
    assert(IcebergTable.readPartitions(spark, t2,
      Map("d_month" -> "649")).select($"d".cast("string")).as[String]
      .collect().toSeq.forall(_.startsWith("2024-02")))
    // z-order through a non-identity transform stays directed
    val eZ = intercept[Exception](
      IcebergWriter.rewriteDataFiles(spark, t, zorderBy = Seq("text")))
    assert(eZ.getMessage.contains("z-order"), eZ.getMessage)
  }

  test("iceberg writeUpdate: one overwrite snapshot, kill + rewrite") {
    val table = tmp()
    val df = (1L to 10L).map(i => (i, s"t$i")).toDF("id", "text")
    IcebergWriter.writeAppend(spark, df, table)
    val filesBefore = IcebergTable.read(spark, table).inputFiles.toSet

    val snap1 = IcebergWriter.writeUpdate(spark, table, $"id" % 3 === 0,
      Map("text" -> concat(lit("u-"), $"id")))
    val after = IcebergTable.read(spark, table).orderBy($"id")
    assert(after.count() == 10)
    assert(after.select($"text").as[String].collect().toSeq ==
      (1L to 10L).map(i => if (i % 3 == 0) s"u-$i" else s"t$i"))
    // original files still serve survivors; updated images are new files
    val filesAfter = IcebergTable.read(spark, table).inputFiles.toSet
    assert(filesBefore.subsetOf(filesAfter))
    assert(filesAfter.size > filesBefore.size)
    // ONE snapshot, operation "overwrite"; time travel sees v0
    val snaps = IcebergTable.snapshots(spark, table)
      .orderBy($"snapshot_id").collect()
    assert(snaps.length == 2)
    assert(snaps(1).getString(2) == "overwrite", snaps.toSeq)
    val first = snaps(0).getLong(0)
    assert(IcebergTable.read(spark, table, Some(first))
      .filter($"text".startsWith("u-")).count() == 0)
    // the changelog over the update range reports the net row changes
    val log = IcebergTable.readChangelog(spark, table, first, Some(snap1))
    val byType = log.groupBy($"_change_type").count().as[(String, Long)]
      .collect().toMap
    assert(byType == Map("insert" -> 3L, "delete" -> 3L), byType)
    // empty update: no-op, no new snapshot
    assert(IcebergWriter.writeUpdate(spark, table, $"id" === 999L,
      Map("text" -> lit("nope"))) == snap1)
    // unknown SET column directed; temp litter cleaned
    val eCol = intercept[Exception] {
      IcebergWriter.writeUpdate(spark, table, lit(true),
        Map("nope" -> lit("x")))
    }
    assert(eCol.getMessage.contains("SET column"), eCol.getMessage)
    val litter = new java.io.File(table).listFiles()
      .filter(_.getName.startsWith("_tmp_update"))
    assert(litter.isEmpty, litter.toSeq)
  }

  test("delta constraints: CHECK and invariants evaluated on every " +
    "image-writing path") {
    import graft.sources.TableCommit.ConstraintViolation
    // CREATE with a constraint: the first batch is already validated
    val t = tmp()
    val e0 = intercept[ConstraintViolation] {
      DeltaWriter.writeAppend(spark,
        Seq((0L, "bad")).toDF("id", "text"), t,
        properties = Map("delta.constraints.pos" -> "id > 0"))
    }
    assert(e0.getMessage.contains("CHECK constraint pos"), e0.getMessage)
    DeltaWriter.writeAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "text"), t,
      properties = Map("delta.constraints.pos" -> "id > 0"))
    // NULL passes (the SQL standard for CHECK)
    DeltaWriter.writeAppend(spark,
      Seq((java.lang.Long.valueOf(3L), "c"),
        (null.asInstanceOf[java.lang.Long], "n"))
        .toDF("id", "text"), t)
    assert(DeltaTable.read(spark, t).count() == 4)
    // UPDATE validates the POST-update images
    val eU = intercept[ConstraintViolation] {
      DeltaWriter.writeUpdate(spark, t, $"id" === 1L,
        Map("id" -> lit(-5L)))
    }
    assert(eU.getMessage.contains("pos"), eU.getMessage)
    DeltaWriter.writeUpdate(spark, t, $"id" === 1L, Map("id" -> lit(10L)))
    // MERGE validates every source row
    val eM = intercept[ConstraintViolation] {
      DeltaWriter.writeMerge(spark, t,
        Seq((2L, "u"), (-1L, "bad")).toDF("id", "text"), Seq("id"))
    }
    assert(eM.getMessage.contains("pos"), eM.getMessage)
    // DELETE is exempt — removing rows cannot violate a row constraint
    DeltaWriter.writeDelete(spark, t, $"id" === 2L)
    assert(DeltaTable.read(spark, t).select($"id").as[java.lang.Long]
      .collect().toSet == Set[java.lang.Long](10L, 3L, null))
    // an unparseable / unresolvable constraint is directed, not skipped
    val bad = tmp()
    val eP = intercept[Exception] {
      DeltaWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"),
        bad, properties = Map("delta.constraints.x" -> "SELECT WHERE ("))
    }
    assert(eP.getMessage.contains("does not parse"), eP.getMessage)
    val eR = intercept[Exception] {
      DeltaWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"),
        tmp(), properties = Map("delta.constraints.x" -> "ghost > 0"))
    }
    assert(eR.getMessage.contains("does not parse/resolve"), eR.getMessage)

    // legacy column invariants (field metadata) enforce on append
    val it = tmp()
    val inv = """{\"expression\":{\"expression\":\"id >= 0\"}}"""
    val schemaStr = (s"""{"type":"struct","fields":[""" +
      s"""{"name":"id","type":"long","nullable":true,""" +
      s""""metadata":{"delta.invariants":"$inv"}},""" +
      s"""{"name":"text","type":"string","nullable":true,"metadata":{}}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$it/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$it/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" +
        "\n" +
        s"""{"metaData":{"id":"i","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":[],""" +
        s""""configuration":{},"createdTime":0}}""").getBytes("UTF-8"))
    val eI = intercept[ConstraintViolation] {
      DeltaWriter.writeAppend(spark,
        Seq((-1L, "bad")).toDF("id", "text"), it)
    }
    assert(eI.getMessage.contains("invariant on id"), eI.getMessage)
    DeltaWriter.writeAppend(spark, Seq((5L, "ok")).toDF("id", "text"), it)
    assert(DeltaTable.read(spark, it).count() == 1)

    // generated columns: the provided value must equal its expression
    val gt = tmp()
    val gen = """{"delta.generationExpression":"id * 2"}"""
    val gSchema = (s"""{"type":"struct","fields":[""" +
      s"""{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
      s"""{"name":"twice","type":"long","nullable":true,""" +
      s""""metadata":$gen}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$gt/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$gt/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""" +
        "\n" +
        s"""{"metaData":{"id":"g","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$gSchema","partitionColumns":[],""" +
        s""""configuration":{},"createdTime":0}}""").getBytes("UTF-8"))
    val eG = intercept[ConstraintViolation] {
      DeltaWriter.writeAppend(spark,
        Seq((2L, 5L)).toDF("id", "twice"), gt)
    }
    assert(eG.getMessage.contains("generated column twice"), eG.getMessage)
    DeltaWriter.writeAppend(spark, Seq((2L, 4L)).toDF("id", "twice"), gt)
    assert(DeltaTable.read(spark, gt).count() == 1)
  }

  test("delta: append to a column-mapped (name-mode) table") {
    val t = tmp()
    // a flat name-mode table: logical (id, lang, text) stored as
    // (col-a, col-b, col-c), partitioned by lang
    def f(n: String, ty: String, phys: String, id: Int) =
      s"""{"name":"$n","type":"$ty","nullable":true,""" +
        s""""metadata":{"delta.columnMapping.physicalName":"col-$phys",""" +
        s""""delta.columnMapping.id":$id}}"""
    val schemaStr = (s"""{"type":"struct","fields":[${f("id", "long", "a", 1)},""" +
      s"""${f("lang", "string", "b", 2)},${f("text", "string", "c", 3)}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$t/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},""" +
        s""""createdTime":0}}""").getBytes("UTF-8"))
    val v = DeltaWriter.writeAppend(spark,
      Seq((1L, "en", "t1"), (2L, "de", "t2")).toDF("id", "lang", "text"), t)
    assert(v == 1L)
    val got = DeltaTable.read(spark, t).orderBy($"id")
    assert(got.columns.toSeq == Seq("id", "lang", "text"))
    assert(got.select($"id", $"lang", $"text")
      .as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "en", "t1"), (2L, "de", "t2")))
    // the new files store PHYSICAL names and dirs; partitionValues are
    // keyed physical in the commit
    val log1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000001.json")))
    assert(log1.contains("col-b%3Den") || log1.contains("col-b=en"), log1)
    assert(log1.contains(""""partitionValues":{"col-b":"""), log1)
    assert(log1.contains("col-a"), "stats keyed by physical name")
    // readWhere prunes through the physical-keyed stats AND the
    // physical partition values, by LOGICAL column names
    val pruned = DeltaTable.readWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("lang", "en")))
    assert(pruned.select($"id").as[Long].collect().toSeq == Seq(1L))
    assert(pruned.inputFiles.length <
      DeltaTable.read(spark, t).inputFiles.length)
    val byId = DeltaTable.readWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 2L)))
    assert(byId.select($"text").as[String].collect().toSeq == Seq("t2"))
    assert(byId.inputFiles.length == 1)
    // schema evolution on a mapped table stays directed
    val eEv = intercept[Exception] {
      DeltaWriter.writeAppend(spark,
        Seq((3L, "fr", "t3", 1.0)).toDF("id", "lang", "text", "x"), t,
        mergeSchema = true)
    }
    assert(eEv.getMessage.contains("column-mapped"), eEv.getMessage)
    // DELETE on the mapped table: the DV shape AND the copy-on-write
    // rewrite both work — rewritten survivors store PHYSICAL names (a
    // logical-named file would read back all-NULL)
    DeltaWriter.writeAppend(spark,
      Seq((3L, "de", "t3"), (4L, "de", "t4")).toDF("id", "lang", "text")
        .coalesce(1), t)
    DeltaWriter.writeDelete(spark, t, $"id" === 1L, mode = "dv")
    assert(DeltaTable.read(spark, t).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L, 4L),
      "DV delete works on mapped tables")
    DeltaWriter.writeDelete(spark, t, $"id" === 3L, mode = "rewrite")
    assert(DeltaTable.read(spark, t).select($"id", $"lang", $"text")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq ==
      Seq((2L, "de", "t2"), (4L, "de", "t4")),
      "rewrite survivors read back through the physical schema")
  }

  test("delta column-mapped UPDATE/MERGE/compact: physical images, " +
    "physically-keyed cdc") {
    val t = tmp()
    def f(n: String, ty: String, phys: String, id: Int) =
      s"""{"name":"$n","type":"$ty","nullable":true,""" +
        s""""metadata":{"delta.columnMapping.physicalName":"col-$phys",""" +
        s""""delta.columnMapping.id":$id}}"""
    val schemaStr = (s"""{"type":"struct","fields":[${f("id", "long", "a", 1)},""" +
      s"""${f("lang", "string", "b", 2)},${f("text", "string", "c", 3)}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$t/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":["columnMapping"],""" +
        s""""writerFeatures":["columnMapping","changeDataFeed"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"3",""" +
        s""""delta.enableChangeDataFeed":"true"},""" +
        s""""createdTime":0}}""").getBytes("UTF-8"))
    DeltaWriter.writeAppend(spark,
      Seq((1L, "en", "t1"), (2L, "de", "t2"), (3L, "en", "t3"))
        .toDF("id", "lang", "text"), t)
    // UPDATE: new images + cdc pre/post, all physically named
    DeltaWriter.writeUpdate(spark, t, $"lang" === "en",
      Map("text" -> concat(lit("u-"), $"text")))
    assert(DeltaTable.read(spark, t).select($"id", $"text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "u-t1"), (2L, "t2"), (3L, "u-t3")),
      "mapped UPDATE rewrites matched rows")
    val cdf = DeltaTable.readCdf(spark, t, 2L, Some(2L))
      .select($"id", $"text", $"_change_type")
      .as[(Long, String, String)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(cdf == Seq((1L, "u-t1", "update_postimage"),
      (1L, "t1", "update_preimage"), (3L, "u-t3", "update_postimage"),
      (3L, "t3", "update_preimage")),
      s"mapped cdc serves logical pre/post images: $cdf")
    // the cdc FILES themselves are physically keyed (the spec arm): raw
    // parquet columns are col-a/col-b/col-c + _change_type, partition
    // dirs keyed col-b
    val cdcDir = new java.io.File(s"$t/_change_data")
    assert(cdcDir.isDirectory, "_change_data exists")
    def cdcParquets(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(x =>
        if (x.isDirectory) cdcParquets(x)
        else if (x.getName.endsWith(".parquet")) Seq(x) else Nil)
    val raw = spark.read.parquet(cdcParquets(cdcDir).head.getPath)
    assert(raw.columns.toSet.subsetOf(
      Set("col-a", "col-c", "_change_type")),
      s"cdc files store physical names, got ${raw.columns.toSeq}")
    assert(cdcParquets(cdcDir).exists(_.getPath.contains("col-b=")),
      "cdc partition dirs keyed physical")
    // MERGE: upsert (replace id 2, insert id 9), physical appends + cdc
    DeltaWriter.writeMerge(spark, t,
      Seq((2L, "de", "m2"), (9L, "fr", "n9")).toDF("id", "lang", "text"),
      Seq("id"))
    assert(DeltaTable.read(spark, t).select($"id", $"text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "u-t1"), (2L, "m2"), (3L, "u-t3"), (9L, "n9")),
      "mapped MERGE upserts")
    val mergeCdf = DeltaTable.readCdf(spark, t, 3L, Some(3L))
      .select($"id", $"_change_type")
      .as[(Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(mergeCdf == Seq((2L, "update_postimage"),
      (2L, "update_preimage"), (9L, "insert")).sortBy(r => (r._1, r._2)),
      s"mapped merge cdc: $mergeCdf")
    // compact: DV debt repaid with physically-named rewrites
    DeltaWriter.writeDelete(spark, t, $"id" === 3L, mode = "dv")
    DeltaWriter.compact(spark, t, smallFileThreshold = Long.MaxValue)
    assert(DeltaTable.read(spark, t).select($"id", $"lang", $"text")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "en", "u-t1"), (2L, "de", "m2"), (9L, "fr", "n9")),
      "mapped compact preserves rows and repays DV debt")
  }

  test("delta RENAME COLUMN under column mapping: metaData-only commit") {
    val t = tmp()
    def f(n: String, ty: String, phys: String, id: Int) =
      s"""{"name":"$n","type":"$ty","nullable":true,""" +
        s""""metadata":{"delta.columnMapping.physicalName":"col-$phys",""" +
        s""""delta.columnMapping.id":$id}}"""
    val schemaStr = (s"""{"type":"struct","fields":[${f("id", "long", "a", 1)},""" +
      s"""${f("lang", "string", "b", 2)},${f("text", "string", "c", 3)}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$t/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},""" +
        s""""createdTime":0}}""").getBytes("UTF-8"))
    DeltaWriter.writeAppend(spark,
      Seq((1L, "en", "t1"), (2L, "de", "t2")).toDF("id", "lang", "text"), t)
    val filesBefore = DeltaTable.read(spark, t).inputFiles.sorted.toSeq
    // rename a data column: metaData-only commit, old files serve the
    // new logical name through their untouched physical one
    assert(DeltaWriter.renameColumn(spark, t, "text", "body") == 2L)
    val renamed = DeltaTable.read(spark, t)
    assert(renamed.columns.toSeq == Seq("id", "lang", "body"))
    assert(renamed.select($"id", $"body").as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((1L, "t1"), (2L, "t2")),
      "pre-rename files serve the renamed column")
    assert(DeltaTable.read(spark, t).inputFiles.sorted.toSeq == filesBefore,
      "a rename never touches data files")
    // time travel BEFORE the rename still shows the old name
    assert(DeltaTable.read(spark, t, versionAsOf = Some(1L))
      .columns.toSeq == Seq("id", "lang", "text"))
    // appends under the NEW name land in the same physical column
    DeltaWriter.writeAppend(spark,
      Seq((3L, "fr", "t3")).toDF("id", "lang", "body"), t)
    assert(DeltaTable.read(spark, t).select($"id", $"body")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "t1"), (2L, "t2"), (3L, "t3")))
    // stats pruning works through the renamed logical name
    val hit = DeltaTable.readWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("body", "t2")))
    assert(hit.select($"id").as[Long].collect().toSeq == Seq(2L))
    // renaming a PARTITION column: partitionColumns follows, dirs and
    // partitionValues stay keyed physical, pruning intact
    DeltaWriter.renameColumn(spark, t, "lang", "locale")
    val byLoc = DeltaTable.readWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("locale", "en")))
    assert(byLoc.select($"id").as[Long].collect().toSeq == Seq(1L))
    assert(byLoc.inputFiles.length <
      DeltaTable.read(spark, t).inputFiles.length, "partition pruning")
    // UPDATE through the renamed names keeps working
    DeltaWriter.writeUpdate(spark, t, $"locale" === "fr",
      Map("body" -> lit("u3")))
    assert(DeltaTable.read(spark, t).filter($"id" === 3L)
      .select($"body").as[String].collect().toSeq == Seq("u3"))
    // directed: unmapped table, collisions, unknown columns
    val plain = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "x")).toDF("id", "text"), plain)
    val e1 = intercept[Exception](
      DeltaWriter.renameColumn(spark, plain, "text", "body"))
    assert(e1.getMessage.contains("column mapping"), e1.getMessage)
    val e2 = intercept[Exception](
      DeltaWriter.renameColumn(spark, t, "body", "ID"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    val e3 = intercept[Exception](
      DeltaWriter.renameColumn(spark, t, "nope", "x"))
    assert(e3.getMessage.contains("does not exist"), e3.getMessage)
  }

  test("iceberg RENAME COLUMN: metadata-only commit, field-id reads, " +
    "history fallback for id-less files") {
    val t = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "text"), t)
    val filesBefore = IcebergTable.read(spark, t).inputFiles.sorted.toSeq
    IcebergWriter.renameColumn(spark, t, "text", "body")
    val r = IcebergTable.read(spark, t)
    assert(r.columns.toSeq == Seq("id", "body"))
    assert(r.select($"id", $"body").as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((1L, "a"), (2L, "b")),
      "pre-rename files resolve by parquet FIELD ID")
    assert(IcebergTable.read(spark, t).inputFiles.sorted.toSeq ==
      filesBefore, "a rename never touches data files")
    // appends under the NEW name join the same column
    IcebergWriter.writeAppend(spark, Seq((3L, "c")).toDF("id", "body"), t)
    assert(IcebergTable.read(spark, t).select($"id", $"body")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // manifest bounds are id-keyed — readWhere prunes on the new name
    val hit = IcebergTable.readWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("body", "c")))
    assert(hit.select($"id").as[Long].collect().toSeq == Seq(3L))
    assert(hit.inputFiles.length <
      IcebergTable.read(spark, t).inputFiles.length)
    // row-level deletes through the renamed name
    IcebergWriter.writeDelete(spark, t, $"body" === "a")
    assert(IcebergTable.read(spark, t).select($"id", $"body")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((2L, "b"), (3L, "c")))

    // an ID-LESS pre-rename file (a foreign/older writer): resolution
    // falls back to the schema HISTORY's prior name for the id
    val t2 = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((7L, "x"), (8L, "y")).toDF("id", "text"), t2)
    val dataFile = IcebergTable.read(spark, t2).inputFiles.head
    val plain = spark.read.parquet(dataFile)
      .select($"id".cast("long").as("id"), $"text".cast("string").as("text"))
    val stripDir = tmp()
    plain.coalesce(1).write.mode("overwrite").parquet(stripDir)
    val stripped = new java.io.File(stripDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dataPath = java.nio.file.Paths.get(new java.net.URI(dataFile))
    java.nio.file.Files.copy(stripped.toPath, dataPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the local-FS checksum sidecar the out-of-band overwrite
    // invalidated (test plumbing only)
    java.nio.file.Files.deleteIfExists(dataPath.getParent.resolve(
      "." + dataPath.getFileName.toString + ".crc"))
    IcebergWriter.renameColumn(spark, t2, "text", "body")
    assert(IcebergTable.read(spark, t2).select($"id", $"body")
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((7L, "x"), (8L, "y")),
      "id-less files resolve through the history's prior name")
    // directed: unknown column, collision
    val e1 = intercept[Exception](
      IcebergWriter.renameColumn(spark, t2, "nope", "z"))
    assert(e1.getMessage.contains("does not exist"), e1.getMessage)
    val e2 = intercept[Exception](
      IcebergWriter.renameColumn(spark, t2, "body", "ID"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)

    // EQUALITY deletes survive a rename when the delete files are
    // ID-KEYED (this writer's always are): the per-file resolution
    // runs by field id, names notwithstanding
    val t3 = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 10L).map(i => (i, s"t$i")).toDF("id", "text"), t3)
    IcebergWriter.writeEqualityDelete(spark, t3, Seq(3L, 7L).toDF("id"))
    IcebergWriter.renameColumn(spark, t3, "id", "key")
    assert(IcebergTable.read(spark, t3).select($"key").as[Long]
      .collect().sorted.toSeq == (1L to 10L).filterNot(Set(3L, 7L)),
      "id-keyed equality deletes apply across the rename")
    // ...and a new eq delete through the renamed KEY column works too
    IcebergWriter.writeEqualityDelete(spark, t3, Seq(9L).toDF("key"))
    assert(IcebergTable.read(spark, t3).select($"key").as[Long]
      .collect().sorted.toSeq == (1L to 10L).filterNot(Set(3L, 7L, 9L)))
    // an ID-LESS eq-delete file on a renamed table is directed (its
    // write-time names cannot be trusted): strip the ids from the
    // delete file out-of-band
    val t4 = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 6L).map(i => (i, s"t$i")).toDF("id", "text"), t4)
    val pre4 = new java.io.File(s"$t4/data").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    IcebergWriter.writeEqualityDelete(spark, t4, Seq(2L).toDF("id"))
    val eqF = (new java.io.File(s"$t4/data").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
      -- pre4).head
    // the alias carries EXPLICIT empty metadata: a plain alias would
    // propagate the imported parquet.field.id and the rewrite would
    // keep the file id-keyed
    val plainEq = spark.read.parquet(eqF)
      .select($"id".cast("long").as("id",
        org.apache.spark.sql.types.Metadata.empty))
    val stripDir4 = tmp()
    plainEq.coalesce(1).write.mode("overwrite").parquet(stripDir4)
    val stripped4 = new java.io.File(stripDir4).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(stripped4.toPath,
      java.nio.file.Paths.get(eqF),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(eqF)
      .getParent.resolve("." + new java.io.File(eqF).getName + ".crc"))
    IcebergWriter.renameColumn(spark, t4, "id", "key")
    val e3 = intercept[Exception](IcebergTable.read(spark, t4).collect())
    assert(e3.getMessage.contains("id-keyed"), e3.getMessage)
  }

  test("DROP COLUMN both formats: metadata-only, files untouched") {
    // Delta (column mapping required)
    val t = tmp()
    def f(n: String, ty: String, phys: String, id: Int) =
      s"""{"name":"$n","type":"$ty","nullable":true,""" +
        s""""metadata":{"delta.columnMapping.physicalName":"col-$phys",""" +
        s""""delta.columnMapping.id":$id}}"""
    val schemaStr = (s"""{"type":"struct","fields":[${f("id", "long", "a", 1)},""" +
      s"""${f("lang", "string", "b", 2)},${f("text", "string", "c", 3)}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$t/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},""" +
        s""""createdTime":0}}""").getBytes("UTF-8"))
    DeltaWriter.writeAppend(spark,
      Seq((1L, "en", "t1"), (2L, "de", "t2")).toDF("id", "lang", "text"), t)
    val files0 = DeltaTable.read(spark, t).inputFiles.sorted.toSeq
    DeltaWriter.dropColumn(spark, t, "text")
    val after = DeltaTable.read(spark, t)
    assert(after.columns.toSeq == Seq("id", "lang"))
    assert(after.select($"id", $"lang").as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((1L, "en"), (2L, "de")))
    assert(DeltaTable.read(spark, t).inputFiles.sorted.toSeq == files0,
      "a drop never touches data files")
    // appends under the narrowed schema work; the stored physical
    // column in old files stays invisible
    DeltaWriter.writeAppend(spark, Seq((3L, "fr")).toDF("id", "lang"), t)
    assert(DeltaTable.read(spark, t).count() == 3)
    // directed: partition column, unmapped table, unknown, last column
    val eP = intercept[Exception](DeltaWriter.dropColumn(spark, t, "lang"))
    assert(eP.getMessage.contains("PARTITION"), eP.getMessage)
    val plain = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "x")).toDF("id", "text"), plain)
    val eU = intercept[Exception](
      DeltaWriter.dropColumn(spark, plain, "text"))
    assert(eU.getMessage.contains("column mapping"), eU.getMessage)
    val eN = intercept[Exception](DeltaWriter.dropColumn(spark, t, "nope"))
    assert(eN.getMessage.contains("does not exist"), eN.getMessage)

    // Iceberg: drop retires the field id, spec sources protected
    val it = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 6L).map(i => (i, s"t$i", i % 2)).toDF("id", "text", "b"), it,
      partitionBy = Seq("b"))
    val ifiles0 = IcebergTable.read(spark, it).inputFiles.sorted.toSeq
    IcebergWriter.dropColumn(spark, it, "text")
    val iafter = IcebergTable.read(spark, it)
    assert(iafter.columns.toSeq == Seq("id", "b"))
    assert(iafter.select($"id").as[Long].collect().sorted.toSeq ==
      (1L to 6L))
    assert(IcebergTable.read(spark, it).inputFiles.sorted.toSeq == ifiles0)
    // appends + row-level deletes under the narrowed schema
    IcebergWriter.writeAppend(spark,
      Seq((7L, 1L)).toDF("id", "b"), it)
    IcebergWriter.writeDelete(spark, it, $"id" === 2L)
    assert(IcebergTable.read(spark, it).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L, 6L, 7L))
    // partition pruning intact
    assert(IcebergTable.readPartitions(spark, it, Map("b" -> "0"))
      .select($"id").as[Long].collect().sorted.toSeq == Seq(4L, 6L))
    // directed: partition source, unknown
    val eS = intercept[Exception](IcebergWriter.dropColumn(spark, it, "b"))
    assert(eS.getMessage.contains("partition SOURCE"), eS.getMessage)
    val eI = intercept[Exception](
      IcebergWriter.dropColumn(spark, it, "nope"))
    assert(eI.getMessage.contains("does not exist"), eI.getMessage)
    // a one-column table refuses to drop its last column
    val solo = tmp()
    IcebergWriter.writeAppend(spark, Seq(Tuple1(1L)).toDF("id"), solo)
    val eL = intercept[Exception](
      IcebergWriter.dropColumn(spark, solo, "id"))
    assert(eL.getMessage.contains("last column"), eL.getMessage)
  }

  test("delta row-level writes on a column-mapped table with NESTED " +
    "fields: physical names + ids at every level") {
    import org.apache.spark.sql.types.{ArrayType, LongType, Metadata,
      MetadataBuilder, StringType, StructField, StructType}
    val t = tmp()
    def meta(phys: String, id: Int): Metadata = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-a", 1)),
      StructField("meta", StructType(Seq(
        StructField("author", StringType, nullable = true, meta("col-c", 3)),
        StructField("score", LongType, nullable = true, meta("col-d", 4)))),
        nullable = true, meta("col-b", 2)),
      StructField("tags", ArrayType(StringType), nullable = true,
        meta("col-e", 5))))
    val schemaStr = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$t/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"5"},""" +
        s""""createdTime":0}}""").getBytes("UTF-8"))
    val data = Seq((1L, "ann", 10L, Seq("x", "y")),
      (2L, "bob", 20L, Seq.empty[String]),
      (3L, "cat", 200L, Seq("z")))
      .toDF("id", "author", "score", "tags")
      .select($"id", struct($"author", $"score").as("meta"), $"tags")
    DeltaWriter.writeAppend(spark, data, t)
    // the data file stores PHYSICAL names + ids at EVERY level
    val dataFile = DeltaTable.read(spark, t).inputFiles.head
      .stripPrefix("file:")
    val g = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(dataFile), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    import scala.jdk.CollectionConverters._
    val top = g.getFields.asScala.map(f =>
      f.getName -> Option(f.getId).map(_.intValue)).toMap
    assert(top == Map("col-a" -> Some(1), "col-b" -> Some(2),
      "col-e" -> Some(5)), s"top-level physical names + ids: $top")
    val nested = g.getType(g.getFieldIndex("col-b")).asGroupType
      .getFields.asScala
      .map(f => f.getName -> Option(f.getId).map(_.intValue)).toMap
    assert(nested == Map("col-c" -> Some(3), "col-d" -> Some(4)),
      s"NESTED physical names + ids: $nested")
    // logical round trip
    val got = DeltaTable.read(spark, t).orderBy($"id")
    assert(got.columns.toSeq == Seq("id", "meta", "tags"))
    assert(got.select($"meta.author").as[String].collect().toSeq ==
      Seq("ann", "bob", "cat"))
    // UPDATE rebuilding the nested struct
    DeltaWriter.writeUpdate(spark, t, $"id" === 2L,
      Map("meta" -> struct(lit("upd").as("author"),
        ($"meta.score" + 10L).as("score"))))
    assert(DeltaTable.read(spark, t).filter($"id" === 2L)
      .select($"meta.author", $"meta.score").as[(String, Long)]
      .collect().toSeq == Seq(("upd", 30L)))
    // MERGE an insert + DELETE on a nested predicate
    val src = Seq((9L, "mia", 9L, Seq("w")))
      .toDF("id", "author", "score", "tags")
      .select($"id", struct($"author", $"score").as("meta"), $"tags")
    DeltaWriter.writeMerge(spark, t, src, Seq("id"))
    DeltaWriter.writeDelete(spark, t, $"meta.score" > 100L)
    assert(DeltaTable.read(spark, t).orderBy($"id")
      .select($"id", $"meta.author", size($"tags"))
      .as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "ann", 2), (2L, "upd", 0), (9L, "mia", 1)),
      "merge + nested-predicate delete round-trip")
  }

  test("delta rowTracking appends: fresh row ids + high-water mark") {
    // a rowTracking table (another engine's): appends MUST assign
    // baseRowId/defaultRowCommitVersion and advance the domain's
    // high-water mark — omitting them silently breaks id-aware readers
    val t = tmp()
    new java.io.File(s"$t/_delta_log").mkdirs()
    val schemaStr = ("""{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"text","type":"string","nullable":true,"metadata":{}}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        s""""writerFeatures":["rowTracking","domainMetadata"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":[],""" +
        s""""configuration":{"delta.enableRowTracking":"true"},"createdTime":0}}""" +
        "\n" +
        s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
        s""""configuration":"{\\"rowIdHighWaterMark\\":41}","removed":false}}""")
        .getBytes("UTF-8"))
    DeltaWriter.writeAppend(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text").coalesce(1), t)
    val log1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000001.json")))
    assert(log1.contains("\"baseRowId\":42"),
      s"fresh ids start past the high-water mark: $log1")
    assert(log1.contains("\"defaultRowCommitVersion\":1"), log1)
    assert(log1.contains("rowIdHighWaterMark\\\":44") ||
      log1.contains("rowIdHighWaterMark\":44"),
      s"3 appended rows advance 41 -> 44: $log1")
    assert(DeltaTable.read(spark, t).count() == 3)
    // a second append continues from the NEW mark
    DeltaWriter.writeAppend(spark,
      Seq((4L, "d")).toDF("id", "text").coalesce(1), t)
    val log2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000002.json")))
    assert(log2.contains("\"baseRowId\":45"), log2)
    // rowTracking WITHOUT domainMetadata has nowhere to keep the mark
    val t2 = tmp()
    new java.io.File(s"$t2/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        s""""writerFeatures":["rowTracking"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":[],""" +
        s""""configuration":{},"createdTime":0}}""").getBytes("UTF-8"))
    val e = intercept[Exception] {
      DeltaWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), t2)
    }
    assert(e.getMessage.contains("domainMetadata"), e.getMessage)
    // UPDATE: the surviving file's DV re-add PRESERVES its baseRowId
    // verbatim, the post-update image takes fresh ids past the mark
    DeltaWriter.writeUpdate(spark, t, $"id" === 1L,
      Map("text" -> lit("x")))
    val log3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000003.json")))
    assert(log3.contains("\"baseRowId\":42"),
      s"the re-add preserves the touched file's base: $log3")
    assert(log3.contains("\"baseRowId\":46"),
      s"the updated image takes a fresh base past the mark: $log3")
    val ids = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(ids == Map(2L -> 43L, 3L -> 44L, 4L -> 45L, 1L -> 46L),
      s"survivors keep their ids, the updated row moved: $ids")
  }

  test("delta rowTracking ENABLEMENT: the backfill commit, update " +
    "round-trip, readWithRowIds") {
    val t = tmp()
    // two files BEFORE enablement — the backfill must cover both, in
    // log order, with contiguous base ranges
    DeltaWriter.writeAppend(spark,
      (0L to 29L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), t)
    DeltaWriter.writeAppend(spark,
      (30L to 59L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), t)
    DeltaWriter.setProperties(spark, t,
      Map("delta.enableRowTracking" -> "true"))
    val log2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000002.json")))
    assert(log2.contains("\"minWriterVersion\":7") &&
      log2.contains("\"rowTracking\"") &&
      log2.contains("\"domainMetadata\""),
      s"the enablement carries its protocol obligations: $log2")
    assert(log2.contains("\"baseRowId\":0") &&
      log2.contains("\"baseRowId\":30"),
      s"both files backfill with contiguous ranges: $log2")
    assert(log2.contains("rowIdHighWaterMark\\\":59") ||
      log2.contains("rowIdHighWaterMark\":59"), log2)
    assert(log2.contains("\"dataChange\":false"),
      "a backfill is not a data change")
    // files were written sorted single-partition, so id == position
    val ids0 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect()
    assert(ids0.forall(r => r._1 == r._2),
      s"backfilled row ids match positions: ${ids0.take(5).toSeq}")
    assert(ids0.forall(_._3 == 2L), "backfilled commit version")
    // UPDATE after enablement: survivors keep their ids, the 6 updated
    // rows take exactly the fresh range 60..65
    DeltaWriter.writeUpdate(spark, t, $"id" % 5 === 0 && $"id" >= 30L,
      Map("text" -> lit("u")))
    val ids1 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    val updated = (30L to 59L).filter(_ % 5 == 0)
    assert(updated.forall(i => ids1(i) >= 60L && ids1(i) <= 65L),
      s"updated rows take the fresh range: ${updated.map(ids1)}")
    assert(ids1.filterNot(kv => updated.contains(kv._1))
      .forall(kv => kv._1 == kv._2),
      "every survivor keeps its backfilled id")
    assert(ids1.values.toSeq.distinct.size == 60, "ids stay unique")
    // re-enabling is a plain property update — no second backfill
    DeltaWriter.setProperties(spark, t,
      Map("delta.enableRowTracking" -> "true"))
    val log4 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000004.json")))
    assert(!log4.contains("baseRowId"),
      s"no second backfill on re-enable: $log4")
    // row ids on a table without the feature are a directed error
    val plain = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "x")).toDF("id", "text"), plain)
    val eR = intercept[Exception](
      DeltaTable.readWithRowIds(spark, plain).collect())
    assert(eR.getMessage.contains("rowTracking"), eR.getMessage)
    // DELETE: DV kill preserves the touched file's ids; MERGE appends
    // fresh images — the whole row-level family now runs on tracked
    // tables
    DeltaWriter.writeDelete(spark, t, $"id" === 31L)
    val ids2 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(!ids2.contains(31L) && ids2(32L) == 32L,
      s"DV delete keeps survivors' ids: ${ids2.get(32L)}")
    DeltaWriter.writeMerge(spark, t,
      Seq((100L, "new"), (0L, "merged")).toDF("id", "text"), Seq("id"))
    val ids3 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(ids3(1L) == 1L, "merge-untouched rows keep ids")
    assert(ids3(100L) >= 66L && ids3(0L) >= 66L,
      s"merged images take fresh ids: ${ids3.get(100L)}, ${ids3.get(0L)}")
    // CREATE with the property: the table is BORN tracked — writer v7
    // with the features declared up front, ids assigned from 0
    val tc = tmp()
    DeltaWriter.writeAppend(spark,
      (0L to 9L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), tc,
      properties = Map("delta.enableRowTracking" -> "true"))
    val log0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tc/_delta_log/00000000000000000000.json")))
    assert(log0.contains("\"minWriterVersion\":7") &&
      log0.contains("\"rowTracking\"") &&
      log0.contains("\"domainMetadata\"") &&
      log0.contains("\"baseRowId\":0"), s"born tracked: $log0")
    val cids = DeltaTable.readWithRowIds(spark, tc)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert((0L to 9L).forall(i => cids(i) == i), s"ids from 0: $cids")
    // an UNPARSEABLE leftover rowTracking domain directs the backfill
    // (a -1 restart would reassign ids earlier versions handed out)
    val tBad = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "x")).toDF("id", "text"), tBad)
    val domLine = """{"domainMetadata":{"domain":"delta.rowTracking",""" +
      """"configuration":"not json","removed":false}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tBad/_delta_log/00000000000000000001.json"),
      (s"""{"commitInfo":{"timestamp":0,"operation":"X"}}""" + "\n" +
        domLine).getBytes("UTF-8"))
    val eBad = intercept[Exception](DeltaWriter.setProperties(spark, tBad,
      Map("delta.enableRowTracking" -> "true")))
    assert(eBad.getMessage.contains("unparseable"), eBad.getMessage)
  }

  test("delta OPTIMIZE on a rowTracking table: stable ids survive the " +
    "rewrite byte-for-byte, DV debt repaid, names minted once") {
    val t = tmp()
    // born tracked, two sorted single-partition files: id == position
    // == row id; commit versions 0 and 1
    DeltaWriter.writeAppend(spark,
      (0L to 29L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), t,
      properties = Map("delta.enableRowTracking" -> "true"))
    DeltaWriter.writeAppend(spark,
      (30L to 59L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), t)
    // DV debt on both files
    DeltaWriter.writeDelete(spark, t, $"id" % 10 === 3L)
    val before = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect().toSet
    assert(before.size == 54 && before.forall(r => r._1 == r._2),
      s"pre-compaction ids match positions: ${before.take(5)}")
    val v = DeltaWriter.compact(spark, t)
    assert(v == 3L, s"one OPTIMIZE commit, v=$v")
    // identity is BYTE-FOR-BYTE stable across the rewrite — ids AND
    // commit versions (0/1 from the original appends, not the
    // compaction's own version)
    val after = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect().toSet
    assert(after == before, s"ids survive the rewrite: " +
      s"${(after -- before).take(5)} vs ${(before -- after).take(5)}")
    // the DV debt is repaid: no active file carries a DV, and the 54
    // survivors merged into one file
    val snap = DeltaTable.snapshotState(spark, t)
    assert(snap.files.forall(_._3.isEmpty), "no DVs after OPTIMIZE")
    assert(snap.files.size == 1, s"merged to one file: ${snap.files.size}")
    // the minted materialized column names committed with the rewrite
    val ridCol = snap.configuration(
      "delta.rowTracking.materializedRowIdColumnName")
    val rcvCol = snap.configuration(
      "delta.rowTracking.materializedRowCommitVersionColumnName")
    assert(ridCol.startsWith("_row-id-col-") &&
      rcvCol.startsWith("_row-commit-version-col-"), s"$ridCol / $rcvCol")
    // ... and the rewritten file PHYSICALLY stores them
    val dataFile = s"$t/${snap.files.head._1}"
    val raw = spark.read.parquet(dataFile)
    assert(raw.columns.contains(ridCol) && raw.columns.contains(rcvCol),
      s"materialized columns in the file: ${raw.columns.toSeq}")
    // a plain read serves the TABLE schema only
    assert(DeltaTable.read(spark, t).columns.toSeq == Seq("id", "text"))
    // the add still carries a FRESH baseRowId range + the advanced mark
    val log3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000003.json")))
    assert(log3.contains("\"baseRowId\":60"),
      s"fresh base past the high-water mark: $log3")
    assert(log3.contains("rowIdHighWaterMark\\\":113") ||
      log3.contains("rowIdHighWaterMark\":113"),
      s"mark advanced by the 54 rewritten rows: $log3")
    assert(log3.contains("\"dataChange\":false"), "OPTIMIZE is not a change")
    // row-level ops on the compacted table: a DV delete keeps the
    // file's materialized ids verbatim
    DeltaWriter.writeDelete(spark, t, $"id" === 40L)
    val ids2 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(!ids2.contains(40L) && ids2(41L) == 41L && ids2(0L) == 0L,
      s"materialized ids survive a post-compaction DV delete")
    // SECOND compaction (DV debt again): no second mint — the names
    // are already configured — and identity still stable
    val v2 = DeltaWriter.compact(spark, t)
    val log6 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        f"$t/_delta_log/$v2%020d.json")))
    assert(!log6.contains("materializedRowIdColumnName"),
      s"no re-mint on the second compaction: $log6")
    val ids3 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect().toSet
    assert(ids3 == after.filterNot(_._1 == 40L),
      "second rewrite preserves the materialized ids it reads back")
    // checkpoint + vacuumed log tail: ids survive log cleanup
    DeltaWriter.writeCheckpoint(spark, t)
    (0L until v2).foreach { i =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        f"$t/_delta_log/$i%020d.json"))
    }
    val ids4 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect().toSet
    assert(ids4 == ids3, "ids survive checkpoint + json cleanup")
    // UPDATE after the compactions: the DV kill re-adds the compacted
    // file (materialized ids intact), the image takes a fresh id
    DeltaWriter.writeUpdate(spark, t, $"id" === 8L,
      Map("text" -> lit("u8")))
    val ids5 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(ids5(8L) >= 114L && ids5(0L) == 0L && ids5(59L) == 59L,
      s"post-compaction update: image fresh, survivors materialized: " +
        s"${ids5(8L)}, ${ids5(0L)}")
    // ZORDER compaction preserves identity the same way
    DeltaWriter.compact(spark, t, zorderBy = Seq("id"))
    val ids6 = DeltaTable.readWithRowIds(spark, t)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(ids6 == ids5,
      "a z-ordered rewrite preserves every row's materialized id")
    // COPY-ON-WRITE delete on a fresh tracked table: the rewrite
    // preserves every SURVIVOR's identity through the same materialized
    // columns; only the deleted rows' ids retire
    val tc = tmp()
    DeltaWriter.writeAppend(spark,
      (0L to 19L).map(i => (i, s"t$i")).toDF("id", "text")
        .repartition(1).sortWithinPartitions("id"), tc,
      properties = Map("delta.enableRowTracking" -> "true"))
    DeltaWriter.writeDelete(spark, tc, $"id" % 4 === 1L,
      mode = "rewrite")
    val cowIds = DeltaTable.readWithRowIds(spark, tc)
      .select($"id", $"_row_id", $"_row_commit_version")
      .as[(Long, Long, Long)].collect().toSet
    assert(cowIds == (0L to 19L).filter(_ % 4 != 1)
      .map(i => (i, i, 0L)).toSet,
      s"cow-delete survivors keep (id, rcv): ${cowIds.toSeq.sorted.take(6)}")
    val cowCfg = DeltaTable.snapshotState(spark, tc).configuration
    assert(cowCfg.contains(
      "delta.rowTracking.materializedRowIdColumnName"),
      "the cow rewrite minted and committed the materialized names")
  }

  test("iceberg NESTED struct columns: id-tagged files, nested " +
    "rename/drop with old-file resolution, struct equality deletes") {
    val t = tmp()
    val mk = (lo: Long, hi: Long) => (lo to hi).toDF("id")
      .withColumn("meta", struct(
        concat(lit("a"), $"id" % 3).as("author"),
        ($"id" * 10).as("score")))
      .withColumn("text", concat(lit("t"), $"id"))
    IcebergWriter.writeAppend(spark, mk(1L, 12L), t)
    // the data file carries parquet field ids at EVERY struct level
    val dataFile = IcebergTable.read(spark, t).inputFiles.head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(dataFile),
        spark.sparkContext.hadoopConfiguration))
    val pSchema = try footer.getFooter.getFileMetaData.getSchema
      finally footer.close()
    val metaTy = pSchema.getType(pSchema.getFieldIndex("meta"))
    val metaGrp = metaTy.asGroupType
    assert(metaTy.getId != null &&
      metaGrp.getType("author").getId != null &&
      metaGrp.getType("score").getId != null,
      s"nested members carry their own field ids: $pSchema")
    // nested RENAME: a metadata-only commit; the OLD file's members
    // resolve by name history and relabel through one positional cast
    IcebergWriter.renameColumn(spark, t, "meta.author", "writer")
    val r1 = IcebergTable.read(spark, t)
    assert(r1.schema("meta").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("writer", "score"))
    assert(r1.select($"id", $"meta.writer").as[(Long, String)]
      .collect().sorted.toSeq ==
      (1L to 12L).map(i => (i, s"a${i % 3}")),
      "old files serve the renamed nested member")
    // an append AFTER the rename spells the new name; both spellings
    // union under the current schema
    IcebergWriter.writeAppend(spark, (13L to 18L).toDF("id")
      .withColumn("meta", struct(
        concat(lit("a"), $"id" % 3).as("writer"),
        ($"id" * 10).as("score")))
      .withColumn("text", concat(lit("t"), $"id")), t)
    assert(IcebergTable.read(spark, t)
      .select($"id", $"meta.writer", $"meta.score")
      .as[(Long, String, Long)].collect().sorted.toSeq ==
      (1L to 18L).map(i => (i, s"a${i % 3}", i * 10)),
      "old-name and new-name files union under the current schema")
    // sibling collisions resolve case-insensitively
    val eCol = intercept[Exception](
      IcebergWriter.renameColumn(spark, t, "meta.score", "WRITER"))
    assert(eCol.getMessage.contains("already exists"), eCol.getMessage)
    // ...and a sibling's RETIRED name is off-limits too: reusing
    // 'author' for score would make old files' member resolution
    // ambiguous (both members would claim the old 'author' column)
    val eRet = intercept[Exception](
      IcebergWriter.renameColumn(spark, t, "meta.score", "author"))
    assert(eRet.getMessage.contains("RETIRED"), eRet.getMessage)
    // paths through non-struct levels are directed
    val ePath = intercept[Exception](
      IcebergWriter.renameColumn(spark, t, "text.sub", "x"))
    assert(ePath.getMessage.contains("struct levels"), ePath.getMessage)
    // nested DROP: the member leaves the schema; files keep their bytes
    IcebergWriter.dropColumn(spark, t, "meta.score")
    val r2 = IcebergTable.read(spark, t)
    assert(r2.schema("meta").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("writer"))
    assert(r2.select($"id", $"meta.writer").as[(Long, String)]
      .collect().sorted.toSeq ==
      (1L to 18L).map(i => (i, s"a${i % 3}")))
    // dropping the last member of a struct is directed
    val eLast = intercept[Exception](
      IcebergWriter.dropColumn(spark, t, "meta.writer"))
    assert(eLast.getMessage.contains("empty"), eLast.getMessage)

    // struct-keyed EQUALITY DELETE on a fresh nested table: the delete
    // file carries nested field ids, whole-struct equality applies
    val t2 = tmp()
    IcebergWriter.writeAppend(spark, mk(1L, 12L), t2)
    IcebergWriter.writeEqualityDelete(spark, t2,
      (1L to 1L).toDF("k").select(struct(
        lit("a1").as("author"), lit(10L).as("score")).as("meta")))
    assert(IcebergTable.read(spark, t2).select($"id").as[Long]
      .collect().sorted.toSeq == (2L to 12L),
      "whole-struct equality kills exactly the matching row")
    val eqFile = new java.io.File(s"$t2/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .maxBy(_.lastModified)
    val ef = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(eqFile.getPath),
        spark.sparkContext.hadoopConfiguration))
    val eqSchema = try ef.getFooter.getFileMetaData.getSchema
      finally ef.close()
    val eqMetaTy = eqSchema.getType(eqSchema.getFieldIndex("meta"))
    assert(eqMetaTy.getId != null &&
      eqMetaTy.asGroupType.getType("author").getId != null,
      s"the equality-delete file carries nested ids: $eqSchema")
    // MERGE BY KEY over the nested schema: images + eq kill in one
    // commit, nested columns id-tagged throughout
    IcebergWriter.writeMergeByKey(spark, t2,
      Seq(2L, 100L).toDF("id")
        .withColumn("meta", struct(lit("mm").as("author"),
          ($"id" * 10).as("score")))
        .withColumn("text", concat(lit("m"), $"id")), Seq("id"))
    val merged = IcebergTable.read(spark, t2)
      .select($"id", $"meta.author", $"text")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(merged.filter(r => r._1 == 2L || r._1 == 100L) ==
      Seq((2L, "mm", "m2"), (100L, "mm", "m100")),
      s"merge-by-key images over the nested schema: $merged")
    assert(merged.size == 12, s"replace-by-key row count: ${merged.size}")
  }

  test("iceberg widenColumn: int->long / float->double, schema-only") {
    val t = tmp()
    val df = (1 to 6).map(i => (i.toLong, i * 10, i * 0.5f))
      .toDF("id", "v", "f")
    IcebergWriter.writeAppend(spark, df, t)
    val files0 = IcebergTable.read(spark, t).inputFiles.sorted.toSeq
    IcebergWriter.widenColumn(spark, t, "v", "long")
    IcebergWriter.widenColumn(spark, t, "f", "double")
    val r = IcebergTable.read(spark, t)
    assert(r.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(r.schema("f").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(r.select($"id", $"v").as[(Long, Long)].collect().sortBy(_._1)
      .toSeq == (1 to 6).map(i => (i.toLong, i * 10L)),
      "narrow files widen on scan")
    assert(IcebergTable.read(spark, t).inputFiles.sorted.toSeq == files0,
      "a widen never touches data files")
    // appends under the WIDE type join the same column; the old files'
    // 4-byte manifest bounds PROMOTE, so pruning still works on v
    IcebergWriter.writeAppend(spark,
      Seq((7L, 5000000000L, 2.5)).toDF("id", "v", "f"), t)
    val all = IcebergTable.read(spark, t)
    assert(all.count() == 7)
    val hit = IcebergTable.readWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("v", 5000000000L)))
    assert(hit.select($"id").as[Long].collect().toSeq == Seq(7L))
    assert(hit.inputFiles.length < all.inputFiles.length,
      "promoted int bounds prune the old files")
    val hitOld = IcebergTable.readWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("v", 30L)))
    assert(hitOld.select($"id").as[Long].collect().toSeq == Seq(3L))
    // directed: narrowing, non-promotions, unknown
    val eN = intercept[Exception](
      IcebergWriter.widenColumn(spark, t, "v", "int"))
    assert(eN.getMessage.contains("promotion"), eN.getMessage)
    val eS = intercept[Exception](
      IcebergWriter.widenColumn(spark, t, "id", "string"))
    assert(eS.getMessage.contains("promotion"), eS.getMessage)
    val eU = intercept[Exception](
      IcebergWriter.widenColumn(spark, t, "nope", "long"))
    assert(eU.getMessage.contains("does not exist"), eU.getMessage)
    // a partition SOURCE column stays directed
    val pt = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((1L, 2, "x")).toDF("id", "b", "text"), pt,
      partitionBy = Seq("b"))
    val eP = intercept[Exception](
      IcebergWriter.widenColumn(spark, pt, "b", "long"))
    assert(eP.getMessage.contains("partition SOURCE"), eP.getMessage)
  }

  test("review arms: checkpointed domains, raw metaData carry, " +
    "unparseable rowTracking config, v1 schema changes directed") {
    // a non-rowTracking domainMetadata must SURVIVE checkpointing (it
    // would otherwise vanish once the jsons below the checkpoint are
    // vacuumed)
    val t = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), t)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000001.json"),
      ("""{"domainMetadata":{"domain":"ext.clustering",""" +
        """"configuration":"{\"cols\":[\"id\"]}","removed":false}}""")
        .getBytes("UTF-8"))
    DeltaWriter.writeCheckpoint(spark, t)
    val fsys = new Path(t).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new Path(s"$t/_delta_log/00000000000000000000.json"), false)
    fsys.delete(new Path(s"$t/_delta_log/00000000000000000001.json"), false)
    val doms = DeltaTable.snapshotState(spark, t).domains
    assert(doms.get("ext.clustering").exists(_.contains("cols")),
      s"domain must survive the checkpoint + vacuum: $doms")
    // raw metaData fields (name/description/createdTime) survive a
    // metadata-only RENAME on a mapped table
    val t2 = tmp()
    def f2(n: String, phys: String, id: Int) =
      s"""{"name":"$n","type":"string","nullable":true,""" +
        s""""metadata":{"delta.columnMapping.physicalName":"$phys",""" +
        s""""delta.columnMapping.id":$id}}"""
    val sch2 = (s"""{"type":"struct","fields":[${f2("a", "c1", 1)},""" +
      s"""${f2("b", "c2", 2)}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$t2/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","name":"my_table","description":"docs",""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$sch2","partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"name"},""" +
        s""""createdTime":12345}}""").getBytes("UTF-8"))
    DeltaWriter.renameColumn(spark, t2, "b", "c")
    val log1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t2/_delta_log/00000000000000000001.json")))
    assert(log1.contains("\"name\":\"my_table\""), s"name lost: $log1")
    assert(log1.contains("\"description\":\"docs\""),
      s"description lost: $log1")
    assert(log1.contains("\"createdTime\":12345"),
      s"createdTime lost: $log1")
    assert(DeltaTable.read(spark, t2).columns.toSeq == Seq("a", "c"))
    // …and through an EVOLVING append's re-declared metaData too
    val t2b = tmp()
    new java.io.File(s"$t2b/_delta_log").mkdirs()
    val sch2b = ("""{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":true,"metadata":{}}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t2b/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","name":"evolved_table",""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$sch2b","partitionColumns":[],""" +
        s""""configuration":{},"createdTime":777}}""").getBytes("UTF-8"))
    DeltaWriter.writeAppend(spark, Seq(Tuple1(1L)).toDF("id"), t2b)
    DeltaWriter.writeAppend(spark,
      Seq((2L, "x")).toDF("id", "text"), t2b, mergeSchema = true)
    val log2b = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t2b/_delta_log/00000000000000000002.json")))
    assert(log2b.contains("\"name\":\"evolved_table\""),
      s"name lost through evolution: $log2b")
    assert(log2b.contains("\"createdTime\":777"),
      s"createdTime lost through evolution: $log2b")
    // an unparseable rowTracking high-water mark DIRECTS (a silent -1
    // would hand out colliding row ids)
    val t3 = tmp()
    new java.io.File(s"$t3/_delta_log").mkdirs()
    val sch3 = ("""{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":true,"metadata":{}}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t3/_delta_log/00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        s""""writerFeatures":["rowTracking","domainMetadata"]}}""" +
        "\n" +
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$sch3","partitionColumns":[],""" +
        s""""configuration":{},"createdTime":0}}""" +
        "\n" +
        s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
        s""""configuration":"not json at all","removed":false}}""")
        .getBytes("UTF-8"))
    val eRt = intercept[Exception] {
      DeltaWriter.writeAppend(spark, Seq(Tuple1(1L)).toDF("id"), t3)
    }
    assert(eRt.getMessage.contains("unparseable"), eRt.getMessage)
    // …and the failed append reclaims the data file it placed
    assert(dataFiles(t3, "_delta_log").isEmpty, dataFiles(t3, "_delta_log"))
    // Iceberg v1 tables: schema-only changes are directed (their
    // metadata requires the top-level `schema` this writer drops)
    val t4 = tmp()
    new java.io.File(s"$t4/metadata").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t4/metadata/v1.metadata.json"),
      s"""{"format-version": 1, "table-uuid": "u", "location": "$t4",
           "schema": {"type": "struct", "schema-id": 0, "fields": [
             {"id": 1, "name": "id", "required": false, "type": "long"},
             {"id": 2, "name": "text", "required": false, "type": "string"}]},
           "partition-specs": [{"spec-id": 0, "fields": []}],
           "default-spec-id": 0, "snapshots": []}""".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t4/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val eV1 = intercept[Exception] {
      IcebergWriter.renameColumn(spark, t4, "text", "body")
    }
    assert(eV1.getMessage.contains("format-version"), eV1.getMessage)
  }

  test("iceberg nested schemas: struct/list/map write, round trip, " +
    "evolve, delete") {
    val t = tmp()
    val df = Seq(
      (1L, ("a", 1.5), Seq("x", "y"), Map("k" -> 2L)),
      (2L, ("b", 2.5), Seq("z"), Map("k" -> 3L))
    ).toDF("id", "info", "tags", "attrs")
    IcebergWriter.writeAppend(spark, df, t)
    val r = IcebergTable.read(spark, t).orderBy($"id")
    assert(r.select($"id", $"info._1", $"info._2",
        element_at($"tags", 1), element_at($"attrs", "k"))
      .as[(Long, String, Double, String, Long)].collect().toSeq ==
      Seq((1L, "a", 1.5, "x", 2L), (2L, "b", 2.5, "z", 3L)),
      "nested values round trip through the writer's schema json")
    // the schema json carries UNIQUE ids through nested positions:
    // last-column-id must cover them all (4 top-level + 2 struct
    // fields + 1 list element + 2 map key/value = 9)
    val metaTxt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$t/metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName).toPath))
    assert(metaTxt.contains("\"last-column-id\": 9"),
      s"nested ids counted into last-column-id: $metaTxt")
    // appends inherit, row-level delete works over the nested table
    IcebergWriter.writeAppend(spark,
      Seq((3L, ("c", 3.5), Seq.empty[String], Map.empty[String, Long]))
        .toDF("id", "info", "tags", "attrs"), t)
    IcebergWriter.writeDelete(spark, t, $"info._1" === "a")
    assert(IcebergTable.read(spark, t).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
    // additive evolution with a NESTED tail column: new ids continue
    // past the high-water mark
    IcebergWriter.writeAppend(spark,
      Seq((4L, ("d", 4.5), Seq("w"), Map("k" -> 1L), Seq(0.25)))
        .toDF("id", "info", "tags", "attrs", "emb"), t,
      mergeSchema = true)
    val evolved = IcebergTable.read(spark, t).orderBy($"id")
    assert(evolved.filter($"id" === 4L)
      .select(element_at($"emb", 1)).as[Double].collect().toSeq ==
      Seq(0.25))
    assert(evolved.filter($"id" === 2L).select($"emb").collect()
      .head.isNullAt(0), "old rows read the nested tail as null")
    val metaTxt2 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$t/metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(f => f.getName.stripPrefix("v")
          .stripSuffix(".metadata.json").toInt).toPath))
    assert(metaTxt2.contains("\"last-column-id\" -> 11") ||
      metaTxt2.contains("\"last-column-id\": 11"),
      s"evolved nested ids advance the mark: ${metaTxt2.take(400)}")
  }

  test("iceberg row-level writes through TRANSFORM partitions: " +
    "bucket + month") {
    // bucket[4]-partitioned: delete, update, and merge all work — the
    // kill files scope by each data file's own manifest tuple and the
    // rewritten images re-derive their buckets through the same
    // murmur3 expression appends use
    val t = tmp()
    val df = (1L to 24L).map(i => (i, s"t$i")).toDF("id", "text")
    IcebergWriter.writeAppend(spark, df, t,
      partitionBy = Seq("bucket(4, id)"))
    IcebergWriter.writeDelete(spark, t, $"id" === 7L)
    assert(IcebergTable.read(spark, t).count() == 23)
    IcebergWriter.writeUpdate(spark, t, $"id" % 6 === 0,
      Map("text" -> concat(lit("u-"), $"text")))
    val got = IcebergTable.read(spark, t).orderBy($"id")
      .select($"id", $"text").as[(Long, String)].collect().toSeq
    assert(got == (1L to 24L).filterNot(_ == 7L).map(i =>
      (i, if (i % 6 == 0) s"u-t$i" else s"t$i")),
      s"bucket-partitioned update: $got")
    IcebergWriter.writeMerge(spark, t,
      Seq((3L, "m3"), (30L, "n30")).toDF("id", "text"), Seq("id"))
    val got2 = IcebergTable.read(spark, t)
      .filter($"id".isin(3L, 30L)).orderBy($"id")
      .select($"text").as[String].collect().toSeq
    assert(got2 == Seq("m3", "n30"))
    // the transform-aware point lookup still prunes after the writes
    val hit = IcebergTable.readWhere(spark, t,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 30L)))
    assert(hit.select($"text").as[String].collect().toSeq == Seq("n30"))

    // month(d)-partitioned UPDATE: images land in their month dirs
    val t2 = tmp()
    val dates = Seq("2024-01-05", "2024-01-20", "2024-02-10").zipWithIndex
      .map { case (dt, i) => (i.toLong, java.sql.Date.valueOf(dt)) }
      .toDF("id", "d")
    IcebergWriter.writeAppend(spark, dates, t2,
      partitionBy = Seq("month(d)"))
    IcebergWriter.writeUpdate(spark, t2, $"id" === 0L,
      Map("d" -> lit(java.sql.Date.valueOf("2024-03-15"))))
    // months since epoch: 2024-03 = (2024-1970)*12 + 2 = 650
    assert(IcebergTable.readPartitions(spark, t2, Map("d_month" -> "650"))
      .select($"id").as[Long].collect().toSeq == Seq(0L),
      "the updated row moved to its new month partition")
    assert(IcebergTable.readPartitions(spark, t2, Map("d_month" -> "648"))
      .select($"id").as[Long].collect().toSeq == Seq(1L))
  }

  test("iceberg writeEqualityDelete: O(keys) delete, sequence-scoped, " +
    "null-safe") {
    val t = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 6L).map(i => (i, s"t$i")).toDF("id", "text"), t)
    IcebergWriter.writeAppend(spark,
      (7L to 12L).map(i => (i, s"t$i")).toDF("id", "text"), t)
    IcebergWriter.writeEqualityDelete(spark, t,
      Seq(3L, 7L, 99L, 7L).toDF("id")) // dup + missing keys are fine
    assert(IcebergTable.read(spark, t).select($"id").as[Long]
      .collect().sorted.toSeq ==
      (1L to 12L).filterNot(Set(3L, 7L)),
      "matching rows die, a missing key matches nothing")
    // the strictly-smaller-sequence rule: a key RE-INSERTED after the
    // delete survives it
    IcebergWriter.writeAppend(spark, Seq((3L, "re")).toDF("id", "text"), t)
    val re = IcebergTable.read(spark, t).filter($"id" === 3L)
      .select($"text").as[String].collect().toSeq
    assert(re == Seq("re"), s"re-insert after the delete survives: $re")
    // composite keys, null-SAFE equality on a nullable column
    val t2 = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((1L, Some("en")), (2L, None), (2L, Some("de")))
        .toDF("id", "lang"), t2)
    IcebergWriter.writeEqualityDelete(spark, t2,
      Seq((2L, Option.empty[String])).toDF("id", "lang"))
    assert(IcebergTable.read(spark, t2).orderBy($"id")
      .select($"id", $"lang").as[(Long, Option[String])].collect().toSeq ==
      Seq((1L, Some("en")), (2L, Some("de"))),
      "only the null-lang row for id 2 dies (null-safe match)")
    // directed: unknown key column
    val eC = intercept[Exception](
      IcebergWriter.writeEqualityDelete(spark, t,
        Seq(1L).toDF("nope")))
    assert(eC.getMessage.contains("not a top-level"), eC.getMessage)
    // a key that does not CAST to the table's type is directed — a
    // silently nulled key would match (and delete) unrelated null rows
    val eCast = intercept[Exception](
      IcebergWriter.writeEqualityDelete(spark, t,
        Seq("34x").toDF("id")))
    assert(eCast.getMessage.contains("cast"), eCast.getMessage)
  }

  test("iceberg equality deletes on PARTITIONED tables: partition-scoped " +
    "when the keys cover the spec, global under an unpartitioned spec " +
    "otherwise") {
    import org.json4s.jackson.JsonMethods
    // ---- scoped route: identity(cat), keys (id, cat) cover the spec
    val t = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((1L, "a", "t1"), (2L, "a", "t2"), (3L, "b", "t3"),
        (4L, "b", "t4"), (5L, "c", "t5")).toDF("id", "cat", "text"),
      t, partitionBy = Seq("cat"))
    def filesUnder(dir: String): Set[String] = {
      val d = new java.io.File(dir)
      if (!d.exists) Set.empty
      else {
        val b = Set.newBuilder[String]
        def walk(f: java.io.File): Unit =
          if (f.isDirectory) f.listFiles.foreach(walk)
          else if (f.getName.endsWith(".parquet")) b += f.getAbsolutePath
        walk(d); b.result()
      }
    }
    val before = filesUnder(s"$t/data")
    IcebergWriter.writeEqualityDelete(spark, t,
      Seq((2L, "a"), (3L, "b")).toDF("id", "cat"))
    assert(IcebergTable.read(spark, t).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 4L, 5L),
      "scoped equality delete kills across two partitions")
    // the delete files are PARTITION-SCOPED: they land one per touched
    // tuple, and the untouched partition gets none
    val delFiles = filesUnder(s"$t/data") -- before
    assert(delFiles.size == 2 &&
      delFiles.exists(_.contains("=a")) && delFiles.exists(_.contains("=b")) &&
      !delFiles.exists(_.contains("=c")),
      s"one scoped delete file per touched partition: $delFiles")
    // re-insert after the delete survives (sequence rule, scoped case)
    IcebergWriter.writeAppend(spark,
      Seq((2L, "a", "re")).toDF("id", "cat", "text"), t)
    assert(IcebergTable.read(spark, t).filter($"id" === 2L)
      .select($"text").as[String].collect().toSeq == Seq("re"))
    // ---- scoped route through a TRANSFORM: bucket(3, id), keys (id)
    val tb = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 30L).map(i => (i, s"t$i")).toDF("id", "text"), tb,
      partitionBy = Seq("bucket(3, id)"))
    IcebergWriter.writeEqualityDelete(spark, tb,
      (1L to 30L).filter(_ % 5 == 0).toDF("id"))
    assert(IcebergTable.read(spark, tb).select($"id").as[Long]
      .collect().sorted.toSeq == (1L to 30L).filterNot(_ % 5 == 0),
      "keys derive the bucket tuple — the scoped route handles transforms")
    // ---- global route: identity(cat) but keys (id) only
    val tg = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((1L, "a", "t1"), (2L, "a", "t2"), (3L, "b", "t3"),
        (4L, "c", "t4")).toDF("id", "cat", "text"),
      tg, partitionBy = Seq("cat"))
    IcebergWriter.writeEqualityDelete(spark, tg, Seq(2L, 4L).toDF("id"))
    assert(IcebergTable.read(spark, tg).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L),
      "a global delete applies across every partition")
    // the commit registered an UNPARTITIONED spec alongside the default
    // — default-spec-id untouched
    val metaDir = new java.io.File(s"$tg/metadata")
    val latest = metaDir.listFiles.map(_.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
      .maxBy(n => n.stripPrefix("v").stripSuffix(".metadata.json").toLong)
    val mj = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tg/metadata/$latest"))))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val specList = (mj \ "partition-specs").extract[Seq[org.json4s.JValue]]
    assert(specList.size == 2, s"unpartitioned spec registered: $specList")
    assert(specList.exists(sp =>
      (sp \ "fields").extract[Seq[org.json4s.JValue]].isEmpty &&
        (sp \ "spec-id").extract[Int] == 1),
      s"the new spec is empty with id 1: $specList")
    assert((mj \ "default-spec-id").extract[Int] == 0,
      "default-spec-id stays on the partitioned spec")
    // a SECOND global delete reuses the registered spec (no third spec)
    IcebergWriter.writeEqualityDelete(spark, tg, Seq(3L).toDF("id"))
    val latest2 = metaDir.listFiles.map(_.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
      .maxBy(n => n.stripPrefix("v").stripSuffix(".metadata.json").toLong)
    val mj2 = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tg/metadata/$latest2"))))
    assert((mj2 \ "partition-specs").extract[Seq[org.json4s.JValue]]
      .size == 2, "the unpartitioned spec is reused, not duplicated")
    assert(IcebergTable.read(spark, tg).select($"id").as[Long]
      .collect().toSeq == Seq(1L))
  }

  test("iceberg writeMergeByKey: zero-scan equality-delete upsert — " +
    "v2 + v3 + partitioned routes, stacking, replace-by-key") {
    // v2 flat: matched keys replaced, new keys inserted, no table scan
    val t = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 10L).map(i => (i, s"t$i")).toDF("id", "text"), t)
    val before = IcebergTable.read(spark, t).inputFiles.toSet
    IcebergWriter.writeMergeByKey(spark, t,
      Seq((2L, "m2"), (11L, "n11")).toDF("id", "text"), Seq("id"))
    val got = IcebergTable.read(spark, t).orderBy($"id")
      .select($"id", $"text").as[(Long, String)].collect().toSeq
    assert(got == ((1L to 11L).map(i =>
      (i, if (i == 2L) "m2" else if (i == 11L) "n11" else s"t$i"))),
      s"upsert result: $got")
    // the original data files were NOT rewritten (merge-on-read)
    assert(before.subsetOf(IcebergTable.read(spark, t).inputFiles.toSet),
      "zero-scan merge must not rewrite data files")
    // STACKING: a second merge on an already-merged key — its images
    // commit at a HIGHER sequence, so they survive its own delete and
    // kill the first merge's image
    IcebergWriter.writeMergeByKey(spark, t,
      Seq((2L, "m2b")).toDF("id", "text"), Seq("id"))
    assert(IcebergTable.read(spark, t).filter($"id" === 2L)
      .select($"text").as[String].collect().toSeq == Seq("m2b"))
    // replace-by-key: a key present TWICE in the target collapses to
    // the single source image (the documented semantics)
    IcebergWriter.writeAppend(spark, Seq((3L, "t3-dup")).toDF("id", "text"), t)
    IcebergWriter.writeMergeByKey(spark, t,
      Seq((3L, "m3")).toDF("id", "text"), Seq("id"))
    assert(IcebergTable.read(spark, t).filter($"id" === 3L)
      .select($"text").as[String].collect().toSeq == Seq("m3"))
    // duplicate SOURCE keys stay directed
    val eDup = intercept[Exception](IcebergWriter.writeMergeByKey(spark, t,
      Seq((5L, "a"), (5L, "b")).toDF("id", "text"), Seq("id")))
    assert(eDup.getMessage.contains("duplicate"), eDup.getMessage)
    // the key-only merge has no target row to name (writeMerge's message
    // says "one target row")
    assert(eDup.getMessage.contains("one key cannot take two images"),
      eDup.getMessage)
    // v3 twin: eq deletes are first-class in v3, lineage advances by
    // the INSERTED rows only at the metadata level
    val t3 = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 6L).map(i => (i, s"t$i")).toDF("id", "text"), t3,
      formatVersion = 3)
    IcebergWriter.writeMergeByKey(spark, t3,
      Seq((2L, "m2"), (7L, "n7")).toDF("id", "text"), Seq("id"))
    assert(IcebergTable.read(spark, t3).orderBy($"id")
      .select($"text").as[String].collect().toSeq ==
      Seq("t1", "m2", "t3", "t4", "t5", "t6", "n7"))
    val m3meta = new java.io.File(s"$t3/metadata").listFiles
      .filter(_.getName.endsWith(".metadata.json"))
      .maxBy(f => f.getName.stripPrefix("v")
        .stripSuffix(".metadata.json").toLong)
    val m3txt = new String(java.nio.file.Files.readAllBytes(m3meta.toPath))
    assert(m3txt.contains("\"next-row-id\": 8"),
      s"v3 lineage advances by the 2 source rows: $m3txt")
    // plain v3 writeEqualityDelete works too (v3 deprecates positional
    // FILES, not equality deletes)
    IcebergWriter.writeEqualityDelete(spark, t3, Seq(4L).toDF("id"))
    assert(IcebergTable.read(spark, t3).count() == 6)
    // partitioned: keys cover a bucket spec -> SCOPED delete files in
    // bucket dirs; identity(cat) with id-only keys -> GLOBAL route
    val tb = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 30L).map(i => (i, s"t$i")).toDF("id", "text"), tb,
      partitionBy = Seq("bucket(3, id)"))
    IcebergWriter.writeMergeByKey(spark, tb,
      Seq((6L, "m6"), (31L, "n31")).toDF("id", "text"), Seq("id"))
    assert(IcebergTable.read(spark, tb).count() == 31)
    assert(IcebergTable.read(spark, tb)
      .filter($"id".isin(6L, 31L)).select($"text").as[String]
      .collect().sorted.toSeq == Seq("m6", "n31"))
    val tg = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((1L, "a", "t1"), (2L, "b", "t2"), (3L, "c", "t3"))
        .toDF("id", "cat", "text"), tg, partitionBy = Seq("cat"))
    IcebergWriter.writeMergeByKey(spark, tg,
      Seq((2L, "b", "m2"), (4L, "d", "n4")).toDF("id", "cat", "text"),
      Seq("id"))
    assert(IcebergTable.read(spark, tg).orderBy($"id")
      .select($"text").as[String].collect().toSeq ==
      Seq("t1", "m2", "t3", "n4"),
      "global-route merge applies across partitions")
  }

  test("review arms r17: delete files are id-keyed, identifier-boundary " +
    "contract guard, foreign eq-delete files resolve by field id") {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    def topIds(p: String): Map[String, Int] = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(p), conf))
      val g = try r.getFooter.getFileMetaData.getSchema finally r.close()
      g.getFields.asScala.flatMap(t =>
        Option(t.getId).map(id => t.getName -> id.intValue)).toMap
    }
    def dataFiles(t: String): Set[String] =
      new java.io.File(s"$t/data").listFiles
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    // (1) equality-delete key files carry the table's field ids — they
    // are data-file-spec files a stock reader resolves BY ID
    val t = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 8L).map(i => (i, s"t$i")).toDF("id", "text"), t)
    val before = dataFiles(t)
    IcebergWriter.writeEqualityDelete(spark, t, Seq(2L, 5L).toDF("id"))
    val eqFile = (dataFiles(t) -- before).head
    assert(topIds(eqFile) == Map("id" -> 1),
      s"eq-delete file must be id-keyed: ${topIds(eqFile)}")
    // (2) positional kill files carry the spec's RESERVED column ids
    val t2 = tmp()
    IcebergWriter.writeAppend(spark,
      (1L to 8L).map(i => (i, s"t$i")).toDF("id", "text"), t2)
    val before2 = dataFiles(t2)
    IcebergWriter.writeDelete(spark, t2, $"id" === 3L)
    val killFile = (dataFiles(t2) -- before2).head
    assert(topIds(killFile) ==
      Map("file_path" -> 2147483546, "pos" -> 2147483545),
      s"kill file must use reserved ids: ${topIds(killFile)}")
    // (3) the contract guard matches IDENTIFIERS: a short column name
    // appearing inside another identifier no longer blocks its rename,
    // while a real (even backtick-quoted) mention still does
    def mappedTable(cols: Seq[(String, Int)],
        constraints: Map[String, String]): String = {
      val d = tmp()
      val fields = cols.map { case (n, i) =>
        s"""{"name":"$n","type":"long","nullable":true,""" +
          s""""metadata":{"delta.columnMapping.physicalName":"col-$i",""" +
          s""""delta.columnMapping.id":$i}}"""
      }.mkString(",")
      val schemaStr = s"""{"type":"struct","fields":[$fields]}"""
        .replace("\\", "\\\\").replace("\"", "\\\"")
      val cfg = (Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> cols.map(_._2).max.toString) ++
        constraints).map { case (k, v) =>
          s""""$k":"${v.replace("\"", "\\\"")}"""" }.mkString(",")
      new java.io.File(s"$d/_delta_log").mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$d/_delta_log/00000000000000000000.json"),
        (s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":["columnMapping"],""" +
          s""""writerFeatures":["columnMapping","checkConstraints"]}}""" +
          "\n" +
          s"""{"metaData":{"id":"m","format":{"provider":"parquet",""" +
          s""""options":{}},"schemaString":"$schemaStr",""" +
          s""""partitionColumns":[],"configuration":{$cfg},""" +
          s""""createdTime":0}}""").getBytes("UTF-8"))
      d
    }
    val tA = mappedTable(Seq(("id", 1), ("v", 2), ("level", 3)),
      Map("delta.constraints.lvl" -> "level < 1000"))
    // 'v' occurs in 'level' only as a substring — the rename proceeds
    DeltaWriter.renameColumn(spark, tA, "v", "w")
    val tB = mappedTable(Seq(("id", 1), ("v", 2)),
      Map("delta.constraints.pos" -> "`v` > 0"))
    val eMention = intercept[Exception](
      DeltaWriter.renameColumn(spark, tB, "v", "w"))
    assert(eMention.getMessage.contains("mentions"), eMention.getMessage)
    // case-insensitive like SQL resolution: 'V > 0' mentions column v
    val tC = mappedTable(Seq(("id", 1), ("v", 2)),
      Map("delta.constraints.pos" -> "V > 0"))
    val eCase = intercept[Exception](
      DeltaWriter.renameColumn(spark, tC, "v", "w"))
    assert(eCase.getMessage.contains("mentions"), eCase.getMessage)
    // (4) a FOREIGN eq-delete file spelled differently but keyed by
    // field id resolves; a file with neither id nor name is directed
    def overwriteWith(df: org.apache.spark.sql.DataFrame,
        target: String): Unit = {
      val d = java.nio.file.Files.createTempDirectory("foreign").toString
      df.repartition(1).write.mode("overwrite").parquet(d)
      val part = new java.io.File(d).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(target),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the local FS keeps a checksum sidecar for the ORIGINAL bytes
      val tf = new java.io.File(target)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(tf.getParent, s".${tf.getName}.crc"))
    }
    val idMd = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 1L).build()
    overwriteWith(Seq(2L, 5L).toDF("x").select($"x".as("id_zz", idMd)),
      eqFile)
    assert(IcebergTable.read(spark, t).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 6L, 7L, 8L),
      "id-keyed foreign delete file resolves by field id")
    overwriteWith(Seq(2L, 5L).toDF("id_zz"), eqFile)
    val eNone = intercept[Exception](
      IcebergTable.read(spark, t).collect())
    assert(eNone.getMessage.contains("field id"), eNone.getMessage)
  }

  test("setProperties both formats: ADD CONSTRAINT validates existing " +
    "rows, CDF enables mid-life, unset works") {
    import graft.sources.TableCommit.ConstraintViolation
    val t = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, 50L)).toDF("id", "v"), t)
    // ADD CONSTRAINT the existing rows violate: rejected whole
    val eBad = intercept[ConstraintViolation] {
      DeltaWriter.setProperties(spark, t,
        Map("delta.constraints.small" -> "v < 10"))
    }
    assert(eBad.getMessage.contains("small"), eBad.getMessage)
    // a satisfiable constraint commits, carries its writer-version-3
    // protocol obligation, and binds future writes
    DeltaWriter.setProperties(spark, t,
      Map("delta.constraints.small" -> "v < 100"))
    val log1p = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000001.json")))
    assert(log1p.contains("\"minWriterVersion\":3"),
      s"ADD CONSTRAINT must obligate writer version 3: $log1p")
    intercept[ConstraintViolation] {
      DeltaWriter.writeAppend(spark, Seq((2L, 500L)).toDF("id", "v"), t)
    }
    DeltaWriter.writeAppend(spark, Seq((2L, 60L)).toDF("id", "v"), t)
    // CDF enabled mid-life: the protocol upgrades and the feed serves
    // row-level changes from the enable version onward
    DeltaWriter.setProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    val log3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000003.json")))
    assert(log3.contains("\"minWriterVersion\":4"),
      s"CDF enablement must carry its protocol obligation: $log3")
    DeltaWriter.writeUpdate(spark, t, $"id" === 1L,
      Map("v" -> ($"v" + 1L)))
    val cdf = DeltaTable.readCdf(spark, t, 4L)
      .select($"id", $"v", $"_change_type")
      .as[(Long, Long, String)].collect().sortBy(_._3).toSeq
    assert(cdf == Seq((1L, 51L, "update_postimage"),
      (1L, 50L, "update_preimage")), s"mid-life CDF serves: $cdf")
    // UNSET releases the constraint
    DeltaWriter.setProperties(spark, t, Map.empty,
      unset = Seq("delta.constraints.small"))
    DeltaWriter.writeAppend(spark, Seq((3L, 500L)).toDF("id", "v"), t)
    assert(DeltaTable.read(spark, t).count() == 3)
    // a column-mapping flip is a migration, not a property
    val eCm = intercept[Exception] {
      DeltaWriter.setProperties(spark, t,
        Map("delta.columnMapping.mode" -> "name"))
    }
    assert(eCm.getMessage.contains("MIGRATION"), eCm.getMessage)
    // REPLACING a constraint's expression re-validates existing rows
    // (value compare, not key presence)
    DeltaWriter.setProperties(spark, t,
      Map("delta.constraints.small" -> "v < 1000"))
    val eRep = intercept[ConstraintViolation] {
      DeltaWriter.setProperties(spark, t,
        Map("delta.constraints.small" -> "v < 10"))
    }
    assert(eRep.getMessage.contains("small"), eRep.getMessage)
    // a key in BOTH set and unset is ambiguous — both formats reject
    val eOv = intercept[Exception] {
      DeltaWriter.setProperties(spark, t, Map("x" -> "1"),
        unset = Seq("x"))
    }
    assert(eOv.getMessage.contains("ambiguous"), eOv.getMessage)

    // Iceberg: free-form properties round trip, unknown value shapes
    // and the rest of the metadata carried verbatim
    val it = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((1L, "a")).toDF("id", "text"), it)
    IcebergWriter.setProperties(spark, it,
      Map("commit.retry.num-retries" -> "5", "owner" -> "corpus"))
    def metaTxt(): String = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$it/metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(f => f.getName.stripPrefix("v")
          .stripSuffix(".metadata.json").toInt).toPath))
    assert(metaTxt().contains("\"commit.retry.num-retries\":\"5\""))
    assert(IcebergTable.read(spark, it).count() == 1,
      "reads keep working after the property commit")
    IcebergWriter.setProperties(spark, it, Map.empty,
      unset = Seq("owner"))
    assert(!metaTxt().contains("\"owner\""))
    // appends after the property commit keep the properties
    IcebergWriter.writeAppend(spark, Seq((2L, "b")).toDF("id", "text"), it)
    assert(metaTxt().contains("\"commit.retry.num-retries\":\"5\""),
      "a later snapshot commit carries the properties forward")
  }

  test("iceberg removeOrphanFiles: unreferenced only, grace-fenced") {
    val table = tmp()
    IcebergWriter.writeAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "text"), table)
    IcebergWriter.writeDelete(spark, table, $"id" === 2L)
    // plant two orphans (a crashed writer's leftovers): one OLD, one
    // fresh within the grace period
    val oldOrphan = new java.io.File(s"$table/data/orphan-old.parquet")
    val newOrphan = new java.io.File(s"$table/data/orphan-new.parquet")
    Seq((9L, "x")).toDF("id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$table/_tmp_orphan")
    val src = new java.io.File(s"$table/_tmp_orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    java.nio.file.Files.copy(src, oldOrphan.toPath)
    java.nio.file.Files.copy(src, newOrphan.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$table/_tmp_orphan"))
    assert(oldOrphan.setLastModified(
      System.currentTimeMillis() - 10L * 24 * 3600 * 1000))
    // BACKDATE every real table artifact past the cutoff too — the
    // referenced-set computation, not the mtime fence, must be what
    // protects them (an empty referenced set would delete the table)
    def backdateAll(d: java.io.File): Unit = {
      if (d.isDirectory) d.listFiles().foreach(backdateAll)
      else if (d.getPath != newOrphan.getPath)
        assert(d.setLastModified(
          System.currentTimeMillis() - 10L * 24 * 3600 * 1000))
    }
    backdateAll(new java.io.File(table))
    val before = IcebergTable.read(spark, table)
      .select($"id").as[Long].collect().sorted.toSeq
    val n = IcebergWriter.removeOrphanFiles(spark, table,
      olderThanTimestampMs = System.currentTimeMillis() - 24 * 3600 * 1000)
    assert(n == 1, s"exactly the old orphan: $n")
    assert(!oldOrphan.exists() && newOrphan.exists(),
      "grace period protects the fresh file")
    // every referenced artifact intact: the table reads unchanged,
    // including the positional-delete application
    assert(IcebergTable.read(spark, table)
      .select($"id").as[Long].collect().sorted.toSeq == before)
    assert(before == Seq(1L))
    // idempotent second pass finds nothing
    assert(IcebergWriter.removeOrphanFiles(spark, table,
      olderThanTimestampMs =
        System.currentTimeMillis() - 24 * 3600 * 1000) == 0)
  }

  test("time travel by timestamp, both formats") {
    import graft.sources.{TableCommit => _}
    val dt = tmp()
    DeltaWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), dt)
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    DeltaWriter.writeAppend(spark, Seq((2L, "b")).toDF("id", "text"), dt)
    assert(DeltaTable.versionAt(spark, dt, between) == 0L)
    assert(DeltaTable.readAsOf(spark, dt, between).count() == 1)
    assert(DeltaTable.readAsOf(spark, dt,
      System.currentTimeMillis() + 1000).count() == 2)
    val eD = intercept[Exception](DeltaTable.readAsOf(spark, dt, 1L))
    assert(eD.getMessage.contains("predates"), eD.getMessage)

    val it = tmp()
    IcebergWriter.writeAppend(spark, Seq((1L, "a")).toDF("id", "text"), it)
    Thread.sleep(15)
    val ibetween = System.currentTimeMillis()
    Thread.sleep(15)
    IcebergWriter.writeAppend(spark, Seq((2L, "b")).toDF("id", "text"), it)
    assert(IcebergTable.readAsOf(spark, it, ibetween).count() == 1)
    assert(IcebergTable.readAsOf(spark, it,
      System.currentTimeMillis() + 1000).count() == 2)
    val eI2 = intercept[Exception](IcebergTable.readAsOf(spark, it, 1L))
    assert(eI2.getMessage.contains("predates"), eI2.getMessage)
  }

  test("appends go through the write core: an empty append places no " +
    "data file and still commits, both formats") {
    val one = Seq((1L, "a")).toDF("id", "text")
    val none = one.filter($"id" < 0L)
    val d = tmp()
    assert(DeltaWriter.writeAppend(spark, one, d) == 0L)
    assert(DeltaWriter.writeAppend(spark, none, d) == 1L)
    assert(dataFiles(d, "_delta_log").size == 1, dataFiles(d, "_delta_log"))
    assert(DeltaTable.read(spark, d).count() == 1)
    val i = tmp()
    val s1 = IcebergWriter.writeAppend(spark, one, i)
    val s2 = IcebergWriter.writeAppend(spark, none, i)
    assert(s2 != s1 && IcebergTable.currentSnapshotId(spark, i).contains(s2))
    assert(dataFiles(i, "metadata").size == 1, dataFiles(i, "metadata"))
    assert(IcebergTable.read(spark, i).count() == 1)
    // a CREATE from an empty frame is typed and empty, with no data file
    val de = tmp()
    assert(DeltaWriter.writeAppend(spark, none, de) == 0L)
    assert(dataFiles(de, "_delta_log").isEmpty, dataFiles(de, "_delta_log"))
    val dRead = DeltaTable.read(spark, de)
    assert(dRead.schema.map(f => (f.name, f.dataType)) ==
      one.schema.map(f => (f.name, f.dataType)) && dRead.count() == 0)
    val ie = tmp()
    IcebergWriter.writeAppend(spark, none, ie)
    assert(dataFiles(ie, "metadata").isEmpty, dataFiles(ie, "metadata"))
    val iRead = IcebergTable.read(spark, ie)
    assert(iRead.schema.map(f => (f.name, f.dataType)) ==
      one.schema.map(f => (f.name, f.dataType)) && iRead.count() == 0)
  }
}
