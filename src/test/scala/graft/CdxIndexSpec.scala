package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.{CdxIndex, Warc}
import graft.sources.Warc.WarcRec

class CdxIndexSpec extends SparkSpec {
  import spark.implicits._

  test("cdxj lines parse into typed capture rows") {
    val dir = java.nio.file.Files.createTempDirectory("cdx").toString
    CdxIndex.writeGz(s"$dir/cdx-00000.gz", Seq(
      """com,example)/a 20260101120000 {"url": "https://example.com/a", "mime": "text/html", "status": "200", "digest": "AAAA", "length": "512", "offset": "0", "filename": "crawl/seg/f.warc.gz"}""",
      """com,example)/b 20260102130000 {"url": "https://example.com/b", "status": "404", "offset": "512", "filename": "crawl/seg/f.warc.gz"}""",
      "garbage line without json",
      "com,example)/broken 20260101120000 {not valid json at all"))
    val cdx = CdxIndex.read(spark, s"$dir/cdx-*.gz").orderBy($"surt")
    assert(cdx.count() == 2) // JSON-less AND malformed-JSON lines both drop
    val a = cdx.head()
    assert(a.getAs[String]("surt") == "com,example)/a")
    assert(a.getAs[String]("timestamp") == "20260101120000")
    assert(a.getAs[Int]("status") == 200)
    assert(a.getAs[Long]("length") == 512L && a.getAs[Long]("offset") == 0L)
    // sparse lines: absent fields are null, address fields still typed
    val b = cdx.collect()(1)
    assert(b.isNullAt(b.fieldIndex("mime")) && b.getAs[Long]("offset") == 512L)
    // fetchIndex resolves relative filenames against the data base
    val fi = CdxIndex.fetchIndex(cdx, "file:/data").orderBy($"offset").head()
    assert(fi.getString(0) == "file:/data/crawl/seg/f.warc.gz")
    // address-less records (revisit entries) drop instead of reaching
    // fetch as nulls
    val withRevisit = cdx.unionByName(spark.sql(
      """SELECT 'com,example)/r' surt, '20260101120000' timestamp,
        |'https://example.com/r' url, CAST(NULL AS STRING) mime,
        |304 status, CAST(NULL AS STRING) digest, CAST(NULL AS BIGINT) length,
        |CAST(NULL AS BIGINT) offset, CAST(NULL AS STRING) filename
        |""".stripMargin))
    assert(CdxIndex.fetchIndex(withRevisit, "file:/data").count() == 2)
  }

  // sorted CDXJ lines across `hosts` hosts, `perHost` captures each —
  // the SURT-sorted shard layout Common Crawl ships
  private def sortedLines(hosts: Int, perHost: Int): Seq[String] =
    (0 until hosts).flatMap { h =>
      val host = f"test,host-$h%04d)"
      (0 until perHost).map { d =>
        f"""$host/page/$d%05d 20260101000000 {"url": "https://host-$h.test/page/$d", """ +
          s""""status": "200", "offset": "${h * 1000 + d}", "filename": "seg/f.warc.gz"}"""
      }
    }.sorted

  private def countingReadAt(path: String): ((Long, Array[Byte], Int, Int) => Unit, () => Long) = {
    val raf = new java.io.RandomAccessFile(path, "r")
    var bytes = 0L
    val readAt = (pos: Long, buf: Array[Byte], off: Int, len: Int) => {
      raf.seek(pos); raf.readFully(buf, off, len); bytes += len
    }
    (readAt, () => bytes)
  }

  test("surt-prefix pushdown: binary search reads a sub-file slice") {
    val dir = java.nio.file.Files.createTempDirectory("cdxbs").toString
    val lines = sortedLines(hosts = 2000, perHost = 12)
    val path = s"$dir/part-0.cdx"
    CdxIndex.writePlain(path, lines)
    val fileLen = new java.io.File(path).length()
    assert(fileLen > 3000000, s"fixture too small to prove pruning: $fileLen")

    // a mid-file host: the planned range covers just its run
    val (readAt, probed) = countingReadAt(path)
    val Some((s, e)) = CdxIndex.planFileRange(readAt, fileLen, "test,host-0207)")
    val spanBytes = e - s
    assert(spanBytes < fileLen / 50,
      s"span $spanBytes of $fileLen is not a narrow slice")
    // planning IO is O(log n) small probes, not a scan: ~100s of KiB
    // whatever the shard size, here under a tenth of even this small shard
    assert(probed() < math.min(fileLen / 10, 400L * 1024),
      s"probed ${probed()} of $fileLen")
    // the planned range is exact: decoding it yields the host's lines
    val buf = new Array[Byte]((e - s).toInt)
    readAt(s, buf, 0, buf.length)
    val got = new String(buf, "UTF-8").split("\n").toSeq
    assert(got.size == 12 && got.forall(_.startsWith("test,host-0207)")))

    // a shard whose keys are all below/above the prefix is pruned outright
    assert(CdxIndex.planFileRange(readAt, fileLen, "test,host-9999)").isEmpty)
    assert(CdxIndex.planFileRange(readAt, fileLen, "aaa,").isEmpty)
    // boundary hosts resolve too
    assert(CdxIndex.planFileRange(readAt, fileLen, "test,host-0000)").get._1 == 0L)
    assert(CdxIndex.planFileRange(readAt, fileLen, "test,host-1999)").get._2 == fileLen)
  }

  test("fuzz: planFileRange equals brute force over random sorted shards") {
    val rng = new scala.util.Random(20260814)
    for (trial <- 0 until 20) {
      val nKeys = 50 + rng.nextInt(400)
      val keys = Seq.fill(nKeys) {
        val host = s"${('a' + rng.nextInt(4)).toChar}${('a' + rng.nextInt(26)).toChar}"
        s"com,$host)/p/${rng.nextInt(50)}"
      }
      // variable-length json tails exercise uneven line lengths
      val lines = keys.map(k => s"""$k 20260101000000 {"url": "u", """ +
        s""""filename": "${"x" * rng.nextInt(80)}"}""").sorted
      val bytes = (lines.mkString("\n") + "\n").getBytes("UTF-8")
      val readAt = (pos: Long, buf: Array[Byte], off: Int, len: Int) =>
        System.arraycopy(bytes, pos.toInt, buf, off, len)
      val offsets = lines.scanLeft(0L)((acc, l) =>
        acc + l.getBytes("UTF-8").length + 1)
      for (_ <- 0 until 12) {
        val prefix = rng.nextInt(3) match {
          case 0 =>
            val k = lines(rng.nextInt(lines.size)).split(" ").head
            k.take(1 + rng.nextInt(k.length))
          case 1 => s"com,${('a' + rng.nextInt(5)).toChar}"
          case _ =>
            lines(rng.nextInt(lines.size)).split(" ").head +
              (if (rng.nextBoolean()) "z" else "")
        }
        val surtOf = lines.map(_.split(" ").head)
        val hits = surtOf.indices.filter(i => surtOf(i).startsWith(prefix))
        val got = CdxIndex.planFileRange(readAt, bytes.length.toLong, prefix)
        if (hits.isEmpty)
          assert(got.isEmpty, s"trial $trial prefix '$prefix': got $got")
        else {
          // sortedness makes the matching run contiguous: the planned range
          // must be exactly its byte extent
          val want = (offsets(hits.head), offsets(hits.last + 1))
          assert(got.contains(want),
            s"trial $trial prefix '$prefix': got $got want $want")
        }
      }
    }
  }

  test("readPrefix equals scan+filter, splits spans, prunes shards, mixes gz") {
    val dir = java.nio.file.Files.createTempDirectory("cdxrp").toString
    val lines = sortedLines(hosts = 60, perHost = 10)
    val (loHalf, hiHalf) = lines.splitAt(lines.size / 2)
    CdxIndex.writePlain(s"$dir/part-0.cdx", loHalf)
    CdxIndex.writePlain(s"$dir/part-1.cdx", hiHalf)
    val full = CdxIndex.read(spark, s"$dir/part-*.cdx")
    for (prefix <- Seq("test,host-0007)", "test,host-0042)", "test,host-0059)",
        "test,host-00", "test,nosuch")) {
      val pushed = CdxIndex.readPrefix(spark, s"$dir/part-*.cdx", prefix)
        .orderBy($"surt").collect().toSeq
      val scanned = full.filter($"surt".startsWith(prefix))
        .orderBy($"surt").collect().toSeq
      assert(pushed == scanned, s"prefix $prefix")
    }
    // tiny maxSpanBytes: the wide-prefix read fans out into several tasks
    // and line ownership across chunk cuts stays exact
    val chunked = CdxIndex.readPrefix(spark, s"$dir/part-*.cdx",
      "test,host-00", maxSpanBytes = 4096)
    assert(chunked.rdd.getNumPartitions > 1)
    assert(chunked.count() == full.filter($"surt".startsWith("test,host-00")).count())
    // gz shards join the result through the scan fallback
    CdxIndex.writeGz(s"$dir/extra.gz", Seq(
      """test,host-0007)/gz 20260101000000 {"url": "https://host-7.test/gz", "status": "200", "offset": "1", "filename": "seg/f.warc.gz"}"""))
    val mixed = CdxIndex.readPrefix(spark, s"$dir/*", "test,host-0007)")
    assert(mixed.count() == 11)
    assert(mixed.filter($"url" === "https://host-7.test/gz").count() == 1)
  }

  test("zipnum layout: cluster.idx plans member fetches, not shard scans") {
    val dir = java.nio.file.Files.createTempDirectory("cdxzn").toString
    val lines = sortedLines(hosts = 300, perHost = 10)
    CdxIndex.writeZipnum(dir, lines, linesPerMember = 40, shards = 3)
    // every gz shard is multi-member; cluster.idx is sorted and complete
    val idxLines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/cluster.idx")), "UTF-8")
      .split("\n").toSeq
    assert(idxLines.size == (lines.size + 39) / 40)
    assert(idxLines == idxLines.sorted)

    val full = CdxIndex.read(spark, s"$dir/cdx-*.gz")
    for (prefix <- Seq("test,host-0123)", "test,host-0000)", "test,host-0299)",
        "test,host-02", "test,nosuch")) {
      val zn = CdxIndex.readPrefixZipnum(spark, s"$dir/cluster.idx", prefix)
        .orderBy($"surt").collect().toSeq
      val scanned = full.filter($"surt".startsWith(prefix))
        .orderBy($"surt").collect().toSeq
      assert(zn == scanned, s"prefix $prefix: ${zn.size} vs ${scanned.size}")
    }
    // IO shape: a one-host lookup touches at most 2 members (run + the
    // preceding one), far under the 75-member inventory
    val narrow = CdxIndex.readPrefixZipnum(spark, s"$dir/cluster.idx",
      "test,host-0123)")
    assert(narrow.rdd.getNumPartitions <= 2)
    assert(narrow.count() == 10)
  }

  test("distributed zipnum build: sorted shards + cluster.idx, lookups work") {
    val dir = java.nio.file.Files.createTempDirectory("cdxznw").toString
    val lines = sortedLines(hosts = 150, perHost = 8)
    val shuffled = new scala.util.Random(5).shuffle(lines)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(shuffled.map(org.apache.spark.sql.Row(_)), 7),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("line",
          org.apache.spark.sql.types.StringType))))
    val n = CdxIndex.writeZipnumShards(df, dir, shards = 4, linesPerMember = 50)
    assert(n == 4)
    // the built index is globally sorted and complete
    val idx = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/cluster.idx")), "UTF-8")
      .split("\n").toSeq
    assert(idx == idx.sorted)
    assert(idx.size == lines.grouped(50).size ||
      idx.size >= (lines.size + 49) / 50) // per-shard member rounding
    // full content survives the build
    val back = CdxIndex.read(spark, s"$dir/cdx-*.gz")
    assert(back.count() == lines.size)
    // and the lookup half reads it
    val one = CdxIndex.readPrefixZipnum(spark, s"$dir/cluster.idx",
      "test,host-0077)")
    assert(one.count() == 8)
    // a re-run with fewer shards clears the stale higher-numbered ones
    assert(CdxIndex.writeZipnumShards(df, dir, shards = 2,
      linesPerMember = 50) == 2)
    assert(CdxIndex.read(spark, s"$dir/cdx-*.gz").count() == lines.size)
  }

  test("index-build round-trip: crawl -> surt index -> selective fetch") {
    val dir = java.nio.file.Files.createTempDirectory("cdxrt").toString
    // a small crawl
    val recs = (0 until 20).map { i =>
      WarcRec("response",
        Warc.httpResponse(if (i % 4 == 3) 404 else 200, "text/html",
          s"body-$i".getBytes("UTF-8")),
        targetUri = s"https://www.Example.com/p/$i",
        contentType = "application/http; msgtype=response")
    }
    Warc.write(s"$dir/f0.warc.gz", recs.take(10))
    Warc.write(s"$dir/f1.warc.gz", recs.drop(10))
    // build the index FROM the crawl: records -> surt keys + addresses
    val crawl = Warc.read(spark, s"$dir/f*.warc.gz")
      .filter($"warc_type" === "response")
    val indexed = crawl.select(
      TextFunctions.surtKey($"target_uri").as("surt"),
      lit("20260101000000").as("timestamp"),
      $"target_uri".as("url"),
      $"http_content_type".as("mime"),
      $"http_status".as("status"),
      md5($"payload").as("digest"),
      $"length", $"offset", $"file_uri".as("filename"))
    val lines = CdxIndex.toLines(indexed).as[String].collect().sorted
    assert(lines.head.startsWith("com,example)/p/0 20260101000000 {"))
    CdxIndex.writeGz(s"$dir/cdx-00000.gz", lines)
    // the consumer side: parse the index, select 200s, fetch only those
    val cdx = CdxIndex.read(spark, s"$dir/cdx-*.gz")
    assert(cdx.count() == 20)
    val sel = CdxIndex.fetchIndex(cdx.filter($"status" === 200), base = "")
    val fetched = Warc.fetch(sel)
    assert(fetched.count() == 15)
    assert(fetched.select(md5($"payload")).distinct().count() == 15)
    // digests from the index agree with the fetched payloads
    val byUri = fetched.select($"target_uri", md5($"payload").as("d"))
    val joinCheck = cdx.filter($"status" === 200)
      .join(byUri, cdx("url") === byUri("target_uri"))
      .filter($"digest" === $"d")
    assert(joinCheck.count() == 15)
  }

  test("a glob read expands on the driver: same rows, no FileStreamSink WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = java.nio.file.Files.createTempDirectory("cdxglob").toString
    def line(i: Int) = s"com,example)/p$i 20260101120000 " +
      s"""{"url": "https://example.com/p$i", "offset": "$i", "filename": "f.warc.gz"}"""
    (0 until 3).foreach(f => CdxIndex.writeGz(f"$dir/cdx-$f%05d.gz", (0 until 4).map(i => line(f * 4 + i))))
    // a hidden file in the directory is skipped, as Spark's listing skips it
    CdxIndex.writeGz(s"$dir/_cdx-hidden.gz", Seq(line(99)))
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink").asInstanceOf[CoreLogger]
    assert(logger.isEnabled(Level.WARN), "the probe's WARN would be logged")
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("cdx-glob-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    val (glob, asDir) = try {
      (CdxIndex.read(spark, s"$dir/cdx-*.gz").collect(), CdxIndex.read(spark, dir).collect())
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(warned.isEmpty, warned.toString)
    val perFile = (0 until 3).flatMap(f => CdxIndex.read(spark, f"$dir/cdx-$f%05d.gz").collect())
    assert(glob.map(_.toString).sorted.toSeq == perFile.map(_.toString).sorted)
    assert(asDir.map(_.toString).sorted.toSeq == perFile.map(_.toString).sorted)
    assert(glob.length == 12)
    val e = intercept[IllegalArgumentException](CdxIndex.read(spark, s"$dir/none-*.gz"))
    assert(e.getMessage.contains("no CDX index files match"), e.getMessage)
  }
}
