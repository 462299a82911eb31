package graft.sources

import java.util.zip.GZIPOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDXJ capture-index files — the lookup side of a web archive (public
  * format: pywb docs; Common Crawl ships one per crawl as `cdx-NNNNN.gz`).
  * Each line is `<surt-key> <timestamp> <json>`, where the JSON carries the
  * capture's url/mime/status/digest and its WARC address
  * (filename/offset/length) — exactly what [[Warc.fetch]] consumes.
  *
  * The reader is pure DataFrame ops over `spark.read.text` (gz text files:
  * one task per file, Spark's native codec path): two `substring_index`
  * splits for the key/timestamp, `from_json` for the body, casts for the
  * numeric address fields. Everything stays in whole-stage codegen — no
  * custom parser is warranted for a line format this regular.
  */
object CdxIndex {

  /** CDXJ JSON body fields (all strings on the wire, per the format). */
  private val BodySchema = StructType(Seq(
    StructField("url", StringType), StructField("mime", StringType),
    StructField("status", StringType), StructField("digest", StringType),
    StructField("length", StringType), StructField("offset", StringType),
    StructField("filename", StringType)))

  /** One row per index line: (surt, timestamp, url, mime, status, digest,
    * length, offset, filename). Lines without a JSON body are dropped.
    * `pattern` (a file, glob or directory) expands on the driver: handed a
    * glob, Spark's streaming-sink metadata probe logs a spurious
    * FileNotFoundException at WARN. Hidden files (`_`/`.` names) are
    * skipped, as Spark's own listing skips them. */
  def read(spark: SparkSession, pattern: String): DataFrame = {
    val files = graft.sources.grib.GribIndex
      .expand(spark.sparkContext.hadoopConfiguration, pattern)
      .filterNot { f =>
        val name = new Path(f).getName
        name.startsWith("_") || name.startsWith(".")
      }
    require(files.nonEmpty, s"no CDX index files match: $pattern")
    val raw = spark.read.textFile(files: _*).toDF("line")
    parseLines(raw, col("line"))
  }

  /** The same parse over an arbitrary string column (for streams or
    * already-loaded data). */
  def parseLines(df: DataFrame, line: Column): DataFrame = {
    val jsonStart = instr(line, "{")
    val prefix = trim(line.substr(lit(1), (jsonStart - 1).cast("int")))
    val body = from_json(line.substr(jsonStart, lit(1 << 24)), BodySchema)
    // malformed JSON parses (PERMISSIVE) to an all-null struct; a capture
    // line with neither url nor filename carries nothing addressable —
    // both drop here, while sparse-but-valid records keep per-field nulls
    df.filter(jsonStart > 0 &&
        (body.getField("url").isNotNull || body.getField("filename").isNotNull))
      .select(
        substring_index(prefix, " ", 1).as("surt"),
        substring_index(prefix, " ", -1).as("timestamp"),
        body.getField("url").as("url"),
        body.getField("mime").as("mime"),
        body.getField("status").cast("int").as("status"),
        body.getField("digest").as("digest"),
        body.getField("length").cast("long").as("length"),
        body.getField("offset").cast("long").as("offset"),
        body.getField("filename").as("filename"))
  }

  /** Project an index selection into the (file_uri, offset) shape
    * [[Warc.fetch]] takes, resolving relative CDX filenames against
    * `base` (Common Crawl filenames are paths relative to the data
    * bucket). Records without an address — revisit/screenshot entries
    * with no filename or offset — are dropped here rather than handed to
    * fetch as nulls. */
  def fetchIndex(cdx: DataFrame, base: String): DataFrame = {
    val sep = if (base.endsWith("/") || base.isEmpty) "" else "/"
    cdx.filter(col("filename").isNotNull && col("offset").isNotNull)
      .select(
      when(col("filename").rlike("^[a-z][a-z0-9+.-]*:/") || lit(base.isEmpty),
        col("filename"))
        .otherwise(concat(lit(base + sep), col("filename"))).as("file_uri"),
      col("offset"))
  }

  /** Render records (e.g. a [[Warc.read]] projection joined with
    * [[graft.functions.TextFunctions.surtKey]]) back into CDXJ lines —
    * the index-build half. Expects surt/timestamp/url/mime/status/digest/
    * length/offset/filename columns; null-valued fields are omitted from
    * the JSON, matching the format's sparse convention. */
  def toLines(df: DataFrame): DataFrame =
    df.select(concat(
      col("surt"), lit(" "), col("timestamp"), lit(" "),
      to_json(struct(
        col("url"), col("mime"), col("status").cast("string").as("status"),
        col("digest"), col("length").cast("string").as("length"),
        col("offset").cast("string").as("offset"), col("filename")))
    ).as("line"))

  /** Fixture writer: one gzipped CDXJ file from pre-rendered lines. */
  def writeGz(path: String, lines: Seq[String],
      conf: Configuration = new Configuration()): Unit = {
    val p = new Path(path)
    val out = new GZIPOutputStream(p.getFileSystem(conf).create(p, true))
    try lines.foreach { l =>
      out.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.write('\n')
    } finally out.close()
  }

  /** Fixture writer: one PLAIN (binary-searchable) CDXJ file. */
  def writePlain(path: String, lines: Seq[String],
      conf: Configuration = new Configuration()): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(conf).create(p, true)
    try lines.foreach { l =>
      out.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.write('\n')
    } finally out.close()
  }

  // ------------------------------------------------- surt-prefix pushdown

  /** [[read]] restricted to captures whose surt key starts with
    * `surtPrefix` — the domain/host lookup every replay and fetch pipeline
    * issues. Common Crawl index shards are SURT-sorted (the property its
    * own cdx lookup API relies on), so PLAIN shards never scan: the driver
    * binary-searches each shard's byte range for `[prefix, next(prefix))`
    * with small ranged reads (~log2(size) probes of 64 KiB), prunes shards
    * whose first/last keys don't straddle the prefix, and plans one task
    * per ~`maxSpanBytes` of the matching range only. Gzip shards are not
    * byte-addressable and fall back to scan + filter. Plain shards MUST be
    * sorted (as shipped); an unsorted shard would silently miss rows, the
    * same contract its real lookup clients assume. */
  def readPrefix(spark: SparkSession, pattern: String, surtPrefix: String,
      maxSpanBytes: Long = 64L << 20): DataFrame = {
    require(surtPrefix.nonEmpty, "empty surt prefix would scan everything")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(st => (st.getPath.toString, st.getLen))
    require(files.nonEmpty, s"no CDX files match $pattern")
    val (gzFiles, plainFiles) = files.partition(_._1.endsWith(".gz"))

    // shards plan independently: on object storage each binary search is
    // ~20 sequential ranged round-trips, so a 300-shard index planned
    // serially would cost minutes of driver wall-clock — fan the per-shard
    // searches across a bounded pool
    val ranges: Seq[(String, Long, Option[(Long, Long)])] =
      if (plainFiles.isEmpty) Nil
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, plainFiles.size))
        try {
          import scala.jdk.CollectionConverters._
          val calls = plainFiles.map { case (uri, len) =>
            new java.util.concurrent.Callable[(String, Long, Option[(Long, Long)])] {
              def call() = {
                val path = new Path(uri)
                val in = path.getFileSystem(conf).open(path)
                val r =
                  try planFileRange(in.readFully(_, _, _, _), len, surtPrefix)
                  finally in.close()
                (uri, len, r)
              }
            }
          }
          pool.invokeAll(calls.asJava).asScala.map(_.get()).toSeq
        } finally pool.shutdown()
      }
    val spans: Seq[(String, Long, Long, Boolean, Long)] = ranges.flatMap {
      case (uri, len, range) =>
        range.toSeq.flatMap { case (s, e) =>
          // split fat ranges; non-first chunks snap forward to a line start
          val out = Seq.newBuilder[(String, Long, Long, Boolean, Long)]
          var at = s
          while (at < e) {
            val to = math.min(at + maxSpanBytes, e)
            out += ((uri, at, to, at == s, len))
            at = to
          }
          out.result()
        }
    }
    val tconf = TaskConf(conf)
    val planned: DataFrame =
      if (spans.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("line", StringType, nullable = false))))
      else {
        val nPart = math.max(1, math.min(spans.size,
          spark.sparkContext.defaultParallelism))
        val rdd = spark.sparkContext.parallelize(spans, nPart).flatMap {
          case (uri, from, to, isFirst, fileLen) =>
            RangedIO.rows(uri, tconf) { in =>
              spanTextLines(in.readFully(_, _, _, _), fileLen, from, to, isFirst)
                .map(org.apache.spark.sql.Row(_))
            }
        }
        spark.createDataFrame(rdd,
          StructType(Seq(StructField("line", StringType, nullable = false))))
      }
    val gzLines: Option[DataFrame] =
      if (gzFiles.isEmpty) None
      else Some(spark.read.textFile(gzFiles.map(_._1): _*).toDF("line"))
    val lines = gzLines.map(planned.unionAll).getOrElse(planned)
    // exact for sorted plain shards (the planned range IS the prefix run);
    // does the real filtering for the gz fallback
    parseLines(lines, col("line"))
      .filter(col("surt").startsWith(surtPrefix))
  }

  // -------------------------------------------- zipnum (cluster.idx) path

  /** One cluster.idx entry: the first key of a gzip member and the
    * member's byte extent inside its shard. */
  private[graft] final case class ZipnumEntry(
      key: String, file: String, offset: Long, length: Long)

  /** Surt-prefix lookup over the REAL Common Crawl index layout ("zipnum"):
    * `cdx-NNNNN.gz` shards of concatenated ~3000-line gzip members plus a
    * sorted plain `cluster.idx` secondary index whose lines are
    * `surt timestamp<TAB>shard<TAB>offset<TAB>length[<TAB>seq]` — one per
    * member, keyed by the member's first line. The driver binary-searches
    * cluster.idx itself with ranged reads (it is hundreds of MB for a real
    * crawl), reads ONLY the entry range covering `[prefix, next(prefix))`
    * plus the one preceding entry (the run may start mid-member), and
    * plans one task per run of members in a shard. Tasks fetch each member
    * by (offset, length) — cost is O(selected members), never a shard
    * scan. Relative shard names resolve against cluster.idx's directory. */
  def readPrefixZipnum(spark: SparkSession, clusterIdx: String,
      surtPrefix: String, membersPerTask: Int = 64): DataFrame = {
    require(surtPrefix.nonEmpty, "empty surt prefix would scan everything")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val idxPath = new Path(clusterIdx)
    val fs = idxPath.getFileSystem(conf)
    val idxLen = fs.getFileStatus(idxPath).getLen
    val in = fs.open(idxPath)
    val entryBytes =
      try {
        val readAt: (Long, Array[Byte], Int, Int) => Unit = in.readFully
        val prefix =
          surtPrefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val lbP = lowerBound(readAt, idxLen, prefix)
        val end = succBytes(prefix)
          .map(lowerBound(readAt, idxLen, _)).getOrElse(idxLen)
        // one entry back: the preceding member can hold the run's head
        val start = previousLineStart(readAt, idxLen, lbP)
        if (end <= start) Array.emptyByteArray
        else {
          // the entry range is driver-side planning state — cap it so a
          // too-broad prefix fails directed instead of OOMing the driver
          // (also guards the Int cast: > 2 GiB would overflow)
          if (end - start > MaxIdxSelectionBytes)
            throw new IllegalArgumentException(
              s"surt prefix '$surtPrefix' selects ${end - start} bytes of " +
                s"$clusterIdx (cap $MaxIdxSelectionBytes) — narrow the prefix")
          val b = new Array[Byte]((end - start).toInt)
          readAt(start, b, 0, b.length)
          b
        }
      } finally in.close()
    val base = {
      val parent = idxPath.getParent
      if (parent == null) "" else parent.toString
    }
    val entries = new String(entryBytes,
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
        line.split("\t") match {
          case Array(key, file, off, len, _*) =>
            val uri =
              if (file.contains(":/") || base.isEmpty) file
              else s"$base/$file"
            Some(ZipnumEntry(key, uri, off.toLong, len.toLong))
          case _ => None
        }
      }
    val lineSchema =
      StructType(Seq(StructField("line", StringType, nullable = false)))
    if (entries.isEmpty)
      return parseLines(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], lineSchema),
        col("line")).filter(col("surt").startsWith(surtPrefix))
    // task = a run of members within one shard (opened once, read in
    // offset order)
    val tasks: Seq[(String, Seq[(Long, Long)])] = entries
      .groupBy(_.file).toSeq.flatMap { case (file, es) =>
        es.sortBy(_.offset).map(e => (e.offset, e.length))
          .grouped(membersPerTask).map(g => (file, g.toSeq))
      }
    val tconf = TaskConf(conf)
    val prefixLocal = surtPrefix
    val nPart = math.max(1, math.min(tasks.size,
      spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext.parallelize(tasks, nPart).flatMap {
      case (uri, members) =>
        RangedIO.rows(uri, tconf) { fin =>
          members.iterator.flatMap { case (off, len) =>
            val comp = new Array[Byte](len.toInt)
            fin.readFully(off, comp, 0, comp.length)
            val gz = new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(comp))
            val text = try new String(gz.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8) finally gz.close()
            text.split("\n").iterator
              .filter(l => l.nonEmpty && l.startsWith(prefixLocal))
              .map(org.apache.spark.sql.Row(_))
          }
        }
    }
    // the line filter above is the bulk cut; the surt filter makes the
    // semantics exact (a line-prefix match is not a surt-prefix match
    // when the prefix spans past the key)
    parseLines(spark.createDataFrame(rdd, lineSchema), col("line"))
      .filter(col("surt").startsWith(surtPrefix))
  }

  /** Start offset of the line PRECEDING the line at `at` (itself a line
    * start); 0-clamped. */
  private def previousLineStart(
      readAt: (Long, Array[Byte], Int, Int) => Unit, fileLen: Long,
      at: Long): Long = {
    if (at <= 0) return 0L
    var end = math.min(at, fileLen) - 1 // the '\n' closing the previous line
    while (end > 0) {
      val from = math.max(0L, end - ProbeBlock)
      val b = new Array[Byte]((end - from).toInt)
      if (b.length > 0) readAt(from, b, 0, b.length)
      var i = b.length - 1
      while (i >= 0) {
        if (b(i) == '\n') return from + i + 1
        i -= 1
      }
      end = from
    }
    0L
  }

  /** DISTRIBUTED zipnum index build — the index-BUILD half at crawl
    * scale: globally surt-sorts the rendered CDXJ lines (range partition
    * + in-partition sort, so shard i's keys all precede shard i+1's), one
    * task per shard streams `cdx-NNNNN.gz` as `linesPerMember`-line gzip
    * members with task-attempt commit, and each task returns only its
    * member entries (one per ~`linesPerMember` lines — KBs) for the
    * driver to write as the sorted `cluster.idx`. Re-runs clear stale
    * shards first. Returns the shard count written. */
  def writeZipnumShards(lines: DataFrame, dir: String, shards: Int,
      linesPerMember: Int = 3000): Int = {
    val spark = lines.sparkSession
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val dirPath = new Path(dir)
    val dfs = dirPath.getFileSystem(conf)
    Option(dfs.globStatus(new Path(s"$dir/cdx-*.gz")))
      .foreach(_.foreach(st => dfs.delete(st.getPath, false)))
    val tconf = TaskConf(conf)
    val sorted = lines.select(col("line").cast("string"))
      .repartitionByRange(math.max(shards, 1), col("line"))
      .sortWithinPartitions("line")
    val entries = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val tc = org.apache.spark.TaskContext.get()
        val c = tconf.value
        val name = f"cdx-$pid%05d.gz"
        val finalPath = new Path(s"$dir/$name")
        val tmp = new Path(s"$dir/.$name.${tc.taskAttemptId()}.tmp")
        val fs = finalPath.getFileSystem(c)
        val out = fs.create(tmp, true)
        val local =
          try writeMembers(out, it.map(_.getString(0)), linesPerMember)
            .map { case (key, off, len) => (key, name, off, len) }
          finally out.close()
        if (fs.exists(finalPath)) fs.delete(finalPath, false)
        if (!fs.rename(tmp, finalPath)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"could not commit shard $pid to $finalPath")
        }
        local.iterator
      }
    }.collect()
    // collect preserves partition order and the range partitioner ordered
    // the partitions, so the entries arrive globally sorted
    val idxLines = entries.zipWithIndex.map {
      case ((key, f, off, len), seq) => s"$key\t$f\t$off\t$len\t$seq"
    }
    writePlain(s"$dir/cluster.idx", idxLines.toSeq, conf)
    entries.map(_._2).distinct.length
  }

  /** Gzip `linesPerMember`-line members of `lines` onto `out`; returns
    * one (first-line "surt timestamp" key, member offset, member length)
    * entry per member — the shared member framing of both zipnum writers. */
  private def writeMembers(out: java.io.OutputStream,
      lines: Iterator[String], linesPerMember: Int):
      Seq[(String, Long, Long)] = {
    val entries = Seq.newBuilder[(String, Long, Long)]
    var offset = 0L
    lines.grouped(linesPerMember).foreach { member =>
      val bos = new java.io.ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos)
      member.foreach { l =>
        g.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        g.write('\n')
      }
      g.close()
      val bytes = bos.toByteArray
      out.write(bytes)
      val key = member.head.split(" ").take(2).mkString(" ")
      entries += ((key, offset, bytes.length.toLong))
      offset += bytes.length
    }
    entries.result()
  }

  /** Fixture writer for the zipnum layout: `shards` gz files of
    * `linesPerMember`-line gzip members + the sorted cluster.idx. */
  def writeZipnum(dir: String, lines: Seq[String], linesPerMember: Int,
      shards: Int, conf: Configuration = new Configuration()): Unit = {
    val sorted = lines.sorted
    val perShard = (sorted.size + shards - 1) / shards
    val idx = Seq.newBuilder[String]
    var seq = 0
    sorted.grouped(math.max(perShard, 1)).zipWithIndex.foreach {
      case (shardLines, si) =>
        val name = f"cdx-$si%05d.gz"
        val p = new Path(s"$dir/$name")
        val out = p.getFileSystem(conf).create(p, true)
        val entries =
          try writeMembers(out, shardLines.iterator, linesPerMember)
          finally out.close()
        entries.foreach { case (key, offset, len) =>
          idx += s"$key\t$name\t$offset\t$len\t$seq"
          seq += 1
        }
    }
    writePlain(s"$dir/cluster.idx", idx.result(), conf)
  }

  /** The matching byte range of one sorted plain shard, or None when the
    * shard's [first, last] keys don't straddle the prefix (pruned without
    * a search). */
  private[graft] def planFileRange(
      readAt: (Long, Array[Byte], Int, Int) => Unit, fileLen: Long,
      surtPrefix: String): Option[(Long, Long)] = {
    if (fileLen == 0) return None
    val prefix = surtPrefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // prune on the shard's first and last keys (two small reads)
    val firstKey = keyAtLineStart(readAt, fileLen, 0)
    val lastKey = lastKeyOf(readAt, fileLen)
    if (lastKey.exists(cmpPrefix(_, prefix) < 0))
      return None // every key sorts below the prefix
    if (!startsWith(firstKey, prefix) && cmpPrefix(firstKey, prefix) > 0)
      return None // every key sorts above the prefix run
    val start =
      if (cmpPrefix(firstKey, prefix) >= 0) 0L
      else lowerBound(readAt, fileLen, prefix)
    val end = succBytes(prefix) match {
      case None => fileLen
      case Some(s) =>
        if (lastKey.exists(cmpPrefix(_, s) < 0)) fileLen
        else lowerBound(readAt, fileLen, s)
    }
    if (end > start) Some((start, end)) else None
  }

  /** Data-read block for planned spans. */
  private val ProbeBlock = 64 * 1024
  /** Cap on the cluster.idx entry range a zipnum lookup may plan. */
  private val MaxIdxSelectionBytes = 256L << 20
  /** Binary-search probe block: a probe only needs one line's key, so
    * probes read small (CDX lines are a few hundred bytes) and the whole
    * search costs O(log n) x 4 KiB — constant ~100 KiB per shard whatever
    * its size. */
  private val SearchBlock = 4 * 1024
  /** Window below which the search goes linear (read once, walk lines). */
  private val LinearWindow = 4 * SearchBlock

  private def readBlock(readAt: (Long, Array[Byte], Int, Int) => Unit,
      fileLen: Long, at: Long, size: Int): Array[Byte] = {
    val n = math.min(size.toLong, fileLen - at).toInt
    val b = new Array[Byte](math.max(n, 0))
    if (n > 0) readAt(at, b, 0, n)
    b
  }

  /** Key bytes of the line starting at `off` in `block` (to first space /
    * newline / block end). */
  private def keyOf(block: Array[Byte], off: Int): Array[Byte] = {
    var i = off
    while (i < block.length && block(i) != ' ' && block(i) != '\n') i += 1
    java.util.Arrays.copyOfRange(block, off, i)
  }

  /** Complete key of the line starting at `s` — extends the read when the
    * key outruns the small probe block. */
  private def keyAtLineStart(readAt: (Long, Array[Byte], Int, Int) => Unit,
      fileLen: Long, s: Long): Array[Byte] = {
    var b = readBlock(readAt, fileLen, s, SearchBlock)
    if (!hasFullKey(b, 0) && s + b.length < fileLen) {
      b = readBlock(readAt, fileLen, s, ProbeBlock)
      if (!hasFullKey(b, 0) && s + b.length < fileLen)
        throw new IllegalArgumentException(
          s"CDX key at offset $s exceeds $ProbeBlock bytes — not a CDX file")
    }
    keyOf(b, 0)
  }

  /** Key of the shard's LAST line; None when the final line outruns the
    * probe blocks (pruning then falls back to the binary search, which
    * stays correct). */
  private def lastKeyOf(readAt: (Long, Array[Byte], Int, Int) => Unit,
      fileLen: Long): Option[Array[Byte]] = {
    def attempt(size: Int): Option[Long] = {
      val at = math.max(0L, fileLen - size)
      val tail = readBlock(readAt, fileLen, at, size)
      var i = tail.length - 1
      while (i >= 0 && (tail(i) == '\n' || tail(i) == '\r')) i -= 1
      while (i >= 0 && tail(i) != '\n') i -= 1
      if (i >= 0 || at == 0) Some(at + i + 1) else None
    }
    attempt(SearchBlock).orElse(attempt(ProbeBlock))
      .map(keyAtLineStart(readAt, fileLen, _))
  }

  private def startsWith(key: Array[Byte], prefix: Array[Byte]): Boolean =
    key.length >= prefix.length && {
      var i = 0
      while (i < prefix.length && key(i) == prefix(i)) i += 1
      i == prefix.length
    }

  /** Unsigned bytewise compare (the `sort` order CDX shards ship in). */
  private def cmpPrefix(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** Smallest byte string strictly above every key with this prefix:
    * increment the last non-0xFF byte; None when the prefix is all 0xFF
    * (the run extends to end of file). */
  private def succBytes(prefix: Array[Byte]): Option[Array[Byte]] = {
    var i = prefix.length - 1
    while (i >= 0 && prefix(i) == -1) i -= 1
    if (i < 0) None
    else {
      val s = java.util.Arrays.copyOf(prefix, i + 1)
      s(i) = (s(i) + 1).toByte
      Some(s)
    }
  }

  /** Offset of the first LINE START whose key is >= `key` (keys that start
    * with a searched prefix compare >= bytewise, so this is the run start).
    * The file must be key-sorted. O(log n) probe reads of [[SearchBlock]]
    * bytes. */
  private[graft] def lowerBound(
      readAt: (Long, Array[Byte], Int, Int) => Unit, fileLen: Long,
      key: Array[Byte]): Long = {
    if (cmpPrefix(keyAtLineStart(readAt, fileLen, 0), key) >= 0) return 0L
    var lo = 0L      // a line start with key < `key` (or 0, checked above)
    var hi = fileLen // first line start at/after hi has key >= `key`
    while (hi - lo > LinearWindow) {
      val mid = (lo + hi) >>> 1
      val ls = lineStartAtOrAfterFrom(readAt, fileLen, mid)
      if (ls >= hi)
        // no line start in [mid, hi): a line longer than the half-window;
        // fall out to the linear tail scan from lo
        return linearLowerBound(readAt, fileLen, lo, hi, key)
      if (cmpPrefix(keyAtLineStart(readAt, fileLen, ls), key) >= 0) hi = ls
      else lo = ls
    }
    linearLowerBound(readAt, fileLen, lo, hi, key)
  }

  /** First line start in [lo, hi) whose key >= `key`; hi when none. One
    * window read, then an in-memory line walk (lo is a line start). */
  private def linearLowerBound(
      readAt: (Long, Array[Byte], Int, Int) => Unit, fileLen: Long,
      lo: Long, hi: Long, key: Array[Byte]): Long = {
    val end = math.min(hi, fileLen)
    if (end <= lo) return hi
    val b = new Array[Byte]((end - lo).toInt)
    readAt(lo, b, 0, b.length)
    var s = 0
    while (s >= 0 && s < b.length) {
      val ge =
        if (hasFullKey(b, s)) cmpPrefix(keyOf(b, s), key) >= 0
        // the line's key outruns the window: resolve it with its own read.
        // (a truncated key that already compares >= is safely >=, but a
        // truncated < could still be a full >=)
        else cmpPrefix(keyAtLineStart(readAt, fileLen, lo + s), key) >= 0
      if (ge) return lo + s
      var i = s
      while (i < b.length && b(i) != '\n') i += 1
      s = if (i >= b.length) -1 else i + 1
    }
    // window ended mid-line or exactly at hi: no start in [lo, hi) matched
    hi
  }

  private def hasFullKey(b: Array[Byte], off: Int): Boolean = {
    var i = off
    while (i < b.length) {
      if (b(i) == ' ' || b(i) == '\n') return true
      i += 1
    }
    false
  }

  private def lineStartAtOrAfterFrom(
      readAt: (Long, Array[Byte], Int, Int) => Unit, fileLen: Long,
      p: Long): Long = {
    if (p <= 0) return 0L
    var at = p - 1
    while (at < fileLen) {
      val b = readBlock(readAt, fileLen, at, SearchBlock)
      var i = 0
      while (i < b.length) {
        if (b(i) == '\n') return at + i + 1
        i += 1
      }
      at += b.length
    }
    fileLen
  }

  /** Text lines whose first byte lies in [from, to): non-first chunks snap
    * forward past the partial line at `from`; the final line may read past
    * `to` (bounded by `fileLen`). The ownership rule that makes chunked
    * splits exact. */
  private def spanTextLines(readAt: (Long, Array[Byte], Int, Int) => Unit,
      fileLen: Long, from: Long, to: Long, isFirst: Boolean): Iterator[String] = {
    val start =
      if (isFirst) from
      else lineStartAtOrAfterFrom(readAt, fileLen, from)
    val limit = to // `to` would shadow Iterator.to inside the class below
    if (start >= limit || start >= fileLen) return Iterator.empty
    new Iterator[String] {
      private val buf = new java.io.ByteArrayOutputStream()
      private var at = start       // next unread byte
      private var lineStart = start
      private var block: Array[Byte] = null
      private var bi = 0
      private var done = false
      private var pending: String = null

      private def emit(bytes: Array[Byte]): String = {
        val t =
          if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
            java.util.Arrays.copyOf(bytes, bytes.length - 1)
          else bytes
        new String(t, java.nio.charset.StandardCharsets.UTF_8)
      }

      private def advance(): Unit = {
        while (pending == null && !done) {
          if (block == null || bi >= block.length) {
            if (at >= fileLen) { // EOF: flush an unterminated final line
              if (buf.size() > 0) pending = emit(buf.toByteArray)
              buf.reset()
              done = true
              return
            }
            val n = math.min(ProbeBlock.toLong, fileLen - at).toInt
            val b = new Array[Byte](n)
            readAt(at, b, 0, n)
            block = b
            bi = 0
          }
          while (bi < block.length && pending == null && !done) {
            val c = block(bi)
            bi += 1
            at += 1
            if (c == '\n') {
              // invariant: lineStart < to (checked when the line started)
              pending = emit(buf.toByteArray)
              buf.reset()
              lineStart = at
              if (lineStart >= limit) done = true
            } else buf.write(c)
          }
        }
      }

      def hasNext: Boolean = { advance(); pending != null }
      def next(): String = {
        advance()
        val r = pending
        pending = null
        if (r == null) throw new NoSuchElementException
        r
      }
    }
  }
}
