package graft

import org.apache.spark.sql.functions._

import graft.sources.zarr.{ZarrWriter => ZW}

/** Golden tests for the Zarr DSv2 source: write a store with the pure-Scala
  * writer, read it back through `spark.read.format("zarr")`, check values,
  * chunk-grid partitioning, filter pushdown pruning, and the reference's
  * packed-int16 decode (weather_mv test_data.zarr conventions). */
class ZarrSourceSpec extends SparkSpec {
  import spark.implicits._

  // 4 x 5 x 6 hypercube (time x latitude x longitude), chunks 2 x 3 x 4
  // (edge chunks non-dividing on every axis).
  private val (nt, ny, nx) = (4, 5, 6)
  private lazy val store: String = {
    val dir = java.nio.file.Files.createTempDirectory("zarr").toString + "/store.zarr"
    val times = (0 until nt).map(t => 86400.0 * t) // daily from 1970-01-01
    val lats = (0 until ny).map(y => -10.0 + 5.0 * y)
    val lons = (0 until nx).map(x => 100.0 + 10.0 * x)
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    ZW.write(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(3), "<i8", times,
        units = Some("seconds since 1970-01-01")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(3), "<f8", lats),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(4), "<f8", lons),
      // float64 variable, zlib-compressed
      ZW.VarSpec("t2m", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 4),
        data = cube((t, y, x) => 250.0 + t + 0.1 * y + 0.01 * x),
        compressor = Some("zlib")),
      // packed int16 with scale/offset + missing value (test_data.zarr style)
      ZW.VarSpec("cape", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 4), dtype = "<i2",
        data = cube((t, y, x) => if (t == 0 && y == 0 && x == 0) -32767 else (100 * t + x).toDouble),
        scaleFactor = Some(0.5), addOffset = Some(1000.0),
        missingValue = Some(-32767))))
    dir
  }

  private def ds = spark.read.format("zarr").load(store)

  // the same hypercube written as Zarr v3 (zarr-python 3.x default format):
  // gzip codec, default "c/0/1" chunk keys, dimension_names, inline
  // consolidated_metadata in the root zarr.json
  private lazy val storeV3: String = {
    val dir = java.nio.file.Files.createTempDirectory("zarr3").toString + "/store.zarr"
    val times = (0 until nt).map(t => 86400.0 * t)
    val lats = (0 until ny).map(y => -10.0 + 5.0 * y)
    val lons = (0 until nx).map(x => 100.0 + 10.0 * x)
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    ZW.writeV3(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(3), "<i8", times,
        units = Some("seconds since 1970-01-01")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(3), "<f8", lats),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(4), "<f8", lons),
      ZW.VarSpec("t2m", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 4),
        data = cube((t, y, x) => 250.0 + t + 0.1 * y + 0.01 * x),
        compressor = Some("gzip")),
      ZW.VarSpec("cape", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 4), dtype = "<i2",
        data = cube((t, y, x) => if (t == 0 && y == 0 && x == 0) -32767 else (100 * t + x).toDouble),
        scaleFactor = Some(0.5), addOffset = Some(1000.0),
        missingValue = Some(-32767))))
    dir
  }

  test("zarr v3 store reads identically to the v2 store (gzip, c/ keys, dims)") {
    val v3 = spark.read.format("zarr").load(storeV3)
    assert(v3.schema.fieldNames.toSeq == ds.schema.fieldNames.toSeq)
    val a = ds.orderBy($"time", $"latitude", $"longitude").collect().toSeq
    val b = v3.orderBy($"time", $"latitude", $"longitude").collect().toSeq
    assert(a == b, "v3 rows must equal v2 rows")
    // chunk pruning flows through the same scan machinery
    val pruned = v3.filter($"latitude" === -10.0 && $"longitude" === 100.0)
    assert(pruned.count() == nt)
  }

  test("zarr v3 sharding_indexed: packed inner chunks read identically") {
    val dir = java.nio.file.Files.createTempDirectory("zarr3sh").toString + "/s.zarr"
    val times = (0 until nt).map(t => 86400.0 * t)
    val lats = (0 until ny).map(y => -10.0 + 5.0 * y)
    val lons = (0 until nx).map(x => 100.0 + 10.0 * x)
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    // one whole inner chunk (t in 0..1, y in 0..2, x in 0..1) all-NaN: the
    // writer omits it (index entry 2^64-1) and the reader must fill nulls
    val data = cube((t, y, x) =>
      if (t < 2 && y < 3 && x < 2) Double.NaN else 300.0 + t + 0.1 * y + 0.01 * x)
    ZW.writeV3(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(4), "<i8", times,
        units = Some("seconds since 1970-01-01")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(5), "<f8", lats),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(6), "<f8", lons),
      // inner chunks 2x3x2 packed into 4x3x4 shards (2x1x2 inner per shard)
      ZW.VarSpec("t2m", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 2), data = data,
        compressor = Some("gzip"), shard = Some(Seq(4, 3, 4)))))
    val df = spark.read.format("zarr").load(dir)
    assert(df.count() == nt * ny * nx)
    // absent inner chunk -> nulls; the rest decodes exactly
    assert(df.filter($"t2m".isNull).count() == 2 * 3 * 2)
    val probe = df
      .filter($"latitude" === 5.0 && $"longitude" === 120.0)
      .filter(date_format($"time", "yyyy-MM-dd") === "1970-01-03")
      .select($"t2m").head().getDouble(0)
    assert(math.abs(probe - (300.0 + 2 + 0.1 * 3 + 0.01 * 2)) < 1e-9)
    // partition planning runs at INNER-chunk granularity (prunable), not shard
    val parts = df.filter($"longitude" === 100.0).rdd.getNumPartitions
    assert(parts <= (nt / 2) * ((ny + 2) / 3) * 1,
      s"expected inner-chunk partitions for one lon column, got $parts")
  }

  test("blosc codec: lz4 + shuffle round-trips, raw-split fallback, directed errors") {
    import graft.sources.zarr.Blosc
    val rng = new scala.util.Random(42)
    // compressible payload (repeating structure) across typesizes incl. odd
    // lengths (leftover bytes ride past the shuffle)
    for (typesize <- Seq(1, 2, 4, 8); n <- Seq(64, 4096, 4097, 30000)) {
      val data = Array.tabulate(n)(i => ((i / 7) % 251).toByte)
      val packed = Blosc.compress(data, typesize, shuffle = true)
      if (n >= 4096)
        assert(packed.length < n, s"compressible data must shrink (ts=$typesize n=$n got ${packed.length})")
      assert(Blosc.decompress(packed).toSeq == data.toSeq, s"ts=$typesize n=$n")
    }
    // incompressible payload: per-split raw storage, still a valid chunk
    val noise = Array.fill(10000)(rng.nextInt().toByte)
    val packedNoise = Blosc.compress(noise, 8, shuffle = true)
    assert(Blosc.decompress(packedNoise).toSeq == noise.toSeq)
    // no shuffle path
    val plain = Blosc.compress(noise, 4, shuffle = false)
    assert(Blosc.decompress(plain).toSeq == noise.toSeq)
    // memcpyed chunks (flag bit 1): payload verbatim after the header
    val mem = new Array[Byte](16 + 100)
    mem(0) = 2; mem(2) = 0x02; mem(3) = 8
    def le(off: Int, v: Int): Unit = (0 until 4).foreach(i => mem(off + i) = (v >>> (8 * i)).toByte)
    le(4, 100); le(8, 100); le(12, 116)
    (0 until 100).foreach(i => mem(16 + i) = i.toByte)
    assert(Blosc.decompress(mem).toSeq == (0 until 100).map(_.toByte))
    // unknown codec ids raise directed errors (use a COMPRESSED chunk —
    // raw-stored splits legitimately bypass the codec)
    val bad = Blosc.compress(Array.tabulate(8192)(i => ((i / 7) % 251).toByte),
      8, shuffle = true)
    bad(2) = ((bad(2) & 0x1f) | (5 << 5)).toByte
    val e = intercept[graft.sources.zarr.Blosc.UnsupportedBlosc] { Blosc.decompress(bad) }
    assert(e.getMessage.contains("codec id"))
  }

  test("blosc codec surface: blosclz, snappy, zlib, zstd all round-trip") {
    import graft.sources.zarr.Blosc
    val rng = new scala.util.Random(7)
    for (cname <- Seq("blosclz", "snappy", "zlib", "zstd");
         typesize <- Seq(1, 4, 8); n <- Seq(64, 4096, 30000)) {
      val data = Array.tabulate(n)(i => ((i / 7) % 251).toByte)
      val packed = Blosc.compress(data, typesize, shuffle = true, cname = cname)
      assert(Blosc.decompress(packed).toSeq == data.toSeq, s"$cname ts=$typesize n=$n")
      // the byte transpose at typesize 8 leaves the greedy match-only
      // codecs no 4-byte repeats (raw-split fallback is the correct
      // outcome), and the zstd writer emits store-mode frames by design —
      // the entropy coder and unshuffled match streams must shrink
      if (n >= 4096 && (cname == "zlib" || (typesize == 1 && cname != "zstd")))
        assert(packed.length < n, s"$cname must compress repeating data ($n -> ${packed.length})")
      // incompressible: per-split raw fallback
      val noise = Array.fill(n)(rng.nextInt().toByte)
      val packedNoise = Blosc.compress(noise, typesize, shuffle = false, cname = cname)
      assert(Blosc.decompress(packedNoise).toSeq == noise.toSeq, s"$cname noise n=$n")
    }
  }

  test("snappy decode matches the reference implementation's output") {
    import graft.sources.zarr.Blosc
    // snappy-java rides on the Spark classpath: decode ITS streams (not our
    // own encoder's) so the decoder is checked against real snappy, and
    // check our encoder's streams decode under the reference as well
    val rng = new scala.util.Random(13)
    for (n <- Seq(1, 100, 4096, 70000)) {
      val structured = Array.tabulate(n)(i => ((i / 9) % 250).toByte)
      val noisy = Array.fill(n)(rng.nextInt(8).toByte)
      for (data <- Seq(structured, noisy)) {
        val ref = org.xerial.snappy.Snappy.compress(data)
        val out = new Array[Byte](n)
        Blosc.snappyDecompress(ref, 0, ref.length, out, 0, n)
        assert(out.toSeq == data.toSeq, s"reference stream n=$n")
        val mine = Blosc.snappyCompress(data, data.length * 2 + 64)
        if (mine != null)
          assert(org.xerial.snappy.Snappy.uncompress(mine).toSeq == data.toSeq,
            s"our stream under reference decoder n=$n")
      }
    }
  }

  test("bit-shuffle (numcodecs shuffle=2) round-trips and lays planes out right") {
    import graft.sources.zarr.Blosc
    // hand-check the bit-plane layout: ts=1, 8 elements — plane p holds
    // bit p (MSB-first within each source byte) of every element
    val tiny = Array[Byte](0x80.toByte, 0, 0, 0, 0, 0, 0, 0x01)
    val sh = new Array[Byte](8)
    Blosc.bitShuffleBlock(tiny, 0, 8, 1, sh, 0)
    assert(sh(0) == 0x80.toByte && sh(7) == 0x01.toByte &&
      sh.slice(1, 7).forall(_ == 0), s"planes: ${sh.toSeq}")
    val back = new Array[Byte](8)
    Blosc.bitUnshuffleBlock(sh, 8, 1, back, 0)
    assert(back.toSeq == tiny.toSeq)
    // independent model of c-blosc shuffle.c bitshuffle(): transpose the
    // largest multiple-of-8 element prefix via unpackbits/transpose/packbits
    // (MSB-first, the bitshuffle library's numpy equivalence), then copy the
    // leftover elements and sub-typesize tail verbatim
    def model(src: Array[Byte], bsize: Int, ts: Int): Array[Byte] = {
      val out = new Array[Byte](bsize)
      val nElem = (bsize / ts) & ~7
      if (nElem == 0) { System.arraycopy(src, 0, out, 0, bsize); return out }
      val planeBytes = nElem / 8
      // bits(e)(p) = bit p of element e, p scanning byte 0 MSB..LSB, byte 1, ...
      val bits = Array.tabulate(nElem, 8 * ts) { (e, p) =>
        (src(e * ts + p / 8) >>> (7 - p % 8)) & 1
      }
      for (p <- 0 until 8 * ts; i <- 0 until planeBytes) {
        var acc = 0
        for (j <- 0 until 8) acc |= bits(8 * i + j)(p) << (7 - j)
        out(p * planeBytes + i) = acc.toByte
      }
      System.arraycopy(src, nElem * ts, out, nElem * ts, bsize - nElem * ts)
      out
    }
    val rng2 = new scala.util.Random(77)
    for (ts <- Seq(1, 2, 3, 4, 8); nElemRaw <- Seq(5, 8, 100, 255, 1024)) {
      val bsize = nElemRaw * ts + (if (ts > 1) 1 else 0) // force a sub-ts tail
      val data = Array.fill(bsize)(rng2.nextInt(256).toByte)
      val got = new Array[Byte](bsize)
      Blosc.bitShuffleBlock(data, 0, bsize, ts, got, 0)
      assert(got.toSeq == model(data, bsize, ts).toSeq,
        s"c-blosc partial-block layout ts=$ts nElem=$nElemRaw")
      val inv = new Array[Byte](bsize)
      Blosc.bitUnshuffleBlock(got, bsize, ts, inv, 0)
      assert(inv.toSeq == data.toSeq, s"inverse ts=$ts nElem=$nElemRaw")
    }
    // full-container round-trips across typesizes, codecs, and the
    // nElem % 8 != 0 partial-prefix path
    for (ts <- Seq(1, 2, 4, 8); n <- Seq(64, 4096, 4100, 30000);
         cname <- Seq("lz4", "zstd")) {
      val data = Array.tabulate(n)(i => ((i / 7) % 251).toByte)
      val packed = Blosc.compress(data, ts, shuffle = false, cname = cname,
        bitShuffle = true)
      assert((packed(2) & 0x04) != 0, "bit-shuffle flag set")
      assert(Blosc.decompress(packed).toSeq == data.toSeq,
        s"bitshuffle $cname ts=$ts n=$n")
    }
    // low-entropy int16 data: bit-planes are mostly constant, so lz4 must
    // compress far better than the unshuffled stream would
    val small = Array.tabulate(8192)(i => (if (i % 2 == 0) (i / 64) % 3 else 0).toByte)
    val packed = Blosc.compress(small, 2, shuffle = false, bitShuffle = true)
    assert(packed.length < small.length / 4,
      s"bit-planes should compress hard: ${packed.length}")
  }

  test("blosclz far-distance matches (the 16-bit offset form) decode") {
    import graft.sources.zarr.Blosc
    // handcraft: 9000 patterned literals, then a 5-byte match 9000 back —
    // past the 8191 short-form limit, so the stream must use the reserved
    // (31, 255) far form with ofs16 = 9000 - 8192 = 808
    val lits = Array.tabulate(9000)(i => (i % 97).toByte)
    val body = new scala.collection.mutable.ArrayBuffer[Byte]
    var a = 0
    while (a < 9000) {
      val run = math.min(32, 9000 - a)
      body += (run - 1).toByte
      body ++= lits.slice(a, a + run)
      a += run
    }
    body += (((5 - 2) << 5) | 31).toByte // lenCode 3 -> len 5; ofs high = 31
    body += 255.toByte                   // low byte 255 -> far form
    body += (808 >> 8).toByte
    body += (808 & 0xff).toByte
    val out = new Array[Byte](9005)
    Blosc.blosclzDecompress(body.toArray, 0, body.length, out, 0, 9005)
    assert(out.take(9000).toSeq == lits.toSeq)
    assert(out.slice(9000, 9005).toSeq == lits.take(5).toSeq,
      "far match must copy from 9000 bytes back")
  }

  test("blosc-zstd chunks decode (splits are real zstd frames)") {
    import graft.sources.zarr.Blosc
    // build a blosc container whose splits are frames from the reference
    // zstd encoder (zstd-jni rides on the Spark classpath in this sandbox)
    val typesize = 8
    val data = Array.tabulate(32768)(i => ((i / 11) % 253).toByte)
    // byte-shuffle exactly as Blosc.compress does
    val elems = data.length / typesize
    val sh = new Array[Byte](data.length)
    for (j <- 0 until typesize; i <- 0 until elems)
      sh(j * elems + i) = data(i * typesize + j)
    val neblock = data.length / typesize
    val splits = (0 until typesize).map { s =>
      val split = java.util.Arrays.copyOfRange(sh, s * neblock, (s + 1) * neblock)
      com.github.luben.zstd.Zstd.compress(split, 3)
    }
    val payload = splits.map(_.length + 4).sum
    val cbytes = 16 + 4 + payload
    val out = new Array[Byte](cbytes)
    def le(off: Int, v: Int): Unit = (0 until 4).foreach(i => out(off + i) = (v >>> (8 * i)).toByte)
    out(0) = 2; out(1) = 1
    out(2) = (0x01 | (4 << 5)).toByte // shuffle + zstd codec
    out(3) = typesize.toByte
    le(4, data.length); le(8, data.length); le(12, cbytes); le(16, 20)
    var off = 20
    splits.foreach { s =>
      le(off, s.length); off += 4
      System.arraycopy(s, 0, out, off, s.length); off += s.length
    }
    assert(Blosc.decompress(out).toSeq == data.toSeq)
  }

  test("zarr v2 zstd store and v3 zstd codec (zarr-python 3 default) read identically") {
    val times = (0 until nt).map(t => 86400.0 * t)
    val lats = (0 until ny).map(y => -10.0 + 5.0 * y)
    val lons = (0 until nx).map(x => 100.0 + 10.0 * x)
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    val specs = Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(3), "<i8", times,
        units = Some("seconds since 1970-01-01")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(3), "<f8", lats),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(4), "<f8", lons),
      ZW.VarSpec("t2m", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 4),
        data = cube((t, y, x) => 250.0 + t + 0.1 * y + 0.01 * x),
        compressor = Some("zstd")))
    val d2 = java.nio.file.Files.createTempDirectory("zarrzstd2").toString + "/s.zarr"
    ZW.write(d2, specs)
    val d3 = java.nio.file.Files.createTempDirectory("zarrzstd3").toString + "/s.zarr"
    ZW.writeV3(d3, specs)
    val cols = Seq($"time", $"latitude", $"longitude", $"t2m")
    val expect = ds.select(cols: _*).orderBy($"time", $"latitude", $"longitude")
      .collect().toSeq
    for (dir <- Seq(d2, d3)) {
      val got = spark.read.format("zarr").load(dir).select(cols: _*)
        .orderBy($"time", $"latitude", $"longitude").collect().toSeq
      assert(got == expect, s"zstd store $dir must equal the zlib store's rows")
    }
    // swap the v2 chunk objects for REAL reference-encoder frames (numcodecs
    // Zstd writes one frame per chunk object, same as compressStore)
    val t2m = new java.io.File(d2, "t2m")
    for (f <- t2m.listFiles() if f.getName.matches("[0-9.]+")) {
      val raw = graft.sources.zarr.Zstd.decompress(
        java.nio.file.Files.readAllBytes(f.toPath), 0,
        java.nio.file.Files.readAllBytes(f.toPath).length)
      java.nio.file.Files.write(f.toPath,
        com.github.luben.zstd.Zstd.compress(raw, 19))
    }
    val reread = spark.read.format("zarr").load(d2).select(cols: _*)
      .orderBy($"time", $"latitude", $"longitude").collect().toSeq
    assert(reread == expect, "level-19 reference-encoder chunks must decode identically")
  }

  test("zarr v2 blosc-lz4 store (zarr-python default) reads identically") {
    val dir = java.nio.file.Files.createTempDirectory("zarrbl").toString + "/store.zarr"
    val times = (0 until nt).map(t => 86400.0 * t)
    val lats = (0 until ny).map(y => -10.0 + 5.0 * y)
    val lons = (0 until nx).map(x => 100.0 + 10.0 * x)
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    ZW.write(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(3), "<i8", times,
        units = Some("seconds since 1970-01-01")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(3), "<f8", lats),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(4), "<f8", lons),
      ZW.VarSpec("t2m", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 4),
        data = cube((t, y, x) => 250.0 + t + 0.1 * y + 0.01 * x),
        compressor = Some("blosc")),
      // packed int16 + blosc — the reference fixture's exact profile
      // (weather_mv/test_data/test_data.zarr cape/.zarray)
      ZW.VarSpec("cape", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 4), dtype = "<i2",
        data = cube((t, y, x) => if (t == 0 && y == 0 && x == 0) -32767 else (100 * t + x).toDouble),
        scaleFactor = Some(0.5), addOffset = Some(1000.0),
        missingValue = Some(-32767))))
    val bl = spark.read.format("zarr").load(dir)
    val a = ds.orderBy($"time", $"latitude", $"longitude").collect().toSeq
    val b = bl.orderBy($"time", $"latitude", $"longitude").collect().toSeq
    assert(a == b, "blosc-compressed rows must equal the zlib store's rows")
    // chunk pruning is unaffected by the compressor
    assert(bl.filter($"latitude" === -10.0 && $"longitude" === 100.0).count() == nt)
  }

  test("zarr v3 blosc codec reads identically") {
    val dir = java.nio.file.Files.createTempDirectory("zarr3bl").toString + "/store.zarr"
    val times = (0 until nt).map(t => 86400.0 * t)
    val lats = (0 until ny).map(y => -10.0 + 5.0 * y)
    val lons = (0 until nx).map(x => 100.0 + 10.0 * x)
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield f(t, y, x)
    ZW.writeV3(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt), Seq(3), "<i8", times,
        units = Some("seconds since 1970-01-01")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(3), "<f8", lats),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(4), "<f8", lons),
      ZW.VarSpec("t2m", Seq("time", "latitude", "longitude"),
        Seq(nt, ny, nx), Seq(2, 3, 4),
        data = cube((t, y, x) => 250.0 + t + 0.1 * y + 0.01 * x),
        compressor = Some("blosc"))))
    val v3 = spark.read.format("zarr").load(dir)
    val got = v3.filter($"latitude" === 5.0 && $"longitude" === 120.0)
      .filter(date_format($"time", "yyyy-MM-dd") === "1970-01-03")
      .select($"t2m").head().getDouble(0)
    assert(math.abs(got - (250.0 + 2 + 0.1 * 3 + 0.01 * 2)) < 1e-9)
    assert(v3.count() == nt * ny * nx)
  }

  test("zarr v2 delta filter decodes; unknown filters raise, never pass through") {
    import graft.sources.zarr.ZarrMeta
    val dir = java.nio.file.Files.createTempDirectory("zarrdelta").toString + "/s.zarr"
    def putS(rel: String, s: String): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
    }
    putS(".zgroup", """{"zarr_format": 2}""")
    putS("v/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<i4",
        | "compressor": {"id": "zlib", "level": 1}, "order": "C",
        | "filters": [{"id": "delta", "dtype": "<i4"}],
        | "fill_value": null}""".stripMargin)
    putS("v/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    // values [10, 13, 11, 20] delta-encode to [10, 3, -2, 9], then zlib
    val deltas = Array(10, 3, -2, 9)
    val raw = new Array[Byte](16)
    deltas.zipWithIndex.foreach { case (v, i) =>
      (0 until 4).foreach(j => raw(i * 4 + j) = ((v >> (8 * j)) & 0xff).toByte)
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](64)
    val packed = java.util.Arrays.copyOf(buf, d.deflate(buf))
    d.end()
    java.nio.file.Files.write(new java.io.File(dir, "v/0").toPath, packed)
    val conf = new org.apache.hadoop.conf.Configuration()
    val meta = ZarrMeta.readArrayMeta(conf, dir, "v")
    assert(meta.filters == Seq(ZarrMeta.V2Filter.Delta("<i4", "<i4")),
      "delta filter parsed")
    val vals = ZarrMeta.readChunk(conf, dir, meta, Seq(0))
    assert(vals.toSeq == Seq(10.0, 13.0, 11.0, 20.0), vals.toSeq)
    // an unrecognized filter must be a directed error — silently ignoring
    // it would decode wrong values
    putS("w/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<i4",
        | "compressor": null, "order": "C",
        | "filters": [{"id": "packbits"}],
        | "fill_value": null}""".stripMargin)
    putS("w/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val e = intercept[UnsupportedOperationException] {
      ZarrMeta.readArrayMeta(conf, dir, "w")
    }
    assert(e.getMessage.contains("fixedscaleoffset"), e.getMessage)
  }

  test("zarr v2 numcodecs FixedScaleOffset, Quantize, AsType, and chains decode") {
    import graft.sources.zarr.ZarrMeta
    val dir = java.nio.file.Files.createTempDirectory("zarrfilt").toString + "/s.zarr"
    def putS(rel: String, s: String): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
    }
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
    }
    putS(".zgroup", """{"zarr_format": 2}""")
    val conf = new org.apache.hadoop.conf.Configuration()

    // --- FixedScaleOffset: f8 data stored as i2 (offset 1000, scale 10)
    // numcodecs encode: enc = around((x - offset) * scale).astype(astype);
    // around is round-half-to-even = math.rint
    val xs = Array(1000.0, 1001.7, 998.35, 1023.05)
    putS("fso/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": null, "order": "C",
        | "filters": [{"id": "fixedscaleoffset", "offset": 1000, "scale": 10,
        |              "dtype": "<f8", "astype": "<i2"}],
        | "fill_value": null}""".stripMargin)
    putS("fso/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val fsoEnc = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.foreach(x => fsoEnc.putShort(math.rint((x - 1000.0) * 10.0).toShort))
    put("fso/0", fsoEnc.array())
    val fsoVals = ZarrMeta.readChunk(conf, dir,
      ZarrMeta.readArrayMeta(conf, dir, "fso"), Seq(0))
    // decode = enc/scale + offset: exact to the filter's 0.1 resolution
    assert(fsoVals.zip(Array(1000.0, 1001.7, 998.4, 1023.0))
      .forall { case (a, b) => math.abs(a - b) < 1e-9 }, fsoVals.toSeq)

    // --- Quantize: lossy encode, decode is the astype→dtype cast (f4→f8)
    putS("q/.zarray",
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<f8",
        | "compressor": null, "order": "C",
        | "filters": [{"id": "quantize", "digits": 1, "dtype": "<f8",
        |              "astype": "<f4"}],
        | "fill_value": null}""".stripMargin)
    putS("q/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val qEnc = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array(1.5f, -2.25f, 0.125f).foreach(qEnc.putFloat)
    put("q/0", qEnc.array())
    val qVals = ZarrMeta.readChunk(conf, dir,
      ZarrMeta.readArrayMeta(conf, dir, "q"), Seq(0))
    assert(qVals.toSeq == Seq(1.5, -2.25, 0.125), qVals.toSeq)

    // --- AsType: stored i1, decoded i4
    putS("at/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<i4",
        | "compressor": null, "order": "C",
        | "filters": [{"id": "astype", "encode_dtype": "|i1",
        |              "decode_dtype": "<i4"}],
        | "fill_value": null}""".stripMargin)
    putS("at/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    put("at/0", Array[Byte](5, -3, 127, -128))
    val atVals = ZarrMeta.readChunk(conf, dir,
      ZarrMeta.readArrayMeta(conf, dir, "at"), Seq(0))
    assert(atVals.toSeq == Seq(5.0, -3.0, 127.0, -128.0), atVals.toSeq)

    // --- chain under zlib: FixedScaleOffset (f8→i2) then Delta (i2→i2).
    // Encode order = list order; decode must invert in REVERSE order, and
    // the decompressed size must follow the LAST filter's astype (i2).
    val cxs = Array(100.0, 100.3, 99.8, 101.2, 101.2)
    putS("ch/.zarray",
      """{"zarr_format": 2, "shape": [5], "chunks": [5], "dtype": "<f8",
        | "compressor": {"id": "zlib", "level": 1}, "order": "C",
        | "filters": [{"id": "fixedscaleoffset", "offset": 100, "scale": 10,
        |              "dtype": "<f8", "astype": "<i2"},
        |             {"id": "delta", "dtype": "<i2", "astype": "<i2"}],
        | "fill_value": null}""".stripMargin)
    putS("ch/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val ints = cxs.map(x => math.rint((x - 100.0) * 10.0).toShort)
    val deltas2 = ints.zipWithIndex.map { case (v, i) =>
      if (i == 0) v else (v - ints(i - 1)).toShort
    }
    val chRaw = java.nio.ByteBuffer.allocate(10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    deltas2.foreach(chRaw.putShort)
    val defl = new java.util.zip.Deflater()
    defl.setInput(chRaw.array()); defl.finish()
    val cbuf = new Array[Byte](64)
    put("ch/0", java.util.Arrays.copyOf(cbuf, defl.deflate(cbuf)))
    defl.end()
    val chMeta = ZarrMeta.readArrayMeta(conf, dir, "ch")
    assert(chMeta.encodedDtype == "<i2", chMeta.encodedDtype)
    val chVals = ZarrMeta.readChunk(conf, dir, chMeta, Seq(0))
    assert(chVals.zip(cxs).forall { case (a, b) => math.abs(a - b) < 1e-9 },
      chVals.toSeq)

    // --- BitRound: mantissa rounding happens at encode; the stored floats
    // ARE the array values (decode = identity, dtype unchanged), so the
    // read must return them bit-exactly — climate stores chain it under a
    // compressor for lossy-rounded-but-well-compressed chunks
    putS("br/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f4",
        | "compressor": {"id": "zlib", "level": 1}, "order": "C",
        | "filters": [{"id": "bitround", "keepbits": 6}],
        | "fill_value": null}""".stripMargin)
    putS("br/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    // zero the 17 mantissa bits beyond keepbits=6, as the encoder would
    val rounded = Array(273.154f, -12.875f, 0.0313f, 1001.6f).map { v =>
      java.lang.Float.intBitsToFloat(
        java.lang.Float.floatToIntBits(v) & ~((1 << 17) - 1))
    }
    val brRaw = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    rounded.foreach(brRaw.putFloat)
    val brDefl = new java.util.zip.Deflater()
    brDefl.setInput(brRaw.array()); brDefl.finish()
    val brBuf = new Array[Byte](64)
    put("br/0", java.util.Arrays.copyOf(brBuf, brDefl.deflate(brBuf)))
    brDefl.end()
    val brMeta = ZarrMeta.readArrayMeta(conf, dir, "br")
    assert(brMeta.encodedDtype == "<f4", brMeta.encodedDtype)
    val brVals = ZarrMeta.readChunk(conf, dir, brMeta, Seq(0))
    assert(brVals.toSeq == rounded.map(_.toDouble).toSeq, brVals.toSeq)

    // --- v2 "order": "F": column-major chunk bytes must come back in
    // C order — ignoring the declaration would TRANSPOSE values silently
    putS("fo/.zarray",
      """{"zarr_format": 2, "shape": [2, 3], "chunks": [2, 3], "dtype": "<f8",
        | "compressor": null, "order": "F", "filters": null,
        | "fill_value": null}""".stripMargin)
    putS("fo/.zattrs", """{"_ARRAY_DIMENSIONS": ["r", "c"]}""")
    // C-order values 1..6; F-order storage runs columns first
    val fRaw = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 4.0, 2.0, 5.0, 3.0, 6.0).foreach(fRaw.putDouble)
    put("fo/0.0", fRaw.array())
    val foVals = ZarrMeta.readChunk(conf, dir,
      ZarrMeta.readArrayMeta(conf, dir, "fo"), Seq(0, 0))
    assert(foVals.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0), foVals.toSeq)
    // an unknown order string is a directed error
    putS("fx/.zarray",
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
        | "compressor": null, "order": "K", "filters": null,
        | "fill_value": null}""".stripMargin)
    val eOrd = intercept[UnsupportedOperationException] {
      ZarrMeta.readArrayMeta(conf, dir, "fx")
    }
    assert(eOrd.getMessage.contains("order"), eOrd.getMessage)
  }

  test("zarr v3 big-endian bytes codec decodes (hand-crafted store)") {
    val dir = java.nio.file.Files.createTempDirectory("zarr3be").toString + "/s.zarr"
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
    }
    def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
    putS("zarr.json", """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    def arr(name: String, shape: Int, dims: String, units: String): Unit = putS(
      s"$name/zarr.json",
      s"""{"zarr_format": 3, "node_type": "array", "shape": [$shape],
         | "data_type": "float64",
         | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [$shape]}},
         | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
         | "fill_value": "NaN",
         | "codecs": [{"name": "bytes", "configuration": {"endian": "big"}}],
         | "attributes": {$units}, "dimension_names": [$dims]}""".stripMargin)
    def be(values: Seq[Double]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(values.size * 8)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      values.foreach(bb.putDouble)
      bb.array()
    }
    arr("x", 3, "\"x\"", "")
    put("x/c/0", be(Seq(0.0, 1.0, 2.0)))
    arr("v", 3, "\"x\"", "")
    put("v/c/0", be(Seq(10.5, 11.5, 12.5)))
    val df = spark.read.format("zarr").load(dir)
    assert(df.orderBy($"x").select($"v").as[Double].collect().toSeq ==
      Seq(10.5, 11.5, 12.5))
  }

  test("zarr v3 fill values as xarray and the spec write them: base64 _FillValue, hex fill_value") {
    def store(arrays: (String, String, String, String)*): String = {
      val dir = java.nio.file.Files.createTempDirectory("zarr3fill").toString + "/s.zarr"
      def putS(rel: String, s: String): Unit = {
        val f = new java.io.File(dir, rel)
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
      }
      putS("zarr.json", """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
      (("x", "float64", "\"NaN\"", "") +: arrays).foreach { case (name, dtype, fill, attrs) =>
        putS(s"$name/zarr.json",
          s"""{"zarr_format": 3, "node_type": "array", "shape": [4], "data_type": "$dtype",
             | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
             | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
             | "fill_value": $fill, "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
             | "attributes": {$attrs}, "dimension_names": ["x"]}""".stripMargin)
      }
      dir
    }
    def chunk(dir: String, rel: String, bb: java.nio.ByteBuffer): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bb.array())
    }
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // xarray's FillValueCoder: base64 of struct.pack("<d", -9999.0)
    val dir = store(
      ("a", "float32", "\"0x7fc00000\"", "\"_FillValue\": \"AAAAAICHw8A=\""),
      ("b", "float64", "\"0x4059000000000000\"", ""),
      ("h", "float16", "\"0x3c00\"", ""))
    chunk(dir, "x/c/0", le(16).putDouble(0).putDouble(1))
    chunk(dir, "x/c/1", le(16).putDouble(2).putDouble(3))
    chunk(dir, "a/c/0", le(8).putFloat(-9999f).putFloat(1.5f))
    chunk(dir, "b/c/0", le(16).putDouble(1).putDouble(2))
    // chunk 1 of a, b and h is absent: it reads the fill_value
    val rows = spark.read.format("zarr").load(dir).orderBy($"x").collect()
    def col(c: String): Seq[Any] = rows.map(r => r.getAs[Any](c)).toSeq
    assert(col("a") == Seq(null, 1.5, null, null)) // -9999 masked, NaN fill
    assert(col("b") == Seq(1.0, 2.0, 100.0, 100.0)) // a v3 fill_value does not mask
    assert(col("h") == Seq(1.0, 1.0, 1.0, 1.0))

    // any other string fill on a numeric array names the array
    Seq(("i", "int16", "\"0x0001\"", ""), ("j", "int16", "0", "\"_FillValue\": \"AAAAAICHw8A=\""),
        ("k", "float32", "\"missing\"", ""), ("l", "float64", "0", "\"_FillValue\": \"AAAA\""))
      .foreach { arr =>
        val e = intercept[Exception](spark.read.format("zarr").load(store(arr)).collect())
        val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        assert(msg.contains(s"zarr v3 array ${arr._1}:"), msg)
      }
  }

  test("zarr v3 transpose codec decodes (F-order layout, multi-chunk with edge pad)") {
    val dir = java.nio.file.Files.createTempDirectory("zarr3tr").toString + "/s.zarr"
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
    }
    def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
    def le(values: Seq[Double]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(values.size * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      values.foreach(bb.putDouble)
      bb.array()
    }
    putS("zarr.json", """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    def coord(name: String, values: Seq[Double]): Unit = {
      putS(s"$name/zarr.json",
        s"""{"zarr_format": 3, "node_type": "array", "shape": [${values.size}],
           | "data_type": "float64",
           | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${values.size}]}},
           | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
           | "fill_value": "NaN", "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
           | "attributes": {}, "dimension_names": ["$name"]}""".stripMargin)
      put(s"$name/c/0", le(values))
    }
    coord("t", Seq(0.0, 1.0))
    coord("x", Seq(0.0, 1.0, 2.0))
    // v(t, x) = 10*t + x over shape [2, 3], chunk [2, 2] (edge chunk padded),
    // transpose order [1, 0]: each stored chunk is C-order over [x, t]
    putS("v/zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 3],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 2]}},
        | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        | "fill_value": "NaN",
        | "codecs": [{"name": "transpose", "configuration": {"order": [1, 0]}},
        |            {"name": "bytes", "configuration": {"endian": "little"}}],
        | "attributes": {}, "dimension_names": ["t", "x"]}""".stripMargin)
    // chunk (0,0): x-major (x0: t0,t1), (x1: t0,t1) = [0, 10, 1, 11]
    put("v/c/0/0", le(Seq(0.0, 10.0, 1.0, 11.0)))
    // chunk (0,1): x=2 real, x=3 pad = [2, 12, pad, pad]
    put("v/c/0/1", le(Seq(2.0, 12.0, -1.0, -1.0)))
    val df = spark.read.format("zarr").load(dir)
    val got = df.orderBy($"t", $"x").select($"v").as[Double].collect().toSeq
    assert(got == Seq(0.0, 1.0, 2.0, 10.0, 11.0, 12.0), got)
    // a non-permutation order is a directed error
    putS("v/zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 3],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 2]}},
        | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        | "fill_value": "NaN",
        | "codecs": [{"name": "transpose", "configuration": {"order": [1, 1]}},
        |            {"name": "bytes", "configuration": {"endian": "little"}}],
        | "attributes": {}, "dimension_names": ["t", "x"]}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("zarr").load(dir).collect()
    }
    assert(e.getMessage.contains("permutation"), e.getMessage)
  }

  test("zarr v3 opens without consolidated metadata (per-array zarr.json walk)") {
    // strip the inline consolidated_metadata from the root node
    val root = java.nio.file.Paths.get(storeV3, "zarr.json")
    val stripped = java.nio.file.Files.createTempDirectory("zarr3nc").toString + "/s.zarr"
    val src = new java.io.File(storeV3)
    def copy(f: java.io.File, to: java.io.File): Unit = {
      if (f.isDirectory) { to.mkdirs(); f.listFiles.foreach(c => copy(c, new java.io.File(to, c.getName))) }
      else java.nio.file.Files.copy(f.toPath, to.toPath)
    }
    copy(src, new java.io.File(stripped))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stripped, "zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    val v3 = spark.read.format("zarr").load(stripped)
    assert(v3.count() == nt * ny * nx)
    assert(v3.schema.fieldNames.contains("t2m"))
    // keep the consolidated root intact for the other tests
    assert(java.nio.file.Files.readString(root).contains("consolidated_metadata"))
  }

  test("schema: coords (time as timestamp) + decoded float64 variables") {
    val s = ds.schema
    assert(s.fieldNames.toSeq == Seq("time", "latitude", "longitude", "cape", "t2m"))
    assert(s("time").dataType.typeName == "timestamp_ntz")
    assert(s("t2m").dataType.typeName == "double" && s("cape").dataType.typeName == "double")
  }

  test("values round-trip, scale/offset applied, missing -> null") {
    assert(ds.count() == nt * ny * nx)
    val r = ds.filter($"latitude" === -10.0 && $"longitude" === 110.0)
      .filter(date_format($"time", "yyyy-MM-dd") === "1970-01-02")
      .select($"t2m", $"cape").head()
    assert(math.abs(r.getDouble(0) - (250.0 + 1 + 0.0 + 0.01)) < 1e-9)
    assert(r.getDouble(1) == (100 * 1 + 1) * 0.5 + 1000.0)
    // the planted missing cell decodes to NULL
    val missing = ds.filter($"latitude" === -10.0 && $"longitude" === 100.0)
      .orderBy($"time").select($"cape").head()
    assert(missing.isNullAt(0))
  }

  test("partition planning follows the chunk grid") {
    assert(ds.rdd.getNumPartitions == 2 * 2 * 2) // ceil(4/2) x ceil(5/3) x ceil(6/4)
  }

  test("coordinate filters push down and prune chunks") {
    val filtered = ds.filter($"latitude" >= 5.0 && $"longitude" < 120.0)
    // latitude >= 5 -> indices 3..4 -> chunk 1 only; longitude < 120 ->
    // indices 0..1 -> chunk 0 only; time unfiltered -> 2 chunks
    assert(filtered.rdd.getNumPartitions == 2 * 1 * 1)
    assert(filtered.count() == nt * 2 * 2)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("ZarrScan"), plan.take(400))
    // residual safety: selecting values matches a full-scan filter
    val viaFull = ds.collect().filter(r =>
      r.getAs[Double]("latitude") >= 5.0 && r.getAs[Double]("longitude") < 120.0).length
    assert(viaFull == filtered.count())
  }

  test("column pruning only decodes requested variables") {
    val one = ds.select($"latitude", $"t2m")
    assert(one.columns.toSeq == Seq("latitude", "t2m"))
    assert(one.agg(sum($"t2m")).head().getDouble(0) > 0)
  }

  test("empty selection yields zero partitions, not errors") {
    val none = ds.filter($"latitude" > 1000.0)
    assert(none.count() == 0)
  }

  test("FormatRegistry dispatches .zarr to the DSv2 source") {
    val df = graft.sources.FormatRegistry.open(spark, store)
    assert(df.count() == nt * ny * nx)
  }

  test("flagship xql query end-to-end on a zarr store (README example shape)") {
    // the reference's flagship: daily AVG over a spatial box on ERA5 zarr
    // (xql/README.md:74-83); here: WxSql sugar -> date_trunc + box filter
    val wx = graft.operators.WxSql(spark)
    wx.set("era5", store)
    val out = wx.sql(
      "SELECT time_date, AVG(t2m) FROM era5 " +
        "WHERE latitude >= -10 AND latitude <= 0 AND longitude >= 100 AND longitude <= 120 " +
        "GROUP BY time_date ORDER BY time_date")
    val rows = out.collect()
    assert(out.columns.toSeq.contains("avg_t2m"))
    assert(rows.length == nt) // one row per day
    // day 0 box: lats {-10,-5,0} x lons {100,110,120}, t=0
    val expected = (for (y <- 0 to 2; x <- 0 to 2) yield 250.0 + 0.1 * y + 0.01 * x).sum / 9
    assert(math.abs(rows.head.getAs[Double]("avg_t2m") - expected) < 1e-9)
  }

  test("sub-second timestamp bounds keep full precision in pushdown pruning") {
    // the regression: LocalDateTime bounds truncated to whole seconds, so a
    // `ts <= 00:00:00.5` filter pruned away the 0.3s row — pruning silently
    // became a correctness dependency
    val dir = java.nio.file.Files.createTempDirectory("zarrfrac").toString + "/frac.zarr"
    ZW.write(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(4), Seq(2), "<f8",
        Seq(0.3, 0.5, 86400.0, 86400.5),
        units = Some("seconds since 1970-01-01")),
      ZW.VarSpec("v", Seq("time"), Seq(4), Seq(2), "<f8", Seq(1.0, 2.0, 3.0, 4.0))))
    val df = spark.read.format("zarr").load(dir)
    val kept = df.filter($"time" <= "1970-01-01 00:00:00.5")
      .select($"v").as[Double].collect().sorted
    assert(kept.toSeq == Seq(1.0, 2.0))
    val eq = df.filter($"time" === "1970-01-02 00:00:00.5").select($"v").as[Double].collect()
    assert(eq.toSeq == Seq(4.0))
  }

  test("exact coordinate pushdown: random boxes and points equal the predicate over the store's rows") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper
    // hourly times a quarter second past the hour, descending latitude;
    // chunks 5 x 3 x 4 leave ragged edge chunks on every axis
    val (nt2, ny2, nx2) = (12, 7, 9)
    val lats = (0 until ny2).map(y => 60.0 - 7.5 * y)
    val lons = (0 until nx2).map(x => -20.0 + 2.5 * x)
    def write(name: String, times: Seq[Double], units: String, calendar: Option[String],
        lat: Seq[Double]): String = {
      val dir = java.nio.file.Files.createTempDirectory(name).toString + "/s.zarr"
      ZW.write(dir, Seq(
        ZW.VarSpec("time", Seq("time"), Seq(nt2), Seq(5), "<f8", times,
          units = Some(units), calendar = calendar),
        ZW.VarSpec("latitude", Seq("latitude"), Seq(ny2), Seq(3), "<f8", lat),
        ZW.VarSpec("longitude", Seq("longitude"), Seq(nx2), Seq(4), "<f8", lons),
        ZW.VarSpec("v", Seq("time", "latitude", "longitude"), Seq(nt2, ny2, nx2), Seq(5, 3, 4),
          data = (0 until nt2 * ny2 * nx2).map(i => if (i % 17 == 0) -1.0 else i * 0.5),
          missingValue = Some(-1.0))))
      dir
    }
    val hourly = (0 until nt2).map(t => 3600.0 * t + 0.25)
    // (store, the dirty dim whose predicates stay residual)
    val stores = Seq(
      write("exact", hourly, "seconds since 2024-01-01", None, lats) -> None,
      write("nanlat", hourly, "seconds since 2024-01-01", None, lats.updated(3, Double.NaN)) ->
        Some("latitude"),
      // 360_day days 58 and 59 are Feb 29 and 30 of 2001: NaT
      write("nat", (55 until 55 + nt2).map(_.toDouble), "days since 2001-01-01",
        Some("360_day"), lats) -> Some("time"))

    val r = new scala.util.Random(14)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    /** On a grid value, between two, or outside the axis. */
    def numBound(grid: Seq[Double]): Double = {
      val g = grid.filterNot(_.isNaN).sorted
      r.nextInt(4) match {
        case 0 | 1 => pick(g)
        case 2 => val i = r.nextInt(g.size - 1); (g(i) + g(i + 1)) / 2
        case _ => pick(Seq(g.head - 1, g.last + 1))
      }
    }
    /** On a grid time or a microsecond to half a second off it. */
    def timeBound(grid: Seq[java.time.LocalDateTime]): java.time.LocalDateTime =
      pick(grid).plusNanos(pick(Seq(0L, 0L, 1000L, -1000L, 250000000L, -500000000L)))
    def cmp(c: Column, bound: () => Any): Column = r.nextInt(6) match {
      case 0 => c > lit(bound())
      case 1 => c >= lit(bound())
      case 2 => c < lit(bound())
      case 3 => c <= lit(bound())
      case 4 => c === lit(bound())
      case _ => c.between(lit(bound()), lit(bound()))
    }

    stores.foreach { case (path, dirty) =>
      val df = spark.read.format("zarr").load(path)
      val rows = df.collect()
      val local = spark.createDataFrame(rows.toList.asJava, df.schema)
      val times = rows.flatMap(row => Option(row.getAs[java.time.LocalDateTime]("time"))).distinct.toSeq
      val latGrid = rows.map(_.getAs[Double]("latitude")).distinct.toSeq
      (0 until 30).foreach { i =>
        val point = i % 3 == 0
        val parts = Seq(
          Option.when(point || r.nextBoolean())("latitude" ->
            (if (point) $"latitude" === lit(pick(latGrid.filterNot(_.isNaN)))
             else cmp($"latitude", () => numBound(latGrid)))),
          Option.when(point || r.nextBoolean())("longitude" ->
            (if (point) $"longitude" === lit(pick(lons)) else cmp($"longitude", () => numBound(lons)))),
          Option.when(r.nextBoolean())("time" -> cmp($"time", () => timeBound(times)))).flatten
        val pred = parts.map(_._2).reduceOption(_ && _).getOrElse(lit(true))
        val got = df.where(pred)
        val ctx = s"${path.split('/').takeRight(2).head} query $i: $pred"
        assert(got.collect().map(_.toString).sorted.toSeq ==
          local.where(pred).collect().map(_.toString).sorted.toSeq, ctx)
        val filtered = Plans.collect(got.queryExecution.executedPlan) { case f: FilterExec => f }
        assert(filtered.nonEmpty == dirty.exists(d => parts.exists(_._1 == d)), ctx)
      }
    }

    // a pruned box with fresh literals compiles no new class: the window
    // holds the literals, and no generated code does
    val df = spark.read.format("zarr").load(stores.head._1)
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0, 250000000)
    def box(k: Int): Array[org.apache.spark.sql.Row] = df.where(
      $"latitude".between(lats(2) - 0.001 * k, lats(0) + 0.001 * k) &&
        $"longitude".between(lons(0) - 0.001 * k, lons(3) + 0.001 * k) &&
        $"time".between(lit(t0.minusNanos(1000L * k)), lit(t0.plusHours(4).plusNanos(1000L * k))))
      .agg(avg($"v"), max($"v"), count($"v"), count(lit(1))).collect()
    val warm = box(1)
    assert(box(2).toSeq == warm.toSeq && warm.head.getLong(3) == 5 * 3 * 4)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(box(3).toSeq == warm.toSeq)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  test("distributed writer round-trips a long-format frame through the DSv2 reader") {
    import graft.sources.zarr.ZarrDistributedWriter
    val out = java.nio.file.Files.createTempDirectory("zarrw").toString + "/rt.zarr"
    ZarrDistributedWriter.write(ds, out,
      Seq("time", "latitude", "longitude"), Seq(2, 3, 4))
    val back = spark.read.format("zarr").load(out)
    assert(back.columns.toSeq == ds.columns.toSeq)
    val key = Seq($"time", $"latitude", $"longitude")
    val a = ds.orderBy(key: _*).collect()
    val b = back.orderBy(key: _*).collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
  }

  test("distributed v3 writer round-trips, sharded and unsharded, one object per shard") {
    import graft.sources.zarr.ZarrDistributedWriter
    val key = Seq($"time", $"latitude", $"longitude")
    val expected = ds.orderBy(key: _*).collect()
    // unsharded v3
    val flat = java.nio.file.Files.createTempDirectory("zarrw3").toString + "/rt.zarr"
    ZarrDistributedWriter.writeV3(ds, flat,
      Seq("time", "latitude", "longitude"), Seq(2, 3, 4))
    val backFlat = spark.read.format("zarr").load(flat).orderBy(key: _*).collect()
    assert(expected.toSeq == backFlat.toSeq)
    // sharded: 2x3x4 inner chunks packed into 4x3x4 shards
    val sharded = java.nio.file.Files.createTempDirectory("zarrw3s").toString + "/rt.zarr"
    ZarrDistributedWriter.writeV3(ds, sharded,
      Seq("time", "latitude", "longitude"), Seq(2, 3, 4), shard = Some(Seq(4, 3, 4)))
    val backSharded = spark.read.format("zarr").load(sharded).orderBy(key: _*).collect()
    assert(expected.toSeq == backSharded.toSeq)
    // object count: ceil(4/4) x ceil(5/3) x ceil(6/4) = 1*2*2 = 4 shards/var,
    // vs 2*2*2 = 8 inner chunks/var unsharded
    def chunkFiles(store: String, v: String): Int = {
      // Hadoop LocalFileSystem writes .crc sidecars next to every object;
      // count only the real chunk/shard objects
      def walk(f: java.io.File): Int =
        if (f.isFile) { if (f.getName.startsWith(".")) 0 else 1 }
        else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      walk(new java.io.File(s"$store/$v/c"))
    }
    assert(chunkFiles(sharded, "t2m") == 4, "one object per shard")
    assert(chunkFiles(flat, "t2m") == 8, "one object per inner chunk")
  }

  test("distributed writer round-trips string columns as |O vlen-utf8 variables") {
    import graft.sources.zarr.ZarrDistributedWriter
    val out = java.nio.file.Files.createTempDirectory("zarrwstr").toString + "/rt.zarr"
    // numeric + string data columns in one frame; the string pass is a
    // separate column-pruned job, numeric encoding stays byte-identical
    val withLabels = ds.withColumn("station",
      concat(lit("st-"), ($"latitude" * 10).cast("int"), lit("/"),
        ($"longitude" * 10).cast("int")))
    ZarrDistributedWriter.write(withLabels, out,
      Seq("time", "latitude", "longitude"), Seq(2, 3, 4))
    val back = spark.read.format("zarr").load(out)
    assert(back.schema("station").dataType.typeName == "string")
    val key = Seq($"time", $"latitude", $"longitude")
    val a = withLabels.orderBy(key: _*).collect()
    val b = back.select(withLabels.columns.map(col): _*).orderBy(key: _*).collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
    // v3 distributed writer: strings as the native `string` data type +
    // vlen-utf8 codec, same round-trip through the DSv2 reader
    val out3 = java.nio.file.Files.createTempDirectory("zarrw3str").toString +
      "/s.zarr"
    ZarrDistributedWriter.writeV3(withLabels, out3,
      Seq("time", "latitude", "longitude"), Seq(2, 3, 4))
    val back3 = spark.read.format("zarr").load(out3)
    assert(back3.schema("station").dataType.typeName == "string")
    val b3 = back3.select(withLabels.columns.map(col): _*).orderBy(key: _*).collect()
    assert(a.length == b3.length)
    a.zip(b3).foreach { case (x, y) => assert(x == y, s"$x != $y") }
    // sharded + strings: the sharding_indexed index addresses (offset,
    // nbytes) extents, so variable-length vlen-utf8 inner chunks pack into
    // shards like any other — numeric and string vars share shard objects
    val outSh = java.nio.file.Files.createTempDirectory("zarrw3sh").toString +
      "/s.zarr"
    ZarrDistributedWriter.writeV3(withLabels, outSh,
      Seq("time", "latitude", "longitude"), Seq(2, 3, 4),
      shard = Some(Seq(2, 3, 8)))
    val backSh = spark.read.format("zarr").load(outSh)
    assert(backSh.schema("station").dataType.typeName == "string")
    val bSh = backSh.select(withLabels.columns.map(col): _*).orderBy(key: _*)
      .collect()
    assert(a.length == bSh.length)
    a.zip(bSh).foreach { case (x, y) => assert(x == y, s"$x != $y") }
    // one object per (var, shard), strings included: lon 6 cells / shard 8
    // -> 1; time 4/2 -> 2; lat 5/3 -> 2 shards per var
    def objects(store: String, v: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      // count real shard objects, not Hadoop's local .crc sidecars
      walk(new java.io.File(store, s"$v/c")).count(!_.getName.startsWith("."))
    }
    assert(objects(outSh, "station") == 4)
    assert(objects(outSh, "t2m") == 4)
  }

  test("distributed writer derives every axis in one Spark job") {
    import graft.sources.zarr.ZarrDistributedWriter
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftBusDrain
    val sc = spark.sparkContext
    val withLabels = ds.withColumn("station", concat(lit("st-"), $"latitude".cast("string")))
    val dims = Seq("time", "latitude", "longitude")
    // the call sites of the jobs one write runs; the chunk writes are its
    // foreachPartition jobs, every other job derives axes
    def sites(write: String => Unit): Seq[String] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          seen.add(e.stageInfos.maxBy(_.stageId).name) // the action's call site
      }
      GraftBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        write(java.nio.file.Files.createTempDirectory("zarrjobs").toString + "/j.zarr")
        GraftBusDrain(sc)
      } finally sc.removeSparkListener(listener)
      seen.toArray(Array.empty[String]).toSeq
    }
    val counts = Seq[(String, String => Unit)](
      "v2" -> (out => ZarrDistributedWriter.write(withLabels, out, dims, Seq(2, 3, 4))),
      "v3" -> (out => ZarrDistributedWriter.writeV3(withLabels, out, dims, Seq(2, 3, 4))),
      "v3 sharded" -> (out => ZarrDistributedWriter.writeV3(withLabels, out, dims,
        Seq(2, 3, 4), shard = Some(Seq(4, 3, 8))))).map { case (name, write) =>
      val all = sites(write)
      val axis = all.count(!_.startsWith("foreachPartition"))
      println(s"[jobs] distributed $name write of ${dims.size} dims: " +
        s"$axis axis-derivation jobs, ${all.size} jobs in all")
      name -> axis
    }
    assert(counts.forall(_._2 == 1), s"axis-derivation jobs per write: $counts")
  }

  test("distributed writer encodes absent cells as nulls (sparse input)") {
    import graft.sources.zarr.ZarrDistributedWriter
    val out = java.nio.file.Files.createTempDirectory("zarrs").toString + "/sparse.zarr"
    // drop one specific grid point entirely
    val sparse = ds.filter(!($"latitude" === -10.0 && $"longitude" === 100.0 &&
      date_format($"time", "yyyy-MM-dd") === "1970-01-01"))
    ZarrDistributedWriter.write(sparse, out,
      Seq("time", "latitude", "longitude"), Seq(2, 3, 4))
    val back = spark.read.format("zarr").load(out)
    assert(back.count() == nt * ny * nx) // dense grid restored
    val hole = back.filter($"latitude" === -10.0 && $"longitude" === 100.0)
      .orderBy($"time").head()
    assert(hole.isNullAt(hole.fieldIndex("t2m")))
    assert(back.filter($"t2m".isNull).count() == 1)
  }

  test("consolidated metadata is written by both writers and is sufficient to open") {
    import graft.sources.zarr.ZarrDistributedWriter
    for ((name, mk) <- Seq[(String, String => Unit)](
      "local" -> { out =>
        ZW.write(out, Seq(
          ZW.VarSpec("time", Seq("time"), Seq(2), Seq(2), "<f8", Seq(0.0, 3600.0),
            units = Some("seconds since 1970-01-01")),
          ZW.VarSpec("v", Seq("time"), Seq(2), Seq(2), "<f8", Seq(1.5, 2.5))))
      },
      "distributed" -> { out =>
        ZarrDistributedWriter.write(ds, out,
          Seq("time", "latitude", "longitude"), Seq(2, 3, 4))
      })) {
      val out = java.nio.file.Files.createTempDirectory(s"zarrcm$name").toString + "/c.zarr"
      mk(out)
      val zm = java.nio.file.Paths.get(out, ".zmetadata")
      assert(java.nio.file.Files.exists(zm), s"$name writer wrote no .zmetadata")
      val parsed = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(zm))
      assert((parsed \ "zarr_consolidated_format") != org.json4s.JNothing)
      val expected = spark.read.format("zarr").load(out).orderBy($"time").collect()
      // delete every per-array metadata file: if open() still plans the
      // store, the metadata really came from .zmetadata alone
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator()
        .forEachRemaining { p =>
          val n = p.getFileName.toString
          if (n == ".zarray" || n == ".zattrs") java.nio.file.Files.delete(p)
        }
      val viaConsolidated = spark.read.format("zarr").load(out).orderBy($"time").collect()
      assert(viaConsolidated.toSeq == expected.toSeq,
        s"$name store reads differently via consolidated metadata")
    }
  }

  test("zarr v3 dtype tail: int8, uint16/32/64, float16 round-trip") {
    // one hand-crafted store per dtype: coord x (f8) + data var v
    def mk(dataType: String, enc: Seq[Double] => Array[Byte],
        values: Seq[Double], expect: Seq[Double]): Unit = {
      val dir = java.nio.file.Files.createTempDirectory(s"zarr3-$dataType")
        .toString + "/s.zarr"
      def put(rel: String, bytes: Array[Byte]): Unit = {
        val f = new java.io.File(dir, rel)
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, bytes)
      }
      def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
      putS("zarr.json",
        """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
      putS("x/zarr.json",
        s"""{"zarr_format": 3, "node_type": "array", "shape": [${values.size}],
           | "data_type": "float64",
           | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${values.size}]}},
           | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
           | "fill_value": "NaN", "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
           | "attributes": {}, "dimension_names": ["x"]}""".stripMargin)
      val xb = java.nio.ByteBuffer.allocate(values.size * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      values.indices.foreach(i => xb.putDouble(i.toDouble))
      put("x/c/0", xb.array())
      putS("v/zarr.json",
        s"""{"zarr_format": 3, "node_type": "array", "shape": [${values.size}],
           | "data_type": "$dataType",
           | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${values.size}]}},
           | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
           | "fill_value": 0, "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
           | "attributes": {}, "dimension_names": ["x"]}""".stripMargin)
      put("v/c/0", enc(values))
      val got = spark.read.format("zarr").load(dir)
        .orderBy($"x").select($"v").as[Double].collect().toSeq
      assert(got == expect, s"$dataType: $got != $expect")
    }
    def leBuf(n: Int, w: Int): java.nio.ByteBuffer =
      java.nio.ByteBuffer.allocate(n * w).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    mk("int8", vs => { val b = leBuf(vs.size, 1)
      vs.foreach(v => b.put(v.toByte)); b.array() },
      Seq(-128.0, -1.0, 0.0, 127.0), Seq(-128.0, -1.0, 0.0, 127.0))
    mk("uint16", vs => { val b = leBuf(vs.size, 2)
      vs.foreach(v => b.putShort(v.toInt.toShort)); b.array() },
      Seq(1.0, 255.0, 65535.0), Seq(1.0, 255.0, 65535.0))
    mk("uint32", vs => { val b = leBuf(vs.size, 4)
      vs.foreach(v => b.putInt(v.toLong.toInt)); b.array() },
      Seq(1.0, 4294967295.0), Seq(1.0, 4294967295.0))
    mk("uint64", vs => { val b = leBuf(vs.size, 8)
      vs.foreach(v => b.putLong(v.toLong)); b.array() },
      Seq(1.0, 9007199254740992.0), Seq(1.0, 9007199254740992.0))
    // float16 bit patterns: 1.0, 3.0, -4.0, 65504 (max), 2^-24 (subnormal)
    mk("float16", _ => { val b = leBuf(5, 2)
      Seq(0x3c00, 0x4200, 0xc400, 0x7bff, 0x0001)
        .foreach(h => b.putShort(h.toShort)); b.array() },
      Seq(0.0, 0.0, 0.0, 0.0, 0.0), // enc ignores values; bit patterns above
      Seq(1.0, 3.0, -4.0, 65504.0, 5.960464477539063e-8))
    // unknown dtype stays a directed error
    val e = intercept[UnsupportedOperationException] {
      mk("complex64", _ => Array[Byte](), Seq(1.0), Seq(1.0))
    }
    assert(e.getMessage.contains("complex64"), e.getMessage)
  }

  test("zarr v2 fixed-width string dtypes (|S<n> bytes, |U<n> UTF-32) read as StringType") {
    val dir = java.nio.file.Files.createTempDirectory("zarrstr").toString + "/s.zarr"
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
    }
    def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
    val names = Seq("oslo", "bergen", "tromso")
    def zarray(dtype: String, comp: String = "null"): String =
      s"""{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "$dtype",
         | "compressor": $comp, "fill_value": null, "filters": null, "order": "C"}""".stripMargin
    putS("x/.zarray", zarray("<f8"))
    putS("x/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val xb = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0.0, 1.0, 2.0).foreach(xb.putDouble)
    put("x/0", xb.array())
    // |S8: NUL-padded bytes, zlib-compressed to exercise the shared path
    putS("name/.zarray", zarray("|S8", comp = """{"id": "zlib", "level": 6}"""))
    putS("name/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val sCells = new Array[Byte](24)
    names.zipWithIndex.foreach { case (s, i) =>
      System.arraycopy(s.getBytes("UTF-8"), 0, sCells, i * 8, s.length)
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(sCells); deflater.finish()
    val zbuf = new Array[Byte](256)
    val zn = deflater.deflate(zbuf)
    put("name/0", java.util.Arrays.copyOf(zbuf, zn))
    // |U6: little-endian UTF-32 code points, NUL-padded
    putS("uname/.zarray", zarray("<U6"))
    putS("uname/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val uCells = java.nio.ByteBuffer.allocate(3 * 24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    names.foreach { s =>
      s.codePoints().toArray.foreach(uCells.putInt)
      (s.length until 6).foreach(_ => uCells.putInt(0))
    }
    put("uname/0", uCells.array())
    // numeric sibling on the same grid
    putS("v/.zarray", zarray("<f8"))
    putS("v/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val vb = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(10.0, 11.0, 12.0).foreach(vb.putDouble)
    put("v/0", vb.array())

    // >U6: big-endian UTF-32 honors the byte-order marker
    putS("buname/.zarray", zarray(">U6"))
    putS("buname/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val buCells = java.nio.ByteBuffer.allocate(3 * 24)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    names.foreach { s =>
      s.codePoints().toArray.foreach(buCells.putInt)
      (s.length until 6).foreach(_ => buCells.putInt(0))
    }
    put("buname/0", buCells.array())

    val df = spark.read.format("zarr").load(dir)
    assert(df.schema("name").dataType.typeName == "string")
    assert(df.schema("uname").dataType.typeName == "string")
    assert(df.schema("v").dataType.typeName == "double")
    val rows = df.orderBy($"x").collect()
    assert(rows.map(_.getAs[String]("name")).toSeq == names)
    assert(rows.map(_.getAs[String]("uname")).toSeq == names)
    assert(rows.map(_.getAs[String]("buname")).toSeq == names)
    assert(rows.map(_.getAs[Double]("v")).toSeq == Seq(10.0, 11.0, 12.0))
  }

  test("zarr v2 object dtype (|O) with numcodecs vlen-utf8 reads as StringType") {
    // hand-built fixture first: exact numcodecs vlen.pyx byte layout
    // (u32-LE item count, per item u32-LE length + UTF-8), independent of
    // the writer so a writer/reader co-bug can't self-certify
    val dir = java.nio.file.Files.createTempDirectory("zarrvlen").toString + "/s.zarr"
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
    }
    def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
    putS("x/.zarray",
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null, "order": "C"}""".stripMargin)
    putS("x/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val xb = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0.0, 1.0, 2.0).foreach(xb.putDouble)
    put("x/0", xb.array())
    // fill_value "" is what zarr-python 3 writes for v2-format string
    // arrays — it must parse as a string fill, not Double.parseDouble("")
    putS("label/.zarray",
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "|O",
        | "compressor": null, "fill_value": "",
        | "filters": [{"id": "vlen-utf8"}], "order": "C"}""".stripMargin)
    putS("label/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val names = Seq("oslo", "smørbrød", "") // multibyte + empty cell
    val bos = new java.io.ByteArrayOutputStream()
    def le32(x: Int): Unit = {
      bos.write(x & 0xff); bos.write((x >>> 8) & 0xff)
      bos.write((x >>> 16) & 0xff); bos.write((x >>> 24) & 0xff)
    }
    le32(3)
    names.foreach { s => val b = s.getBytes("UTF-8"); le32(b.length); bos.write(b) }
    put("label/0", bos.toByteArray)
    val df = spark.read.format("zarr").load(dir)
    assert(df.schema("label").dataType.typeName == "string")
    assert(df.orderBy($"x").collect().map(_.getAs[String]("label")).toSeq == names)

    // writer round-trip under every compressor (null/zlib/zstd/blosc —
    // zlib/gzip exercise unknown-size inflate, zstd the frame content
    // size, blosc the self-describing header), chunked so an edge chunk
    // pads with empty cells, alongside a numeric sibling
    val words = Seq("alpha", "år", "cézanne", "d", "雨天")
    for (comp <- Seq(None, Some("zlib"), Some("zstd"), Some("blosc"))) {
      val d2 = java.nio.file.Files.createTempDirectory(
        s"zarrvlenw${comp.getOrElse("raw")}").toString + "/s.zarr"
      ZW.write(d2, Seq(
        ZW.VarSpec("x", Seq("x"), Seq(5), Seq(5), "<f8",
          (0 until 5).map(_.toDouble)),
        ZW.VarSpec("name", Seq("x"), Seq(5), Seq(2), "|O",
          Nil, sdata = words, compressor = comp),
        ZW.VarSpec("short", Seq("x"), Seq(5), Seq(5), "|S12",
          Nil, sdata = words, compressor = comp),
        ZW.VarSpec("v", Seq("x"), Seq(5), Seq(5), "<f8",
          (0 until 5).map(i => i * 10.0))))
      val rt = spark.read.format("zarr").load(d2).orderBy($"x").collect()
      assert(rt.map(_.getAs[String]("name")).toSeq == words, s"compressor=$comp")
      assert(rt.map(_.getAs[String]("short")).toSeq == words, s"compressor=$comp")
      assert(rt.map(_.getAs[Double]("v")).toSeq == Seq(0.0, 10.0, 20.0, 30.0, 40.0))
    }

    // v3 `string` data type (zarr-python 3's native form): vlen-utf8 is
    // the array→bytes codec, optional compression after it
    for (comp <- Seq(None, Some("gzip"), Some("zstd"))) {
      val d4 = java.nio.file.Files.createTempDirectory(
        s"zarr3str${comp.getOrElse("raw")}").toString + "/s.zarr"
      ZW.writeV3(d4, Seq(
        ZW.VarSpec("x", Seq("x"), Seq(5), Seq(5), "<f8",
          (0 until 5).map(_.toDouble)),
        ZW.VarSpec("name", Seq("x"), Seq(5), Seq(2), "|O",
          Nil, sdata = words, compressor = comp),
        ZW.VarSpec("v", Seq("x"), Seq(5), Seq(5), "<f8",
          (0 until 5).map(i => i * 10.0))))
      val rt = spark.read.format("zarr").load(d4).orderBy($"x").collect()
      assert(rt.map(_.getAs[String]("name")).toSeq == words, s"v3 compressor=$comp")
      assert(rt.map(_.getAs[Double]("v")).toSeq == Seq(0.0, 10.0, 20.0, 30.0, 40.0))
    }

    // sharded v3 string array: vlen inner chunks behind a sharding_indexed
    // object (the 100 TB store layout with label vars)
    val d5 = java.nio.file.Files.createTempDirectory("zarr3strsh").toString + "/s.zarr"
    ZW.writeV3(d5, Seq(
      ZW.VarSpec("x", Seq("x"), Seq(8), Seq(8), "<f8",
        (0 until 8).map(_.toDouble)),
      ZW.VarSpec("name", Seq("x"), Seq(8), Seq(2), "|O", Nil,
        sdata = (0 until 8).map(i => s"label-$i"), compressor = Some("gzip"),
        shard = Some(Seq(4))),
      ZW.VarSpec("v", Seq("x"), Seq(8), Seq(2), "<f8",
        (0 until 8).map(i => i * 2.0), shard = Some(Seq(4)))))
    val rt5 = spark.read.format("zarr").load(d5).orderBy($"x").collect()
    assert(rt5.map(_.getAs[String]("name")).toSeq ==
      (0 until 8).map(i => s"label-$i"))
    assert(rt5.map(_.getAs[Double]("v")).toSeq == (0 until 8).map(_ * 2.0))

    // |O without the object codec is undecodable — directed error, not junk
    val d3 = java.nio.file.Files.createTempDirectory("zarrvlenbad").toString + "/s.zarr"
    def put3(rel: String, s: String): Unit = {
      val f = new java.io.File(d3, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
    }
    put3("x/.zarray",
      """{"zarr_format": 2, "shape": [1], "chunks": [1], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null, "order": "C"}""".stripMargin)
    put3("x/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    java.nio.file.Files.write(new java.io.File(d3, "x/0").toPath,
      java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putDouble(0.0).array())
    put3("bad/.zarray",
      """{"zarr_format": 2, "shape": [1], "chunks": [1], "dtype": "|O",
        | "compressor": null, "fill_value": null, "filters": null, "order": "C"}""".stripMargin)
    put3("bad/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    put3("bad/0", "junk")
    val e = intercept[Exception] {
      spark.read.format("zarr").load(d3).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("|O"), msgs)
  }

  test("v2 dimension_separator '/': nested chunk keys read correctly") {
    // zarr-python writes dimension_separator "/" for cloud stores (nested
    // chunk files keep object listings small); ignoring the field would
    // read every chunk as absent -> silent all-fill
    val dir = java.nio.file.Files.createTempDirectory("zarrsep").toString + "/s.zarr"
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
    }
    def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
    def f8(vals: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vals.size * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putDouble)
      bb.array()
    }
    putS("x/.zarray",
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null, "order": "C"}""".stripMargin)
    putS("x/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    put("x/0", f8(0.0, 1.0))
    putS("y/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null, "order": "C"}""".stripMargin)
    putS("y/.zattrs", """{"_ARRAY_DIMENSIONS": ["y"]}""")
    put("y/0", f8(0.0, 1.0, 2.0, 3.0))
    putS("v/.zarray",
      """{"zarr_format": 2, "shape": [2, 4], "chunks": [1, 2], "dtype": "<f8",
        | "compressor": null, "fill_value": "NaN", "order": "C",
        | "filters": null, "dimension_separator": "/"}""".stripMargin)
    putS("v/.zattrs", """{"_ARRAY_DIMENSIONS": ["x", "y"]}""")
    for (cx <- 0 until 2; cy <- 0 until 2)
      put(s"v/$cx/$cy", f8(cx * 100.0 + cy * 10, cx * 100.0 + cy * 10 + 1))
    val rows = spark.read.format("zarr").load(dir)
      .orderBy($"x", $"y").collect()
    assert(rows.length == 8)
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("v"))),
      "nested chunk keys were not resolved")
    assert(rows.map(_.getAs[Double]("v")).toSeq ==
      Seq(0.0, 1.0, 10.0, 11.0, 100.0, 101.0, 110.0, 111.0))
  }

  test("bool arrays (|b1 v2, bool v3) read as 0/1 doubles — xarray mask variables") {
    val mask = Seq(1.0, 0.0, 1.0, 1.0, 0.0)
    val d2 = java.nio.file.Files.createTempDirectory("zarrbool").toString + "/s.zarr"
    ZW.write(d2, Seq(
      ZW.VarSpec("x", Seq("x"), Seq(5), Seq(5), "<f8", (0 until 5).map(_.toDouble)),
      ZW.VarSpec("land", Seq("x"), Seq(5), Seq(2), "|b1", mask,
        compressor = Some("zlib"))))
    val rt2 = spark.read.format("zarr").load(d2).orderBy($"x").collect()
    assert(rt2.map(_.getAs[Double]("land")).toSeq == mask)
    val d3 = java.nio.file.Files.createTempDirectory("zarrbool3").toString + "/s.zarr"
    ZW.writeV3(d3, Seq(
      ZW.VarSpec("x", Seq("x"), Seq(5), Seq(5), "<f8", (0 until 5).map(_.toDouble)),
      ZW.VarSpec("land", Seq("x"), Seq(5), Seq(2), "|b1", mask,
        compressor = Some("gzip"))))
    val rt3 = spark.read.format("zarr").load(d3).orderBy($"x").collect()
    assert(rt3.map(_.getAs[Double]("land")).toSeq == mask)
  }

  test("zarr v3 crc32c data-chunk codec: verified on read, corruption is a directed error") {
    val vals = (0 until 10).map(i => i * 1.5)
    def store(comp: Option[String], shard: Option[Seq[Int]]): String = {
      val dir = java.nio.file.Files.createTempDirectory("zarr3crc").toString + "/s.zarr"
      ZW.writeV3(dir, Seq(
        ZW.VarSpec("x", Seq("x"), Seq(10), Seq(10), "<f8",
          (0 until 10).map(_.toDouble)),
        ZW.VarSpec("v", Seq("x"), Seq(10), Seq(4), "<f8", vals,
          compressor = comp, shard = shard, crc32c = true)))
      dir
    }
    for ((comp, shard) <- Seq((None, None), (Some("gzip"), None),
        (None, Some(Seq(8))))) {
      val dir = store(comp, shard)
      val rt = spark.read.format("zarr").load(dir).orderBy($"x").collect()
      assert(rt.map(_.getAs[Double]("v")).toSeq == vals,
        s"comp=$comp shard=$shard")
    }
    // flip one payload byte: the crc must catch it loudly, not decode junk
    val dir = store(None, None)
    val chunk0 = new java.io.File(dir, "v/c/0")
    val bytes = java.nio.file.Files.readAllBytes(chunk0.toPath)
    bytes(3) = (bytes(3) ^ 0x40).toByte
    java.nio.file.Files.write(chunk0.toPath, bytes)
    val e = intercept[Exception] {
      spark.read.format("zarr").load(dir).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("crc32c mismatch"), msgs)
  }

  test("randomized round-trips: shapes x chunks x dtypes x compressors (fixed seed)") {
    // deterministic fuzz over the writer->reader surface: random shapes
    // with NON-dividing chunks (edge padding on every axis), every
    // numeric dtype the writer supports, strings, all compressors, v2+v3
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 6) {
      val rank = 1 + rnd.nextInt(3)
      val shape = Seq.fill(rank)(2 + rnd.nextInt(6))
      val chunks = shape.map(s => 1 + rnd.nextInt(s))
      val n = shape.product
      val dims = (0 until rank).map(i => s"d$i")
      val comp = Seq(None, Some("zlib"), Some("zstd"), Some("blosc"))(rnd.nextInt(4))
      val dtype = Seq("<f8", "<f4", "<i4", "<i2")(rnd.nextInt(4))
      val vals = Seq.tabulate(n)(i => (i * 7 % 1000).toDouble)
      val words = Seq.tabulate(n)(i => s"w$i${"x" * (i % 5)}")
      val coordVars = dims.zipWithIndex.map { case (d, i) =>
        ZW.VarSpec(d, Seq(d), Seq(shape(i)), Seq(shape(i)), "<f8",
          (0 until shape(i)).map(_.toDouble))
      }
      val dir = java.nio.file.Files.createTempDirectory(s"zfuzz$trial").toString + "/s.zarr"
      ZW.write(dir, coordVars ++ Seq(
        ZW.VarSpec("v", dims, shape, chunks, dtype, vals, compressor = comp),
        ZW.VarSpec("s", dims, shape, chunks, "|O", Nil, sdata = words,
          compressor = comp)))
      val back = spark.read.format("zarr").load(dir)
        .orderBy(dims.map(col): _*).collect()
      assert(back.length == n, s"trial $trial: ${back.length} != $n")
      assert(back.map(_.getAs[Double]("v")).toSeq == vals,
        s"trial $trial v2 $dtype $comp shape=$shape chunks=$chunks")
      assert(back.map(_.getAs[String]("s")).toSeq == words,
        s"trial $trial v2 strings $comp")

      // v3 counterpart (writer dtype surface: f8/f4/i4/i2 + strings;
      // compressor surface: gzip/zstd/blosc/none)
      val comp3 = Seq(None, Some("gzip"), Some("zstd"), Some("blosc"))(rnd.nextInt(4))
      val dir3 = java.nio.file.Files.createTempDirectory(s"zfuzz3$trial").toString + "/s.zarr"
      ZW.writeV3(dir3, coordVars ++ Seq(
        ZW.VarSpec("v", dims, shape, chunks, dtype, vals, compressor = comp3,
          crc32c = rnd.nextBoolean()),
        ZW.VarSpec("s", dims, shape, chunks, "|O", Nil, sdata = words,
          compressor = comp3)))
      val back3 = spark.read.format("zarr").load(dir3)
        .orderBy(dims.map(col): _*).collect()
      assert(back3.map(_.getAs[Double]("v")).toSeq == vals,
        s"trial $trial v3 $dtype $comp3 shape=$shape chunks=$chunks")
      assert(back3.map(_.getAs[String]("s")).toSeq == words,
        s"trial $trial v3 strings $comp3")
    }
  }

  test("mover extract pipeline runs natively on the zarr hypercube") {
    val out = graft.operators.Mover.extractRows(ds, s"file://$store",
      graft.operators.Mover.Options(variables = Seq("t2m"),
        area = Some(graft.operators.Mover.Area(north = 0, west = 100, south = -10, east = 120)),
        importTime = Some("2026-01-01 00:00:00"),
        latRes = Some(2.5), lonRes = Some(5.0)))
    assert(out.count() == nt * 3 * 3)
    val r = out.orderBy($"time", $"latitude", $"longitude").head()
    assert(r.getAs[String]("geo_point").contains("\"coordinates\": [100.0, -10.0]"))
    assert(!out.columns.contains("cape")) // variable projection applied
  }

  test("datetime64 time axes (<M8[ns]) decode as timestamps, NaT as null") {
    // pandas/zarr-python direct writes carry no CF units attr — the epoch
    // encoding lives in the dtype itself; NaT (Long.MinValue) must null
    val dir = java.nio.file.Files.createTempDirectory("zarrm8").toString
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = java.nio.file.Paths.get(dir, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
    putS("time/.zarray",
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<M8[ns]",
        | "compressor": null, "filters": null, "fill_value": null,
        | "order": "C"}""".stripMargin)
    putS("time/.zattrs", """{"_ARRAY_DIMENSIONS": ["time"]}""")
    val tb = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tb.putLong(1700000000L * 1000000000L)       // 2023-11-14 22:13:20
    tb.putLong(Long.MinValue)                    // NaT
    tb.putLong(1700000000L * 1000000000L + 1500000000L) // +1.5 s
    put("time/0", tb.array())
    putS("v/.zarray",
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<f8",
        | "compressor": null, "filters": null, "fill_value": null,
        | "order": "C"}""".stripMargin)
    putS("v/.zattrs", """{"_ARRAY_DIMENSIONS": ["time"]}""")
    val vb = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 2.0, 3.0).foreach(vb.putDouble)
    put("v/0", vb.array())
    val df = spark.read.format("zarr").load(dir)
      .orderBy($"v").select($"time", $"v")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[java.time.LocalDateTime]("time") ==
      java.time.LocalDateTime.of(2023, 11, 14, 22, 13, 20))
    assert(rows(1).isNullAt(0)) // NaT
    assert(rows(2).getAs[java.time.LocalDateTime]("time") ==
      java.time.LocalDateTime.of(2023, 11, 14, 22, 13, 21, 500000000))

    // numpy 'm' means MINUTES in a dtype bracket (meters in a CF units
    // attr — the general parser must never learn it); M8[m] decodes too
    val dir2 = java.nio.file.Files.createTempDirectory("zarrm8m").toString
    def put2(rel: String, bytes: Array[Byte]): Unit = {
      val p = java.nio.file.Paths.get(dir2, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    put2("time/.zarray",
      """{"zarr_format": 2, "shape": [1], "chunks": [1], "dtype": "<M8[m]",
        | "compressor": null, "filters": null, "fill_value": null,
        | "order": "C"}""".stripMargin.getBytes("UTF-8"))
    put2("time/.zattrs", """{"_ARRAY_DIMENSIONS": ["time"]}""".getBytes("UTF-8"))
    val mb = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    mb.putLong(28333333L) // minutes since epoch -> 2023-11-14 22:13:00
    put2("time/0", mb.array())
    put2("v/.zarray",
      """{"zarr_format": 2, "shape": [1], "chunks": [1], "dtype": "<f8",
        | "compressor": null, "filters": null, "fill_value": null,
        | "order": "C"}""".stripMargin.getBytes("UTF-8"))
    put2("v/.zattrs", """{"_ARRAY_DIMENSIONS": ["time"]}""".getBytes("UTF-8"))
    val vb2 = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vb2.putDouble(9.0)
    put2("v/0", vb2.array())
    val r2 = spark.read.format("zarr").load(dir2).select($"time").head()
    assert(r2.getAs[java.time.LocalDateTime]("time") ==
      java.time.LocalDateTime.of(2023, 11, 14, 22, 13, 0))
  }

  test("auxiliary coordinate variables (curvilinear 2-D lat/lon) become columns") {
    // the ROMS/WRF layout: dims are grid indices [time, y, x]; latitude and
    // longitude are 2-D arrays over [y, x] — CF auxiliary coordinates
    val dir = java.nio.file.Files.createTempDirectory("zarrcurv").toString + "/c.zarr"
    val (nt2, ny2, nx2) = (2, 3, 4)
    def plane(f: (Int, Int) => Double): Seq[Double] =
      for (y <- 0 until ny2; x <- 0 until nx2) yield f(y, x)
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt2; y <- 0 until ny2; x <- 0 until nx2) yield f(t, y, x)
    ZW.write(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt2), Seq(1), "<f8",
        (0 until nt2).map(t => 3600.0 * t),
        units = Some("seconds since 1970-01-01")),
      ZW.VarSpec("y", Seq("y"), Seq(ny2), Seq(3), "<f8",
        (0 until ny2).map(_.toDouble)),
      ZW.VarSpec("x", Seq("x"), Seq(nx2), Seq(4), "<f8",
        (0 until nx2).map(_.toDouble)),
      // curvilinear: lat depends on BOTH y and x (sheared grid)
      ZW.VarSpec("latitude", Seq("y", "x"), Seq(ny2, nx2), Seq(2, 2), "<f8",
        plane((y, x) => 40.0 + y + 0.1 * x), compressor = Some("zlib")),
      ZW.VarSpec("longitude", Seq("y", "x"), Seq(ny2, nx2), Seq(2, 2), "<f8",
        plane((y, x) => -100.0 + x + 0.2 * y)),
      ZW.VarSpec("sst", Seq("time", "y", "x"), Seq(nt2, ny2, nx2),
        Seq(1, 2, 2), data = cube((t, y, x) => 10.0 * t + y + 0.01 * x))))
    val df = spark.read.format("zarr").load(dir)
    assert(df.columns.toSeq == Seq("time", "y", "x", "sst", "latitude", "longitude"))
    assert(df.count() == nt2 * ny2 * nx2)
    // every row's aux values match the generating functions of ITS (y, x)
    val bad = df.where(
      abs($"latitude" - (lit(40.0) + $"y" + $"x" * 0.1)) > 1e-9 or
      abs($"longitude" - (lit(-100.0) + $"x" + $"y" * 0.2)) > 1e-9 or
      abs($"sst" - (unix_timestamp($"time") / 3600 * 10.0 + $"y" + $"x" * 0.01)) > 1e-9)
    assert(bad.count() == 0)
    // pushdown on the index dims still prunes, and aux columns stay correct
    // in edge partitions
    val sel = df.where($"y" >= 1 && $"x" >= 2)
    assert(sel.count() == nt2 * 2 * 2)
    assert(sel.where(abs($"latitude" - (lit(40.0) + $"y" + $"x" * 0.1)) > 1e-9).count() == 0)
    // aux columns prune away when not selected
    assert(df.select("time", "sst").columns.toSeq == Seq("time", "sst"))
  }

  test("an absent chunk reads its fill value decoded like a stored cell") {
    // zarr-python omits chunks that hold only the fill value, so an absent
    // chunk must read exactly as a stored all-fill chunk does: masked,
    // then scaled
    val dir = java.nio.file.Files.createTempDirectory("zarrfill").toString + "/s.zarr"
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
    }
    def putS(rel: String, s: String): Unit = put(rel, s.getBytes("UTF-8"))
    putS("x/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null, "order": "C"}""".stripMargin)
    putS("x/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"]}""")
    val xb = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 4).foreach(i => xb.putDouble(i.toDouble))
    put("x/0", xb.array())
    def i2(vals: Short*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(2 * vals.size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(v => b.putShort(v))
      b.array()
    }
    // packed, no _FillValue: the v2 fill_value 0 masks, as xarray's Zarr
    // backend makes it the _FillValue
    putS("v/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [2], "dtype": "<i2",
        | "compressor": null, "fill_value": 0, "filters": null, "order": "C"}""".stripMargin)
    putS("v/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["x"], "scale_factor": 0.5, "add_offset": 100}""")
    put("v/0", i2(0, 0)) // v/1 absent
    // the fill is the missing value: the absent chunk reads as nulls
    putS("w/.zarray",
      """{"zarr_format": 2, "shape": [4], "chunks": [2], "dtype": "<i2",
        | "compressor": null, "fill_value": -1, "filters": null, "order": "C"}""".stripMargin)
    putS("w/.zattrs", """{"_ARRAY_DIMENSIONS": ["x"], "missing_value": -1}""")
    put("w/0", i2(-1, 3)) // w/1 absent
    val rows = spark.read.format("zarr").load(dir).orderBy($"x").collect()
    assert(rows.map(r => Option(r.getAs[java.lang.Double]("v"))).toSeq == Seq(None, None, None, None))
    assert(rows.map(r => Option(r.getAs[java.lang.Double]("w")).map(_.doubleValue)).toSeq ==
      Seq(None, Some(3.0), None, None))
    val conf = new org.apache.hadoop.conf.Configuration()
    val v = graft.sources.zarr.ZarrMeta.open(conf, dir).dataVars.find(_.name == "v").get
    // bit for bit: both chunks now read NaN, which == never equals
    assert(graft.sources.zarr.ZarrMeta.readChunk(conf, dir, v, Seq(1)).toSeq
      .map(java.lang.Double.doubleToLongBits) ==
      graft.sources.zarr.ZarrMeta.readChunk(conf, dir, v, Seq(0)).toSeq
      .map(java.lang.Double.doubleToLongBits))
  }

  test("every decoded dtype reads its hand-computed values in both byte orders") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.zarr.ZarrMeta
    val nan = Double.NaN
    // (dtype code, element width, writer of the raw elements, scale_factor,
    // add_offset, missing_value, expected decoded cells, further attributes)
    final case class Case(code: String, width: Int, raw: ByteBuffer => Unit,
        sf: Option[Double], ao: Option[Double], mv: Option[Double], want: Seq[Double],
        attrs: Map[String, Any] = Map.empty)
    def longs(vs: Long*): ByteBuffer => Unit = b => vs.foreach(b.putLong)
    def ints(vs: Int*): ByteBuffer => Unit = b => vs.foreach(b.putInt)
    def shorts(vs: Int*): ByteBuffer => Unit = b => vs.foreach(v => b.putShort(v.toShort))
    def bytes(vs: Int*): ByteBuffer => Unit = b => vs.foreach(v => b.put(v.toByte))
    val cases = Seq(
      // no scale attributes: -0.0 * 1.0 + 0.0 reads as +0.0
      Case("f8", 8, b => Seq(1.5, -0.0, nan, -1e300).foreach(b.putDouble(_)), None, None, None,
        Seq(1.5, 0.0, nan, -1e300)),
      Case("f4", 4, b => Seq(0.25f, -0.0f, Float.NaN, -3.5f).foreach(b.putFloat(_)), None, None, None,
        Seq(0.25, 0.0, nan, -3.5)),
      // 1.0, smallest subnormal 2^-24, largest subnormal 1023 * 2^-24, -0.0,
      // largest normal, -inf, NaN
      Case("f2", 2, shorts(0x3c00, 0x0001, 0x03ff, 0x8000, 0x7bff, 0xfc00, 0x7e00), None, None, None,
        Seq(1.0, 5.9604644775390625e-8, 6.097555160522461e-5, 0.0, 65504.0,
          Double.NegativeInfinity, nan)),
      Case("i8", 8, longs(-5L, Long.MaxValue), None, None, None, Seq(-5.0, 9.223372036854775807e18)),
      Case("i4", 4, ints(Int.MinValue, 7), None, None, None, Seq(-2147483648.0, 7.0)),
      Case("i2", 2, shorts(-32768, 32767), None, None, None, Seq(-32768.0, 32767.0)),
      Case("i1", 1, bytes(-128, 127), None, None, None, Seq(-128.0, 127.0)),
      // the top bit: 2^64 - 1 and 2^63 read unsigned
      Case("u8", 8, longs(-1L, Long.MinValue, 5L), None, None, None,
        Seq(1.8446744073709552e19, 9.223372036854775808e18, 5.0)),
      Case("u4", 4, ints(-1, 3), None, None, None, Seq(4294967295.0, 3.0)),
      Case("u2", 2, shorts(0xffff, 3), None, None, None, Seq(65535.0, 3.0)),
      Case("u1", 1, bytes(0xff, 3), None, None, None, Seq(255.0, 3.0)),
      Case("b1", 1, bytes(0, 1, 2), None, None, None, Seq(0.0, 1.0, 1.0)),
      // NaT is Long.MinValue
      Case("M8[s]", 8, longs(1700000000L, Long.MinValue), None, None, None, Seq(1.7e9, nan)),
      Case("m8[s]", 8, longs(-60L, Long.MinValue), None, None, None, Seq(-60.0, nan)),
      // missing_value masks before scale and offset apply
      Case("i2", 2, shorts(-999, 4, 0), Some(0.5), Some(10.0), Some(-999.0), Seq(nan, 12.0, 10.0)),
      // numeric equality: missing_value 0 masks -0.0 too
      Case("f8", 8, b => Seq(-0.0, 0.0, 2.0).foreach(b.putDouble(_)), None, None, Some(0.0),
        Seq(nan, nan, 2.0)),
      // every value of a missing_value list masks
      Case("i2", 2, shorts(-9, -8, 4), Some(0.5), Some(10.0), None, Seq(nan, nan, 12.0),
        Map("missing_value" -> List(-9, -8))),
      // _FillValue and a different missing_value both mask
      Case("i2", 2, shorts(-1, -9, 0), None, None, Some(-9.0), Seq(nan, nan, 0.0),
        Map("_FillValue" -> -1.0)))
    val dir = java.nio.file.Files.createTempDirectory("zarrdtypes").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    for ((c, i) <- cases.zipWithIndex; (marker, order) <- Seq(
        "<" -> ByteOrder.LITTLE_ENDIAN, ">" -> ByteOrder.BIG_ENDIAN)) {
      val n = c.want.size
      val name = s"a$i${if (marker == "<") "le" else "be"}"
      val bb = ByteBuffer.allocate(n * c.width).order(order)
      c.raw(bb)
      assert(bb.position() == bb.capacity(), s"${c.code}: raw cells fill the chunk")
      val f = new java.io.File(dir, s"$name/0")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bb.array())
      val meta = ZarrMeta.ArrayMeta(name, Seq(n), Seq(n), marker + c.code, None, None,
        Seq("x"), graft.sources.CfDecode.of(Seq("scale_factor" -> c.sf, "add_offset" -> c.ao,
          "missing_value" -> c.mv).collect { case (k, Some(v)) => k -> v }.toMap ++ c.attrs), None)
      val got = ZarrMeta.readChunk(conf, dir, meta, Seq(0))
      assert(got.toSeq.map(java.lang.Double.doubleToLongBits) ==
        c.want.map(java.lang.Double.doubleToLongBits),
        s"$marker${c.code}: ${got.toSeq} != ${c.want}")
    }
  }

  test("zarr rows match a C-order walk over readChunk across grids, windows and types") {
    import graft.sources.zarr.ZarrMeta
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // 5 x 7 x 9 with edge chunks on every axis; latitude descends; the
    // 360_day axis holds day 59 = Feb 30, which Gregorian cannot represent
    val (nt3, ny3, nx3) = (5, 7, 9)
    val dir = java.nio.file.Files.createTempDirectory("zarrparity").toString + "/p.zarr"
    def cube(f: (Int, Int, Int) => Double): Seq[Double] =
      for (t <- 0 until nt3; y <- 0 until ny3; x <- 0 until nx3) yield f(t, y, x)
    ZW.write(dir, Seq(
      ZW.VarSpec("time", Seq("time"), Seq(nt3), Seq(2), "<f8", (57 until 57 + nt3).map(_.toDouble),
        units = Some("days since 2000-01-01"), calendar = Some("360_day")),
      ZW.VarSpec("latitude", Seq("latitude"), Seq(ny3), Seq(3), "<f8",
        (0 until ny3).map(y => 30.0 - 10.0 * y)),
      ZW.VarSpec("longitude", Seq("longitude"), Seq(nx3), Seq(4), "<f8",
        (0 until nx3).map(x => 10.0 * x)),
      // the partition grid: packed int16 with missing_value cells
      ZW.VarSpec("a", Seq("time", "latitude", "longitude"), Seq(nt3, ny3, nx3), Seq(2, 3, 4),
        "<i2", cube((t, y, x) => if ((t + 2 * y + x) % 5 == 0) -999 else 100 * t + 10 * y + x),
        compressor = Some("zlib"), scaleFactor = Some(0.25), addOffset = Some(-3.0),
        missingValue = Some(-999)),
      // another chunk grid, NaN cells
      ZW.VarSpec("b", Seq("time", "latitude", "longitude"), Seq(nt3, ny3, nx3), Seq(3, 2, 5),
        "<f8", cube((t, y, x) => if ((t * y + x) % 4 == 1) Double.NaN else 1000.0 * t + 10 * y + 0.5 * x)),
      ZW.VarSpec("c", Seq("time", "latitude", "longitude"), Seq(nt3, ny3, nx3), Seq(2, 3, 4),
        "|O", Nil, sdata = for (t <- 0 until nt3; y <- 0 until ny3; x <- 0 until nx3)
          yield if (x == y) "" else s"c$t.$y.$x", compressor = Some("zlib")),
      // auxiliary: a 2-D field over (latitude, longitude) on its own grid
      ZW.VarSpec("elev", Seq("latitude", "longitude"), Seq(ny3, nx3), Seq(2, 3), "<f4",
        for (y <- 0 until ny3; x <- 0 until nx3) yield 1.5 * y - 0.25 * x)))
    val conf = new org.apache.hadoop.conf.Configuration()
    val st = ZarrMeta.open(conf, dir)
    assert(st.dataVars.map(_.name) == Seq("a", "b", "c") && st.auxVars.map(_.name) == Seq("elev"))
    assert(st.coords("time")(2).isNaN)
    val cols = st.dims ++ Seq("a", "b", "c", "elev")
    val metas = (st.dataVars ++ st.auxVars).map(m => m.name -> m).toMap
    val chunkCache = scala.collection.mutable.Map[(String, Seq[Int]), AnyRef]()
    def cell(col: String, g: Seq[Int]): Any = st.dims.indexOf(col) match {
      case d if d >= 0 =>
        val c = st.coords(col)(g(d))
        if (st.coordMeta(col).epochSecondsTime) graft.sources.CfTime.timestamp(c) else c
      case _ =>
        val v = metas(col)
        val vg = v.dims.map(d => g(st.dims.indexOf(d)))
        val idx = vg.zip(v.chunks).map { case (i, c) => i / c }
        val li = vg.zip(v.chunks).foldLeft(0) { case (acc, (i, c)) => acc * c + i % c }
        chunkCache.getOrElseUpdate((col, idx),
          if (ZarrMeta.isStringMeta(v)) ZarrMeta.readChunkStrings(conf, dir, v, idx)
          else ZarrMeta.readChunk(conf, dir, v, idx)) match {
          case ds: Array[Double] => if (ds(li).isNaN) null else ds(li)
          case ss: Array[String] => ss(li)
        }
    }
    def product(ranges: Seq[Seq[Int]]): Seq[Seq[Int]] =
      ranges.foldLeft(Seq(Seq.empty[Int]))((acc, r) => for (a <- acc; i <- r) yield a :+ i)
    // partitions in C order over the head grid's chunks, each one's window
    // cells in C order
    def expected(lo: Seq[Int], hi: Seq[Int], select: Seq[String]): Seq[Seq[Any]] = {
      val grid = st.dataVars.head.chunks
      for {
        ci <- product(grid.indices.map(d => lo(d) / grid(d) to hi(d) / grid(d)))
        g <- product(grid.indices.map(d =>
          math.max(lo(d), ci(d) * grid(d)) to math.min(hi(d), (ci(d) + 1) * grid(d) - 1)))
      } yield select.map(cell(_, g))
    }
    def bits(row: Seq[Any]): Seq[Any] = row.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case o => o
    }
    def scanRows(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
      case s: QueryStageExec => scanRows(s.plan)
      case b: BatchScanExec => Seq(b.metrics("numOutputRows").value)
      case o => o.children.flatMap(scanRows)
    }
    val windows = Seq(
      (lit(true), Seq(0, 0, 0), Seq(nt3 - 1, ny3 - 1, nx3 - 1)),
      // latitude 20..-10 is indices 1..4 across the chunk edge at 3;
      // longitude 20..60 is indices 2..6 across the edge at 4
      ($"latitude" <= 20.0 && $"latitude" > -20.0 && $"longitude" >= 20.0 && $"longitude" < 70.0,
        Seq(0, 1, 2), Seq(nt3 - 1, 4, 6)),
      ($"latitude" === 0.0 && $"longitude".between(30.0, 50.0), Seq(0, 3, 3), Seq(nt3 - 1, 3, 5)))
    for ((pred, lo, hi) <- windows; select <- Seq(cols, Seq("elev", "c", "longitude", "b"))) {
      val df = spark.read.format("zarr").load(dir).where(pred).select(select.map(col): _*)
      val got = df.collect().map(r => bits(r.toSeq)).toSeq
      val want = expected(lo, hi, select).map(bits)
      assert(got.size == want.size, s"$pred: rows")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"$pred ${select.mkString(",")}: row $i")
      }
      val cells = lo.indices.map(d => hi(d) - lo(d) + 1).product
      assert(scanRows(df.queryExecution.executedPlan) == Seq(cells.toLong), s"$pred: numOutputRows")
    }
  }
}
