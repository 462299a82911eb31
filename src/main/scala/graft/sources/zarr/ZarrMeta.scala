package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Inflater

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.CfDecode
import graft.sources.CfDecode.codeOf

/** Zarr v2 AND v3 store metadata + chunk IO (public specs: zarr-specs v2 and
  * v3; layouts as produced by xarray/zarr-python 2.x and 3.x — the
  * reference's storage format, weather_mv/test_data/test_data.zarr).
  *
  * Supported surface (v2): C-order little-endian arrays, dtypes
  * `<f8 <f4 <i8 <i4 <i2 <u1`, compressor `null`, `{"id": "zlib"}`,
  * `{"id": "zstd"}` (one frame per chunk — decoded by [[Zstd]]), or
  * `{"id": "blosc"}` with EVERY numcodecs cname — blosclz, lz4, snappy,
  * zlib, zstd (zarr-python 2.x's DEFAULT compressor — decoded by
  * [[Blosc]]), `filters` chains of numcodecs Delta / FixedScaleOffset /
  * Quantize / AsType (decoded in inverse list order, buffer re-typed per
  * stage), `.zattrs` conventions `_ARRAY_DIMENSIONS` (xarray), the CF mask and
  * scale attributes ([[graft.sources.CfDecode]], which also masks the v2
  * `fill_value`), and
  * `units: "seconds since 1970-01-01"` for epoch time coordinates.
  *
  * Supported surface (v3, sniffed by the root `zarr.json`): regular chunk
  * grid, `default` ("c/0/1") and `v2` chunk-key encodings with either
  * separator, `bytes` codec at both endians, `transpose` (F-order arrays),
  * `gzip`/`zstd` (zarr-python 3's DEFAULT compressor)/`blosc` (all five
  * cnames) compression,
  * `sharding_indexed` (read and write, bytes [+ crc32c] index codecs),
  * `dimension_names`, numeric/"NaN" fill values, inline
  * `consolidated_metadata` (zarr-python 3's successor to `.zmetadata`),
  * and the same CDL attribute conventions.
  *
  * Write side: the one renderer of v2/v3 array, group and consolidated
  * metadata (`render*`), the one chunk encoder ([[encodeChunk]]) and the
  * shard packer ([[packShard]], beside its reader) that [[ZarrWriter]],
  * [[ZarrDistributedWriter]] and [[Kerchunk]] share.
  */
object ZarrMeta {

  final case class ArrayMeta(
      name: String,
      shape: Seq[Int],
      chunks: Seq[Int],
      dtype: String,
      compressor: Option[String],
      fillValue: Option[Double],
      dims: Seq[String],
      // the CF mask and scale, built once from the attributes
      cf: CfDecode,
      // CF time units ("<unit> since <datetime>", standard calendars):
      // parsed once so coord vectors convert to epoch seconds at load
      timeUnits: Option[graft.sources.CfTime.Units],
      // v3 chunk addressing: v2 keys are "0.1"; v3 default keys are
      // "c/0/1" (separator configurable); v3 may also elect v2-style keys
      v3DefaultKeys: Boolean = false,
      keySep: String = ".",
      // v3 sharding_indexed: `chunks` above is the INNER chunk shape (the
      // read/prune granularity); `shardChunks` is the outer shard shape in
      // elements; inner chunks pack into one shard object with a binary
      // index at `shardIndexAtEnd` (true = trailing), crc32c-checked when
      // `shardIndexCrc`
      shardChunks: Option[Seq[Int]] = None,
      shardIndexAtEnd: Boolean = true,
      shardIndexCrc: Boolean = true,
      // v2 `filters`: a numcodecs filter chain (Delta, FixedScaleOffset,
      // Quantize, AsType) applied between decompression and dtype decode,
      // inverse order on read, exactly as numcodecs composes them; any
      // unrecognized filter raises a directed error at parse time
      filters: Seq[V2Filter] = Nil,
      // v3 `transpose` codec: the stored chunk is laid out C-order over the
      // PERMUTED chunk shape (zarr-python emits this for F-order arrays);
      // decode inverts the permutation back to C-order over `chunks`
      transposeOrder: Option[Seq[Int]] = None,
      // v3 `crc32c` bytes→bytes codec on DATA chunks (must be the last
      // codec): each stored chunk carries a trailing 4-byte little-endian
      // CRC-32C, verified and stripped before decompression
      v3DataCrc32c: Boolean = false,
      // kerchunk-style reference store: chunk keys resolve to byte extents
      // of OTHER files (or inline bytes) instead of store-relative paths —
      // the fsspec ReferenceFileSystem model that virtualizes native
      // netCDF/HDF5 archives as zarr without rewriting them. Pruned to the
      // partition's own chunk window at planning time (see
      // [[prunedToWindow]]), so task closures never ship a whole index.
      refs: Option[Map[String, RefLoc]] = None,
      // compressor id "grib": the chunk bytes are a WHOLE GRIB message
      // (either edition); this selects the field to decode — the cfgrib
      // identity (shortName, typeOfLevel, level height, stepType),
      // constant per array while packing parameters vary per message
      // (see grib.GribChunkCodec)
      gribSelect: Option[(String, String, Double, String)] = None,
      // compressor id "grib" with "coord": the chunk bytes are a WHOLE
      // GRIB message and the decoded buffer is the 2-D latitude or
      // longitude FIELD of its grid (projected/curvilinear grids have no
      // separable lat/lon axes; the message's own grid definition computes
      // them) — the kerchunk grib convention's synthesized coordinates
      gribCoord: Option[String] = None) {
    def epochSecondsTime: Boolean = timeUnits.isDefined

    def chunkGrid: Seq[Int] = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    def chunkKey(chunkIdx: Seq[Int]): String =
      if (v3DefaultKeys) ("c" +: chunkIdx.map(_.toString)).mkString(keySep)
      else chunkIdx.mkString(keySep)
    /** Inner chunks per shard, per dim (sharded arrays only). */
    def innerPerShard: Seq[Int] =
      shardChunks.get.zip(chunks).map { case (o, c) => (o + c - 1) / c }
    /** The dtype the COMPRESSOR sees: each filter's encode re-types the
      * buffer (Delta/FixedScaleOffset/Quantize to `astype`, AsType to
      * `encode_dtype`), so the stored chunk's element width is the LAST
      * filter's output, not the array dtype. */
    /** Copy with `refs` narrowed to the var-chunks intersecting the
      * GLOBAL cell window [lo, hi] (inclusive, per dim); identity for
      * non-reference arrays. Bounded by ceil(window/chunk) per dim. */
    def prunedToWindow(lo: Seq[Int], hi: Seq[Int]): ArrayMeta = refs match {
      case None => this
      case Some(m) =>
        val perDim: Seq[Seq[Int]] = chunks.indices.map { i =>
          (lo(i) / chunks(i)) to (hi(i) / chunks(i))
        }
        val keys = perDim.foldLeft(Seq(Seq.empty[Int])) { (acc, cs) =>
          for (t <- acc; c <- cs) yield t :+ c
        }.map(chunkKey)
        copy(refs = Some(keys.flatMap(k => m.get(k).map(k -> _)).toMap))
    }

    def encodedDtype: String = filters.foldLeft(dtype) {
      case (_, V2Filter.Delta(_, at)) => at
      case (_, V2Filter.FixedScaleOffset(_, _, _, at)) => at
      case (_, V2Filter.Quantize(_, at)) => at
      case (_, V2Filter.AsType(enc, _)) => enc
      case (dt, _: V2Filter.Shuffle) => dt // byte shuffle keeps the dtype
      case (dt, _: V2Filter.BitRound) => dt // lossy encode, same dtype
      case (_, V2Filter.VlenUtf8) => throw new UnsupportedOperationException(
        s"$name: vlen-utf8 produces a variable-length buffer — the fixed-width " +
          "numeric chunk path cannot size it (string arrays route through readChunkStrings)")
    }
  }

  /** One numcodecs v2 filter, as declared in `.zarray` `filters`. Field
    * names follow the numcodecs JSON configs (public source: numcodecs
    * delta.py / fixedscaleoffset.py / quantize.py / astype.py; the
    * reference reads these stores through numcodecs for free,
    * xql/src/xql/open.py:30-66). */
  sealed trait V2Filter
  object V2Filter {
    /** decode = cumulative sum: enc viewed as `astype`, accumulated in
      * `dtype` arithmetic (numcodecs: `np.cumsum(enc, out=empty(dtype))`). */
    final case class Delta(dtype: String, astype: String) extends V2Filter
    /** decode = `enc / scale + offset` then cast to `dtype`. */
    final case class FixedScaleOffset(offset: Double, scale: Double,
        dtype: String, astype: String) extends V2Filter
    /** Lossy on encode only; decode is a pure `astype` → `dtype` cast. */
    final case class Quantize(dtype: String, astype: String) extends V2Filter
    /** decode = view as `encodeDtype`, cast to `decodeDtype`. */
    final case class AsType(encodeDtype: String, decodeDtype: String) extends V2Filter
    /** numcodecs VLenUTF8 object codec (vlen.pyx): the object→bytes step
      * for `|O` string arrays — xarray's default string encoding. Layout:
      * u32-LE item count, then per item u32-LE byte length + UTF-8 payload.
      * numcodecs requires object codecs at `filters[0]`, so its decode runs
      * LAST; the actual bytes→strings decode lives in [[readChunkStrings]]
      * (the numeric chunk path can't hold strings). */
    case object VlenUtf8 extends V2Filter
    /** numcodecs Shuffle (byte shuffle, elementsize bytes/elem) — also the
      * decode of HDF5 filter 2, which kerchunk references map onto it. */
    final case class Shuffle(elementSize: Int) extends V2Filter
    /** numcodecs BitRound (bitround.py): mantissa bits beyond `keepbits`
      * are zeroed on ENCODE (lossy, improves compressibility); the stored
      * dtype is unchanged and decode is the identity. */
    final case class BitRound(keepBits: Int) extends V2Filter
  }

  /** One chunk's storage target in a reference store: a byte extent of
    * `uri` (`inline == null`), or inline bytes. */
  final case class RefLoc(uri: String, offset: Long, length: Long,
      inline: Array[Byte]) extends Serializable

  final case class Store(
      path: String,
      dims: Seq[String],                   // hypercube dimension order
      coords: Map[String, Array[Double]],  // decoded coordinate vectors
      coordMeta: Map[String, ArrayMeta],
      dataVars: Seq[ArrayMeta],
      // CF AUXILIARY coordinate variables: arrays whose dims are a proper
      // order-preserving subsequence of the store dims (curvilinear 2-D
      // lat/lon over [y, x], per-level pressure, cell bounds, ...) —
      // surfaced as extra value columns, indexed by the matching subset of
      // the row's cell cursor
      auxVars: Seq[ArrayMeta] = Nil)

  private implicit val formats: Formats = DefaultFormats

  private def readFile(conf: Configuration, path: String): Option[Array[Byte]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(out.toByteArray)
      } finally in.close()
    }
  }

  private def readJson(conf: Configuration, path: String): Option[JValue] =
    readFile(conf, path).map(b => JsonMethods.parse(new String(b, "UTF-8")))

  def readArrayMeta(conf: Configuration, store: String, name: String): ArrayMeta = {
    val za = readJson(conf, s"$store/$name/.zarray").getOrElse(
      throw new IllegalArgumentException(s"not a zarr array: $store/$name"))
    val attrs = readJson(conf, s"$store/$name/.zattrs").getOrElse(JObject())
    metaFromJson(name, za, attrs)
  }

  private def metaFromJson(name: String, za: JValue, attrs: JValue): ArrayMeta = {
    val compressor = (za \ "compressor") match {
      case JNull | JNothing => None
      case c => Some((c \ "id").extract[String])
    }
    val gribCoord =
      if (!compressor.contains("grib")) None
      else (za \ "compressor" \ "coord").extractOpt[String].map {
        case w @ ("latitude" | "longitude") => w
        case other => throw new UnsupportedOperationException(
          s"$name: grib coord '$other' (latitude or longitude)")
      }
    val gribSelect =
      if (!compressor.contains("grib") || gribCoord.isDefined) None
      else {
        val c = za \ "compressor"
        Some(((c \ "var").extract[String], (c \ "level_name").extract[String],
          (c \ "level").extract[Double], (c \ "step").extract[String]))
      }
    // `filters` apply between the compressor and the raw bytes; ignoring
    // one would decode WRONG values silently, so anything unrecognized is
    // a directed error, not a pass-through
    def parseFilter(f: JValue): V2Filter = {
      def dt = (f \ "dtype").extract[String]
      def at = (f \ "astype").extractOpt[String].getOrElse(dt)
      (f \ "id").extractOpt[String] match {
        case Some("delta") => V2Filter.Delta(dt, at)
        case Some("fixedscaleoffset") => V2Filter.FixedScaleOffset(
          (f \ "offset").extract[Double], (f \ "scale").extract[Double], dt, at)
        case Some("quantize") => V2Filter.Quantize(dt, at)
        case Some("astype") => V2Filter.AsType(
          (f \ "encode_dtype").extract[String], (f \ "decode_dtype").extract[String])
        case Some("vlen-utf8") => V2Filter.VlenUtf8
        case Some("shuffle") => V2Filter.Shuffle(
          (f \ "elementsize").extract[Int])
        case Some("bitround") => V2Filter.BitRound(
          (f \ "keepbits").extract[Int])
        case other => throw new UnsupportedOperationException(
          s"zarr v2 filter ${JsonMethods.compact(JsonMethods.render(f))} " +
            s"(id $other) — supported numcodecs filters: delta, " +
            "fixedscaleoffset, quantize, bitround, astype, shuffle, vlen-utf8")
      }
    }
    val filters = (za \ "filters") match {
      case JNull | JNothing | JArray(Nil) => Nil
      case JArray(fs) => fs.map(parseFilter)
      case other => throw new UnsupportedOperationException(
        s"zarr v2 filters ${JsonMethods.compact(JsonMethods.render(other))} " +
          "is not a filter list")
    }
    val units = (attrs \ "units").extractOpt[String].getOrElse("")
    // Zarr v2 encodes non-finite float fills as the JSON STRINGS "NaN" /
    // "Infinity" / "-Infinity" — handle those before the numeric case.
    // String arrays (|O / |S / |U) carry STRING fills (zarr-python 3
    // writes "" for v2 string arrays) — never a number
    val fill = (za \ "fill_value") match {
      case _ if {
        val dt = (za \ "dtype").extract[String]
        dt == "|O" || isStringDtype(dt)
      } => None
      case JString(s) => Some(java.lang.Double.parseDouble(s))
      case JNull | JNothing => None
      case v => v.extractOpt[Double]
    }
    ArrayMeta(
      name = name,
      shape = (za \ "shape").extract[Seq[Int]],
      chunks = (za \ "chunks").extract[Seq[Int]],
      dtype = (za \ "dtype").extract[String],
      compressor = compressor,
      fillValue = fill,
      dims = (attrs \ "_ARRAY_DIMENSIONS").extractOpt[Seq[String]].getOrElse(Nil),
      cf = CfDecode.of(attrMap(attrs), fill),
      // numpy datetime64 ("<M8[ns]") carries its epoch encoding in the
      // dtype itself (pandas/zarr-python direct writes, no CF attrs):
      // synthesize the equivalent CF units; explicit units attrs win.
      // Numpy codes translate to CF names HERE — 'm' means minutes in a
      // dtype bracket but meters in a CF units attr, so the general map
      // must never learn it; variable-length Y/M stay numeric.
      timeUnits = graft.sources.CfTime.parse(Some(units).filter(_.nonEmpty),
        (attrs \ "calendar").extractOpt[String]).orElse {
        val code = (za \ "dtype").extract[String]
          .dropWhile(c => c == '<' || c == '>' || c == '|' || c == '=')
        if (code.startsWith("M8[") && code.endsWith("]"))
          Map("ns" -> "nanoseconds", "us" -> "microseconds",
            "ms" -> "milliseconds", "s" -> "seconds", "m" -> "minutes",
            "h" -> "hours", "D" -> "days", "W" -> "weeks")
            .get(code.stripPrefix("M8[").stripSuffix("]"))
            .flatMap(u => graft.sources.CfTime.parse(
              Some(s"$u since 1970-01-01"), None))
        else None
      },
      // v2 optional dimension_separator: "/" nests chunk files in
      // directories (the cloud-store layout that keeps listings small);
      // ignoring it would read every chunk as absent → silent all-fill
      keySep = (za \ "dimension_separator").extractOpt[String].getOrElse("."),
      filters = filters,
      gribSelect = gribSelect,
      gribCoord = gribCoord,
      // v2 "order": "F" = column-major chunks, i.e. C-order over the
      // REVERSED index order — routed through the same inverse the v3
      // transpose codec uses; ignoring it would transpose values silently
      transposeOrder = (za \ "order").extractOpt[String].getOrElse("C") match {
        case "C" => None
        case "F" =>
          val k = (za \ "chunks").extract[Seq[Int]].size
          if (k > 1) Some((k - 1) to 0 by -1) else None
        case other => throw new UnsupportedOperationException(
          s"zarr v2 array $name: order '$other' (C or F)")
      })
  }

  /** Parse a v3 array `zarr.json` into the common ArrayMeta. */
  private def metaFromJsonV3(name: String, j: JValue): ArrayMeta = {
    require((j \ "node_type").extractOpt[String].contains("array"),
      s"$name/zarr.json is not an array node")
    var endian = "little"
    var comp: Option[String] = None
    var innerChunks: Option[Seq[Int]] = None
    var indexAtEnd = true
    var indexCrc = false
    var transpose: Option[Seq[Int]] = None
    var vlenUtf8 = false
    var dataCrc = false
    def applyCodecs(codecs: Seq[JValue], inShard: Boolean = false): Unit =
      codecs.zipWithIndex.foreach { case (c, ci) =>
      (c \ "name").extract[String] match {
        // bytes→bytes checksum: verified+stripped before any other decode,
        // so it must be the LAST codec in its chain; a crc over whole SHARD
        // objects would defeat ranged entry reads — put it in the inner
        // chunk codecs instead
        case "crc32c" =>
          require(ci == codecs.size - 1,
            s"zarr v3 crc32c codec on $name must be the last codec in the chain")
          require(inShard || innerChunks.isEmpty,
            s"zarr v3 crc32c over whole shard objects on $name unsupported " +
              "(declare it inside the sharding_indexed inner codecs)")
          dataCrc = true
        case "bytes" => endian =
          (c \ "configuration" \ "endian").extractOpt[String].getOrElse("little")
        // array→bytes codec for variable-length strings (zarr-python 3's
        // `string` data type); replaces `bytes` in the chain
        case "vlen-utf8" => vlenUtf8 = true
        case "transpose" =>
          val order = (c \ "configuration" \ "order").extract[Seq[Int]]
          require(order.sorted == order.indices.toList,
            s"zarr v3 transpose order $order on $name is not a permutation")
          // identity permutations are a no-op; don't pay the rearrange
          if (order != order.indices.toList) transpose = Some(order)
        case "gzip" => comp = Some("gzip")
        case "zlib" => comp = Some("zlib")
        case "zstd" => comp = Some("zstd")
        case "blosc" => comp = Some("blosc")
        case "sharding_indexed" =>
          val cfg = c \ "configuration"
          innerChunks = Some((cfg \ "chunk_shape").extract[Seq[Int]])
          indexAtEnd =
            (cfg \ "index_location").extractOpt[String].forall(_ == "end")
          val idxNames = (cfg \ "index_codecs").extract[Seq[JValue]]
            .map(ic => (ic \ "name").extract[String])
          require(idxNames.forall(n => n == "bytes" || n == "crc32c"),
            s"zarr v3 shard index codecs $idxNames on $name (bytes [+ crc32c] only)")
          indexCrc = idxNames.contains("crc32c")
          applyCodecs((cfg \ "codecs").extract[Seq[JValue]], inShard = true)
        case other => throw new UnsupportedOperationException(
          s"zarr v3 codec '$other' on $name (supported: bytes, vlen-utf8, " +
            "transpose, gzip, zstd, blosc, crc32c, sharding_indexed; rewrite " +
            "with zarr.copy_store to a supported-codec store)")
      }
    }
    applyCodecs((j \ "codecs").extract[Seq[JValue]])
    val dt = (j \ "data_type").extract[String] match {
      case "float64" => "f8"
      case "float32" => "f4"
      case "float16" => "f2"
      case "int64" => "i8"
      case "int32" => "i4"
      case "int16" => "i2"
      case "int8" => "i1"
      case "uint64" => "u8"
      case "uint32" => "u4"
      case "uint16" => "u2"
      case "uint8" => "u1"
      // variable-length strings: represented internally exactly like a v2
      // |O array with the numcodecs vlen-utf8 object codec (same buffer
      // layout on disk)
      case "string" => "O"
      case "bool" => "b1" // one byte per element, 0 = false
      case other => throw new UnsupportedOperationException(
        s"zarr v3 data_type '$other' on $name (supported: float64/32/16, " +
          "int64/32/16/8, uint64/32/16/8, bool, string)")
    }
    if (dt == "O") require(vlenUtf8,
      s"zarr v3 string array $name has no vlen-utf8 codec in its chain")
    else require(!vlenUtf8,
      s"zarr v3 numeric array $name declares a vlen-utf8 codec")
    val grid = j \ "chunk_grid"
    require((grid \ "name").extractOpt[String].forall(_ == "regular"),
      s"zarr v3 chunk grid '${(grid \ "name").extractOpt[String]}' (regular only)")
    val cke = j \ "chunk_key_encoding"
    val ckeName = (cke \ "name").extractOpt[String].getOrElse("default")
    val sep = (cke \ "configuration" \ "separator").extractOpt[String]
      .getOrElse(if (ckeName == "default") "/" else ".")
    val attrs = (j \ "attributes") match { case JNothing => JObject(); case a => a }
    val units = (attrs \ "units").extractOpt[String].getOrElse("")
    val gridChunks = (grid \ "configuration" \ "chunk_shape").extract[Seq[Int]]
    ArrayMeta(
      name = name,
      shape = (j \ "shape").extract[Seq[Int]],
      // sharded arrays: grid chunk = SHARD; read granularity = inner chunk
      chunks = innerChunks.getOrElse(gridChunks),
      dtype = if (dt == "O") "|O" else (if (endian == "big") ">" else "<") + dt,
      compressor = comp,
      // string arrays carry a STRING fill (usually "") — not a number
      fillValue = (j \ "fill_value") match {
        case _ if dt == "O" => None
        case JString(s) => Some(java.lang.Double.parseDouble(s))
        case JNull | JNothing => None
        case v => v.extractOpt[Double]
      },
      filters = if (dt == "O") Seq(V2Filter.VlenUtf8) else Nil,
      dims = (j \ "dimension_names").extractOpt[Seq[String]].getOrElse(Nil),
      // a v3 fill_value is mandatory, so xarray does not mask it
      cf = CfDecode.of(attrMap(attrs)),
      timeUnits = graft.sources.CfTime.parse(Some(units).filter(_.nonEmpty),
        (attrs \ "calendar").extractOpt[String]),
      v3DefaultKeys = ckeName == "default",
      keySep = sep,
      shardChunks = innerChunks.map(_ => gridChunks),
      shardIndexAtEnd = indexAtEnd,
      shardIndexCrc = indexCrc,
      transposeOrder = transpose,
      v3DataCrc32c = dataCrc)
  }

  private def attrMap(attrs: JValue): Map[String, Any] = attrs match {
    case o: JObject => o.values
    case _ => Map.empty
  }

  /** List array names (children with a .zarray) of a store directory. */
  def listArrays(conf: Configuration, store: String): Seq[String] = {
    val p = new Path(store)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => fs.exists(new Path(s"$store/$n/.zarray"))).toSeq.sorted
  }

  /** Array metas from consolidated metadata (`.zmetadata`,
    * zarr-python's `consolidate_metadata` / xarray `to_zarr(consolidated=
    * True)` — the reference's stores carry it): ONE metadata read instead
    * of a directory listing plus 2 reads per array, which is the difference
    * between O(1) and O(variables) round-trips on object storage. */
  private def consolidatedMetas(conf: Configuration,
      store: String): Option[Seq[ArrayMeta]] =
    readJson(conf, s"$store/.zmetadata").map { zm =>
      val entries = (zm \ "metadata") match {
        case JObject(fields) => fields.toMap
        case _ => throw new IllegalArgumentException(
          s"malformed .zmetadata (no metadata object) in $store")
      }
      entries.keys.collect {
        case k if k.endsWith("/.zarray") => k.stripSuffix("/.zarray")
      }.toSeq.sorted.map { name =>
        metaFromJson(name, entries(s"$name/.zarray"),
          entries.getOrElse(s"$name/.zattrs", JObject()))
      }
    }

  /** v3 array metas: the root `zarr.json`'s inline `consolidated_metadata`
    * when present (one read plans the store — zarr-python 3's successor to
    * `.zmetadata`), else one `zarr.json` read per child directory. */
  private def v3Metas(conf: Configuration, store: String,
      root: JValue): Seq[ArrayMeta] = {
    val consolidated = (root \ "consolidated_metadata" \ "metadata") match {
      case JObject(fields) =>
        Some(fields.collect {
          case (name, j) if (j \ "node_type").extractOpt[String].contains("array") =>
            metaFromJsonV3(name, j)
        }.sortBy(_.name))
      case _ => None
    }
    consolidated.getOrElse {
      val p = new Path(store)
      val fs = p.getFileSystem(conf)
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
        .flatMap(n => readJson(conf, s"$store/$n/zarr.json")
          .filter(j => (j \ "node_type").extractOpt[String].contains("array"))
          .map(j => metaFromJsonV3(n, j)))
    }
  }

  /** Open a store (v2 or v3, sniffed by the root `zarr.json`): data vars =
    * arrays spanning the maximal dim set; coordinates = 1-d arrays named
    * after a dimension. Consolidated metadata is preferred; absent that,
    * the store is listed. */
  /** Open a store DIRECTORY, or a kerchunk reference json when `path`
    * names a regular file. */
  def openAny(conf: Configuration, path: String): Store = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.getFileStatus(p).isFile) openRefs(conf, path)
    else open(conf, path)
  }

  def open(conf: Configuration, store: String): Store = {
    val metas = readJson(conf, s"$store/zarr.json") match {
      case Some(root) =>
        require((root \ "zarr_format").extractOpt[Int].contains(3),
          s"unexpected zarr_format in $store/zarr.json")
        v3Metas(conf, store, root)
      case None => consolidatedMetas(conf, store).getOrElse(
        listArrays(conf, store).map(n => readArrayMeta(conf, store, n)))
    }
    require(metas.nonEmpty, s"empty zarr store: $store")
    assemble(conf, store, metas)
  }

  private def assemble(conf: Configuration, store: String,
      metas: Seq[ArrayMeta]): Store = {
    // coordinate arrays (1-d, named after their own dim) are never data vars —
    // in a 1-D store they'd otherwise tie the max rank and duplicate a column
    val nonCoord = metas.filter(m => !(m.dims.size == 1 && m.dims.head == m.name))
    require(nonCoord.nonEmpty, s"zarr store has only coordinate arrays: $store")
    val dataVars = nonCoord.filter(m => m.dims.size == nonCoord.map(_.dims.size).max)
    val dims = dataVars.head.dims
    require(dataVars.forall(_.dims == dims),
      s"data variables disagree on dimensions: ${dataVars.map(m => m.name -> m.dims)}")
    // same dims must mean same shape — a malformed store violating this
    // would silently misindex under per-var chunk resolution
    require(dataVars.forall(_.shape == dataVars.head.shape),
      s"data variables disagree on shape: ${dataVars.map(m => m.name -> m.shape)}")
    val coordMeta = metas.filter(m => m.dims.size == 1 && dims.contains(m.name))
      .map(m => m.name -> m).toMap
    // CF time coords convert to epoch seconds HERE, once — pruning and
    // row building downstream stay plain epoch-second math
    val coords = coordMeta.map { case (n, m) =>
      n -> graft.sources.CfTime.convert(readWholeArray(conf, store, m), m.timeUnits)
    }
    // auxiliary coordinates: non-data arrays whose dims are an
    // order-preserving subsequence of the store dims with matching sizes
    // (a 2-D latitude[y, x] beside t2m[time, y, x]); anything else stays
    // out of the relational view, as before
    val dataNames = dataVars.map(_.name).toSet
    val dimSize = dims.zip(dataVars.head.shape).toMap
    val auxVars = nonCoord.filter { m =>
      !dataNames.contains(m.name) && !dims.contains(m.name) &&
        graft.sources.Dims.subsequenceIdx(m.dims, dims).isDefined &&
        m.dims.zip(m.shape).forall { case (d, s) => dimSize(d) == s }
    }
    Store(store, dims, coords, coordMeta, dataVars, auxVars)
  }

  /** Open a kerchunk-style reference store (fsspec ReferenceFileSystem
    * JSON, versions 0/1 without templates): `.zarray`/`.zattrs` keys carry
    * inline zarr v2 metadata, chunk keys `name/0.0` carry
    * `[uri, offset, length]` extents of native files (or inline strings,
    * `base64:`-prefixed for binary) — the public virtualization layer that
    * serves netCDF/HDF5 archives as zarr without rewriting bytes. Relative
    * target uris resolve against the refs file's directory. */
  /** The raw key -> value map of a reference json (version 0 or 1,
    * templates rejected) — shared by [[openRefs]] and `Kerchunk.combine`. */
  private[zarr] def rawRefs(conf: Configuration,
      refsPath: String): Map[String, JValue] = {
    val root = readJson(conf, refsPath).getOrElse(
      throw new IllegalArgumentException(s"cannot read refs json: $refsPath"))
    val refsObj = (root \ "refs") match {
      case JObject(fields) => fields
      case _ if (root \ "version").extractOpt[Int].isEmpty =>
        root match { // version 0: the whole document is the key map
          case JObject(fields) => fields
          case _ => throw new IllegalArgumentException(
            s"$refsPath is not a reference-store json")
        }
      case _ => throw new IllegalArgumentException(
        s"$refsPath: refs json without a refs object")
    }
    // `templates` are static named substitutions (kerchunk's
    // MultiZarrToZarr URL dedup) and expand right here; `gen` entries
    // (declared integer/value ranges over {{name}} placeholders) expand
    // below, so published third-party refs files load, not just
    // self-produced ones. Jinja beyond plain {{name}} substitution stays
    // a directed error.
    val templates: Map[String, String] = (root \ "templates") match {
      case JNothing | JNull => Map.empty
      case JObject(fs) => fs.map {
        case (k, JString(v)) => k -> v
        case (k, other) => throw new IllegalArgumentException(
          s"$refsPath: template '$k' is not a string: $other")
      }.toMap
      case other => throw new IllegalArgumentException(
        s"$refsPath: 'templates' is not an object: $other")
    }
    val pat = java.util.regex.Pattern.compile("""\{\{\s*([A-Za-z0-9_]+)\s*\}\}""")
    def subst(s: String, vars: Map[String, String]): String = {
      val m = pat.matcher(s)
      val sb = new StringBuilder
      while (m.find()) {
        val v = vars.getOrElse(m.group(1), throw new IllegalArgumentException(
          s"$refsPath: '{{${m.group(1)}}}' is not a declared template"))
        m.appendReplacement(sb.underlying,
          java.util.regex.Matcher.quoteReplacement(v))
      }
      m.appendTail(sb.underlying)
      val out = sb.toString
      if (out.contains("{{")) throw new IllegalArgumentException(
        s"$refsPath: jinja expression beyond {{name}} substitution in '$s'")
      out
    }
    // templates may reference each other one level deep; iterate to a
    // fixpoint (bounded — a cycle fails directed on the residual braces)
    var tv = templates
    var round = 0
    while (round < 4 && tv.values.exists(_.contains("{{"))) {
      tv = tv.map { case (k, v) =>
        k -> pat.matcher(v).replaceAll(mr =>
          java.util.regex.Matcher.quoteReplacement(
            tv.getOrElse(mr.group(1), mr.group(0))))
      }
      round += 1
    }
    tv.find(_._2.contains("{{")).foreach { case (k, v) =>
      throw new IllegalArgumentException(
        s"$refsPath: template '$k' does not expand statically: $v")
    }
    val expand: JValue => JValue =
      if (tv.isEmpty) identity
      else {
        case JArray(JString(uri) :: rest) =>
          JArray(JString(subst(uri, tv)) :: rest)
        case other => other // inline payloads are never templated
      }
    // `gen` (reference-spec v1): each entry is a key/url template over a
    // cartesian product of declared dimensions — start/stop/step ranges
    // or explicit value lists. Pure {{name}} substitution, statically
    // expanded; arithmetic jinja ({{(i+1)*1000}}) fails directed on the
    // residual braces inside subst. Generated keys never shadow explicit
    // refs (the store's own keys win).
    val genRefs: Seq[(String, JValue)] = (root \ "gen") match {
      case JNothing | JNull => Nil
      case JArray(entries) => entries.flatMap { e =>
        val keyT = (e \ "key").extractOpt[String].getOrElse(
          throw new IllegalArgumentException(
            s"$refsPath: gen entry without a key template"))
        val urlT = (e \ "url").extractOpt[String].getOrElse(
          throw new IllegalArgumentException(
            s"$refsPath: gen entry without a url template"))
        def numT(field: String): Option[String] = (e \ field) match {
          case JNothing | JNull => None
          case JString(s) => Some(s)
          case JInt(n) => Some(n.toString)
          case other => throw new IllegalArgumentException(
            s"$refsPath: gen $field is neither string nor integer: $other")
        }
        val offT = numT("offset")
        val lenT = numT("length")
        val dimVals: Seq[(String, Seq[String])] = (e \ "dimensions") match {
          case JObject(ds) => ds.map { case (n, spec) =>
            spec match {
              case JArray(vs) => n -> vs.map {
                case JString(s) => s
                case JInt(i) => i.toString
                case other => throw new IllegalArgumentException(
                  s"$refsPath: gen dimension '$n' value $other is neither " +
                    "string nor integer")
              }
              case o: JObject =>
                val start = (o \ "start").extractOpt[Long].getOrElse(0L)
                val stop = (o \ "stop").extractOpt[Long].getOrElse(
                  throw new IllegalArgumentException(
                    s"$refsPath: gen dimension '$n' range without stop"))
                val step = (o \ "step").extractOpt[Long].getOrElse(1L)
                require(step > 0,
                  s"$refsPath: gen dimension '$n' step $step must be > 0")
                // bound BEFORE materializing: one oversized range must not
                // OOM the driver on its way to the product guard
                val count =
                  if (stop > start) (stop - start + step - 1) / step else 0L
                require(count < 5000000L,
                  s"$refsPath: gen dimension '$n' expands to $count values, " +
                    "over the 5M-key materialization bound")
                n -> (start until stop by step).map(_.toString)
              case other => throw new IllegalArgumentException(
                s"$refsPath: gen dimension '$n' is neither a range object " +
                  s"nor a value list: $other")
            }
          }
          case other => throw new IllegalArgumentException(
            s"$refsPath: gen entry dimensions is not an object: $other")
        }
        val product = dimVals.map(_._2.size.toLong).product
        require(product < 5000000L,
          s"$refsPath: gen expansion of $product keys exceeds the " +
            "5M-key materialization bound")
        val combos = dimVals.foldLeft(Seq(Map.empty[String, String])) {
          case (acc, (n, vals)) =>
            acc.flatMap(m => vals.map(v => m + (n -> v)))
        }
        // gen placeholders allow integer arithmetic over the dimension
        // variables ({{(i + 1) * 1000}} is the reference-spec's own
        // example) beside plain {{name}} lookup; anything else (jinja
        // loops, filters, string ops) fails directed
        val genPat = java.util.regex.Pattern.compile("""\{\{(.*?)\}\}""")
        def genSubst(s: String, svars: Map[String, String],
            nvars: Map[String, Long]): String = {
          val m = genPat.matcher(s)
          val sb = new StringBuilder
          while (m.find()) {
            val body = m.group(1).trim
            val rep = svars.getOrElse(body,
              evalIntExpr(body, nvars).map(_.toString).getOrElse(
                throw new IllegalArgumentException(
                  s"$refsPath: gen expression '{{$body}}' is neither a " +
                    "declared name nor integer arithmetic over the " +
                    "entry's dimensions")))
            m.appendReplacement(sb.underlying,
              java.util.regex.Matcher.quoteReplacement(rep))
          }
          m.appendTail(sb.underlying)
          sb.toString
        }
        // numeric template vars hoisted once per entry; per combo only the
        // dim variables (always numeric-or-string) merge in
        val tvNum = tv.flatMap { case (k, v) => v.toLongOption.map(k -> _) }
        combos.map { vars =>
          val all = tv ++ vars
          val nvars = tvNum ++ vars.flatMap { case (k, v) =>
            v.toLongOption.map(k -> _)
          }
          val key = genSubst(keyT, all, nvars)
          val url = genSubst(urlT, all, nvars)
          (offT, lenT) match {
            case (Some(o), Some(l)) => key -> (JArray(List(JString(url),
              JInt(BigInt(genSubst(o, all, nvars))),
              JInt(BigInt(genSubst(l, all, nvars))))): JValue)
            case _ => key -> (JArray(List(JString(url))): JValue)
          }
        }
      }
      case other => throw new IllegalArgumentException(
        s"$refsPath: 'gen' is not an array: $other")
    }
    val explicit = refsObj.map { case (k, v) => k -> expand(v) }.toMap
    genRefs.filterNot(g => explicit.contains(g._1)).toMap ++ explicit
  }

  /** Integer arithmetic over named variables: `+ - * / %`, parens, unary
    * minus. Returns None on any syntax/name/type failure — the caller
    * owns the directed error. */
  private def evalIntExpr(s: String, vars: Map[String, Long]): Option[Long] = {
    var i = 0
    final class Bail extends RuntimeException
    def bail(): Nothing = throw new Bail
    def skip(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def expr(): Long = {
      var v = term()
      skip()
      while (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) {
        val op = s.charAt(i); i += 1
        val t = term()
        v = if (op == '+') v + t else v - t
        skip()
      }
      v
    }
    def term(): Long = {
      var v = factor()
      skip()
      while (i < s.length && "*/%".indexOf(s.charAt(i)) >= 0) {
        val op = s.charAt(i); i += 1
        val f = factor()
        if ((op == '/' || op == '%') && f == 0) bail()
        v = op match {
          case '*' => v * f
          case '/' => v / f
          case _ => v % f
        }
        skip()
      }
      v
    }
    def factor(): Long = {
      skip()
      if (i >= s.length) bail()
      val c = s.charAt(i)
      if (c == '(') {
        i += 1
        val v = expr()
        skip()
        if (i >= s.length || s.charAt(i) != ')') bail()
        i += 1
        v
      } else if (c == '-') { i += 1; -factor() }
      else if (c.isDigit) {
        val st = i
        while (i < s.length && s.charAt(i).isDigit) i += 1
        s.substring(st, i).toLong
      } else if (c.isLetter || c == '_') {
        val st = i
        while (i < s.length &&
          (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
        vars.getOrElse(s.substring(st, i), bail())
      } else bail()
    }
    try {
      val v = expr()
      skip()
      if (i == s.length) Some(v) else None
    } catch { case _: Bail | _: NumberFormatException => None }
  }

  /** Directory relative ref targets resolve against. */
  private[zarr] def refsBase(refsPath: String): String =
    Option(new Path(refsPath).getParent).map(_.toString).getOrElse("")

  private[zarr] def resolveRefTarget(base: String, uri: String): String =
    if (uri.contains(":/") || uri.startsWith("/") || base.isEmpty) uri
    else s"$base/$uri"

  def openRefs(conf: Configuration, refsPath: String): Store = {
    val byKey = rawRefs(conf, refsPath)
    val base = refsBase(refsPath)
    def resolve(uri: String): String = resolveRefTarget(base, uri)
    def inlineBytes(s: String): Array[Byte] =
      if (s.startsWith("base64:"))
        java.util.Base64.getDecoder.decode(s.drop(7))
      else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val arrayNames = byKey.keys.collect {
      case k if k.endsWith("/.zarray") => k.dropRight("/.zarray".length)
    }.toSeq.sorted
    require(arrayNames.nonEmpty, s"$refsPath declares no zarr arrays")
    def inlineJson(key: String): Option[JValue] = byKey.get(key).map {
      case JString(s) => JsonMethods.parse(s)
      case o => o // pre-parsed objects are tolerated
    }
    val metas = arrayNames.map { name =>
      val za = inlineJson(s"$name/.zarray").getOrElse(
        throw new IllegalArgumentException(s"$refsPath: $name/.zarray missing"))
      val attrs = inlineJson(s"$name/.zattrs").getOrElse(JObject())
      val m = metaFromJson(name, za, attrs)
      val chunkRefs: Map[String, RefLoc] = byKey.collect {
        case (k, v) if k.startsWith(name + "/") &&
            !k.endsWith(".zarray") && !k.endsWith(".zattrs") =>
          val key = k.drop(name.length + 1)
          v match {
            case JArray(JString(uri) :: rest) =>
              val (off, len) = rest match {
                case JInt(o) :: JInt(l) :: Nil => (o.toLong, l.toLong)
                case Nil => (0L, -1L) // whole file
                case _ => throw new IllegalArgumentException(
                  s"$refsPath: malformed ref for $k")
              }
              val full = resolve(uri)
              val length =
                if (len >= 0) len
                else new Path(full).getFileSystem(conf)
                  .getFileStatus(new Path(full)).getLen
              // chunk bytes materialize as one JVM array on read; a >2 GiB
              // extent (whole-file ref of a huge native file) must fail
              // directed here, not as NegativeArraySizeException later
              if (length > Int.MaxValue - 8)
                throw new UnsupportedOperationException(
                  s"$refsPath: ref $k spans $length bytes — chunk extents " +
                    "beyond 2 GiB cannot be buffered (re-chunk the source)")
              key -> RefLoc(full, off, length, null)
            case JString(s) => key -> RefLoc(null, 0L, 0L, inlineBytes(s))
            case _ => throw new IllegalArgumentException(
              s"$refsPath: malformed ref for $k")
          }
      }
      m.copy(refs = Some(chunkRefs))
    }
    assemble(conf, refsPath, metas)
  }

  /** Decompressed + defiltered bytes of one chunk; None = absent chunk. */
  private def chunkRaw(conf: Configuration, store: String, meta: ArrayMeta,
      chunkIdx: Seq[Int], encBytes: Int): Option[Array[Byte]] = {
    def decompress(raw0: Array[Byte]): Array[Byte] = {
    // crc32c is the outermost (last-applied) codec: verify + strip its
    // 4-byte little-endian trailer before any decompression
    val raw = if (meta.v3DataCrc32c) stripCrc32c(meta.name, raw0) else raw0
    meta.compressor match {
      case Some("zlib") => inflate(raw, encBytes)
      case Some("gzip") => gunzip(raw, encBytes)
      // whole chunk object = one zstd frame (numcodecs Zstd / v3 zstd codec)
      case Some("zstd") =>
        Zstd.decompress(raw, 0, raw.length, encBytes)
      // blosc chunks are self-describing (header carries codec/shuffle/
      // sizes), so one case covers every cname the codec supports
      case Some("blosc") => Blosc.decompress(raw)
      // GRIB virtualization: the chunk bytes are a whole GRIB message of
      // either edition; re-parse and decode the array's selected field
      // (Kerchunk.scanGrib)
      case Some("grib") => meta.gribCoord match {
        case Some(which) =>
          graft.sources.grib.GribChunkCodec.decodeCoord(raw, which)
        case None =>
          val (sn, ln, lv, st) = meta.gribSelect.getOrElse(
            throw new UnsupportedOperationException(
              s"${meta.name}: grib codec without a field selector"))
          graft.sources.grib.GribChunkCodec.decodeField(raw, sn, ln, lv, st)
      }
      case Some(other) =>
        throw new UnsupportedOperationException(
          s"zarr compressor '$other' not supported " +
            "(use zlib, gzip, zstd, blosc, grib, or null)")
      case None => raw
    }
    }
    // numcodecs applies filter encodes in list order before the compressor,
    // so decode runs the INVERSES in reverse list order after decompression
    def defilter(raw: Array[Byte]): Array[Byte] =
      meta.filters.foldRight(decompress(raw))(decodeFilter)
    meta.refs match {
      case Some(refMap) =>
        return refMap.get(meta.chunkKey(chunkIdx)).map { loc =>
          defilter(
            if (loc.inline != null) loc.inline
            else {
              val p = new Path(loc.uri)
              val fs = p.getFileSystem(conf)
              val b = new Array[Byte](loc.length.toInt)
              val in = fs.open(p)
              try in.readFully(loc.offset, b) finally in.close()
              b
            })
        }
      case None =>
    }
    meta.shardChunks match {
      case None =>
        readFile(conf, s"$store/${meta.name}/${meta.chunkKey(chunkIdx)}")
          .map(defilter)
      case Some(_) =>
        val per = meta.innerPerShard
        val shardIdx = chunkIdx.zip(per).map { case (ci, p) => ci / p }
        val inner = chunkIdx.zip(per).map { case (ci, p) => ci % p }
        val linear = inner.zip(per).foldLeft(0L) { case (acc, (i, p)) => acc * p + i }
        readShardEntry(conf,
          s"$store/${meta.name}/${meta.chunkKey(shardIdx)}",
          meta, per.map(_.toLong).product, linear)
          .map(defilter)
    }
  }

  /** Decode one chunk file into doubles through the array's
    * [[CfDecode]]. An absent chunk file reads as cells holding fill_value,
    * decoded like stored ones. */
  def readChunk(conf: Configuration, store: String, meta: ArrayMeta,
      chunkIdx: Seq[Int]): Array[Double] = {
    val n = meta.chunks.product
    // filters re-type the stored buffer, so the decompressed size is the
    // ENCODED dtype's width, not the array dtype's
    val encBytes = n * dtypeBytes(meta.encodedDtype)
    chunkRaw(conf, store, meta, chunkIdx, encBytes) match {
      case None =>
        // a datetime64 NaT fill reads NaN, as a stored NaT does
        val nat = codeOf(meta.dtype).matches("[Mm]8\\[.*") &&
          meta.fillValue.contains(Long.MinValue.toDouble)
        Array.fill(n)(if (nat) Double.NaN else meta.fillValue.fold(Double.NaN)(meta.cf.cell))
      case Some(raw) => untranspose(meta.cf.decode(raw, meta.dtype, n), meta)
    }
  }

  /** Fixed-width numpy string dtype: `|S<n>` bytes or `|U<n>` UTF-32. */
  def isStringDtype(dtype: String): Boolean = {
    val c = codeOf(dtype)
    (c.startsWith("S") || c.startsWith("U")) && c.length > 1
  }

  /** String-valued array: fixed-width string dtype, or numpy object dtype
    * (`|O`) whose first filter is the numcodecs VLenUTF8 object codec —
    * xarray's default on-disk encoding for string coordinates/variables. */
  def isStringMeta(meta: ArrayMeta): Boolean =
    isStringDtype(meta.dtype) ||
      (codeOf(meta.dtype) == "O" &&
        meta.filters.headOption.contains(V2Filter.VlenUtf8))

  /** Decode one chunk of a fixed-width string array (`|S<n>` NUL-padded
    * bytes, `|U<n>` little-endian UTF-32 code points). Absent chunks yield
    * nulls. */
  def readChunkStrings(conf: Configuration, store: String, meta: ArrayMeta,
      chunkIdx: Seq[Int]): Array[String] = {
    require(meta.transposeOrder.isEmpty,
      s"zarr string array ${meta.name} with transpose")
    val n = meta.chunks.product
    if (codeOf(meta.dtype) == "O") {
      // |O object array: VLenUTF8 must be the whole filter chain (numcodecs
      // mandates the object codec at filters[0]; nothing else composes with
      // a string element type here)
      require(meta.filters == Seq(V2Filter.VlenUtf8),
        s"zarr object array ${meta.name}: filters must be exactly [vlen-utf8], " +
          s"got ${meta.filters}")
      // decompressed size is data-dependent — pass encBytes = -1 (zlib/gzip
      // grow dynamically, zstd reads the frame content size, blosc headers
      // are self-describing)
      return chunkRaw(conf, store, meta, chunkIdx, -1) match {
        case None => new Array[String](n)
        case Some(raw) => decodeVlenUtf8(meta.name, raw, n)
      }
    }
    require(meta.filters.isEmpty,
      s"zarr string array ${meta.name} with filters")
    val code = codeOf(meta.dtype)
    val perElem = code.drop(1).toInt
    val w = dtypeBytes(meta.dtype)
    chunkRaw(conf, store, meta, chunkIdx, n * w) match {
      case None => new Array[String](n)
      case Some(raw) =>
        Array.tabulate(n) { i =>
          if (code.startsWith("S")) {
            var len = perElem
            while (len > 0 && raw(i * w + len - 1) == 0) len -= 1
            new String(raw, i * w, len, java.nio.charset.StandardCharsets.UTF_8)
          } else {
            val be = meta.dtype.startsWith(">") // UTF-32 honors the marker
            val sb = new java.lang.StringBuilder(perElem)
            var k = 0
            var stop = false
            while (k < perElem && !stop) {
              val off = i * w + k * 4
              val cp =
                if (be) ((raw(off) & 0xff) << 24) | ((raw(off + 1) & 0xff) << 16) |
                  ((raw(off + 2) & 0xff) << 8) | (raw(off + 3) & 0xff)
                else (raw(off) & 0xff) | ((raw(off + 1) & 0xff) << 8) |
                  ((raw(off + 2) & 0xff) << 16) | ((raw(off + 3) & 0xff) << 24)
              if (cp == 0) stop = true else sb.appendCodePoint(cp)
              k += 1
            }
            sb.toString
          }
        }
    }
  }

  /** Parse a numcodecs VLenUTF8 buffer (vlen.pyx layout): u32-LE item
    * count, then per item u32-LE byte length + UTF-8 payload. Zarr pads
    * edge chunks to the full chunk grid, so the item count always equals
    * `chunks.product`. */
  private def decodeVlenUtf8(name: String, raw: Array[Byte], n: Int): Array[String] = {
    def le32(off: Int): Int =
      (raw(off) & 0xff) | ((raw(off + 1) & 0xff) << 8) |
        ((raw(off + 2) & 0xff) << 16) | ((raw(off + 3) & 0xff) << 24)
    if (raw.length < 4)
      throw new java.io.IOException(s"$name: vlen-utf8 chunk shorter than its header")
    val items = le32(0)
    if (items != n)
      throw new java.io.IOException(
        s"$name: vlen-utf8 chunk declares $items items, chunk grid expects $n")
    var off = 4
    Array.tabulate(n) { _ =>
      if (off + 4 > raw.length)
        throw new java.io.IOException(s"$name: truncated vlen-utf8 item header at $off")
      val len = le32(off)
      off += 4
      if (len < 0 || off + len > raw.length)
        throw new java.io.IOException(
          s"$name: vlen-utf8 item of $len bytes overruns chunk (${raw.length} bytes)")
      val s = new String(raw, off, len, java.nio.charset.StandardCharsets.UTF_8)
      off += len
      s
    }
  }

  /** Encode cells in the numcodecs VLenUTF8 layout — the exact inverse of
    * [[decodeVlenUtf8]], kept beside it so the two can't drift. Null cells
    * encode as "" (zarr v2 object arrays have no null string). */
  def encodeVlenUtf8(cells: Array[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(x: Int): Unit = {
      bos.write(x & 0xff); bos.write((x >>> 8) & 0xff)
      bos.write((x >>> 16) & 0xff); bos.write((x >>> 24) & 0xff)
    }
    le32(cells.length)
    cells.foreach { s =>
      if (s == null) le32(0)
      else {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        le32(b.length)
        bos.write(b)
      }
    }
    bos.toByteArray
  }

  /** Invert the v3 `transpose` codec: the stored buffer is C-order over the
    * permuted chunk shape; rearrange back to C-order over `meta.chunks`.
    * Edge chunks are full-size in zarr, so the buffer is always
    * `chunks.product` elements. */
  private def untranspose(vals: Array[Double], meta: ArrayMeta): Array[Double] =
    meta.transposeOrder match {
      case None => vals
      case Some(order) =>
        val chunks = meta.chunks
        val k = chunks.size
        val permShape = order.map(chunks).toArray
        // C-order strides of the OUTPUT (unpermuted) layout
        val outStrides = new Array[Int](k)
        var s = 1
        var d = k - 1
        while (d >= 0) { outStrides(d) = s; s *= chunks(d); d -= 1 }
        val ordArr = order.toArray
        val out = new Array[Double](vals.length)
        val idx = new Array[Int](k)
        var lin = 0
        while (lin < vals.length) {
          var outLin = 0
          var j = 0
          while (j < k) { outLin += idx(j) * outStrides(ordArr(j)); j += 1 }
          out(outLin) = vals(lin)
          // increment the permuted-shape multi-index (C-order, last fastest)
          var c = k - 1
          while (c >= 0 && { idx(c) += 1; idx(c) == permShape(c) && c > 0 }) {
            idx(c) = 0; c -= 1
          }
          lin += 1
        }
        out
    }

  /** One inner chunk's encoded bytes out of a shard object
    * (`sharding_indexed` codec): parse the binary index (u64-LE
    * offset/nbytes per inner chunk in C-order, 2^64-1 = missing, optional
    * trailing crc32c), then ranged-read the entry. Two ranged reads per
    * chunk — at fixture scale per call; a production task reads its
    * shard's index once and serves all its inner chunks from it, which is
    * exactly why sharding keeps 100 TB stores at sane object counts. */
  private def readShardEntry(conf: Configuration, path: String, meta: ArrayMeta,
      innerCount: Long, linear: Long): Option[Array[Byte]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val fileLen = fs.getFileStatus(p).getLen
    val indexLen = 16L * innerCount + (if (meta.shardIndexCrc) 4 else 0)
    require(fileLen >= indexLen, s"shard $path shorter than its index")
    val in = fs.open(p)
    try {
      val idx = new Array[Byte](indexLen.toInt)
      in.readFully(if (meta.shardIndexAtEnd) fileLen - indexLen else 0L, idx)
      if (meta.shardIndexCrc) {
        val crc = new java.util.zip.CRC32C()
        crc.update(idx, 0, idx.length - 4)
        val stored = ByteBuffer.wrap(idx, idx.length - 4, 4)
          .order(ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
        require(crc.getValue == stored,
          s"shard index crc32c mismatch in $path")
      }
      val bb = ByteBuffer.wrap(idx).order(ByteOrder.LITTLE_ENDIAN)
      val off = bb.getLong((linear * 16).toInt)
      val nbytes = bb.getLong((linear * 16).toInt + 8)
      if (off == -1L && nbytes == -1L) None // 2^64-1: chunk not present
      else {
        val raw = new Array[Byte](nbytes.toInt)
        in.readFully(off, raw)
        Some(raw)
      }
    } finally in.close()
  }

  /** One shard object of the `sharding_indexed` codec as both v3 writers
    * lay it out, the inverse of [[readShardEntry]]: the encoded inner
    * chunks (C-order over the shard's inner grid, `None` = absent) back to
    * back, then the u64-LE (offset, nbytes) index with 2^64-1 for absent
    * chunks, then the index's CRC-32C. */
  def packShard(inner: Seq[Option[Array[Byte]]]): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    val index = ByteBuffer.allocate(inner.size * 16 + 4).order(ByteOrder.LITTLE_ENDIAN)
    inner.foreach {
      case Some(enc) =>
        index.putLong(body.size().toLong).putLong(enc.length.toLong)
        body.write(enc)
      case None => index.putLong(-1L).putLong(-1L)
    }
    index.putInt(crc32c(index.array(), inner.size * 16))
    body.write(index.array())
    body.toByteArray
  }

  // ---- write side: the metadata every writer and Kerchunk scan renders,
  // and the one chunk encoder

  /** The v2 root group (`.zgroup`). */
  def renderZgroup: String = """{"zarr_format": 2}"""

  /** A v2 `.zarray`. `compressor`, `fill` and `filters` are JSON text, so a
    * scan's own codec objects (Kerchunk's `{"id": "grib", ...}`) pass
    * through unchanged. */
  def renderZarray(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      compressor: String, fill: String, filters: String): String =
    s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}], """ +
      s""""chunks": [${chunks.mkString(", ")}], "dtype": "$dtype", """ +
      s""""compressor": $compressor, "fill_value": $fill, "order": "C", """ +
      s""""filters": $filters}"""

  /** A v2 `.zarray` as the writers declare it: the compressor by name
    * (`zlib`, `zstd`, or `blosc` with the numcodecs lz4 byte-shuffle
    * profile), the "NaN" fill for float dtypes (absent chunks read as
    * missing in xarray too) and null otherwise, and the object dtype's
    * vlen-utf8 filter as numcodecs declares it. */
  def renderZarray(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      compressor: Option[String]): String = {
    val comp = compressor match {
      case None => "null"
      case Some("zlib") => """{"id": "zlib", "level": 6}"""
      case Some("zstd") => """{"id": "zstd", "level": 5}"""
      case Some("blosc") =>
        """{"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}"""
      case Some(o) => throw new UnsupportedOperationException(s"compressor $o")
    }
    renderZarray(shape, chunks, dtype, comp,
      if (dtype.startsWith("<f")) "\"NaN\"" else "null",
      if (dtype == "|O") """[{"id": "vlen-utf8"}]""" else "null")
  }

  /** A v2 `.zattrs`: xarray's `_ARRAY_DIMENSIONS`, then `attrs` (values
    * are JSON text). */
  def renderZattrs(dims: Seq[String], attrs: Seq[(String, String)] = Nil): String =
    ((s""""_ARRAY_DIMENSIONS": ${dims.map(jsonString).mkString("[", ", ", "]")}""") +:
      attrs.map { case (k, v) => s""""$k": $v""" }).mkString("{", ", ", "}")

  /** v2 consolidated metadata (`.zmetadata`): the root group and every
    * (name, `.zarray`, `.zattrs`), so one read plans the whole store. */
  def renderZmetadata(arrays: Seq[(String, String, String)]): String =
    ((".zgroup" -> renderZgroup) +: arrays.flatMap { case (name, za, zat) =>
      Seq(s"$name/.zarray" -> za, s"$name/.zattrs" -> zat)
    }).map { case (k, j) => s""""$k": $j""" }
      .mkString("{\"metadata\": {", ", ", "}, \"zarr_consolidated_format\": 1}")

  /** A v3 array `zarr.json` as the writers declare it: regular grid over
    * `shard` (or `chunks`), `default` chunk keys with `sep`, `bytes` little
    * endian (`vlen-utf8` for `|O`), then the named `compressor` (`gzip`,
    * `zstd`, `blosc`) and `crc32c`; with `shard` those codecs sit inside
    * `sharding_indexed`, whose index carries a crc32c. The fill is "" for
    * strings, "NaN" for floats, 0 otherwise; `attrs` values are JSON text. */
  def renderZarrJson(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      compressor: Option[String], dims: Seq[String], attrs: Seq[(String, String)],
      shard: Option[Seq[Int]], crc32c: Boolean, sep: String): String = {
    val dataType = dtype match {
      case "<f8" => "float64"
      case "<f4" => "float32"
      case "<i8" => "int64"
      case "<i4" => "int32"
      case "<i2" => "int16"
      case "<u1" | "|u1" => "uint8"
      case "|b1" => "bool"
      case "|O" => "string"
      case o => throw new UnsupportedOperationException(s"v3 writer dtype $o")
    }
    val bytesCodec = """{"name": "bytes", "configuration": {"endian": "little"}}"""
    val inner = Seq(
      Some(if (dtype == "|O") """{"name": "vlen-utf8"}""" else bytesCodec),
      compressor.map {
        case "gzip" => """{"name": "gzip", "configuration": {"level": 6}}"""
        case "zstd" => """{"name": "zstd", "configuration": {"level": 0, "checksum": false}}"""
        case "blosc" =>
          s"""{"name": "blosc", "configuration": {"cname": "lz4", "clevel": 5, """ +
            s""""shuffle": "shuffle", "typesize": ${typesize(dtype)}, "blocksize": 0}}"""
        case o => throw new UnsupportedOperationException(s"v3 writer codec $o")
      },
      if (crc32c) Some("""{"name": "crc32c"}""") else None).flatten
    val codecs = shard match {
      case None => inner
      case Some(sh) =>
        require(sh.zip(chunks).forall { case (s, c) => s % c == 0 },
          s"inner chunks $chunks must evenly divide shard $sh")
        Seq(s"""{"name": "sharding_indexed", "configuration": {""" +
          s""""chunk_shape": [${chunks.mkString(", ")}], "codecs": [${inner.mkString(", ")}], """ +
          s""""index_codecs": [$bytesCodec, {"name": "crc32c"}], "index_location": "end"}}""")
    }
    val fill = if (dtype == "|O") "\"\"" else if (dtype.startsWith("<f")) "\"NaN\"" else "0"
    s"""{"zarr_format": 3, "node_type": "array", "shape": [${shape.mkString(", ")}], """ +
      s""""data_type": "$dataType", "chunk_grid": {"name": "regular", "configuration": """ +
      s"""{"chunk_shape": [${shard.getOrElse(chunks).mkString(", ")}]}}, """ +
      s""""chunk_key_encoding": {"name": "default", "configuration": {"separator": "$sep"}}, """ +
      s""""fill_value": $fill, "codecs": [${codecs.mkString(", ")}], """ +
      s""""attributes": {${attrs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}, """ +
      s""""dimension_names": ${dims.map(jsonString).mkString("[", ", ", "]")}}"""
  }

  /** The v3 root group with every array's `zarr.json` inline as
    * `consolidated_metadata` (zarr-python 3's successor to `.zmetadata`). */
  def renderV3Group(arrays: Seq[(String, String)]): String =
    arrays.map { case (k, j) => s""""$k": $j""" }.mkString(
      """{"zarr_format": 3, "node_type": "group", "attributes": {}, """ +
        """"consolidated_metadata": {"kind": "inline", "must_understand": false, "metadata": {""",
      ", ", "}}}")

  /** A JSON string literal: quotes and backslashes escaped. */
  private[zarr] def jsonString(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** One encoded chunk: `cells` (C-order over the whole chunk shape, edge
    * chunks padded) packed little endian as `dtype`, compressed with the
    * named `compressor` (`zlib` deflate, `gzip`, `zstd`, or `blosc` lz4
    * with byte shuffle), then with `crc32c` the v3 checksum trailer. */
  def encodeChunk(dtype: String, cells: Array[Double], compressor: Option[String],
      crc32c: Boolean): Array[Byte] = {
    val bb = ByteBuffer.allocate(cells.length * dtypeBytes(dtype)).order(ByteOrder.LITTLE_ENDIAN)
    dtype match {
      case "<f8" => cells.foreach(bb.putDouble)
      case "<f4" => cells.foreach(v => bb.putFloat(v.toFloat))
      case "<i8" => cells.foreach(v => bb.putLong(v.toLong))
      case "<i4" => cells.foreach(v => bb.putInt(v.toInt))
      case "<i2" => cells.foreach(v => bb.putShort(v.toShort))
      case "<u1" | "|u1" => cells.foreach(v => bb.put(v.toInt.toByte))
      case "|b1" => cells.foreach(v => bb.put(if (v != 0.0) 1.toByte else 0.toByte))
      case o => throw new UnsupportedOperationException(s"zarr writer dtype $o")
    }
    compressChunk(bb.array(), typesize(dtype), compressor, crc32c)
  }

  /** [[encodeChunk]] for string cells: `|O` as vlen-utf8 (null cells as
    * ""), `|S<n>` as NUL-padded fixed-width bytes. */
  def encodeChunk(dtype: String, cells: Array[String], compressor: Option[String],
      crc32c: Boolean): Array[Byte] = {
    val raw =
      if (dtype == "|O") encodeVlenUtf8(cells)
      else {
        val w = dtypeBytes(dtype)
        val out = new Array[Byte](cells.length * w)
        cells.zipWithIndex.foreach { case (s, i) =>
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          require(b.length <= w, s"'$s' (${b.length} bytes) exceeds $dtype width $w")
          System.arraycopy(b, 0, out, i * w, b.length)
        }
        out
      }
    compressChunk(raw, typesize(dtype), compressor, crc32c)
  }

  // blosc's shuffle width: vlen buffers have no fixed element width, and
  // typesize 1 is what numcodecs uses for object arrays
  private def typesize(dtype: String): Int = if (dtype == "|O") 1 else dtypeBytes(dtype)

  private def compressChunk(raw: Array[Byte], typesize: Int, compressor: Option[String],
      crc32c: Boolean): Array[Byte] = {
    val out = compressor match {
      case None => raw
      case Some("zlib") => deflate(raw)
      case Some("gzip") =>
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(raw); g.close()
        bos.toByteArray
      case Some("zstd") => Zstd.compressStore(raw)
      case Some("blosc") => Blosc.compress(raw, typesize, shuffle = true)
      case Some(o) => throw new UnsupportedOperationException(s"compressor $o")
    }
    if (!crc32c) out
    else {
      val c = this.crc32c(out, out.length)
      out ++ Array[Byte](c.toByte, (c >>> 8).toByte, (c >>> 16).toByte, (c >>> 24).toByte)
    }
  }

  private def crc32c(bytes: Array[Byte], len: Int): Int = {
    val crc = new java.util.zip.CRC32C()
    crc.update(bytes, 0, len)
    crc.getValue.toInt
  }

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(bytes)
    d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Read an entire (possibly multi-chunk) array — used for coordinates. */
  def readWholeArray(conf: Configuration, store: String, meta: ArrayMeta): Array[Double] = {
    require(meta.shape.size == 1, s"${meta.name} is not 1-d")
    val out = new Array[Double](meta.shape.head)
    val grid = meta.chunkGrid.head
    for (c <- 0 until grid) {
      val chunk = readChunk(conf, store, meta, Seq(c))
      val start = c * meta.chunks.head
      val len = math.min(meta.chunks.head, meta.shape.head - start)
      System.arraycopy(chunk, 0, out, start, len)
    }
    out
  }

  /** Verify a chunk's trailing 4-byte LE CRC-32C (the v3 `crc32c` codec)
    * and return the payload without it. */
  private def stripCrc32c(name: String, raw: Array[Byte]): Array[Byte] = {
    if (raw.length < 4)
      throw new java.io.IOException(s"$name: chunk shorter than its crc32c trailer")
    val n = raw.length - 4
    val crc = new java.util.zip.CRC32C()
    crc.update(raw, 0, n)
    val stored = (raw(n) & 0xffL) | ((raw(n + 1) & 0xffL) << 8) |
      ((raw(n + 2) & 0xffL) << 16) | ((raw(n + 3) & 0xffL) << 24)
    if ((crc.getValue & 0xffffffffL) != stored)
      throw new java.io.IOException(
        s"$name: crc32c mismatch (stored ${stored.toHexString}, " +
          s"computed ${(crc.getValue & 0xffffffffL).toHexString}) — corrupt chunk")
    java.util.Arrays.copyOf(raw, n)
  }

  def dtypeBytes(dtype: String): Int = codeOf(dtype) match {
    // numpy datetime64/timedelta64: an i8 count whose unit lives in the
    // dtype brackets ("<M8[ns]")
    case m if m.startsWith("M8[") || m.startsWith("m8[") => 8
    case "f8" | "i8" | "u8" => 8
    case "f4" | "i4" | "u4" => 4
    case "f2" | "i2" | "u2" => 2
    case "i1" | "u1" | "b1" => 1
    case s if s.startsWith("S") && s.length > 1 => s.drop(1).toInt // bytes
    case u if u.startsWith("U") && u.length > 1 => u.drop(1).toInt * 4 // UTF-32
    case _ => throw new UnsupportedOperationException(s"zarr dtype '$dtype'")
  }

  private def orderOf(dtype: String): ByteOrder =
    if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN

  private def readD(bb: ByteBuffer, code: String, i: Int): Double = code match {
    case "f8" => bb.getDouble(8 * i)
    case "f4" => bb.getFloat(4 * i).toDouble
    case _ => readL(bb, code, i).toDouble
  }

  private def readL(bb: ByteBuffer, code: String, i: Int): Long = code match {
    case "i8" | "u8" => bb.getLong(8 * i)
    case "i4" => bb.getInt(4 * i).toLong
    case "u4" => bb.getInt(4 * i) & 0xffffffffL
    case "i2" => bb.getShort(2 * i).toLong
    case "u2" => (bb.getShort(2 * i) & 0xffff).toLong
    case "i1" => bb.get(i).toLong
    case "u1" => (bb.get(i) & 0xff).toLong
    case other => throw new UnsupportedOperationException(
      s"zarr filter integer dtype '$other'")
  }

  // numpy astype float→int truncates toward zero — Scala's .toLong agrees
  private def writeD(bb: ByteBuffer, code: String, i: Int, v: Double): Unit = code match {
    case "f8" => bb.putDouble(8 * i, v)
    case "f4" => bb.putFloat(4 * i, v.toFloat)
    case _ => writeL(bb, code, i, v.toLong)
  }

  // int→int narrowing wraps, as numpy astype does
  private def writeL(bb: ByteBuffer, code: String, i: Int, v: Long): Unit = code match {
    case "i8" | "u8" => bb.putLong(8 * i, v)
    case "i4" | "u4" => bb.putInt(4 * i, v.toInt)
    case "i2" | "u2" => bb.putShort(2 * i, v.toShort)
    case "i1" | "u1" => bb.put(i, v.toByte)
    case other => throw new UnsupportedOperationException(
      s"zarr filter integer dtype '$other'")
  }

  /** numpy-style `astype` cast of a whole buffer: int↔int wraps, float→int
    * truncates toward zero, byte order per each side's dtype marker. */
  private[zarr] def convertCast(bytes: Array[Byte], from: String, to: String): Array[Byte] = {
    if (from == to) return bytes
    val fc = codeOf(from); val tc = codeOf(to)
    val n = bytes.length / dtypeBytes(from)
    val out = new Array[Byte](n * dtypeBytes(to))
    val src = ByteBuffer.wrap(bytes).order(orderOf(from))
    val dst = ByteBuffer.wrap(out).order(orderOf(to))
    val bothInt = !fc.startsWith("f") && !tc.startsWith("f")
    var i = 0
    if (bothInt) while (i < n) { writeL(dst, tc, i, readL(src, fc, i)); i += 1 }
    else while (i < n) { writeD(dst, tc, i, readD(src, fc, i)); i += 1 }
    out
  }

  /** Apply one filter's DECODE to a buffer (numcodecs semantics). */
  private[zarr] def decodeFilter(f: V2Filter, buf: Array[Byte]): Array[Byte] = f match {
    case V2Filter.Delta(dt, at) =>
      if (dt == at) undelta(buf, dt) else undeltaTo(buf, dt, at)
    case V2Filter.FixedScaleOffset(offset, scale, dt, at) =>
      // numcodecs: dec = enc / scale + offset, then astype(dtype)
      val fc = codeOf(at); val tc = codeOf(dt)
      val n = buf.length / dtypeBytes(at)
      val out = new Array[Byte](n * dtypeBytes(dt))
      val src = ByteBuffer.wrap(buf).order(orderOf(at))
      val dst = ByteBuffer.wrap(out).order(orderOf(dt))
      var i = 0
      while (i < n) { writeD(dst, tc, i, readD(src, fc, i) / scale + offset); i += 1 }
      out
    case V2Filter.Quantize(dt, at) =>
      // quantization is lossy on ENCODE; decode is just the astype cast
      convertCast(buf, at, dt)
    case V2Filter.AsType(encDt, decDt) =>
      convertCast(buf, encDt, decDt)
    // object→bytes codec: the buffer IS the decoded form at this layer;
    // readChunkStrings parses the vlen layout into java Strings
    case V2Filter.VlenUtf8 => buf
    // rounding happened at encode; the stored floats are final
    case _: V2Filter.BitRound => buf
    case V2Filter.Shuffle(w) =>
      // inverse byte shuffle: encoded = all byte-0s, all byte-1s, ...
      if (w <= 1 || buf.length % w != 0) buf
      else {
        val n = buf.length / w
        val out = new Array[Byte](buf.length)
        var j = 0
        while (j < w) {
          var i = 0
          while (i < n) { out(i * w + j) = buf(j * n + i); i += 1 }
          j += 1
        }
        out
      }
  }

  /** Delta decode when `astype != dtype`: values are READ at `astype`
    * width but ACCUMULATED at `dtype` width (numcodecs does
    * `np.cumsum(enc, out=np.empty_like(enc, dtype=dtype))`). */
  private def undeltaTo(buf: Array[Byte], dt: String, at: String): Array[Byte] = {
    val fc = codeOf(at); val tc = codeOf(dt)
    val n = buf.length / dtypeBytes(at)
    val out = new Array[Byte](n * dtypeBytes(dt))
    val src = ByteBuffer.wrap(buf).order(orderOf(at))
    val dst = ByteBuffer.wrap(out).order(orderOf(dt))
    var i = 0
    if (tc == "f8") {
      var acc = 0.0
      while (i < n) { acc += readD(src, fc, i); dst.putDouble(8 * i, acc); i += 1 }
    } else if (tc == "f4") {
      var acc = 0.0f
      while (i < n) { acc = (acc + readD(src, fc, i)).toFloat; dst.putFloat(4 * i, acc); i += 1 }
    } else {
      // integer accumulator wraps at the OUTPUT width every step, like a
      // numpy cumsum into an int array
      var acc = 0L
      while (i < n) {
        acc = wrapTo(tc, acc + readL(src, fc, i))
        writeL(dst, tc, i, acc)
        i += 1
      }
    }
    out
  }

  private def wrapTo(code: String, v: Long): Long = code match {
    case "i8" | "u8" => v
    case "i4" => v.toInt.toLong
    case "u4" => v & 0xffffffffL
    case "i2" => v.toShort.toLong
    case "u2" => v & 0xffffL
    case "i1" => v.toByte.toLong
    case "u1" => v & 0xffL
    case other => throw new UnsupportedOperationException(
      s"zarr filter integer dtype '$other'")
  }

  /** Inverse of the numcodecs Delta filter: cumulative sum in the array's
    * OWN dtype — integer wraparound and float32 rounding follow from doing
    * the arithmetic at that width, exactly as numcodecs does. */
  private[zarr] def undelta(bytes: Array[Byte], dtype: String): Array[Byte] = {
    val order =
      if (dtype.startsWith(">")) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN
    val bb = java.nio.ByteBuffer.wrap(bytes).order(order)
    dtype.drop(1) match {
      case "f8" =>
        val b = bb.asDoubleBuffer()
        var acc = 0.0
        (0 until b.limit()).foreach { i => acc += b.get(i); b.put(i, acc) }
      case "f4" =>
        val b = bb.asFloatBuffer()
        var acc = 0.0f
        (0 until b.limit()).foreach { i => acc += b.get(i); b.put(i, acc) }
      case "i8" =>
        val b = bb.asLongBuffer()
        var acc = 0L
        (0 until b.limit()).foreach { i => acc += b.get(i); b.put(i, acc) }
      case "i4" =>
        val b = bb.asIntBuffer()
        var acc = 0
        (0 until b.limit()).foreach { i => acc += b.get(i); b.put(i, acc) }
      case "i2" =>
        val b = bb.asShortBuffer()
        var acc: Short = 0
        (0 until b.limit()).foreach { i =>
          acc = (acc + b.get(i)).toShort; b.put(i, acc)
        }
      case "u1" =>
        var acc = 0
        bytes.indices.foreach { i =>
          acc = (acc + (bytes(i) & 0xff)) & 0xff; bytes(i) = acc.toByte
        }
      case _ => throw new UnsupportedOperationException(
        s"delta filter over zarr dtype '$dtype'")
    }
    bytes
  }

  private def gunzip(raw: Array[Byte], expected: Int): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(raw))
    try {
      if (expected < 0) { // vlen chunk: decompressed size is data-dependent
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var k = in.read(buf)
        while (k > 0) { bos.write(buf, 0, k); k = in.read(buf) }
        return bos.toByteArray
      }
      val out = new Array[Byte](expected)
      var off = 0
      var n = in.read(out, off, expected - off)
      while (n > 0 && off + n < expected) { off += n; n = in.read(out, off, expected - off) }
      if (n > 0) off += n
      if (off < expected)
        throw new java.io.IOException(
          s"truncated gzip zarr chunk ($off of $expected bytes)")
      out
    } finally in.close()
  }

  private def inflate(raw: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(raw)
    if (expected < 0) { // vlen chunk: decompressed size is data-dependent
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val k = inf.inflate(buf)
        if (k == 0 && (inf.needsInput() || inf.needsDictionary())) {
          inf.end()
          throw new java.io.IOException("truncated or corrupt zlib vlen chunk")
        }
        bos.write(buf, 0, k)
      }
      inf.end()
      return bos.toByteArray
    }
    val out = new Array[Byte](expected)
    var off = 0
    while (!inf.finished() && off < expected) {
      val n = inf.inflate(out, off, expected - off)
      if (n == 0 && (inf.needsInput() || inf.needsDictionary())) {
        inf.end()
        throw new java.io.IOException(
          s"truncated or corrupt zlib chunk ($off of $expected bytes)")
      }
      off += n
    }
    inf.end()
    out
  }
}
