package graft.sources.hdf5

import java.io.FileOutputStream
import java.util.zip.Deflater

import scala.collection.mutable.ArrayBuffer

/** Minimal netCDF-4-flavored HDF5 fixture writer (public spec: HDF5 File
  * Format Specification III + the netCDF-4 dimension-scale conventions).
  * Little-endian, superblock v0, v1 object headers, old-style symbol-table
  * root group; coordinate variables contiguous; data variables contiguous
  * or chunked (v1 chunk B-tree) with optional deflate/shuffle/szip/nbit/
  * scaleoffset filters plus the registered blosc(32001)/lz4(32004)/
  * bitshuffle(32008)/zstd(32015) dynamic filters;
  * `DIMENSION_LIST` attributes through a real global heap, `CLASS`/`NAME`
  * dimension-scale markers, CDL attrs (`units`, `scale_factor`,
  * `add_offset`, `_FillValue`). Fixture role — enough to exercise
  * [[Hdf5]] + [[NetCDF4Reader]] without libhdf5. */
object Hdf5Writer {

  final case class VarSpec(
      name: String,
      dims: Seq[String],
      shape: Seq[Int],
      data: Seq[Double],                 // C-order
      dtype: String = "f8",              // f8 | f4 | i4 | i2
      chunks: Option[Seq[Int]] = None,
      deflate: Boolean = false,
      shuffle: Boolean = false,
      szip: Boolean = false, // CCSDS/Rice coding (filter id 4), <= 32-bit dtypes
      // nbit (filter id 5): Some((precision, bitOffset)) packs each
      // element's precision-bit field; the datatype message declares the
      // reduced precision, as H5Tset_precision would
      nbit: Option[(Int, Int)] = None,
      // scaleoffset (filter id 6): int auto-minbits (H5Z_SO_INT with
      // scale_factor 0) for i2/i4; float D-scaling with the given decimal
      // digit count for f4/f8
      scaleoffset: Boolean = false,
      scaleoffsetD: Option[Int] = None,
      // registered dynamic filters (the hdf5plugin/h5py ecosystem)
      zstd: Boolean = false,      // 32015: one bare zstd frame per chunk
      blosc: Boolean = false,     // 32001: one self-describing blosc frame
      lz4: Boolean = false,       // 32004: H5Zlz4 BE-blocked layout
      // 32008: Some(flag) — 0 bit-transpose only, 2 lz4 blocks, 3 zstd
      // blocks (bshuf_h5filter's compression flag)
      bitshuffle: Option[Int] = None,
      bitshuffleBlockElems: Int = 64, // multiple of 8; small to multi-block tests
      scaleFactor: Option[Double] = None,
      addOffset: Option[Double] = None,
      fillValue: Option[Double] = None,
      units: Option[String] = None,
      extraAttrs: Seq[(String, Any)] = Nil, // extra attrs: String, Double or Seq[Double]
      denseAttrs: Boolean = false,             // store attrs densely (0x15)
      chunkBtreeFanout: Int = 256,             // chunk B-tree entries/node
      // "btree1" = layout v3 + v1 chunk B-tree (pre-1.10 HDF5);
      // "fixedarray" = layout v4 + fixed-array index (HDF5 >= 1.10's shape
      // for fixed-dimension chunked datasets);
      // "btree2" = layout v4 + depth-0 v2 B-tree index (the >1-unlimited-
      // dimension shape);
      // "extensible" = layout v4 + extensible-array index (the ONE-
      // unlimited-dimension shape every time-appending netCDF-4 file uses)
      chunkIndex: String = "btree1",
      // fixed-array page size exponent (libhdf5 default 10 = 1024 entries);
      // chunk counts past one page write the PAGED data block layout
      faPageBits: Int = 10,
      // extensible-array creation params (libhdf5 defaults); shrink in
      // tests to exercise index-block/direct-dblk/super-block storage
      eaIdxBlkElmts: Int = 4,
      eaDataBlkMinElmts: Int = 16,
      eaSupBlkMinDataPtrs: Int = 4,
      eaMaxDblkPageBits: Int = 10, // data blocks past 2^bits elements page
      // string variables: dtype "s<N>" (fixed-length, NUL-padded N-byte
      // cells) or "vls" (variable-length via the global heap); values come
      // from `sdata` (`data` stays empty), contiguous layout only
      sdata: Seq[String] = Nil,
      // vlen-SEQUENCE variables (netCDF-4 VLEN of double): dtype "vld",
      // ragged values from `vdata`, contiguous layout only. Array-datatype
      // variables (class 10) reuse `vdata` with dtype "a<K>" (K f8
      // elements per cell, every row exactly K long)
      vdata: Seq[Seq[Double]] = Nil,
      // opaque variables (NC_OPAQUE): dtype "o<N>" (N-byte cells), raw
      // values from `bdata`, contiguous layout only
      bdata: Seq[Array[Byte]] = Nil,
      // extra attributes stored as VARIABLE-LENGTH strings (the h5py/netCDF-4
      // default for string attrs), each resolved through its own `GCOL`
      vlsAttrs: Seq[(String, String)] = Nil,
      // compound (class 6) variables: member (name, dtype) pairs packed at
      // sequential offsets; values come from `cdata` (one row per point,
      // Double for numeric members, String for s<N>), contiguous only
      compound: Seq[(String, String)] = Nil,
      cdata: Seq[Seq[Any]] = Nil,
      // enum (class 8) variables: named values over the base `dtype`
      // (i2/i4); `data` carries the raw base values as usual
      enumMembers: Seq[(String, Long)] = Nil)

  private def elemSize(dtype: String): Int = dtype match {
    case "f8" => 8
    case "f4" | "i4" => 4
    case "i2" => 2
    case "vls" => 16 // vlen-string descriptor {len u32, gheap addr, idx u32}
    case "vld" => 16 // vlen-sequence descriptor {nelems u32, gheap addr, idx u32}
    case o if o.startsWith("o") && o.length > 1 => o.drop(1).toInt // opaque cells
    case a if a.startsWith("a") && a.length > 1 => a.drop(1).toInt * 8 // array of K f8
    case s if s.startsWith("s") && s.length > 1 => s.drop(1).toInt // fixed string
    case other => throw new IllegalArgumentException(s"dtype $other")
  }

  private def isStringDtype(dtype: String): Boolean =
    dtype == "vls" || (dtype.startsWith("s") && dtype.length > 1)

  private def hasFilters(v: VarSpec): Boolean =
    v.deflate || v.shuffle || v.szip || v.nbit.isDefined ||
      v.scaleoffset || v.scaleoffsetD.isDefined ||
      v.zstd || v.blosc || v.lz4 || v.bitshuffle.isDefined

  /** H5Z__scaleoffset_log2: smallest v with 2^v >= num. */
  private def log2Ceil(num: Long): Int = {
    var v = 0
    var lb = 1L
    while (lb < num) { lb <<= 1; v += 1 }
    v
  }

  // szip geometry the writer emits: 16 pixels/block (libhdf5's common
  // default), 32 blocks per scanline (= reference sample interval)
  private val SzipPpb = 16
  private val SzipPps = 512
  private val Lz4BlockBytes = 1 << 8 // small enough to force multi-block chunks

  /** `denseRoot = true` stores the root group's links the way netCDF-4
    * writes groups past the compact limit: serialized Link messages in a
    * fractal heap (single direct block) indexed by a depth-0 v2 B-tree —
    * the layout [[Hdf5.parse]]'s dense-link path reads.
    *
    * `latestFormat = true` emits the HDF5 "latest" container flavor
    * (h5py/xarray with libver=latest): superblock v2 + v2 (`OHDR`) object
    * headers, compact Link messages instead of symbol tables. */
  def write(path: String, vars: Seq[VarSpec], denseRoot: Boolean = false,
      latestFormat: Boolean = false, denseFiltered: Boolean = false,
      denseBtNodeSize: Int = 2048, denseStartBlock: Long = 4096L,
      denseMaxDirect: Long = 65536L): Unit = {
    require(vars.map(_.name).distinct.size == vars.size, "duplicate var names")
    val out = new ArrayBuffer[Byte](1 << 16)
    def appendAt(bytes: Array[Byte]): Long = { val a = out.size.toLong; out ++= bytes; a }
    def pad8(): Unit = while (out.size % 8 != 0) out += 0

    // ---- helpers to build little-endian pieces
    def b16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def b32(v: Long): Array[Byte] = b16((v & 0xffff).toInt) ++ b16(((v >> 16) & 0xffff).toInt)
    def b64(v: Long): Array[Byte] = b32(v & 0xffffffffL) ++ b32((v >> 32) & 0xffffffffL)

    // superblock (v0, or v2 in latest-format mode) + file flush
    def finish(rootAddr: Long, btreeScratch: Long, heapScratch: Long): Unit = {
      val sb = ArrayBuffer.empty[Byte]
      sb ++= Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte,
        '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte)
      if (latestFormat) {
        sb ++= Array[Byte](2, 8, 8, 0)           // version, sizes, flags
        sb ++= b64(0L)                           // base address
        sb ++= b64(Hdf5.Undef)                   // superblock extension
        sb ++= b64(out.size.toLong)              // EOF
        sb ++= b64(rootAddr)                     // root object header
        sb ++= b32(0L)                           // checksum (unverified)
        while (sb.size < 96) sb += 0             // placeholder was 96 B
      } else {
        sb ++= Array[Byte](0, 0, 0, 0, 0, 8, 8, 0) // versions + sizes
        sb ++= b16(4) ++ b16(16)                   // leaf / internal k
        sb ++= b32(0L)                             // consistency flags
        sb ++= b64(0L)                             // base address
        sb ++= b64(Hdf5.Undef)                     // free-space address
        sb ++= b64(out.size.toLong)                // EOF
        sb ++= b64(Hdf5.Undef)                     // driver info
        // root symbol table entry
        sb ++= b64(0L)                             // link name offset
        sb ++= b64(rootAddr)                       // object header address
        sb ++= b32(if (btreeScratch == Hdf5.Undef) 0L else 1L) ++ b32(0L)
        sb ++= b64(btreeScratch) ++ b64(heapScratch) // scratch (cache type 1)
      }
      require(sb.size == 96, s"superblock size ${sb.size}")
      val bytes = out.toArray
      System.arraycopy(sb.toArray, 0, bytes, 0, 96)
      val fos = new FileOutputStream(path)
      try fos.write(bytes) finally fos.close()
    }

    // dims in declaration order across all vars
    val dimNames = vars.flatMap(_.dims).distinct
    val dimSizes: Map[String, Int] = dimNames.map { d =>
      val owners = vars.filter(v => v.dims.contains(d))
      d -> owners.head.shape(owners.head.dims.indexOf(d))
    }.toMap
    // a dim var: rank-1 var named like its dim (netCDF coordinate variable)
    val coordVars = vars.filter(v => v.dims.size == 1 && v.dims.head == v.name)
    val dataVars = vars.filterNot(coordVars.contains)
    // pure dims (no coordinate variable): synthesized empty dimension scales
    val phonyDims = dimNames.filterNot(coordVars.map(_.name).contains)

    // superblock placeholder (96 bytes, patched at the end)
    appendAt(new Array[Byte](96))

    // ---- encode payloads
    def packValues(v: VarSpec, values: Seq[Double]): Array[Byte] = {
      val w = elemSize(v.dtype)
      val bytes = new Array[Byte](values.size * w)
      values.zipWithIndex.foreach { case (x, i) =>
        val bits = v.dtype match {
          case "f8" => java.lang.Double.doubleToLongBits(x)
          case "f4" => java.lang.Float.floatToIntBits(x.toFloat).toLong & 0xffffffffL
          case "i4" => x.toLong & 0xffffffffL
          case "i2" => x.toLong & 0xffffL
        }
        var j = 0
        while (j < w) { bytes(i * w + j) = ((bits >> (8 * j)) & 0xff).toByte; j += 1 }
      }
      bytes
    }

    def shuffleBytes(data: Array[Byte], w: Int): Array[Byte] = {
      if (w <= 1) return data
      val n = data.length / w
      val o = new Array[Byte](data.length)
      var j = 0
      while (j < w) {
        var i = 0
        while (i < n) { o(j * n + i) = data(i * w + j); i += 1 }
        j += 1
      }
      o
    }

    def szipBytes(data: Array[Byte], es: Int): Array[Byte] = {
      require(es <= 4, s"szip fixtures carry <= 32-bit samples, got $es bytes")
      val n = data.length / es
      val samples = new Array[Long](n)
      var i = 0
      while (i < n) { // little-endian unsigned samples (mask bit 8 = LSB)
        var v = 0L
        var j = 0
        while (j < es) { v |= (data(i * es + j) & 0xffL) << (8 * j); j += 1 }
        samples(i) = v
        i += 1
      }
      graft.sources.grib.Ccsds.encode(samples, graft.sources.grib.Ccsds.Params(
        es * 8, SzipPpb, SzipPps / SzipPpb, preprocess = true))
    }

    def deflateBytes(data: Array[Byte]): Array[Byte] = {
      val d = new Deflater(6)
      d.setInput(data); d.finish()
      val o = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](64 * 1024)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      d.end()
      o.toByteArray
    }

    def be32b(v: Int): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be64b(v: Long): Array[Byte] =
      be32b((v >>> 32).toInt) ++ be32b(v.toInt)

    // H5Zlz4's layout: u64-BE total, u32-BE block size, then per block a
    // u32-BE length + LZ4 BLOCK (stored raw when lz4 doesn't shrink it)
    def lz4Bytes(data: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(data.length + 64)
      o.write(be64b(data.length.toLong), 0, 8)
      o.write(be32b(Lz4BlockBytes), 0, 4)
      var d = 0
      while (d < data.length) {
        val origLen = math.min(Lz4BlockBytes, data.length - d)
        val block = java.util.Arrays.copyOfRange(data, d, d + origLen)
        val packed = graft.sources.zarr.Blosc.lz4Compress(block, origLen - 1)
        val out = if (packed == null) block else packed
        o.write(be32b(out.length), 0, 4)
        o.write(out, 0, out.length)
        d += origLen
      }
      o.toByteArray
    }

    // the bitshuffle library's blocked transform (+ optional per-block
    // lz4/zstd with the 12-byte BE header) — bshuf_h5filter's write side
    def bitshuffleBytes(data: Array[Byte], es: Int, blockElems: Int,
        flag: Int): Array[Byte] = {
      import graft.sources.zarr.{Blosc, Zstd}
      require(blockElems > 0 && blockElems % 8 == 0,
        s"bitshuffle block of $blockElems elements")
      val totalElems = data.length / es
      val leftoverElems = totalElems % 8
      val blockedEnd = (totalElems - leftoverElems) * es
      // bit-transpose block by block (full blocks, then the rounded-down
      // partial block)
      val shuffled = new Array[Byte](data.length)
      var e = 0
      while (e * es < blockedEnd) {
        val nElem = math.min(blockElems, (blockedEnd - e * es) / es)
        Blosc.bitShuffleBlock(data, e * es, nElem * es, es, shuffled, e * es)
        e += nElem
      }
      System.arraycopy(data, blockedEnd, shuffled, blockedEnd,
        data.length - blockedEnd)
      if (flag == 0) return shuffled
      val o = new java.io.ByteArrayOutputStream(data.length + 64)
      o.write(be64b(data.length.toLong), 0, 8)
      o.write(be32b(blockElems * es), 0, 4)
      var d = 0
      while (d < blockedEnd) {
        val origLen = math.min(blockElems * es, blockedEnd - d)
        val block = java.util.Arrays.copyOfRange(shuffled, d, d + origLen)
        val out = flag match {
          case 2 =>
            val packed = Blosc.lz4Compress(block, origLen * 2 + 64)
            if (packed == null) throw new IllegalStateException(
              "lz4Compress rejected a generous bound") // 2x+64 always fits
            packed
          case 3 => Zstd.compressStore(block)
          case other => throw new IllegalArgumentException(
            s"bitshuffle fixture flag $other (0, 2, or 3)")
        }
        o.write(be32b(out.length), 0, 4)
        o.write(out, 0, out.length)
        d += origLen
      }
      // the <8-element leftover rides raw after the last block
      o.write(shuffled, blockedEnd, data.length - blockedEnd)
      o.toByteArray
    }

    // nbit (filter 5): each element's precision-bit field packed MSB-first
    // (the H5Znbit.c atomic layout). Values are the logical field values.
    def nbitBytes(v: VarSpec, cells: Seq[Double]): Array[Byte] = {
      val (precision, bitOffset) = v.nbit.get
      val w = elemSize(v.dtype)
      require(v.dtype == "i2" || v.dtype == "i4",
        s"nbit fixtures carry integer dtypes, got ${v.dtype}")
      require(precision >= 1 && precision + bitOffset <= w * 8,
        s"nbit precision $precision + offset $bitOffset vs ${w * 8} bits")
      val lo = -(1L << (precision - 1))
      val hi = (1L << (precision - 1)) - 1
      val mask = (1L << precision) - 1
      val fields = cells.map { x =>
        val value = x.toLong
        require(value >= lo && value <= hi,
          s"${v.name}: $value outside $precision-bit two's complement")
        value & mask
      }.toArray
      Hdf5.packMsb(fields, precision)
    }

    // scaleoffset (filter 6): H5Zscaleoffset.c chunk layout — u32-LE
    // minbits, u8 minval width (8), LE minval, packed minbits-bit fields
    // MSB-first from fixed byte 21. Int = H5Z_SO_INT auto-minbits;
    // float = D-scaling via llround(x * 10^D).
    def scaleoffsetBytes(v: VarSpec, cells: Seq[Double]): Array[Byte] = {
      val w = elemSize(v.dtype)
      val isFloat = v.dtype.startsWith("f")
      require(!isFloat || v.scaleoffsetD.isDefined,
        s"${v.name}: float scaleoffset needs scaleoffsetD")
      val d = v.scaleoffsetD.getOrElse(0)
      val pow = math.pow(10, d)
      def isFill(x: Double) = v.fillValue.exists(_ == x)
      val scaled: Array[Long] =
        cells.map(x => if (isFloat) Math.round(x * pow) else x.toLong).toArray
      val dataVals = cells.indices.filterNot(i => isFill(cells(i))).map(scaled)
      val (minv, maxv) =
        if (dataVals.isEmpty) (0L, 0L) else (dataVals.min, dataVals.max)
      val span = maxv - minv + 1
      val minbits =
        if (v.fillValue.isDefined) log2Ceil(span + 1) else log2Ceil(span)
      require(minbits < w * 8,
        s"${v.name}: span $span needs full-width storage — widen the fixture")
      val sentinel = (1L << minbits) - 1
      val fields = cells.indices.map { i =>
        if (isFill(cells(i))) sentinel else scaled(i) - minv
      }.toArray
      val header = new Array[Byte](21) // buf_offset = 21 in H5Zscaleoffset.c
      var j = 0
      while (j < 4) { header(j) = ((minbits >> (8 * j)) & 0xff).toByte; j += 1 }
      header(4) = 8 // sizeof(unsigned long long) on the writing machine
      j = 0
      while (j < 8) { header(5 + j) = ((minv >> (8 * j)) & 0xff).toByte; j += 1 }
      if (minbits == 0) header else header ++ Hdf5.packMsb(fields, minbits)
    }

    // one global-heap collection (`GCOL`) holding `objs` at indices 1..n,
    // closed by the free-space terminator; returns its address
    def writeGcol(objs: Seq[Array[Byte]]): Long = {
      pad8()
      val body = ArrayBuffer.empty[Byte]
      objs.zipWithIndex.foreach { case (o, i) =>
        body ++= b16(i + 1) ++ b16(1) ++ b32(0L) ++ b64(o.length.toLong) ++ o
        while (body.size % 8 != 0) body += 0
      }
      body ++= b16(0) ++ b16(0) ++ b32(0L) ++ b64(0L) // free-space terminator
      val head = "GCOL".getBytes("US-ASCII") ++ Array[Byte](1, 0, 0, 0) ++
        b64(16L + body.size)
      appendAt(head ++ body.toArray)
    }

    // ---- per-var storage: write data blocks (+ btree for chunked)
    // name -> (layout message body maker given nothing, filters present)
    final case class Storage(layoutBody: Array[Byte], filtered: Boolean)
    val storage: Map[String, Storage] = vars.map { v =>
      if (v.compound.nonEmpty) {
        require(v.chunks.isEmpty, s"${v.name}: compound variables are contiguous-only")
        require(!hasFilters(v), s"${v.name}: compound variables take no filters")
        require(v.cdata.size == v.shape.product, s"${v.name}: cdata size mismatch")
        val sizes = v.compound.map(m => elemSize(m._2))
        val msize = sizes.sum
        val raw = new Array[Byte](v.cdata.size * msize)
        v.cdata.zipWithIndex.foreach { case (row, i) =>
          require(row.size == v.compound.size, s"${v.name}: row $i arity")
          var off = i * msize
          row.zip(v.compound).zip(sizes).foreach { case ((cell, (mn, mdt)), sz) =>
            cell match {
              case s: String =>
                require(mdt.startsWith("s"), s"${v.name}.$mn: string for $mdt")
                val b = s.getBytes("UTF-8")
                require(b.length <= sz, s"${v.name}.$mn: '$s' exceeds $sz bytes")
                System.arraycopy(b, 0, raw, off, b.length) // NUL-padded
              case d: Double =>
                val bits = mdt match {
                  case "f8" => java.lang.Double.doubleToLongBits(d)
                  case "f4" => java.lang.Float.floatToIntBits(d.toFloat).toLong & 0xffffffffL
                  case "i4" => d.toLong & 0xffffffffL
                  case "i2" => d.toLong & 0xffffL
                  case other => throw new IllegalArgumentException(
                    s"${v.name}.$mn: member dtype $other")
                }
                var j = 0
                while (j < sz) { raw(off + j) = ((bits >> (8 * j)) & 0xff).toByte; j += 1 }
              case other => throw new IllegalArgumentException(
                s"${v.name}.$mn: cell ${other.getClass}")
            }
            off += sz
          }
        }
        val addr = appendAt(raw)
        val body = Array[Byte](3, 1) ++ b64(addr) ++ b64(raw.length.toLong)
        v.name -> Storage(body, filtered = false)
      } else if (v.dtype.startsWith("a") && v.dtype.length > 1) {
        require(v.chunks.isEmpty, s"${v.name}: array-datatype variables are contiguous-only")
        require(!hasFilters(v), s"${v.name}: array-datatype variables take no filters")
        require(v.vdata.size == v.shape.product, s"${v.name}: vdata size mismatch")
        val k = v.dtype.drop(1).toInt
        val raw = new Array[Byte](v.vdata.size * k * 8)
        v.vdata.zipWithIndex.foreach { case (row, i) =>
          require(row.size == k, s"${v.name}: cell $i has ${row.size} of $k elements")
          row.zipWithIndex.foreach { case (d, j) =>
            val bits = java.lang.Double.doubleToLongBits(d)
            var b = 0
            while (b < 8) {
              raw((i * k + j) * 8 + b) = ((bits >> (8 * b)) & 0xff).toByte
              b += 1
            }
          }
        }
        val addr = appendAt(raw)
        val body = Array[Byte](3, 1) ++ b64(addr) ++ b64(raw.length.toLong)
        v.name -> Storage(body, filtered = false)
      } else if (v.dtype.startsWith("o") && v.dtype.length > 1) {
        require(v.chunks.isEmpty, s"${v.name}: opaque variables are contiguous-only")
        require(!hasFilters(v), s"${v.name}: opaque variables take no filters")
        require(v.bdata.size == v.shape.product, s"${v.name}: bdata size mismatch")
        val w = elemSize(v.dtype)
        val raw = new Array[Byte](v.bdata.size * w)
        v.bdata.zipWithIndex.foreach { case (b, i) =>
          // exact width: opaque cells are raw bytes — silent zero-padding
          // would make a written blob read back != itself
          require(b.length == w, s"${v.name}: cell $i is ${b.length} B, cells are $w B")
          System.arraycopy(b, 0, raw, i * w, b.length)
        }
        val addr = appendAt(raw)
        val body = Array[Byte](3, 1) ++ b64(addr) ++ b64(raw.length.toLong)
        v.name -> Storage(body, filtered = false)
      } else if (v.dtype == "vld") {
        require(v.chunks.isEmpty, s"${v.name}: vlen variables are contiguous-only")
        require(!hasFilters(v), s"${v.name}: vlen variables take no filters")
        require(v.vdata.size == v.shape.product, s"${v.name}: vdata size mismatch")
        // ragged element payloads land in one GCOL (f8 LE cells); the
        // dataset stores 16-byte {nelems, gheap addr, gheap idx} descriptors
        val objs = v.vdata.map { seq =>
          val b = new Array[Byte](seq.size * 8)
          seq.zipWithIndex.foreach { case (d, j) =>
            val bits = java.lang.Double.doubleToLongBits(d)
            var k = 0
            while (k < 8) { b(j * 8 + k) = ((bits >> (8 * k)) & 0xff).toByte; k += 1 }
          }
          b
        }
        val gaddr = writeGcol(objs)
        val desc = ArrayBuffer.empty[Byte]
        v.vdata.zipWithIndex.foreach { case (seq, i) =>
          desc ++= b32(seq.size.toLong) ++ b64(gaddr) ++ b32((i + 1).toLong)
        }
        val addr = appendAt(desc.toArray)
        val body = Array[Byte](3, 1) ++ b64(addr) ++ b64(desc.size.toLong)
        v.name -> Storage(body, filtered = false)
      } else if (isStringDtype(v.dtype)) {
        require(v.chunks.isEmpty, s"${v.name}: string variables are contiguous-only")
        require(!hasFilters(v), s"${v.name}: string variables take no filters")
        require(v.sdata.size == v.shape.product, s"${v.name}: sdata size mismatch")
        val raw: Array[Byte] =
          if (v.dtype == "vls") {
            // strings land in one GCOL; the dataset stores 16-byte descriptors
            val bytes = v.sdata.map(_.getBytes("UTF-8"))
            val gaddr = writeGcol(bytes)
            val desc = ArrayBuffer.empty[Byte]
            bytes.zipWithIndex.foreach { case (b, i) =>
              desc ++= b32(b.length.toLong) ++ b64(gaddr) ++ b32((i + 1).toLong)
            }
            desc.toArray
          } else {
            val n = elemSize(v.dtype)
            val cells = new Array[Byte](v.sdata.size * n) // NUL-padded
            v.sdata.zipWithIndex.foreach { case (s, i) =>
              val b = s.getBytes("UTF-8")
              require(b.length <= n, s"${v.name}: '$s' exceeds $n-byte cells")
              System.arraycopy(b, 0, cells, i * n, b.length)
            }
            cells
          }
        val addr = appendAt(raw)
        val body = Array[Byte](3, 1) ++ b64(addr) ++ b64(raw.length.toLong)
        v.name -> Storage(body, filtered = false)
      } else {
      require(v.data.size == v.shape.product, s"${v.name}: data size mismatch")
      val w = elemSize(v.dtype)
      v.chunks match {
        case None =>
          val raw = packValues(v, v.data)
          val addr = appendAt(raw)
          // layout v3 class 1: contiguous
          val body = Array[Byte](3, 1) ++ b64(addr) ++ b64(raw.length.toLong)
          v.name -> Storage(body, filtered = false)
        case Some(chunkDims) =>
          require(chunkDims.size == v.shape.size, s"${v.name}: chunk rank")
          val rank = v.shape.size
          val grid = v.shape.zip(chunkDims).map { case (s, c) => (s + c - 1) / c }
          val chunkRefs = ArrayBuffer.empty[(Seq[Long], Long, Int)] // offsets, addr, nbytes
          def rec(dim: Int, idx: List[Int]): Unit =
            if (dim == rank) {
              val offsets = idx.zip(chunkDims).map { case (ci, c) => ci.toLong * c }
              // gather the chunk's cells (edge chunks zero-padded like HDF5)
              val cells = new Array[Double](chunkDims.product)
              val localShape = chunkDims
              def gather(d: Int, gIdx: Array[Int], lIdx: Array[Int]): Unit =
                if (d == rank) {
                  val inBounds = gIdx.zip(v.shape).forall { case (g, s) => g < s }
                  val li = lIdx.zip(localShape).foldLeft(0) { case (acc, (l, c)) => acc * c + l }
                  if (inBounds) {
                    val gi = gIdx.zip(v.shape).foldLeft(0) { case (acc, (g, s)) => acc * s + g }
                    cells(li) = v.data(gi)
                  }
                } else {
                  var l = 0
                  while (l < localShape(d)) {
                    gIdx(d) = offsets(d).toInt + l
                    lIdx(d) = l
                    gather(d + 1, gIdx, lIdx)
                    l += 1
                  }
                }
              gather(0, new Array[Int](rank), new Array[Int](rank))
              var bytes =
                if (v.nbit.isDefined) nbitBytes(v, cells)
                else if (v.scaleoffset || v.scaleoffsetD.isDefined)
                  scaleoffsetBytes(v, cells)
                else packValues(v.copy(), cells)
              if (v.shuffle) bytes = shuffleBytes(bytes, w)
              if (v.deflate) bytes = deflateBytes(bytes)
              if (v.szip) bytes = szipBytes(bytes, elemSize(v.dtype))
              v.bitshuffle.foreach { flag =>
                bytes = bitshuffleBytes(bytes, elemSize(v.dtype),
                  v.bitshuffleBlockElems, flag)
              }
              if (v.blosc) bytes = graft.sources.zarr.Blosc.compress(
                bytes, math.min(elemSize(v.dtype), 255), shuffle = true)
              if (v.lz4) bytes = lz4Bytes(bytes)
              if (v.zstd) bytes = graft.sources.zarr.Zstd.compressStore(bytes)
              val addr = appendAt(bytes)
              chunkRefs += ((offsets, addr, bytes.length))
            } else (0 until grid(dim)).foreach(ci => rec(dim + 1, idx :+ ci))
          rec(0, Nil)
          if (v.chunkIndex == "fixedarray") {
            // layout v4 + fixed-array index: FADB data block of per-chunk
            // entries in C-order (the rec() emission order), then the FAHD
            // header right after it. Filtered datasets use client id 1
            // (addr + u32 stored size + u32 filter mask per entry).
            val filtered = hasFilters(v)
            val clientId = if (filtered) 1 else 0
            val entrySize = if (filtered) 16 else 8
            val nChunks = chunkRefs.size
            val pageBits = v.faPageBits
            val pageNelmts = 1 << pageBits
            val paged = nChunks > pageNelmts
            val fadb = ArrayBuffer.empty[Byte]
            fadb ++= "FADB".getBytes("US-ASCII")
            fadb += 0                                   // version
            fadb += clientId.toByte
            val fadbAddr = out.size.toLong
            def entry(ref: (Seq[Long], Long, Int)): Array[Byte] =
              if (filtered) b64(ref._2) ++ b32(ref._3.toLong) ++ b32(0L)
              else b64(ref._2)
            val fadbLen =
              if (!paged) 14 + nChunks * entrySize + 4
              else {
                val nPages = (nChunks + pageNelmts - 1) / pageNelmts
                // header + bitmap + checksum, then full pages (elements +
                // per-page checksum) with an unpadded last page
                14 + (nPages + 7) / 8 + 4 + nChunks * entrySize + nPages * 4
              }
            val fahdAddr = fadbAddr + fadbLen
            fadb ++= b64(fahdAddr)                      // back-pointer to FAHD
            if (!paged) {
              chunkRefs.foreach(r => fadb ++= entry(r))
              fadb ++= b32(0L)                          // checksum (unverified)
            } else {
              val nPages = (nChunks + pageNelmts - 1) / pageNelmts
              // page bitmap: every page initialized
              (0 until (nPages + 7) / 8).foreach { byteIdx =>
                var bits = 0
                (0 until 8).foreach { k =>
                  if (byteIdx * 8 + k < nPages) bits |= 1 << k
                }
                fadb += bits.toByte
              }
              fadb ++= b32(0L)                          // data block checksum
              chunkRefs.grouped(pageNelmts).foreach { page =>
                page.foreach(r => fadb ++= entry(r))
                fadb ++= b32(0L)                        // per-page checksum
              }
            }
            require(fadb.size == fadbLen, s"FADB length drift ${fadb.size} vs $fadbLen")
            appendAt(fadb.toArray)
            val fahd = ArrayBuffer.empty[Byte]
            fahd ++= "FAHD".getBytes("US-ASCII")
            fahd += 0                                   // version
            fahd += clientId.toByte
            fahd += entrySize.toByte
            fahd += pageBits.toByte
            fahd ++= b64(nChunks.toLong)                // max num entries
            fahd ++= b64(fadbAddr)
            fahd ++= b32(0L)                            // checksum (unverified)
            require(appendAt(fahd.toArray) == fahdAddr, "FAHD address drift")
            val body = ArrayBuffer[Byte](4, 2, 0, rank.toByte, 4)
            chunkDims.foreach(c => body ++= b32(c.toLong))
            body += 3                                   // index type: fixed array
            body += pageBits.toByte
            body ++= b64(fahdAddr)
            v.name -> Storage(body.toArray, filtered = filtered)
          } else if (v.chunkIndex == "extensible") {
            // layout v4 + extensible-array index: inline index-block
            // elements, early data blocks addressed from the index block,
            // super blocks beyond (H5EA geometry — super block u holds
            // 2^(u/2) data blocks of 2^((u+1)/2)*minElmts entries)
            val filtered = hasFilters(v)
            val clientId = if (filtered) 1 else 0
            val entrySize = if (filtered) 16 else 8
            val nChunks = chunkRefs.size
            val maxNelmtsBits = 32
            val arrOffSize = 4
            def entry(ref: (Seq[Long], Long, Int)): Array[Byte] =
              if (filtered) b64(ref._2) ++ b32(ref._3.toLong) ++ b32(0L)
              else b64(ref._2)
            // super-block geometry truncated to the chunks we hold
            final case class Sb(ndblks: Int, dblkNelmts: Int, startIdx: Long)
            val sblks = {
              val b = Seq.newBuilder[Sb]
              var start = 0L
              var u = 0
              while (v.eaIdxBlkElmts + start < nChunks && u < 64) {
                val nd = 1 << (u / 2)
                val ne = (1 << ((u + 1) / 2)) * v.eaDataBlkMinElmts
                b += Sb(nd, ne, start)
                start += nd.toLong * ne
                u += 1
              }
              b.result()
            }
            val patches = ArrayBuffer.empty[Long] // headerAddr fields to patch
            def blockHead(sig: String, withOffset: Option[Long]): ArrayBuffer[Byte] = {
              val bb = ArrayBuffer.empty[Byte]
              bb ++= sig.getBytes("US-ASCII") += 0 += clientId.toByte
              patches += out.size.toLong + bb.size // headerAddr position
              bb ++= b64(0L)                       // patched to EAHD later
              withOffset.foreach(o => bb ++= b32(o))
              bb
            }
            // data blocks, in linear order; remember each one's address.
            // Blocks past one page store pages (pageNelmts entries +
            // checksum each) after the header+checksum instead of inline
            // elements — the shape deep super blocks reach.
            val pageNelmts = 1 << v.eaMaxDblkPageBits
            def writeDblk(firstIdx: Int, nelmts: Int): Long = {
              val slice = chunkRefs.slice(firstIdx, math.min(firstIdx + nelmts, nChunks))
              if (slice.isEmpty) return Hdf5.Undef
              val db = blockHead("EADB", Some(firstIdx.toLong))
              if (nelmts <= pageNelmts) {
                slice.foreach(r => db ++= entry(r))
                db ++= b32(0L) // checksum (unverified)
              } else {
                db ++= b32(0L) // data block checksum, pages follow
                slice.grouped(pageNelmts).foreach { page =>
                  page.foreach(r => db ++= entry(r))
                  db ++= b32(0L) // per-page checksum
                }
              }
              appendAt(db.toArray)
            }
            val iblkNdblkAddrs = 2 * (v.eaSupBlkMinDataPtrs - 1)
            val sblkInIblk = sblks.indices.count(u => sblks(u).ndblks < v.eaSupBlkMinDataPtrs)
            val earlyDblkAddrs = ArrayBuffer.empty[Long]
            sblks.take(sblkInIblk).foreach { s =>
              (0 until s.ndblks).foreach { d =>
                val first = v.eaIdxBlkElmts + s.startIdx + d.toLong * s.dblkNelmts
                earlyDblkAddrs +=
                  (if (first < nChunks) writeDblk(first.toInt, s.dblkNelmts) else Hdf5.Undef)
              }
            }
            while (earlyDblkAddrs.size < iblkNdblkAddrs) earlyDblkAddrs += Hdf5.Undef
            val sblkAddrs = sblks.drop(sblkInIblk).map { s =>
              val dblkAddrs = (0 until s.ndblks).map { d =>
                val first = v.eaIdxBlkElmts + s.startIdx + d.toLong * s.dblkNelmts
                if (first < nChunks) writeDblk(first.toInt, s.dblkNelmts) else Hdf5.Undef
              }
              val sb = blockHead("EASB", Some(s.startIdx))
              if (s.dblkNelmts > pageNelmts) {
                // page-init bitmap: bit set for every page holding entries
                val pagesPerDblk = (s.dblkNelmts + pageNelmts - 1) / pageNelmts
                val bits = new Array[Boolean](s.ndblks * pagesPerDblk)
                (0 until s.ndblks).foreach { d =>
                  val first = v.eaIdxBlkElmts + s.startIdx + d.toLong * s.dblkNelmts
                  val held = math.max(0L, math.min(s.dblkNelmts.toLong, nChunks - first))
                  val np = ((held + pageNelmts - 1) / pageNelmts).toInt
                  (0 until np).foreach(p => bits(d * pagesPerDblk + p) = true)
                }
                (0 until (bits.length + 7) / 8).foreach { byteIdx =>
                  var b = 0
                  (0 until 8).foreach { k =>
                    if (byteIdx * 8 + k < bits.length && bits(byteIdx * 8 + k)) b |= 1 << k
                  }
                  sb += b.toByte
                }
              }
              dblkAddrs.foreach(a => sb ++= b64(a))
              sb ++= b32(0L)
              appendAt(sb.toArray)
            }
            val ib = blockHead("EAIB", None)
            chunkRefs.take(math.min(v.eaIdxBlkElmts, nChunks)).foreach(r => ib ++= entry(r))
            (nChunks until v.eaIdxBlkElmts).foreach { _ =>
              ib ++= b64(Hdf5.Undef)
              if (filtered) ib ++= b32(0L) ++ b32(0L) // full entry width
            }
            earlyDblkAddrs.foreach(a => ib ++= b64(a))
            sblkAddrs.foreach(a => ib ++= b64(a))
            ib ++= b32(0L)
            val iblkAddr = appendAt(ib.toArray)
            val eahd = ArrayBuffer.empty[Byte]
            eahd ++= "EAHD".getBytes("US-ASCII") += 0 += clientId.toByte
            eahd += entrySize.toByte += maxNelmtsBits.toByte
            eahd += v.eaIdxBlkElmts.toByte += v.eaDataBlkMinElmts.toByte
            eahd += v.eaSupBlkMinDataPtrs.toByte += v.eaMaxDblkPageBits.toByte
            (0 until 6).foreach(_ => eahd ++= b64(0L)) // stats (unread)
            eahd ++= b64(iblkAddr) ++ b32(0L)          // index block, checksum
            val eahdAddr = appendAt(eahd.toArray)
            patches.foreach { pos =>
              val pb = b64(eahdAddr)
              (0 until 8).foreach(i => out((pos + i).toInt) = pb(i))
            }
            val body = ArrayBuffer[Byte](4, 2, 0, rank.toByte, 4)
            chunkDims.foreach(c => body ++= b32(c.toLong))
            body += 4                                   // index type: extensible array
            body += maxNelmtsBits.toByte += v.eaIdxBlkElmts.toByte
            body += v.eaDataBlkMinElmts.toByte += v.eaSupBlkMinDataPtrs.toByte += v.eaMaxDblkPageBits.toByte
            body ++= b64(eahdAddr)
            v.name -> Storage(body.toArray, filtered = filtered)
          } else if (v.chunkIndex == "btree2") {
            // layout v4 + depth-0 v2 B-tree chunk index (record type 10
            // unfiltered / 11 filtered; scaled chunk coordinates)
            val filtered = hasFilters(v)
            val btType = if (filtered) 11 else 10
            val recordSize = if (filtered) 8 + 8 + 4 + rank * 8 else 8 + rank * 8
            val leaf = ArrayBuffer.empty[Byte]
            leaf ++= "BTLF".getBytes("US-ASCII") += 0 += btType.toByte
            chunkRefs.foreach { case (offsets, addr, n) =>
              leaf ++= b64(addr)
              if (filtered) leaf ++= b64(n.toLong) ++ b32(0L) // size + mask
              offsets.zip(chunkDims).foreach { case (o, c) => leaf ++= b64(o / c) }
            }
            leaf ++= b32(0L)                            // checksum (unverified)
            val leafAddr = appendAt(leaf.toArray)
            val bthd = ArrayBuffer.empty[Byte]
            bthd ++= "BTHD".getBytes("US-ASCII") += 0 += btType.toByte
            bthd ++= b32(2048L) ++ b16(recordSize) ++ b16(0) // node, record, depth
            bthd += 100 += 40                                // split/merge %
            bthd ++= b64(leafAddr) ++ b16(chunkRefs.size)
            bthd ++= b64(chunkRefs.size.toLong) ++ b32(0L)   // total, checksum
            val bthdAddr = appendAt(bthd.toArray)
            val body = ArrayBuffer[Byte](4, 2, 0, rank.toByte, 4)
            chunkDims.foreach(c => body ++= b32(c.toLong))
            body += 5                                   // index type: v2 B-tree
            body ++= b32(2048L) += 100 += 40            // node size, split/merge
            body ++= b64(bthdAddr)
            v.name -> Storage(body.toArray, filtered = filtered)
          } else {
          // v1 chunk B-tree: leaves of up to `chunkBtreeFanout` entries,
          // stacked under internal nodes until one root remains — multi-GB
          // files have thousands of chunks, so level > 0 trees are the
          // shape readers meet at scale
          def writeNode(level: Int,
              entries: Seq[(Seq[Long], Long, Int)]): (Long, (Seq[Long], Long, Int)) = {
            val node = ArrayBuffer.empty[Byte]
            node ++= "TREE".getBytes("US-ASCII")
            node += 1 // node type: chunk
            node += level.toByte
            node ++= b16(entries.size)
            node ++= b64(Hdf5.Undef) ++ b64(Hdf5.Undef) // siblings (unused)
            entries.foreach { case (offsets, addr, n) =>
              node ++= b32(n.toLong) ++ b32(0L) // size, filter mask
              offsets.foreach(o => node ++= b64(o))
              node ++= b64(0L) // trailing element-size offset
              node ++= b64(addr)
            }
            node ++= b32(0L) ++ b32(0L) // final key
            (0 to rank).foreach(_ => node ++= b64(0L))
            (appendAt(node.toArray), entries.head)
          }
          var layer: Seq[(Long, (Seq[Long], Long, Int))] =
            chunkRefs.grouped(v.chunkBtreeFanout).map(g => writeNode(0, g.toSeq)).toSeq
          var level = 1
          while (layer.size > 1) {
            layer = layer.grouped(v.chunkBtreeFanout).map { g =>
              // internal entries: child's first key + the child node address
              writeNode(level, g.map { case (addr, (offs, _, sz)) => (offs, addr, sz) })
            }.toSeq
            level += 1
          }
          val btreeAddr = layer.head._1
          val body = (ArrayBuffer[Byte](3, 2, (rank + 1).toByte) ++= b64(btreeAddr)).toArray ++
            chunkDims.flatMap(c => b32(c.toLong)) ++ b32(w.toLong)
          v.name -> Storage(body, filtered = hasFilters(v))
          }
      }
      }
    }.toMap

    // ---- message builders
    def dataspaceMsg(shape: Seq[Int]): Array[Byte] =
      (Array[Byte](1, shape.size.toByte, 0) ++ new Array[Byte](5)) ++
        shape.flatMap(s => b64(s.toLong))

    def datatypeMsg(dtype: String, nbit: Option[(Int, Int)] = None): Array[Byte] = dtype match {
      case "f8" | "f4" =>
        val sz = elemSize(dtype)
        // class 1 float, LE; IEEE properties (exp/mantissa spans)
        val (expLoc, expSz, manSz, bias) =
          if (sz == 8) (52, 11, 52, 1023L) else (23, 8, 23, 127L)
        Array[Byte](0x11, 0x20, (if (sz == 8) 63 else 31).toByte, 0) ++
          b32(sz.toLong) ++
          b16(0) ++ b16(sz * 8) ++
          Array[Byte](expLoc.toByte, expSz.toByte, 0, manSz.toByte) ++ b32(bias)
      case "i4" | "i2" =>
        val sz = elemSize(dtype)
        // class 0 fixed, LE, signed; nbit datasets declare the reduced
        // precision + bit offset (H5Tset_precision/H5Tset_offset view)
        val (off, prec) = nbit.getOrElse((0, sz * 8))
        Array[Byte](0x10, 0x08, 0, 0) ++ b32(sz.toLong) ++ b16(off) ++ b16(prec)
      case "vls" => vlenStrDtMsg()
      case "vld" => vlenSeqDtMsg()
      case o if o.startsWith("o") && o.length > 1 => opaqueDtMsg(elemSize(o))
      case a if a.startsWith("a") && a.length > 1 => arrayDtMsg(a.drop(1).toInt)
      case s if isStringDtype(s) => stringDtMsg(elemSize(s))
    }

    def stringDtMsg(len: Int): Array[Byte] =
      Array[Byte](0x13, 0, 0, 0) ++ b32(len.toLong) // class 3, NUL-terminated

    def refDtMsg(): Array[Byte] =
      Array[Byte](0x17, 0, 0, 0) ++ b32(8L) // class 7, object reference

    def vlenRefDtMsg(): Array[Byte] =
      Array[Byte](0x19, 0, 0, 0) ++ b32(16L) ++ refDtMsg() // class 9 sequence of refs

    def vlenStrDtMsg(): Array[Byte] = // class 9, vlen type 1 = string
      Array[Byte](0x19, 0x01, 0, 0) ++ b32(16L) ++ stringDtMsg(1)

    def vlenSeqDtMsg(): Array[Byte] = // class 9, vlen type 0 = sequence, f8 base
      Array[Byte](0x19, 0x00, 0, 0) ++ b32(16L) ++ datatypeMsg("f8")

    def opaqueDtMsg(size: Int): Array[Byte] = // class 5, 8-byte ASCII tag
      Array[Byte](0x15, 0x08, 0, 0) ++ b32(size.toLong) ++
        "blob".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0)

    def arrayDtMsg(k: Int): Array[Byte] = // class 10 v3: 1-D of K f8 cells
      Array[Byte](0x3A, 0, 0, 0) ++ b32(k.toLong * 8) ++
        Array[Byte](1) ++ b32(k.toLong) ++ datatypeMsg("f8")

    // enum (class 8) v3: base type then NUL-terminated unpadded names and
    // base-type-sized values
    def enumDtMsg(base: String, members: Seq[(String, Long)]): Array[Byte] = {
      val baseMsg = datatypeMsg(base)
      val sz = elemSize(base)
      val buf = ArrayBuffer.empty[Byte]
      buf += 0x38.toByte // version 3, class 8
      buf += (members.size & 0xff).toByte
      buf += ((members.size >> 8) & 0xff).toByte
      buf += 0
      buf ++= b32(sz.toLong)
      buf ++= baseMsg
      members.foreach { case (n, _) => buf ++= n.getBytes("US-ASCII"); buf += 0 }
      members.foreach { case (_, v) =>
        (0 until sz).foreach(k => buf += ((v >> (8 * k)) & 0xff).toByte)
      }
      buf.toArray
    }

    // compound (class 6) v3: members at sequential packed offsets, each
    // name NUL-terminated unpadded, offset in min-bytes-for-size width
    def compoundDtMsg(members: Seq[(String, String)]): Array[Byte] = {
      val sizes = members.map(m => elemSize(m._2))
      val msize = sizes.sum
      var offBytes = 1
      while ((msize.toLong >> (8 * offBytes)) != 0) offBytes += 1
      val buf = ArrayBuffer.empty[Byte]
      buf += 0x36.toByte // version 3, class 6
      buf += (members.size & 0xff).toByte
      buf += ((members.size >> 8) & 0xff).toByte
      buf += 0
      buf ++= b32(msize.toLong)
      var off = 0
      members.zip(sizes).foreach { case ((name, dt), sz) =>
        buf ++= name.getBytes("US-ASCII")
        buf += 0
        (0 until offBytes).foreach(k => buf += ((off >> (8 * k)) & 0xff).toByte)
        buf ++= (if (dt.startsWith("s")) stringDtMsg(elemSize(dt))
          else datatypeMsg(dt))
        off += sz
      }
      buf.toArray
    }

    def filtersMsg(v: VarSpec): Array[Byte] = {
      val fs = ArrayBuffer.empty[Byte]
      var n = 0
      def add(id: Int, clientVals: Seq[Int], name: String = null): Unit = {
        n += 1
        // registered filters (id >= 256) carry a NUL-padded name, as
        // libhdf5 writes them (v1 message: length a multiple of 8)
        val nameBytes =
          if (name == null) Array.empty[Byte]
          else {
            val raw = name.getBytes("US-ASCII") :+ 0.toByte
            raw ++ new Array[Byte]((8 - raw.length % 8) % 8)
          }
        fs ++= b16(id) ++ b16(nameBytes.length) ++ b16(0) ++ b16(clientVals.size)
        fs ++= nameBytes
        clientVals.foreach(cv => fs ++= b32(cv.toLong))
        if (clientVals.size % 2 == 1) fs ++= b32(0L)
      }
      val chunkElems = v.chunks.map(_.product).getOrElse(v.shape.product)
      // nbit client values (H5Znbit.c): [#parms, need-not-compress,
      // elements/chunk, class=1 atomic, size, order=0 LE, precision,
      // bit offset]
      v.nbit.foreach { case (precision, bitOffset) =>
        add(5, Seq(8, 0, chunkElems, 1, elemSize(v.dtype), 0, precision, bitOffset))
      }
      // scaleoffset client values (H5Zscaleoffset.c, 20 parms): [scale
      // type (2 int / 0 float D-scale), scale factor, elements/chunk,
      // class, size, sign, order=0 LE, fill defined, fill bytes...]
      if (v.scaleoffset || v.scaleoffsetD.isDefined) {
        val w = elemSize(v.dtype)
        val isFloat = v.dtype.startsWith("f")
        val cvs = Array.fill(20)(0)
        cvs(0) = if (isFloat) 0 else 2
        cvs(1) = v.scaleoffsetD.getOrElse(0)
        cvs(2) = chunkElems
        cvs(3) = if (isFloat) 1 else 0
        cvs(4) = w
        cvs(5) = if (isFloat) 0 else 1 // our integer dtypes are signed
        cvs(6) = 0
        cvs(7) = if (v.fillValue.isDefined) 1 else 0
        v.fillValue.foreach { f =>
          val bits = v.dtype match {
            case "f8" => java.lang.Double.doubleToLongBits(f)
            case "f4" => java.lang.Float.floatToIntBits(f.toFloat).toLong & 0xffffffffL
            case _ => f.toLong
          }
          var j = 0
          while (j < w) {
            cvs(8 + j / 4) |= (((bits >> (8 * j)) & 0xff) << (8 * (j % 4))).toInt
            j += 1
          }
        }
        add(6, cvs.toSeq)
      }
      if (v.shuffle) add(2, Seq(elemSize(v.dtype)))
      if (v.deflate) add(1, Seq(6))
      // szip client values (H5Zszip.c): [options mask, bits/pixel,
      // pixels/block, pixels/scanline]; mask = RAW | NN | LSB = 168
      if (v.szip) add(4, Seq(168, elemSize(v.dtype) * 8, SzipPpb, SzipPps))
      // bitshuffle client values (bshuf_h5filter.c): [major, minor,
      // elem size, block elements, compression flag]
      v.bitshuffle.foreach { flag =>
        add(32008, Seq(0, 4, elemSize(v.dtype), v.bitshuffleBlockElems, flag),
          "bitshuffle; see https://github.com/kiyo-masui/bitshuffle")
      }
      // blosc client values (H5Zblosc.c): [filter version, blosc format,
      // typesize, chunk bytes, clevel, shuffle, compcode]
      if (v.blosc) {
        val chunkBytes = chunkElems * elemSize(v.dtype)
        add(32001, Seq(2, 2, elemSize(v.dtype), chunkBytes, 5, 1, 1), "blosc")
      }
      if (v.lz4) add(32004, Seq(Lz4BlockBytes), "HDF5 lz4 filter")
      if (v.zstd) add(32015, Seq(3), "Zstandard compression: http://www.zstd.net")
      (Array[Byte](1, n.toByte) ++ new Array[Byte](6)) ++ fs.toArray
    }

    def attr(name: String, dtMsg: Array[Byte], dsMsg: Array[Byte],
        value: Array[Byte]): Array[Byte] = {
      def p8(a: Array[Byte]): Array[Byte] =
        a ++ new Array[Byte]((8 - a.length % 8) % 8)
      val nameBytes = name.getBytes("US-ASCII") :+ 0.toByte
      Array[Byte](1, 0) ++ b16(nameBytes.length) ++ b16(dtMsg.length) ++
        b16(dsMsg.length) ++ p8(nameBytes) ++ p8(dtMsg) ++ p8(dsMsg) ++ value
    }

    def strAttr(name: String, s: String): Array[Byte] = {
      val bytes = s.getBytes("US-ASCII") :+ 0.toByte
      attr(name, stringDtMsg(bytes.length), dataspaceMsg(Nil), bytes)
    }
    def dblAttr(name: String, x: Double): Array[Byte] =
      attr(name, datatypeMsg("f8"), dataspaceMsg(Nil),
        b64(java.lang.Double.doubleToLongBits(x)))
    def dblsAttr(name: String, xs: Seq[Double]): Array[Byte] =
      attr(name, datatypeMsg("f8"), dataspaceMsg(Seq(xs.size)),
        xs.toArray.flatMap(x => b64(java.lang.Double.doubleToLongBits(x))))
    def intAttr(name: String, x: Int): Array[Byte] =
      attr(name, datatypeMsg("i4"), dataspaceMsg(Nil), b32(x.toLong))

    // ---- object headers (v1, or v2 `OHDR` in latest-format mode)
    def objectHeader(msgs: Seq[(Int, Array[Byte])]): Long = {
      pad8()
      if (latestFormat) {
        val body = ArrayBuffer.empty[Byte]
        msgs.foreach { case (typ, m) =>
          // v2 message head: type u8, size u16, flags u8 — no alignment
          body += typ.toByte
          body ++= b16(m.length)
          body += 0
          body ++= m
        }
        val hdr = ArrayBuffer.empty[Byte]
        hdr ++= "OHDR".getBytes("US-ASCII")
        hdr += 2          // version
        hdr += 0x02       // flags: 4-byte chunk-0 size, nothing optional
        hdr ++= b32(body.size.toLong) // chunk 0 size (checksum NOT counted)
        appendAt(hdr.toArray ++ body.toArray ++ b32(0L)) // trailing checksum
      } else {
        val body = ArrayBuffer.empty[Byte]
        msgs.foreach { case (typ, m) =>
          val padded = m ++ new Array[Byte]((8 - m.length % 8) % 8)
          body ++= b16(typ) ++ b16(padded.length) ++ Array[Byte](0, 0, 0, 0) ++ padded
        }
        val hdr = ArrayBuffer.empty[Byte]
        hdr += 1; hdr += 0                 // version, reserved
        hdr ++= b16(msgs.size)
        hdr ++= b32(1L)                    // reference count
        hdr ++= b32(body.size.toLong)      // header size
        hdr ++= b32(0L)                    // pad to 8-byte boundary (12 -> 16)
        appendAt(hdr.toArray ++ body.toArray)
      }
    }

    // dense-storage index (links or attributes): fractal heap + v2 B-tree.
    // Objects lay into doubling-table direct blocks (width 4, rows 0-1 at
    // 4096, row r >= 2 at 4096 << (r-1)); one block emits a direct root,
    // more emit a root indirect block (FHIB). `filtered` deflates every
    // direct block whole (header included) and records the pipeline +
    // root-block compressed size in the heap header. The B-tree is depth 0
    // while one leaf holds every record, else depth 1 (full leaves
    // separated by internal-node records, H5B2 pointer arithmetic);
    // `btNodeSize` shrinks in tests to force depth-1 trees cheaply.
    // `record` wraps a 7-byte heap id into the full B-tree record for the
    // index type. Returns (fractal heap addr, B-tree header addr).
    def denseIndex(bodies: Seq[Array[Byte]], btreeType: Int,
        record: Array[Byte] => Array[Byte], filtered: Boolean = false,
        btNodeSize: Int = 2048, startBlock: Long = 4096L,
        maxDirect: Long = 65536L): (Long, Long) = {
      pad8()
      val offsetSize = 4 // max heap size 32 bits
      val lengthSize = 2 // max managed object size 1024
      val width = 4
      val headerLen = 4 + 1 + 8 + offsetSize // FHDB header, no checksum
      def rowSize(r: Int): Long = if (r < 2) startBlock else startBlock << (r - 1)
      val maxDirectRows =
        (63 - java.lang.Long.numberOfLeadingZeros(maxDirect / startBlock)).toInt + 2
      val firstRowBits = java.lang.Long.numberOfTrailingZeros(startBlock * width)
      // structural enumeration of DIRECT blocks in heap-offset order: rows
      // past maxDirectRows expand through one level of child indirect
      // blocks, whose internal tables restart the doubling sequence
      final case class Blk(heapOff: Long, size: Long)
      val blkDefs = ArrayBuffer.empty[Blk]
      // per root entry: Left(direct block idx) or Right((childHeapOff, idxs))
      val rootEntries = ArrayBuffer.empty[Either[Int, (Long, Seq[Int])]]
      var allocOff = 0L
      var rowsAdded = 0
      def addRow(): Unit = {
        val r = rowsAdded
        if (r < maxDirectRows) {
          (0 until width).foreach { _ =>
            rootEntries += Left(blkDefs.size)
            blkDefs += Blk(allocOff, rowSize(r))
            allocOff += rowSize(r)
          }
        } else {
          val childNrows =
            ((63 - java.lang.Long.numberOfLeadingZeros(rowSize(r))) -
              firstRowBits + 1).toInt
          require(childNrows >= 1 && childNrows <= maxDirectRows,
            s"dense index needs ${if (childNrows < 1) "invalid" else "two"} " +
              "nesting levels (unsupported writer)")
          (0 until width).foreach { _ =>
            val childOff = allocOff
            val idxs = Seq.newBuilder[Int]
            (0 until childNrows).foreach { cr =>
              (0 until width).foreach { _ =>
                idxs += blkDefs.size
                blkDefs += Blk(allocOff, rowSize(cr))
                allocOff += rowSize(cr)
              }
            }
            rootEntries += Right((childOff, idxs.result()))
          }
        }
        rowsAdded += 1
      }
      addRow()
      // version-1 filter pipeline message body: deflate level 6
      val pipeline: Array[Byte] =
        if (!filtered) Array.emptyByteArray
        else Array[Byte](1, 1, 0, 0, 0, 0, 0, 0) ++
          b16(1) ++ b16(0) ++ b16(0) ++ b16(1) ++ b32(6L) ++ b32(0L)
      def deflateAll(raw: Array[Byte]): Array[Byte] = {
        val d = new Deflater(6)
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](raw.length + 64)
        val n = d.deflate(buf)
        d.end()
        java.util.Arrays.copyOfRange(buf, 0, n)
      }
      // place objects into the block sequence (objects never span blocks).
      // Bodies over the max managed size (1024) become HUGE objects: bytes
      // written outside the heap (deflated whole when the heap is
      // filtered), keyed by a huge-object v2 B-tree record (type 1
      // unfiltered {addr, len, id} / type 2 filtered {addr, stored len,
      // mask, memory size, id}); the heap id carries only the key. (TINY
      // ids never arise here: link/attribute messages are always larger
      // than the 6-byte id payload — the reader still decodes them.)
      val blockObjs = ArrayBuffer(ArrayBuffer.empty[Array[Byte]])
      var fill = headerLen.toLong // fill within the current block
      def blkIdx = blockObjs.size - 1
      val hugeRecs = ArrayBuffer.empty[Array[Byte]]
      var hugeBytes = 0L
      val heapIds = bodies.map { body =>
        if (body.length > 1024) {
          pad8()
          val payload = if (filtered) deflateAll(body) else body
          val addr = appendAt(payload)
          val hid = hugeRecs.size + 1L // ids are 1-based, like H5HF
          hugeBytes += body.length
          hugeRecs +=
            (if (filtered)
              (b64(addr) ++ b64(payload.length.toLong) ++ b32(0L) ++
                b64(body.length.toLong) ++ b64(hid)): Array[Byte]
            else (b64(addr) ++ b64(body.length.toLong) ++ b64(hid)): Array[Byte])
          (Array[Byte](0x10) ++ b32(hid) ++ b16(0)): Array[Byte]
        } else {
          if (fill + body.length > blkDefs(blkIdx).size) {
            blockObjs += ArrayBuffer.empty[Array[Byte]]
            if (blkIdx >= blkDefs.size) addRow()
            fill = headerLen.toLong
          }
          val off = blkDefs(blkIdx).heapOff + fill
          blockObjs(blkIdx) += body
          fill += body.length
          // managed heap id: flags 0, offset u32 LE, length u16 LE
          (Array[Byte](0) ++ b32(off) ++ b16(body.length)): Array[Byte]
        }
      }
      // the huge-object index: one v2 B-tree leaf (fixture scale)
      val hugeBtree: Long =
        if (hugeRecs.isEmpty) Hdf5.Undef
        else {
          pad8()
          val hugeType = if (filtered) 2 else 1
          require(hugeRecs.size <= (2048 - 10) / hugeRecs.head.length,
            s"${hugeRecs.size} huge objects need a multi-node huge B-tree")
          val leaf = ArrayBuffer.empty[Byte]
          leaf ++= "BTLF".getBytes("US-ASCII") += 0 += hugeType.toByte
          hugeRecs.foreach(leaf ++= _)
          leaf ++= b32(0L) // checksum (unverified)
          val leafAddr = appendAt(leaf.toArray)
          pad8()
          val hb = ArrayBuffer.empty[Byte]
          hb ++= "BTHD".getBytes("US-ASCII") += 0 += hugeType.toByte
          hb ++= b32(2048L) ++ b16(hugeRecs.head.length) ++ b16(0)
          hb += 100 += 40 // split/merge %
          hb ++= b64(leafAddr) ++ b16(hugeRecs.size)
          hb ++= b64(hugeRecs.size.toLong) ++ b32(0L)
          appendAt(hb.toArray)
        }
      val nBlocks = blockObjs.size
      val curRows = if (nBlocks == 1) 0 else rowsAdded
      val totalSpace =
        if (nBlocks == 1) startBlock
        else blkDefs(nBlocks - 1).heapOff + blkDefs(nBlocks - 1).size
      val frhp = ArrayBuffer.empty[Byte]
      frhp ++= "FRHP".getBytes("US-ASCII") += 0
      frhp ++= b16(1 + offsetSize + lengthSize) // heap ID length
      frhp ++= b16(pipeline.length)             // I/O filter info length
      frhp += 0       // flags: no block checksums
      frhp ++= b32(1024L) // max managed object size
      frhp ++= b64(hugeRecs.size + 1L) ++ b64(hugeBtree) // next huge id, huge btree
      frhp ++= b64(0L) ++ b64(Hdf5.Undef)  // free space, free-space mgr
      frhp ++= b64(totalSpace) ++ b64(totalSpace) // managed space, allocated
      frhp ++= b64(headerLen.toLong)       // direct block iterator offset
      frhp ++= b64(bodies.size - hugeRecs.size.toLong) // managed objects
      frhp ++= b64(hugeBytes) ++ b64(hugeRecs.size.toLong) // huge size, count
      frhp ++= b64(0L) ++ b64(0L)                      // tiny size, count
      frhp ++= b16(width)                  // table width
      frhp ++= b64(startBlock) ++ b64(maxDirect) // starting/max direct size
      frhp ++= b16(32)                     // max heap size (bits)
      frhp ++= b16(0)                      // starting rows
      val rootBlockAddrAt = frhp.size
      frhp ++= b64(0L)                     // root block addr (patched below)
      frhp ++= b16(curRows)                // 0 = direct root, else indirect
      val rootFsizeAt = frhp.size
      if (filtered) {
        // filtered-root size + mask exist ONLY for a direct root block
        // (curRows == 0); indirect roots carry sizes in their FHIB entries
        if (curRows == 0) {
          frhp ++= b64(0L)                 // filtered root size (patched)
          frhp ++= b32(0L)                 // root filter mask
        }
        frhp ++= pipeline
      }
      frhp ++= b32(0L)                     // checksum (unverified)
      val frhpAddr = appendAt(frhp.toArray)
      def patch64(at: Long, v: Long): Unit = {
        val p = b64(v)
        (0 until 8).foreach(i => out((at + i).toInt) = p(i))
      }
      // direct blocks: header + objects at their heap-space offsets
      val blockMeta = (0 until nBlocks).map { bi =>
        pad8()
        val nominal = blkDefs(bi).size
        val block = ArrayBuffer.empty[Byte]
        block ++= "FHDB".getBytes("US-ASCII") += 0
        block ++= b64(frhpAddr)
        block ++= b32(blkDefs(bi).heapOff) // heap-space offset (offsetSize 4)
        blockObjs(bi).foreach(block ++= _)
        require(block.size <= nominal, s"block $bi overflows ${nominal}B")
        while (block.size < nominal) block += 0
        val raw = block.toArray
        val payload = if (filtered) deflateAll(raw) else raw
        (appendAt(payload), payload.length.toLong)
      }
      def directEntry(ib: ArrayBuffer[Byte], idx: Int): Unit =
        if (idx < nBlocks) {
          ib ++= b64(blockMeta(idx)._1)
          if (filtered) { ib ++= b64(blockMeta(idx)._2); ib ++= b32(0L) }
        } else {
          ib ++= b64(Hdf5.Undef)
          if (filtered) { ib ++= b64(0L); ib ++= b32(0L) }
        }
      if (nBlocks == 1) {
        patch64(frhpAddr + rootBlockAddrAt, blockMeta.head._1)
        if (filtered) patch64(frhpAddr + rootFsizeAt, blockMeta.head._2)
      } else {
        // child indirect blocks first (rows past maxDirectRows), then the
        // root indirect block referencing direct children and child FHIBs
        val childAddrs: Map[Int, Long] = rootEntries.zipWithIndex.collect {
          case (Right((childOff, idxs)), e) if idxs.head < nBlocks =>
            pad8()
            val cib = ArrayBuffer.empty[Byte]
            cib ++= "FHIB".getBytes("US-ASCII") += 0
            cib ++= b64(frhpAddr)
            cib ++= b32(childOff) // child's heap-space offset
            idxs.foreach(directEntry(cib, _))
            cib ++= b32(0L) // checksum (unverified)
            e -> appendAt(cib.toArray)
        }.toMap
        pad8()
        val ib = ArrayBuffer.empty[Byte]
        ib ++= "FHIB".getBytes("US-ASCII") += 0
        ib ++= b64(frhpAddr)
        ib ++= b32(0L) // block offset of the root indirect block
        rootEntries.zipWithIndex.take(curRows * width).foreach {
          case (Left(idx), _) => directEntry(ib, idx)
          case (Right(_), e) => // indirect entries carry no filter fields
            ib ++= b64(childAddrs.getOrElse(e, Hdf5.Undef))
        }
        ib ++= b32(0L) // checksum (unverified)
        patch64(frhpAddr + rootBlockAddrAt, appendAt(ib.toArray))
      }
      // v2 B-tree of the records: depth 0 (one leaf) or depth 1
      pad8()
      val records = heapIds.map(record)
      val recordSize = records.headOption.map(_.length).getOrElse(11)
      require(records.forall(_.length == recordSize), "ragged B-tree records")
      val leafCap = (btNodeSize - 10) / recordSize
      require(leafCap >= 2, s"btNodeSize $btNodeSize too small for $recordSize-byte records")
      def leafNode(recs: Seq[Array[Byte]]): Long = {
        val leaf = ArrayBuffer.empty[Byte]
        leaf ++= "BTLF".getBytes("US-ASCII") += 0 += btreeType.toByte
        recs.foreach(leaf ++= _)
        leaf ++= b32(0L) // checksum (unverified)
        val a = appendAt(leaf.toArray); pad8(); a
      }
      val (rootNodeAddr, rootN, depth) =
        if (records.size <= leafCap) (leafNode(records), records.size, 0)
        else {
          // depth 1: full leaves with separator records in the internal
          // root; child-pointer count width = bytesFor(leaf capacity)
          val maxNrecSize = if (leafCap < 256) 1 else 2
          val ptrSize = 8 + maxNrecSize
          val intCap = (btNodeSize - 10 - ptrSize) / (recordSize + ptrSize)
          val leaves = ArrayBuffer.empty[(Long, Int)]
          val seps = ArrayBuffer.empty[Array[Byte]]
          var i = 0
          val n = records.size
          while (i < n) {
            var take = math.min(leafCap, n - i)
            if (n - i - take == 1) take -= 1 // a leaf must follow the separator
            val chunk = records.slice(i, i + take)
            leaves += ((leafNode(chunk), chunk.size))
            i += take
            if (i < n) { seps += records(i); i += 1 }
          }
          require(seps.size == leaves.size - 1 && seps.size <= intCap,
            s"dense index needs v2 B-tree depth 2 (${records.size} records)")
          val node = ArrayBuffer.empty[Byte]
          node ++= "BTIN".getBytes("US-ASCII") += 0 += btreeType.toByte
          seps.foreach(node ++= _)
          leaves.foreach { case (a, nr) =>
            node ++= b64(a)
            node += (nr & 0xff).toByte
            if (maxNrecSize == 2) node += ((nr >> 8) & 0xff).toByte
          }
          node ++= b32(0L) // checksum (unverified)
          (appendAt(node.toArray), seps.size, 1)
        }
      pad8()
      val bthd = ArrayBuffer.empty[Byte]
      bthd ++= "BTHD".getBytes("US-ASCII") += 0 += btreeType.toByte
      bthd ++= b32(btNodeSize.toLong) ++ b16(recordSize) ++ b16(depth)
      bthd += 100 += 40                                 // split/merge %
      bthd ++= b64(rootNodeAddr) ++ b16(rootN)
      bthd ++= b64(records.size.toLong) ++ b32(0L)      // total records, checksum
      (frhpAddr, appendAt(bthd.toArray))
    }

    // 1) dimension-scale headers (coordinate vars + phony dims)
    val dimAddr = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    coordVars.foreach { v =>
      val msgs = ArrayBuffer.empty[(Int, Array[Byte])]
      msgs += ((0x01, dataspaceMsg(v.shape)))
      msgs += ((0x03, datatypeMsg(v.dtype, v.nbit)))
      if (storage(v.name).filtered) msgs += ((0x0B, filtersMsg(v)))
      msgs += ((0x08, storage(v.name).layoutBody))
      msgs += ((0x0C, strAttr("CLASS", "DIMENSION_SCALE")))
      msgs += ((0x0C, strAttr("NAME", v.name)))
      msgs += ((0x0C, intAttr("_Netcdf4Dimid", dimNames.indexOf(v.name))))
      v.units.foreach(u => msgs += ((0x0C, strAttr("units", u))))
      v.scaleFactor.foreach(s => msgs += ((0x0C, dblAttr("scale_factor", s))))
      v.addOffset.foreach(o => msgs += ((0x0C, dblAttr("add_offset", o))))
      dimAddr(v.name) = objectHeader(msgs.toSeq)
    }
    phonyDims.foreach { d =>
      val size = dimSizes(d)
      val zeros = packValues(VarSpec(d, Seq(d), Seq(size),
        Seq.fill(size)(0.0), "f4"), Seq.fill(size)(0.0))
      val addr = appendAt(zeros)
      val layout = Array[Byte](3, 1) ++ b64(addr) ++ b64(zeros.length.toLong)
      dimAddr(d) = objectHeader(Seq(
        (0x01, dataspaceMsg(Seq(size))),
        (0x03, datatypeMsg("f4")),
        (0x08, layout),
        (0x0C, strAttr("CLASS", "DIMENSION_SCALE")),
        (0x0C, strAttr("NAME",
          s"This is a netCDF dimension but not a netCDF variable.        $size")),
        (0x0C, intAttr("_Netcdf4Dimid", dimNames.indexOf(d)))))
    }

    // 2) global heap: one object per (data var, dim) reference
    pad8()
    val gheapEntries = dataVars.flatMap(v => v.dims.map(d => (v.name, d)))
    val gheapIndex: Map[(String, String), Int] =
      gheapEntries.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
    val gheapAddr: Long = {
      val objs = ArrayBuffer.empty[Byte]
      gheapEntries.zipWithIndex.foreach { case ((_, d), i) =>
        objs ++= b16(i + 1) ++ b16(1) ++ b32(0L) ++ b64(8L) ++ b64(dimAddr(d))
      }
      objs ++= b16(0) ++ b16(0) ++ b32(0L) ++ b64(0L) // free-space terminator
      val total = 16L + objs.size
      val head = "GCOL".getBytes("US-ASCII") ++ Array[Byte](1, 0, 0, 0) ++ b64(total)
      appendAt(head ++ objs.toArray)
    }

    // 3) data var headers (with DIMENSION_LIST into the global heap)
    val varAddr = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    dataVars.foreach { v =>
      val msgs = ArrayBuffer.empty[(Int, Array[Byte])]
      msgs += ((0x01, dataspaceMsg(v.shape)))
      msgs += ((0x03,
        if (v.compound.nonEmpty) compoundDtMsg(v.compound)
        else if (v.enumMembers.nonEmpty) enumDtMsg(v.dtype, v.enumMembers)
        else datatypeMsg(v.dtype, v.nbit)))
      if (storage(v.name).filtered) msgs += ((0x0B, filtersMsg(v)))
      msgs += ((0x08, storage(v.name).layoutBody))
      val dimList = v.dims.flatMap { d =>
        b32(1L) ++ b64(gheapAddr) ++ b32(gheapIndex((v.name, d)).toLong)
      }.toArray
      val attrBodies = ArrayBuffer.empty[Array[Byte]]
      attrBodies += attr("DIMENSION_LIST", vlenRefDtMsg(),
        dataspaceMsg(Seq(v.dims.size)), dimList)
      v.units.foreach(u => attrBodies += strAttr("units", u))
      v.scaleFactor.foreach(s => attrBodies += dblAttr("scale_factor", s))
      v.addOffset.foreach(o => attrBodies += dblAttr("add_offset", o))
      v.fillValue.foreach(f => attrBodies += dblAttr("_FillValue", f))
      v.extraAttrs.foreach {
        case (n, s: String) => attrBodies += strAttr(n, s)
        case (n, x: Double) => attrBodies += dblAttr(n, x)
        case (n, xs: Seq[_]) => attrBodies += dblsAttr(n, xs.map(_.asInstanceOf[Double]))
        case (n, o) => throw new IllegalArgumentException(s"attribute $n: ${o.getClass}")
      }
      v.vlsAttrs.foreach { case (n, s) =>
        val b = s.getBytes("UTF-8")
        val ga = writeGcol(Seq(b))
        attrBodies += attr(n, vlenStrDtMsg(), dataspaceMsg(Nil),
          b32(b.length.toLong) ++ b64(ga) ++ b32(1L))
      }
      if (v.denseAttrs) {
        // attribute-name B-tree record (type 8): heap id, msg flags,
        // creation order, name hash
        var order = -1
        val (fheap, btree) = denseIndex(attrBodies.toSeq, btreeType = 8,
          record = id => { order += 1; id ++ Array[Byte](0) ++ b32(order.toLong) ++ b32(0L) })
        msgs += ((0x15, Array[Byte](0, 0) ++ b64(fheap) ++ b64(btree)))
      } else attrBodies.foreach(a => msgs += ((0x0C, a)))
      varAddr(v.name) = objectHeader(msgs.toSeq)
    }

    // 4) root group: local heap + SNOD + group B-tree + root object header
    //    (or, dense mode: fractal heap + v2 B-tree of Link messages)
    val allChildren: Seq[(String, Long)] =
      (dimAddr.toSeq ++ varAddr.toSeq).sortBy(_._1)
    if (denseRoot) {
      // serialized hard-Link message bodies (v1; flags low bits pick the
      // name-length width — names over 255 bytes take the 2-byte form,
      // and a > max-managed-size name makes the whole body a HUGE object)
      val bodies = allChildren.map { case (n, addr) =>
        val nb = n.getBytes("US-ASCII")
        require(nb.length < 65536, s"dense link name too long: $n")
        if (nb.length < 256) Array[Byte](1, 0, nb.length.toByte) ++ nb ++ b64(addr)
        else Array[Byte](1, 1) ++ b16(nb.length) ++ nb ++ b64(addr)
      }
      // link-name B-tree record (type 5): name hash, then heap id
      val (frhpAddr, bthdAddr) = denseIndex(bodies, btreeType = 5,
        record = id => b32(0L) ++ id, filtered = denseFiltered,
        btNodeSize = denseBtNodeSize, startBlock = denseStartBlock,
        maxDirect = denseMaxDirect)
      val rootAddr = objectHeader(Seq(
        (0x02, Array[Byte](0, 0) ++ b64(frhpAddr) ++ b64(bthdAddr))))
      finish(rootAddr, Hdf5.Undef, Hdf5.Undef)
      return
    }
    if (latestFormat) {
      // new-style group: compact hard-Link messages in the root header
      val rootAddr = objectHeader(allChildren.map { case (n, addr) =>
        val nb = n.getBytes("US-ASCII")
        require(nb.length < 256, s"link name too long: $n")
        (0x06, Array[Byte](1, 0, nb.length.toByte) ++ nb ++ b64(addr))
      })
      finish(rootAddr, Hdf5.Undef, Hdf5.Undef)
      return
    }
    pad8()
    val (heapAddr, nameOffsets) = {
      val data = ArrayBuffer.empty[Byte]
      data ++= new Array[Byte](8) // offset 0: the empty name
      val offs = allChildren.map { case (n, _) =>
        val o = data.size.toLong
        data ++= n.getBytes("US-ASCII") :+ 0.toByte
        o
      }
      while (data.size % 8 != 0) data += 0
      val dataAddr = out.size.toLong + 32
      val head = "HEAP".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
        b64(data.size.toLong) ++ b64(Hdf5.Undef) ++ b64(dataAddr)
      appendAt(head ++ data.toArray)
      (dataAddr - 32, offs)
    }
    pad8()
    val snodAddr = {
      val body = ArrayBuffer.empty[Byte]
      body ++= "SNOD".getBytes("US-ASCII") ++ Array[Byte](1, 0)
      body ++= b16(allChildren.size)
      allChildren.zip(nameOffsets).foreach { case ((_, addr), nameOff) =>
        body ++= b64(nameOff) ++ b64(addr) ++ b32(0L) ++ b32(0L) ++ new Array[Byte](16)
      }
      appendAt(body.toArray)
    }
    pad8()
    val btreeAddr = {
      val body = ArrayBuffer.empty[Byte]
      body ++= "TREE".getBytes("US-ASCII") ++ Array[Byte](0, 0)
      body ++= b16(1) // one child (the SNOD)
      body ++= b64(Hdf5.Undef) ++ b64(Hdf5.Undef)
      body ++= b64(0L)                    // key 0
      body ++= b64(snodAddr)              // child 0
      body ++= b64(nameOffsets.lastOption.getOrElse(0L)) // key 1
      appendAt(body.toArray)
    }
    val rootAddr = objectHeader(Seq((0x11, b64(btreeAddr) ++ b64(heapAddr))))
    finish(rootAddr, btreeAddr, heapAddr)
  }
}
