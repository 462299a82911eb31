package graft.sources.hdf5

import scala.collection.mutable

/** Pure-JVM HDF5 structure parser — the subset netCDF-4 files actually use
  * (public spec: HDF5 File Format Specification III, versions 0-3). Closes
  * the reference's NetCDF-4 path (weather_mv/loader_pipeline/
  * sinks.py:345-389, which delegates to xarray/netcdf4) without native
  * libraries, the same way the GRIB/TIFF/Zarr codecs do.
  *
  * Supported surface:
  *  - superblock versions 0/1 (symbol-table root) and 2/3 (root object
  *    header address), 8-byte offsets/lengths;
  *  - object headers v1 (with continuation blocks) and v2 (`OHDR`/`OCHK`);
  *  - groups: old-style symbol tables (v1 B-tree + local heap + `SNOD`
  *    nodes), new-style COMPACT link messages, and dense (fractal-heap +
  *    v2 B-tree) link storage — direct-root AND indirect-root heaps,
  *    including nested child indirect blocks (the recursive doubling
  *    table), filtered (deflated) heap blocks, and name-index
  *    v2 B-trees of any depth (H5B2 child-pointer arithmetic);
  *  - datasets: contiguous, compact, and chunked layouts — layout message
  *    v3 (v1 B-tree chunk index) and v4 (HDF5 ≥1.10: single-chunk,
  *    implicit, fixed-array and extensible-array — both incl. paged data
  *    blocks; EA is the one-unlimited-dimension / time-appending shape —
  *    and v2-B-tree indexes of any depth); filters deflate(1),
  *    shuffle(2), fletcher32(3), szip(4) — the CCSDS/Rice coder shared
  *    with GRIB template 5.42 ([[graft.sources.grib.Ccsds]]) — nbit(5)
  *    (atomic and no-op datatype classes), scaleoffset(6) (int +
  *    float D-scaling; E-scaling is unimplemented in HDF5 itself), and
  *    the registered dynamic filters the hdf5plugin/h5py ecosystem
  *    installs: blosc(32001, self-describing frames), lz4(32004, the
  *    HDF5-External-Filter blocked layout), bitshuffle(32008, plain /
  *    lz4 / zstd block compression), zstd(32015, bare frames);
  *  - datatypes: fixed-point 1/2/4/8 (either endian, signed or not), IEEE
  *    float 4/8, fixed strings, variable-length strings (class 9 vlen-type
  *    "string", resolved through the global heap), object references, vlen
  *    sequences (via the global heap `GCOL`, as `DIMENSION_LIST` needs);
  *  - attributes v1/v2/v3 with scalar or simple dataspaces.
  * Everything else raises [[UnsupportedHdf5]] naming the feature.
  */
object Hdf5 {

  final case class UnsupportedHdf5(detail: String) extends
    UnsupportedOperationException(s"HDF5 feature not supported: $detail")

  val Undef: Long = -1L // all-ones addresses mean "undefined"

  /** One member of a compound (class 6) datatype at its byte offset. */
  final case class Member(name: String, offset: Int, dtype: Dtype)

  final case class Dtype(clazz: Int, size: Int, littleEndian: Boolean,
      signed: Boolean, vlenString: Boolean = false,
      members: Seq[Member] = Nil, base: Option[Dtype] = None,
      arrayDims: Seq[Int] = Nil) {
    def isNumeric: Boolean = clazz == 0 || clazz == 1
    /** The numpy dtype of a numeric type ("<f8", ">i2", "<u1"). */
    def numpy: String = (if (littleEndian) "<" else ">") + ((clazz, size) match {
      case (1, 2 | 4 | 8) => s"f$size"
      case (0, 1 | 2 | 4 | 8) => s"${if (signed) "i" else "u"}$size"
      case _ => throw UnsupportedHdf5(s"numeric dtype class $clazz, $size bytes")
    })
    /** Fixed-length (class 3) or variable-length (class 9 with vlen-type
      * "string", resolved through the global heap) character data. */
    def isString: Boolean = clazz == 3 || (clazz == 9 && vlenString)
    def isCompound: Boolean = clazz == 6
    /** Variable-length SEQUENCE (class 9, vlen type 0) — netCDF-4 VLEN
      * types; elements live in the global heap, `base` is their type. */
    def isVlenSeq: Boolean = clazz == 9 && !vlenString
    /** Opaque (class 5) — fixed-width raw byte cells (NC_OPAQUE). */
    def isOpaque: Boolean = clazz == 5
    /** Array (class 10) — a fixed shape of `base` elements per cell. */
    def isFixedArray: Boolean = clazz == 10
  }

  sealed trait Layout
  final case class Contiguous(addr: Long, size: Long) extends Layout
  final case class Compact(data: Array[Byte]) extends Layout
  /** Chunked layout. `indexType` 0 = v1 B-tree (layout message v3, the
    * pre-1.10 shape; `btreeAddr` is the tree root). Layout message v4
    * (HDF5 ≥1.10) re-uses `btreeAddr` as the index address with
    * `indexType` 1 = single chunk (`singleSize`/`singleMask` carry the
    * filtered size + mask when present), 2 = implicit (unfiltered chunks
    * packed C-order at the address), 3 = fixed array (FAHD/FADB). */
  final case class Chunked(btreeAddr: Long, chunkDims: Seq[Int],
      elemSize: Int, indexType: Int = 0,
      singleSize: Long = -1L, singleMask: Int = 0) extends Layout

  /** One filter pipeline entry: (filter id, client values). */
  final case class Filter(id: Int, clientValues: Seq[Int])

  final case class ChunkRef(offsets: Seq[Long], addr: Long, nBytes: Long,
      filterMask: Int)

  final case class DatasetMeta(
      path: String,
      objAddr: Long,
      shape: Seq[Long],
      dtype: Dtype,
      layout: Layout,
      filters: Seq[Filter],
      attrs: Map[String, Any]) {
    def nPoints: Long = if (shape.isEmpty) 1L else shape.product
  }

  final case class FileMeta(datasets: Seq[DatasetMeta]) {
    def byPath: Map[String, DatasetMeta] = datasets.map(d => d.path -> d).toMap
    def byAddr: Map[Long, DatasetMeta] = datasets.map(d => d.objAddr -> d).toMap
  }

  // ---------------------------------------------------------------- cursor

  private[hdf5] class Cur(val b: Array[Byte]) {
    def u8(i: Long): Int = b(i.toInt) & 0xff
    def u16(i: Long): Int = u8(i) | (u8(i + 1) << 8)
    def u32(i: Long): Long = u16(i).toLong | (u16(i + 2).toLong << 16)
    def u64(i: Long): Long = u32(i) | (u32(i + 4) << 32)
    def ascii(i: Long, n: Int): String = new String(b, i.toInt, n, "US-ASCII")
  }

  // ---------------------------------------------------------------- parse

  /** Parse the file's structure through a positioned span reader (header
    * reads only — chunk/contiguous DATA is never touched here, so the
    * driver-side cost is O(metadata)). */
  def parse(read: (Long, Int) => Array[Byte], fileLen: Long): FileMeta = {
    val sig = read(0, 8)
    require(sig(0) == 0x89.toByte && sig(1) == 'H' && sig(2) == 'D' &&
      sig(3) == 'F', "not an HDF5 file (bad signature)")
    val sb = new Cur(read(8, 56))
    val sbVer = sb.u8(0)
    val rootObjAddr = sbVer match {
      case 0 | 1 =>
        if (sb.u8(5) != 8 || sb.u8(6) != 8)
          throw UnsupportedHdf5(
            s"offset/length sizes ${sb.u8(5)}/${sb.u8(6)} (8/8 only)")
        // superblock v0: root symbol table entry at file offset 24+base
        // fields; entry's object header address sits 8 bytes into the entry
        val entryOff = if (sbVer == 0) 24L + 24 + 8 else 24L + 24 + 8 + 4 // v1 adds 4
        new Cur(read(entryOff + 8, 8)).u64(0)
      case 2 | 3 =>
        if (sb.u8(1) != 8 || sb.u8(2) != 8)
          throw UnsupportedHdf5(
            s"offset/length sizes ${sb.u8(1)}/${sb.u8(2)} (8/8 only)")
        // v2/3: base(8+4..), superblock ext, EOF, root object header addr
        new Cur(read(8 + 28, 8)).u64(0)
      case v => throw UnsupportedHdf5(s"superblock version $v")
    }
    val out = Seq.newBuilder[DatasetMeta]
    val visited = mutable.Set.empty[Long]
    walkGroup(read, fileLen, rootObjAddr, "", out, visited)
    FileMeta(out.result())
  }

  // -------------------------------------------------------- object headers

  /** All messages of the object header at `addr`: (type, body cursor base
    * within its block, body length, block bytes). Returned as materialized
    * byte arrays per message for simplicity — headers are small. */
  private[hdf5] def messages(read: (Long, Int) => Array[Byte],
      addr: Long): Seq[(Int, Array[Byte])] = {
    val head = read(addr, 16)
    val out = Seq.newBuilder[(Int, Array[Byte])]
    if (head(0) == 'O' && head(1) == 'H' && head(2) == 'D' && head(3) == 'R') {
      // version 2 header
      val flags = head(5) & 0xff
      var off = 6L
      if ((flags & 0x20) != 0) off += 8 // times
      if ((flags & 0x10) != 0) off += 4 // attr phase change
      val sizeLen = 1 << (flags & 0x3)
      val szC = new Cur(read(addr + off, sizeLen))
      val chunkSize = sizeLen match {
        case 1 => szC.u8(0).toLong
        case 2 => szC.u16(0).toLong
        case 4 => szC.u32(0)
        case 8 => szC.u64(0)
      }
      off += sizeLen
      val creationTracked = (flags & 0x4) != 0
      parseV2Block(read, addr + off, chunkSize, creationTracked, out, read)
    } else {
      require((head(0) & 0xff) == 1, s"object header version ${head(0)} at $addr")
      val c = new Cur(head)
      val headerSize = c.u32(8)
      parseV1Block(read, addr + 16, headerSize, out)
    }
    out.result()
  }

  private def parseV1Block(read: (Long, Int) => Array[Byte], start: Long,
      size: Long, out: mutable.Builder[(Int, Array[Byte]), Seq[(Int, Array[Byte])]]): Unit = {
    val blk = new Cur(read(start, size.toInt))
    var p = 0L
    while (p + 8 <= size) {
      val typ = blk.u16(p)
      val len = blk.u16(p + 2)
      val body = java.util.Arrays.copyOfRange(blk.b, (p + 8).toInt, (p + 8 + len).toInt)
      if (typ == 0x10) { // continuation: offset + length
        val cc = new Cur(body)
        parseV1Block(read, cc.u64(0), cc.u64(8), out)
      } else if (typ != 0) out += ((typ, body))
      p += 8 + len
    }
  }

  private def parseV2Block(read: (Long, Int) => Array[Byte], start: Long,
      size: Long, creationTracked: Boolean,
      out: mutable.Builder[(Int, Array[Byte]), Seq[(Int, Array[Byte])]],
      reread: (Long, Int) => Array[Byte]): Unit = {
    // `size` counts the message data only; the 4-byte checksum FOLLOWS it
    // (libhdf5 accounts it in the header size, not chunk-0 size) and is
    // not verified here
    val blk = new Cur(read(start, size.toInt))
    var p = 0L
    val end = size
    val msgHead = 4 + (if (creationTracked) 2 else 0)
    while (p + msgHead <= end) {
      val typ = blk.u8(p)
      val len = blk.u16(p + 1)
      if (typ == 0 && len == 0) { p = end } // gap padding
      else {
        val bodyOff = p + msgHead
        val body = java.util.Arrays.copyOfRange(blk.b, bodyOff.toInt, (bodyOff + len).toInt)
        if (typ == 0x10) {
          val cc = new Cur(body)
          val caddr = cc.u64(0)
          val clen = cc.u64(8)
          // continuation block: OCHK signature + messages + checksum
          val sub = read(caddr, clen.toInt)
          require(sub(0) == 'O' && sub(1) == 'C' && sub(2) == 'H' && sub(3) == 'K',
            s"bad OCHK continuation at $caddr")
          parseV2BlockBytes(java.util.Arrays.copyOfRange(sub, 4, (clen - 4).toInt),
            creationTracked, out, reread)
        } else if (typ != 0) out += ((typ, body))
        p = bodyOff + len
      }
    }
  }

  private def parseV2BlockBytes(bytes: Array[Byte], creationTracked: Boolean,
      out: mutable.Builder[(Int, Array[Byte]), Seq[(Int, Array[Byte])]],
      reread: (Long, Int) => Array[Byte]): Unit = {
    val blk = new Cur(bytes)
    var p = 0L
    val msgHead = 4 + (if (creationTracked) 2 else 0)
    while (p + msgHead <= bytes.length) {
      val typ = blk.u8(p)
      val len = blk.u16(p + 1)
      if (typ == 0 && len == 0) { p = bytes.length }
      else {
        val bodyOff = p + msgHead
        val body = java.util.Arrays.copyOfRange(bytes, bodyOff.toInt, (bodyOff + len).toInt)
        if (typ == 0x10) {
          val cc = new Cur(body)
          val sub = reread(cc.u64(0), cc.u64(8).toInt)
          parseV2BlockBytes(java.util.Arrays.copyOfRange(sub, 4, sub.length - 4),
            creationTracked, out, reread)
        } else if (typ != 0) out += ((typ, body))
        p = bodyOff + len
      }
    }
  }

  // ---------------------------------------------------------------- groups

  private def walkGroup(read: (Long, Int) => Array[Byte], fileLen: Long,
      objAddr: Long, prefix: String,
      out: mutable.Builder[DatasetMeta, Seq[DatasetMeta]],
      visited: mutable.Set[Long]): Unit = {
    if (!visited.add(objAddr)) return
    val msgs = messages(read, objAddr)
    val types = msgs.map(_._1).toSet
    val isDataset = types.contains(0x08) // layout message => dataset
    if (isDataset) {
      out += datasetOf(read, objAddr, prefix, msgs)
      return
    }
    // children: old-style symbol table and/or compact link messages
    msgs.foreach {
      case (0x11, body) => // symbol table: btree + heap
        val c = new Cur(body)
        symbolTableChildren(read, c.u64(0), c.u64(8)).foreach { case (name, addr) =>
          walkGroup(read, fileLen, addr, s"$prefix/$name", out, visited)
        }
      case (0x02, body) => // link info: dense (fractal-heap) storage
        val c = new Cur(body)
        val flags = c.u8(1)
        var off = 2L
        if ((flags & 1) != 0) off += 8 // max creation index
        val fheap = c.u64(off)
        val nameIndex = c.u64(off + 8)
        if (fheap != Undef)
          denseLinks(read, fheap, nameIndex).foreach { case (name, addr) =>
            walkGroup(read, fileLen, addr, s"$prefix/$name", out, visited)
          }
      case (0x06, body) => // link message (compact storage)
        linkTarget(body).foreach { case (name, addr) =>
          walkGroup(read, fileLen, addr, s"$prefix/$name", out, visited)
        }
      case _ =>
    }
  }

  /** (name, object header address) of a compact Link message; None for
    * soft/external links (netCDF-4 does not emit them for data objects). */
  private def linkTarget(body: Array[Byte]): Option[(String, Long)] = {
    val c = new Cur(body)
    require(c.u8(0) == 1, s"link message version ${c.u8(0)}")
    val flags = c.u8(1)
    var off = 2L
    val linkType = if ((flags & 0x8) != 0) { val t = c.u8(off); off += 1; t } else 0
    if ((flags & 0x4) != 0) off += 8 // creation order
    if ((flags & 0x10) != 0) off += 1 // charset
    val lenSize = 1 << (flags & 0x3)
    val nameLen = lenSize match {
      case 1 => c.u8(off).toLong
      case 2 => c.u16(off).toLong
      case 4 => c.u32(off)
      case 8 => c.u64(off)
    }
    off += lenSize
    val name = c.ascii(off, nameLen.toInt)
    off += nameLen
    if (linkType == 0) Some((name, c.u64(off))) else None
  }

  /** Dense group links: netCDF-4 tracks link creation order, so groups past
    * the compact limit (8 links — any file with more than a handful of
    * variables) store serialized Link messages as FRACTAL HEAP objects
    * indexed by a v2 B-tree of (name hash, heap id) records. */
  private def denseLinks(read: (Long, Int) => Array[Byte],
      fheapAddr: Long, btreeAddr: Long): Seq[(String, Long)] =
    // record type 5: name hash (4) then the heap id
    denseObjects(read, fheapAddr, btreeAddr, heapIdAt = 4).map { body =>
      linkTarget(body).getOrElse(throw UnsupportedHdf5("non-hard dense link"))
    }

  /** Dense attributes (Attribute Info message past the 8-attr compact
    * limit): same heap + B-tree machinery, record type 8 leads WITH the
    * heap id; objects are serialized Attribute messages. */
  private def denseAttrs(read: (Long, Int) => Array[Byte],
      fheapAddr: Long, btreeAddr: Long): Seq[(String, Any)] =
    denseObjects(read, fheapAddr, btreeAddr, heapIdAt = 0)
      .flatMap(body => parseAttribute(read, body))

  /** A fractal heap's managed object space (HDF5 spec III.G): parses the
    * FRHP header, materializes every direct block — from a direct root, or
    * from a root indirect block's direct children (the doubling table:
    * `tableWidth` blocks per row, rows 0-1 at the starting block size, row
    * r >= 2 at startingSize << (r-1)) — reverses the heap's I/O filter
    * pipeline when one is present (direct blocks are filtered WHOLE, header
    * included; the root-direct compressed size and mask live in the FRHP
    * header, per-child sizes in the indirect block entries), and resolves
    * heap-space offsets to bytes. Rows past maxDirectRows recurse through
    * child indirect blocks (the two-level doubling table and beyond). */
  private final class FractalHeap(read: (Long, Int) => Array[Byte], addr: Long) {
    private val h = new Cur(read(addr, 256))
    require(h.ascii(0, 4) == "FRHP", s"bad fractal heap at $addr")
    val heapIdLen: Int = h.u16(5)
    private val ioFilterLen = h.u16(7)
    private val maxManagedSize = h.u32(10)
    // fixed-width (8-byte length) fields from "next huge id" through
    // "number of tiny objects": 12 of them, then geometry
    private val geomAt = 14L + 12 * 8
    private val hugeBtreeAddr = h.u64(14L + 8)
    private val allocatedSpace = h.u64(14L + 5 * 8)
    private val tableWidth = h.u16(geomAt)
    private val startBlockSize = h.u64(geomAt + 2)
    private val maxDirectSize = h.u64(geomAt + 10)
    private val maxHeapBits = h.u16(geomAt + 18)
    private val rootBlockAddr = h.u64(geomAt + 22)
    private val curRows = h.u16(geomAt + 30)
    val offsetSize: Int = (maxHeapBits + 7) / 8
    val lengthSize: Int = bytesFor(maxManagedSize)
    require(heapIdLen == 1 + offsetSize + lengthSize,
      s"fractal heap id length $heapIdLen vs 1+$offsetSize+$lengthSize")
    // filtered heap: the root-direct compressed size (file length size) +
    // filter mask are present ONLY when the root is a direct block
    // (curRows == 0, per H5HFcache's header decode); with an indirect root
    // the encoded filter-pipeline message follows the geometry directly
    private val rootFilteredSize =
      if (ioFilterLen == 0 || curRows != 0) 0L else h.u64(geomAt + 32)
    private val rootFilterMask =
      if (ioFilterLen == 0 || curRows != 0) 0 else h.u32(geomAt + 40).toInt
    private val filters: Seq[Filter] =
      if (ioFilterLen == 0) Nil
      else {
        val at = geomAt + (if (curRows == 0) 44 else 32)
        parseFilters(java.util.Arrays.copyOfRange(h.b,
          at.toInt, (at + ioFilterLen).toInt))
      }

    private def directBlock(at: Long, nominal: Long, filteredSize: Long,
        mask: Int): (Long, Array[Byte]) = {
      val data =
        if (filters.isEmpty) read(at, nominal.toInt)
        else defilter(read(at, filteredSize.toInt), filters, mask, 1, nominal.toInt)
      val c = new Cur(data)
      require(c.ascii(0, 4) == "FHDB", s"bad direct block at $at")
      var heapOff = 0L
      (0 until offsetSize).foreach(i => heapOff |= c.u8(13 + i).toLong << (8 * i))
      (heapOff, data)
    }

    // every allocated direct block, ascending by heap-space offset. Rows
    // past maxDirectRows hold child INDIRECT blocks (recursively): a child
    // at row r spans rowSize(r) bytes and re-partitions them through the
    // same doubling table, with nrows = log2(rowSize(r)) -
    // log2(startBlock x width) + 1 (the H5HF geometry). Indirect entries
    // never carry filtered sizes — those live on the direct entries.
    private val blocks: Array[(Long, Array[Byte])] =
      if (curRows == 0)
        Array(directBlock(rootBlockAddr, allocatedSpace, rootFilteredSize,
          rootFilterMask))
      else {
        val maxDirectRows =
          (63 - java.lang.Long.numberOfLeadingZeros(maxDirectSize / startBlockSize)) + 2
        val firstRowBits =
          java.lang.Long.numberOfTrailingZeros(startBlockSize * tableWidth)
        def rowSize(r: Int): Long =
          if (r < 2) startBlockSize else startBlockSize << (r - 1)
        val directEntry = 8L + (if (ioFilterLen != 0) 8 + 4 else 0)
        val headLen = 4 + 1 + 8 + offsetSize
        val out = Array.newBuilder[(Long, Array[Byte])]
        def walk(addr: Long, nrows: Int): Unit = {
          val nDirect = math.min(nrows, maxDirectRows)
          val len = headLen + nDirect * tableWidth * directEntry +
            math.max(0, nrows - nDirect) * tableWidth * 8L + 4
          val ib = new Cur(read(addr, len.toInt))
          require(ib.ascii(0, 4) == "FHIB", s"bad indirect block at $addr")
          var at = headLen.toLong
          (0 until nDirect).foreach { r =>
            (0 until tableWidth).foreach { _ =>
              val childAddr = ib.u64(at)
              if (childAddr != Undef)
                out += directBlock(childAddr, rowSize(r),
                  if (ioFilterLen != 0) ib.u64(at + 8) else 0L,
                  if (ioFilterLen != 0) ib.u32(at + 16).toInt else 0)
              at += directEntry
            }
          }
          (nDirect until nrows).foreach { r =>
            val childNrows =
              (63 - java.lang.Long.numberOfLeadingZeros(rowSize(r))) -
                firstRowBits + 1
            require(childNrows >= 1, s"indirect child at row $r of a " +
              s"${startBlockSize}B/$tableWidth-wide table")
            (0 until tableWidth).foreach { _ =>
              val childAddr = ib.u64(at)
              if (childAddr != Undef) walk(childAddr, childNrows)
              at += 8
            }
          }
        }
        walk(rootBlockAddr, curRows)
        out.result().sortBy(_._1)
      }

    /** A HUGE object (> max managed size, stored outside the heap): with
      * this heap's id width huge ids are INDIRECT — the id keys the heap's
      * huge-object v2 B-tree (record type 1 unfiltered {addr, len, id};
      * type 2 filtered {addr, stored len, mask, memory size, id}, decoded
      * through the heap's own pipeline). Directly-accessed variants
      * (types 3/4) need ids wide enough for addr+len, which the id-length
      * require above excludes. */
    // parsed once per heap — a k-huge-object group resolves all k against
    // one B-tree walk, not k of them
    private lazy val hugeRecords: (Int, Int, Seq[Array[Byte]]) =
      v2BtreeRecords(read, hugeBtreeAddr)

    def hugeObject(hid: Long): Array[Byte] = {
      require(hugeBtreeAddr != Undef,
        s"huge heap object $hid but the heap has no huge-object B-tree")
      val (btType, recSize, records) = hugeRecords
      def u64At(r: Array[Byte], at: Int): Long = {
        var v = 0L
        (0 until 8).foreach(i => v |= (r(at + i) & 0xffL) << (8 * i))
        v
      }
      btType match {
        case 1 =>
          require(recSize == 24, s"huge-object record size $recSize (type 1)")
          val rec = records.find(r => u64At(r, 16) == hid).getOrElse(
            throw UnsupportedHdf5(s"huge object $hid not in the huge B-tree"))
          read(u64At(rec, 0), u64At(rec, 8).toInt)
        case 2 =>
          require(recSize == 36, s"huge-object record size $recSize (type 2)")
          val rec = records.find(r => u64At(r, 28) == hid).getOrElse(
            throw UnsupportedHdf5(s"huge object $hid not in the huge B-tree"))
          val mask = {
            var v = 0
            (0 until 4).foreach(i => v |= (rec(16 + i) & 0xff) << (8 * i))
            v
          }
          defilter(read(u64At(rec, 0), u64At(rec, 8).toInt), filters, mask,
            1, u64At(rec, 20).toInt)
        case other => throw UnsupportedHdf5(
          s"huge-object B-tree record type $other (indirect types 1/2)")
      }
    }

    /** Managed object bytes at a heap-space offset (block headers are part
      * of the space, so offsets index into raw block bytes directly). */
    def slice(objOff: Long, objLen: Long): Array[Byte] = {
      var lo = 0; var hi = blocks.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (blocks(mid)._1 <= objOff) lo = mid else hi = mid - 1
      }
      val (blockOff, bytes) = blocks(lo)
      val rel = objOff - blockOff
      require(rel >= 0 && rel + objLen <= bytes.length,
        s"heap object [$objOff,+$objLen) outside block at $blockOff")
      java.util.Arrays.copyOfRange(bytes, rel.toInt, (rel + objLen).toInt)
    }
  }

  /** Walk a v2 B-tree (BTHD) of ANY depth in key order; returns (record
    * type, record size, raw records). Internal (BTIN) child pointers use
    * libhdf5's H5B2 arithmetic: the per-child record count is stored in
    * bytesFor(leaf max records) bytes — the leaf holds the most records of
    * any node type — and children that are themselves internal append the
    * cumulative subtree total in bytesFor(cumMaxNrec(child depth)) bytes,
    * where cumMaxNrec(d) = (maxNrec(d)+1)*cumMaxNrec(d-1) + maxNrec(d). */
  private[hdf5] def v2BtreeRecords(read: (Long, Int) => Array[Byte],
      btreeAddr: Long): (Int, Int, Seq[Array[Byte]]) = {
    // header: sig(4) ver(1) type(1) nodeSize(4) recordSize(2) depth(2)
    // split(1) merge(1) rootAddr(8) rootNRecords(2) totalRecords(8) csum(4)
    val bt = new Cur(read(btreeAddr, 38))
    require(bt.ascii(0, 4) == "BTHD", s"bad v2 B-tree at $btreeAddr")
    val btType = bt.u8(5)
    val nodeSize = bt.u32(6)
    val recordSize = bt.u16(10)
    val depth = bt.u16(12)
    val rootAddr = bt.u64(16)
    val rootN = bt.u16(24)
    val maxNrecLeaf = ((nodeSize - 10) / recordSize).toInt
    val maxNrecSize = bytesFor(maxNrecLeaf.toLong)
    val cumMaxNrec = new Array[Long](depth + 1)
    val cumSize = new Array[Int](depth + 1)
    cumMaxNrec(0) = maxNrecLeaf.toLong
    cumSize(0) = 0 // leaf pointers carry no subtree total
    (1 to depth).foreach { u =>
      val ptr = 8 + maxNrecSize + (if (u > 1) cumSize(u - 1) else 0)
      val maxNrec = ((nodeSize - (10 + ptr)) / (recordSize + ptr)).toInt
      cumMaxNrec(u) = (maxNrec + 1).toLong * cumMaxNrec(u - 1) + maxNrec
      cumSize(u) = bytesFor(cumMaxNrec(u))
    }
    val out = Seq.newBuilder[Array[Byte]]
    def record(node: Cur, at: Int): Unit =
      out += java.util.Arrays.copyOfRange(node.b, at, at + recordSize)
    def walk(addr: Long, nRec: Int, d: Int): Unit =
      if (d == 0) {
        val leaf = new Cur(read(addr, 6 + nRec * recordSize + 4))
        require(leaf.ascii(0, 4) == "BTLF", s"bad B-tree leaf at $addr")
        (0 until nRec).foreach(r => record(leaf, 6 + r * recordSize))
      } else {
        val ptrSize = 8 + maxNrecSize + (if (d > 1) cumSize(d - 1) else 0)
        val node = new Cur(read(addr,
          6 + nRec * recordSize + (nRec + 1) * ptrSize + 4))
        require(node.ascii(0, 4) == "BTIN", s"bad B-tree internal node at $addr")
        val ptrsAt = 6 + nRec * recordSize
        def child(i: Int): Unit = {
          val at = ptrsAt + i * ptrSize
          var cn = 0
          (0 until maxNrecSize).foreach(k => cn |= node.u8(at + 8 + k) << (8 * k))
          walk(node.u64(at), cn, d - 1)
        }
        child(0)
        (0 until nRec).foreach { r =>
          record(node, 6 + r * recordSize)
          child(r + 1)
        }
      }
    if (rootN > 0 || depth > 0) walk(rootAddr, rootN, depth)
    (btType, recordSize, out.result())
  }

  /** Enumerate every managed object of a dense-storage index: fractal heap
    * (FRHP — direct or indirect root, filtered or not) + name-index v2
    * B-tree of any depth. `heapIdAt` is the heap id's byte offset within a
    * B-tree record (type 5 links put the name hash first; type 8
    * attributes lead with the id). */
  private def denseObjects(read: (Long, Int) => Array[Byte],
      fheapAddr: Long, btreeAddr: Long, heapIdAt: Int): Seq[Array[Byte]] = {
    val heap = new FractalHeap(read, fheapAddr)
    val (_, _, records) = v2BtreeRecords(read, btreeAddr)
    records.map(rec => heapObjectOf(heap, rec, heapIdAt))
  }

  /** Resolve one fractal-heap id (at `heapIdAt` within a B-tree record) to
    * object bytes — MANAGED (heap-space offset + length), TINY (the object
    * lives inside the id itself: low flag nibble = length - 1; only the
    * normal sub-case exists at this heap's id width), or HUGE (the id keys
    * the heap's huge-object B-tree — the shape a > max-managed-size link
    * name or dense attribute value produces). */
  private def heapObjectOf(heap: FractalHeap, rec: Array[Byte],
      heapIdAt: Int): Array[Byte] = {
    val idFlags = rec(heapIdAt) & 0xff
    require((idFlags & 0xc0) == 0, s"fractal heap id version ${idFlags >> 6}")
    (idFlags & 0x30) match {
      case 0x00 =>
        var objOff = 0L
        (0 until heap.offsetSize).foreach(i =>
          objOff |= (rec(heapIdAt + 1 + i) & 0xffL) << (8 * i))
        var objLen = 0L
        (0 until heap.lengthSize).foreach(i =>
          objLen |= (rec(heapIdAt + 1 + heap.offsetSize + i) & 0xffL) << (8 * i))
        heap.slice(objOff, objLen)
      case 0x20 => tinyObjectOf(rec, heapIdAt, heap.heapIdLen)
      case 0x10 =>
        var hid = 0L
        (0 until heap.heapIdLen - 1).foreach(i =>
          hid |= (rec(heapIdAt + 1 + i) & 0xffL) << (8 * i))
        heap.hugeObject(hid)
      case other =>
        throw UnsupportedHdf5(s"fractal heap id type ${other >> 4}")
    }
  }

  /** A TINY heap object: the bytes live inside the id itself (spec III.G
    * normal sub-case, id length <= 18: low flag nibble = length - 1, data
    * follows the flag byte). Never produced for dense links/attributes —
    * their messages exceed the id payload — but spec-complete. */
  private[graft] def tinyObjectOf(rec: Array[Byte], heapIdAt: Int,
      heapIdLen: Int): Array[Byte] = {
    val n = ((rec(heapIdAt) & 0xff) & 0x0f) + 1
    require(n <= heapIdLen - 1,
      s"tiny heap object of $n bytes in a $heapIdLen-byte id")
    java.util.Arrays.copyOfRange(rec, heapIdAt + 1, heapIdAt + 1 + n)
  }

  private def bytesFor(maxValue: Long): Int = {
    var b = 1
    while ((maxValue >> (8 * b)) != 0) b += 1
    b
  }

  /** Children of an old-style group: walk the v1 B-tree to SNOD leaves and
    * resolve names through the local heap. */
  private def symbolTableChildren(read: (Long, Int) => Array[Byte],
      btreeAddr: Long, heapAddr: Long): Seq[(String, Long)] = {
    val heap = new Cur(read(heapAddr, 32))
    require(heap.ascii(0, 4) == "HEAP", s"bad local heap at $heapAddr")
    val dataSize = heap.u64(8)
    val dataAddr = heap.u64(24)
    val names = new Cur(read(dataAddr, dataSize.toInt))
    def nameAt(off: Long): String = {
      var end = off
      while (end < dataSize && names.u8(end) != 0) end += 1
      names.ascii(off, (end - off).toInt)
    }
    val out = Seq.newBuilder[(String, Long)]
    def walk(addr: Long): Unit = {
      val head = read(addr, 24)
      val c = new Cur(head)
      c.ascii(0, 4) match {
        case "TREE" =>
          val level = c.u8(5)
          val n = c.u16(6)
          // keys/children: n+1 keys (heap offsets, 8 B) interleaved with n
          // children (8 B)
          val body = new Cur(read(addr + 24, (n * 16 + 8).toInt))
          (0 until n).foreach { k =>
            val child = body.u64(8 + k * 16L)
            if (level > 0) walk(child) else walkSnod(child)
          }
        case "SNOD" => walkSnod(addr)
        case other => throw UnsupportedHdf5(s"group node '$other' at $addr")
      }
    }
    def walkSnod(addr: Long): Unit = {
      val head = new Cur(read(addr, 8))
      require(head.ascii(0, 4) == "SNOD", s"bad SNOD at $addr")
      val n = head.u16(6)
      val entries = new Cur(read(addr + 8, n * 40))
      (0 until n).foreach { k =>
        val nameOff = entries.u64(k * 40L)
        val objAddr = entries.u64(k * 40L + 8)
        out += ((nameAt(nameOff), objAddr))
      }
    }
    walk(btreeAddr)
    out.result()
  }

  // -------------------------------------------------------------- datasets

  private def datasetOf(read: (Long, Int) => Array[Byte], objAddr: Long,
      path: String, msgs: Seq[(Int, Array[Byte])]): DatasetMeta = {
    var shape: Seq[Long] = Nil
    var dtype: Option[Dtype] = None
    var layout: Option[Layout] = None
    var filters: Seq[Filter] = Nil
    val attrs = Map.newBuilder[String, Any]
    msgs.foreach {
      case (0x01, body) => shape = parseDataspace(body)
      case (0x03, body) => dtype = Some(parseDatatype(new Cur(body), 0L)._1)
      case (0x08, body) => layout = Some(parseLayout(body))
      case (0x0B, body) => filters = parseFilters(body)
      case (0x0C, body) => parseAttribute(read, body).foreach(attrs += _)
      case (0x15, body) => // attribute info: dense attribute storage
        val c = new Cur(body)
        val flags = c.u8(1)
        var off = 2L
        if ((flags & 1) != 0) off += 2 // max creation index
        val fheap = c.u64(off)
        val nameIndex = c.u64(off + 8)
        if (fheap != Undef)
          denseAttrs(read, fheap, nameIndex).foreach(attrs += _)
      case _ =>
    }
    val dt = dtype.getOrElse(throw UnsupportedHdf5(s"dataset $path without datatype"))
    val lay = layout.getOrElse(throw UnsupportedHdf5(s"dataset $path without layout")) match {
      // v4 chunked messages carry no element-size dim — fill from the dtype
      case ck: Chunked if ck.elemSize == 0 => ck.copy(elemSize = dt.size)
      case other => other
    }
    DatasetMeta(path, objAddr, shape, dt, lay, filters, attrs.result())
  }

  private[hdf5] def parseDataspace(body: Array[Byte]): Seq[Long] = {
    val c = new Cur(body)
    val version = c.u8(0)
    val rank = c.u8(1)
    val base = version match {
      case 1 => 8L
      case 2 => 4L
      case v => throw UnsupportedHdf5(s"dataspace version $v")
    }
    (0 until rank).map(k => c.u64(base + k * 8L))
  }

  /** Parse one (possibly nested) datatype; returns (dtype, bytes consumed). */
  private def parseDatatype(c: Cur, at: Long): (Dtype, Long) = {
    val cv = c.u8(at)
    val clazz = cv & 0x0f
    val bits0 = c.u8(at + 1)
    val size = c.u32(at + 4).toInt
    clazz match {
      case 0 => // fixed-point
        (Dtype(0, size, (bits0 & 1) == 0, (bits0 & 0x08) != 0), 8 + 4)
      case 1 => // float (IEEE assumed; properties not re-derived)
        (Dtype(1, size, (bits0 & 1) == 0, signed = true), 8 + 12)
      case 3 => // string
        (Dtype(3, size, littleEndian = true, signed = false), 8)
      case 4 => // bitfield: reads as an unsigned fixed-point (h5py semantics)
        (Dtype(0, size, (bits0 & 1) == 0, signed = false), 8 + 4)
      case 5 => // opaque: bits 0-7 = ASCII tag length (8-padded); raw cells
        (Dtype(5, size, littleEndian = true, signed = false), 8 + (bits0 & 0xff))
      case 7 => // reference
        (Dtype(7, size, littleEndian = true, signed = false), 8)
      case 9 => // vlen: bits 0-3 = vlen type (0 sequence, 1 string); base follows
        val (baseDt, baseLen) = parseDatatype(c, at + 8)
        (Dtype(9, size, littleEndian = true, signed = false,
          vlenString = (bits0 & 0x0f) == 1, base = Some(baseDt)), 8 + baseLen)
      case 10 => // array: fixed dims over a base type
        val version = cv >> 4
        val ndims = c.u8(at + 8)
        var off = at + 9
        if (version < 3) off += 3 // reserved (v1/v2 only)
        val dims = (0 until ndims).map(i => c.u32(off + 4L * i).toInt)
        off += 4L * ndims
        if (version < 3) off += 4L * ndims // permutation indexes (never used)
        val (baseDt, baseLen) = parseDatatype(c, off)
        (Dtype(10, size, baseDt.littleEndian, baseDt.signed,
          base = Some(baseDt), arrayDims = dims), (off - at) + baseLen)
      case 8 => // enum: base type + named values; data decodes as the base
        val version = cv >> 4
        val nmem = c.u8(at + 1) | (c.u8(at + 2) << 8)
        val (base, baseLen) = parseDatatype(c, at + 8)
        if (!base.isNumeric)
          throw UnsupportedHdf5(s"enum base datatype class ${base.clazz}")
        var off = at + 8 + baseLen
        (0 until nmem).foreach { _ => // names (v3 unpadded, v1/2 8-padded)
          var e = off
          while (c.u8(e) != 0) e += 1
          val nameLen = (e - off).toInt
          off += (if (version == 3) nameLen + 1 else (nameLen / 8 + 1) * 8)
        }
        off += nmem.toLong * base.size // values, base-type sized
        (base, off - at)
      case 6 => // compound: bits 0-15 = member count; members at byte offsets
        val version = cv >> 4
        val nmem = c.u8(at + 1) | (c.u8(at + 2) << 8)
        var off = at + 8
        def nulString(from: Long): String = {
          var e = from
          while (c.u8(e) != 0) e += 1
          c.ascii(from, (e - from).toInt)
        }
        val members = (0 until nmem).map { _ =>
          version match {
            case 1 | 2 =>
              val name = nulString(off)
              off += (name.length / 8 + 1) * 8 // NUL-padded to 8 bytes
              val mOff = c.u32(off).toInt
              off += 4
              if (version == 1) off += 28 // dimensionality/perm/dim sizes
              val (mdt, mlen) = parseDatatype(c, off)
              off += mlen
              Member(name, mOff, mdt)
            case 3 =>
              val name = nulString(off)
              off += name.length + 1 // NUL-terminated, unpadded
              val offBytes = bytesFor(size.toLong) // min bytes for the size
              var mOff = 0L
              (0 until offBytes).foreach(k => mOff |= c.u8(off + k).toLong << (8 * k))
              off += offBytes
              val (mdt, mlen) = parseDatatype(c, off)
              off += mlen
              Member(name, mOff.toInt, mdt)
            case v => throw UnsupportedHdf5(s"compound datatype version $v")
          }
        }
        (Dtype(6, size, littleEndian = true, signed = false, members = members),
          off - at)
      case other => throw UnsupportedHdf5(s"datatype class $other")
    }
  }

  private def parseLayout(body: Array[Byte]): Layout = {
    val c = new Cur(body)
    val version = c.u8(0)
    if (version != 3 && version != 4)
      throw UnsupportedHdf5(s"data layout message version $version (3/4 only)")
    c.u8(1) match {
      case 0 =>
        val n = c.u16(2)
        Compact(java.util.Arrays.copyOfRange(body, 4, 4 + n))
      case 1 => Contiguous(c.u64(2), c.u64(10))
      case 2 if version == 3 =>
        val dimensionality = c.u8(2) // rank + 1 (trailing element-size dim)
        val btree = c.u64(3)
        val dims = (0 until dimensionality - 1).map(k => c.u32(11 + k * 4L).toInt)
        val elem = c.u32(11 + (dimensionality - 1) * 4L).toInt
        Chunked(btree, dims, elem)
      case 2 =>
        // v4 chunked (HDF5 >= 1.10): flags, rank (NO trailing element-size
        // dim), per-dim encoded size, then the chunk index description
        val flags = c.u8(2)
        val rank = c.u8(3)
        val dimLen = c.u8(4)
        val dims = (0 until rank).map { k =>
          var v = 0L
          (0 until dimLen).foreach(i => v |= c.u8(5 + k * dimLen + i).toLong << (8 * i))
          v.toInt
        }
        var off = 5L + rank * dimLen
        val indexType = c.u8(off)
        off += 1
        indexType match {
          case 1 => // single chunk; flags bit 1 = filtered (size + mask first)
            if ((flags & 0x02) != 0) {
              val filteredSize = c.u64(off) // length-size bytes (8 here)
              val mask = c.u32(off + 8).toInt
              Chunked(c.u64(off + 12), dims, 0, indexType = 1,
                singleSize = filteredSize, singleMask = mask)
            } else Chunked(c.u64(off), dims, 0, indexType = 1)
          case 2 => // implicit: unfiltered chunks packed C-order
            Chunked(c.u64(off), dims, 0, indexType = 2)
          case 3 => // fixed array: page bits byte, then the FAHD address
            Chunked(c.u64(off + 1), dims, 0, indexType = 3)
          case 4 => // extensible array: 5 creation-param bytes (repeated in
            // the EAHD header, which the reader trusts), then the address
            Chunked(c.u64(off + 5), dims, 0, indexType = 4)
          case 5 => // v2 B-tree: node size u32 + split/merge bytes, then address
            Chunked(c.u64(off + 6), dims, 0, indexType = 5)
          case other => throw UnsupportedHdf5(s"v4 chunk index type $other")
        }
      case other => throw UnsupportedHdf5(s"layout class $other")
    }
  }

  private def parseFilters(body: Array[Byte]): Seq[Filter] = {
    val c = new Cur(body)
    val version = c.u8(0)
    val n = c.u8(1)
    var off = if (version == 1) 8L else 2L
    (0 until n).map { _ =>
      val id = c.u16(off)
      val nameLen = if (version == 1 || id >= 256) c.u16(off + 2) else 0
      val nClient = c.u16(off + 6)
      off += 8
      if (nameLen > 0) off += (if (version == 1) (nameLen + 7) / 8 * 8 else nameLen)
      val vals = (0 until nClient).map(k => c.u32(off + k * 4L).toInt)
      off += nClient * 4L
      if (version == 1 && nClient % 2 == 1) off += 4
      Filter(id, vals)
    }
  }

  /** Attribute name/value; vlen values resolve through the global heap. */
  private def parseAttribute(read: (Long, Int) => Array[Byte],
      body: Array[Byte]): Option[(String, Any)] = {
    val c = new Cur(body)
    val version = c.u8(0)
    val (nameSize, dtSize, dsSize) = (c.u16(2), c.u16(4), c.u16(6))
    var off = 8L
    if (version == 3) off += 1 // name character-set encoding
    def padded(n: Int): Int = if (version == 1) (n + 7) / 8 * 8 else n
    val name = c.ascii(off, math.max(nameSize - 1, 0)) // NUL-terminated
    off += padded(nameSize)
    val dtAt = off
    val (dt, _) = parseDatatype(c, dtAt)
    off += padded(dtSize)
    val shape = parseDataspace(
      java.util.Arrays.copyOfRange(body, off.toInt, (off + dsSize).toInt))
    off += padded(dsSize)
    val n = if (shape.isEmpty) 1 else shape.product.toInt
    val value: Any = dt.clazz match {
      case 3 =>
        val raw = c.ascii(off, dt.size * n)
        raw.takeWhile(_ != '\u0000')
      case 0 | 1 =>
        val vs = (0 until n).map(k => numericAt(c, off + k.toLong * dt.size, dt))
        if (n == 1) vs.head else vs
      case 7 =>
        val vs = (0 until n).map(k => c.u64(off + k.toLong * dt.size))
        if (n == 1) vs.head else vs
      case 9 if dt.vlenString =>
        val vs = decodeStrings(
          java.util.Arrays.copyOfRange(body, off.toInt, (off + 16L * n).toInt),
          dt, n, read).toSeq
        if (n == 1) vs.head else vs
      case 9 =>
        // vlen elements: {count u32, gheap collection addr, gheap index u32};
        // flattened — base type assumed 8-byte (object references / u64,
        // the DIMENSION_LIST case), exposed as raw longs
        (0 until n).flatMap { k =>
          val base = off + k * 16L
          val cnt = c.u32(base).toInt
          val gaddr = c.u64(base + 4)
          val gidx = c.u32(base + 12).toInt
          globalHeapObject(read, gaddr, gidx).toSeq.flatMap { data =>
            val gc = new Cur(data)
            (0 until cnt).map(j => gc.u64(j * 8L))
          }
        }
      case _ => return None
    }
    Some((name, value))
  }

  private def numericAt(c: Cur, at: Long, dt: Dtype): Double = {
    var bits = 0L
    var k = 0
    while (k < dt.size) {
      val byte = c.u8(at + k).toLong
      bits |= (if (dt.littleEndian) byte << (8 * k) else byte << (8 * (dt.size - 1 - k)))
      k += 1
    }
    decodeBits(bits, dt)
  }

  private[hdf5] def decodeBits(bits: Long, dt: Dtype): Double = (dt.clazz, dt.size) match {
    case (1, 4) => java.lang.Float.intBitsToFloat(bits.toInt).toDouble
    case (1, 8) => java.lang.Double.longBitsToDouble(bits)
    case (0, 1) => if (dt.signed) bits.toByte.toDouble else (bits & 0xffL).toDouble
    case (0, 2) => if (dt.signed) bits.toShort.toDouble else (bits & 0xffffL).toDouble
    case (0, 4) => if (dt.signed) bits.toInt.toDouble else (bits & 0xffffffffL).toDouble
    case (0, 8) => bits.toDouble
    case (cl, sz) => throw UnsupportedHdf5(s"numeric datatype class $cl size $sz")
  }

  /** One object from a global heap collection (`GCOL`). */
  private def globalHeapObject(read: (Long, Int) => Array[Byte],
      collectionAddr: Long, index: Int): Option[Array[Byte]] = {
    if (collectionAddr == Undef || collectionAddr == 0) return None
    val head = new Cur(read(collectionAddr, 16))
    require(head.ascii(0, 4) == "GCOL", s"bad global heap at $collectionAddr")
    val size = head.u64(8)
    val blk = new Cur(read(collectionAddr, size.toInt))
    var off = 16L
    while (off + 16 <= size) {
      val idx = blk.u16(off)
      val objSize = blk.u64(off + 8)
      if (idx == index)
        return Some(java.util.Arrays.copyOfRange(blk.b, (off + 16).toInt,
          (off + 16 + objSize).toInt))
      if (idx == 0) return None // free space terminator
      off += 16 + (objSize + 7) / 8 * 8
    }
    None
  }

  // ------------------------------------------------------------ chunk maps

  /** Every chunk of a chunked dataset: v1 B-tree walk (node type 1) for
    * layout v3, or the v4 single-chunk / implicit / fixed-array indexes. */
  def chunkRefs(read: (Long, Int) => Array[Byte], ds: DatasetMeta): Seq[ChunkRef] = {
    val chunked = ds.layout match {
      case ck: Chunked => ck
      case other => throw UnsupportedHdf5(s"chunkRefs on $other layout")
    }
    if (chunked.indexType != 0) return chunkRefsV4(read, ds, chunked)
    val rank = chunked.chunkDims.size
    val keySize = 8 + (rank + 1) * 8 // size u32 + mask u32 + (rank+1) u64 offsets
    val out = Seq.newBuilder[ChunkRef]
    def walk(addr: Long): Unit = {
      if (addr == Undef) return
      val head = new Cur(read(addr, 24))
      require(head.ascii(0, 4) == "TREE", s"bad chunk B-tree node at $addr")
      require(head.u8(4) == 1, s"B-tree node type ${head.u8(4)} (chunk = 1)")
      val level = head.u8(5)
      val n = head.u16(6)
      val body = new Cur(read(addr + 24, n * (keySize + 8) + keySize))
      (0 until n).foreach { k =>
        val keyAt = k.toLong * (keySize + 8)
        val nBytes = body.u32(keyAt)
        val mask = body.u32(keyAt + 4).toInt
        val offs = (0 until rank).map(d => body.u64(keyAt + 8 + d * 8L))
        val child = body.u64(keyAt + keySize)
        if (level > 0) walk(child)
        else out += ChunkRef(offs, child, nBytes, mask)
      }
    }
    walk(chunked.btreeAddr)
    out.result()
  }

  /** v4 chunk indexes (HDF5 >= 1.10). Chunk enumeration order is C-order
    * over the chunk grid — the linear index every v4 index keys on. */
  private def chunkRefsV4(read: (Long, Int) => Array[Byte], ds: DatasetMeta,
      ck: Chunked): Seq[ChunkRef] = {
    val grid = ds.shape.zip(ck.chunkDims).map { case (s, c) => ((s + c - 1) / c).toInt }
    val nChunks = grid.product
    val chunkBytes = ck.chunkDims.product.toLong * ck.elemSize
    val filtered = ds.filters.nonEmpty
    // linear index -> element offsets, C-order
    def offsetsOf(linear: Int): Seq[Long] = {
      var rem = linear
      grid.indices.reverse.map { d =>
        val i = rem % grid(d)
        rem /= grid(d)
        i.toLong * ck.chunkDims(d)
      }.reverse
    }
    ck.indexType match {
      case 1 => // single chunk
        val (n, mask) =
          if (ck.singleSize >= 0) (ck.singleSize, ck.singleMask) else (chunkBytes, 0)
        Seq(ChunkRef(ck.chunkDims.map(_ => 0L), ck.btreeAddr, n, mask))
      case 2 => // implicit: fixed-size unfiltered chunks packed back to back
        (0 until nChunks).map(i =>
          ChunkRef(offsetsOf(i), ck.btreeAddr + i * chunkBytes, chunkBytes, 0))
      case 3 => // fixed array: FAHD header -> FADB data block of entries
        // FAHD: sig(4) ver(1) clientId(1) entrySize(1) pageBits(1)
        //       maxNumEntries(len=8) dataBlockAddr(off=8) checksum(4)
        val h = new Cur(read(ck.btreeAddr, 28))
        require(h.ascii(0, 4) == "FAHD", s"bad fixed-array header at ${ck.btreeAddr}")
        val clientId = h.u8(5)
        require(clientId == 0 || clientId == 1, s"fixed-array client id $clientId")
        require((clientId == 1) == filtered,
          s"fixed-array client id $clientId vs filter pipeline present=$filtered")
        val entrySize = h.u8(6)
        val pageBits = h.u8(7)
        val nEntries = h.u64(8)
        require(nEntries == nChunks,
          s"fixed array holds $nEntries entries for a $nChunks-chunk grid")
        val dblkAddr = h.u64(16)
        // FADB: sig(4) ver(1) clientId(1) headerAddr(8). Small arrays store
        // the elements inline; arrays past one page (2^pageBits entries —
        // the >1024-chunk shape of genuinely large datasets) store a page
        // BITMAP + checksum in the data block, with fixed-size element
        // pages (each checksummed) packed consecutively after it. A clear
        // bitmap bit marks a whole page of unallocated chunks.
        val pageNelmts = 1L << pageBits
        val paged = nEntries > pageNelmts
        val elemAt: Int => Long =
          if (!paged) { i => 14L + i.toLong * entrySize }
          else {
            val nPages = ((nEntries + pageNelmts - 1) / pageNelmts).toInt
            val bitmapBytes = (nPages + 7) / 8
            val pagesStart = 14L + bitmapBytes + 4 // after bitmap + checksum
            val pageSize = pageNelmts * entrySize + 4 // + per-page checksum
            i => {
              val p = i / pageNelmts
              pagesStart + p * pageSize + (i % pageNelmts) * entrySize
            }
          }
        val dblkLen =
          if (!paged) 14L + nEntries * entrySize + 4
          else elemAt(nChunks - 1) + entrySize + 4
        val d = new Cur(read(dblkAddr, dblkLen.toInt))
        require(d.ascii(0, 4) == "FADB", s"bad fixed-array data block at $dblkAddr")
        val pageInit: Int => Boolean =
          if (!paged) _ => true
          else { i =>
            val p = (i / pageNelmts).toInt
            (d.u8(14 + p / 8) & (1 << (p % 8))) != 0
          }
        (0 until nChunks).flatMap { i =>
          if (!pageInit(i)) None // uninitialized page: fill-value chunks
          else {
            val at = elemAt(i)
            val addr = d.u64(at)
            if (addr == Undef) None // unallocated chunk (fill value)
            else if (clientId == 0) Some(ChunkRef(offsetsOf(i), addr, chunkBytes, 0))
            else {
              // filtered element: addr(8) + chunk size (entrySize-12 bytes) +
              // filter mask u32
              val szLen = entrySize - 12
              var sz = 0L
              (0 until szLen).foreach(k => sz |= d.u8(at + 8 + k).toLong << (8 * k))
              val mask = d.u32(at + 8 + szLen).toInt
              Some(ChunkRef(offsetsOf(i), addr, sz, mask))
            }
          }
        }
      case 4 =>
        // Extensible array (EAHD/EAIB/EASB/EADB) — the index HDF5 >= 1.10
        // writes for ONE unlimited dimension, i.e. every time-appending
        // netCDF-4 file. Geometry (public HDF5 source, H5EApkg.h): after
        // the first `idxBlkElmts` elements (stored inline in the index
        // block), super block u holds 2^(u/2) data blocks of
        // 2^((u+1)/2) * dataBlkMinElmts elements; the index block stores
        // the data-block addresses of the 2*(supBlkMinDataPtrs-1) early
        // data blocks directly and super-block addresses beyond. Data
        // blocks past one page (2^maxDblkPageBits elements — the deep
        // super blocks decade-scale appended archives reach) read through
        // the paged layout with the owning super block's page-init
        // bitmap.
        val h = new Cur(read(ck.btreeAddr, 80))
        require(h.ascii(0, 4) == "EAHD", s"bad extensible-array header at ${ck.btreeAddr}")
        val clientId = h.u8(5)
        require(clientId == 0 || clientId == 1, s"extensible-array client id $clientId")
        require((clientId == 1) == filtered,
          s"extensible-array client id $clientId vs filter pipeline present=$filtered")
        val entrySize = h.u8(6)
        val maxNelmtsBits = h.u8(7)
        val idxBlkElmts = h.u8(8)
        val dataBlkMinElmts = h.u8(9)
        val supBlkMinDataPtrs = h.u8(10)
        val maxDblkPageBits = h.u8(11)
        // stats: 6 length fields, then the index block address
        val iblkAddr = h.u64(12 + 6 * 8)
        val arrOffSize = (maxNelmtsBits + 7) / 8
        require(iblkAddr != Undef, "extensible array without an index block")
        def log2(x: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(x)
        // super-block geometry and the linear-index lookup
        final case class Sblk(ndblks: Int, dblkNelmts: Int, startIdx: Long)
        val sblks = {
          val b = Seq.newBuilder[Sblk]
          var start = 0L
          var u = 0
          // super blocks only cover indices past the index-block elements,
          // so count them with the same idxBlkElmts offset the writer uses
          // (a bare `start < nChunks` could admit one extra super block and
          // size iblkLen past the written structure)
          while (idxBlkElmts + start < nChunks.toLong && u < 64) {
            val nd = 1 << (u / 2)
            val ne = (1 << ((u + 1) / 2)) * dataBlkMinElmts
            b += Sblk(nd, ne, start)
            start += nd.toLong * ne
            u += 1
          }
          b.result()
        }
        val iblkNdblkAddrs = 2 * (supBlkMinDataPtrs - 1) // sblks with ndblks < min ptrs
        val sblkInIblk = sblks.indices.count(u => sblks(u).ndblks < supBlkMinDataPtrs)
        val nsblkAddrs = math.max(0, sblks.size - sblkInIblk)
        // index block: elements, then data block addrs, then super block addrs
        val iblkLen = 14L + idxBlkElmts.toLong * entrySize +
          iblkNdblkAddrs * 8L + nsblkAddrs * 8L + 4
        val ib = new Cur(read(iblkAddr, iblkLen.toInt))
        require(ib.ascii(0, 4) == "EAIB", s"bad extensible-array index block at $iblkAddr")
        def parseEntry(cur: Cur, at: Long, i: Int): Option[ChunkRef] = {
          val addr = cur.u64(at)
          if (addr == Undef) None
          else if (clientId == 0) Some(ChunkRef(offsetsOf(i), addr, chunkBytes, 0))
          else {
            val szLen = entrySize - 12
            var sz = 0L
            (0 until szLen).foreach(k => sz |= cur.u8(at + 8 + k).toLong << (8 * k))
            val mask = cur.u32(at + 8 + szLen).toInt
            Some(ChunkRef(offsetsOf(i), addr, sz, mask))
          }
        }
        val pageNelmts = 1 << maxDblkPageBits
        // Data blocks: EADB header then elements. Data blocks past one
        // page (the shape decade-scale appended archives hit: dblk sizes
        // grow with super-block depth) store NO inline elements — fixed
        // `pageNelmts`-element pages, each checksummed, are packed right
        // after the header+checksum; `pageInit(p)` comes from the owning
        // super block's page bitmap (clear bit = unallocated page).
        def dblkEntries(addr: Long, nelmts: Int, firstIdx: Long,
            pageInit: Int => Boolean = _ => true): Seq[ChunkRef] = {
          if (addr == Undef) return Nil // unallocated: fill-value chunks
          val headLen = 14L + arrOffSize
          val upTo = math.min(nelmts.toLong, nChunks.toLong - firstIdx)
          if (nelmts <= pageNelmts) {
            val d = new Cur(read(addr, (headLen + upTo * entrySize + 4).toInt))
            require(d.ascii(0, 4) == "EADB", s"bad extensible-array data block at $addr")
            (0L until upTo).flatMap(k =>
              parseEntry(d, headLen + k * entrySize, (firstIdx + k).toInt))
          } else {
            val pagesStart = headLen + 4 // after the data block checksum
            val pageSize = pageNelmts.toLong * entrySize + 4
            val lastPage = ((upTo - 1) / pageNelmts).toInt
            val d = new Cur(read(addr,
              (pagesStart + lastPage * pageSize +
                (upTo - lastPage.toLong * pageNelmts) * entrySize + 4).toInt))
            require(d.ascii(0, 4) == "EADB", s"bad extensible-array data block at $addr")
            (0L until upTo).flatMap { k =>
              val p = (k / pageNelmts).toInt
              if (!pageInit(p)) None
              else parseEntry(d,
                pagesStart + p * pageSize + (k % pageNelmts) * entrySize,
                (firstIdx + k).toInt)
            }
          }
        }
        val out = Seq.newBuilder[ChunkRef]
        // 1) inline elements
        (0 until math.min(idxBlkElmts, nChunks)).foreach(i =>
          out ++= parseEntry(ib, 14L + i.toLong * entrySize, i))
        if (nChunks > idxBlkElmts) {
          val dblkAddrsAt = 14L + idxBlkElmts.toLong * entrySize
          val sblkAddrsAt = dblkAddrsAt + iblkNdblkAddrs * 8L
          // 2) early data blocks addressed straight from the index block
          var dblkSlot = 0
          sblks.indices.takeWhile(u => sblks(u).ndblks < supBlkMinDataPtrs).foreach { u =>
            val s = sblks(u)
            (0 until s.ndblks).foreach { d =>
              val first = idxBlkElmts + s.startIdx + d.toLong * s.dblkNelmts
              if (first < nChunks && dblkSlot < iblkNdblkAddrs) {
                out ++= dblkEntries(ib.u64(dblkAddrsAt + dblkSlot * 8L), s.dblkNelmts, first)
              }
              dblkSlot += 1
            }
          }
          // 3) super blocks (EASB: header + block offset + [page bitmap
          //    when this super block's data blocks are paged] + dblk addrs)
          sblks.indices.drop(sblkInIblk).zipWithIndex.foreach { case (u, slot) =>
            val s = sblks(u)
            if (idxBlkElmts + s.startIdx < nChunks) {
              val sbAddr = ib.u64(sblkAddrsAt + slot * 8L)
              if (sbAddr != Undef) {
                val dblkPaged = s.dblkNelmts > pageNelmts
                val pagesPerDblk =
                  if (dblkPaged) (s.dblkNelmts + pageNelmts - 1) / pageNelmts else 0
                val bitmapBytes =
                  if (dblkPaged) (s.ndblks * pagesPerDblk + 7) / 8 else 0
                val addrsAt = 14L + arrOffSize + bitmapBytes
                val sbLen = addrsAt + s.ndblks * 8L + 4
                val sb = new Cur(read(sbAddr, sbLen.toInt))
                require(sb.ascii(0, 4) == "EASB", s"bad extensible-array super block at $sbAddr")
                (0 until s.ndblks).foreach { d =>
                  val first = idxBlkElmts + s.startIdx + d.toLong * s.dblkNelmts
                  if (first < nChunks) {
                    val pageInit: Int => Boolean =
                      if (!dblkPaged) _ => true
                      else { p =>
                        val bit = d * pagesPerDblk + p
                        (sb.u8(14L + arrOffSize + bit / 8) & (1 << (bit % 8))) != 0
                      }
                    out ++= dblkEntries(sb.u64(addrsAt + d * 8L), s.dblkNelmts,
                      first, pageInit)
                  }
                }
              }
            }
          }
        }
        out.result()
      case 5 =>
        // v2 B-tree chunk index (types 10/11 — the shape libhdf5 writes
        // for >1 unlimited dimension), any depth via the shared walker.
        val (btType, recordSize, records) = v2BtreeRecords(read, ck.btreeAddr)
        require(btType == 10 || btType == 11,
          s"v2 B-tree record type $btType (chunk records are 10/11)")
        require((btType == 11) == filtered,
          s"v2 B-tree record type $btType vs filter pipeline present=$filtered")
        val rank = ck.chunkDims.size
        records.map { recBytes =>
          val rec = new Cur(recBytes)
          val addr = rec.u64(0)
          // type 10: addr + scaled offsets (8 each); type 11: addr +
          // chunk size (recordSize-derived width) + filter mask u32 +
          // scaled offsets
          val (nBytes, mask, offsAt) =
            if (btType == 10) (chunkBytes, 0, 8L)
            else {
              val szLen = recordSize - 8 - 4 - rank * 8
              var sz = 0L
              (0 until szLen).foreach(k => sz |= rec.u8(8L + k).toLong << (8 * k))
              (sz, rec.u32(8L + szLen).toInt, 8L + szLen + 4)
            }
          // scaled offsets are CHUNK coordinates; element offsets scale
          // by the chunk dims
          val offs = (0 until rank).map(d =>
            rec.u64(offsAt + d * 8) * ck.chunkDims(d))
          ChunkRef(offs, addr, nBytes, mask)
        }
      case other => throw UnsupportedHdf5(s"v4 chunk index type $other")
    }
  }

  // ------------------------------------------------------------ raw decode

  /** Reverse the filter pipeline over one chunk/contiguous span.
    * `signedElems` is the dataset dtype's two's-complement flag — needed
    * only by nbit (filter 5), whose client values don't carry the sign. */
  def defilter(raw: Array[Byte], filters: Seq[Filter], filterMask: Int,
      elemSize: Int, expected: Int, signedElems: Boolean = true): Array[Byte] = {
    var data = raw
    // pipeline applies in order on write; reverse on read
    filters.zipWithIndex.reverse.foreach { case (f, i) =>
      if ((filterMask & (1 << i)) == 0) f.id match {
        case 1 => data = inflate(data, expected)
        case 2 => data = deshuffle(data, elemSize)
        case 3 => data = java.util.Arrays.copyOfRange(data, 0, data.length - 4)
        case 4 =>
          // szip = the szip/libaec extended-Rice algorithm, i.e. CCSDS
          // 121.0 — the same coder GRIB2 template 5.42 uses ([[Ccsds]]).
          // Client values per H5Zszip.c: [options mask, bits/pixel,
          // pixels/block, pixels/scanline]; each scanline is one
          // reference-sample interval, mask bit 32 = the NN (predictive)
          // preprocessor, bit 16 = MSB sample bytes.
          val cv = f.clientValues
          require(cv.length >= 4, s"szip filter with ${cv.length} client values")
          val (mask, bpp, ppb, pps) = (cv(0), cv(1), cv(2), cv(3))
          if (bpp <= 0 || bpp % 8 != 0 || bpp > 32)
            throw UnsupportedHdf5(s"szip with $bpp bits/pixel (8/16/24/32 only)")
          if (ppb <= 0 || pps <= 0 || pps % ppb != 0)
            throw UnsupportedHdf5(s"szip scanline of $pps pixels is not a " +
              s"multiple of the $ppb-pixel block (partial-block padding " +
              "unsupported) — repack with h5repack to deflate")
          val bytesPer = bpp / 8
          val nSamples = expected / bytesPer
          val params = graft.sources.grib.Ccsds.Params(bpp, ppb, pps / ppb,
            preprocess = (mask & 32) != 0)
          val samples = graft.sources.grib.Ccsds.decode(data, params, nSamples)
          val outB = new Array[Byte](expected)
          val msb = (mask & 16) != 0
          var si = 0
          while (si < nSamples) {
            var j = 0
            while (j < bytesPer) {
              val shift = if (msb) 8 * (bytesPer - 1 - j) else 8 * j
              outB(si * bytesPer + j) = ((samples(si) >>> shift) & 0xff).toByte
              j += 1
            }
            si += 1
          }
          data = outB
        case 5 =>
          // nbit (public H5Znbit.c): cd[0]=#parms, cd[1]=need-not-compress
          // flag, cd[2]=elements/chunk, cd[3]=datatype class (1 atomic,
          // 4 no-op; array=2/compound=3 unsupported); atomic parms
          // cd[4]=size, cd[5]=order (0 LE / 1 BE), cd[6]=precision,
          // cd[7]=bit offset. The packed stream is each element's
          // precision-bit field MSB-first, elements in order.
          val cv = f.clientValues
          require(cv.length >= 4, s"nbit filter with ${cv.length} client values")
          if (cv(1) == 0) cv(3) match {
            case 1 =>
              require(cv.length >= 8, s"nbit atomic with ${cv.length} client values")
              val size = cv(4); val be = cv(5) == 1
              val precision = cv(6); val bitOffset = cv(7)
              require(size > 0 && precision > 0 && precision <= 64 &&
                precision + bitOffset <= size * 8,
                s"nbit precision $precision + offset $bitOffset vs size $size bytes")
              val n = expected / size
              require(cv(2) == n, s"nbit nelmts ${cv(2)} vs chunk elements $n")
              val fields = unpackMsb(data, 0, n, precision)
              // H5Z's raw output is (field << offset) with zero padding;
              // the field extraction is H5T's job via the datatype's
              // precision/offset view. Downstream here decodes full-width
              // elements, so that view is folded in: emit the field
              // sign-extended (two's-complement dtypes) at full width.
              val out = new Array[Byte](expected)
              var i = 0
              while (i < n) {
                var v = fields(i)
                if (signedElems && precision < 64)
                  v = (v << (64 - precision)) >> (64 - precision)
                var j = 0
                while (j < size) {
                  val shift = if (be) 8 * (size - 1 - j) else 8 * j
                  out(i * size + j) = ((v >>> shift) & 0xff).toByte
                  j += 1
                }
                i += 1
              }
              data = out
            case 4 => // no-op datatype class: bytes stored verbatim
            case other => throw UnsupportedHdf5(
              s"nbit datatype class $other (atomic and no-op only)")
          } // cd[1] != 0 = full-precision data stored verbatim: nothing to do
        case 6 =>
          // scaleoffset (public H5Zscaleoffset.c): cd[0]=scale type
          // (0 float D-scale, 1 float E-scale — unimplemented in HDF5
          // itself, 2 int), cd[1]=scale factor (D digits for floats),
          // cd[2]=elements/chunk, cd[3]=class (0 int, 1 float),
          // cd[4]=size, cd[5]=sign, cd[6]=order (0 LE / 1 BE),
          // cd[7]=fill-value-defined flag, cd[8..]=fill value (native-LE
          // bytes memcpy'd into the u32 parm slots). Chunk layout: u32-LE
          // minbits, u8 minval byte width, LE minval, packed fields from
          // fixed byte 21 (`buf_offset` in the C source) — minbits-bit
          // fields MSB-first; all-ones sentinel = fill value.
          val cv = f.clientValues
          require(cv.length >= 8, s"scaleoffset filter with ${cv.length} client values")
          if (cv(0) == 1) throw UnsupportedHdf5(
            "scaleoffset E-scaling (unimplemented in HDF5 itself)")
          val dVal = cv(1)
          val isFloat = cv(3) == 1
          val size = cv(4); val be = cv(6) == 1
          val fillDefined = cv(7) != 0
          require(size >= 1 && size <= 8, s"scaleoffset size $size")
          require(!isFloat || size == 4 || size == 8,
            s"scaleoffset float size $size")
          val n = expected / size
          require(cv(2) == n, s"scaleoffset nelmts ${cv(2)} vs chunk elements $n")
          val minbits = (data(0) & 0xffL) | ((data(1) & 0xffL) << 8) |
            ((data(2) & 0xffL) << 16) | ((data(3) & 0xffL) << 24)
          require(minbits <= size * 8, s"scaleoffset minbits $minbits vs $size bytes")
          val mvWidth = math.min(8, data(4) & 0xff)
          var minval = 0L
          var mvI = 0
          while (mvI < mvWidth) { minval |= (data(5 + mvI) & 0xffL) << (8 * mvI); mvI += 1 }
          val headerLen = 21
          val fullWidth = minbits == size * 8
          val sentinel = if (minbits == 64) -1L else (1L << minbits) - 1
          val sizeMask = if (size == 8) -1L else (1L << (size * 8)) - 1
          var fillBits = 0L
          if (fillDefined) {
            var j = 0
            while (j < size) {
              fillBits |= ((cv(8 + j / 4) >> (8 * (j % 4))) & 0xffL) << (8 * j)
              j += 1
            }
          }
          val fields: Array[Long] =
            if (fullWidth) { // stored verbatim at full width, little-endian
              val out = new Array[Long](n)
              var i = 0
              while (i < n) {
                var v = 0L; var j = 0
                while (j < size) { v |= (data(headerLen + i * size + j) & 0xffL) << (8 * j); j += 1 }
                out(i) = v; i += 1
              }
              out
            } else if (minbits == 0) new Array[Long](n)
            else unpackMsb(data, headerLen, n, minbits.toInt)
          val out = new Array[Byte](expected)
          var i = 0
          while (i < n) {
            val raw0 = fields(i)
            val outBits: Long =
              if (fullWidth) raw0
              else if (fillDefined && raw0 == sentinel) fillBits
              else if (!isFloat) (raw0 + minval) & sizeMask
              else if (size == 4) {
                // float D-scale inverse: signed-int arithmetic at the
                // element width, then /10^D (postdecompress_3 in the C)
                val v = (raw0 + minval).toInt
                java.lang.Float.floatToIntBits(
                  (v.toDouble / math.pow(10, dVal)).toFloat).toLong & 0xffffffffL
              } else {
                val v = raw0 + minval
                java.lang.Double.doubleToLongBits(v.toDouble / math.pow(10, dVal))
              }
            var j = 0
            while (j < size) {
              val shift = if (be) 8 * (size - 1 - j) else 8 * j
              out(i * size + j) = ((outBits >>> shift) & 0xff).toByte
              j += 1
            }
            i += 1
          }
          data = out
        case 32001 =>
          // blosc (registered filter, hdf5plugin/PyTables H5Zblosc): the
          // chunk payload is one self-describing blosc frame — the header
          // carries codec/shuffle/sizes, so the client values (filter
          // version, blosc format, typesize, chunk bytes, clevel, shuffle,
          // compcode) are advisory on decode
          data = graft.sources.zarr.Blosc.decompress(data)
          require(data.length == expected,
            s"blosc filter decoded ${data.length} bytes, chunk is $expected")
        case 32004 =>
          // lz4 (HDF5-External-Filter-Plugins H5Zlz4): 8-byte BE total
          // decompressed size, 4-byte BE block size, then per block a
          // 4-byte BE compressed length + LZ4 BLOCK data (a block whose
          // compressed length equals its decompressed length is stored raw)
          data = lz4BlockedDecode(data, expected)
        case 32008 =>
          // bitshuffle (kiyo-masui/bitshuffle bshuf_h5filter.c): client
          // values [major, minor, elem size, block elements, flag]; flag
          // 0 = bit-transpose only (no framing), 2 = per-block LZ4 with a
          // 12-byte BE header (total bytes + block bytes), 3 = per-block
          // zstd with the same framing
          val cv = f.clientValues
          require(cv.length >= 3, s"bitshuffle filter with ${cv.length} client values")
          val es = cv(2)
          require(es >= 1, s"bitshuffle element size $es")
          val flag = if (cv.length > 4) cv(4) else 0
          data = flag match {
            case 0 =>
              val blockElems0 = if (cv.length > 3) cv(3) else 0
              val blockElems =
                if (blockElems0 > 0) blockElems0 else (8192 / es) & ~7
              bitshuffleDecode(data, expected, es, blockElems)
            case 2 | 3 =>
              require(data.length >= 12, "bitshuffle compressed chunk under 12 bytes")
              val total = be64(data, 0)
              require(total == expected,
                s"bitshuffle header says $total bytes, chunk is $expected")
              val blockBytes = be32(data, 8)
              require(blockBytes > 0 && blockBytes % (8 * es) == 0,
                s"bitshuffle block of $blockBytes bytes is not a multiple " +
                  s"of 8 elements of $es bytes")
              val shuffled = blockedFramesDecode(data, 12, expected, blockBytes,
                es, zstd = flag == 3)
              bitshuffleDecode(shuffled, expected, es, blockBytes / es)
            case other => throw UnsupportedHdf5(
              s"bitshuffle compression flag $other (none 0, lz4 2, zstd 3)")
          }
        case 32015 =>
          // zstd (registered filter H5Zzstd, hdf5plugin/nc-zstd): the chunk
          // payload is one bare zstd frame; client value = level (advisory)
          data = graft.sources.zarr.Zstd.decompress(data, 0, data.length, expected)
          require(data.length == expected,
            s"zstd filter decoded ${data.length} bytes, chunk is $expected")
        case other => throw UnsupportedHdf5(
          s"filter id $other (deflate/shuffle/fletcher32/szip/nbit/" +
            "scaleoffset/blosc/lz4/bitshuffle/zstd only)")
      }
    }
    data
  }

  /** MSB-first bit unpacking: `n` fields of `bits` bits each, starting at
    * byte `byteOff` — the packing both H5Znbit and H5Zscaleoffset use (each
    * element's field appended top bit first, stream filled into bytes
    * MSB-first). */
  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def be64(b: Array[Byte], off: Int): Long =
    ((be32(b, off) & 0xffffffffL) << 32) | (be32(b, off + 4) & 0xffffffffL)

  /** H5Zlz4's chunk layout: u64-BE total size, u32-BE block size, then per
    * block a u32-BE compressed length + LZ4 BLOCK bytes (equal lengths =
    * stored raw). */
  private[hdf5] def lz4BlockedDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    require(data.length >= 12, "lz4 chunk under 12 bytes")
    val total = be64(data, 0)
    require(total == expected,
      s"lz4 header says $total bytes, chunk is $expected")
    val blockSize0 = be32(data, 8)
    val blockSize = if (blockSize0 > 0) blockSize0 else expected
    val out = new Array[Byte](expected)
    var s = 12
    var d = 0
    while (d < expected) {
      val origLen = math.min(blockSize, expected - d)
      require(s + 4 <= data.length, "lz4 chunk truncated at a block header")
      val compLen = be32(data, s)
      s += 4
      require(compLen > 0 && s + compLen <= data.length,
        s"lz4 block of $compLen bytes overruns the chunk")
      if (compLen == origLen)
        System.arraycopy(data, s, out, d, origLen)
      else
        graft.sources.zarr.Blosc.lz4Decompress(data, s, compLen, out, d, origLen)
      s += compLen
      d += origLen
    }
    out
  }

  /** The bitshuffle library's per-block compressed stream (after its
    * 12-byte header): u32-BE compressed length + one LZ4 BLOCK (or zstd
    * frame) per bit-transposed block. Full blocks of `blockBytes`, then a
    * final partial block rounded DOWN to 8 elements, then the <8-element
    * leftover stored raw (bshuf_blocked_wrap_fun). Returns the
    * still-bit-shuffled bytes. */
  private def blockedFramesDecode(data: Array[Byte], hdr: Int, expected: Int,
      blockBytes: Int, elemSize: Int, zstd: Boolean): Array[Byte] = {
    import graft.sources.zarr.{Blosc, Zstd}
    val totalElems = expected / elemSize
    val blockElems = blockBytes / elemSize
    val leftoverElems = totalElems % 8
    val out = new Array[Byte](expected)
    var s = hdr
    var d = 0
    val blockedEnd = (totalElems - leftoverElems) * elemSize
    while (d < blockedEnd) {
      val origLen = math.min(blockBytes, blockedEnd - d)
      require(s + 4 <= data.length, "bitshuffle chunk truncated at a block header")
      val compLen = be32(data, s)
      s += 4
      require(compLen > 0 && s + compLen <= data.length,
        s"bitshuffle block of $compLen bytes overruns the chunk")
      if (zstd) {
        val blk = Zstd.decompress(data, s, compLen, origLen)
        require(blk.length == origLen,
          s"bitshuffle zstd block decoded ${blk.length} bytes, wanted $origLen")
        System.arraycopy(blk, 0, out, d, origLen)
      } else Blosc.lz4Decompress(data, s, compLen, out, d, origLen)
      s += compLen
      d += origLen
    }
    // trailing <8-element remainder rides raw after the last block
    val leftoverBytes = leftoverElems * elemSize
    if (leftoverBytes > 0) {
      require(s + leftoverBytes <= data.length,
        "bitshuffle chunk truncated in the raw leftover")
      System.arraycopy(data, s, out, d, leftoverBytes)
    }
    out
  }

  /** Undo the bitshuffle bit transpose over the blocked layout the library
    * uses: full blocks of `blockElems` (a multiple of 8), one final partial
    * block rounded down to 8 elements, raw leftover. */
  private def bitshuffleDecode(shuffled: Array[Byte], expected: Int,
      elemSize: Int, blockElems: Int): Array[Byte] = {
    require(blockElems > 0 && blockElems % 8 == 0,
      s"bitshuffle block of $blockElems elements is not a multiple of 8")
    val totalElems = expected / elemSize
    val out = new Array[Byte](expected)
    var e = 0
    while (e < totalElems) {
      val nElem = {
        val rem = totalElems - e
        if (rem >= blockElems) blockElems else rem & ~7
      }
      if (nElem == 0) { // <8-element leftover: stored verbatim
        System.arraycopy(shuffled, e * elemSize, out, e * elemSize,
          (totalElems - e) * elemSize)
        e = totalElems
      } else {
        val bsize = nElem * elemSize
        val block = java.util.Arrays.copyOfRange(
          shuffled, e * elemSize, e * elemSize + bsize)
        graft.sources.zarr.Blosc.bitUnshuffleBlock(
          block, bsize, elemSize, out, e * elemSize)
        e += nElem
      }
    }
    out
  }

  private[hdf5] def unpackMsb(buf: Array[Byte], byteOff: Int, n: Int,
      bits: Int): Array[Long] = {
    require(bits >= 1 && bits <= 64, s"field width $bits")
    val need = byteOff + (n.toLong * bits + 7) / 8
    require(buf.length >= need, s"bit-packed stream ${buf.length} B < $need B")
    val out = new Array[Long](n)
    var bitPos = byteOff.toLong * 8
    var i = 0
    while (i < n) {
      var v = 0L
      var k = 0
      while (k < bits) {
        val b = buf((bitPos >> 3).toInt)
        v = (v << 1) | ((b >> (7 - (bitPos & 7)).toInt) & 1)
        bitPos += 1
        k += 1
      }
      out(i) = v
      i += 1
    }
    out
  }

  /** Inverse of [[unpackMsb]]: pack each field's low `bits` bits MSB-first
    * into a byte stream (trailing bits of the last byte zero). */
  private[hdf5] def packMsb(fields: Array[Long], bits: Int): Array[Byte] = {
    require(bits >= 1 && bits <= 64, s"field width $bits")
    val out = new Array[Byte](((fields.length.toLong * bits + 7) / 8).toInt)
    var bitPos = 0L
    var i = 0
    while (i < fields.length) {
      var k = bits - 1
      while (k >= 0) {
        val bit = (fields(i) >>> k) & 1L
        out((bitPos >> 3).toInt) = (out((bitPos >> 3).toInt) |
          (bit << (7 - (bitPos & 7)).toInt)).toByte
        bitPos += 1
        k -= 1
      }
      i += 1
    }
    out
  }

  private def inflate(raw: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(raw)
    val out = new java.io.ByteArrayOutputStream(expected)
    val buf = new Array[Byte](64 * 1024)
    while (!inf.finished() && !inf.needsInput()) {
      val n = inf.inflate(buf)
      if (n > 0) out.write(buf, 0, n)
      else if (inf.needsDictionary())
        throw UnsupportedHdf5("deflate preset dictionary")
    }
    inf.end()
    out.toByteArray
  }

  private def deshuffle(data: Array[Byte], elemSize: Int): Array[Byte] = {
    if (elemSize <= 1) return data
    val n = data.length / elemSize
    val out = new Array[Byte](data.length)
    var j = 0
    while (j < elemSize) {
      var i = 0
      while (i < n) {
        out(i * elemSize + j) = data(j * n + i)
        i += 1
      }
      j += 1
    }
    // trailing bytes (length not divisible) copied as-is
    var t = n * elemSize
    while (t < data.length) { out(t) = data(t); t += 1 }
    out
  }

  /** Decode a defiltered byte span as `n` doubles of `dt`. */
  def decodeValues(bytes: Array[Byte], dt: Dtype, n: Int): Array[Double] = {
    val c = new Cur(bytes)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = numericAt(c, i.toLong * dt.size, dt)
      i += 1
    }
    out
  }

  /** Decode a byte span as `n` strings: fixed-length (class 3, NUL-padded
    * cells of `dt.size` bytes) in place, or variable-length (class 9 string,
    * 16-byte `{len u32, gheap addr u64, gheap idx u32}` descriptors) through
    * the global heap via `read`. Undefined heap references decode as null
    * (the unwritten-element case). */
  def decodeStrings(bytes: Array[Byte], dt: Dtype, n: Int,
      read: (Long, Int) => Array[Byte]): Array[String] = dt match {
    case _ if dt.clazz == 3 =>
      val size = dt.size
      Array.tabulate(n) { i =>
        val s = new String(bytes, i * size, size, java.nio.charset.StandardCharsets.UTF_8)
        val cut = s.indexOf('\u0000')
        if (cut >= 0) s.substring(0, cut) else s
      }
    case _ if dt.clazz == 9 && dt.vlenString =>
      val c = new Cur(bytes)
      Array.tabulate(n) { i =>
        val base = i * 16L
        val len = c.u32(base).toInt
        val gaddr = c.u64(base + 4)
        val gidx = c.u32(base + 12).toInt
        if (gaddr == Undef || gaddr == 0 || gidx == 0) null
        else globalHeapObject(read, gaddr, gidx)
          .map(b => new String(b, 0, math.min(len, b.length),
            java.nio.charset.StandardCharsets.UTF_8))
          .orNull
      }
    case other => throw UnsupportedHdf5(s"decodeStrings on datatype $other")
  }

  /** Decode a byte span as `n` fixed-shape array cells (class 10): each
    * cell is `arrayDims.product` elements of the numeric base, flattened
    * C-order. */
  def decodeFixedArrays(bytes: Array[Byte], dt: Dtype, n: Int): Array[Array[Double]] = {
    require(dt.isFixedArray, s"decodeFixedArrays on datatype $dt")
    val base = dt.base.getOrElse(
      throw UnsupportedHdf5("array datatype without a base type"))
    if (!base.isNumeric)
      throw UnsupportedHdf5(
        s"array datatype over class ${base.clazz} (numeric bases only)")
    val k = dt.arrayDims.product
    val c = new Cur(bytes)
    Array.tabulate(n) { i =>
      Array.tabulate(k)(j =>
        numericAt(c, i.toLong * dt.size + j.toLong * base.size, base))
    }
  }

  /** Decode a byte span as `n` opaque cells (class 5): `dt.size` raw bytes
    * each — NC_OPAQUE / embedded binary blobs surface as BinaryType. */
  def decodeOpaque(bytes: Array[Byte], dt: Dtype, n: Int): Array[Array[Byte]] = {
    require(dt.isOpaque, s"decodeOpaque on datatype $dt")
    Array.tabulate(n)(i =>
      java.util.Arrays.copyOfRange(bytes, i * dt.size, (i + 1) * dt.size))
  }

  /** Decode a byte span as `n` variable-length SEQUENCES (class 9, vlen
    * type 0 — netCDF-4 VLEN/ragged types): 16-byte `{nelems u32, gheap
    * addr u64, gheap idx u32}` descriptors; elements decode from the
    * global heap at the vlen's BASE type. Undefined heap references decode
    * as null (the unwritten-element case). */
  def decodeVlenSeqs(bytes: Array[Byte], dt: Dtype, n: Int,
      read: (Long, Int) => Array[Byte]): Array[Array[Double]] = {
    require(dt.isVlenSeq, s"decodeVlenSeqs on datatype $dt")
    val base = dt.base.getOrElse(
      throw UnsupportedHdf5("vlen sequence without a base datatype"))
    if (!base.isNumeric)
      throw UnsupportedHdf5(
        s"vlen sequence of datatype class ${base.clazz} (numeric bases only)")
    val c = new Cur(bytes)
    Array.tabulate(n) { i =>
      val off = i * 16L
      val nel = c.u32(off).toInt
      val gaddr = c.u64(off + 4)
      val gidx = c.u32(off + 12).toInt
      if (gaddr == Undef || gaddr == 0 || gidx == 0) null
      else globalHeapObject(read, gaddr, gidx).map { b =>
        if (nel.toLong * base.size > b.length)
          throw UnsupportedHdf5(
            s"vlen descriptor declares $nel elements (${nel.toLong * base.size} B) " +
              s"but its global-heap object holds ${b.length} B — corrupt file")
        val bc = new Cur(b)
        Array.tabulate(nel)(j => numericAt(bc, j.toLong * base.size, base))
      }.orNull
    }
  }

  /** Decode `n` records of a compound (class 6) datatype into one column
    * per member: numeric members become `Array[Double]`, fixed-string
    * members `Array[String]`. */
  def decodeMembers(bytes: Array[Byte], dt: Dtype, n: Int): Seq[(String, AnyRef)] = {
    require(dt.isCompound, s"decodeMembers on datatype $dt")
    val c = new Cur(bytes)
    dt.members.map { m =>
      val vals: AnyRef = m.dtype.clazz match {
        case 0 | 1 =>
          val a = new Array[Double](n)
          var i = 0
          while (i < n) {
            a(i) = numericAt(c, i.toLong * dt.size + m.offset, m.dtype)
            i += 1
          }
          a
        case 3 =>
          Array.tabulate(n) { i =>
            val s = new String(bytes, i * dt.size + m.offset, m.dtype.size,
              java.nio.charset.StandardCharsets.UTF_8)
            val cut = s.indexOf('\u0000')
            if (cut >= 0) s.substring(0, cut) else s
          }
        case other => throw UnsupportedHdf5(
          s"compound member '${m.name}' datatype class $other " +
            "(numeric and fixed-string members supported)")
      }
      m.name -> vals
    }
  }
}
