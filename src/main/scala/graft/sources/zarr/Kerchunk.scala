package graft.sources.zarr

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sources.CfDecode
import graft.sources.hdf5.Hdf5
import graft.sources.hdf5.Hdf5.{DatasetMeta, UnsupportedHdf5}

/** Kerchunk-style reference building — the fsspec ReferenceFileSystem
  * pattern (public: fsspec/kerchunk): index a native NetCDF-4/HDF5 file's
  * chunk map ONCE into a small JSON of `zarr key -> [uri, offset, length]`
  * entries, then serve the archive through the existing Zarr DataSource-V2
  * reader ([[ZarrMeta.openRefs]]) without rewriting a byte. At 100 TB this
  * is the difference between re-materializing an archive and reading it in
  * place: the refs JSON is O(chunks) of metadata (KBs-MBs), every data
  * byte stays in the original files, and chunk-grid partition planning +
  * coordinate predicate pruning work exactly as for a real zarr store —
  * partitions carry only their own window's references.
  *
  * Scope: numeric variables (the hypercube row model), contiguous /
  * chunked (all index flavors the HDF5 reader handles) / compact layouts,
  * deflate + shuffle filters (netCDF-4's defaults — mapped to the zarr
  * zlib compressor + numcodecs shuffle filter, whose decode composition
  * equals HDF5's); anything else raises a directed error naming the
  * variable rather than emitting references that would decode wrong. */
object Kerchunk {

  /** Scan one NetCDF-4/HDF5 file into a ReferenceFileSystem v1 JSON
    * string. `uri` is the target written into the references (defaults to
    * `path` itself; pass an absolute/scheme-qualified form for portable
    * refs). */
  def scanNetCDF4(conf: Configuration, path: String,
      uri: String = null): String = {
    val target = Option(uri).getOrElse(path)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val read = (off: Long, len: Int) => {
        val b = new Array[Byte](len)
        in.readFully(off, b)
        b
      }
      val meta = Hdf5.parse(read, fileLen)
      val dimScales = meta.datasets.filter(
        _.attrs.get("CLASS").contains("DIMENSION_SCALE"))
      val dimByAddr = dimScales.map(d => d.objAddr -> d).toMap
      def baseName(pth: String): String = pth.split('/').last
      def dimsOf(d: DatasetMeta): Seq[String] =
        d.attrs.get("DIMENSION_LIST") match {
          case Some(refs: Seq[_]) if refs.size == d.shape.size =>
            refs.map(r => baseName(dimByAddr.getOrElse(r.asInstanceOf[Long],
              throw UnsupportedHdf5(
                s"${d.path}: DIMENSION_LIST ref $r not a dimension scale")).path))
          case _ =>
            val byId = dimScales.sortBy(s => s.attrs.get("_Netcdf4Dimid")
              .collect { case x: Double => x }.getOrElse(1e9))
            d.shape.map { s =>
              baseName(byId.find(_.shape.headOption.contains(s)).getOrElse(
                throw UnsupportedHdf5(
                  s"${d.path}: no dimension scale of size $s")).path)
            }
        }
      val entries = Seq.newBuilder[(String, String)]
      meta.datasets.foreach { ds =>
        val name = baseName(ds.path)
        if (!ds.dtype.isNumeric)
          throw UnsupportedHdf5(s"$name: kerchunk references cover numeric " +
            s"variables; dtype class ${ds.dtype.clazz} is not referenceable")
        val dims =
          if (dimByAddr.contains(ds.objAddr)) Seq(name) else dimsOf(ds)
        entries ++= datasetEntries(read, ds, name, dims, target)
      }
      refsJson(entries.result())
    } finally in.close()
  }

  /** Write refs for every file matching `pattern` (one refs json per
    * file, `<file>.refs.json` alongside unless `outDir` given). Returns
    * the refs paths. */
  def scanAll(conf: Configuration, pattern: String,
      outDir: String = null): Seq[String] = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath)
    require(files.nonEmpty, s"no files match $pattern")
    files.map { f =>
      val json = scanNetCDF4(conf, f.toString)
      val out =
        if (outDir == null) new Path(f.getParent, f.getName + ".refs.json")
        else new Path(outDir, f.getName + ".refs.json")
      val os = out.getFileSystem(conf).create(out, true)
      try os.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
      out.toString
    }
  }

  /** [[scanNetCDF4]] fanned out as a Spark job — one task per matched
    * file, each writing `<file>.refs.json` (into `outDir` when given,
    * alongside the file otherwise). The metadata pass over a 100 TB /
    * 10k-file archive is itself embarrassingly parallel: each task touches
    * only its own file's B-tree/header blocks (KBs of IO), and the driver
    * collects nothing but the refs paths. Returns them sorted. */
  def scanAllSpark(spark: org.apache.spark.sql.SparkSession, pattern: String,
      outDir: String = null): Seq[String] = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath.toString)
    require(files.nonEmpty, s"no files match $pattern")
    val tconf = graft.sources.TaskConf(spark.sparkContext.hadoopConfiguration)
    val out = Option(outDir)
    spark.sparkContext.parallelize(files, files.size).map { f =>
      val conf = tconf.value
      val json = scanNetCDF4(conf, f)
      val fp = new Path(f)
      val dest = out.map(d => new Path(d, fp.getName + ".refs.json"))
        .getOrElse(new Path(fp.getParent, fp.getName + ".refs.json"))
      val os = dest.getFileSystem(conf).create(dest, true)
      try os.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
      dest.toString
    }.collect().toSeq.sorted
  }

  /** Concatenate per-file reference stores along `concatDim` into ONE
    * virtual store (the kerchunk `MultiZarrToZarr` / xarray
    * `open_mfdataset` pattern): a daily-file archive becomes a single
    * queryable hypercube with no byte rewritten — the combined refs json
    * re-keys every chunk with its file's offset along the concat axis, so
    * chunk-grid planning and coordinate pruning see one big store and a
    * time-range predicate touches only the owning files' chunks.
    *
    * Files are ordered by their first concat-coordinate value (input order
    * is irrelevant); overlapping coordinate ranges fail directed.
    * Coordinates are inlined DECODED (CF-converted epoch seconds, scale /
    * offset applied) — O(axis length) doubles in the json — which is what
    * lets files with different per-file time bases ("hours since
    * <that day>") combine into one well-ordered axis. Data variables must
    * agree on dtype/codecs/attrs and per-file extents must tile the shared
    * chunk size (a ragged tail is legal only in the last file), else the
    * combined grid would mis-index: directed errors name the variable. */
  def combine(conf: Configuration, refsPaths: Seq[String],
      concatDim: String = "time"): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    require(refsPaths.nonEmpty, "combine of zero reference stores")
    val stores = refsPaths.map(p => p -> ZarrMeta.openRefs(conf, p))
    stores.foreach { case (p, st) =>
      require(st.dims.contains(concatDim),
        s"$p: no '$concatDim' dimension (dims ${st.dims.mkString(",")})")
    }
    // each input's concat axis must be strictly increasing INTERNALLY:
    // the overlap check below compares head/last as min/max, and the
    // combined axis drives the scan's index windows — an unsorted
    // foreign axis would silently drop rows, never return wrong ones
    stores.foreach { case (p, st) =>
      val c = st.coords(concatDim)
      var i = 1
      while (i < c.length) {
        require(c(i) > c(i - 1),
          s"$p: $concatDim is not strictly increasing at index $i " +
            s"(${c(i - 1)} then ${c(i)}) — sort the source before combining")
        i += 1
      }
    }
    // order by the first concat-coordinate value; ranges must not overlap
    val sorted = stores.sortBy(_._2.coords(concatDim).head)
    sorted.sliding(2).foreach {
      case Seq((pa, a), (pb, b)) =>
        require(a.coords(concatDim).last < b.coords(concatDim).head,
          s"$concatDim ranges overlap between $pa (max " +
            s"${a.coords(concatDim).last}) and $pb (min " +
            s"${b.coords(concatDim).head})")
      case _ =>
    }
    val first = sorted.head._2
    sorted.foreach { case (p, st) =>
      require(st.dims == first.dims,
        s"$p: dims ${st.dims.mkString(",")} != ${first.dims.mkString(",")}")
      require(st.dataVars.map(_.name).sorted ==
          first.dataVars.map(_.name).sorted,
        s"$p: data variables ${st.dataVars.map(_.name).sorted.mkString(",")}" +
          s" != ${first.dataVars.map(_.name).sorted.mkString(",")}")
    }
    val axis = first.dims.indexOf(concatDim)
    val raws = sorted.map { case (p, _) =>
      (p, ZarrMeta.rawRefs(conf, p), ZarrMeta.refsBase(p)) }

    def inlineJson(raw: Map[String, JValue], key: String): Option[JValue] =
      raw.get(key).map {
        case JString(s) => JsonMethods.parse(s)
        case o => o
      }
    // a chunk ref value, re-rendered with its uri absolutized against the
    // SOURCE refs file's directory (the combined json may live elsewhere)
    def rerender(base: String, v: JValue, key: String): String = v match {
      case JArray(JString(uri) :: rest) =>
        val abs = jsonQ(ZarrMeta.resolveRefTarget(base, uri))
        rest match {
          case Nil => s"[$abs]"
          case JInt(o) :: JInt(l) :: Nil => s"[$abs, $o, $l]"
          case _ => throw new IllegalArgumentException(s"malformed ref $key")
        }
      case JString(s) => jsonQ(s) // inline payload, location-independent
      case _ => throw new IllegalArgumentException(s"malformed ref $key")
    }

    val entries = Seq.newBuilder[(String, String)]

    // ---- data variables: re-keyed chunk references
    first.dataVars.map(_.name).foreach { name =>
      val zas = raws.map { case (p, raw, _) =>
        p -> inlineJson(raw, s"$name/.zarray").getOrElse(
          throw new IllegalArgumentException(s"$p: $name/.zarray missing"))
      }
      val shapes = zas.map { case (p, za) => p -> (za \ "shape").extract[Seq[Int]] }
      val chunks0 = (zas.head._2 \ "chunks").extract[Seq[Int]]
      zas.zip(shapes).foreach { case ((p, za), (_, shape)) =>
        require((za \ "chunks").extract[Seq[Int]] == chunks0,
          s"$p: $name chunks ${(za \ "chunks").extract[Seq[Int]]}" +
            s" != ${chunks0.mkString("[", ",", "]")}")
        // the separator is a KEY-layout declaration, not a codec: stores
        // may legally differ in it (or omit it for ".") — each store's
        // chunk keys parse under its OWN declaration below
        require(za.removeField(f =>
            f._1 == "shape" || f._1 == "dimension_separator") ==
            zas.head._2.removeField(f =>
              f._1 == "shape" || f._1 == "dimension_separator"),
          s"$p: $name codec/dtype metadata differs from ${zas.head._1}")
        require(shape.indices.filter(_ != axis)
            .forall(i => shape(i) == shapes.head._2(i)),
          s"$p: $name non-$concatDim shape ${shape.mkString("x")}" +
            s" != ${shapes.head._2.mkString("x")}")
      }
      val attrs0 = inlineJson(raws.head._2, s"$name/.zattrs").getOrElse(JObject())
      raws.foreach { case (p, raw, _) =>
        require(inlineJson(raw, s"$name/.zattrs").getOrElse(JObject()) == attrs0,
          s"$p: $name attributes differ from ${raws.head._1} — scale/offset/" +
            "units must agree for chunks to share one decode")
      }
      // per-file extents must tile the chunk size (ragged tail last only)
      val extents = shapes.map(_._2(axis))
      extents.init.zip(shapes.map(_._1)).foreach { case (e, p) =>
        require(e % chunks0(axis) == 0,
          s"$p: $name $concatDim extent $e is not a multiple of chunk " +
            s"${chunks0(axis)} — only the LAST file may be ragged")
      }
      val total = extents.sum
      val newShape = shapes.head._2.updated(axis, total)
      // inputs may declare dimension_separator "/" (legal in kerchunk
      // jsons; openRefs honors it via keySep) — each store's chunk keys
      // split on ITS OWN declaration, and the combined store normalizes
      // to "." keys, so the declaration is dropped from the combined
      // .zarray
      val sepOf: Map[String, Char] = zas.map { case (p, za) =>
        p -> ((za \ "dimension_separator")
          .extractOpt[String].getOrElse(".") match {
          case s @ ("." | "/") => s.charAt(0)
          case other => throw new IllegalArgumentException(
            s"$p: $name dimension_separator '$other' (only '.' and '/')")
        })
      }.toMap
      val za1 = zas.head._2.removeField(f =>
          f._1 == "shape" || f._1 == "dimension_separator") merge
        JObject("shape" -> JArray(newShape.map(JInt(_)).toList))
      entries += s"$name/.zarray" -> jsonQ(JsonMethods.compact(JsonMethods.render(za1)))
      entries += s"$name/.zattrs" ->
        jsonQ(JsonMethods.compact(JsonMethods.render(attrs0)))
      var cum = 0
      raws.zip(extents).foreach { case ((p, raw, base), extent) =>
        val off = cum / chunks0(axis)
        raw.foreach { case (k, v) =>
          if (k.startsWith(name + "/") && !k.endsWith(".zarray") &&
              !k.endsWith(".zattrs")) {
            val idx =
              try k.drop(name.length + 1).split(sepOf(p)).map(_.toInt)
              catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(s"$p: chunk key $k " +
                    s"does not parse under dimension_separator '${sepOf(p)}'")
              }
            require(idx.length == newShape.size, s"$p: malformed chunk key $k")
            idx(axis) += off
            entries += s"$name/${idx.mkString(".")}" -> rerender(base, v, k)
          }
        }
        cum += extent
      }
    }

    // ---- auxiliary coordinate arrays (2-D lat/lon of projected grids,
    // cell bounds): no concat axis, so every file must serve the SAME
    // values — enforced through metadata + attrs equality (scanGrib's
    // aux attrs carry the projection fingerprint, so same-plane
    // different-projection mixes fail here) — and the first file's chunk
    // references serve the combined store
    val auxNames = first.auxVars.map(_.name).sorted
    sorted.foreach { case (p, st) =>
      require(st.auxVars.map(_.name).sorted == auxNames,
        s"$p: auxiliary arrays ${st.auxVars.map(_.name).sorted.mkString(",")}" +
          s" != ${auxNames.mkString(",")}")
    }
    auxNames.foreach { name =>
      val zas = raws.map { case (p, raw, _) =>
        p -> inlineJson(raw, s"$name/.zarray").getOrElse(
          throw new IllegalArgumentException(s"$p: $name/.zarray missing"))
      }
      val attrs0 = inlineJson(raws.head._2, s"$name/.zattrs").getOrElse(JObject())
      require(!(attrs0 \ "_ARRAY_DIMENSIONS").extract[Seq[String]]
          .contains(concatDim),
        s"$name: auxiliary array carries the concat dimension " +
          s"'$concatDim' — concat-dependent auxiliaries are not supported")
      raws.foreach { case (p, raw, _) =>
        require(inlineJson(raw, s"$name/.zattrs").getOrElse(JObject()) == attrs0,
          s"$p: $name attributes differ from ${raws.head._1}")
      }
      zas.foreach { case (p, za) =>
        require(za.removeField(_._1 == "dimension_separator") ==
            zas.head._2.removeField(_._1 == "dimension_separator"),
          s"$p: $name metadata differs from ${zas.head._1}")
      }
      // metadata equality cannot prove VALUE equality when the chunk refs
      // point into different files (each per-file scan references its own
      // bytes). A grid fingerprint in the attrs (scanGrib) settles it;
      // otherwise, with differing refs, decode every store's array and
      // require exact equality with the first — auxiliary arrays are
      // coordinate-sized, so this is O(files x coordinate bytes) of
      // driver work, paid only on this path. Without it, two same-shape
      // curvilinear files over DIFFERENT domains would combine silently
      // and serve the first file's lat/lon for every time step.
      val metasOf: Seq[(String, ZarrMeta.ArrayMeta)] = sorted.map { case (p, st) =>
        p -> st.auxVars.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"$p: $name not an auxiliary array"))
      }
      def refSig(m: ZarrMeta.ArrayMeta) = m.refs.map(_.map { case (k, l) =>
        (k, l.uri, l.offset, l.length,
          Option(l.inline).map(_.toSeq).getOrElse(Nil))
      }.toSet)
      val fingerprinted = (attrs0 \ "grid_mapping") match {
        case JNothing | JNull => false
        case _ => true
      }
      if (!fingerprinted && metasOf.map(x => refSig(x._2)).distinct.size > 1) {
        val m0 = metasOf.head._2
        require(!ZarrMeta.isStringMeta(m0),
          s"$name: string auxiliary arrays with differing chunk refs " +
            "cannot be value-checked — combine stores referencing the " +
            "same bytes")
        val idxs = m0.chunkGrid.foldLeft(Seq(Seq.empty[Int]))((acc, n) =>
          for (t <- acc; c <- 0 until n) yield t :+ c)
        val firstVals = idxs.map(ix =>
          ZarrMeta.readChunk(conf, metasOf.head._1, m0, ix))
        metasOf.tail.foreach { case (p, m) =>
          idxs.zip(firstVals).foreach { case (ix, fv) =>
            require(java.util.Arrays.equals(
                ZarrMeta.readChunk(conf, p, m, ix), fv),
              s"$p: auxiliary $name values differ from ${metasOf.head._1}" +
                " — same metadata, different grids")
          }
        }
      }
      val sep1: Char = (zas.head._2 \ "dimension_separator")
        .extractOpt[String].getOrElse(".") match {
        case s @ ("." | "/") => s.charAt(0)
        case other => throw new IllegalArgumentException(
          s"${raws.head._1}: $name dimension_separator '$other' " +
            "(only '.' and '/')")
      }
      entries += s"$name/.zarray" -> jsonQ(JsonMethods.compact(
        JsonMethods.render(zas.head._2.removeField(_._1 == "dimension_separator"))))
      entries += s"$name/.zattrs" -> jsonQ(JsonMethods.compact(
        JsonMethods.render(attrs0)))
      val (p1, raw1, base1) = raws.head
      raw1.foreach { case (k, v) =>
        if (k.startsWith(name + "/") && !k.endsWith(".zarray") &&
            !k.endsWith(".zattrs")) {
          val idx =
            try k.drop(name.length + 1).split(sep1).map(_.toInt)
            catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(s"$p1: chunk key $k " +
                  s"does not parse under dimension_separator '$sep1'")
            }
          entries += s"$name/${idx.mkString(".")}" -> rerender(base1, v, k)
        }
      }
    }

    // ---- coordinates: inlined decoded values (small, O(axis) doubles).
    // The concat axis concatenates across files; other axes must agree.
    first.dims.foreach { d =>
      val vals: Array[Double] =
        if (d == concatDim) sorted.iterator.flatMap(_._2.coords(d)).toArray
        else {
          sorted.tail.foreach { case (p, st) =>
            require(java.util.Arrays.equals(st.coords(d), first.coords(d)),
              s"$p: coordinate $d differs from ${sorted.head._1}")
          }
          first.coords(d)
        }
      val isTime = first.coordMeta(d).timeUnits.isDefined
      sorted.foreach { case (p, st) =>
        require(st.coordMeta(d).timeUnits.isDefined == isTime,
          s"$p: coordinate $d is ${if (isTime) "not " else ""}a CF time " +
            s"axis but ${sorted.head._1}'s is" +
            (if (isTime) "" else " not"))
      }
      // values are already CF-decoded epoch seconds: the combined axis
      // declares the epoch base itself, normalizing per-file bases
      entries ++= inlineF8Coord(d, vals, epochTime = isTime)
    }

    refsJson(entries.result())
  }

  /** A ReferenceFileSystem v1 document: the root group, then `entries`
    * (key -> JSON value). */
  private def refsJson(entries: Seq[(String, String)]): String =
    ((".zgroup" -> jsonQ(ZarrMeta.renderZgroup)) +: entries)
      .map { case (k, v) => s""""$k": $v""" }
      .mkString("""{"version": 1, "refs": {""", ", ", "}}")

  /** A JSON document (or any text) as a refs-json string value. */
  private def jsonQ(s: String): String = ZarrMeta.jsonString(s)

  /** A `[uri, offset, length]` chunk reference. */
  private def ref(uri: String, off: Long, len: Long): String =
    s"[${ZarrMeta.jsonString(uri)}, $off, $len]"

  /** An array's `.zarray` and `.zattrs` as refs entries. */
  private def arrayEntries(name: String, zarray: String, dims: Seq[String],
      attrs: Seq[(String, String)] = Nil): Seq[(String, String)] = Seq(
    s"$name/.zarray" -> jsonQ(zarray),
    s"$name/.zattrs" -> jsonQ(ZarrMeta.renderZattrs(dims, attrs)))

  /** A 1-D coordinate axis inlined into the refs json as one base64 <f8
    * chunk (O(axis) doubles of metadata). `epochTime` axes declare the
    * epoch base so the reader renders timestamps. */
  private def inlineF8Coord(dim: String, vals: Array[Double],
      epochTime: Boolean): Seq[(String, String)] = {
    val b64 = java.util.Base64.getEncoder.encodeToString(
      ZarrMeta.encodeChunk("<f8", vals, None, crc32c = false))
    arrayEntries(dim,
      ZarrMeta.renderZarray(Seq(vals.length), Seq(vals.length), "<f8", "null", "\"NaN\"", "null"),
      Seq(dim),
      if (epochTime) Seq("units" -> jsonQ("seconds since 1970-01-01")) else Nil) :+
      (s"$dim/0" -> jsonQ(s"base64:$b64"))
  }

  /** Index a GRIB file (edition 1, 2, or MIXED — long reanalysis archives
    * routinely mix them) into a reference store: every MESSAGE becomes the
    * stored bytes of one `[time, latitude, longitude]` chunk (messages are
    * self-describing, so the "codec" — `{"id": "grib", ...}`, decoded by
    * [[graft.sources.grib.GribChunkCodec]] — sniffs the edition, re-parses
    * its message, and extracts the array's field; per-message packing
    * differences never leak into array metadata). Fields group into arrays
    * by the edition-agnostic cfgrib identity (shortName, typeOfLevel,
    * level height, stepType) — so one variable spanning both editions is
    * ONE array — and names take `_level`/`_stepType` suffixes only when
    * needed. The time axis is the sorted distinct valid times, inlined as
    * epoch seconds; a field missing at some step is an ABSENT chunk and
    * reads as the NaN fill. Scope: rectangular lat/lon and Gaussian grids,
    * plus PROJECTED grids (Lambert conformal, polar stereographic,
    * Mercator, transverse Mercator, Albers, space view — the HRRR/NAM/
    * Meteosat layouts): those virtualize as `[time, y, x]` over plane-
    * coordinate axes with true 2-D `latitude`/`longitude` served as
    * SYNTHESIZED chunks (auxiliary coordinate columns computed by the grib
    * codec from the message's own grid definition — zero coordinate bytes
    * stored). ROTATED lat/lon grids (COSMO/HARMONIE) likewise: `[time,
    * rlat, rlon]` rotated-frame axes + synthesized true lat/lon. Reduced
    * and spectral fields have no grid — directed errors. One grid per
    * file (checked on actual axis values / projection parameters, so
    * editions may differ in encoding but not placement). The
    * result composes with [[combine]]: per-file GRIB refs concatenate
    * along time like any other store. */
  def scanGrib(conf: Configuration, path: String,
      uri: String = null): String = {
    import graft.sources.grib.{Grib1, Grib2, GribIndex, GribUnit, GribProjection}
    val target = Option(uri).getOrElse(path)
    val msgs = GribIndex.indexMessageSpans(conf, path)
    val all: Seq[(Long, Long, GribUnit)] =
      for ((off, len, us) <- msgs; u <- us) yield (off, len, u)
    require(all.nonEmpty, s"no GRIB fields in $path")
    // projected grids (Lambert conformal, polar stereo, Mercator, space
    // view, ...) are regular in the projection PLANE: (projection params,
    // first-point plane coords, per-step meters) — separable y/x axes
    def projInfoOf(u: GribUnit): Option[(GribProjection, Double, Double, Double, Double)] =
      u match {
        case f: Grib2.Field => f.projection.collect {
          case p if !p.isInstanceOf[GribProjection.RotatedLatLon] =>
            val (x0, y0) = f.planeOrigin.getOrElse(p.forward(f.la1, f.lo1))
            (p, x0, y0, f.dxMeters, f.dyMeters)
        }
        case m: Grib1.Message => m.projection.map { p =>
          val (x0, y0) = p.forward(m.la1, m.lo1)
          (p, x0, y0, m.dxMeters, m.dyMeters)
        }
        case _ => None
      }
    // rotated lat/lon grids (COSMO/HARMONIE): regular in the ROTATED
    // frame — the frame's degrees are the separable axes; true lat/lon
    // come from the rotation inverse, synthesized like the projected case
    def rotOf(u: GribUnit): Option[GribProjection.RotatedLatLon] = u match {
      case f: Grib2.Field =>
        f.projection.collect { case r: GribProjection.RotatedLatLon => r }
      case m: Grib1.Message => m.rotated
      case _ => None
    }
    all.foreach { case (_, _, u) =>
      def reject(what: String): Nothing = throw Grib1.UnsupportedGrib(
        s"${u.shortName}: $what — no separable axes to " +
          "virtualize (read via GribReader, which emits per-point coordinates)")
      u match {
        case f: Grib2.Field =>
          if (f.pl.isDefined) reject("reduced grid rows vary in length")
          if (f.spectral.isDefined) reject("spectral coefficients are not a grid")
        case m: Grib1.Message =>
          if (m.pl.isDefined) reject("reduced grid rows vary in length")
          if (m.spectral.isDefined) reject("spectral coefficients are not a grid")
        case _ => reject(s"unexpected unit ${u.getClass.getName}")
      }
    }
    val g0 = all.head._3
    val proj0 = projInfoOf(g0)
    val rot0 = rotOf(g0)
    if (proj0.isDefined) all.foreach { case (off, _, u) =>
      // identical wire integers give identical derived doubles, so exact
      // agreement is the right check — compared via toString because the
      // GRIB1 spherical figure carries minorAxis = NaN, and Scala
      // case-class equality on a NaN primitive field is FALSE between
      // distinct instances (it would spuriously reject every multi-field
      // GRIB1 projected file); "NaN" == "NaN" as text
      require(u.ni == g0.ni && u.nj == g0.nj &&
          projInfoOf(u).toString == proj0.toString,
        s"$path: ${u.shortName} at offset $off is on a different " +
          s"projected grid — one grid per store")
    }
    else all.foreach { case (off, _, u) =>
      require(projInfoOf(u).isEmpty,
        s"$path: ${u.shortName} at offset $off is projected but the first " +
          "field is not — one grid per store")
      require(rotOf(u) == rot0,
        s"$path: ${u.shortName} at offset $off has a different rotated " +
          "pole — one grid per store")
    }
    // axis values in the grid's OWN frame: true degrees for regular
    // grids, rotated-frame degrees for rotated ones (latOf/lonOf report
    // the frame the grid is regular in)
    val lats = if (proj0.isDefined) Array.empty[Double]
      else (0 until g0.nj).map(g0.latOf).toArray
    val lons = if (proj0.isDefined) Array.empty[Double]
      else (0 until g0.ni).map(g0.lonOf).toArray
    if (proj0.isEmpty) all.foreach { case (off, _, u) =>
      require(u.ni == g0.ni && u.nj == g0.nj &&
          (0 until u.nj).forall(j => u.latOf(j) == lats(j)) &&
          (0 until u.ni).forall(i => u.lonOf(i) == lons(i)),
        s"$path: ${u.shortName} at offset $off is on a different grid " +
          s"(${u.ni}x${u.nj} vs ${g0.ni}x${g0.nj}) — one grid per store")
    }
    // within ONE message an identity must be unique regardless of valid
    // time: the chunk codec re-selects the field from the whole message by
    // identity alone, so a multi-field message carrying (say) the same
    // variable at two forecast steps would make every read of either
    // chunk ambiguous — reject at scan, never at read
    all.groupBy { case (off, _, u) =>
      (off, u.shortName, u.levelName, u.levelHeight, u.stepType) }
      .foreach { case ((off, sn, _, _, _), dups) =>
        require(dups.size == 1,
          s"$path: message at offset $off carries $sn ${dups.size} times " +
            "(multiple valid times of one field in one message) — split " +
            "the message into single-field messages before virtualizing")
      }
    // edition-agnostic identity: one variable spanning GRIB1+GRIB2 epochs
    // of an archive stays one array
    val byKey = all.groupBy { case (_, _, u) =>
      (u.shortName, u.levelName, u.levelHeight, u.stepType) }
    def fmtH(v: Double): String = {
      val s0 = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
        else v.toString
      s0.replace('-', 'm').replace('.', 'p')
    }
    // name = shortName; peers sharing it get _<levelName>_<height>, and
    // same-level peers differing only in stepType get _<stepType> too
    val bySn = byKey.keys.toSeq.groupBy(_._1)
    val nameOf = byKey.keys.map { k =>
      val peers = bySn(k._1)
      val name =
        if (peers.size == 1) k._1
        else {
          val lvl = s"${k._1}_${k._2}_${fmtH(k._3)}"
          if (peers.count(p => p._2 == k._2 && p._3 == k._3) == 1) lvl
          else s"${lvl}_${k._4}"
        }
      k -> name
    }.toMap
    require(nameOf.values.toSeq.distinct.size == nameOf.size,
      s"$path: field identities do not name uniquely: " +
        nameOf.values.toSeq.diff(nameOf.values.toSeq.distinct).mkString(","))
    val times = all.map(_._3.validTimeEpochSec).distinct.sorted
    val tIdx = times.zipWithIndex.toMap

    val entries = Seq.newBuilder[(String, String)]
    entries ++= inlineF8Coord("time", times.map(_.toDouble).toArray,
      epochTime = true)
    val (dimY, dimX) =
      if (proj0.isDefined) ("y", "x")
      else if (rot0.isDefined) ("rlat", "rlon") // the CF/COSMO axis names
      else ("latitude", "longitude")
    // true 2-D lat/lon as SYNTHESIZED chunks (the kerchunk grib
    // convention): the ref points at the first message; the codec
    // computes the coordinate field from its grid definition. The
    // grid fingerprint rides the attrs so combine's metadata agreement
    // rejects same-axes different-mapping mixes.
    def auxLatLon(fp: String): Unit = {
      val (off0, len0) = (all.head._1, all.head._2)
      Seq("latitude", "longitude").foreach { cn =>
        entries ++= arrayEntries(cn,
          ZarrMeta.renderZarray(Seq(g0.nj, g0.ni), Seq(g0.nj, g0.ni), "<f8",
            s"""{"id": "grib", "coord": "$cn"}""", "\"NaN\"", "null"),
          Seq(dimY, dimX), Seq("grid_mapping" -> jsonQ(fp)))
        entries += s"$cn/0.0" -> ref(target, off0, len0)
      }
    }
    proj0 match {
      case Some((p, x0, y0, dx, dy)) =>
        // axes are plane coordinates (meters from the projection origin;
        // scan-angle units for space view) — prunable like any axis
        entries ++= inlineF8Coord("y",
          (0 until g0.nj).map(j => y0 + j * dy).toArray, epochTime = false)
        entries ++= inlineF8Coord("x",
          (0 until g0.ni).map(i => x0 + i * dx).toArray, epochTime = false)
        auxLatLon(s"$p origin=($x0,$y0) step=($dx,$dy)")
      case None =>
        entries ++= inlineF8Coord(dimY, lats, epochTime = false)
        entries ++= inlineF8Coord(dimX, lons, epochTime = false)
        rot0.foreach(r => auxLatLon(r.toString))
    }
    byKey.toSeq.sortBy(k => nameOf(k._1)).foreach { case (k, us) =>
      val name = nameOf(k)
      us.groupBy(_._3.validTimeEpochSec).foreach { case (t, dups) =>
        require(dups.size == 1,
          s"$path: $name has ${dups.size} fields at valid time $t")
      }
      val codec = s"""{"id": "grib", "var": ${jsonQ(k._1)}, """ +
        s""""level_name": ${jsonQ(k._2)}, "level": ${k._3}, "step": ${jsonQ(k._4)}}"""
      entries ++= arrayEntries(name,
        ZarrMeta.renderZarray(Seq(times.size, g0.nj, g0.ni), Seq(1, g0.nj, g0.ni), "<f8",
          codec, "\"NaN\"", "null"),
        Seq("time", dimY, dimX))
      us.foreach { case (off, len, u) =>
        entries += s"$name/${tIdx(u.validTimeEpochSec)}.0.0" -> ref(target, off, len)
      }
    }
    refsJson(entries.result())
  }

  /** Index a GeoTIFF into a reference store: strips/tiles become zarr
    * chunks of a `[latitude, longitude]` (or `[y, x]`) array read straight
    * from the original file — the kerchunk tiff backend pattern. A COG
    * stack virtualizes with zero bytes rewritten, and the zarr reader's
    * chunk-grid planning + coordinate pruning apply to rasters.
    *
    * Scope (everything else fails directed, never decodes wrong): one
    * sample per pixel, compression none / deflate / ZSTD (zarr null /
    * zlib / zstd codecs — LZW, PackBits and JPEG have no zarr codec, and
    * the TIFF horizontal/float predictors differ from numcodecs delta),
    * no predictor, and for stripped layouts a strip height dividing the
    * image (zarr chunks are fixed-size; TIFF pads edge TILES but
    * truncates the final strip). Geographic rasters get lat/lon axes;
    * PROJECTED rasters (UTM, Lambert, Web-Mercator COGs) virtualize over
    * y/x model-unit axes — per-pixel lat/lon comes from CrsTransform
    * columns downstream, as in TiffReader.
    *
    * `timeEpochSec` (when finite) adds a length-1 leading `time` axis so a
    * directory of per-day COGs combines along time like any other store
    * (`combine(refsPaths, "time")` — one virtual hypercube per stack). */
  def scanTiff(conf: Configuration, path: String,
      uri: String = null, timeEpochSec: Double = Double.NaN): String = {
    import graft.sources.tiff.{Tiff, TiffReader}
    val withTime = !timeEpochSec.isNaN
    val target = Option(uri).getOrElse(path)
    val m = TiffReader.readMeta(conf, path)
    def reject(what: String): Nothing =
      throw Tiff.UnsupportedTiff(s"$path: $what — not virtualizable " +
        "as zarr references (read via TiffReader)")
    if (m.samplesPerPixel != 1) reject(s"${m.samplesPerPixel} samples/pixel")
    if (m.predictor != 1) reject(s"predictor ${m.predictor}")
    val compressor = m.compression match {
      case 1 => "null"
      case 8 | 32946 => """{"id": "zlib"}"""
      case 50000 => """{"id": "zstd"}"""
      case c => reject(s"compression $c (none/deflate/ZSTD only)")
    }
    val dtype = (m.sampleFormat, m.bitsPerSample) match {
      case (3, 32) => "<f4"
      case (3, 64) => "<f8"
      // only whole power-of-two byte widths have a zarr dtype: a 12-bit
      // or 24-bit sample must fail HERE, not decode as the wrong width
      case (1, w) if Set(8, 16, 32, 64)(w) => s"<u${w / 8}"
      case (2, w) if Set(8, 16, 32, 64)(w) => s"<i${w / 8}"
      case (f, w) => reject(s"sample format $f at $w bits")
    }
    if (!m.littleEndian && m.bitsPerSample > 8)
      reject("big-endian samples (zarr dtype is declared per array, " +
        "and mixed-file stacks must agree)")
    val (chunkH, chunkW, blocks) =
      if (m.tiled) {
        val tilesAcross = (m.width + m.tileWidth - 1) / m.tileWidth
        (m.tileLength, m.tileWidth,
          m.tileOffsets.indices.map { t =>
            (t / tilesAcross, t % tilesAcross,
              m.tileOffsets(t), m.tileByteCounts(t))
          })
      } else {
        if (m.height % m.rowsPerStrip != 0)
          reject(s"final strip is ragged (${m.height} rows, " +
            s"${m.rowsPerStrip} per strip) — zarr chunks are fixed-size")
        (m.rowsPerStrip, m.width,
          m.stripOffsets.indices.map { st =>
            (st, 0, m.stripOffsets(st), m.stripByteCounts(st))
          })
      }
    val entries = Seq.newBuilder[(String, String)]
    // coordinate axes from the affine (pixel centers). Geographic 4326
    // axes ARE degrees and take lat/lon names; PROJECTED models (UTM,
    // Lambert, polar stereo, Web-Mercator COGs — the HRRR-derived shape)
    // keep y/x names with the affine's model units (meters), which prune
    // like any axis — lat/lon per pixel comes from CrsTransform columns
    // downstream, exactly as TiffReader derives them; unspecified CRS
    // also keeps raster y/x names so nothing claims degrees that aren't
    val (yName, xName) =
      if (m.epsg == 4326) ("latitude", "longitude") else ("y", "x")
    if (withTime)
      entries ++= inlineF8Coord("time", Array(timeEpochSec), epochTime = true)
    entries ++= inlineF8Coord(yName,
      Array.tabulate(m.height)(m.modelY), epochTime = false)
    entries ++= inlineF8Coord(xName,
      Array.tabulate(m.width)(m.modelX), epochTime = false)
    val lead = if (withTime) Seq(1) else Nil
    entries ++= arrayEntries("band_1",
      ZarrMeta.renderZarray(lead ++ Seq(m.height, m.width), lead ++ Seq(chunkH, chunkW),
        dtype, compressor, if (dtype.startsWith("<f")) "\"NaN\"" else "null", "null"),
      (if (withTime) Seq("time") else Nil) ++ Seq(yName, xName))
    val keyPrefix = if (withTime) "0." else ""
    blocks.foreach { case (row, colChunk, off, len) =>
      entries += s"band_1/$keyPrefix$row.$colChunk" -> ref(target, off, len)
    }
    refsJson(entries.result())
  }

  private def datasetEntries(read: (Long, Int) => Array[Byte],
      ds: DatasetMeta, name: String, dims: Seq[String],
      uri: String): Seq[(String, String)] = {
    val dt = ds.dtype
    val dtype =
      try dt.numpy catch { case e: UnsupportedHdf5 => throw UnsupportedHdf5(s"$name: ${e.detail}") }
    // netCDF-4's conventional pipeline: optional shuffle (id 2) then ONE
    // compressor — deflate (1) maps to the zarr zlib codec, and the
    // registered zstd (32015, bare frames) and blosc (32001,
    // self-describing frames) filters store byte-identical payloads to
    // the numcodecs zstd/blosc codecs, so they map 1:1. lz4 (32004) and
    // bitshuffle (32008) frame their blocks differently from numcodecs —
    // no zarr codec decodes those payloads, so they stay directed (the
    // direct HDF5 reader handles them). Anything unmapped would decode
    // WRONG through zarr codecs: directed error.
    var compressor = "null"
    var filters = "null"
    def setCompressor(codec: String): Unit = {
      if (compressor != "null") throw UnsupportedHdf5(
        s"$name: two compression filters in one pipeline — zarr carries one compressor")
      compressor = codec
    }
    ds.filters.foreach { f =>
      f.id match {
        case 1 =>
          val lvl = f.clientValues.headOption.getOrElse(6)
          setCompressor(s"""{"id": "zlib", "level": $lvl}""")
        case 2 =>
          val esz = f.clientValues.headOption.getOrElse(dt.size)
          filters = s"""[{"id": "shuffle", "elementsize": $esz}]"""
        case 32001 => setCompressor("""{"id": "blosc"}""")
        case 32015 =>
          val lvl = f.clientValues.headOption.getOrElse(3)
          setCompressor(s"""{"id": "zstd", "level": $lvl}""")
        case other => throw UnsupportedHdf5(
          s"$name: HDF5 filter $other has no zarr codec equivalent " +
            "(deflate, shuffle, blosc, and zstd only)")
      }
    }
    val shape = ds.shape.map(_.toInt)
    val (chunks, chunkEntries) = ds.layout match {
      case Hdf5.Contiguous(addr, size) =>
        val key = if (shape.isEmpty) "0" else shape.map(_ => "0").mkString(".")
        (shape, Seq(s"$name/$key" -> ref(uri, addr, size)))
      case Hdf5.Compact(data) =>
        val key = if (shape.isEmpty) "0" else shape.map(_ => "0").mkString(".")
        val b64 = java.util.Base64.getEncoder.encodeToString(data)
        (shape, Seq(s"$name/$key" -> s""""base64:$b64""""))
      case ck: Hdf5.Chunked =>
        val refs = Hdf5.chunkRefs(read, ds)
        val es = refs.map { r =>
          if (r.filterMask != 0) throw UnsupportedHdf5(
            s"$name: chunk with partial filter mask ${r.filterMask}")
          val idx = r.offsets.zip(ck.chunkDims)
            .map { case (o, c) => (o / c).toString }.mkString(".")
          s"$name/$idx" -> ref(uri, r.addr, r.nBytes)
        }
        (ck.chunkDims, es)
    }
    // the CF attributes pass through as the source declares them (scalars
    // or lists); an integer array's fill is its declared fill value, null
    // without one, so no stored value is masked that the source keeps
    val attrPairs = CfDecode.Keys.flatMap(k => ds.attrs.get(k).collect {
      case d: Double => k -> fmtNum(d)
      case xs: Seq[_] if xs.forall(_.isInstanceOf[Double]) =>
        k -> xs.map(d => fmtNum(d.asInstanceOf[Double])).mkString("[", ", ", "]")
    }) ++ Seq("units", "calendar").flatMap(k =>
      ds.attrs.get(k).collect { case s: String => k -> jsonQ(s) })
    arrayEntries(name,
      ZarrMeta.renderZarray(shape, chunks, dtype, compressor,
        if (dt.clazz == 1) "\"NaN\""
        else CfDecode.fillValue(ds.attrs).fold("null")(_.toLong.toString), filters),
      dims, attrPairs) ++ chunkEntries
  }

  private def fmtNum(v: Double): String =
    if (v.isNaN) "\"NaN\"" else v.toString
}
