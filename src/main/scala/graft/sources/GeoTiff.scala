package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S1/S2: minimal GeoTiff reader (SURVEY §2.1: "binary-file read +
  * minimal TIFF decode" — GeoTrellis's `hadoopGeoTiffRDD` is not
  * available offline). Supports the subset the reference's own sample
  * data needs: II/MM byte order, classic AND BigTIFF (magic 43)
  * headers, strip or tile organization,
  * uncompressed / LZW / Deflate / PackBits / JPEG (compression 7,
  * 8-bit, JPEGTables splice), 1 sample per pixel,
  * uint8-64 / int8-64 / float32/64, optional ModelPixelScale+Tiepoint
  * geo transform and GDAL_NODATA.
  *
  * `decode` is a pure bytes→raster function: `read` applies it to one
  * local file on the driver (the reference's Shapefile/GeoJSON reads are
  * driver-side too); [[readDistributed]] is the many-scenes scale path —
  * a `binaryFile` scan ships each scene's bytes to a task and the same
  * decoder runs executor-side (the hadoopGeoTiffRDD role,
  * GeotiffTilingExample.scala:49).
  */
object GeoTiff {

  case class Meta(width: Int, height: Int, bits: Int, sampleFormat: Int,
                  samplesPerPixel: Int, noData: Option[Double],
                  originX: Double, originY: Double, cellW: Double, cellH: Double,
                  epsg: Option[Int] = None)

  /** Row-major cells, NaN = NoData. Multiband rasters are pixel-
    * interleaved (chunky / PlanarConfiguration=1): cell (x, y, band) is
    * at `(x + y*width) * samplesPerPixel + band`; [[band]] deinterleaves. */
  case class Raster(meta: Meta, cells: Array[Double])

  /** Extract one band of a (possibly multiband) raster as a dense
    * row-major array. */
  def band(r: Raster, b: Int): Array[Double] = {
    val n = r.meta.samplesPerPixel
    require(b >= 0 && b < n, s"band $b of $n")
    if (n == 1) r.cells
    else Array.tabulate(r.meta.width * r.meta.height)(i => r.cells(i * n + b))
  }

  def read(path: String): Raster =
    decode(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  def decode(bytes: Array[Byte]): Raster = {
    val le = bytes(0) == 'I'
    def u16(o: Int): Int =
      if (le) (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
      else ((bytes(o) & 0xFF) << 8) | (bytes(o + 1) & 0xFF)
    def u32(o: Int): Long = {
      val b = (0 to 3).map(i => bytes(o + i) & 0xFFL)
      if (le) b(0) | (b(1) << 8) | (b(2) << 16) | (b(3) << 24)
      else (b(0) << 24) | (b(1) << 16) | (b(2) << 8) | b(3)
    }
    def f64(o: Int): Double = {
      var v = 0L
      if (le) { var i = 7; while (i >= 0) { v = (v << 8) | (bytes(o + i) & 0xFFL); i -= 1 } }
      else { var i = 0; while (i < 8) { v = (v << 8) | (bytes(o + i) & 0xFFL); i += 1 } }
      java.lang.Double.longBitsToDouble(v)
    }

    def u64(o: Int): Long = {
      var v = 0L
      if (le) { var i = 7; while (i >= 0) { v = (v << 8) | (bytes(o + i) & 0xFFL); i -= 1 } }
      else { var i = 0; while (i < 8) { v = (v << 8) | (bytes(o + i) & 0xFFL); i += 1 } }
      v
    }

    // BigTIFF (magic 43): 8-byte IFD offsets/counts, 20-byte entries
    // with an 8-byte value/offset field, and LONG8 (type 16) counts —
    // the format GDAL emits past 4 GiB. Classic TIFF is magic 42.
    val magic = u16(2)
    require(magic == 42 || magic == 43, s"not a TIFF (magic $magic)")
    val bigTiff = magic == 43
    val ifd = if (bigTiff) u64(8).toInt else u32(4).toInt
    val n = if (bigTiff) u64(ifd).toInt else u16(ifd)
    val entryBase = ifd + (if (bigTiff) 8 else 2)
    val entrySize = if (bigTiff) 20 else 12
    val inlineCap = if (bigTiff) 8 else 4
    def typeSize(typ: Int): Int =
      typ match { case 3 => 2; case 4 | 11 => 4; case 5 | 12 | 16 | 17 | 18 => 8; case _ => 1 }
    /** Offset of an entry's payload: inline in the value field when it
      * fits, else at the pointed-to location. */
    def dataBase(o: Int, typ: Int, cnt: Int): Int = {
      val valueField = o + (if (bigTiff) 12 else 8)
      if (typeSize(typ) * cnt <= inlineCap) valueField
      else (if (bigTiff) u64(valueField) else u32(valueField)).toInt
    }
    var width = 0; var height = 0; var bits = 0; var compression = 1
    var sampleFormat = 1; var spp = 1; var rowsPerStrip = Int.MaxValue
    var stripOffsets: Array[Long] = Array.empty
    var stripCounts: Array[Long] = Array.empty
    var tileW = 0; var tileH = 0
    var tileOffsets: Array[Long] = Array.empty
    var tileCounts: Array[Long] = Array.empty
    var noData: Option[Double] = None
    var pixScale: Option[(Double, Double)] = None
    var tiePoint: Option[(Double, Double)] = None
    var planarConfig = 1
    var predictor = 1
    var epsg: Option[Int] = None
    var jpegTables: Option[Array[Byte]] = None

    def values(o: Int, typ: Int, cnt: Int): Array[Long] = {
      val base = dataBase(o, typ, cnt)
      (0 until cnt).map { i =>
        typ match {
          case 3 => u16(base + 2 * i).toLong
          case 4 => u32(base + 4 * i)
          case 16 => u64(base + 8 * i)
          case _ => (bytes(base + i) & 0xFF).toLong
        }
      }.toArray
    }

    var i = 0
    while (i < n) {
      val o = entryBase + i * entrySize
      val tag = u16(o); val typ = u16(o + 2)
      val cnt = (if (bigTiff) u64(o + 4) else u32(o + 4)).toInt
      tag match {
        case 256 => width = values(o, typ, cnt)(0).toInt
        case 257 => height = values(o, typ, cnt)(0).toInt
        case 258 => bits = values(o, typ, cnt)(0).toInt
        case 259 => compression = values(o, typ, cnt)(0).toInt
        case 277 => spp = values(o, typ, cnt)(0).toInt
        case 278 => rowsPerStrip = values(o, typ, cnt)(0).toInt
        case 273 => stripOffsets = values(o, typ, cnt)
        case 279 => stripCounts = values(o, typ, cnt)
        case 322 => tileW = values(o, typ, cnt)(0).toInt
        case 323 => tileH = values(o, typ, cnt)(0).toInt
        case 324 => tileOffsets = values(o, typ, cnt)
        case 325 => tileCounts = values(o, typ, cnt)
        case 284 => planarConfig = values(o, typ, cnt)(0).toInt
        case 317 => predictor = values(o, typ, cnt)(0).toInt
        case 339 => sampleFormat = values(o, typ, cnt)(0).toInt
        case 33550 => val b = dataBase(o, 12, cnt); pixScale = Some((f64(b), f64(b + 8)))
        case 33922 => val b = dataBase(o, 12, cnt); tiePoint = Some((f64(b + 24), f64(b + 32)))
        case 34735 => // GeoKeyDirectory: header + 4-short key entries
          val ks = values(o, typ, cnt)
          // inline (TIFFTagLocation == 0) CRS keys, skipping 32767
          // (user-defined). A projected file carries BOTH
          // ProjectedCSType (3072) and its datum's GeographicType
          // (2048, sorted first) — the projected key must win.
          def key(id: Long): Option[Int] = (4 to ks.length - 4 by 4).collectFirst {
            case k if ks(k) == id && ks(k + 1) == 0L && ks(k + 3) != 32767L => ks(k + 3).toInt
          }
          epsg = key(3072L).orElse(key(2048L))
        case 347 => // JPEGTables: shared quant/Huffman tables for compression 7
          val b = dataBase(o, typ, cnt)
          jpegTables = Some(java.util.Arrays.copyOfRange(bytes, b, b + cnt))
        case 42113 =>
          val b = dataBase(o, typ, cnt) // inline-aware: short ASCII fits the value field
          val s = new String(bytes, b, cnt).takeWhile(_ != 0).trim
          noData = scala.util.Try(s.toDouble).toOption
        case _ => ()
      }
      i += 1
    }
    require(spp == 1 || planarConfig == 1,
      s"multiband requires chunky layout (PlanarConfiguration=1), got $planarConfig")
    // a differencing predictor (2 horizontal, 3 floating point) would
    // need undoing after decompression; reject it rather than return
    // differences as cells
    if (predictor != 1) throw new UnsupportedOperationException(s"TIFF predictor $predictor")

    val bytesPerSample = bits / 8
    val out = new Array[Double](width * height * spp)

    def decode(data: Array[Byte]): Array[Byte] = compression match {
      case 1 => data
      case 5 => lzwDecode(data)
      case 32773 => packBitsDecode(data)
      case 7 => // new-style JPEG: each strip/tile is a JPEG stream, decoded
        // by the JDK's codec (same ImageIO the multimodal path uses).
        // A JPEGTables tag (347) carries shared quant/Huffman tables:
        // splice its body between the strip's SOI and the scan data.
        require(bits == 8, s"JPEG-in-TIFF supports 8-bit samples, got $bits")
        val jpeg = jpegTables match {
          case Some(t) if t.length > 4 && data.length > 2 =>
            val merged = new java.io.ByteArrayOutputStream(t.length + data.length)
            merged.write(data, 0, 2)             // SOI from the strip
            merged.write(t, 2, t.length - 4)     // tables body (between SOI and EOI)
            merged.write(data, 2, data.length - 2)
            merged.toByteArray
          case _ => data
        }
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
        require(img != null, "undecodable JPEG strip/tile")
        val r = img.getRaster
        val (jw, jh, nb) = (img.getWidth, img.getHeight, r.getNumBands)
        require(nb >= spp, s"JPEG strip has $nb bands, file declares $spp samples/pixel")
        val px = new Array[Byte](jw * jh * spp)
        var y = 0
        while (y < jh) {
          var x = 0
          while (x < jw) {
            var b = 0
            while (b < spp) { px((x + y * jw) * spp + b) = r.getSample(x, y, b).toByte; b += 1 }
            x += 1
          }
          y += 1
        }
        px
      case 8 | 32946 =>
        val inf = new java.util.zip.Inflater()
        inf.setInput(data)
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        while (!inf.finished()) {
          val k = inf.inflate(tmp)
          if (k == 0 && inf.needsInput()) throw new IllegalStateException("truncated deflate")
          buf.write(tmp, 0, k)
        }
        buf.toByteArray
      case c => throw new UnsupportedOperationException(s"TIFF compression $c")
    }

    def sample(d: Array[Byte], idx: Int): Double = {
      val o = idx * bytesPerSample
      var v = 0L
      if (le) { var k = bytesPerSample - 1; while (k >= 0) { v = (v << 8) | (d(o + k) & 0xFFL); k -= 1 } }
      else { var k = 0; while (k < bytesPerSample) { v = (v << 8) | (d(o + k) & 0xFFL); k += 1 } }
      sampleFormat match {
        case 3 => if (bits == 64) java.lang.Double.longBitsToDouble(v)
                  else java.lang.Float.intBitsToFloat(v.toInt).toDouble
        case 2 => bits match { // signed
          case 8 => v.toByte.toDouble
          case 16 => v.toShort.toDouble
          case 32 => v.toInt.toDouble
          case _ => v.toDouble
        }
        case _ => v.toDouble // unsigned
      }
    }

    if (stripOffsets.nonEmpty) {
      var strip = 0
      while (strip < stripOffsets.length) {
        val d = decode(java.util.Arrays.copyOfRange(bytes,
          stripOffsets(strip).toInt, (stripOffsets(strip) + stripCounts(strip)).toInt))
        val y0 = strip * rowsPerStrip
        val nRows = math.min(rowsPerStrip, height - y0)
        var r = 0
        while (r < nRows) {
          var x = 0
          while (x < width * spp) { // interleaved samples copy straight through
            out(x + (y0 + r) * width * spp) = sample(d, x + r * width * spp)
            x += 1
          }
          r += 1
        }
        strip += 1
      }
    } else {
      val tilesAcross = (width + tileW - 1) / tileW
      var t = 0
      while (t < tileOffsets.length) {
        val d = decode(java.util.Arrays.copyOfRange(bytes,
          tileOffsets(t).toInt, (tileOffsets(t) + tileCounts(t)).toInt))
        val tx = (t % tilesAcross) * tileW
        val ty = (t / tilesAcross) * tileH
        var r = 0
        while (r < tileH && ty + r < height) {
          var x = 0
          while (x < tileW && tx + x < width) {
            var b = 0
            while (b < spp) {
              out(((tx + x) + (ty + r) * width) * spp + b) = sample(d, (x + r * tileW) * spp + b)
              b += 1
            }
            x += 1
          }
          r += 1
        }
        t += 1
      }
    }

    noData.foreach { nd =>
      var k = 0
      while (k < out.length) { if (out(k) == nd) out(k) = Double.NaN; k += 1 }
    }
    val (cw, ch) = pixScale.getOrElse((1.0, 1.0))
    val (ox, oy) = tiePoint.getOrElse((0.0, 0.0))
    Raster(Meta(width, height, bits, sampleFormat, spp, noData, ox, oy, cw, ch, epsg), out)
  }

  /** K4/K5 writer twin of [[decode]]: float64 GeoTiff — little endian,
    * one uncompressed strip, pixel-interleaved bands
    * (PlanarConfiguration=1), ModelPixelScale + ModelTiepoint
    * georeferencing, and a GeoKeyDirectory carrying the CRS. Written
    * from the TIFF 6.0 / GeoTIFF specs (the reference writes through
    * GeoTrellis GeoTiffWriter, which emits the same key set:
    * LayerToGeotiff.scala:90-127, MultibandLayerToGeotiff.scala:150-187);
    * the tag set is the plain-TIFF core any GIS reader understands, and
    * [[decode]] round-trips it exactly. NaN cells stay NaN — IEEE float
    * nodata, no GDAL_NODATA needed. (originX, originY) is the TOP-LEFT
    * corner; rows grow downward by cellH.
    *
    * CRS encoding: EPSG codes in 4000-4999 are geographic 2D
    * (GTModelType=2, GeographicTypeGeoKey), anything else projected
    * (GTModelType=1, ProjectedCSTypeGeoKey) — covering the engine's
    * CRS registry (4326, 3857, UTM 326xx/327xx). */
  def encodeMultiband(width: Int, height: Int, bands: Seq[Array[Double]],
                      originX: Double = 0.0, originY: Double = 0.0,
                      cellW: Double = 1.0, cellH: Double = 1.0,
                      epsg: Int = 4326, deflate: Boolean = false): Array[Byte] = {
    val n = bands.length
    require(n >= 1, "at least one band")
    bands.foreach(b =>
      require(b.length == width.toLong * height, s"cells ${b.length} != $width x $height"))
    require(width.toLong * height * 8 * n < Int.MaxValue - 8192, "raster too large for one TIFF")
    require(epsg > 0 && epsg < 65535, s"EPSG $epsg does not fit a GeoKey SHORT")
    val header = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    header.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    header.array() ++ ifdSegment(width, height, n, stripData(bands, deflate), base = 8,
      nextIfd = 0, reduced = false, deflate, originX, originY, cellW, cellH, epsg)
  }

  /** Interleaved float64 strip payload, optionally Deflate-compressed
    * (TIFF compression 8 — the [[decode]] path already reads it; the
    * writer gaining it means exports cost 2-5x less disk/wire). */
  private def stripData(bands: Seq[Array[Double]], deflate: Boolean): Array[Byte] = {
    val n = bands.length
    val m = bands(0).length
    val buf = java.nio.ByteBuffer.allocate(m * n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < m) {
      var b = 0
      while (b < n) { buf.putDouble(bands(b)(i)); b += 1 }
      i += 1
    }
    val raw = buf.array()
    if (!deflate) raw
    else {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 4 + 64)
      val chunk = new Array[Byte](65536)
      while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
      d.end()
      out.toByteArray
    }
  }

  private def geoKeysFor(epsg: Int): Array[Int] = {
    val geographic = epsg >= 4000 && epsg < 5000
    Array(
      1, 1, 0, 3, // KeyDirectoryVersion, KeyRevision, MinorRevision, NumberOfKeys
      1024, 0, 1, if (geographic) 2 else 1, // GTModelType: geographic / projected
      1025, 0, 1, 1, // GTRasterType: RasterPixelIsArea
      if (geographic) 2048 else 3072, 0, 1, epsg)
  }

  /** Byte size of one IFD segment (IFD + external blocks + strip data)
    * — MUST mirror [[ifdSegment]]'s layout exactly; [[encodePyramid]]
    * uses it to pre-compute chain offsets. */
  private def segmentSize(n: Int, dataLen: Int, reduced: Boolean): Int = {
    val tags = (if (reduced) 15 else 14)
    val extShorts = if (n > 2) 4 * n else 0 // BitsPerSample + SampleFormat blocks
    2 + tags * 12 + 4 + extShorts + 24 + 48 + 2 * geoKeysFor(4326).length + dataLen
  }

  /** One complete IFD segment with ABSOLUTE offsets (file position of
    * the segment's first byte = `base`), chained to `nextIfd` (0 ends
    * the chain). `reduced` adds NewSubfileType=1 — the COG overview
    * marker. Layout: IFD, external SHORT blocks, scale/tiepoint/geokey
    * blocks, then one strip of (optionally Deflate-compressed)
    * pixel-interleaved float64 data, passed in as `data`. */
  private def ifdSegment(width: Int, height: Int, n: Int, data: Array[Byte],
                         base: Int, nextIfd: Int, reduced: Boolean, deflate: Boolean,
                         originX: Double, originY: Double,
                         cellW: Double, cellH: Double, epsg: Int): Array[Byte] = {
    val geoKeys = geoKeysFor(epsg)
    val tags = (if (reduced) 15 else 14)
    var ext = 2 + tags * 12 + 4 // relative to base
    def alloc(sz: Int): Int = { val o = ext; ext += sz; o }
    val bpsOff = if (n > 2) alloc(2 * n) else -1 // SHORT arrays go external past 2 values
    val sfOff = if (n > 2) alloc(2 * n) else -1
    val scaleOff = alloc(24)
    val tieOff = alloc(48)
    val geoOff = alloc(2 * geoKeys.length)
    val dataOff = ext
    val buf = java.nio.ByteBuffer.allocate(dataOff + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putShort(tags.toShort)
    def tag(id: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(id.toShort).putShort(typ.toShort).putInt(cnt)
      if (typ == 3 && cnt == 1) buf.putShort(value.toShort).putShort(0) // SHORT, inline-padded
      else buf.putInt(value.toInt)
    }
    // per-band SHORT runs: inline up to 2 values, else external block
    def tagShorts(id: Int, value: Int, extOff: Int): Unit =
      if (n == 1) tag(id, 3, 1, value)
      else if (n == 2) {
        buf.putShort(id.toShort).putShort(3.toShort).putInt(2)
        buf.putShort(value.toShort).putShort(value.toShort)
      } else tag(id, 3, n, base + extOff)
    if (reduced) tag(254, 4, 1, 1) // NewSubfileType: reduced-resolution (tags ascend: 254 first)
    tag(256, 4, 1, width) // ImageWidth
    tag(257, 4, 1, height) // ImageLength
    tagShorts(258, 64, bpsOff) // BitsPerSample
    tag(259, 3, 1, if (deflate) 8 else 1) // Compression: Deflate / none
    tag(262, 3, 1, 1) // Photometric: BlackIsZero
    tag(273, 4, 1, base + dataOff) // StripOffsets
    tag(277, 3, 1, n) // SamplesPerPixel
    tag(278, 4, 1, height) // RowsPerStrip: one strip
    tag(279, 4, 1, data.length) // StripByteCounts
    tag(284, 3, 1, 1) // PlanarConfiguration: chunky (pixel-interleaved)
    tagShorts(339, 3, sfOff) // SampleFormat: IEEE float
    tag(33550, 12, 3, base + scaleOff) // ModelPixelScale
    tag(33922, 12, 6, base + tieOff) // ModelTiepoint
    tag(34735, 3, geoKeys.length, base + geoOff) // GeoKeyDirectory
    buf.putInt(nextIfd)
    if (n > 2) {
      var b = 0; while (b < n) { buf.putShort(64.toShort); b += 1 } // BitsPerSample
      b = 0; while (b < n) { buf.putShort(3.toShort); b += 1 } // SampleFormat
    }
    buf.putDouble(cellW).putDouble(cellH).putDouble(0.0)
    buf.putDouble(0.0).putDouble(0.0).putDouble(0.0)
    buf.putDouble(originX).putDouble(originY).putDouble(0.0)
    geoKeys.foreach(k => buf.putShort(k.toShort))
    buf.put(data)
    buf.array()
  }

  /** 2x2 NaN-skipping block mean — the overview downsample, same cell
    * rule as the layer pyramid (mean over data cells, all-NoData
    * parents stay NoData). */
  private[sources] def downsample2x(w: Int, h: Int, cells: Array[Double]): (Int, Int, Array[Double]) = {
    val ow = (w + 1) / 2; val oh = (h + 1) / 2
    val out = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        var s = 0.0; var c = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val sx = 2 * x + dx; val sy = 2 * y + dy
            if (sx < w && sy < h) {
              val v = cells(sy * w + sx)
              if (!java.lang.Double.isNaN(v)) { s += v; c += 1 }
            }
            dx += 1
          }
          dy += 1
        }
        out(y * ow + x) = if (c == 0) Double.NaN else s / c
        x += 1
      }
      y += 1
    }
    (ow, oh, out)
  }

  /** Cloud-optimized-GeoTIFF-style pyramid: the full raster plus
    * `levels` chained reduced-resolution IFDs (NewSubfileType=1, each
    * level a 2x2 NaN-skipping mean of the previous, pixel scale
    * doubled per level so every overview georeferences correctly).
    * [[decode]] reads the full image unchanged (first IFD — full
    * backward compatibility); [[decodeLevel]] pins any overview. A
    * tile server rendering zoomed-out views reads the overview IFD
    * instead of resampling the full raster — the COG serving trade. */
  def encodePyramid(width: Int, height: Int, cells: Array[Double], levels: Int,
                    originX: Double = 0.0, originY: Double = 0.0,
                    cellW: Double = 1.0, cellH: Double = 1.0,
                    epsg: Int = 4326, deflate: Boolean = false): Array[Byte] = {
    require(levels >= 0, "levels must be >= 0")
    val lv = Iterator.iterate((width, height, cells)) { case (w, h, c) => downsample2x(w, h, c) }
      .take(levels + 1).toSeq
    // payloads first: with compression the chain offsets depend on
    // each level's actual strip length
    val payloads = lv.map { case (_, _, c) => stripData(Seq(c), deflate) }
    val segSizes = payloads.zipWithIndex.map { case (d, i) =>
      segmentSize(1, d.length, reduced = i > 0)
    }
    val bases = segSizes.scanLeft(8)(_ + _)
    val header = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    header.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    val segs = lv.zip(payloads).zipWithIndex.map { case (((w, h, _), d), i) =>
      val next = if (i == levels) 0 else bases(i + 1)
      val scale = (1L << i).toDouble
      ifdSegment(w, h, 1, d, bases(i), next, reduced = i > 0, deflate,
        originX, originY, cellW * scale, cellH * scale, epsg)
    }
    header.array() ++ segs.reduce(_ ++ _)
  }

  /** File offsets of every IFD in the chain (full raster first, then
    * each overview level). Classic-TIFF only — matches what
    * [[encodePyramid]] emits. */
  def ifdOffsets(bytes: Array[Byte]): Seq[Int] = {
    val le = bytes(0) == 'I'
    def u16(o: Int): Int =
      if (le) (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
      else ((bytes(o) & 0xFF) << 8) | (bytes(o + 1) & 0xFF)
    def u32(o: Int): Int = {
      val b = (0 to 3).map(i => bytes(o + i) & 0xFF)
      if (le) b(0) | (b(1) << 8) | (b(2) << 16) | (b(3) << 24)
      else (b(0) << 24) | (b(1) << 16) | (b(2) << 8) | b(3)
    }
    require(u16(2) == 42, "ifdOffsets supports classic TIFF only")
    val out = Seq.newBuilder[Int]
    var off = u32(4)
    var guard = 0
    while (off != 0 && guard < 64) {
      out += off
      val n = u16(off)
      off = u32(off + 2 + n * 12)
      guard += 1
    }
    out.result()
  }

  /** Decode one pyramid level by pinning the header's first-IFD pointer
    * at that level's IFD — the full [[decode]] machinery (compression,
    * tiles/strips, geo tags) applies unchanged to the overview. */
  def decodeLevel(bytes: Array[Byte], level: Int): Raster = {
    val offs = ifdOffsets(bytes)
    require(level >= 0 && level < offs.length,
      s"level $level of ${offs.length} IFDs")
    if (level == 0) decode(bytes)
    else {
      val copy = bytes.clone()
      val le = copy(0) == 'I'
      val o = offs(level)
      if (le) {
        copy(4) = (o & 0xFF).toByte; copy(5) = ((o >> 8) & 0xFF).toByte
        copy(6) = ((o >> 16) & 0xFF).toByte; copy(7) = ((o >> 24) & 0xFF).toByte
      } else {
        copy(4) = ((o >> 24) & 0xFF).toByte; copy(5) = ((o >> 16) & 0xFF).toByte
        copy(6) = ((o >> 8) & 0xFF).toByte; copy(7) = (o & 0xFF).toByte
      }
      decode(copy)
    }
  }

  def encode(width: Int, height: Int, cells: Array[Double],
             originX: Double = 0.0, originY: Double = 0.0,
             cellW: Double = 1.0, cellH: Double = 1.0,
             epsg: Int = 4326): Array[Byte] =
    encodeMultiband(width, height, Seq(cells), originX, originY, cellW, cellH, epsg)

  /** Write one GeoTiff, creating parent dirs first: export tasks run
    * executor-side against a SHARED filesystem (as the reference's
    * executor-side GeoTiffWriter does — LayerToGeotiff.scala:96-127), and
    * on a fresh worker nothing guarantees the target dir exists yet. */
  def write(path: String, width: Int, height: Int, cells: Array[Double],
            originX: Double = 0.0, originY: Double = 0.0,
            cellW: Double = 1.0, cellH: Double = 1.0,
            epsg: Int = 4326, deflate: Boolean = false): Unit =
    writeMultiband(path, width, height, Seq(cells), originX, originY, cellW, cellH, epsg, deflate)

  def writeMultiband(path: String, width: Int, height: Int, bands: Seq[Array[Double]],
                     originX: Double = 0.0, originY: Double = 0.0,
                     cellW: Double = 1.0, cellH: Double = 1.0,
                     epsg: Int = 4326, deflate: Boolean = false): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p,
      encodeMultiband(width, height, bands, originX, originY, cellW, cellH, epsg, deflate)): Unit
  }

  /** PackBits (TIFF compression 32773 — the Macintosh RLE scheme):
    * control byte n in 0..127 copies the next n+1 bytes literally;
    * n in -127..-1 repeats the next byte 1-n times; -128 is a no-op.
    * Widens the input surface toward GeoTrellis `hadoopGeoTiffRDD`
    * (`GeotiffTilingExample.scala:49`), which accepts PackBits files. */
  private[sources] def packBitsDecode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length * 2)
    var i = 0
    while (i < in.length) {
      val n = in(i); i += 1
      if (n >= 0) { out.write(in, i, n + 1); i += n + 1 }
      else if (n != -128) {
        val b = in(i); i += 1
        var k = 1 - n
        while (k > 0) { out.write(b.toInt); k -= 1 }
      }
    }
    out.toByteArray
  }

  /** TIFF-variant LZW (MSB-first codes, 9->12 bits with early change,
    * Clear=256, EOI=257). */
  private[sources] def lzwDecode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length * 4)
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var codeWidth = 9
    var bitPos = 0
    var prev: Array[Byte] = null
    def initDict(): Unit = {
      var i = 0
      while (i < 256) { dict(i) = Array(i.toByte); i += 1 }
      dictSize = 258; codeWidth = 9; prev = null
    }
    initDict()
    val totalBits = in.length * 8
    var done = false
    while (!done && bitPos + codeWidth <= totalBits) {
      var code = 0
      var k = 0
      while (k < codeWidth) {
        val b = bitPos + k
        code = (code << 1) | ((in(b >> 3) >> (7 - (b & 7))) & 1)
        k += 1
      }
      bitPos += codeWidth
      if (code == 257) done = true
      else if (code == 256) initDict()
      else {
        val entry: Array[Byte] =
          if (code < dictSize && dict(code) != null) dict(code)
          else if (prev != null) prev :+ prev(0)
          else throw new IllegalStateException(s"bad LZW code $code")
        out.write(entry)
        if (prev != null && dictSize < 4096) {
          dict(dictSize) = prev :+ entry(0)
          dictSize += 1
        }
        // TIFF early change: widen one code before the table is full
        if (dictSize == (1 << codeWidth) - 1 && codeWidth < 12) codeWidth += 1
        prev = entry
      }
    }
    out.toByteArray
  }

  case class ScenePixel(tile_col: Int, tile_row: Int, px: Int, py: Int, v: Double)

  /** S1/S2 at scale: distributed multi-scene ingest. A `binaryFile` scan
    * ships whole-scene bytes into tasks; [[decode]] + the pixel explode
    * run executor-side, one task per scene — no driver bottleneck, no
    * scene-count limit. Scenes are placed on a shared global pixel grid
    * via their ModelTiepoint/PixelScale geo-transform (grid-aligned
    * mosaics, the GeotiffTilingExample.scala:49-54 shape); tile keys are
    * floorDiv of global pixel coords. Feed the result to
    * `Raster.assemble(df, ts, ts)` to build the layer. */
  def readDistributed(spark: SparkSession, pattern: String, tileSize: Int): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pattern)
      .select(org.apache.spark.sql.functions.col("content"))
      .as[Array[Byte]]
      .flatMap { bytes =>
        val r = decode(bytes)
        require(r.meta.samplesPerPixel == 1,
          "multiband scenes: read per band and stackBands/zipBands instead")
        val w = r.meta.width
        // grid-aligned global pixel origin of this scene
        val gx0 = math.round(r.meta.originX / r.meta.cellW)
        val gy0 = math.round(-r.meta.originY / r.meta.cellH)
        for {
          y <- (0 until r.meta.height).iterator
          x <- (0 until w).iterator
          v = r.cells(x + y * w)
          if !java.lang.Double.isNaN(v)
        } yield {
          val gx = gx0 + x
          val gy = gy0 + y
          ScenePixel(
            Math.floorDiv(gx, tileSize.toLong).toInt, Math.floorDiv(gy, tileSize.toLong).toInt,
            Math.floorMod(gx, tileSize.toLong).toInt, Math.floorMod(gy, tileSize.toLong).toInt, v)
        }
      }
      .toDF()
  }

  /** Raster -> pixel DataFrame in the engine's tile schema, gridded by a
    * FloatingLayout at native resolution (R1+R2 = the
    * GeotiffTilingExample ingest path). */
  def toPixels(spark: SparkSession, raster: Raster, tileSize: Int): DataFrame = {
    import spark.implicits._
    val w = raster.meta.width
    val rows = (0 until raster.meta.height).flatMap { y =>
      (0 until w).flatMap { x =>
        val v = raster.cells(x + y * w)
        if (java.lang.Double.isNaN(v)) None
        else Some((x / tileSize, y / tileSize, x % tileSize, y % tileSize, v))
      }
    }
    rows.toDF("tile_col", "tile_row", "px", "py", "v")
  }
}
