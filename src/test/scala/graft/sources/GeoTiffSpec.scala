package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase.spark

/** S1 + the §3.1 ingest lifecycle end-to-end. LZW is checked against
  * the JDK's own TIFF encoder; the tests on the reference's own sample
  * raster read it through [[readSample]], which cancels them (naming
  * the path) where the reference checkout is absent. */
class GeoTiffSpec extends AnyFunSuite {

  val sample = "/root/reference/data/rast.tif"

  /** The reference sample, decoded; cancels the calling test when the
    * file is absent. */
  def readSample(): GeoTiff.Raster = {
    assume(Files.isRegularFile(Paths.get(sample)), s"reference sample $sample is absent")
    GeoTiff.read(sample)
  }

  test("decodes the reference sample raster (LZW float64 strips)") {
    val r = readSample()
    assert(r.meta.width == 479 && r.meta.height == 283)
    assert(r.meta.bits == 64 && r.meta.sampleFormat == 3)
    assert(r.cells.length == 479 * 283)
    val data = r.cells.filter(v => !java.lang.Double.isNaN(v))
    assert(data.nonEmpty, "expected some data cells")
    // plausible raster: finite values, nonconstant
    assert(data.forall(v => !v.isInfinite))
    assert(data.distinct.length > 1)
    // the strip decode is stable: a second decode is identical
    assert(java.util.Arrays.equals(r.cells, readSample().cells))
    // the reference sample has no CRS expectations broken by the GeoKey read
    assert(r.meta.epsg.isEmpty || r.meta.epsg.exists(_ > 0))
  }

  /** Single-band float64 image encoded by the JDK's TIFF writer with
    * LZW compression. */
  def jdkLzwTif(w: Int, h: Int, cells: Array[Double]): Array[Byte] = {
    import java.awt.image._
    val raster = java.awt.image.Raster.createWritableRaster(
      new BandedSampleModel(DataBuffer.TYPE_DOUBLE, w, h, 1),
      new DataBufferDouble(cells, cells.length), null)
    val cm = new ComponentColorModel(java.awt.color.ColorSpace.getInstance(
      java.awt.color.ColorSpace.CS_GRAY), false, false, java.awt.Transparency.OPAQUE,
      DataBuffer.TYPE_DOUBLE)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(
        new BufferedImage(cm, raster, false, null), null, null), param)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** Value count of StripOffsets (273) in a classic TIFF's first IFD
    * (0 if absent). */
  def stripCount(bytes: Array[Byte]): Int = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(
      if (bytes(0) == 'I') java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    val ifd = bb.getInt(4)
    (0 until (bb.getShort(ifd) & 0xFFFF)).map(ifd + 2 + 12 * _)
      .collectFirst { case o if (bb.getShort(o) & 0xFFFF) == 273 => bb.getInt(o + 4) }
      .getOrElse(0)
  }

  test("LZW round-trip against a known pattern") {
    // 320 KiB of float64 with NaN holes: the JDK writer splits it into
    // several strips, each long enough to widen codes 9 -> 12 bits and
    // to emit Clear codes when the table fills
    val w = 1024; val h = 40
    val cells = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      if ((x * 7 + y * 13) % 97 == 0) Double.NaN else (x % 64) * 0.5 + y * 100.0
    }
    val bytes = jdkLzwTif(w, h, cells)
    assert(bytes.length < w * h * 8 / 2, s"LZW ${bytes.length} vs raw ${w * h * 8}")
    assert(stripCount(bytes) > 1, "expected a multi-strip file")
    val r = GeoTiff.decode(bytes)
    assert(r.meta.width == w && r.meta.height == h)
    assert(r.meta.bits == 64 && r.meta.sampleFormat == 3)
    assert(r.cells.map(java.lang.Double.doubleToLongBits).toSeq ==
      cells.map(java.lang.Double.doubleToLongBits).toSeq)
  }

  test("a differencing predictor fails loudly instead of decoding to wrong cells") {
    // 8-bit LZW gradient from the JDK encoder with Predictor=2
    // (horizontal differencing) added to its default metadata: the
    // strips hold differences, so a plain decode would return them as
    // cells
    import javax.imageio.plugins.tiff.{BaselineTIFFTagSet, TIFFDirectory, TIFFField}
    val w = 64; val h = 16
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, x * 3 + y)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    val dir = TIFFDirectory.createFromMetadata(writer.getDefaultImageMetadata(
      javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img), param))
    dir.addTIFFField(new TIFFField(
      BaselineTIFFTagSet.getInstance.getTag(BaselineTIFFTagSet.TAG_PREDICTOR), 2))
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, dir.getAsMetadata), param)
    } finally { ios.close(); writer.dispose() }
    val bytes = bos.toByteArray
    assert(shortTag(bytes, 317).contains(2), "the writer did not emit Predictor=2")
    val e = intercept[UnsupportedOperationException](GeoTiff.decode(bytes))
    assert(e.getMessage == "TIFF predictor 2")
  }

  /** Inline SHORT value of `tag` in a classic TIFF's first IFD. */
  def shortTag(bytes: Array[Byte], tag: Int): Option[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(
      if (bytes(0) == 'I') java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    val ifd = bb.getInt(4)
    (0 until (bb.getShort(ifd) & 0xFFFF)).map(ifd + 2 + 12 * _)
      .collectFirst { case o if (bb.getShort(o) & 0xFFFF) == tag => bb.getShort(o + 8) & 0xFFFF }
  }

  test("PackBits: decodes the TIFF 6.0 spec's worked example") {
    // The packed stream and its 24-byte expansion straight from the
    // PackBits section of the TIFF 6.0 specification.
    val packed = Array(0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA,
      0x03, 0x80, 0x00, 0x2A, 0x22, 0xF7, 0xAA).map(_.toByte)
    val expect = Array(0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA,
      0xAA, 0xAA, 0x80, 0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA,
      0xAA, 0xAA, 0xAA, 0xAA, 0xAA).map(_.toByte)
    assert(GeoTiff.packBitsDecode(packed).toSeq == expect.toSeq)
    // -128 control bytes are no-ops
    assert(GeoTiff.packBitsDecode(Array[Byte](-128, 0, 65)).toSeq == Seq[Byte](65))
  }

  /** Run-length PackBits encoder (test-side only): runs >= 2 become a
    * repeat record, everything else literal records of <= 128 bytes. */
  def packBitsEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && run < 128 && data(i + run) == data(i)) run += 1
      if (run >= 2) { out.write(1 - run); out.write(data(i).toInt); i += run }
      else {
        var j = i + 1
        while (j < data.length && j - i < 128 &&
          !(j + 1 < data.length && data(j) == data(j + 1))) j += 1
        out.write(j - i - 1); out.write(data, i, j - i); i = j
      }
    }
    out.toByteArray
  }

  test("PackBits uint8 strip TIFF round-trips through the reader (compression 32773)") {
    val w = 16; val h = 6
    // runs AND literals so both record kinds are exercised
    val pix = Array.tabulate(w * h)(i => if ((i / w) % 2 == 0) 7 else (i * 13) % 256)
    val comp = packBitsEncode(pix.map(_.toByte))
    val bb = java.nio.ByteBuffer.allocate(10 + 9 * 12 + 4 + comp.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(9)
    def entry(tag: Int, typ: Int, cnt: Int, v: Long): Unit = {
      bb.putShort(tag.toShort); bb.putShort(typ.toShort); bb.putInt(cnt); bb.putInt(v.toInt): Unit
    }
    val stripOff = 10 + 9 * 12 + 4
    entry(256, 3, 1, w); entry(257, 3, 1, h); entry(258, 3, 1, 8); entry(259, 3, 1, 32773)
    entry(273, 4, 1, stripOff); entry(277, 3, 1, 1); entry(278, 3, 1, h)
    entry(279, 4, 1, comp.length); entry(339, 3, 1, 1)
    bb.putInt(0) // next IFD
    bb.put(comp)
    val r = GeoTiff.decode(bb.array())
    assert(r.meta.width == w && r.meta.height == h)
    assert(r.cells.toSeq == pix.map(_.toDouble).toSeq)
  }

  test("BigTIFF (magic 43): 8-byte offsets, 20-byte entries, LONG8 counts, geo tags") {
    val w = 9; val h = 5
    val nTags = 11
    val ifdLen = 8 + nTags * 20 + 8
    val scaleOff = 16 + ifdLen          // 3 doubles
    val tieOff = scaleOff + 24          // 6 doubles
    val dataOff = tieOff + 48
    val bb = java.nio.ByteBuffer.allocate(dataOff + w * h * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(43)
    bb.putShort(8).putShort(0).putLong(16) // offset size, pad, first IFD
    bb.putLong(nTags)
    def entry(tag: Int, typ: Int, cnt: Long, v: Long): Unit = {
      bb.putShort(tag.toShort); bb.putShort(typ.toShort); bb.putLong(cnt); bb.putLong(v): Unit
    }
    entry(256, 16, 1, w)                // width as LONG8 — exercises type 16
    entry(257, 4, 1, h)
    entry(258, 3, 1, 64)
    entry(259, 3, 1, 1)
    entry(273, 16, 1, dataOff)
    entry(277, 3, 1, 1)
    entry(278, 3, 1, h)
    entry(279, 16, 1, w.toLong * h * 8)
    entry(339, 3, 1, 3)
    entry(33550, 12, 3, scaleOff)
    entry(33922, 12, 6, tieOff)
    bb.putLong(0) // next IFD
    bb.putDouble(0.5).putDouble(0.5).putDouble(0)
    bb.putDouble(0).putDouble(0).putDouble(0).putDouble(100.0).putDouble(200.0).putDouble(0)
    for (y <- 0 until h; x <- 0 until w) bb.putDouble(x * 10.0 + y)
    val r = GeoTiff.decode(bb.array())
    assert(r.meta.width == w && r.meta.height == h)
    assert(r.meta.originX == 100.0 && r.meta.originY == 200.0 && r.meta.cellW == 0.5)
    assert(r.cells.toSeq == (for (y <- 0 until h; x <- 0 until w) yield x * 10.0 + y))
  }

  /** One-strip 8-bit gray TIFF with compression 7 (new-style JPEG),
    * optionally carrying a JPEGTables tag. */
  def jpegTif(w: Int, h: Int, strip: Array[Byte], tables: Option[Array[Byte]]): Array[Byte] = {
    val nTags = 9 + (if (tables.isDefined) 1 else 0)
    val ifdLen = 2 + nTags * 12 + 4
    val tablesOff = 8 + ifdLen
    val dataOff = tablesOff + tables.map(_.length).getOrElse(0)
    val bb = java.nio.ByteBuffer.allocate(dataOff + strip.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(nTags.toShort)
    def entry(tag: Int, typ: Int, cnt: Int, v: Long): Unit = {
      bb.putShort(tag.toShort); bb.putShort(typ.toShort); bb.putInt(cnt); bb.putInt(v.toInt): Unit
    }
    entry(256, 3, 1, w); entry(257, 3, 1, h); entry(258, 3, 1, 8); entry(259, 3, 1, 7)
    entry(273, 4, 1, dataOff); entry(277, 3, 1, 1); entry(278, 3, 1, h)
    entry(279, 4, 1, strip.length); entry(339, 3, 1, 1)
    tables.foreach(t => entry(347, 7, t.length, tablesOff))
    bb.putInt(0)
    tables.foreach(t => bb.put(t))
    bb.put(strip)
    bb.array()
  }

  test("JPEG-in-TIFF (compression 7): strips decode through the JDK codec") {
    // gray gradient, JPEG-encoded by ImageIO — the TIFF decode must
    // equal ImageIO's own decode of the same stream (JPEG is lossy, so
    // the reference is the codec's output, not the source pattern)
    val w = 32; val h = 16
    val jpeg = graft.multimodal.Media.encodeGray(w, h, "jpg", i => (i * 7) % 256)
    val expect = graft.multimodal.Media.decodeGray(jpeg).get._3
    val r = GeoTiff.decode(jpegTif(w, h, jpeg, None))
    assert(r.meta.width == w && r.meta.height == h)
    assert(r.cells.toSeq == expect.map(_.toDouble).toSeq)
  }

  test("JPEG-in-TIFF with a JPEGTables tag: tables splice back into each strip") {
    // split the stream the way TIFF writers do: DQT/DHT segments into
    // the shared JPEGTables tag, everything else stays in the strip
    val w = 24; val h = 8
    val jpeg = graft.multimodal.Media.encodeGray(w, h, "jpg", i => (i * 13) % 256)
    val expect = graft.multimodal.Media.decodeGray(jpeg).get._3
    val tab = new java.io.ByteArrayOutputStream()
    val rest = new java.io.ByteArrayOutputStream()
    tab.write(0xFF); tab.write(0xD8); rest.write(0xFF); rest.write(0xD8)
    var i = 2
    var done = false
    while (!done) {
      assert((jpeg(i) & 0xFF) == 0xFF, "expected a JPEG marker")
      val m = jpeg(i + 1) & 0xFF
      if (m == 0xDA) { // SOS: entropy data through EOI stays in the strip
        rest.write(jpeg, i, jpeg.length - i); done = true
      } else {
        val len = ((jpeg(i + 2) & 0xFF) << 8) | (jpeg(i + 3) & 0xFF)
        val out = if (m == 0xDB || m == 0xC4) tab else rest // DQT / DHT
        out.write(jpeg, i, 2 + len)
        i += 2 + len
      }
    }
    tab.write(0xFF); tab.write(0xD9)
    val r = GeoTiff.decode(jpegTif(w, h, rest.toByteArray, Some(tab.toByteArray)))
    assert(r.cells.toSeq == expect.map(_.toDouble).toSeq)
  }

  test("non-TIFF magic is rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      GeoTiff.decode(Array[Byte]('I', 'I', 44, 0, 0, 0, 0, 0))
    }
    assert(e.getMessage.contains("magic"))
  }

  /** Minimal little-endian float64 strip TIFF with a geo transform —
    * written from the format spec, for multi-scene fixtures. */
  def writeTif(path: String, w: Int, h: Int, origX: Double, origY: Double,
               cell: Double, f: (Int, Int) => Double): Unit = {
    val bb = java.nio.ByteBuffer.allocate(218 + w * h * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(11)
    def entry(tag: Int, typ: Int, cnt: Int, v: Long): Unit = {
      bb.putShort(tag.toShort); bb.putShort(typ.toShort); bb.putInt(cnt); bb.putInt(v.toInt): Unit
    }
    entry(256, 3, 1, w); entry(257, 3, 1, h); entry(258, 3, 1, 64); entry(259, 3, 1, 1)
    entry(273, 4, 1, 218); entry(277, 3, 1, 1); entry(278, 3, 1, h); entry(279, 4, 1, w * h * 8)
    entry(339, 3, 1, 3); entry(33550, 12, 3, 146); entry(33922, 12, 6, 170)
    bb.putInt(0) // next IFD
    bb.putDouble(cell).putDouble(cell).putDouble(0) // ModelPixelScale @146
    bb.putDouble(0).putDouble(0).putDouble(0).putDouble(origX).putDouble(origY).putDouble(0) // Tiepoint @170
    for (y <- 0 until h; x <- 0 until w) bb.putDouble(f(x, y))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array()): Unit
  }

  test("GeoTiff writer: encode -> decode round-trips cells (NaN holes), georef, and the reference file") {
    val w = 7; val h = 5
    val cells = Array.tabulate(w * h)(i => if (i % 11 == 3) Double.NaN else i * 1.5 - 3)
    val bytes = GeoTiff.encode(w, h, cells, originX = 1000.5, originY = -200.25,
      cellW = 30.0, cellH = 30.0)
    val r = GeoTiff.decode(bytes)
    assert(r.meta.width == w && r.meta.height == h)
    assert(r.meta.bits == 64 && r.meta.sampleFormat == 3 && r.meta.samplesPerPixel == 1)
    assert(r.meta.originX == 1000.5 && r.meta.originY == -200.25)
    assert(r.meta.cellW == 30.0 && r.meta.cellH == 30.0)
    assert(r.cells.map(java.lang.Double.doubleToLongBits).toSeq ==
      cells.map(java.lang.Double.doubleToLongBits).toSeq)
    // and a full read -> write -> read cycle on the reference raster
    val orig = readSample()
    val back = GeoTiff.decode(GeoTiff.encode(orig.meta.width, orig.meta.height, orig.cells,
      orig.meta.originX, orig.meta.originY, orig.meta.cellW, orig.meta.cellH))
    assert(back.cells.map(java.lang.Double.doubleToLongBits).toSeq ==
      orig.cells.map(java.lang.Double.doubleToLongBits).toSeq)
    assert(back.meta.originX == orig.meta.originX && back.meta.cellW == orig.meta.cellW)
  }

  test("GeoKeyDirectory: CRS survives encode -> decode, geographic and projected") {
    val cells = Array.tabulate(6)(_.toDouble)
    // default: EPSG:4326 geographic
    val r4326 = GeoTiff.decode(GeoTiff.encode(3, 2, cells))
    assert(r4326.meta.epsg.contains(4326), s"expected 4326, got ${r4326.meta.epsg}")
    // projected: web mercator + a UTM zone round-trip through the key
    assert(GeoTiff.decode(GeoTiff.encode(3, 2, cells, epsg = 3857)).meta.epsg.contains(3857))
    assert(GeoTiff.decode(GeoTiff.encode(3, 2, cells, epsg = 32633)).meta.epsg.contains(32633))
  }

  test("GeoKeyDirectory: ProjectedCSType wins over the datum's GeographicType") {
    // libgeotiff/GDAL write BOTH keys for projected files (2048 = the
    // underlying geographic datum, 3072 = the projected CRS), sorted by
    // key id — the projected key must win. Hand-build such a file.
    val w = 2; val h = 2
    val geoKeys = Array(1, 1, 0, 3, 1024, 0, 1, 1, 2048, 0, 1, 4326, 3072, 0, 1, 32633)
    val entries = 10
    val geoOff = 8 + 2 + entries * 12 + 4
    val dataOff = geoOff + geoKeys.length * 2
    val bb = java.nio.ByteBuffer.allocate(dataOff + w * h * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8).putShort(entries.toShort)
    def entry(tag: Int, typ: Int, cnt: Int, v: Long): Unit = {
      bb.putShort(tag.toShort); bb.putShort(typ.toShort); bb.putInt(cnt); bb.putInt(v.toInt): Unit
    }
    entry(256, 3, 1, w); entry(257, 3, 1, h); entry(258, 3, 1, 64); entry(259, 3, 1, 1)
    entry(273, 4, 1, dataOff); entry(277, 3, 1, 1); entry(278, 3, 1, h)
    entry(279, 4, 1, w * h * 8); entry(339, 3, 1, 3); entry(34735, 3, geoKeys.length, geoOff)
    bb.putInt(0) // next IFD
    geoKeys.foreach(k => bb.putShort(k.toShort))
    for (i <- 0 until w * h) bb.putDouble(i.toDouble)
    val r = GeoTiff.decode(bb.array())
    assert(r.meta.epsg.contains(32633), s"projected key must win: ${r.meta.epsg}")
  }

  test("multiband encode -> decode round-trips interleaved bands exactly") {
    val w = 5; val h = 3
    def mk(seed: Int) = Array.tabulate(w * h)(i =>
      if ((i + seed) % 7 == 2) Double.NaN else seed * 100.0 + i)
    for (n <- Seq(2, 3, 4)) { // 2 = inline SHORT path, >2 = external arrays
      val bands = (0 until n).map(mk)
      val bytes = GeoTiff.encodeMultiband(w, h, bands,
        originX = 12.5, originY = -7.25, cellW = 2.0, cellH = 2.0, epsg = 32633)
      val r = GeoTiff.decode(bytes)
      assert(r.meta.samplesPerPixel == n && r.meta.width == w && r.meta.height == h)
      assert(r.meta.originX == 12.5 && r.meta.cellW == 2.0)
      assert(r.meta.epsg.contains(32633))
      for (b <- 0 until n)
        assert(GeoTiff.band(r, b).map(java.lang.Double.doubleToLongBits).toSeq ==
          bands(b).map(java.lang.Double.doubleToLongBits).toSeq, s"band $b of $n")
    }
  }

  test("multiband tiled + stitched export from the zipped representation") {
    import spark.implicits._
    val ts = 4
    def layer(off: Double) = graft.ops.Raster.assemble(
      (for (tc <- 0 to 1; tr <- 0 to 0; px <- 0 until ts; py <- 0 until ts)
        yield (tc, tr, px, py, off + tc * 100 + px + py)).toDF("tile_col", "tile_row", "px", "py", "v"),
      ts, ts)
    val zipped = graft.ops.Raster.zipBands(
      graft.ops.Raster.stackBands(Seq(layer(0), layer(1000))), 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_mb").toString
    graft.ops.Export.exportTiledGeoTiffMultiband(zipped, s"$dir/tiled", ts, ts,
      originX = 0.0, originY = 0.0, cellW = 1.0, cellH = 1.0, epsg = 3857)
    val t1 = GeoTiff.read(s"$dir/tiled/tile_1_0.tif")
    assert(t1.meta.samplesPerPixel == 2 && t1.meta.epsg.contains(3857))
    assert(GeoTiff.band(t1, 0)(1 + 2 * ts) == 100.0 + 3) // px=1, py=2
    assert(GeoTiff.band(t1, 1)(1 + 2 * ts) == 1100.0 + 3)
    graft.ops.Export.stitchGeoTiffMultiband(zipped, ts, ts, s"$dir/all.tif")
    val all = GeoTiff.read(s"$dir/all.tif")
    assert(all.meta.width == 2 * ts && all.meta.height == ts && all.meta.samplesPerPixel == 2)
    assert(GeoTiff.band(all, 1)((ts + 1) + 2 * 2 * ts) == 1100.0 + 3) // tile 1, px=1, py=2
  }

  test("cluster-safe export: tasks create the (nested) output dirs themselves") {
    import spark.implicits._
    val ts = 4
    val tiles = graft.ops.Raster.assemble(
      (for (px <- 0 until ts; py <- 0 until ts)
        yield (0, 0, px, py, 1.0 * px)).toDF("tile_col", "tile_row", "px", "py", "v"), ts, ts)
    // a nested path nobody pre-created: the write must succeed anyway
    val dir = java.nio.file.Files.createTempDirectory("graft_fresh").toString + "/a/b/c"
    graft.ops.Export.exportTiledGeoTiff(tiles, dir, ts, ts)
    assert(GeoTiff.read(s"$dir/tile_0_0.tif").cells(1) == 1.0)
  }

  test("tiled GeoTiff export: executor-written per-tile files round-trip with per-key georef") {
    import spark.implicits._
    val ts = 4
    val pixels = (for (tc <- 0 to 1; tr <- 0 to 1; px <- 0 until ts; py <- 0 until ts)
      yield (tc, tr, px, py, (tc * 100 + tr * 10 + px + py).toDouble))
      .toDF("tile_col", "tile_row", "px", "py", "v")
    val tiles = graft.ops.Raster.assemble(pixels, ts, ts)
    val dir = java.nio.file.Files.createTempDirectory("graft_tif_export").toString
    graft.ops.Export.exportTiledGeoTiff(tiles, dir, ts, ts,
      originX = 500.0, originY = 800.0, cellW = 10.0, cellH = 10.0)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tif"))
    assert(files.length == 4)
    val r11 = GeoTiff.read(s"$dir/tile_1_1.tif")
    assert(r11.meta.originX == 500.0 + ts * 10.0 && r11.meta.originY == 800.0 - ts * 10.0)
    assert(r11.cells(1 + 2 * ts) == 110.0 + 3) // px=1, py=2
    // stitched single-file export reads back as one mosaic
    val stitched = java.nio.file.Files.createTempDirectory("graft_tif_stitch").toString + "/all.tif"
    graft.ops.Export.stitchGeoTiff(tiles, ts, ts, stitched)
    val all = GeoTiff.read(stitched)
    assert(all.meta.width == 2 * ts && all.meta.height == 2 * ts)
    assert(all.cells((ts + 1) + (ts + 2) * 2 * ts) == 110.0 + 3) // tile(1,1) px=1 py=2
  }

  test("distributed multi-scene ingest decodes in executor tasks and mosaics on the global grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scenes").toString
    val ts = 8
    // three 8x8 scenes side by side on a 1.0-cell grid (origins 0, 8, 16)
    for (s <- 0 until 3)
      writeTif(s"$dir/scene_$s.tif", 8, 8, s * 8.0, 0.0, 1.0,
        (x, y) => if ((x + y) % 5 == 0) Double.NaN else s * 100.0 + x + y)
    val inTask = spark.sparkContext.longAccumulator("decodedInTasks")
    // wrap: prove decode ran inside tasks by counting task contexts on
    // the executor side of the flatMap (driver-side would see none)
    val px = GeoTiff.readDistributed(spark, s"$dir/*.tif", ts)
      .as[GeoTiff.ScenePixel]
      .mapPartitions { it =>
        if (org.apache.spark.TaskContext.get() != null && it.hasNext) inTask.add(1)
        it
      }
      .toDF()
    val got = px.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    assert(inTask.value > 0, "decode must run in executor tasks")
    // scene 0 pixel (1,0) -> tile (0,0) px (1,0)
    assert(got((0, 0, 1, 0)) == 1.0)
    // scene 2 pixel (3,3) -> global gx=19 -> tile 2, px 3
    assert(got((2, 0, 3, 3)) == 206.0)
    // NaN holes dropped: per scene 64 - 13 = 51 data cells... compute exact
    val expectPerScene = (for (x <- 0 until 8; y <- 0 until 8 if (x + y) % 5 != 0) yield 1).size
    assert(got.size == 3 * expectPerScene)
    // full path: assemble into a layer and round-trip through the catalog
    val tiles = graft.ops.Raster.assemble(px, ts, ts)
    assert(tiles.count() == 3)
  }

  test("ingest lifecycle §3.1: tif -> pixels -> tiles -> catalog -> histogram") {
    import spark.implicits._
    val ts = 64
    val raster = readSample()
    val px = GeoTiff.toPixels(spark, raster, ts)
    val tiles = graft.ops.Raster.assemble(px, ts, ts)
    val root = java.nio.file.Files.createTempDirectory("graft_tif").toString
    val store = new graft.catalog.LayerStore(spark, root)
    store.write(tiles, "rast", 0)
    val back = store.read("rast", 0)
    assert(graft.ops.Raster.pixelize(back, ts).count() == px.count())
    val stats = graft.ops.Histograms.statistics(back, ts).head()
    val cells = raster.cells.filter(v => !java.lang.Double.isNaN(v))
    assert(stats.getAs[Long]("n_cells") == cells.length)
    assert(math.abs(stats.getAs[Double]("mean_v") - cells.sum / cells.length) < 1e-6)
  }

  test("pyramid overviews: chained IFDs decode per level, full-res unchanged") {
    // 8x6 raster with a NaN hole; values = 10*y + x (integral, exact means)
    val w = 8; val h = 6
    val cells = Array.tabulate(w * h)(i => (10.0 * (i / w) + (i % w)))
    cells(3) = Double.NaN // (x=3, y=0)
    val bytes = GeoTiff.encodePyramid(w, h, cells, levels = 2,
      originX = 100.0, originY = 200.0, cellW = 0.5, cellH = 0.5, epsg = 3857)
    assert(GeoTiff.ifdOffsets(bytes).length == 3)

    // level 0 == plain decode == the original cells (NaN preserved)
    val l0 = GeoTiff.decode(bytes)
    assert(l0.meta.width == w && l0.meta.height == h)
    assert(l0.cells.zip(cells).forall { case (a, b) =>
      (a.isNaN && b.isNaN) || a == b })
    assert(l0.meta.cellW == 0.5 && l0.meta.cellH == 0.5)
    assert(l0.meta.epsg.contains(3857))

    // level 1: 4x3, 2x2 NaN-skipping means, pixel scale doubled
    val l1 = GeoTiff.decodeLevel(bytes, 1)
    assert(l1.meta.width == 4 && l1.meta.height == 3)
    // block (x=0,y=0): cells (0,1,10,11) -> 5.5
    assert(l1.cells(0) == 5.5)
    // block (x=1,y=0): cells (2,NaN,12,13) -> mean of 3 = 9.0
    assert(l1.cells(1) == 9.0)
    assert(l1.meta.cellW == 1.0 && l1.meta.cellH == 1.0)
    assert(l1.meta.epsg.contains(3857))

    // level 2: 2x2; top-left = mean of l1 blocks... recompute directly
    val l2 = GeoTiff.decodeLevel(bytes, 2)
    assert(l2.meta.width == 2 && l2.meta.height == 2)
    val (w1, h1, c1) = GeoTiff.downsample2x(w, h, cells)
    val (_, _, c2) = GeoTiff.downsample2x(w1, h1, c1)
    assert(l2.cells.sameElements(c2))
    assert(l2.meta.cellW == 2.0 && l2.meta.cellH == 2.0)
  }

  test("pyramid overviews: single-IFD encode is byte-identical to the pre-pyramid layout") {
    val cells = Array.tabulate(12)(_.toDouble)
    // levels = 0 must equal the plain encoder (same segment builder)
    assert(GeoTiff.encodePyramid(4, 3, cells, 0).sameElements(GeoTiff.encode(4, 3, cells)))
  }

  test("stitched export with COG overviews: overview IFDs serve the zoomed-out view") {
    import spark.implicits._
    import graft.ops.{Raster => R, Export}
    val TS = 8
    val px = (for (tc <- 0 to 1; tr <- 0 to 0; x <- 0 until TS; y <- 0 until TS)
      yield (tc, tr, x, y, (tc * TS + x + y).toDouble)).toDF("tile_col", "tile_row", "px", "py", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_cog").toString
    Export.stitchGeoTiff(R.assemble(px, TS, TS), TS, TS, s"$dir/cog.tif", overviews = 1)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/cog.tif"))
    assert(GeoTiff.ifdOffsets(bytes).length == 2)
    val full = GeoTiff.decode(bytes)
    assert(full.meta.width == 16 && full.meta.height == 8)
    val ov = GeoTiff.decodeLevel(bytes, 1)
    assert(ov.meta.width == 8 && ov.meta.height == 4)
    // overview cell (0,0) = mean of full cells (0,0),(1,0),(0,1),(1,1) = (0+1+1+2)/4
    assert(ov.cells(0) == 1.0)
  }

  test("Deflate WRITE: compressed single-IFD and pyramid round-trip, strips shrink") {
    val w = 64; val h = 48
    val cells = Array.tabulate(w * h)(i => ((i % 7) * 3).toDouble) // compressible
    cells(5) = Double.NaN
    val plain = GeoTiff.encodeMultiband(w, h, Seq(cells))
    val packed = GeoTiff.encodeMultiband(w, h, Seq(cells), deflate = true)
    assert(packed.length < plain.length / 2, s"deflate ${packed.length} vs ${plain.length}")
    val r = GeoTiff.decode(packed)
    assert(r.meta.width == w && r.meta.height == h)
    assert(r.cells.zip(cells).forall { case (a, b) => (a.isNaN && b.isNaN) || a == b })

    val pyr = GeoTiff.encodePyramid(w, h, cells, levels = 2, deflate = true)
    assert(GeoTiff.ifdOffsets(pyr).length == 3)
    val l0 = GeoTiff.decode(pyr)
    assert(l0.cells.zip(cells).forall { case (a, b) => (a.isNaN && b.isNaN) || a == b })
    val (w1, h1, c1) = GeoTiff.downsample2x(w, h, cells)
    assert(GeoTiff.decodeLevel(pyr, 1).cells.sameElements(c1))
    assert(w1 == 32 && h1 == 24)
  }
}
