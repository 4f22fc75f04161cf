package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing (builder brief): media ride through the
  * engine as opaque `binary` columns with typed metadata; decode /
  * feature-extract run as batched per-partition transforms.
  *
  * Header decode is REAL byte arithmetic against the public format specs:
  * PNG signature + IHDR (big-endian dims), JPEG segment walk to SOF
  * (big-endian dims, fill-byte tolerant), BMP BITMAPINFOHEADER
  * (little-endian, negative height = top-down), GIF logical screen
  * descriptor (little-endian). No codec library is needed for metadata —
  * only pixel decode would need one, and the container ships none, so the
  * per-item `feature` embedding remains a clearly-marked deterministic
  * placeholder (a rolling byte hash standing in for a vision encoder).
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** Typed decode result — format/width/height/magic are genuinely parsed
    * from the payload bytes; `feature` is the placeholder embedding.
    * width/height are -1 when the format is unknown or the header is
    * truncated; magic is the leading byte (-1 for empty payloads).
    */
  final case class MediaMeta(
      id: Long,
      nBytes: Int,
      format: String,
      width: Int,
      height: Int,
      magic: Int,
      feature: Array[Float])

  // ---------------------------------------------------------------- sniff

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  private def startsWith(b: Array[Byte], sig: Array[Int]): Boolean =
    b.length >= sig.length && {
      var i = 0
      while (i < sig.length && (b(i) & 0xff) == sig(i)) i += 1
      i == sig.length
    }

  /** Magic-byte format sniff (prefix-only, mirrored exactly by the DuckDB
    * oracle's hex-slice CASE): png / jpeg / bmp / gif / tiff / unknown.
    */
  def sniffFormat(b: Array[Byte]): String =
    if (startsWith(b, PngSig)) "png"
    else if (startsWith(b, Array(0xff, 0xd8))) "jpeg"
    else if (startsWith(b, Array(0x42, 0x4d))) "bmp"
    else if (startsWith(b, Array(0x47, 0x49, 0x46, 0x38, 0x37, 0x61)) ||
      startsWith(b, Array(0x47, 0x49, 0x46, 0x38, 0x39, 0x61))) "gif"
    else if (startsWith(b, Array(0x49, 0x49, 0x2a, 0x00)) ||
      startsWith(b, Array(0x4d, 0x4d, 0x00, 0x2a))) "tiff"
    else "unknown"

  // ------------------------------------------------------- byte accessors

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def beU16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def beU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leI32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  // ------------------------------------------------------ dimension parse

  /** PNG: 8-byte signature, then the IHDR chunk (4-byte length, "IHDR",
    * width/height as big-endian u32 at offsets 16/20).
    */
  private def pngDims(b: Array[Byte]): (Int, Int) =
    if (b.length < 24 || !(u8(b, 12) == 'I' && u8(b, 13) == 'H' &&
      u8(b, 14) == 'D' && u8(b, 15) == 'R')) (-1, -1)
    else {
      val w = beU32(b, 16); val h = beU32(b, 20)
      if (w > Int.MaxValue || h > Int.MaxValue) (-1, -1)
      else (w.toInt, h.toInt)
    }

  /** JPEG: walk marker segments from SOI until a start-of-frame marker
    * (C0–CF except C4/C8/CC); height/width are big-endian u16 at SOF
    * payload offsets 3/5. Fill bytes (repeated FF) before a marker and
    * standalone markers (RST0–7, TEM) are skipped per the spec.
    */
  private def jpegDims(b: Array[Byte]): (Int, Int) = {
    val n = b.length
    var i = 2
    while (i + 1 < n) {
      if (u8(b, i) != 0xff) return (-1, -1) // lost marker sync
      var j = i
      while (j < n && u8(b, j) == 0xff) j += 1 // fill bytes
      if (j >= n) return (-1, -1)
      val marker = b(j) & 0xff
      val isSof = marker >= 0xc0 && marker <= 0xcf &&
        marker != 0xc4 && marker != 0xc8 && marker != 0xcc
      if (isSof) {
        return if (j + 7 < n) (beU16(b, j + 6), beU16(b, j + 4)) else (-1, -1)
      } else if (marker == 0xd9) return (-1, -1) // EOI before any SOF
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i = j + 1
      else {
        if (j + 2 >= n) return (-1, -1)
        val len = beU16(b, j + 1)
        if (len < 2) return (-1, -1)
        i = j + 1 + len
      }
    }
    (-1, -1)
  }

  /** BMP: dispatch on the DIB header size at offset 14. The legacy
    * 12-byte BITMAPCOREHEADER carries u16 dims at offsets 18/20;
    * BITMAPINFOHEADER and its extensions (size >= 40) carry i32 dims at
    * offsets 18/22, where a negative height means top-down row order —
    * magnitude is the height. Unknown DIB sizes and non-positive widths
    * are rejected as (-1, -1) rather than returned as garbage.
    */
  private def bmpDims(b: Array[Byte]): (Int, Int) = {
    if (b.length < 22) return (-1, -1)
    val dibSize = leI32(b, 14)
    val (w, h) =
      if (dibSize == 12) (leU16(b, 18), leU16(b, 20))
      else if (dibSize >= 40 && b.length >= 26)
        (leI32(b, 18), math.abs(leI32(b, 22)))
      else return (-1, -1)
    // h == 0 (a zero-area image) is as undecodable as a negative width;
    // abs(Int.MinValue) is still negative, so the h check also catches it
    if (w <= 0 || h <= 0) (-1, -1) else (w, h)
  }

  /** GIF: logical screen descriptor little-endian u16 dims at offsets 6/8. */
  private def gifDims(b: Array[Byte]): (Int, Int) =
    if (b.length < 10) (-1, -1) else (leU16(b, 6), leU16(b, 8))

  /** TIFF: the one genuinely DUAL-endian format — byte order from the
    * `II`/`MM` magic, then the u32 offset of the first IFD, whose 12-byte
    * entries carry ImageWidth (tag 256) and ImageLength (tag 257) as
    * SHORT (type 3, first two value bytes) or LONG (type 4). Missing
    * tags, unsupported value types, or any structure running off the
    * buffer fail cleanly as (-1, -1).
    */
  private def tiffDims(b: Array[Byte]): (Int, Int) = {
    if (b.length < 8) return (-1, -1)
    val be = u8(b, 0) == 0x4d
    def rd16(i: Int): Int = if (be) beU16(b, i) else leU16(b, i)
    def rd32(i: Int): Long =
      if (be) beU32(b, i) else leI32(b, i).toLong & 0xFFFFFFFFL
    val ifd = rd32(4)
    if (ifd < 8 || ifd + 2 > b.length) return (-1, -1)
    val off = ifd.toInt
    val n = rd16(off)
    var w = -1L
    var h = -1L
    var e = 0
    while (e < n) {
      val p = off + 2 + e * 12
      if (p + 12 > b.length) return (-1, -1)
      val tag = rd16(p)
      val value: Long = rd16(p + 2) match {
        case 3 => rd16(p + 8).toLong // SHORT: first 2 value bytes
        case 4 => rd32(p + 8) // LONG
        case _ => -1L
      }
      if (tag == 256) w = value else if (tag == 257) h = value
      e += 1
    }
    if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
      (w.toInt, h.toInt)
    else (-1, -1)
  }

  /** (width, height) parsed from real header bytes; (-1, -1) for unknown
    * formats or truncated headers.
    */
  def parseDims(format: String, b: Array[Byte]): (Int, Int) = format match {
    case "png"  => pngDims(b)
    case "jpeg" => jpegDims(b)
    case "bmp"  => bmpDims(b)
    case "gif"  => gifDims(b)
    case "tiff" => tiffDims(b)
    case _      => (-1, -1)
  }

  /** Fallback embedding for payloads the engine cannot pixel-decode
    * (compressed formats, truncated data): a deterministic rolling byte
    * hash. Decodable 24-bit BMPs get the REAL pixel-statistics vector —
    * see [[featureOf]].
    */
  def byteHashFeature(bytes: Array[Byte]): Array[Float] = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + (bytes(i) & 0xff); i += 1 }
    Array.tabulate(8)(k => (((h >>> (k * 8)) & 0xff).toFloat / 255f))
  }

  /** Per-image pixel statistics — the REAL embedding's integer witnesses
    * plus the derived 8-dim vector. Every field is a pure function of the
    * decoded RGB bytes:
    *   - sumR/sumG/sumB: exact per-channel byte sums;
    *   - hist(k): count of pixels whose integer luma
    *     `(299·r + 587·g + 114·b) / 1000` (floor) falls in bin
    *     `luma · 5 / 256` (floor) — five bins, 0..4;
    *   - emb = [meanR, meanG, meanB, hist₀/n … hist₄/n] with channel
    *     means normalized by 255 so every component lies in [0, 1].
    * All divisions are IEEE doubles of exact integers, so a SQL oracle
    * replaying the same integer arithmetic reproduces the vector bit-for-
    * bit (before any rounding).
    */
  final case class PixelStats(
      id: Long,
      width: Int,
      height: Int,
      nPx: Long,
      sumR: Long,
      sumG: Long,
      sumB: Long,
      hist: Array[Long],
      domC: Int,
      domB: Int,
      emb: Array[Double])

  def pixelStats(id: Long, img: BmpImage): PixelStats = {
    val n = img.width.toLong * img.height
    var sr = 0L; var sg = 0L; var sb = 0L
    val hist = new Array[Long](5)
    var i = 0
    while (i < img.rgb.length) {
      val r = img.rgb(i) & 0xff
      val g = img.rgb(i + 1) & 0xff
      val b = img.rgb(i + 2) & 0xff
      sr += r; sg += g; sb += b
      val lum = (299 * r + 587 * g + 114 * b) / 1000
      hist(lum * 5 / 256) += 1
      i += 3
    }
    // dominant channel / luma bin: first index attaining the max (exact
    // integer comparisons — the near-dup blocking key must tie-break
    // identically in the SQL twin)
    val domC = if (sr >= sg && sr >= sb) 0 else if (sg >= sb) 1 else 2
    var domB = 0
    var k = 1
    while (k < 5) { if (hist(k) > hist(domB)) domB = k; k += 1 }
    val nd = n.toDouble
    val emb = Array(
      sr / (255.0 * n), sg / (255.0 * n), sb / (255.0 * n),
      hist(0) / nd, hist(1) / nd, hist(2) / nd, hist(3) / nd, hist(4) / nd)
    PixelStats(id, img.width, img.height, n, sr, sg, sb, hist, domC, domB, emb)
  }

  /** The REAL embedding: decodable 24-bit BMPs get the deterministic
    * pixel-statistics vector of [[pixelStats]] (computed from the REAL
    * decoded pixels); payloads the byte-level codec cannot decode fall
    * back to [[byteHashFeature]]. The vision-encoder placeholder of
    * rounds 1–6 is gone for every format the engine can decode.
    */
  def featureOf(bytes: Array[Byte]): Array[Float] =
    decodeBmpPixels(bytes) match {
      case Some(img) => pixelStats(0L, img).emb.map(_.toFloat)
      case None      => byteHashFeature(bytes)
    }

  /** Real header decode: sniff the format from magic bytes, parse the
    * dimensions from the header, record the leading byte. Replaces the
    * round-1..4 deterministic-fake `decodeStub`.
    */
  def decode(id: Long, bytes: Array[Byte]): MediaMeta = {
    val fmt = sniffFormat(bytes)
    val (w, h) = parseDims(fmt, bytes)
    val magic = if (bytes.length > 0) bytes(0) & 0xff else -1
    MediaMeta(id, bytes.length, fmt, w, h, magic, featureOf(bytes))
  }

  // ------------------------------------------------------ header builders

  /** Minimal REAL 33-byte PNG header stream: signature + IHDR chunk
    * (8-bit RGBA, real CRC32 over type+data). Parsers that check the
    * chunk CRC accept it.
    */
  def pngBytes(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(33)
    PngSig.foreach(out.write)
    val chunk = new java.io.ByteArrayOutputStream(17)
    "IHDR".foreach(c => chunk.write(c))
    Seq(w, h).foreach { v =>
      chunk.write((v >>> 24) & 0xff); chunk.write((v >>> 16) & 0xff)
      chunk.write((v >>> 8) & 0xff); chunk.write(v & 0xff)
    }
    Seq(8, 6, 0, 0, 0).foreach(chunk.write) // depth, RGBA, deflate, none, none
    val body = chunk.toByteArray
    Seq(0, 0, 0, 13).foreach(out.write) // IHDR data length
    out.write(body)
    val crc = new java.util.zip.CRC32
    crc.update(body)
    val c = crc.getValue
    Seq(24, 16, 8, 0).foreach(s => out.write(((c >>> s) & 0xff).toInt))
    out.toByteArray
  }

  /** Minimal REAL 50-byte JPEG: SOI + JFIF APP0 + a COM segment (so the
    * parser's segment walk is exercised) + baseline SOF0 + EOI.
    */
  def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(50)
    def bytes(vs: Int*): Unit = vs.foreach(out.write)
    bytes(0xff, 0xd8) // SOI
    bytes(0xff, 0xe0, 0x00, 0x10) // APP0, len 16
    "JFIF".foreach(c => out.write(c))
    bytes(0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00)
    bytes(0xff, 0xfe, 0x00, 0x07) // COM, len 7
    "graft".foreach(c => out.write(c))
    bytes(0xff, 0xc0, 0x00, 0x11, 0x08) // SOF0, len 17, precision 8
    bytes((h >>> 8) & 0xff, h & 0xff, (w >>> 8) & 0xff, w & 0xff)
    bytes(0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    bytes(0xff, 0xd9) // EOI
    out.toByteArray
  }

  /** Minimal REAL 54-byte BMP: BITMAPFILEHEADER + BITMAPINFOHEADER
    * (24-bit, bottom-up), no pixel data.
    */
  def bmpBytes(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(54)
    def le32(v: Int): Unit = Seq(0, 8, 16, 24).foreach(s => out.write((v >>> s) & 0xff))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    out.write('B'); out.write('M')
    le32(54); le32(0); le32(54) // file size, reserved, pixel offset
    le32(40); le32(w); le32(h) // info header size, width, height
    le16(1); le16(24) // planes, bpp
    (0 until 6).foreach(_ => le32(0)) // compression..importantColors
    out.toByteArray
  }

  /** Minimal REAL 26-byte legacy BMP: BITMAPFILEHEADER + 12-byte
    * BITMAPCOREHEADER (u16 dims), no pixel data.
    */
  def bmpCoreBytes(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(26)
    def le32(v: Int): Unit = Seq(0, 8, 16, 24).foreach(s => out.write((v >>> s) & 0xff))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    out.write('B'); out.write('M')
    le32(26); le32(0); le32(26) // file size, reserved, pixel offset
    le32(12) // core header size
    le16(w); le16(h); le16(1); le16(24) // width, height, planes, bpp
    out.toByteArray
  }

  /** Full REAL 24-bit BMP with pixel data: BITMAPFILEHEADER +
    * BITMAPINFOHEADER + bottom-up BGR rows padded to 4-byte stride.
    * `px(x, y)` supplies (r, g, b) for the TOP-DOWN logical pixel grid.
    */
  def bmpPixelBytes(w: Int, h: Int,
      px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = (3 * w + 3) / 4 * 4
    val size = 54 + stride * h
    val out = new java.io.ByteArrayOutputStream(size)
    def le32(v: Int): Unit = Seq(0, 8, 16, 24).foreach(s => out.write((v >>> s) & 0xff))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    out.write('B'); out.write('M')
    le32(size); le32(0); le32(54)
    le32(40); le32(w); le32(h)
    le16(1); le16(24)
    le32(0); le32(stride * h) // BI_RGB, image size
    (0 until 4).foreach(_ => le32(0))
    var y = h - 1 // bottom-up row order
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        out.write(b & 0xff); out.write(g & 0xff); out.write(r & 0xff)
        x += 1
      }
      var pad = stride - 3 * w
      while (pad > 0) { out.write(0); pad -= 1 }
      y -= 1
    }
    out.toByteArray
  }

  /** Decoded uncompressed BMP: `rgb` is row-major TOP-DOWN, 3 bytes per
    * pixel (r, g, b) — row order already normalized from the file's
    * bottom-up (positive height) or top-down (negative height) layout.
    */
  final case class BmpImage(width: Int, height: Int, rgb: Array[Byte])

  /** Decode guard: no legitimate payload here exceeds 64k on a side, and
    * the cap keeps every stride/size product inside exact Int range —
    * crafted headers with huge declared dims must fail CLEANLY (None),
    * not overflow the bounds check into an out-of-range read.
    */
  private val MaxDecodeDim = 65535

  /** REAL pixel decode for uncompressed 24-bit BMPs (BI_RGB, INFO or
    * CORE DIB header). Pure byte arithmetic — no codec library. Returns
    * None for other formats/bit depths/compressions or truncated data.
    */
  def decodeBmpPixels(b: Array[Byte]): Option[BmpImage] = {
    if (b.length < 26 || !(b(0) == 'B' && b(1) == 'M')) return None
    val pixOff = leI32(b, 10)
    val dibSize = leI32(b, 14)
    val (w, rawH, bpp, compression) =
      if (dibSize == 12) (leU16(b, 18), leU16(b, 20), leU16(b, 24), 0)
      else if (dibSize >= 40 && b.length >= 34)
        (leI32(b, 18), leI32(b, 22), leU16(b, 28), leI32(b, 30))
      else return None
    // all-Long validation BEFORE any Int arithmetic: w, |rawH| bounded so
    // stride·h and 3·w·h below stay exact (rawH may be Int.MinValue,
    // whose math.abs is still negative — compare via Long)
    val hL = math.abs(rawH.toLong)
    if (w <= 0 || w > MaxDecodeDim || hL == 0L || hL > MaxDecodeDim ||
      bpp != 24 || compression != 0) return None
    val h = hL.toInt
    val topDown = rawH < 0
    val stride = (3 * w + 3) / 4 * 4
    if (pixOff < 0 || pixOff.toLong + stride.toLong * h > b.length ||
      3L * w * h > Int.MaxValue) return None
    val rgb = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val base = pixOff + srcRow * stride
      var x = 0
      while (x < w) {
        rgb(3 * (y * w + x)) = b(base + 3 * x + 2) // r (file stores BGR)
        rgb(3 * (y * w + x) + 1) = b(base + 3 * x + 1) // g
        rgb(3 * (y * w + x) + 2) = b(base + 3 * x) // b
        x += 1
      }
      y += 1
    }
    Some(BmpImage(w, h, rgb))
  }

  /** REAL nearest-neighbor resize of an uncompressed 24-bit BMP,
    * re-encoded as BMP bytes. Target dims scale the LONGEST side to
    * `box` exactly (integer arithmetic: w2 = max(1, w·box / max(w,h)),
    * src = (dst · src_dim) / dst_dim — floor maps, no floating point, so
    * an oracle can predict every output pixel). None when the payload
    * isn't a decodable 24-bit BMP.
    */
  def resizeBmp(bytes: Array[Byte], box: Int): Option[Array[Byte]] =
    decodeBmpPixels(bytes).map(resizeImage(_, box))

  /** The resample+re-encode half of [[resizeBmp]], for callers that
    * already hold the decoded image (one decode, not two, per pipeline
    * row).
    */
  def resizeImage(img: BmpImage, box: Int): Array[Byte] = {
    val m = math.max(img.width, img.height)
    val w2 = math.max(1, img.width * box / m)
    val h2 = math.max(1, img.height * box / m)
    bmpPixelBytes(w2, h2, (x2, y2) => {
      val sx = x2 * img.width / w2
      val sy = y2 * img.height / h2
      val i = 3 * (sy * img.width + sx)
      (img.rgb(i) & 0xff, img.rgb(i + 1) & 0xff, img.rgb(i + 2) & 0xff)
    })
  }

  /** Minimal REAL 14-byte GIF89a: header + logical screen descriptor +
    * trailer.
    */
  def gifBytes(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(14)
    "GIF89a".foreach(c => out.write(c))
    Seq(w & 0xff, (w >>> 8) & 0xff, h & 0xff, (h >>> 8) & 0xff).foreach(out.write)
    Seq(0x00, 0x00, 0x00, 0x3b).foreach(out.write)
    out.toByteArray
  }

  /** Minimal REAL 38-byte TIFF in either byte order: II/MM magic + 42,
    * IFD at offset 8 with exactly ImageWidth (LONG) and ImageLength
    * (SHORT — so both value encodings are exercised), zero next-IFD.
    */
  def tiffBytes(w: Int, h: Int, bigEndian: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && h <= 0xFFFF)
    val out = new java.io.ByteArrayOutputStream(38)
    def w16(v: Int): Unit =
      if (bigEndian) { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit =
      if (bigEndian) { w16(((v >> 16) & 0xFFFF).toInt); w16((v & 0xFFFF).toInt) }
      else { w16((v & 0xFFFF).toInt); w16(((v >> 16) & 0xFFFF).toInt) }
    if (bigEndian) { out.write(0x4d); out.write(0x4d) }
    else { out.write(0x49); out.write(0x49) }
    w16(42)
    w32(8L) // first IFD right after the header
    w16(2) // entry count
    w16(256); w16(4); w32(1L); w32(w.toLong) // ImageWidth as LONG
    // ImageLength as SHORT: value sits in the FIRST two value bytes,
    // remaining two are padding per the spec
    w16(257); w16(3); w32(1L); w16(h); w16(0)
    w32(0L) // no next IFD
    out.toByteArray
  }

  // ------------------------------------------------------------ pipelines

  /** The batched decode pipeline: binary column in, typed struct out.
    * mapPartitions so a real codec initializes once per partition (the
    * expensive part) and streams rows through — the Scala analogue of a
    * pandas-batched UDF. Partitioning of the input is preserved; at scale
    * repartition upstream by storage locality, not here.
    */
  def decodeAll(media: DataFrame, spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col("id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real pixel codec would init its decoder context here, once
        it.map { case (id, bytes) => decode(id, bytes) }
      }
  }

  /** Typed per-frame decode result (video frame-sampling schema); `head`
    * is the first payload byte of the frame (-1 when empty) — the cheap
    * alignment witness the census oracle predicts arithmetically.
    */
  final case class FrameMeta(
      id: Long,
      frameIdx: Int,
      nBytes: Int,
      head: Int,
      feature: Array[Float])

  /** Fallback record layout for NON-container byte streams (fixed-size
    * chunking) and the sampling stride shared by both demux paths.
    */
  val FrameSize = 256
  val FrameEvery = 4

  // ----------------------------------------------------------- Y4M demux

  /** Parsed YUV4MPEG2 stream header: dims, colorspace, the exact byte
    * size of one planar frame payload, and the header-line length
    * (offset of the first FRAME marker).
    */
  final case class Y4mInfo(
      width: Int,
      height: Int,
      colorspace: String,
      frameBytes: Int,
      headerLen: Int)

  /** Bytes per planar frame for the layouts the demuxer understands —
    * public Y4M spec: C420* subsamples chroma 2×2 (needs even dims),
    * C422 2×1 (even width), C444 full, Cmono luma only.
    */
  private def y4mFrameBytes(w: Int, h: Int, cs: String): Option[Int] =
    if (cs.startsWith("C420"))
      if (w % 2 == 0 && h % 2 == 0) Some(w * h * 3 / 2) else None
    else if (cs == "C422") if (w % 2 == 0) Some(2 * w * h) else None
    else if (cs == "C444") Some(3 * w * h)
    else if (cs == "Cmono") Some(w * h)
    else None

  private val Y4mMagic = "YUV4MPEG2".getBytes("US-ASCII")
  private val FrameMark = "FRAME".getBytes("US-ASCII")

  /** REAL Y4M header parse: `YUV4MPEG2 W<w> H<h> [F/I/A/X...] [C<cs>]\n`.
    * Pure byte arithmetic against the public YUV4MPEG2 spec — no codec
    * library. Unknown colorspaces, odd dims under subsampling, missing
    * dims, over-[[MaxDecodeDim]] dims, and a header line that never
    * terminates (scan capped at 256 bytes) all fail CLEANLY as None.
    */
  def parseY4mHeader(b: Array[Byte]): Option[Y4mInfo] = {
    if (b.length < 10 || !(0 until 9).forall(i => b(i) == Y4mMagic(i)) ||
      b(9) != ' ') return None
    val cap = math.min(b.length, 256)
    var nl = 10
    while (nl < cap && b(nl) != '\n') nl += 1
    if (nl >= cap) return None
    var w = -1
    var h = -1
    var cs = "C420jpeg" // spec default when no C param is present
    new String(b, 10, nl - 10, "US-ASCII").split(' ').foreach { tok =>
      if (tok.nonEmpty) tok.charAt(0) match {
        case 'W' => w = tok.tail.toIntOption.getOrElse(-1)
        case 'H' => h = tok.tail.toIntOption.getOrElse(-1)
        case 'C' => cs = tok
        case _   => () // F (rate), I (interlace), A (aspect), X (vendor)
      }
    }
    if (w <= 0 || h <= 0 || w > MaxDecodeDim || h > MaxDecodeDim) None
    else y4mFrameBytes(w, h, cs).map(fb => Y4mInfo(w, h, cs, fb, nl + 1))
  }

  /** REAL Y4M builder twin (same role as [[bmpPixelBytes]]): header +
    * `FRAME\n`-delimited planar payloads, frame f filled with byte
    * `fill(f)` — every emitted byte predictable by arithmetic.
    */
  def y4mBytes(w: Int, h: Int, nFrames: Int, cs: String = "C420jpeg",
      fill: Int => Int = _ => 0): Array[Byte] = {
    val fb = y4mFrameBytes(w, h, cs).getOrElse(
      throw new IllegalArgumentException(s"unsupported y4m layout ${w}x$h $cs"))
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 $cs\n".getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream(
      header.length + nFrames * (6 + fb))
    out.write(header)
    var f = 0
    while (f < nFrames) {
      out.write("FRAME\n".getBytes("US-ASCII"))
      val payload = new Array[Byte](fb)
      java.util.Arrays.fill(payload, (fill(f) & 0xff).toByte)
      out.write(payload)
      f += 1
    }
    out.toByteArray
  }

  /** Walk the REAL frame boundaries of a parsed Y4M stream, emitting only
    * every `every`-th frame: at each position expect a FRAME marker,
    * optional frame parameters up to `\n`, then exactly
    * `info.frameBytes` of planar payload. Unsampled frames advance `pos`
    * WITHOUT copying a byte (stride before decode); a malformed marker or
    * truncated trailing frame ends the walk, keeping the frames already
    * demuxed — robust-ingest semantics for a 100 TB media crawl.
    */
  private def y4mSampledFrames(id: Long, b: Array[Byte], info: Y4mInfo,
      every: Int): Iterator[FrameMeta] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FrameMeta]
    var pos = info.headerLen
    var idx = 0
    var ok = true
    while (ok && pos + FrameMark.length <= b.length) {
      if (!(0 until FrameMark.length).forall(i => b(pos + i) == FrameMark(i)))
        ok = false
      else {
        var nl = pos + FrameMark.length
        val cap = math.min(b.length, nl + 256)
        while (nl < cap && b(nl) != '\n') nl += 1
        val from = nl + 1
        if (nl >= cap || from + info.frameBytes > b.length) ok = false
        else {
          if (idx % every == 0) {
            val head = if (info.frameBytes > 0) b(from) & 0xff else -1
            out += FrameMeta(id, idx, info.frameBytes, head,
              featureOf(java.util.Arrays.copyOfRange(b, from,
                from + info.frameBytes)))
          }
          idx += 1
          pos = from + info.frameBytes
        }
      }
    }
    out.iterator
  }

  /** Frame demux + sample. Y4M payloads (sniffed by the YUV4MPEG2 magic)
    * get the REAL container demux — frame boundaries from the parsed
    * header's frame size and per-frame FRAME markers; GIF payloads get
    * the REAL block walk — one frame per image descriptor, its span from
    * descriptor through the end of its LZW data sub-blocks
    * ([[gifFrameSpans]]); anything else falls back to fixed-size
    * [[FrameSize]] chunking (the honest treatment of an unknown byte
    * stream as a record sequence). All paths share the plumbing shape: a
    * row-EXPLODING mapPartitions (one media row in, many frame rows out,
    * demuxer context initialized once per partition) with the sampling
    * stride applied BEFORE any decode work — frames that aren't sampled
    * are never materialized.
    */
  def frameSample(media: DataFrame, spark: SparkSession,
      every: Int = FrameEvery): Dataset[FrameMeta] = {
    require(every > 0, s"frameSample stride must be positive, got $every")
    import spark.implicits._
    media.select(col("id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real demuxer context initializes here, once per partition
        it.flatMap { case (id, bytes) =>
          parseY4mHeader(bytes) match {
            case Some(info) => y4mSampledFrames(id, bytes, info, every)
            case None if isGif(bytes) =>
              gifFrameSpans(bytes).iterator.zipWithIndex.collect {
                case ((from, len), idx) if idx % every == 0 =>
                  FrameMeta(id, idx, len, bytes(from) & 0xff,
                    featureOf(java.util.Arrays.copyOfRange(
                      bytes, from, from + len)))
              }
            case None =>
              val nFrames = (bytes.length + FrameSize - 1) / FrameSize
              Iterator.range(0, nFrames, every).map { f =>
                val from = f * FrameSize
                val until = math.min(from + FrameSize, bytes.length)
                val fb = java.util.Arrays.copyOfRange(bytes, from, until)
                val head = if (fb.length > 0) fb(0) & 0xff else -1
                FrameMeta(id, f, fb.length, head, featureOf(fb))
              }
          }
        }
      }
  }

  // ---- GIF container walk (public spec, pure byte arithmetic) -------------

  private val Gif87 = "GIF87a".getBytes("US-ASCII")
  private val Gif89 = "GIF89a".getBytes("US-ASCII")

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && ((0 until 6).forall(i => b(i) == Gif87(i)) ||
      (0 until 6).forall(i => b(i) == Gif89(i)))

  /** Color-table byte length from a GIF flags byte: present when bit 7
    * is set, 3·2^(size+1) bytes with size in bits 2-0.
    */
  private def gifColorTableLen(flags: Int): Int =
    if ((flags & 0x80) != 0) 3 * (1 << ((flags & 0x07) + 1)) else 0

  /** Advance past a data sub-block chain (length-prefixed blocks ending
    * at a 0-length terminator); -1 when the chain runs off the buffer.
    */
  private def gifSkipSubBlocks(b: Array[Byte], pos0: Int): Int = {
    var pos = pos0
    while (pos < b.length) {
      val len = b(pos) & 0xff
      if (len == 0) return pos + 1
      pos += 1 + len
    }
    -1
  }

  /** REAL GIF frame boundaries: (offset, length) of every image
    * descriptor span — 0x2C + 9-byte descriptor + optional local color
    * table + LZW-min-code byte + data sub-blocks through their
    * terminator. Extensions (0x21 label + sub-blocks) are walked and
    * skipped; the 0x3B trailer, an unknown block byte, or any structure
    * running off the buffer ends the walk, KEEPING the frames already
    * found (robust-ingest semantics, same contract as the Y4M walk).
    * The LZW pixel data itself is not decoded — boundaries, sizes and
    * counts are what a 100 TB media-crawl census needs.
    */
  def gifFrameSpans(b: Array[Byte]): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    if (!isGif(b) || b.length < 13) return out.toSeq
    // logical screen descriptor at 6: dims(4), flags, bg, aspect
    var pos = 13 + gifColorTableLen(b(10) & 0xff)
    var ok = true
    while (ok && pos < b.length) {
      (b(pos) & 0xff) match {
        case 0x3B => ok = false // trailer: clean end
        case 0x21 => // extension: label byte then sub-blocks
          val next =
            if (pos + 2 <= b.length) gifSkipSubBlocks(b, pos + 2) else -1
          if (next < 0) ok = false else pos = next
        case 0x2C =>
          if (pos + 10 > b.length) ok = false
          else {
            val start = pos
            val dataStart = pos + 10 + gifColorTableLen(b(pos + 9) & 0xff) + 1
            if (dataStart > b.length) ok = false
            else {
              val next = gifSkipSubBlocks(b, dataStart)
              if (next < 0) ok = false
              else { out += ((start, next - start)); pos = next }
            }
          }
        case _ => ok = false // unknown block byte: stop, keep prior frames
      }
    }
    out.toSeq
  }

  /** GIF builder twin ([[y4mBytes]]' role): GIF89a header + optional
    * global color table + per-frame [graphic-control extension +] image
    * descriptor [+ local color table] + one `dataLen`-byte LZW sub-block
    * filled with `fill(frame)` + terminator, closed by the 0x3B trailer.
    * Every span [[gifFrameSpans]] must report is predictable by
    * arithmetic from these parameters.
    */
  def gifStreamBytes(w: Int, h: Int, nFrames: Int, withGct: Boolean = true,
      withExt: Boolean = true, lctEvery: Int = 0, dataLen: Int = 12,
      fill: Int => Int = identity): Array[Byte] = {
    require(w > 0 && w <= 0xFFFF && h > 0 && h <= 0xFFFF && nFrames >= 0)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(w); u16(h)
    out.write(if (withGct) 0x81 else 0x00) // GCT flag + size bits 001 → 4 entries
    out.write(0); out.write(0)
    if (withGct) out.write(new Array[Byte](3 * 4))
    (0 until nFrames).foreach { f =>
      if (withExt) { // graphic control: 0x21 0xF9, 4-byte block, terminator
        out.write(0x21); out.write(0xF9); out.write(4)
        out.write(new Array[Byte](4)); out.write(0)
      }
      out.write(0x2C); u16(0); u16(0); u16(w); u16(h)
      val hasLct = lctEvery > 0 && f % lctEvery == 0
      out.write(if (hasLct) 0x80 else 0x00) // LCT size bits 000 → 2 entries
      if (hasLct) out.write(new Array[Byte](3 * 2))
      out.write(8) // LZW minimum code size
      out.write(dataLen)
      val data = new Array[Byte](dataLen)
      java.util.Arrays.fill(data, (fill(f) & 0xff).toByte)
      out.write(data)
      out.write(0) // sub-block terminator
    }
    out.write(0x3B)
    out.toByteArray
  }

  /** Resize pass over decoded media — per-row transform in the same
    * batched shape (a real resizer allocates its buffers once per
    * partition). Stub semantics: clamp into the target box, preserving
    * the decoded struct's schema so downstream stages are unchanged.
    * The REAL pixel path for uncompressed BMPs is [[resizePayloads]].
    */
  def resizeAll(decoded: Dataset[MediaMeta], spark: SparkSession,
      maxW: Int, maxH: Int): Dataset[MediaMeta] = {
    import spark.implicits._
    decoded.mapPartitions { it =>
      // real resizer: allocate scratch buffers here, once per partition
      it.map(m => m.copy(
        width = math.min(m.width, maxW),
        height = math.min(m.height, maxH)))
    }
  }

  /** Resized (id, payload) row: original and resized dims plus the
    * re-encoded bytes and their decoded-pixel checksum.
    */
  final case class ResizedMedia(
      id: Long,
      origW: Int,
      origH: Int,
      newW: Int,
      newH: Int,
      nBytes: Int,
      pxSum: Long)

  /** REAL payload resize pipeline: binary column in, resized binary
    * stats out, via [[resizeBmp]] — actual pixel decode, nearest-neighbor
    * sampling, and re-encode for 24-bit BMPs (no codec library needed;
    * compressed formats return no row here and keep the metadata-clamp
    * path of [[resizeAll]]). The checksum is computed by DECODING the
    * re-encoded output — the value witnesses the full
    * decode→resize→encode→decode round trip, not the intermediate state.
    */
  def resizePayloads(media: DataFrame, spark: SparkSession,
      box: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    media.select(col("id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          for {
            orig <- decodeBmpPixels(bytes) // decoded ONCE per row
            out = resizeImage(orig, box)
            dec <- decodeBmpPixels(out)
          } yield {
            var s = 0L
            dec.rgb.foreach(v => s += (v & 0xff))
            ResizedMedia(id, orig.width, orig.height,
              dec.width, dec.height, out.length, s)
          }
        }
      }
  }

  /** Fixture media: the documents table's text bytes as an opaque payload
    * (the container ships no real media; text bytes exercise the unknown-
    * format path, [[mm3HeaderParse]] exercises the real-header paths).
    */
  def fixtureMedia(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("payload"))

  def queries: Map[String, Q] = Map(
    "mm1_binary_meta" -> mm1BinaryMeta,
    "mm2_frame_census" -> mm2FrameCensus,
    "mm3_header_parse" -> mm3HeaderParse,
    "mm4_resize_bmp" -> mm4ResizeBmp,
    "mm5_pixel_embedding" -> mm5PixelEmbedding,
    "mm6_pixel_neardup" -> mm6PixelNeardup,
    "mm6b_pixel_dedup" -> mm6bPixelDedup,
    "mm7_gif_census" -> mm7GifCensus
  )

  /** The scaffold of every generated media fixture: the document ids,
    * turned into rows inside the scan's partitions by `rows`.
    */
  private[functions] def perDocument[T: Encoder](s: SparkSession,
      dir: String)(rows: Iterator[Long] => Iterator[T]): Dataset[T] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(rows)
  }

  /** mm4 gradient-BMP geometry: source dims derived from doc_id, longest
    * side scaled to [[ResizeBox]] by [[resizeBmp]].
    */
  val ResizeBox = 8

  /** The shared gradient-BMP fixture behind mm4/mm5/mm6: one REAL 24-bit
    * BMP per document, dims `(4 + id%13, 4 + id%11)`, pixels an integer
    * gradient of (x, y, doc_id) — every byte predictable by arithmetic.
    */
  def gradientMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    perDocument(s, dir)(_.map { id =>
      val w = (4 + id % 13).toInt
      val h = (4 + id % 11).toInt
      (id, bmpPixelBytes(w, h, (x, y) =>
        (((x * 7 + y * 3 + id) % 256).toInt,
          ((x * 5 + id * 2) % 256).toInt,
          ((y * 11 + id * 3) % 256).toInt)))
    }).toDF("id", "payload")
  }

  /** mm4: REAL pixel round trip — per document, build a 24-bit BMP whose
    * pixels follow an integer gradient of (x, y, doc_id), then
    * decode → nearest-neighbor resize → re-encode → decode again through
    * the real byte-level codec ([[resizePayloads]]), emitting the resized
    * dims, byte count, and the decoded-output pixel checksum. The oracle
    * predicts every emitted value — including the checksum of all resized
    * pixels — from integer arithmetic alone (the same floor maps
    * [[resizeBmp]] uses), so builder, decoder, resizer, and encoder would
    * all have to be wrong in compensating ways to pass falsely.
    */
  def mm4ResizeBmp: Q = (s, dir) => {
    val media = gradientMedia(s, dir)
    resizePayloads(media, s, ResizeBox)
      .toDF()
      .select(col("id"),
        col("origW").cast("long").as("orig_w"),
        col("origH").cast("long").as("orig_h"),
        col("newW").cast("long").as("new_w"),
        col("newH").cast("long").as("new_h"),
        col("nBytes").cast("long").as("n_bytes"),
        col("pxSum").as("px_sum"))
      .orderBy(col("id"))
  }

  /** The decoded pixel-statistics dataset behind mm5/mm6: gradient BMP per
    * document → REAL byte-level decode → [[pixelStats]]. One decode per
    * row, batched mapPartitions shape (same as [[decodeAll]]).
    */
  private def gradientStats(s: SparkSession, dir: String) = {
    import s.implicits._
    gradientMedia(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeBmpPixels(bytes).map(img => pixelStats(id, img))
        }
      }
  }

  /** mm5: the REAL pixel-statistics embedding, integer-witnessed — per
    * document, decode the gradient BMP through the byte-level codec and
    * emit the embedding's exact integer numerators (channel sums, five
    * luma-histogram bin counts, pixel count) plus the three normalized
    * channel means. The oracle replays the gradient + luma + binning
    * arithmetic per pixel in SQL, so the decoded-pixel statistics — and
    * therefore the embedding vector they determine — are checked
    * end-to-end with no float tolerance on the witnesses.
    */
  def mm5PixelEmbedding: Q = (s, dir) =>
    gradientStats(s, dir)
      .toDF()
      .select(col("id"), col("nPx").as("n_px"),
        col("sumR").as("sum_r"), col("sumG").as("sum_g"),
        col("sumB").as("sum_b"),
        element_at(col("hist"), 1).as("h0"),
        element_at(col("hist"), 2).as("h1"),
        element_at(col("hist"), 3).as("h2"),
        element_at(col("hist"), 4).as("h3"),
        element_at(col("hist"), 5).as("h4"),
        round(element_at(col("emb"), 1), 6).as("mean_r"),
        round(element_at(col("emb"), 2), 6).as("mean_g"),
        round(element_at(col("emb"), 3), 6).as("mean_b"))
      .orderBy(col("id"))

  /** Cosine threshold for the pixel-embedding near-dup verify. */
  val PixelNearDupCosine = 0.9

  /** mm6: near-duplicate detection over the REAL embeddings — the s4
    * bucket-then-verify shape fed by decoded pixels instead of the
    * pre-made embeddings table. Blocking key = (width, height, dominant
    * channel, dominant luma bin) — content-derived, exact-integer, so at
    * scale it is the shuffle key and the cosine verify touches bucket
    * mates only, never all pairs. Sign-LSH is the wrong blocker here
    * (pixel-stats vectors are non-negative, so every sign bit is 1);
    * dominance bucketing is the equivalent coarse quantization for
    * one-sided embeddings.
    */
  def mm6PixelNeardup: Q = (s, dir) => {
    val st = gradientStats(s, dir).toDF()
      .select(col("id"), col("width"), col("height"),
        col("domC"), col("domB"), col("emb"))
    blockedCosinePairs(st, Seq("width", "height", "domC", "domB"),
      PixelNearDupCosine)
  }

  /** The bucket-then-verify pair list mm6 and mm10 share: `st` rows
    * (id, emb, keys…) self-join on the blocking `keys`, each pair once
    * (doc_a < doc_b), and the pairs whose embedding cosine reaches
    * `threshold` come out as (doc_a, doc_b, cos rounded to 4 places),
    * ordered.
    */
  private[functions] def blockedCosinePairs(st: DataFrame,
      keys: Seq[String], threshold: Double): DataFrame = {
    val x = st.select(col("id").as("doc_a") +: col("emb").as("ea") +:
      keys.map(col): _*)
    val y = st.select(col("id").as("doc_b") +: col("emb").as("eb") +:
      keys.map(col): _*)
    x.join(y, keys)
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.core.Linalg.cosineCol(col("ea"), col("eb")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** mm6b: mm6's SCALE twin (VERDICT r12 next-8 — the mm10→mm10b
    * composition for images): same content-derived blocking key, but
    * candidate emission CAPPED per bucket ([[Dedup.pairsFromBuckets]]:
    * clique over the [[Dedup.MaxBucket]] smallest ids + star edges to
    * the overflow) and the verified pairs resolved to transitive
    * near-dup GROUPS. A fixed (w, h, domC, domB) key space means bucket
    * occupancy grows linearly with the corpus and mm6's in-bucket
    * all-pairs verify goes quadratic — the cap bounds it at O(cap²+n)
    * pairs per bucket, which is what the decade rows measure. The
    * DuckDB oracle replays the capped emission EXACTLY (the d3
    * ranked/rn formulation), so the hash covers cap semantics too.
    */
  def mm6bPixelDedup: Q = (s, dir) => {
    val st = gradientStats(s, dir).toDF()
      .select(col("id"), col("width"), col("height"),
        col("domC"), col("domB"), col("emb"))
      .persist()
    val out = blockedCosineGroups(st, st,
      Seq("width", "height", "domC", "domB"), PixelNearDupCosine,
      Tables.documents(s, dir).select(col("doc_id")))
    st.unpersist()
    out
  }

  /** The capped bucket-then-verify grouping mm6b and mm10b share:
    * `blocked` rows (id, keys…) bucket on the blocking `keys`, each
    * bucket of two or more emits its capped candidate pairs
    * ([[Dedup.pairsFromBuckets]]), the pairs whose `st` embedding cosine
    * reaches `threshold` are verified, and the closure over `allIds`
    * labels each id with its group: (id, group_id), ordered by id.
    */
  private[functions] def blockedCosineGroups(st: DataFrame,
      blocked: DataFrame, keys: Seq[String], threshold: Double,
      allIds: => DataFrame): DataFrame = {
    val buckets = blocked
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
    val cand = Dedup.pairsFromBuckets(buckets)
      .withColumnRenamed("doc_a", "a").withColumnRenamed("doc_b", "b")
    val verified = cand
      .join(st.select(col("id").as("a"), col("emb").as("ea")), "a")
      .join(st.select(col("id").as("b"), col("emb").as("eb")), "b")
      .where(graft.core.Linalg.cosineCol(col("ea"), col("eb")) >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    graft.core.Closure.components(allIds, verified)
      .select(col("doc_id").as("id"), col("group_id"))
      .orderBy(col("id"))
  }

  /** The Y4M fixture behind mm2: one REAL YUV4MPEG2 stream per document —
    * even dims and frame count derived from doc_id, colorspace cycling
    * through 4:2:0 / 4:4:4 / mono (so the census exercises every frame-
    * size formula), frame f's payload filled with byte (id + f) % 256.
    */
  def y4mMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    perDocument(s, dir)(_.map { id =>
      val w = (2 * (2 + id % 6)).toInt
      val h = (2 * (2 + id % 4)).toInt
      val nf = (1 + id % 9).toInt
      val cs = (id % 3) match {
        case 0 => "C420jpeg"
        case 1 => "C444"
        case _ => "Cmono"
      }
      (id, y4mBytes(w, h, nf, cs, f => ((id + f) % 256).toInt))
    }).toDF("id", "payload")
  }

  /** mm2: frame-sampling census over the REAL Y4M demux — per stream, the
    * sampled frame count, last sampled index, total sampled payload
    * bytes, and the sum of each sampled frame's first payload byte. The
    * oracle predicts all four from header arithmetic alone (frame size by
    * colorspace, stride-4 sampling, the (id + f) % 256 fill), so marker
    * walking, frame sizing, AND byte-exact frame alignment are checked —
    * a misaligned demux would shift `head_sum` even when counts survive.
    */
  def mm2FrameCensus: Q = (s, dir) =>
    frameSample(y4mMedia(s, dir), s)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_sampled"),
        max(col("frameIdx")).cast("long").as("last_idx"),
        sum(col("nBytes")).as("bytes_sampled"),
        sum(col("head")).as("head_sum"))
      .orderBy(col("id"))

  /** The GIF fixture behind mm7: one REAL multi-frame GIF per document,
    * every structural knob derived from doc_id — frame count, data-block
    * length, global color table on even ids, extension blocks on ids not
    * divisible by 3, and (on ids divisible by 4) a local color table on
    * every second frame — so the census exercises each branch of the
    * block walk.
    */
  def gifMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    perDocument(s, dir)(_.map { id =>
      (id, gifStreamBytes(
        w = (3 + id % 7).toInt, h = (3 + id % 5).toInt,
        nFrames = (1 + id % 8).toInt,
        withGct = id % 2 == 0, withExt = id % 3 != 0,
        lctEvery = if (id % 4 == 0) 2 else 0,
        dataLen = (5 + id % 20).toInt,
        fill = f => ((id + f) % 256).toInt))
    }).toDF("id", "payload")
  }

  /** mm7: frame census over the REAL GIF block walk (mm2's shape for the
    * second container): per stream, sampled frame count, last sampled
    * index, and total sampled span bytes. The oracle predicts all three
    * from the builder arithmetic — span = 13 + dataLen + localColorTable
    * bytes — with the stride-[[FrameEvery]] sampling replayed in SQL, so
    * descriptor walking, sub-block skipping, and color-table sizing are
    * all checked byte-exactly. (Sampled indices are multiples of 4, so
    * under `lctEvery = 2` every sampled frame carries the 6-byte LCT.)
    */
  def mm7GifCensus: Q = (s, dir) =>
    frameSample(gifMedia(s, dir), s)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_sampled"),
        max(col("frameIdx")).cast("long").as("last_idx"),
        sum(col("nBytes")).as("bytes_sampled"))
      .orderBy(col("id"))

  /** Binary-column metadata through the REAL decode path: byte length,
    * sniffed format, leading byte. The oracle re-sniffs in DuckDB by hex
    * blob slicing — an engine-independent check of the magic-byte rules.
    * (Text payloads mostly land in `unknown`; a text that *starts with*
    * "BM"/"GIF8…" legitimately sniffs as that format on both sides.)
    */
  def mm1BinaryMeta: Q = (s, dir) =>
    decodeAll(fixtureMedia(s, dir), s)
      .toDF()
      .select(col("id"), col("nBytes").cast("long").as("n_bytes"),
        col("format"), col("magic"))
      .orderBy(col("id"))

  /** Round-trip header check: per document, BUILD a real image header
    * (format selected by doc_id % 4, dimensions derived from doc_id) and
    * run it through the REAL [[decode]]. The oracle predicts format,
    * width, height and byte count from the arithmetic alone — builder and
    * parser would have to be wrong in exactly compensating ways (across
    * both endiannesses and all four formats) to pass falsely.
    */
  def mm3HeaderParse: Q = (s, dir) => {
    import s.implicits._
    perDocument(s, dir)(_.map { id =>
      val w = (16 + (id * 31) % 4080).toInt
      val h = (16 + (id * 17) % 2160).toInt
      val bytes = (id % 5) match {
        case 0 => pngBytes(w, h)
        case 1 => jpegBytes(w, h)
        case 2 => bmpBytes(w, h)
        case 3 => gifBytes(w, h)
        // TIFF alternates byte order — the dual-endian format
        case _ => tiffBytes(w, h, bigEndian = id % 2 == 0)
      }
      decode(id, bytes)
    }).toDF()
      .select(col("id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("nBytes").cast("long").as("n_bytes"))
      .orderBy(col("id"))
  }

  /** The gradient channel expressions as DuckDB SQL (x, y, doc_id free) —
    * the one source of truth the mm5/mm6 oracles replay per pixel.
    */
  private val rSql = "((x * 7 + y * 3 + doc_id) % 256)"
  private val gSql = "((x * 5 + doc_id * 2) % 256)"
  private val bSql = "((y * 11 + doc_id * 3) % 256)"
  private val binSql =
    s"((((299 * $rSql + 587 * $gSql + 114 * $bSql) // 1000) * 5) // 256)"

  /** `SUM over the w×h grid of <inner>` as nested DuckDB lambdas. */
  private def gridSum(inner: String): String =
    s"""list_sum(list_transform(generate_series(0, h - 1), y ->
       |    list_sum(list_transform(generate_series(0, w - 1), x ->
       |      $inner))))::BIGINT""".stripMargin

  /** Shared mm5/mm6 oracle prefix: per document, the gradient image's
    * exact integer pixel statistics (channel sums + 5 luma-bin counts),
    * replayed arithmetically — no image bytes on the oracle side at all.
    */
  private val pixelStatsSql: String = {
    val hs = (0 until 5).map { k =>
      s"  ${gridSum(s"CASE WHEN $binSql = $k THEN 1 ELSE 0 END")} AS h$k"
    }.mkString(",\n")
    s"""g AS (SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h
       |  FROM documents),
       |st AS (SELECT doc_id, w, h, (w * h)::BIGINT AS n,
       |  ${gridSum(rSql)} AS sum_r,
       |  ${gridSum(gSql)} AS sum_g,
       |  ${gridSum(bSql)} AS sum_b,
       |$hs
       |  FROM g)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // hex() is DuckDB's blob slice: prefix compare against the same magic
    // sequences sniffFormat checks, leading byte from the first hex pair
    "mm1_binary_meta" ->
      """SELECT doc_id AS id, octet_length(encode(text)) AS n_bytes,
        |  CASE
        |    WHEN substr(hex(encode(text)), 1, 16) = '89504E470D0A1A0A' THEN 'png'
        |    WHEN substr(hex(encode(text)), 1, 4) = 'FFD8' THEN 'jpeg'
        |    WHEN substr(hex(encode(text)), 1, 4) = '424D' THEN 'bmp'
        |    WHEN substr(hex(encode(text)), 1, 12)
        |      IN ('474946383761', '474946383961') THEN 'gif'
        |    WHEN substr(hex(encode(text)), 1, 8)
        |      IN ('49492A00', '4D4D002A') THEN 'tiff'
        |    ELSE 'unknown' END AS format,
        |  CASE WHEN octet_length(encode(text)) = 0 THEN -1
        |    ELSE ('0x' || substr(hex(encode(text)), 1, 2))::INT END AS magic
        |FROM documents ORDER BY id""".stripMargin,
    // pure Y4M frame-layout arithmetic: frame count / dims / colorspace
    // replayed from doc_id, frame size by layout (fb2 = bytes per 2 luma
    // samples: C420→3, C444→6, Cmono→2), stride-FrameEvery sampling, and
    // the (id + f) % 256 fill of each sampled frame's first byte
    "mm2_frame_census" ->
      s"""WITH p AS (SELECT doc_id, 2 * (2 + doc_id % 6) AS w,
         |    2 * (2 + doc_id % 4) AS h, 1 + doc_id % 9 AS nf,
         |    CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 6 ELSE 2 END AS fb2
         |  FROM documents)
         |SELECT doc_id AS id,
         |  (nf + ${FrameEvery - 1}) // $FrameEvery AS n_sampled,
         |  ((nf - 1) // $FrameEvery) * $FrameEvery AS last_idx,
         |  ((nf + ${FrameEvery - 1}) // $FrameEvery)
         |    * (w * h * fb2 // 2) AS bytes_sampled,
         |  list_sum(list_transform(generate_series(0, (nf - 1) // $FrameEvery),
         |    k -> (doc_id + $FrameEvery * k) % 256))::BIGINT AS head_sum
         |FROM p ORDER BY id""".stripMargin,
    // predicts the GIF block-walk census from builder arithmetic: span =
    // 13 + dataLen + LCT bytes; sampled indices are multiples of
    // FrameEvery, all even, so lctEvery=2 puts the 6-byte LCT on every
    // sampled frame of ids divisible by 4
    "mm7_gif_census" ->
      s"""WITH p AS (SELECT doc_id, 1 + doc_id % 8 AS nf,
         |    5 + doc_id % 20 AS dl,
         |    CASE WHEN doc_id % 4 = 0 THEN 6 ELSE 0 END AS lct
         |  FROM documents)
         |SELECT doc_id AS id,
         |  (nf + ${FrameEvery - 1}) // $FrameEvery AS n_sampled,
         |  ((nf - 1) // $FrameEvery) * $FrameEvery AS last_idx,
         |  ((nf + ${FrameEvery - 1}) // $FrameEvery) * (13 + dl + lct)
         |    AS bytes_sampled
         |FROM p ORDER BY id""".stripMargin,
    // predicts the round-trip from arithmetic alone; byte counts are the
    // fixed header-stream sizes each builder emits
    "mm3_header_parse" ->
      """SELECT doc_id AS id,
        |  CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'bmp' WHEN 3 THEN 'gif' ELSE 'tiff' END AS format,
        |  16 + (doc_id * 31) % 4080 AS width,
        |  16 + (doc_id * 17) % 2160 AS height,
        |  CASE doc_id % 5 WHEN 0 THEN 33 WHEN 1 THEN 50
        |    WHEN 2 THEN 54 WHEN 3 THEN 14 ELSE 38 END AS n_bytes
        |FROM documents ORDER BY id""".stripMargin,
    // predicts the FULL pixel round trip arithmetically: dims from the
    // integer fit-to-box formula, byte count from the 4-byte row stride,
    // and the checksum by replaying the gradient + floor-map
    // nearest-neighbor sampling per resized pixel (nested scalar
    // generate_series lambdas)
    "mm4_resize_bmp" ->
      s"""WITH g AS (SELECT doc_id, 4 + doc_id % 13 AS w,
         |    4 + doc_id % 11 AS h FROM documents),
         |d AS (SELECT doc_id, w, h,
         |    greatest(1, (w * $ResizeBox) // greatest(w, h)) AS w2,
         |    greatest(1, (h * $ResizeBox) // greatest(w, h)) AS h2
         |  FROM g)
         |SELECT doc_id AS id, w AS orig_w, h AS orig_h,
         |  w2 AS new_w, h2 AS new_h,
         |  (54 + ((3 * w2 + 3) // 4 * 4) * h2)::BIGINT AS n_bytes,
         |  list_sum(list_transform(generate_series(0, h2 - 1), y ->
         |    list_sum(list_transform(generate_series(0, w2 - 1), x ->
         |      ((x * w // w2) * 7 + (y * h // h2) * 3 + doc_id) % 256
         |      + ((x * w // w2) * 5 + doc_id * 2) % 256
         |      + ((y * h // h2) * 11 + doc_id * 3) % 256))))::BIGINT
         |    AS px_sum
         |FROM d ORDER BY id""".stripMargin,
    // exact integer witnesses of the pixel-statistics embedding (sums and
    // bin counts have NO float tolerance); the means are the same integers
    // divided as IEEE doubles on both sides
    "mm5_pixel_embedding" ->
      s"""WITH $pixelStatsSql
         |SELECT doc_id AS id, n AS n_px, sum_r, sum_g, sum_b,
         |  h0, h1, h2, h3, h4,
         |  round(sum_r / (255.0 * n), 6) AS mean_r,
         |  round(sum_g / (255.0 * n), 6) AS mean_g,
         |  round(sum_b / (255.0 * n), 6) AS mean_b
         |FROM st ORDER BY id""".stripMargin,
    // bucket-then-verify near-dup over the REAL embeddings: blocking key
    // and embedding list rebuilt from the same integer stats, cosine
    // verified inside buckets only — the SQL twin of the s4-shaped plan
    "mm6_pixel_neardup" ->
      s"""WITH $pixelStatsSql,
         |e AS (SELECT doc_id, w, h,
         |    CASE WHEN sum_r >= sum_g AND sum_r >= sum_b THEN 0
         |      WHEN sum_g >= sum_b THEN 1 ELSE 2 END AS dom_c,
         |    CASE greatest(h0, h1, h2, h3, h4)
         |      WHEN h0 THEN 0 WHEN h1 THEN 1 WHEN h2 THEN 2
         |      WHEN h3 THEN 3 ELSE 4 END AS dom_b,
         |    [sum_r / (255.0 * n), sum_g / (255.0 * n), sum_b / (255.0 * n),
         |     h0 / (1.0 * n), h1 / (1.0 * n), h2 / (1.0 * n),
         |     h3 / (1.0 * n), h4 / (1.0 * n)] AS emb
         |  FROM st)
         |SELECT doc_a, doc_b, round(cos, 4) AS cos FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    list_cosine_similarity(a.emb, b.emb) AS cos
         |  FROM e a JOIN e b
         |    ON a.w = b.w AND a.h = b.h AND a.dom_c = b.dom_c
         |    AND a.dom_b = b.dom_b AND a.doc_id < b.doc_id)
         |WHERE cos >= $PixelNearDupCosine ORDER BY doc_a, doc_b""".stripMargin,
    // mm6's stats + the EXACT capped-emission replay (ranked/rn, star
    // edges past the cap) + cosine verify + recursive closure — the
    // mm10b oracle shape over the pixel-stats embedding
    "mm6b_pixel_dedup" ->
      s"""WITH RECURSIVE $pixelStatsSql,
         |e AS (SELECT doc_id, w, h,
         |    CASE WHEN sum_r >= sum_g AND sum_r >= sum_b THEN 0
         |      WHEN sum_g >= sum_b THEN 1 ELSE 2 END AS dom_c,
         |    CASE greatest(h0, h1, h2, h3, h4)
         |      WHEN h0 THEN 0 WHEN h1 THEN 1 WHEN h2 THEN 2
         |      WHEN h3 THEN 3 ELSE 4 END AS dom_b,
         |    [sum_r / (255.0 * n), sum_g / (255.0 * n), sum_b / (255.0 * n),
         |     h0 / (1.0 * n), h1 / (1.0 * n), h2 / (1.0 * n),
         |     h3 / (1.0 * n), h4 / (1.0 * n)] AS emb
         |  FROM st),
         |ranked AS (SELECT doc_id, w, h, dom_c, dom_b,
         |    row_number() OVER (PARTITION BY w, h, dom_c, dom_b
         |      ORDER BY doc_id) AS rn,
         |    min(doc_id) OVER (PARTITION BY w, h, dom_c, dom_b) AS rep
         |  FROM e),
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ranked a JOIN ranked b
         |    ON a.w = b.w AND a.h = b.h AND a.dom_c = b.dom_c
         |    AND a.dom_b = b.dom_b
         |    AND a.rn < b.rn AND b.rn <= ${Dedup.MaxBucket}
         |  UNION ALL
         |  SELECT rep AS doc_a, doc_id AS doc_b FROM ranked
         |  WHERE rn > ${Dedup.MaxBucket})),
         |pairs AS (SELECT c.doc_a, c.doc_b FROM cand c
         |  JOIN e a ON a.doc_id = c.doc_a
         |  JOIN e b ON b.doc_id = c.doc_b
         |  WHERE list_cosine_similarity(a.emb, b.emb) >= $PixelNearDupCosine),
         |${Dedup.edgesReachSql},
         |${Dedup.grpSqlFrom("documents")}
         |SELECT doc_id AS id, group_id FROM grp ORDER BY id""".stripMargin
  )
}
