package graft.pipeline

import java.nio.{ByteBuffer, ByteOrder}

import javax.imageio.ImageIO

/** Pure-JVM decoder for MJPEG-in-AVI — a COMPRESSED video container with
  * zero native dependencies, one rung past [[Y4MFrameDecoder]] on the
  * realism ladder: the y4m path proves raw planar decode offline, this
  * proves a real inter-frame-compressed codec offline, because every JVM
  * ships a JPEG decoder (`javax.imageio`). The reference's input set is
  * compressed containers (reference preprocess.py:320-323, decode loop
  * preprocess.py:156-189); `.avi` is literally on its list.
  *
  * Container (public spec: Microsoft AVI RIFF / OpenDML): a RIFF file
  * `RIFF <size> 'AVI '` holding a `LIST hdrl` (an `avih` MainAVIHeader
  * with dwMicroSecPerFrame/dwTotalFrames/dwWidth/dwHeight, plus one
  * `LIST strl` per stream with `strh` — fccType 'vids', dwScale/dwRate
  * — and `strf`, a BITMAPINFOHEADER) and a `LIST movi` whose `##dc` /
  * `##db` chunks each carry one complete JPEG (MJPG has no inter-frame
  * state — every frame is independently decodable, which is exactly
  * what makes a distributed per-file decode embarrassingly parallel).
  * All integers little-endian; chunks pad to even offsets.
  *
  * Frames are sampled by [[FrameSampler]] on the constant-rate clock
  * fps = dwRate/dwScale. The metadata-only path ([[decodeMeta]]) walks
  * the container index but never touches ImageIO — AviMjpegSpec proves
  * it on an AVI whose payloads are not JPEGs.
  */
final class AviMjpegFrameDecoder extends FrameDecoder {

  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    AviMjpegFrameDecoder.decode(filename, content, sampleRateMs,
      withPixels = true)

  override def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    AviMjpegFrameDecoder.decode(filename, content, sampleRateMs,
      withPixels = false)
}

object AviMjpegFrameDecoder {

  /** True iff `content` is a RIFF AVI stream ('RIFF' at 0, 'AVI ' at 8). */
  def sniff(content: Array[Byte]): Boolean =
    content != null && content.length > 12 &&
      content(0) == 'R' && content(1) == 'I' && content(2) == 'F' &&
      content(3) == 'F' &&
      content(8) == 'A' && content(9) == 'V' && content(10) == 'I' &&
      content(11) == ' '

  private final case class Avi(w: Int, h: Int, fpsNum: Long, fpsDen: Long,
      frames: Array[(Int, Int)]) // (offset, length) of each JPEG payload

  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** Walks one RIFF chunk run in [from, to), calling `f(fcc, listType,
    * payloadOff, payloadLen)`; listType is null for plain chunks.
    */
  private def chunks(filename: String, b: Array[Byte], from: Int, to: Int)(
      f: (String, String, Int, Int) => Unit): Unit = {
    var pos = from
    while (pos + 8 <= to) {
      val fcc = fourcc(b, pos)
      val size = u32(b, pos + 4)
      require(size <= Int.MaxValue && pos + 8 + size <= to,
        s"$filename: RIFF chunk $fcc at byte $pos overruns its parent")
      val len = size.toInt
      if (fcc == "LIST" || fcc == "RIFF")
        f(fcc, fourcc(b, pos + 8), pos + 12, len - 4)
      else
        f(fcc, null, pos + 8, len)
      pos += 8 + len + (len & 1) // chunks pad to even offsets
    }
  }

  private def parse(filename: String, b: Array[Byte]): Avi = {
    require(sniff(b), s"$filename: not a RIFF AVI stream")
    var w = 0; var h = 0
    var microsPerFrame = 0L
    var scale = 0L; var rate = 0L
    var sawVids = false
    val frames = Array.newBuilder[(Int, Int)]

    // depth-bounded: real AVIs nest `rec ` interleave groups ONE level;
    // a hostile file can nest thousands (12 bytes of overhead per
    // level), which would blow the stack instead of failing typed
    def movi(off: Int, len: Int, depth: Int = 0): Unit = {
      require(depth <= 8,
        s"$filename: movi 'rec ' lists nested past depth 8 — corrupt")
      chunks(filename, b, off, off + len) { (fcc, lt, o, l) =>
        if (fcc == "LIST" && lt == "rec ") movi(o, l, depth + 1)
        else if ((fcc.endsWith("dc") || fcc.endsWith("db")) && l > 0)
          frames += ((o, l))
      }
    }

    def strl(off: Int, len: Int): Unit =
      chunks(filename, b, off, off + len) { (fcc, _, o, l) =>
        if (fcc == "strh" && l >= 28 && fourcc(b, o) == "vids" && !sawVids) {
          sawVids = true
          scale = u32(b, o + 20)
          rate = u32(b, o + 24)
        }
      }

    def hdrl(off: Int, len: Int): Unit =
      chunks(filename, b, off, off + len) { (fcc, lt, o, l) =>
        if (fcc == "avih" && l >= 40) {
          microsPerFrame = u32(b, o)
          w = u32(b, o + 32).toInt
          h = u32(b, o + 36).toInt
        } else if (fcc == "LIST" && lt == "strl") strl(o, l)
      }

    chunks(filename, b, 12, math.min(b.length, (u32(b, 4) + 8).toInt)) {
      (fcc, lt, o, l) =>
        if (fcc == "LIST" && lt == "hdrl") hdrl(o, l)
        else if (fcc == "LIST" && lt == "movi") movi(o, l)
    }
    require(w > 0 && h > 0, s"$filename: AVI avih header missing dimensions")
    val (num, den) =
      if (sawVids && scale > 0 && rate > 0) (rate, scale)
      else if (microsPerFrame > 0) (1000000L, microsPerFrame)
      else throw new IllegalArgumentException(
        s"$filename: AVI carries no frame rate (strh dwRate/dwScale and " +
          "avih dwMicroSecPerFrame all zero)")
    Avi(w, h, num, den, frames.result())
  }

  private[pipeline] def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long, withPixels: Boolean): Iterator[DecodedFrame] = {
    val bytes = FrameSampler.bytes(filename, content)
    val avi = parse(filename, bytes)
    FrameSampler.sample(filename,
      Timeline.uniform(filename, avi.frames.length, avi.fpsNum, avi.fpsDen),
      avi.h, avi.w, sampleRateMs, withPixels) { i =>
      val (off, len) = avi.frames(i)
      FrameSampler.jpegToRgb(filename, "AVI", bytes, off, len, avi.w, avi.h)
    }
  }

  // ---- fixture-writer companions (tests, debug clips) -----------------------

  private def le32(v: Long): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt((v & 0xffffffffL).toInt).array()

  private def chunk(fcc: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(fcc.getBytes("US-ASCII"))
    out.write(le32(payload.length.toLong))
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0) // even padding
    out.toByteArray
  }

  private def list(listType: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("LIST".getBytes("US-ASCII"))
    out.write(le32(payload.length + 4L))
    out.write(listType.getBytes("US-ASCII"))
    out.write(payload)
    out.toByteArray
  }

  /** Minimal MJPEG AVI writer: each element of `jpegFrames` is one
    * complete JPEG (see [[encodeJpeg]]), fps = fpsNum/fpsDen.
    */
  def write(w: Int, h: Int, fpsNum: Long, fpsDen: Long,
      jpegFrames: Seq[Array[Byte]]): Array[Byte] = {
    val n = jpegFrames.length
    val maxLen = if (n == 0) 0 else jpegFrames.map(_.length).max
    val avih = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt((1000000L * fpsDen / fpsNum).toInt) // dwMicroSecPerFrame
      b.putInt(0).putInt(0).putInt(0x10) // bytes/s, padding, AVIF_HASINDEX off
      b.putInt(n) // dwTotalFrames
      b.putInt(0).putInt(1).putInt(maxLen) // initial, streams, sugg buffer
      b.putInt(w).putInt(h)
      b.array() // trailing dwReserved[4] stays zero
    }
    val strh = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.put("vids".getBytes("US-ASCII")).put("MJPG".getBytes("US-ASCII"))
      b.putInt(0).putInt(0).putInt(0) // flags, prio/lang, initial frames
      b.putInt(fpsDen.toInt).putInt(fpsNum.toInt) // dwScale, dwRate
      b.putInt(0).putInt(n).putInt(maxLen) // start, length, sugg buffer
      b.putInt(-1).putInt(0) // quality, sample size
      b.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      b.array()
    }
    val strf = {
      val b = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(w).putInt(h)
      b.putShort(1).putShort(24) // planes, bit count
      b.put("MJPG".getBytes("US-ASCII"))
      b.putInt(w * h * 3)
      b.array() // resolution/clr fields stay zero
    }
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      jpegFrames.toArray.flatMap(j => chunk("00dc", j)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
  }

  /** Interleaved normalized RGB floats → one JPEG via the JVM encoder —
    * the inverse fixture path, so specs can plant known pixels, round
    * them through real JPEG compression, and golden-check the decode.
    */
  def encodeJpeg(rgb: Array[Float], w: Int, h: Int): Array[Byte] = {
    require(rgb.length == w * h * 3,
      s"expected ${w * h * 3} floats, got ${rgb.length}")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var p = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def c(f: Float): Int = math.max(0, math.min(255,
          math.round(f * 255f)))
        img.setRGB(x, y,
          (c(rgb(p)) << 16) | (c(rgb(p + 1)) << 8) | c(rgb(p + 2)))
        p += 3
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    require(ImageIO.write(img, "jpg", out), "no JVM JPEG encoder present")
    out.toByteArray
  }
}
