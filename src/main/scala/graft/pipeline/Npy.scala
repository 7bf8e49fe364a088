package graft.pipeline

/** Minimal reader/writer for NumPy's `.npy` array format (public spec:
  * numpy/lib/format.py — magic `\x93NUMPY`, version, ASCII header dict,
  * raw data) restricted to the weights-shipping subset: little-endian
  * float32 (`<f4`), C order, 1-D or 2-D. This is how real model weights
  * move between tools, and parsing it needs no dependency — the
  * [[ConvEmbedder]] companion to the y4m decoder's "real format, pure
  * JVM, provable offline" rule.
  */
object Npy {

  private val Magic: Array[Byte] =
    Array(0x93.toByte) ++ "NUMPY".getBytes("US-ASCII")

  /** (shape, row-major data). Rejects anything outside the supported
    * subset loudly — a silently misread weight matrix is the worst
    * possible failure mode for inference.
    */
  def read(bytes: Array[Byte]): (Seq[Int], Array[Float]) = {
    require(bytes.length > 10 &&
      Magic.indices.forall(i => bytes(i) == Magic(i)), "not an NPY file")
    val major = bytes(6)
    require(major == 1, s"unsupported NPY version $major (want 1.0)")
    val headerLen =
      (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8) // uint16 LE
    val header = new String(bytes, 10, headerLen, "US-ASCII")
    require(header.contains("'descr': '<f4'"),
      s"unsupported dtype in NPY header (want '<f4'): $header")
    require(header.contains("'fortran_order': False"),
      s"Fortran-order NPY not supported: $header")
    val shapeRe = "'shape':\\s*\\(([0-9, ]*)\\)".r
    val shape = shapeRe.findFirstMatchIn(header)
      .getOrElse(throw new IllegalArgumentException(
        s"no shape in NPY header: $header"))
      .group(1).split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    require(shape.nonEmpty && shape.size <= 2,
      s"only 1-D/2-D NPY supported, got shape $shape")
    val n = shape.product
    val dataOff = 10 + headerLen
    require(bytes.length == dataOff + 4 * n,
      s"NPY data size mismatch: ${bytes.length - dataOff} bytes for $n floats")
    val buf = java.nio.ByteBuffer.wrap(bytes, dataOff, 4 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    val out = new Array[Float](n)
    buf.get(out)
    (shape, out)
  }

  /** Row-major float32 `.npy` bytes (v1.0, 64-byte-aligned header as the
    * spec prescribes).
    */
  def write(shape: Seq[Int], data: Array[Float]): Array[Byte] = {
    require(shape.product == data.length,
      s"shape $shape does not cover ${data.length} floats")
    val shapeStr = shape.mkString("(", ", ", if (shape.size == 1) ",)" else ")")
    val base = s"{'descr': '<f4', 'fortran_order': False, " +
      s"'shape': $shapeStr, }"
    // pad with spaces + trailing \n so (10 + len) % 64 == 0
    val padded = base + " " * ((64 - (10 + base.length + 1) % 64) % 64) + "\n"
    val out = java.nio.ByteBuffer
      .allocate(10 + padded.length + 4 * data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(Magic).put(1.toByte).put(0.toByte)
      .putShort(padded.length.toShort)
      .put(padded.getBytes("US-ASCII"))
    data.foreach(out.putFloat)
    out.array()
  }
}
