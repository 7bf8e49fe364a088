package graft.pipeline

/** REAL convolutional inference, pure JVM, provable offline — the
  * geometry-aware model: global channel statistics are blind to WHERE
  * pixels sit, a conv stem is not. This runs an actual conv→ReLU→
  * maxpool→dense→ReLU→dense forward pass over `.npy` weights ([[Npy]]),
  * mirroring the reference's Inception-class embedding stage in
  * structure and in its 2048-dim output (reference preprocess.py:206-215)
  * at a size a test suite can hand-verify.
  *
  * Network (all weights little-endian float32 `.npy` in `weightsDir`):
  *   - adaptive box-average pool of the H×W×3 input to a fixed
  *     Grid×Grid×3 planar tensor (the resize stage; box means over
  *     pixel RECTANGLES — this is where geometry enters, and why this
  *     embedder overrides the shape-aware `embed`);
  *   - `C1.npy` (filters × 27): 3×3 valid convolution over the 3 input
  *     channels + `cb1.npy` bias, ReLU → filters×(Grid−2)²;
  *   - 2×2 max-pool, stride 2 → filters×((Grid−2)/2)²;
  *   - flatten → `W1.npy` (flat × hidden) + `b1.npy`, ReLU;
  *   - `W2.npy` (hidden × dim) + `b2.npy` → logits.
  *
  * Deterministic: sequential loops, double accumulators, no parallel
  * reduction inside an image — identical logits for identical pixels on
  * any partitioning (ConvEmbedSpec asserts the golden forward pass,
  * spatial sensitivity, weight sensitivity, and batch invariance).
  */
final class ConvEmbedder(weightsDir: String, override val dim: Int = 2048)
    extends Embedder {

  import ConvEmbedder.{Grid, KSize}

  @transient private var c1: Array[Float] = _ // filters × 27, row-major
  @transient private var cb1: Array[Float] = _
  @transient private var w1: Array[Float] = _ // flat × hidden
  @transient private var b1: Array[Float] = _
  @transient private var w2: Array[Float] = _ // hidden × dim
  @transient private var b2: Array[Float] = _
  @transient private var filters: Int = _
  @transient private var hidden: Int = _

  override def cacheKey: String =
    s"${getClass.getName}#weights=$weightsDir#dim=$dim"

  override def setup(): Unit = {
    def load(name: String): (Seq[Int], Array[Float]) =
      Npy.read(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(weightsDir, s"$name.npy")))
    val (sc, dc) = load("C1")
    require(sc.size == 2 && sc(1) == 3 * KSize * KSize,
      s"C1 must be filters x ${3 * KSize * KSize}, got $sc")
    filters = sc.head
    c1 = dc
    cb1 = load("cb1")._2
    require(cb1.length == filters, s"cb1 must have $filters biases")
    val conv = Grid - KSize + 1
    val flat = filters * (conv / 2) * (conv / 2)
    val (s1, d1) = load("W1")
    require(s1.size == 2 && s1.head == flat,
      s"W1 must be $flat x hidden, got $s1")
    hidden = s1(1)
    w1 = d1
    b1 = load("b1")._2
    require(b1.length == hidden, s"b1 must have $hidden biases")
    val (s2, d2) = load("W2")
    require(s2 == Seq(hidden, dim), s"W2 must be ${hidden}x$dim, got $s2")
    w2 = d2
    b2 = load("b2")._2
    require(b2.length == dim, s"b2 must have $dim biases")
  }

  override def embed(images: Seq[Array[Float]]): Seq[Array[Float]] =
    throw new IllegalStateException(
      "ConvEmbedder is geometry-aware: embed through Embed.run (which " +
        "passes each batch's height/width) or the shaped embed overload")

  override def embed(images: Seq[Array[Float]], height: Int,
      width: Int): Seq[Array[Float]] = {
    require(w1 != null, "setup() not called — embed through Embed.run, " +
      "which initializes the per-JVM singleton")
    require(height > 0 && width > 0, s"bad image shape ${height}x$width")
    images.map { img =>
      require(img.length == height * width * 3,
        s"image has ${img.length} floats, shape says " +
          s"${height}x${width}x3 = ${height * width * 3}")
      val pooled = ConvEmbedder.poolToGrid(img, height, width)
      forward(pooled)
    }
  }

  /** pooled: planar 3×Grid×Grid (channel-major). */
  private def forward(in: Array[Float]): Array[Float] = {
    val conv = Grid - KSize + 1 // valid convolution output side
    val act = new Array[Float](filters * conv * conv)
    var oc = 0
    while (oc < filters) {
      var y = 0
      while (y < conv) {
        var x = 0
        while (x < conv) {
          var acc = cb1(oc).toDouble
          var ic = 0
          while (ic < 3) {
            var ky = 0
            while (ky < KSize) {
              var kx = 0
              while (kx < KSize) {
                acc += in(ic * Grid * Grid + (y + ky) * Grid + (x + kx)) *
                  c1(oc * 27 + ic * 9 + ky * 3 + kx)
                kx += 1
              }
              ky += 1
            }
            ic += 1
          }
          act(oc * conv * conv + y * conv + x) =
            math.max(0.0, acc).toFloat // ReLU
          x += 1
        }
        y += 1
      }
      oc += 1
    }
    // 2×2 max-pool, stride 2
    val side = conv / 2
    val flatN = filters * side * side
    val flat = new Array[Float](flatN)
    var oc2 = 0
    while (oc2 < filters) {
      var py = 0
      while (py < side) {
        var px = 0
        while (px < side) {
          val base = oc2 * conv * conv
          var m = Float.MinValue
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val v = act(base + (py * 2 + dy) * conv + (px * 2 + dx))
              if (v > m) m = v
              dx += 1
            }
            dy += 1
          }
          flat(oc2 * side * side + py * side + px) = m
          px += 1
        }
        py += 1
      }
      oc2 += 1
    }
    // dense → ReLU → dense
    val h = new Array[Float](hidden)
    var j = 0
    while (j < hidden) {
      var acc = b1(j).toDouble
      var i = 0
      while (i < flatN) { acc += flat(i) * w1(i * hidden + j); i += 1 }
      h(j) = math.max(0.0, acc).toFloat
      j += 1
    }
    val out = new Array[Float](dim)
    var k = 0
    while (k < dim) {
      var acc = b2(k).toDouble
      var j2 = 0
      while (j2 < hidden) { acc += h(j2) * w2(j2 * dim + k); j2 += 1 }
      out(k) = acc.toFloat
      k += 1
    }
    out
  }
}

object ConvEmbedder {

  /** Side of the fixed input grid the adaptive pool resizes to. */
  val Grid: Int = 8

  /** Convolution kernel side (3×3, valid padding). */
  val KSize: Int = 3

  /** Adaptive box-average pool: interleaved-RGB H×W×3 → planar
    * 3×Grid×Grid (channel-major). Cell (i, j) is the mean over pixel
    * rows [iH/G, (i+1)H/G) × cols [jW/G, (j+1)W/G); images smaller than
    * the grid duplicate nearest rows/cols (every cell reads ≥1 pixel).
    * Pure geometry — the part of the stem a sequence banding cannot
    * express, and what ConvEmbedSpec's spatial tests pin down.
    */
  private[pipeline] def poolToGrid(img: Array[Float], h: Int,
      w: Int): Array[Float] = {
    val out = new Array[Float](3 * Grid * Grid)
    var gy = 0
    while (gy < Grid) {
      val y0 = gy * h / Grid
      val y1 = math.max(y0 + 1, (gy + 1) * h / Grid)
      var gx = 0
      while (gx < Grid) {
        val x0 = gx * w / Grid
        val x1 = math.max(x0 + 1, (gx + 1) * w / Grid)
        var c = 0
        while (c < 3) {
          var acc = 0.0
          var n = 0
          var y = y0
          while (y < y1 && y < h) {
            var x = x0
            while (x < x1 && x < w) {
              acc += img((y * w + x) * 3 + c)
              n += 1
              x += 1
            }
            y += 1
          }
          out(c * Grid * Grid + gy * Grid + gx) =
            (acc / math.max(1, n)).toFloat
          c += 1
        }
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Deterministic seeded weight set (an xorshift over the seed)
    * written as `.npy` files — a reproducible conv "model" for
    * tests and smoke deployments; swap the directory for trained weights
    * in production. Default dim 2048 mirrors the reference's embedding
    * width (preprocess.py:210).
    */
  def writeWeights(dir: String, filters: Int = 4, hidden: Int = 16,
      dim: Int = 2048, seed: Long = 42L): Unit = {
    var x = seed | 1L
    def next(): Float = {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      (((x >>> 16) & 0xffff) / 65536.0f - 0.5f) * 0.2f
    }
    def gen(n: Int): Array[Float] = Array.fill(n)(next())
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    def put(name: String, shape: Seq[Int]): Unit =
      java.nio.file.Files.write(d.resolve(s"$name.npy"),
        Npy.write(shape, gen(shape.product)))
    val conv = Grid - KSize + 1
    val flat = filters * (conv / 2) * (conv / 2)
    put("C1", Seq(filters, 3 * KSize * KSize))
    put("cb1", Seq(filters))
    put("W1", Seq(flat, hidden))
    put("b1", Seq(hidden))
    put("W2", Seq(hidden, dim))
    put("b2", Seq(dim))
  }
}
