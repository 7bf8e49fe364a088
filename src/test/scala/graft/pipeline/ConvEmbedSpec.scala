package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** [[ConvEmbedder]] + [[Npy]]: REAL convolutional inference, provable
  * offline — weights round-trip through the public .npy format;
  * conv→ReLU→maxpool→dense→ReLU→dense is golden-checked against
  * hand-computed values, proven GEOMETRY-aware (images with identical
  * channel statistics but different spatial layout embed differently —
  * the property global channel statistics cannot have),
  * batch/partition-invariant, and run end-to-end on raw (y4m) and
  * COMPRESSED (MJPEG AVI) real decode → conv → TFRecord. The offline
  * counterpart of the ONNX smoke that cancels without runtime jars.
  */
class ConvEmbedSpec extends SparkSpec {

  private def put(dir: String, name: String, shape: Seq[Int],
      data: Array[Float]): Unit =
    Files.write(java.nio.file.Path.of(dir, s"$name.npy"),
      Npy.write(shape, data))

  /** One all-ones 3×3×3 filter, all-ones dense layers, chosen biases:
    * every stage is hand-computable on a constant image.
    */
  private def onesModel(dir: String, cb: Float = 0f,
      b2: Array[Float] = Array(0f, 0f)): Unit = {
    put(dir, "C1", Seq(1, 27), Array.fill(27)(1f))
    put(dir, "cb1", Seq(1), Array(cb))
    put(dir, "W1", Seq(9, 2), Array.fill(18)(1f))
    put(dir, "b1", Seq(2), Array(0f, 0f))
    put(dir, "W2", Seq(2, 2), Array.fill(4)(1f))
    put(dir, "b2", Seq(2), b2)
  }

  test("NPY round-trips and rejects the unsupported loudly") {
    val data = Array.tabulate(12)(_ * 0.5f)
    val bytes = Npy.write(Seq(3, 4), data)
    val (shape, back) = Npy.read(bytes)
    assert(shape === Seq(3, 4) && back.toSeq === data.toSeq)
    // 1-D writes the spec's one-tuple form "(n,)"
    val (s1, b1) = Npy.read(Npy.write(Seq(5), Array.fill(5)(1f)))
    assert(s1 === Seq(5) && b1.forall(_ == 1f))
    // header is 64-byte aligned as the spec prescribes
    assert((10 + ((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8))) % 64 === 0)

    intercept[IllegalArgumentException](Npy.read("junk".getBytes))
    intercept[IllegalArgumentException](Npy.read(bytes.dropRight(1)))
    val asF = Npy.write(Seq(3, 4), data)
    val hdr = new String(asF, "ISO-8859-1")
      .replace("'fortran_order': False", "'fortran_order': True ")
      .getBytes("ISO-8859-1")
    intercept[IllegalArgumentException](Npy.read(hdr))
  }

  test("golden forward pass: pool -> conv -> ReLU -> maxpool -> dense x2") {
    val dir = Files.createTempDirectory("conv_golden").toString
    onesModel(dir)
    val e = new ConvEmbedder(dir, dim = 2)
    e.setup()
    // constant image v: pooled grid is all v (box means of a constant);
    // each 3×3×3 valid conv sums 27v; maxpool keeps 27v; dense1 sums the
    // 9 flat cells → h_j = 243v (both units); dense2 sums both units →
    // out_k = 486v. v = 0.1 → 48.6
    val img = Array.fill(5 * 7 * 3)(0.1f)
    val out = e.embed(Seq(img), 5, 7).head
    assert(out.length === 2)
    out.foreach(v => assert(math.abs(v - 48.6f) < 1e-3, s"got $v"))
    // ReLU clamps at the CONV stage: bias −10 kills the 2.7 activation,
    // so only the output biases survive
    val dir2 = Files.createTempDirectory("conv_relu").toString
    onesModel(dir2, cb = -10f, b2 = Array(0.5f, 0f))
    val e2 = new ConvEmbedder(dir2, dim = 2)
    e2.setup()
    assert(e2.embed(Seq(img), 5, 7).head.toSeq === Seq(0.5f, 0f))
  }

  test("geometry awareness: identical channel stats, different layout") {
    val dir = Files.createTempDirectory("conv_geo").toString
    ConvEmbedder.writeWeights(dir, filters = 4, hidden = 16, dim = 8,
      seed = 5L)
    val e = new ConvEmbedder(dir, dim = 8)
    e.setup()
    // 8×8, half bright half dark — split VERTICALLY vs HORIZONTALLY:
    // per-channel mean/std/min/max are bit-identical between the two,
    // so any purely-statistical feature map embeds them equally; a conv
    // stem must not
    val leftRight = Array.tabulate(8 * 8 * 3) { i =>
      val x = (i / 3) % 8; if (x < 4) 1f else 0f
    }
    val topBottom = Array.tabulate(8 * 8 * 3) { i =>
      val y = (i / 3) / 8; if (y < 4) 1f else 0f
    }
    val Seq(a, b) = e.embed(Seq(leftRight, topBottom), 8, 8)
    assert(a.toSeq !== b.toSeq)
    // sanity: per-channel mean/std/min/max cannot tell them apart
    def channelStats(img: Array[Float]): Seq[Double] = (0 until 3).flatMap {
      c =>
        val v = img.indices.filter(_ % 3 == c).map(img(_).toDouble)
        val mean = v.sum / v.size
        Seq(mean, math.sqrt(v.map(x => (x - mean) * (x - mean)).sum / v.size),
          v.min, v.max)
    }
    assert(channelStats(leftRight) === channelStats(topBottom))
    // and the same image twice embeds identically (determinism)
    val Seq(a2, a3) = e.embed(Seq(leftRight, leftRight), 8, 8)
    assert(a2.toSeq === a.toSeq && a3.toSeq === a.toSeq)
  }

  test("misuse fails loudly: shape mismatch, unshaped embed, bad weights") {
    val dir = Files.createTempDirectory("conv_misuse").toString
    ConvEmbedder.writeWeights(dir, filters = 2, hidden = 4, dim = 3,
      seed = 9L)
    val e = new ConvEmbedder(dir, dim = 3)
    e.setup()
    val img = Array.fill(4 * 4 * 3)(0.5f)
    intercept[IllegalArgumentException](e.embed(Seq(img), 4, 5)) // lies
    intercept[IllegalStateException](e.embed(Seq(img))) // geometry-blind
    // a dim mismatch between the weights and the declared output fails
    // at setup, not as garbage logits
    val wrong = new ConvEmbedder(dir, dim = 7)
    intercept[IllegalArgumentException](wrong.setup())
  }

  test("Embed.run threads the batch shape: partition-invariant conv") {
    import spark.implicits._
    val dir = Files.createTempDirectory("conv_run").toString
    ConvEmbedder.writeWeights(dir, filters = 4, hidden = 8, dim = 4,
      seed = 13L)
    val dec = new SyntheticFrameDecoder()
    val rows = Seq.tabulate(30) { i =>
      dec.decode(s"corp/l$i/s/v$i.mp4", null, 500).map(f =>
        FrameRow(s"corp/l$i/s/v$i.mp4", s"l$i", "train", f.timestampMs,
          f.framePerSec, f.frameTotal, f.height, f.width, f.image)).toSeq
    }.flatten
    def logitsOf(parts: Int): Map[(String, Long), Seq[Float]] =
      Embed.run(spark.createDataset(rows).repartition(parts),
          new ConvEmbedder(dir, dim = 4), batchSize = 16)
        .collect().map(r =>
          (r.filename, r.timestamp_ms) -> r.logits.toSeq).toMap
    val one = logitsOf(1)
    val many = logitsOf(7)
    assert(one.nonEmpty && one === many) // slicing never changes the math
    assert(one.values.forall(_.size === 4))
    assert(one.values.toSet.size > 1) // real pixels → distinct logits
  }

  test("ZERO-STUB pipeline: y4m real decode -> real conv -> TFRecord") {
    import graft.Main
    import graft.tfrecord.TFRecords
    import spark.implicits._
    def gray(y: Int): Array[Byte] = {
      val f = new Array[Byte](4 * 4 + 2 * 4); java.util.Arrays.fill(f, y.toByte)
      java.util.Arrays.fill(f, 16, 24, 128.toByte)
      f
    }
    val clips = Seq(
      ("file:/zs/catA/c/v1.avi",
        Y4MFrameDecoder.write(4, 4, 2, 1, "420mpeg2", Seq(gray(60)))),
      ("file:/zs/catB/c/v2.avi",
        Y4MFrameDecoder.write(4, 4, 2, 1, "420mpeg2",
          Seq(gray(120), gray(200)))))
    val wDir = Files.createTempDirectory("conv_y4m").toString
    ConvEmbedder.writeWeights(wDir, filters = 4, hidden = 8, dim = 6,
      seed = 11L)
    val out = Files.createTempDirectory("zs_out").toString
    Main.run(clips.toDF("filename", "content"), out,
      Main.Config(mode = Main.FullVideo, embeddingDim = 6),
      decoder = new Y4MFrameDecoder,
      embedder = Some(new ConvEmbedder(wDir, dim = 6)))
    val back = TFRecords.read(spark, out, Main.sampleSchema(Main.FullVideo))
      .selectExpr("filename", "label", "size(logits) AS nf",
        "aggregate(flatten(logits), 0D, (a, x) -> a + x) AS lsum")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getDouble(3))).sortBy(_._1)
    assert(back.map(t => (t._1, t._2, t._3)).toSeq === Seq(
      ("file:/zs/catA/c/v1.avi", "catA", 1),
      ("file:/zs/catB/c/v2.avi", "catB", 2)))
    // different real pixels through real weights → different embeddings
    assert(back(0)._4 !== back(1)._4)
    // and different WEIGHTS change the embeddings of the same pixels:
    // the logits demonstrably come from the loaded model, not the input
    val wDir2 = Files.createTempDirectory("conv_y4m2").toString
    ConvEmbedder.writeWeights(wDir2, filters = 4, hidden = 8, dim = 6,
      seed = 12L)
    val out2 = Files.createTempDirectory("zs_out2").toString
    Main.run(clips.toDF("filename", "content"), out2,
      Main.Config(mode = Main.FullVideo, embeddingDim = 6),
      decoder = new Y4MFrameDecoder,
      embedder = Some(new ConvEmbedder(wDir2, dim = 6)))
    val sum2 = TFRecords.read(spark, out2, Main.sampleSchema(Main.FullVideo))
      .selectExpr("aggregate(flatten(logits), 0D, (a, x) -> a + x) AS s")
      .as[Double].collect().sorted
    assert(sum2.toSeq !== back.map(_._4).sorted.toSeq)
  }

  test("COMPRESSED decode -> conv inference -> TFRecord, end to end") {
    import graft.Main
    import graft.tfrecord.TFRecords
    import spark.implicits._
    // the punchline fixture: two videos whose frames have IDENTICAL
    // channel statistics and differ only in geometry (vertical vs
    // horizontal split) — only a real decode feeding a real conv stem
    // can tell them apart at the TFRecord sink
    def split(vertical: Boolean): Array[Float] =
      Array.tabulate(8 * 8 * 3) { i =>
        val p = i / 3
        val c = if (vertical) p % 8 else p / 8
        if (c < 4) 0.9f else 0.1f
      }
    def avi(rgb: Array[Float]): Array[Byte] =
      AviMjpegFrameDecoder.write(8, 8, 2, 1,
        Seq(AviMjpegFrameDecoder.encodeJpeg(rgb, 8, 8)))
    val clips = Seq(
      ("file:/cz/catA/c/v1.mkv", avi(split(vertical = true))),
      ("file:/cz/catB/c/v2.mkv", avi(split(vertical = false))))
    val wDir = Files.createTempDirectory("conv_zs").toString
    ConvEmbedder.writeWeights(wDir, filters = 4, hidden = 8, dim = 6,
      seed = 21L)
    val out = Files.createTempDirectory("cz_out").toString
    Main.run(clips.toDF("filename", "content"), out,
      Main.Config(mode = Main.FullVideo, embeddingDim = 6),
      decoder = new AutoFrameDecoder(),
      embedder = Some(new ConvEmbedder(wDir, dim = 6)))
    val back = TFRecords.read(spark, out, Main.sampleSchema(Main.FullVideo))
      .selectExpr("filename", "label",
        "aggregate(flatten(logits), 0D, (a, x) -> a + x) AS lsum")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(back.map(t => (t._1, t._2)).toSeq === Seq(
      ("file:/cz/catA/c/v1.mkv", "catA"), ("file:/cz/catB/c/v2.mkv", "catB")))
    assert(back(0)._3 !== back(1)._3) // geometry reached the sink
    // different WEIGHTS change the same pixels' embeddings: the logits
    // demonstrably come from the loaded conv model
    val wDir2 = Files.createTempDirectory("conv_zs2").toString
    ConvEmbedder.writeWeights(wDir2, filters = 4, hidden = 8, dim = 6,
      seed = 22L)
    val out2 = Files.createTempDirectory("cz_out2").toString
    Main.run(clips.toDF("filename", "content"), out2,
      Main.Config(mode = Main.FullVideo, embeddingDim = 6),
      decoder = new AutoFrameDecoder(),
      embedder = Some(new ConvEmbedder(wDir2, dim = 6)))
    val sum2 = TFRecords.read(spark, out2, Main.sampleSchema(Main.FullVideo))
      .selectExpr("aggregate(flatten(logits), 0D, (a, x) -> a + x) AS s")
      .as[Double].collect().sorted
    assert(sum2.toSeq !== back.map(_._3).sorted.toSeq)
  }
}
