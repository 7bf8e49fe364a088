package graft.pipeline

import org.apache.spark.sql.Dataset
import scala.collection.mutable

/** O8 — batched model inference (reference: preprocess.py:192-265).
  *
  * The reference's DoFn buffers rows per (dataset, image shape) until
  * batch_size, runs predict_on_batch, and flushes stragglers in
  * finish_bundle. The Spark-native shape is `mapPartitions` with the same
  * shape-keyed micro-batching; the end-of-iterator flush replaces
  * finish_bundle and is strictly simpler (no WindowedValue re-wrapping, and
  * none of the buffer-overflow bug the reference TODOs at preprocess.py:263).
  *
  * Model state lives in a per-executor lazy singleton ([[Embedder.setup]] is
  * called at most once per JVM per embedder class), mirroring DoFn.setup.
  */
trait Embedder extends Serializable {

  /** Embedding dimension of [[embed]]'s outputs. */
  def dim: Int

  /** One-time per-executor initialization (load weights etc). */
  def setup(): Unit = ()

  /** Identity of the per-JVM singleton cache slot this embedder shares.
    * Includes configuration, not just the class: two embedders of the same
    * class with different `dim` must NOT share one instance.
    */
  def cacheKey: String = s"${getClass.getName}#dim=$dim"

  /** Embed one batch of equally-shaped images. */
  def embed(images: Seq[Array[Float]]): Seq[Array[Float]]

  /** Shape-aware variant: [[Embed.run]] batches per (dataset, height,
    * width), so the batch's geometry is always known — geometry-aware
    * models (conv stems, [[ConvEmbedder]]) override THIS; shape-blind
    * embedders inherit the delegation and notice nothing.
    */
  def embed(images: Seq[Array[Float]], height: Int,
      width: Int): Seq[Array[Float]] = embed(images)
}

/** Deterministic stub standing in for Inception-V3 (no ML runtime in this
  * container): each logit is a cheap hash-mix of the image contents, so
  * results are stable across runs and partition placements. Default dim
  * matches the reference's 2048 (preprocess.py:210).
  */
final class HashEmbedder(override val dim: Int = 2048) extends Embedder {
  override def embed(images: Seq[Array[Float]]): Seq[Array[Float]] =
    images.map { img =>
      var seed = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < img.length) {
        seed = (seed ^ java.lang.Float.floatToIntBits(img(i))) *
          0x100000001b3L
        i += 1
      }
      val out = new Array[Float](dim)
      var j = 0
      var x = seed
      while (j < dim) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        out(j) = ((x >>> 16) & 0xffff) / 65536.0f
        j += 1
      }
      out
    }
}

/** Production embedder over ONNX Runtime, bound reflectively so the
  * library compiles and runs without the (absent offline) runtime jars:
  * without `ai.onnxruntime` on the executor classpath, [[setup]] fails
  * with an actionable message instead of embedding anything. Stands in
  * for the reference's TF-Hub Inception-V3 predict_on_batch
  * (preprocess.py:192-265) through Embed.run's shape-keyed batching and
  * per-JVM setup() singleton.
  *
  * `inputShape` is the per-image tensor shape the model expects (e.g.
  * 299,299,3); the batch dimension is prepended per call.
  */
final class OnnxEmbedder(modelPath: String, inputShape: Seq[Int],
    override val dim: Int = 2048) extends Embedder {

  // reflected per-JVM session state, built once in setup()
  @transient private var runBatch: Seq[Array[Float]] => Seq[Array[Float]] = _

  override def cacheKey: String =
    // inputShape is part of the key: NHWC and NCHW variants of the same
    // model have equal element counts, so sharing a singleton across them
    // would feed tensors with the wrong layout
    s"${getClass.getName}#model=$modelPath#dim=$dim" +
      s"#shape=${inputShape.mkString("x")}"

  override def setup(): Unit = {
    require(OnnxEmbedder.available,
      s"ONNX inference of $modelPath requested but ai.onnxruntime is " +
        "not on the classpath — add the onnxruntime jar")
    val envCls = Class.forName("ai.onnxruntime.OrtEnvironment")
    val sessCls = Class.forName("ai.onnxruntime.OrtSession")
    val tensorCls = Class.forName("ai.onnxruntime.OnnxTensor")
    val valueCls = Class.forName("ai.onnxruntime.OnnxValue")
    val resultCls = Class.forName("ai.onnxruntime.OrtSession$Result")
    val env = envCls.getMethod("getEnvironment").invoke(null)
    val session = envCls.getMethod("createSession", classOf[String])
      .invoke(env, modelPath)
    val inputName = sessCls.getMethod("getInputNames").invoke(session)
      .asInstanceOf[java.util.Set[String]].iterator().next()
    val createTensor = tensorCls.getMethod("createTensor", envCls,
      classOf[java.nio.FloatBuffer], classOf[Array[Long]])
    val run = sessCls.getMethod("run", classOf[java.util.Map[_, _]])
    val resGet = resultCls.getMethod("get", classOf[Int])
    val getValue = valueCls.getMethod("getValue")
    val close = valueCls.getMethod("close")
    runBatch = { images =>
      val perImg = inputShape.product
      images.foreach(i => require(i.length == perImg,
        s"image has ${i.length} floats, model expects $perImg"))
      val flat = new Array[Float](images.length * perImg)
      images.zipWithIndex.foreach { case (img, i) =>
        System.arraycopy(img, 0, flat, i * perImg, perImg)
      }
      val shape = (images.length.toLong +: inputShape.map(_.toLong)).toArray
      val tensor = createTensor.invoke(null, env,
        java.nio.FloatBuffer.wrap(flat), shape)
      try {
        val result = run.invoke(session,
          java.util.Collections.singletonMap(inputName, tensor))
        try resGet.invoke(result, Integer.valueOf(0)) match {
          case v =>
            getValue.invoke(v).asInstanceOf[Array[Array[Float]]].toSeq
        } finally resultCls.getMethod("close").invoke(result)
      } finally close.invoke(tensor)
    }
  }

  override def embed(images: Seq[Array[Float]]): Seq[Array[Float]] = {
    require(runBatch != null, "setup() not called — embed through " +
      "Embed.run, which initializes the per-JVM singleton")
    runBatch(images)
  }
}

object OnnxEmbedder {

  /** True iff the ONNX Runtime binding is loadable in this JVM. */
  lazy val available: Boolean =
    try { Class.forName("ai.onnxruntime.OrtEnvironment"); true }
    catch { case _: ClassNotFoundException | _: LinkageError => false }
}

object Embed {

  // Per-executor-JVM singleton embedder (the Spark analog of DoFn.setup).
  // Each task deserializes its own Embedder copy; the first copy to arrive
  // is initialized and cached, and EVERY task embeds through the cached,
  // initialized instance — a per-class init *flag* alone would leave later
  // tasks' uninitialized copies doing the embedding.
  private val instances = mutable.Map.empty[String, Embedder]

  private[pipeline] def shared(e: Embedder): Embedder = instances.synchronized {
    instances.getOrElseUpdate(e.cacheKey, { e.setup(); e })
  }

  /** Replace `image` with `logits`, batching per (dataset, height, width)
    * inside each partition. Narrow transformation: embedding parallelism ==
    * upstream partitioning, and the wide `image` payload dies here, before
    * any shuffle (the reference's manual `del element["image"]`,
    * preprocess.py:241, is Catalyst column pruning made explicit).
    */
  def run(frames: Dataset[FrameRow], embedder: Embedder,
      batchSize: Int): Dataset[EmbeddedFrame] = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.mapPartitions { it =>
      val e = shared(embedder)
      val buffers =
        mutable.LinkedHashMap.empty[(String, Int, Int),
          mutable.ArrayBuffer[FrameRow]]

      def flush(key: (String, Int, Int)): Iterator[EmbeddedFrame] =
        buffers.remove(key) match {
          case Some(rows) =>
            val logits = e.embed(rows.map(_.image).toSeq, key._2, key._3)
            rows.iterator.zip(logits.iterator).map { case (r, l) =>
              EmbeddedFrame(r.filename, r.label, r.dataset, r.timestamp_ms,
                r.frame_per_sec, r.frame_total, l)
            }
          case None => Iterator.empty
        }

      def flushAll(): Iterator[EmbeddedFrame] =
        buffers.keys.toList.iterator.flatMap(flush)

      it.flatMap { r =>
        val key = (r.dataset, r.height, r.width)
        val buf = buffers.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        buf += r
        if (buf.size >= batchSize) flush(key) else Iterator.empty
      } ++ flushAll()
    }
  }
}
