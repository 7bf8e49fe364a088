package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the load-if-present ONNX seam honest, mirroring
  * FfmpegDecodeSmokeSpec for the O8 inference stage: when the ONNX
  * Runtime jars are on the classpath AND a deployment provides a model
  * via `SPARK_GRAFT_ONNX_MODEL` (with `SPARK_GRAFT_ONNX_SHAPE`, e.g.
  * "3,8,8", and `SPARK_GRAFT_ONNX_DIM`), run REAL inference through the
  * exact production path (OnnxEmbedder.setup + batched embed) and assert
  * the output contract; in the offline container every test here CANCELS
  * visibly via `assume`.
  *
  * Unlike FFmpeg (where a clip can be synthesized with the same
  * library), a valid .onnx model cannot be authored offline without the
  * converter toolchain — hand-rolled model bytes that this sandbox can
  * never validate would risk failing exactly where the jars DO exist.
  * The deployment supplies the model; the spec supplies the contract.
  */
class OnnxEmbedSmokeSpec extends AnyFunSuite {

  private def cfg: Option[(String, Seq[Int], Int)] = for {
    path <- sys.env.get("SPARK_GRAFT_ONNX_MODEL")
    shape <- sys.env.get("SPARK_GRAFT_ONNX_SHAPE")
      .map(_.split(',').map(_.trim.toInt).toSeq)
    dim <- sys.env.get("SPARK_GRAFT_ONNX_DIM").map(_.trim.toInt)
  } yield (path, shape, dim)

  test("real model inference honors the Embedder contract") {
    assume(OnnxEmbedder.available,
      "ai.onnxruntime not on classpath — offline container, smoke skipped")
    assume(cfg.nonEmpty,
      "SPARK_GRAFT_ONNX_MODEL/_SHAPE/_DIM not set — no model provided")
    val (path, shape, dim) = cfg.get
    val e = new OnnxEmbedder(path, shape, dim)
    e.setup()
    val perImg = shape.product
    def img(seed: Int) =
      Array.tabulate(perImg)(i => ((seed * 31 + i) % 255) / 255.0f)
    val batch = Seq(img(1), img(2), img(3))
    val out = e.embed(batch)
    assert(out.length == batch.length, "one embedding per input")
    out.foreach(v => assert(v.length == dim,
      s"embedding dim ${v.length}, expected $dim"))
    // determinism: same inputs, same outputs (inference must be pure)
    val again = e.embed(batch)
    batch.indices.foreach(i =>
      assert(out(i).sameElements(again(i)), s"non-deterministic row $i"))
    // batching must not leak across rows: row 0 alone == row 0 in batch
    val solo = e.embed(Seq(img(1)))
    assert(solo.head.sameElements(out.head),
      "batch context changed a row's embedding")
  }
}
