package graft.pipeline

import graft.SparkSpec
import graft.queries.MultimodalQ

/** The metadata-only media queries (`mm_asset_stats`, `mm_asset_dedup`)
  * over binary payload columns: they never decode.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("assetStats: metadata-only accounting never decodes") {
    val assets = Seq(
      (1L, "image", "imgbytes-1".getBytes),
      (2L, "image", "imgbytes-2".getBytes),
      (3L, "audio", "pcmbytes-3".getBytes),
      (4L, "video", "vidbytes-4".getBytes)).toDF("asset_id", "kind", "content")
    val stats = MultimodalQ.assetStats(assets).orderBy("kind").collect()
    assert(stats.map(_.getString(0)).toSeq === Seq("audio", "image", "video"))
    assert(stats.map(r => r.getLong(1)).toSeq === Seq(1L, 2L, 1L))
  }

  test("dedupByContent: groups of two or more, smallest id, never across kinds") {
    val shared = "same-bytes".getBytes
    val assets = Seq(
      (7L, "image", shared),
      (3L, "image", shared.clone()),
      (5L, "image", shared.clone()),
      (1L, "video", shared.clone()), // same bytes, other kind: own group
      (2L, "audio", "unique-a".getBytes),
      (4L, "audio", "unique-b".getBytes),
      (9L, "video", "clip".getBytes),
      (8L, "video", "clip".getBytes)).toDF("asset_id", "kind", "content")
    val groups = MultimodalQ.dedupByContent(assets)
      .select("kind", "n_assets", "canonical_id")
      .as[(String, Long, Long)].collect().sortBy(_._3).toSeq
    assert(groups === Seq(("image", 3L, 3L), ("video", 2L, 8L)))
  }
}
