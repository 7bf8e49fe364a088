package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Exact-distinct bitmap as a typed `Aggregator`: one bit per id over a
  * bounded id space of `words × 64` — the EXACT member of the sketch
  * family (KMV/HLL estimate cardinality, Bloom tests membership with
  * false positives; a bitmap is precise on all three and additionally
  * supports set intersection on the finished values). This is the
  * Druid/ClickHouse `groupBitmap` pattern: build one bitmap per group in
  * a single combinable aggregation — merge is bitwise OR (commutative,
  * associative, idempotent, so duplicates cost nothing and no upstream
  * DISTINCT pass is needed) — then answer intersection questions
  * (retention, overlap) with a bitwise AND over the
  * model-sized bitmap table instead of re-joining the corpus per
  * question.
  *
  * The dense fixed array is right for compact id spaces (the fixture's
  * user_id, dictionary-encoded ids, row ordinals). For sparse billions
  * of raw ids the production swap is a compressed bitmap (RoaringBitmap)
  * behind the same reduce/merge contract — or dictionary-encode first;
  * an id ≥ `words × 64` fails loudly in reduce rather than silently
  * aliasing.
  */
final class BitmapSketch(words: Int)
    extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {

  require(words > 0, s"bad bitmap size: $words words")

  override def zero: Array[Long] = new Array[Long](words)

  override def reduce(buf: Array[Long], id: java.lang.Long): Array[Long] = {
    if (id == null) return buf // SQL aggregate null-skip semantics
    val i = id.longValue
    require(i >= 0 && i < words.toLong * 64,
      s"id $i outside the bitmap's [0, ${words.toLong * 64}) id space — " +
        "dictionary-encode or widen the sketch")
    buf((i >>> 6).toInt) |= 1L << (i & 63)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  // native columnar encoding (unsafe array), not java serialization —
  // the bitmap crosses the shuffle on every partial merge
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object BitmapSketch {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Exact cardinality of a finished bitmap column — a narrow codegen'd
    * popcount fold, no data touched.
    */
  def cardinality(bitmap: Column): Column =
    aggregate(transform(bitmap, w => bit_count(w).cast("long")),
      lit(0L), (acc, c) => acc + c)

  /** Set intersection of two equally-sized bitmap columns. */
  def and(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x.bitwiseAND(y))
}
