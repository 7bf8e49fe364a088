package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The Headline queries' plan shapes, pinned by counters instead of wall
  * time: per query, the Spark jobs one Bench materialization (noop write
  * after a warm-up run) starts, and the shuffle and broadcast Exchanges in
  * its final adaptive plans, subqueries included, a reused exchange
  * counted once. Both are exact at sf0.001, so a query that gains a job or
  * a shuffle fails here whatever the host's speed.
  */
class HeadlineCountersSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sfDir = Main.CliArgs().sfDir // the sf0.001 fixtures

  /** query → (jobs, exchanges). Each count was the same on 2 and on 4
    * cores, in two runs each. sim_mmr is left out: its counts changed
    * between runs on one core count (15 or 16 jobs, 12 or 13 Exchanges).
    */
  private val pinned: Map[String, (Int, Int)] = Map(
    "dd_clean_corpus" -> ((38, 28)),
    "dd_clusters_converged" -> ((58, 41)),
    "dd_exact" -> ((4, 2)),
    "dd_lsh_sweep" -> ((17, 12)),
    "dd_minhash_lsh" -> ((6, 4)),
    "dd_substring" -> ((8, 5)),
    "dq_expectations" -> ((10, 7)),
    "er_entities" -> ((29, 20)),
    "er_pairs" -> ((7, 4)),
    "er_report" -> ((34, 26)),
    "ev_asof_native" -> ((5, 3)),
    "ev_sessionize" -> ((3, 1)),
    "mm_asset_dedup" -> ((4, 2)),
    "mm_audio_clusters" -> ((20, 13)),
    "mm_video_neardup" -> ((11, 8)),
    "q1_agg" -> ((3, 1)),
    "q25_profile" -> ((5, 3)),
    "q27_bloom_join" -> ((7, 4)),
    "ref_crop_video" -> ((3, 1)),
    "ref_tfrecord_roundtrip" -> ((5, 2)),
    "sim_ivfpq" -> ((11, 6)),
    "txt_bigram_lm" -> ((13, 9)),
    "txt_bm25" -> ((7, 3)))

  private def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size

  private def measure(name: String): (Int, Int) = {
    def write(): Unit = SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    // the warm-up's own fence drains its plan event before the listener
    // below is registered, so only the counted run's plans are seen
    Counters.during(spark)(write())
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the counters' fence also drains the plan listener: both sit on the
    // listener bus's shared queue
    val (_, counts) = try Counters.during(spark)(write())
      finally spark.listenerManager.unregister(listener)
    (counts.jobs, plans.asScala.map(exchanges).sum)
  }

  test("Headline queries start their pinned jobs and Exchanges at sf0.001") {
    assert(pinned.keySet.diff(Bench.Headline.toSet).isEmpty)
    val got = pinned.keys.toSeq.sorted.map(n => n -> measure(n))
    val wrong = got.filter { case (n, c) => pinned(n) != c }
    assert(wrong.isEmpty, got.map { case (n, (j, e)) =>
      s""""$n" -> ($j, $e)""" }.mkString("\n", ",\n", ""))
  }
}
