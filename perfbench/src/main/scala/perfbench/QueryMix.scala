package perfbench

import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** query_mix: one client in a closed loop. Each unit of work is one pass of
  * the queries below, each `SparkEntry.queries(name)(session, dir).count()`,
  * in a fresh session, because the program memoizes stages per session.
  * Set-up runs every query once, spread over more threads than cores (the
  * queries are mostly driver-side planning at this size), which pays JIT and
  * codegen warm-up in less time than one sequential pass.
  */
object QueryMix {
  /** Bench.headline without its kg_* queries, in Bench's order. */
  val Queries = Seq(
    "q1_agg", "q2_topk_window", "q3_join_agg", "q6_sessionize",
    "q13_interval_overlap", "q16_asof", "q17_rollup", "q18_range_join",
    "t1_exact_dedup", "t6_ngram_neardup", "t7_minhash_lsh", "t8_simhash",
    "t11_splits", "e1_ann_topk", "e2_ann_lsh", "e4_ann_ivf",
    "q29_path2", "q30_pagerank", "q34_bloom_join",
    "t27_tfidf", "t30_dsir", "q54_skyline",
    "q57_ancestors", "t39_best_rep", "t40_bpe_step")
  val WarmThreads = 8

  def run(spark: SparkSession, run: Run): Unit = {
    val dir = s"${run.args.data}/sf"
    val pool = Executors.newFixedThreadPool(WarmThreads)
    try (0 until WarmThreads).map { k =>
      pool.submit[Unit](() => {
        val s = spark.newSession()
        Queries.indices.filter(_ % WarmThreads == k)
          .foreach(i => SparkEntry.queries(Queries(i))(s, dir).count())
      })
    }.foreach(_.get())
    finally pool.shutdown()

    val passes = ArrayBuffer.empty[Seq[Long]]
    var ok = true
    while (ok && run.more) {
      val s = spark.newSession()
      val rows = Queries.map(q =>
        run.call(s"SparkEntry.queries($q)", "ops")(SparkEntry.queries(q)(s, dir).count()))
      ok = rows.forall(_.isDefined)
      if (ok) {
        run.ops += run.calls.takeRight(Queries.size).sum
        passes += rows.flatten
      }
    }
    run.check("row counts equal across passes")(passes.distinct.size <= 1)
    passes.headOption.foreach(_.zip(Queries).foreach { case (n, q) =>
      run.observed(s"rows.$q") = n.toString })

    run.trace.foreach { trace =>
      val spans = trace.collected()
      Queries.foreach(q => run.layers(s"ops.${q}_s") =
        Stats.median(spans.filter(_._1.name == s"SparkEntry.queries($q)").map(_._1.wallS)))
      val stages = spans.flatMap(_._2)
      run.layers("ops.shuffle_bytes") = stages.map(_.shuffleWriteBytes.toDouble).sum / passes.size
      run.layers("ops.gc_s") = stages.map(_.gcS).sum / passes.size
    }
  }
}
