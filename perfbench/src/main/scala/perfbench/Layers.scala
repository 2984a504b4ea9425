package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.cluster.NilCluster
import graft.core.InputDoc
import graft.kb.Registry
import graft.link.Linker
import graft.merge.MergeAnnsets
import graft.ner.{RegexNer, TrieNer}

/** The isolated layer calls of a traced run: on one materialized input,
  * each layer's public function in pipeline order, every result
  * materialized inside its span, then the whole `Pipeline.run`. The counts
  * come from untimed jobs after the spans.
  */
object Layers {
  def isolated(spark: SparkSession, run: Run, trace: Trace, docs: Dataset[InputDoc],
      nDocs: Double): Unit = {
    val registry = Registry.seed(spark).toDF().localCheckpoint()
    val regRows = registry.count()
    val text = Pipeline.docText(spark, docs).localCheckpoint()
    val (trie, regex) = trace.span("TrieNer+RegexNer.mentions", "ner")(
      (TrieNer.mentions(spark, docs).localCheckpoint(),
        RegexNer.mentions(spark, docs).localCheckpoint()))
    val merged = trace.span("MergeAnnsets.merge", "merge")(
      MergeAnnsets.merge(spark, Seq(trie, regex)).localCheckpoint())
    val (linked, candidates) = trace.span("Linker.linkWithCandidates", "link") {
      val (l, c) = Linker.linkWithCandidates(spark, merged, text, registry,
        registryRows = Some(regRows))
      (l.localCheckpoint(), c.localCheckpoint())
    }
    val nil = linked.filter(col("is_nil") && col("mention_type") =!= "DATE").localCheckpoint()
    val clusters = trace.span("NilCluster.clusterFull", "cluster") {
      val r = NilCluster.clusterFull(spark, nil)
      r.surfaceMap.localCheckpoint()
      r.clusters.localCheckpoint()
    }
    val triples = trace.span("Pipeline.run", "pipeline")(
      Pipeline.run(spark, docs, registry).triples.count())

    val spans = trace.collected().map(s => s._1.name -> s).toMap
    def wall(n: String) = spans(n)._1.wallS
    def sum(n: String)(f: StageRec => Double) = spans(n)._2.map(f).sum
    val nLinked = linked.count().toDouble
    val L = run.layers
    L("ner.wall_s") = wall("TrieNer+RegexNer.mentions")
    L("ner.task_cpu_s") = sum("TrieNer+RegexNer.mentions")(_.cpuS)
    L("ner.mentions_per_doc") = (trie.count() + regex.count()) / nDocs
    L("merge.wall_s") = wall("MergeAnnsets.merge")
    L("merge.shuffle_bytes") = sum("MergeAnnsets.merge")(_.shuffleWriteBytes.toDouble)
    L("merge.kept_ratio") = merged.count().toDouble / (trie.count() + regex.count())
    L("link.wall_s") = wall("Linker.linkWithCandidates")
    L("link.task_cpu_s") = sum("Linker.linkWithCandidates")(_.cpuS)
    L("link.gc_s") = sum("Linker.linkWithCandidates")(_.gcS)
    L("link.shuffle_bytes") = sum("Linker.linkWithCandidates")(_.shuffleWriteBytes.toDouble)
    L("link.spill_bytes") = sum("Linker.linkWithCandidates")(_.spillBytes.toDouble)
    L("link.candidates_per_mention") = candidates.count() / nLinked
    L("link.nil_ratio") = linked.filter(col("is_nil")).count() / nLinked
    L("cluster.wall_s") = wall("NilCluster.clusterFull")
    L("cluster.nil_mentions") = nil.count().toDouble
    L("cluster.surfaces") = nil.select(lower(col("mention"))).distinct().count().toDouble
    L("cluster.clusters") = clusters.count().toDouble
    val (p, st, jobs, iv) = spans("Pipeline.run")
    val busy = Trace.covered(iv, p.startMs, p.endMs) / 1e3
    L("pipeline.wall_s") = p.wallS
    L("pipeline.jobs") = jobs.toDouble
    L("pipeline.stages") = st.size.toDouble
    L("pipeline.driver_idle_s") = (p.endMs - p.startMs) / 1e3 - busy
    L("pipeline.core_util") = iv.map { case (a, b) => b - a }.sum / 1e3 /
      (p.wallS * spark.sparkContext.defaultParallelism)
    L("pipeline.gc_s") = st.map(_.gcS).sum
    L("pipeline.shuffle_bytes") = st.map(_.shuffleWriteBytes.toDouble).sum
    L("pipeline.spill_bytes") = st.map(_.spillBytes.toDouble).sum
    L("pipeline.triples_per_doc") = triples / nDocs
  }
}
