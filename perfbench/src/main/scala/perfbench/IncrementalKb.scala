package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Incremental
import graft.core.{InputDoc, Span}
import graft.kb.Registry

/** incremental_kb: one client in a closed loop. Each unit of work is one
  * `Incremental.processBatch` of the next corpus batch; between batches the
  * client calls `Incremental.reannotate` on seeded docs of earlier batches.
  * Set-up opens the KB with batch 0, which pays JIT and codegen warm-up.
  */
object IncrementalKb {
  /** Units a traced run adds after the measured ones, so that it measures a
    * reannotate and the growth of batch wall time has two points.
    */
  val SlopeUnits = 1
  /** Batches from the end of the corpus that feed the isolated layer calls
    * of a traced run; no run reaches them.
    */
  val IsolatedBatches = 2

  def run(spark: SparkSession, run: Run): Unit = {
    import spark.implicits._
    val a = run.args
    val params = Main.json.readTree(new java.io.File(s"${a.data}/kb/params.json"))
    val reannotateDocs = params.get("REANNOTATE_DOCS").asInt
    val corpus = spark.read.parquet(s"${a.data}/kb/corpus.parquet")
    val all = corpus.as[(String, Seq[Span], Int)].collect()
    val byBatch = all.groupBy(_._3).map { case (b, docs) =>
      b -> docs.map(d => InputDoc(d._1, d._2)).sortBy(_.doc_id).toSeq }
    val nBatches = byBatch.keys.max + 1
    def batch(b: Int): Dataset[InputDoc] =
      corpus.filter(col("batch") === b).drop("batch").as[InputDoc]

    val workDir = s"${a.work}/kb"
    val t = Incremental.Tables(workDir)
    t.registry.overwrite(Registry.seed(spark).toDF())
    Incremental.processBatch(spark, t, batch(0), 0, None)

    val rng = new scala.util.Random(a.seed)
    val reannotated = mutable.Set.empty[String]
    val snapshots = mutable.ArrayBuffer(t.triples.latestSnapshot.get)
    val fsDeltas = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)] // bytes, files, commits, input
    var b = 1

    /** Between batches, a reannotate of seeded docs from the earlier
      * batches; then processBatch(b). False once a call has failed.
      */
    def unit(measured: Boolean): Boolean = {
      val reannotateOk = b == 1 || {
        val ids = rng.shuffle((0 until b).flatMap(byBatch(_).map(_.doc_id))).take(reannotateDocs)
        reannotated ++= ids
        val ok = run.call("Incremental.reannotate", "incremental", measured)(
          Incremental.reannotate(spark, workDir, ids)).isDefined
        snapshots += t.triples.latestSnapshot.get
        ok
      }
      reannotateOk && {
        val before = if (run.trace.isDefined) tableStats(t, workDir) else (0L, 0L, 0L)
        val ok = run.call("Incremental.processBatch", "incremental", measured)(
          Incremental.processBatch(spark, t, batch(b), b, None)).isDefined
        if (run.trace.isDefined) {
          val after = tableStats(t, workDir)
          fsDeltas += ((after._1 - before._1, after._2 - before._2, after._3 - before._3,
            inputBytes(byBatch(b))))
        }
        if (ok && measured) run.ops += run.calls.last
        snapshots += t.triples.latestSnapshot.get
        b += 1
        ok
      }
    }

    var ok = true
    while (ok && b < nBatches - IsolatedBatches && run.more) ok = unit(measured = true)
    if (run.trace.isDefined)
      (0 until SlopeUnits).foreach(_ => if (ok && b < nBatches - IsolatedBatches) ok = unit(false))

    // Output checks: the KB tables against the input of every batch run.
    val input = (0 until b).flatMap(byBatch)
    val stored = t.documents.read(spark).get.as[InputDoc].collect()
    run.check("documents table equals the input")(stored.length == input.length &&
      stored.map(d => d.doc_id -> d.spans).toMap == input.map(d => d.doc_id -> d.spans).toMap)
    val triples = t.triples.read(spark).get.select("doc_id", "subj", "pred", "obj")
      .as[(String, String, String, String)]
    val media = triples.filter(col("pred") === ":hasMedia")
      .select("doc_id", "obj").as[(String, String)].collect().toSet
    run.check(":hasMedia triples equal the input's media spans")(media == input.flatMap(d =>
      d.spans.filter(_.kind == "media").map(s => (d.doc_id, s.media_ref))).toSet)
    // Copies of a doc share a batch; those never reannotated must match.
    val twins = input.groupBy(_.spans).values
      .map(_.map(_.doc_id).filterNot(reannotated)).filter(_.size > 1).toSeq
    val twinTriples = triples.filter(col("doc_id").isin(twins.flatten: _*)).collect()
      .groupBy(_._1).map { case (d, rows) =>
        def norm(x: String) = if (x == s"doc:$d") "doc:" else x
        d -> rows.map(r => (norm(r._2), r._3, norm(r._4))).toSet }
    run.check("identical docs give identical triple sets")(twins.forall(g =>
      g.map(twinTriples.getOrElse(_, Set.empty)).distinct.size == 1))
    snapshots.zipWithIndex.foreach { case (id, step) =>
      val r = t.triples.readSnapshot(spark, id).agg(count(lit(1)),
        sum(xxhash64(col("doc_id"), col("subj"), col("pred"), col("obj"))
          .cast("decimal(38,0)"))).head()
      run.observed(s"triples_digest.step$step") = s"${r.getLong(0)}:${r.get(1)}"
    }

    run.trace.foreach { trace =>
      val spans = trace.collected()
      val batches = spans.filter(_._1.name == "Incremental.processBatch")
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      run.layers("incremental.jobs_per_batch") = mean(batches.map(_._3.toDouble))
      run.layers("incremental.driver_idle_s_per_batch") = mean(batches.map { case (s, _, _, iv) =>
        (s.endMs - s.startMs - Trace.covered(iv, s.startMs, s.endMs)) / 1e3 })
      run.layers("incremental.batch_wall_slope_s") = slope(batches.map(_._1.wallS))
      run.layers("incremental.reannotate_p50_s") = Stats.median(
        spans.filter(_._1.name == "Incremental.reannotate").map(_._1.wallS))
      run.layers("tables.wall_s") = mean(batches.map { case (s, st, _, _) =>
        Trace.covered(st.filter(_.layer == "tables").map(r => (r.submitMs, r.endMs)),
          s.startMs, s.endMs) / 1e3 })
      val written = fsDeltas.map(_._1).sum.toDouble
      val commits = fsDeltas.map(_._3).sum.toDouble
      run.layers("tables.commits_per_batch") = commits / fsDeltas.size
      run.layers("tables.bytes_written_per_input_byte") = written / fsDeltas.map(_._4).sum
      run.layers("tables.files_per_commit") = fsDeltas.map(_._2).sum / commits
      run.layers("tables.live_bytes_per_input_byte") =
        liveBytes(spark, t).toDouble / inputBytes(input)
      val iso = (nBatches - IsolatedBatches until nBatches).flatMap(byBatch)
      Layers.isolated(spark, run, trace, spark.createDataset(iso).localCheckpoint(), iso.size)
    }
  }

  /** Least-squares growth of y per step. */
  def slope(y: Seq[Double]): Double = if (y.size < 2) 0.0 else {
    val xm = (y.size - 1) / 2.0
    val ym = y.sum / y.size
    y.indices.map(i => (i - xm) * (y(i) - ym)).sum / y.indices.map(i => (i - xm) * (i - xm)).sum
  }

  /** UTF-8 bytes of the text and media refs the docs carry. */
  def inputBytes(docs: Seq[InputDoc]): Long =
    docs.flatMap(_.spans).map(s => (s.text + s.media_ref).getBytes("UTF-8").length.toLong).sum

  private def tables(t: Incremental.Tables) =
    Seq(t.documents, t.mentions, t.candidates, t.registry, t.triples, t.lineage, t.metrics)

  /** (bytes, files) under the work dir and the snapshot count of the KB
    * tables. IceLite never deletes during a run, so the growth of the
    * first two over a call is what the call wrote.
    */
  def tableStats(t: Incremental.Tables, dir: String): (Long, Long, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum, files.size, tables(t).map(_.snapshots.size.toLong).sum)
  }

  /** Bytes of the files the latest snapshot of each KB table reads. */
  def liveBytes(spark: SparkSession, t: Incremental.Tables): Long =
    tables(t).flatMap(_.read(spark).toSeq).flatMap(_.inputFiles)
      .map(f => Files.size(Path.of(new java.net.URI(f)))).sum
}
