package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A benchmark-side span around one call into a layer. Times are epoch ms,
  * the clock Spark's listener events use; `wallS` is the nanoTime wall.
  */
final case class SpanRec(id: Int, name: String, layer: String,
    startMs: Long, endMs: Long, wallS: Double)

/** Task totals of one completed stage, the layer its call site names, and
  * the top of that call site.
  */
final case class StageRec(stageId: Int, submitMs: Long, endMs: Long, layer: String,
    site: String, tasks: Int, runS: Double, cpuS: Double, gcS: Double, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, recordsIn: Long, recordsOut: Long)

/** Spans recorded from the benchmark's own files, plus a SparkListener that
  * folds each stage's task metrics into the span that was open when the
  * stage was submitted. Within a span, a stage belongs to the layer of the
  * first graft frame in its call site (IceLite.scala -> tables), or to the
  * span's own layer when no graft frame names one. Everything stays in
  * memory until [[Trace.write]].
  */
final class Trace(spark: SparkSession) {
  private val spans = ArrayBuffer.empty[SpanRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val jobStarts = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[(Int, Long, Long)] // stage, launch, finish
  // Stages that AQE or a broadcast submits from a pool thread carry no graft
  // frame; they take the call site of the SQL execution that ran them.
  private val execSite = TrieMap.empty[Long, String]
  private val stageSite = TrieMap.empty[Int, String]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execSite(x.executionId) = x.details
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.synchronized(jobStarts += e.time)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
        .foreach(site => e.stageIds.foreach(stageSite(_) = site))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.synchronized(tasks += ((e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val site = if (Trace.layerOf(i.details).nonEmpty) i.details
        else stageSite.getOrElse(i.stageId, i.details)
      val rec = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), Trace.layerOf(site),
        site.linesIterator.take(8).mkString("\n"), i.numTasks,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
      stages.synchronized(stages += rec)
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def span[T](name: String, layer: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    val r = f
    spans += SpanRec(spans.size, name, layer, ms0, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Spans, and the stages, jobs and task intervals that ran inside each. */
  def collected(): Seq[(SpanRec, Seq[StageRec], Int, Seq[(Long, Long)])] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def inSpan(s: SpanRec, t: Long) = t >= s.startMs && t <= s.endMs
    spans.toSeq.map { s =>
      val st = stages.synchronized(stages.filter(r => inSpan(s, r.submitMs)).toSeq)
        .map(r => if (r.layer.isEmpty) r.copy(layer = s.layer) else r)
      val ids = st.map(_.stageId).toSet
      val iv = tasks.synchronized(tasks.filter(t => ids(t._1)).map(t => (t._2, t._3)).toSeq)
      (s, st, jobStarts.synchronized(jobStarts.count(inSpan(s, _))), iv)
    }
  }

  def write(path: String): Unit = {
    val rows = collected().map { case (s, st, jobs, _) =>
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "wall_s" -> s.wallS, "jobs" -> jobs, "stages" -> st)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Main.json.writeValueAsString(rows))
  }
}

object Trace {
  /** graft package or top-level object -> layer. */
  private val layers = Seq(
    "graft.ner." -> "ner", "graft.merge." -> "merge", "graft.link." -> "link",
    "graft.cluster." -> "cluster", "graft.Pipeline" -> "pipeline",
    "graft.Incremental" -> "incremental", "graft.streaming." -> "incremental",
    "graft.tables." -> "tables", "graft.ops." -> "ops", "graft.SparkEntry" -> "ops")

  /** Layer of the first call-site frame in a graft layer, or "" if none. */
  def layerOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).flatMap { frame =>
      layers.collectFirst { case (prefix, layer) if frame.startsWith(prefix) => layer }
    }.nextOption().getOrElse("")

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var total = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
