package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload run, launched by perfbench/run.py:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *     --work DIR --out FILE --master local[4] --shuffle-partitions P
  *     --local-dir DIR
  *
  * Writes what it measured to --out as one JSON object; run.py turns it into
  * the result line. With --trace 1 it also writes the spans to
  * <work>/trace.json.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, master: String,
      shufflePartitions: Int, localDir: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("master"), m("shuffle-partitions").toInt,
      m("local-dir"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // A set switch would change the program under measurement.
    val knobs = sys.props.keys.filter(_.startsWith("graft.")) ++
      sys.env.keys.filter(_.startsWith("SPARK_GRAFT_"))
    require(knobs.isEmpty, s"program switches are set: ${knobs.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(a.master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.shufflePartitions.toString)
      .config("spark.local.dir", a.localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val run = new Run(a, if (a.trace) Some(new Trace(spark)) else None)
      a.workload match {
        case "incremental_kb" => IncrementalKb.run(spark, run)
        case "query_mix" => QueryMix.run(spark, run)
        case w => sys.error(s"unknown workload $w")
      }
      run.trace.foreach(_.write(s"${a.work}/trace.json"))
      Files.writeString(Paths.get(a.out), json.writeValueAsString(run.result))
    } finally spark.stop()
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Resident high-water mark of this JVM, which in local mode holds the
    * driver and every executor.
    */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
}

/** The timed calls, checks and layer numbers of one run. */
final class Run(val args: Main.Args, val trace: Option[Trace]) {
  private var setupS = -1.0
  private var t0 = 0L
  val ops = ArrayBuffer.empty[Double]
  val calls = ArrayBuffer.empty[Double]
  val failures = ArrayBuffer.empty[String]
  val observed = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** True until the run has measured for --seconds, and always before the
    * first timed call: a closed loop asks before each unit of work.
    */
  def more: Boolean = setupS < 0 || (System.nanoTime() - t0) / 1e9 < args.seconds

  /** Times one call into the program; the first one ends set-up. A call
    * that throws is a failure, and the run stops measuring after it. An
    * unmeasured call is traced but feeds no end-to-end metric.
    */
  def call[T](name: String, layer: String, measured: Boolean = true)(f: => T): Option[T] = {
    if (setupS < 0) {
      setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      t0 = System.nanoTime()
    }
    val s = System.nanoTime()
    try {
      val r = trace.fold(f)(_.span(name, layer)(f))
      if (measured) calls += (System.nanoTime() - s) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failures += s"$name: $e"
        None
    }
  }

  def check(name: String)(ok: Boolean): Unit = if (!ok) failures += s"check failed: $name"

  def result: Map[String, Any] = Map(
    "setup_s" -> setupS, "op_s" -> ops.toSeq, "call_s" -> calls.toSeq,
    "attempted" -> math.max(1, calls.size + failures.count(!_.startsWith("check"))),
    "failures" -> failures.toSeq, "observed" -> observed.toMap,
    "peak_rss_mb" -> Main.peakRssMb(), "layers" -> layers.toMap)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
