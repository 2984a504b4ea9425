package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its tuning as parameters, never from JVM-global
  * state: a system property or environment variable read inside a
  * kernel silently flips code paths for every suite sharing the test
  * JVM, and for every caller of the library. This scan keeps new global
  * knobs out of every source file under `src/main/scala/graft`, new ones
  * included. Only the drivers (Bench, BenchCluster, Verify, Submit,
  * DevExplain) read their configuration from the environment and are
  * skipped.
  */
class NoGlobalKnobsSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")

  private val drivers = Set("Bench.scala", "BenchCluster.scala",
    "Verify.scala", "Submit.scala", "DevExplain.scala")

  /** File -> the one global key it may read, and why. */
  private val exceptions = Map(
    "Ckpt.scala" -> "graft.ckpt.level" // Bench's executor ladder sets the checkpoint storage level
  )

  private val globalRead =
    """sys\.props|sys\.env|System\.getProperty|System\.getenv""".r

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  test("library code reads no system property or environment variable") {
    assert(root.isDirectory, s"source root missing: $root")
    val files = scalaFiles(root)
      .filterNot(f => f.getParentFile == root && drivers(f.getName))
    assert(files.exists(_.getName == "Pipeline.scala"), "library not scanned")
    val offenders = for {
      f <- files
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if globalRead.findFirstIn(line).isDefined
      if !exceptions.get(f.getName).exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    if (offenders.nonEmpty)
      fail("pass tuning as a parameter instead of a global knob:\n" +
        offenders.mkString("\n"))
  }
}
