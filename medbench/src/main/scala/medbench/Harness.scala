package medbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one benchmark process was asked to do. */
final case class Ctx(spark: SparkSession, rec: Recorder, trace: Boolean, work: String,
    cores: Int)

/** One pass: a fixed sequence of ops from a fixed starting state. Its wall
  * time is the sum of its op latencies, so the benchmark's own checks and
  * bookkeeping between ops are not counted.
  */
final case class PassStats(opS: Seq[Double], spans: Seq[Span], storedBytes: Long) {
  def wallS: Double = opS.sum
}

/** Op accounting and the numbers a workload reports. */
final class Tally {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  var setupS = 0.0
  /** The timed pass: the untraced one, or in a traced run the traced one. */
  var pass: Option[PassStats] = None
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Count one op; `check` returns the failure reason, if any. */
  def check(name: String)(check: => Option[String]): Unit = {
    attempted += 1
    val why = try check catch { case e: Throwable => Some(s"check threw ${e.getMessage}") }
    why.foreach { w => failed += 1; failures += s"$name: $w" }
  }

  /** A failed op that threw before its check could run. */
  def threw(name: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }
}

object Harness {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[medbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Run the set-up once and record its time. */
  def setUp[S](t: Tally)(setup: => S): S = {
    val (s, secs) = timed(setup)
    t.setupS = secs
    s
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    } finally s.close()
  }

  private def files(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
  }

  def dirBytes(path: String): Long = files(path).map(Files.size).sum

  /** Data files of a table directory (no `_SUCCESS`, no checksums). */
  def dataFiles(path: String): Seq[Path] = files(path).filter { f =>
    val n = f.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }
}
