package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the shipped session settings that engine results depend on, and that
  * the suite itself runs them.
  */
class GraftSessionSpec extends SparkSpec {

  private val entryPoints = Set("graft/Bench.scala", "graft/Verify.scala",
    "graft/tools/Probe.scala", "graft/tools/ScaleUp.scala", "graft/tools/ReplicaGen.scala")

  /** Scala source with comments removed; string and char literals are kept. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 0 // Scala block comments nest
        do {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < n)
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j)
        i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        out ++= src.substring(i, (j + 1).min(n))
        i = j + 1
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3) // a char literal such as '"'
        i += 3
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
        out ++= src.substring(i, i + 4)
        i += 4
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  private def scalaSources(root: java.nio.file.Path): Map[String, String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> stripComments(Files.readString(p)))
      .toMap

  test("the shipped session never enables speculation (observe()-derived counts assume it)") {
    val conf = GraftSession.settings(4).toMap
    val speculation = conf.getOrElse("spark.speculation", "false") // Spark's default
    assert(!speculation.toBoolean, s"spark.speculation=$speculation")
  }

  test("the test session runs every shipped setting") {
    assert(spark.sparkContext.master == "local[4]")
    val drift = GraftSession.settings(4).collect {
      case (k, v) if !spark.conf.getOption(k).contains(v) => s"$k=${spark.conf.getOption(k)} (shipped $v)"
    }
    assert(drift.isEmpty, drift.mkString("; "))
  }

  test("no main source but GraftSession builds a session or writes a spark.* config literal") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter { p =>
        val src = Files.readString(p)
        src.contains("SparkSession.builder") || src.contains(".config(\"spark.")
      }
      .map(root.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("src/main defines exactly five entry points: Bench, Verify, Probe, ScaleUp and ReplicaGen") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val kept = entryPoints
    val mains = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val src = Files.readString(p)
        src.contains("def main(") || src.contains("extends App")
      }
      .map(root.relativize(_).toString).toSet
    assert(mains == kept, s"unexpected: ${(mains -- kept).toSeq.sorted}; missing: ${(kept -- mains).toSeq.sorted}")
  }

  test("src/main has one streaming lane: no source uses Structured Streaming") {
    // streaming mode is Pipeline.run's watermark-driven micro-batch; a
    // second lane on readStream/writeStream would duplicate it
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val markers = Seq("readStream", "writeStream", "org.apache.spark.sql.streaming")
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val src = Files.readString(p)
        markers.exists(src.contains)
      }
      .map(root.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("src/main calls no Dataset.observe") {
    // observe starts the session's ObservationManager, which cannot
    // serialize; a later closure that captures the session (a logistic
    // model's training summary does) then fails with Task not serializable
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val offenders = scalaSources(root).collect { case (f, src) if src.contains(".observe(") => f }
    assert(offenders.isEmpty, offenders.toSeq.sorted.mkString(", "))
  }

  test("every src/main module but the entry points is named by another src/main or medbench source") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val kept = Set(
      // the paper's extract step: the Socrata paging reader, kept for a
      // benchmark that serves it from a loopback server
      "graft/sources/SodaHttpSource.scala",
      // the /metrics endpoint; whether it ships is an open ROADMAP item
      "graft/ops/MetricsHttp.scala")
    val main = scalaSources(root)
    val bench = scalaSources(Paths.get("medbench/src")).values.toSeq
    val topLevel =
      """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r
    val orphans = main.toSeq.sorted.collect {
      case (file, src) if !entryPoints(file) && !kept(file) &&
          !topLevel.findAllMatchIn(src).map(_.group(1)).exists { name =>
            val named = s"\\b$name\\b".r
            (main - file).values.exists(named.findFirstIn(_).isDefined) ||
              bench.exists(named.findFirstIn(_).isDefined)
          } => file
    }
    assert(orphans.isEmpty, s"only their own specs reach: ${orphans.mkString(", ")}")
  }
}
