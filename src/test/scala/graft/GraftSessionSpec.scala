package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the shipped session settings that engine results depend on, and that
  * the suite itself runs them.
  */
class GraftSessionSpec extends SparkSpec {

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
    val kept = Set("graft/Bench.scala", "graft/Verify.scala", "graft/tools/Probe.scala",
      "graft/tools/ScaleUp.scala", "graft/tools/ReplicaGen.scala")
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
}
