package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import graft.tools.Probe

/** The probe CLI's four modes, run through `Probe.run` on the shared session
  * (`main` would stop it).
  */
class ProbeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val q = "j2_enrich_left_join"

  private def probe(args: String*): Seq[String] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, args.toArray))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("run prints the query's rows and seconds") {
    val lines = probe("run", sf, q)
    assert(lines.exists(_.matches(s"PROBE run $q rows=[1-9]\\d* sec=\\d+\\.\\d+")), lines)
  }

  test("plan prints the eight node counts of the executed plan") {
    val line = probe("plan", sf, q).find(_.startsWith(s"PROBE plan $q:")).get
    val counts = line.split(": ", 2)(1).split(" ").toSeq
    assert(counts.map(_.takeWhile(_ != '=')) == Seq(
      "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
      "Exchange", "Window", "TakeOrderedAndProject", "WholeStageCodegen"), line)
    assert(counts.forall(_.matches("[A-Za-z]+=\\d+")), line)
  }

  test("stages prints a row for each stage of the measured run") {
    val lines = probe("stages", sf, q)
    assert(lines.exists(_.matches(s"PROBE stages $q rows=\\d+ sec=\\d+\\.\\d+ codegen_classes=\\d+")), lines)
    val rows = lines.filter(_.matches("\\s*\\d+ +\\d+\\.\\d .*"))
    assert(rows.nonEmpty, lines)
    val total = lines.find(_.startsWith("TOTAL ")).get
    assert(total.endsWith(s"stages=${rows.size}"), total)
  }

  test("dump writes the formatted and the AQE-final plan") {
    val out = tmpDir("probe-dump")
    probe("dump", sf, out, "t", q)
    val txt = Files.readString(Paths.get(out, s"${q}_t.txt"))
    assert(txt.contains("== explain(formatted) ==") && txt.contains("== AQE-final executedPlan =="), txt)
    assert(txt.contains("AdaptiveSparkPlan isFinalPlan=true"), txt)
  }

  test("an unknown query name or a malformed command fails loudly") {
    val e = intercept[IllegalArgumentException](probe("run", sf, s"$q,no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
    intercept[IllegalArgumentException](probe("run", sf))
    intercept[IllegalArgumentException](probe("plan", sf, " , "))
  }
}
