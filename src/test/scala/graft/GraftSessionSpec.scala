package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shipped session settings that engine results depend on. */
class GraftSessionSpec extends AnyFunSuite {

  test("the shipped session never enables speculation (observe()-derived counts assume it)") {
    val conf = GraftSession.settings(4).toMap
    val speculation = conf.getOrElse("spark.speculation", "false") // Spark's default
    assert(!speculation.toBoolean, s"spark.speculation=$speculation")
  }
}
