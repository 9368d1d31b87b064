package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s timing record: an entry that throws is reported by
  * name and exception class in `failed`, keeps its `queries` key, and
  * adds nothing to the total — a crash never reads as a speed-up. */
class BenchSpec extends AnyFunSuite {

  test("a throwing entry lands in failed, keeps its key and leaves the total") {
    var resets = 0
    val t = new Bench.Timings(2, () => resets += 1)
    t.time("q01")(Thread.sleep(2))
    t.time("q02")(throw new ArithmeticException("forced"))
    t.time("q03")(())

    assert(t.seconds.keys.toSeq == Seq("q01", "q02", "q03"))
    assert(t.seconds("q02") == -1.0)
    assert(t.seconds("q01") > 0 && t.seconds("q03") >= 0)
    assert(t.failed.toSeq == Seq("q02" -> "java.lang.ArithmeticException"))
    assert(t.total == t.seconds("q01") + t.seconds("q03"))
    // every run of every entry resets first; the failing one stops at
    // its first run
    assert(resets == 5)

    val json = org.json4s.jackson.JsonMethods.parse(s"{${t.json}}")
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    assert((json \ "queries").extract[Map[String, Double]].keySet == Set("q01", "q02", "q03"))
    assert((json \ "failed").extract[List[Map[String, String]]] ==
      List(Map("name" -> "q02", "error" -> "java.lang.ArithmeticException")))
  }

  test("a clean run reports an empty failed list") {
    val t = new Bench.Timings(1, () => ())
    t.time("q01")(())
    assert(t.failed.isEmpty)
    assert(t.json.endsWith(""""failed":[]"""), t.json)
  }
}
