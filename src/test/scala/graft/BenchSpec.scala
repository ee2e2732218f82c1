package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's warn-only baseline gate and its JSON output:
  * a corrupt baseline entry is dropped instead of crashing the run,
  * and paths embedded in the artifact are escaped so it stays JSON.
  */
class BenchSpec extends AnyFunSuite {

  test("an unparseable baseline value is dropped, not thrown") {
    val f = java.nio.file.Files.createTempFile("baseline", ".json")
    java.nio.file.Files.writeString(f,
      """{"good": 1.5, "bad": 1.2.3, "dots": ..., "exp": -2e3}""")
    assert(Bench.readBaseline(f.toString) ==
      Map("good" -> 1.5, "exp" -> -2000.0))
    assert(Bench.readBaseline(f.toString + ".missing").isEmpty)
  }

  test("the artifact parses when its paths hold quotes and backslashes") {
    val baseline = """/tmp/a "quoted" dir\base.json"""
    val sf = """C:\data\sf"0.1"""
    val json = Bench.artifact(Seq("q1" -> 1.25, "q2" -> 0.5),
      Seq("q1" -> 1.0), Seq("q1" -> 2.0), Seq("q2" -> "boom"), Seq("q1"),
      Seq("q1" -> 1.7), baseline, sf)
    val node = new ObjectMapper().readTree(json)
    assert(node.get("task_baseline").asText() == baseline)
    assert(node.get("sf").asText() == sf)
    assert(node.get("value").asDouble() == 1.75)
    assert(node.get("queries").get("q2").asDouble() == 0.5)
    assert(node.get("task_regressions").get("q1").asDouble() == 1.7)
    assert(node.get("errors").get("q2").asText() == "boom")
    assert(node.get("queries_job_incomplete").get(0).asText() == "q1")
  }
}
