package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's history compares a run only against a BENCH_DETAIL written
  * on the same core count and scale factor, and reads only its
  * `queries` map; the detail file is JSON whose total is its sweep's. */
class BenchSpec extends AnyFunSuite {

  private def history(detail: String): Map[String, Double] = {
    val f = Files.createTempFile("bench_detail", ".json")
    try {
      Files.writeString(f, detail)
      Bench.readHistory(f.toString, 4, "/data/sf0.1")
    } finally Files.delete(f)
  }

  private val Lines = """"queries":{"shared:a":1.500,"q01_x":0.250}"""

  test("readHistory reads a BENCH_DETAIL only from the same cpus and sf") {
    assert(history(s"""{"sf":"/data/sf0.1","cpus":4,"n_queries":1,$Lines}""")
      == Map("shared:a" -> 1.5, "q01_x" -> 0.25))
    assert(history(s"""{"sf":"/data/sf0.1","cpus":8,"n_queries":1,$Lines}""")
      .isEmpty)
    assert(history(s"""{"sf":"/data/sf0.5","cpus":4,"n_queries":1,$Lines}""")
      .isEmpty)
    // the layout written before the file carried its core count
    assert(history(s"""{"sf":"/data/sf0.1","n_queries":1,$Lines}""").isEmpty)
    // per-line layers, and a line-keyed number outside `queries` (the
    // short-key map older files carried), are not history
    assert(history(s"""{"sf":"/data/sf0.1","cpus":4,"n_queries":1,$Lines,""" +
      """"layers":{"shared:a":{"jobs":3},"q01_x":{"jobs":1}},""" +
      """"extra":{"q02_y":9.000}}""") == Map("shared:a" -> 1.5, "q01_x" -> 0.25))
  }

  test("detail renders JSON with layers for every line and value == value_raw") {
    def rec(name: String, s: Double, tasks: Int) = tools.Probe.Record(name, s,
      if (s < 0) Some("boom") else None, 7L,
      Seq(tools.Probe.Job(0, 0.1, "site")),
      Seq(tools.Probe.Stage(0, "site", tasks, 0L, 0L, 1024L, 5L, 6L)),
      Seq(tools.Probe.Shape(2, 1, 0, cartesian = false, bnlj = true)))
    val lines = Seq(rec("shared:a", 1.5, 2), rec("q01_x", 0.25, 4),
      rec("q02_y", -1.0, 1))
    val txt = Bench.detail("/data/\"sf\"0.1", 4, lines, Seq("q01_x"),
      """"loadavg_wait_s":0,"nproc":4""")
    val j = new ObjectMapper().readTree(txt)
    assert(j.get("sf").asText == "/data/\"sf\"0.1" && j.get("cpus").asInt == 4)
    assert(j.get("n_queries").asInt == 2 && j.get("n_shared").asInt == 1)
    assert(j.get("value").asDouble == j.get("value_raw").asDouble)
    assert(j.get("value").asDouble == 1.75)
    assert(j.get("queries").get("q02_y").asDouble == -1.0)
    val names = Seq("shared:a", "q01_x", "q02_y")
    assert(names.forall(n => j.get("queries").has(n) && j.get("layers").has(n)))
    val l = j.get("layers").get("q01_x")
    assert(l.get("jobs").asInt == 1 && l.get("tasks").asInt == 4 &&
      l.get("planning_ms").asInt == 7 && l.get("exchanges").asInt == 2 &&
      l.get("peak_exec_bytes").asLong == 1024L && l.get("bnlj").asBoolean &&
      !l.get("cartesian").asBoolean)
    assert(j.get("hot_vs_history").get(0).asText == "q01_x")
  }
}
