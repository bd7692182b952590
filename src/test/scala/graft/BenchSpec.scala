package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Bench's history trigger compares a run only against a BENCH_DETAIL
  * written on the same core count and scale factor. */
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
  }
}
