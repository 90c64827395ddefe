package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's compact stdout line: rows are budgeted before the
  * rerun names, so a long rerun list can never empty the line. */
class BenchSpec extends AnyFunSuite {

  test("compactLine: 338 rows and 97 rerun names fit 1900 bytes and " +
      "keep the slowest rows") {
    val rows = (0 until 338).map { i =>
      // walls in a scrambled order, all distinct
      val wall = ((i * 7919) % 338 + 1) / 10.0
      (f"family_of_queries_row_$i%03d", wall, wall * 2, 0.01, 1.1)
    }
    val rerun = rows.take(97).map(_._1)
    val line = Bench.compactLine(
      """"metric":"total","value":1234.567,"unit":"sec"""",
      """"sf":"/data/sf0.1"""", rows, rerun)
    assert(line.getBytes("UTF-8").length <= 1900, line)
    val queries = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(line).get.group(1)
    val kept = """"([^"]+)":""".r.findAllMatchIn(queries)
      .map(_.group(1)).toSet
    assert(kept.size >= 10, s"only ${kept.size} rows kept: $line")
    val slowest = rows.sortBy(-_._2).take(kept.size).map(_._1).toSet
    assert(kept === slowest, "the kept rows are exactly the slowest")
    assert(line.contains(s""""omitted":${338 - kept.size}"""))
    assert(line.contains(""""rerun_count":97"""))
    assert(line.startsWith("{\"metric\"") && line.endsWith("\"}"))
  }

  test("compactLine: every rerun name is listed when the budget allows") {
    val rows = Seq(("a", 2.0, 2.0, 0.0, 1.0), ("b", 1.0, 1.0, 0.0, 1.0))
    val line = Bench.compactLine(""""metric":"total"""", """"sf":"x"""",
      rows, Seq("b", "a"))
    assert(line.contains(""""rerun_count":2,"rerun":["b","a"]"""))
    assert(line.contains(""""omitted":0"""))
  }
}
