package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("Bench JSON lines: an sf path with quotes and backslashes parses back") {
    val sf = """C:\data\"sf0.1"\ and a "quoted" dir"""
    val (full, short) = Bench.jsonLines(Seq("q_a" -> 1.5, "q_b" -> -1.0, "q_c" -> 0.25), sf)
    assert(!full.contains("\n") && !short.contains("\n"))
    val mapper = new ObjectMapper()
    val f = mapper.readTree(full)
    val s = mapper.readTree(short)
    assert(f.get("sf").asText() == sf && s.get("sf").asText() == sf)
    // a failed query (-1) stays in the map and is left out of the total
    assert(f.get("metric").asText() == "total" && f.get("unit").asText() == "sec")
    assert(f.get("value").asDouble() == 1.75 && s.get("value").asDouble() == 1.75)
    assert(f.get("queries").get("q_b").asDouble() == -1.0)
    assert(f.get("queries").size() == 3)
    assert(s.get("n").asInt() == 3 && s.get("failed").asInt() == 1)
    assert(!s.has("queries"))
  }
}
