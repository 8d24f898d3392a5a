package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The driver keeps a 2000-byte log tail of the bench's stdout and
  * parses the LAST complete `"metric":"total"` JSON object from it.
  * Every BENCH_r*.json from r01 to r12 carries `parsed: null` because
  * the full 273-key map (~6.4 KB) was front-truncated wherever it sat.
  * These tests pin the fix: the final-line builder must emit a COMPLETE
  * object that (a) fits the tail with room for the sbt `[info]` prefix
  * and the trailing `[success] Total time ...` line, (b) parses as
  * JSON, (c) carries the contract fields, (d) keeps the MOST EXPENSIVE
  * keys (they carry the total), and (e) discloses exactly what it
  * omits. Simulated tail: prefix + line + success banner, last 2000
  * bytes — the line must survive intact.
  */
class BenchLineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  // 273 realistic keys: real-length names, heavy tail of sub-second times
  private val entries: Seq[(String, Double)] = (0 until 273).map { i =>
    val name = f"q_realistically_named_key_$i%03d"
    val sec = if (i < 12) 10.0 - i * 0.7 else 0.05 + (i % 37) * 0.031
    (name, sec)
  }
  private val load =
    """"load":{"load1_start":3.590,"load1_end":2.950,"iowait_pct":0.004,"steal_pct":0.006}"""
  private val sf = "/root/testdata/sf0.1"

  // a runaway run (every key past 99999.999 s) prints every kept time
  // wide; the omitted maximum must still fit the 9 characters the
  // budget reserved for it
  private val runaway = entries.map { case (k, v) => (k, 1e9 + v) }

  test("final line survives a 2000-byte tail complete and parseable") {
    for (input <- Seq(entries, runaway)) {
      val line = Bench.compactTotalLine(input, 0, load, sf)
      val stdoutTail = s"[info] $line\n[success] Total time: 362 s (06:02), completed Aug 18, 2026, 5:50:43 AM\n"
      val captured = stdoutTail.takeRight(2000)
      assert(captured.contains(line), "line must sit complete inside the 2000-byte tail")
      assert(line.length <= 1650)
      val node = mapper.readTree(line)
      assert(node.get("metric").asText() == "total")
      assert(node.get("unit").asText() == "sec")
      assert(node.get("sf").asText() == sf)
      val total = input.map(_._2).sum
      assert(math.abs(node.get("value").asDouble() - total) < 1e-3)
      assert(node.get("n").asInt() == 273)
      val omittedMax = "\"omitted_max_s\":([0-9.]+)".r.findFirstMatchIn(line).get.group(1)
      assert(omittedMax.length <= 9, s"omitted_max_s $omittedMax overruns its reserved width")
    }
  }

  test("selection keeps the most expensive keys and discloses omissions") {
    val line = Bench.compactTotalLine(entries, 0, load, sf)
    val node = mapper.readTree(line)
    val qs = node.get("queries")
    val kept = {
      val it = qs.fieldNames(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result()
    }
    assert(kept.nonEmpty && kept.size < 273)
    // every kept key's time >= every omitted key's time
    val keptSecs = kept.map(k => entries.find(_._1 == k).get._2)
    val omittedSecs = entries.filterNot(e => kept.contains(e._1)).map(_._2)
    assert(node.get("queries_omitted").asInt() == 273 - kept.size)
    assert(keptSecs.min >= omittedSecs.max - 1e-9)
    assert(math.abs(node.get("omitted_max_s").asDouble() - omittedSecs.max) < 1e-3)
    // kept values round-trip at ms precision
    kept.take(5).foreach { k =>
      assert(math.abs(qs.get(k).asDouble() - entries.find(_._1 == k).get._2) < 1e-3)
    }
  }

  test("small maps are carried whole (SPARK_GRAFT_ONLY iteration runs)") {
    val few = entries.take(10)
    val line = Bench.compactTotalLine(few, 0, load, sf)
    val node = mapper.readTree(line)
    assert(node.get("queries_omitted").asInt() == 0)
    assert(node.get("queries").size() == 10)
    assert(line.length <= 1650)
  }
}
