package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.selectKeys]] is the one key selector of the suite bench, its
  * `time`/`explain`/`plan` modes and Verify: a pure function, checked
  * without a session. */
class BenchSpec extends AnyFunSuite {
  private val known = Seq("sma", "rsi", "macd")

  test("selectKeys: `all` is every known key in name order") {
    assert(Bench.selectKeys("all", known) == Seq("macd", "rsi", "sma"))
    assert(Bench.selectKeys(" all ", known) == Seq("macd", "rsi", "sma"))
  }

  test("selectKeys: a comma list is trimmed, de-duplicated and keeps its order") {
    assert(Bench.selectKeys(" rsi, ,sma,,rsi ", known) == Seq("rsi", "sma"))
  }

  test("selectKeys: unknown names fail, listed sorted") {
    val e = intercept[IllegalArgumentException](Bench.selectKeys("zz,sma,aa", known))
    assert(e.getMessage.contains("unknown key(s): aa,zz"))
    // `all` is only the whole list, never one entry of it
    assert(intercept[IllegalArgumentException](Bench.selectKeys("all,sma", known))
      .getMessage.contains("unknown key(s): all"))
  }

  test("selectKeys: an empty selection fails") {
    Seq("", " , ,").foreach { spec =>
      assert(intercept[IllegalArgumentException](Bench.selectKeys(spec, known))
        .getMessage.contains("no key selected"))
    }
  }

  test("selectKeys resolves against the registry by default") {
    assert(Bench.selectKeys("all") == SparkEntry.queries.keys.toSeq.sorted)
    assert(Bench.selectKeys("sma,pagerank") == Seq("sma", "pagerank"))
    assert(intercept[IllegalArgumentException](Bench.selectKeys("nosuchkey"))
      .getMessage.contains("nosuchkey"))
  }
}
