package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure step of [[Bench]]: per-pass runs → per-query min, ok flag
  * and total → the compact stdout line. (Plain JVM test — no
  * SparkSession needed.) */
class BenchSpec extends AnyFunSuite {
  import Bench.{Run, combine, compactLine, total}

  private def ok(sec: Double) = Run(sec, 10L, -1L, None)
  private val boom = Run(0.5, -1L, -1L, Some("boom"))

  test("each query's time is its min across passes") {
    val got = combine(Seq(
      Seq("a" -> ok(3.0), "b" -> ok(1.0)),
      Seq("a" -> ok(2.0), "b" -> ok(4.0))))
    assert(got.map(r => r.name -> r.sec) === Seq("a" -> 2.0, "b" -> 1.0))
    assert(got.forall(_.ok))
    assert(total(got) === 3.0)
  }

  test("a query that fails only in pass 2 is failed and left out of value") {
    val got = combine(Seq(
      Seq("a" -> ok(1.0), "b" -> ok(2.0)),
      Seq("a" -> ok(1.5), "b" -> boom)))
    val b = got.find(_.name == "b").get
    assert(!b.ok && b.error === Some("boom"))
    assert(total(got) === 1.0)
    val line = compactLine("total_ok", got, "BENCH_LAST.json", "/d/sf0.1")
    assert(line.contains(""""value":1.0,"""))
    assert(line.contains(""""ok_queries":1,"n_queries":2,"failed_total":1"""))
    assert(line.contains(""""b":{"sec":0.0000,"ok":false}"""))
  }

  test("the compact line keeps the keys its readers parse") {
    val line = compactLine("total_ok",
      combine(Seq(Seq("wordstats" -> ok(1.0)))), "BENCH_LAST.json", "/d/sf0.1")
    for (k <- Seq("metric", "value", "unit", "ok_queries", "n_queries",
        "failed_total", "queries", "queries_full", "sf"))
      assert(line.contains(s""""$k":"""), s"missing key $k in $line")
    assert(line.contains(""""queries":{"wordstats":{"sec":1.0000,"ok":true}}"""))
  }

  test("170 queries with 25 failures: the compact line fits the 2000-char tail") {
    // the real battery names, failing the 25 LONGEST (the widest line)
    val names = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n))
    assert(names.size === 170)
    val failing = names.take(25).toSet
    val pass = names.sorted.map(n => n -> (if (failing(n)) boom else ok(1.0 + n.length)))
    val line = compactLine("total_ok", combine(Seq(pass, pass)),
      "BENCH_LAST.json", "/d/sf0.1")
    assert(line.length < 2000, s"${line.length} chars")
    assert(line.contains(""""failed_total":25,"""))
    assert(line.contains(""""ok_queries":145,"n_queries":170"""))
  }
}
