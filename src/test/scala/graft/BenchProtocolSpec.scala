package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Pass, Round, RowResult, Stats}

/** The bench protocol, driven with stub timers and no Spark job: a fixed
  * round count, failed rounds out of every statistic, failed rows out of
  * the total, and A/B sides that alternate. */
class BenchProtocolSpec extends AnyFunSuite {
  private val N = Bench.Rounds

  test("exactly N rounds run per row even when every ratio reads over 2x") {
    var sparkCalls, refCalls = 0
    val pass = Bench.measure(Seq("a", "b"),
      _ => { refCalls += 1; Some(1.0) },
      _ => { sparkCalls += 1; 3.0 })
    // one untimed run of each side per row, then N rounds
    assert(sparkCalls == 2 * (N + 1) && refCalls == 2 * (N + 1))
    pass.rows.values.foreach { r =>
      assert(r.rounds.size == N)
      assert(r.ratio.contains(Stats(3.0, 3.0, 0.0)))
      assert(r.failedRounds == 0)
    }
  }

  test("a thrown round is out of the median, min and IQR and counted as failed") {
    // the untimed run takes the first value; round 2 throws after 0.01 s
    val times = Iterator(9.0, 4.0, -1.0, 2.0, 3.0, 5.0)
    val pass = Bench.measure(Seq("q"), _ => Some(2.0), _ => {
      val t = times.next()
      if (t < 0) throw new RuntimeException("fast crash") else t
    })
    val r = pass.rows("q")
    assert(r.failedRounds == 1)
    assert(r.rounds.map(_.spark) == Seq(Some(4.0), None, Some(2.0), Some(3.0), Some(5.0)))
    // successful rounds 2, 3, 4, 5: median 3.5, min 2, IQR 4.25 - 2.75
    assert(r.spark.contains(Stats(3.5, 2.0, 1.5)))
    assert(r.ratio.contains(Stats(1.75, 1.0, 0.75)))
    assert(r.ref.map(_.median).contains(2.0))
    assert(pass.medians == ListMap("q" -> 3.5))
  }

  test("a row with no successful round goes to failed and out of the total") {
    val pass = Bench.measure(Seq("ok", "broken"), _ => Some(1.0), {
      case "ok" => 2.0
      case _ => throw new IllegalStateException("always fails")
    })
    assert(pass.rows("broken").failedRounds == N && pass.rows("broken").failed)
    assert(pass.failed == Seq("broken"))
    assert(pass.total == 2.0)
    assert(pass.medians.keySet == Set("ok"))
    assert(pass.pairedRatio(Map.empty).contains(2.0))
    assert(pass.vsIdleRatio(Map("ok" -> 4.0, "broken" -> 1.0)).contains(0.5))
  }

  test("the median of an even count is the mean of the middle two") {
    assert(Stats.of(Seq(4.0, 1.0, 3.0, 2.0)).contains(Stats(2.5, 1.0, 1.5)))
    assert(Stats.of(Seq(5.0, 1.0, 3.0)).map(_.median).contains(3.0))
    assert(Stats.of(Nil).isEmpty)
  }

  test("--ab pairs alternate which side runs first") {
    val order = ArrayBuffer.empty[String]
    Bench.measure(Seq("q"),
      _ => { order += "A"; Some(1.0) },
      _ => { order += "B"; 1.0 },
      alternate = true)
    // the untimed pair, then AB, BA, AB, BA, AB
    assert(order.mkString == "AB" + "AB" + "BA" + "AB" + "BA" + "AB")
  }

  test("--ab reports side A in full when side B fails every round") {
    val pass = Bench.measure(Seq("q"), _ => Some(2.0),
      _ => throw new IllegalStateException("B always fails"), alternate = true)
    val line = Bench.abLine("q", "k=a", "k=b", pass.rows("q").rounds)
    assert(line == "[ab] q A(k=a) median 2.000 iqr 0.000 | B(k=b) failed | " +
      s"wins A 0 B 0 | failed rounds A 0 B $N")
  }

  test("the idle baseline compares only at the thread count it ran at") {
    val idle = Bench.IdleBaseline(32, Map("q" -> 1.0))
    assert(idle.at(32) == Map("q" -> 1.0))
    assert(idle.at(4).isEmpty)
    val pass = Pass(ListMap("q" -> RowResult.of(Seq(Round(Some(10.0), Some(4.0))))))
    assert(pass.suspect(idle.at(32)) == Seq("q") && pass.suspect(idle.at(4)).isEmpty)
    assert(pass.vsIdleRatio(idle.at(4)).isEmpty)
  }

  test("suspect rows disagree with the idle baseline by over 3x and leave the paired ratio") {
    val rows = ListMap(
      "near" -> RowResult.of(Seq(Round(Some(1.0), Some(2.0)))),
      "far" -> RowResult.of(Seq(Round(Some(10.0), Some(4.0)))))
    val pass = Pass(rows)
    val idle = Map("near" -> 1.5, "far" -> 2.0)
    assert(pass.suspect(idle) == Seq("far"))
    assert(pass.pairedRatio(idle).contains(2.0))
    assert(pass.pairedRatio(Map.empty).contains(6.0 / 11.0))
  }

  test("the result serializes with snake_case keys and leaves out absent values") {
    val r = RowResult.of(Seq(Round(None, Some(1.23456)), Round(None, None)))
    val js = graft.delta.ActionJson.mapper.writeValueAsString(Bench.json(ListMap("row" -> r)))
    assert(js == """{"row":{"spark":{"median":1.235,"min":1.235,"iqr":0.0},""" +
      """"failed_rounds":1,"rounds":[{"spark":1.235},{}]}}""")
  }
}
