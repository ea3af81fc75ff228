package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OrderGenSpec extends AnyFunSuite {
  private def backlog(seed: Long) =
    OrderGen.backlog(seed, 5000, StreamBacklog.StartEpoch, 3 * 86400L).map(_.wire).toVector

  test("the same seed always generates the same backlog; another seed does not") {
    assert(backlog(7) == backlog(7))
    assert(backlog(7) != backlog(8))
    val (a, _) = StreamLive.plan(7, 3)
    val (b, _) = StreamLive.plan(7, 3)
    assert(a.map(_.bytes.toSeq) == b.map(_.bytes.toSeq))
  }

  test("orders use the reference producer's domains and the backlog is time-ordered") {
    val os = OrderGen.backlog(3, 20000, StreamBacklog.StartEpoch, 86400L * 2).toVector
    assert(os.forall(o => o.userId >= 0 && o.userId < 1000 && o.courseId >= 0 &&
      o.courseId < 500 && o.fee >= 0 && o.fee < 500 && (o.flag == 0 || o.flag == 1)))
    assert(os.map(_.epochSec) == os.map(_.epochSec).sorted)
    assert(os.map(_.day).distinct == Seq("2025-01-01", "2025-01-02"))
    assert(os.head.wire.matches(
      """\{"time":"2025-01-01 00:00:00","userId":"\d+","courseId":"\d+","fee":"\d+","flag":"[01]","orderId":"[0-9a-f]+"\}"""))
  }

  test("the tally counts totals, successes and successful fees per day") {
    val t = new Tally
    t.add(Order(0, 1, 1, 10, 1, 1L))
    t.add(Order(60, 1, 1, 20, 0, 2L))
    t.add(Order(86400, 1, 1, 30, 1, 3L))
    assert(t.days("1970-01-01").toSeq == Seq(2, 1, 10))
    assert(t.days("1970-01-02").toSeq == Seq(1, 1, 30))
    assert(t.records == 3)
    val good = Map("1970-01-01" -> Map("total" -> 2L, "success" -> 1L, "fee" -> 10L),
      "1970-01-02" -> Map("total" -> 1L, "success" -> 1L, "fee" -> 30L))
    assert(t.recordsInWrongDays(good) == 0)
    assert(t.recordsInWrongDays(good.updated("1970-01-01", Map("total" -> 2L))) == 2)
  }

  test("late orders in a live plan spread over the past year") {
    val (files, tally) = StreamLive.plan(11, 20)
    assert(files.map(_.records).sum == 20 * StreamLive.PerTick)
    assert(tally.records == 20 * StreamLive.PerTick)
    assert(tally.days.size > 200)
    assert(tally.days.keys.max == "2026-01-01")
  }
}
