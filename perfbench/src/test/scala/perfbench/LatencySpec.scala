package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LatencySpec extends AnyFunSuite {
  private val ms = 1000000L

  test("each event lands at the first total return covering its per-day ordinal") {
    // file 0 (due 0 ms): 2 events on day A, 1 on day B
    // file 1 (due 100 ms): 3 events on day A
    val files = Seq(Published(0, Seq("A" -> 2, "B" -> 1)), Published(100 * ms, Seq("A" -> 3)))
    val landings = Map(
      "p-A" -> Seq(Landing("p-A", 2, 250 * ms), Landing("p-A", 5, 400 * ms)),
      "p-B" -> Seq(Landing("p-B", 1, 260 * ms)))
    val (lat, missing) = Latency.attribute(files, landings, "p-")
    assert(missing == 0)
    assert(lat.toSeq.sorted == Seq(250.0, 250.0, 260.0, 300.0, 300.0, 300.0))
  }

  test("a return that covers several files lands them all; the earliest return wins") {
    val files = Seq(Published(0, Seq("A" -> 1)), Published(50 * ms, Seq("A" -> 1)))
    // returns recorded out of order: the later-recorded smaller total came back first
    val landings = Map("A" -> Seq(Landing("A", 2, 300 * ms), Landing("A", 1, 320 * ms)))
    val (lat, _) = Latency.attribute(files, landings, "")
    assert(lat.toSeq == Seq(300.0, 250.0))
  }

  test("events no return covers are counted missing, not timed") {
    val files = Seq(Published(0, Seq("A" -> 3, "C" -> 2)))
    val landings = Map("A" -> Seq(Landing("A", 2, 10 * ms)))
    val (lat, missing) = Latency.attribute(files, landings, "")
    assert(lat.toSeq == Seq(10.0, 10.0))
    assert(missing == 3)
  }
}
