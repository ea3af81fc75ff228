package perfbench

import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** One order event in the reference producer's field domains: userId
  * 0–999, courseId 0–499, fee 0–499, flag 0/1, hex orderId. */
final case class Order(epochSec: Long, userId: Int, courseId: Int, fee: Int,
                       flag: Int, orderId: Long) {
  def day: String = OrderGen.day(epochSec)

  /** The wire form: a JSON object whose six fields are all strings. */
  def wire: String =
    s"""{"time":"${OrderGen.time(epochSec)}","userId":"$userId","courseId":"$courseId","fee":"$fee","flag":"$flag","orderId":"${java.lang.Long.toHexString(orderId)}"}"""
}

/** The benchmark's own order generator. It never calls the program's
  * generator, so a change to the program cannot change the workload. */
object OrderGen {
  private val dayCache = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def day(epochSec: Long): String =
    dayCache.computeIfAbsent(Math.floorDiv(epochSec, 86400L),
      d => LocalDate.ofEpochDay(d).toString)

  def time(epochSec: Long): String = {
    val s = Math.floorMod(epochSec, 86400L).toInt
    def two(n: Int) = if (n < 10) "0" + n else n.toString
    day(epochSec) + " " + two(s / 3600) + ":" + two(s / 60 % 60) + ":" + two(s % 60)
  }

  def draw(rng: SplittableRandom, epochSec: Long): Order =
    Order(epochSec, rng.nextInt(1000), rng.nextInt(500), rng.nextInt(500),
      rng.nextInt(2), rng.nextLong())

  /** `n` time-ordered orders spread evenly over `spanSec` seconds. */
  def backlog(seed: Long, n: Int, startEpoch: Long, spanSec: Long): Iterator[Order] = {
    val rng = new SplittableRandom(seed)
    Iterator.range(0, n).map(i => draw(rng, startEpoch + i.toLong * spanSec / n))
  }
}

/** The generator's own per-day tally of the three metrics, the reference
  * answer a sink's final state must equal. */
final class Tally {
  val days = mutable.HashMap.empty[String, Array[Long]]

  def add(o: Order): Unit = {
    val a = days.getOrElseUpdate(o.day, new Array[Long](3))
    a(0) += 1
    if (o.flag == 1) { a(1) += 1; a(2) += o.fee }
  }

  def records: Long = days.valuesIterator.map(_(0)).sum

  /** Records of the days whose state in `lookup` differs from the tally. */
  def recordsInWrongDays(lookup: String => Map[String, Long]): Long =
    days.iterator.collect {
      case (d, a) if lookup(d) != Map("total" -> a(0), "success" -> a(1), "fee" -> a(2)) => a(0)
    }.sum
}
