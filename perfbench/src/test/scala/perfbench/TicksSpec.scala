package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TicksSpec extends AnyFunSuite {
  private val shape = Ticks.shapeFor(timedHours = 5, replays = 2)

  private def groupHours(l: Ticks.Load): Map[(Ticks.Hour, Int, String), Seq[Ticks.Tick]] =
    l.ticks.groupBy(t => (Ticks.tehranHour(t.tsMicros), t.source, t.side))

  test("every (source, side) group ticks at least twice in every hour, each tick in its own minute") {
    val l = Ticks.generate(shape, 7L)
    val g = groupHours(l)
    for (h <- shape.schedule; s <- 1 to shape.sources; side <- Ticks.Sides) {
      val ticks = g.getOrElse((h, s, side), Nil)
      assert(ticks.size >= 2, s"$h source $s side $side")
      val minutes = ticks.map(t => t.tsMicros / 60000000L)
      assert(minutes.distinct.size == minutes.size, s"$h source $s side $side")
    }
    assert(g.keySet.map(_._1) == shape.schedule.toSet)
  }

  test("group 0 pins every hour's grid to minutes 0 and 59") {
    val l = Ticks.generate(shape, 7L)
    for (h <- shape.schedule) {
      val start = h.local.atZone(Ticks.Tehran).toInstant.getEpochSecond
      val minutes = groupHours(l)((h, 1, Ticks.Sides.head))
        .map(t => (t.tsMicros / 1000000L - start) / 60).toSet
      assert(minutes.contains(0L) && minutes.contains(59L), s"$h")
    }
  }

  test("the same seed gives identical inputs") {
    assert(Ticks.generate(shape, 42L) == Ticks.generate(shape, 42L))
  }

  test("another seed gives the same load shape with different values") {
    val a = Ticks.generate(shape, 1L)
    val b = Ticks.generate(shape, 2L)
    def perHour(l: Ticks.Load) = l.ticks.groupBy(t => Ticks.tehranHour(t.tsMicros)).map { case (h, ts) => h -> ts.size }
    def perGroupHour(l: Ticks.Load) = groupHours(l).map { case (k, ts) => k -> ts.size }
    assert(perHour(a) == perHour(b))
    assert(perGroupHour(a) == perGroupHour(b))
    assert(a.ops.size == b.ops.size && a.ops.count(_.replay) == b.ops.count(_.replay))
    assert(a.ops.filterNot(_.replay) == b.ops.filterNot(_.replay))
    assert(a.ticks.map(_.tsMicros) != b.ticks.map(_.tsMicros))
    assert(a.ticks.map(_.price) != b.ticks.map(_.price))
  }

  test("the timed ops run the hours after the history in order, replays at higher versions") {
    val l = Ticks.generate(shape, 3L)
    assert(l.ops.filterNot(_.replay).map(_.hour) == shape.schedule.drop(shape.historyHours))
    assert(l.ops.count(_.replay) == 2)
    l.ops.filter(_.replay).foreach(op => assert(op.runVersion >= 2))
    assert(l.ops.filter(_.replay).map(_.runVersion).distinct.size == 2)
    // the schedule crosses into the next date
    assert(shape.schedule.map(_.dateId).distinct.size == 2)
  }
}
