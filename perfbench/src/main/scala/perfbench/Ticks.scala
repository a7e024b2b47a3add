package perfbench

import java.time.{LocalDateTime, ZoneId}

/** Seeded gold-tick generator for the `hourly_etl` workload.
  *
  * The ticks are `events`-shaped (event_id, ts, user_id, event_type,
  * value, props) so `graft.ops.GoldModel.fact` maps them onto the
  * fact_gold_price model: user_id is the source, event_type the side.
  *
  * The LOAD SHAPE — sources, sides, the hour schedule, how many ticks
  * each (source, side) group gets in each hour, and how many hours are
  * replayed — is fixed and does not depend on the seed. The seed picks
  * everything else: the minute and second of every tick, its price,
  * and which history hours the replays re-run. Two seeds therefore put
  * the same load on the pipeline with different values, so a claim
  * can be rechecked on a seed that was not used while making it.
  *
  * The leading hours of the schedule are history, bulk-loaded before
  * the timed phase; the remaining hours are the timed ops.
  *
  * Every group gets 2 to 7 ticks in every hour, each in its own
  * minute, so the pipeline's completeness gate holds: every group has
  * the two actual points interpolation needs, and densifying an hour
  * yields exactly groups × 60 rows. Group 0 always ticks in minutes 0
  * and 59, which pins each hour's grid to 60 minutes.
  */
object Ticks {

  val Sides: Seq[String] = Seq("click", "purchase", "signup", "view")
  val Tehran: ZoneId = ZoneId.of("Asia/Tehran")
  private val ShapeSeed = 0x5EEDL

  /** One closed Tehran hour of the schedule. */
  final case class Hour(dateId: Int, hour: Int) {
    def local: LocalDateTime =
      LocalDateTime.of(dateId / 10000, dateId / 100 % 100, dateId % 100, hour, 0)
  }

  /** One op of the schedule: a fresh hour at runVersion 1, or a replay
    * of an earlier hour at a higher runVersion. */
  final case class Op(hour: Hour, runVersion: Long) {
    def replay: Boolean = runVersion > 1
  }

  final case class Tick(
      eventId: Long, tsMicros: Long, source: Int, side: String, price: Double)

  /** @param hours        schedule length from Tehran midnight of `firstDate`
    * @param historyHours leading hours bulk-loaded before the timed
    *                     phase; the rest run one op each, in order
    * @param replays      replays interleaved with the timed hours */
  final case class Shape(
      sources: Int, firstDate: Int, hours: Int, historyHours: Int, replays: Int) {
    require(historyHours > 0 && historyHours < hours && historyHours <= 24)
    def groups: Int = sources * Sides.size
    val schedule: Seq[Hour] = {
      val start = LocalDateTime.of(firstDate / 10000, firstDate / 100 % 100,
        firstDate % 100, 0, 0)
      (0 until hours).map { i =>
        val t = start.plusHours(i)
        Hour(t.getYear * 10000 + t.getMonthValue * 100 + t.getDayOfMonth, t.getHour)
      }
    }
    def history: Seq[Hour] = schedule.take(historyHours)
    /** Ticks per (hour index, group index): seed-independent. */
    val ticksPer: Array[Array[Int]] = {
      val r = new java.util.SplittableRandom(ShapeSeed)
      Array.fill(hours, groups)(2 + r.nextInt(6))
    }
    def ticksInHour(i: Int): Int = ticksPer(i).sum
  }

  /** 25 sources × 4 sides over Tehran 2024-01-10 00:00 to 2024-01-11
    * 01:00. The last `timedHours` hours are timed: late-day hours of the
    * first date, whose leaf is nearly full, then the rollover to the next
    * date's first hour. */
  def shapeFor(timedHours: Int, replays: Int): Shape = {
    val hours = 25
    Shape(sources = 25, firstDate = 20240110, hours = hours,
      historyHours = hours - timedHours, replays = replays)
  }

  final case class Load(shape: Shape, seed: Long, ticks: IndexedSeq[Tick], ops: Seq[Op]) {
    /** Generated tick count of a schedule hour. */
    def count(h: Hour): Long = shape.ticksInHour(shape.schedule.indexOf(h)).toLong
  }

  def generate(shape: Shape, seed: Long): Load = {
    val r = new java.util.SplittableRandom(seed)
    val basePrice = Array.fill(shape.sources)(30000000.0 + r.nextInt(5000000))
    val ticks = IndexedSeq.newBuilder[Tick]
    var id = 0L
    shape.schedule.zipWithIndex.foreach { case (h, hi) =>
      val hourStartUtc = h.local.atZone(Tehran).toInstant
      for (g <- 0 until shape.groups) {
        val n = shape.ticksPer(hi)(g)
        val minutes =
          if (g == 0) (Seq(0, 59) ++ pick(r, 1 to 58, n - 2)).sorted
          else pick(r, 0 to 59, n).sorted
        val source = g / Sides.size
        minutes.foreach { m =>
          val second = r.nextInt(60)
          val micros = hourStartUtc.plusSeconds(m * 60L + second).getEpochSecond * 1000000L +
            r.nextInt(1000000)
          val drift = (r.nextInt(20001) - 10000) * 10.0
          val price = math.round((basePrice(source) + drift) * 100) / 100.0
          id += 1
          ticks += Tick(id, micros, source + 1, Sides(g % Sides.size), price)
        }
      }
    }
    // replay k follows the timed op at a fixed position and re-runs a
    // history hour (a backfill of the full first date), chosen by the
    // seed, at runVersion 1 + k: every replay outranks whatever version
    // that hour holds
    val timed = shape.hours - shape.historyHours
    val positions = (1 to shape.replays).map(k => shape.historyHours + k * timed / (shape.replays + 1))
    val ops = shape.schedule.zipWithIndex.drop(shape.historyHours).flatMap { case (h, i) =>
      val k = positions.indexOf(i)
      if (k < 0) Seq(Op(h, 1L))
      else Seq(Op(h, 1L), Op(shape.history(r.nextInt(shape.historyHours)), 2L + k))
    }
    Load(shape, seed, ticks.result(), ops)
  }

  /** n distinct values of `range`, chosen by `r`. */
  private def pick(r: java.util.SplittableRandom, range: Range, n: Int): Seq[Int] = {
    val a = range.toArray
    for (i <- 0 until n) {
      val j = i + r.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(n).toSeq
  }

  /** UTC epoch micros → Tehran (dateId, hour): the keying GoldModel
    * applies on the Spark side. */
  def tehranHour(micros: Long): Hour = {
    val t = java.time.Instant.ofEpochSecond(micros / 1000000L).atZone(Tehran)
    Hour(t.getYear * 10000 + t.getMonthValue * 100 + t.getDayOfMonth, t.getHour)
  }
}
