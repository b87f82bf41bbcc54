package graft.etl

import java.time.{LocalDate, LocalTime, ZoneId, ZonedDateTime}

/** Market-hours boundary math (reference utils.py:14-36).
  *
  * The reference keeps 09:30:00 <= t < 16:30:00 US/Eastern (note: close
  * bound is 16:30, NOT 16:00 — a deliberate reference quirk,
  * utils.py:28-34), converted to UTC epoch nanoseconds. Bounds are
  * computed once, driver-side, and folded into the plan as literals so
  * Catalyst can push them into the parquet scan.
  */
object MarketCalendar {
  val Eastern: ZoneId = ZoneId.of("America/New_York")

  val OpenTime: LocalTime = LocalTime.of(9, 30)
  /** 16:30, not 16:00 — replicates utils.py:31-34 exactly. */
  val CloseTime: LocalTime = LocalTime.of(16, 30)

  /** Epoch nanoseconds of an Eastern-zone wall-clock instant (DST-aware
    * via java.time, like pytz localize+astimezone in utils.py:14-23). */
  def epochNanos(date: LocalDate, time: LocalTime): Long = {
    val zdt = ZonedDateTime.of(date, time, Eastern)
    zdt.toEpochSecond * 1000000000L
  }

  /** [open, close) bounds in epoch ns for one trading date
    * (utils.py:26-36). Upper bound exclusive (indicators.py:174-176). */
  def marketOpenCloseNanos(date: LocalDate): (Long, Long) =
    (epochNanos(date, OpenTime), epochNanos(date, CloseTime))
}
