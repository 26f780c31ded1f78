package graft.model

import java.sql.Timestamp

// Core data model of the engine — SURVEY.md §1.
//
// Everything in the reference (CUrW-SL/curw_flo2d_data_manager) is a keyed
// time-series: ordered `(time, value)` rows identified by a 64-hex sha256
// hash id of the series metadata (reference:
// input/inflow/gen_150_inflow.py:97-110, input/inflow/config_150.json:2).
// The engine carries them as DataFrames; this file holds the sentinels
// and the time helpers.

object Sentinels {
  /** Invalid tide point, skipped (reference: input/outflow/gen_outflow.py:109). */
  val InvalidTide: Double = -99999d
  /** Missing output value (reference: output/extract_water_level.py:407,565). */
  val MissingOutput: Double = -999d
}

/** Sri-Lanka-time helpers. The reference stores naive local timestamps and
  * shifts by a hand-computed +05:30 (reference: input/rain/gen_rain.py:34-35,
  * output/extract_water_level.py:53-60). We keep all session time zones UTC
  * and make the offset explicit.
  */
object SlTime {
  val OffsetMinutes: Int = 330

  /** Epoch micros of a naive `yyyy-MM-dd HH:mm:ss[.SSS…]` timestamp read as
    * UTC — µs precision preserved (single definition for every deck/parser
    * anchor computation). */
  def microsOf(ts: String): Long = {
    val ldt = java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
  }

  def utcToSl(t: Timestamp): Timestamp =
    new Timestamp(t.getTime + OffsetMinutes * 60000L)

  /** Grid-alignment validation (F8): seconds == 0 and minutes a multiple of
    * `stepMinutes` (reference: input/raincell/gen_raincell.py:53-71). */
  def requireGridAligned(t: Timestamp, stepMinutes: Int): Unit = {
    val sec = (t.getTime / 1000) % 60
    val min = (t.getTime / 60000) % 60
    require(sec == 0, s"timestamp $t has non-zero seconds")
    require(min % stepMinutes == 0, s"timestamp $t minutes not aligned to $stepMinutes")
  }
}
