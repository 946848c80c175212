package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's date/time utility surface (`util/DateUtil.java`,
  * 533 LoC of Joda formatters pinned to UTC) re-expressed as Catalyst
  * expressions: the named formats, the dateid key, the `YYYY/MM/DD`
  * day-partition convention (`retrieval/StatusesIndexManager
  * .java:80-108`), day iteration, and the MySQL zero-date -> null
  * special case. Sessions run with spark.sql.session.timeZone=UTC,
  * matching the reference's UTC pinning.
  */
object DateFormats {

  // named formats (DateUtil.java:36-150)
  val Condensed = "yyyyMMddHHmmss"
  val DateId = "yyyyMMdd"
  val MySql = "yyyy-MM-dd HH:mm:ss"
  val MySqlMillis = "yyyy-MM-dd HH:mm:ss.SSS"
  val Underscored = "yyyy_MM_dd"
  val DayPartition = "yyyy/MM/dd" // StatusesIndexManager directory keys

  val MySqlZero = "0000-00-00 00:00:00"

  def format(ts: Column, fmt: String): Column = date_format(ts, fmt)

  def parse(s: Column, fmt: String): Column = to_timestamp(s, fmt)

  /** MySQL zero-date strings parse to null instead of erroring — the
    * reference's special case. */
  def parseMySql(s: Column): Column =
    when(s === MySqlZero, lit(null).cast("timestamp"))
      .otherwise(to_timestamp(s, MySql))

  /** dateid (yyyyMMdd int) of a timestamp. */
  def toDateId(ts: Column): Column = date_format(ts, DateId).cast("int")

  /** `YYYY/MM/DD` day key, the index-collection partition convention. */
  def dayKey(ts: Column): Column = date_format(ts, DayPartition)

  /** All days from start to end inclusive (day iteration,
    * `StatusesIndexManager.java:80-108`): an array of dates to explode. */
  def daySpan(start: Column, end: Column): Column =
    sequence(to_date(start), to_date(end), expr("interval 1 day"))
}
