package graft.transform

import java.time.{LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Date/time scalars used by the sink payload renderers.
  *
  * Mirrors `/root/reference/megalista_dataflow/uploaders/utils.py:50-66`:
  *  - input timestamps travel as strings `%Y-%m-%dT%H:%M:%S.%f`;
  *  - `format_date` interprets the naive time as America/Sao_Paulo wall time
  *    and renders `YYYY-MM-DD HH:MM:SS±HH:MM` with that zone's offset;
  *  - `get_timestamp_micros` is `floor(ts * 10e5)` — note Python `10e5`
  *    equals 1e6, so this IS epoch micros (no magnitude quirk; the naive
  *    datetime is resolved against the runtime's clock zone, which the
  *    deployment runs as UTC — replicated here as UTC).
  */
object TimeUtils {

  val SaoPaulo: ZoneId = ZoneId.of("America/Sao_Paulo")

  /** Python `%f` accepts 1-6 fraction digits interpreted as a fraction of a
    * second (right-padded) — exactly Java's `appendFraction` semantics.
    */
  private val InFmt = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
    .optionalStart()
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 0, 9, true)
    .optionalEnd()
    .toFormatter()
  private val OutFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def parse(s: String): LocalDateTime = LocalDateTime.parse(s, InFmt)

  /** `uploaders/utils.py:50-58`: localize to São Paulo, render with the
    * zone offset split as ±HH:MM.
    */
  def formatDate(s: String): String = formatDate(parse(s))

  def formatDate(dt: LocalDateTime): String = {
    // pytz.localize(is_dst=False) parity, which the reference relies on:
    // DST-ambiguous wall times take the STANDARD offset (atZone would pick
    // the DST one) and spring-forward gap times keep their wall clock with
    // the standard offset (atZone would shift them an hour). Only differs
    // from atZone for pre-2019 Sao Paulo DST dates, but those are exactly
    // the backfill timestamps a conversions pipeline replays.
    val rules = SaoPaulo.getRules
    val valid = rules.getValidOffsets(dt)
    val offset =
      if (valid.size() == 1) valid.get(0)
      else rules.getStandardOffset(dt.toInstant(java.time.ZoneOffset.UTC))
    val off = offset.getId match { // "-03:00" / "Z"
      case "Z" => "+00:00"
      case o   => o
    }
    s"${OutFmt.format(dt)}$off"
  }

  /** `uploaders/utils.py:60-66`: epoch micros of the (UTC-resolved) naive
    * timestamp.
    */
  def timestampMicros(s: String): Long = timestampMicros(parse(s))

  def timestampMicros(dt: LocalDateTime): Long = {
    // epochSecond is already floored and nano is non-negative, so this IS
    // floor(micros) — no extra floor wrapper needed
    val i = dt.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

}
