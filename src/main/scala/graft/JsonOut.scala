package graft

/** Minimal JSON string escaping and number formatting shared by the
  * hand-rolled artifact writers (Verify, Bench, the layer record and
  * the measurement tools): paths, labels and oracle SQL must not be
  * able to produce an unparseable committed artifact. */
object JsonOut {
  /** A JSON string. The escape covers backslash, quote and ALL
    * control chars (< 0x20): a tab or CR in the oracle SQL would
    * otherwise make a JSON reader reject the whole file. */
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** Locale-independent fixed-point number (the `f` interpolator
    * follows the default locale — a comma-decimal JVM would make a
    * committed artifact unparseable). NaN/Inf (a 0-second t1 divide)
    * degrade to null rather than invalid JSON. */
  def num(x: Double, scale: Int): String =
    if (x.isNaN || x.isInfinite) "null"
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
}
