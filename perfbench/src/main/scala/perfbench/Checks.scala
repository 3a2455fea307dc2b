package perfbench

import graft.core.{PiiCategories, PiiDetector}

/** Output checks, as pure functions over rows the workloads collect. Each
  * returns the problems it found; an op whose checks return any fails. */
object Checks {
  private val tags = PiiCategories.names.map(n => s"[$n]")

  /** Planted values still present in a scrubbed text. Redaction tags are
    * masked first (a two-syllable name can be part of a tag such as
    * `[주민등록번호]`), with a separator so masking never joins the text
    * on either side into a new match. */
  def leaked(scrubbed: String, planted: Seq[String]): Seq[String] = {
    val masked = tags.foldLeft(scrubbed)((t, tag) => t.replace(tag, "\u0000"))
    planted.filter(masked.contains)
  }

  /** Keys of (key, input, output) rows whose output is not
    * `PiiDetector.scrub(input)`. */
  def scrubMismatches(rows: Seq[(String, String, String)]): Seq[String] =
    rows.collect { case (k, in, out) if PiiDetector.scrub(in) != out => k }

  /** Differences between the expected key set and the keys found:
    * missing, unexpected and repeated keys. */
  def keyDiff(expected: Set[String], found: Seq[String]): Seq[String] = {
    val got = found.toSet
    (expected -- got).toSeq.sorted.take(3).map(k => s"missing $k") ++
      (got -- expected).toSeq.sorted.take(3).map(k => s"unexpected $k") ++
      found.groupBy(identity).collect { case (k, v) if v.size > 1 => s"repeated $k" }.take(3)
  }

  /** Survivor ids that are exact recrawls of history. */
  def survivingRecrawls(survivors: Seq[Long], recrawls: Set[Long]): Seq[Long] =
    survivors.filter(recrawls.contains)

  /** One problem per row with a leak: "key: value, value". */
  def leaks(rows: Seq[(String, String, Seq[String])]): Seq[String] =
    rows.flatMap { case (k, out, planted) =>
      val l = leaked(out, planted)
      if (l.isEmpty) None else Some(s"$k leaks ${l.mkString(", ")}")
    }
}
