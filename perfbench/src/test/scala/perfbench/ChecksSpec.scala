package perfbench

import graft.core.PiiDetector
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val doc = Gen.koreanDoc(3L, "checks", 0)
  private val scrubbed = PiiDetector.scrub(doc.text)
  private val values = doc.planted.map(_._2)

  test("a correct scrub passes every check") {
    assert(Checks.leaked(scrubbed, values).isEmpty)
    assert(Checks.scrubMismatches(Seq(("u", doc.text, scrubbed))).isEmpty)
  }

  test("one unscrubbed planted value is caught") {
    val v = values.head
    val tag = s"[${graft.core.PiiCategories.names(doc.planted.head._1)}]"
    val corrupted = scrubbed.replaceFirst(java.util.regex.Pattern.quote(tag),
      java.util.regex.Matcher.quoteReplacement(v))
    assert(corrupted != scrubbed)
    assert(Checks.leaked(corrupted, values) == Seq(v))
    assert(Checks.leaks(Seq(("u", corrupted, values))).nonEmpty)
    assert(Checks.scrubMismatches(Seq(("u", doc.text, corrupted))) == Seq("u"))
  }

  test("a value that only appears inside a redaction tag is not a leak") {
    assert(Checks.leaked("전화 [주민등록번호] 끝", Seq("주민")).isEmpty)
    assert(Checks.leaked("[이름]주민", Seq("주민")) == Seq("주민"))
    // masking never joins the text around a tag into a match
    assert(Checks.leaked("주[이름]민", Seq("주민")).isEmpty)
  }

  test("one surviving recrawl is caught") {
    assert(Checks.survivingRecrawls(Seq(10L, 11L, 12L), Set(11L, 20L)) == Seq(11L))
    assert(Checks.survivingRecrawls(Seq(10L, 12L), Set(11L, 20L)).isEmpty)
  }

  test("key differences report missing, unexpected and repeated keys") {
    assert(Checks.keyDiff(Set("a", "b"), Seq("a", "b")).isEmpty)
    assert(Checks.keyDiff(Set("a", "b"), Seq("a", "c", "c")).toSet ==
      Set("missing b", "unexpected c", "repeated c"))
  }
}
