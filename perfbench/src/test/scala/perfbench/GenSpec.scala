package perfbench

import graft.core.PiiDetector
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val docs = (0 until 300).map(i => Gen.koreanDoc(7L, "spec", i))

  test("the same seed gives identical inputs; another seed gives different ones") {
    assert(Gen.koreanDoc(7L, "spec", 3) == docs(3))
    assert(Gen.fixtureDocuments(7L, 50) == Gen.fixtureDocuments(7L, 50))
    assert(Gen.stubText(7L, "s", 1) == Gen.stubText(7L, "s", 1))
    assert(Gen.koreanDoc(8L, "spec", 3) != docs(3))
    assert(Gen.fixtureDocuments(8L, 50) != Gen.fixtureDocuments(7L, 50))
    val base = Gen.fixtureDocuments(7L, 20).map(_._2).toIndexedSeq
    assert(Gen.thirdMix(base, "?h7", "k", 1) == Gen.thirdMix(base, "?h7", "k", 1))
    assert(Gen.thirdMix(base, "?h7", "k", 1) != Gen.thirdMix(base, "?h8", "k", 1))
  }

  test("every planted value is detected in its category and occurs once") {
    for (d <- docs; (cat, v) <- d.planted) {
      val found = Option(PiiDetector.detect(d.text)(cat)).getOrElse(Nil)
      assert(found.contains(v), s"category $cat value '$v' not detected in:\n${d.text}")
      assert(d.text.indexOf(v) == d.text.lastIndexOf(v))
    }
  }

  test("planted documents cover all 12 categories at a fixed density") {
    assert(docs.forall(_.planted.size == Gen.PiiPerDoc))
    assert(docs.flatMap(_.planted.map(_._1)).toSet == (0 until 12).toSet)
  }

  test("scrubbing removes every planted value") {
    for (d <- docs) assert(Checks.leaked(PiiDetector.scrub(d.text), d.planted.map(_._2)).isEmpty)
  }

  test("fixture documents have the sf0.1 shape") {
    val f = Gen.fixtureDocuments(1L, 200)
    assert(f.map(_._1) == (0 until 200).map(_.toLong))
    assert(f.forall { case (_, t, _, _, n) => t.length == n && t.split(" ").length >= 10 })
    assert(f.map(_._3).toSet.subsetOf(Set("en", "zh", "es", "fr", "de")))
  }

  test("the generator decides the keep outcome: Korean documents are clearly kept, stubs are short") {
    assert(docs.forall(d => Gen.clearlyKept(d.text)))
    assert((0 until 100).forall(j => Gen.stubText(7L, "s", j).split(" ").length < 10))
    val words = Gen.fixtureDocuments(7L, 1).head._2.split(" ").take(30).toSeq
    assert(!Gen.clearlyKept(words.take(15).mkString(" ")), "too few words")
    assert(!Gen.clearlyKept((Seq.fill(3)("spark window") ++ words).mkString(" ")), "a bigram thrice")
    assert(!Gen.clearlyKept((words :+ "#").mkString(" ")), "a symbol")
  }

  test("a drop-3 mutant loses exactly its first three tokens") {
    assert(Gen.dropThree("a b c d e") == "d e")
  }
}
