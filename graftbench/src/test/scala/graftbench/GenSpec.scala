package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("one seed gives the same stream and batches; another seed does not") {
    assert(Gen.stream(7L, 2000, 200) == Gen.stream(7L, 2000, 200))
    assert(Gen.batchDocs(7L, 2000, 1, 20).map(d => (d.docId, d.text)) ==
      Gen.batchDocs(7L, 2000, 1, 20).map(d => (d.docId, d.text)))
    assert(Gen.stream(7L, 2000, 200).map(_.spec) != Gen.stream(8L, 2000, 200).map(_.spec))
  }

  test("every block of the stream has the same mix") {
    Gen.stream(3L, 2000, 200).grouped(Gen.Block).foreach { b =>
      assert(b.count(_.shape == "and") == 10 && b.count(_.shape == "any") == 6 &&
        b.count(_.shape == "phrase") == 4)
      assert(b.count(_.filtered) == 5 && b.count(_.spec.excludeWords.nonEmpty) == 2)
      assert(b.count(_.typo) == 3)
      assert(b.map(_.spec.lang).groupBy(identity).map { case (l, v) => l -> v.size } ==
        Map("hi" -> 10, "gu" -> 8, "en" -> 2))
    }
  }

  test("a misspelled word is one transposition or one doubled letter away") {
    assert(Gen.misspell("abcd") == "acbd")
    assert(Gen.misspell("abbc") == "abbcc")
    assert(Gen.misspell("a") == "aa")
  }

  test("phrase requests are windows of a corpus doc in the request's language") {
    Gen.stream(4L, 2000, 100).filter(_.shape == "phrase").foreach { q =>
      assert(q.spec.phrase && q.spec.query.split(" ").length >= 2)
    }
  }

  test("over HTTP an ANY request runs as AND and loses its year filter") {
    val http = Gen.stream(3L, 2000, 100).map(Gen.viaHttp)
    assert(http.forall(q => q.spec.mode == "all" && q.spec.yearRange.isEmpty && q.shape != "any"))
    assert(http.map(_.spec.query) == Gen.stream(3L, 2000, 100).map(_.spec.query))
  }

  test("a batch is half new ids, half replacements spread over the chunks") {
    val docs = Gen.batchDocs(9L, 2000, 0, 20)
    assert(docs.map(_.docId).distinct.size == 20)
    assert(docs.count(_.docId >= 2000) == 10)
    assert(docs.filter(_.docId < 2000).map(_.docId % 2).distinct.size == 2)
    docs.filter(_.docId < 2000).foreach { d =>
      assert(d.text != graft.corpus.Webtext.genDoc(9L, d.docId).text)
    }
  }

  test("percentiles need ten samples beyond them") {
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).isDefined)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }
}
