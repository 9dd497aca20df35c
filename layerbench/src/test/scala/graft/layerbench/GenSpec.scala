package graft.layerbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val small = Gen.CorpusParams(docs = 400, vocab = 5000, clusters = 20,
    maxClusterSize = 6, hotSize = 30, dim = 16)

  test("clips windows: same seed, same content; another seed, other content") {
    val a = Gen.clipsHash(Gen.clipWindow(7, 5000))
    assert(a == Gen.clipsHash(Gen.clipWindow(7, 5000)))
    assert(a != Gen.clipsHash(Gen.clipWindow(8, 5000)))
  }

  test("clips windows are disjoint, whole injection periods, with 12-digit ids") {
    val w = Gen.clipWindow(-1, 5000)
    assert(w.lo >= 0 && w.lo % 5000 == 0 && w.size == 5000)
    assert(Gen.clipWindow(3, 5000).lo == Gen.clipWindow(2, 5000).hi)
    assert(graft.io.ClipsGenerator.clipId(Gen.clipWindow(Long.MaxValue, 100000).hi)
      .matches("^clip-[0-9]{12}$"))
    assertThrows[IllegalArgumentException](Gen.clipWindow(1, 1234))
  }

  test("raw ingest batches: same seed and round, same content; otherwise not") {
    val a = Gen.rawHash(Gen.ingestWindow(11, 3, 500))
    assert(a == Gen.rawHash(Gen.ingestWindow(11, 3, 500)))
    assert(a != Gen.rawHash(Gen.ingestWindow(12, 3, 500)))
    assert(a != Gen.rawHash(Gen.ingestWindow(11, 4, 500)))
  }

  test("raw rows carry sr_hz and dur_ms as strings, with the planted zero duration") {
    val w = Gen.ingestWindow(11, 0, 5000)
    val bad = w.indices.find(Gen.badDuration).get
    assert(Gen.rawRow(bad).dur_ms.trim == "0")
    val good = w.indices.find(i => !Gen.ingestError(i)).get
    assert(Gen.rawRow(good).sr_hz.toInt == graft.io.ClipsGenerator.srHz(good))
  }

  test("corpus: same seed, same content; another seed, other content") {
    val a = Gen.corpusHash(Gen.corpus(5, small))
    assert(a == Gen.corpusHash(Gen.corpus(5, small)))
    assert(a != Gen.corpusHash(Gen.corpus(6, small)))
  }

  test("corpus plants near-duplicate clusters with a hot cluster and unit vectors") {
    val c = Gen.corpus(5, small)
    assert(c.docs.size == small.docs)
    assert(c.docs.map(_.doc_id).distinct.size == small.docs)
    assert(c.clusters.size == small.clusters + 1)
    assert(c.clusters(c.hot).size == small.hotSize)
    assert(c.clusters.forall(_.size >= 2))
    c.docs.foreach { d =>
      val norm = math.sqrt(d.vec.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-5)
      assert(d.text.split(" ").length >= 60)
    }
  }
}
