package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def retail(seed: Long) = Gen.retailRaw(seed, stores = 3, weeks = 20, depts = 6)

  test("retail raw files: same seed gives byte-identical files") {
    val a = retail(5)
    val b = retail(5)
    assert(a.keySet == b.keySet)
    a.foreach { case (name, bytes) => assert(bytes.sameElements(b(name)), name) }
  }

  test("retail raw files: another seed gives other files") {
    val a = retail(5)
    val b = retail(6)
    assert(!a("train.csv.zip").sameElements(b("train.csv.zip")))
    assert(!a("features.csv").sameElements(b("features.csv")))
  }

  test("retail raw files carry the reference's quirks") {
    val f = retail(1)
    val stores = new String(f("stores.csv"), "UTF-8")
    assert(stores.contains("\r") && !stores.contains("\n"), "stores.csv uses bare CR")
    val features = new String(f("features.csv"), "UTF-8")
    assert(features.contains(",NA,"))
    assert(f.keySet == Set("train.csv.zip", "features.csv", "features.csv.zip", "stores.csv",
      "test.csv.zip", "sampleSubmission.csv.zip"))
  }

  private def flat(c: Gen.Corpus) =
    (c.docs, c.vectors.map { case (i, v, l) => (i, v.toSeq, l) }, c.plantedPairs, c.clones,
      c.queryIds, c.keptIds, c.exactGroups)

  test("curation corpus: same seed gives identical documents, vectors and truth") {
    assert(flat(Gen.corpus(3, 200, 300)) == flat(Gen.corpus(3, 200, 300)))
  }

  test("curation corpus: another seed gives another corpus") {
    val a = Gen.corpus(3, 200, 300)
    val b = Gen.corpus(4, 200, 300)
    assert(a.docs != b.docs)
    assert(a.vectors.map(_._2.toSeq) != b.vectors.map(_._2.toSeq))
  }

  test("lakehouse model: same seed gives the same cycles, another seed others") {
    def cycles(seed: Long) = {
      val m = new LakehouseGen.Model(seed)
      m.initial(50)
      (Seq.fill(3)(m.cycle()), m.live.toMap)
    }
    assert(cycles(9) == cycles(9))
    assert(cycles(9) != cycles(10))
  }
}
