package ragbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long) = {
    val ds = Gen.docs(seed, 0, 3000)
    val ps = Gen.pages(ds)
    val qs = Gen.queries(seed, 0, 64)
    (ds, ps, qs, Gen.manifest(ds, ps.length, ps.map(_._3.length.toLong).sum, qs))
  }

  test("the same seed gives identical inputs and manifest") {
    assert(inputs(7L) == inputs(7L))
  }

  test("another seed gives other inputs") {
    val (a, _, qa, _) = inputs(7L)
    val (b, _, qb, _) = inputs(8L)
    assert(a.map(_.text) != b.map(_.text))
    assert(qa != qb)
  }

  test("a document depends only on the seed and its id") {
    val whole = Gen.docs(7L, 0, 3000)
    assert(Gen.docs(7L, 2500, 500) == whole.drop(2500))
  }

  test("duplicates are present at about their set shares") {
    val ds = Gen.docs(7L, 0, 20000)
    val late = ds.drop(Gen.DupWindow)
    val exact = late.count(_.exact).toDouble / late.length
    val near = late.count(d => d.dupOf >= 0 && !d.exact).toDouble / late.length
    assert(math.abs(exact - Gen.ExactDupShare) < 0.01)
    assert(math.abs(near - Gen.NearDupShare) < 0.01)
    val byId = ds.map(d => d.id -> d).toMap
    late.filter(_.exact).foreach(d => assert(d.text == byId(d.dupOf).text))
    late.filter(d => d.dupOf >= 0 && !d.exact).foreach { d =>
      val a = d.text.split(" ")
      val b = byId(d.dupOf).text.split(" ")
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 1)
    }
  }

  test("query terms come from the synthetic vocabulary") {
    val vocab = Gen.vocab.toSet
    assert(Gen.vocab.length == Gen.VocabSize && vocab.size == Gen.VocabSize)
    assert(vocab.intersect(Gen.BaseWords.toSet).isEmpty)
    Gen.queries(7L, 0, 200).foreach(q => assert(q.terms.forall(vocab)))
  }
}
