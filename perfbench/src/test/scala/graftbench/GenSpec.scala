package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def draw(seed: Long): (Gen, Seq[Array[Float]], Seq[String], Array[Byte]) = {
    val g = new Gen(seed)
    val cs = g.centroids("v", 8, 16)
    val vs = g.clustered("v", 20, cs, 0.7).toSeq ++ g.vectorStream("q", cs, 0.7).take(5)
    val c = Workloads.corpus(g, "docs", 5, 20, 40, 1, 1)
    (g, vs, c.docs.map(_._2), g.pdf(c.docs.head._2))
  }

  test("the same seed gives the same inputs and the same digest") {
    val (a, va, ta, pa) = draw(7)
    val (b, vb, tb, pb) = draw(7)
    assert(va.map(_.toSeq) == vb.map(_.toSeq))
    assert(ta == tb)
    assert(pa.sameElements(pb))
    assert(a.digest == b.digest)
  }

  test("another seed gives other inputs and another digest") {
    val (a, va, ta, _) = draw(7)
    val (b, vb, tb, _) = draw(8)
    assert(va.map(_.toSeq) != vb.map(_.toSeq))
    assert(ta != tb)
    assert(a.digest != b.digest)
  }

  test("a stream does not depend on what was drawn before it") {
    val g1 = new Gen(3)
    val g2 = new Gen(3)
    g2.clustered("other", 50, g2.centroids("other", 4, 16), 0.5)
    val cs1 = g1.centroids("v", 4, 16)
    val cs2 = g2.centroids("v", 4, 16)
    assert(g1.clustered("v", 10, cs1, 0.7).map(_.toSeq).toSeq ==
      g2.clustered("v", 10, cs2, 0.7).map(_.toSeq).toSeq)
  }

  test("planted duplicates carry larger ids than their originals") {
    val c = Workloads.corpus(new Gen(5), "docs", 10, 20, 40, 2, 3)
    assert(c.planted == Set(10L, 11L, 12L, 13L, 14L))
    assert(c.docs.filter(d => c.planted(d._1)).take(2).forall(d =>
      c.docs.exists(o => o._1 < 10 && o._2 == d._2)))
  }

  test("the engine's PDF extractor returns the text the generator expects") {
    val g = new Gen(11)
    val c = Workloads.corpus(g, "docs", 3, 200, 700, 0, 0)
    c.docs.foreach { case (_, t) =>
      assert(graft.sources.SimplePdfTextExtractor.extract(g.pdf(t)) == Gen.pdfText(t))
    }
  }
}
