package graft.cluster

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.PropCheck

/** The primitive long→long map under the local connected-components
  * path: growth from the smallest capacity through many doublings, the
  * loud failure at its slot limit, and union-by-min labels against a
  * BFS labeling while the map grows. */
class UnionFindSpec extends AnyFunSuite {

  test("LongLongMap grows from capacity 2 through many doublings without losing entries") {
    val rnd = new scala.util.Random(3)
    val keys = (Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(5000)(rnd.nextLong())).distinct
    val m = new UnionFind.LongLongMap(1)
    keys.zipWithIndex.foreach { case (k, i) => m.put(k, i.toLong) }
    keys.zipWithIndex.foreach { case (k, i) => assert(m.getOrDefault(k, -7L) == i.toLong, s"key $k") }
    keys.take(100).foreach(k => m.put(k, 42L)) // overwrite keeps size
    assert(m.size == keys.size)
    assert(m.getOrDefault(keys.head, -7L) == 42L)
    assert(m.getOrDefault(12345678901L, -7L) == -7L || keys.contains(12345678901L))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    m.foreachKey(seen += _)
    assert(seen.sorted == keys.sorted)
  }

  test("LongLongMap fails loudly instead of growing past its slot limit") {
    val m = new UnionFind.LongLongMap(1, maxCap = 8)
    (1L to 4L).foreach(k => m.put(k, k)) // fits: capacity 2 → 4 → 8
    val e = intercept[IllegalArgumentException](m.put(5L, 5L))
    assert(e.getMessage.contains("cannot grow past 8 slots"))
  }

  test("minLabelsLong from capacity 2 equals a BFS min-labeling") {
    val graph = for {
      n <- Gen.choose(1, 400)
      nodes <- Gen.listOfN(n, Gen.oneOf(Gen.choose(-50L, 50L), Gen.long)).map(_.distinct.toArray)
      e <- Gen.choose(0, 2 * n)
      edges <- Gen.listOfN(e, Gen.zip(Gen.choose(0, nodes.length - 1), Gen.choose(0, nodes.length - 1)))
    } yield edges.map { case (i, j) => (nodes(i), nodes(j)) }.toArray

    PropCheck.check(Prop.forAll(graph) { edges =>
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
      val expected = scala.collection.mutable.Map.empty[Long, Long]
      val seen = scala.collection.mutable.Set.empty[Long]
      adj.keys.foreach { s =>
        if (seen.add(s)) {
          val comp = scala.collection.mutable.ArrayBuffer(s)
          var i = 0
          while (i < comp.length) {
            adj(comp(i)).foreach(x => if (seen.add(x)) comp += x)
            i += 1
          }
          val mn = comp.min
          comp.foreach(x => if (x != mn) expected(x) = mn)
        }
      }
      val (ks, vs) = UnionFind.minLabelsLong(edges.map(_._1), edges.map(_._2), initialCap = 1)
      (ks.length == expected.size) :| "label count" &&
      ks.indices.forall(i => expected.get(ks(i)).contains(vs(i))) :| "labels"
    }, 300)
  }
}
