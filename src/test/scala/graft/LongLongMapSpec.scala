package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The driver's primitive id map, under the connected-components
  * union-find and the local index.
  */
class LongLongMapSpec extends AnyFunSuite {

  test("returns every value put, last write wins, default if absent") {
    val rnd = new Random(7)
    val ids = Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(20000)(rnd.nextLong())
    val map = new LongLongMap(4) // grows many times
    val expected = scala.collection.mutable.Map.empty[Long, Int]
    ids.zipWithIndex.foreach { case (id, i) => map.put(id, i); expected(id) = i }
    ids.take(100).foreach { id => map.put(id, 5); expected(id) = 5 }
    expected.foreach { case (id, v) => assert(map.getOrElse(id, -1) === v) }
    assert(map.keys.toSet === expected.keySet)
    Seq.fill(1000)(rnd.nextLong()).filterNot(expected.contains)
      .foreach(id => assert(map.getOrElse(id, -1) === -1))
  }

  test("refuses more than 2^29 entries before sizing its table") {
    // past 2^30, `expected * 2` overflowed and the map silently got 16 slots
    for (n <- Seq((1 << 29) + 1, (1 << 30) + 1, Int.MaxValue))
      intercept[IllegalArgumentException](new LongLongMap(n))
  }
}
