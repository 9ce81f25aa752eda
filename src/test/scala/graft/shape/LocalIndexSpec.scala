package graft.shape

import java.lang.{Long => JLong}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The primitive structures under the driver-local index: the
  * per-direction posting lists and the column-wise dictionary agree with
  * a plain map built from the same input (the id map under both is
  * `graft.LongLongMapSpec`'s).
  */
class LocalIndexSpec extends AnyFunSuite {

  test("Postings lists each value's positions in order and skips absent values") {
    val rnd = new Random(11)
    val values: IndexedSeq[JLong] = IndexedSeq.fill(5000)(
      if (rnd.nextInt(5) == 0) null else JLong.valueOf(rnd.nextInt(300).toLong - 150))
    val postings = new Postings(values.size, values(_))
    val byValue = values.indices.filter(values(_) != null).groupBy(q => values(q).longValue)
    byValue.foreach { case (v, qs) =>
      assert(postings.positions(v).toSeq === qs)
      assert(postings.count(v) === qs.size)
    }
    assert(postings.positions(1000L).isEmpty)
    assert(postings.count(1000L) === 0)
  }

  test("NodeTable gives back each entry, nulls included") {
    val entries = IndexedSeq(
      LocalNode(1, "a", null, null, null, null, null, null, "a"),
      LocalNode(2, "", JLong.valueOf(-3L), java.lang.Double.valueOf(-0.0),
        java.lang.Boolean.FALSE, JLong.valueOf(9L), "en", "xsd:x", null),
      LocalNode(3, null, null, java.lang.Double.valueOf(2.5),
        java.lang.Boolean.TRUE, null, null, null, "é中"))
    val ids = Array(10L, -20L, 30L)
    val table = new NodeTable(ids, entries(_))
    ids.indices.foreach(k => assert(table.get(ids(k)) === entries(k)))
    assert(table.get(11L) === null)
  }
}
