package graft.cdcbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def draw(seed: Long, keys: KeyDist) = {
    val g = new Generator(seed, keys, custShare = 0.2, deleteShare = 0.15)
    (g.initialOrders, g.initialCustomers, g.files(20, 7), g.orders.toMap)
  }

  test("the same seed gives the same tables and the same files") {
    for (keys <- Seq(KeyDist.Uniform, KeyDist.Zipf(1.1))) {
      assert(draw(42, keys) == draw(42, keys))
      assert(draw(42, keys)._3 != draw(43, keys)._3)
    }
  }

  test("files carry Maxwell envelopes for the mapped tables only") {
    val (_, _, files, _) = draw(7, KeyDist.Uniform)
    val lines = files.flatten
    assert(lines.size == 140)
    assert(lines.forall(l => l.startsWith("""{"database":"shop","table":"""")))
    assert(lines.exists(_.contains(""""type":"delete"""")))
    assert(lines.exists(_.contains(""""type":"update"""")))
    assert(lines.exists(_.contains(""""table":"customer"""")))
  }

  test("zipf keys concentrate events on few keys") {
    def distinctKeys(keys: KeyDist) = {
      val g = new Generator(1, keys, custShare = 0.0, deleteShare = 0.0)
      g.files(1, 2000).flatten.map(l => l.split("\"o_id\":")(1).takeWhile(_.isDigit)).toSet.size
    }
    assert(distinctKeys(KeyDist.Zipf(1.1)) * 2 < distinctKeys(KeyDist.Uniform))
  }
}
