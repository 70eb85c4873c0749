package gatewaybench

import org.scalatest.funsuite.AnyFunSuite

/** The seed is the only source of variation in a workload's operations. */
class MixSpec extends AnyFunSuite {

  test("the same seed yields the same interactive mix; another seed a different one") {
    val a = Mix.interactive(7L, 0, 4, "/scratch")
    assert(a == Mix.interactive(7L, 0, 4, "/scratch"))
    assert(a != Mix.interactive(8L, 0, 4, "/scratch"))
    assert(a != Mix.interactive(7L, 1, 4, "/scratch"), "clients of one run differ")
  }

  test("the same seed yields the same bulk passes and stream feed") {
    assert(Mix.bulkPass(7L, 0) == Mix.bulkPass(7L, 0))
    assert(Mix.bulkPass(7L, 0) != Mix.bulkPass(8L, 0))
    assert(Mix.streamFeed(7L, 2, 25, 10, 0.05) == Mix.streamFeed(7L, 2, 25, 10, 0.05))
    assert(Mix.streamFeed(7L, 2, 25, 10, 0.05) != Mix.streamFeed(8L, 2, 25, 10, 0.05))
  }

  test("every interactive block has the same class mix, about a quarter writes") {
    val ops = Mix.interactive(3L, 0, 6, "/scratch")
    val blocks = ops.grouped(Mix.blockSize).toSeq
    val mixes = blocks.map(_.groupBy(_.cls).map { case (c, xs) => c -> xs.size })
    assert(mixes.distinct.size == 1, mixes)
    val writes = blocks.head.count(_.isWrite).toDouble / Mix.blockSize
    assert(writes >= 0.2 && writes <= 0.35, writes)
  }

  test("writes keep their order inside a block") {
    val block = Mix.interactive(11L, 1, 1, "/scratch")
    def at(prefix: String) = block.indexWhere(_.text.startsWith(prefix))
    assert(at("CREATE TABLE") < at("INSERT INTO"))
    assert(at("INSERT INTO") < at("SELECT COUNT(*) AS n, SUM(o_orderkey)"))
    assert(at("CREATE VIEW") < at("DROP VIEW"))
    assert(at("SELECT COUNT(*) AS n, SUM(o_orderkey)") < at("DROP TABLE"))
  }

  test("planned stream duplicates repeat an id written in an earlier file") {
    val feed = Mix.streamFeed(5L, 0, 30, 10, 0.2)
    val seen = scala.collection.mutable.HashSet.empty[Long]
    feed.foreach { file =>
      file.foreach { case (id, _, dup) => assert(dup == seen.contains(id), s"event $id") }
      seen ++= file.map(_._1)
    }
    assert(feed.flatten.count(_._3) > 0)
  }
}
