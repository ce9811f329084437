package graft.core

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** [[Rounds.foldInOrder]] is what makes every trainer's partial merge
  * bit-reproducible, so it is checked here with a merge whose result
  * shows any reordering: string concatenation, against the left fold
  * of the rows in partition-id order. */
class RoundsSpec extends SparkSpec {

  /** One string per row, tagged with its partition and position. */
  private def tagged(parts: Int, rowsIn: Int => Int) = {
    val rdd = spark.sparkContext.parallelize(0 until parts, parts)
      .mapPartitionsWithIndex((pid, _) => Iterator.tabulate(rowsIn(pid))(i => s"[$pid.$i]"))
    (rdd, (0 until parts).flatMap(pid => Seq.tabulate(rowsIn(pid))(i => s"[$pid.$i]")).mkString)
  }

  test("P <= fanIn: the fold is the left fold in partition-id order") {
    val (rdd, expected) = tagged(6, pid => 3 + pid % 2)
    assert(Rounds.foldInOrder(rdd)(_ + _) === Some(expected))
  }

  test("P > fanIn: the tree levels keep partition-id order") {
    // fanIn 2 over 11 partitions: 11 → 6 → 3 → 2 groups before the collect
    val (rdd, expected) = tagged(11, pid => 1 + pid % 3)
    assert(Rounds.foldInOrder(rdd, fanIn = 2)(_ + _) === Some(expected))
  }

  test("empty partitions are skipped, flat and in the tree") {
    val (rdd, expected) = tagged(10, pid => if (pid % 3 == 1) 0 else 2)
    assert(Rounds.foldInOrder(rdd)(_ + _) === Some(expected))
    assert(Rounds.foldInOrder(rdd, fanIn = 2)(_ + _) === Some(expected))
    // a whole first-level group of empty partitions
    val (gap, gapExpected) = tagged(9, pid => if (pid == 2 || pid == 3) 0 else 1)
    assert(Rounds.foldInOrder(gap, fanIn = 2)(_ + _) === Some(gapExpected))
  }

  test("an empty RDD folds to None") {
    val empty = spark.sparkContext.parallelize(Seq.empty[String], 3)
    assert(Rounds.foldInOrder(empty)(_ + _) === None)
    assert(Rounds.foldInOrder(empty, fanIn = 2)(_ + _) === None)
  }

  test("persisted releases its RDD when the body throws") {
    val rdd = spark.sparkContext.parallelize(1 to 10, 2)
    val e = intercept[IllegalStateException] {
      Rounds.persisted(rdd) { rows =>
        assert(rows.getStorageLevel === StorageLevel.MEMORY_AND_DISK)
        rows.count()
        throw new IllegalStateException("round failed")
      }
    }
    assert(e.getMessage === "round failed")
    assert(rdd.getStorageLevel === StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }
}
