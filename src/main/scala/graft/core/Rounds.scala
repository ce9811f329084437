package graft.core

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** The round discipline every iterative trainer shares (the k-means,
  * PQ and PCA trainers in `graft.sim`, the quality classifier in
  * `graft.text`): persist a call's input once, run each round as a
  * plain scheduler job over it, and fold the per-partition partials in
  * partition-id order. */
private[graft] object Rounds {

  /** `body` over `rows` persisted (MEMORY_AND_DISK: spills rather than
    * OOMs at corpus scale); released when `body` returns or throws.
    * The first job `body` runs over `rows` fills the cache. */
  def persisted[T, A](rows: RDD[T])(body: RDD[T] => A): A = {
    rows.persist(StorageLevel.MEMORY_AND_DISK)
    try body(rows) finally { rows.unpersist(blocking = false); () }
  }

  /** Fold `partials` in PARTITION-ID order: each partition's elements
    * are reduced in row order, then the partitions' results left to
    * right by id — a fixed float summation order, so a fold is
    * bit-reproducible for a fixed input layout (where a
    * task-completion-order reduce is not). The fold is HIERARCHICAL
    * past `fanIn` partitions: each extra reduce level groups
    * pid / fanIn and folds each group sorted by pid, so the driver
    * never collects more than `fanIn` partials (P·d² doubles would be
    * ≈13 GB for a PCA at 800k partitions × d = 64). At P ≤ fanIn no
    * extra stage runs. `merge` may update and return its left
    * argument when `partials` are built per task (not cached rows).
    * None when `partials` is empty. */
  def foldInOrder[T: ClassTag](partials: RDD[T], fanIn: Int = 64)(
      merge: (T, T) => T): Option[T] = {
    require(fanIn >= 2, "foldInOrder: fanIn must be >= 2")
    def fold(ps: Iterable[(Int, T)]): T = ps.toArray.sortBy(_._1).map(_._2).reduceLeft(merge)
    var cur: RDD[(Int, T)] = partials.mapPartitionsWithIndex { (pid, it) =>
      if (it.hasNext) Iterator.single(pid -> it.reduceLeft(merge)) else Iterator.empty
    }
    var bound = partials.getNumPartitions
    while (bound > fanIn) {
      bound = (bound + fanIn - 1) / fanIn
      cur = cur.map { case (pid, t) => (pid / fanIn, (pid, t)) }
        .groupByKey(bound).map { case (g, ps) => (g, fold(ps)) }
    }
    val top = cur.collect()
    if (top.isEmpty) None else Some(fold(top))
  }
}
