package graft.core

import org.apache.spark.{HashPartitioner, Partitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** Building blocks for partitioner-reusing iterative RDD loops
  * (connected components, PageRank): a pair-edge table is placed by
  * its SOURCE key exactly once, and every subsequent per-round join
  * against a table hash-partitioned the same way is narrow — the only
  * per-round shuffle left is the O(nodes) update `reduceByKey`. The
  * loop itself — pinning, per-round materialization, convergence and
  * release of the superseded state — is [[fixpoint]].
  */
object KeyedRdds {

  private def nonNegativeMod(h: Int, n: Int): Int = {
    val m = h % n
    if (m < 0) m + n else m
  }

  /** A partitioner that places `(src, dst)` TUPLE keys by `src` alone
    * yet `equals` a plain `HashPartitioner(n)` (equality is on
    * partition count), and places plain keys exactly like one. The
    * point: `repartitionAndSortWithinPartitions` over composite
    * `(src, dst)` keys lands every copy of an edge in `src`'s hash
    * partition with duplicates SORTED ADJACENT, and the resulting RDD
    * — after stripping back to `(src, dst)` rows with
    * `preservesPartitioning` — still compares equal to the loop's
    * `HashPartitioner`, so the per-round joins stay narrow.
    *
    * Placement consistency (the invariant `preservesPartitioning`
    * asserts): for a tuple key `(s, d)` this computes
    * `nonNegativeMod(s.hashCode, n)` — the exact partition
    * `HashPartitioner(n)` assigns the bare key `s` — so re-keying the
    * rows by `s` after the shuffle leaves every row where the plain
    * hash partitioner expects it.
    *
    * Tuple-keyed RDDs placed by this partitioner must not escape
    * [[distinctEdgesBySrc]]: a plain `HashPartitioner(n)` compares
    * equal to it yet places `(s, d)` keys by the whole tuple, so a
    * join between the two would be planned narrow and silently miss
    * rows.
    */
  private[core] def srcHashPartitioner(n: Int): HashPartitioner =
    new HashPartitioner(n) {
      override def getPartition(key: Any): Int = key match {
        case (s, _) => nonNegativeMod(s.hashCode, numPartitions)
        case other  => super.getPartition(other)
      }
    }

  /** Globally-distinct directed edges placed by `src` under `part`,
    * deduplicated WITHOUT per-task hash state: partition by src, sort
    * by `(src, dst)` inside the shuffle (spillable sort — bounded task
    * memory however hot one src key is), and drop adjacent repeats
    * streaming. Global distinct falls out because every copy of
    * `(s, d)` shares `s` and therefore a partition. The result's
    * partitioner equals `part`, so `join(other, part)` downstream is
    * narrow.
    */
  def distinctEdgesBySrc(edges: RDD[(Long, Long)],
                         part: Partitioner): RDD[(Long, Long)] = {
    val srcPart = srcHashPartitioner(part.numPartitions)
    edges
      .map(e => (e, null: Null))
      .repartitionAndSortWithinPartitions(srcPart)
      .mapPartitions({ it =>
        var haveLast = false
        var lastS = 0L
        var lastD = 0L
        it.flatMap { case ((s, d), _) =>
          if (haveLast && s == lastS && d == lastD) Iterator.empty
          else {
            haveLast = true; lastS = s; lastD = d
            Iterator.single((s, d))
          }
        }
      }, preservesPartitioning = true)
  }

  /** Binds the context's checkpoint directory for a reliable
    * [[pin]] and says whether pins should be reliable (`dir` given).
    * The directory is a GLOBAL SparkContext setting, so it is only set
    * when unset; a caller asking for a DIFFERENT directory than the
    * bound one is an error, not a silent rebind (last writer would win
    * and concurrent jobs would share one directory).
    */
  def reliableCheckpoints(sc: SparkContext, dir: Option[String]): Boolean = {
    dir.foreach { d =>
      val want = new org.apache.hadoop.fs.Path(d).toUri.getPath
      sc.getCheckpointDir match {
        case None => sc.setCheckpointDir(d)
        case Some(cur) =>
          // setCheckpointDir appends a random UUID subdir; compare on
          // the requested prefix
          val curPath = new org.apache.hadoop.fs.Path(cur).toUri.getPath
          require(curPath.startsWith(want),
            s"SparkContext checkpoint dir already set to $cur; refusing to " +
              s"rebind it to $d mid-flight (global setting — set it once per " +
              "application, or pass checkpointDir=None for localCheckpoint)")
      }
    }
    dir.isDefined
  }

  /** Persist + truncate lineage: executor-pinned `localCheckpoint`, or
    * RELIABLE `checkpoint()` into the bound directory (survives
    * executor loss — the dynamic-allocation posture). The persist
    * comes first so a reliable checkpoint write reads the cached
    * blocks instead of recomputing the RDD once more. Lazy: the first
    * action materializes, and it must be a FULL scan — a partial
    * action (take/isEmpty) caches only some partitions before the
    * lineage is cut, and the rest then fail with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    */
  def pin[T](rdd: RDD[T], reliable: Boolean = false): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
    rdd
  }

  /** The iterative loop of CC and PageRank: `state = round(state)`
    * for at most `maxRounds` rounds, stopping early once a round
    * reports no changed row. Each round's output is [[pin]]ned and
    * materialized by one full-scan `count` (the convergence probe and
    * the materialization are the same job), then the superseded state
    * is released. Returns the final state — pinned and materialized,
    * the caller releases it — and whether the last round changed
    * nothing.
    *
    * `round` adds 1 to the accumulator per changed row. A task retry
    * re-adds its partition's changes, so over-counting can only
    * schedule a harmless extra round, never end the loop early.
    * Stopping early is exact only when each round is a pure function
    * of the previous state (then an unchanged round is a fixpoint).
    */
  def fixpoint[T](init: RDD[T], maxRounds: Int, reliable: Boolean = false)(
      round: (RDD[T], LongAccumulator) => RDD[T]): (RDD[T], Boolean) = {
    require(maxRounds >= 1, s"need maxRounds >= 1, got $maxRounds")
    var state = pin(init, reliable)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val changed = init.sparkContext.longAccumulator("fixpoint.changed")
      val next = pin(round(state, changed), reliable)
      next.count()
      converged = changed.value == 0L
      state.unpersist(blocking = false)
      state = next
      rounds += 1
    }
    (state, converged)
  }
}
