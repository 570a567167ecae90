package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization seam: every barrier, cache and block
  * release in `src/main` goes through here (MaterializeSpec's guard test
  * keeps it so). Call sites say only WHY they materialize (two consumers,
  * a convergence count, a measured number); the contract is stated once:
  *
  *  - [[barrier]] is EAGER and cuts the lineage: it runs `df` at the
  *    call, while the caller is still building its DataFrame. Its blocks
  *    are local (`localCheckpoint`) and NOT fault-tolerant: a lost
  *    executor fails the query instead of recomputing them. A reliable
  *    `checkpoint()` to a checkpoint directory is the cluster-grade
  *    policy, and would be chosen here, not at the sites.
  *  - [[cache]] is LAZY and keeps the lineage (`persist(MEMORY_AND_DISK)`):
  *    the first action fills it, and a lost block is recomputed.
  *  - Blocks of either live until the enclosing [[scope]] ends, or until
  *    the site's own `unpersist()` says its consumers are done (an
  *    operator cannot release what its returned lazy DataFrame reads).
  *    Outside any scope, barrier blocks stay until the ContextCleaner
  *    collects their Dataset, cache entries until unpersisted.
  *  - Both name what they create, so storage listings
  *    (`getRDDStorageInfo`, the UI's Storage tab) say which operator
  *    holds which bytes; a cache shows as "In-memory table <name>". */
object Materialize {

  /** Eager, lineage-cutting barrier; the checkpointed RDD is `name`. */
  def barrier(df: DataFrame, name: String): DataFrame = {
    val out = df.localCheckpoint()
    out.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.setName(name)
      case _ =>
    }
    out
  }

  /** Lazy, lineage-keeping cache entry named `name`; returns `df`, like
    * `persist`. A plan that is already cached keeps its entry, which the
    * enclosing scope then leaves alone: it did not create it. */
  def cache(df: DataFrame, name: String): DataFrame = {
    val cm = df.sparkSession.sharedState.cacheManager
    if (cm.lookupCachedData(df).isEmpty) {
      cm.cacheQuery(df, Some(name), StorageLevel.MEMORY_AND_DISK)
      synchronized { if (open > 0) made += df }
    }
    df
  }

  // cache entries made while a scope is open, oldest first
  private val made = mutable.ArrayBuffer.empty[DataFrame]
  private var open = 0

  /** Runs `body`, then releases exactly the blocks and cache entries it
    * created, even if it throws; what existed before it opened survives.
    * Entries go through the cache manager, newest first so no dependent
    * is re-cached (unpersisting only their RDDs would leave stale
    * entries); then every persistent RDD new since entry is unpersisted.
    * Scopes nest, and suit one sequential driver loop (Bench, Verify,
    * the tools): the RDD sweep cannot tell which thread made a block. */
  def scope[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val mark = synchronized { open += 1; made.size }
    try body
    finally {
      val mine = synchronized {
        open -= 1
        val m = made.drop(mark).toList
        made.dropRightInPlace(m.size)
        m
      }
      mine.reverseIterator.foreach(_.unpersist(blocking = true))
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) rdd.unpersist(blocking = true)
      }
    }
  }
}
