package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * How an operator holds an intermediate frame, and when it lets go — the
 * one place operators persist or checkpoint. Three verbs, one storage
 * level ([[Level]]):
 *
 *  - [[share]]: persist a frame several consumers read. Shares sit in a
 *    FIFO-bounded registry; past the bound the oldest is unpersisted
 *    (safe: Spark recomputes an evicted share from its lineage).
 *  - [[cut]]: `localCheckpoint` — materialize and truncate the lineage.
 *    Cuts are registered until [[clear]] (or [[release]]) and are never
 *    FIFO-evicted: a checkpoint has no lineage left to recompute from, so
 *    a lost block fails the query that reads it.
 *  - [[within]]: persist for the span of one block, unpersisted in a
 *    `finally` whether the block returns or throws.
 *
 * [[clear]] drops every share and every cut, blocking. A frame built on a
 * cut reads blocks that are gone after it: rebuild such a frame, do not
 * re-run it. (On a cluster that loses executors, a cut wants reliable
 * `checkpoint` against shared storage instead — same call shape.)
 */
object Materialize {

  /** The one storage level every share, cut and `within` span uses. */
  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  // FIFO bound on live shares, evicted at REGISTRATION time. The base is
  // sized for the deepest single-operator chain (the batch-BM25 scan door
  // registers five); below it an operator evicts its own earliest share
  // before the action that reads it runs (measured: the scan door
  // re-tokenized the sf1 corpus three times, +14 s). withCacheBudget
  // raises it for the span of one call — the K-shard BM25 door keeps
  // 2 + 2-3·K shares alive — and the effective bound is max(base, every
  // active scope). Leaving a scope evicts nothing: the next share trims
  // back to base.
  private val MaxLiveCachesBase = 8
  @volatile private var maxLiveCaches = MaxLiveCachesBase
  private val liveCaches = new java.util.ArrayDeque[DataFrame]()
  private val activeBudgets = new java.util.ArrayList[Integer]()
  // Weak: a cut nothing references any more is still reclaimed by Spark's
  // ContextCleaner on driver GC; clear() frees the ones still alive.
  private val liveCuts = new java.util.ArrayList[java.lang.ref.WeakReference[RDD[_]]]()

  private def recomputeBudget(): Unit = {
    var m = MaxLiveCachesBase
    activeBudgets.forEach(b => if (b > m) m = b)
    maxLiveCaches = m
  }
  private[graft] def withCacheBudget[T](n: Int)(f: => T): T = {
    liveCaches.synchronized { activeBudgets.add(Int.box(n)); recomputeBudget() }
    try f
    finally liveCaches.synchronized {
      activeBudgets.remove(Int.box(n)); recomputeBudget()
    }
  }
  /** The effective FIFO bound right now — exposed for the scope tests. */
  private[graft] def cacheBudget: Int = maxLiveCaches

  private[graft] def share(df: DataFrame): DataFrame = {
    // idempotent: an already-persisted frame is only TRACKED, not re-persisted
    val p = if (df.storageLevel == StorageLevel.NONE) df.persist(Level) else df
    liveCaches.synchronized {
      liveCaches.addLast(p)
      while (liveCaches.size > maxLiveCaches) liveCaches.pollFirst().unpersist(blocking = false)
    }
    p
  }

  /** `localCheckpoint(eager)` at [[Level]], registered for [[clear]]. A
    * lazy cut fills on the first action that reads it. */
  private[graft] def cut(df: DataFrame, eager: Boolean): DataFrame = {
    val c = df.localCheckpoint(eager, Level)
    val rdd = checkpointRdd(c)
    liveCuts.synchronized {
      liveCuts.removeIf(_.get == null)
      liveCuts.add(new java.lang.ref.WeakReference[RDD[_]](rdd))
    }
    c
  }

  /** Drop one cut now — for an iterative operator whose round n has
    * superseded round n−1. */
  private[graft] def release(cutDf: DataFrame): Unit = {
    val rdd = checkpointRdd(cutDf)
    val owned = liveCuts.synchronized(liveCuts.removeIf(_.get eq rdd))
    if (owned) rdd.unpersist(blocking = false): Unit
  }

  /** `f` over `ds` persisted at [[Level]]; unpersisted when `f` returns
    * or throws. */
  private[graft] def within[T, R](ds: Dataset[T])(f: Dataset[T] => R): R = {
    val p = ds.persist(Level)
    try f(p) finally p.unpersist(blocking = false): Unit
  }

  /** Drop every share and every cut now, blocking, so the blocks are
    * gone before the caller proceeds. Benchmarks call this between queries
    * so no query pays another's eviction or rides its warm cache. */
  def clear(): Unit = {
    liveCaches.synchronized {
      while (!liveCaches.isEmpty) liveCaches.pollFirst().unpersist(blocking = true)
    }
    val cuts = liveCuts.synchronized {
      val all = new java.util.ArrayList(liveCuts)
      liveCuts.clear()
      all
    }
    cuts.forEach(r => Option(r.get).foreach(_.unpersist(blocking = true)))
  }

  /** The checkpointed RDD under a frame [[cut]] returned. */
  private def checkpointRdd(cutDf: DataFrame): RDD[_] =
    cutDf.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalArgumentException(
        s"not a checkpointed frame: plan root is ${p.nodeName}, not LogicalRDD")
    }
}
