package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one cache/checkpoint primitive. Every transient `persist` in the
  * program goes through [[using]], every optional eager materialization
  * through [[shared]].
  *
  * Required barriers do NOT come here: the per-round `localCheckpoint`
  * cuts in iterative operators (PageRank, BFS, HITS, label propagation)
  * and Forget's pins ahead of file rewrites must happen whatever the
  * lineage switch says, so they stay raw `localCheckpoint(true)` calls
  * with their reason comments (`SettleLintSpec` keeps the allowlist). */
object Settle {

  /** `-Dgraft.explain.lineage=true` keeps logical plans visible through
    * [[shared]] (plan dumps read the subtree that would recompute
    * instead of a settled ExistingRDD). */
  val LineageProp = "graft.explain.lineage"

  /** Persist (MEMORY_AND_DISK) each frame that is not already cached, run
    * `body`, and in a `finally` unpersist only the frames persisted here —
    * a caller's cache stays theirs. Persisting in place registers each
    * plan with the cache manager, so the body's references to the same
    * vals hit the cache; the cache is also an optimizer barrier (a
    * Generate above it cannot re-inline the projection below it). */
  def using[A](frames: DataFrame*)(body: => A): A = {
    val owned = frames.filter(_.storageLevel == StorageLevel.NONE)
    owned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try body
    finally owned.foreach(_.unpersist(false))
  }

  /** Eagerly materialize an intermediate that several legs read (or that
    * must outlive a [[using]] scope), truncating its lineage so nothing
    * re-reads the source later. Its blocks are freed by the
    * ContextCleaner once the frame is unreachable.
    *
    * Tradeoff: localCheckpoint blocks are executor-local and unreplicated
    * — an executor loss after the checkpoint fails downstream reads of
    * the result. Right for local/ephemeral runs; a cluster with executor
    * churn needs a reliable checkpoint dir instead. */
  def shared(df: DataFrame): DataFrame =
    if (sys.props.get(LineageProp).contains("true")) df
    else df.localCheckpoint(true)
}
