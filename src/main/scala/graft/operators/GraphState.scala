package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Storage-level lever for the graph family's ITERATIVE lifecycle —
  * the engine-side knob the g4 ×300 wall narrative identified as the
  * untried third lever (BASELINE ×300 section): at 8 GiB the run dies
  * on TOTAL round state (edge cache + per-round checkpoint blocks)
  * against executor memory, not on rows-per-partition, so no partition
  * count fixes it on one JVM. The default lifecycle keeps that state
  * memory-first (plain `persist()` + `localCheckpoint(eager)` — fastest
  * when it fits); switching [[diskBacked]] on re-homes BOTH pieces to
  * `DISK_ONLY`, emptying the unified storage region so execution memory
  * (the vote hash aggregates, the checkpoint materialization) gets the
  * whole heap. That trades round latency (disk reads per round) for
  * completion at the bench heap — the same trade a cluster makes when
  * it spills state to local SSDs rather than provisioning DRAM.
  *
  * Scope: the per-round state of the ITERATIVE graph operators
  * ([[LabelPropagation]] g4, [[BfsHops]] g3) and their edge caches.
  * d9's connected components already pins its edge
  * relation `DISK_ONLY` by construction (`Dedup.connectedComponents`)
  * and is not routed through this switch; the single-dataflow
  * operators (g1/g2) keep their measured lazy-persist contract
  * ([[PageRank.copurchaseEdges]] scaladoc).
  *
  * The switch is a process-wide var (env `SPARK_GRAFT_GRAPH_STATE=disk`
  * seeds it; specs/sweeps may set it directly) rather than a per-call
  * parameter: the lever is an ENVIRONMENT property — one box's
  * heap-vs-data ratio — not per-query semantics, and threading it
  * through four operators' signatures would suggest callers should
  * choose per call. Results are storage-level-invariant (spec-pinned:
  * identical hashes both ways); only wall/heap behavior changes. */
object GraphState {

  /** Seeded from `SPARK_GRAFT_GRAPH_STATE=disk`; mutable so specs and
    * sweep harnesses can flip it in-process (env is immutable there). */
  @volatile var diskBacked: Boolean =
    sys.env.get("SPARK_GRAFT_GRAPH_STATE").contains("disk")

  /** Persist a graph-lifetime relation (edge cache, per-round join
    * input) at the lever's level. */
  def persistGraph(df: DataFrame): DataFrame =
    if (diskBacked) df.persist(StorageLevel.DISK_ONLY) else df.persist()

  /** Materialize per-round iterative state with truncated lineage at
    * the lever's level. `localCheckpoint(eager, DISK_ONLY)` keeps the
    * lineage-truncation semantics of the default path — only the block
    * home changes (LocalRDDCheckpointData stores at the given level;
    * disk is already implied for recoverability). */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    if (diskBacked) df.localCheckpoint(eager, StorageLevel.DISK_ONLY)
    else df.localCheckpoint(eager)
}
