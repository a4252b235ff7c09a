package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.GraftDatasetBridge
import org.apache.spark.storage.StorageLevel

/** Registry for operator-internal persisted intermediates and lineage
  * cuts.
  *
  * Several operators (the classed dedup miners, [[operators.GroupOps.denseId]])
  * `persist()` a mid-plan table because it feeds 3–5 plan branches; the
  * cache must live until the RETURNED DataFrame is materialized, so the
  * operator itself can never safely unpersist. Without cleanup, a
  * long-lived session running the dedup family accumulates cached class
  * tables until memory-pressure eviction.
  *
  * Checkpoint/release contract (the one place it is stated): every
  * SQL iteration loop ([[operators.Components]], [[operators.Graph]]'s
  * operators; `pageRank` and `kCore` only above
  * [[Gates.NodeState]], below which their per-round
  * state is a driver array and there is no plan to cut) cuts its
  * per-round state with [[checkpoint]] — an eager local checkpoint
  * that computes the round, truncates lineage (state feeds two plan
  * branches per round, so an uncut plan doubles every round) and
  * carries MEASURED statistics (rows × per-row size), so size estimates
  * stay flat over rounds and auto-broadcast sees the real state size.
  * The loop [[release]]s round i's state once round i+1 is
  * materialized; the final round's state is tracked, so the scope that
  * materializes the result frees it — a result re-read after its
  * scope closed fails on the missing checkpoint blocks rather than
  * recomputing, so materialize inside the scope. Local checkpoints trade
  * lineage-replay recovery for speed — the right trade in a bounded
  * iterative refinement (on a real cluster `sc.setCheckpointDir` +
  * `checkpoint()` adds fault tolerance).
  *
  * Scoping: a process-global registry alone is wrong for concurrent
  * queries (Spark supports concurrent actions on one session) — query A's
  * cleanup would unpersist query B's still-live class tables mid-query, a
  * silent recomputation cliff. [[track]] therefore registers into the
  * CALLING THREAD's active [[withScope]] scope when one is open, falling
  * back to the global registry otherwise. Plans are constructed on the
  * caller's thread, so thread-locality is exactly invocation-locality:
  *
  *   - Concurrent drivers: wrap each query in `Caches.withScope {
  *     build-and-materialize }` — caches release when the scope closes,
  *     and scopes on different threads never touch each other.
  *   - Sequential drivers (Bench, Verify): either works; both use
  *     [[withScope]].
  *   - Bare callers: tracked globally; call [[unpersistAll]] whenever no
  *     query is in flight.
  */
object Caches {

  /** One invocation's tracked caches; closed exactly once. */
  final class Scope private[Caches] () {
    private[Caches] val dfs = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def close(): Unit = {
      var df = dfs.poll()
      while (df != null) {
        release(df)
        df = dfs.poll()
      }
    }
  }

  private val global = new Scope()
  private val current = new ThreadLocal[Scope]() // null => no open scope

  /** Register an operator-internal persisted or checkpointed DataFrame;
    * returns it.
    */
  def track(df: DataFrame): DataFrame = {
    val scope = Option(current.get()).getOrElse(global)
    scope.dfs.add(df)
    df
  }

  /** Eagerly local-checkpoint `df` (one job) under measured statistics
    * and [[track]] the result — the lineage cut of the contract above.
    */
  def checkpoint(df: DataFrame): DataFrame =
    track(GraftDatasetBridge.localCheckpoint(df))

  /** Free `df`'s blocks now (non-blocking): its cache when it is
    * persisted, otherwise the local checkpoint it is (up to
    * projections). A second release of the same frame is a no-op.
    */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    else GraftDatasetBridge.releaseLocalCheckpoint(df)

  /** Run `body` (plan construction AND materialization) under a fresh
    * scope; every cache tracked by this thread inside `body` is
    * released on exit (also on failure). Nests: the previous scope is
    * restored afterwards.
    */
  def withScope[A](body: => A): A = {
    val outer = current.get()
    val scope = new Scope()
    current.set(scope)
    try body
    finally {
      current.set(outer)
      scope.close()
    }
  }

  /** Release every GLOBALLY tracked intermediate (non-blocking) and
    * clear the registry. Safe whenever no un-scoped query is in flight.
    */
  def unpersistAll(): Unit = global.close()
}
