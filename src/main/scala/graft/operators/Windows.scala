package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import graft.expressions.GraftFunctions

/** Shared window-spec helpers. */
object Windows {

  /** A global ordered window for a BOUNDED-BY-CONTRACT frame (a bin
    * table, a source table, a top-k — dims, never corpus rows). The
    * execution is identical to a bare `Window.orderBy`: every row lands
    * in one task either way, and that is fine by the caller's bound.
    * The constant partition key ([[graft.expressions.SingletonKey]],
    * deliberately non-foldable so `EliminateWindowPartitions` keeps it)
    * makes WindowExec's partitionSpec non-empty so it does NOT log its
    * per-task "No Partition Defined for Window operation" warning — at
    * 100+ query families those warnings bury real ones in the bench
    * tail. The spec is frame- and session-independent.
    *
    * Callers MUST hold the bounded-frame contract (the
    * [[GroupOps.rowNumberId]] convention); for corpus-sized input use
    * the two-phase scan ([[GroupOps.denseId]]) instead.
    */
  def boundedGlobal(orderCols: Column*): WindowSpec =
    boundedGlobalWhole.orderBy(orderCols: _*)

  /** Unordered whole-frame variant (grand totals over a bounded dim —
    * the q107 share-of-total shape): the frame is the entire partition,
    * no ordering, same non-foldable constant key. Kept separate from
    * [[boundedGlobal]] because an EMPTY orderBy is not the same spec as
    * no orderBy (ordering switches the default frame to running).
    */
  def boundedGlobalWhole: WindowSpec =
    Window.partitionBy(GraftFunctions.call("singleton_key"))
}
