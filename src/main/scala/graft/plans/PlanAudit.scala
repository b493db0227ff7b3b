package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Static scale audit of a physical plan — the checklist this engine's
  * own queries are held to, packaged as a diagnostic so a pipeline can
  * gate its OWN queries in CI before they meet a 100 TB table:
  *
  *  - `global-window`: a Window with an EMPTY partition spec funnels the
  *    entire input through one task (the PrefixSum operator exists
  *    precisely to avoid this);
  *  - `cartesian-product`: a CartesianProductExec multiplies partitions —
  *    only survivable when one side is broadcast-tiny, which Spark would
  *    then plan as BroadcastNestedLoopJoin, so a surviving cartesian is
  *    a red flag;
  *  - `nested-loop-join`: BroadcastNestedLoopJoin with a non-equi (or
  *    absent) condition — per-row scans of the broadcast side; fine for
  *    a 1-row bound, quadratic otherwise (reported with the build-side
  *    row estimate when statistics give one);
  *  - `unpushed-filter`: a FilterExec sitting DIRECTLY on a file scan
  *    whose pushed-filter list is empty while the filter references
  *    scanned columns — the scan decodes everything the filter then
  *    throws away. A store read's merge-on-read delete filter is not
  *    reported: it compares each row's id or payload with its file's dir
  *    version (a partition value of the store's scan), so no file-format
  *    pushdown can evaluate it, and what it costs is the delete set's;
  *  - `wide-shuffle`: a ShuffleExchange whose child outputs more than
  *    `wideShuffleCols` columns — project before the shuffle, not after.
  *
  * Heuristics, not proofs — the audit names WHERE to look; plan dumps
  * (`.explain("formatted")`) say whether it's real. Pure plan traversal:
  * nothing executes.
  */
object PlanAudit {

  final case class Finding(kind: String, detail: String)

  def audit(df: DataFrame, wideShuffleCols: Int = 24): Seq[Finding] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    plan.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        out += Finding("global-window",
          "Window with empty PARTITION BY — the whole input funnels " +
            "through ONE task; use a two-phase form " +
            "(graft.operators.PrefixSum) or add a partition key")
      case c: CartesianProductExec =>
        out += Finding("cartesian-product",
          s"CartesianProductExec over ${c.left.output.size}×" +
            s"${c.right.output.size} columns — partitions multiply; " +
            "broadcast the small side or add an equi-condition")
      case j: BroadcastNestedLoopJoinExec if j.condition.isEmpty =>
        out += Finding("nested-loop-join",
          "condition-less BroadcastNestedLoopJoin — every output row " +
            "scans the whole broadcast side; acceptable only for a " +
            "bounded (1-row aggregate) build side")
      case f: FilterExec =>
        f.child match {
          case s: FileSourceScanExec if s.dataFilters.isEmpty &&
              f.condition.references.nonEmpty &&
              !f.condition.references.exists(
                _.name == graft.operators.StoreScan.DirVersionCol) =>
            out += Finding("unpushed-filter",
              s"Filter(${f.condition.sql}) directly over a scan with no " +
                "pushed data filters — the scan decodes rows the filter " +
                "discards; check for casts/UDFs blocking pushdown")
          case _ =>
        }
      case e: ShuffleExchangeExec
          if e.child.output.size > wideShuffleCols =>
        out += Finding("wide-shuffle",
          s"shuffle carries ${e.child.output.size} columns " +
            s"(> $wideShuffleCols) — project the payload down before " +
            "the exchange")
      case _ =>
    }
    out.toSeq
  }
}
