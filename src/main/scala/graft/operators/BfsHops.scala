package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

/** Frontier BFS over a directed edge list as bounded Pregel supersteps —
  * the q75 hop-distance loop promoted to an operator with an optional
  * fixpoint exit (round-6 verdict item 3: production shortest-hops wants
  * convergence-driven termination, not a hardcoded round count).
  *
  * Distances use an integer INFINITY sentinel ([[Inf]]) instead of
  * nulls: `least`/`min` then compose without null-propagation special
  * cases, and a SQL oracle replays the arithmetic exactly.
  *
  * Scale shape: [[WeightedSssp]]'s semi-naive relaxation on the
  * [[Superstep]] kernel with every edge weight 1 — only nodes whose hop
  * count improved in the previous round send (in round 1, the sources),
  * one message shuffle to dst per round, combined by min, zipped onto
  * the one-row-per-node distance table. With `earlyExit`: one job of two
  * stages per round (four in round 1), the count of improved nodes
  * reduced in the job that materializes the round, stopping after the
  * first round that improves no node — ≤ diameter+1 rounds, capped by
  * `maxRounds` as the runaway bound. Without it, rounds chain lazily and
  * materialize once per [[Superstep.Fence]] rounds. A null endpoint is a
  * named error from [[run]].
  */
object BfsHops {

  /** Unreachable sentinel — larger than any real hop count, small enough
    * that `dist + 1` can never overflow an int. */
  val Inf = 1000000

  private val NullMsg = "BfsHops: edges must not have a null src or dst"

  /** Run at most `maxRounds` supersteps from `dist0` (one row per node:
    * `(v, dist)`, 0 at sources, [[Inf]] elsewhere) over directed edges
    * `(src, dst)`. With `earlyExit`, stops after the first round that
    * improves no node — the fixpoint, reached by round diameter+1.
    * Returns (final distance table, rounds actually run); `dist` keeps
    * a long `dist0.dist`'s type and is an int otherwise. */
  def run(edges: DataFrame, dist0: DataFrame, maxRounds: Int,
      earlyExit: Boolean = false): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val hops = edges.select("src", "dst").rdd.map { r =>
      if (r.isNullAt(0) || r.isNullAt(1))
        throw new IllegalArgumentException(NullMsg)
      (r.get(0), (r.get(1), 1L))
    }
    val (dist, rounds) =
      WeightedSssp.relax(hops, dist0, Inf.toLong, maxRounds, earlyExit)
    val long = dist0.schema("dist").dataType == LongType
    val schema = StructType(Seq(dist0.schema("v"), StructField("dist",
      if (long) LongType else IntegerType, nullable = false)))
    (Superstep.toFrame(dist0, dist, schema)((v, d) =>
      Row(v, if (long) (d: Any) else d.toInt)), rounds)
  }
}
