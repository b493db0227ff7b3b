package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Damped PageRank by power iteration, in EXACT integer arithmetic — the
  * iterative graph-analytics family beyond [[DupClusters]]' label
  * propagation (public algorithm: Page et al. 1999; damping 0.85).
  *
  * Why integer: float PageRank sums per-neighbor contributions in
  * whatever order partial aggregation delivers them — bit-drift across
  * partitionings, AQE re-plans, and engines. Here ranks are 1e6-scaled
  * longs, a node's per-neighbor contribution is `r div deg` (integer
  * division) and damping is `(85 · Σ) div 100`, so every iteration is a
  * sum of integers: order-independent, combinable, and bit-identical in
  * DuckDB's unrolled-CTE replay. Overflow raises (`Math.*Exact`), as the
  * ANSI SQL form does.
  *
  * Scale shape: a [[Superstep]] program. The edge list is grouped by src
  * once, in round 1's job (out-degree is the length of its row);
  * a round sends `r div deg` along every out-edge of every ranked node
  * and shuffles only those messages, combined by sum on dst; state is
  * one row per ranked node. [[ranksConverged]] runs one job of two
  * stages per round (three in round 1), its max-|Δr| verdict reduced in
  * the job that materializes the round; [[ranks]] chains its rounds
  * lazily and materializes once per [[Superstep.Fence]] rounds. Nodes
  * with no in-edges fall out of the rank table after one iteration (rank
  * floor 0.15 applies to linked nodes); callers over undirected graphs
  * are unaffected since symmetric edges give every node an in-link.
  */
object PageRank {

  private val NullMsg = "PageRank: edges must not have a null src or dst"

  /** One damped power iteration per round: every ranked node sends
    * `r div deg`; a node's next rank is `150000 + (85 · Σ) div 100` over
    * what it received, and a node that received nothing leaves the
    * table. The verdict is max |Δr| over nodes ranked in both rounds. */
  private final case class Rank(tolMicros: Long)
      extends Superstep.Program[Long, Unit, Long] {
    def sends(r: Long): Boolean = true
    def message(r: Long, deg: Int, e: Unit): Long = r / deg
    def combine(a: Long, b: Long): Long = Math.addExact(a, b)
    def update(prev: Option[Long], sc: Option[Long]): Option[Long] =
      sc.map(s => Math.addExact(150000L, Math.multiplyExact(85L, s) / 100))
    def delta(prev: Long, next: Long): Long =
      Math.absExact(Math.subtractExact(next, prev))
    def merge(a: Long, b: Long): Long = math.max(a, b)
    def converged(moved: Long): Boolean = moved <= tolMicros
  }

  /** Rounds of [[Rank]] from uniform ranks 1e6 on every node with an
    * out-edge; (node, r) plus the rounds run. */
  private def iterate(edges: DataFrame, maxIters: Int, probe: Boolean,
      tolMicros: Long): (DataFrame, Int) = {
    val e = edges.select("src", "dst")
    val out = e.rdd.map { r =>
      if (r.isNullAt(0) || r.isNullAt(1))
        throw new IllegalArgumentException(NullMsg)
      (r.get(0), (r.get(1), ()))
    }
    val (state, rounds) = Superstep.run(out, Superstep.partitions(edges),
      Rank(tolMicros), maxIters, probe)(_.mapValues(_ => 1000000L))
    val schema = StructType(Seq(e.schema("dst").copy(name = "node"),
      StructField("r", LongType, nullable = true)))
    (Superstep.toFrame(edges, state, schema)((n, r) => Row(n, r)), rounds)
  }

  /** (node, r) with r = 1e6-scaled rank after `iters` damped iterations
    * over the DEDUPLICATED directed edge list (src, dst). */
  def ranks(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    iterate(edges, iters, probe = false, 0L)._1
  }

  /** Convergence-driven variant: iterate until no node's rank moved by
    * more than `tolMicros` (1e6-scaled units) in a round, bounded by
    * `maxIters`. Returns (ranks, roundsRun); roundsRun == maxIters with
    * the tolerance never met means the bound cut the run short — integer
    * PageRank can settle into a small period-2 oscillation instead of an
    * exact fixpoint, which is what a tolerance of a few micros absorbs.
    * After N rounds the ranks equal [[ranks]]`(edges, N)`. */
  def ranksConverged(edges: DataFrame, maxIters: Int,
      tolMicros: Long = 0L): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(tolMicros >= 0L, s"tolMicros must be >= 0, got $tolMicros")
    iterate(edges, maxIters, probe = true, tolMicros)
  }
}
