package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Single-source shortest paths over a WEIGHTED directed edge list as
  * bounded Bellman–Ford supersteps — [[BfsHops]]' relaxation generalized
  * from hop counts to additive edge weights (BfsHops is this relaxation
  * with every weight 1).
  *
  * Scale shape: a [[Superstep]] program, semi-naive: only a node whose
  * distance improved in the previous round sends `dist + w` along its
  * out-edges (in round 1, every node with a finite initial distance).
  * The messages shuffle once per round, combined by min on dst, and are
  * zipped onto the one-row-per-node distance table; a node that did not
  * improve already sent the same offer, so distances and round counts
  * equal the relaxation in which every reached node sends every round.
  * With `earlyExit`: one job of two stages per round (four in round 1,
  * which also partitions the edges and the initial table), the count of
  * improved nodes reduced in the job that materializes the round.
  * Without it, rounds chain lazily and materialize once per
  * [[Superstep.Fence]] rounds. Null endpoints, null weights and negative
  * weights are named errors from [[run]], checked once per edge as the
  * edge list is partitioned in round 1's job (so an edge no relaxation
  * reads is checked too, and no separate validation job runs).
  *
  * Distances are longs with an additive-overflow-safe [[Inf]] sentinel;
  * `maxRounds` bounds the run (n−1 rounds reach the true fixpoint on
  * any non-negative graph; a fixed small count gives the k-round
  * relaxation an unrolled SQL oracle can replay exactly).
  */
object WeightedSssp {

  /** Unreachable sentinel — far above any real path cost, far below
    * Long overflow for `dist + w` on sane weights. */
  val Inf = 1000000000000L

  private val NullMsg =
    "WeightedSssp: edges must not have a null src, dst or w"

  private val NegMsg =
    "WeightedSssp: negative edge weights are not supported (a " +
      "negative cycle would make the early-exit fixpoint diverge)"

  /** Min-plus relaxation with sentinel `inf`. State: (dist, improved in
    * the round that produced it); the next distance is
    * `min(dist, coalesce(offer, inf))`; the verdict counts improved
    * nodes. */
  private final case class Relax(inf: Long)
      extends Superstep.Program[(Long, Boolean), Long, Long] {
    def sends(v: (Long, Boolean)): Boolean = v._2 && v._1 < inf
    def message(v: (Long, Boolean), deg: Int, w: Long): Long =
      Math.addExact(v._1, w)
    def combine(a: Long, b: Long): Long = math.min(a, b)
    def update(prev: Option[(Long, Boolean)],
        offer: Option[Long]): Option[(Long, Boolean)] =
      prev.map { case (d, _) =>
        val n = math.min(d, offer.getOrElse(inf))
        (n, n < d)
      }
    def delta(prev: (Long, Boolean), next: (Long, Boolean)): Long =
      if (next._1 < prev._1) 1L else 0L
    def merge(a: Long, b: Long): Long = a + b
    def converged(improved: Long): Boolean = improved == 0L
  }

  /** At most `maxRounds` relaxation rounds of weighted `edges` (src →
    * (dst, w)) from `dist0` (`v`, `dist`; a null dist counts as `inf`).
    * Returns (v → dist, rounds run). Shared with [[BfsHops]]. */
  private[operators] def relax(edges: RDD[(Any, (Any, Long))],
      dist0: DataFrame, inf: Long, maxRounds: Int,
      earlyExit: Boolean): (RDD[(Any, Long)], Int) = {
    val d0 = dist0
      .select(col("v"), coalesce(col("dist").cast("long"), lit(inf)))
      .rdd.map(r => (r.get(0), (r.getLong(1), true)))
    val (state, rounds) = Superstep.run(edges, Superstep.partitions(dist0),
      Relax(inf), maxRounds, earlyExit)(_ => d0)
    (state.mapValues(_._1), rounds)
  }

  /** Run at most `maxRounds` relaxation rounds from `dist0` (one row
    * per node: `(v, dist)`, 0 at sources, [[Inf]] elsewhere) over
    * directed edges `(src, dst, w)` with non-negative long weights.
    * With `earlyExit`, stops after the first round that improves no
    * node. Returns (final distance table, rounds actually run). */
  def run(edges: DataFrame, dist0: DataFrame, maxRounds: Int,
      earlyExit: Boolean = false): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val weighted = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .rdd.map { r =>
        if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
          throw new IllegalArgumentException(NullMsg)
        if (r.getLong(2) < 0L) throw new IllegalArgumentException(NegMsg)
        (r.get(0), (r.get(1), r.getLong(2)))
      }
    val (dist, rounds) = relax(weighted, dist0, Inf, maxRounds, earlyExit)
    val schema = StructType(Seq(dist0.schema("v"),
      StructField("dist", LongType, nullable = false)))
    (Superstep.toFrame(dist0, dist, schema)((v, d) => Row(v, d)), rounds)
  }
}
