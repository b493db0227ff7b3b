package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The one superstep loop behind [[PageRank]], [[BfsHops]] and
  * [[WeightedSssp]]: a vertex program run over pair RDDs that share one
  * `HashPartitioner` (Pregel's vertex-centric superstep, with Pregelix's
  * split of a round into a narrow edge join, a message shuffle and a
  * narrow state join).
  *
  * Shape of a run:
  *  - the edge list is shuffled to `src` once, lazily, inside round 1's
  *    job, and each partition's edges are held for the run as compressed
  *    sparse rows (released when the loop ends);
  *  - a round zips each edge partition with the same state partition
  *    (narrow), has the SENDING vertices put a message on every out-edge,
  *    combines the messages per `dst` inside the task, shuffles only the
  *    combined messages to `dst`, and zips them onto the previous state
  *    (narrow);
  *  - each new state is `localCheckpoint`ed; the partitioner survives the
  *    checkpoint, so no round re-shuffles edges or state.
  *
  * With a probe, the round's convergence verdict is reduced in the same
  * job that materializes the new state: one job of two stages per round
  * (round 1 adds the edge and initial-state partitioning stages). Without
  * one, rounds chain lazily and the state materializes once every
  * [[Fence]] rounds and after the last, which bounds lineage depth and
  * surfaces bad input from the operator call. A state is unpersisted as
  * soon as a later one has materialized.
  *
  * Keys are the raw column values (any type with value equality: longs,
  * ints, strings); the partition count is the session's
  * `spark.sql.shuffle.partitions`. An `IllegalArgumentException` or
  * `ArithmeticException` thrown by a task (an operator's named input
  * error, an exact-arithmetic overflow) is rethrown unwrapped from the
  * operator call.
  */
object Superstep {

  /** A vertex program over vertex state `V`, edge value `E` and message
    * `M`. Instances are shipped to tasks. */
  trait Program[V, E, M] extends Serializable {

    /** Does a vertex in state `v` send along its out-edges this round? */
    def sends(v: V): Boolean

    /** What a sending vertex puts on one out-edge; `deg` is its
      * out-degree. */
    def message(v: V, deg: Int, e: E): M

    /** Associative, commutative merge of two messages to one vertex. */
    def combine(a: M, b: M): M

    /** The vertex's next state from its previous one (None: not in the
      * state) and its combined messages (None: none arrived). None drops
      * the vertex from the state. */
    def update(prev: Option[V], msg: Option[M]): Option[V]

    /** A vertex's share of the convergence verdict, for a vertex in both
      * the previous and the next state; shares merge from 0. */
    def delta(prev: V, next: V): Long

    /** Associative, commutative merge of two shares (0 is its unit). */
    def merge(a: Long, b: Long): Long

    /** Has the run converged, given the round's merged shares? */
    def converged(total: Long): Boolean
  }

  /** Rounds a probe-free run chains lazily between two materializations. */
  val Fence = 8

  /** One partition's edge list in compressed sparse rows: `row` numbers
    * the sources, and the out-edges of source `i` are `dst`/`value` at
    * `start(i) until start(i + 1)`. */
  private final class Csr[E](val row: mutable.HashMap[Any, Int],
      val start: Array[Int], val dst: Array[Any], val value: Array[E])
      extends Serializable {
    def degree(i: Int): Int = start(i + 1) - start(i)
  }

  private object Csr {
    /** One pass to number the sources, one counting sort into rows. */
    def apply[E: ClassTag](edges: Iterator[(Any, (Any, E))]): Csr[E] = {
      val row = mutable.HashMap.empty[Any, Int]
      val rowOf = mutable.ArrayBuilder.make[Int]
      val dsts = mutable.ArrayBuilder.make[Any]
      val values = mutable.ArrayBuilder.make[E]
      edges.foreach { case (s, (d, e)) =>
        rowOf += row.getOrElseUpdate(s, row.size)
        dsts += d
        values += e
      }
      val (rows, ds, vs) = (rowOf.result(), dsts.result(), values.result())
      val start = new Array[Int](row.size + 1)
      rows.foreach(i => start(i + 1) += 1)
      for (i <- 0 until row.size) start(i + 1) += start(i)
      val fill = start.clone()
      val dst = new Array[Any](rows.length)
      val value = new Array[E](rows.length)
      for (j <- rows.indices) {
        val i = rows(j)
        dst(fill(i)) = ds(j)
        value(fill(i)) = vs(j)
        fill(i) += 1
      }
      new Csr(row, start, dst, value)
    }
  }

  /** Messages combined per destination vertex inside one task. */
  private final class Inbox[M](combine: (M, M) => M) {
    private val byDst = new java.util.HashMap[Any, M]
    private val merge: java.util.function.BiFunction[M, M, M] = combine(_, _)
    def add(k: Any, m: M): Unit = byDst.merge(k, m, merge): Unit
    def get(k: Any): Option[M] = Option(byDst.get(k))
    def iterator: Iterator[(Any, M)] = {
      import scala.jdk.CollectionConverters._
      byDst.asScala.iterator
    }
  }

  /** Run `program` for at most `maxRounds` rounds over `edges`
    * (`src` → (`dst`, edge value)) from the initial state `state0` builds
    * from the edge list's sources and their out-degrees (an operator may
    * ignore them). With `probe`, stops after the first round whose
    * verdict says converged. Returns the final state and the number of
    * rounds run. */
  def run[V: ClassTag, E: ClassTag, M: ClassTag](
      edges: RDD[(Any, (Any, E))], partitions: Int,
      program: Program[V, E, M], maxRounds: Int, probe: Boolean)(
      state0: RDD[(Any, Int)] => RDD[(Any, V)]): (RDD[(Any, V)], Int) = {
    val part = new HashPartitioner(partitions)
    val adj = edges.partitionBy(part)
      .mapPartitions(es => Iterator.single(Csr(es)),
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s0 = state0(adj.mapPartitions(_.flatMap(g =>
      g.row.iterator.map { case (s, i) => (s, g.degree(i)) }),
      preservesPartitioning = true))
    var state: RDD[(Any, (V, Long))] =
      (if (s0.partitioner.contains(part)) s0 else s0.partitionBy(part))
        .mapValues(v => (v, 0L))
    // states superseded by `state` that stay cached until a later state
    // has materialized (a lazy chain still reads them)
    val held = mutable.ArrayBuffer.empty[RDD[_]]
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      // messages combined per dst inside each edge partition, then one
      // shuffle of the combined messages to dst
      val msgs = adj.zipPartitions(state) { (gs, vs) =>
        val g = gs.next()
        val out = new Inbox[M](program.combine)
        vs.foreach { case (k, (v, _)) =>
          if (program.sends(v)) g.row.get(k).foreach { i =>
            val deg = g.degree(i)
            for (j <- g.start(i) until g.start(i + 1))
              out.add(g.dst(j), program.message(v, deg, g.value(j)))
          }
        }
        out.iterator
      }.partitionBy(part)
      val next = state.zipPartitions(msgs, preservesPartitioning = true) {
        (vs, ms) =>
          val in = new Inbox[M](program.combine)
          ms.foreach { case (k, m) => in.add(k, m) }
          val out = mutable.ArrayBuffer.empty[(Any, (V, Long))]
          val seen = mutable.HashSet.empty[Any]
          vs.foreach { case (k, (v, _)) =>
            seen += k
            program.update(Some(v), in.get(k))
              .foreach(n => out += ((k, (n, program.delta(v, n)))))
          }
          in.iterator.foreach { case (k, m) =>
            if (!seen(k))
              program.update(None, Some(m)).foreach(n => out += ((k, (n, 0L))))
          }
          out.iterator
      }
      next.localCheckpoint()
      held += state
      rounds += 1
      val materialize = probe || rounds % Fence == 0 || rounds == maxRounds
      if (probe)
        done = program.converged(
          surfaced(next.map(_._2._2).fold(0L)(program.merge)))
      else if (materialize) surfaced(next.count())
      if (materialize) {
        held.foreach(_.unpersist(blocking = true))
        held.clear()
      }
      state = next
    }
    adj.unpersist(blocking = true)
    (state.mapValues(_._1), rounds)
  }

  /** The session's shuffle partition count, which every run uses. */
  def partitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** A final state as a DataFrame of `schema`, one row per vertex. */
  def toFrame[V](like: DataFrame, state: RDD[(Any, V)], schema: StructType)(
      row: (Any, V) => Row): DataFrame =
    like.sparkSession.createDataFrame(
      state.map { case (k, v) => row(k, v) }, schema)

  /** Run an action, rethrowing a task's named input error or arithmetic
    * overflow as itself instead of inside the job-failure wrapper. */
  private def surfaced[T](action: => T): T =
    try action
    catch {
      case e: SparkException =>
        throw Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).take(32)
          .collectFirst {
            case c: IllegalArgumentException => c
            case c: ArithmeticException => c
          }
          .getOrElse(e)
    }
}
