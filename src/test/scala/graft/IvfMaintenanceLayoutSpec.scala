package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RequestFixtures.{Dim, vector}
import graft.operators.{IvfIndex, SnapshotStore, VersionedIvf,
  VersionedIvfAdc}

/** Maintenance keeps the stored index's cent_id clustering: after an
  * upsert, a delete and a rebalance, the rows each verb writes (its new
  * rows and the survivors of the files it rewrites) are laid out in
  * cent_id bands like [[VersionedIvf.write]]'s,
  * so a one-cell narrow probe still opens only the probed cell's files
  * ([[ProbeFiles.check]]) and no larger share of the index's files than
  * right after the write. Both tiers: flat ([[VersionedIvf]]) and
  * compressed ([[VersionedIvfAdc]]). */
class IvfMaintenanceLayoutSpec extends SparkTestBase {

  private val Cells = 16

  private def fresh(path: String): String = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively()
    }
    path
  }

  private def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame =
    RequestFixtures.vecs(spark, rows)

  private val corpus = (0L until 2000L).map(i => (i, vector(i)))
  /** Every 20th stored id re-embedded into another cluster, plus 100 new
    * ids in cluster 3 — enough extra rows there to make its cells hot. */
  private val batch =
    (0L until 2000L by 20L).map(i => (i, vector(i * 7 + 1))) ++
      (2000L until 2100L).map(i => (i, vector(3L + 8L * i)))
  private val hot = (3000L until 3400L).map(i => (i, vector(3L + 8L * i)))
  private val dropped = (500L until 1100L by 20L)
  private val queryIds = Seq(5L, 402L, 1337L, 1999L)

  /** (files opened, files in the version) summed over one-cell probes of
    * the query vectors, each checked with [[ProbeFiles.check]]. */
  private def probeFiles(root: String,
      cents: Array[(Long, Array[Long])],
      search: DataFrame => DataFrame): (Int, Int) =
    queryIds.map { id =>
      val q = vecs(Seq((-1L - id, vector(id))))
      val cells = IvfIndex.cellRanksWith(q, cents)
        .filter(col("rk") <= 1).select("cent_id").collect()
        .map(_.getLong(0)).toSet
      ProbeFiles.check(spark, root, search(q), cells)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Runs write, upsert, delete and rebalance through one tier's verbs
    * and checks the probe after each against the write's share. */
  private def maintain(tier: String, root: String)(write: => Unit)(
      cents: => Array[(Long, Array[Long])])(
      search: DataFrame => DataFrame)(upsert: DataFrame => Unit)(
      delete: DataFrame => Unit)(rebalance: => Int): Unit = {
    write
    val (o0, t0) = probeFiles(root, cents, search)
    info(s"$tier write: one-cell probes opened $o0 of $t0 files")
    def noWider(step: String): Unit = {
      val (o, t) = probeFiles(root, cents, search)
      info(s"$tier $step: one-cell probes opened $o of $t files")
      assert(o.toDouble / t <= o0.toDouble / t0,
        s"$tier $step: a one-cell probe opened $o of $t files, " +
          s"after write $o0 of $t0")
    }
    upsert(vecs(batch))
    noWider("upsert")
    delete(vecs(dropped.map(i => (i, vector(i)))).select("vec_id"))
    noWider("delete")
    upsert(vecs(hot))
    noWider("second upsert")
    val splits = rebalance
    assert(splits > 0, s"$tier: the fixture made no cell hot")
    noWider(s"rebalance ($splits splits)")
    val ids = SnapshotStore.read(spark, root).select("doc_id").collect()
      .map(_.getLong(0))
    assert(ids.length === ids.distinct.length)
    assert(ids.toSet === ((0L until 2100L).toSet -- dropped ++
      hot.map(_._1)))
  }

  test("VersionedIvf: upsert, delete and rebalance keep the cent_id " +
      "bands, so a one-cell probe opens no larger share of files") {
    val root = fresh("target/ivf-maint-layout")
    maintain("flat", root)(VersionedIvf.write(vecs(corpus), Cells, root))(
      VersionedIvf.storedCentroids(spark, root))(
      q => VersionedIvf.search(spark, root, q, 1, 5))(
      e => VersionedIvf.upsert(spark, root, e): Unit)(
      ids => VersionedIvf.delete(spark, root, ids): Unit)(
      VersionedIvf.rebalance(spark, root))
  }

  test("VersionedIvfAdc: upsert, delete and rebalance keep the cent_id " +
      "bands, so a one-cell probe opens no larger share of files") {
    val root = fresh("target/ivfadc-maint-layout")
    maintain("ADC", root)(VersionedIvfAdc.write(vecs(corpus), root,
        dim = Dim, m = 2, k = 8, nCells = Cells))(
      VersionedIvfAdc.storedCoarse(spark, root))(
      q => VersionedIvfAdc.search(spark, root, q, 1, 5))(
      e => VersionedIvfAdc.upsert(spark, root, e): Unit)(
      ids => VersionedIvfAdc.delete(spark, root, ids): Unit)(
      VersionedIvfAdc.rebalance(spark, root))
  }
}
