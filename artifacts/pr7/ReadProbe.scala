package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{SnapshotStore, VersionedIvf}

/** The first reads of each new version after a keyed write. A 2000-vector,
  * 8-cell stored IVF index and a 2000-doc, 8-bucket chunk store with
  * doc_id stats take `writes` rounds of keyed writes (a 200-vector IVF
  * upsert, a 30-id IVF delete, a 50-doc store upsert); after each round the
  * first full-probe `VersionedIvf.search` (one query, top 10) and the first
  * `SnapshotStore.readDocs` (5 ids) of the new versions run once each.
  * Prints one line per (round, verb): the data dirs the version reads, wall
  * ms, tasks and generated classes compiled.
  *
  * Usage: graft.ReadProbe <scratch dir> [writes] */
object ReadProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = args(0)
    val writes = if (args.length > 1) args(1).toInt else 6
    val tasks = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet(): Unit
    })
    val Cells = 8
    def vecs(from: Long, n: Long, salt: Int): DataFrame =
      spark.range(from, from + n, 1, 4).select(col("id").as("vec_id"),
        array((0 until 64).map(j => sin(col("id") * (j + 1) + salt * 0.37 +
          (col("id") % 8) * 3.0).cast("float")): _*).as("embedding"))
    def docs(from: Long, n: Long, salt: String): DataFrame =
      spark.range(from, from + n, 1, 4).select(col("id").as("doc_id"),
        concat(lit(salt), sha1(col("id").cast("string"))).as("text"))
    def dirs(root: String): Int = SnapshotStore.manifestEntries(spark, root,
      SnapshotStore.currentVersion(spark, root).get)
      .map(_._2.split("/").take(2).mkString("/")).distinct.size
    def measure(round: Int, verb: String, root: String)(f: => Unit): Unit = {
      Thread.sleep(300) // let earlier task-end events drain
      val t0 = tasks.get()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val w0 = System.nanoTime()
      f
      val ms = (System.nanoTime() - w0) / 1000000L
      Thread.sleep(300)
      println(s"READPROBE round=$round verb=$verb dirs=${dirs(root)} " +
        s"ms=$ms tasks=${tasks.get() - t0} compiles=" +
        s"${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0}")
    }
    val query = vecs(5000, 1, 9)
    def rounds(tag: String, n: Int, report: Boolean): Unit = {
      val ivf = s"$base/$tag-ivf"
      val store = s"$base/$tag-store"
      VersionedIvf.write(vecs(0, 2000, 0), Cells, ivf)
      SnapshotStore.commit(docs(0, 2000, "a"), store, buckets = 8,
        meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id"))))
      for (r <- 1 to n) {
        VersionedIvf.upsert(spark, ivf, vecs(r * 97L % 1800, 200, r))
        VersionedIvf.delete(spark, ivf,
          spark.range(r * 53L % 1900, r * 53L % 1900 + 30).toDF("vec_id"))
        val up = docs(r * 71L % 1900, 50, s"r$r")
        SnapshotStore.upsert(spark, up, up.select("doc_id"), store, 8)
        val ids = Seq(1L, 400L, 800L, 1200L, r * 71L % 1900)
        if (report) {
          measure(r, "VersionedIvf.search", ivf) {
            VersionedIvf.search(spark, ivf, query, Cells, 10).collect(): Unit
          }
          measure(r, "SnapshotStore.readDocs", store) {
            SnapshotStore.readDocs(spark, store, ids).collect(): Unit
          }
        } else {
          VersionedIvf.search(spark, ivf, query, Cells, 10).collect()
          SnapshotStore.readDocs(spark, store, ids).collect(): Unit
        }
      }
    }
    rounds("warm", 2, report = false) // JIT and first use, not reported
    rounds("probe", writes, report = true)
    spark.stop()
  }
}
