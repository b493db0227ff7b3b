package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{IngestionPipeline, SnapshotStore}

/** SnapshotStore.upsert of k multi-chunk documents (chunked and embedded
  * by IngestionPipeline.buildIndexFrom from an 8-partition upstream) into
  * a freshly committed 4000-doc, 8-bucket store; half the upserted ids
  * replace stored ones. Where the engine has SnapshotStore.singleWriterRows
  * each size runs with it forced high (one writer task) and forced to 0
  * (bucket rebalance); otherwise (the parent) with the engine's own path.
  * Prints one line per (k, mode): fresh rows and the three timings. */
object Gate {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = args(0)
    val sizes = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(250, 1000, 2000, 4000, 8000, 16000)
    def docs(from: Long, n: Long, salt: String) =
      spark.range(from, from + n, 1, 8).select(col("id").as("doc_id"),
        lit("src").as("source"),
        repeat(concat(lit(salt), sha1(col("id").cast("string"))), 12)
          .as("text"))
    def index(from: Long, n: Long, salt: String) =
      IngestionPipeline.buildIndexFrom(docs(from, n, salt), 120, 20, 64)
    val setW =
      try Some(SnapshotStore.getClass.getMethod("singleWriterRows_$eq",
        classOf[Long]))
      catch { case _: NoSuchMethodException => None }
    val modes =
      if (setW.isDefined) Seq("one" -> Long.MaxValue, "rebalance" -> 0L)
      else Seq("engine" -> -1L)
    // warm-up: one upsert per mode on a small store
    modes.foreach { case (m, w) =>
      val root = s"$base/warm-$m"
      SnapshotStore.commit(index(0, 500, "a"), root, 8)
      setW.foreach(_.invoke(SnapshotStore, Long.box(w)))
      val up = index(250, 100, "b")
      SnapshotStore.upsert(spark, up, up.select("doc_id"), root, 8)
    }
    for (k <- sizes) {
      val times = modes.map(m => m._1 -> Array.newBuilder[Long]).toMap
      var rows = 0L
      val reps = if (args.length > 2) args(2).toInt else 3
      for (rep <- 1 to reps) {
        val order = if (rep % 2 == 1) modes else modes.reverse
        order.foreach { case (m, w) =>
          val root = s"$base/g-$k-$m-$rep"
          SnapshotStore.commit(index(0, 4000, "a"), root, 8)
          setW.foreach(_.invoke(SnapshotStore, Long.box(w)))
          val up = index(2000, k, "b")
          val t0 = System.nanoTime()
          SnapshotStore.upsert(spark, up, up.select("doc_id"), root, 8)
          times(m) += (System.nanoTime() - t0) / 1000000L
          rows = up.count()
        }
      }
      modes.foreach { case (m, _) =>
        println(s"GATE docs=$k fresh_rows=$rows mode=$m " +
          s"upsert_ms=${times(m).result().mkString(",")}")
      }
    }
    spark.stop()
  }
}
