package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.SnapshotStore

/** SnapshotStore.upsert of 1.5M fresh rows into a freshly committed
  * 3M-row, 8-bucket store; 10 % of the upserted ids replace stored ones.
  * over-cap: 1.5M distinct ids; under-cap: 150k ids x 10 rows. */
object Bulk {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = args(0)
    val n = 3000000L
    def text(c: org.apache.spark.sql.Column) =
      concat(lit("text-"), c.cast("string"), lit("-"), sha1(c.cast("string")))
    for (overCap <- Seq(true, false); meta <- Seq(0, 1)) {
      val times = (1 to 3).map { run =>
        val root = s"$base/bulk-$overCap-$meta-$run"
        SnapshotStore.commit(spark.range(0, n, 1, 8)
          .select(col("id").as("doc_id"), text(col("id")).as("text")),
          root, 8, meta = if (meta == 1)
            Seq(SnapshotStore.statsDeclaration(Seq("doc_id"))) else Nil)
        val fresh =
          if (overCap) spark.range(n - 150000L, n + 1350000L, 1, 8)
            .select(col("id").as("doc_id"), text(-col("id")).as("text"))
          else spark.range(0, 1500000L, 1, 8)
            .select((lit(n - 15000L) + col("id") / 10).cast("long")
              .as("doc_id"), text(-col("id")).as("text"))
        val t0 = System.nanoTime()
        SnapshotStore.upsert(spark, fresh, fresh.select("doc_id").distinct(),
          root, 8)
        val ms = (System.nanoTime() - t0) / 1000000L
        val files = SnapshotStore.manifestEntries(spark, root,
          SnapshotStore.currentVersion(spark, root).get).size
        val rows = SnapshotStore.read(spark, root).count()
        (ms, files, rows)
      }
      println(s"BULK ${if (overCap) "over-cap " else "under-cap"} meta=$meta " +
        s"upsert ms=${times.map(_._1).mkString(",")} " +
        s"files=${times.map(_._2).mkString(",")} rows=${times.map(_._3).mkString(",")}")
    }
    spark.stop()
  }
}
