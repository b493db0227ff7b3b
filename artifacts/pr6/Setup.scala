package graft

import graft.operators.{IngestionPipeline, SnapshotStore, VersionedIvf}

/** Times the store set-up perfbench repeats: a chunk-store commit with
  * doc_id stats and a 16-cell VersionedIvf.write, six times each in one
  * JVM over an sf0.01 fixture; prints the median of the last five. */
object Setup {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = args(0) // an sf0.01 fixture dir (documents, embeddings)
    val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
    docs.count(); emb.count()
    val base = java.nio.file.Files.createTempDirectory("setup").toString
    def med(xs: Seq[Long]) = xs.sorted.apply(xs.size / 2)
    val chunk = (1 to 6).map { i =>
      val t0 = System.nanoTime()
      SnapshotStore.commit(IngestionPipeline.buildIndexFrom(docs),
        s"$base/c$i", 8, meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id"))))
      (System.nanoTime() - t0) / 1000000L
    }
    val ivf = (1 to 6).map { i =>
      val t0 = System.nanoTime()
      VersionedIvf.write(emb, 16, s"$base/v$i")
      (System.nanoTime() - t0) / 1000000L
    }
    println(s"SETUP chunk_commit_ms=${chunk.mkString(",")} med=${med(chunk.tail)} " +
      s"ivf_write_ms=${ivf.mkString(",")} med=${med(ivf.tail)}")
    spark.stop()
  }
}
