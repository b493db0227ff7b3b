package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.RequestFixtures.{Dim, vector}
import graft.operators.{SnapshotStore, VersionedIvf, VersionedIvfAdc}

/** The `file` scheme with a count of `_versions` listings — one listing
  * is one head-version resolution. */
class VersionListingCountingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_versions")
      VersionListingCountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object VersionListingCountingFs {
  val listings = new AtomicLong()
}

/** The request verbs evaluate the inputs the driver already holds on the
  * driver: a search's probe set is collected once (dim check, probed
  * cells and join side from one collect) and reads ONE resolved version;
  * readDocs hashes its ids to target buckets and, on an inline-metadata
  * store, computes the doc_id stats/bloom verdicts without a Spark job.
  * These specs pin that the driver-side answers equal the executor-side
  * ones and the write side's, and that bad requests get named errors. */
class StoreRequestSpec extends SparkTestBase {


  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively(): Unit
    }
  }

  private def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame =
    RequestFixtures.vecs(spark, rows)

  private lazy val corpus = vecs((0L until 300L).map(i => (i, vector(i))))
  private lazy val query = vecs(Seq((-1L, vector(42L)), (-2L, vector(7L))))

  private lazy val ivfRoot = {
    val root = "target/request-vivf"
    cleanup(root)
    VersionedIvf.write(corpus, 8, root)
    root
  }

  private lazy val adcRoot = {
    val root = "target/request-vadc"
    cleanup(root)
    VersionedIvfAdc.write(corpus, root, dim = Dim, m = 2, k = 8,
      nCells = 8)
    root
  }

  private def searches: Seq[(String, (DataFrame, Int, Int) => DataFrame)] =
    Seq(
      "VersionedIvf.search" -> ((q: DataFrame, p: Int, k: Int) =>
        VersionedIvf.search(spark, ivfRoot, q, p, k)),
      "VersionedIvfAdc.search" -> ((q: DataFrame, p: Int, k: Int) =>
        VersionedIvfAdc.search(spark, adcRoot, q, p, k)))

  /** `_versions` listings made while `body` runs, with the counting file
    * system installed (and the file-system cache bypassed) for the
    * duration. */
  private def versionListings[T](body: => T): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[VersionListingCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val before = VersionListingCountingFs.listings.get
      body
      VersionListingCountingFs.listings.get - before
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("a head search resolves the version once: one _versions listing " +
      "per VersionedIvf and VersionedIvfAdc search") {
    searches.foreach { case (name, search) =>
      search(query, 2, 3).collect() // build the store outside the count
      val n = versionListings(search(query, 2, 3).collect())
      assert(n === 1L, s"$name listed _versions $n times")
    }
  }

  test("an empty query frame returns an empty result with the normal " +
      "schema; nProbe or topK below 1 is a named error") {
    searches.foreach { case (name, search) =>
      val normal = search(query, 2, 3)
      val empty = search(query.limit(0), 2, 3)
      assert(empty.collect().isEmpty, name)
      assert(empty.schema === normal.schema, name)
      val p = intercept[IllegalArgumentException](search(query, 0, 3))
      assert(p.getMessage.contains(s"$name: nProbe must be >= 1, got 0"))
      val k = intercept[IllegalArgumentException](search(query, 2, 0))
      assert(k.getMessage.contains(s"$name: topK must be >= 1, got 0"))
    }
  }

  test("a wrong-dim query and a null embedding raise the named dim error") {
    val nullable = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val shortDim = vecs(Seq((-1L, Seq(1f, 2f, 3f))))
    val longDim = vecs(Seq((-1L, vector(1L) ++ vector(2L))))
    val nullEmb = spark.createDataFrame(java.util.Arrays.asList(
      Row(-1L, vector(1L)), Row(-2L, null)), nullable)
    searches.foreach { case (name, search) =>
      Seq(shortDim -> "3..3", longDim -> "16..16", nullEmb -> "-1..8")
        .foreach { case (q, dims) =>
          val e = intercept[IllegalArgumentException](
            search(q, 2, 3).collect())
          assert(e.getMessage.contains(s"$name: embedding dim $dims does " +
            s"not match the stored index's centroid dim $Dim"),
            e.getMessage)
        }
    }
  }

  private val EdgeIds = Seq(-1L, -42L, -(1L << 40), 0L, Long.MinValue,
    Long.MaxValue, 7L, 123456789L)

  test("driver-computed target buckets equal the buckets the write side " +
      "assigns: negative, zero, extreme, duplicate and absent ids") {
    val root = "target/request-buckets"
    cleanup(root)
    val sp = spark
    import sp.implicits._
    SnapshotStore.commit(EdgeIds.map(i => (i, s"t$i")).toDF("doc_id", "t"),
      root, 8)
    val stored = SnapshotStore.read(spark, root).select("doc_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    EdgeIds.foreach { i =>
      assert(SnapshotStore.targetBuckets(spark, Seq(i), 8) ===
        Set(stored(i)), s"id $i")
      assert(SnapshotStore.readDocs(spark, root, Seq(i))
        .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(i))
    }
    assert(SnapshotStore.targetBuckets(spark,
      Seq(Long.MinValue, 0L, Long.MinValue, 0L, -1L), 8) ===
      Set(stored(Long.MinValue), stored(0L), stored(-1L)))
    val absent = 987654321L
    val predicted = SnapshotStore.targetBuckets(spark, Seq(absent), 8)
    assert(SnapshotStore.readDocs(spark, root, EdgeIds :+ absent :+ 0L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      EdgeIds.sorted)
    val fresh = Seq((absent, "late")).toDF("doc_id", "t")
    SnapshotStore.upsert(spark, fresh, fresh.select("doc_id"), root, 8)
    assert(SnapshotStore.read(spark, root).filter(col("doc_id") === absent)
      .select("bucket").collect().map(_.getLong(0)).toSet === predicted)
  }

  private def withThreshold[T](n: Int)(body: => T): T = {
    val saved = SnapshotStore.sidecarThreshold
    SnapshotStore.sidecarThreshold = n
    try body finally SnapshotStore.sidecarThreshold = saved
  }

  test("readDocs on inline metadata returns the same rows and opens the " +
      "same files as with the sidecar forced, with stats only and with a " +
      "doc_id bloom") {
    Seq(false, true).foreach { bloom =>
      val root = s"target/request-parity-$bloom"
      cleanup(root)
      val sp = spark
      import sp.implicits._
      val ids = (0L until 2000L) ++ EdgeIds.filter(i => i < 0 || i >= 2000)
      SnapshotStore.commit(ids.map(i => (i, s"t$i")).toDF("doc_id", "t"),
        root, 4, meta = SnapshotStore.statsDeclaration(Seq("doc_id")) +:
          (if (bloom) Seq(SnapshotStore.bloomDeclaration(Seq("doc_id"),
            bits = 4096)) else Nil))
      // many small doc_id-sorted files, so the verdicts have work to do
      val inline = SnapshotStore.optimize(spark, root,
        maxRecordsPerFile = 32L)
      // the same files again, their stats/blooms moved to the sidecar
      val sidecar = withThreshold(1)(
        SnapshotStore.declareStats(spark, root, Seq("doc_id")))
      val manifest = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(root, f"_versions/v$sidecar%05d.manifest")
          .toPath), "UTF-8")
      assert(manifest.contains("#metafile\t") &&
        !manifest.contains("#stat\t") && !manifest.contains("#bloom\t"),
        "the sidecar did not engage")
      val total = SnapshotStore.read(spark, root, inline).inputFiles.length
      Seq(Seq(5L, 900L, 1999L, 31337L), EdgeIds, Seq(64L, 64L, 65L),
          Seq(-5L)).foreach { want =>
        val a = SnapshotStore.readDocs(spark, root, want, inline)
        val b = SnapshotStore.readDocs(spark, root, want, sidecar)
        def rows(df: DataFrame) = df.select("doc_id", "t").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        assert(rows(a) === rows(b), s"bloom=$bloom ids=$want")
        assert(rows(a).map(_._1) === want.distinct.filter(ids.contains)
          .sorted, s"bloom=$bloom ids=$want")
        assert(a.inputFiles.toSet === b.inputFiles.toSet,
          s"bloom=$bloom ids=$want")
        assert(a.inputFiles.length < total / 4,
          s"bloom=$bloom ids=$want: the verdicts did not prune " +
            s"(${a.inputFiles.length} of $total files)")
      }
    }
  }
}
