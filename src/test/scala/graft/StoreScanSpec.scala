package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}

import graft.RequestFixtures.vector
import graft.operators.{SnapshotStore, VersionedIvf}

/** Plan shape of a store read under merge-on-read: whatever number of
  * data dirs and delete entries a version carries, `read`, `readDocs`
  * and a full-probe `VersionedIvf.search` plan ONE file scan and no
  * union over dirs, and the delete filter's generated code does not
  * depend on the version, so reading a freshly published version
  * compiles no new class once one version was read. */
class StoreScanSpec extends SparkTestBase {

  private val Cells = 8

  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively(): Unit
    }
  }

  /** (file scans, unions) of `df`'s physical plan. */
  private def shape(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.sparkPlan
    (plan.collect { case s: FileSourceScanExec => s }.size,
      plan.collect { case u: UnionExec => u }.size)
  }

  /** Classes compiled while `f` runs. */
  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def dataDirs(root: String): Int =
    SnapshotStore.manifestEntries(spark, root,
      SnapshotStore.currentVersion(spark, root).get)
      .map(_._2.split("/").take(2).mkString("/")).distinct.size

  test("a chunk-store read over many dirs and delete entries is one scan " +
      "whose code does not change with the version") {
    import spark.implicits._
    val root = "target/storescan-chunks"
    cleanup(root)
    def rows(ids: Seq[Long], tag: Long) =
      ids.map(i => (i, tag)).toDF("doc_id", "tag")
    SnapshotStore.commit(rows(1L to 40L, 0L), root, buckets = 4)
    SnapshotStore.upsert(spark, rows(1L to 3L, 1L),
      (1L to 3L).toDF("doc_id"), root, 4)
    SnapshotStore.upsert(spark, rows(4L to 6L, 2L),
      (4L to 6L).toDF("doc_id"), root, 4)
    SnapshotStore.deleteWhere(spark, root, "doc_id", 30L, 35L)
    SnapshotStore.deleteWhere(spark, root, "tag", 2L, 2L)
    SnapshotStore.upsert(spark, rows(Seq(7L, 8L, 36L), 3L),
      Seq(7L, 8L, 36L).toDF("doc_id"), root, 4)
    assert(dataDirs(root) >= 4)
    val live = (9L to 40L).filterNot(i => i >= 30L && i <= 36L)
      .map(_ -> 0L).toMap ++ (1L to 3L).map(_ -> 1L) ++
      Seq(7L, 8L, 36L).map(_ -> 3L)
    def state(df: DataFrame) =
      df.select("doc_id", "tag").as[(Long, Long)].collect().toMap

    val read = SnapshotStore.read(spark, root)
    assert(shape(read) === ((1, 0)))
    assert(state(read) === live)
    val docs = SnapshotStore.readDocs(spark, root, Seq(1L, 5L, 7L, 31L, 36L))
    assert(shape(docs) === ((1, 0)))
    assert(state(docs) === Map(1L -> 1L, 7L -> 3L, 36L -> 3L))

    // the next published version adds a dir and an id entry: its first
    // read compiles nothing the warm read did not
    SnapshotStore.upsert(spark, rows(Seq(9L, 10L), 4L),
      Seq(9L, 10L).toDF("doc_id"), root, 4)
    val next = SnapshotStore.read(spark, root)
    var got = Map.empty[Long, Long]
    assert(compiles { got = state(next) } === 0L)
    assert(got === live ++ Seq(9L, 10L).map(_ -> 4L))
    assert(compiles {
      state(SnapshotStore.readDocs(spark, root, Seq(1L, 5L, 7L, 31L, 36L)))
    } === 0L)
  }

  test("a full-probe VersionedIvf.search over many dirs is one scan " +
      "whose code does not change with the version") {
    val root = "target/storescan-ivf"
    cleanup(root)
    def vecs(ids: Seq[Long], salt: Long) = RequestFixtures.vecs(spark,
      ids.map(i => (i, vector(i + salt))))
    VersionedIvf.write(vecs(0L until 400L, 0L), Cells, root)
    VersionedIvf.upsert(spark, root, vecs(0L until 10L, 7L))
    VersionedIvf.upsert(spark, root, vecs(10L until 20L, 7L))
    VersionedIvf.delete(spark, root, vecs(Seq(20L, 21L), 0L).select("vec_id"))
    VersionedIvf.upsert(spark, root, vecs(30L until 40L, 7L))
    assert(dataDirs(root) >= 4)
    val query = RequestFixtures.vecs(spark, Seq((-1L, vector(123L))))
    def search() =
      VersionedIvf.search(spark, root, query, nProbe = Cells, topK = 5)
    val hits = search()
    assert(shape(hits) === ((1, 0)))
    val warm = hits.collect()
    assert(warm.length === 5)

    VersionedIvf.upsert(spark, root, vecs(40L until 50L, 7L))
    var next = Array.empty[org.apache.spark.sql.Row]
    assert(compiles { next = search().collect() } === 0L)
    assert(next.length === 5)
  }

  test("readDocs with a new id set compiles no class and still pushes its " +
      "ids to Parquet") {
    import spark.implicits._
    val root = "target/storescan-readdocs"
    cleanup(root)
    SnapshotStore.commit((0L until 200L).map(i => (i, s"text_$i"))
      .toDF("doc_id", "text"), root, buckets = 4,
      meta = Seq(SnapshotStore.statsDeclaration(Seq("doc_id"))))
    def docs(ids: Seq[Long]) =
      SnapshotStore.readDocs(spark, root, ids).select("doc_id", "text")
        .as[(Long, String)].collect().toMap
    assert(docs(Seq(3L, 50L, 99L, 150L, 777L)).keySet ===
      Set(3L, 50L, 99L, 150L))
    var got = Map.empty[Long, String]
    assert(compiles { got = docs(Seq(4L, 61L, 120L, 199L, 888L)) } === 0L)
    assert(got === Seq(4L, 61L, 120L, 199L).map(i => i -> s"text_$i").toMap)
    val plan = SnapshotStore.readDocs(spark, root, Seq(7L, 8L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(doc_id, [7,8])]") ||
      plan.contains("In(doc_id, [7,8])"), plan)
  }
}
