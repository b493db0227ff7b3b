package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.RequestFixtures.{Dim, vector}
import graft.functions.VectorFunctions
import graft.operators.{IvfIndex, SnapshotStore, VersionedIvf,
  VersionedIvfAdc}
import graft.plans.Quantize1e6

/** A stored IVF search ranks its probe set on the driver and looks each
  * scanned row's probing queries up in a table held by reference: its
  * rows equal an exact reference (every stored row of the probed cells
  * scored against every query), its generated code does not depend on
  * the queries, and its plan carries no query vector. */
class DriverProbeSpec extends SparkTestBase {

  private val Cells = 8
  private val Root = "target/driverprobe-vivf"

  private def cleanup(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.reflect.io.Directory
      new Directory(f).deleteRecursively(): Unit
    }
  }

  private lazy val store: String = {
    cleanup(Root)
    VersionedIvf.write(RequestFixtures.vecs(spark,
      (0L until 400L).map(i => (i, vector(i)))), Cells, Root)
    Root
  }

  /** Classes compiled while `f` runs. */
  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** A query frame of `idType` ids and `elemType` vectors. */
  private def queries(rows: Seq[(Long, Seq[Float])],
      idType: DataType = LongType,
      elemType: DataType = FloatType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, v) =>
      Row(if (idType == IntegerType) i.toInt else i,
        if (elemType == DoubleType) v.map(_.toDouble) else v)
    }: _*), StructType(Seq(StructField("vec_id", idType, nullable = false),
      StructField("embedding", ArrayType(elemType, containsNull = false)))))

  /** The `nProbe` cells nearest to `v`: integer squared L2 over the
    * round(x·1e6) quantization, ties to the lower cell id. */
  private def nearestCells(v: Seq[Double], nProbe: Int): Seq[Long] = {
    val q = v.map(x => Quantize1e6.roundLong(x * 1e6))
    VersionedIvf.storedCentroids(spark, store).toSeq
      .map { case (id, c) =>
        (q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, id) }
      .sorted.take(nProbe).map(_._2)
  }

  /** The exact reference: every stored row of each query's nearest cells,
    * scored by cosine against the query (never itself), top `topK` by
    * (sim desc, vec_id). */
  private def reference(qs: Seq[(Long, Seq[Float])], nProbe: Int,
      topK: Int): Set[(Long, Int, Long, Double)] = {
    val sp = spark
    import sp.implicits._
    val probes = qs.map { case (id, v) =>
      (id, v.map(_.toDouble), nearestCells(v.map(_.toDouble), nProbe)) }
      .toDF("q_id", "q_emb", "cells")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    SnapshotStore.read(spark, store)
      .select(col("doc_id").as("vec_id"), col("embedding"), col("cent_id"))
      .crossJoin(probes)
      .filter(array_contains(col("cells"), col("cent_id")) &&
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "vec_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
  }

  private def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getAs[Number]("q_id").longValue,
      r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
      r.getAs[Double]("sim"))).toSet

  // queries -1 and -2 share their cluster (123 % 8 == 131 % 8), so they
  // probe the same cells; 42 is a stored id, excluded from its own hits
  private val Qs = Seq((-1L, vector(123L)), (-2L, vector(131L)),
    (-3L, vector(5L)), (42L, vector(42L)))

  test("narrow and full probe rows equal the exact reference") {
    for (nProbe <- Seq(2, Cells)) {
      val got = rows(VersionedIvf.search(spark, store, queries(Qs),
        nProbe, 5))
      assert(got === reference(Qs, nProbe, 5), s"nProbe $nProbe")
      assert(got.size === Qs.size * 5)
      assert(!got.exists { case (q, _, v, _) => q == 42L && v == 42L })
    }
    assert(nearestCells(vector(123L).map(_.toDouble), 2).toSet ===
      nearestCells(vector(131L).map(_.toDouble), 2).toSet)
  }

  test("int-typed ids and double-typed vectors query like long and float") {
    val want = reference(Qs, 2, 5)
    val ints = VersionedIvf.search(spark, store,
      queries(Qs, idType = IntegerType), 2, 5)
    assert(ints.schema("q_id").dataType === IntegerType)
    assert(rows(ints) === want)
    assert(rows(VersionedIvf.search(spark, store,
      queries(Qs, elemType = DoubleType), 2, 5)) === want)
  }

  test("an empty query frame returns no rows with the normal schema") {
    val empty = VersionedIvf.search(spark, store, queries(Nil), 2, 5)
    assert(empty.collect().isEmpty)
    assert(empty.schema ===
      VersionedIvf.search(spark, store, queries(Qs.take(1)), 2, 5).schema)
  }

  test("a query frame that is not local adds only its collect's job") {
    // an RDD-backed frame: its collect is one job, not a local scan
    val local = queries(Qs)
    val spread = spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, 2), local.schema)
    rows(VersionedIvf.search(spark, store, spread, 2, 5))
    val (got, jobs) = JobCounter(spark)(
      rows(VersionedIvf.search(spark, store, spread, 2, 5)))
    info(s"non-local query frame: $jobs jobs")
    assert(jobs <= 3, s"non-local search launched $jobs jobs")
    assert(got === reference(Qs, 2, 5))
  }

  test("a search with new query vectors compiles no class and its plan " +
      "holds no query vector") {
    // 60 queries whose components print as long, distinct decimals
    def qs(from: Long) = (from until from + 60L)
      .map(i => (-1000L - i, vector(i).map(_ + 3.1415926f)))
    rows(VersionedIvf.search(spark, store, queries(qs(0L)), 2, 5))
    val fresh = qs(1000L)
    val df = VersionedIvf.search(spark, store, queries(fresh), 2, 5)
    var got = Set.empty[(Long, Int, Long, Double)]
    assert(compiles { got = rows(df) } === 0L)
    assert(got.size === 60 * 5)
    val plan = df.queryExecution.toString
    assert(plan.contains("probes[60 queries, "), plan)
    val printed = fresh.flatMap(_._2).map(_.toString).distinct
      .filter(plan.contains)
    assert(printed.isEmpty, s"plan prints query values $printed")
  }

  test("the ADC search's driver LUT equals queryLut") {
    val root = "target/driverprobe-vadc"
    cleanup(root)
    VersionedIvfAdc.write(RequestFixtures.vecs(spark,
      (0L until 400L).map(i => (i, vector(i)))), root, dim = Dim, m = 2,
      k = 8, nCells = Cells)
    val book = VersionedIvfAdc.storedBook(spark, root)
    for (elemType <- Seq(FloatType, DoubleType)) {
      val q = queries(Qs, elemType = elemType)
      val probes = IvfIndex.driverProbes(q,
        VersionedIvfAdc.storedCoarse(spark, root), 2, "DriverProbeSpec")
      def lut(df: DataFrame) = df.select(col("q_id"), col("j"),
          col("code"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).toSet
      val driver = lut(VersionedIvfAdc.driverLut(spark, probes, book, Dim, 2))
      assert(driver.size === Qs.size * 2 * 8)
      assert(driver === lut(VersionedIvfAdc.queryLut(spark, q, book, Dim, 2)),
        s"elements $elemType")
    }
  }
}
