package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic vectors for the request-verb specs, built as local
  * relations — the shape a request's query frame takes. */
object RequestFixtures {
  val Dim = 8

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def vecs(spark: SparkSession, rows: Seq[(Long, Seq[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (i, v) => Row(i, v) }: _*), VecSchema)

  /** Vector `i`: eight clusters (by `i % 8`) with spread inside each. */
  def vector(i: Long): Seq[Float] =
    (0 until Dim).map(j => (((i * 31 + j * 17) % 97) + (i % 8) * 40)
      .toFloat / 100f)
}
