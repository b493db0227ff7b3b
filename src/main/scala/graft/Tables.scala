package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver-generated parquet tables (schemas in
  * FIXTURES.md). One method per table; every operator reads through here so
  * column pruning / predicate pushdown reach the parquet scan untouched.
  *
  * Data model mirrors the reference's corpus/vector-index abstractions
  * (reference: airflow/dags/parser_pinecone_storage.py:24,41-46 — S3 PDF corpus;
  * :147-154 — Pinecone vector records) re-expressed as columnar Parquet tables.
  */
object Tables {
  private def p(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = p(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = p(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = p(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = p(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = p(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = p(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = p(s, d, "lineitem")

  /** events.ts arrives as parquet TIMESTAMP(NANOS) in early-round fixtures
    * (Spark's vectorized reader rejects it — read as nanos-since-epoch via
    * the legacy conf and truncate) or TIMESTAMP(MICROS) since the round-5
    * regeneration (read natively). Both normalize to a session-tz
    * microsecond TIMESTAMP — exactly what DuckDB's `cast(ts as timestamp)`
    * yields for either physical type, so oracle parity holds (session tz
    * is pinned to UTC by each entry point's SparkSession.builder —
    * Verify, Bench and SparkTestBase all set spark.sql.session.timeZone).
    * Any OTHER physical ts type fails loudly: a silent cast would turn a
    * future fixture-regeneration surprise into nulls downstream instead
    * of a named error here. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = p(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as nanos-since-epoch
        raw.withColumn("ts",
          expr("timestamp_micros(cast(ts div 1000 as bigint))"))
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other => throw new IllegalStateException(
        s"events.ts has unexpected physical type $other (expected " +
          "TIMESTAMP(NANOS)-as-long, TIMESTAMP, or TIMESTAMP_NTZ) — " +
          "the fixture changed again; adapt Tables.events deliberately")
    }
  }
  /** Corpus analog of the reference's extracted-document store. */
  def documents(s: SparkSession, d: String): DataFrame = p(s, d, "documents")
  /** Vector-index analog of the reference's Pinecone index (dim 64 here). */
  def embeddings(s: SparkSession, d: String): DataFrame = p(s, d, "embeddings")

  /** An empty scratch root `<java.io.tmpdir>/graft-<tag>` for a query or
    * rehearsal that builds its own store: whatever a previous run left
    * there is deleted first, so every run starts from version 0. */
  def freshRoot(tag: String): String = {
    val root = new java.io.File(sys.props("java.io.tmpdir"), s"graft-$tag")
    if (root.exists()) new scala.reflect.io.Directory(root).deleteRecursively()
    root.getPath
  }
}
