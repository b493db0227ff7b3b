package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The measured part of one run: a closed loop of unit operations from a
  * single client thread. Each operation is timed without its output
  * check; an operation that throws or fails its check counts as failed.
  * A warm-up run (`checked = false`) skips the checks. */
final class Run(val spark: SparkSession, val tr: Tracer,
    checked: Boolean = true) {
  var attempted = 0L
  var failed = 0L
  /** Per kind ("request", "write", "read_after_write", ...), op times in
    * ms; traced runs leave out their [[Tracer.tracedOnly]] work. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** Documents the operations served or wrote. */
  var docs = 0L
  /** Per-query quality samples in [0, 1]. */
  val recall = mutable.ArrayBuffer.empty[Double]
  /** Values reported next to the metrics (stderr and the run record). */
  val details: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** Time `work` as one operation of `kind` inside a root span, then
    * check its output. */
  def op[T](kind: String, req: Long)(work: => T)(check: T => Boolean): Unit = {
    attempted += 1
    val extra0 = tr.extraMs
    val t0 = System.nanoTime()
    val ok =
      try {
        val out = tr.span(kind, req)(work)
        val ms = (System.nanoTime() - t0) / 1e6 - (tr.extraMs - extra0)
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        !checked || check(out)
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: $kind #$req threw: $e")
          false
      }
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: $kind #$req failed its check")
    }
  }

  /** Time in the operations of the given kinds. */
  def busyMs(kinds: String => Boolean): Double =
    samples.collect { case (k, v) if kinds(k) => v.sum }.sum
}

/** A workload: set-up makes its inputs from the seed and builds what the
  * engine needs; [[step]] runs one unit of work into a [[Run]]. */
trait Workload {
  /** Seconds per set-up phase of the latest set-up. */
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  protected def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  def name: String
  /** The sample kind whose times are the workload's latency. */
  def unitKind: String
  /** Whether time in operations of this kind counts in `docs_per_s`. */
  def paced(kind: String): Boolean = true
  /** Generate inputs under `dir` and build the stores and indexes. */
  def setup(dir: java.io.File): Unit
  /** Run each kind of operation once on the latest set-up, unchecked, so
    * the measured loop does not pay first-use compilation. */
  def warmUp(): Unit
  /** Run one unit of work; the loop stops between units. */
  def step(run: Run): Unit
  /** Checks on the final state, after the measured loop. */
  def finish(run: Run): Unit = ()
  /** Input sizes, reported next to the results. */
  def sizes: Map[String, Any]
}

object Frames {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def docs(spark: SparkSession, ds: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ds.map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)): _*),
      DocSchema)

  def vecs(spark: SparkSession, ids: Seq[Long],
      vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.zip(vs).map {
      case (i, v) => Row(i, v.toSeq) }: _*), VecSchema)

  def pairs(spark: SparkSession, ps: Seq[(Long, Long)], a: String,
      b: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ps.map { case (x, y) =>
      Row(x, y) }: _*), StructType(Seq(StructField(a, LongType, false),
      StructField(b, LongType, false))))

  /** Bytes of every file under `root`. */
  def du(root: java.io.File): Long =
    if (root.isFile) root.length
    else Option(root.listFiles).map(_.map(du).sum).getOrElse(0L)

  /** Data files under a store root (names ending in .parquet). */
  def dataFiles(root: java.io.File): Set[String] =
    if (root.isFile) {
      if (root.getName.endsWith(".parquet")) Set(root.getPath) else Set.empty
    } else Option(root.listFiles).map(_.flatMap(dataFiles).toSet)
      .getOrElse(Set.empty)
}
