package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SnapshotStore

/** The files of a stored index's head version that a probe search opens,
  * against what its probed cells require. */
object ProbeFiles {

  /** `bucket=<b>/<file>`: one write names its files alike in every
    * bucket dir, so the bare file name is not unique within a version. */
  private def name(path: String): String =
    path.split("/").takeRight(2).mkString("/")

  /** Asserts the probe opened no file whose cent_id envelope misses
    * every probed cell and skipped no file holding a probed cell's row;
    * returns (files opened, files in the version). */
  def check(spark: SparkSession, root: String, search: DataFrame,
      cells: Set[Long]): (Int, Int) = {
    val files = SnapshotStore.read(spark, root)
      .groupBy(input_file_name().as("f"))
      .agg(min("cent_id"), max("cent_id"), collect_set("cent_id"))
      .collect()
      .map(r => (name(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toSet))
    require(files.forall(_._1.nonEmpty), "input_file_name() is empty")
    val opened = search.inputFiles.map(name).toSet
    val admissible = files.collect { case (f, lo, hi, _)
      if cells.exists(c => lo <= c && c <= hi) => f }.toSet
    val holding = files.collect { case (f, _, _, held)
      if held.exists(cells.contains) => f }.toSet
    assert(opened.subsetOf(admissible),
      s"probe opened files outside the probed cells' envelopes: " +
        (opened -- admissible).mkString(", "))
    assert(holding.subsetOf(opened),
      s"probe skipped files holding probed rows: " +
        (holding -- opened).mkString(", "))
    (opened.size, files.length)
  }
}
