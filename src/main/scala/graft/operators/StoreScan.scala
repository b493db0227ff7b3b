package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Manifest-driven parquet scans for [[SnapshotStore]] version dirs —
  * the table-format read discipline (Iceberg/Delta): the manifest IS the
  * file list, so a read never lists directories, never stats files, and
  * never re-infers a schema from footers. `spark.read.parquet(files…)`
  * paid all three on EVERY store read: an `InMemoryFileIndex` over the
  * explicit leaf paths (one getFileStatus per file, escalating to a
  * whole Spark job above `parallelPartitionDiscovery.threshold` — the
  * `parquet at SnapshotStore.scala` listing jobs that profiled at 5–11
  * per store query), plus a driver footer read for schema inference,
  * plus partition-value discovery — per read, per verb, for files that
  * are IMMUTABLE by the store's own commit contract.
  *
  * Version dirs (`data/vNNNNN-<uuid8>`) are attempt-unique and
  * write-once: files are fully written before the manifest publishes and
  * are never modified afterwards (delete/upsert/optimize write NEW dirs;
  * vacuum deletes whole dead dirs — [[invalidate]] drops its cache).
  * That immutability makes one listing + one footer read per dir valid
  * for the lifetime of the dir, so both are cached per qualified dir
  * path and every later scan of any entry subset of that dir is pure
  * in-memory plan construction — no filesystem round-trips, no jobs.
  *
  * A read is ONE scan, whatever number of dirs its entries span: the
  * standard `HadoopFsRelation` over a literal [[FileIndex]] holding every
  * entry's file, with the same `ParquetFileFormat` and pushdown/pruning
  * machinery (`PushedFilters` and vectorized reading are format-side,
  * not index-side). Its partition values come from the manifest entries,
  * not from directory names: `bucket` (IntegerType, exactly as discovery
  * inferred it, so downstream casts are unchanged) and the file's dir
  * version ([[DirVersionCol]]), which the store's merge-on-read delete
  * rule compares delete entries against. Its data schema is the dirs'
  * cached footer schemas merged by name. Merge-on-read makes every keyed
  * write a new dir, so a per-dir scan union would plan, schedule and
  * compile O(dirs) scans per read; one scan packs the dirs' small files
  * into the same few tasks a one-dir read runs. Partition filters are
  * honored by evaluating them against each group's values (the
  * `PartitioningAwareFileIndex` discipline), never silently ignored.
  */
private[graft] object StoreScan {

  /** One dir's immutable facts: every data file's status (size feeds
    * split planning and relation sizeInBytes) and the dir's physical
    * parquet schema (uniform by construction — one write produced it). */
  private final case class DirFacts(
      files: Map[String, FileStatus], schema: StructType)

  /** qualified-dir-path → facts. Entries are tiny (statuses + one
    * schema); the blunt size valve below only matters to a very
    * long-lived session accumulating thousands of dead stores. */
  private val cache = new ConcurrentHashMap[String, DirFacts]()
  private val MaxDirs = 4096

  /** Drop every cached dir under `root` — vacuum is about to delete (or
    * has deleted) files there, and a stale status would move a read's
    * failure from plan time to execution time. */
  def invalidate(root: String): Unit = {
    val prefix = root.stripSuffix("/") + "/"
    val it = cache.keys()
    while (it.hasMoreElements) {
      val k = it.nextElement()
      if (k.startsWith(prefix) || k == root.stripSuffix("/"))
        cache.remove(k): Unit
    }
  }

  /** Only ATTEMPT-UNIQUE dirs (`vNNNNN-<uuid8>`) are cacheable: their
    * path can never be reused with different content. Plain `vNNNNN`
    * dirs (legacy layouts, [[SnapshotStore.cloneTo]] targets) could be
    * recreated at the same path after an out-of-band delete — those
    * rebuild facts per read, exactly the cost the old listing paid. */
  private def cacheable(dir: String): Boolean =
    dir.substring(dir.lastIndexOf('/') + 1)
      .matches("v\\d{5}-[0-9a-f]{8}")

  private def facts(spark: SparkSession, root: String, dir: String,
      entries: Seq[(Long, String)]): DirFacts = {
    val base = new Path(s"$root/$dir")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(base).toString
    val mayCache = cacheable(dir)
    if (mayCache) {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    val files = Map.newBuilder[String, FileStatus]
    fs.listStatus(base).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("bucket=")) {
        fs.listStatus(st.getPath).foreach { p =>
          if (p.getPath.getName.endsWith(".parquet"))
            files += (s"$dir/$name/${p.getPath.getName}" -> p)
        }
      }
    }
    val fileMap = files.result()
    // one footer read per dir, ever: files of a dir come from ONE
    // df.write, so any file's schema is the dir's schema (single-path
    // read — no listing job, no partition discovery); an empty listing
    // (a vacuum race) resolves the schema through an entry path instead
    // and the per-entry status fallback in [[Dirs.frame]] surfaces any miss
    val schemaFile =
      if (fileMap.nonEmpty) fileMap.keys.min else entries.head._2
    val schema = footerSchema(spark, s"$root/$schemaFile")
    val built = DirFacts(fileMap, schema)
    if (mayCache && fileMap.nonEmpty) {
      if (cache.size() >= MaxDirs) cache.clear()
      cache.put(key, built)
    }
    built
  }

  /** One file's Spark schema from its parquet footer, preferring the
    * serialized Spark schema every Spark write embeds (the key
    * `ParquetFileFormat.inferSchema` itself prefers) — exactly what
    * `spark.read.parquet(file).schema` returns, minus constructing and
    * resolving a whole DataFrame per dir first-touch. Files written by
    * something other than Spark (no embedded schema) fall back to the
    * reader. */
  private def footerSchema(spark: SparkSession,
      path: String): StructType = {
    val embedded =
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(path), spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val json =
          try r.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata")
          finally r.close()
        Option(json).map(j => org.apache.spark.sql.types.DataType
          .fromJson(j).asInstanceOf[StructType])
      } catch {
        // unreadable through the fast path: let the reader fall back —
        // it either resolves (non-Spark writer) or raises ITS error (a
        // genuinely missing/corrupt file reads exactly as before)
        case _: Exception => None
      }
    embedded.getOrElse(spark.read.parquet(path).schema)
  }

  /** The partition column carrying each file's data-dir version, the
    * version the merge-on-read delete rule compares entries against;
    * [[SnapshotStore]] drops it before any caller sees the rows. */
  val DirVersionCol = "graft_dir_version"

  private val PartitionSchema = StructType(Seq(
    StructField("bucket", IntegerType, nullable = true),
    StructField(DirVersionCol, LongType, nullable = false)))

  /** The dirs one read's `entries` name, each with its cached facts and
    * its own entries, in dir-name order — the order the store's column
    * order follows. */
  final class Dirs private[StoreScan] (spark: SparkSession, root: String,
      groups: Seq[(String, DirFacts, Seq[(Long, String)])]) {

    /** Each dir's physical schema, as its files store it. */
    def schemas: Seq[(String, StructType)] =
      groups.map { case (dir, f, _) => (dir, f.schema) }

    /** ONE scan over every file of every dir: the data columns merged by
      * name in the store's column order (the first dir's, then `bucket`,
      * then the columns later dirs added — the order a
      * `unionByName(allowMissingColumns = true)` of per-dir scans gives,
      * which reads keep), then the dir-version column. `doc_id` reads as long whatever width a dir
      * stores (the Parquet readers widen INT32), and a column a dir
      * lacks null-fills there. */
    def frame: DataFrame = {
      val merged = mergedSchema
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val parts = groups.flatMap { case (dir, f, es) =>
        val dv = SnapshotStore.dataVersionOf(dir)
        es.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, bes) =>
          val sts = bes.map(_._2).sorted.map { rel =>
            // defensive fallback: an entry the dir listing missed (should
            // be impossible — entries are derived from the dir at
            // publish) resolves through a live stat so the error surfaces
            // here
            f.files.getOrElse(rel,
              fs.getFileStatus(new Path(s"$root/$rel")))
          }
          PartitionDirectory(InternalRow(b.toInt, dv), sts.toArray)
        }
      }
      val index = new ManifestFileIndex(
        groups.map(g => new Path(s"$root/${g._1}")), parts)
      val relation = HadoopFsRelation(
        location = index,
        partitionSchema = PartitionSchema,
        dataSchema = merged,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = Map.empty[String, String])(spark)
      val first = groups.head._2.schema.fieldNames.toSet
      val (own, added) = merged.fieldNames.toSeq.partition(first.contains)
      spark.baseRelationToDataFrame(relation).select(
        (own ++ Seq("bucket") ++ added ++ Seq(DirVersionCol))
          .map(n => col(s"`${n.replace("`", "``")}`")): _*)
    }

    /** The dirs' schemas merged by name, first-seen order; nullable
      * wherever some dir is or lacks the column. A column two dirs store
      * under different types (other than doc_id's widths) has no merged
      * type — a store with declarations refuses it earlier, naming the
      * dir. */
    private def mergedSchema: StructType = {
      val fields = scala.collection.mutable.LinkedHashMap
        .empty[String, StructField]
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      groups.foreach { case (dir, f, _) =>
        f.schema.fields.foreach { fld =>
          val want =
            if (fld.name == "doc_id") fld.copy(dataType = LongType) else fld
          fields.get(fld.name) match {
            case None => fields(fld.name) = want
            case Some(prev) if prev.dataType == want.dataType =>
              fields(fld.name) =
                prev.copy(nullable = prev.nullable || want.nullable)
            case Some(prev) => throw new SnapshotSchemaException(
              s"read at $root: column '${fld.name}' is stored as " +
                s"${prev.dataType.catalogString} and as " +
                s"${want.dataType.catalogString} (in $dir) — retyped " +
                "without a full-rewrite commit")
          }
          seen(fld.name) = seen.getOrElse(fld.name, 0) + 1
        }
      }
      StructType(fields.values.toSeq.map(f =>
        if (seen(f.name) < groups.size) f.copy(nullable = true) else f))
    }
  }

  /** The dirs of `entries` (any mix of a version's data dirs), their facts
    * from the immutable-dir cache. */
  def dirs(spark: SparkSession, root: String,
      entries: Seq[(Long, String)]): Dirs =
    new Dirs(spark, root,
      entries.groupBy(_._2.split("/").take(2).mkString("/")).toSeq
        .sortBy(_._1).map { case (dir, es) =>
          (dir, facts(spark, root, dir, es), es)
        })

  /** Literal file index: the manifest's (bucket, dir version) → files
    * groups served as-is. Partition filters evaluate interpreted against
    * each group's values, bound by name. */
  private final class ManifestFileIndex(
      dirPaths: Seq[Path],
      parts: Seq[PartitionDirectory]) extends FileIndex {

    override def rootPaths: Seq[Path] = dirPaths

    override def partitionSchema: StructType = PartitionSchema

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty) parts
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = PartitionSchema.fieldNames
              .indexWhere(_.equalsIgnoreCase(a.name))
            BoundReference(i, PartitionSchema(i).dataType, nullable = true)
        }
        val predicate = Predicate.createInterpreted(bound)
        predicate.initialize(0)
        parts.filter(d => predicate.eval(d.values))
      }

    override def inputFiles: Array[String] =
      parts.iterator.flatMap(_.files.map(_.getPath.toString)).toArray

    override def refresh(): Unit = ()

    override def sizeInBytes: Long =
      parts.iterator.flatMap(_.files).map(_.getLen).sum
  }
}
