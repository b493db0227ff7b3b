package graft.operators

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Atomic, versioned publication for a parquet-backed index — the
  * transactional edge the plain directory layouts
  * ([[IngestionPipeline.writeIndexBucketed]]) cannot give: a reader that
  * starts during an upsert must see a complete, consistent snapshot,
  * never a half-rewritten partition dir.
  *
  * Same manifest idea as the log-structured table formats (Delta/Iceberg
  * commit logs): data files are IMMUTABLE once written, and a version is
  * published by atomically renaming a MANIFEST (the list of files that
  * make up that snapshot) into `_versions/`. Readers resolve the newest
  * manifest and read exactly its files; a writer crash after data files
  * are written but before the manifest rename leaves garbage bytes (for
  * [[vacuum]]) but never a visible torn table.
  *
  * Layout under `root` (data dirs carry an attempt-unique uuid suffix —
  * see the multi-writer notes below; readers never list them, they
  * follow manifest relpaths):
  * {{{
  *   data/v00001-<uuid>/bucket=<b>/part-*.parquet — version 1's new files
  *   data/v00002-<uuid>/bucket=<b>/part-*.parquet — only the buckets v2 rewrote
  *   _versions/v00001.manifest                    — "<bucket>\t<relpath>" lines
  *   _versions/v00002.manifest                    — untouched v1 files + v2's
  * }}}
  *
  * An upsert rewrites ONLY the touched buckets' rows into the new
  * version's data dir; the new manifest carries every untouched bucket's
  * entries forward verbatim — file-level reuse, so commit cost scales
  * with the delta, not the index. Because old files are never mutated or
  * deleted by a commit, prior versions stay readable (time travel) until
  * [[vacuum]] drops them, and no localCheckpoint fence is needed (the
  * bucketed dynamic-overwrite upsert must materialize its merge before
  * deleting what it reads; here nothing is ever deleted on commit).
  *
  * Concurrency contract: OPTIMISTIC single-winner. Pass
  * `expectedVersion` (the version a writer based its work on; 0 = empty
  * store) to [[commit]]/[[upsert]]/[[optimize]] and a writer that lost
  * the race fails up front with [[SnapshotConflictException]] — BEFORE
  * writing any data, so it can never clobber the winner's version dir —
  * instead of silently dropping the winner's commit; retry = re-read,
  * re-derive, re-commit (the Delta/Iceberg optimistic-commit loop).
  * [[publish]] itself is the backstop CAS — create-exclusive manifest
  * creation (atomic hard-link on local FS, atomic
  * `create(overwrite=false)` on HDFS), so even two writers racing the
  * SAME version number from separate JVMs resolve to one winner and one
  * detected loser; data files live in attempt-unique dirs, so the loser
  * never wrote into — and cannot delete — anything the winner
  * references. Without `expectedVersion` the per-version CAS still
  * holds; the pre-flight merely fails stale writers before they do the
  * data work. Readers are unlimited and never block.
  *
  * Schema contract: evolution across versions is ADDITIVE-ONLY. A new
  * version may add columns (older files null-fill on read); dropping or
  * retyping a column requires a full [[commit]] rewrite. [[read]]
  * verifies this file-level — a manifest whose newer files drop or
  * retype a column an older file carries raises
  * [[SnapshotSchemaException]] naming the column — and [[upsert]]
  * rejects fresh rows that retype a stored column up front (union
  * coercion at write time would otherwise silently widen the stored
  * type and mask the drift from the read-side check).
  *
  * Crash recovery: "immutable" applies to PUBLISHED files. A writer that
  * crashed between the data write and the manifest creation leaves an
  * unpublished, unreferenced `data/vNNNNN-<uuid>` attempt dir; the retry
  * writes a FRESH attempt dir (never touching the old one) and the
  * orphan is [[vacuum]] garbage. The retry simply succeeds; no manual
  * vacuum precondition.
  */
/** A writer lost the optimistic-concurrency race: the store moved past
  * the version the writer based its work on (or its version number was
  * published by someone else first). Re-read, re-derive, retry. */
final class SnapshotConflictException(msg: String, cause: Throwable = null)
  extends IllegalStateException(msg, cause)

/** A version's files violate the additive-only schema contract — a
  * column was dropped or retyped instead of added. The message names the
  * column and both sides. */
final class SnapshotSchemaException(msg: String)
  extends IllegalStateException(msg)

/** Rows violate a registered CHECK constraint. The message names the
  * constraint, its expression, and the violating row count. */
final class SnapshotCheckException(msg: String)
  extends IllegalStateException(msg)

object SnapshotStore {

  private val VersionRe = "v(\\d{5})\\.manifest".r

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vdir(v: Long) = f"data/v$v%05d"
  private def manifestPath(root: String, v: Long) =
    new Path(root, f"_versions/v$v%05d.manifest")

  // hash the CANONICAL long form: xxhash64(int x) != xxhash64(long x), so
  // bucketing the native type would target different buckets for an
  // IntegerType doc_id's deletes than for its stored rows
  private def withBucket(df: DataFrame, buckets: Int): DataFrame =
    df.withColumn("bucket",
      pmod(xxhash64(col("doc_id").cast("long")), lit(buckets.toLong)))

  /** Newest published version, if any manifest exists. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val dir = new Path(root, "_versions")
    val f = fs(spark, root)
    if (!f.exists(dir)) return None
    val vs = f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case VersionRe(n) => n.toLong
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** `version` itself, or the newest published version when it is < 0
    * (one `_versions` listing). A read that touches the store more than
    * once resolves here ONCE and passes the number on, so a publish
    * between its reads cannot pair one version's metadata with the
    * next version's rows. */
  private[graft] def resolveVersion(spark: SparkSession, root: String,
      version: Long): Long =
    if (version >= 0) version
    else currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no published version at $root"))

  /** (mtime, len)-validated manifest text cache. A published manifest is
    * create-exclusive and never modified, and every verb re-reads it
    * several times (meta lines, entry list, buckets, checks, columns) —
    * at table scale a manifest is MBs of text, so re-reading it per
    * probe is real driver IO. The stat key (one getFileStatus — the same
    * RPC the old open() began with) detects out-of-band delete/recreate
    * (test-root reuse, vacuum), so a hit can never serve stale bytes;
    * a vacuumed manifest still fails with the same FileNotFound. */
  private val manifestTextCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), String)]()
  private val MaxManifestCache = 1024

  private def manifestText(spark: SparkSession, root: String,
      v: Long): String = {
    val f = fs(spark, root)
    val p = manifestPath(root, v)
    val st = f.getFileStatus(p)
    val key = f.makeQualified(p).toString
    val stamp = (st.getModificationTime, st.getLen)
    val hit = manifestTextCache.get(key)
    if (hit != null && hit._1 == stamp) return hit._2
    val in = f.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    if (manifestTextCache.size() >= MaxManifestCache)
      manifestTextCache.clear()
    manifestTextCache.put(key, (stamp, text))
    text
  }

  /** (bucket, relpath) entries of a version's manifest. Lines starting
    * with `#` are metadata (e.g. the streaming txn marker), not files.
    * With an `#entryfile` pointer the full list is (entryfile −
    * `#dropfile` lines) ∪ inline lines — a columnar read of two short
    * columns instead of a multi-MB text parse; sorted so entry order
    * stays deterministic across the two storage modes. */
  private def readManifest(spark: SparkSession, root: String,
      v: Long): Seq[(Long, String)] = {
    val text = manifestText(spark, root, v)
    val inline = inlineEntriesOf(text)
    val meta = text.linesIterator.filter(_.startsWith("#")).toSeq
    entryFileRelOf(meta) match {
      case None => inline
      case Some(ef) =>
        val drops = dropRelsOf(meta)
        val stored = entryFileDf(spark, root, ef).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        (stored.filterNot(e => drops.contains(e._2)) ++ inline)
          .sortBy(identity)
    }
  }

  /** The INLINE (non-`#`) entry lines of a manifest text — in entryfile
    * mode these are the files ADDED since the entryfile was written
    * (delta-bounded by [[entryThreshold]]), never the full list. */
  private def inlineEntriesOf(text: String): Seq[(Long, String)] =
    text.linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(b, p) = l.split("\t", 2)
        (b.toLong, p)
      }.toSeq

  /** A version's live entry list AS A FRAME — the executor-side form of
    * [[readManifest]] for set algebra (anti-joins against metadata
    * verdicts, live-filtering a sidecar compaction): with an entryfile
    * the driver never touches the list at all; inline mode parallelizes
    * the (threshold-bounded) parsed lines. */
  private def liveEntriesDf(spark: SparkSession, root: String,
      v: Long): DataFrame = {
    val text = manifestText(spark, root, v)
    val meta = text.linesIterator.filter(_.startsWith("#")).toSeq
    val inline = entriesDf(spark, inlineEntriesOf(text))
    entryFileRelOf(meta) match {
      case None => inline
      case Some(ef) =>
        import spark.implicits._
        val drops = dropRelsOf(meta)
        val stored =
          if (drops.isEmpty) entryFileDf(spark, root, ef)
          else entryFileDf(spark, root, ef)
            .join(broadcast(drops.toSeq.toDF("rel")), Seq("rel"),
              "left_anti")
            .select("bucket", "rel")
        stored.unionByName(inline)
    }
  }

  /** Resolve ONLY the entries of the given `buckets` for version `v` —
    * the delta-verb companion of [[readManifest]]: with an entryfile
    * the bucket filter runs on the EXECUTORS and only the target
    * buckets' entries collect, so a point upsert/lookup against a
    * B-bucket store holds ~live/B entries on the driver, never the full
    * list. */
  private def entriesInBuckets(spark: SparkSession, root: String,
      v: Long, buckets: Set[Long]): Seq[(Long, String)] = {
    if (buckets.isEmpty) return Nil
    val text = manifestText(spark, root, v)
    val inline = inlineEntriesOf(text).filter(e => buckets.contains(e._1))
    val meta = text.linesIterator.filter(_.startsWith("#")).toSeq
    entryFileRelOf(meta) match {
      case None => inline
      case Some(ef) =>
        val drops = dropRelsOf(meta)
        val stored = entryFileDf(spark, root, ef)
          .filter(col("bucket").isin(buckets.toSeq: _*))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        (stored.filterNot(e => drops.contains(e._2)) ++ inline)
          .sortBy(identity)
    }
  }

  /** Metadata (`#`-prefixed) lines of a version's manifest. */
  private def manifestMeta(spark: SparkSession, root: String,
      v: Long): Seq[String] =
    manifestText(spark, root, v).linesIterator
      .filter(_.startsWith("#")).toSeq

  private def colLine(name: String, typ: String) = {
    // tab is the field separator and newline the line separator — a
    // column name containing either would shift/split the manifest's
    // physical format and corrupt every later read of the version
    require(!name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"SnapshotStore: column name '$name' contains tab/newline — " +
        "rename the column before committing")
    s"#col\t$name\t$typ"
  }

  private def bucketsLine(n: Int) = s"#buckets\t$n"

  private def opLine(name: String) = s"#op\t$name"

  private def checkLine(name: String, sqlExpr: String) =
    s"#check\t$name\t$sqlExpr"

  /** Custom `#`-metadata lines of a version by prefix — the supported
    * way for a layout routed through the store (e.g.
    * [[VersionedIvf]]'s centroid geometry) to keep its own state INSIDE
    * the atomic commit root: the lines ride the same CREATE-EXCLUSIVE
    * manifest as the file list, so layout state and data can never
    * disagree. Owning verbs re-pass their lines (or a replacement) in
    * `meta`; a publish whose meta does NOT mention a foreign prefix
    * carries the parent's lines forward like a table property (see
    * [[carriedForeignMeta]] — rollback excepted: it restores the target
    * version's meta exactly). */
  private[graft] def storedMetaLines(spark: SparkSession,
      root: String, prefix: String, version: Long = -1L): Seq[String] = {
    val v = resolveVersion(spark, root, version)
    manifestMeta(spark, root, v).filter(_.startsWith(prefix))
  }

  /** CHECK constraints a version's manifest declares (`#check` lines),
    * as (name, sql expression) pairs in declaration order. */
  def storedChecks(spark: SparkSession, root: String,
      v: Long): Seq[(String, String)] =
    manifestMeta(spark, root, v).collect {
      case l if l.startsWith("#check\t") =>
        val Array(_, n, e) = l.split("\t", 3)
        (n, e)
    }

  /** The current version's `#check` lines, carried into every new
    * manifest (the [[carriedTxn]] discipline: the newest manifest always
    * holds the full constraint set, so maintenance commits can never
    * silently drop enforcement). */
  private def carriedCheckLines(spark: SparkSession,
      root: String): Seq[String] =
    currentVersion(spark, root).toSeq.flatMap(v =>
      storedChecks(spark, root, v).map { case (n, e) => checkLine(n, e) })

  /** Enforce CHECK constraints on `df` in ONE aggregate pass (all
    * constraints counted together — never one job per check). SQL CHECK
    * semantics: NULL passes, only FALSE violates. An expression that no
    * longer analyzes (e.g. references a column a rewrite dropped) is a
    * named error, not a stack trace. */
  private def validateChecks(df: DataFrame,
      checks: Seq[(String, String)], root: String): Unit = {
    if (checks.isEmpty) return
    val aggs = checks.zipWithIndex.map { case ((_, e), i) =>
      sum(when(!coalesce(expr(e).cast("boolean"), lit(true)), 1L)
        .otherwise(0L)).as(s"c$i")
    }
    val row =
      try df.agg(aggs.head, aggs.tail: _*).collect().head
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"SnapshotStore: a CHECK constraint at $root no longer " +
              s"analyzes against the written schema — ${e.getMessage}; " +
              "dropCheck() it or fix the writing frame", e)
      }
    checks.zipWithIndex.foreach { case ((n, e), i) =>
      val viol = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (viol > 0)
        throw new SnapshotCheckException(
          s"SnapshotStore: CHECK constraint '$n' ($e) violated by $viol " +
            s"row(s) at $root — nothing was written")
    }
  }

  /** The bucket count a version's manifest records (`#buckets` line).
    * None ⇒ legacy manifest predating the recording. */
  def storedBuckets(spark: SparkSession, root: String,
      v: Long): Option[Int] =
    manifestMeta(spark, root, v).collectFirst {
      case l if l.startsWith("#buckets\t") =>
        l.stripPrefix("#buckets\t").trim.toInt
    }

  // ---- file-level column statistics (data skipping) -----------------

  private def statColsLine(cols: Seq[String]) =
    s"#statcols\t${cols.mkString(",")}"

  private def statColsLineOf(meta: Seq[String]): Option[String] =
    meta.collectFirst { case l if l.startsWith("#statcols\t") => l }

  private def parseStatCols(line: String): Seq[String] =
    line.stripPrefix("#statcols\t").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)

  /** `#stat\t<relpath>\t<col>\t<rows>\t<nulls>\t<min>\t<max>` — min/max
    * are canonical DECIMAL strings (ints verbatim, floats via exact
    * double widening, dates as epoch-day, timestamps as epoch-micros);
    * empty = unknown/all-null. One line per (file, declared column). */
  private def statLine(rel: String, c: String, rows: Long, nulls: Long,
      mn: Option[String], mx: Option[String]) =
    s"#stat\t$rel\t$c\t$rows\t$nulls\t${mn.getOrElse("")}\t${mx.getOrElse("")}"

  private def parseStatLines(meta: Seq[String])
      : Map[(String, String), String] =
    meta.filter(_.startsWith("#stat\t")).map { l =>
      val a = l.split("\t", 7)
      ((a(1), a(2)), l)
    }.toMap

  /** Canonical decimal-comparable form of a stats/bound value. None =
    * not representable (NaN/Inf/unsupported type) ⇒ the file is simply
    * never pruned — conservatively correct, results come from the
    * residual filter either way. Floats widen through toDouble (exact),
    * so a serialized bound can never under-represent a stored value. */
  private def canon(v: Any): Option[String] = v match {
    case null => None
    case b: Byte => Some(b.toString)
    case s: Short => Some(s.toString)
    case i: Int => Some(i.toString)
    case l: Long => Some(l.toString)
    case f: Float =>
      if (f.isNaN || f.isInfinite) None else Some(f.toDouble.toString)
    case d: Double =>
      if (d.isNaN || d.isInfinite) None else Some(d.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.bigDecimal.toPlainString)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
    case d: java.time.LocalDate => Some(d.toEpochDay.toString)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000L).toString)
    case i: java.time.Instant =>
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000L).toString)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000L).toString)
    case _ => None
  }

  private def parseBd(s: String): Option[java.math.BigDecimal] =
    if (s.isEmpty) None
    else scala.util.Try(new java.math.BigDecimal(s)).toOption

  // ---- string-bound canonical form (truncated range stats) ----------
  //
  // String stats use BINARY collation over UTF-8 bytes — the one
  // collation Spark's UTF8String comparison, parquet min/max, and
  // DuckDB's default all agree on — serialized as `s:<base64(bytes)>`
  // so a manifest line can never be corrupted by the value's own
  // characters. Bounds are TRUNCATED the way Delta/Iceberg do it:
  //   lower = first 32 code points verbatim (a prefix sorts <= the full
  //           string, so it is a valid lower bound);
  //   upper = first 32 code points with the last non-0xFF byte
  //           incremented and the tail dropped (strictly greater than
  //           any string sharing the 32-cp prefix — see incBytes);
  //           all-0xFF prefixes are unbounded above (None).
  // Exactness: files whose longest value fits 32 code points store
  // exact min/max (truncation was the identity there).

  private val StringCanonPrefix = "s:"
  private[graft] val StringStatChars = 32

  private def canonString(s: String): String =
    StringCanonPrefix + java.util.Base64.getEncoder
      .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Smallest byte string strictly greater than every byte string that
    * starts with `a`: drop trailing 0xFF bytes, increment the last
    * remaining one. None = a is all-0xFF (no finite upper bound). */
  private def incBytes(a: Array[Byte]): Option[Array[Byte]] = {
    var i = a.length - 1
    while (i >= 0 && a(i) == -1) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(a, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** Compare two canonical stat/bound strings. None = the two are not
    * comparable (numeric vs string canon — a declaration/type drift);
    * callers treat that as "cannot prune", never as a verdict. */
  private def cmpCanon(a: String, b: String): Option[Int] = {
    val as = a.startsWith(StringCanonPrefix)
    val bs = b.startsWith(StringCanonPrefix)
    if (as && bs) {
      val dec = java.util.Base64.getDecoder
      scala.util.Try(cmpBytes(dec.decode(a.drop(2)), dec.decode(b.drop(2))))
        .toOption
    } else if (!as && !bs)
      (parseBd(a), parseBd(b)) match {
        case (Some(x), Some(y)) => Some(x.compareTo(y))
        case _ => None
      }
    else None
  }

  /** Compute `#stat` lines for NEW files: one columnar aggregate per
    * contributing dir, reading ONLY the declared columns and grouping
    * by file — a bounded job (one output row per new file) whose cost
    * scales with the delta, exactly like the commit that wrote it. */
  /** One combined scan computing BOTH `#stat` and `#bloom` lines for
    * new files: per contributing dir, a SINGLE columnar aggregate over
    * the union of declared columns, grouped by file (one output row
    * per new file — bounded by the delta's file count). A store that
    * declares both metadata kinds still scans its delta once per
    * publish, not once per kind. */
  private def computeFileMeta(spark: SparkSession, root: String,
      statPaths: Set[String], statCols: Seq[String],
      bloomPaths: Set[String], bloomCols: Seq[String], bloomBits: Int)
      : (Seq[((String, String), String)],
         Seq[((String, String), String)]) = {
    if ((statPaths ++ bloomPaths).isEmpty) return (Nil, Nil)
    // FOOTER FAST-PATH (opt guide §6): parquet footers already carry per
    // column-chunk row counts, null counts, and min/max — for stats-only
    // files the publish can read O(files) metadata instead of launching
    // a second full data scan of everything just written (at table scale
    // that pass re-reads the entire commit). Files that also need a
    // bloom bitset are scanned anyway (bitsets only exist in the data),
    // and any file whose footer is unusable (missing/truncated stats, a
    // non-primitive or exotic column type, NaN bounds) falls back to the
    // scan below — conservatively correct either way, since stat lines
    // only ever widen or narrow PRUNING, never results.
    val statOnly = statPaths -- bloomPaths
    val (footerStats, footerFailed) =
      footerStatLines(spark, root, statOnly, statCols)
    val allPaths = ((statPaths -- statOnly) ++ footerFailed ++ bloomPaths)
      .toSeq.sorted
    if (allPaths.isEmpty) return (footerStats, Nil)
    val enc = java.util.Base64.getEncoder
    val statOut = Seq.newBuilder[((String, String), String)]
    val bloomOut = Seq.newBuilder[((String, String), String)]
    allPaths.groupBy(_.split("/").take(2).mkString("/")).toSeq
      .sortBy(_._1).foreach { case (dir, ps) =>
        // manifest-driven scan (StoreScan): no per-publish listing jobs
        // or schema inference for the bloom/fallback metadata pass; the
        // bucket partition column is dropped to keep the exact frame
        // shape the bare multi-path read produced
        val df = StoreScan.scanDir(spark, root, dir,
          ps.map(p => (p.split("/")(2).stripPrefix("bucket=").toLong, p)))
          .drop("bucket")
        val fields = df.schema.fieldNames.toSet
        val presentS = statCols.filter(fields.contains)
        val presentB = bloomCols.filter(fields.contains)
        val isStr = presentS.filter(c => df.schema(c).dataType ==
          org.apache.spark.sql.types.StringType).toSet
        // doc_id's PHYSICAL type may vary across version dirs (the store
        // normalizes it to long on read) — canonicalize through the same
        // cast on the metadata write side, so a probe hashing/bounding a
        // Long can never miss an int-stored file
        def srcCol(c: String) =
          if (c == "doc_id") col(c).cast("long") else col(c)
        // key by bucket=<b>/<file>: one write job reuses part filenames
        // across its bucket dirs, so the bare filename is NOT unique
        // within an attempt dir
        val byName = ps.map(p =>
          p.split("/").takeRight(2).mkString("/") -> p).toMap
        val aggs = Seq(count(lit(1)).as("graft_rows")) ++
          presentS.flatMap { c =>
            // string columns aggregate TRUNCATED prefixes — min/max of a
            // 32-cp substring never ships a multi-KB document text to
            // the driver, and min(trunc) / inc(max(trunc)) are valid
            // (possibly loose) envelope bounds in binary byte order;
            // max(length) decides whether the envelope is exact
            val statSrc =
              if (isStr(c)) substring(col(c), 1, StringStatChars)
              else srcCol(c)
            Seq(min(statSrc).as(s"graft_min_$c"),
              max(statSrc).as(s"graft_max_$c"),
              sum(when(col(c).isNull, 1L).otherwise(0L))
                .as(s"graft_nulls_$c")) ++
              (if (isStr(c))
                 Seq(max(length(col(c))).as(s"graft_len_$c"))
               else Nil)
          } ++
          presentB.map { c =>
            // positions fold into the bitset ON THE EXECUTORS
            // (graft.plans.BloomBitsetAgg): the driver receives bits/8
            // finished bytes per (file, column), never the up-to-K×bits
            // distinct Int positions a collect_set would pull — the
            // difference between ~8 KB and ~1 MB per file at the default
            // width, and between ~2 MB and a multi-GB allocation at the
            // permitted 2^24 bits
            graft.plans.BloomBitsetAgg.bloom_bitset(
              when(col(c).isNotNull,
                array(bloomPositions(srcCol(c), bloomBits): _*)),
              bloomBits).as(s"graft_bloom_$c")
          }
        val rows = df.groupBy(input_file_name().as("graft_file"))
          .agg(aggs.head, aggs.tail: _*).collect().toSeq
        rows.foreach { r =>
          val fname = r.getString(0).split("/").takeRight(2).mkString("/")
          val rel = byName.getOrElse(fname,
            throw new IllegalStateException(
              s"SnapshotStore: metadata scan surfaced unexpected file " +
                fname))
          val n = r.getAs[Long]("graft_rows")
          if (statPaths.contains(rel)) statCols.foreach { c =>
            if (!presentS.contains(c))
              // column absent from this dir's files: additive evolution
              // — every row null-fills it on read
              statOut += ((rel, c) -> statLine(rel, c, n, n, None, None))
            else if (isStr(c)) {
              val nulls = r.getAs[Long](s"graft_nulls_$c")
              val mnT = Option(r.getAs[String](s"graft_min_$c"))
              val mxT = Option(r.getAs[String](s"graft_max_$c"))
              val exact = !r.isNullAt(r.fieldIndex(s"graft_len_$c")) &&
                r.getAs[Int](s"graft_len_$c") <= StringStatChars
              val mn = mnT.map(canonString)
              val mx = mxT.flatMap { m =>
                if (exact) Some(canonString(m)) // truncation was identity
                else incBytes(m.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8))
                  .map(b => StringCanonPrefix + java.util.Base64
                    .getEncoder.encodeToString(b))
              }
              statOut += ((rel, c) -> statLine(rel, c, n, nulls, mn, mx))
            } else {
              val nulls = r.getAs[Long](s"graft_nulls_$c")
              val mn = canon(r.get(r.fieldIndex(s"graft_min_$c")))
              val mx = canon(r.get(r.fieldIndex(s"graft_max_$c")))
              statOut += ((rel, c) -> statLine(rel, c, n, nulls, mn, mx))
            }
          }
          if (bloomPaths.contains(rel)) bloomCols.foreach { c =>
            // absent column = all-null fill on read = empty bitset, same
            // bytes the aggregate yields for an all-null present column
            val bytes =
              if (presentB.contains(c))
                r.getAs[Array[Byte]](s"graft_bloom_$c")
              else Array.empty[Byte]
            bloomOut += ((rel, c) -> bloomLine(rel, c,
              enc.encodeToString(bytes)))
          }
        }
      }
    (footerStats ++ statOut.result(), bloomOut.result())
  }

  /** Read `#stat` lines straight from parquet FOOTER metadata — the
    * publish-time stats pass as an O(files) metadata read instead of a
    * data scan. Returns (lines, fallbackPaths): a file lands in
    * `fallbackPaths` whenever its footer cannot faithfully reproduce
    * what the scan path would record (stats missing or unset, NaN
    * float bounds, a column type outside long/int/double/float/string)
    * — the caller scans exactly those. String bounds mirror the scan's
    * truncated-envelope form: code-point truncation is monotone in
    * binary byte order, so trunc(min)/trunc(max) equal the scan's
    * min/max over truncated values; the upper bound increments when the
    * file's maximum itself was truncated (a file whose max fits 32 code
    * points records it exactly — a valid, sometimes tighter, envelope
    * than the scan's max-length rule). */
  private def footerStatLines(spark: SparkSession, root: String,
      paths: Set[String], statCols: Seq[String])
      : (Seq[((String, String), String)], Set[String]) = {
    if (paths.isEmpty || statCols.isEmpty) return (Nil, Set.empty)
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val out = Seq.newBuilder[((String, String), String)]
    val failed = Set.newBuilder[String]
    def truncCp(s: String, n: Int): String =
      if (s.codePointCount(0, s.length) <= n) s
      else s.substring(0, s.offsetByCodePoints(0, n))
    // one footer per file, fully independent — read them on a bounded
    // driver pool instead of sequentially (a commit of N files paid N
    // serialized open+parse round-trips; the Iceberg/Delta manifest
    // readers parallelize exactly this). Results merge in sorted path
    // order below, so output is deterministic regardless of completion
    // order.
    def statsForFile(rel: String): Seq[((String, String), String)] = {
      val out = Seq.newBuilder[((String, String), String)]
      locally {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(s"$root/$rel"), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val fm = r.getFooter
          val schema = fm.getFileMetaData.getSchema
          val blocks = fm.getBlocks.asScala.toSeq
          val n = blocks.map(_.getRowCount).sum
          // a 0-row file emits nothing — the scan path's groupBy yields
          // no row for it either
          if (n > 0) statCols.foreach { c =>
            val fieldIdx = schema.getFields.asScala
              .indexWhere(_.getName == c)
            if (fieldIdx < 0) {
              // additive evolution: declared column absent from this
              // file — every row null-fills it on read
              out += ((rel, c) -> statLine(rel, c, n, n, None, None))
            } else {
              val field = schema.getFields.get(fieldIdx)
              if (!field.isPrimitive)
                throw new IllegalStateException("group column")
              val prim = field.asPrimitiveType()
              val isStr = prim.getPrimitiveTypeName == BINARY &&
                prim.getLogicalTypeAnnotation
                  .isInstanceOf[LogicalTypeAnnotation
                    .StringLogicalTypeAnnotation]
              val plainNumeric = prim.getLogicalTypeAnnotation == null ||
                prim.getLogicalTypeAnnotation
                  .isInstanceOf[LogicalTypeAnnotation
                    .IntLogicalTypeAnnotation]
              val ok = isStr || (plainNumeric &&
                Set(INT32, INT64, FLOAT, DOUBLE)
                  .contains(prim.getPrimitiveTypeName))
              if (!ok) throw new IllegalStateException(
                s"footer-unsupported type for '$c'")
              val chunks = blocks.map { b =>
                b.getColumns.asScala
                  .find(_.getPath.toDotString == c)
                  .getOrElse(throw new IllegalStateException(
                    s"no chunk for '$c'"))
              }
              val stats = chunks.map(_.getStatistics)
              if (stats.exists(s => s == null || !s.isNumNullsSet))
                throw new IllegalStateException(s"stats unset for '$c'")
              val nulls = stats.map(_.getNumNulls).sum
              val nonNull = stats.filter(_.hasNonNullValue)
              if (nonNull.isEmpty) {
                out += ((rel, c) -> statLine(rel, c, n, nulls, None, None))
              } else if (isStr) {
                val mins = nonNull.map(s =>
                  s.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8)
                val maxs = nonNull.map(s =>
                  s.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8)
                def byBytes(a: String, b: String): Boolean =
                  cmpBytes(a.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8),
                    b.getBytes(
                      java.nio.charset.StandardCharsets.UTF_8)) < 0
                val mnFull = mins.reduce((a, b) => if (byBytes(a, b)) a else b)
                val mxFull = maxs.reduce((a, b) => if (byBytes(a, b)) b else a)
                val mn = Some(canonString(truncCp(mnFull, StringStatChars)))
                val mxT = truncCp(mxFull, StringStatChars)
                val mx =
                  if (mxT == mxFull) Some(canonString(mxFull))
                  else incBytes(mxT.getBytes(
                      java.nio.charset.StandardCharsets.UTF_8))
                    .map(b => StringCanonPrefix + java.util.Base64
                      .getEncoder.encodeToString(b))
                out += ((rel, c) -> statLine(rel, c, n, nulls, mn, mx))
              } else {
                // native-typed comparison — a double widening would
                // collide 60-bit hash longs (fp/doc hash columns) and
                // pick a wrong envelope
                def cmpV(a: AnyRef, b: AnyRef): Int = (a, b) match {
                  case (x: java.lang.Integer, y: java.lang.Integer) =>
                    x.compareTo(y)
                  case (x: java.lang.Long, y: java.lang.Long) =>
                    x.compareTo(y)
                  case (x: java.lang.Float, y: java.lang.Float) =>
                    x.compareTo(y)
                  case (x: java.lang.Double, y: java.lang.Double) =>
                    x.compareTo(y)
                  case _ => throw new IllegalStateException(
                    s"footer value class mix for '$c'")
                }
                def isNaN(v: AnyRef): Boolean = v match {
                  case x: java.lang.Float => x.isNaN
                  case x: java.lang.Double => x.isNaN
                  case _ => false
                }
                val minVs = nonNull.map(_.genericGetMin.asInstanceOf[AnyRef])
                val maxVs = nonNull.map(_.genericGetMax.asInstanceOf[AnyRef])
                if ((minVs ++ maxVs).exists(isNaN))
                  throw new IllegalStateException(s"NaN bound for '$c'")
                val mnV = minVs.reduce((a, b) => if (cmpV(a, b) <= 0) a else b)
                val mxV = maxVs.reduce((a, b) => if (cmpV(a, b) >= 0) a else b)
                val mn = canon(mnV)
                val mx = canon(mxV)
                if (mn.isEmpty || mx.isEmpty)
                  throw new IllegalStateException(
                    s"uncanonicalizable bound for '$c'")
                out += ((rel, c) -> statLine(rel, c, n, nulls, mn, mx))
              }
            }
          }
        } finally r.close()
      }
      out.result()
    }
    val sortedPaths = paths.toSeq.sorted
    val results: Seq[(String, Option[Seq[((String, String), String)]])] =
      if (sortedPaths.sizeIs <= 1)
        sortedPaths.map(rel => rel ->
          (try Some(statsForFile(rel)) catch { case _: Throwable => None }))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, sortedPaths.size))
        try sortedPaths.map { rel =>
          rel -> pool.submit(new java.util.concurrent.Callable[
            Option[Seq[((String, String), String)]]] {
            override def call() =
              try Some(statsForFile(rel))
              catch { case _: Throwable => None }
          })
        }.map { case (rel, fut) => rel -> fut.get() }
        finally pool.shutdown()
      }
    // all-or-nothing per file: a file that failed on ANY column re-scans
    // wholly (the scan emits every declared column's line for it)
    results.foreach {
      case (_, Some(lines)) => out ++= lines
      case (rel, None) => failed += rel
    }
    (out.result(), failed.result())
  }

  // ---- per-file Bloom membership filters (point-lookup skipping) ----

  /** `#bloomcols\t<c1>,<c2>\t<bits>` — declared Bloom columns + bitset
    * width; `#bloom\t<relpath>\t<col>\t<base64 bitset>` per (file,
    * column). K (number of hash probes) is fixed at 4; positions are
    * `xxhash64(cast(value as string) ## seed) mod bits`, computed by
    * Spark expressions on BOTH the write and probe side so the two can
    * never drift. */
  private val BloomK = 4

  private def bloomColsLine(cols: Seq[String], bits: Int) =
    s"#bloomcols\t${cols.mkString(",")}\t$bits"

  private def bloomColsLineOf(meta: Seq[String]): Option[String] =
    meta.collectFirst { case l if l.startsWith("#bloomcols\t") => l }

  private def parseBloomCols(line: String): (Seq[String], Int) = {
    val a = line.split("\t", 3)
    (a(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty), a(2).toInt)
  }

  private def bloomLine(rel: String, c: String, b64: String) =
    s"#bloom\t$rel\t$c\t$b64"

  private def parseBloomLines(meta: Seq[String])
      : Map[(String, String), String] =
    meta.filter(_.startsWith("#bloom\t")).map { l =>
      val a = l.split("\t", 4)
      ((a(1), a(2)), l)
    }.toMap

  /** The K probe-position expressions for one value expression. */
  private def bloomPositions(value: org.apache.spark.sql.Column,
      bits: Int): Seq[org.apache.spark.sql.Column] =
    (0 until BloomK).map { seed =>
      pmod(xxhash64(concat_ws("##", value.cast("string"),
        lit(seed.toString))), lit(bits.toLong)).cast("int")
    }

  // ---- columnar metadata sidecar (file-count scale) ------------------
  //
  // Inline `#stat`/`#bloom` manifest lines are perfect at hundreds of
  // files and catastrophic at 10⁵–10⁶: every operation re-reads and
  // re-parses GBs of base64 bitsets through the driver. Past
  // [[sidecarThreshold]] lines, publish moves the per-file metadata into
  // an immutable PARQUET sidecar (`meta/vNNNNN-<uuid8>/`, one row per
  // (kind, file, column)) and the manifest carries a single `#metafile`
  // pointer — the Iceberg manifest-list idea. The text manifest stays
  // the commit root (atomic create-exclusive publish is untouched);
  // the sidecar rides the same immutability discipline as data files:
  // written before the manifest tmp, shared by later versions until a
  // compaction writes a successor, garbage for [[vacuum]] if its
  // publish lost the race.
  //
  // Why this scales: readers load ONLY the columns + kind they need
  // (stats pruning never deserializes a bloom byte — parquet column
  // pruning), bloom probes evaluate ON EXECUTORS and collect only the
  // verdicts, and publish unions carried sidecar rows with the delta's
  // executor-side, so no step holds all bitsets in driver memory.
  // Between compactions each publish appends its delta INLINE (bounded
  // by the threshold), so sidecar rewrites amortize to one per
  // ~threshold/delta publishes.

  /** Inline stat+bloom line count above which publish compacts the
    * per-file metadata into a parquet sidecar. private[graft] var so the
    * spec can force sidecar mode on small fixtures; suites run
    * sequentially in the forked test JVM.
    *
    * The THRESHOLD is a publish-latency vs read-parse trade: between
    * compactions every publish appends its delta INLINE, so each read
    * re-parses up to `sidecarThreshold` base64 lines (~11 KB per bloom
    * line at the default width — a full 4096-line tail is ~45 MB of
    * driver parse) while publishes stay cheap; a compaction pays one
    * executor-side sidecar rewrite and resets the tail to zero. Rewrites
    * amortize to one per ~threshold/delta publishes — e.g. 10-file
    * deltas with 2 metadata kinds compact every ~200 publishes. Lower it
    * when reads dominate (hot store, many readers), raise it when a
    * write burst must not absorb a rewrite; the rehearsal
    * (`ScaleRehearsal manifest`) records the post-upsert inline tail and
    * both thresholds so the amortization is measured, not asserted. */
  @volatile private[graft] var sidecarThreshold: Int = 4096

  private def metaFileLine(rel: String) = s"#metafile\t$rel"

  private def metaFileRelOf(meta: Seq[String]): Option[String] =
    meta.collectFirst {
      case l if l.startsWith("#metafile\t") => l.split("\t", 2)(1)
    }

  // ---- entry-list sidecar (file-count scale for the file list) -------
  //
  // The stat/bloom sidecar moved per-file METADATA out of the text
  // manifest; the file-entry lines themselves were the last
  // driver-parsed text layer — ~10 MB at 10⁵ files, ~100 MB re-read,
  // re-split and REWRITTEN per publish at 10⁶ (Iceberg splits the entry
  // list out of the commit root for the same reason). Past
  // [[entryThreshold]], publish writes the full entry list as an
  // immutable parquet ENTRYFILE (`meta/entries-vNNNNN-<uuid8>`, columns
  // bucket/rel) and the manifest carries:
  //   #entryfile\t<rel>   — the carried entry list
  //   #dropfile\t<rel>    — entryfile entries NOT in this version
  //   plain entry lines   — files ADDED since the entryfile was written
  // so the text commit root stays tiny and delta-sized: a 10-row upsert
  // against a 10⁶-file store writes a manifest with the touched buckets'
  // new files inline + their old files as drop lines, never the full
  // list. Bookkeeping is recomputed per publish as a set diff against
  // the parent's entryfile (drops = entryfile − current, inline =
  // current − entryfile), which also makes rollback re-adds correct for
  // free; when |inline| + |drops| outgrows the threshold a fresh
  // entryfile compacts them away — one rewrite per ~threshold/delta
  // publishes, the same amortization as the stat/bloom sidecar.
  //
  // Driver memory is O(live files × path length) — relpath STRINGS for
  // the set diff and for handing scan paths to the parquet reader (the
  // reader needs driver-side paths no matter the format) — never
  // O(manifest text). The atomic create-exclusive publish of the text
  // manifest is untouched: the entryfile rides the data files'
  // immutability discipline (written before the manifest tmp, shared by
  // later versions until a compaction, vacuum garbage if its publish
  // lost the race).

  /** Inline entry-line + drop-line count above which publish compacts
    * the file list into a parquet entryfile. private[graft] var so the
    * spec can force entryfile mode on small fixtures; suites run
    * sequentially in the forked test JVM. */
  @volatile private[graft] var entryThreshold: Int = 16384

  /** Distinct-doc_id count above which the keyed upsert SKIPS key
    * pruning ([[docIdCandidates]]) and treats every touched-bucket file
    * as a candidate. The pruning path broadcasts the sorted id set (and
    * its bloom probe positions) as ONE aggregate row; past this many
    * keys that row is an OOM/broadcast risk and the prune admits nearly
    * everything anyway. private[graft] var so the spec can force the
    * fallback on small fixtures. */
  @volatile private[graft] var docIdPruneCap: Int = 200000

  private def entryFileLine(rel: String) = s"#entryfile\t$rel"

  private def entryFileRelOf(meta: Seq[String]): Option[String] =
    meta.collectFirst {
      case l if l.startsWith("#entryfile\t") => l.split("\t", 2)(1)
    }

  private def dropFileLine(rel: String) = s"#dropfile\t$rel"

  private def dropRelsOf(meta: Seq[String]): Set[String] =
    meta.collect {
      case l if l.startsWith("#dropfile\t") => l.split("\t", 2)(1)
    }.toSet

  private def entryFileSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("rel", StringType, nullable = false)))
  }

  private def entryFileDf(spark: SparkSession, root: String,
      rel: String): DataFrame =
    spark.read.schema(entryFileSchema).parquet(s"$root/$rel")

  /** Write version `v`'s full entry list as a fresh entryfile; returns
    * its relpath. Entries are validated here (tab/newline in a relpath
    * would corrupt a LATER inline/dropfile text line for the same file,
    * even though parquet itself would store it fine). */
  private def writeEntryFile(spark: SparkSession, root: String, v: Long,
      entries: Seq[(Long, String)]): String = {
    entries.foreach { case (_, p) =>
      require(!p.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"SnapshotStore: manifest entry path contains tab/newline: '$p'")
    }
    val rel = entryFileRelName(v)
    entriesDf(spark, entries).write.mode("overwrite")
      .parquet(s"$root/$rel")
    rel
  }

  private def entryFileRelName(v: Long): String =
    f"meta/entries-v$v%05d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** A (bucket, rel) driver list as an entry-schema frame — the bridge
    * from a caller-held list to executor-side set algebra. */
  private def entriesDf(spark: SparkSession,
      entries: Seq[(Long, String)]): DataFrame = {
    val rows = entries.map { case (b, p) => org.apache.spark.sql.Row(b, p) }
    val parts = math.max(1, math.min(rows.size / 262144 + 1, 32))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      entryFileSchema)
  }

  /** Entryfile COMPACTION from a frame ([[publishDelta]]'s path): the
    * new entry list is written directly from executor-side set algebra
    * over the parent entryfile — the driver never materializes it. Only
    * the delta-sized `freshEntries` (the inline adds being folded in)
    * need the tab/newline validation; carried entries were validated
    * when their entryfile was written. */
  private def writeEntryFileFrame(spark: SparkSession, root: String,
      v: Long, entries: DataFrame,
      freshEntries: Seq[(Long, String)]): String = {
    freshEntries.foreach { case (_, p) =>
      require(!p.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"SnapshotStore: manifest entry path contains tab/newline: '$p'")
    }
    val rel = entryFileRelName(v)
    entries.write.mode("overwrite").parquet(s"$root/$rel")
    rel
  }

  private def sidecarSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("rel", StringType, nullable = false),
      StructField("col", StringType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("nulls", LongType, nullable = true),
      StructField("mn", StringType, nullable = true),
      StructField("mx", StringType, nullable = true),
      StructField("bloom", BinaryType, nullable = true)))
  }

  private def sidecarDf(spark: SparkSession, root: String,
      rel: String): DataFrame =
    spark.read.schema(sidecarSchema).parquet(s"$root/$rel")

  /** Inline `#stat`/`#bloom` lines → sidecar rows. */
  private def linesToRows(statLines: Iterable[String],
      bloomLines: Iterable[String]): Seq[org.apache.spark.sql.Row] = {
    val dec = java.util.Base64.getDecoder
    val stat = statLines.toSeq.map { l =>
      val a = l.split("\t", 7)
      org.apache.spark.sql.Row("stat", a(1), a(2), a(3).toLong,
        a(4).toLong,
        if (a(5).isEmpty) null else a(5),
        if (a(6).isEmpty) null else a(6), null)
    }
    val bloom = bloomLines.toSeq.map { l =>
      val a = l.split("\t", 4)
      org.apache.spark.sql.Row("bloom", a(1), a(2), null, null, null,
        null, dec.decode(a(3)))
    }
    stat ++ bloom
  }

  /** The (path, col) pairs of `paths` × `cols` that the sidecar does
    * NOT cover for `kind` — the cross product builds ON THE EXECUTORS
    * (paths DF × broadcast cols DF) and the anti-join returns only the
    * misses (delta-sized in steady state), so the driver never
    * materializes the O(files × declared columns) candidate list OR the
    * sidecar's key set. */
  private def sidecarMisses(spark: SparkSession, side: DataFrame,
      kind: String, paths: Seq[String], cols: Seq[String])
      : Set[(String, String)] = {
    if (paths.isEmpty || cols.isEmpty) return Set.empty
    import spark.implicits._
    paths.toDF("rel").crossJoin(broadcast(cols.toDF("col")))
      .join(side.filter(col("kind") === kind).select("rel", "col"),
        Seq("rel", "col"), "left_anti")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
  }

  /** Write the compacted sidecar for version `v`: carried rows from
    * `oldRel` (filtered to live files + declared columns, minus keys the
    * inline delta re-states) unioned with the inline delta — all
    * executor-side; the driver holds only the delta. `liveRels` is the
    * live file set AS A FRAME (single `rel` column) so a delta-publish
    * caller can derive it from the entryfile without ever materializing
    * it. Returns the new sidecar's relpath. */
  private def writeSidecar(spark: SparkSession, root: String, v: Long,
      oldRel: Option[String], statLines: Iterable[String],
      bloomLines: Iterable[String], liveRels: DataFrame,
      statCols: Seq[String], bloomCols: Seq[String]): String = {
    import spark.implicits._
    val rel =
      f"meta/v$v%05d-${java.util.UUID.randomUUID().toString.take(8)}"
    val inlineRows = linesToRows(statLines, bloomLines)
    val inline = spark.createDataFrame(
      spark.sparkContext.parallelize(inlineRows,
        math.max(1, math.min(inlineRows.size / 1024 + 1, 32))),
      sidecarSchema)
    val merged = oldRel match {
      case None => inline
      case Some(o) =>
        val live = liveRels
        val declared = (statCols.map(("stat", _)) ++
          bloomCols.map(("bloom", _))).toDF("kind", "col")
        val inlineKeys = inlineRows.map(r =>
          (r.getString(0), r.getString(1), r.getString(2)))
          .toDF("kind", "rel", "col")
        sidecarDf(spark, root, o)
          .join(live, Seq("rel"), "left_semi")
          .join(broadcast(declared), Seq("kind", "col"), "left_semi")
          .join(broadcast(inlineKeys), Seq("kind", "rel", "col"),
            "left_anti")
          .unionByName(inline)
    }
    merged.write.mode("overwrite").parquet(s"$root/$rel")
    rel
  }

  /** Maintain file statistics AND Bloom filters across EVERY publish,
    * centrally: known `#stat`/`#bloom` lines — keyed by (relpath, col);
    * files are immutable and attempt-unique, so a known line is valid
    * forever — carry from the incoming meta (rollback/restore carry
    * their version's) or the parent manifest, and [[computeFileMeta]]
    * computes ONLY genuinely new files, in one combined scan for both
    * metadata kinds. No declarations ⇒ pass-through (zero extra jobs).
    * An EMPTY declaration line is the drop tombstone and carries with
    * no lines. */
  private def withFileIndexes(spark: SparkSession, root: String,
      v: Long, entries: Seq[(Long, String)], meta: Seq[String],
      prevMeta: Seq[String]): Seq[String] = {
    val statDecl = statColsLineOf(meta).orElse(statColsLineOf(prevMeta))
    val bloomDecl =
      bloomColsLineOf(meta).orElse(bloomColsLineOf(prevMeta))
    val base = meta.filterNot(l => l.startsWith("#stat\t") ||
      l.startsWith("#statcols\t") || l.startsWith("#bloom\t") ||
      l.startsWith("#bloomcols\t") || l.startsWith("#metafile\t"))
    if (statDecl.isEmpty && bloomDecl.isEmpty) return base
    // carried sidecar: the incoming meta's pointer wins (rollback/clone
    // carry their own version's), else the parent's
    val carriedSidecar =
      metaFileRelOf(meta).orElse(metaFileRelOf(prevMeta))
    val paths = entries.map(_._2)
    val pathSet = paths.toSet
    val statCols = statDecl.map(parseStatCols).getOrElse(Nil)
    val (bloomCols, bloomBits) =
      bloomDecl.map(parseBloomCols).getOrElse((Seq.empty[String], 64))
    // [[bloomDeclaration]] (the first-commit form) bypasses
    // declareBloom's type validation; enforce it HERE, at the first
    // maintenance that would hash the column — a float/decimal bloom
    // would otherwise record write-side renderings the probe side can
    // silently miss (a false negative dressed as an empty result)
    if (bloomCols.nonEmpty) {
      // toMap is last-wins: the INCOMING meta's declaration overrides a
      // stale carried one
      val colTypes = (prevMeta ++ meta).collect {
        case l if l.startsWith("#col\t") =>
          val Array(_, n, t) = l.split("\t", 3); (n, t)
      }.toMap
      bloomCols.foreach { c =>
        colTypes.get(c).foreach { t =>
          import org.apache.spark.sql.types._
          DataType.fromDDL(t) match {
            case StringType | DateType =>
            case _: ByteType | _: ShortType | _: IntegerType |
                _: LongType =>
            case dt => throw new IllegalArgumentException(
              s"SnapshotStore: bloom column '$c' has type " +
                s"${dt.catalogString} — membership hashing needs a " +
                "stable canonical form (string/integral/date); drop the " +
                "bloomDeclaration or dropBloom() the store")
          }
        }
      }
    }
    val knownStats =
      (parseStatLines(prevMeta) ++ parseStatLines(meta)).filter {
        case ((p, c), _) => pathSet.contains(p) && statCols.contains(c)
      }
    val knownBlooms =
      (parseBloomLines(prevMeta) ++ parseBloomLines(meta)).filter {
        case ((p, c), _) => pathSet.contains(p) && bloomCols.contains(c)
      }
    // (path, col) pairs not covered inline or by the sidecar; with a
    // sidecar the cross product + anti-join run executor-side and only
    // the true misses (delta-sized) come back, then the small inline
    // key set subtracts driver-side
    val (missStatPairs, missBloomPairs) = carriedSidecar match {
      case None =>
        (paths.iterator.flatMap(p => statCols.collect {
          case c if !knownStats.contains((p, c)) => (p, c) }).toSet,
          paths.iterator.flatMap(p => bloomCols.collect {
            case c if !knownBlooms.contains((p, c)) => (p, c) }).toSet)
      case Some(rel) =>
        val side = sidecarDf(spark, root, rel)
        (sidecarMisses(spark, side, "stat", paths, statCols)
            -- knownStats.keySet,
          sidecarMisses(spark, side, "bloom", paths, bloomCols)
            -- knownBlooms.keySet)
    }
    val missingStats = missStatPairs.map(_._1)
    val missingBlooms = missBloomPairs.map(_._1)
    val (computedStats, computedBlooms) = computeFileMeta(spark, root,
      missingStats, statCols, missingBlooms, bloomCols, bloomBits)
    // computeFileMeta emits lines for EVERY declared column of a missing
    // file; keep only the truly-missing keys so sidecar-covered (p, c)
    // pairs are never duplicated inline
    val inlineStats = knownStats ++
      computedStats.filter { case (k, _) => missStatPairs.contains(k) }
    val inlineBlooms = knownBlooms ++
      computedBlooms.filter { case (k, _) => missBloomPairs.contains(k) }
    val inlineCount = inlineStats.size + inlineBlooms.size
    if (inlineCount <= sidecarThreshold)
      base ++
        carriedSidecar.map(metaFileLine).toSeq ++
        statDecl.toSeq ++ inlineStats.values.toSeq.sorted ++
        bloomDecl.toSeq ++ inlineBlooms.values.toSeq.sorted
    else {
      import spark.implicits._
      val newRel = writeSidecar(spark, root, v, carriedSidecar,
        inlineStats.values, inlineBlooms.values, paths.toDF("rel"),
        statCols, bloomCols)
      base ++ Seq(metaFileLine(newRel)) ++
        statDecl.toSeq ++ bloomDecl.toSeq
    }
  }

  /** Rehearsal/spec accessor for a version's RESOLVED entry list (the
    * inline lines, or entryfile − drops ∪ inline in entryfile mode). */
  private[graft] def manifestEntries(spark: SparkSession, root: String,
      v: Long): Seq[(Long, String)] = readManifest(spark, root, v)

  /** Columns a version keeps per-file statistics for (`#statcols`). */
  def storedStatCols(spark: SparkSession, root: String,
      v: Long): Seq[String] =
    manifestMeta(spark, root, v).collectFirst {
      case l if l.startsWith("#statcols\t") => parseStatCols(l)
    }.getOrElse(Nil)

  /** Keep/prune manifest entries from a version's `#stat` lines.
    * Conservative by construction: a file with no stats for the column
    * (or unparseable bounds, e.g. a NaN envelope) is always kept;
    * pruning only removes files that PROVABLY contain no row in
    * [lo, hi] — an all-null file (a range bound excludes NULL) or a
    * disjoint [min, max] envelope. */
  /** `lo`/`hi` are CANONICAL strings ([[canonAs]]' output — decimal for
    * numeric/date/timestamp columns, `s:<base64>` byte form for string
    * columns); an incomparable pair (numeric stat vs string bound —
    * type drift) keeps the file, never prunes it. Gated on the CURRENT
    * `#statcols` declaration: a sidecar may carry rows for since-dropped
    * columns (rows are pruned lazily at the next compaction), and
    * dropStats' contract is that pruning STOPS, valid stale envelopes or
    * not. */
  /** Envelope verdict for one file's recorded stats against canonical
    * bounds: true = the file PROVABLY contains no matching row (all-null
    * under a range bound, or a disjoint [min, max] envelope). Pure —
    * runs on the driver for inline lines and INSIDE the sidecar scan on
    * executors, so both paths can never disagree. */
  private def statsReject(rows: Long, nulls: Long,
      mn: Option[String], mx: Option[String],
      lo: Option[String], hi: Option[String]): Boolean = {
    if (rows > 0 && nulls == rows) return true
    val aboveLo = (lo, mx) match {
      case (Some(l), Some(m)) => cmpCanon(m, l).forall(_ >= 0)
      case _ => true
    }
    val belowHi = (hi, mn) match {
      case (Some(h), Some(m)) => cmpCanon(m, h).forall(_ <= 0)
      case _ => true
    }
    !(aboveLo && belowHi)
  }

  /** Test-only observability: how many entries the last sidecar stats
    * probe collected to the driver (round 10: = ADMITTED files — the
    * files the bounded read will actually scan; the round-9 form
    * collected the REJECTED set, which for an effective prune is nearly
    * the whole live list). */
  @volatile private[graft] var lastStatsCollectSize: Int = -1

  /** Rejected-relpath FRAME of the metadata sidecar's `#stat` verdicts
    * for canonical `bounds` (col → (lo, hi), conjunctive) — the
    * envelope test evaluates INSIDE the sidecar scan on executors;
    * NOTHING collects here (the caller anti-joins the live entry frame
    * against it). One scan however many columns the read bounds;
    * parquet column pruning keeps bloom bytes out of it. A file any one
    * column's envelope rejects is out (one false conjunct kills the
    * whole AND). None = no sidecar or no bounds. */
  private def sidecarStatRejectsDf(spark: SparkSession, root: String,
      meta: Seq[String],
      bounds: Map[String, (Option[String], Option[String])])
      : Option[DataFrame] =
    metaFileRelOf(meta) match {
      case Some(rel) if bounds.nonEmpty =>
        import spark.implicits._
        val b = bounds // local val: the closure must not capture `this`
        Some(sidecarDf(spark, root, rel)
          .filter(col("kind") === "stat" &&
            col("col").isin(bounds.keys.toSeq: _*))
          .select("col", "rel", "rows", "nulls", "mn", "mx")
          .as[(String, String, Long, Long, Option[String], Option[String])]
          .flatMap { case (c, p, rows, nulls, mn, mx) =>
            val (lo, hi) = b(c)
            if (statsReject(rows, nulls, mn, mx, lo, hi)) Some(p) else None
          }.toDF("rel"))
      case _ => None
    }

  /** Entries of version `v` that SURVIVE the sidecar's stat verdicts
    * for canonical `bounds` — live frame ANTI-JOIN rejected frame, all
    * on the executors, so the driver collects only the files the
    * bounded read will actually scan: O(files admitted), never the live
    * list (pre-round-9: O(files × columns) stats rows; round 9:
    * O(files rejected), which an EFFECTIVE prune makes nearly O(live)).
    * Inline `#stat` lines prune the collected list driver-side
    * (threshold-bounded) via [[pruneByStats]] at the caller. */
  private def statKeptEntries(spark: SparkSession, root: String,
      v: Long, meta: Seq[String],
      bounds: Map[String, (Option[String], Option[String])])
      : Seq[(Long, String)] = {
    val kept = sidecarStatRejectsDf(spark, root, meta, bounds) match {
      case None =>
        // no sidecar verdicts to evaluate ⇒ the entry list is already
        // driver-held (inline-mode: zero jobs; entryfile: one bounded
        // collect inside readManifest) — no frame round-trip
        readManifest(spark, root, v).sortBy(identity)
      case Some(rej) =>
        liveEntriesDf(spark, root, v)
          .join(rej, Seq("rel"), "left_anti").select("bucket", "rel")
          .collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(identity)
    }
    lastStatsCollectSize = kept.size
    kept
  }

  /** Live file count of a version — text arithmetic + one entryfile
    * count, never a resolved list. */
  private def liveEntryCount(spark: SparkSession, root: String,
      v: Long): Int = {
    val text = manifestText(spark, root, v)
    val meta = text.linesIterator.filter(_.startsWith("#")).toSeq
    val inline = inlineEntriesOf(text).size
    entryFileRelOf(meta) match {
      case None => inline
      case Some(ef) =>
        inline + entryFileDf(spark, root, ef).count().toInt -
          dropRelsOf(meta).size
    }
  }

  /** INLINE `#stat`-line pruning for one column (inline lines are
    * bounded by [[sidecarThreshold]], so this stays a small driver
    * loop); sidecar rows were already applied via
    * [[sidecarStatRejects]]' rejected set. Gated on the CURRENT
    * `#statcols` declaration: a sidecar may carry rows for
    * since-dropped columns (rows are pruned lazily at the next
    * compaction), and dropStats' contract is that pruning STOPS, valid
    * stale envelopes or not. */
  private def pruneByStats(meta: Seq[String], entries: Seq[(Long, String)],
      colName: String, lo: Option[String],
      hi: Option[String]): Seq[(Long, String)] = {
    val declared = statColsLineOf(meta).map(parseStatCols).getOrElse(Nil)
    if (!declared.contains(colName)) return entries
    val inline = meta.filter(_.startsWith("#stat\t")).flatMap { l =>
      val a = l.split("\t", 7)
      if (a.length == 7 && a(2) == colName)
        Some(a(1) -> ((a(3).toLong, a(4).toLong,
          Some(a(5)).filter(_.nonEmpty), Some(a(6)).filter(_.nonEmpty))))
      else None
    }.toMap
    entries.filter { case (_, p) =>
      inline.get(p) match {
        case None => true
        case Some((rows, nulls, mn, mx)) =>
          !statsReject(rows, nulls, mn, mx, lo, hi)
      }
    }
  }

  /** The declared-and-bounded columns of `bounds` as canonical bound
    * pairs — the shared [[sidecarStatRejects]] input builder, so every
    * pruned path (readWhereAll / deleteWhere / skippingReportAll)
    * canonicalizes through the SAME [[canonAs]] the residual uses. */
  private def canonBounds(spark: SparkSession, meta: Seq[String],
      bounds: Map[String, (Any, Any)],
      types: Map[String, org.apache.spark.sql.types.DataType])
      : Map[String, (Option[String], Option[String])] = {
    val declared =
      statColsLineOf(meta).map(parseStatCols).getOrElse(Nil).toSet
    bounds.collect {
      case (c, (lo, hi))
          if declared.contains(c) && types.contains(c) &&
            (lo != null || hi != null) =>
        c -> ((Option(lo).map(canonAs(spark, _, types(c), c)),
          Option(hi).map(canonAs(spark, _, types(c), c))))
    }
  }

  /** Canonicalize a user-supplied bound/probe value THROUGH the
    * column's DECLARED type — the write side canonicalized the stored
    * column's values (epoch-micros for timestamps, epoch-days for
    * dates), so a bound canonicalized from its raw JVM type would be
    * compared in the wrong unit space: an epoch-seconds Long bound on a
    * TimestampType column would make files that DO contain matching
    * rows look provably disjoint, silently dropping rows from readWhere
    * and silently carrying files deleteWhere must rewrite (an
    * incomplete GDPR delete with no error). The bound is evaluated as
    * `CAST(literal AS declaredType)` via the same Catalyst Cast the
    * residual predicate uses, so pruning and residual can never
    * disagree; an uncastable or null-casting bound is a named error,
    * never a silent mis-prune. */
  private def canonAs(spark: SparkSession, b: Any,
      dt: org.apache.spark.sql.types.DataType,
      colName: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types._
    val litE =
      try Literal(b)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"SnapshotStore: unsupported bound value for '$colName': $b " +
            s"(${b.getClass.getName}) — pass a finite numeric / date / " +
            "timestamp / string value", e)
      }
    val cast = Cast(litE, dt,
      Option(spark.sessionState.conf.sessionLocalTimeZone))
    if (!cast.resolved)
      throw new IllegalArgumentException(
        s"SnapshotStore: bound value $b (${litE.dataType.catalogString}) " +
          s"for '$colName' is not castable to the column's declared type " +
          s"${dt.catalogString}")
    val internal =
      try cast.eval()
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"SnapshotStore: bound value $b for '$colName' does not " +
            s"convert to the column's declared type ${dt.catalogString}: " +
            e.getMessage, e)
      }
    if (internal == null)
      throw new IllegalArgumentException(
        s"SnapshotStore: bound value $b for '$colName' casts to NULL " +
          s"under the column's declared type ${dt.catalogString} — a " +
          "null bound would silently prune everything")
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType =>
        internal.toString // integral internal forms (date = epoch-day Int)
      case FloatType =>
        val f = internal.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) throw new IllegalArgumentException(
          s"SnapshotStore: non-finite bound for '$colName': $b")
        f.toDouble.toString
      case DoubleType =>
        val d = internal.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(
          s"SnapshotStore: non-finite bound for '$colName': $b")
        d.toString
      case _: DecimalType =>
        internal.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal.toPlainString
      case TimestampType | TimestampNTZType =>
        internal.toString // epoch-micros Long
      case StringType =>
        // binary collation over UTF-8 bytes, matching the write side's
        // truncated envelopes; a probe bound is one exact value, so it
        // is never truncated
        StringCanonPrefix + java.util.Base64.getEncoder.encodeToString(
          internal.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .getBytes)
      case other => throw new IllegalArgumentException(
        s"SnapshotStore: column '$colName' has type " +
          s"${other.catalogString} — range bounds need numeric / date / " +
          "timestamp / string columns")
    }
  }

  /** The logical schema a version's manifest declares (`#col` lines,
    * written by every publish since the schema contract landed), as
    * (name, catalogString) in declaration order. None ⇒ legacy manifest
    * predating declarations (validation is skipped for those). */
  private def declaredCols(spark: SparkSession, root: String,
      v: Long): Option[Seq[(String, String)]] = {
    val cols = manifestMeta(spark, root, v).collect {
      case l if l.startsWith("#col\t") =>
        val Array(_, n, t) = l.split("\t", 3)
        (n, t)
    }
    if (cols.isEmpty) None else Some(cols)
  }

  /** Columns the store itself manages: `bucket` is derived at write and
    * `doc_id` is normalized to long on read/merge — their physical types
    * legitimately vary across version dirs, so neither is declared nor
    * validated (payload columns are). */
  private val ManagedCols = Set("bucket", "doc_id")

  /** Declared type for a probe/bound column: payload columns resolve
    * through the `#col` declaration; `doc_id` is store-managed and
    * normalized to long on read, so probes on it type as bigint (its
    * stats/blooms are written through the same cast — see
    * computeFileMeta's srcCol). */
  private def probeType(declared: Map[String, String], colName: String,
      root: String, op: String): org.apache.spark.sql.types.DataType =
    if (colName == "doc_id") org.apache.spark.sql.types.LongType
    else org.apache.spark.sql.types.DataType.fromDDL(
      declared.getOrElse(colName,
        throw new IllegalArgumentException(
          s"SnapshotStore: $op column '$colName' is not a stored " +
            s"payload column at $root — stored: " +
            declared.keys.toSeq.sorted.mkString(", "))))

  /** Payload fields as (name, catalogString) declaration entries. */
  private def schemaCols(
      schema: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
    schema.fields.toSeq.filterNot(f => ManagedCols.contains(f.name))
      .map(f => (f.name, f.dataType.catalogString))

  /** List a just-written attempt dir as manifest entries. */
  private def listVersionFiles(spark: SparkSession, root: String,
      dirName: String): Seq[(Long, String)] = {
    val f = fs(spark, root)
    val base = new Path(root, s"data/$dirName")
    val out = mutable.ArrayBuffer.empty[(Long, String)]
    f.listStatus(base).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("bucket=")) {
        val b = name.stripPrefix("bucket=").toLong
        f.listStatus(st.getPath).foreach { p =>
          if (p.getPath.getName.endsWith(".parquet"))
            out += ((b, s"data/$dirName/$name/${p.getPath.getName}"))
        }
      }
    }
    out.toSeq
  }

  /** Atomically publish `entries` (+ optional `#` metadata lines) as
    * version `v` via CREATE-EXCLUSIVE manifest creation — metadata rides
    * the SAME atomic creation as the file list, so a txn marker can
    * never be published without its data or vice versa. Exclusivity per
    * filesystem: on a local FS the written tmp file is hard-linked to
    * the manifest name (POSIX link(2) fails with EEXIST — a true CAS,
    * no check-then-act window); elsewhere `create(overwrite = false)`,
    * which HDFS implements atomically at the NameNode. Either failure
    * is a [[SnapshotConflictException]] — the loser of a same-version
    * race always detects the loss BEFORE believing it published, and
    * because data files live in attempt-unique dirs
    * ([[writeVersionDir]]), the loser's files were never shared, so no
    * interleaving can tear the winner's snapshot. (This closes the
    * round-6-documented local-FS rename-overwrite window; the final
    * read-back compare stays as defense-in-depth for filesystems with
    * neither atomic link nor atomic exclusive create.) private[graft]:
    * exposed to the spec to exercise the race paths. */
  /** Test-only crash-point injection for the kill-window matrix
    * (round-6 verdict item 4): when armed, [[fire]] is invoked at the
    * named points of the commit path and may throw to simulate a writer
    * dying exactly there. Points, in commit order:
    *
    *  - `data-dir-written`  — version data files fully written into the
    *    attempt-unique `data/vNNNNN-<uuid>` dir, no manifest yet (a
    *    reader sees nothing; a replayed commit writes a fresh attempt
    *    dir and the orphan is vacuum garbage);
    *  - `manifest-tmp-written` — manifest bytes written to the
    *    `_versions/.tmp-*` file, the create-exclusive not yet attempted
    *    (nothing published; the tmp file is vacuum garbage);
    *  - `manifest-renamed`  — the version IS published (the exclusive
    *    manifest creation landed), the caller (e.g. a streaming
    *    checkpoint) has not yet recorded it (a replay must detect the
    *    txn marker and no-op).
    *
    * Production code never arms it; the hook costs one volatile read
    * per point when disarmed. */
  private[graft] object FaultInjection {
    @volatile private var hook: Option[String => Unit] = None
    def arm(h: String => Unit): Unit = hook = Some(h)
    def disarm(): Unit = hook = None
    private[operators] def fire(point: String): Unit = hook.foreach(_(point))
  }

  /** Meta-line prefixes the store itself owns and re-derives (or
    * carries through dedicated logic) on every publish. Anything else —
    * `#ivfcent`, `#pqcent`, `#pqgeom`, a user's own lines — is FOREIGN
    * metadata and behaves like a table property: it carries from the
    * parent manifest across every publish unless the incoming meta
    * supplies at least one line with the same prefix (the caller's
    * lines then replace the whole prefix group). Without this,
    * store-internal verbs (optimize, deleteWhere, deletePoint) would
    * silently strip a versioned index's geometry — the
    * VersionedIvfAdcSpec maintenance arm caught exactly that. */
  private val OwnedMetaPrefixes: Set[String] = Set(
    "#bloom", "#bloomcols", "#buckets", "#check", "#col", "#dropfile",
    "#entryfile", "#metafile", "#op", "#stat", "#statcols", "#txn")

  private def metaPrefixOf(l: String): String = l.takeWhile(_ != '\t')

  /** Parent-manifest foreign lines whose prefix the incoming meta does
    * not override — appended to every publish (see
    * [[OwnedMetaPrefixes]]).
    *
    * ROLLBACK is exempt (its `#op` line marks the meta authoritative):
    * rollback passes the TARGET version's meta verbatim, and carrying a
    * foreign prefix that exists at the current head but not in the
    * target would (a) resurrect it into the restored state — rollback
    * would no longer restore the target's exact table properties — and
    * (b) leave callers with NO way to remove a foreign meta group at
    * all. Rollback-to-a-version-without-the-group IS the removal
    * mechanism. */
  private def carriedForeignMeta(prevMeta: Seq[String],
      meta: Seq[String]): Seq[String] =
    if (meta.contains(opLine("rollback"))) Nil
    else {
      val freshPrefixes = meta.map(metaPrefixOf).toSet
      prevMeta.filter { l =>
        val p = metaPrefixOf(l)
        !OwnedMetaPrefixes.contains(p) && !freshPrefixes.contains(p)
      }
    }

  private[graft] def publish(spark: SparkSession, root: String, v: Long,
      entries: Seq[(Long, String)], meta: Seq[String] = Nil): Unit = {
    require(meta.forall(_.startsWith("#")),
      "SnapshotStore: metadata lines must start with '#'")
    // incoming meta NEVER carries entry bookkeeping — rollback/clone
    // pass a source version's meta verbatim, and a stale #entryfile/
    // #dropfile pair from another lineage would silently resurrect
    // dropped files; publish re-derives the bookkeeping from the PARENT
    // manifest below
    val cleanMeta = meta.filterNot(l =>
      l.startsWith("#entryfile\t") || l.startsWith("#dropfile\t"))
    // file statistics + bloom filters ride the SAME atomic manifest
    // creation as the file list (computed BEFORE the tmp write; no
    // declaration ⇒ no-op)
    val prevMeta =
      if (v > 1 && fs(spark, root).exists(manifestPath(root, v - 1)))
        manifestMeta(spark, root, v - 1)
      else Seq.empty[String]
    val fullMeta = withFileIndexes(spark, root, v, entries,
      cleanMeta ++ carriedForeignMeta(prevMeta, cleanMeta),
      prevMeta)
    // entry-list scale: past the threshold the file list lives in a
    // parquet entryfile and only the DELTA vs it is text (see the
    // entry-list sidecar notes above). Set diffs run on relpath strings
    // — the driver never round-trips the full list through text.
    val (inlineEntries, entryMeta) = entryFileRelOf(prevMeta) match {
      case None if entries.size <= entryThreshold =>
        lastEntryDiffCollectSize = 0
        (entries, Nil)
      case None =>
        lastEntryDiffCollectSize = 0
        val rel = writeEntryFile(spark, root, v,
          entries.sortBy(e => (e._1, e._2)))
        (Seq.empty[(Long, String)], Seq(entryFileLine(rel)))
      case Some(ef) =>
        // set diff via two EXECUTOR-side anti-joins against the parent
        // entryfile: only the DELTAS (dropped rels, new inline entries)
        // ever collect — the full-publish path matches publishDelta's
        // O(delta) driver-collect contract even though its caller
        // already holds the full list
        val curDf = entriesDf(spark, entries)
        val efDf = entryFileDf(spark, root, ef)
        val drops = efDf.select("rel")
          .join(curDf.select("rel"), Seq("rel"), "left_anti")
          .collect().map(_.getString(0)).toSeq.sorted
        val inline = curDf
          .join(efDf.select("rel"), Seq("rel"), "left_anti")
          .select("bucket", "rel").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
          .sortBy(identity)
        lastEntryDiffCollectSize = drops.size + inline.size
        if (inline.size + drops.size > entryThreshold) {
          val rel = writeEntryFile(spark, root, v,
            entries.sortBy(e => (e._1, e._2)))
          (Seq.empty[(Long, String)], Seq(entryFileLine(rel)))
        } else
          (inline, entryFileLine(ef) +: drops.map(dropFileLine))
    }
    writeManifestAtomic(spark, root, v, fullMeta ++ entryMeta,
      inlineEntries)
  }

  /** Test-only observability: how many entry strings the last
    * [[publish]]/[[publishDelta]] collected to the driver for entry-list
    * bookkeeping (set-diff results / delta probes — never the full
    * resolved list). -1 until a publish in entry-bookkeeping scope
    * runs. */
  @volatile private[graft] var lastEntryDiffCollectSize: Int = -1

  /** Shared atomic tail of [[publish]]/[[publishDelta]]: validate the
    * lines, build the manifest text, and CREATE-EXCLUSIVE it as version
    * `v` (see [[publish]]'s scaladoc for the per-filesystem atomicity
    * story). */
  private def writeManifestAtomic(spark: SparkSession, root: String,
      v: Long, metaOut: Seq[String],
      inlineEntries: Seq[(Long, String)]): Unit = {
    // an embedded newline would split a logical line in two and corrupt
    // every later read of the manifest (lines are '\n'-joined below);
    // entryfile-stored entries were validated at their writeEntryFile
    (metaOut ++ inlineEntries.map(_._2)).foreach { s =>
      require(!s.exists(c => c == '\n' || c == '\r'),
        s"SnapshotStore: manifest line contains a newline: '$s'")
    }
    val f = fs(spark, root)
    val dst = manifestPath(root, v)
    if (f.exists(dst))
      throw new SnapshotConflictException(
        s"SnapshotStore: version $v is already published at $root — " +
          s"a concurrent writer committed from the same parent ${v - 1}; " +
          "re-read the store and retry")
    val text = (metaOut ++ inlineEntries.sortBy(e => (e._1, e._2))
      .map { case (b, p) => s"$b\t$p" }).mkString("", "\n", "\n")
    val tmp = new Path(root, f"_versions/.tmp-v$v%05d-${java.util.UUID.randomUUID()}")
    val outStream = f.create(tmp, true)
    try outStream.write(text.getBytes("UTF-8"))
    finally outStream.close()
    FaultInjection.fire("manifest-tmp-written")
    def lost(): Nothing = {
      f.delete(tmp, false)
      throw new SnapshotConflictException(
        s"SnapshotStore: lost the publish race for version $v at $root " +
          "— a concurrent writer's manifest landed first; re-read the " +
          "store and retry")
    }
    if ("file" == Option(f.getUri.getScheme).getOrElse("file")) {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(f.makeQualified(dst).toUri),
        java.nio.file.Paths.get(f.makeQualified(tmp).toUri))
      catch { case _: java.nio.file.FileAlreadyExistsException => lost() }
      f.delete(tmp, false)
    } else {
      val o =
        try f.create(dst, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => lost()
          case _: java.io.IOException if f.exists(dst) => lost()
        }
      try o.write(text.getBytes("UTF-8"))
      finally o.close()
      f.delete(tmp, false)
    }
    FaultInjection.fire("manifest-renamed")
    if (manifestText(spark, root, v) != text)
      throw new SnapshotConflictException(
        s"SnapshotStore: lost the publish race for version $v at $root — " +
          "another writer's manifest landed; re-read the store and retry")
  }

  /** O(delta) publish for a DELTA-SHAPED maintenance verb (upsert,
    * keyed/ranged delete): version `v`'s content is the parent's minus
    * `dropRels` plus `adds`. The parent's entry list is NEVER resolved
    * to the driver: with an entryfile parent the dropped rels are
    * verified and classified by ONE executor-side join against the
    * entryfile (only the delta-sized matches collect), file statistics
    * and Bloom bitsets are computed for the ADDS only (carried files
    * keep their sidecar/inline rows — publish coverage is an invariant
    * every prior version already holds), and compactions — entry list
    * or metadata sidecar — write FROM FRAMES. A 10-row upsert against a
    * 10⁶-file store therefore does O(10) driver entry work, not O(10⁶).
    *
    * Falls back to the full [[publish]] path when the parent stores its
    * entries inline (small store — the full list is already
    * threshold-bounded text) or when `meta` REDECLARES stat/bloom
    * columns (a declaration change must recompute coverage over every
    * file, which is O(files) by nature). Resurrecting a dropped
    * entryfile path is rollback territory and rejected here — rollback
    * re-derives its bookkeeping through the full path. */
  private[graft] def publishDelta(spark: SparkSession, root: String,
      v: Long, adds: Seq[(Long, String)], dropRels: Set[String],
      meta: Seq[String] = Nil): Unit = {
    require(meta.forall(_.startsWith("#")),
      "SnapshotStore: metadata lines must start with '#'")
    require(v >= 2, "publishDelta needs a published parent version")
    val prevMeta = manifestMeta(spark, root, v - 1)
    val redeclares =
      statColsLineOf(meta).exists(l =>
        !statColsLineOf(prevMeta).contains(l)) ||
      bloomColsLineOf(meta).exists(l =>
        !bloomColsLineOf(prevMeta).contains(l))
    val efOpt = entryFileRelOf(prevMeta)
    if (efOpt.isEmpty || redeclares) {
      val parent = readManifest(spark, root, v - 1)
      val dropped = parent.count(e => dropRels.contains(e._2))
      require(dropped == dropRels.size,
        s"publishDelta: ${dropRels.size - dropped} dropped path(s) are " +
          s"not live in version ${v - 1} at $root")
      return publish(spark, root, v,
        parent.filterNot(e => dropRels.contains(e._2)) ++ adds, meta)
    }
    val ef = efOpt.get
    // bookkeeping/decl lines are re-derived below, never taken from the
    // caller (same hygiene as publish); FOREIGN lines carry from the
    // parent unless the caller overrides their prefix (see
    // [[OwnedMetaPrefixes]])
    val cleanMeta = meta.filterNot(l =>
      l.startsWith("#entryfile\t") || l.startsWith("#dropfile\t") ||
      l.startsWith("#stat\t") || l.startsWith("#bloom\t") ||
      l.startsWith("#metafile\t") || l.startsWith("#statcols\t") ||
      l.startsWith("#bloomcols\t")) ++
      carriedForeignMeta(prevMeta, meta)
    import spark.implicits._
    val dPrev = dropRelsOf(prevMeta)
    val inlinePrev = inlineEntriesOf(manifestText(spark, root, v - 1))
    val inlineRels = inlinePrev.map(_._2).toSet
    val addRels = adds.map(_._2).toSet
    require(addRels.size == adds.size,
      s"publishDelta: duplicate add paths at $root")
    require(addRels.intersect(dropRels).isEmpty,
      s"publishDelta: a path is both added and dropped at $root")
    require(addRels.intersect(inlineRels).isEmpty,
      s"publishDelta: an add collides with a live inline path at $root")
    require(dPrev.intersect(dropRels).isEmpty,
      s"publishDelta: dropping an already-dropped path at $root")
    // classify the delta against the entryfile in ONE executor scan:
    // dropped paths not inline MUST be entryfile-live; added paths must
    // NOT be entryfile paths (no resurrection on this path)
    val needLookup = dropRels -- inlineRels
    val efDf = entryFileDf(spark, root, ef)
    val probes = needLookup.toSeq.map((_, "d")) ++
      addRels.toSeq.map((_, "a"))
    val hits =
      if (probes.isEmpty) Array.empty[(String, String)]
      else efDf.select("rel")
        .join(broadcast(probes.toDF("rel", "k")), Seq("rel"), "inner")
        .collect().map(r => (r.getString(0), r.getString(1)))
    lastEntryDiffCollectSize = hits.length
    val resurrected = hits.collect { case (p, "a") => p }
    require(resurrected.isEmpty,
      s"publishDelta: add resurrects entryfile path(s) " +
        s"${resurrected.take(3).mkString(", ")} at $root — go through " +
        "the full publish path")
    val dropsInEf = hits.collect { case (p, "d") => p }.toSet
    require(dropsInEf.size == needLookup.size,
      s"publishDelta: ${needLookup.size - dropsInEf.size} dropped " +
        s"path(s) are not live in version ${v - 1} at $root")
    val newDrops = dPrev ++ dropsInEf
    val newInline =
      inlinePrev.filterNot(e => dropRels.contains(e._2)) ++ adds
    // file statistics / blooms: declarations carry from the parent;
    // inline lines carry minus the dropped files' rows; only the ADDS
    // compute. The sidecar pointer carries verbatim (rows for dropped
    // files prune lazily at the next compaction — the documented
    // discipline).
    val statDecl = statColsLineOf(prevMeta)
    val bloomDecl = bloomColsLineOf(prevMeta)
    val carriedSidecar = metaFileRelOf(prevMeta)
    val statCols = statDecl.map(parseStatCols).getOrElse(Nil)
    val (bloomCols, bloomBits) =
      bloomDecl.map(parseBloomCols).getOrElse((Seq.empty[String], 64))
    val carriedStats = parseStatLines(prevMeta).filter {
      case ((p, _), _) => !dropRels.contains(p)
    }
    val carriedBlooms = parseBloomLines(prevMeta).filter {
      case ((p, _), _) => !dropRels.contains(p)
    }
    val (computedStats, computedBlooms) =
      if (statCols.isEmpty && bloomCols.isEmpty)
        (Seq.empty[((String, String), String)],
          Seq.empty[((String, String), String)])
      else computeFileMeta(spark, root,
        if (statCols.isEmpty) Set.empty else addRels, statCols,
        if (bloomCols.isEmpty) Set.empty else addRels, bloomCols,
        bloomBits)
    val inlineStats = carriedStats ++ computedStats
    val inlineBlooms = carriedBlooms ++ computedBlooms
    val inlineCount = inlineStats.size + inlineBlooms.size
    lazy val liveRelsDf = efDf.select("rel")
      .join(broadcast(newDrops.toSeq.toDF("rel")), Seq("rel"),
        "left_anti")
      .union(entriesDf(spark, newInline).select("rel"))
    val metaLines =
      if (statDecl.isEmpty && bloomDecl.isEmpty) cleanMeta
      else if (inlineCount <= sidecarThreshold)
        cleanMeta ++ carriedSidecar.map(metaFileLine).toSeq ++
          statDecl.toSeq ++ inlineStats.values.toSeq.sorted ++
          bloomDecl.toSeq ++ inlineBlooms.values.toSeq.sorted
      else {
        val newRel = writeSidecar(spark, root, v, carriedSidecar,
          inlineStats.values, inlineBlooms.values, liveRelsDf,
          statCols, bloomCols)
        cleanMeta ++ Seq(metaFileLine(newRel)) ++ statDecl.toSeq ++
          bloomDecl.toSeq
      }
    val (inlineOut, entryMeta) =
      if (newInline.size + newDrops.size > entryThreshold) {
        // entry-list compaction from frames: (entryfile − drops) ∪
        // inline, written without a driver round-trip
        val compacted = efDf
          .join(broadcast(newDrops.toSeq.toDF("rel")), Seq("rel"),
            "left_anti")
          .select("bucket", "rel")
          .unionByName(entriesDf(spark, newInline))
        val rel = writeEntryFileFrame(spark, root, v, compacted,
          newInline)
        (Seq.empty[(Long, String)], Seq(entryFileLine(rel)))
      } else
        (newInline,
          entryFileLine(ef) +: newDrops.toSeq.sorted.map(dropFileLine))
    writeManifestAtomic(spark, root, v, metaLines ++ entryMeta,
      inlineOut)
  }

  /** Write a version's data files into a fresh ATTEMPT-UNIQUE dir
    * `data/vNNNNN-<uuid8>` and return its name. Uniqueness closes the
    * shared-data-dir race outright (the Delta/Iceberg file-layout idea:
    * data file paths are never contended, only the commit pointer is):
    * no two attempts — same-version racers, crashed retries — can ever
    * write, list, or delete each other's files, so the ONLY shared
    * commit touchpoint left is the manifest create-exclusive in
    * [[publish]]. An attempt dir whose manifest never publishes (crash,
    * lost race) is unreferenced garbage for [[vacuum]]; nothing ever
    * reads a data dir except through a published manifest's entries. */
  private def writeVersionDir(df: DataFrame, spark: SparkSession,
      root: String, v: Long, maxRecordsPerFile: Long = 0L): String = {
    val dirName =
      f"v$v%05d-${java.util.UUID.randomUUID().toString.take(8)}"
    // FileOutputCommitter v2: task commit moves each task's files into
    // place directly, so job commit stops being a driver-side O(files)
    // sequential move (v1's job-commit pass dominates fragmented
    // publishes — i15/i17/i19-class stores write ~100 files/version).
    // The atomicity v2 trades away is irrelevant HERE by construction:
    // the target dir is attempt-unique and unreadable until the manifest
    // publishes it, so a partially-committed dir is unreferenced garbage
    // for vacuum either way — the manifest create-exclusive is the
    // commit point, never the committer.
    val w = df.write.mode("overwrite").partitionBy("bucket")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w)
      .parquet(new Path(root, s"data/$dirName").toString)
    FaultInjection.fire("data-dir-written")
    dirName
  }

  /** Pre-flight optimistic-concurrency check: `expected` (when given) is
    * the version this writer based its work on (0 = empty store); if the
    * store has moved, fail HERE — before any data write — so a stale
    * writer can never overwrite the winner's version dir. */
  private def checkExpected(spark: SparkSession, root: String,
      expected: Option[Long]): Unit =
    expected.foreach { e =>
      val cur = currentVersion(spark, root).getOrElse(0L)
      if (cur != e)
        throw new SnapshotConflictException(
          s"SnapshotStore: concurrent write detected at $root — this " +
            s"writer read version $e but the store is now at $cur; " +
            "re-read the store and retry")
    }

  /** Optimistic-concurrency RETRY loop — the client half of the
    * `expectedVersion` contract: conflict detection alone (round-6 OCC)
    * still makes the losing writer's job fail; real multi-writer
    * pipelines re-read and re-apply. `attempt` receives the freshly
    * observed current version (0 = empty store) and must pass it as its
    * mutation's `expectedVersion` (and re-derive anything it computed
    * FROM the store against that version — the loop re-invokes the
    * whole closure, so reads inside it see the winner's state). A
    * [[SnapshotConflictException]] triggers re-observe + retry, up to
    * `maxAttempts`; any other failure propagates immediately. Livelock
    * is bounded: each retry means some OTHER writer published, so
    * system-wide progress is guaranteed even under contention. */
  def withConflictRetry[T](spark: SparkSession, root: String,
      maxAttempts: Int = 5)(attempt: Long => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1: $maxAttempts")
    var last: Throwable = null
    var i = 0
    while (i < maxAttempts) {
      val observed = currentVersion(spark, root).getOrElse(0L)
      try return attempt(observed)
      catch {
        case e: SnapshotConflictException => last = e; i += 1
        case e: Throwable if fileVanishedUnder(root, e) =>
          // a file this attempt's snapshot read referenced no longer
          // exists under OUR root: a concurrent OPTIMIZE rewrote the
          // files and a VACUUM swept the originals while this attempt's
          // scan was in flight (measured in StoreRaceSpec's maintenance
          // arm under host load). The store has provably moved — the
          // same situation expectedVersion catches at publish time,
          // surfacing one phase earlier — so re-observe and re-derive,
          // exactly like a publish conflict. A genuinely corrupt store
          // fails every attempt and propagates below.
          last = e; i += 1
      }
    }
    // keep the final attempt's failure as the cause (a store whose file
    // is PERMANENTLY missing exhausts the retries too, and its stack
    // must stay diagnosable, not flattened into a message string); name
    // the vanished-file case distinctly from a publish conflict
    val kind = last match {
      case _: SnapshotConflictException => "still conflicting"
      case _ => "read a since-vanished file on every attempt (corrupt " +
        "store, or maintenance racing faster than the retry budget)"
    }
    throw new SnapshotConflictException(
      s"SnapshotStore: mutation at $root $kind after " +
        s"$maxAttempts attempts — last failure: ${last.getMessage}", last)
  }

  /** Does `e`'s cause chain report a missing FILE under this store's
    * root — the signature of a maintenance race (optimize + vacuum
    * invalidating an in-flight snapshot scan)? Path-scoped so a foreign
    * FileNotFound (user input, another store) never silently retries. */
  private def fileVanishedUnder(root: String, e: Throwable): Boolean = {
    // qualify a RELATIVE root before substring-matching: Spark/FNF
    // messages carry absolute paths, so a raw "target/store" needle
    // would never match and the maintenance-race retry would silently
    // not engage for relative roots (fail-safe, but inconsistent)
    val p = new Path(root).toUri.getPath
    val needle =
      if (new java.io.File(p).isAbsolute) p
      else java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    val seen = mutable.Set.empty[Throwable]
    var cur = e
    while (cur != null && seen.add(cur)) {
      val hit = cur match {
        case fnf: java.io.FileNotFoundException =>
          Option(fnf.getMessage).exists(_.contains(needle))
        case s: org.apache.spark.SparkException =>
          Option(s.getMessage).exists(m =>
            m.contains("FAILED_READ_FILE") && m.contains(needle))
        case _ => false
      }
      if (hit) return true
      cur = cur.getCause
    }
    false
  }

  /** Full-snapshot commit: write `index` (needs a `doc_id` column) as the
    * next version. Returns the published version number. Pass
    * `expectedVersion` (version this writer read; 0 = empty store) for
    * optimistic conflict detection. A commit whose schema DROPS or
    * RETYPES a column of the current version raises
    * [[SnapshotSchemaException]] naming the column unless
    * `allowSchemaChange = true` (the explicit full-rewrite opt-in);
    * added columns are always fine. */
  def commit(index: DataFrame, root: String, buckets: Int,
      meta: Seq[String] = Nil,
      expectedVersion: Option[Long] = None,
      allowSchemaChange: Boolean = false,
      distributeByBucket: Boolean = false): Long = {
    val spark = index.sparkSession
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(0L)
    val declared = schemaCols(index.schema)
    if (cur > 0 && !allowSchemaChange)
      declaredCols(spark, root, cur).foreach { prev =>
        val here = declared.toMap
        prev.foreach { case (n, t) =>
          here.get(n) match {
            case None => throw new SnapshotSchemaException(
              s"commit drops column '$n' ($t) present in version $cur at " +
                s"$root — dropping is not additive evolution; pass " +
                "allowSchemaChange = true for an intentional rewrite")
            case Some(t2) if t2 != t => throw new SnapshotSchemaException(
              s"commit retypes column '$n' from $t (version $cur) to $t2 " +
                s"at $root — retyping is not additive evolution; pass " +
                "allowSchemaChange = true for an intentional rewrite")
            case _ =>
          }
        }
      }
    // CHECK constraints enforce on the FULL new snapshot before any
    // data write (a full commit replaces everything, so everything must
    // satisfy them)
    if (cur > 0) validateChecks(index, storedChecks(spark, root, cur), root)
    val v = cur + 1
    // distributeByBucket: hash-distribute on the bucket column before the
    // partitionBy write (the Iceberg write.distribution-mode=hash move) —
    // without it every upstream task opens a file in every bucket dir, so
    // an M-task commit writes M×B files (the classic small-files explosion
    // at scale; locally it multiplies footer/commit overhead on every
    // subsequent read and metadata pass). Callers whose frames are already
    // value-clustered for file-skipping (e.g. VersionedIvf's cent_id range
    // layout) must NOT set it — the bucket shuffle would scatter the
    // clustering that makes their per-file stats envelopes tight.
    val laid =
      if (distributeByBucket)
        withBucket(index, buckets).repartition(col("bucket"))
      else withBucket(index, buckets)
    val dirName = writeVersionDir(laid, spark, root, v)
    publish(spark, root, v, listVersionFiles(spark, root, dirName),
      carriedTxn(spark, root, meta) ++
        carriedCheckLines(spark, root) ++
        declared.map { case (n, t) => colLine(n, t) } ++
        Seq(bucketsLine(buckets), opLine("commit")))
    v
  }

  /** Read a published snapshot (`version` < 0 ⇒ newest). Scans exactly
    * the manifest's files — file-level pruning happened at commit time,
    * so no directory listing of the whole table ever runs. */
  def read(spark: SparkSession, root: String, version: Long = -1L)
      : DataFrame = {
    val v = resolveVersion(spark, root, version)
    val entries = readManifest(spark, root, v)
    if (entries.isEmpty) {
      // a published EMPTY snapshot is a valid state (an upsert can
      // delete the last remaining document — "upsert ≡ fresh rebuild"
      // holds in the empty edge), so it must read as an empty frame
      // with the declared schema, not brick the store. Legacy manifests
      // without a declaration cannot reconstruct one → named error.
      val cols = declaredCols(spark, root, v).getOrElse(
        throw new IllegalArgumentException(
          s"version $v at $root is empty and predates schema " +
            "declarations — nothing to reconstruct a schema from"))
      import org.apache.spark.sql.types._
      val schema = StructType(
        StructField("doc_id", LongType) +:
        cols.map { case (n, t) => StructField(n, DataType.fromDDL(t)) } :+
        StructField("bucket", LongType))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    assemble(spark, root, v, entries)
  }

  /** Point lookup — the fetch-by-id analog: the rows of `docIds` only,
    * scanning ONLY the files of the buckets those ids hash to (the
    * manifest's `#buckets` modulus), so a B-bucket store reads ~|ids|/B
    * of its files instead of all of them. `docIds` is a SMALL id set (it
    * becomes an IN-list predicate); bulk reads go through [[read]].
    *
    * The ids are driver-held, so the facts derived from them are computed
    * on the driver: the target buckets ([[targetBuckets]]) and, on a
    * store whose `#stat`/`#bloom` lines are inline in the manifest, the
    * doc_id verdicts ([[docIdCandidates]]) launch no Spark job — the
    * returned frame's own action is the only one (1 job per call on an
    * inline-metadata store). A sidecar store's verdicts evaluate on the
    * executors against the ids as a one-row local relation, which adds
    * the id broadcast and the verdict collect (3 jobs per call). */
  def readDocs(spark: SparkSession, root: String, docIds: Seq[Long],
      version: Long = -1L): DataFrame = {
    val v = resolveVersion(spark, root, version)
    val buckets = storedBuckets(spark, root, v).getOrElse(
      throw new IllegalArgumentException(
        s"store at $root predates bucket-count manifests — one " +
          "commit()/upsert() records it"))
    // only the TARGET buckets' entries resolve to the driver (entryfile
    // stores filter on the executors)
    val entries =
      entriesInBuckets(spark, root, v, targetBuckets(spark, docIds, buckets))
    // within the target buckets, doc_id stats/blooms (when declared)
    // drop the files that provably hold none of the ids — a point
    // lookup then opens ~1 file, not every file of its bucket
    val (candidates, _) =
      docIdCandidates(spark, root, manifestMeta(spark, root, v), entries,
        Left(docIds))
    val base =
      if (candidates.nonEmpty) assemble(spark, root, v, candidates)
      else read(spark, root, v).limit(0) // schema-only empty edge
    base.filter(col("doc_id").isin(docIds: _*))
  }

  /** The buckets `ids` hash to in a `buckets`-way store, through the SAME
    * [[withBucket]] expression the writes use (a driver-side
    * reimplementation could drift from Spark's xxhash64). The ids ride a
    * LOCAL relation: ConvertToLocalRelation folds the projection, so the
    * collect runs no Spark job; duplicates fold on the driver. */
  private[graft] def targetBuckets(spark: SparkSession, ids: Seq[Long],
      buckets: Int): Set[Long] = {
    import spark.implicits._
    withBucket(ids.toDF("doc_id"), buckets).select("bucket")
      .collect().map(_.getLong(0)).toSet
  }

  /** Build the snapshot frame for a (sub)set of one version's manifest
    * entries, schema-validated against the version's declaration. */
  private def assemble(spark: SparkSession, root: String, v: Long,
      entries: Seq[(Long, String)]): DataFrame = {
    // one scan per contributing version dir (the manifest-driven
    // [[StoreScan]] form: bucket partition column from the entries, file
    // statuses and the dir's physical schema from the immutable-dir
    // cache — no per-read listing/stat/inference, no listing jobs);
    // dirs ≤ retained versions, so the union stays tiny.
    // allowMissingColumns = schema evolution: a version that ADDED a column
    // unions with older versions' files by null-filling the gap — the
    // additive-only evolution contract of the log-structured table formats
    // (renames/drops are a rewrite, not an evolution).
    val dirDfs = entries.groupBy(_._2.split("/").take(2).mkString("/"))
      .toSeq.sortBy(_._1)
      .map { case (dir, es) =>
        (dir, StoreScan.scanDir(spark, root, dir, es))
      }
    // Validate every dir's PHYSICAL schema against the version's DECLARED
    // schema (the `#col` manifest lines): a column a dir stores under a
    // different type, or one the declaration no longer carries, is
    // non-additive drift and fails HERE with the column's name — not as
    // silent null-fill / silent type coercion downstream. Absence of a
    // declared column from a dir is fine: that IS additive evolution
    // (older files null-fill a later ADD). Legacy manifests without
    // declarations skip the check.
    declaredCols(spark, root, v).foreach { cols =>
      val types = cols.toMap
      dirDfs.foreach { case (dir, df) =>
        df.schema.fields.filterNot(f => ManagedCols.contains(f.name))
          .foreach { f =>
          types.get(f.name) match {
            case None => throw new SnapshotSchemaException(
              s"version $v at $root: column '${f.name}' " +
                s"(${f.dataType.catalogString}, stored in $dir) is missing " +
                "from the version's declared schema — dropped without a " +
                "full-rewrite commit")
            case Some(t) if t != f.dataType.catalogString =>
              throw new SnapshotSchemaException(
                s"version $v at $root: column '${f.name}' is declared $t " +
                  s"but $dir stores ${f.dataType.catalogString} — retyped " +
                  "without a full-rewrite commit")
            case _ =>
          }
        }
      }
    }
    dirDfs.map(_._2)
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .withColumn("doc_id", col("doc_id").cast("long"))
      .withColumn("bucket", col("bucket").cast("long"))
  }

  /** Newest version published at or before `tsMillis` (epoch millis) —
    * the TIMESTAMP-AS-OF form of time travel. Publish time = the
    * manifest file's storage mtime: operability metadata only, never
    * part of any query result, so the engine's no-wall-clock determinism
    * rule is untouched. Among eligible manifests the HIGHEST version
    * wins (version order is the commit order; mtime ties/skew cannot
    * reorder history). */
  def versionAsOf(spark: SparkSession, root: String,
      tsMillis: Long): Option[Long] = {
    val dir = new Path(root, "_versions")
    val f = fs(spark, root)
    if (!f.exists(dir)) return None
    val vs = f.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(n) if st.getModificationTime <= tsMillis =>
          Some(n.toLong)
        case _ => None
      }
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** [[read]] of the snapshot current as of `tsMillis`; named error when
    * nothing was published yet (or the asked-for history was vacuumed —
    * retention bounds how far back a timestamp can reach). */
  def readAsOf(spark: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    read(spark, root, versionAsOf(spark, root, tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no version published at or before epoch-millis $tsMillis at " +
          s"$root — too early, or that history was vacuumed")))

  /** Keyed upsert as a new version: every doc_id in `reingestedDocs` has
    * its old vectors dropped and `newRows`' replacements added, touching
    * only the buckets those documents hash to; all other buckets' files
    * carry forward into the new manifest unrewritten. A re-ingest that
    * yields zero rows for a document deletes its vectors ("upsert equals
    * fresh rebuild" holds in the empty edge). Returns the new version. */
  def upsert(spark: SparkSession, newRows: DataFrame,
      reingestedDocs: DataFrame, root: String, buckets: Int,
      meta: Seq[String] = Nil,
      expectedVersion: Option[Long] = None): Long = {
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — commit() an initial snapshot first"))
    // Bucket-count guard: hashing fresh rows with a DIFFERENT modulus
    // than the stored layout would land them in the wrong partitions AND
    // make the touched-bucket delete miss stale rows — silent corruption,
    // so a mismatch is a named error, not a trusted parameter.
    storedBuckets(spark, root, cur).foreach { b =>
      if (b != buckets)
        throw new IllegalArgumentException(
          s"SnapshotStore: store at $root is bucketed $b ways but the " +
            s"upsert passed buckets = $buckets — a mismatched modulus " +
            "would corrupt the keyed delete; pass the stored count")
    }
    val fresh = withBucket(newRows, buckets)
    // Retype guard — at WRITE time, because the union below would coerce
    // a retyped fresh column to the common type and write already-merged
    // files, masking the drift from read()'s declared-vs-stored check.
    // Fresh rows MAY omit stored columns (their rows null-fill — the
    // additive contract's read behavior applied at write) and MAY add
    // new ones; they may never change a stored column's type.
    val curCols = declaredCols(spark, root, cur).getOrElse(
      schemaCols(read(spark, root, cur).schema))
    val curTypes = curCols.toMap
    fresh.schema.fields.filterNot(f => ManagedCols.contains(f.name))
      .foreach { f =>
      curTypes.get(f.name).foreach { t =>
        if (t != f.dataType.catalogString)
          throw new SnapshotSchemaException(
            s"upsert retypes column '${f.name}': stored $t, upsert rows " +
              s"${f.dataType.catalogString} at $root — retyping is not " +
              "additive evolution; use commit(allowSchemaChange = true) " +
              "for an intentional rewrite")
      }
    }
    // CHECK constraints enforce on the FRESH rows only (carried rows
    // passed at their own write), with stored columns the fresh rows
    // omit null-filled — matching what the union below actually writes
    // (SQL CHECK: null passes)
    val checks = storedChecks(spark, root, cur)
    if (checks.nonEmpty) {
      val freshNames = newRows.schema.fieldNames.toSet
      val checkTarget = curCols.filterNot(c => freshNames.contains(c._1))
        .foldLeft(newRows) { case (df, (n, t)) =>
          df.withColumn(n, lit(null).cast(t))
        }
      validateChecks(checkTarget, checks, root)
    }
    // union newRows' own ids: a doc present in newRows but omitted from
    // reingestedDocs must replace, not duplicate, its old vectors.
    // Checkpointed (ids only — delta-bounded at any scale): three
    // consumers below (touched-bucket probe, prune-cap count, candidate
    // stat/bloom probes) would otherwise each re-evaluate the id
    // projection of the fresh rows' lineage — for a fingerprint upsert
    // that projection cannot prune past the per-document explode, so
    // every probe re-ran the full k-gram scan (measured: 3× the batch
    // hashing cost per d28-shaped upsert).
    // LAZY checkpoint: the grouped count right below references this
    // frame exactly once, so its job materializes the checkpoint —
    // eager + collect would pay the same pass twice (two jobs); the
    // remaining consumers plan after the collect and read the
    // materialized blocks
    val upserted = reingestedDocs.select(col("doc_id").cast("long")
      .as("doc_id"))
      .union(newRows.select(col("doc_id").cast("long").as("doc_id")))
      .distinct()
      .localCheckpoint(false)
    // fresh's buckets need no extra union here: upserted already
    // contains every newRows doc_id, and both hash through the same
    // withBucket expression. Grouped count instead of distinct: the SAME
    // one job also yields the distinct-id total (upserted is distinct by
    // construction), which docIdCandidates' cardinality guard needs —
    // previously a separate limit+count job per upsert.
    val bucketCounts = withBucket(upserted, buckets).groupBy("bucket")
      .agg(count(lit(1)).as("n")).collect()
    val touched = bucketCounts.map(_.getLong(0)).toSet
    val nUpserted = bucketCounts.map(_.getAs[Long]("n")).sum
    // only the TOUCHED buckets' entries ever reach the driver (the
    // untouched rest of the store carries through publishDelta without
    // being resolved): upsert driver work is ∝ touched-bucket files,
    // never ∝ live files
    val touchedEntries = entriesInBuckets(spark, root, cur, touched)
    // KEY-PRUNED read-merge-write: with a doc_id stats/bloom declaration,
    // only the touched buckets' files that CAN contain an upserted id are
    // read and rewritten; provably-clean files carry verbatim — upsert
    // cost ∝ admitting files, not whole-bucket file counts (at 10⁵+
    // one-row files per store this is the difference between rewriting
    // ~3k files per touched bucket and rewriting the handful that match).
    // The id set stays a FRAME end-to-end (docIdCandidates broadcasts a
    // Spark-aggregated id row) — no driver id collect, no size cap.
    val meta0 = manifestMeta(spark, root, cur)
    val hasDocIdMeta =
      statColsLineOf(meta0).map(parseStatCols).getOrElse(Nil)
        .contains("doc_id") ||
      bloomColsLineOf(meta0).map(parseBloomCols)
        .exists(_._1.contains("doc_id"))
    val (candidateEntries, cleanEntries) =
      if (!hasDocIdMeta || touchedEntries.isEmpty)
        (touchedEntries, Seq.empty[(Long, String)])
      else docIdCandidates(spark, root, meta0, touchedEntries,
        Right(upserted.select(col("doc_id"))), knownIdCount = nUpserted)
    val v = cur + 1
    val merged = {
      // carried survivors read through assemble — the same dir-grouped,
      // SCHEMA-VALIDATED path read() uses (the previous inline copy
      // skipped the declared-vs-stored check, so a drifted touched
      // bucket could be union-coerced and rewritten, masking the drift)
      val kept =
        if (candidateEntries.isEmpty) None
        else Some(assemble(spark, root, cur, candidateEntries)
          .join(upserted, Seq("doc_id"), "left_anti"))
      // allowMissingColumns: an upsert may carry new columns (schema
      // evolution) — surviving old rows null-fill them
      kept.map(_.unionByName(fresh, allowMissingColumns = true))
        .getOrElse(fresh)
    }
    // old files are immutable — no checkpoint fence needed before the
    // write; the attempt-unique dir keeps racers out of each other's files
    val dirName = writeVersionDir(merged, spark, root, v)
    // declared schema grows monotonically: current declaration + any
    // columns the fresh rows ADD (drops are impossible through upsert —
    // carried files retain every stored column)
    val newCols = curCols ++ schemaCols(fresh.schema)
      .filterNot { case (n, _) => curTypes.contains(n) }
    // delta publish: carried files (untouched buckets + provably-clean
    // candidates) are never enumerated — only the rewritten files drop
    // and the fresh files add
    publishDelta(spark, root, v,
      listVersionFiles(spark, root, dirName),
      candidateEntries.map(_._2).toSet,
      carriedTxn(spark, root, meta) ++
        carriedCheckLines(spark, root) ++
        newCols.map { case (n, t) => colLine(n, t) } ++
        Seq(bucketsLine(buckets), opLine("upsert")))
    v
  }

  private def txnLine(streamId: String, batchId: Long) =
    s"#txn\t$streamId\t$batchId"

  /** A `#txn` marker line for composing exactly-once batch publication
    * with verbs that derive their OWN meta (e.g.
    * [[VersionedIvf.upsertBatch]] carrying geometry lines): pass it in
    * that verb's `meta` and pair with [[lastCommittedBatch]] for the
    * replay check — exactly what [[commitBatch]] does internally. */
  def txnMarker(streamId: String, batchId: Long): String = {
    require(!streamId.exists(c => c == '\t' || c == '\n'),
      s"streamId must not contain tab/newline: '$streamId'")
    txnLine(streamId, batchId)
  }

  /** Latest `#txn` marker per stream across published manifests, minus
    * streams `fresh` re-marks — carried into EVERY new manifest so the
    * newest manifest always holds the full replay state: a maintenance
    * commit ([[optimize]]) or manifest retention ([[vacuum]]) can then
    * never destroy the exactly-once contract. O(retained manifests) tiny
    * reads per commit, bounded by vacuum. */
  private def carriedTxn(spark: SparkSession, root: String,
      fresh: Seq[String]): Seq[String] = {
    val freshStreams = fresh.collect {
      case l if l.startsWith("#txn\t") => l.split("\t", 3)(1)
    }.toSet
    val dir = new Path(root, "_versions")
    val f = fs(spark, root)
    if (!f.exists(dir)) return fresh
    val vs = f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case VersionRe(n) => n.toLong
    }.sorted.reverse
    val seen = mutable.LinkedHashSet.empty[String]
    val carried = mutable.ArrayBuffer.empty[String]
    vs.foreach { v =>
      manifestMeta(spark, root, v).foreach { l =>
        if (l.startsWith("#txn\t")) {
          val sid = l.split("\t", 3)(1)
          if (!seen.contains(sid) && !freshStreams.contains(sid)) {
            seen += sid; carried += l
          }
        }
      }
    }
    fresh ++ carried.toSeq
  }

  /** Highest micro-batch id `streamId` has published, scanning manifests
    * newest-first (the Delta txn-action idea: the marker lives IN the
    * atomically renamed manifest, so it exists iff its data does). */
  def lastCommittedBatch(spark: SparkSession, root: String,
      streamId: String): Option[Long] = {
    val dir = new Path(root, "_versions")
    val f = fs(spark, root)
    if (!f.exists(dir)) return None
    val vs = f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case VersionRe(n) => n.toLong
    }.sorted.reverse
    val prefix = s"#txn\t$streamId\t"
    vs.iterator
      .flatMap(v => manifestMeta(spark, root, v))
      .collectFirst { case l if l.startsWith(prefix) =>
        l.stripPrefix(prefix).toLong }
  }

  /** Idempotent micro-batch commit — the exactly-once contract
    * Structured Streaming's foreachBatch needs from its sink: a REPLAYED
    * batch (failure before the checkpoint advanced) finds its batch id
    * already published and returns the current version untouched,
    * instead of double-applying. First batch against an empty store
    * publishes a full snapshot; later batches keyed-upsert (every doc_id
    * in `newRows` replaces its old vectors). Batch-stream caveat: a
    * batch cannot signal "this document now has zero rows" — deletions
    * go through the batch [[upsert]] with an explicit `reingestedDocs`.
    * Returns the (possibly pre-existing) published version. */
  def commitBatch(newRows: DataFrame, root: String, buckets: Int,
      streamId: String, batchId: Long): Long = {
    require(!streamId.exists(c => c == '\t' || c == '\n'),
      s"streamId must not contain tab/newline: '$streamId'")
    val spark = newRows.sparkSession
    val already = lastCommittedBatch(spark, root, streamId)
    if (already.exists(_ >= batchId))
      return currentVersion(spark, root).get
    val meta = Seq(txnLine(streamId, batchId))
    currentVersion(spark, root) match {
      case None => commit(newRows, root, buckets, meta)
      case Some(_) =>
        upsert(spark, newRows,
          newRows.select(col("doc_id")).distinct(), root, buckets, meta)
    }
  }

  /** OPTIMIZE: republish the current snapshot as a new, compacted version
    * — one file per bucket (each accumulated upsert leaves another small
    * file per touched bucket; reads degrade as manifests grow long). Data
    * is row-identical, old versions stay readable (time travel), and the
    * small files become unreferenced garbage for [[vacuum]]. The rewrite
    * shuffles once on the bucket column so each bucket lands whole in one
    * task → exactly one output file; `sortByDocId` (default) additionally
    * sorts each bucket's rows by doc_id IN THE SAME task's sort, so the
    * compacted files carry monotone doc_id row-group statistics and
    * [[readDocs]]' pushed `In(doc_id)` filter prunes row groups inside
    * the (already bucket-pruned) files — free at write time, paid back
    * on every point lookup. `maxRecordsPerFile` > 0 splits each
    * bucket's sorted run into successive files, giving [[readWhere]]'s
    * file-level stats pruning tight per-file envelopes to skip on
    * (size it to ~128–1024 MB files at production scale). Returns the
    * new version. */
  /** `onlyBuckets` non-empty = BUCKET-SCOPED compaction — the named
    * BUCKET IDS to compact, deliberately not called `buckets` (commit/
    * upsert's `buckets: Int` is a bucket COUNT; a caller writing
    * `Seq(8)` here means "bucket 8", never "8 buckets"): only the named
    * buckets' files are read, re-arranged, and rewritten; every other
    * manifest entry carries VERBATIM. This bounds the optimistic-
    * concurrency retry unit — a full-table OPTIMIZE under a busy writer
    * redoes the entire compaction per [[withConflictRetry]] attempt
    * (livelock at scale), a scoped one redoes only its buckets, so a
    * large table compacts incrementally as a series of small
    * transactions (the Delta/Iceberg partition-scoped OPTIMIZE idea
    * applied to this store's bucket layout). A scope that matches no
    * files is a version-free no-op. */
  def optimize(spark: SparkSession, root: String,
      expectedVersion: Option[Long] = None,
      sortByDocId: Boolean = true,
      zorderBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      sortBy: Seq[String] = Nil,
      onlyBuckets: Seq[Long] = Nil): Long = {
    require(maxRecordsPerFile >= 0,
      s"maxRecordsPerFile must be >= 0: $maxRecordsPerFile")
    require(zorderBy.isEmpty || sortBy.isEmpty,
      "SnapshotStore: zorderBy and sortBy are exclusive cluster orders — " +
        "z-order interleaves its columns, a lexical sort nests them")
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — nothing to optimize"))
    val v = cur + 1
    val bucketScope = onlyBuckets.toSet
    val allEntries = readManifest(spark, root, cur)
    val (scoped, carriedEntries) =
      if (bucketScope.isEmpty) (allEntries, Seq.empty[(Long, String)])
      else allEntries.partition(e => bucketScope.contains(e._1))
    if (bucketScope.nonEmpty && scoped.isEmpty) return cur
    val snap =
      if (bucketScope.isEmpty) read(spark, root, cur)
      else assemble(spark, root, cur, scoped)
    sortBy.foreach { c =>
      require(snap.schema.fieldNames.contains(c),
        s"SnapshotStore: sortBy column '$c' does not exist at $root — " +
          s"stored columns: ${snap.schema.fieldNames.mkString(", ")}")
    }
    zorderBy.foreach { c =>
      val f = snap.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"SnapshotStore: zorderBy column '$c' does not exist at $root — " +
            s"stored columns: ${snap.schema.fieldNames.mkString(", ")}"))
      // a non-numeric column would cast to null inside ZOrder.bucket and
      // silently degrade the whole layout to insertion order — the same
      // silent-corruption class as a wrong bucket modulus, so: named error
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
        case t => throw new IllegalArgumentException(
          s"SnapshotStore: zorderBy column '$c' has non-clusterable type " +
            s"${t.catalogString} — z-ordering needs numeric/timestamp " +
            "columns (anything else min-max-normalizes to null and would " +
            "silently degrade the layout to insertion order)")
      }
    }
    val arranged =
      if (zorderBy.nonEmpty) {
        // OPTIMIZE ZORDER: each compacted bucket file's rows follow the
        // Morton curve over the clustering columns, so row-group min/max
        // envelopes are tight on EVERY clustering column at once and a
        // range predicate on any of them prunes row groups inside the
        // bucket-pruned files (ZOrder.zValue — the Delta/Iceberg OPTIMIZE
        // ZORDER idea applied to this store's bucket layout).
        // Normalization stats are a 1-row broadcast; doc_id breaks ties
        // so the layout is deterministic.
        val stats = snap.agg(
          zorderBy.flatMap(c => Seq(min(col(c)).as(s"graft_lo_$c"),
            max(col(c)).as(s"graft_hi_$c"))).head,
          zorderBy.flatMap(c => Seq(min(col(c)).as(s"graft_lo_$c"),
            max(col(c)).as(s"graft_hi_$c"))).tail: _*)
        val bucketed = zorderBy.map(c => ZOrder.bucket(col(c),
          col(s"graft_lo_$c"), col(s"graft_hi_$c"), bits = 8))
        snap.crossJoin(broadcast(stats))
          .withColumn("graft_zv", ZOrder.zValue(bucketed, bits = 8))
          .repartition(col("bucket"))
          .sortWithinPartitions(col("bucket"), col("graft_zv"),
            col("doc_id"))
          .drop(zorderBy.flatMap(c =>
            Seq(s"graft_lo_$c", s"graft_hi_$c")) :+ "graft_zv": _*)
      } else if (sortBy.nonEmpty)
        // OPTIMIZE SORT: lexical (nested) cluster order — the right
        // layout for a SINGLE hot predicate column, and the only one
        // for STRING columns (which z-order's min-max normalization
        // cannot bucket); with maxRecordsPerFile each bucket's sorted
        // run splits into files with tight leading-column envelopes
        snap.repartition(col("bucket"))
          .sortWithinPartitions(
            col("bucket") +: sortBy.map(col) :+ col("doc_id"): _*)
      else if (sortByDocId)
        // lead with the partition column: FileFormatWriter keeps a sort
        // already prefixed by it, instead of inserting its own re-sort
        snap.repartition(col("bucket"))
          .sortWithinPartitions(col("bucket"), col("doc_id"))
      else snap.repartition(col("bucket"))
    // maxRecordsPerFile splits each bucket's SORTED run into successive
    // files — with a cluster order (sortByDocId / zorderBy) each file's
    // min/max envelope on the cluster columns is tight, which is what
    // makes [[readWhere]]'s stats pruning bite (one file per bucket
    // spans the whole value range and nothing could ever prune)
    val dirName = writeVersionDir(arranged, spark, root, v,
      maxRecordsPerFile)
    // full form: declare what was physically WRITTEN (the snapshot's
    // union schema, payload types now guaranteed uniform by the read
    // validation) — also materializes a declaration for legacy stores.
    // Scoped form: the CURRENT declaration must carry — the scoped
    // subset's union schema can MISS a column only other buckets' files
    // store, and declaring that narrower schema would fail the carried
    // files' read-time validation as an undeclared column.
    val declaredSeq =
      if (bucketScope.isEmpty) schemaCols(snap.schema)
      else declaredCols(spark, root, cur).getOrElse(
        schemaCols(read(spark, root, cur).schema))
    publish(spark, root, v,
      carriedEntries ++ listVersionFiles(spark, root, dirName),
      carriedTxn(spark, root, Nil) ++
        carriedCheckLines(spark, root) ++
        declaredSeq.map { case (n, t) => colLine(n, t) } ++
        storedBuckets(spark, root, cur).map(bucketsLine).toSeq :+
        opLine(if (bucketScope.isEmpty) "optimize" else "optimize_scoped"))
    v
  }

  /** Fragmentation-driven AUTO-COMPACTION — the policy form of the
    * scoped [[optimize]], sized for a micro-batch writer: every
    * streamed [[commitBatch]]/upsert leaves another small file per
    * touched bucket, so under a minute-cadence stream a store
    * accumulates thousands of files per bucket per day and reads
    * degrade linearly in file count (the reference's per-batch Pinecone
    * upserts, `parser_pinecone_storage.py:146-154`, lean on the service
    * to hide this; a lakehouse table has to compact). The probe is
    * metadata-only — one HEAD manifest read (delta-bounded / entryfile-
    * backed, never O(files) text parsing) grouped to per-bucket file
    * counts — and the rewrite is SCOPED to the buckets actually over
    * `maxFilesPerBucket`, so the cost of a compaction round is
    * O(fragmented buckets' data), not O(table): exactly the
    * incremental-OPTIMIZE shape that keeps a 100 TB store's maintenance
    * a stream of small transactions instead of a daily full rewrite.
    * Returns Some(newVersion) when a compaction published, None when
    * the store is absent or within budget. Row data, txn markers (the
    * exactly-once replay state), checks, stats declarations, and
    * foreign meta all carry through [[optimize]] unchanged — a
    * compaction is invisible to readers and to stream replay. */
  def optimizeFragmented(spark: SparkSession, root: String,
      maxFilesPerBucket: Int,
      maxRecordsPerFile: Long = 0L,
      sortByDocId: Boolean = true): Option[Long] = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket must be >= 1: $maxFilesPerBucket")
    currentVersion(spark, root).flatMap { cur =>
      val fragmented = readManifest(spark, root, cur)
        .groupMapReduce(_._1)(_ => 1)(_ + _)
        .collect { case (b, n) if n > maxFilesPerBucket => b }
        .toSeq.sorted
      if (fragmented.isEmpty) None
      else Some(optimize(spark, root, expectedVersion = Some(cur),
        sortByDocId = sortByDocId, maxRecordsPerFile = maxRecordsPerFile,
        onlyBuckets = fragmented))
    }
  }

  /** Declare the payload columns the store keeps per-file min/max
    * statistics for — the explicit-by-name form of Delta's
    * data-skipping column set. Publishes a metadata-only version whose
    * manifest carries a `#statcols` line plus one `#stat` line per
    * (file, column); the backfill for existing files runs here as ONE
    * bounded columnar job per contributing dir, reading only the
    * declared columns. Every later publish — commit, upsert, streaming
    * batch, optimize, restore — then maintains stats automatically,
    * computing them only for its NEW files (files are immutable, so a
    * recorded envelope is valid forever; carried files carry their
    * lines). Numeric / date / timestamp columns record exact envelopes;
    * STRING columns record 32-code-point TRUNCATED envelopes under
    * explicit BINARY collation (lower bound truncates down, upper bound
    * increments the last non-0xFF byte of the truncation — the
    * Delta/Iceberg rule), so prefix/range scans over text keys prune
    * without the classic truncation/collation correctness traps: every
    * recorded envelope CONTAINS the true one, and the comparison orders
    * raw UTF-8 bytes on both write and probe side. `doc_id` point reads
    * already have [[readDocs]]' bucket pruning. Returns the new
    * version. */
  def declareStats(spark: SparkSession, root: String, cols: Seq[String],
      expectedVersion: Option[Long] = None): Long = {
    require(cols.nonEmpty, "declareStats needs at least one column")
    cols.foreach { c =>
      require(!c.exists(ch =>
        ch == ',' || ch == '\t' || ch == '\n' || ch == '\r'),
        s"stats column name '$c' contains a separator character")
    }
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — commit() first, then " +
          "declare stats"))
    val declared = declaredCols(spark, root, cur).getOrElse(
      schemaCols(read(spark, root, cur).schema)).toMap
    cols.foreach { c =>
      if (c == "bucket")
        throw new IllegalArgumentException(
          "SnapshotStore: cannot declare stats on the derived partition " +
            "column 'bucket' — the manifest already keys entries by it")
      // doc_id IS declarable (it is absent from the payload declaration
      // — the store manages it, normalized to long): its per-file
      // envelopes are what lets upsert/readDocs touch only the files
      // that can contain the incoming keys instead of whole buckets
      if (c != "doc_id") {
        val t = declared.getOrElse(c,
          throw new IllegalArgumentException(
            s"SnapshotStore: stats column '$c' does not exist at $root — " +
              s"stored columns: ${declared.keys.toSeq.sorted.mkString(", ")}"))
        import org.apache.spark.sql.types._
        DataType.fromDDL(t) match {
          case _: NumericType =>
          case DateType | TimestampType | TimestampNTZType =>
          case StringType => // truncated binary-collation envelopes
          case dt => throw new IllegalArgumentException(
            s"SnapshotStore: stats column '$c' has non-clusterable type " +
              s"${dt.catalogString} — file skipping needs numeric/date/" +
              "timestamp/string bounds")
        }
      }
    }
    val v = cur + 1
    publish(spark, root, v, readManifest(spark, root, cur),
      manifestMeta(spark, root, cur).filterNot(l =>
        l.startsWith("#op\t") || l.startsWith("#statcols\t") ||
        l.startsWith("#stat\t")) ++
        Seq(statColsLine(cols), opLine("declare_stats")))
    v
  }

  /** A `#statcols` manifest line for declaring file statistics AT
    * FIRST COMMIT (pass via `commit(meta = Seq(...))`) — same effect
    * as a later [[declareStats]] without spending an extra metadata
    * version. The live-store type/existence checks run in
    * [[declareStats]] only; a column declared this way that turns out
    * non-clusterable simply records unprunable envelopes. */
  def statsDeclaration(cols: Seq[String]): String = {
    require(cols.nonEmpty, "statsDeclaration needs at least one column")
    cols.foreach { c =>
      require(!c.exists(ch =>
        ch == ',' || ch == '\t' || ch == '\n' || ch == '\r'),
        s"stats column name '$c' contains a separator character")
    }
    statColsLine(cols)
  }

  /** A `#bloomcols` manifest line for declaring Bloom filters at first
    * commit — the [[statsDeclaration]] analog of [[declareBloom]]. */
  def bloomDeclaration(cols: Seq[String], bits: Int = 65536): String = {
    require(cols.nonEmpty, "bloomDeclaration needs at least one column")
    require(bits >= 64 && bits <= (1 << 24),
      s"bloom bits out of range [64, 2^24]: $bits")
    cols.foreach { c =>
      require(!c.exists(ch =>
        ch == ',' || ch == '\t' || ch == '\n' || ch == '\r'),
        s"bloom column name '$c' contains a separator character")
    }
    bloomColsLine(cols, bits)
  }

  /** Remove the file-statistics declaration (and all `#stat` lines)
    * with a metadata-only version — the undo for [[declareStats]]:
    * without it a mis-declared column set would tax every future
    * publish with its stats job forever. Reads keep working (files
    * without stats are simply never pruned); a later re-declare
    * backfills from scratch. Returns the new version. */
  def dropStats(spark: SparkSession, root: String,
      expectedVersion: Option[Long] = None): Long = {
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — nothing to drop"))
    if (storedStatCols(spark, root, cur).isEmpty)
      throw new IllegalArgumentException(
        s"SnapshotStore: no file statistics declared at $root — " +
          "nothing to drop")
    val v = cur + 1
    // an EMPTY `#statcols` line is the explicit tombstone: publish
    // carries a missing declaration forward from the parent manifest
    // (so plain removal would resurrect it), but an empty declaration
    // means "stats off" and wins the carry
    publish(spark, root, v, readManifest(spark, root, cur),
      manifestMeta(spark, root, cur).filterNot(l =>
        l.startsWith("#op\t") || l.startsWith("#statcols\t") ||
        l.startsWith("#stat\t")) ++
        Seq(statColsLine(Nil), opLine("drop_stats")))
    v
  }

  /** Declare per-file BLOOM membership filters for point-lookup
    * skipping — the Delta bloom-index idea, and the complement of
    * [[declareStats]]: min/max envelopes only prune when the layout
    * CLUSTERS the column, while a Bloom filter prunes equality probes
    * on ANY distribution — including high-cardinality STRING keys,
    * which range stats refuse outright (truncation/collation traps
    * don't exist for hashes). Backfill runs here; every later publish
    * maintains bitsets for its new files only (same carry discipline
    * as stats — files are immutable). One `#bloom` line per (file,
    * column), base64 of a `bits`-wide bitset, K = 4 probe positions
    * hashed by Spark expressions on BOTH write and probe side.
    * Sizing: false-positive rate ≈ (1−e^(−4n/bits))⁴ for n distinct
    * values per file — default 65536 bits ≈ 0.5% at n = 5000, ~11 KB
    * of manifest per (file, column). Supported types: string /
    * integral / date (stable canonical string forms); a Bloom filter
    * answers only equality, so floats' representation drift is refused
    * by name. */
  def declareBloom(spark: SparkSession, root: String, cols: Seq[String],
      bits: Int = 65536,
      expectedVersion: Option[Long] = None): Long = {
    require(cols.nonEmpty, "declareBloom needs at least one column")
    require(bits >= 64 && bits <= (1 << 24),
      s"bloom bits out of range [64, 2^24]: $bits")
    cols.foreach { c =>
      require(!c.exists(ch =>
        ch == ',' || ch == '\t' || ch == '\n' || ch == '\r'),
        s"bloom column name '$c' contains a separator character")
    }
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — commit() first, then " +
          "declare bloom filters"))
    val declared = declaredCols(spark, root, cur).getOrElse(
      schemaCols(read(spark, root, cur).schema)).toMap
    cols.foreach { c =>
      if (c == "bucket")
        throw new IllegalArgumentException(
          "SnapshotStore: cannot declare a bloom on the derived " +
            "partition column 'bucket'")
      // doc_id is declarable — hashed through cast('long') on the write
      // side so int/long physical variance across version dirs cannot
      // split the canonical form (see computeFileMeta); the key-pruned
      // upsert/readDocs paths probe it as LongType
      if (c != "doc_id") {
        val t = declared.getOrElse(c,
          throw new IllegalArgumentException(
            s"SnapshotStore: bloom column '$c' does not exist at $root — " +
              s"stored columns: ${declared.keys.toSeq.sorted.mkString(", ")}"))
        import org.apache.spark.sql.types._
        DataType.fromDDL(t) match {
          case StringType | DateType =>
          case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
          case dt => throw new IllegalArgumentException(
            s"SnapshotStore: bloom column '$c' has type ${dt.catalogString}" +
              " — membership hashing needs a stable canonical form " +
              "(string/integral/date); float and decimal renderings drift")
        }
      }
    }
    val v = cur + 1
    publish(spark, root, v, readManifest(spark, root, cur),
      manifestMeta(spark, root, cur).filterNot(l =>
        l.startsWith("#op\t") || l.startsWith("#bloomcols\t") ||
        l.startsWith("#bloom\t")) ++
        Seq(bloomColsLine(cols, bits), opLine("declare_bloom")))
    v
  }

  /** Undo for [[declareBloom]] — empty-declaration tombstone, same
    * carry semantics as [[dropStats]]. */
  def dropBloom(spark: SparkSession, root: String,
      expectedVersion: Option[Long] = None): Long = {
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — nothing to drop"))
    if (storedBloomCols(spark, root, cur).isEmpty)
      throw new IllegalArgumentException(
        s"SnapshotStore: no bloom filters declared at $root — " +
          "nothing to drop")
    val v = cur + 1
    publish(spark, root, v, readManifest(spark, root, cur),
      manifestMeta(spark, root, cur).filterNot(l =>
        l.startsWith("#op\t") || l.startsWith("#bloomcols\t") ||
        l.startsWith("#bloom\t")) ++
        Seq(bloomColsLine(Nil, 64), opLine("drop_bloom")))
    v
  }

  /** Columns a version keeps Bloom filters for (`#bloomcols`). */
  def storedBloomCols(spark: SparkSession, root: String,
      v: Long): Seq[String] =
    manifestMeta(spark, root, v).collectFirst {
      case l if l.startsWith("#bloomcols\t") => parseBloomCols(l)._1
    }.getOrElse(Nil)

  /** `dt` is the column's DECLARED type: the write side hashed
    * `cast(storedColumn as string)`, so the probe must hash
    * `cast(lit(value) as dt)` — probing the value's natural type (a
    * Double 42.0 on a bigint bloom hashing "42.0" vs stored "42") would
    * be a bloom FALSE NEGATIVE: readPoint silently returns zero rows
    * and deletePoint silently no-ops even though the residual equality
    * (which does cast) would match. */
  private def bloomKeptEntries(spark: SparkSession, root: String,
      v: Long, colName: String, value: Any,
      dt: org.apache.spark.sql.types.DataType): Seq[(Long, String)] = {
    val meta = manifestMeta(spark, root, v)
    val decl = bloomColsLineOf(meta).map(parseBloomCols)
    decl match {
      case Some((cols, bits)) if cols.contains(colName) =>
        // probe positions via the SAME Spark expressions the write
        // side used — a driver-side hash reimplementation could drift.
        // Evaluated over a 1-row LOCAL relation: ConvertToLocalRelation
        // folds the deterministic hash projection, so the collect is a
        // driver-local LocalTableScan — no Spark job (range(1) paid a
        // full job per point probe).
        val posRow = {
          import spark.implicits._
          Seq(1).toDF("graft_one")
            .select(bloomPositions(lit(value).cast(dt), bits): _*)
            .collect().head
        }
        val probes = (0 until BloomK).map(posRow.getInt)
        val dec = java.util.Base64.getDecoder
        val bitsets = meta.filter(_.startsWith("#bloom\t")).flatMap { l =>
          val a = l.split("\t", 4)
          if (a.length == 4 && a(2) == colName)
            Some(a(1) -> java.util.BitSet.valueOf(dec.decode(a(3))))
          else None
        }.toMap
        // sidecar bitsets test ON THE EXECUTORS and the live entry
        // frame anti-joins the rejected frame there too, so the driver
        // collects only the ADMITTED entries — the files the point read
        // will actually open (round 10; the round-9 form collected the
        // rejected set, nearly the live list when pruning works). A
        // file absent from the sidecar is not rejected and scans, same
        // as a missing inline line; the driver never holds bitset
        // bytes.
        val kept = metaFileRelOf(meta) match {
          case None =>
            // no sidecar ⇒ every bitset is an inline line: the entry
            // list is already driver-held (readManifest — zero jobs for
            // an inline-mode store; one bounded entryfile collect
            // otherwise), so round-tripping it through a parallelized
            // frame + collect was a pure Spark-job tax per point probe
            readManifest(spark, root, v).sortBy(identity)
          case Some(rel) =>
            val pr = probes.toArray
            import spark.implicits._
            val rejected = sidecarDf(spark, root, rel)
              .filter(col("kind") === "bloom" && col("col") === colName)
              .select("rel", "bloom")
              .as[(String, Array[Byte])]
              .flatMap { case (p, bytes) =>
                val bs = java.util.BitSet.valueOf(bytes)
                if (pr.forall(bs.get)) None else Some(p)
              }.toDF("rel")
            liveEntriesDf(spark, root, v)
              .join(rejected, Seq("rel"), "left_anti")
              .select("bucket", "rel")
              .collect()
              .map(r => (r.getLong(0), r.getString(1))).toSeq
              .sortBy(identity)
        }
        // inline lines (threshold-bounded) re-filter the collected
        // admits driver-side; files are immutable, so an inline and a
        // stale sidecar row for the same (file, col) can never disagree
        kept.filter { case (_, p) =>
          bitsets.get(p).forall(bs => probes.forall(bs.get))
        }
      case _ => readManifest(spark, root, v)
    }
  }

  /** Does a recorded doc_id [min, max] envelope ADMIT any of `sorted`
    * ids? (false = the file provably contains none). Pure — runs on the
    * driver for inline lines and inside the sidecar scan on executors.
    * Missing/unparseable bounds admit (conservative). */
  private def statsAdmitIds(sorted: Array[Long], rows: Long, nulls: Long,
      mn: Option[String], mx: Option[String]): Boolean = {
    if (rows > 0 && nulls == rows) return false // all-null file: no ids
    (mn.flatMap(parseBd), mx.flatMap(parseBd)) match {
      case (Some(lo), Some(hi)) =>
        // first id >= lo (ids sorted), then check it is <= hi
        var l = 0
        var r = sorted.length
        while (l < r) {
          val m = (l + r) >>> 1
          if (java.math.BigDecimal.valueOf(sorted(m)).compareTo(lo) < 0)
            l = m + 1
          else r = m
        }
        l < sorted.length &&
          java.math.BigDecimal.valueOf(sorted(l)).compareTo(hi) <= 0
      case _ => true
    }
  }

  /** Does a doc_id bloom bitset admit ANY of the probe-position sets? */
  private def bloomAdmitsIds(bytes: Array[Byte],
      probes: Array[Array[Int]]): Boolean = {
    val bs = java.util.BitSet.valueOf(bytes)
    probes.exists(_.forall(bs.get))
  }

  /** Split `entries` into (candidates, provablyClean) for an upserted/
    * looked-up doc_id set — the [[deletePoint]] candidate trick applied
    * to the KEY column: a file whose doc_id stats envelope contains
    * none of the ids, or whose doc_id bloom bitset rejects all of them,
    * PROVABLY holds no row any of the ids could replace or match
    * (bloom false negatives impossible, stats envelopes sound), so
    * upsert carries it verbatim and readDocs never opens it. Requires a
    * doc_id stats/bloom declaration; without one everything is a
    * candidate.
    *
    * Where the verdicts run:
    *  - ids the driver already holds (`Left` — readDocs' argument) on a
    *    store whose `#stat`/`#bloom` lines are all INLINE: on the
    *    driver, over the lines the manifest text already holds, with
    *    bloom probe positions from the SAME [[bloomPositions]]
    *    expressions over a local relation — no Spark job;
    *  - a sidecar store, or an id FRAME (`Right` — upsert's fresh ids,
    *    with their distinct count in `knownIdCount` when known): the id
    *    set is sorted/probe-expanded by Spark aggregates into a single
    *    row that broadcast-joins against the sidecar rows AND the inline
    *    lines (threshold-bounded, parallelized into the same frames), so
    *    a frame's ids never reach user driver code; the verdicts
    *    evaluate ON EXECUTORS with the id array materialized once per
    *    partition, and only the REJECTED relpaths collect. Driver-held
    *    ids skip the aggregates: their sorted array and probe positions
    *    ride one-row local relations. */
  private def docIdCandidates(spark: SparkSession, root: String,
      meta: Seq[String], entries: Seq[(Long, String)],
      ids: Either[Seq[Long], DataFrame], knownIdCount: Long = -1L)
      : (Seq[(Long, String)], Seq[(Long, String)]) = {
    if (entries.isEmpty) return (entries, Nil)
    val statDeclared = statColsLineOf(meta).map(parseStatCols)
      .getOrElse(Nil).contains("doc_id")
    val bloomDecl = bloomColsLineOf(meta).map(parseBloomCols)
      .filter(_._1.contains("doc_id"))
    if (!statDeclared && bloomDecl.isEmpty) return (entries, Nil)
    import spark.implicits._
    val sideRel = metaFileRelOf(meta)
    val held = ids.left.toOption.map(_.distinct.sorted.toArray)
    lazy val idsL = ids.fold(_.toDF("doc_id"), identity)
      .select(col("doc_id").cast("long").as("id")).distinct()
    // Cardinality guard: the pruning machinery below funnels the WHOLE
    // distinct id set through one collect_list row (and one probe-array
    // row for bloom) that is broadcast and materialized per partition.
    // Past ~hundreds of thousands of keys that single aggregate row is
    // an executor-OOM / broadcast-size risk — and in that regime the
    // stats envelopes admit nearly every file anyway, so pruning buys
    // nothing. A cheap bounded probe (limit(cap+1).count stops counting
    // at cap+1) restores the graceful whole-bucket fallback: every
    // entry stays a candidate, nothing is carried by key pruning.
    // Callers that already hold the DISTINCT id count (upsert's touched-
    // bucket rollup, a driver-held id list) skip the job.
    val idCount = held.map(_.length.toLong).getOrElse(knownIdCount)
    if (idCount >= 0) {
      if (idCount > docIdPruneCap) return (entries, Nil)
    } else if (idsL.limit(docIdPruneCap + 1).count() > docIdPruneCap)
      return (entries, Nil)
    val dec = java.util.Base64.getDecoder
    lazy val inlineStats =
      meta.filter(_.startsWith("#stat\t")).flatMap { l =>
        val a = l.split("\t", 7)
        if (a.length == 7 && a(2) == "doc_id")
          Some((a(1), a(3).toLong, a(4).toLong,
            Some(a(5)).filter(_.nonEmpty), Some(a(6)).filter(_.nonEmpty)))
        else None
      }
    lazy val inlineBlooms =
      meta.filter(_.startsWith("#bloom\t")).flatMap { l =>
        val a = l.split("\t", 4)
        if (a.length == 4 && a(2) == "doc_id")
          Some((a(1), dec.decode(a(3))))
        else None
      }
    // probe positions of driver-held ids via the SAME Spark hash
    // expressions as the write side (which hashed cast(doc_id as long)
    // cast to string), over a local relation whose projection folds —
    // this collect runs no job
    val heldProbes = for ((_, bits) <- bloomDecl; sorted <- held)
      yield sorted.toSeq.toDF("id")
        .select(array(bloomPositions($"id", bits): _*))
        .collect().map(_.getSeq[Int](0).toArray)
    // stat and bloom verdicts evaluate as TWO branches of ONE unioned
    // frame — a single job/collect where this used to launch one of
    // each (two broadcast builds, two stage rounds, per upsert)
    lazy val statRej: Option[DataFrame] =
      if (!statDeclared) None
      else {
        // inline lines ride the same executor-side evaluation as
        // sidecar rows
        val inlineDf = inlineStats
          .toDF("rel", "rows", "nulls", "mn", "mx")
        val sideDf = sideRel.map(rel => sidecarDf(spark, root, rel)
          .filter(col("kind") === "stat" && col("col") === "doc_id")
          .select("rel", "rows", "nulls", "mn", "mx"))
        val statRows = sideDf.map(_.unionByName(inlineDf))
          .getOrElse(inlineDf)
        // driver-held ids ride as a one-row local relation; a frame's
        // ids are sorted by an aggregate
        val idArr = held.fold(
          idsL.agg(sort_array(collect_list($"id")).as("ids")))(
          sorted => Seq(sorted.toSeq).toDF("ids"))
        Some(statRows.crossJoin(broadcast(idArr))
          .as[(String, Long, Long, Option[String], Option[String],
            Seq[Long])]
          .mapPartitions { it =>
            var sorted: Array[Long] = null
            it.flatMap { case (p, rows, nulls, mn, mx, idSeq) =>
              if (sorted == null) sorted = idSeq.toArray
              if (statsAdmitIds(sorted, rows, nulls, mn, mx)) None
              else Some(p)
            }
          }.toDF("rel"))
      }
    lazy val bloomRej: Option[DataFrame] = bloomDecl.map { case (_, bits) =>
      val inlineDf = inlineBlooms.toDF("rel", "bloom")
      val sideDf = sideRel.map(rel => sidecarDf(spark, root, rel)
        .filter(col("kind") === "bloom" && col("col") === "doc_id")
        .select("rel", "bloom"))
      val bloomRows = sideDf.map(_.unionByName(inlineDf))
        .getOrElse(inlineDf)
      val probesRow = heldProbes.fold(idsL
        .select(array(bloomPositions($"id", bits): _*).as("ps"))
        .agg(collect_list($"ps").as("pss")))(
        pr => Seq(pr.map(_.toSeq).toSeq).toDF("pss"))
      bloomRows.crossJoin(broadcast(probesRow))
        .as[(String, Array[Byte], Seq[Seq[Int]])]
        .mapPartitions { it =>
          var probes: Array[Array[Int]] = null
          it.flatMap { case (p, bytes, pss) =>
            if (probes == null) probes = pss.map(_.toArray).toArray
            if (bloomAdmitsIds(bytes, probes)) None else Some(p)
          }
        }.toDF("rel")
    }
    val rejected = (held, sideRel) match {
      // driver-held ids, every verdict line inline: evaluate right here
      case (Some(sorted), None) =>
        val statRejected = if (!statDeclared) Nil
          else inlineStats.collect { case (p, rows, nulls, mn, mx)
            if !statsAdmitIds(sorted, rows, nulls, mn, mx) => p }
        val bloomRejected = heldProbes.toSeq.flatMap(pr =>
          inlineBlooms.collect {
            case (p, bytes) if !bloomAdmitsIds(bytes, pr) => p })
        (statRejected ++ bloomRejected).toSet
      case _ =>
        (statRej.toSeq ++ bloomRej.toSeq)
          .reduce(_.unionByName(_))
          .collect().map(_.getString(0)).toSet
    }
    entries.partition(e => !rejected.contains(e._2))
  }

  /** Equality point read with BLOOM FILE SKIPPING: scan only the files
    * whose Bloom filter admits `value` (false positives re-filtered by
    * the exact residual predicate; false negatives impossible — a
    * recorded bitset always contains every present value's probes).
    * Without a declaration this is just `read().filter`. */
  def readPoint(spark: SparkSession, root: String, colName: String,
      value: Any, version: Long = -1L): DataFrame = {
    require(value != null,
      "readPoint needs a non-null value (Bloom filters answer equality)")
    val v = resolveVersion(spark, root, version)
    // legacy manifests without #col declarations fall back to the
    // physical schema (read() works there, so readPoint must too)
    val declared = declaredCols(spark, root, v).getOrElse(
      schemaCols(read(spark, root, v).schema)).toMap
    val dt = probeType(declared, colName, root, "readPoint")
    val kept = bloomKeptEntries(spark, root, v, colName, value, dt)
    val base =
      if (kept.nonEmpty) assemble(spark, root, v, kept)
      else read(spark, root, v).limit(0)
    base.filter(col(colName) === lit(value).cast(dt))
  }

  /** (files kept, files total) a [[readPoint]] would scan. */
  def bloomReport(spark: SparkSession, root: String, colName: String,
      value: Any, version: Long = -1L): (Int, Int) = {
    val v = resolveVersion(spark, root, version)
    val declared = declaredCols(spark, root, v).getOrElse(
      schemaCols(read(spark, root, v).schema)).toMap
    // a column with no declared type has no bloom either → report the
    // unpruned scan readPoint's error path never reaches
    val kept = (if (colName == "doc_id")
        Some(org.apache.spark.sql.types.LongType: org.apache.spark.sql.types.DataType)
      else declared.get(colName)
        .map(org.apache.spark.sql.types.DataType.fromDDL)) match {
        case Some(dt) => bloomKeptEntries(spark, root, v, colName, value, dt)
        case None => readManifest(spark, root, v)
      }
    (kept.size, liveEntryCount(spark, root, v))
  }

  /** Range read with FILE-LEVEL DATA SKIPPING — the stats-pruned scan
    * of the log-structured table formats: resolve the manifest, drop
    * every file whose recorded [min, max] envelope for `colName`
    * provably misses [lo, hi] (a null bound leaves that side open; at
    * least one bound is required), read only the survivors, and apply
    * the exact residual predicate on top — pruning is purely an
    * optimization, results are identical to `read().filter(...)`.
    * Pairs with [[optimize]](zorderBy / maxRecordsPerFile): clustered
    * multi-file buckets carry tight envelopes, so a selective range
    * touches a handful of files instead of every bucket — at 100 TB
    * this is the difference between a full-table scan and reading a
    * few clustered files. Files without stats are always scanned. */
  def readWhere(spark: SparkSession, root: String, colName: String,
      lo: Any, hi: Any, version: Long = -1L): DataFrame =
    readWhereAll(spark, root, Map(colName -> ((lo, hi))), version)

  /** Disjunctive POINT-SET read — `colName IN (values)` with file
    * skipping: a file is pruned when its recorded envelope provably
    * admits NONE of the probe values. One metadata pass for the whole
    * set (sidecar verdicts evaluate on executors, only admitted entries
    * collect; inline lines prune driver-side), one scan of the admitted
    * files — the multi-probe read the IVF search path needs. Calling
    * [[readWhere]] per value instead pays the manifest/sidecar read
    * once PER VALUE and unions the scans: measured on a 10⁶-row
    * versioned index, a 16-cell probe through per-cell readWhere was
    * SLOWER than reading the whole snapshot (6.8 s vs 2.9 s); this is
    * one pass. Conservative like readWhere: no stats for the column (or
    * no declaration) keeps every file. */
  def readWhereIn(spark: SparkSession, root: String, colName: String,
      values: Seq[Any], version: Long = -1L): DataFrame = {
    require(values.nonEmpty, "readWhereIn needs at least one probe value")
    // mirror readPoint's contract: a null probe has no canonical compare
    // and `col === lit(null)` can never match — reject loudly instead of
    // silently returning nothing for that probe
    require(values.forall(_ != null),
      s"readWhereIn($colName): null probe values are not supported")
    val v = resolveVersion(spark, root, version)
    val declared = declaredCols(spark, root, v).getOrElse(
      schemaCols(read(spark, root, v).schema)).toMap
    val t = probeType(declared, colName, root, "readWhereIn")
    val meta = manifestMeta(spark, root, v)
    val statDeclared =
      statColsLineOf(meta).map(parseStatCols).getOrElse(Nil)
        .contains(colName)
    val canonVals = values.map(x => canonAs(spark, x, t, colName))
    // sidecar verdicts evaluate executor-side (only admits collect);
    // WITHOUT a sidecar the stats are inline lines and the entry list is
    // already driver-held — readManifest costs zero jobs for an
    // inline-mode store (one bounded entryfile collect otherwise), where
    // parallelizing the driver list only to collect it back paid one
    // Spark job per probe read
    val kept0 = (if (statDeclared) metaFileRelOf(meta) else None) match {
      case None => readManifest(spark, root, v).sortBy(identity)
      case Some(rel) =>
        import spark.implicits._
        val cv = canonVals // local vals: closure must not capture `this`
        val cn = colName
        val rej = sidecarDf(spark, root, rel)
          .filter(col("kind") === "stat" && col("col") === cn)
          .select("rel", "rows", "nulls", "mn", "mx")
          .as[(String, Long, Long, Option[String], Option[String])]
          .flatMap { case (p, rows, nulls, mn, mx) =>
            if (cv.forall(x =>
              statsReject(rows, nulls, mn, mx, Some(x), Some(x))))
              Some(p)
            else None
          }.toDF("rel")
        liveEntriesDf(spark, root, v)
          .join(rej, Seq("rel"), "left_anti").select("bucket", "rel")
          .collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(identity)
    }
    lastStatsCollectSize = kept0.size
    val kept =
      if (!statDeclared) kept0
      else {
        val inline = meta.filter(_.startsWith("#stat\t")).flatMap { l =>
          val a = l.split("\t", 7)
          if (a.length == 7 && a(2) == colName)
            Some(a(1) -> ((a(3).toLong, a(4).toLong,
              Some(a(5)).filter(_.nonEmpty), Some(a(6)).filter(_.nonEmpty))))
          else None
        }.toMap
        kept0.filter { case (_, p) =>
          inline.get(p) match {
            case None => true
            case Some((rows, nulls, mn, mx)) =>
              !canonVals.forall(x =>
                statsReject(rows, nulls, mn, mx, Some(x), Some(x)))
          }
        }
      }
    val base =
      if (kept.nonEmpty) assemble(spark, root, v, kept)
      else read(spark, root, v).limit(0)
    base.filter(values.map(x => col(colName) === lit(x).cast(t))
      .reduce(_ || _))
  }

  /** Conjunctive multi-column form of [[readWhere]] — bounds AND
    * together, so a file is pruned when ANY column's envelope provably
    * misses its range (one false conjunct kills the whole predicate).
    * The natural partner of a multi-column
    * [[optimize]](zorderBy): the Morton order keeps EVERY clustering
    * column's per-file envelope tight at once, so each bound
    * contributes pruning independently. */
  def readWhereAll(spark: SparkSession, root: String,
      bounds: Map[String, (Any, Any)], version: Long = -1L): DataFrame = {
    require(bounds.nonEmpty, "readWhereAll needs at least one column")
    require(bounds.values.exists { case (lo, hi) =>
      lo != null || hi != null },
      "readWhere needs at least one bound (use read() for a full scan)")
    val v = resolveVersion(spark, root, version)
    // legacy manifests without #col declarations fall back to the
    // physical schema, same as deleteWhere/declareStats — read() works
    // there, so readWhere must too
    val declared = declaredCols(spark, root, v).getOrElse(
      schemaCols(read(spark, root, v).schema)).toMap
    val types = bounds.keys.map { c =>
      c -> probeType(declared, c, root, "readWhere")
    }.toMap
    val meta = manifestMeta(spark, root, v)
    // sidecar verdicts first (ONE executor-side scan for every bounded
    // column; the live frame anti-joins the rejected frame there, so
    // only the ADMITTED entries collect), then the small inline delta
    // prunes driver-side
    val kept = bounds.toSeq.sortBy(_._1)
      .foldLeft(statKeptEntries(spark, root, v, meta,
          canonBounds(spark, meta, bounds, types))) {
        case (es, (c, (lo, hi))) =>
          if (lo == null && hi == null) es
          else pruneByStats(meta, es, c,
            Option(lo).map(canonAs(spark, _, types(c), c)),
            Option(hi).map(canonAs(spark, _, types(c), c)))
      }
    val base =
      if (kept.nonEmpty) assemble(spark, root, v, kept)
      else read(spark, root, v).limit(0)
    val residual = bounds.toSeq.sortBy(_._1).flatMap { case (c, (lo, hi)) =>
      Option(lo).map(x => col(c) >= lit(x).cast(types(c))) ++
        Option(hi).map(x => col(c) <= lit(x).cast(types(c)))
    }.reduceOption(_ && _).getOrElse(lit(true))
    base.filter(residual)
  }

  /** Row-level DELETE by range — the data-retention / GDPR primitive,
    * file-pruned the way the log-structured formats do it: files whose
    * recorded [min, max] envelope provably contains NO row in [lo, hi]
    * carry into the new manifest VERBATIM (zero rewrite); only the
    * candidate files' rows are read, filtered, and rewritten — delete
    * cost ∝ files that might match, not table size. SQL DELETE
    * semantics: a NULL predicate deletes nothing, so null-valued rows
    * are kept explicitly. Without a stats declaration every file is a
    * candidate (correct, just unpruned). A delete that provably touches
    * nothing is a version-free no-op returning the current version.
    * CHECK constraints cannot be violated by removing rows; the schema,
    * bucket modulus, txn watermarks, and declarations all carry.
    * Returns the (possibly unchanged) version. */
  def deleteWhere(spark: SparkSession, root: String, colName: String,
      lo: Any, hi: Any,
      expectedVersion: Option[Long] = None): Long = {
    require(lo != null || hi != null,
      "deleteWhere needs at least one bound")
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — nothing to delete from"))
    val declaredSeq = declaredCols(spark, root, cur).getOrElse(
      schemaCols(read(spark, root, cur).schema))
    val declared = declaredSeq.toMap
    val dt = probeType(declared, colName, root, "deleteWhere")
    val meta = manifestMeta(spark, root, cur)
    // only the ADMITTED candidates ever collect (executor-side
    // anti-join against the stat verdicts); untouched files carry
    // through publishDelta without being enumerated
    val candidates = pruneByStats(meta,
      statKeptEntries(spark, root, cur, meta,
        canonBounds(spark, meta, Map(colName -> ((lo, hi))),
          Map(colName -> dt))), colName,
      Option(lo).map(canonAs(spark, _, dt, colName)),
      Option(hi).map(canonAs(spark, _, dt, colName)))
    if (candidates.isEmpty) return cur
    val c = col(colName)
    val hit = (Option(lo).map(x => c >= lit(x).cast(dt)) ++
      Option(hi).map(x => c <= lit(x).cast(dt))).reduce(_ && _)
    val survivors = assemble(spark, root, cur, candidates)
      .filter(!hit || c.isNull)
    val v = cur + 1
    val dirName = writeVersionDir(survivors, spark, root, v)
    publishDelta(spark, root, v,
      listVersionFiles(spark, root, dirName),
      candidates.map(_._2).toSet,
      carriedTxn(spark, root, Nil) ++
        carriedCheckLines(spark, root) ++
        declaredSeq.map { case (n, ty) => colLine(n, ty) } ++
        storedBuckets(spark, root, cur).map(bucketsLine).toSeq :+
        opLine("delete_where"))
    v
  }

  /** Equality companion of [[deleteWhere]] — delete every row whose
    * `colName` equals `value`, with BLOOM pruning choosing the
    * candidate files: the delete-by-key (right-to-be-forgotten) shape,
    * where the key is typically a high-cardinality string no min/max
    * envelope could prune. Files whose bitset rejects the value carry
    * verbatim (false negatives impossible, so no stale row can hide in
    * a carried file); NULL never equals anything, so null rows are
    * kept. Provably-empty deletes are version-free no-ops. */
  def deletePoint(spark: SparkSession, root: String, colName: String,
      value: Any, expectedVersion: Option[Long] = None): Long = {
    require(value != null,
      "deletePoint needs a non-null value (SQL equality never matches " +
        "NULL — nothing would be deleted)")
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — nothing to delete from"))
    val declaredSeq = declaredCols(spark, root, cur).getOrElse(
      schemaCols(read(spark, root, cur).schema))
    val declared = declaredSeq.toMap
    val dt = probeType(declared, colName, root, "deletePoint")
    // only the bloom-ADMITTING candidates ever collect; carried files
    // pass through publishDelta unenumerated
    val candidates = bloomKeptEntries(spark, root, cur, colName, value, dt)
    if (candidates.isEmpty) return cur
    val c = col(colName)
    val survivors = assemble(spark, root, cur, candidates)
      .filter(c =!= lit(value).cast(dt) || c.isNull)
    val v = cur + 1
    val dirName = writeVersionDir(survivors, spark, root, v)
    publishDelta(spark, root, v,
      listVersionFiles(spark, root, dirName),
      candidates.map(_._2).toSet,
      carriedTxn(spark, root, Nil) ++
        carriedCheckLines(spark, root) ++
        declaredSeq.map { case (n, ty) => colLine(n, ty) } ++
        storedBuckets(spark, root, cur).map(bucketsLine).toSeq :+
        opLine("delete_point"))
    v
  }

  /** (files kept, files total) a [[readWhere]] with these bounds would
    * scan — the observability hook for skipping effectiveness (results
    * are residual-filtered, so pruning is invisible in them). */
  def skippingReport(spark: SparkSession, root: String, colName: String,
      lo: Any, hi: Any, version: Long = -1L): (Int, Int) =
    skippingReportAll(spark, root, Map(colName -> ((lo, hi))), version)

  /** Conjunctive form of [[skippingReport]], matching [[readWhereAll]]. */
  def skippingReportAll(spark: SparkSession, root: String,
      bounds: Map[String, (Any, Any)], version: Long = -1L): (Int, Int) = {
    val v = resolveVersion(spark, root, version)
    val meta = manifestMeta(spark, root, v)
    // same type normalization as readWhereAll, so the report predicts
    // exactly the scan readWhere would run; a column absent from the
    // declaration has no stats either, so its bound prunes nothing
    val declared = declaredCols(spark, root, v).getOrElse(
      schemaCols(read(spark, root, v).schema)).toMap
    val types = bounds.keys.flatMap(c =>
      if (c == "doc_id")
        Some(c -> (org.apache.spark.sql.types.LongType:
          org.apache.spark.sql.types.DataType))
      else declared.get(c).map(t =>
        c -> org.apache.spark.sql.types.DataType.fromDDL(t))).toMap
    val kept = bounds.toSeq.sortBy(_._1)
      .foldLeft(statKeptEntries(spark, root, v, meta,
          canonBounds(spark, meta, bounds, types))) {
        case (es, (c, (lo, hi))) =>
          types.get(c) match {
            case Some(dt) if lo != null || hi != null =>
              pruneByStats(meta, es, c,
                Option(lo).map(canonAs(spark, _, dt, c)),
                Option(hi).map(canonAs(spark, _, dt, c)))
            case _ => es
          }
      }
    (kept.size, liveEntryCount(spark, root, v))
  }

  /** Restore: publish a NEW head version whose content is exactly
    * `toVersion`'s — the Delta-RESTORE idea for backing out a bad
    * ingest. History is append-only: the backed-out versions stay
    * time-travelable until [[vacuum]], and the restore itself is one
    * manifest write — the old version's file entries and metadata
    * (schema declaration, bucket modulus, txn markers — the restored
    * state's exactly-once watermark belongs to the restored state) are
    * re-referenced verbatim; no data file is copied or touched, so the
    * restored files survive vacuum for as long as the new head does.
    *
    * An explicit restore is by nature the full-rewrite opt-in: the head
    * schema becomes `toVersion`'s declaration even where that drops a
    * column a later version had added. The same holds for FOREIGN meta
    * lines (table properties — `#ivfcent`/`#pqcent`/user prefixes):
    * rollback restores the target's exact meta and does NOT carry
    * foreign groups from the rolled-back head, which also makes it the
    * one verb that can REMOVE a foreign meta group (every other publish
    * carries unoverridden foreign prefixes forward). Honors the
    * optimistic-concurrency contract via `expectedVersion`. Returns the
    * new head version. */
  def rollback(spark: SparkSession, root: String, toVersion: Long,
      expectedVersion: Option[Long] = None): Long = {
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — nothing to roll back"))
    if (!fs(spark, root).exists(manifestPath(root, toVersion)))
      throw new IllegalArgumentException(
        s"SnapshotStore: cannot roll back to version $toVersion at " +
          s"$root — no such published version (vacuumed?)")
    val v = cur + 1
    publish(spark, root, v, readManifest(spark, root, toVersion),
      manifestMeta(spark, root, toVersion)
        .filterNot(_.startsWith("#op\t")) :+ opLine("rollback"))
    v
  }

  /** Version history — the DESCRIBE HISTORY analog: one row per
    * retained version with the operation that published it (`#op`
    * manifest line; versions published before op recording report
    * "unknown"), its file count, and its CHECK-constraint count.
    * Bounded by retained-version count, assembled from manifest reads
    * only — no data file is touched. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val dir = new Path(root, "_versions")
    val f = fs(spark, root)
    val vs =
      if (!f.exists(dir)) Seq.empty[Long]
      else f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
        case VersionRe(n) => n.toLong
      }.sorted
    val rows = vs.map { v =>
      val op = manifestMeta(spark, root, v).collectFirst {
        case l if l.startsWith("#op\t") => l.split("\t", 2)(1)
      }.getOrElse("unknown")
      (v, op, readManifest(spark, root, v).size.toLong,
        storedChecks(spark, root, v).size.toLong)
    }
    val sp = spark
    import sp.implicits._
    rows.toDF("version", "op", "n_files", "n_checks")
      .orderBy(col("version").desc)
  }

  /** Register a CHECK constraint (Delta `ADD CONSTRAINT` analog): the
    * CURRENT snapshot must already satisfy it (validated in one
    * aggregate pass), then every later [[commit]]/[[upsert]] enforces it
    * at write time — reject-before-write, so a violating batch leaves no
    * trace. The constraint is a manifest metadata line, carried forward
    * by every publish (and restored by [[rollback]] to what the restored
    * version declared). Name and expression are single manifest-line
    * tokens; duplicates are named errors. Returns the new version. */
  def addCheck(spark: SparkSession, root: String, name: String,
      sqlExpr: String, expectedVersion: Option[Long] = None): Long = {
    require(name.nonEmpty && !name.exists(c =>
      c == '\t' || c == '\n' || c == '\r'),
      s"check name must be a nonempty tab/newline-free token: '$name'")
    require(!sqlExpr.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "check expression must not contain tab/newline " +
        s"(it is stored as a manifest line): '$sqlExpr'")
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — commit() first, then add checks"))
    if (storedChecks(spark, root, cur).exists(_._1 == name))
      throw new IllegalArgumentException(
        s"SnapshotStore: a CHECK named '$name' already exists at $root — " +
          "dropCheck() it first to replace its expression")
    validateChecks(read(spark, root, cur), Seq(name -> sqlExpr), root)
    val v = cur + 1
    publish(spark, root, v, readManifest(spark, root, cur),
      manifestMeta(spark, root, cur).filterNot(_.startsWith("#op\t")) ++
        Seq(checkLine(name, sqlExpr), opLine("add_check")))
    v
  }

  /** Deep-clone the CURRENT snapshot of `srcRoot` into `dstRoot` as a
    * fresh store's version 1 — the disaster-recovery / promote-to-prod
    * replication primitive. Every referenced data file is byte-copied
    * (a deep clone survives the source's vacuum — or its loss — by
    * construction) into the clone's OWN `data/v00001` tree: relpaths are
    * REWRITTEN, prefixed with their source version dir for uniqueness,
    * because carrying the source's `data/vNNNNN` relpaths verbatim would
    * collide with the clone's future version `N` — whose crashed-attempt
    * recovery overwrites the directory, destroying still-referenced
    * files. Metadata carried: schema declaration, bucket modulus, CHECK
    * constraints, and txn watermarks (a failed-over stream resumes
    * exactly-once against the clone). NOT carried: version history
    * (the clone starts at v1, op `clone`) and tags (they name the
    * source's history). `version` < 0 clones the head; a specific
    * retained version clones that point-in-time state (DR to
    * before-the-bad-ingest, as a fresh store). Returns the clone's
    * version (1). */
  def cloneTo(spark: SparkSession, srcRoot: String,
      dstRoot: String, version: Long = -1L): Long = {
    val cur =
      if (version >= 0) {
        if (!fs(spark, srcRoot).exists(manifestPath(srcRoot, version)))
          throw new IllegalArgumentException(
            s"SnapshotStore: cannot clone version $version of $srcRoot — " +
              "no such published version (vacuumed?)")
        version
      } else currentVersion(spark, srcRoot).getOrElse(
        throw new IllegalArgumentException(
          s"no published version at $srcRoot — nothing to clone"))
    if (currentVersion(spark, dstRoot).isDefined)
      throw new IllegalArgumentException(
        s"SnapshotStore: clone destination $dstRoot already has published " +
          "versions — clone only initializes a FRESH store")
    // relpath rewrite: data/vNNNNN[-uuid]/bucket=B/part-x →
    // v1/bucket=B/vNNNNN[-uuid]-part-x (the source dir name prefixes the
    // file so files from different source versions cannot collide)
    val mapping = readManifest(spark, srcRoot, cur).map { case (b, rel) =>
      val parts = rel.split("/")
      val srcV = parts.find(_.matches("v\\d{5}(-[0-9a-f]{8})?"))
        .getOrElse("vsrc")
      (b, rel, s"${vdir(1L)}/bucket=$b/$srcV-${parts.last}")
    }
    // the byte copies run ON THE EXECUTORS (one driver-side loop over a
    // 100 TB snapshot's files would serialize the whole clone through one
    // coordinator); the hadoop conf is not serializable, so its entries
    // ship as a plain map and rebuild per task
    val confEntries = {
      val c = spark.sparkContext.hadoopConfiguration
      val it = c.iterator(); val m = mutable.Map.empty[String, String]
      while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue }
      m.toMap
    }
    val bc = spark.sparkContext.broadcast(confEntries)
    val par = math.max(1, math.min(mapping.size, 64))
    spark.sparkContext.parallelize(mapping.map {
      case (_, rel, newRel) => (rel, newRel)
    }, par).foreach { case (rel, newRel) =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      bc.value.foreach { case (k, v) => conf.set(k, v) }
      val from = new Path(srcRoot, rel)
      val to = new Path(dstRoot, newRel)
      if (!org.apache.hadoop.fs.FileUtil.copy(
          from.getFileSystem(conf), from, to.getFileSystem(conf), to,
          false, conf))
        throw new IllegalStateException(
          s"SnapshotStore: failed to copy $rel while cloning")
    }
    val newEntries = mapping.map { case (b, _, newRel) => (b, newRel) }
    // carried `#stat`/`#bloom` lines keep their VALUES but must follow
    // the relpath rewrite — dropped or stale-pathed lines would force
    // publish's withFileIndexes to re-scan the entire cloned snapshot
    // (bounded-by-delta maintenance suddenly costing a full table read)
    val relMap = mapping.map { case (_, rel, newRel) => rel -> newRel }.toMap
    // a metadata SIDECAR clones like the data files do: read the
    // source's, rewrite the rel column through the SAME mapping
    // (executor-side join — the sidecar can hold 10^5+ bitset rows),
    // write it as the clone's own v00001 sidecar; rows for files
    // outside the cloned version drop in the join
    val clonedSidecar = metaFileRelOf(manifestMeta(spark, srcRoot, cur))
      .map { srcRel =>
        import spark.implicits._
        val dstRel =
          f"meta/v00001-${java.util.UUID.randomUUID().toString.take(8)}"
        val mapDf = relMap.toSeq.toDF("rel", "graft_new_rel")
        sidecarDf(spark, srcRoot, srcRel)
          .join(mapDf, Seq("rel"))
          .select(col("kind"), col("graft_new_rel").as("rel"), col("col"),
            col("rows"), col("nulls"), col("mn"), col("mx"), col("bloom"))
          .write.mode("overwrite").parquet(s"$dstRoot/$dstRel")
        dstRel
      }
    val meta = manifestMeta(spark, srcRoot, cur)
      .filterNot(l => l.startsWith("#op\t") || l.startsWith("#metafile\t"))
      .flatMap { l =>
        if (l.startsWith("#stat\t") || l.startsWith("#bloom\t")) {
          // limit -1: a stat line's min/max fields may be EMPTY (all-null
          // file) and Java's default split drops trailing empties, which
          // would silently shorten the rebuilt line
          val a = l.split("\t", -1)
          // a line for a file outside the cloned version cannot exist
          // (lines are keyed to manifest entries), but stay conservative:
          // dropping it only costs a recompute, mapping it wrongly would
          // attach stats to the wrong file
          relMap.get(a(1)).map(nr => (a.take(1) :+ nr) ++ a.drop(2))
            .map(_.mkString("\t"))
        } else Some(l)
      } ++ clonedSidecar.map(metaFileLine).toSeq :+ opLine("clone")
    publish(spark, dstRoot, 1L, newEntries, meta)
    1L
  }

  /** Remove a CHECK constraint by name (named error if absent).
    * Publishes a new metadata-only version. */
  def dropCheck(spark: SparkSession, root: String, name: String,
      expectedVersion: Option[Long] = None): Long = {
    checkExpected(spark, root, expectedVersion)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published version at $root — nothing to drop"))
    if (!storedChecks(spark, root, cur).exists(_._1 == name))
      throw new IllegalArgumentException(
        s"SnapshotStore: no CHECK named '$name' at $root — stored checks: " +
          storedChecks(spark, root, cur).map(_._1).mkString("[", ", ", "]"))
    val v = cur + 1
    publish(spark, root, v, readManifest(spark, root, cur),
      manifestMeta(spark, root, cur).filterNot(l =>
        l.startsWith("#op\t") || l == checkLine(name,
          storedChecks(spark, root, cur).find(_._1 == name).get._2)) :+
        opLine("drop_check"))
    v
  }

  // ---- named tags ---------------------------------------------------

  /** Tag names are single path segments: no separators, no traversal,
    * nothing a filesystem path could reinterpret. */
  private val TagNameRe = "[A-Za-z0-9][A-Za-z0-9._-]{0,63}".r

  private def tagPath(root: String, name: String) =
    new Path(root, s"_tags/$name.tag")

  private def requireTagName(name: String): Unit =
    require(TagNameRe.pattern.matcher(name).matches(),
      s"SnapshotStore: invalid tag name '$name' — use 1-64 chars of " +
        "[A-Za-z0-9._-], starting alphanumeric")

  /** Pin `version` (default: the current one) under a NAME — the
    * Delta/Iceberg tag idea: a release/audit pointer a reader can
    * resolve without knowing version numbers, and a retention pin —
    * [[vacuum]] never drops a tagged version, however old, until the
    * tag is deleted. Re-pointing an existing tag requires
    * `force = true` (a silently moved release pointer is how a "frozen"
    * eval set drifts). Returns the pinned version. */
  def tag(spark: SparkSession, root: String, name: String,
      version: Long = -1L, force: Boolean = false): Long = {
    requireTagName(name)
    val v = if (version >= 0) version
      else currentVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(
          s"no published version at $root — nothing to tag"))
    val f = fs(spark, root)
    if (!f.exists(manifestPath(root, v)))
      throw new IllegalArgumentException(
        s"SnapshotStore: cannot tag version $v at $root — no such " +
          "published version")
    val dst = tagPath(root, name)
    if (f.exists(dst) && !force)
      throw new IllegalArgumentException(
        s"SnapshotStore: tag '$name' already exists at $root " +
          s"(→ v${tagVersion(spark, root, name).getOrElse(-1L)}); pass " +
          "force = true to move it")
    val bytes = v.toString.getBytes("UTF-8")
    if (force) {
      // an explicit force may displace an existing tag: tmp + rename
      // (rename overwrites on local FS — here that is the intent)
      val tmp = new Path(root,
        s"_tags/.tmp-$name-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(bytes)
      finally out.close()
      if (f.exists(dst)) f.delete(dst, false)
      if (!f.rename(tmp, dst))
        throw new IllegalStateException(
          s"SnapshotStore: failed to publish tag '$name' at $root " +
            "(concurrent tag writer?)")
    } else {
      // non-force publish is CREATE-EXCLUSIVE, not check-then-rename: a
      // rename would silently overwrite a tag another writer landed
      // between our exists() check and the rename, and a read-back can
      // only see a tag that lands AFTER ours. Local FS: an atomic
      // hard-link of the written tmp file (POSIX link(2) fails with
      // EEXIST — no window at all). Other FSs: create(dst, overwrite =
      // false), which HDFS implements atomically at the NameNode. Either
      // failure is the named already-exists conflict.
      val tmp = new Path(root,
        s"_tags/.tmp-$name-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(bytes)
      finally out.close()
      def conflict(): Nothing = {
        f.delete(tmp, false)
        throw new IllegalArgumentException(
          s"SnapshotStore: tag '$name' already exists at $root " +
            s"(→ v${tagVersion(spark, root, name).getOrElse(-1L)}); pass " +
            "force = true to move it")
      }
      if ("file" == Option(f.getUri.getScheme).getOrElse("file")) {
        try java.nio.file.Files.createLink(
          java.nio.file.Paths.get(f.makeQualified(dst).toUri),
          java.nio.file.Paths.get(f.makeQualified(tmp).toUri))
        catch {
          case _: java.nio.file.FileAlreadyExistsException => conflict()
        }
        f.delete(tmp, false)
      } else {
        val o =
          try f.create(dst, false)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              conflict()
            case _: java.io.IOException if f.exists(dst) => conflict()
          }
        try o.write(bytes)
        finally o.close()
        f.delete(tmp, false)
      }
    }
    if (!tagVersion(spark, root, name).contains(v))
      throw new IllegalStateException(
        s"SnapshotStore: lost the tag-publish race for '$name' at $root " +
          "— another writer's tag landed; re-check and retry")
    v
  }

  /** The version a tag points at, if the tag exists. */
  def tagVersion(spark: SparkSession, root: String,
      name: String): Option[Long] = {
    requireTagName(name)
    val f = fs(spark, root)
    val p = tagPath(root, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        Some(s.toLong)
      } finally in.close()
    }
  }

  /** All tags as (name, version), name-sorted. */
  def listTags(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val f = fs(spark, root)
    val dir = new Path(root, "_tags")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case n if n.endsWith(".tag") && !n.startsWith(".") =>
        n.stripSuffix(".tag")
    }.sorted.flatMap(n => tagVersion(spark, root, n).map((n, _)))
  }

  /** Read the snapshot a tag pins — time travel by name. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, tagVersion(spark, root, name).getOrElse(
      throw new IllegalArgumentException(
        s"SnapshotStore: no tag '$name' at $root")))

  /** Drop a tag (its version becomes vacuum-collectable again). Returns
    * whether the tag existed. */
  def deleteTag(spark: SparkSession, root: String, name: String): Boolean = {
    requireTagName(name)
    val f = fs(spark, root)
    val p = tagPath(root, name)
    f.exists(p) && f.delete(p, false)
  }

  /** Drop all but the newest `keepVersions` manifests and delete every
    * data file no retained manifest references (including files from
    * crashed commits that never published). Tagged versions are PINNED:
    * their manifests and files are retained regardless of age until
    * [[deleteTag]]. Returns the deleted paths.
    *
    * In-flight-writer safety: an up-to-date writer is always producing
    * version newestManifest + 1, so that version's attempt dirs and its
    * tmp manifests are NEVER touched — vacuum concurrent with a live
    * commit cannot delete data the commit is about to publish. (A STALE
    * writer's files may be reaped mid-flight, but that writer fails its
    * publish CAS anyway — fail-safe, not corrupting.) Older attempt
    * dirs no manifest references (crashed commits, losers of publish
    * races) and `.staging-*` / `.tmp-*` leftovers are swept. */
  def vacuum(spark: SparkSession, root: String,
      keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the current version")
    // files are about to be deleted under this root: drop the immutable-
    // dir scan cache so a later read of a vacuumed version fails at plan
    // time (fresh listing) instead of mid-execution on a stale status
    StoreScan.invalidate(root)
    val f = fs(spark, root)
    val dir = new Path(root, "_versions")
    if (!f.exists(dir)) return Nil
    val versions = f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case VersionRe(n) => n.toLong
    }.sorted
    val inFlight = versions.lastOption.getOrElse(0L) + 1
    val pinned = listTags(spark, root).map(_._2).toSet
    val (dropCand, keepTail) =
      versions.splitAt(math.max(0, versions.size - keepVersions))
    val drop = dropCand.filterNot(pinned)
    val keep = dropCand.filter(pinned) ++ keepTail
    val referenced = keep.flatMap(v => readManifest(spark, root, v))
      .map(_._2).toSet
    // metadata sidecars + entryfiles referenced by any KEPT manifest
    // stay (time travel resolves them); the rest are compaction/
    // lost-race garbage
    val referencedMeta = keep.flatMap { v =>
      val m = manifestMeta(spark, root, v)
      metaFileRelOf(m).toSeq ++ entryFileRelOf(m).toSeq
    }.toSet
    val deleted = mutable.ArrayBuffer.empty[String]
    val StagingRe = "\\.staging-v(\\d{5})-.*".r // legacy layout leftovers
    // plain vNNNNN (legacy + clone targets) or vNNNNN-<uuid8> attempt dirs
    val DataDirRe = "v(\\d{5})(?:-[0-9a-f]{8})?".r
    val dataDir = new Path(root, "data")
    if (f.exists(dataDir)) f.listStatus(dataDir).foreach { vd =>
      val vdName = vd.getPath.getName
      val vdVersion = vdName match {
        case StagingRe(n) => Some(n.toLong)
        case DataDirRe(n) => Some(n.toLong)
        case _ => None
      }
      if (vdVersion.exists(_ >= inFlight)) {
        // possibly being written right now — or published by a
        // concurrent writer AFTER this vacuum listed the manifests
        // (nothing newer than the listing snapshot is ever touched, so
        // a writer racing a slow vacuum can never lose a fresh commit's
        // files) — never touch it
      } else if (vdName.startsWith(".staging-")) {
        // a staging dir for any OTHER version is a crashed attempt
        f.delete(vd.getPath, true)
        deleted += s"data/$vdName"
      } else f.listStatus(vd.getPath).filter(s =>
          s.isDirectory && s.getPath.getName.startsWith("bucket=")
        ).foreach { bd =>
        f.listStatus(bd.getPath).foreach { file =>
          val rel = s"data/${vd.getPath.getName}/${bd.getPath.getName}/" +
            file.getPath.getName
          val isData = file.getPath.getName.endsWith(".parquet")
          if (isData && !referenced.contains(rel)) {
            f.delete(file.getPath, false)
            deleted += rel
          }
        }
        if (f.listStatus(bd.getPath)
            .forall(s => !s.getPath.getName.endsWith(".parquet")))
          f.delete(bd.getPath, true) // only non-data remnants left
      }
      // a version dir reduced to _SUCCESS/checksum remnants goes whole
      // (the in-flight version was skipped above and stays untouched)
      if (!vdVersion.exists(_ >= inFlight) && !vdName.startsWith(".staging-") &&
          f.exists(vd.getPath) &&
          !f.listStatus(vd.getPath).exists(s =>
            s.isDirectory && s.getPath.getName.startsWith("bucket=")))
        f.delete(vd.getPath, true)
    }
    // metadata sidecar + entryfile dirs: unreferenced ones are garbage,
    // except the possibly-in-flight version's (same discipline as data
    // dirs)
    val MetaDirRe = "(?:entries-)?v(\\d{5})-[0-9a-f]{8}".r
    val metaDir = new Path(root, "meta")
    if (f.exists(metaDir)) f.listStatus(metaDir).foreach { md =>
      val name = md.getPath.getName
      val rel = s"meta/$name"
      val mdVersion = name match {
        case MetaDirRe(n) => Some(n.toLong)
        case _ => None
      }
      if (!mdVersion.exists(_ >= inFlight) && !referencedMeta.contains(rel)) {
        f.delete(md.getPath, true)
        deleted += rel
      }
    }
    // crashed tag publishes leave _tags/.tmp-<name>-uuid files
    val tagsDir = new Path(root, "_tags")
    if (f.exists(tagsDir)) f.listStatus(tagsDir).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-")) {
        f.delete(st.getPath, false)
        deleted += s"_tags/${st.getPath.getName}"
      }
    }
    // crashed publishes leave .tmp-vNNNNN-uuid manifests; sweep only
    // versions BELOW the in-flight one — a writer that published
    // `inFlight` during a slow vacuum may already be staging
    // `inFlight + 1`, and deleting its tmp would turn the retryable
    // publish CAS into a NoSuchFileException (same >= discipline the
    // data/meta dir sweeps use)
    val TmpRe = "\\.tmp-v(\\d{5})-.*".r
    f.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case TmpRe(n) if n.toLong < inFlight =>
          f.delete(st.getPath, false)
          deleted += s"_versions/${st.getPath.getName}"
        case _ =>
      }
    }
    drop.foreach { v =>
      f.delete(manifestPath(root, v), false)
      deleted += f"_versions/v$v%05d.manifest"
    }
    deleted.toSeq
  }
}
