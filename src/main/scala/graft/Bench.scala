package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The driver's per-round bench scale — also the ONLY sf dir whose
    * runs may seed their noise anchor from the committed history (other
    * scales must not compare against sf0.1 minima). Comparison is by
    * canonical path so a trailing slash or an env override spelling the
    * same directory differently still seeds. NOTE the committed minima
    * are from THIS repo's usual host — on much slower hardware the
    * seeded >3x re-time rule fires more often (each firing costs one
    * extra measurement and keeps the better time; correctness of the
    * artifact is unaffected). */
  private val DefaultSfDir = "/root/testdata/sf0.1"

  private def canon(p: String): String =
    try new java.io.File(p).getCanonicalPath
    catch { case _: Throwable => p }

  /** Locale-pinned fixed-point formatting for ARTIFACT-bound numbers:
    * Scala's `f` interpolator formats with the JVM default locale, so a
    * comma-decimal locale (de_DE) would render `"load_1m_start":2,50` —
    * invalid JSON. stderr diagnostics may stay locale-formatted; anything
    * that lands in the JSON artifact goes through here. */
  private def num(d: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(d))

  /** 1-minute loadavg right now (-1 when /proc is unavailable) — recorded
    * into the artifact so a load-polluted capture is diagnosable from the
    * JSON alone (BENCH_r11 was a uniform 2.5-3x host-noise artifact). */
  private def loadavg1m(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Steady-state warm-up before any timed query, shared by [[Bench]] and
    * [[Profile]] so both time the same warm JVM: JIT/codegen paths and
    * parquet footers, then one tiny run of each operator family and of
    * the store verbs, so the first timed query does not absorb one-time
    * JVM cost. Failures are swallowed: a warm-up only moves cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "documents", "embeddings", "events")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
    // The sketch/vector families concentrate their one-time cost (md5 +
    // shingle codegen, hash-agg spill paths, fused-loop expression JIT) in
    // whichever query runs them first — measured ~2.5 s billed to
    // d02_minhash_lsh alone. Run each family once over a tiny slice so the
    // timed windows measure steady-state operator cost, not first-use JIT.
    val wroot = java.nio.file.Files
      .createTempDirectory("graft_bench_warm").toString
    try {
      val docs20 = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
      val emb50 = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
      operators.MinHashLSH.nearDuplicates(docs20).count()
      operators.NgramJaccard.nearDuplicates(docs20, 3, 100, 0.2).count()
      operators.SimHash.nearPairs(docs20).count()
      operators.Winnowing.sharedFingerprints(docs20).count()
      operators.IvfIndex.search(emb50,
        org.apache.spark.sql.functions.col("vec_id") < 3,
        k = 4, nProbe = 2, topK = 3).count()
      // graph family: the superstep kernel's first RDD shuffle (edge
      // grouping, message exchange) otherwise lands on q57, the first
      // graph query by name — a 3-edge BFS pays it here
      import spark.implicits._
      operators.BfsHops.run(Seq((1L, 2L), (2L, 3L), (3L, 1L))
          .toDF("src", "dst"),
        Seq((1L, 0), (2L, operators.BfsHops.Inf), (3L, operators.BfsHops.Inf))
          .toDF("v", "dist"), maxRounds = 3)._1.count()
      // snapshot-store family: the commit/publish/read file paths and
      // parquet-footer code JIT once here so i05/i10 time the operator,
      // not first-use initialization (same rationale as the sketch
      // warmup above) — a 20-doc store, built and dropped
      val idx20 = operators.IngestionPipeline
        .buildIndexFrom(spark.read.parquet(s"$sfDir/documents.parquet")
          .limit(20), 120, 20, 8)
      operators.SnapshotStore.commit(idx20, wroot, buckets = 4)
      operators.SnapshotStore.upsert(spark, idx20.limit(5),
        idx20.select("doc_id").limit(5).distinct(), wroot, 4)
      operators.SnapshotStore.read(spark, wroot).count()
      // stored-ANN family: the versioned IVF verbs' first use (cent_id
      // bands, the keyed upsert's id collect, the delete set, the hot-cell
      // split, the probe read) otherwise lands on s20–s23 — 20 vectors,
      // built and dropped
      val vroot = s"$wroot/ivf"
      val emb20 = emb50.limit(20)
      operators.VersionedIvf.write(emb20, 4, vroot)
      operators.VersionedIvf.upsert(spark, vroot, emb20.limit(5))
      operators.VersionedIvf.delete(spark, vroot,
        emb20.select("vec_id").limit(3))
      operators.VersionedIvf.rebalanceUntil(spark, vroot, hotFactor = 1.0,
        maxRounds = 2)
      operators.VersionedIvf.search(spark, vroot, emb20.limit(2),
        nProbe = 2, topK = 3).count()
    } catch { case _: Throwable => () }
    finally {
      val p = new org.apache.hadoop.fs.Path(wroot)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true): Unit
      catch { case _: Throwable => () }
    }
  }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // pinned HERE, not only via build.sbt's forked-run javaOptions: a
      // spark-submit launch of Bench must render NTZ timestamps in the
      // same zone the oracle (and Verify) use
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    // SPARK_GRAFT_ONLY=d05,s03 restricts the run for local iteration; the
    // driver never sets it, so round artifacts always cover every query.
    // SPARK_GRAFT_SKIP excludes named queries (same contract as Verify —
    // used by the sf1 scaling-curve run, where the verdict-exempt
    // all-pairs-ER queries q63/q66 are quadratic by construction).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(f => f.exists(n.startsWith)) &&
          !skip.exists(n.startsWith) }
    // Noise re-time reference: the per-query MINIMUM over the last 3
    // runs (target/bench_hist.jsonl, one per-query map per line). A
    // single-run baseline is itself load-noise-prone — BENCH_r08
    // recorded d18 at 12.5 s (idle: 2.6 s) because the >3x rule compared
    // against a PREVIOUS run that was also loaded; a rolling minimum is
    // a load-free anchor as long as any one of the recent runs was idle.
    // Falls back to bench_last.json when no history exists yet.
    def parseQueryTimes(txt: String): Map[String, Double] =
      "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val histPath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_HIST", "target/bench_hist.jsonl"))
    def readHist(p: java.nio.file.Path): Seq[Map[String, Double]] =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(p).asScala.toSeq
          .filter(_.nonEmpty).takeRight(3).map(parseQueryTimes)
      } catch { case _: Throwable => Nil }
    // A fresh checkout has no target/ — seed the anchor from the
    // committed round-close history so the driver's run still re-times
    // load stalls (the whole point of the rolling minimum). Only the
    // DEFAULT sf0.1 path seeds this way: an explicit
    // SPARK_GRAFT_BENCH_HIST (the sf1 scaling run) must not compare
    // against sf0.1 minima, where every query would look >3x slow.
    val histRuns: Seq[Map[String, Double]] = {
      val own = readHist(histPath)
      if (own.nonEmpty || sys.env.contains("SPARK_GRAFT_BENCH_HIST") ||
          canon(sfDir) != canon(DefaultSfDir)) own
      else {
        // the committed seed lives at <repo>/artifacts/ — resolve it by
        // walking up from the CWD (a spark-submit launch from a
        // subdirectory must still find it, not silently skip seeding)
        val rel = java.nio.file.Paths.get("artifacts/bench_hist.jsonl")
        val fromCwd = Iterator.iterate(
          java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
          .takeWhile(_ != null).take(4)
          .map(_.resolve(rel)).find(java.nio.file.Files.exists(_))
        fromCwd.map(readHist).getOrElse(Nil)
      }
    }
    val lastRun: Map[String, Double] =
      try parseQueryTimes(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_OUT", "target/bench_last.json"))), "UTF-8"))
      catch { case _: Throwable => Map.empty }
    val priorRuns = if (histRuns.nonEmpty) histRuns else Seq(lastRun)
    val prior: Map[String, Double] = priorRuns.flatten
      .filter(_._2 > 0).groupMapReduce(_._1)(_._2)(math.min)
    // Every measurement taken per query, in order — a re-timed query
    // records BOTH numbers in the artifact (a genuinely bimodal >3x
    // regression must stay visible in the JSON the next round diffs
    // against, not only as a discarded stderr note).
    val attempts = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    def timeOnce(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      // Isolation between queries: a System.gc() OUTSIDE the timed window
      // lets Spark's ContextCleaner drop the previous query's lingering
      // blocks (localCheckpoint RDDs, broadcast pieces) so query N+1's
      // time measures query N+1, not its predecessor's garbage. Measured
      // effect: the q-family ran up to 5x slower right after the
      // allocation-heavy d-family without this.
      System.gc()
      val t0 = System.nanoTime()
      // A failed query reports -1, not a normal-looking elapsed time —
      // broken and fast must be distinguishable in the bench artifact.
      val t = try {
        fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      }
      attempts(name) = attempts(name) :+ t
      t
    }
    val firstPass = selected.map { case (name, fn) =>
      val first = timeOnce(name, fn)
      // Re-time a >3x-slower-than-best-of-recent outlier once and keep
      // the better time: a genuine regression reproduces, a load spike
      // does not. Only queries slow in absolute terms re-run (re-timing
      // a 0.2 s blip would double the suite's wall clock for nothing).
      val elapsed = prior.get(name) match {
        case Some(prev) if prev > 0 && first > 3 * prev && first > 2.0 =>
          val second = timeOnce(name, fn)
          if (second >= 0 && second < first) {
            System.err.println(f"[bench] $name retimed: first $first%.1f s" +
              f" (>3x best-of-recent $prev%.1f s), kept $second%.1f s")
            second
          } else first
        case _ => first
      }
      name -> elapsed
    }
    // Final slowest-10 sweep: the queries that dominate the artifact get
    // one more chance to shed load noise — a window that slipped past
    // the >3x rule (because the single-run baseline was itself loaded)
    // still shows up here when it is >1.5x the rolling minimum.
    val fnOf = selected.toMap
    val slowestNames = firstPass.filter(_._2 >= 0.0)
      .sortBy(-_._2).take(10).map(_._1).toSet
    val afterSlowest = firstPass.map { case (name, elapsed) =>
      val retry = slowestNames.contains(name) && (prior.get(name) match {
        case Some(prev) => prev > 0 && elapsed > 1.5 * prev && elapsed > 2.0
        case None => false
      })
      if (!retry) name -> elapsed
      else {
        val again = timeOnce(name, fnOf(name))
        if (again >= 0 && again < elapsed) {
          System.err.println(f"[bench] $name slowest10-retimed: " +
            f"$elapsed%.1f s -> kept $again%.1f s")
          name -> again
        } else name -> elapsed
      }
    }
    // Whole-run load-stall rescue: the per-query rules rescue individual
    // outliers, but nothing rescues a run whose ENTIRE window was loaded
    // (BENCH_r11: a uniform 2.5-3x signature across every family,
    // adjudicated as host noise only by cross-referencing the committed
    // history). When the total over anchor-covered queries exceeds 1.3x
    // the rolling-min anchor for the SAME queries, re-run the whole
    // suite ONCE and keep each query's best time — the canonical
    // artifact can then never be a pure load artifact unless the host
    // stays loaded for both windows (which the recorded loadavg exposes).
    // The trigger was 1.5x through round 12, where a load-compromised
    // capture (start load 18.8 on 32 cpus, 13 queries individually
    // retimed) sat at 1.49x anchor and stayed canonical — one percent
    // under the trigger. 1.3x still clears honest growth (new queries
    // are anchor-UNcovered, so suite growth never trips it) while
    // catching exactly that margin.
    val covered = afterSlowest
      .filter { case (n, v) => v >= 0 && prior.get(n).exists(_ > 0) }
    val anchorTotal = covered.map { case (n, _) => prior(n) }.sum
    val coveredTotal = covered.map(_._2).sum
    val coverage =
      if (afterSlowest.isEmpty) 0.0
      else covered.size.toDouble / afterSlowest.size
    val rerunFull = coverage >= 0.9 && anchorTotal > 0 &&
      coveredTotal > 1.3 * anchorTotal
    val results = if (!rerunFull) afterSlowest else {
      System.err.println(f"[bench] whole-run load stall: covered total " +
        f"$coveredTotal%.1f s > 1.3x rolling-min anchor $anchorTotal%.1f s" +
        " — re-running the full suite once, keeping best-of-both")
      afterSlowest.map { case (name, first) =>
        val again = timeOnce(name, fnOf(name))
        name -> (if (again >= 0 && (first < 0 || again < first)) again
                 else first)
      }
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Each query's FIRST attempt, whatever the re-time rules kept in
    // `queries`: a parent-vs-change comparison of single queries can
    // then compare first passes with first passes. Written before
    // `queries`, so parseQueryTimes (last match wins) still reads the
    // kept times from an artifact.
    val firstPassJson = results.map { case (k, _) =>
      s"\"" + k + "\":" + attempts(k).head }.mkString("{", ",", "}")
    // A run with failures must not look FASTER than a clean one: failures
    // are counted explicitly and the total is only comparable when
    // failed == 0 (the driver's gate treats a failed run as failed, not
    // as a better time).
    val failed = results.count(_._2 < 0.0)
    val total = results.filter(_._2 >= 0.0).map(_._2).sum
    // Like-for-like across rounds even when the rescue fires: rounds
    // where rerun_full keeps best-of-two would otherwise report
    // min-of-two totals against historical single-run totals — a small
    // systematic downward bias. `total_firstpass` is always the
    // pre-rescue single-run total (== value when the rescue did not
    // fire), so cross-round comparisons can pick either basis.
    val totalFirstpass = afterSlowest.filter(_._2 >= 0.0).map(_._2).sum
    // Like-for-like cross-round comparison: the exact query set BENCH_r04
    // recorded (63 queries). `total_r04suite` sums only those, so round
    // totals stay comparable even though the suite keeps growing.
    val r04Suite: Set[String] = (
      "d01_exact_dedup,d02_minhash_lsh,d03_simhash,d04_simhash_pairs," +
      "d05_embedding_near_dup,d06_dedup_summary,i01_ingest_index," +
      "i02_extraction_refs,m01_media_meta,q01_pricing_summary," +
      "q02_filter_project,q03_join_broadcast,q04_join_multiway,q05_semi_join," +
      "q06_anti_join,q07_window_rank,q08_window_running,q09_rollup,q10_cube," +
      "q11_setops,q12_count_distinct,q13_topk,q14_monthly_revenue," +
      "q15_json_extract,q16_string_funcs,q17_having,q18_avg_by_nation," +
      "q19_event_gaps,q20_hourly_events,q21_path_parse,q22_approx_distinct," +
      "q23_asof_join,q24_topk_custom,q25_sessionize,q26_median,q27_stats," +
      "q28_event_type_sets,q29_pivot,q30_unpivot,q31_sample," +
      "q32_grouping_sets,q33_sql_text,r01_topk_sim,r02_rag_search," +
      "r03_doc_listing,r04_keyword_search,r05_regex_extract,r06_chunks," +
      "r07_vector_ids,r08_embed_query,r09_report,r10_query_classify," +
      "r11_rag_format,r12_json_tables,s01_ann_srp,s02_sim_join_topk," +
      "s03_ann_ivf,t01_langid,t02_quality,t03_token_stats,t04_fingerprint," +
      "t05_term_freq,t06_tfidf").split(",").toSet
    val totalR04 = results
      .filter { case (n, v) => r04Suite(n) && v >= 0.0 }.map(_._2).sum
    // a failed r04-suite query must not make the subset total look
    // FASTER than the r04 baseline that included it
    val failedR04 = results.count { case (n, v) => r04Suite(n) && v < 0.0 }
    // Every multi-measured query's raw attempts, in order — the ADVICE
    // transparency contract: a discarded slow measurement is data, not
    // just a stderr note.
    val retimed = attempts.toSeq.filter(_._2.size > 1).sortBy(_._1)
      .map { case (k, v) =>
        s""""$k":[${v.map(x => num(x, 3)).mkString(",")}]"""
      }.mkString("{", ",", "}")
    // n_queries: totals are only comparable across rounds at the same
    // query count (the suite grew 63 -> 134 during round 5).
    val loadEnd = loadavg1m()
    // load telemetry + the rescue rule's inputs travel IN the artifact:
    // a future reader can adjudicate "regression vs loaded host" from
    // the JSON alone instead of cross-referencing sbt wall clocks
    val loadJson = s""""load_1m_start":${num(loadStart, 2)},"load_1m_end":${num(loadEnd, 2)},"anchor_total":${num(anchorTotal, 3)},"rerun_full":$rerunFull,"total_firstpass":${num(totalFirstpass, 3)}"""
    val big = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"n_queries":${results.size},"total_r04suite":$totalR04,"failed_r04suite":$failedR04,$loadJson,"retimed":$retimed,"first_pass":$firstPassJson,"queries":$qs,"sf":"$sfDir"}"""
    println(big)
    // Artifact durability (BENCH_r05.json lost its totals to a tail
    // capture that truncated from the FRONT of this line): repeat the
    // totals WITHOUT the long per-query map as a final short line — any
    // tail capture retains it — and persist the full JSON to a file.
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","failed":$failed,"n_queries":${results.size},"total_r04suite":$totalR04,"failed_r04suite":$failedR04,"sf":"$sfDir"}""")
    // Slowest-10 one-liner: short enough to survive any tail capture, so
    // a round artifact is interpretable (which queries dominate the
    // total) even when the full per-query map was truncated from the
    // front.
    val slow10 = results.filter(_._2 >= 0.0).sortBy(-_._2).take(10)
      .map { case (k, v) => s""""$k":${num(v, 2)}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"slowest10","queries":$slow10}""")
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_last.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (big + "\n").getBytes("UTF-8"))
      // rolling history: this run's kept per-query times append; the
      // next run's noise anchor is the min over the last 3 lines
      val histLines = (histRuns :+ results.toMap).takeRight(3).map { m =>
        m.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      }
      Option(histPath.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(histPath,
        histLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench file: $e")
    }
    spark.stop()
  }
}
