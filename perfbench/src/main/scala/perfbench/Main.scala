package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --out <dir> --tmp <dir>`.
  *
  * Spark runs `local[k]` with k = min(4, cores). Set-up (input
  * generation, store and index build) runs [[Setups]] times into fresh
  * directories and `setup_s` is its median; the last
  * set-up is the one measured, after one untimed warm-up pass over each
  * kind of operation. A single client thread then runs
  * the workload's units in a closed loop until `--seconds` have passed,
  * and the final state is checked. The last stdout line is the result
  * object; the run record (details, sizes, spans, count fingerprint) goes
  * to `--out`. */
object Main {

  /** Set-ups per run; their median is `setup_s`, so the first, JIT-cold
    * set-up never sets it. Session start and warm-up happen once and are
    * left out of it; the run record's `first_op_s` spans process start to
    * the first timed operation. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark's non-daemon threads must not keep a failed run alive
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val out = new File(arg("out"))
    val tmp = new File(arg("tmp"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    out.mkdirs()

    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
    if (trace) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "rag_query" => new RagQuery(spark, seed)
      case "ingest_churn" => new IngestChurn(spark, seed)
      case "curate_batch" => new CurateBatch(spark, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (rag_query, ingest_churn, curate_batch)")
    }

    val setupPhases = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val setupS = (1 to Setups).map { rep =>
      val s0 = System.nanoTime()
      w.setup(new File(tmp, s"setup-$rep"))
      setupPhases += w.phases.toMap
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmUpS = (System.nanoTime() - w0) / 1e9

    val tr = new Tracer(spark, trace)
    val run = new Run(spark, tr)
    tr.start()
    val gc0 = gcMs()
    // process start to the first timed operation, session and warm-up included
    val firstOpS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val loop0 = System.nanoTime()
    while ((System.nanoTime() - loop0) / 1e9 < seconds) w.step(run)
    val loopGcMs = gcMs() - gc0
    val busyS = run.busyMs(w.paced) / 1000
    val traced = if (trace) Some(tr.finish()) else None

    val final_ = new Run(spark, new Tracer(spark, enabled = false))
    w.finish(final_)
    val attempted = run.attempted + final_.attempted
    val failed = run.failed + final_.failed

    // the second collection follows the context cleaner's release of the
    // blocks the first one made unreachable (checkpoints, broadcasts)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0

    val lat = run.samples(w.unitKind).toSeq
    val tail = Stats.tail(lat)
    val metrics: Seq[(String, Double)] = traced match {
      case None => Seq(
        "setup_s" -> Stats.median(setupS),
        "latency_p50_ms" -> Stats.median(lat),
        "docs_per_s" -> run.docs / busyS,
        "recall" -> (run.recall ++ final_.recall).sum /
          math.max(run.recall.size + final_.recall.size, 1),
        "retained_heap_mb" -> heapMb)
      case Some((costs, loose, looseStages)) =>
        perLayer(costs, loose, looseStages, cores, loopGcMs) :+
          ("trace.latency_p50_ms" -> Stats.median(lat))
    }
    val catalogue =
      if (trace) Metrics.PerLayer else Metrics.EndToEnd
    require(metrics.map(_._1).toSet == catalogue.map(_.name).toSet,
      "metric set drifted from the catalogue")

    val details = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "session_start_s" -> sessionS, "setup_runs_s" -> setupS,
      "first_op_s" -> firstOpS,
      "setup_phases_s" -> setupPhases, "warm_up_s" -> warmUpS,
      "latency_samples" -> lat.size, "latency_ms" -> lat,
      "latency_tail_ms" -> tail.value,
      "latency_tail_percentile" -> tail.percentile,
      "ops_per_s" -> lat.size / busyS,
      "fail_frac" -> failed.toDouble / attempted,
      "sizes" -> w.sizes) ++
      run.samples.collect { case (k, v) if k != w.unitKind =>
        s"${k}_p50_ms" -> Stats.median(v.toSeq) } ++
      run.details ++ final_.details
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    traced.foreach { case (costs, _, _) =>
      writeLines(new File(out, s"$tag.spans.jsonl"), costs.map(spanJson))
      writeLines(new File(out, s"$tag.counts.jsonl"),
        fingerprint(workload, seed, costs))
    }
    val units = catalogue.map(m => m.name -> m.unit).toMap
    val result = Json.render(Map(
      "correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v) =>
        n -> Map("value" -> v, "unit" -> units(n)) }.toMap))
    writeLines(new File(out, s"$tag.json"),
      Seq(Json.render(details + ("result" -> Json.Raw(result)))))
    System.err.println("perfbench details: " + Json.render(details))
    spark.stop()
    println(result)
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Per-layer metrics: each layer.verb measure as the median over its
    * calls, plus whole-run Spark figures. Root spans are the unit
    * operations; their count normalizes the run-length-dependent totals. */
  def perLayer(costs: Seq[SpanCost], loose: Seq[JobRec],
      looseStages: Seq[StageRec], cores: Int,
      gcMs: Double): Seq[(String, Double)] = {
    val byVerb = costs.filter(_.span.depth > 0).groupBy(_.span.name)
    val layer = Metrics.Layers.flatMap { case (verb, ms) =>
      val calls = byVerb.getOrElse(verb, Nil)
      ms.map { m =>
        val xs = calls.flatMap(_.measure(m))
        s"$verb.$m" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
      }
    }
    val roots = costs.filter(_.span.depth == 0)
    val n = math.max(roots.size, 1).toDouble
    val wall = roots.map(_.span.ms).sum
    layer ++ Seq(
      "spark.jobs" -> (roots.map(_.jobs).sum + loose.size) / n,
      "spark.stages" -> (roots.map(_.stages).sum + looseStages.size) / n,
      "spark.tasks" ->
        (roots.map(_.tasks).sum + looseStages.map(_.tasks).sum) / n,
      "spark.driver_gap_share" -> roots.map(_.driverGapMs).sum / wall,
      "spark.exec_cpu_share" ->
        (roots.map(_.execCpuMs).sum + looseStages.map(_.cpuMs).sum) /
          (wall * cores),
      "spark.shuffle_bytes" -> (roots.map(_.shuffleBytes).sum +
        looseStages.map(_.shuffleBytes).sum) / n,
      "spark.gc_ms" -> gcMs / n,
      "spark.untagged_jobs" -> loose.size.toDouble)
  }

  private def spanJson(c: SpanCost): String = Json.render(Map(
    "id" -> c.span.id, "name" -> c.span.name,
    "parent" -> c.span.parent.map(_.id).getOrElse(-1), "req" -> c.span.req,
    "start_ms" -> c.span.start, "end_ms" -> c.span.end,
    "self_ms" -> c.selfMs, "jobs" -> c.jobs, "stages" -> c.stages,
    "tasks" -> c.tasks, "driver_gap_ms" -> c.driverGapMs,
    "exec_cpu_ms" -> c.execCpuMs, "shuffle_bytes" -> c.shuffleBytes,
    "spill_bytes" -> c.spillBytes, "input_records" -> c.inputRecords,
    "fs_read_ops" -> c.fs.readOps, "fs_bytes_read" -> c.fs.bytesRead,
    "fs_bytes_written" -> c.fs.bytesWritten, "notes" -> c.span.notes.toMap))

  /** The counts of every layer call, in call order: these should repeat
    * exactly across traced runs of one seed. */
  def fingerprint(workload: String, seed: Long,
      costs: Seq[SpanCost]): Seq[String] =
    costs.filter(_.span.depth > 0).groupBy(_.span.name).toSeq.sortBy(_._1)
      .flatMap { case (verb, calls) =>
        calls.sortBy(_.span.id).zipWithIndex.map { case (c, i) =>
          Json.render(Map("workload" -> workload, "seed" -> seed,
            "verb" -> verb, "call" -> i, "jobs" -> c.jobs,
            "stages" -> c.stages, "tasks" -> c.tasks) ++
            Seq("files_added", "rounds").flatMap(k =>
              c.span.notes.get(k).map(k -> _)))
        }
      }

  private def writeLines(f: File, lines: Seq[String]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

/** Minimal JSON rendering: maps (keys sorted), sequences, strings,
  * numbers as measured, booleans. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def render(x: Any): String = x match {
    case Raw(j) => j
    case m: scala.collection.Map[_, _] => m.toSeq
      .map { case (k, v) => (k.toString, v) }.sortBy(_._1)
      .map { case (k, v) => s"${quote(k)}: ${render(v)}" }
      .mkString("{", ", ", "}")
    case o: Option[_] => o.map(render).getOrElse("null")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case other => quote(String.valueOf(other))
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
