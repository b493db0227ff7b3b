package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Measurement harness (optimization guide §1): run named queries with a
  * job-level listener and print where the wall clock goes — one line per
  * Spark job with its callsite, so a multi-verb store pipeline (write →
  * publish → read → search) shows which verb dominates. Dev tooling only:
  * never run by the driver; Bench stays the timing authority.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Profile s26_ivfadc_rebalance[,more]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("s26_ivfadc_rebalance"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench's warm-up, so a profiled query runs as warm as a timed one
    Bench.warmUp(spark, sfDir)
    case class Job(id: Int, site: String, start: Long, var dur: Long = -1L)
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    // SQL executions carry the ACTION's callsite as their description —
    // the per-verb label a broadcast-future stage name hides
    case class Exec(id: Long, desc: String, start: Long, var dur: Long = -1L)
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          jobs += Job(j.jobId, site, j.time)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == j.jobId).foreach(x => x.dur = j.time - x.start)
        }
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case s: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionStart =>
            execs.synchronized {
              execs += Exec(s.executionId, s.description, s.time)
            }
          case e: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionEnd =>
            execs.synchronized {
              execs.find(_.id == e.executionId)
                .foreach(x => x.dur = e.time - x.start)
            }
          case _ =>
        }
    })
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query: $name")
        case Some(fn) =>
          // one untimed run would hide cold costs a bench first run pays;
          // profile the SAME single-shot shape Bench times
          jobs.synchronized(jobs.clear())
          execs.synchronized(execs.clear())
          System.gc()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val total = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // let trailing job-end events drain
          val snap = jobs.synchronized(jobs.toVector)
          val jobTotal = snap.filter(_.dur >= 0).map(_.dur).sum / 1e3
          println(f"== $name: wall $total%.2f s, ${snap.size} jobs, " +
            f"job-time sum $jobTotal%.2f s (gaps = driver work)")
          // group by SQL-action callsite: the per-verb cost rollup.
          // NOTE executions may overlap (futures), so the sum can exceed
          // wall; it still ranks which verbs cost.
          val esnap = execs.synchronized(execs.toVector)
          println(f"   -- ${esnap.size} SQL executions --")
          esnap.filter(_.dur >= 0).groupBy(_.desc).toSeq
            .map { case (s, js) => (s, js.map(_.dur).sum / 1e3, js.size) }
            .sortBy(-_._2).take(25)
            .foreach { case (s, d, n) =>
              println(f"   $d%7.2f s  x$n%-4d $s")
            }
          // job-site rollup: jobs NOT wrapped in a SQL execution (file
          // listing, checkpoint materializations, RDD probes) are
          // invisible above; group every job by its terminal stage name
          println(s"   -- job sites --")
          snap.filter(_.dur >= 0).groupBy(_.site).toSeq
            .map { case (s, js) => (s, js.map(_.dur).sum / 1e3, js.size) }
            .sortBy(-_._2).take(20)
            .foreach { case (s, d, n) =>
              println(f"   $d%7.2f s  x$n%-4d $s")
            }
          // DRIVER-GAP attribution: idle-of-jobs windows between one
          // job's end and the next job's start are pure driver work
          // (planning, manifest/footer IO, commit protocol); attribute
          // each gap to the NEXT job's site — "what the driver was
          // preparing". Jobs can overlap, so walk a merged timeline.
          val ordered = snap.filter(_.dur >= 0).sortBy(_.start)
          var frontier = 0L
          val gaps = scala.collection.mutable.Map.empty[String, (Double, Int)]
          ordered.foreach { j =>
            if (frontier > 0 && j.start > frontier) {
              val g = (j.start - frontier) / 1e3
              val (d0, n0) = gaps.getOrElse(j.site, (0.0, 0))
              gaps(j.site) = (d0 + g, n0 + 1)
            }
            frontier = math.max(frontier, j.start + j.dur)
          }
          println(s"   -- driver gaps (attributed to next job) --")
          gaps.toSeq.sortBy(-_._2._1).take(20).foreach {
            case (s, (d, n)) => println(f"   $d%7.2f s  x$n%-4d $s")
          }
      }
    }
    spark.stop()
  }
}
