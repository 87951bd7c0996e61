package lakebench

import graft.pipeline.Snapshot
import org.apache.spark.scheduler.lakebench.Bus

/** One benchmark run in one JVM: set up (several times, for the set-up
  * metric), run one workload's closed loop for the given seconds (then on
  * to the end of the workload's cycle), check
  * the outputs, and write every metric plus a report to `--out`.
  *
  * {{{
  * lakebench.Main --workload cdc_ingest --seed 1 --seconds 10 --trace 0 \
  *   --root <scratch dir> --out <result.json> --launched-ms <epoch ms>
  * }}}
  */
object Main {

  /** Fixture set-ups per run; the set-up metric is their median. */
  val SetupReps = 3

  /** Heap, warehouse size and table counts are taken right after this
    * many write ops, so they do not depend on how many ops fit in the
    * run. */
  val CountAfterWrites = 2

  private def workload(name: String, spark: org.apache.spark.sql.SparkSession,
                       seed: Long, trace: Trace, ops: Ops): Workload =
    name match {
      case "cdc_ingest" => new CdcIngest(spark, seed, trace, ops)
      case "llm_curation" => new LlmCuration(spark, seed, trace, ops)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'")
    }

  /** Layer metrics taken from spans: (metric, span name, op kind, jobs?) —
    * the median over ops of that kind that made the call. */
  private val SpanMetrics = Seq(
    ("catalog.merge_ms", "catalog.merge", "write", false),
    ("catalog.merge_jobs", "catalog.merge", "write", true),
    ("catalog.insert_ms", "catalog.insert", "write", false),
    ("catalog.checkpoint_merge_ms", "catalog.checkpoint_merge", "write",
      false),
    ("catalog.analyze_ms", "catalog.analyze", "read", false),
    ("pipeline.rollup_refresh_ms", "pipeline.rollup_refresh", "write",
      false),
    ("pipeline.rollup_refresh_jobs", "pipeline.rollup_refresh", "write",
      true),
    ("pipeline.snapshot_read_miss_ms", "pipeline.snapshot_read.miss",
      "read", false),
    ("cdc.last_offset_ms", "cdc.last_offset", "write", false),
    ("ext.dedup_ms", "ext.dedup", "write", false),
    ("ext.decontaminate_ms", "ext.decontaminate", "write", false),
    ("ext.text_refresh_ms", "ext.text_refresh", "write", false),
    ("ext.ivf_refresh_ms", "ext.ivf_refresh", "write", false),
    ("ext.text_search_ms", "ext.text_search", "read", false),
    ("ext.ivf_search_ms", "ext.ivf_search", "read", false))

  private val SampleMetrics = Seq("pipeline.snapshot_read_hit_ms",
    "cdc.lww_survivor_ratio", "privacy.mask_ms", "ext.dup_drop_ratio",
    "ext.recall_at_10")

  private val SparkMetrics = Seq("jobs", "stages", "tasks", "task_ms",
    "gc_ms", "shuffle_write_bytes", "input_bytes", "output_bytes",
    "job_active_ms", "driver_ms")

  private def unitOf(metric: String): String =
    if (metric.endsWith("rows_per_s")) "1/s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("_ratio") || metric.endsWith("_at_10")) "ratio"
    else if (metric.endsWith("_s")) "s"
    else "count"

  /** End-to-end latency and throughput of a set of op records. */
  private def endToEnd(recs: Seq[OpRec]): Map[String, (Double, Map[String, Any])] = {
    def lat(kind: String) = {
      val s = Stats.summary(recs.filter(_.kind == kind).map(_.seconds))
      Map(
        s"${kind}_p50_s" -> (s.p50, Map[String, Any]("n" -> s.n)),
        s"${kind}_tail_s" -> (s.tail,
          Map[String, Any]("n" -> s.n, "percentile" -> s.tailPct)))
    }
    val w = recs.filter(r => r.kind == "write" && r.ok)
    val secs = w.map(_.seconds).sum
    lat("write") ++ lat("read") ++ Map("rows_per_s" -> (
      (if (secs > 0) w.map(_.rows).sum / secs else 0.0),
      Map[String, Any]("n" -> w.size, "rows" -> w.map(_.rows).sum)))
  }

  /** Heap in use after a full collection; the pause between the two
    * collections lets Spark's cleaner drop the blocks and shuffles the
    * first one found unreachable. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val root = a("root")
    val traceOn = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val spark = Session.make(root)
    val listener =
      if (!traceOn) None
      else {
        val l = new JobListener
        spark.sparkContext.addSparkListener(l)
        Some(l)
      }
    val trace = new Trace(traceOn,
      () => Bus.jobsSubmitted(spark.sparkContext))
    val ops = new Ops(trace)
    val w = workload(a("workload"), spark, seed, trace, ops)
    val sessionReadyS =
      (System.currentTimeMillis() - a("launched-ms").toLong) / 1000.0

    // --- set-up: the fixture several times on fresh warehouses, then
    // one untimed warmup op of each type on the last one ---------------
    val setupTimes = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(s"$root/wh$rep")
      val t = (System.nanoTime() - t0) / 1e9
      if (rep > 0) Check.deleteTree(s"$root/wh${rep - 1}")
      t
    }
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val wh = s"$root/wh${SetupReps - 1}"

    // failure accounting self-check: a MERGE into an unregistered table
    // must come back as a failure with its error class, never a time
    val bad = ops.probe("write") {
      spark.sql("""MERGE INTO iceberg.nowhere.missing t
        USING (SELECT 1 AS id) s ON t.id = s.id
        WHEN MATCHED THEN DELETE""")
      1L
    }
    val selfCheck = !bad.ok && bad.seconds.isInfinite && bad.error.nonEmpty

    // --- timed closed loop --------------------------------------------
    def countsNow(): Map[String, Any] = trace.span("probe.counts") {
      Map(
        "heap_after_gc_mb" -> heapAfterGcMb(),
        "warehouse_bytes" -> Check.dirBytes(wh),
        "table_files" -> Snapshot.fileCount(w.tablePath),
        "retained_versions" -> Snapshot.historicalVersions(w.tablePath).size,
        "rows_committed" ->
          ops.records.filter(_.kind == "write").map(_.rows).sum,
        "input_hash" -> w.inputHash,
        "writes" -> ops.records.count(_.kind == "write"))
    }
    def morVersions(): Int = trace.span("probe.mor_versions") {
      Snapshot.morVersions(w.tablePath).size
    }
    var atCount: Option[Map[String, Any]] = None
    var morMax = 0
    val compacting = scala.collection.mutable.ArrayBuffer.empty[Int]
    val firstTimedJob = trace.nextJob
    val t0 = System.nanoTime()
    var steps = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || steps % w.cycle != 0) {
      steps += 1
      val morBefore = if (traceOn) morVersions() else 0
      val n0 = ops.records.size
      w.step(traceOn)
      val newWrites = ops.records.drop(n0).filter(_.kind == "write")
      if (traceOn && newWrites.nonEmpty) {
        val morAfter = morVersions()
        if (morAfter <= morBefore) compacting ++= newWrites.map(_.id)
        morMax = math.max(morMax, morAfter)
      }
      if (atCount.isEmpty &&
          ops.records.count(_.kind == "write") >= CountAfterWrites)
        atCount = Some(countsNow())
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val timedJobs = firstTimedJob until trace.nextJob
    val counted = atCount.getOrElse(countsNow())

    // --- correctness ----------------------------------------------------
    val failures = ops.records.filterNot(_.ok).map(_.error)
      .groupBy(identity).map { case (k, v) => k -> v.size }
    var gates = w.gates() ++ Seq(
      Gate("a failing op is counted as a failure", selfCheck,
        s"${bad.error} after ${bad.endNs - bad.startNs} ns"),
      Gate("no timed op failed", failures.isEmpty,
        failures.map { case (k, n) => s"$n x $k" }.mkString(", ")))

    // --- metrics --------------------------------------------------------
    val recs = ops.records
    val e2e = endToEnd(recs) ++ Map(
      "setup_s" -> (sessionReadyS + Stats.median(setupTimes) + warmupS,
        Map[String, Any]("n" -> SetupReps)),
      "warehouse_mb" -> (counted("warehouse_bytes").asInstanceOf[Long] /
        1048576.0, Map[String, Any]("n" -> 1,
        "after_writes" -> counted("writes"))),
      "heap_after_gc_mb" -> (counted("heap_after_gc_mb").asInstanceOf[Double],
        Map[String, Any]("n" -> 1, "after_writes" -> counted("writes"))))

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var opCounts = Seq.empty[Map[String, Any]]
    var spans = Seq.empty[Map[String, Any]]
    listener.foreach { l =>
      Bus.drain(spark.sparkContext)
      val at = new Attribution(trace, l.all)
      val traced = recs.filter(r => r.traced && r.ok)
      SpanMetrics.foreach { case (metric, span, kind, jobs) =>
        val vals = traced.filter(_.kind == kind).flatMap { r =>
          val ss = at.layer(r.id, span)
          if (ss.isEmpty) None
          else Some(
            if (jobs) ss.map(s => at.jobsOf(s).size.toDouble).sum
            else ss.map(_.ms).sum)
        }
        layer(metric) = Stats.median(vals)
      }
      SampleMetrics.foreach(m =>
        layer(m) = Stats.median(w.samples.getOrElse(m, Nil).toSeq))
      Seq("write", "read").foreach { kind =>
        val per = traced.filter(_.kind == kind).map(r => at.sparkOf(r.id))
        SparkMetrics.foreach(m =>
          layer(s"spark.$kind.$m") = Stats.median(per.flatMap(_.get(m))))
      }
      layer("pipeline.compactions") = compacting.size.toDouble
      layer("pipeline.compaction_write_ms") = Stats.median(
        traced.filter(r => compacting.contains(r.id)).flatMap { r =>
          at.opSpan(r.id).map(s => at.activeMs(s, at.jobsOf(s)
            .filter(_.details.contains("rewritePositionDeletes"))))
        })
      layer("pipeline.table_files") =
        counted("table_files").asInstanceOf[Int].toDouble
      layer("pipeline.retained_versions") =
        counted("retained_versions").asInstanceOf[Int].toDouble
      layer("pipeline.mor_versions_max") = morMax.toDouble
      val problems = at.reconcile(timedJobs, recs)
      gates = gates :+ Gate("every timed job belongs to one traced op or " +
        "probe, and op spans match op records", problems.isEmpty,
        problems.take(5).mkString("; "))
      opCounts = recs.filter(_.traced).map { r =>
        Map[String, Any]("op" -> r.id, "kind" -> r.kind, "rows" -> r.rows,
          "jobs" -> at.sparkOf(r.id).getOrElse("jobs", 0.0).toLong,
          "compacted" -> compacting.contains(r.id))
      }
      spans = trace.spans.filter(_.endNs >= 0).map(s => Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "op" -> s.opId, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "ms" -> s.ms,
        "self_ms" -> at.selfMs(s), "jobs" -> (s.endJob - s.firstJob)))
    }

    val failed = recs.count(!_.ok)
    val metrics: Map[String, Map[String, Any]] =
      if (traceOn) layer.toMap.map { case (k, v) =>
        k -> Map[String, Any]("value" -> v, "unit" -> unitOf(k))
      }
      else e2e.map { case (k, (v, extra)) =>
        k -> (Map[String, Any]("value" -> v, "unit" -> unitOf(k)) ++ extra)
      }
    val result = Map[String, Any](
      "correct" -> gates.forall(_.ok),
      "attempted" -> recs.size,
      "failed" -> failed,
      "metrics" -> metrics,
      "report" -> Map[String, Any](
        "workload" -> w.name, "seed" -> seed, "trace" -> traceOn,
        "timed_s" -> timedS, "setup_reps_s" -> setupTimes,
        "warmup_s" -> warmupS,
        "session_ready_s" -> sessionReadyS,
        "failed_ratio" -> failed.toDouble / math.max(recs.size, 1),
        "errors" -> failures,
        "end_to_end" -> e2e.map { case (k, (v, extra)) =>
          k -> (extra + ("value" -> v) + ("unit" -> unitOf(k))) },
        "gates" -> gates.map(g =>
          Map("name" -> g.name, "ok" -> g.ok, "detail" -> g.detail)),
        "shares" -> w.shares,
        "counts" -> counted,
        "op_counts" -> opCounts,
        "spans" -> spans,
        "op_seconds" -> recs.map(r => Seq(r.kind, r.seconds, r.traced)),
        "config" -> Session.describe(root)))
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      Json(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
