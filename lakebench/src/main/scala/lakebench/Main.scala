package lakebench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run in one JVM: session start, the workload's set-up,
  * untimed warm-up batches, a closed loop over the workload's fixed
  * number of timed batches with one client thread (`--seconds` caps
  * it), ground-truth checks, then every figure written as JSON to
  * `--out`.
  *
  *   lakebench.Main --workload W --input DIR --lake DIR --seconds S
  *     --trace 0|1 --out FILE [--perturb 0|1]
  *
  * `--trace 1` opens a span per public call and writes the spans and
  * per-job records next to `--out` (`<out>.trace.json`). A traced
  * `etl_batches` run then also runs the index side phase (see
  * [[indexSide]]). */
object Main {
  /** Trace ids of the index side phase's waves start here. */
  val SideTrace = 100000
  /** Timed waves of the index side phase: one keeps a traced run short. */
  val SideWaves = 1

  def main(args: Array[String]): Unit = {
    val main0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val lake = a("lake")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val perturb = a.getOrElse("perturb", "0") == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$nproc]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$lake/spark_local")
      .config("spark.sql.warehouse.dir", s"$lake/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    var microBatches = 0L
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        synchronized { microBatches += 1 }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val sessionS = (System.nanoTime() - t0) / 1e9

    // host record: informational, gates nothing
    def probe(): Double = {
      val p0 = System.nanoTime()
      spark.range(0L, 30000000L, 1L, nproc)
        .selectExpr("count(if(id % 7 = 0, 1, null))").collect()
      (System.nanoTime() - p0) / 1e9
    }
    // inputs are generated while the JVM starts; their manifest is
    // written last
    val input = a("input")
    awaitInputs(input)
    probe() // the session's first job pays one-off warm-up
    val hostBefore = Map("load_avg" -> os.getSystemLoadAverage, "probe_s" -> probe())

    val tr = new Tracer(sc, traced)
    val m = new Meter(tr)
    val w: Workload = workload match {
      case "etl_batches" => new EtlBatches(spark, input, tr, m)
      case "ivm_churn" => new IvmChurn(spark, input, tr, m)
      case "dedup_ann_ingest" => new DedupAnnIngest(spark, input, tr, m)
    }

    // one set-up, cold as a user meets it; its JIT warm-up is part of it
    val setup0 = System.nanoTime()
    w.setup(s"$lake/root")
    val setupS = (System.nanoTime() - setup0) / 1e9

    val warm0 = System.nanoTime()
    for (i <- 0 until w.warmupBatches) { tr.trace = i; w.batch(i) }
    m.clearTimings()
    val warmS = (System.nanoTime() - warm0) / 1e9

    Recorder.drain(sc)
    val micro0 = microBatches
    val cpu0 = rec.cpuNs
    val writes0 = rec.writes.size
    val loopStartMs = System.currentTimeMillis()
    val loop0 = System.nanoTime()
    val batchS = mutable.ArrayBuffer.empty[Double]
    val planned = w.warmupBatches + w.timedBatches
    require(planned <= w.batches.size, s"$planned batches planned, ${w.batches.size} generated")
    var n = w.warmupBatches
    // closed loop over a fixed number of batches: the next batch starts
    // when the previous one and its reads have returned. `--seconds`
    // only caps the loop: it stops early when a typical batch no longer
    // fits, and the run says so.
    def elapsed = (System.nanoTime() - loop0) / 1e9
    while (n < planned && (batchS.isEmpty ||
        elapsed + Stats.median(batchS.toSeq) <= seconds)) {
      val b0 = System.nanoTime()
      tr.trace = n
      w.batch(n)
      batchS += (System.nanoTime() - b0) / 1e9
      n += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val loopEndMs = System.currentTimeMillis()
    Recorder.drain(sc)
    val loopMicro = microBatches - micro0
    val loopCpuS = (rec.cpuNs - cpu0) / 1e9
    val loopWrites = rec.writes.drop(writes0).toSeq

    tr.trace = -2
    val check0 = System.nanoTime()
    val problems = try w.check(n, perturb) catch {
      case scala.util.control.NonFatal(e) => Seq(s"check failed: $e")
    }
    val checkS = (System.nanoTime() - check0) / 1e9
    if (traced) w.kernels()
    val hostAfter = Map("load_avg" -> os.getSystemLoadAverage, "probe_s" -> probe())
    Recorder.drain(sc)
    val side = if (traced && workload == "etl_batches") Some(
      try indexSide(spark, s"$input/side", s"$lake/side", tr, rec) catch {
        case scala.util.control.NonFatal(e) => (Map.empty, Seq(s"index side phase failed: $e"))
      }) else None

    val root = Paths.get(s"$lake/root").toAbsolutePath.normalize
    def under(p: String, sub: String = "") =
      Paths.get(new java.net.URI(p).getPath).normalize.startsWith(root.resolve(sub))
    val lakeWrites = loopWrites.filter(x => under(x.path))
    val inputBytes = w.baseBytes + w.appliedBytes
    val (wTail, wPct) = Stats.tail(m.writeS.toSeq)
    val (rTail, rPct) = Stats.tail(m.readS.toSeq)
    val batches = math.max(1, n - w.warmupBatches)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + setupS, "s"),
      "write_p50_s" -> (Stats.median(m.writeS.toSeq), "s"),
      "write_tail_s" -> (wTail, "s"),
      "read_p50_s" -> (Stats.median(m.readS.toSeq), "s"),
      "read_tail_s" -> (rTail, "s"),
      "rows_per_s" -> (m.inputRows / math.max(1e-9, m.writeS.sum), "rows/s"),
      "cpu_s_per_batch" -> (loopCpuS / batches, "s"),
      "write_amp" -> (lakeWrites.map(_.bytes).sum.toDouble / math.max(1L, m.inputBytes), "ratio"),
      "space_amp" -> (diskBytes(root).toDouble / inputBytes, "ratio"))

    val layers = perLayer(tr, rec, w, loopStartMs, loopEndMs, batches,
      lakeWrites, under(_, "rejected"), under(_, "logs"))
    side.foreach { case (figures, _) => layers ++= figures }
    val allProblems = problems ++ side.toSeq.flatMap(_._2)
    layers("streaming.micro_batches") = (loopMicro.toDouble / batches, "count")
    layers("failed_frac") = (m.failed.toDouble / math.max(1, m.attempted), "ratio")
    layers("peak_rss_mb") = (peakRssMb(), "MB")

    val info = Map(
      "workload" -> workload, "batches" -> n, "timed_batches" -> (n - w.warmupBatches),
      "planned_batches" -> planned, "capped" -> (n < planned),
      "loop_s" -> loopS, "session_s" -> sessionS, "setup_run_s" -> setupS,
      "warmup_s" -> warmS, "check_s" -> checkS,
      "main_s" -> (System.nanoTime() - main0) / 1e9,
      "write_tail_pct" -> wPct, "write_n" -> m.writeS.size,
      "read_tail_pct" -> rPct, "read_n" -> m.readS.size,
      "input_rows" -> m.inputRows, "input_bytes" -> inputBytes,
      "write_samples_s" -> m.writeS.toSeq, "read_samples_s" -> m.readS.toSeq,
      "read_names" -> m.readNames.toSeq,
      "problems" -> allProblems, "errors" -> m.errors.toSeq,
      "host" -> Map("nproc" -> nproc, "before" -> hostBefore, "after" -> hostAfter))
    val result = Map(
      "correct" -> (allProblems.isEmpty && m.failed == 0),
      "attempted" -> m.attempted, "failed" -> m.failed,
      "end_to_end" -> metricMap(e2e), "per_layer" -> metricMap(layers),
      "info" -> info)
    writeJson(a("out"), result)
    if (traced) writeJson(a("out") + ".trace.json", artifact(tr, rec, loopStartMs, loopEndMs))
    allProblems.foreach(p => System.err.println(s"[lakebench] check: $p"))
    spark.stop()
  }

  private def awaitInputs(dir: String): Unit = {
    val ready = new File(dir, "manifest.json")
    val wait0 = System.nanoTime()
    while (!ready.exists()) {
      require(System.nanoTime() - wait0 < 120e9, s"no inputs at $dir")
      Thread.sleep(20)
    }
  }

  /** `dedup_ann_ingest` does not fit the benchmark's time budget, so its
    * index layers are measured here, after the main workload's checks:
    * the docs workload's set-up, its warm-up waves and [[SideWaves]] timed
    * waves (trace ids from [[SideTrace]]; -3 for its set-up, -4 for its
    * checks), its checks, then the kernel throughput figures. Returns the
    * `dedup_index.*`, `ann_index.*` and `kernels.*` figures per timed
    * wave, and the checks' mismatches. */
  private def indexSide(spark: SparkSession, input: String, lake: String,
      tr: Tracer, rec: Recorder): (collection.Map[String, (Double, String)], Seq[String]) = {
    awaitInputs(input)
    val sm = new Meter(tr)
    val d = new DedupAnnIngest(spark, input, tr, sm)
    tr.trace = -3
    d.setup(s"$lake/root")
    for (i <- 0 until d.warmupBatches) { tr.trace = SideTrace + i; d.batch(i) }
    Recorder.drain(spark.sparkContext)
    val start = System.currentTimeMillis()
    val n = d.warmupBatches + SideWaves
    for (i <- d.warmupBatches until n) { tr.trace = SideTrace + i; d.batch(i) }
    val end = System.currentTimeMillis()
    Recorder.drain(spark.sparkContext)
    tr.trace = -4
    val failed = if (sm.failed == 0) Nil else Seq(s"${sm.failed} of ${sm.attempted} " +
      s"operations failed: ${sm.errors.mkString("; ")}")
    val problems = (failed ++ d.check(n, perturb = false)).map(p => s"index side phase: $p")
    d.kernels()
    val spans = tr.spans.filter(_.trace >= SideTrace + d.warmupBatches).toSeq
    val byId = tr.spans.map(s => s.id -> s).toMap
    val jobs = rec.jobs.values.filter(j => j.start >= start && j.start <= end).toSeq
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    indexLayers(out, spans, jobs, byId, SideWaves, d)
    (out, problems)
  }

  private def metricMap(m: collection.Map[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  /** Bytes on disk under `root`, each inode once (hard-linked files are
    * shared between a table's versions). */
  def diskBytes(root: Path): Long = {
    val seen = mutable.HashSet.empty[Any]
    var total = 0L
    scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.foreach { p =>
      if (Files.isRegularFile(p) && seen.add(Files.getAttribute(p, "unix:ino")))
        total += Files.size(p)
    })
    total
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** The layer a job is charged to: its innermost span's layer, with the
    * jobs an orchestrator run launches split by the source file of their
    * call site (sinks, dataframe ops, the table layer). */
  private def layerOf(j: JobRec, spans: Map[Int, Span]): String = {
    val l = spans.get(j.span).map(_.layer).getOrElse("none")
    if (l != "pipelines") l
    else j.file match {
      case "Sources.scala" => "sources"
      case "CoreOps.scala" | "ScaleOps.scala" => "ops"
      case "LakeTable.scala" => "table"
      case _ => l
    }
  }

  private def perLayer(tr: Tracer, rec: Recorder, w: Workload,
      startMs: Long, endMs: Long, batches: Int, lakeWrites: Seq[WriteRec],
      isRejected: String => Boolean, isLog: String => Boolean) = {
    val spans = tr.spans.filter(s => s.trace >= w.warmupBatches && s.trace < SideTrace).toSeq
    val byId = tr.spans.map(s => s.id -> s).toMap
    val jobs = rec.jobs.values.filter(j => j.start >= startMs && j.start <= endMs).toSeq
    def jobsOf(layer: String) = jobs.filter(layerOf(_, byId) == layer)
    def spansOf(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def busy(prefix: String) = spansOf(prefix).map(_.seconds).sum
    def cpu(js: Seq[JobRec]) = js.map(_.cpuNs).sum / 1e9
    def jobWall(js: Seq[JobRec]) = js.map(j => j.end - j.start).sum / 1e3
    val per = batches.toDouble
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String) = out(k) = (v, unit)

    put("pipelines.calls", spansOf("pipelines.").size / per, "count")
    put("pipelines.busy_s", busy("pipelines.") / per, "s")
    put("pipelines.landed_ratio", w.extras.getOrElse("pipelines.landed_ratio", 0.0), "ratio")
    put("ops.jobs", jobsOf("ops").size / per, "count")
    put("ops.cpu_s", cpu(jobsOf("ops")) / per, "s")
    put("ops.shuffle_bytes", jobsOf("ops").map(j => j.shuffleRead + j.shuffleWrite).sum / per, "bytes")
    put("sources.jobs", jobsOf("sources").size / per, "count")
    put("sources.bytes_written",
      lakeWrites.filter(x => isRejected(x.path) || isLog(x.path)).map(_.bytes).sum / per, "bytes")

    val dml = spansOf("table.dml.")
    val dmlJobs = jobs.filter(j => byId.get(j.span).exists(_.name.startsWith("table.dml.")))
    put("table.dml_calls", (dml.size + w.extras.getOrElse("table.dml_calls", 0.0)) / per, "count")
    put("table.dml_busy_s", dml.map(_.seconds).sum / per, "s")
    put("table.jobs_per_dml", if (dml.isEmpty) 0.0 else dmlJobs.size.toDouble / dml.size, "count")
    put("table.driver_gap_s", dml.map { s =>
      val iv = dmlJobs.filter(_.span == s.id).map(j => (j.start, j.end))
      s.seconds - Stats.union(iv) / 1e3
    }.sum / per, "s")
    put("table.cpu_s", cpu(jobsOf("table")) / per, "s")
    val tableWrites = lakeWrites.filterNot(x => isRejected(x.path) || isLog(x.path))
    put("table.bytes_written", tableWrites.map(_.bytes).sum / per, "bytes")
    put("table.files_written", tableWrites.map(_.files).sum / per, "count")
    val maintainers = Set("ivm", "streaming", "dedup_index", "ann_index")
    put("table.feed_busy_s", jobWall(jobs.filter(j => j.file == "LakeTable.scala" &&
      byId.get(j.span).exists(s => maintainers(s.layer)))) / per, "s")
    put("table.read_busy_s", (busy("table.read.") + busy("mvrewrite.read.")) / per, "s")

    put("ivm.calls", spansOf("ivm.").size / per, "count")
    put("ivm.busy_s", busy("ivm.") / per, "s")
    put("ivm.jobs", jobsOf("ivm").size / per, "count")
    put("ivm.cpu_s", cpu(jobsOf("ivm")) / per, "s")
    put("streaming.calls", spansOf("streaming.").size / per, "count")
    put("streaming.busy_s", busy("streaming.") / per, "s")

    val (planS, eligible, hits) = w match {
      case v: IvmChurn => (v.planS, v.eligible, v.hits)
      case _ => (0.0, 0, 0)
    }
    put("mvrewrite.plan_s", if (eligible == 0) 0.0 else planS / eligible, "s")
    put("mvrewrite.hit_ratio", if (eligible == 0) 0.0 else hits.toDouble / eligible, "ratio")

    indexLayers(out, spans, jobs, byId, batches, w)

    put("driver.jobs", jobs.size / per, "count")
    put("driver.stages", jobs.map(_.stages).sum / per, "count")
    put("driver.tasks", jobs.map(_.tasks).sum / per, "count")
    put("driver.gap_s", ((endMs - startMs) - Stats.union(jobs.map(j => (j.start, j.end)))) / 1e3 / per, "s")
    put("driver.task_wait_s", jobs.map(_.waitMs).sum / 1e3 / per, "s")
    put("driver.gc_s", jobs.map(_.gcMs).sum / 1e3 / per, "s")
    put("driver.spill_bytes", jobs.map(_.spill).sum / per, "bytes")
    for (p <- Seq("collect", "checkpoint", "count", "write"))
      put(s"driver.${p}_jobs", jobs.count(_.pool == p) / per, "count")
    out
  }

  /** The `dedup_index.*`, `ann_index.*` and `kernels.*` figures of the
    * timed batches' spans and jobs, per batch. */
  private def indexLayers(out: mutable.Map[String, (Double, String)],
      spans: Seq[Span], jobs: Seq[JobRec], byId: Map[Int, Span], batches: Int,
      w: Workload): Unit = {
    val per = batches.toDouble
    def put(k: String, v: Double, unit: String) = out(k) = (v, unit)
    def busy(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    val dd = jobs.filter(layerOf(_, byId) == "dedup_index")
    put("dedup_index.busy_s", busy("dedup_index.") / per, "s")
    put("dedup_index.jobs", dd.size / per, "count")
    put("dedup_index.cpu_s", dd.map(_.cpuNs).sum / 1e9 / per, "s")
    put("dedup_index.shuffle_bytes", dd.map(j => j.shuffleRead + j.shuffleWrite).sum / per, "bytes")
    put("dedup_index.planted_found_ratio", w.extras.getOrElse("dedup_index.planted_found_ratio", 0.0), "ratio")
    put("ann_index.maintain_s", busy("ann_index.maintain") / per, "s")
    put("ann_index.search_s", busy("ann_index.search") / per, "s")
    put("ann_index.recall_at_k", w.extras.getOrElse("ann_index.recall_at_k", 0.0), "ratio")
    for (k <- Seq("shingle", "minhash", "dot"))
      put(s"kernels.${k}_rows_per_s", w.extras.getOrElse(s"kernels.${k}_rows_per_s", 0.0), "rows/s")
  }

  /** Spans, per-job records and the four-pool table by layer, written
    * once at the end of a traced run. */
  private def artifact(tr: Tracer, rec: Recorder, startMs: Long, endMs: Long) = {
    val byId = tr.spans.map(s => s.id -> s).toMap
    val t0 = tr.spans.headOption.map(_.start).getOrElse(0L)
    val spanRows = tr.spans.toSeq.map { s =>
      val kids = tr.spans.filter(_.parent == s.id).map(_.seconds).sum
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.trace,
        "start_s" -> (s.start - t0) / 1e9, "dur_s" -> s.seconds,
        "self_s" -> (s.seconds - kids))
    }
    val jobs = rec.jobs.values.toSeq
    val jobRows = jobs.map { j =>
      Map("id" -> j.id, "span" -> j.span,
        "span_name" -> byId.get(j.span).map(_.name).getOrElse(""),
        "trace" -> byId.get(j.span).map(_.trace).getOrElse(-1),
        "in_loop" -> (j.start >= startMs && j.start <= endMs),
        "layer" -> layerOf(j, byId), "call_site" -> j.callSite,
        "action" -> j.action, "file" -> j.file, "pool" -> j.pool,
        "wall_s" -> (j.end - j.start) / 1e3, "cpu_s" -> j.cpuNs / 1e9,
        "stages" -> j.stages, "tasks" -> j.tasks, "gc_s" -> j.gcMs / 1e3,
        "task_wait_s" -> j.waitMs / 1e3, "shuffle_read" -> j.shuffleRead,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
        "output_bytes" -> j.outBytes)
    }
    val loopJobs = jobs.filter(j => j.start >= startMs && j.start <= endMs)
    val pools = loopJobs.groupBy(j => layerOf(j, byId)).map { case (layer, js) =>
      layer -> js.groupBy(_.pool).map { case (p, pj) =>
        p -> Map("jobs" -> pj.size, "wall_s" -> pj.map(j => j.end - j.start).sum / 1e3,
          "cpu_s" -> pj.map(_.cpuNs).sum / 1e9)
      }
    }
    Map("spans" -> spanRows, "jobs" -> jobRows, "writes" -> rec.writes.toSeq.map(x =>
      Map("path" -> x.path, "files" -> x.files, "bytes" -> x.bytes)),
      "pools_by_layer" -> pools)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}
