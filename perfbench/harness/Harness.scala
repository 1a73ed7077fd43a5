package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{ProcCpu, SparkEntry}
import graft.functions.VectorExprs
import graft.operators.{Caching, Similarity, TextAnalysis}
import graft.sinks.Sinks
import graft.sources.Sources

/** One benchmark run of one workload in one JVM.
  *
  * Closed loop: a single client thread builds each query through the
  * public API (`SparkEntry.queries` → Pipeline/Transformer/operators)
  * and runs it to a graft sink, one query after another, on local[4].
  * Set-up is session start, input binding and one untimed warm-up
  * pass. Untimed settle passes then run for `--settle` seconds, so the
  * timed passes start once the JIT has compiled the hot paths (pass
  * times fall for 10-25 s after the first pass); timed passes repeat
  * until `--seconds` have elapsed. The run record (`record.json` under
  * `--out`) holds every query run's timings and error, per-pass
  * foreign CPU, peak RSS and, with `--trace 1`, the per-layer metrics
  * and the spans.
  *
  * Arguments: --workload NAME --data DIR --out DIR --seconds S
  * --settle S --trace 0|1 --queries q1,q2:partCol,... --timed-write
  * q1,... --max-foreign SHARE [--shards N]
  * The warm-up pass writes every result through the graft file sinks
  * (`Sinks.parquetPartitioned`; the query `training_shards` writes the
  * documents table through `Sinks.writeTrainingShards` with N shards)
  * so the outputs can be checked. Later passes do the same for the
  * queries named in `--timed-write` and run the others to
  * `Sinks.consume` (noop).
  */
object Harness {
  final case class QuerySpec(name: String, partitionCols: Seq[String], write: Boolean)
  final case class QueryRun(name: String, buildS: Double, sinkS: Double, error: Option[String],
      out: Option[String]) {
    def wallS: Double = buildS + sinkS
  }
  final case class PassRun(index: Int, wallS: Double, foreignCoreS: Double,
      queries: Seq[QueryRun], trackedBeforeRelease: Int, peakCachedBytes: Long,
      filesWritten: Long)

  val Cores = 4
  val MinClean = 2
  val ShardsQuery = "training_shards"
  // pass labels of the untimed passes
  val Warmup = -1
  val Settle = -2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workload = opts("workload")
    val dataDir = new File(opts("data")).getAbsolutePath
    val outDir = new File(opts("out")).getAbsolutePath
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val timedWrite = opts.getOrElse("timed-write", "").split(',').toSet
    val specs = opts("queries").split(',').toSeq.map { s =>
      val parts = s.split(':').toSeq
      QuerySpec(parts.head, parts.tail, timedWrite(parts.head))
    }
    val shards = opts.get("shards").map(_.toInt).getOrElse(4)
    val settle = opts("settle").toDouble
    val maxForeign = opts("max-foreign").toDouble
    // observe() channels are plan-time opt-in; only the traced run
    // pays for them, so the untraced run measures the default plans
    if (traced) sys.props("graft.observe") = "1"

    val spans = new Spans(s"$workload-${System.currentTimeMillis()}")
    val spark = spans("setup.session")(session(outDir))
    spans.session = spark
    val sc = spark.sparkContext
    val layers = new LayerListener
    val plans = new PlanListener
    if (traced) {
      sc.addSparkListener(layers)
      spark.listenerManager.register(plans)
      spark.streams.addListener(plans)
    }
    def drain(): Unit = org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc, 30000)

    val tables = Option(new File(dataDir).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
    // binding resolves each table's files and schema; queries re-bind
    // through SparkEntry's own per-session table memo
    spans("setup.bind") {
      tables.foreach(t => Sources.parquet(spark, s"$dataDir/$t.parquet").toDF.schema)
    }

    def runQuery(pass: Int, spec: QuerySpec): QueryRun = {
      val out = pass match {
        case Warmup => Some(s"$outDir/out/warmup/${spec.name}")
        case _ if !spec.write => None
        case Settle => Some(s"$outDir/out/settle/${spec.name}")
        case p => Some(s"$outDir/out/p$p/${spec.name}")
      }
      sc.setJobGroup(s"$workload/$pass/${spec.name}", s"perfbench $workload pass $pass")
      sc.setLocalProperty("perfbench.pass", pass.toString)
      sc.setLocalProperty("perfbench.query", spec.name)
      var buildS = 0.0
      var sinkS = 0.0
      val err = try {
        spans("query", "query" -> spec.name, "pass" -> pass.toString) {
          sc.setLocalProperty("perfbench.phase", "build")
          val t0 = System.nanoTime()
          val df = spans("pipeline.build")(build(spark, dataDir, spec.name))
          val t1 = System.nanoTime()
          buildS = (t1 - t0) / 1e9
          sc.setLocalProperty("perfbench.phase", "action")
          try spans("sinks.write")(out match {
            case Some(path) => sink(df, spec, path, shards)
            case None => Sinks.consume(df)
          })
          finally sinkS = (System.nanoTime() - t1) / 1e9
        }
        None
      } catch {
        case e: Throwable =>
          Some((e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
            .replaceAll("\\s+", " ").take(300))
      } finally {
        Seq("perfbench.pass", "perfbench.query", "perfbench.phase")
          .foreach(sc.setLocalProperty(_, null))
        sc.clearJobGroup()
      }
      QueryRun(spec.name, buildS, sinkS, err, out)
    }

    def runPass(pass: Int): PassRun = {
      if (traced) { drain(); plans.pass = pass; layers.resetPeak() }
      val busy0 = ProcCpu.totalBusyJiffies(); val self0 = ProcCpu.selfJiffies()
      val t0 = System.nanoTime()
      val runs = spans("pass", "pass" -> pass.toString)(specs.map(runQuery(pass, _)))
      val wall = (System.nanoTime() - t0) / 1e9
      val busy1 = ProcCpu.totalBusyJiffies(); val self1 = ProcCpu.selfJiffies()
      val foreign =
        if (Seq(busy0, self0, busy1, self1).exists(_ < 0)) -1.0
        else ((busy1 - busy0) - (self1 - self0)) / 100.0
      if (traced) drain()
      PassRun(pass, wall, foreign, runs, Caching.trackedCount,
        if (traced) layers.peakCachedBytes else 0L,
        if (traced) runs.flatMap(_.out).map(o => countFiles(new File(o))).sum else 0L)
    }

    // pass hygiene: every pass does the work a user's single job does;
    // memo reuse inside a pass still counts
    def hygiene(): Unit = {
      Caching.release()
      spark.catalog.clearCache()
      SparkEntry.evictBpeMemo()
      Similarity.evictTreeMemo()
    }

    // warm-up: untimed; also records which tables each query scans and
    // how many rows its streams ingest, for the rows-per-second figure
    val inputs = new InputRecorder
    spark.listenerManager.register(inputs)
    spark.streams.addListener(inputs)
    val warm = spans("setup.warmup") {
      specs.map { s =>
        inputs.current = s.name
        val r = runQuery(Warmup, s)
        drain()
        r
      }
    }
    spark.listenerManager.unregister(inputs)
    spark.streams.removeListener(inputs)
    val setupEndMs = System.currentTimeMillis()

    val s0 = System.nanoTime()
    val settleWalls = mutable.ArrayBuffer[Double]()
    while ((System.nanoTime() - s0) / 1e9 < settle) {
      hygiene()
      settleWalls += runPass(Settle).wallS
    }

    // a pass is contaminated when other processes took more than
    // `maxForeign` of the cores while it ran; it stays in the record,
    // flagged, and the window is extended (up to twice its length)
    // until it holds at least MinClean clean passes
    def contaminated(p: PassRun): Boolean = p.foreignCoreS > maxForeign * p.wallS * Cores
    val passes = mutable.ArrayBuffer[PassRun]()
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (passes.isEmpty || elapsed < seconds ||
        (passes.count(!contaminated(_)) < MinClean && elapsed < 2 * seconds)) {
      hygiene()
      passes += runPass(passes.size)
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    val vm = procStatus()

    val traceRecord: Map[String, Any] =
      if (!traced) Map.empty
      else {
        hygiene()
        val probes = runProbes(spark, spans, dataDir, tables)
        drain()
        val layer = layerMetrics(passes.toSeq, layers, plans, specs, probes)
        val allSpans = spans.all ++ jobSpans(layers)
        writeSpans(s"$outDir/spans.jsonl", spans.runId, allSpans)
        Map("layers" -> layer, "probes" -> probes,
          "self_s" -> Spans.selfSeconds(allSpans).toSeq.sortBy(-_._2).toMap,
          "observed" -> plans.byPass.filter(_._1 >= 0).map { case (p, pp) =>
            p.toString -> pp.observed }.toMap,
          "span_count" -> allSpans.size)
      }

    val record = Map(
      "workload" -> workload, "traced" -> traced, "seconds" -> seconds,
      "setup_end_ms" -> setupEndMs, "measured_s" -> measuredS,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> Cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "vm_hwm_kb" -> vm.getOrElse("VmHWM", -1L), "vm_rss_kb" -> vm.getOrElse("VmRSS", -1L),
      "warmup" -> warm.map(queryJson),
      "settle_pass_s" -> settleWalls,
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "wall_s" -> p.wallS, "foreign_core_s" -> p.foreignCoreS,
        "contaminated" -> contaminated(p),
        "queries" -> p.queries.map(queryJson))),
      "query_tables" -> specs.map(s => s.name ->
        inputs.tables.getOrElse(s.name, mutable.LinkedHashSet.empty[String]).toSeq).toMap,
      "query_stream_rows" -> inputs.streamRows.toMap,
      "oracle_sql" -> specs.flatMap(s => SparkEntry.oracleSql.get(s.name).map(s.name -> _)).toMap,
      "trace" -> traceRecord)
    Files.writeString(Paths.get(s"$outDir/record.json"), Json.write(record) + "\n")

    try spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }

  /** The bench session: graft.Bench's configuration at four cores,
    * with the scratch directories inside the run directory (streaming
    * replays checkpoint under java.io.tmpdir, which run.py also points
    * there).
    */
  def session(outDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def build(spark: SparkSession, dataDir: String, name: String): DataFrame =
    if (name == ShardsQuery) Sources.parquet(spark, s"$dataDir/documents.parquet").toDF
    else SparkEntry.queries(name)(spark, dataDir)

  def sink(df: DataFrame, spec: QuerySpec, out: String, shards: Int): Unit =
    if (spec.name == ShardsQuery) Sinks.writeTrainingShards(df, "doc_id", out, shards)
    else Sinks.parquetPartitioned(df, out, spec.partitionCols)

  private def queryJson(r: QueryRun): Map[String, Any] = Map(
    "name" -> r.name, "build_s" -> r.buildS, "sink_s" -> r.sinkS, "wall_s" -> r.wallS,
    "error" -> r.error, "out" -> r.out)

  private def countFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(countFiles).sum
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  private def procStatus(): Map[String, Long] =
    try scala.io.Source.fromFile("/proc/self/status").getLines().flatMap { l =>
      val kv = l.split(":\\s+", 2)
      if (kv.length == 2 && kv(1).endsWith(" kB")) Some(kv(0) -> kv(1).stripSuffix(" kB").trim.toLong)
      else None
    }.toMap
    catch { case _: Throwable => Map.empty }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Layer probes, each timed `ProbeReps` times (median kept): a noop
    * scan of every input table through `Sources.parquet(...).consume()`,
    * and a noop-consumed select per native kernel over the documents or
    * embeddings, repeated to at least `KernelRows` rows so the kernel,
    * not the job overhead, dominates.
    */
  val ProbeReps = 3
  val KernelRows = 20000L

  def runProbes(spark: SparkSession, spans: Spans, dataDir: String,
      tables: Seq[String]): Map[String, Double] = {
    def timed(name: String)(body: => Unit): Double = median((0 until ProbeReps).map { _ =>
      val t0 = System.nanoTime()
      spans(name)(body)
      (System.nanoTime() - t0) / 1e9
    })
    val scans = tables.map(t => timed("probe.sources.scan") {
      Sources.parquet(spark, s"$dataDir/$t.parquet").consume(); ()
    })
    def amplified(t: String): DataFrame = {
      val df = Sources.parquet(spark, s"$dataDir/$t.parquet").toDF
      val reps = math.max(1L, (KernelRows + df.count() - 1) / math.max(1L, df.count()))
      df.crossJoin(spark.range(reps).select(col("id").as("rep")))
    }
    val docs = amplified("documents").select(TextAnalysis.tokens(col("text")).as("toks"))
    val emb = amplified("embeddings").select(Similarity.asDouble(col("embedding")).as("v"))
    val kernels = Map(
      "dotp" -> emb.select(VectorExprs.dotp(col("v"), col("v"))),
      "hyperplaneBucket" -> emb.select(VectorExprs.hyperplaneBucket(col("v"), 16)),
      "shingleSet" -> docs.select(VectorExprs.shingleSet(col("toks"), 3)),
      "minhashSig" -> docs.select(
        VectorExprs.minhashSig(VectorExprs.shingleSet(col("toks"), 3), 64)))
    Map("sources.scan_s" -> scans.sum) ++ kernels.map { case (k, df) =>
      s"functions.kernel_s.$k" -> timed(s"probe.functions.$k")(Sinks.consume(df))
    }
  }

  /** Per-layer metrics: the median over timed passes of each per-pass
    * figure (counts repeat exactly from pass to pass).
    */
  def layerMetrics(passes: Seq[PassRun], l: LayerListener, pl: PlanListener,
      specs: Seq[QuerySpec], probes: Map[String, Double]): Map[String, Double] = {
    val perPass = passes.map { p =>
      val jobs = l.jobs.values.filter(_.pass == p.index).toSeq
      val jobIds = jobs.map(_.id).toSet
      val stages = l.stageSubmitMs.keys.filter(s => l.jobOf(s).exists(j => jobIds(j.id))).toSeq
      val tasks = l.tasks.filter(t => l.jobOf(t.stage).exists(j => jobIds(j.id))).toSeq
      val taskS = tasks.map(_.runMs).sum / 1e3
      val jobUnionS = Spans.unionNs(jobs.map(j => (j.startMs, j.endMs))) / 1e3
      val buildJobs = jobs.filter(_.phase == "build")
      val buildJobS = buildJobs.groupBy(_.query).values
        .map(js => Spans.unionNs(js.map(j => (j.startMs, j.endMs))) / 1e3).sum
      val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
        val d = ts.map(_.durationMs.toDouble)
        d.max / math.max(1.0, median(d))
      }
      val sinkTasks = tasks.filter(t => l.jobOf(t.stage).exists(_.phase == "action"))
      val pp = pl.byPass.getOrElse(p.index, new pl.PassPlan)
      val cand = pp.observed.collect { case (k, v) if k.startsWith("cand_pairs") ||
        k == "knn_candidates" || k == "semdedup_pairs" => v }.sum
      val verified = pp.observed.collect { case (k, v) if k.startsWith("verify_pairs") => v }.sum
      Map(
        "sources.rows_read" -> tasks.map(_.inRecs).sum.toDouble,
        "sources.bytes_read" -> tasks.map(_.inBytes).sum.toDouble,
        "pipeline.build_s" -> (p.queries.map(_.buildS).sum - buildJobS),
        "pipeline.plan_s" -> pp.planMs / 1e3,
        "pipeline.nodes_outside_codegen" -> pp.nodesOutsideCodegen.toDouble,
        "operators.eager_jobs" -> buildJobs.size.toDouble,
        "operators.candidate_pairs" -> cand.toDouble,
        "operators.verified_pairs" -> verified.toDouble,
        "operators.verify_yield" -> (if (cand > 0) verified.toDouble / cand else 0.0),
        "caching.tracked" -> p.trackedBeforeRelease.toDouble,
        "caching.peak_cached_bytes" -> p.peakCachedBytes.toDouble,
        "caching.checkpoints" -> jobs.count(j =>
          j.callSite.startsWith("localCheckpoint") || j.callSite.startsWith("checkpoint")).toDouble,
        "engine.jobs" -> jobs.size.toDouble,
        "engine.stages" -> stages.size.toDouble,
        "engine.tasks" -> tasks.size.toDouble,
        "engine.task_s" -> taskS,
        "engine.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "engine.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "engine.driver_gap_s" -> (p.wallS - jobUnionS),
        "engine.task_wait_s" -> tasks.map(t =>
          math.max(0L, t.launchMs - l.stageSubmitMs.getOrElse(t.stage, t.launchMs))).sum / 1e3,
        "engine.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
        "engine.busy_ratio" -> taskS / (p.wallS * Cores),
        "shuffle.write_bytes" -> tasks.map(_.shWriteBytes).sum.toDouble,
        "shuffle.read_bytes" -> tasks.map(_.shReadBytes).sum.toDouble,
        "shuffle.records" -> tasks.map(_.shWriteRecs).sum.toDouble,
        "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
        "shuffle.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
        "shuffle.peak_exec_mem_bytes" -> (0L +: tasks.map(_.peakMem)).max.toDouble,
        "streaming.batches" -> pp.batches.toDouble,
        "streaming.input_rows" -> pp.inputRows.toDouble,
        "streaming.state_rows" -> pp.stateRows.toDouble,
        "streaming.state_mem_bytes" -> pp.stateMemBytes.toDouble,
        "streaming.state_commit_s" -> pp.stateCommitMs / 1e3,
        "streaming.batch_s" -> pp.batchMs / 1e3,
        "sinks.write_s" -> p.queries.map(_.sinkS).sum,
        "sinks.bytes_written" -> sinkTasks.map(_.outBytes).sum.toDouble,
        "sinks.files_written" -> p.filesWritten.toDouble,
        "trace.pass_s" -> p.wallS
      ) ++ specs.map(s => s"operators.jobs.${s.name}" -> jobs.count(_.query == s.name).toDouble)
    }
    val keys = perPass.headOption.map(_.keys.toSeq).getOrElse(Nil)
    keys.map(k => k -> median(perPass.map(_(k)))).toMap ++ probes
  }

  private def jobSpans(l: LayerListener): Seq[Span] = l.synchronized {
    l.jobs.values.toSeq.map(j => Span(-j.id.toLong - 1, "spark.job", j.span,
      j.startMs * 1000000L, j.endMs * 1000000L,
      Map("job" -> j.id.toString, "query" -> j.query, "phase" -> j.phase,
        "pass" -> j.pass.toString, "call_site" -> j.callSite)))
  }

  private def writeSpans(path: String, runId: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startNs).map(s => Json.write(Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "run" -> runId, "attrs" -> s.attrs)))
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
