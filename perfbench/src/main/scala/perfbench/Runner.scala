package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.SparkEntry
import graft.engine.{Engine, RunOptions}
import graft.ops.{CacheUtils, Tables}
import graft.sources.Sources
import graft.spec.{ConfigLoader, PipelineSpec}
import graft.stages.{CommandStage, ModuleRegistry, NdjsonBridge}

/** JVM side of the benchmark. `run.py` writes a plan file and starts
  *
  *   java ... perfbench.Runner run <plan.json>
  *   java ... perfbench.Runner plancheck <dir holding lines.txt>
  *
  * `run` sets up (input generation, session, warm-up), runs the planned
  * passes over the workload's ops in a closed loop, and, when tracing, runs
  * a second timed phase with the benchmark's listeners attached. It writes
  * raw samples to `<work>/result.json` (and spans to the plan's trace
  * file); run.py checks outputs and computes the metrics.
  */
object Runner {

  final case class OpSpec(name: String, query: Option[String], pipeline: Option[String],
      sink: String)

  final case class Plan(workload: String, seed: Long, passes: Int, warmPasses: Int,
      trace: Boolean, data: String, work: String, traceFile: String, cores: Int,
      gen: Seq[String], clkTck: Int, ops: Seq[OpSpec])

  /** The program writes its write-once artifacts (indexes, bucketed and
    * round-trip tables) to fixed paths under this directory, named
    * `graft_<kind>_<corpus tag>`.
    */
  val ProgramTmp = "/tmp"

  def main(args: Array[String]): Unit = args(0) match {
    case "run" => run(loadPlan(args(1)))
    case "plancheck" => sys.exit(planCheck(args(1)))
  }

  private def loadPlan(path: String): Plan = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(Paths.get(path)))
    val ops = (j \ "ops").children.map { o =>
      OpSpec((o \ "name").extract[String], (o \ "query").extractOpt[String],
        (o \ "pipeline").extractOpt[String], (o \ "sink").extract[String])
    }
    Plan((j \ "workload").extract[String], (j \ "seed").extract[Long],
      (j \ "passes").extract[Int], (j \ "warm_passes").extract[Int],
      (j \ "trace").extract[Boolean],
      (j \ "data").extract[String], (j \ "work").extract[String],
      (j \ "trace_file").extract[String], (j \ "cores").extract[Int],
      (j \ "gen").extract[Seq[String]],
      (j \ "clk_tck").extract[Int], ops)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ------------------------------------------------------------ host probes

  private def procFields(file: String): String =
    new String(Files.readAllBytes(Paths.get(file)), StandardCharsets.US_ASCII)

  /** JVM CPU time plus the CPU time of reaped child processes (the shells
    * and `tr` processes of command stages), in seconds.
    */
  def cpuSeconds(clkTck: Int): Double = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val stat = procFields("/proc/self/stat")
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    // fields after the command name start at field 3; cutime, cstime are 16, 17
    val children = f(13).toLong + f(14).toLong
    os.getProcessCpuTime / 1e9 + children.toDouble / clkTck
  }

  def peakRssMb(): Double =
    procFields("/proc/self/status").split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  def loadAvg(): Double = procFields("/proc/loadavg").split(" ")(0).toDouble

  /** CPU time the hypervisor gave to other guests, all CPUs, in seconds. */
  def stealSeconds(clkTck: Int): Double =
    procFields("/proc/stat").split("\n").head.trim.split("\\s+")(8).toDouble / clkTck

  /** Write-once artifacts of this corpus: name -> (files, newest mtime). */
  def artifacts(tag: String): Map[String, (Long, Long)] = {
    val dir = new File(ProgramTmp)
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(tag))
      .map { f =>
        val files = Files.walk(f.toPath).filter(Files.isRegularFile(_)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        f.getName -> (files.length.toLong,
          files.map(p => Files.getLastModifiedTime(p).toMillis).foldLeft(0L)(math.max))
      }.toMap
  }

  def deleteArtifacts(tag: String): Unit =
    Option(new File(ProgramTmp).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(tag))
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))

  // ------------------------------------------------------------- pipelines

  /** The modules and inputs of the pipeline_lines workload. The pipelines
    * themselves come from the generated gasket.json.
    */
  final class Pipelines(spark: SparkSession, data: String) {
    val lines = s"$data/lines.txt"
    val ndjson = s"$data/lines.ndjson"
    val ndjsonSchema: StructType = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val tokensSchema: StructType = ndjsonSchema.add("n_tokens", LongType)
    /** Rows computed by the tee source; with a working tee it equals the
      * input line count per tee op.
      */
    val teeRows = spark.sparkContext.longAccumulator("perfbench.tee_source_rows")

    val registry: ModuleRegistry = {
      val acc = teeRows
      // deterministic on purpose: a nondeterministic expression would keep
      // the tee's persisted source from matching its cache entry
      val counted = udf((_: String) => { acc.add(1); true })
      ModuleRegistry.default
        .register("tokens", df =>
          df.withColumn("n_tokens", size(split(col("text"), " ")).cast("long")))
        .register("count-source", df => df.filter(counted(col(CommandStage.ValueCol))))
        .register("src-lines", _ => Sources.lines(spark, lines))
        .register("src-ndjson-text", _ =>
          Sources.ndjson(spark, ndjson, Some(ndjsonSchema))
            .select(col("text").as(CommandStage.ValueCol)))
    }

    def input(pipeline: String): Option[DataFrame] = pipeline match {
      case "ndjson" => Some(Sources.lines(spark, ndjson))
      case "reduce" => None
      case _ => Some(Sources.lines(spark, lines))
    }
  }

  /** Maximal runs of one segment type: the engine's segment count. */
  def segments(spec: PipelineSpec, pipeline: String): Int = {
    val types = spec.pipelines(pipeline).map(_.segType)
    types.indices.count(i => i == 0 || types(i) != types(i - 1))
  }

  // ---------------------------------------------------------------- one op

  final case class OpTiming(t0: Long, specNs: Long, buildNs: Long, actionStart: Long,
      t1: Long, segments: Int)

  /** Build and run one op. `check` writes the op's full output where the
    * output check reads it instead of timing the counting sink.
    */
  def runOp(spark: SparkSession, plan: Plan, pipes: Option[Pipelines], op: OpSpec,
      check: Boolean): OpTiming = {
    val t0 = System.nanoTime()
    var specNs = 0L
    var segs = 0
    val df = op.query match {
      case Some(q) => SparkEntry.queries(q)(spark, plan.data)
      case None =>
        val p = pipes.get
        val name = op.pipeline.get
        val loaded = ConfigLoader.load(plan.data)
        specNs = System.nanoTime() - t0
        segs = segments(loaded.spec, name)
        val out = new Engine(loaded.spec, p.registry, RunOptions(cwd = loaded.configDir.toString))
          .run(name, spark, p.input(name))
        if (name == "ndjson") NdjsonBridge.parse(out, Some(p.tokensSchema)) else out
    }
    val actionStart = System.nanoTime()
    op.sink match {
      case "ndjson" => Sources.writeNdjson(df, s"${plan.work}/sink/${op.name}")
      case "parquet" => Sources.writeParquet(df, s"${plan.work}/sink/${op.name}")
      case _ if check => df.write.mode("overwrite").parquet(s"${plan.work}/check/${op.name}")
      case _ => df.write.format(CountingSink.Format).mode("overwrite").save()
    }
    OpTiming(t0, specNs, actionStart - t0 - specNs, actionStart, System.nanoTime(), segs)
  }

  // ------------------------------------------------------------------- run

  def run(plan: Plan): Unit = {
    val tag = Tables.corpusTag(plan.data)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up time counts from JVM start
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    org.apache.commons.io.FileUtils.deleteQuietly(new File(plan.data))
    deleteArtifacts(tag)
    val ti = System.nanoTime()
    val proc = new ProcessBuilder(plan.gen: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    if (proc.waitFor() != 0) throw new IllegalStateException(s"input generation failed:\n$out")
    val ts = System.nanoTime()
    val spark = session(plan.cores, plan.work)
    val writes = new WriteCounter
    spark.sparkContext.addSparkListener(writes)
    val te = System.nanoTime()
    val pipes = if (plan.workload == "pipeline_lines") Some(new Pipelines(spark, plan.data)) else None
    val sc = spark.sparkContext

    // warm-up, untimed: the first pass writes every output for the check,
    // notes which ops build write-once artifacts, and takes each noop op's
    // reference (rows, hash) from its checked output as read back
    val tw = System.nanoTime()
    val warmup = plan.ops.map { op =>
      val artifactsBefore = artifacts(tag).keySet
      val res: Map[String, Any] =
        try {
          val t = runOp(spark, plan, pipes, op, check = true)
          val ref =
            if (op.sink != "noop") Map.empty[String, Any]
            else {
              spark.read.parquet(s"${plan.work}/check/${op.name}")
                .write.format(CountingSink.Format).mode("overwrite").save()
              val r = CountingSink.last
              Map("ref_rows" -> r.rows, "ref_hash" -> r.hash)
            }
          Map("lat_s" -> (t.t1 - t.t0) / 1e9, "ok" -> true) ++ ref
        } catch { case NonFatal(e) => Map("ok" -> false, "err" -> describe(e)) }
      CacheUtils.releaseAll(spark)
      res ++ Map("name" -> op.name,
        "artifacts" -> (artifacts(tag).keySet -- artifactsBefore).toSeq.sorted)
    }
    val firstPassS = (System.nanoTime() - tw) / 1e9
    // further untimed passes of the timed action let the JIT settle; they
    // are the benchmark's own and not part of the program's set-up
    val tw2 = System.nanoTime()
    for (_ <- 1 until plan.warmPasses; op <- plan.ops) {
      try runOp(spark, plan, pipes, op, check = false) catch { case NonFatal(_) => () }
      CacheUtils.releaseAll(spark)
    }
    val jitPassesS = (System.nanoTime() - tw2) / 1e9
    val indexAfterSetup = artifacts(tag)
    val owners = warmup.collect {
      case w if w("artifacts").asInstanceOf[Seq[String]].nonEmpty => w("name").toString
    }.toSet

    val untraced = timedPhase(spark, plan, pipes, writes, tag, owners, None)
    val traced =
      if (!plan.trace) None
      else {
        val tracer = new Tracer
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        spark.streams.addListener(tracer.streaming)
        try Some(timedPhase(spark, plan, pipes, writes, tag, owners, Some(tracer)))
        finally {
          spark.streams.removeListener(tracer.streaming)
          spark.listenerManager.unregister(tracer)
          sc.removeSparkListener(tracer)
        }
      }

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver") ||
        k == "spark.local.dir"
    }
    val oracle = plan.ops.flatMap(op => op.query.map(q => op.name -> SparkEntry.oracleSql.get(q)))
    val result = Map(
      "workload" -> plan.workload, "seed" -> plan.seed, "cores" -> plan.cores,
      "default_parallelism" -> sc.defaultParallelism,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "conf" -> conf.toMap, "corpus_tag" -> tag,
      "setup" -> Map("inputs_s" -> (ts - ti) / 1e9, "session_s" -> (te - ts) / 1e9,
        "total_s" -> (te - t0) / 1e9, "first_pass_s" -> firstPassS,
        "jit_passes_s" -> jitPassesS,
        "manifest" -> out.trim.split("\n").last,
        "index_builds" -> indexAfterSetup.size),
      "warmup" -> warmup,
      "oracle" -> oracle.toMap,
      "untraced" -> untraced,
      "traced" -> traced.orNull)
    Files.writeString(Paths.get(plan.work, "result.json"), Serialization.write(result)(DefaultFormats))
    spark.stop()
    deleteArtifacts(tag)
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" +
      (if (root ne e) s" (cause ${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(200)})" else "")
  }

  /** Closed loop: one client runs the planned full passes over the op
    * list; each op starts when the previous one has ended. `owners` are the
    * ops whose first run built a write-once artifact.
    */
  def timedPhase(spark: SparkSession, plan: Plan, pipes: Option[Pipelines],
      writes: WriteCounter, tag: String, owners: Set[String],
      tracer: Option[Tracer]): Map[String, Any] = {
    val sc = spark.sparkContext
    val spans = new Spans(tracer.map(_ => plan.traceFile))
    val samples = ArrayBuffer.empty[Map[String, Any]]
    tracer.foreach(_.swap())
    val loadBefore = loadAvg()
    val steal0 = stealSeconds(plan.clkTck)
    val cpu0 = cpuSeconds(plan.clkTck)
    val wall0 = System.nanoTime()
    for (pass <- 0 until plan.passes) {
      for (op <- plan.ops) {
        writes.reset()
        val artifactsBefore = if (tracer.isDefined) artifacts(tag) else Map.empty[String, (Long, Long)]
        val tee0 = pipes.map(_.teeRows.sum).getOrElse(0L)
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        var timing: OpTiming = null
        var err: String = null
        val opStart = System.nanoTime()
        try timing = runOp(spark, plan, pipes, op, check = false)
        catch { case NonFatal(e) => err = describe(e) }
        val failedAt = System.nanoTime()
        ListenerBusAccess.drain(sc)
        val (rows, hash) =
          if (op.sink == "noop") { val r = CountingSink.last; (r.rows, r.hash) }
          else (writes.rows, 0L)
        val base = Map[String, Any]("name" -> op.name, "pass" -> pass, "ok" -> (err == null),
          "err" -> err, "rows" -> rows, "hash" -> hash,
          "lat_s" -> (if (timing == null) failedAt - opStart else timing.t1 - timing.t0) / 1e9)
        val traced = tracer.filter(_ => timing != null).map { tr =>
          val ev = tr.swap()
          val cgCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
          val cgMean = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
          val after = artifacts(tag)
          val rebuilt = after.count { case (k, v) => !artifactsBefore.get(k).contains(v) }
          val opId = samples.size
          spans.record(opId, op, timing, ev)
          val (pipedTasks, pipedRunMs, pipedRecords) = ev.piped
          val jobsMs = ev.jobs.map(j => (j.start, j.end)).sortBy(_._1)
          Map[String, Any](
            "spec_ms" -> timing.specNs / 1e6, "build_ms" -> timing.buildNs / 1e6,
            "action_ms" -> (timing.t1 - timing.actionStart) / 1e6,
            "segments" -> timing.segments,
            "start_ms" -> spans.epochMs(timing.t0), "end_ms" -> spans.epochMs(timing.t1),
            "jobs" -> jobsMs.map { case (a, b) => Seq(a, b) },
            "stages" -> ev.stages.size, "tasks" -> ev.tasks.size,
            "task_run_ms" -> ev.runMs, "task_cpu_ms" -> ev.cpuNs / 1e6, "gc_ms" -> ev.gcMs,
            "shuffle_read_bytes" -> ev.shuffleRead, "shuffle_write_bytes" -> ev.shuffleWrite,
            "spill_bytes" -> ev.spill, "peak_exec_mem_bytes" -> ev.peakExecMem,
            "input_bytes" -> ev.inputBytes, "input_records" -> ev.inputRecords,
            "output_bytes" -> ev.outputBytes, "output_records" -> ev.outputRecords,
            "piped_tasks" -> pipedTasks, "piped_run_ms" -> pipedRunMs,
            "piped_records" -> pipedRecords,
            "catalyst_ms" -> ev.catalystMs,
            "codegen_compiles" -> cgCount, "codegen_ms" -> cgCount * cgMean,
            "artifacts_rebuilt" -> rebuilt, "owns_artifacts" -> owners(op.name),
            "tee_rows" -> (pipes.map(_.teeRows.sum).getOrElse(0L) - tee0),
            "batches" -> ev.batches.map(b => Map("trigger_ms" -> b.triggerMs,
              "commit_ms" -> b.commitMs, "planning_ms" -> b.planningMs,
              "state_rows" -> b.stateRows)))
        }.getOrElse(Map.empty)
        tracer.foreach(_.swap())
        samples += base ++ traced
        CacheUtils.releaseAll(spark)
      }
    }
    val wall = (System.nanoTime() - wall0) / 1e9
    val cpu = cpuSeconds(plan.clkTck) - cpu0
    spans.close()
    Map("wall_s" -> wall, "cpu_s" -> cpu, "passes" -> plan.passes,
      "load_before" -> loadBefore, "load_after" -> loadAvg(),
      "steal_s" -> (stealSeconds(plan.clkTck) - steal0),
      "peak_rss_mb" -> peakRssMb(), "ops" -> samples.toSeq)
  }

  // -------------------------------------------------------------- selftest

  /** The timed action must compute every output column: the physical plan
    * of the counting-sink write (and of Spark's noop write) still holds the
    * uppercase module's `upper` projection, while `count()` prunes it.
    */
  def planCheck(data: String): Int = {
    val work = Files.createTempDirectory(Paths.get(data), "plancheck").toString
    val spark = session(2, work)
    val plans = ArrayBuffer.empty[String]
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.treeString }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    def planOf(action: DataFrame => Unit): String = {
      val spec = ConfigLoader.parse("""{"up": [{"module": "uppercase"}]}""")
      val df = new Engine(spec).run("up", spark, Some(Sources.lines(spark, s"$data/lines.txt")))
      plans.synchronized(plans.clear())
      action(df)
      ListenerBusAccess.drain(spark.sparkContext)
      plans.synchronized(plans.mkString("\n"))
    }
    val counting = planOf(_.write.format(CountingSink.Format).mode("overwrite").save())
    val noop = planOf(_.write.format("noop").mode("overwrite").save())
    val count = planOf(_.count())
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new File(work))
    val checks = Seq(
      "counting sink plan keeps upper()" -> counting.contains("upper("),
      "noop plan keeps upper()" -> noop.contains("upper("),
      "count() plan prunes upper()" -> (count.nonEmpty && !count.contains("upper(")))
    checks.foreach { case (what, ok) => println(s"${if (ok) "PASS" else "FAIL"} $what") }
    if (checks.forall(_._2)) 0 else 1
  }
}
