package graft
import java.nio.file.{Files, Path, Paths}

/** The query timer.
  *
  * `runMain graft.Bench` times every declared query and prints the
  * one-line JSON contract. `runMain graft.Bench q_tpch_q4 q_pagerank`
  * times only the named queries with the same method; an unknown name
  * stops the run before any work. Per query, BENCH_DETAIL.json carries
  * the median and min wall seconds, every rep, and the median executor
  * CPU seconds (`cpu_s`) and shuffle write MB (`shuffle_mb`) of a rep.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (the corpus directory),
  * `SPARK_GRAFT_BENCH_REPS` (odd, default 3) and the session env of
  * [[Session]]. To A/B a conf, pass `-Dspark.<key>=<value>` through
  * `run / javaOptions`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val catalog = SparkEntry.queries
    // fail BEFORE the ~2-min warmup pass, not after; and odd reps make
    // the median an actual middle element (even reps would silently
    // report the upper-middle)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1 && reps % 2 == 1,
      s"SPARK_GRAFT_BENCH_REPS must be a positive odd number, got $reps")
    val unknown = args.filterNot(catalog.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown query: ${unknown.mkString(" ")}")
      sys.exit(2)
    }
    val full = args.isEmpty
    val names = if (full) catalog.keys.toSeq else args.toSeq.distinct
    val spark = Session("graft-bench")
    val cost = new StageCost(spark)
    // Steady-state methodology (JMH-style): one untimed warmup pass over
    // every query absorbs the one-shot JVM costs — Janino compilation of
    // each plan's generated code, C2 JIT of the hot loops, first-touch of
    // the parquet footers — then the timed pass measures execution alone.
    // That is the number that extrapolates to the 100 TB target, where
    // per-plan codegen cost amortizes to zero; without it the measurement
    // is dominated by which query happens to run a plan shape first
    // (q_dedup_clusters absorbed ~5 s of the dedup family's codegen purely
    // by map-iteration order). Persisted intermediates are released after
    // every run, warmup included — only JIT state stays warm, no data.
    def runOnce(name: String, warmup: Boolean): Rep = {
      val c0 = cost.sample()
      val t0 = System.nanoTime()
      val ok =
        try { catalog(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          if (!warmup) System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      // failed queries report -1 so a breakage can't masquerade as a
      // fast run (and is excluded from the total)
      val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // release pipeline-local persisted intermediates between queries so
      // caching helps within a query but can't accumulate across 70+
      ops.CacheUtils.releaseAll(spark)
      Rep(elapsed, cost.sample() - c0)
    }
    // Ambient host load (1-min loadavg), sampled before and after the
    // run: the headline is already a median-of-reps, but cross-round
    // comparisons on a shared host still need to see the weather — a
    // 2× wall swing with load recorded is adjudicable without prose.
    def loadAvg(): Double =
      try {
        val s = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0)
        math.rint(s.toDouble * 100) / 100
      } catch { case _: Exception => -1.0 }
    val loadBefore = loadAvg()
    names.foreach(runOnce(_, warmup = true))
    // MEDIAN of `reps` timed passes per query, interleaved ROUND-ROBIN
    // (pass 1 of every query, then pass 2, ...) rather than back-to-back:
    // two rounds of single-pass numbers on byte-identical code showed 2-4×
    // per-query drift (GC/codegen-cache weather in a 124-query JVM), and
    // back-to-back reps would share whatever weather hit that moment —
    // interleaving decorrelates the passes, so the median discards the
    // unlucky one. Any failed pass reports the query as -1 (a breakage
    // must never hide behind two good passes).
    val samples: Map[String, Seq[Rep]] = {
      val passes = (0 until reps).map { _ =>
        names.map(n => n -> runOnce(n, warmup = false)).toMap
      }
      names.map(n => n -> passes.map(_(n))).toMap
    }
    def middle(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    def median(xs: Seq[Double]): Double = if (xs.exists(_ < 0)) -1.0 else middle(xs)
    val results: Map[String, Double] = samples.map { case (n, rs) => n -> median(rs.map(_.wallS)) }
    // min-of-reps alongside the median: the median is the headline, but on
    // a shared host the min is the load-robust floor — a rep spread like
    // [7.0, 14.2, 0.5] is ambient weather, and carrying the min per round
    // lets that be adjudicated from artifacts instead of re-measurement
    def minRep(xs: Seq[Double]): Double =
      if (xs.exists(_ < 0)) -1.0 else xs.min
    val total = math.rint(results.values.filter(_ >= 0).sum * 1000) / 1000
    val totalMin = math.rint(samples.values.map(rs => minRep(rs.map(_.wallS)))
      .filter(_ >= 0).sum * 1000) / 1000
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // Full-precision per-rep samples to a file for plan/variance audits,
    // with the executor cost of a rep: wall time swings with host load,
    // executor CPU and shuffle bytes do not
    val detail = samples.map { case (k, rs) =>
      val xs = rs.map(_.wallS)
      s"\"" + k + "\":{\"median\":" + median(xs) + ",\"min\":" + minRep(xs) +
        ",\"runs\":" + xs.mkString("[", ",", "]") +
        ",\"cpu_s\":" + r3(middle(rs.map(_.cost.cpuS))) +
        ",\"shuffle_mb\":" + r3(middle(rs.map(_.cost.shuffleMb))) + "}"
    }.mkString("{", ",", "}")
    val loadAfter = loadAvg()
    val loadJson =
      s""""load":{"before":$loadBefore,"after":$loadAfter,"cpus":${Runtime.getRuntime.availableProcessors}}"""
    // the bench's parallelism contract, self-evident in the artifact
    // (round-16 adjudication: "cpus" above is the HOST core count, which
    // made an 8-core driver run look like the env var was ignored):
    // cpus_requested is Session's parsed $SPARK_GRAFT_CPUS, parallelism
    // is the live sc.defaultParallelism under local[cpus] — the two must
    // agree
    val parJson =
      s""""cpus_requested":${Session.cpus},"parallelism":${spark.sparkContext.defaultParallelism}"""
    val detailLine =
      s"""{"metric":"total","value":$total,"min":$totalMin,"unit":"sec","reps":$reps,$parJson,$loadJson,"queries":$detail,"sf":"$sfDir"}""" + "\n"
    try {
      Files.writeString(Paths.get("BENCH_DETAIL.json"), detailLine)
      // …and an immutable per-round copy of a full run
      if (full) Files.writeString(roundFile(Paths.get("."), sfDir), detailLine)
    } catch { case _: Exception => () } // cwd may not be writable under the harness
    // …but the stdout line must survive the harness's bounded (2000-char)
    // output-tail capture with sbt's footer behind it, or it never parses:
    // 2-decimal values, and if the query map alone would blow the budget,
    // the FASTEST queries are dropped (the slow ones are the audit surface)
    // with an "omitted" count so truncation is visible.
    // was 1580; the top-level "min" joined the line, then the two
    // parallelism fields (~45 chars) — keep the whole line under the
    // harness's 2000-char tail capture with sbt's footer behind it
    val budget = 1515
    def fmt(v: Double): String =
      if (v < 0) "-1"
      // Locale.ROOT: the default-locale f"" interpolator would emit a
      // comma decimal separator under e.g. de_DE — invalid JSON
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // failures (-1) sort FIRST so budget truncation can never hide a
    // broken query in the omitted tail; then slowest-first
    val bySlowest = results.toSeq.sortBy { case (_, v) => if (v < 0) Double.NegativeInfinity else -v }
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var len = 0
    var omitted = 0
    bySlowest.foreach { case (k, v) =>
      val entry = s"\"" + k + "\":" + fmt(v)
      if (len + entry.length + 1 <= budget) { kept += entry; len += entry.length + 1 }
      else omitted += 1
    }
    val qs = kept.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"min":$totalMin,"unit":"sec","reps":$reps,$parJson,$loadJson,"queries":$qs,"omitted":$omitted,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** One timed run of one query: wall seconds (-1 if it failed) and the
    * executor cost of its stages.
    */
  private final case class Rep(wallS: Double, cost: StageCost.Sample)

  /** BENCH_DETAIL_r{N}_{sf}.json, the round's immutable copy: the
    * round's BENCH_r{N}.json is stamped after this run, so the round in
    * flight is max(existing N) + 1 — keeping every round's rep history on disk
    * makes bench-weather adjudication artifact-only. The sf tag keys the
    * name because both scale factors are benched in one round; a second
    * full run of the same round and sf gets `_run2`, `_run3`, … instead
    * of overwriting the first.
    */
  private[graft] def roundFile(dir: Path, sfDir: String): Path = {
    val benchRe = java.util.regex.Pattern.compile("BENCH_r(\\d+)\\.json")
    var maxRound = 0
    val ls = Files.list(dir)
    try {
      ls.forEach { p =>
        val m = benchRe.matcher(p.getFileName.toString)
        if (m.matches()) maxRound = math.max(maxRound, m.group(1).toInt)
      }
    } finally ls.close()
    val sfTag = Paths.get(sfDir).getFileName.toString.replaceAll("[^A-Za-z0-9.]", "_")
    val base = f"BENCH_DETAIL_r${maxRound + 1}%02d_$sfTag%s"
    Iterator.from(1)
      .map(i => dir.resolve(if (i == 1) s"$base.json" else s"${base}_run$i.json"))
      .find(!Files.exists(_)).get
  }
}
