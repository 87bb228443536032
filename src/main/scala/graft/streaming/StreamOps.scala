package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming operators — the unbounded side of the engine.
  *
  * The reference's streaming surface is `gasket pipe` (stdin stays open,
  * `/root/reference/bin.js:157-184`) and `background` segments
  * (`index.js:167-173`); record-level streaming computation was delegated
  * to stages. Here the standard event-time toolkit is first-class, built
  * on watermarks so state is bounded at scale (a 1000-executor streaming
  * job lives or dies by state-store size — every op below declares its
  * eviction policy via the watermark).
  *
  * All transforms are `DataFrame => DataFrame` so they compose identically
  * over `spark.read` (batch backfill) and `spark.readStream` (live) — the
  * batch/streaming unification the reference approximates with "a pipeline
  * is a pipeline whether stdin ends or not".
  */
object StreamOps {

  /** Tumbling event-time window aggregation with a watermark bounding
    * state. Output: window start/end, group column, count + sum(value).
    */
  def tumblingCounts(
      events: DataFrame,
      tsCol: String,
      groupCol: String,
      windowLen: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(groupCol), col("n"), col("sum_value"))

  /** Sliding window variant (windowLen, slide). */
  def slidingCounts(
      events: DataFrame,
      tsCol: String,
      groupCol: String,
      windowLen: String,
      slide: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen, slide), col(groupCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(groupCol), col("n"))

  /** Session windows: gap-closed per-key sessions (the streaming form of
    * the batch q_sessionize operator).
    *
    * Deployment note (40 M-event tuning matrix in PERF.md, graded by
    * executor CPU time — wall clock on the soak host swings 2× between
    * identical runs): `spark.sql.streaming.sessionWindow.merge.sessions
    * .in.local.partition` pre-merges each partition's sessions before
    * the state-store shuffle. It is a KEY-DENSITY bet, not a free win:
    * with high-cardinality keys (1 M users, ≲1 session per key per
    * batch) the extra per-partition sort nearly DOUBLES CPU for no
    * shuffle reduction; with dense keys (sessions per key per batch
    * ≫ 1) the pre-merge collapses rows and pays off. Leave it off by
    * default; enable it when the key space is small relative to the
    * batch. RocksDB state store and narrower state widths measured no
    * win for this stage either (PERF.md round-9 matrix).
    */
  def sessionCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col(keyCol), col("n"))

  /** [[sessionCounts]]' fast twin: the same gap-closed sessions computed
    * by [[Stateful.gapSessions]] (flatMapGroupsWithState) instead of the
    * built-in `session_window` operator — same output schema, same
    * append-mode emission rule (a session emits once the watermark
    * passes `last + gap`), an order of magnitude less CPU at high key
    * cardinality (PERF.md round-9 session matrix). Key column must be
    * integral (cast to long).
    */
  def sessionCountsFast(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String,
      watermarkDelay: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = intervalUs(spark, gap)
    // watermark AFTER the projection: a cast/rename upstream of the
    // watermark column severs event-time tracking for the fMGWS operator
    val ds = events
      .select(col(keyCol).cast("long").as("key"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[Stateful.SessEvent]
    Stateful.gapSessions(ds, gapUs).toDF()
      .select(col("s_start"), col("s_end"), col("key").as(keyCol), col("n"))
  }

  /** Interval string → microseconds (day-time intervals only). */
  private def intervalUs(
      spark: org.apache.spark.sql.SparkSession, s: String): Long =
    spark.range(1).select(expr(s"INTERVAL $s")).head().get(0) match {
      case d: java.time.Duration => d.toNanos / 1000L
      case ci: org.apache.spark.unsafe.types.CalendarInterval =>
        require(ci.months == 0,
          s"calendar-month intervals are not fixed-length: $s")
        ci.days * 86400000000L + ci.microseconds
      case other => throw new IllegalArgumentException(
        s"not a day-time interval: $s ($other)")
    }

  /** Stream-stream equi-join with an event-time interval bound. Both
    * sides carry watermarks and the range condition bounds the join
    * state: rows are dropped from state once the other side's watermark
    * passes their interval — the only way a stream⋈stream join survives
    * unbounded inputs.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      watermarkDelay: String,
      maxLag: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $maxLag"))
  }

  /** LEFT OUTER interval join: matched rows stream out as in
    * [[intervalJoin]]; an UNMATCHED left row is emitted (right side
    * null) only once the watermark proves no future match can arrive —
    * i.e. when the global watermark passes `leftTs + maxLag`. Until
    * then the row is withheld in state: outer results are
    * emit-once-correct, never retracted.
    */
  def intervalJoinOuter(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      watermarkDelay: String,
      maxLag: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $maxLag"),
      "left_outer")
  }

  /** Stateful streaming dedup with bounded state: duplicates arriving
    * within the watermark horizon are dropped, state evicted beyond it.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Continuous-ingest exact dedup: each micro-batch of a document
    * stream anti-joins the historical corpus' content-fingerprint set —
    * the streaming form of [[graft.ext.Dedup.incremental]], with the
    * SAME md5 fingerprint so batch and stream agree on what "seen"
    * means. `corpusFp` is the static side (at scale, the write-once
    * bucketed fp index `Dedup.incremental` documents — reloaded once,
    * scanned per micro-batch without a shuffle of the index).
    *
    * Stream-static left-anti is stateless (no watermark, no state
    * store): the corpus set is fixed for the run, so "new vs corpus" is
    * a pure per-row predicate — stream-INTERNAL duplicates are a
    * separate stateful concern ([[dedupWithinWatermark]] on `fp`,
    * chainable before this join).
    */
  def dedupAgainstCorpus(
      stream: DataFrame,
      contentCol: String,
      corpusFp: DataFrame): DataFrame =
    stream
      .withColumn("fp", org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col(contentCol)))
      .join(corpusFp.select("fp"), Seq("fp"), "left_anti")

  /** Online model serving: score a document stream with a batch-trained
    * hashed-linear-classifier model ([[graft.ext.Classifier]]) and gate on
    * a threshold. Stateless and map-only — the model rides in the
    * streaming plan as one literal object exactly as in batch, so the
    * "train offline, serve online" hand-off is the same expression on
    * both sides of the `read`/`readStream` divide (no state store, no
    * watermark: per-row inference has nothing to evict).
    */
  def classifyStream(
      stream: DataFrame,
      textCol: String,
      model: graft.ext.Classifier.Model,
      indexOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      threshold: Double): DataFrame =
    stream
      .withColumn("score",
        graft.ext.Classifier.scoreExpr(col(textCol), model, indexOf))
      .filter(col("score") >= threshold)
}
