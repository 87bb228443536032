package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-8 streaming scale soak: the Structured-Streaming operator family
  * (tumbling / sliding / session windows, watermark dedup, custom
  * flatMapGroupsWithState) driven over a 40 M-event ordered replay in
  * many micro-batches — 100× the sf0.1 corpus the correctness replays
  * use. Reports wall time, throughput, micro-batch count, and the
  * state-store metrics (rows, memory) that decide whether the state
  * width derivation (`RelationalQueries.stateWidthFor`: one partition
  * per ~32 MB input, so width GROWS with data) holds at scale.
  *
  * Event time advances with file order and every stage carries a
  * watermark, so state is bounded by the watermark horizon — the soak
  * verifies eviction actually bounds it (state rows ≪ input rows).
  *
  * Usage: runMain graft.tools.StreamingSoak [nEvents] [nFiles] [filesPerBatch]
  *        (defaults 40M, 64, 8 → 8 micro-batches)
  */
object StreamingSoak {

  /** Write-once ordered 30-day event corpus in `nFiles` contiguous time
    * slices (file order == time order, so AvailableNow batches advance
    * the watermark monotonically); returns the parquet dir.
    */
  def corpus(spark: SparkSession, nEvents: Long, nFiles: Int): String = {
    val dir = s"/tmp/graft_streamsoak_${nEvents}_$nFiles"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      val spanUs = 30L * 24 * 3600 * 1000000
      val stepUs = math.max(1L, spanUs / nEvents) // id*spanUs would overflow
      spark.range(0, nEvents, 1, nFiles)
        .select(
          col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            col("id") * lit(stepUs)).as("ts"),
          pmod(hash(col("id")), lit(1000000)).cast("long").as("user_id"),
          concat(lit("t"), pmod(col("id"), lit(5))).as("event_type"),
          (pmod(hash(col("id"), lit(7)), lit(10000)) / lit(100.0)).as("value"))
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Micro-batch floor certification (`runMain ... floor`): the bench's
    * q_stream_* family sits at 1–2.4 s per query by design (bounded
    * multi-batch replays — the multi-batch path IS the certificate).
    * This measures that the cost is TRIGGER MACHINERY, not data work:
    * the same tumbling aggregation is replayed (a) at 100× and 400×
    * the events with the batch count pinned — wall must stay flat —
    * and (b) at 2/4/8/16 batches with the events pinned — wall must be
    * ~affine in batches. Together: wall ≈ a + b·batches, invariant to
    * data size at bench scale, so the ~9 s the six ≥1 s stream queries
    * cost is N_batches × T_trigger, shrinkable only by cutting batch
    * counts (which would weaken the certificates), not by optimizing
    * data paths. Numbers land in PERF.md.
    */
  private def floorCert(spark: SparkSession): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val schemaDir = corpus(spark, 10000L, 16)
    val schema = spark.read.parquet(schemaDir).schema
    def run(nEvents: Long, nFiles: Int): Double = {
      val dir = corpus(spark, nEvents, nFiles)
      val ck = s"/dev/shm/graft_ssoak_floor_${nEvents}_$nFiles"
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
      catch { case _: Exception => () }
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val agg = graft.streaming.StreamOps.tumblingCounts(
        src, "ts", "event_type", "1 hour", "1 hour")
      val t0 = System.nanoTime()
      val q = agg.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      q.stop()
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
      catch { case _: Exception => () }
      println(f"[ssoak] floor events=$nEvents%,10d batches=$nFiles%2d " +
        f"wall=$dt%6.2f s  (${dt / nFiles}%5.2f s/batch)")
      dt
    }
    println("[ssoak] -- data-invariance at pinned batch count (4) --")
    Seq((10000L, 4), (1000000L, 4), (4000000L, 4)).foreach { case (e, f) => run(e, f) }
    println("[ssoak] -- batch-linearity at pinned events (10k) --")
    Seq((10000L, 2), (10000L, 4), (10000L, 8), (10000L, 16)).foreach { case (e, f) => run(e, f) }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("floor")) {
      val spark = graft.Session("StreamingSoak")
      floorCert(spark)
      spark.stop()
      return
    }
    val nEvents = args.headOption.map(_.toLong).getOrElse(40000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(64)
    val filesPerBatch = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.Session("StreamingSoak")
    import spark.implicits._

    val dir = corpus(spark, nEvents, nFiles)
    val schema = spark.read.parquet(dir).schema
    println(s"[ssoak] events=$nEvents files=$nFiles filesPerBatch=$filesPerBatch")

    def source(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerBatch).parquet(dir)

    /** Run one bounded replay to a noop sink; report wall, throughput,
      * batches, and end-of-run state-store footprint.
      */
    def soak(name: String, agg: DataFrame, mode: String,
        statePartitions: Int = 32): Unit = {
      val ck = s"/dev/shm/graft_ssoak_$name"
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
      catch { case _: Exception => () }
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val t0 = System.nanoTime()
      val q =
        try {
          spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
          agg.writeStream.outputMode(mode).format("noop")
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow()).start()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      q.awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress
      val batches = progress.length
      val st = progress.reverseIterator
        .find(p => p.stateOperators != null && p.stateOperators.nonEmpty)
        .map(_.stateOperators)
      val stateRows = st.map(_.map(_.numRowsTotal).sum).getOrElse(0L)
      val stateMb = st.map(_.map(_.memoryUsedBytes).sum / 1e6).getOrElse(0.0)
      println(f"[ssoak] $name%-22s $dt%8.2f s  ${nEvents / dt / 1e6}%6.2f M ev/s" +
        f"  batches=$batches%2d  stateRows=$stateRows%,12d  stateMB=$stateMb%8.1f")
      q.stop()
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
      catch { case _: Exception => () }
    }

    soak("tumbling_1h", graft.streaming.StreamOps
      .tumblingCounts(source(), "ts", "event_type", "1 hour", "30 minutes"),
      "append")
    soak("sliding_1h_15m", graft.streaming.StreamOps
      .slidingCounts(source(), "ts", "event_type", "1 hour", "15 minutes",
        "30 minutes"),
      "append")
    soak("session_gap30m", graft.streaming.StreamOps
      .sessionCounts(source(), "ts", "user_id", "30 minutes", "30 minutes"),
      "append")
    soak("dedup_watermark", graft.streaming.StreamOps
      .dedupWithinWatermark(
        source().withColumn("dup_key", col("event_id") % (nEvents / 2)),
        "ts", Seq("dup_key"), "30 minutes"),
      "append")
    soak("fmgws_running", {
      val ev = source()
        .select(col("user_id").as("key"), col("ts"),
          floor(col("value") * lit(10000.0)).cast("double").as("value"))
        .as[graft.streaming.Stateful.KeyedEvent]
      graft.streaming.Stateful.runningStats(ev).toDF()
    }, "update")

    spark.stop()
  }
}
