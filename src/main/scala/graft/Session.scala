package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built. Bench, Verify, the CLI,
  * the test harness and the measurement tools all get the same conf:
  *
  *   - master `$SPARK_MASTER`, else `local[cpus]`;
  *   - `cpus` from `$SPARK_GRAFT_CPUS` (a positive integer), else the
  *     JVM's available processors; shuffle partitions = cpus;
  *   - UTC session time zone, UI off, parquet nanos read as long, and a
  *     2000-entry codegen cache.
  *
  * Every conf set here is a default: a `-Dspark.*` system property of the
  * same key wins, so an A/B run changes one conf through
  * `run / javaOptions` without editing code.
  */
object Session {

  /** `$SPARK_GRAFT_CPUS`, parsed once; an unset or blank value means the
    * JVM's available processors, anything else must be a positive Int.
    */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(v: Option[String]): Int =
    v.map(_.trim).filter(_.nonEmpty) match {
      case None => Runtime.getRuntime.availableProcessors
      case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
    }

  /** Build (or join) the session; `conf` adds or overrides defaults. */
  def apply(
      appName: String,
      cpus: Int = Session.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val defaults = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // events.parquet carries TIMESTAMP(NANOS) in one corpus generation;
      // Spark 4 reads it only as long nanos under this flag
      // (Tables.normalizeEventTs converts either encoding)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // 70+ queries × several codegen units each blows straight through
      // the default 100-entry generated-class cache — warmup compilations
      // would be evicted before the timed pass reuses them
      "spark.sql.codegen.cache.maxEntries" -> "2000")
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
    (defaults ++ conf).foreach { case (k, v) =>
      if (!sys.props.contains(k)) b.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
