package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory and wall timer behind Bench, Verify
  * and the tools/ probes. SPARK_GRAFT_CPUS is the only deployment
  * setting: a positive integer that sizes both `local[n]` and
  * spark.sql.shuffle.partitions, defaulting to the JVM's available
  * processors. Everything else is a constant. */
object LocalSpark {
  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** A SPARK_GRAFT_CPUS value (None = unset) as a core count; anything
    * but a positive integer is rejected up front, before it can reach a
    * master URL or a record's filename. */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(throw
      new IllegalArgumentException(s"$CpusVar must be a positive integer, got '$s'"))
  }

  lazy val cpus: Int = parseCpus(sys.env.get(CpusVar))

  /** UTC session clock; nanosAsLong reads TIMESTAMP(NANOS) parquet columns
    * as int64 (TSModel.eventsWithTsUs normalizes them). */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `f`'s result and its wall time in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
