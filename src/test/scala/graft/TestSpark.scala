package graft

import org.apache.spark.sql.SparkSession

/** The local session most specs share: local[4], 4 shuffle partitions,
  * UI off. Specs that need other settings build their own. */
trait TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
