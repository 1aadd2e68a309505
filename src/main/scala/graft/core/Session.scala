package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's session config, in one place for every main and the spec
  * base: a caller picks only its master and shuffle-partition count.
  * Scratch (temp root, `spark.local.dir`, warehouse) lives under
  * `Scratch.root`. */
object Session {

  /** The configured session, logging at WARN. */
  def start(master: String, shufflePartitions: Int): SparkSession = {
    Scratch.pinTmpdir() // before any Spark class touches the JVM temp root
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // bound the SQL-listener plan strings: deep cached funnels print
      // nested InMemoryRelation subtrees multiplicatively, and an
      // unbounded explainString can dominate driver time (or overflow
      // the heap) on every action of a complex query
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.sql.warehouse.dir", Scratch.warehouseDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
