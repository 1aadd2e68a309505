package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The persisted similarity store (SURVEY §2.1: OP-06..08).
 *
 * Reference: SQLite tables `correlated_items(id, key, human_label)` and
 * `similar_items(item_a_id, item_b_id, scaled_score)` with unique indexes
 * for point lookups (`/root/reference/propius/data.py:44-87`), populated by
 * per-item `executemany` round-trips (`data.py:90-214`).
 *
 * Spark-first: both tables are parquet directories written in ONE bulk job
 * each. `similar_items` is hash-repartitioned on item_a_id and sorted
 * within each file by (item_a_id, item_b_id). That layout prunes point
 * lookups only once a store spans many row groups: AQE coalesces a small
 * store's shuffle into one file with one row group (the benchmark's
 * 75,935-row store), which a parquet point lookup reads whole. The
 * serving handle (`SimilarityModel.Store`) stands in for the reference's
 * SQLite index: it caches the table in this item_a_id order and skips
 * in-memory batches by their item_a_id bounds. At warehouse
 * scale `writeSimilarItemsBucketed` writes a bucketed table. "DDL" is
 * `mode("overwrite")`.
 */
object SimilarityStore {

  val CorrelatedItems = "correlated_items"
  val SimilarItems = "similar_items"

  /** OP-06+07: write the item dictionary (id, key, human_label=NULL —
    * the reference never populates human_label, `data.py:109`). */
  def writeCorrelatedItems(dictionary: DataFrame, storePath: String): Unit =
    dictionary
      .select(col("id").cast("long"), col("key").cast("string"),
        lit(null).cast("string").as("human_label"))
      .write.mode("overwrite").parquet(s"$storePath/$CorrelatedItems")

  /** OP-06+08: write the thresholded pair table, sorted within files by
    * item_a_id (row-group pruning needs several row groups per file; see
    * the object comment for what a small store gets). */
  def writeSimilarItems(pairs: DataFrame, storePath: String,
                        numPartitions: Int = 0): Unit = {
    val p = pairs.select(col("item_a_id").cast("long"),
      col("item_b_id").cast("long"), col("scaled_score").cast("double"))
    val laidOut =
      (if (numPartitions > 0) p.repartition(numPartitions, col("item_a_id"))
       else p.repartition(col("item_a_id")))
        .sortWithinPartitions("item_a_id", "item_b_id")
    laidOut.write.mode("overwrite").parquet(s"$storePath/$SimilarItems")
  }

  /**
   * Warehouse-scale layout: the pair table as a BUCKETED catalog table —
   * `bucketBy(item_a_id)` + in-bucket sort. Serving joins, self-joins,
   * and repeated aggregations on item_a_id are then co-partitioned at
   * read time: no Exchange in the plan (guarded by the spec). This is
   * what the parquet-dir layout's item_a_id sort becomes once a table
   * catalog is available (at 100 TB: the store is a warehouse table, not
   * a directory).
   */
  def writeSimilarItemsBucketed(pairs: DataFrame, tableName: String, buckets: Int,
                                path: Option[String] = None): Unit = {
    val w = pairs.select(col("item_a_id").cast("long"),
        col("item_b_id").cast("long"), col("scaled_score").cast("double"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "item_a_id")
      .sortBy("item_a_id", "item_b_id")
    path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
  }

  def readCorrelatedItems(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/$CorrelatedItems")

  def readSimilarItems(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/$SimilarItems")
}
