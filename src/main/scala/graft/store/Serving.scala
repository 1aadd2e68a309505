package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Serving reads over the similarity store (SURVEY §2: OP-13..17, OP-22/23,
 * OP-25, OP-29, OP-31; reference `/root/reference/propius/data.py:217-359`).
 *
 * Each read is a declarative plan: a pushed-down point-lookup filter, a
 * broadcast hash join for the small dictionary, and TakeOrderedAndProject
 * for ORDER BY … LIMIT (true distributed top-k — never a full sort).
 *
 * Over the parquet files, row-group statistics prune a point lookup only
 * when the store spans several row groups. The writer's hash repartition
 * plus AQE coalescing leaves a small store as one file with one row
 * group, which every lookup reads whole. The serving handle
 * (`SimilarityModel.Store`) is where pruning happens: it caches
 * `keyNeighbors` once, in the store file's item_a_id order, and
 * `neighborsOf` then skips in-memory batches by their item_a_id min/max
 * statistics. A limited lookup is one job over cached batches, with no
 * file scan and no join.
 */
object Serving {

  /**
   * EP-3 `retrieve_similar_items` (`data.py:217-250`): neighbors of one
   * item with names attached, best first.
   * SQL shape: `SELECT si.item_b_id, ci.key, si.scaled_score FROM
   * similar_items si JOIN correlated_items ci ON si.item_b_id = ci.id
   * WHERE si.item_a_id = ? ORDER BY scaled_score DESC [LIMIT n]`.
   * The key join and the per-item lookup are the two halves below; the
   * optimizer pushes the item_a_id filter through the join to the scan.
   */
  def retrieveSimilarItems(similarItems: DataFrame, correlatedItems: DataFrame,
                           itemId: Long, limit: Option[Int] = None): DataFrame =
    neighborsOf(keyNeighbors(similarItems, correlatedItems), itemId, limit)

  /** The pair table with each neighbor's dictionary key attached:
    * (item_a_id, item_b_id, key, scaled_score, known). A left join, so
    * every store row stays (`databaseStats` counts them all); `known` is
    * false for a neighbor missing from the dictionary, which `neighborsOf`
    * drops as the reference's inner join does. The dictionary side is
    * broadcast (OP-16), so rows keep the pair table's order. */
  def keyNeighbors(similarItems: DataFrame, correlatedItems: DataFrame): DataFrame =
    similarItems
      .join(broadcast(correlatedItems), col("item_b_id") === col("id"), "left")
      .select(col("item_a_id"), col("item_b_id"), col("key"), col("scaled_score"),
        col("id").isNotNull.as("known"))

  /** One item's named neighbors from a `keyNeighbors` table, best first
    * (OP-14 point lookup, OP-24 order, OP-26 limit). */
  def neighborsOf(keyed: DataFrame, itemId: Long, limit: Option[Int] = None): DataFrame = {
    val ranked = keyed
      .where(col("item_a_id") === lit(itemId) && col("known"))
      .select(col("item_b_id"), col("key"), col("scaled_score"))
      .orderBy(col("scaled_score").desc, col("item_b_id").asc)
    limit.map(ranked.limit).getOrElse(ranked)
  }

  /** `get_item_info` (`data.py:253-278`): dictionary rows for an id set
    * (OP-15 IN-list — semi-join semantics, never SQL string splicing). */
  def getItemInfo(correlatedItems: DataFrame, ids: Seq[Long]): DataFrame =
    correlatedItems.where(col("id").isin(ids: _*))
      .select(col("id"), col("key"), col("human_label"))
      .orderBy(col("id"))

  /**
   * `search_items_by_name` (`data.py:281-313`): case-insensitive contains
   * on key OR human_label (OP-13/29 — SQLite `LIKE '%t%'` is ASCII
   * case-insensitive, SURVEY §7.4.8), ordered by key (OP-25), default
   * limit 10 (`data.py:283`).
   */
  def searchItemsByName(correlatedItems: DataFrame, term: String,
                        limit: Int = 10): DataFrame = {
    val t = lit(term.toLowerCase)
    correlatedItems
      .where(lower(col("key")).contains(t) ||
        lower(coalesce(col("human_label"), lit(""))).contains(t))
      .select(col("id"), col("key"))
      .orderBy(col("key"), col("id"))
      .limit(limit)
  }

  /**
   * `get_database_stats` (`data.py:316-359`): table row counts (OP-22) and
   * the average neighbor-list length — AVG over a grouped COUNT, rounded to
   * 2, 0 when empty (OP-23, OP-31). One row out.
   */
  def databaseStats(similarItems: DataFrame, correlatedItems: DataFrame): DataFrame = {
    val items = correlatedItems.agg(count(lit(1)).as("correlated_items"))
    // Single pass over the (potentially expensive) similar-items plan: the
    // grouped neighbor counts yield BOTH the total pair count (Σc) and the
    // average list length — evaluating the input twice would recompute the
    // whole store pipeline per branch (Catalyst has no cross-branch reuse).
    val pairsAndAvg = similarItems.groupBy("item_a_id")
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).cast("long").as("similar_items"),
        coalesce(round(avg(col("c").cast("double")), 2), lit(0.0)).as("avg_similar_items"))
    items.crossJoin(pairsAndAvg)
      .select(col("correlated_items"), col("similar_items"), col("avg_similar_items"))
  }
}
