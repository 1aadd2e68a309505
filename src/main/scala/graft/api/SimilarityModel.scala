package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.core.{Caches, Correlation, Crosstab, Incremental, Neighbors}
import graft.store.{Serving, SimilarityStore}

/**
 * One-class facade mirroring the reference's public API
 * (`/root/reference/propius/__init__.py:27-46`, and the documented
 * `SimilarityModel` surface in `docs/api/sim-model.md:3-10`:
 * build / as_dataframe / save / store_in_db), over the functional core.
 *
 * One path, whatever the model came from:
 *
 *   fit(occurrences) / fromCrosstab(ct)   — stats built lazily from cells
 *   fromStats(snapshot) / updated / retracted — stats given (resume)
 *        ↓
 *   `stats`: the sufficient-statistics snapshot (`Incremental.Stats`)
 *        ↓
 *   pairs / topK / save (`Incremental.pairs`) or
 *   storeAllIn (`StoreBuild.scaledNeighborsFromStats`)
 *
 * Train (EP-1):  SimilarityModel.fit(occurrences)
 * Store (EP-2):  model.storeIn(path, dictionary)
 * Serve (EP-3):  SimilarityModel.Store(path).retrieve(itemId, limit)
 */
object SimilarityModel {

  /** `build_similarity_matrix` (`similarity.py:92-117`): occurrences →
    * crosstab → correlation model. Lazy — nothing runs until an action. */
  def fit(occurrences: DataFrame): SimilarityModel =
    fromCrosstab(Crosstab.build(occurrences))

  def fromCrosstab(crosstab: DataFrame): SimilarityModel =
    new SimilarityModel(crosstab, Incremental.fromCells(crosstab))

  /** Incremental EP-1 — the ingest loop the reference cannot run (it
    * rebuilds from the full log every time): resume from a
    * sufficient-statistics snapshot (`graft.core.Incremental.load`) and
    * serve/store from its persisted summaries. */
  def fromStats(stats: Incremental.Stats): SimilarityModel =
    new SimilarityModel(stats.cells, stats)

  /** One ingest step: fold a delta occurrence log into a snapshot and
    * return the refreshed model plus the snapshot to persist for the
    * next ingest. */
  def updated(stats: Incremental.Stats,
              deltaOccurrences: DataFrame): (SimilarityModel, Incremental.Stats) = {
    val next = Incremental.update(stats, deltaOccurrences)
    (fromStats(next), next)
  }

  /** The inverse ingest step: retract an occurrence log (deletions /
    * corrections — `Incremental.retract`); the refreshed
    * model is bit-identical to one rebuilt over the surviving history
    * (q98-gated). Removed occurrences must exist in the folded history. */
  def retracted(stats: Incremental.Stats,
                removedOccurrences: DataFrame): (SimilarityModel, Incremental.Stats) = {
    val next = Incremental.retract(stats, removedOccurrences)
    (fromStats(next), next)
  }

  /** Serving handle over a persisted store (EP-3). On first use it pins
    * two session caches: the dictionary, and the pair table joined once
    * with its keys (`Serving.keyNeighbors`, in the store file's item_a_id
    * order). A lookup is then one job over cached batches that skips
    * batches by their item_a_id bounds.
    *
    * The handle serves the store as of its first use, except that a
    * rewrite through this session's writer is re-cached (Spark re-caches
    * every cached plan over a path it writes). After a rewrite by another
    * process, open a new handle: its first use refreshes the cached files
    * under `path`, for the live handles on that path too, which share
    * its caches. `close()` releases both caches. */
  final case class Store(spark: SparkSession, path: String) {
    private lazy val dict = {
      spark.catalog.refreshByPath(path)
      Caches.cacheOnce(SimilarityStore.readCorrelatedItems(spark, path))
    }
    private lazy val keyed = Caches.cacheOnce(
      Serving.keyNeighbors(SimilarityStore.readSimilarItems(spark, path), dict))
    def retrieve(itemId: Long, limit: Option[Int] = None): DataFrame =
      Serving.neighborsOf(keyed, itemId, limit)
    def itemInfo(ids: Seq[Long]): DataFrame = Serving.getItemInfo(dict, ids)
    def search(term: String, limit: Int = 10): DataFrame =
      Serving.searchItemsByName(dict, term, limit)
    def stats: DataFrame = Serving.databaseStats(keyed, dict)
    /** Release the handle's caches. */
    def close(): Unit = { Caches.release(keyed); Caches.release(dict) }
  }
}

final class SimilarityModel private (val crosstab: DataFrame,
                                     snapshot: => Incremental.Stats) {
  import org.apache.spark.sql.functions._

  /** The model's sufficient statistics; built from the crosstab on first
    * use by a fitted model, the given snapshot for a resumed one. */
  private[api] lazy val stats: Incremental.Stats = snapshot

  /** Scalable correlation pairs (co-occurring, symmetric, self excluded). */
  def pairs: DataFrame = Incremental.pairs(stats)

  /** Reference-parity full vectors for selected items (SURVEY §7.4.10). */
  def fullPairs(itemPredicate: Column): DataFrame =
    Correlation.fullPairs(crosstab, itemPredicate)

  /** `get_similar_items` (`similarity.py:133-167`): raw-corr mean+k·σ
    * threshold for one item, best first. */
  def similarItems(itemId: Long, k: Double = 2.0): DataFrame =
    Neighbors.rawStdDevThreshold(fullPairs(col("item") === itemId), k)
      .orderBy(col("corr").desc, col("item_b"))

  /** kNN per item over the sparse pairs — the scale path. */
  def topK(k: Int): DataFrame = Neighbors.topK(pairs, k)

  /** `store_similarities_in_database` (EP-2, `data.py:19-41`): min-max
    * scale + mean+k·σ threshold per item, one bulk write of both tables.
    * `itemPredicate` bounds the full-matrix pass (lit(true) on small
    * catalogs; at scale pass the partition of items being refreshed). */
  def storeIn(path: String, dictionary: DataFrame,
              itemPredicate: Column = lit(true), k: Double = 2.0): Unit = {
    SimilarityStore.writeCorrelatedItems(dictionary, path)
    val thresholded = Neighbors.scaledStdDevThreshold(fullPairs(itemPredicate), k)
    SimilarityStore.writeSimilarItems(thresholded, path)
  }

  /** `storeIn` with a JDBC destination instead of the parquet layout —
    * the reference's literal SQLite sink shape (`data.py:44-87` tables +
    * unique indexes), for a consumer already reading that database. */
  def storeInJdbc(url: String, dictionary: DataFrame,
                  itemPredicate: Column = lit(true), k: Double = 2.0,
                  props: java.util.Properties = new java.util.Properties): Unit =
    graft.store.JdbcStore.storeIn(dictionary,
      Neighbors.scaledStdDevThreshold(fullPairs(itemPredicate), k), url, props)

  /** All-items EP-2 (`populate_similar_items` over the FULL catalog,
    * `data.py:116-149`) via the closed-form zero-pair decomposition —
    * identical output to `storeIn(path, dict, lit(true))` but never
    * materializes the I×I matrix (see `core.StoreBuild`). The production
    * full-catalog build.
    *
    * The build's own caches and plan seals are released once the store is
    * written (`Caches.scoped`): a refresh after every ingest delta would
    * otherwise pin a new set per delta that nothing reads again. The
    * model's `stats` are forced first, outside the scope, so a fitted
    * model keeps its snapshot cached for `pairs`/`topK`. */
  def storeAllIn(path: String, dictionary: DataFrame, k: Double = 2.0): Unit = {
    val snapshot = stats
    Caches.scoped {
      SimilarityStore.writeCorrelatedItems(dictionary, path)
      SimilarityStore.writeSimilarItems(
        graft.core.StoreBuild.scaledNeighborsFromStats(snapshot, k), path)
    }
  }

  /** `save_correlation_matrix` parity (OP-04) — long-form pairs, CSV. */
  def save(path: String): Unit =
    graft.sources.Sources.saveCsv(pairs, path)

  /** `correlation_matrix_to_dataframe` parity (`similarity.py:120-130`):
    * the item×item correlation matrix as a WIDE DataFrame — one row per
    * item_a, one column per item_b, diagonal 1.0 (NULL for zero-variance
    * items, like the dense path's NaN). A DEBUG view for small catalogs:
    * the long pair form is the scale representation, so this guards at
    * `maxItems` (pivot requires collecting the column key set).
    * Column order follows ascending item id. */
  def wideMatrix(maxItems: Int = 1000): DataFrame = {
    val itemIds = crosstab.select(col("item")).distinct()
      .orderBy(col("item")).collect().map(_.getLong(0))
    require(itemIds.length <= maxItems,
      s"wideMatrix is a small-catalog debug view (${itemIds.length} items > $maxItems); " +
        "use pairs/fullPairs at scale")
    val st = stats.items.crossJoin(broadcast(stats.n))
    val diag = st.select(col("item").as("item_a"), col("item").as("item_b"),
      when(col("n") * col("sxx") - col("sx") * col("sx") > 0.0, lit(1.0))
        .otherwise(lit(null).cast("double")).as("corr"))
    fullPairs(lit(true)).unionByName(diag)
      .groupBy(col("item_a"))
      .pivot(col("item_b"), itemIds.map(_.asInstanceOf[AnyRef]).toSeq)
      .agg(first(col("corr")))
      .orderBy(col("item_a"))
  }
}
