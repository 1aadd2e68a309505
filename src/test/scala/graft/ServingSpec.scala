package graft

import graft.api.SimilarityModel
import graft.store.{Serving, SimilarityStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.storage.StorageLevel
import java.nio.file.Files

/** The serving handle (`SimilarityModel.Store`): it answers exactly what
  * the free `Serving` functions answer over the parquet tables, from two
  * cached tables, in one job per lookup; and it owns those caches. */
class ServingSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val limits = Seq(None, Some(1), Some(10))

  /** The StoreRoundTripSpec store: Tables10 fitted, stored with k = 1. */
  private def fittedStore(): String = {
    val dir = Files.createTempDirectory("graft-serving").toString
    SimilarityModel.fit(Tables10.occ.toDF("item_id", "reference_id"))
      .storeIn(dir, (1L to 6L).map(i => (i, s"item-$i")).toDF("id", "key"), k = 1.0)
    dir
  }

  /** A hand-written store: item 1 has a score tie (2 and 3 at 0.5) and a
    * neighbor (9) missing from the dictionary. */
  private def writeStore(dir: String, pairs: Seq[(Long, Long, Double)]): Unit = {
    SimilarityStore.writeCorrelatedItems(
      Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four")).toDF("id", "key"), dir)
    SimilarityStore.writeSimilarItems(pairs.toDF("item_a_id", "item_b_id", "scaled_score"), dir)
  }
  private val tiePairs = Seq((1L, 2L, 0.5), (1L, 3L, 0.5), (1L, 4L, 0.9), (1L, 9L, 0.7),
    (2L, 1L, 1.0), (2L, 4L, 0.0), (4L, 9L, 0.3))

  private def fromFiles(dir: String, item: Long, limit: Option[Int]): Seq[Row] =
    Serving.retrieveSimilarItems(SimilarityStore.readSimilarItems(spark, dir),
      SimilarityStore.readCorrelatedItems(spark, dir), item, limit).collect().toSeq

  test("handle retrieve equals the parquet lookup row for row, ties and unknown neighbors included") {
    val fitted = fittedStore()
    val tied = Files.createTempDirectory("graft-serving-tie").toString
    writeStore(tied, tiePairs)
    for ((dir, items) <- Seq(fitted -> (1L to 7L), tied -> Seq(1L, 2L, 4L, 9L))) {
      val store = SimilarityModel.Store(spark, dir)
      try for (item <- items; limit <- limits)
        withClue(s"$dir item $item limit $limit: ") {
          store.retrieve(item, limit).collect().toSeq shouldBe fromFiles(dir, item, limit)
        }
      finally store.close()
    }
    // the fixture's shape: the tie breaks by item_b_id, the unknown
    // neighbor is dropped as the inner join drops it
    fromFiles(tied, 1L, None).map(_.getLong(0)) shouldBe Seq(4L, 2L, 3L)
    fromFiles(tied, 1L, Some(2)).map(_.getLong(0)) shouldBe Seq(4L, 2L)
    fromFiles(tied, 4L, None) shouldBe empty
    // stats still count every stored pair, as the reference's COUNT(*) does
    val store = SimilarityModel.Store(spark, tied)
    try {
      val st = store.stats.collect()(0)
      st.getAs[Long]("similar_items") shouldBe tiePairs.size.toLong
      st.getAs[Long]("correlated_items") shouldBe 4L
    } finally store.close()
  }

  test("handle retrieve is one job over cached batches: no file scan, no join") {
    val dir = fittedStore()
    val store = SimilarityModel.Store(spark, dir)
    try {
      store.retrieve(1L, Some(10)).collect() // warm-up fills the cache
      val plan = store.retrieve(1L, Some(1)).queryExecution.executedPlan
      val nodes = collect(plan) { case p => p.nodeName }
      nodes should contain("InMemoryTableScan")
      nodes should contain("TakeOrderedAndProject")
      nodes.filter(n => n.contains("Scan") && n != "InMemoryTableScan") shouldBe empty
      nodes should not contain "BroadcastHashJoin"

      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val group = "serving-spec-jobs"
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        for (item <- 1L to 6L) {
          spark.sparkContext.setJobGroup(group, "retrieve")
          try store.retrieve(item, Some(10)).collect()
          finally spark.sparkContext.clearJobGroup()
          org.apache.spark.SpecBus.drain(spark.sparkContext)
          withClue(s"jobs for retrieve($item): ")(jobs.getAndSet(0) shouldBe 1)
        }
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally store.close()
  }

  /** The handle's two tables, looked up in the session cache by plan. */
  private def cached(dir: String): Seq[StorageLevel] = {
    val dict = SimilarityStore.readCorrelatedItems(spark, dir)
    Seq(Serving.keyNeighbors(SimilarityStore.readSimilarItems(spark, dir), dict), dict)
      .map(_.storageLevel)
  }

  test("close releases both of the handle's caches") {
    val dir = fittedStore()
    val store = SimilarityModel.Store(spark, dir)
    store.retrieve(1L, Some(10)).collect()
    store.itemInfo(Seq(1L)).collect()
    cached(dir).foreach(_ should not be StorageLevel.NONE)
    store.close()
    cached(dir) shouldBe Seq(StorageLevel.NONE, StorageLevel.NONE)
  }

  test("a handle opened after the store was rewritten serves the new rows") {
    def ids(store: SimilarityModel.Store): Seq[Long] =
      store.retrieve(1L).collect().map(_.getLong(0)).toSeq
    val dir = Files.createTempDirectory("graft-serving-rewrite").toString
    writeStore(dir, tiePairs)
    val first = SimilarityModel.Store(spark, dir)
    try {
      ids(first) shouldBe Seq(4L, 2L, 3L)
      // rewritten in this session, while the first handle is live
      writeStore(dir, Seq((1L, 3L, 0.8), (1L, 2L, 0.1)))
      val second = SimilarityModel.Store(spark, dir)
      try ids(second) shouldBe Seq(3L, 2L)
      finally second.close()
      // Spark's writer re-caches every cached plan over the path it wrote
      ids(first) shouldBe Seq(3L, 2L)
      // rewritten as another process would: the files are swapped on
      // disk behind the session's back, while the first handle is live
      val other = Files.createTempDirectory("graft-serving-other").toString
      writeStore(other, Seq((1L, 2L, 0.6), (1L, 4L, 0.2)))
      replaceDir(s"$other/${SimilarityStore.SimilarItems}", s"$dir/${SimilarityStore.SimilarItems}")
      val third = SimilarityModel.Store(spark, dir)
      try ids(third) shouldBe Seq(2L, 4L)
      finally third.close()
    } finally first.close()
  }

  private def replaceDir(from: String, to: String): Unit = {
    import java.nio.file.{Path, Paths}
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).toArray.foreach(c => rm(c.asInstanceOf[Path]))
      Files.delete(p)
    }
    rm(Paths.get(to))
    Files.move(Paths.get(from), Paths.get(to))
  }

  test("a live handle's caches survive an ingest's scoped release") {
    val dir = fittedStore()
    val store = SimilarityModel.Store(spark, dir)
    try {
      val want = store.retrieve(1L, Some(10)).collect().toSeq
      store.search("item").collect()
      val state = Files.createTempDirectory("graft-serving-ingest").toString
      graft.streaming.IncrementalIngest.applyBatch(
        Tables10.occ.take(60).toDF("item_id", "reference_id"), 0L, state)
      SimilarityModel.fromStats(graft.streaming.IncrementalIngest.loadLatest(spark, state).get)
        .storeAllIn(s"$state/store", (1L to 6L).map(i => (i, s"item-$i")).toDF("id", "key"))
      cached(dir).foreach(_ should not be StorageLevel.NONE)
      store.retrieve(1L, Some(10)).collect().toSeq shouldBe want
    } finally store.close()
  }
}
