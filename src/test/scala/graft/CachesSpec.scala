package graft

import org.apache.spark.storage.StorageLevel
import graft.core.Caches

/** Cache-lifecycle witnesses for the scoped-release discipline the
  * streaming ingests use: a micro-batch must release ONLY its own
  * caches, never a concurrent serving query's. */
class CachesSpec extends SparkSpec {
  import spark.implicits._

  test("scoped releases only caches cacheOnce created inside the scope") {
    spark.catalog.clearCache()
    // the "serving query's" cache, owned outside the scope
    val served = Caches.cacheOnce(Seq(1, 2, 3).toDF("a").filter($"a" > 0))
    served.count()
    served.storageLevel should not be StorageLevel.NONE
    var inner: org.apache.spark.sql.DataFrame = null
    Caches.scoped {
      inner = Caches.cacheOnce(Seq(4, 5).toDF("b").filter($"b" > 4))
      inner.count()
      inner.storageLevel should not be StorageLevel.NONE
      // a plan already cached outside is returned as-is, NOT adopted by
      // the scope — releasing it on exit would evict the serving state
      Caches.cacheOnce(served).storageLevel should not be StorageLevel.NONE
    }
    inner.storageLevel shouldBe StorageLevel.NONE // batch cache released
    served.storageLevel should not be StorageLevel.NONE // serving survives
    Caches.release(served)
  }

  test("scoped nests: inner scope release restores outer tracking") {
    spark.catalog.clearCache()
    var outerDf: org.apache.spark.sql.DataFrame = null
    var innerDf: org.apache.spark.sql.DataFrame = null
    Caches.scoped {
      outerDf = Caches.cacheOnce(Seq(1).toDF("x").filter($"x" > 0))
      Caches.scoped {
        innerDf = Caches.cacheOnce(Seq(2, 3).toDF("y").filter($"y" > 1))
      }
      innerDf.storageLevel shouldBe StorageLevel.NONE
      outerDf.storageLevel should not be StorageLevel.NONE
    }
    outerDf.storageLevel shouldBe StorageLevel.NONE
  }

  /** Cached RDDs with an id of at least `first`: the ones a test made,
    * whatever the context cleaner does meanwhile with earlier suites'
    * released seals. */
  private def cachedSince(first: Int): Int =
    spark.sparkContext.getRDDStorageInfo.count(_.id >= first)
  private def nextRddId(): Int = spark.sparkContext.emptyRDD[Int].id

  test("scoped drops the pinPlan seals made inside it, and keeps older ones") {
    Caches.clearAll(spark)
    val first = nextRddId()
    val outside = Caches.pinPlan(Seq(1, 2).toDF("p").filter($"p" > 0))
    outside.count()
    val before = cachedSince(first)
    var inner: org.apache.spark.sql.DataFrame = null
    Caches.scoped {
      inner = Caches.pinPlan(Seq(3, 4).toDF("q").filter($"q" > 0))
      inner.count()
      cachedSince(first) should be > before
      // a seal made outside is returned from the memo, not adopted
      Caches.pinPlan(Seq(1, 2).toDF("p").filter($"p" > 0)) should be theSameInstanceAs outside
    }
    cachedSince(first) shouldBe before
    // the memo forgot the inner seal: the same plan seals anew
    assert(!(Caches.pinPlan(Seq(3, 4).toDF("q").filter($"q" > 0)) eq inner))
    Caches.pinPlan(Seq(1, 2).toDF("p").filter($"p" > 0)) should be theSameInstanceAs outside
    Caches.clearAll(spark)
  }

  test("ingest deltas each refreshing the store leave session storage flat") {
    import graft.api.SimilarityModel
    import graft.streaming.IncrementalIngest
    Caches.clearAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-leak").toString
    val dict = (1L to 6L).map(i => (i, s"item-$i")).toDF("id", "key")
    val batches = Tables10.occ.grouped(30).toSeq
    val first = nextRddId()
    val stored = (1 to 4).map { j =>
      IncrementalIngest.applyBatch(batches(j - 1).toDF("item_id", "reference_id"),
        j.toLong, s"$dir/state", keepLast = Some(2))
      SimilarityModel.fromStats(IncrementalIngest.loadLatest(spark, s"$dir/state").get)
        .storeAllIn(s"$dir/store", dict)
      cachedSince(first)
    }
    stored.last shouldBe stored.head
    // the refreshed store is the full history's store
    val want = SimilarityModel.fit(Tables10.occ.toDF("item_id", "reference_id"))
    graft.store.SimilarityStore.readSimilarItems(spark, s"$dir/store")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      graft.core.StoreBuild.scaledNeighbors(want.crosstab, 2.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Caches.clearAll(spark)
  }
}
