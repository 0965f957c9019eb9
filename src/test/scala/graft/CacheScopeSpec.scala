package graft

import graft.core.CacheScope
import graft.operators.{BloomJoin, Dedup, SimilaritySearch}
import org.apache.spark.sql.functions._

/** Scoped release of operator-internal caches: the bracketed form must
  * leave NO cached relations behind, produce the same results as the
  * unscoped form, and nest correctly.
  */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf = (1L to 40L)
    .map(i => (i, if (i % 2 == 0) s"alpha beta gamma delta ep$i zeta"
      else s"alpha beta gamma delta ep$i eta"))
    .toDF("doc_id", "text")

  /** Ids of the persistent RDDs alive now. Checks compare ids, not the
    * JVM-wide count: Spark's ContextCleaner unpersists an earlier
    * suite's unreferenced RDDs asynchronously, so the count can fall
    * below a baseline while nothing leaked. A leak is a NEW surviving id.
    */
  private def cachedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Names of the persistent RDDs created since `before` still alive. */
  private def createdSince(before: Set[Int]): Seq[String] =
    spark.sparkContext.getPersistentRDDs.toSeq
      .collect { case (id, rdd) if !before(id) => s"$id:${rdd.name}" }

  test("scoped: operator caches are gone at bracket exit; results match " +
      "the unscoped run") {
    spark.catalog.clearCache()
    val beforeUnscoped = cachedIds
    val unscoped = Dedup.jaccardShinglePairs(docsDf, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(createdSince(beforeUnscoped).nonEmpty,
      "unscoped run should leave operator caches")
    spark.catalog.clearCache()
    val before = cachedIds
    val scoped = CacheScope.scoped {
      Dedup.jaccardShinglePairs(docsDf, "doc_id", "text", 3, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(scoped == unscoped)
    val leaked = createdSince(before)
    assert(leaked.isEmpty, s"scoped run leaked caches: $leaked")
  }

  test("scopedWith: caches registered from a CHILD thread release with " +
      "the owning bracket (the foreachBatch composition)") {
    spark.catalog.clearCache()
    val before = cachedIds
    var childResult = -1L
    var childError: Throwable = null
    CacheScope.scopedWith { scope =>
      val t = new Thread(() => {
        try scope.attached {
          childResult = Dedup
            .jaccardShinglePairs(docsDf, "doc_id", "text", 3, 0.6).count()
        } catch { case e: Throwable => childError = e }
      })
      t.start()
      t.join()
      if (childError != null) throw childError
      assert(createdSince(before).nonEmpty,
        "child-thread operator run should have registered caches")
    }
    assert(childResult >= 0)
    val leaked = createdSince(before)
    assert(leaked.isEmpty,
      s"cross-thread caches leaked past the owning bracket: $leaked")
  }

  test("scoped covers the similarity, bloom-join, and clustering " +
      "pipelines too") {
    spark.catalog.clearCache()
    val emb = (1L to 30L).map(i =>
      (i, Array.fill(8)(((i % 5) + 1).toFloat))).toDF("vec_id", "vec")
    val big = (1L to 200L).map(i => (i, i % 7)).toDF("row_id", "k")
    val small = Seq((1L, 0L), (2L, 3L)).toDF("sid", "k")
    val before = cachedIds
    CacheScope.scoped {
      SimilaritySearch.cosineNearDupPairsLSH(emb, "vec_id", "vec", 0.95)
        .count()
      BloomJoin.bloomSemiJoin(big, "k", small.select(col("k")), "k").count()
      graft.operators.ConnectedComponents.clusters(
        Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2"),
        "id1", "id2").count()
      ()
    }
    val leaked = createdSince(before)
    assert(leaked.isEmpty, s"leaked: $leaked")
  }

  test("scoped: both clusters branches, driver and distributed, leave " +
      "nothing behind") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    for (gate <- Seq(None, Some(0L))) {
      spark.catalog.clearCache()
      val before = cachedIds
      val n = CacheScope.scoped {
        graft.core.BroadcastGate.forced.withValue(gate) {
          graft.operators.ConnectedComponents.clusters(pairs, "id1", "id2")
            .count()
        }
      }
      assert(n == 5L)
      val leaked = createdSince(before)
      assert(leaked.isEmpty, s"gate $gate leaked: $leaked")
    }
  }

  test("scopes nest: the inner bracket releases only its own caches") {
    spark.catalog.clearCache()
    val before = cachedIds
    CacheScope.scoped {
      val outer = Dedup.jaccardShinglePairs(docsDf, "doc_id", "text", 3, 0.6)
      outer.count()
      val outerCaches = createdSince(before)
      assert(outerCaches.nonEmpty, "outer scope should be holding caches")
      CacheScope.scoped {
        Dedup.simHashPairs(docsDf, "doc_id", "text", maxDist = 3).count()
        ()
      }
      // inner released its own; outer's caches still alive (its lazy
      // results remain usable inside the outer scope)
      assert(createdSince(before).toSet == outerCaches.toSet,
        "inner scope must release its own caches and keep the outer's")
      outer.count() // still served from the outer scope's caches
      ()
    }
    val leaked = createdSince(before)
    assert(leaked.isEmpty, s"nested scopes leaked: $leaked")
  }
}
