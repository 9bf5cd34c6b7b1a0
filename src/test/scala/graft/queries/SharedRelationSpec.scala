package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** Lifecycle gates for the one shared-cache idiom ([[SharedRelation]],
  * r16 verdict task 6): repeated evaluation must NOT grow the
  * registry (one entry per (family, key), same DataFrame instance
  * returned, builder runs once), and release must actually unpersist
  * — both for the helper in isolation and through the three real
  * call sites (Dedup pairs, TextStats t1 relations, d5 bands).
  */
class SharedRelationSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  test("memoization: repeated apply returns the same persisted relation, builds once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def make() = SharedRelation(spark, "spec.memo", "k1") {
      builds.incrementAndGet()
      spark.range(100).toDF("id")
    }
    val a = make(); val b = make(); val c = make()
    assert(builds.get() == 1, s"builder ran ${builds.get()} times, want 1")
    assert((a eq b) && (b eq c), "repeated apply must return the same instance")
    assert(SharedRelation.entryCount(spark, "spec.memo") == 1)
    assert(a.storageLevel.useDisk || a.storageLevel.useMemory,
      "the shared relation must be persisted")
    // a distinct key is a distinct entry — no cross-key aliasing
    SharedRelation(spark, "spec.memo", "k2")(spark.range(5).toDF("id"))
    assert(SharedRelation.entryCount(spark, "spec.memo") == 2)
    SharedRelation.releaseAll(spark)
    assert(SharedRelation.entryCount(spark, "spec.memo") == 0)
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release must unpersist the relation")
  }

  test("call sites: repeated evaluation holds the registry flat; release unpersists") {
    // suites share this JVM's SparkSession — drop any entries earlier
    // suites left so the exact counts below are deterministic
    SharedRelation.releaseAll(spark)
    // d2 pairs — one entry however many consumers run
    val p1 = Dedup.d2MinhashLsh(spark, sf)
    Dedup.d2MinhashLsh(spark, sf); Dedup.d2MinhashLsh(spark, sf)
    assert(SharedRelation.entryCount(spark, "dedup.pairs") == 1)

    // t1 relations — two entries (profs + langprof), stable across calls
    TextStats.t1LangId(spark, sf).count()
    TextStats.t1LangId(spark, sf).count()
    assert(SharedRelation.entryCount(spark, "t1.profs") == 1)
    assert(SharedRelation.entryCount(spark, "t1.langprof") == 1)

    // d5 bands — one entry per (corpus plan, geometry); repeated narrow
    // builds share it, a wide build on the same corpus adds exactly one
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.d5CandidatesGeo(spark, emb, wide = false).count()
    Similarity.d5CandidatesGeo(spark, emb, wide = false).count()
    assert(SharedRelation.entryCount(spark, "d5.bands") == 1)
    Similarity.d5CandidatesGeo(spark, emb, wide = true).count()
    assert(SharedRelation.entryCount(spark, "d5.bands") == 2)

    // release actually unpersists and empties each family
    SharedRelation.releaseAll(spark)
    assert(SharedRelation.entryCount(spark, "dedup.pairs") == 0)
    assert(p1.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(SharedRelation.entryCount(spark, "t1.profs") == 0)
    assert(SharedRelation.entryCount(spark, "t1.langprof") == 0)
    assert(SharedRelation.entryCount(spark, "d5.bands") == 0)
  }
}
