package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{AggQueries, PipelineQueries, RelationalQueries, SessionScoped}

/** Lifecycle pins for the session-scoped derived-state registry: one
  * explicit evict releases cached storage, temp-directory stores and
  * derived layouts, and everything rebuilds correctly afterwards (a
  * long-lived session must be able to cycle data directories without
  * pinning each one's state forever). */
class CacheLifecycleSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def bucketedTables(): Set[String] = spark.catalog.listTables()
    .collect().map(_.name).filter(_.startsWith("graft_bkt_")).toSet

  test("evict unpersists memoized pipeline frames; queries rebuild") {
    assume(new java.io.File(s"$dir/documents.parquet").exists)
    val clusters = PipelineQueries.dDedupClusters(spark, dir)
    val n = clusters.count()
    assert(SessionScoped.count(spark, dir) > 0)
    assert(clusters.storageLevel != StorageLevel.NONE,
      "cluster labels should be cached while memoized")
    SessionScoped.evict(spark, dir)
    assert(SessionScoped.count(spark, dir) === 0)
    assert(clusters.storageLevel === StorageLevel.NONE,
      "evict must unpersist the memoized frame's storage")
    // rebuild after evict: same result, fresh memo entry
    assert(PipelineQueries.dDedupClusters(spark, dir).count() === n)
    assert(SessionScoped.count(spark, dir) > 0)
    SessionScoped.evict(spark, dir)
  }

  test("two-dir sweep: evicting one factor's caches leaves the other's standing") {
    // A back-to-back factor sweep in ONE session (ScaleSmoke/TenX) must
    // be able to release the finished factor's signature/count memos
    // without touching the factor still in flight.
    val a = dir
    val b = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$a/embeddings.parquet").exists &&
      new java.io.File(s"$b/embeddings.parquet").exists)
    val na = PipelineQueries.annLsh(spark, a).count()
    val nb = PipelineQueries.annLsh(spark, b).count()
    assert(na > 0 && nb > 0)
    val cb = SessionScoped.count(spark, b)
    assert(SessionScoped.count(spark, a) > 0 && cb > 0)
    SessionScoped.evict(spark, a)
    assert(SessionScoped.count(spark, a) === 0,
      "finished factor's frames must release")
    assert(SessionScoped.count(spark, b) === cb,
      "in-flight factor's frames must survive the other's eviction")
    // the surviving dir still answers, and the evicted dir rebuilds
    assert(PipelineQueries.annLsh(spark, b).count() === nb)
    assert(PipelineQueries.annLsh(spark, a).count() === na)
    assert(SessionScoped.count(spark, a) > 0)
    SessionScoped.evict(spark, a)
    SessionScoped.evict(spark, b)
  }

  test("evict drops bucketed catalog tables and z-order copies; queries rebuild") {
    assume(new java.io.File(s"$dir/orders.parquet").exists)
    val layouts = Set("bucketed", "zorder")
    val n1 = RelationalQueries.qBucketedJoin(spark, dir).count()
    RelationalQueries.qZorderScan(spark, dir).count()
    assert(SessionScoped.count(spark, dir, layouts) === 2)
    assert(bucketedTables().nonEmpty)
    SessionScoped.evict(spark, dir)
    assert(SessionScoped.count(spark, dir, layouts) === 0)
    assert(bucketedTables().isEmpty,
      "evict must drop the derived bucketed tables from the catalog")
    // rebuild after evict still answers correctly
    assert(RelationalQueries.qBucketedJoin(spark, dir).count() === n1)
    SessionScoped.evict(spark, dir)
  }

  test("one evict releases every derived-state kind of a dir, sparing the other") {
    val a = dir
    val b = s"${new java.io.File(dir).getParent}/sf0.01"
    assume(Seq(a, b).forall(d =>
      new java.io.File(s"$d/embeddings.parquet").exists))
    SessionScoped.evict(spark, a) // start from no entries for dir a
    // dir b: a frame memo plus a temp-directory store, both must survive
    PipelineQueries.annLsh(spark, b).count()
    val bStore = new java.io.File(PipelineQueries.corpusSigStore(spark, b))
      .getParentFile
    // store directories are `graft_*` temp directories: snapshot them so
    // the ones dir a's fills create can be told apart
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def children(): Set[java.io.File] =
      tmp.listFiles().filter(_.getName.startsWith("graft_")).toSet
    val before = children()
    val tablesBefore = bucketedTables()
    val cb = SessionScoped.count(spark, b)

    PipelineQueries.annLsh(spark, a).count()              // frame memos
    PipelineQueries.dDedupClusters(spark, a).count()      // cluster labels
    PipelineQueries.annPq(spark, a).count()               // PQ codebook
    PipelineQueries.corpusSigStore(spark, a)              // sig store
    PipelineQueries.mmFeatures(spark, a).count()          // media store
    AggQueries.ncGranuleDir(spark, a)                     // .nc granules
    RelationalQueries.qBucketedJoin(spark, a).count()     // bucketed join
    RelationalQueries.qZorderScan(spark, a).count()       // z-order scan
    assert(SessionScoped.count(spark, a, Set("clusters", "pqCodebook",
      "sigStore", "media", "ncStore", "bucketed", "zorder")) === 7)
    assert(SessionScoped.count(spark, a) > 7, "plus the frame memos")
    val built = children() -- before
    assert(built.size === 5,
      s"sig, media, .nc, bucketed and z-order stores: $built")
    assert((bucketedTables() -- tablesBefore).size === 2)

    SessionScoped.evict(spark, a)
    assert(SessionScoped.count(spark, a) === 0)
    assert(bucketedTables() === tablesBefore,
      "evict must drop the derived bucketed tables from the catalog")
    assert(built.forall(!_.exists), s"store directories left: $built")
    assert(SessionScoped.count(spark, b) === cb,
      "the other dir's entries must survive")
    assert(bStore.exists && before.forall(_.exists),
      "the other dir's store directories must survive")
    SessionScoped.evict(spark, b)
    assert(!bStore.exists)
  }
}
