package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the round-3 corpus operators (SURVEY.md §2 C):
  * exact-substring span duplication, benchmark decontamination, rational
  * TF-IDF ranking, and the deterministic k-per-group sample. Oracle
  * hash-parity with DuckDB is the driver gate; these specs assert the
  * qualitative behavior on crafted corpora. */
class CorpusOpsSpec extends AnyFunSuite with SparkSpec {

  import graft.queries.{PipelineParams, PipelineQueries}

  /** doc 0 (id % 97 == 0 -> pseudo-benchmark member) is the source text;
    * doc 1 copies it with a different ending; doc 3 is a verbatim copy of
    * doc 1; doc 4 shares nothing. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_corpus3").toString
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    Seq(
      (0L, base + "benchmark tail", "en", "web", 0L),
      (1L, base + "ending one", "en", "web", 1L),
      (2L, "spark catalyst plans shuffles exchanges and codegen stages " * 5,
        "en", "web", 2L),
      (3L, base + "ending one", "en", "books", 3L),
      (4L, "completely unrelated corpus text about gardens and rivers flowing " * 5,
        "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Incremental-ingest corpus: standing docs 1/2/5, delta slice
    * (doc_id % 10 == 7) with one corpus copy, one delta-internal copy,
    * one fresh doc and one bandless short doc. */
  private lazy val incDir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    val b = "query engines shuffle exchange partitions broadcast joins " * 6
    val c = "rivers forests mountains valleys deserts oceans islands shores " * 6
    val fresh = "entirely novel delta content about telescopes and comets " * 6
    Seq(
      (1L, a, "en", "web", 1L), (2L, b, "en", "web", 2L),
      (5L, c, "en", "books", 5L),
      (7L, a, "en", "web", 7L),           // copies corpus doc 1
      (17L, a, "en", "web", 17L),         // copies 1 AND earlier delta 7
      (27L, fresh, "en", "web", 27L),     // fresh -> kept
      (37L, "hi", "en", "web", 37L))      // < 3 tokens: bandless -> kept
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("incremental dedup: delta resolves against the persisted corpus " +
      "store and first-arrival within the delta") {
    val rows = PipelineQueries.dIncrementalDedup(spark, incDir).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3)))).toMap
    assert(rows.keySet === Set(7L, 17L, 27L, 37L),
      "only the doc_id % 10 == 7 slice is adjudicated")
    assert(rows(7L) === ((Some(1L), None, false)),
      "delta copy of a corpus doc dups to the corpus owner")
    assert(rows(17L) === ((Some(1L), Some(7L), false)),
      "later delta copy sees BOTH the corpus owner and the earlier delta")
    assert(rows(27L) === ((None, None, true)), "fresh delta doc is kept")
    assert(rows(37L) === ((None, None, true)), "bandless short doc is kept")
  }

  test("incremental dedup: signature store persists once per (session, " +
      "dir) and evicts with the pipeline caches") {
    val p1 = PipelineQueries.corpusSigStore(spark, incDir)
    assert(new java.io.File(p1).exists(), "store parquet written")
    assert(PipelineQueries.corpusSigStore(spark, incDir) eq p1,
      "second call memo-hits, no rebuild")
    // the standing corpus (ids 1/2/5) is in the store; the delta is not
    val ids = spark.read.parquet(p1).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 5L))
    graft.queries.SessionScoped.evict(spark, incDir)
    assert(!new java.io.File(p1).exists(), "evict deletes the store dir")
    val p2 = PipelineQueries.corpusSigStore(spark, incDir)
    assert(p2 != p1 && new java.io.File(p2).exists(), "rebuilds on demand")
  }

  test("span dedup: verbatim copies share all spans, unique docs none") {
    val r = PipelineQueries.dSpanDedup(spark, dir)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    // docs 1 and 3 are identical -> every span shared
    assert(r(1L) === 1.0)
    assert(r(3L) === 1.0)
    // doc 4 repeats ITS OWN text but shares nothing across docs
    assert(r(4L) === 0.0)
    // doc 0 shares the base-spans with 1/3 but its tail spans are unique
    assert(r(0L) > 0.5 && r(0L) < 1.0)
  }

  test("epoch mix: floor(w) guaranteed epochs, frac(w) hash-decided, " +
      "epochs contiguous from 1") {
    val out = PipelineQueries.dEpochMix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // weights derive from the last source char: 'web' -> 'b'=98 -> %4=2
    // -> w=2.0 exactly; 'books' -> 's'=115 -> %4=3 -> w=2.5
    val byDoc = out.groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (doc, rows) =>
      val n = rows.head._4
      assert(rows.map(_._3).sorted.toSeq === (1L to n),
        s"doc $doc epochs not contiguous")
      rows.head._2 match {
        case "web" => assert(n === 2L, s"w=2.0 must give exactly 2 epochs")
        case "books" => assert(n === 2L || n === 3L,
          s"w=2.5 must give 2 or 3 epochs, got $n")
        case _ => ()
      }
    }
    // deterministic: a re-run is identical row for row
    val again = PipelineQueries.dEpochMix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.sorted.toSeq === again.sorted.toSeq)
  }

  test("decontaminate flags docs overlapping the benchmark set, not clean ones") {
    val flagged = PipelineQueries.dDecontaminate(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 and 3 carry doc 0's benchmark text; 2 and 4 are clean
    assert(flagged === Set(1L, 3L))
  }

  test("bloom decontamination: no false negatives vs the exact variant, " +
      "hit counts never below the exact overlap") {
    val exact = PipelineQueries.dDecontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bloom = PipelineQueries.dDecontaminateBloom(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // a Bloom filter can only ADD positives: every exact-flagged doc is
    // bloom-flagged, with at least as many hits
    exact.foreach { case (doc, n) =>
      assert(bloom.contains(doc), s"doc $doc lost by the bloom variant")
      assert(bloom(doc) >= n, s"doc $doc bloom hits ${bloom(doc)} < $n")
    }
    // determinism: the bitmap build + probe is hash-defined, not RNG
    val again = PipelineQueries.dDecontaminateBloom(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bloom === again)
  }

  test("tfidf: a term unique to one doc outranks corpus-wide terms") {
    val top1 = PipelineQueries.tTfidf(spark, dir)
      .filter(col("doc_id") === 2L && col("rk") === 1L)
      .head()
    // doc 2's vocabulary appears nowhere else: its top term has df = 1
    assert(top1.getAs[Long]("df") === 1L)
    // identical docs 1 and 3 rank identical term lists
    val t1 = PipelineQueries.tTfidf(spark, dir).filter(col("doc_id") === 1L)
      .select("rk", "term_hash").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t3 = PipelineQueries.tTfidf(spark, dir).filter(col("doc_id") === 3L)
      .select("rk", "term_hash").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t1 === t3)
  }

  test("bottom-k aggregate == rank-window sampler (bounded-state twin)") {
    // real testdata: 20 sources, multiple partitions -> partial merges
    val sfDir = "/root/testdata/sf0.001"
    val win = PipelineQueries.dSampleK(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val agg = PipelineQueries.dSampleBottomk(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(agg === win)
  }

  test("bottom-k carries multiplicity: duplicate rows rank like row_number") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_dupdoc").toString
    // doc 7 appears twice in the same source — row_number gives it two
    // ranks, so the bounded-state aggregate must keep both copies
    Seq((7L, "dup text", "en", "web", 1L),
      (7L, "dup text", "en", "web", 1L),
      (8L, "other", "en", "web", 2L),
      (9L, "third", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val win = PipelineQueries.dSampleK(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    val agg = PipelineQueries.dSampleBottomk(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(agg.toSeq === win.toSeq)
    assert(agg.count(_._2 == 7L) === 2)
  }

  test("sequence packing: two-level offsets == a serial pack in " +
      "(shard, doc_id) order; packShards=1 reduces to the plain pack") {
    val nsh = PipelineParams.Default.packShards
    def shardOf(docId: Long): Long =
      ((docId % 1000003L) * 2654435761L) % 1000003L % nsh
    val r = PipelineQueries.dPackSequences(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
      .groupBy(_._1)
    assert(r.nonEmpty)
    r.values.foreach { docs =>
      // serial reference: each doc starts where the previous ended in
      // (shard, doc_id) order, first starts at 0 — the broadcast
      // re-base must make the shard-local windows exactly contiguous
      val inOrder = docs.sortBy(d => (shardOf(d._2), d._2))
      var cum = 0L
      inOrder.foreach { case (_, _, nTok, binId, off) =>
        assert(binId === cum / 2048 && off === cum % 2048)
        cum += nTok
      }
      // bin ids never decrease in pack order
      assert(inOrder.map(_._4).sliding(2).forall(w =>
        w.length < 2 || w(0) <= w(1)))
      // the shards genuinely split the source (the parallelism claim)
      if (docs.length >= 8)
        assert(docs.map(d => shardOf(d._2)).distinct.length > 1)
    }
    // packShards = 1 degenerates to the plain per-source doc_id pack
    val one = PipelineQueries.dPackSequences(spark, dir,
        PipelineParams.Default.copy(packShards = 1L)).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
      .groupBy(_._1)
    one.values.foreach { docs =>
      var cum = 0L
      docs.sortBy(_._2).foreach { case (_, _, nTok, binId, off) =>
        assert(binId === cum / 2048 && off === cum % 2048)
        cum += nTok
      }
    }
  }

  test("sample-k is deterministic and bounded per group") {
    val a = PipelineQueries.dSampleK(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    val b = PipelineQueries.dSampleK(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(a.sameElements(b))
    val perGroup = a.groupBy(_._1).view.mapValues(_.length).toMap
    // 4 web docs, 1 books doc — all sampled (k=5 bounds, never pads)
    assert(perGroup === Map("web" -> 4, "books" -> 1))
    assert(a.forall(_._2 <= 5L))
  }

  test("weighted sample: selection probability rises with weight, " +
      "ranks are contiguous, and the sample is deterministic") {
    val sfDir = "/root/testdata/sf0.01"
    val out = PipelineQueries.dSampleWeighted(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 100)
    assert(out.map(_._1).sorted.toSeq === (1L to 100L),
      "ranks must be exactly 1..100")
    assert(out.map(_._2).distinct.length === 100, "sampling is w/o replacement")
    // the bias test: P(selection) ∝ weight, so the sample's mean weight
    // estimates the corpus's WEIGHTED mean E[w²]/E[w], not the plain
    // mean — assert it lands near the former and above the latter
    val Seq(corpusMean, weightedMean) =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("avg(n_chars)",
          "sum(n_chars * n_chars) / CAST(sum(n_chars) AS DOUBLE)")
        .head().toSeq.map(_.asInstanceOf[Double])
    val sampleMean = out.map(_._3).sum.toDouble / out.length
    assert(weightedMean > corpusMean * 1.15,
      "test data lost its weight spread — bias check is vacuous")
    assert(math.abs(sampleMean - weightedMean) < weightedMean * 0.15,
      s"sample mean $sampleMean too far from the weighted mean " +
        s"$weightedMean (corpus mean $corpusMean)")
    assert(sampleMean > (corpusMean + weightedMean) / 2,
      s"sample mean $sampleMean not biased toward the weighted mean " +
        s"$weightedMean over the corpus mean $corpusMean")
    // determinism: a re-run selects the identical sample
    val again = PipelineQueries.dSampleWeighted(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === out.toSeq)
  }

  test("knn graph: ranks contiguous, cosine non-increasing, no self edges") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = PipelineQueries.embKnnGraph(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (v, _, n, _) => assert(v != n, s"self edge on $v") }
    rows.groupBy(_._1).foreach { case (v, es) =>
      val byRank = es.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1L to es.length),
        s"vec $v ranks not contiguous")
      assert(es.length <= 4, s"vec $v has ${es.length} > 4 neighbors")
      // cos non-increasing with rank (ties broken by neighbor id)
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4,
          s"vec $v: rank ${a._2} cos ${a._4} < rank ${b._2} cos ${b._4}")
        case _ =>
      }
      // edges are symmetric candidates: the reverse direction exists in
      // the graph's domain whenever the neighbor also keeps <=4 edges —
      // at minimum the top-1 edge of the GLOBAL best pair must be mutual
    }
    val best = rows.maxBy(_._4)
    assert(rows.exists(e => e._1 == best._3 && e._3 == best._1),
      "the globally closest pair must be mutual top-4 neighbors")
  }

  test("hard negatives: every mined negative carries a different label, " +
    "ranked by cosine") {
    val sfDir = "/root/testdata/sf0.001"
    val labels = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = PipelineQueries.embHardNegatives(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (v, _, n, _) =>
      assert(v != n, s"self negative on $v")
      assert(labels(v) != labels(n),
        s"negative $n shares label ${labels(v)} with anchor $v")
    }
    rows.groupBy(_._1).foreach { case (v, es) =>
      val byRank = es.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1L to es.length) && es.length <= 2,
        s"vec $v ranks ${es.map(_._2).toSeq}")
      if (es.length == 2)
        assert(byRank(0)._4 >= byRank(1)._4, s"vec $v negatives unsorted")
    }
    // a hard negative is at least as close as SOME same-label pair: the
    // mining found structure, not noise (labels are random vs geometry)
    assert(rows.map(_._4).max > 0.0, "no positive-cosine negative found")
  }

  test("pagerank: mass conserved within floor-division slack, teleport " +
    "floor holds, universe = knn nodes") {
    val sfDir = "/root/testdata/sf0.001"
    val nodes = PipelineQueries.embKnnGraph(spark, sfDir)
      .select("vec_id").distinct().count()
    val rows = PipelineQueries.embPagerank(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length.toLong == nodes,
      s"pagerank emits ${rows.length} rows for $nodes graph nodes")
    rows.foreach { case (v, deg, pr) =>
      assert(deg >= 1 && deg <= 4, s"vec $v out-degree $deg")
      // every node keeps at least the teleport share (floor slack -2)
      assert(pr >= 150000000000L / nodes - 2,
        s"vec $v rank $pr below the teleport floor")
    }
    // total mass: 1e12 minus at most a few units of floor loss per
    // node per iteration (3 iterations x (1 teleport + deg divisions))
    val total = rows.map(_._3).sum
    assert(total <= 1000000000000L && total > 990000000000L,
      s"rank mass $total strayed from 1e12")
    // centrality varies: a uniform vector would mean the graph carried
    // no structure (ties everywhere) — the synthetic corpus clusters
    assert(rows.map(_._3).distinct.length > 1, "pagerank is uniform")
  }

  test("mutual knn: every pair is reciprocally top-4, ordered and unique") {
    val sfDir = "/root/testdata/sf0.001"
    val knn = PipelineQueries.embKnnGraph(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val directed = knn.map(e => (e._1, e._2)).toSet
    val cosOf = knn.map(e => (e._1, e._2) -> e._3).toMap
    val mutual = PipelineQueries.embMutualKnn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(mutual.nonEmpty)
    assert(mutual.map(p => (p._1, p._2)).distinct.length == mutual.length)
    mutual.foreach { case (a, b, c) =>
      assert(a < b, s"pair ($a, $b) not ordered")
      assert(directed((a, b)) && directed((b, a)),
        s"pair ($a, $b) is not reciprocal in the knn graph")
      assert(c == cosOf((a, b)), s"pair ($a, $b) cosine drifted")
    }
    // one-directional edges must NOT survive the reciprocal filter
    val oneWay = directed.filter(e => !directed((e._2, e._1)))
    val mutualSet = mutual.map(p => (p._1, p._2)).toSet
    oneWay.foreach { case (a, b) =>
      val k = if (a < b) (a, b) else (b, a)
      assert(!mutualSet(k), s"one-way edge ($a, $b) leaked into mutual")
    }
  }

  test("silhouette: non-negative margins, universe partitioned, " +
    "cluster ids are the seed centroids") {
    val sfDir = "/root/testdata/sf0.001"
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val rows = PipelineQueries.embSilhouette(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val k = math.max(16L, n / 50)
    assert(rows.map(_._1).distinct.length == rows.length)
    // seed quantizer: centroids are the k lowest vec_ids
    rows.foreach { case (cid, nv, m) =>
      assert(cid < k, s"cluster id $cid outside the seed range")
      assert(nv >= 1)
      assert(m >= 0.0 && m <= 2.0, s"cluster $cid margin $m out of range")
    }
    assert(rows.map(_._2).sum == n,
      "cluster sizes do not partition the corpus")
    // the margin separates: at least one cluster is visibly tighter
    // than another (a flat profile would mean the metric carries no
    // signal on the clustered synthetic corpus)
    assert(rows.map(_._3).max > rows.map(_._3).min)
  }

  test("collocations: an always-adjacent pair outranks an equally " +
    "frequent independent pair") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_colloc").toString
    // "alpha beta" always adjacent (8 docs); gamma and delta equally
    // frequent but never adjacent; enough filler for df spread
    val docs = (0 until 8).map { i =>
      (i.toLong, s"alpha beta gamma filler$i delta mid gamma stop delta end",
        "en", "web", 0L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = PipelineQueries.tCollocations(spark, d)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    assert(rows.nonEmpty)
    val byRank = rows.sortBy(_._1)
    assert(byRank.map(_._1).toSeq === (1L to rows.length))
    byRank.sliding(2).foreach {
      case Array(a, b) => assert(a._5 >= b._5, "scores not non-increasing")
      case _ =>
    }
    rows.foreach(r => assert(r._4 >= 5, s"pair below min count: $r"))
    def h(t: String) = t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) %
      1000000007L)
    val score = rows.map(r => (r._2, r._3) -> r._5).toMap
    val ab = score.get((h("alpha"), h("beta")))
    assert(ab.isDefined, "always-adjacent pair missing from the top-20")
    // gamma/delta co-occur in every doc but never adjacently: no bigram
    // row can exist for them at all
    assert(!score.contains((h("gamma"), h("delta"))) &&
      !score.contains((h("delta"), h("gamma"))))
    // and alpha-beta must sit at the very top: every one of its 8
    // occurrences is adjacent, nothing else pairs more tightly
    assert(byRank.head._2 == h("alpha") && byRank.head._3 == h("beta"),
      s"expected alpha-beta at rank 1, got ${byRank.head}")
    graft.queries.SessionScoped.evict(spark, d)
  }

  test("bm25: top-10 ranked, scores positive non-increasing, and every " +
    "hit contains a query term") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = PipelineQueries.tBm25(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10)
    val byRank = rows.sortBy(_._1)
    assert(byRank.map(_._1).toSeq === (1L to 10L))
    byRank.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 >= b._3, s"rank ${a._1} score below rank ${b._1}")
        if (a._3 == b._3) assert(a._2 < b._2, "tie not broken by doc_id")
      case _ =>
    }
    assert(byRank.last._3 > 0, "a zero-score doc reached the top-10")
    val hitIds = rows.map(_._2).toSet
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id").isin(hitIds.toSeq: _*))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    hitIds.foreach { id =>
      val t = texts(id).toLowerCase
      assert(Seq("vector", "hash", "window").exists(t.contains),
        s"doc $id scored without any query term")
    }
  }

  test("quantile filter gates per source, not globally") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_qf").toString
    def doc(n: Int) = ("tok " * n).trim
    // source a: 10/20/30/40 tokens -> p25 = 17.5, only the 10-token doc
    // drops; source b: all 5 tokens -> p25 = 5, everything passes (a
    // global threshold would drop all of b or none of a)
    (Seq((1L, doc(10), "en", "a", 0L), (2L, doc(20), "en", "a", 0L),
      (3L, doc(30), "en", "a", 0L), (4L, doc(40), "en", "a", 0L),
      (5L, doc(5), "en", "b", 0L), (6L, doc(5), "en", "b", 0L),
      (7L, doc(5), "en", "b", 0L), (8L, doc(5), "en", "b", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = PipelineQueries.dQuantileFilter(spark, d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out === Map(1L -> false, 2L -> true, 3L -> true, 4L -> true,
      5L -> true, 6L -> true, 7L -> true, 8L -> true))
  }

  test("ngram lm: identical texts score identically, self-repetitive " +
      "text is highly predictable, scores live in (0, 1e6]") {
    val rows = PipelineQueries.tNgramLm(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet === Set(0L, 1L, 2L, 3L, 4L))
    rows.values.foreach { case (nb, sc) =>
      assert(nb >= 2L, "every tokenized doc has >= 2 bigrams")
      // every observed bigram has n_ab >= 1 and n_a << 1e6, so each pair
      // contributes >= 1 — a zero score would mean a lost pair
      assert(sc > 0L && sc <= 1000000L, s"score $sc out of fixed-point range")
    }
    assert(rows(1L)._2 === rows(3L)._2,
      "doc 3 is a verbatim copy of doc 1 — same bigram stream, same score")
    // doc 2 repeats its 8-word sentence 5x and shares only 'and' with the
    // rest of the corpus: all but one bigram type is fully determined by
    // its context, so the floor-mean sits well above 500k
    assert(rows(2L)._2 > 500000L,
      s"self-repetitive doc scored ${rows(2L)._2} — predictability lost")
  }

  test("ccnet buckets: per-source partition of the corpus, bucket score " +
      "ranges ordered tail <= middle <= head") {
    val lm = PipelineQueries.tNgramLm(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
      .view.mapValues(_.length).toMap
    val rows = PipelineQueries.dCcnetBuckets(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(4), r.getLong(5))))
    assert(rows.map(_._1).distinct.length === rows.length, "no dup keys")
    val bySrc = rows.groupBy(_._1._1)
    bySrc.foreach { case (src, brs) =>
      assert(brs.map(_._2._1).sum === lm(src).toLong,
        s"$src: bucket doc counts must partition the scored corpus")
      val m = brs.map { case ((_, b), (_, lo, hi)) => b -> ((lo, hi)) }.toMap
      for (t <- m.get("tail"); mid <- m.get("middle"))
        assert(t._2 <= mid._1, s"$src: tail max above middle min")
      for (mid <- m.get("middle"); h <- m.get("head"))
        assert(mid._2 < h._1, s"$src: middle max not below head min")
      for (t <- m.get("tail"); h <- m.get("head"))
        assert(t._2 < h._1, s"$src: tail max not below head min")
    }
  }

  test("soft dedup weights: the near-dup cluster downweights members to " +
      "1e6/size, singletons keep full weight") {
    // dir's clusters: docs 0/1/3 share the 4x base (one cluster of 3,
    // spanning web and books); docs 2/4 are singletons
    val rows = PipelineQueries.dSoftDedupWeights(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet === Set("web", "books"))
    val (wb, bk) = (rows("web"), rows("books"))
    assert(bk === ((1L, 1L, 333333L, 3L)),
      "books holds exactly the cluster member doc 3 at weight 1e6/3")
    assert(wb._1 === 4L && wb._2 === 2L, "web: 4 docs, 2 in the cluster")
    assert(wb._3 === 2L * 333333L + 2L * 1000000L,
      "web mass = two downweighted members + two full singletons")
    assert(wb._4 === 3L, "largest cluster touching web has 3 members")
  }

  test("reference-LM scoring: the delta scores against the persisted " +
      "standing-corpus model; OOV pairs count and contribute zero") {
    // incDir's delta slice (ids 7/17/27/37): 7 and 17 copy standing doc
    // 1's text (every bigram in-vocabulary, high score); 27 is entirely
    // novel (every bigram OOV -> score 0); 37 is sub-3-token (excluded)
    val rows = PipelineQueries.tNgramLmRef(spark, incDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet === Set(7L, 17L, 27L),
      "only tokenized delta docs are scored")
    assert(rows(27L)._2 === rows(27L)._1 && rows(27L)._3 === 0L,
      "a fully novel doc is all-OOV and scores zero")
    assert(rows(7L) === rows(17L),
      "identical delta texts score identically against the frozen model")
    assert(rows(7L)._2 === 0L && rows(7L)._3 > 500000L,
      "a verbatim copy of standing text is fully in-vocabulary and " +
        "highly predictable")
    // the store is persisted once per (session, dir)
    val p = PipelineQueries.lmStore(spark, incDir)
    assert(new java.io.File(p).exists() &&
      (PipelineQueries.lmStore(spark, incDir) eq p),
      "LM store persists and memo-hits")
  }

  test("vocab growth: verbatim copy contributes zero new types, curve " +
      "accumulates to the corpus vocabulary") {
    val rows = PipelineQueries.tVocabGrowth(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // max doc_id 4 -> decile = id * 10 div 5 = {0, 2, 4, 6, 8}
    assert(rows.keySet === Set(0L, 2L, 4L, 6L, 8L))
    assert(rows(6L)._2 === 0L,
      "doc 3 repeats doc 1's text verbatim — no new token types")
    val ordered = rows.toSeq.sortBy(_._1).map(_._2)
    assert(ordered.map(_._3) === ordered.map(_._2).scanLeft(0L)(_ + _).tail,
      "cum_vocab is the running sum of new_types")
    assert(rows(0L)._2 > 0L, "the first decile owns its whole vocabulary")
  }
}
