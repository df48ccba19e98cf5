package graft

import org.apache.spark.sql.functions._
import graft.operators.IndexParams

/** Full lifecycle through the user-facing facade — the flows a reference
  * user runs today (README.md:28-66): create, add, search, update, delete,
  * sync, compact+rebuild, ANN search, drop. */
class VectorStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() = VectorStore.openOrCreate(spark,
    java.nio.file.Files.createTempDirectory("graft-store").toString,
    IndexParams(dim = 2, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))

  test("lifecycle: add → search → update → remove → sync → compact → ann") {
    val store = freshStore()
    assert(store.count() === 0)

    store.add(1L, Seq(1f, 0f))
    store.addBatch(Seq((2L, Seq(0f, 1f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("id", "vector"))
    assert(store.count() === 3)

    // threshold-scaled search: setting 50 → 0.5 floor
    val hits = store.search(Seq(1f, 0f), k = 2, strengthSetting = 50)
      .as[(Long, Double)].collect().toList
    assert(hits.map(_._1) === List(1L, 3L))

    store.updateVector(3L, Seq(0f, 1f)) // moves 3 away from the query
    assert(store.search(Seq(1f, 0f), 2, 50).as[(Long, Double)]
      .collect().map(_._1).toList === List(1L))

    store.remove(1L)
    assert(store.getNode(1L).exists(_._3 === true)) // tombstoned, still readable
    assert(store.search(Seq(1f, 0f), 2, 50).count() === 0) // hidden from search

    // sync: unchanged row skipped, changed + new applied
    val applied = store.sync(Seq(
      (2L, Seq(0f, 1f), false),      // unchanged
      (2L, Seq(0.5f, 0.5f), false),  // changed (same id later in batch)
      (9L, Seq(1f, 1f), false)).toDF("id", "vector", "deleted"))
    assert(applied === 2L)

    store.rebuild() // compaction drops the tombstone physically
    assert(store.nodes.filter(col("id") === 1L).count() === 0)

    // both 2:(0.5,0.5) and 9:(1,1) are parallel to the query (cos = 1.0) —
    // the tie breaks on id, same as the exact path
    val ann = store.searchAnn(
      Seq((100L, Seq(1f, 1f))).toDF("query_id", "query_vec"), k = 2,
      strengthSetting = 50)
    assert(ann.select("id").as[Long].collect().toList === List(2L, 9L))
    // the seeded-graph tier serves the same top-k from the same index
    val seeded = store.searchAnnSeeded(
      Seq((100L, Seq(1f, 1f))).toDF("query_id", "query_vec"), k = 2,
      strengthSetting = 50, ef = 4, iters = 1)
    assert(seeded.select("id").as[Long].collect().toList === List(2L, 9L))

    val path = store.path
    store.delete()
    assert(!new java.io.File(path).exists())
  }

  test("serving extensions through the facade: mmr, grouped, recommend, " +
      "pagination — all over the live overlay (tombstones excluded)") {
    val store = freshStore()
    store.addBatch(Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.99f, 0.05f)), (3L, Seq(0.98f, 0.08f)),
      (4L, Seq(0f, 1f)), (5L, Seq(0.05f, 0.99f))).toDF("id", "vector"))
    val qs = Seq((100L, Seq(0.9f, 0.44f))).toDF("query_id", "query_vec")

    // mmr pulls a +y-cluster member into the top 3 (DiversifySpec
    // fixture); strength 0 = diversity-first (a 0.5 floor would drop
    // the +y cluster from the shortlist before the greedy ever ran)
    val mmr = store.searchMmr(qs, k = 3, shortlist = 5,
      lambdaMicro = 500000L, strengthSetting = 0)
    assert(mmr.select("id").as[Long].collect().toSet
      .intersect(Set(4L, 5L)).nonEmpty)

    // the dispatched variant serves the SAME diversified answer below
    // the exact cutoff (searchAuto → UseExact → identical shortlist,
    // same threshold floor)
    val (arm, mmrAuto) = store.searchMmrAuto(qs, k = 3, shortlist = 5,
      lambdaMicro = 500000L, strengthSetting = 0)
    assert(arm === graft.operators.AdaptiveSearch.UseExact)
    assert(mmrAuto.orderBy(col("rank"))
      .as[(Long, Int, Long, Long, Long)].collect().toSeq ===
      mmr.orderBy(col("rank"))
        .as[(Long, Int, Long, Long, Long)].collect().toSeq)

    // grouped: payload column rides in via addBatch
    val store2 = freshStore()
    store2.addBatch(Seq(
      (1L, Seq(1f, 0f), "a"), (2L, Seq(0.99f, 0.05f), "a"),
      (3L, Seq(0.98f, 0.08f), "a"), (4L, Seq(0f, 1f), "b"))
      .toDF("id", "vector", "grp"))
    val grouped = store2.searchGrouped(qs, k = 3, perGroup = 2,
      groupCol = "grp", strengthSetting = 0)
    assert(grouped.filter(col("grp") === "a").count() === 2)
    intercept[IllegalArgumentException] {
      store2.searchGrouped(qs, 3, 2, groupCol = "nope")
    }

    // recommend: likes 1 and 2, dislikes 4 — examples never returned
    val rec = store.recommend(Seq((9L, 1L, 1.0), (9L, 2L, 1.0),
        (9L, 4L, -1.0)).toDF("query_id", "id", "weight"), k = 5,
      strengthSetting = 0)
    val recIds = rec.select("id").as[Long].collect().toSet
    assert(!recIds.contains(1L) && !recIds.contains(2L) &&
      !recIds.contains(4L) && recIds.nonEmpty)

    // pagination tiles the search order; a tombstone drops out of pages
    store.remove(1L)
    val p1 = store.search(qs, k = 2, strengthSetting = 0)
    val cur = p1.filter(col("rn") === 2).select(col("query_id"),
      col("score").as("after_score"), col("id").as("after_id"))
    val p2 = store.searchAfter(qs, cur, k = 2, strengthSetting = 0)
    val all = store.search(qs, k = 4, strengthSetting = 0)
      .orderBy(col("rn")).select("id").as[Long].collect().toSeq
    assert(p1.orderBy(col("rn")).select("id").as[Long].collect().toSeq ++
      p2.orderBy(col("rn")).select("id").as[Long].collect().toSeq === all)
    assert(!all.contains(1L))

    // facets: per-value counts over the live overlay, predicate-aware
    val f = store2.facet("grp").as[(String, Long)].collect().toSeq
    assert(f === Seq(("a", 3L), ("b", 1L)))
    val f2 = store2.facet("grp", Some(col("id") > 1L))
      .as[(String, Long)].collect().toSeq
    assert(f2 === Seq(("a", 2L), ("b", 1L)))
    intercept[IllegalArgumentException] { store2.facet("nope") }

    // recall audit: the exact arm audits to full recall; a deliberately
    // truncated arm shows the miss count per query
    val served = store2.search(qs, k = 3, strengthSetting = 0)
    val audit = store2.auditRecall(qs, served, k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(audit === Seq((100L, 3L, 3L)))
    val partial = store2.auditRecall(qs, served.filter(col("rn") <= 1), k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(partial === Seq((100L, 1L, 3L)))
  }

  test("dispatched serving extensions: recommendAuto / searchGroupedAuto " +
      "/ searchAfterCached serve the exact-tower answers below the " +
      "cutoff, and the pagination cache invalidates on mutation") {
    val store = freshStore()
    store.addBatch(Seq(
      (1L, Seq(1f, 0f), "a"), (2L, Seq(0.99f, 0.05f), "a"),
      (3L, Seq(0.98f, 0.08f), "a"), (4L, Seq(0f, 1f), "b"),
      (5L, Seq(0.05f, 0.99f), "b")).toDF("id", "vector", "grp"))
    val qs = Seq((100L, Seq(0.9f, 0.44f))).toDF("query_id", "query_vec")

    // recommendAuto ≡ recommend on the exact arm (below the cutoff)
    val ex = Seq((9L, 1L, 1.0), (9L, 2L, 1.0), (9L, 4L, -1.0))
      .toDF("query_id", "id", "weight")
    val rec = store.recommend(ex, k = 5, strengthSetting = 0)
      .orderBy(col("rn")).select("id").as[Long].collect().toSeq
    val (recArm, recAuto) = store.recommendAuto(ex, k = 5,
      strengthSetting = 0)
    assert(recArm === graft.operators.AdaptiveSearch.UseExact)
    assert(recAuto.orderBy(col("rn")).select("id").as[Long]
      .collect().toSeq === rec)

    // searchGroupedAuto with a corpus-covering shortlist ≡ searchGrouped
    val grouped = store.searchGrouped(qs, k = 3, perGroup = 2,
        groupCol = "grp", strengthSetting = 0)
      .orderBy(col("rn"))
      .as[(Long, Long, String, Int, Int)].collect().toSeq
    val (gArm, gAuto) = store.searchGroupedAuto(qs, k = 3, perGroup = 2,
      groupCol = "grp", shortlist = 5, strengthSetting = 0)
    assert(gArm === graft.operators.AdaptiveSearch.UseExact)
    assert(gAuto.orderBy(col("rn"))
      .as[(Long, Long, String, Int, Int)].collect().toSeq === grouped)

    // searchAfterCached: pages within the horizon match the stateless
    // searchAfter row-for-row, and reuse the cached shortlist
    val p1 = store.search(qs, k = 2, strengthSetting = 0)
    val cur = p1.filter(col("rn") === 2).select(col("query_id"),
      col("score").as("after_score"), col("id").as("after_id"))
    val p2Stateless = store.searchAfter(qs, cur, k = 2,
        strengthSetting = 0)
      .orderBy(col("rn")).select("id").as[Long].collect().toSeq
    val (_, c1) = store.searchAfterCached(qs, cur, k = 2,
      strengthSetting = 0, depth = 4)
    assert(c1.orderBy(col("rn")).select("id").as[Long]
      .collect().toSeq === p2Stateless)
    // page 1 (no cursor row) from the same cache
    val (_, c0) = store.searchAfterCached(qs,
      cur.filter(lit(false)), k = 2, strengthSetting = 0, depth = 4)
    assert(c0.orderBy(col("rn")).select("id").as[Long]
      .collect().toSeq ===
      p1.orderBy(col("rn")).select("id").as[Long].collect().toSeq)
    // past the horizon: empty page, never a fallback scan
    val deepCur = Seq((100L, -2.0, Long.MaxValue))
      .toDF("query_id", "after_score", "after_id")
    val (_, cDeep) = store.searchAfterCached(qs, deepCur, k = 2,
      strengthSetting = 0, depth = 4)
    assert(cDeep.count() === 0)

    // MUTATION invalidates the cached shortlist (the poisoned-memo
    // rule): a new top hit must appear on the next cached page 1
    store.addBatch(Seq((6L, Seq(0.9f, 0.44f), "b")) // the query direction
      .toDF("id", "vector", "grp"))
    val (_, c0b) = store.searchAfterCached(qs,
      cur.filter(lit(false)), k = 2, strengthSetting = 0, depth = 4)
    assert(c0b.filter(col("rn") === 1).select("id").as[Long]
      .collect().toSeq === Seq(6L))

    // facetTop: exact heavy hitters above the share floor, string keys;
    // 6 live rows at shareMicro 0.4e6 → floor = ceil(2.4) = 3: both
    // groups (3 each) pass; at 0.6e6 → floor 4: neither does
    val ft = store.facetTop("grp", shareMicro = 400000L)
      .as[(String, Long)].collect().toSeq
    assert(ft === Seq(("a", 3L), ("b", 3L)))
    assert(store.facetTop("grp", shareMicro = 600000L).count() === 0)
    intercept[IllegalArgumentException] { store.facetTop("nope", 1000L) }
  }

  test("searchWhere: pre-filtering semantics — exact top-k over the " +
      "filtered subset, never a post-filtered short set") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-where").toString,
      IndexParams(dim = 4, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    val rows = (0L until 30L).map { i =>
      (i, Seq(1f, (i % 7).toFloat / 7f, (i % 3).toFloat / 3f, 0.5f))
    }
    store.addBatch(rows.toDF("id", "vector"))
    val q = Seq((0L, Seq(1f, 0f, 0f, 0.5f))).toDF("query_id", "query_vec")
    val got = store.searchWhere(q, k = 5, col("id") % 2 === 0,
        strengthSetting = 0)
      .select("id").as[Long].collect().toSet
    assert(got.size === 5)
    assert(got.forall(_ % 2 == 0))
    // equals exact search over the hand-filtered subset
    val expect = graft.operators.KnnSearch.knnExact(
        rows.filter(_._1 % 2 == 0).toDF("id", "vector"), q, 5, 0.0)
      .select("id").as[Long].collect().toSet
    assert(got === expect)
    store.delete()
  }

  test("validation: null id and wrong dimension are rejected (hnsw.ts:155-160)") {
    val store = freshStore()
    intercept[IllegalArgumentException] {
      store.add(5L, Seq(1f, 2f, 3f)) // dim 3 into a dim-2 store
    }
    intercept[IllegalArgumentException] {
      store.addBatch(Seq((Option.empty[Long], Seq(1f, 0f)))
        .toDF("id", "vector"))
    }
    store.delete()
  }

  test("mergeIndex folds a delta into the saved index without rebuild") {
    val store = freshStore()
    store.addBatch(Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(0.9f, 0.1f))).toDF("id", "vector"))
    store.rebuild()
    // new vector near (1,0) arrives; merge, don't rebuild
    store.mergeIndex(Seq((9L, Seq(0.95f, 0.05f))).toDF("id", "vector"))
    val hits = store.searchAnn(
        Seq((0L, Seq(1f, 0f))).toDF("query_id", "query_vec"),
        k = 3, strengthSetting = 50)
      .select("id").as[Long].collect().toSet
    assert(hits.contains(9L), s"merged vector not searchable: $hits")
    // tombstone through the same path: 1 disappears from ANN results
    store.mergeIndex(Seq((1L, Seq(1f, 0f), true))
      .toDF("id", "vector", "deleted"))
    val after = store.searchAnn(
        Seq((0L, Seq(1f, 0f))).toDF("query_id", "query_vec"),
        k = 3, strengthSetting = 50)
      .select("id").as[Long].collect().toSet
    assert(!after.contains(1L), s"tombstoned id still served: $after")
    assert(after.contains(9L))
    store.delete()
  }

  test("reopen sees persisted state (createAstroDB load path)") {
    val store = freshStore()
    store.add(7L, Seq(0.5f, 0.5f))
    val reopened = VectorStore.openOrCreate(spark, store.path,
      store.params)
    assert(reopened.getNode(7L).exists(_._2 === Seq(0.5f, 0.5f)))
    store.delete()
  }

  test("retrieval tower: documents → bm25 → hybrid through the facade") {
    val store = freshStore()
    store.addBatch(Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("id", "vector"))
    store.putDocuments(Seq(
      (1L, "apple banana fruit"), (2L, "banana cherry salad"),
      (3L, "cherry date compote")).toDF("doc_id", "text"))
    val qd = Seq((0L, "banana")).toDF("query_id", "text")
    val bm = store.searchBm25(qd, topK = 5)
    assert(bm.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    assert(bm.select("id").as[Long].collect().toSet === Set(1L, 2L))
    // hybrid: lexical {1,2} fused with dense {1,3} — doc 1 is in both
    // lists, so RRF must rank it first
    val qv = Seq((0L, Seq(1f, 0f))).toDF("query_id", "query_vec")
    val hy = store.searchHybrid(qd, qv, topK = 3)
    assert(hy.columns.toSeq === Seq("query_id", "id", "rrf_r", "rn"))
    val ranked = hy.orderBy(col("rn")).select("id").as[Long].collect().toList
    assert(ranked.head === 1L, s"two-list doc should fuse first: $ranked")
    assert(ranked.toSet === Set(1L, 2L, 3L))
    // documents snapshot survives reopen
    val reopened = VectorStore.openOrCreate(spark, store.path, store.params)
    assert(reopened.documents.count() === 3)
    store.delete()
  }

  test("maxsim over stored token vectors: exact and ANN-shortlist paths") {
    val store = freshStore()
    // 3 docs × 4+ token vectors (vec_ids 0..11 so the anchor scheme has
    // its nBands×bits lowest-id planes); doc 2's tokens point at y, the
    // rest at x
    val tv = (0L to 11L).map { v =>
      val doc = v / 4 + 1
      val vec = if (doc == 2L) Seq(0f, 1f) else Seq(1f, 0.05f * v)
      (doc, v, vec)
    }
    store.putTokenVectors(tv.toDF("doc_id", "vec_id", "vector"))
    val qv = Seq((0L, 0L, Seq(0f, 1f)), (0L, 1L, Seq(0f, 0.9f)))
      .toDF("query_id", "qvec_id", "query_vec")
    val exact = store.searchMaxSim(qv, topK = 3)
    assert(exact.columns.toSeq === Seq("query_id", "doc_id", "score", "rn"))
    assert(exact.filter(col("rn") === 1).select("doc_id")
      .as[Long].head() === 2L)
    // with a shortlist deep enough to nominate every doc, the ANN path
    // must agree with the exact ranking
    val ann = store.searchMaxSimAnn(qv, topK = 3, tokenHitsPerQvec = 12)
    val a = ann.select("query_id", "doc_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val e = exact.select("query_id", "doc_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(a === e)
    store.delete()
  }

  test("maxsim ANN anchors are id-value independent: per-doc numbering " +
      "and offset vec_ids both work") {
    // the round-6 advisor case: natural per-doc token numbering (0..3 per
    // doc) used to collapse the anchor bands to duplicated planes, and
    // offset ids used to produce an EMPTY anchor list (silent zero rows)
    for (ids <- Seq("perdoc", "offset")) {
      val store = freshStore()
      val tv = (0L to 11L).map { v =>
        val doc = v / 4 + 1
        val vid = if (ids == "perdoc") v % 4 else 1000L + v
        val vec = if (doc == 2L) Seq(0f, 1f) else Seq(1f, 0.05f * v)
        (doc, vid, vec)
      }
      store.putTokenVectors(tv.toDF("doc_id", "vec_id", "vector"))
      val qv = Seq((0L, 0L, Seq(0f, 1f)), (0L, 1L, Seq(0f, 0.9f)))
        .toDF("query_id", "qvec_id", "query_vec")
      val exact = store.searchMaxSim(qv, topK = 3)
      val ann = store.searchMaxSimAnn(qv, topK = 3, tokenHitsPerQvec = 12)
      val a = ann.select("query_id", "doc_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
      val e = exact.select("query_id", "doc_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
      assert(a === e, s"id scheme '$ids' broke the ANN path")
      assert(a.nonEmpty, s"id scheme '$ids' returned zero rows")
      store.delete()
    }
    // too few tokens to fill the bands fails FAST, not silently-empty
    val tiny = freshStore()
    tiny.putTokenVectors(Seq((1L, 0L, Seq(1f, 0f)))
      .toDF("doc_id", "vec_id", "vector"))
    val qv1 = Seq((0L, 0L, Seq(1f, 0f))).toDF("query_id", "qvec_id", "query_vec")
    val ex = intercept[IllegalArgumentException](
      tiny.searchMaxSimAnn(qv1, topK = 1))
    assert(ex.getMessage.contains("anchor planes"))
    tiny.delete()
  }

  test("pq index lifecycle: build → load → search → rebuild generation") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-pq").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    val rows = (0L until 40L).map { i =>
      (i, (0 until 8).map(j => ((i * 7 + j * 3) % 11).toFloat / 11f + 0.1f))
    }
    store.addBatch(rows.toDF("id", "vector"))
    store.buildPqIndex(cells = 4)
    val pre = store.loadPqIndex()
    assert(pre.centroids.count() > 0)
    assert(pre.codes.select("id").distinct().count() === 40L)
    // every corpus vector re-finds itself through the compressed
    // shortlist + exact re-rank (shortlist covers the whole fixture)
    val qv = rows.take(5).map { case (i, v) => (i, v) }
      .toDF("query_id", "query_vec")
    val res = store.searchPq(qv, k = 3, strengthSetting = 0)
    assert(res.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    val self = res.filter(col("query_id") === col("id"))
    assert(self.count() === 5)
    assert(self.filter(col("rn") === 1).count() === 5)
    // rebuilding flips the generation atomically; search still serves
    store.buildPqIndex(cells = 4)
    assert(store.searchPq(qv, k = 3, strengthSetting = 0)
      .filter(col("query_id") === col("id")).count() === 5)

    // SQ8 lifecycle on the same store: build → search → self-hit rank 1
    store.buildSqIndex()
    val sq = store.searchSq(qv, k = 3, strengthSetting = 0)
    assert(sq.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    val sqSelf = sq.filter(col("query_id") === col("id"))
    assert(sqSelf.count() === 5)
    assert(sqSelf.filter(col("rn") === 1).count() === 5)

    // BQ lifecycle: the shortlist covers the whole 40-row fixture, so the
    // exact re-rank must also put every query's own vector at rank 1
    store.buildBqIndex()
    val bq = store.searchBqStore(qv, k = 3, strengthSetting = 0)
    assert(bq.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    assert(bq.filter(col("query_id") === col("id"))
      .filter(col("rn") === 1).count() === 5)

    // IVF-seeded graph tier: seeds from the PQ generation's coarse
    // quantizer (prebuilt assignments), expansions over the ANN graph —
    // nProbe covering every cell makes self-retrieval exact
    store.rebuild()
    val ivfSeeded = store.searchAnnSeededIvf(qv, k = 3,
      strengthSetting = 0, ef = 8, iters = 1, nProbe = 4)
    assert(ivfSeeded.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    assert(ivfSeeded.filter(col("query_id") === col("id"))
      .filter(col("rn") === 1).count() === 5)
    store.delete()
  }

  test("compressed append lifecycle: frozen-artifact deltas == rebuild " +
      "encode; search serves old+new; tombstones retire; drift gate; " +
      "compaction preserves the served view") {
    import graft.operators.{IvfIndex, PqIndex}
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-append").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    // 7 is invertible mod 257 → distinct vectors for every id below 257
    // (a generator periodic in id would alias appended ids onto base ones
    // and break the self-hit assertions on the id tie-break)
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 40L).map(i => (i, vec(i))).toDF("id", "vector"))
    store.buildPqIndex(cells = 4)
    store.buildSqIndex()
    store.buildBqIndex()

    // in-distribution delta: same generator, new ids
    val delta = (100L until 110L).map(i => (i, vec(i))).toDF("id", "vector")
    // the 40-row build memorizes its corpus (QE 0 — ksub >= corpus), so
    // the ratio runs off the floor; raise it to fixture scale (the far
    // delta below still overshoots by ~10^6x)
    val pq = store.appendPqIndex(delta, qeFloorMicro = 5000L)
    assert(pq.nAppended === 10L && pq.nTombstoned === 0L)
    assert(!pq.retrainRecommended,
      s"in-distribution delta flagged retrain: $pq")

    // THE append contract: overlay codes == re-encoding EVERY live vector
    // with the generation's frozen centroids + codebooks (append ≡ rebuild
    // for the same artifacts)
    val pre = store.loadPqIndex()
    val live = store.nodes.filter(!col("deleted"))
      .select(col("id"), col("vector"))
    val asg = IvfIndex.assign(live, pre.centroids)
      .select(col("id"), col("cell"))
    val res = PqIndex.residuals(live, asg, pre.centroids)
      .select(col("id"), col("vector"))
    val full = PqIndex.encode(res, pre.codebooks, 8, 1)
    assert(pre.codes.select("id", "sub", "code").as[(Long, Int, Int)]
        .collect().toSet ===
      full.select("id", "sub", "code").as[(Long, Int, Int)].collect().toSet)
    assert(pre.assignments.select("id", "cell").as[(Long, Int)]
        .collect().toSet ===
      asg.select("id", "cell").as[(Long, Int)].collect().toSet)

    // search serves base AND appended ids (self-hit at rank 1)
    val qv = (Seq(1L, 5L) ++ Seq(100L, 105L)).map(i => (i, vec(i)))
      .toDF("query_id", "query_vec")
    assert(store.searchPq(qv, k = 3, strengthSetting = 0)
      .filter(col("query_id") === col("id") && col("rn") === 1)
      .count() === 4)

    // SQ/BQ appends: frozen bounds, same contract. Bounds learned from
    // 40 samples don't cover the distribution tail, so a tiny fixture's
    // in-distribution delta still lands a few components outside — use a
    // 20% gate here (the production 1% default presumes corpus-scale
    // bounds); the far-delta check below still trips on ~100%.
    val sq = store.appendSqIndex(delta, oobMicroMax = 200000L)
    assert(sq.nAppended === 10L && !sq.retrainRecommended,
      s"in-distribution SQ delta flagged retrain: $sq")
    assert(store.searchSq(qv, k = 3, strengthSetting = 0)
      .filter(col("query_id") === col("id") && col("rn") === 1)
      .count() === 4)
    val bq = store.appendBqIndex(delta)
    assert(bq.nAppended === 10L)
    assert(store.searchBqStore(qv, k = 3, strengthSetting = 0)
      .filter(col("query_id") === col("id") && col("rn") === 1)
      .count() === 4)

    // tombstone through the append path retires id 100 from all tiers
    val tomb = Seq((100L, vec(100L), true)).toDF("id", "vector", "deleted")
    store.appendPqIndex(tomb); store.appendSqIndex(tomb)
    store.appendBqIndex(tomb)
    assert(store.loadPqIndex().codes.filter(col("id") === 100L).count() === 0)
    val qv100 = Seq((100L, vec(100L))).toDF("query_id", "query_vec")
    assert(store.searchPq(qv100, 3, 0).filter(col("id") === 100L)
      .count() === 0)
    assert(store.searchSq(qv100, 3, 0).filter(col("id") === 100L)
      .count() === 0)
    assert(store.searchBqStore(qv100, 3, 0).filter(col("id") === 100L)
      .count() === 0)

    // drift gate: an out-of-distribution delta (×100 scale) must flag
    // retrain on the QE ratio (PQ) and the out-of-bounds fraction (SQ)
    val far = (200L until 205L)
      .map(i => (i, vec(i).map(_ * 100f))).toDF("id", "vector")
    assert(store.appendPqIndex(far).retrainRecommended,
      "x100-scaled delta must trip the PQ drift gate")
    assert(store.appendSqIndex(far).retrainRecommended,
      "out-of-bounds delta must trip the SQ drift gate")

    // explicit compaction folds the chains; the served view is unchanged
    // and the pointers are single-token again
    val before = store.searchPq(qv, k = 3, strengthSetting = 0)
      .select("query_id", "id", "rn").as[(Long, Long, Int)].collect().toSet
    store.compactPqIndex(); store.compactSqIndex(); store.compactBqIndex()
    for (p <- Seq("PQINDEX", "SQINDEX", "BQINDEX"))
      assert(graft.util.Fs.readString(spark, s"${store.path}/$p").trim
        .split("\\s+").length === 1, s"$p not folded")
    assert(store.searchPq(qv, k = 3, strengthSetting = 0)
      .select("query_id", "id", "rn").as[(Long, Long, Int)]
      .collect().toSet === before)
    store.delete()
  }

  test("nearDupMonitor: store-anchored planes flag streamed scaled " +
      "clones of stored vectors; fresh directions pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-ndm").toString,
      IndexParams(dim = 4, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    // 1 band × 2 bits needs 2 live vectors for planes; add 3
    store.addBatch(Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(1f, 1f, 1f, 1f))).toDF("id", "vector"))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, Array[Float])]
      val q = store.nearDupMonitor(
          stream.toDF().toDF("doc_id", "vector"),
          tau = 0.9, nBands = 1, bits = 2)
        .writeStream.outputMode("append")
        .format("memory").queryName("store_ndm").start()
      try {
        stream.addData(
          (10L, Array(1f, 1f, 1f, 1f)),   // registers
          (11L, Array(2f, 2f, 2f, 2f)),   // ×2 clone of 10 → flagged
          (12L, Array(1f, -1f, 1f, 1f)))  // different bucket → passes
        q.processAllAvailable()
        val got = spark.table("store_ndm")
          .as[graft.streaming.NearDupOut].collect()
          .groupBy(_.doc_id).view.mapValues(_.map(_.matched_rep).max).toMap
        assert(got === Map(10L -> -1L, 11L -> 10L, 12L -> -1L))
      } finally q.stop()
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
    store.delete()
  }

  test("searchAuto: dispatches on store stats + persisted artifacts; " +
      "every arm honors the search contract") {
    import graft.operators.AdaptiveSearch
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-auto").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 40L).map(i => (i, vec(i))).toDF("id", "vector"))
    val qv = Seq(1L, 5L).map(i => (i, vec(i))).toDF("query_id", "query_vec")
    // small corpus → exact, no artifacts needed
    val (s1, r1) = store.searchAuto(qv, k = 3, strengthSetting = 0)
    assert(s1 === AdaptiveSearch.UseExact)
    assert(r1.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    assert(r1.filter(col("query_id") === col("id") && col("rn") === 1)
      .count() === 2)
    // force past the exact cutoff WITHOUT artifacts → LSH arm
    val (s2, r2) = store.searchAuto(qv, k = 3, strengthSetting = 0,
      exactCutoff = 10)
    assert(s2 === AdaptiveSearch.UseLsh || s2 === AdaptiveSearch.UseIvf, s2)
    assert(r2.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    // with the saved graph, the same regime upgrades to a seeded hybrid
    store.rebuild()
    val (s3, r3) = store.searchAuto(qv, k = 3, strengthSetting = 0,
      exactCutoff = 10)
    assert(s3 === AdaptiveSearch.UseGraphSeeded ||
      s3 === AdaptiveSearch.UseGraphSeededIvf, s3)
    assert(r3.filter(col("query_id") === col("id") && col("rn") === 1)
      .count() === 2)
    // past the PQ cutoff with a persisted PQ generation → the PQ arm
    store.buildPqIndex(cells = 4)
    val (s4, r4) = store.searchAuto(qv, k = 3, strengthSetting = 0,
      exactCutoff = 10, pqCutoff = 10)
    assert(s4 === AdaptiveSearch.UsePq, s4)
    assert(r4.filter(col("query_id") === col("id") && col("rn") === 1)
      .count() === 2)
    store.delete()
  }

  test("startIngestCompressed: streamed upserts/deletes keep the " +
      "PQ and SQ tiers fresh at O(batch); drift verdicts surface") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-sic").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 40L).map(i => (i, vec(i))).toDF("id", "vector"))
    store.buildPqIndex(cells = 4)
    store.buildSqIndex()
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(String, VectorStore.CompressedAppendStats)]
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = store.startIngestCompressed(
      stream.toDF().toDF("id", "vector", "op", "seq"),
      onAppend = (t, s) => { seen.synchronized { seen += ((t, s)) }; () })
    try {
      // one batch: new vector 500 arrives, vector 3 is deleted, and id
      // 501 gets upsert-then-delete (seq order must resolve to delete)
      stream.addData(
        (500L, vec(500L), "upsert", 1L),
        (3L, Seq.empty[Float], "delete", 2L),
        (501L, vec(501L), "upsert", 3L),
        (501L, Seq.empty[Float], "delete", 4L))
      q.processAllAvailable()
      // both existing tiers got an append with the right counts
      assert(seen.map(_._1).sorted === Seq("pq", "sq"), s"tiers: $seen")
      assert(seen.forall { case (_, s) =>
        s.nAppended === 1L && s.nTombstoned === 2L }, s"stats: $seen")
      // PQ serves the new id at rank 1; deleted ids are gone
      val q500 = Seq((500L, vec(500L))).toDF("query_id", "query_vec")
      assert(store.searchPq(q500, 1, 0).select("id").as[Long]
        .head() === 500L)
      assert(store.loadPqIndex().codes
        .filter(col("id").isin(3L, 501L)).count() === 0)
      assert(store.searchSq(q500, 1, 0).select("id").as[Long]
        .head() === 500L)
      // a second, out-of-distribution batch trips the drift gate
      seen.clear()
      stream.addData((600L, vec(600L).map(_ * 100f), "upsert", 5L))
      q.processAllAvailable()
      assert(seen.exists { case (t, s) => t === "sq" && s.retrainRecommended },
        s"x100 batch must trip the SQ out-of-bounds gate: $seen")
    } finally q.stop()
    store.delete()
  }

  test("startIngest: ONE stream keeps the graph generation AND the " +
      "compressed tiers fresh — search on any arm sees ingested rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-uni").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 40L).map(i => (i, vec(i))).toDF("id", "vector"))
    store.rebuild()          // graph generation
    store.buildPqIndex(cells = 4)
    store.buildSqIndex()
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = store.startIngest(
      stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream.addData((500L, vec(500L), "upsert", 1L),
        (3L, Seq.empty[Float], "delete", 2L))
      q.processAllAvailable()
    } finally q.stop()
    // the graph fold wrote ONE delta behind the pointer (O(batch) I/O),
    // not a full generation rewrite (GraphDeltaSpec pins the semantics)
    assert(store.indexPointer === "0 1")
    val q500 = Seq((500L, vec(500L))).toDF("query_id", "query_vec")
    val q3 = Seq((3L, vec(3L))).toDF("query_id", "query_vec")
    // graph-seeded arm serves the new row, drops the tombstoned one
    assert(store.searchAnnSeededIvf(q500, k = 1, strengthSetting = 0)
      .select("id").as[Long].head() === 500L)
    assert(store.searchAnnSeededIvf(q3, k = 3, strengthSetting = 0)
      .filter(col("id") === 3L).count() === 0)
    // compressed arms serve the same state
    assert(store.searchPq(q500, 1, 0).select("id").as[Long].head() === 500L)
    assert(store.searchSq(q500, 1, 0).select("id").as[Long].head() === 500L)
    assert(store.count() === 40L) // 40 base + 1 new - 1 tombstoned
    store.delete()
  }

  test("startIngest autoRetrain: a drifted batch triggers an in-batch " +
      "rebuild + flip; the next batch's drift stat is back at baseline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-ar").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 40L).map(i => (i, vec(i))).toDF("id", "vector"))
    store.buildSqIndex()
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(String, VectorStore.CompressedAppendStats)]
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = store.startIngest(
      stream.toDF().toDF("id", "vector", "op", "seq"),
      config = VectorStore.IngestConfig(autoRetrain = true),
      onAppend = (t, s) => { seen.synchronized { seen += ((t, s)) }; () })
    try {
      // x100-scaled rows: every component far outside the frozen bounds
      stream.addData((600L, vec(600L).map(_ * 100f), "upsert", 1L),
        (601L, vec(601L).map(_ * 100f), "upsert", 2L))
      q.processAllAvailable()
      assert(seen.exists { case (t, s) => t == "sq" && s.retrainRecommended },
        s"x100 batch must trip the gate: $seen")
      // the rebuild flipped a NEW generation (append alone would leave
      // the base at v0 with a delta chain)
      assert(graft.util.Fs.readString(spark, store.path + "/SQINDEX")
        .trim === "1")
      // serving continuity: both old and new rows rank correctly
      val qv = Seq((600L, vec(600L).map(_ * 100f))).toDF("query_id", "query_vec")
      assert(store.searchSq(qv, 1, 0).select("id").as[Long].head() === 600L)
      // post-retrain bounds COVER the new distribution: the next row
      // from it (vec(600)-valued) has out-of-bounds stat back at baseline
      seen.clear()
      stream.addData((602L, vec(600L).map(_ * 100f), "upsert", 3L))
      q.processAllAvailable()
      val sq2 = seen.collectFirst { case ("sq", s) => s }.get
      assert(!sq2.retrainRecommended,
        s"post-retrain batch must NOT re-trip: $sq2")
    } finally q.stop()
    store.delete()
  }

  test("searchMaxSimAnn predicate: anchors + shortlist derive from the " +
      "filtered token corpus — results ⊆ filter, rank-1 parity with " +
      "filtered-exact MaxSim") {
    val store = freshStore()
    // 6 docs × 4 tokens; doc 3 (NON-matching) is the best overall match,
    // doc 4 the best matching one — an unfiltered shortlist would spend
    // its band geometry and token hits around doc 3's tokens
    val tv = (0L until 24L).map { v =>
      val doc = v / 4 + 1
      val vec =
        if (doc == 3L) Seq(0f, 1f)
        else if (doc == 4L) Seq(0.3f, 0.9f)
        else Seq(1f, 0.05f * v)
      (doc, v, vec)
    }
    store.putTokenVectors(tv.toDF("doc_id", "vec_id", "vector"))
    val qv = Seq((0L, 0L, Seq(0f, 1f)))
      .toDF("query_id", "qvec_id", "query_vec")
    val p = Some(col("doc_id") % 2 === 0)
    val exact = store.searchMaxSim(qv, topK = 3, predicate = p)
    val ann = store.searchMaxSimAnn(qv, topK = 3, tokenHitsPerQvec = 12,
      nBands = 2, bits = 2, predicate = p)
    assert(ann.filter(col("doc_id") % 2 =!= 0).count() === 0L)
    assert(ann.filter(col("rn") === 1).select("doc_id").as[Long].head()
      === exact.filter(col("rn") === 1).select("doc_id").as[Long].head())
    store.delete()
  }

  test("filtered-dispatch count memoizes per table version: repeated " +
      "searchAuto reads the cache, a mutation invalidates by key") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-memo").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 40L).map(i => (i, vec(i))).toDF("id", "vector"))
    val qv = Seq((0L, vec(0L))).toDF("query_id", "query_vec")
    val pred = col("id") % 3 === 0
    val (s1, _) = store.searchAuto(qv, k = 3, strengthSetting = 0,
      predicate = Some(pred))
    assert(s1 === graft.operators.AdaptiveSearch.UseExact) // 14 live < cutoff
    val key = (store.pointerStamp("CURRENT"), "p:" + pred.toString)
    assert(store.countMemo.entries.contains(key),
      s"memo keys: ${store.countMemo.entries.keys}")
    // poison the cached size: a second call that RECOUNTED would still
    // pick the exact arm; reading the cache it must dispatch past it
    store.countMemo.entries.update(key, 100000L)
    val (s2, _) = store.searchAuto(qv, k = 3, strengthSetting = 0,
      predicate = Some(pred))
    assert(s2 !== graft.operators.AdaptiveSearch.UseExact)
    // any mutation flips the pointer — the poisoned entry no longer keys
    store.add(600L, vec(600L))
    val (s3, _) = store.searchAuto(qv, k = 3, strengthSetting = 0,
      predicate = Some(pred))
    assert(s3 === graft.operators.AdaptiveSearch.UseExact)
    store.delete()
  }

  test("persist prunes the superseded node base + delta chain — " +
      "continuous ingest cannot accrete unbounded snapshot dirs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-prune").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 10L).map(i => (i, vec(i))).toDF("id", "vector"))
    assert(graft.util.Fs.exists(spark, store.path + "/v0"))
    store.addBatch(Seq((20L, vec(20L))).toDF("id", "vector"))
    // the just-superseded generation is GRACED one flip cycle (lazy
    // readers of the old pointer stay valid); it dies on the NEXT flip
    assert(graft.util.Fs.exists(spark, store.path + "/v0"),
      "superseded base v0 is graced one flip cycle")
    assert(graft.util.Fs.exists(spark, store.path + "/v1"))
    // streamed chain: compactEvery = 1 folds every batch — the fold's
    // persist prunes everything beyond the graced generation, so disk is
    // bounded at live + one graced generation
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = store.startIngest(
      stream.toDF().toDF("id", "vector", "op", "seq"),
      config = VectorStore.IngestConfig(compactEvery = 1))
    try {
      stream.addData((21L, vec(21L), "upsert", 1L))
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.util.Fs.readString(spark, store.path + "/CURRENT")
      .trim === "2")
    assert(!graft.util.Fs.exists(spark, store.path + "/v0"),
      "v0 must be pruned at the flip AFTER its grace cycle")
    assert(graft.util.Fs.exists(spark, store.path + "/v1")) // graced now
    assert(graft.util.Fs.exists(spark, store.path + "/v1_d1"))
    store.addBatch(Seq((22L, vec(22L))).toDF("id", "vector")) // → v3
    assert(!graft.util.Fs.exists(spark, store.path + "/v1"))
    assert(!graft.util.Fs.exists(spark, store.path + "/v1_d1"))
    assert(!graft.util.Fs.exists(spark, store.path + "/v1_SEALED"))
    assert(store.count() === 13L) // 10 + 2 batch-path + 1 streamed
    store.delete()
  }

  test("retainBases opens a time-travel window: nodesAsOf serves retained " +
      "generations exactly, prune respects the window, reads past it throw") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-asof").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2),
      retainBases = 2)
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    def state(df: org.apache.spark.sql.DataFrame): Set[(Long, Boolean)] =
      df.select(col("id"), col("deleted")).as[(Long, Boolean)]
        .collect().toSet
    store.addBatch((0L until 10L).map(i => (i, vec(i))).toDF("id", "vector"))
    val s0 = state(store.nodes) // v0
    store.addBatch(Seq((20L, vec(20L))).toDF("id", "vector"))
    val s1 = state(store.nodes) // v1
    store.remove(3L) // v2
    val s2 = state(store.nodes)
    // window = {v0, v1} + current v2 — nothing pruned yet
    assert(store.versions() === Seq(0L, 1L, 2L))
    assert(state(store.nodesAsOf(0L)) === s0)
    assert(state(store.nodesAsOf(1L)) === s1)
    assert(state(store.nodesAsOf(2L)) === s2)
    store.addBatch(Seq((21L, vec(21L))).toDF("id", "vector")) // v3: v0 dies
    assert(store.versions() === Seq(1L, 2L, 3L))
    assert(state(store.nodesAsOf(1L)) === s1)
    val err = intercept[IllegalArgumentException](store.nodesAsOf(0L))
    assert(err.getMessage.contains("not retained"))
    // a retained generation is the state at the END of its life: deltas
    // it accumulated before being superseded stay readable. Re-open with
    // retention 0: the next flip reclaims every superseded generation
    // (lowering the window prunes listing-wide, not just the latest).
    val tight = VectorStore.openOrCreate(spark, store.path,
      store.params, retainBases = 0)
    tight.addBatch(Seq((22L, vec(22L))).toDF("id", "vector")) // v4
    assert(tight.versions() === Seq(4L))
    assert(state(tight.nodesAsOf(4L)) === state(tight.nodes))
    store.delete()
  }

  test("branchAsOf materializes a retained generation as an independent " +
      "store: the branch serves the historical state and diverges freely") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-branch").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2),
      retainBases = 1)
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    def state(df: org.apache.spark.sql.DataFrame): Set[(Long, Boolean)] =
      df.select(col("id"), col("deleted")).as[(Long, Boolean)]
        .collect().toSet
    store.addBatch((0L until 10L).map(i => (i, vec(i))).toDF("id", "vector"))
    val s0 = state(store.nodes)
    store.remove(3L) // v1
    val branch = store.branchAsOf(0L,
      java.nio.file.Files.createTempDirectory("graft-branch-dst").toString)
    assert(state(branch.nodes) === s0, "the branch must serve v0's state")
    // divergence: mutate the branch, the source is untouched (and vice
    // versa); re-branching onto a non-empty destination refuses
    branch.addBatch(Seq((50L, vec(50L))).toDF("id", "vector"))
    assert(state(branch.nodes).size === s0.size + 1)
    assert(state(store.nodes) ===
      s0.map { case (i, d) => (i, d || i == 3L) })
    intercept[IllegalArgumentException](
      store.branchAsOf(0L, branch.path))
    branch.delete(); store.delete()
  }

  test("searchAsOf answers a query against a retained generation: the " +
      "historical top-k sees neither later upserts nor later tombstones") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-asofq").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2),
      retainBases = 2)
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 10L).map(i => (i, vec(i))).toDF("id", "vector"))
    val qv = Seq((0L, vec(3L)))
      .toDF("query_id", "query_vec")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.orderBy(col("rn")).select(col("id")).as[Long].collect().toSeq
    val then_ = ids(store.search(qv, k = 3, strengthSetting = 0))
    store.remove(3L) // v1: tombstone the query's own nearest
    store.addBatch(Seq((99L, vec(3L))).toDF("id", "vector")) // v2: new rank-1
    val now = ids(store.search(qv, k = 3, strengthSetting = 0))
    assert(now.contains(99L) && !now.contains(3L))
    val past = ids(store.searchAsOf(qv, k = 3, version = 0L,
      strengthSetting = 0))
    assert(past === then_, "the as-of search must reproduce the v0 answer")
    assert(past.contains(3L) && !past.contains(99L))
    store.delete()
  }

  test("nodesAsOf reads a superseded generation at its END — streamed " +
      "deltas included — and the streamed fold prunes by the window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-asofd").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2),
      retainBases = 1)
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    def state(df: org.apache.spark.sql.DataFrame): Set[(Long, Boolean)] =
      df.select(col("id"), col("deleted")).as[(Long, Boolean)]
        .collect().toSet
    store.addBatch((0L until 5L).map(i => (i, vec(i))).toDF("id", "vector"))
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = store.startIngest(
      stream.toDF().toDF("id", "vector", "op", "seq"),
      config = VectorStore.IngestConfig(compactEvery = 2))
    try {
      stream.addData((10L, vec(10L), "upsert", 1L))
      q.processAllAvailable() // v0_d1
      stream.addData((11L, vec(11L), "upsert", 2L))
      q.processAllAvailable() // v0_d2 + fold → v1; v0 retained WITH deltas
      val s1 = state(store.nodes)
      assert(store.versions() === Seq(0L, 1L))
      assert(graft.util.Fs.exists(spark, store.path + "/v0_d2"))
      // generation 0's end state ≡ the fold that superseded it
      assert(state(store.nodesAsOf(0L)) === s1)
      stream.addData((12L, vec(12L), "upsert", 3L))
      q.processAllAvailable() // v1_d1
      stream.addData((13L, vec(13L), "upsert", 4L))
      q.processAllAvailable() // fold → v2; window slides, v0 + deltas die
      assert(store.versions() === Seq(1L, 2L))
      assert(!graft.util.Fs.exists(spark, store.path + "/v0_d1"))
      assert(state(store.nodesAsOf(1L)) === state(store.nodes))
    } finally q.stop()
    store.delete()
  }

  test("pre-upgrade PQ delta chains (sub = -1 tombstones, no deleted " +
      "column) still resolve through the overlay") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-compat").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 20L).map(i => (i, vec(i))).toDF("id", "vector"))
    store.buildPqIndex(cells = 4)
    // handcraft an OLD-schema pending delta: live id 100 (8 sub codes),
    // tombstone for id 3 as the legacy all-minus-one row
    val legacy = ((0 until 8).map(s => (100L, 0, s, 1)) :+ ((3L, -1, -1, -1)))
      .toDF("id", "cell", "sub", "code")
    legacy.write.mode("overwrite").parquet(
      graft.util.Snapshots.deltaPath(store.path, "pq", 0L, 1L))
    graft.util.Fs.writeStringAtomic(spark, store.path + "/PQINDEX", "0 1")
    val pre = store.loadPqIndex()
    assert(pre.codes.filter(col("id") === 100L).count() === 8L)
    assert(pre.codes.filter(col("id") === 3L).count() === 0L,
      "legacy sub = -1 row must tombstone id 3")
    assert(pre.assignments.filter(col("id") === 3L).count() === 0L)
    store.delete()
  }

  test("payload-column stores stream: upserted rows null-fill payload " +
      "(latest-wins replace), untouched rows keep theirs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-pay").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch(Seq((1L, vec(1L), "red"), (2L, vec(2L), "blue"))
      .toDF("id", "vector", "tag"))
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = store.startIngest(
      stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream.addData((2L, vec(50L), "upsert", 1L),
        (50L, vec(51L), "upsert", 2L))
      q.processAllAvailable()
    } finally q.stop()
    val qv = Seq((0L, vec(1L))).toDF("query_id", "query_vec")
    assert(store.searchWhere(qv, k = 10, col("tag") === "red",
        strengthSetting = 0)
      .select("id").as[Long].collect().toSet === Set(1L))
    assert(store.searchWhere(qv, k = 10, col("tag").isNull,
        strengthSetting = 0)
      .select("id").as[Long].collect().toSet === Set(2L, 50L))
    store.delete()
  }

  test("startIngest replay guard is tied to the checkpoint identity: a " +
      "same-checkpoint crash-window replay is skipped; a marker from " +
      "another checkpoint is ignored instead of silently dropping batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-replay").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 5L).map(i => (i, vec(i))).toDF("id", "vector"))
    val ckpt = store.path + "/_ingest_checkpoint"
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = store.startIngest(
      stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream.addData((100L, vec(100L), "upsert", 1L)) // batchId 0
      q.processAllAvailable()
      assert(store.count() === 6L)
    } finally q.stop()
    // the marker now carries the checkpoint's own query id + batch 0
    val marker = graft.util.Fs.readString(spark,
      store.path + "/_INGEST_BATCH").trim
    assert(marker.endsWith(" 0") && marker.split("\\s+").length === 2)
    // simulate a crash AFTER batch 0 applied but BEFORE the checkpoint
    // commit: drop the commit record, restart from the SAME checkpoint —
    // Spark replays batch 0, and the identity-matched marker skips it
    // instead of growing duplicate chain deltas
    graft.util.Fs.deleteRecursive(spark, ckpt + "/commits/0")
    val q2 = store.startIngest(
      stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      q2.processAllAvailable() // replayed batch 0: no-op
      assert(store.count() === 6L, "replayed batch must not re-apply")
      stream.addData((101L, vec(101L), "upsert", 2L)) // batchId 1: fresh
      q2.processAllAvailable()
      assert(store.count() === 7L)
      assert(graft.util.Fs.readString(spark,
        store.path + "/_INGEST_BATCH").trim.endsWith(" 1"))
    } finally q2.stop()
    // the ADVICE hazard: a DELETED/relocated checkpoint restarts batchIds
    // at 0 — a stale identity-less comparison would silently drop every
    // batch until the new ids exceeded the marker. The identity mismatch
    // must make the guard ignore the marker and APPLY the batch.
    graft.util.Fs.deleteRecursive(spark, ckpt)
    graft.util.Fs.writeStringAtomic(spark, store.path + "/_INGEST_BATCH",
      "some-other-checkpoint-id 99")
    val stream2 = MemoryStream[(Long, Seq[Float], String, Long)]
    val q3 = store.startIngest(
      stream2.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream2.addData((102L, vec(102L), "upsert", 1L)) // batchId 0 again
      q3.processAllAvailable()
      assert(store.count() === 8L,
        "a marker from another checkpoint must not drop fresh batches")
    } finally q3.stop()
    store.delete()
  }

  test("dropCheckpointBlocks frees a checkpointed relation's storage now") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-ckpt").toString,
      IndexParams(dim = 4))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("id", "vector")
      .localCheckpoint()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint should register persistent RDDs")
    // Dataset.unpersist is the documented no-op (CacheManager miss) —
    // the reason the explicit drop exists
    ck.unpersist(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet & added) === added,
      "Dataset.unpersist must not find checkpoint blocks (the premise)")
    // r16 loud-fallback contract: the return value counts unpersisted
    // LogicalRDD leaves, so this assertion FAILS (instead of silently
    // leaking) if a Spark upgrade stops surfacing checkpoints as
    // LogicalRDD and the ingest-path storage retirement dies with it
    assert(store.dropCheckpointBlocks(ck) > 0,
      "a checkpointed plan must surface >= 1 LogicalRDD leaf to retire")
    assert((spark.sparkContext.getPersistentRDDs.keySet & added).isEmpty,
      "dropCheckpointBlocks must retire the checkpoint's RDD")
    // no-op on a plain (non-checkpointed) plan — returns 0 and counts
    // the miss on the loud-fallback counter
    val missesBefore = store.checkpointDropMisses.get()
    assert(store.dropCheckpointBlocks(Seq((2L, 0)).toDF("id", "x")) === 0)
    assert(store.checkpointDropMisses.get() === missesBefore + 1,
      "a no-leaf call must increment the miss counter")
    store.delete()
  }

  test("searchHybridWeighted: alpha blends the two towers — 0.5 fuses " +
      "the both-tower doc first, the endpoints recover each tower's " +
      "own order") {
    val store = freshStore()
    // doc 1: lexical match only (orthogonal vector); doc 2: dense match
    // only (disjoint text); doc 3: both-tower; doc 4: weak on both —
    // it anchors the dense list's min-max floor so the shortlist's
    // bottom (norm 0) isn't one of the docs under test
    store.addBatch(Seq(
      (1L, Seq(0f, 1f)), (2L, Seq(1f, 0f)), (3L, Seq(0.9f, 0.1f)),
      (4L, Seq(0.1f, 0.9f)))
      .toDF("id", "vector"))
    store.putDocuments(Seq(
      (1L, "spark catalyst optimizer"), (2L, "unrelated words entirely"),
      (3L, "spark catalyst engine"), (4L, "nothing shared here"))
      .toDF("doc_id", "text"))
    val qd = Seq((10L, "spark catalyst")).toDF("query_id", "text")
    val qv = Seq((10L, Seq(1f, 0f))).toDF("query_id", "query_vec")
    val fused = store.searchHybridWeighted(qd, qv, topK = 3)
      .select("id", "rn").as[(Long, Int)].collect().toMap
    assert(fused(3L) === 1,
      s"both-tower doc must fuse first at alpha 0.5: $fused")
    // alpha 1e6 = pure lexical order (doc 2 shares no terms); alpha 0 =
    // pure dense order (doc 2 is the exact query vector)
    assert(store.searchHybridWeighted(qd, qv, topK = 1,
      alphaMicro = 1000000L).select("id").as[Long].head() !== 2L)
    assert(store.searchHybridWeighted(qd, qv, topK = 1,
      alphaMicro = 0L).select("id").as[Long].head() === 2L)
    // dispatched flavor: same fixture (all positive sims on the dense
    // side), exact arm below the cutoff — the fused top-1 agrees
    val (strat, fusedAuto) = store.searchHybridAuto(qd, qv, topK = 3)
    assert(strat === graft.operators.AdaptiveSearch.UseExact)
    assert(fusedAuto.filter(col("rn") === 1)
      .select("id").as[Long].head() === 3L)
    store.delete()
  }

  test("removeWhere: payload-predicate bulk tombstone — count returned, " +
      "idempotent, rows gone from search but present for pointLookup") {
    val store = freshStore()
    store.addBatch(Seq(
      (1L, Seq(1f, 0f), "keep"), (2L, Seq(0.9f, 0.1f), "drop"),
      (3L, Seq(0f, 1f), "keep"), (4L, Seq(0.1f, 0.9f), "drop"))
      .toDF("id", "vector", "kind"))
    assert(store.removeWhere(col("kind") === "drop") === 2L)
    assert(store.removeWhere(col("kind") === "drop") === 0L,
      "second call must find nothing live to tombstone")
    val q = Seq((10L, Seq(0.5f, 0.5f))).toDF("query_id", "query_vec")
    val got = store.search(q, k = 4, strengthSetting = 0)
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 3L), s"tombstoned rows served: $got")
    // reference semantics: point lookup still returns tombstoned rows
    assert(store.getNode(2L).isDefined)
    store.delete()
  }

  test("servingPqIndex: the packed base survives delta pointer flips — " +
      "append batches never re-pack the corpus (mid-ingest serves warm)") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-warm").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
    store.addBatch((0L until 40L).map(i => (i, vec(i))).toDF("id", "vector"))
    store.buildPqIndex(cells = 4)
    // the build writes the serving-shaped pack — first serve of the
    // generation (and of any later process over it) skips the corpus
    // groupBy, AND the packed table equals the pack of the long codes
    assert(graft.util.Fs.exists(spark, s"${store.path}/pq_v0/codes_packed"),
      "buildPqIndex must write codes_packed")
    assert(spark.read.parquet(s"${store.path}/pq_v0/codes_packed")
        .select("id", "codes").as[(Long, Seq[Int])].collect().toSet ===
      graft.operators.PqIndex.packCodes(
          spark.read.parquet(s"${store.path}/pq_v0/codes"))
        .as[(Long, Seq[Int])].collect().toSet)

    store.searchPq(Seq((1L, vec(1L))).toDF("query_id", "query_vec"), 1)
      .collect()
    assert(store.pqBasePackedMemo.entries.size === 1,
      "one packed base generation")
    val (genKey, packedBefore) = store.pqBasePackedMemo.entries.head

    // three append flips (k: 0→3): the base pack must be the SAME cached
    // relation after every flip — re-packing per stamp was the 136 s
    // cold mid-ingest call at 30 M
    for (b <- 0 until 3) {
      val lo = 100L + b * 10
      store.appendPqIndex(
        (lo until lo + 10).map(i => (i, vec(i))).toDF("id", "vector"),
        qeFloorMicro = 5000L)
      val qv = Seq((lo, vec(lo)), (1L, vec(1L)))
        .toDF("query_id", "query_vec")
      // appended id self-hits through the serving overlay
      assert(store.searchPq(qv, k = 1, strengthSetting = 0)
        .filter(col("query_id") === col("id")).count() === 2)
      assert(store.pqBasePackedMemo.entries.get(genKey)
          .exists(_ eq packedBefore),
        s"append flip $b re-packed the base")
      assert(packedBefore.storageLevel.useMemory,
        s"append flip $b dropped the base cache")
    }
    // per-stamp composed artifacts never persist (the base IS the cache)
    assert(store.pqServingMemo.entries.size === 1)
    assert(store.pqServingMemo.entries.head._2.codes.storageLevel
      === org.apache.spark.storage.StorageLevel.NONE,
      "composed per-stamp codes must not double-cache the tier")

    // compaction = new generation: old base evicts + unpersists, the new
    // generation packs fresh under a new key
    store.compactPqIndex()
    assert(graft.util.Fs.exists(spark, s"${store.path}/pq_v1/codes_packed"),
      "compactPqIndex must write the new generation's codes_packed")
    store.searchPq(Seq((105L, vec(105L))).toDF("query_id", "query_vec"), 1)
      .collect()
    assert(store.pqBasePackedMemo.entries.size === 1)
    assert(!store.pqBasePackedMemo.entries.contains(genKey),
      "superseded generation's base must evict")
    assert(packedBefore.storageLevel
      === org.apache.spark.storage.StorageLevel.NONE,
      "superseded generation's base must unpersist")
    store.delete()
  }

  test("compressed searches without an index fail with a clear message") {
    val store = VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory("graft-store-noidx").toString,
      IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2))
    store.add(1L, (0 until 8).map(_.toFloat))
    val q = Seq((1L, (0 until 8).map(_.toFloat)))
      .toDF("query_id", "query_vec")
    for ((name, f) <- Seq[(String, () => Unit)](
        ("PQ", () => { store.searchPq(q, 1); () }),
        ("SQ", () => { store.searchSq(q, 1); () }),
        ("BQ", () => { store.searchBqStore(q, 1); () }))) {
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains("index under"), s"$name: ${e.getMessage}")
    }
    store.delete()
  }
}
