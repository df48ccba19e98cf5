package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.operators._
import graft.util.{Artifacts, Fs, Snapshots}

/** The user-facing store API — a drop-in functional replacement for the
  * reference's driver facade (`driver/driver.ts`): open-or-create
  * (`createAstroDB`, driver.ts:28-48), add / remove / removeMultiple /
  * updateVector / sync (driver.ts:115-282), threshold-scaled search
  * (driver.ts:290-307), point lookup (driver.ts:309-312), compaction
  * (`rebuildGraphNodes`, astrovault.ts:87-132), and store deletion
  * (astrovault.ts:134-146).
  *
  * State is a versioned parquet snapshot chain with an atomic CURRENT
  * pointer (same layout as [[graft.streaming.StreamingIngest]]) — readers
  * always see a complete snapshot, and persistence cost is O(table), once
  * per batch, instead of the reference's O(index) per mutation. All
  * mutations are batch-first: the single-record overloads wrap one-row
  * DataFrames around the batch operators.
  */
class VectorStore private (
    val spark: SparkSession,
    val path: String,
    val params: IndexParams,
    /** How many SUPERSEDED node-table generations (base + their delta
      * chains) survive each [[persist]] flip. 0 (default) prunes
      * immediately — the streaming-ingest disk bound. > 0 opens a
      * TIME-TRAVEL window: [[nodesAsOf]] reads any retained generation
      * with full snapshot isolation (generations are immutable once
      * superseded), and in-flight lazy readers of the previous
      * generation survive a concurrent flip (the read-after-prune
      * hazard [[rebuild]] had to re-resolve around). */
    val retainBases: Int = 0) {

  /** Current table snapshot (id, vector, deleted[, payload…]): the base
    * version overlaid by any STREAMED node deltas (`"N K"` CURRENT
    * pointer, latest-wins by id — [[appendNodeDelta]]'s O(batch) node
    * persistence). Batch-path mutations keep full-snapshot semantics:
    * every [[persist]] input derives from THIS overlay, so a
    * single-token flip folds any pending chain implicitly. */
  def nodes: DataFrame =
    Snapshots.currentWithDeltas(spark, path, "CURRENT") match {
      case None => VectorStore.emptyTable(spark)
      case Some((v, k)) => nodesAt(v, k)
    }

  /** Base generation `v` overlaid by its deltas 1..k (latest-wins by
    * id) — the shared read path of [[nodes]] (the CURRENT pointer) and
    * [[nodesAsOf]] (a retained historical generation). */
  private def nodesAt(v: Long, k: Long): DataFrame =
    k match {
      case 0L => spark.read.parquet(s"$path/v$v")
      case k =>
        val base = spark.read.parquet(s"$path/v$v")
        val wMax = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id"))
        // delta-sized → eager localCheckpoint (the resolvedDelta rule):
        // consumed twice here and the whole overlay re-executes per
        // downstream job left lazy
        val resolved = Snapshots.readChain(spark,
            (1L to k).map(nodeDeltaDir(v, _)), ".*_d(\\d+)/")
          .withColumn("__mx", max(col("__ds")).over(wMax))
          .filter(col("__ds") === col("__mx")).drop("__ds", "__mx")
          .localCheckpoint()
        base.join(resolved.select(col("id")).distinct(), Seq("id"),
            "left_anti")
          .unionByName(
            resolved.select(base.columns.map(col).toIndexedSeq: _*))
    }

  private def nodeDeltaDir(v: Long, k: Long): String = s"$path/v${v}_d$k"

  /** O(batch) node persistence for the streaming path: the touched ids'
    * FINAL rows this batch append as ONE delta directory behind the
    * CURRENT pointer; [[nodes]] overlays latest-wins. Every
    * `compactEvery` deltas the chain folds into a full snapshot — the
    * same fold every batch-path [[persist]] performs implicitly. */
  private def appendNodeDelta(rows: DataFrame, compactEvery: Int): Unit =
    Snapshots.currentWithDeltas(spark, path, "CURRENT") match {
      case None =>
        // first-ever rows ARE the full state
        rows.write.mode("overwrite").parquet(s"$path/v0")
        graft.util.Fs.writeStringAtomic(spark, s"$path/CURRENT", "0")
      case Some((v, k)) =>
        rows.write.mode("overwrite").parquet(nodeDeltaDir(v, k + 1))
        graft.util.Fs.writeStringAtomic(spark, s"$path/CURRENT",
          s"$v ${k + 1}")
        if (k + 1 >= compactEvery) persist(nodes)
    }

  def count(): Long = nodes.filter(!col("deleted")).count()

  private def persist(next: DataFrame): Unit = {
    val old = Snapshots.currentWithDeltas(spark, path, "CURRENT")
    val v = old.map(_._1).getOrElse(-1L) + 1
    next.write.mode("overwrite").parquet(s"$path/v$v")
    // seal the superseded generation BEFORE the flip: its COMMITTED
    // delta count (from the pointer, not the dir listing) is what
    // [[nodesAsOf]] folds — a crash-orphaned delta dir the pointer never
    // committed must not appear in historical reads
    old.foreach { case (ov, ok) =>
      graft.util.Fs.writeStringAtomic(spark, s"$path/v${ov}_SEALED",
        ok.toString) }
    graft.util.Fs.writeStringAtomic(spark, s"$path/CURRENT", v.toString)
    // superseded generations beyond the retention window are
    // dereferenced now — prune them ([[flipIndexPointer]]'s rule applied
    // to the node table), or a long-running [[startIngest]] accretes a
    // full copy of every streamed batch plus a folded base per
    // compaction. Listing-driven (not just `old`) so lowering
    // `retainBases` on an existing store also reclaims older leftovers.
    // The generation the pointer just moved OFF is GRACED one flip cycle
    // even at retainBases = 0: any lazy DataFrame resolved against the
    // old pointer (or a concurrent reader process on the same path)
    // stays valid through this flip instead of failing mid-job with
    // FileNotFoundException; the graced dirs die on the NEXT flip.
    // Best-effort — a crash here leaks a directory, never correctness.
    val grace = old.map(_._1).getOrElse(Long.MinValue)
    val baseRe = "^v(\\d+)(_d\\d+|_SEALED)?$".r
    graft.util.Fs.list(spark, path).foreach {
      case name @ baseRe(g, _) if g.toLong < v - retainBases &&
          g.toLong != grace =>
        graft.util.Fs.deleteRecursive(spark, s"$path/$name")
      case _ => ()
    }
  }

  /** Retained node-table generations, oldest first — the versions
    * [[nodesAsOf]] serves by contract (the current one last). Windowed
    * to `retainBases`: the generation graced one flip cycle by
    * [[persist]]'s prune is an in-flight-reader courtesy, not an
    * advertised snapshot. */
  def versions(): Seq[Long] = {
    val cur = Snapshots.current(spark, path, "CURRENT")
      .getOrElse(Long.MaxValue)
    val baseRe = "^v(\\d+)$".r
    graft.util.Fs.list(spark, path)
      .collect { case baseRe(g) => g.toLong }
      .filter(_ >= cur - retainBases).sorted
  }

  /** TIME-TRAVEL read: the node table as of the END of generation
    * `version` — its base overlaid by every delta it accumulated before
    * being superseded (generations are immutable once superseded, so
    * this is a stable snapshot). Requires the generation inside the
    * `retainBases` window; throws with the retained range otherwise. */
  def nodesAsOf(version: Long): DataFrame = {
    if (!graft.util.Fs.exists(spark, s"$path/v$version"))
      throw new IllegalArgumentException(
        s"generation $version not retained (have: " +
          s"${versions().mkString(", ")}; retainBases = $retainBases)")
    // the CURRENT generation's delta count comes from the pointer (a
    // crashed append can leave an orphan delta dir the pointer never
    // committed); superseded generations read their SEALED token — the
    // committed count recorded at supersede time — falling back to the
    // dir listing only for stores written before sealing existed
    val k = Snapshots.currentWithDeltas(spark, path, "CURRENT") match {
      case Some((cv, ck)) if cv == version => ck
      case _ if graft.util.Fs.exists(spark, s"$path/v${version}_SEALED") =>
        graft.util.Fs.readString(spark, s"$path/v${version}_SEALED")
          .trim.toLong
      case _ =>
        val dRe = ("^v" + version + "_d(\\d+)$").r
        graft.util.Fs.list(spark, path)
          .collect { case dRe(i) => i.toLong }
          .foldLeft(0L)(math.max)
    }
    nodesAt(version, k)
  }

  /** Validation: non-null ids (driver.ts:124-129 rejects empty ids) and
    * exact dimension match (hnsw.ts:155-160 throws on mismatch). */
  private def validate(batch: DataFrame, idC: String = "id",
      vecC: String = "vector"): DataFrame = {
    // NULL-safe: size(NULL) is NULL, so a plain =!= predicate would let
    // null-vector rows through silently
    val bad = batch.filter(col(idC).isNull || col(vecC).isNull ||
      size(col(vecC)) =!= params.dim).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"invalid row (null id/vector or dimension != ${params.dim}): ${bad.head}")
    batch
  }

  /** Batch upsert (covers add + update, hnsw.ts:154-173/497-517).
    * A DataFrame carries no arrival order: duplicate ids within one batch
    * resolve deterministically (content-hash tie-break) — callers that
    * need FIFO order across duplicates must provide a `batch_seq` column
    * (higher wins), as the streaming ingest path does. */
  def addBatch(batch: DataFrame): Unit =
    persist(Mutations.upsert(nodes,
      validate(batch).withColumn("deleted", lit(false))))

  def add(id: Long, vector: Seq[Float]): Unit = {
    import spark.implicits._
    addBatch(Seq((id, vector)).toDF("id", "vector"))
  }

  def updateVector(id: Long, vector: Seq[Float]): Unit = add(id, vector)

  /** Tombstone one/many ids (driver.ts:157-192). */
  def removeMultiple(ids: Seq[Long]): Unit = {
    import spark.implicits._
    persist(Mutations.tombstone(nodes, ids.toDF("id")))
  }
  def remove(id: Long): Unit = removeMultiple(Seq(id))

  /** Keyset corpus scan — the export/scroll surface every store pairs
    * with search (dump to a training pipeline, consistency audits,
    * migration): one page of LIVE rows (payload columns included)
    * strictly after `afterId` in id order. Stateless cursor = the last
    * id of the previous page (the [[searchAfter]] rule applied to the
    * corpus itself). Scale shape: orderBy+limit plans as
    * TakeOrderedAndProject — per-partition top-`limit` heaps merged at
    * the driver, O(limit) rows moved, never a full sort shuffle; the
    * id-ordered parquet layout means later pages prune earlier files
    * by min/max stats. */
  def scan(afterId: Long = Long.MinValue, limit: Int = 1000): DataFrame =
    nodes.filter(!col("deleted") && col("id") > afterId)
      .orderBy(col("id")).limit(limit)

  /** Tombstone every LIVE row matching `predicate` — the bulk-retention
    * API every store pairs with predicate search (TTL expiry by a
    * payload timestamp, source retractions, erasure by payload key):
    * the [[searchWhere]]/[[facet]] predicate surface applied to
    * deletion, so payload columns are in scope. One narrow matching-id
    * projection (checkpointed: the id set must not re-evaluate against
    * the table the tombstone write is about to replace) feeds the same
    * tombstone path as [[removeMultiple]]. Already-deleted rows don't
    * match (idempotent: re-running with the same predicate tombstones
    * nothing new). Returns the number of newly tombstoned ids. */
  def removeWhere(predicate: Column): Long = {
    val ids = nodes.filter(!col("deleted")).filter(predicate)
      .select(col("id")).localCheckpoint()
    val n = ids.count()
    if (n > 0) persist(Mutations.tombstone(nodes, ids))
    n
  }

  /** Differential sync (driver.ts:245-282 / worker.ts:3-44): apply only
    * new-or-changed incoming rows; returns how many were applied. */
  def sync(incoming: DataFrame): Long = {
    val delta = Mutations.syncDiff(nodes, incoming).persist()
    try {
      val n = delta.count() // also materializes the cache for the upsert
      if (n > 0)
        persist(Mutations.upsert(nodes, delta.withColumn("deleted", lit(false))))
      n
    } finally { delta.unpersist(); () }
  }

  /** Threshold-scaled batch search (driver.ts:290-307): strengthSetting on
    * the 0–100 scale, /100 capped at 0.95. */
  def search(queries: DataFrame, k: Int, strengthSetting: Double = 50): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    // reference throws on dimension mismatch (hnsw.ts:155-160); the kernel
    // would otherwise silently truncate to min(len) and score garbage
    validate(queries, "query_id", "query_vec")
    KnnSearch.knnExact(nodes, queries, k,
      KnnSearch.scaleThreshold(strengthSetting), params.metric)
  }

  /** FILTERED exact search — the WHERE clause of a vector store (the
    * feature every production vector DB pairs with kNN): the predicate
    * restricts the live node table BEFORE any scoring, so results are
    * exact top-k OVER THE FILTERED SUBSET (pre-filtering semantics — a
    * post-filter of an unfiltered top-k can return < k rows or miss
    * matches entirely when the filter is selective; pre-filtering never
    * does). The predicate lands in the scan (Catalyst pushes it to
    * parquet where the node columns allow), so a selective filter also
    * SHRINKS the scored set — filtered search is cheaper, not costlier.
    * Predicates may reference any column the node table carries
    * (id, level, deleted, payload columns that rode in via addBatch).
    *
    * This is the EXACT arm. Every index arm takes the same predicate —
    * [[searchPq]]/[[searchSq]]/[[searchBqStore]]/[[searchAnnSeededIvf]]
    * semi-join their id-keyed index tables against the filtered id set
    * BEFORE probing/ranking ([[operators.KnnSearch.restrictIds]]), and
    * [[searchAuto]] dispatches on the FILTERED size — so past the exact
    * cutoff a filtered query still serves from an index at
    * filtered-fraction cost. */
  def searchWhere(queries: DataFrame, k: Int, predicate: Column,
      strengthSetting: Double = 50): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    KnnSearch.knnExact(nodes.filter(predicate), queries, k,
      KnnSearch.scaleThreshold(strengthSetting), params.metric)
  }

  /** Weighted-alpha hybrid — [[searchHybrid]]'s two-tower shape fused
    * by [[operators.Retrieval.hybridWeighted]] instead of RRF:
    * per-query min-max micro-normalized scores blended at `alphaMicro`
    * (1e6 = pure lexical, 0 = pure dense — the tunable the RRF flavor
    * deliberately lacks). Both towers fetch `fetchK` deep (default
    * max(20, 2·topK)) so the blend sees evidence past the final page;
    * the dense tower runs floor-free (fusion ranks RELATIVE evidence —
    * threshold after fusing if needed). `docPredicate`/`vecPredicate`
    * keep [[searchBm25]]/[[searchWhere]]'s exact filtered-subset
    * semantics per side. Same query-id/doc-id alignment contract as
    * [[searchHybrid]]; both towers are top-fetch-sized into the fusion,
    * so the blend never touches corpus-scale data. Output
    * (query_id, id, hybrid_micro BIGINT, rn). */
  def searchHybridWeighted(queryDocs: DataFrame, queryVecs: DataFrame,
      topK: Int, alphaMicro: Long = 500000L, fetchK: Int = 0,
      docPredicate: Option[Column] = None,
      vecPredicate: Option[Column] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queryVecs, "query_id", "query_vec")
    val fetch = if (fetchK > 0) fetchK else math.max(20, 2 * topK)
    val lexical = searchBm25(queryDocs, fetch, docPredicate)
    val dense = KnnSearch.knnExact(
      vecPredicate.map(nodes.filter).getOrElse(nodes), queryVecs, fetch,
      minSim = -2.0, params.metric)
    Retrieval.hybridWeighted(lexical, dense, topK, alphaMicro)
  }

  /** [[searchHybridWeighted]] with the dense tower DISPATCHED — the
    * composition rule that every serving extension follows
    * ([[searchMmrAuto]]/[[recommendAuto]]/[[searchGroupedAuto]]): past
    * the exact cutoff the dense run comes from whatever arm
    * [[searchAuto]] chooses (with that arm's shortlist-recall
    * contract) instead of a corpus-wide exact scan; the lexical tower
    * and the top-fetch-sized fusion stage are unchanged. One semantic
    * difference from the exact flavor, stated rather than hidden: the
    * dense arm serves at the strength-0 floor (score > 0), so
    * negative-similarity rows contribute no dense evidence — the
    * documented arm-shortlist contract, not floor-free exact. Returns
    * (chosen dense strategy, fused (query_id, id, hybrid_micro, rn)). */
  def searchHybridAuto(queryDocs: DataFrame, queryVecs: DataFrame,
      topK: Int, alphaMicro: Long = 500000L, fetchK: Int = 0,
      docPredicate: Option[Column] = None,
      vecPredicate: Option[Column] = None)
      : (AdaptiveSearch.Strategy, DataFrame) = {
    graft.functions.VectorFunctions.register(spark)
    val fetch = if (fetchK > 0) fetchK else math.max(20, 2 * topK)
    val lexical = searchBm25(queryDocs, fetch, docPredicate)
    val (strat, dense) = searchAuto(queryVecs, fetch,
      strengthSetting = 0, predicate = vecPredicate)
    (strat, Retrieval.hybridWeighted(lexical, dense, topK, alphaMicro))
  }

  /** MMR-diversified search ([[operators.Diversify.mmrTopK]]) over the
    * live store: relevant-but-not-redundant top-k, λ on the micro
    * scale (1e6 = plain [[search]] order). The [[search]] threshold
    * convention floors the SHORTLIST — strength 0 admits every
    * positive-similarity candidate (the diversity-first setting);
    * the default 50 keeps the reference's 0.5 floor. */
  def searchMmr(queries: DataFrame, k: Int, shortlist: Int,
      lambdaMicro: Long = 700000L,
      strengthSetting: Double = 50): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    Diversify.mmrTopK(nodes, queries, k, shortlist, lambdaMicro,
      params.metric, KnnSearch.scaleThreshold(strengthSetting))
  }

  /** [[searchMmr]] past the exact cutoff: the shortlist comes from
    * whatever arm [[searchAuto]] dispatches (exact below the cutoff,
    * seeded graph / IVF / PQ above it — `mmrFromCandidates` accepts
    * any arm's (query_id, id, score) rows), and the greedy re-rank is
    * identical. Below the cutoff this serves exactly [[searchMmr]]'s
    * answer; above it, shortlist RECALL follows the dispatched arm's
    * usual contract. Returns the dispatched strategy with the
    * diversified top-k. */
  def searchMmrAuto(queries: DataFrame, k: Int, shortlist: Int,
      lambdaMicro: Long = 700000L, strengthSetting: Double = 50,
      predicate: Option[Column] = None)
      : (AdaptiveSearch.Strategy, DataFrame) = {
    require(shortlist >= k, s"need shortlist >= k, got k=$k shortlist=$shortlist")
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    val (arm, cands) = searchAuto(queries, shortlist, strengthSetting,
      predicate = predicate)
    (arm, Diversify.mmrFromCandidates(cands, nodes, k, lambdaMicro,
      params.metric))
  }

  /** Group-quota search ([[operators.Diversify.groupedTopK]]): top-k
    * with at most `perGroup` results per `groupCol` value — `groupCol`
    * must be a payload column the node table carries (rode in via
    * `addBatch`). */
  def searchGrouped(queries: DataFrame, k: Int, perGroup: Int,
      groupCol: String, strengthSetting: Double = 50): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    require(nodes.columns.contains(groupCol),
      s"node table has no '$groupCol' column to group by")
    Diversify.groupedTopK(nodes, queries, k, perGroup, groupCol,
      KnnSearch.scaleThreshold(strengthSetting), params.metric)
  }

  /** Recommendation by stored example points
    * ([[operators.Recommend.byExamples]]): `examples` =
    * (query_id, id, weight) with weight sign picking liked/disliked;
    * derived query = mean(liked) − mean(disliked), example points
    * excluded from results. */
  def recommend(examples: DataFrame, k: Int,
      strengthSetting: Double = 50): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Recommend.byExamples(nodes, examples, k,
      KnnSearch.scaleThreshold(strengthSetting), params.metric)
  }

  /** Index-health audit — the a03 recall flag as an ops API: per-query
    * hit counts of ANY serving arm's result against the exact tower
    * over the same live overlay. `served` is whatever an index arm
    * returned for `queries` (only query_id/id are read). Output:
    * (query_id, n_hit, n_exact) — integers, so the numbers are
    * deterministic and recall@k = n_hit/n_exact is the caller's one
    * division. Run on a QUERY SAMPLE in production: the audit pays one
    * exact scoring pass over the corpus for the audited queries. */
  def auditRecall(queries: DataFrame, served: DataFrame,
      k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    val exact = KnnSearch.knnExact(nodes, queries, k, minSim = -2.0,
      params.metric)
    val hits = served.select(col("query_id"), col("id"))
      .distinct().withColumn("hit", lit(1L))
    exact
      .join(hits, Seq("query_id", "id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        org.apache.spark.sql.functions.count(lit(1)).as("n_exact"))
  }

  /** Facet counts over the live store: per-value cardinalities of a
    * payload column, optionally under a predicate — the count surface a
    * result-list UI renders next to [[searchWhere]] filters. One
    * hash-aggregate over the (filtered, pruned-to-one-column) node
    * table; value count is facet-cardinality-sized, never corpus-sized.
    * Output: (value, n) ordered by (n desc, value) for stable display. */
  def facet(column: String, predicate: Option[Column] = None): DataFrame = {
    require(nodes.columns.contains(column),
      s"node table has no '$column' column to facet on")
    val base = predicate.map(nodes.filter).getOrElse(nodes)
      .filter(!col("deleted"))
    base.groupBy(col(column).as("value"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("value").asc)
  }

  /** Keyset pagination ([[operators.KnnSearch.searchAfter]]): page N+1
    * of [[search]] given the previous page's last (score, id) as the
    * per-query cursor; cursor-less queries serve page 1. */
  def searchAfter(queries: DataFrame, cursors: DataFrame, k: Int,
      strengthSetting: Double = 50, queryCount: Long = -1L): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    // queryCount >= 0 bounds the cursor relation (one cursor survives
    // per query) and arms the pageAfter broadcast hint — the r14
    // derived-relation stats rule
    KnnSearch.searchAfter(nodes, queries, cursors, k,
      KnnSearch.scaleThreshold(strengthSetting), params.metric,
      cursorRowsHint = queryCount)
  }

  /** [[recommend]] past the exact cutoff — the [[searchMmrAuto]]
    * composition applied to recommendation: the derived query vectors
    * (mean liked − mean disliked, [[operators.Recommend.derive]])
    * route through whatever arm [[searchAuto]] dispatches, over-fetched
    * by the deepest per-query example count so the example exclusion
    * still leaves k rows. Below the cutoff this serves exactly
    * [[recommend]]'s answer; above it, results follow the dispatched
    * arm's usual shortlist-recall contract. The derived relation is
    * example-sized and localized, so the dispatcher's per-call query
    * count job is skipped and every arm's broadcast gate sees the true
    * size (the DiversifyProbe replicated-NL finding). */
  def recommendAuto(examples: DataFrame, k: Int,
      strengthSetting: Double = 50, predicate: Option[Column] = None)
      : (AdaptiveSearch.Strategy, DataFrame) = {
    require(k > 0, s"need k > 0, got $k")
    graft.functions.VectorFunctions.register(spark)
    val d = Recommend.derive(nodes, examples)
    val (arm, cands) = searchAuto(d.queries, k + d.maxPerQuery,
      strengthSetting, predicate = predicate, queryCount = d.qCount)
    (arm, Recommend.rankExcluding(cands, d.ex, k))
  }

  /** [[searchGrouped]] past the exact cutoff: the group quota ranks
    * over the dispatched arm's `shortlist`-deep candidates instead of
    * the full corpus. SEMANTICS WEAKEN with the arm, deliberately and
    * documented: exact grouped search can promote arbitrarily deep
    * candidates when a hot group saturates its quota, so the quota is
    * only exact over whatever the shortlist recalled — size `shortlist`
    * ≥ k × (expected hot-group concentration) accordingly, and note
    * that below the cutoff (exact arm) a shortlist covering the corpus
    * reproduces [[searchGrouped]] exactly. Group values re-attach via
    * an id equi-join with the Q×shortlist side broadcast-gated — the
    * corpus side never shuffles. */
  def searchGroupedAuto(queries: DataFrame, k: Int, perGroup: Int,
      groupCol: String, shortlist: Int, strengthSetting: Double = 50,
      predicate: Option[Column] = None)
      : (AdaptiveSearch.Strategy, DataFrame) = {
    require(k > 0 && perGroup > 0 && shortlist >= k,
      s"need shortlist >= k > 0 and perGroup > 0, " +
        s"got k=$k perGroup=$perGroup shortlist=$shortlist")
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    require(nodes.columns.contains(groupCol),
      s"node table has no '$groupCol' column to group by")
    val (arm, cands) = searchAuto(queries, shortlist, strengthSetting,
      predicate = predicate)
    (arm, Diversify.groupedFromCandidates(cands, nodes, k, perGroup,
      groupCol))
  }

  /** Cached-shortlist pagination entries: queries-DataFrame identity →
    * (cache key, dispatched arm, PERSISTED depth-shortlist). Keyed by
    * the reference a serving caller naturally reuses across page
    * requests (the [[AdaptiveSearch]] identity-memo pattern); the key
    * string carries both pointer stamps + knobs, so ANY store mutation
    * or knob change invalidates (the poisoned-memo rule) and the stale
    * relation unpersists. Size-capped: past 8 entries the map clears. */
  private val pageMemo = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[DataFrame,
      (String, AdaptiveSearch.Strategy, DataFrame)]())

  /** Keyset pagination over a CACHED dispatched shortlist — the
    * serving-shaped answer to [[searchAfter]]'s honest-but-costly
    * stateless contract (page N+1 re-scores the corpus, measured at
    * 1.6–2.2× the exact pass — DiversifyProbe): the first call runs
    * [[searchAuto]] once to `depth` and persists that relation
    * (MEMORY_AND_DISK, lineage kept); every subsequent page for the
    * SAME queries DataFrame is a cursor filter + rank window over the
    * cached rows — no scoring pass at all.
    *
    * `depth` is the PAGINATION HORIZON (the result-window contract,
    * as in every production search engine): pages past depth/k return
    * short/empty pages rather than falling back to a scan. Queries
    * with fewer than `depth` true hits paginate to exhaustion exactly.
    * Below the dispatch cutoff the cached relation is the exact
    * top-`depth`, so pages within the horizon match [[searchAfter]]
    * row-for-row; above it, page contents follow the dispatched arm's
    * shortlist-recall contract. Any store mutation invalidates the
    * cache on the next call (pointer-stamp key). */
  def searchAfterCached(queries: DataFrame, cursors: DataFrame, k: Int,
      strengthSetting: Double = 50, depth: Int = 1000,
      predicate: Option[Column] = None, queryCount: Long = -1L)
      : (AdaptiveSearch.Strategy, DataFrame) = {
    require(k > 0 && depth >= k, s"need depth >= k > 0, got k=$k depth=$depth")
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    val key = s"${pointerStamp("CURRENT")}|${pointerStamp("PQINDEX")}|" +
      s"$depth|$strengthSetting|${predicate.map(_.toString).getOrElse("")}"
    val (arm, shortDf) = Option(pageMemo.get(queries)) match {
      case Some((hk, a, df)) if hk == key => (a, df)
      case stale =>
        stale.foreach(_._3.unpersist(blocking = false))
        if (pageMemo.size >= 8) {
          pageMemo.values.forEach(v => { v._3.unpersist(false); () })
          pageMemo.clear()
        }
        val (a, res) = searchAuto(queries, depth, strengthSetting,
          predicate = predicate)
        val p = res.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count() // materialize once — every page reads the cache
        pageMemo.put(queries, (key, a, p))
        (a, p)
    }
    (arm, KnnSearch.pageAfter(shortDf, cursors, k,
      cursorRowsHint = queryCount))
  }

  /** [[facet]] for HIGH-CARDINALITY payload columns: only values with
    * share ≥ `shareMicro`/1e6 of the (filtered) live rows, via the
    * two-pass Misra–Gries heavy-hitters scheme
    * ([[functions.Sketches.heavyHitters]] — the t31-checked operator).
    * Output counts are EXACT for every value above the floor (pass 2
    * recounts candidates exactly); state and output are bounded by
    * ~1e6/shareMicro per partition, never value-cardinality-sized —
    * the per-user-payload case where exact [[facet]] goes
    * corpus-shaped. Values render as strings (the sketch's key type).
    * Output: (value, n) ordered by (n desc, value). */
  def facetTop(column: String, shareMicro: Long,
      predicate: Option[Column] = None): DataFrame = {
    require(nodes.columns.contains(column),
      s"node table has no '$column' column to facet on")
    val base = predicate.map(nodes.filter).getOrElse(nodes)
      .filter(!col("deleted"))
    graft.functions.Sketches.heavyHitters(base, column, shareMicro)
      .select(col(column).as("value"), col("cnt").as("n"))
      .orderBy(col("n").desc, col("value").asc)
  }

  /** The live ids matching `predicate` — the narrow (id) relation every
    * index arm semi-joins its candidate tables against. One projection
    * over the node snapshot; the predicate reaches the parquet scan. */
  private def filteredIds(predicate: Option[Column]): Option[DataFrame] =
    predicate.map(p =>
      nodes.filter(!col("deleted") && p).select(col("id")))

  /** Count memo for the dispatch/escalation inputs ([[searchAuto]]'s
    * filtered decision size, [[searchAnnSeededIvf]]'s probe escalation):
    * each is one narrow column-pruned job, but PER CALL — a serving
    * deployment re-issuing the same predicate pays it once per table
    * version instead. Entries follow the CURRENT pointer, so any
    * mutation (new version OR new delta) invalidates them;
    * [[pqCountMemo]] holds the counts that follow PQINDEX. */
  private[graft] val countMemo = new Artifacts.LatestStamp[Long](_ => ())
  private val pqCountMemo = new Artifacts.LatestStamp[Long](_ => ())
  private[graft] def pointerStamp(pointer: String): String =
    Snapshots.currentWithDeltas(spark, path, pointer)
      .map { case (v, k) => s"$v $k" }.getOrElse("none")
  private def memoCount(tag: String, df: => DataFrame): Long =
    countMemo(pointerStamp("CURRENT"), tag)(df.count())
  private def liveCount: Long =
    memoCount("__live", nodes.filter(!col("deleted")))
  private def filteredCount(p: Column): Long =
    memoCount("p:" + p.toString, filteredIds(Some(p)).get)

  /** The dispatch stats pair (corpus size, hot-bucket share) memoized per
    * table version — [[searchAuto]]'s two remaining per-call decision
    * jobs collapse to a map read on repeated calls against an unchanged
    * table. */
  private val statsMemo =
    new Artifacts.LatestStamp[(Long, Double)](_ => ())
  private def memoStats(): (Long, Double) =
    statsMemo(pointerStamp("CURRENT"), "stats")(
      AdaptiveSearch.stats(nodes, params))

  /** Selectivity-escalated probe count for the seeded-graph arm: probe
    * ~nProbe/selectivity cells (capped at the generation's cell count) so
    * the MATCHING-seed volume stays constant under a selective predicate
    * — measured strictly better than fixed probes at 200 k / 1-in-100
    * (recall@10 0.968 → 1.0 at LOWER wall — GraphProbe filtered sweep,
    * SCALING.md). Seeding cost still tracks the filtered fraction. */
  private def escalatedNProbe(nProbe: Int, predicate: Option[Column],
      centroids: DataFrame): Int = predicate match {
    case None => nProbe
    case Some(p) =>
      val cells = pqCountMemo(pointerStamp("PQINDEX"), "__cells")(
        centroids.count())
      AnnSearch.escalatedProbes(nProbe, filteredCount(p), liveCount, cells)
  }

  /** Search a RETAINED generation ([[nodesAsOf]]) — answer "what would
    * this query have returned before yesterday's batch?" with full
    * snapshot isolation. Served EXACT over the historical table: index
    * generations (graph, PQ/SQ/BQ) deliberately do NOT retain — they are
    * rebuildable serving artifacts, and retaining every tier would
    * multiply the disk window by the index footprint for a read that is
    * rare by nature. An as-of read at 100 TB is a batch audit job, where
    * the exact scan is the honest cost; latency-critical history needs a
    * store opened on a copied snapshot. */
  def searchAsOf(queries: DataFrame, k: Int, version: Long,
      strengthSetting: Double = 50): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    KnnSearch.knnExact(nodesAsOf(version).filter(!col("deleted")),
      queries, k, KnnSearch.scaleThreshold(strengthSetting), params.metric)
  }

  /** BRANCH a retained generation into a NEW store at `destPath`: the
    * historical table materializes as the branch's v0, after which the
    * branch lives its own life (mutations, index builds, retention) with
    * no tie to this store — the "latency-critical history" answer
    * [[searchAsOf]]'s scaladoc points at: build indexes on the branch
    * and serve it like any store. One O(table) parquet write; the
    * branch starts with this store's params and `retainBases`. */
  def branchAsOf(version: Long, destPath: String): VectorStore = {
    val dest = VectorStore.openOrCreate(spark, destPath, params,
      retainBases)
    require(Snapshots.currentWithDeltas(spark, destPath, "CURRENT").isEmpty,
      s"destination $destPath already holds a store")
    nodesAsOf(version).write.mode("overwrite").parquet(s"$destPath/v0")
    graft.util.Fs.writeStringAtomic(spark, s"$destPath/CURRENT", "0")
    dest
  }

  /** One-vector convenience search returning (id, score) rows. */
  def search(vector: Seq[Float], k: Int, strengthSetting: Double): DataFrame = {
    import spark.implicits._
    search(Seq((0L, vector)).toDF("query_id", "query_vec"), k, strengthSetting)
      .select(col("id"), col("score"))
  }

  /** Point lookup — returns tombstoned rows too (driver.ts:309-312). */
  def getNode(id: Long): Option[(Long, Seq[Float], Boolean)] = {
    import spark.implicits._
    // explicit projection: a payload-carrying store's extra columns
    // must not reach the Tuple3 deserializer
    KnnSearch.pointLookup(nodes, lit(id))
      .select(col("id"), col("vector"), col("deleted"))
      .as[(Long, Seq[Float], Boolean)].collect().headOption
  }

  /** Index generations: each (re)build/merge writes a fresh
    * `index_g{N}` directory, then atomically flips the `INDEX` pointer
    * file (write-temp + rename-overwrite) — readers resolve the pointer
    * and always see a complete generation; there is never a moment with
    * no live index during a swap. The pointer uses the Snapshots
    * two-token convention: `"N"` = base generation N; `"N K"` = base N
    * overlaid by merge deltas 1..K (`index_g{N}_delta_{k}` dirs — the
    * streaming ingest's O(|Δ|) graph fold, [[appendIndexGraphDelta]]). */
  private def currentIndexState: Option[(Long, Long)] =
    Snapshots.currentWithDeltas(spark, path, "INDEX")
  private def currentIndexGen: Option[Long] = currentIndexState.map(_._1)
  private def indexDir(gen: Long): String = s"$path/index_g$gen"
  private def graphDeltaDir(gen: Long, k: Long): String =
    s"$path/index_g${gen}_delta_$k"
  private def flipIndexPointer(newGen: Long,
      old: Option[(Long, Long)]): Unit = {
    graft.util.Fs.writeStringAtomic(spark, s"$path/INDEX", newGen.toString)
    // old generation + its delta chain are unreferenced now; best-effort
    // cleanup (a crash here leaks a directory, never correctness)
    old.foreach { case (g, dk) =>
      (1L to dk).foreach(i =>
        graft.util.Fs.deleteRecursive(spark, graphDeltaDir(g, i)))
      graft.util.Fs.deleteRecursive(spark, indexDir(g))
    }
  }

  /** The SERVED graph: base generation overlaid by any pending merge
    * deltas — the graph analog of [[pqOverlay]]. Node rows resolve
    * latest-wins by id. Edge rows resolve by the merge-delta contract
    * ([[operators.IndexBuild.mergeDelta]]): a delta REPLACES the entire
    * adjacency of its `replacedSrcs` (later version wins per source) and
    * STALES every older edge pointing at a delta id (the node moved or
    * died) — so the overlay reproduces exactly what sequential full
    * merges would have produced, row for row (GraphDeltaSpec pins the
    * equivalence). Overlay work is one narrow version-stamped pass;
    * the delta-sized side tables broadcast. */
  private def loadIndexOverlay(): (DataFrame, DataFrame, IndexParams) = {
    val (n, e, _, p) = loadIndexOverlayFull()
    (n, e, p)
  }

  /** [[loadIndexOverlay]] plus the SERVED bucket-membership relation
    * (layer, b, id) — the generation's `memb` table ⊕ per-delta memb
    * rows, retired by the same latest-wins node-delta versions as the
    * node overlay. The memb chain is what makes a streamed graph batch
    * fully O(|Δ|): [[appendIndexGraphDelta]] hands it to
    * [[operators.IndexBuild.mergeDelta]] instead of letting the merge
    * recompute every live node's nBands × bucketBits hyperplane
    * projections per batch. Generations/deltas written before the chain
    * existed fall back to that recomputation (the pre-chain behavior);
    * the next compaction writes the table and upgrades the store. */
  private val overlayMemo = new Artifacts.LatestStamp[
    (DataFrame, DataFrame, DataFrame, IndexParams)](_ => ())
  // memoized per INDEX pointer stamp: the chain-presence overlay pays ~3
  // eager localCheckpoint jobs per LOAD (delta-sized relations that
  // serving re-executes ~4×/call if left lazy) — a serving process
  // re-issuing queries through an UNCHANGED chain reuses the
  // already-checkpointed relations and the fixed per-serve overlay cost
  // disappears after the first call. Any mutation flips the pointer →
  // new stamp → fresh overlay; stale stamps are released without an
  // unpersist (their checkpointed blocks unpersist with GC, their
  // base-side scans point at dirs the prune may reclaim post-grace).
  private def loadIndexOverlayFull()
      : (DataFrame, DataFrame, DataFrame, IndexParams) =
    overlayMemo(pointerStamp("INDEX"), "overlay")(computeIndexOverlayFull())

  private def computeIndexOverlayFull()
      : (DataFrame, DataFrame, DataFrame, IndexParams) = {
    val (v, k) = currentIndexState.getOrElse(
      throw new IllegalStateException(
        s"no ANN index under $path — call rebuild() first"))
    val (n0, e0, p) = IndexBuild.load(spark, indexDir(v))
    val membBase = s"${indexDir(v)}/memb"
    if (k == 0L) {
      val memb =
        if (Fs.exists(spark, membBase)) spark.read.parquet(membBase)
        else IndexBuild.membershipNarrow(n0, p)
      (n0, e0, memb, p)
    }
    else {
      val wMax = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
      // ONE multi-path scan per chain table ([[Snapshots.readChain]]) —
      // overlay plan size, and serve latency, stay FLAT in chain length.
      // The chain-derived relations are DELTA-sized by contract, so they
      // localCheckpoint eagerly (one small job per overlay load): a
      // serving query's frontier walk executes the overlay plan several
      // times per call, and left lazy each execution re-lists and
      // re-reads the chain + re-derives the distinct/groupBy sides.
      // The BASE side stays lazy — materializing the corpus per serve
      // call is exactly what must not happen at scale.
      val marker = ".*_delta_(\\d+)/"
      val nodeDeltas = Snapshots.readChain(spark,
          (1L to k).map(i => s"${graphDeltaDir(v, i)}/nodes"), marker)
        .withColumnRenamed("__ds", "__v")
        .localCheckpoint()
      val latestNodes = nodeDeltas
        .withColumn("__mx", max(col("__v")).over(wMax))
        .filter(col("__v") === col("__mx")).drop("__v", "__mx")
      val nodes = n0
        .join(broadcast(nodeDeltas.select(col("id")).distinct()),
          Seq("id"), "left_anti")
        .unionByName(latestNodes.select(n0.columns.map(col).toIndexedSeq: _*))
      val eAll = e0
        .select(col("level"), col("src"), col("dst"), col("score"))
        .withColumn("__v", lit(0L))
        .unionByName(Snapshots.readChain(spark,
            (1L to k).map(i => s"${graphDeltaDir(v, i)}/edges"), marker)
          .select(col("level"), col("src"), col("dst"), col("score"),
            col("__ds").as("__v"))
          .localCheckpoint())
      val repMax = Snapshots.readChain(spark,
          (1L to k).map(i => s"${graphDeltaDir(v, i)}/rsrc"), marker)
        .groupBy(col("id")).agg(max(col("__ds")).as("__rv"))
        .select(col("id").as("src"), col("__rv"))
        .localCheckpoint()
      val dMaxId = nodeDeltas.groupBy(col("id"))
        .agg(max(col("__v")).as("__dv"))
      val dMax = dMaxId.select(col("id").as("dst"), col("__dv"))
      val edges = eAll
        .join(broadcast(repMax), Seq("src"), "left_outer")
        .filter(col("__rv").isNull || col("__rv") <= col("__v"))
        .join(broadcast(dMax), Seq("dst"), "left_outer")
        .filter(col("__dv").isNull || col("__dv") <= col("__v"))
        .select(col("level"), col("src"), col("dst"), col("score"))
      // membership overlay: a touched id's rows come ONLY from its
      // latest node delta (a tombstoning delta wrote none — the id
      // vanishes), exactly the node table's latest-wins rule
      val membOk = Fs.exists(spark, membBase) &&
        (1L to k).forall(i =>
          Fs.exists(spark, s"${graphDeltaDir(v, i)}/memb"))
      val memb =
        if (!membOk) IndexBuild.membershipNarrow(nodes, p)
        else spark.read.parquet(membBase)
          .select(col("layer"), col("b"), col("id"))
          .join(broadcast(nodeDeltas.select(col("id")).distinct()),
            Seq("id"), "left_anti")
          .unionByName(Snapshots.readChain(spark,
              (1L to k).map(i => s"${graphDeltaDir(v, i)}/memb"), marker)
            .join(broadcast(dMaxId), Seq("id"))
            .filter(col("__ds") === col("__dv"))
            .select(col("layer"), col("b"), col("id")))
      (nodes, edges, memb, p)
    }
  }

  /** Fold `dd` (already applied to the node table) into the graph
    * generation as an O(|Δ|) DELTA: compute the merge's replacement
    * parts against the SERVED overlay, write ONE
    * `index_g{N}_delta_{k+1}` directory (delta nodes, replacement
    * adjacency, replaced-source set) and flip the pointer to
    * `"N k+1"` — per-batch graph I/O is delta-sized, never an
    * O(index) generation rewrite. Every `compactEvery` deltas the
    * chain folds into a fresh base ([[compactIndex]]). */
  private def appendIndexGraphDelta(dd: DataFrame, compactEvery: Int)
      : Unit = {
    val (v, k) = currentIndexState.getOrElse(
      throw new IllegalStateException(
        s"no ANN index under $path — call rebuild() first"))
    val (n0, e0, m0, p) = loadIndexOverlayFull()
    // checkpoint the overlay ONCE per batch: the merge-delta computation
    // reads the node side several times (the two vector re-attach joins)
    // and the edge side twice — left lazy, every read re-executes the
    // chain plan, and per-batch wall GROWS with chain length (measured:
    // 29 → 43 s across 4 batches at 50 k). The cached overlay is one
    // pass over base + chain; everything after reads executor-cached
    // blocks. The membership side (m0) has a single consumer inside the
    // merge and stays lazy — it is the persisted chain read that
    // replaced the per-batch corpus-wide projection.
    val n = n0.localCheckpoint()
    val e = e0.localCheckpoint()
    val (deltaN, rsrc, newE) = IndexBuild.mergeDelta(n, e, dd, p, Some(m0))
    val dir = graphDeltaDir(v, k + 1)
    val dN = deltaN.localCheckpoint()
    dN.write.mode("overwrite").parquet(s"$dir/nodes")
    // the delta's own membership rows extend the chain — O(|Δ|) compute
    // and I/O; the overlay retires superseded rows by node-delta version
    IndexBuild.membershipNarrow(dN, p)
      .write.mode("overwrite").parquet(s"$dir/memb")
    val eOut = newE.select(col("layer").as("level"), col("src"),
      col("dst"), col("score")).localCheckpoint()
    eOut.write.mode("overwrite").parquet(s"$dir/edges")
    val rOut = rsrc.localCheckpoint()
    rOut.write.mode("overwrite").parquet(s"$dir/rsrc")
    graft.util.Fs.writeStringAtomic(spark, s"$path/INDEX", s"$v ${k + 1}")
    // free this batch's checkpoint blocks NOW: the overlay checkpoints
    // are CORPUS-sized (nodes + edges), Dataset.unpersist is a
    // CacheManager no-op for checkpointed plans, and GC of the internal
    // RDDs is nondeterministic on a large heap — a streamed sequence of
    // graph folds otherwise accumulates dead generations in the storage
    // pool until eviction churn bends the per-batch wall (IngestProbe
    // 1 M measured 26 → 83 s across 5 batches; flat after this free)
    Seq(n, e, dN, eOut, rOut).foreach(dropCheckpointBlocks)
    if (k + 1 >= compactEvery) compactIndex()
  }

  /** Deterministically drop a `localCheckpoint`'ed relation's storage
    * blocks. They belong to the checkpoint's internal RDD —
    * `Dataset.unpersist` (a CacheManager lookup) never finds them, so
    * without this they survive until a driver GC collects the RDD
    * object, which on a large heap can be batches away. Safe only once
    * nothing will read the relation again (a severed checkpoint is not
    * recomputable). No-op for non-checkpointed plans — but LOUDLY
    * (r16, verdict item 7): this relies on checkpointed plans surfacing
    * as `LogicalRDD` leaves, an internal shape a Spark upgrade could
    * change, and a silent no-op here quietly re-opens the 1 M-ingest
    * storage leak (26 → 83 s/batch, r15 #5). Returns the number of
    * RDD leaves unpersisted so CheckpointRetireSpec can pin that the
    * path actually engages; a zero increments [[checkpointDropMisses]]
    * and warns once per call site's first miss. */
  private[graft] val checkpointDropMisses =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def dropCheckpointBlocks(df: DataFrame): Int = {
    var dropped = 0
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); dropped += 1
      case _ => ()
    }
    if (dropped == 0) {
      val n = checkpointDropMisses.incrementAndGet()
      if (n <= 3) org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "dropCheckpointBlocks found no LogicalRDD leaf to unpersist " +
          "(miss #" + n + ") — checkpoint blocks will only retire via " +
          "driver GC; if this appears after a Spark upgrade the " +
          "ingest-path storage retirement has silently stopped working")
    }
    dropped
  }

  /** Test seam: the served graph (base ⊕ chain) — GraphDeltaSpec pins
    * overlay ≡ sequential-full-merge row equality through it. */
  private[graft] def servedIndex: (DataFrame, DataFrame, IndexParams) =
    loadIndexOverlay()

  /** The served membership overlay (layer, b, id) — test seam:
    * MembershipChainSpec pins chain ≡ fresh-recompute row equality. */
  private[graft] def servedMembership: DataFrame = {
    val (_, _, m, _) = loadIndexOverlayFull()
    m
  }

  /** The raw INDEX pointer ("N" or "N K") — test seam. */
  private[graft] def indexPointer: String =
    graft.util.Fs.readString(spark, s"$path/INDEX").trim

  /** Materialize the graph overlay into a fresh base generation and
    * prune the superseded chain — the [[compactPqIndex]] analog. */
  def compactIndex(): Unit = currentIndexState.foreach { case (v, k) =>
    if (k > 0) {
      val (n, e, m, p) = loadIndexOverlayFull()
      IndexBuild.save(n, e, p, indexDir(v + 1))
      // fold the membership overlay into the new generation's base table
      // (a chain read — or, for a pre-chain store, the one projection
      // that upgrades it)
      m.write.mode("overwrite").parquet(s"${indexDir(v + 1)}/memb")
      flipIndexPointer(v + 1, Some((v, k)))
    }
  }

  /** Compaction (astrovault.ts:87-132): physically drop tombstones, then
    * rebuild + save the ANN index from the compacted table. */
  def rebuild(): Unit = {
    graft.functions.VectorFunctions.register(spark)
    persist(Mutations.compact(nodes))
    // re-resolve AFTER the persist: the pre-persist lineage reads the
    // superseded base dirs persist just pruned; the fresh read also makes
    // the build scan materialized parquet instead of re-deriving the
    // overlay
    val compacted = Mutations.compact(nodes)
    val (n, e) = IndexBuild.build(compacted, params)
    val old = currentIndexState
    val gen = old.map(_._1).getOrElse(-1L) + 1
    IndexBuild.save(n, e, params, indexDir(gen))
    // the generation's bucket-membership table — read back from the
    // just-written nodes so the build lineage doesn't re-execute; one
    // narrow corpus projection at build time buys O(|Δ|) streamed batches
    IndexBuild.membershipNarrow(
        spark.read.parquet(s"${indexDir(gen)}/nodes"), params)
      .write.mode("overwrite").parquet(s"${indexDir(gen)}/memb")
    flipIndexPointer(gen, old)
  }

  /** Incremental index maintenance ([[IndexBuild.merge]]): apply `delta`
    * (id, vector[, deleted]) to the table snapshot AND fold it into the
    * saved ANN index without a full rebuild — O(|Δ|) instead of O(table)
    * per ingest batch.
    *
    * Failure ordering: the merged generation is fully written BEFORE the
    * table snapshot advances, and the pointer flips last — a crash at any
    * step leaves the store retryable (re-running mergeIndex with the same
    * delta merges against the still-current generation; the table upsert
    * is idempotent) and never serves a partial index. */
  def mergeIndex(delta: DataFrame): Unit = {
    graft.functions.VectorFunctions.register(spark)
    val old = currentIndexState.getOrElse(throw new IllegalStateException(
      s"no ANN index under $path — call rebuild() first"))
    val d = validate(delta)
    val dd = if (d.columns.contains("deleted")) d
             else d.withColumn("deleted", lit(false))
    // merge against the SERVED state (any pending streamed delta chain
    // folds into the new full generation here)
    val (n0, e0, p) = loadIndexOverlay()
    val (n1, e1) = IndexBuild.merge(n0, e0, dd, p)
    IndexBuild.save(n1, e1, p, indexDir(old._1 + 1))
    IndexBuild.membershipNarrow(
        spark.read.parquet(s"${indexDir(old._1 + 1)}/nodes"), p)
      .write.mode("overwrite").parquet(s"${indexDir(old._1 + 1)}/memb")
    persist(Mutations.upsert(nodes, dd))
    flipIndexPointer(old._1 + 1, Some(old))
  }

  /** ANN search against the last rebuilt/merged index (LSH path). A
    * `predicate` pre-filters the node side before bucketing (the a21
    * placement rule) and escalates to occupied-bucket multi-probe
    * ([[operators.AnnSearch.searchLshKeyed]]) from the memoized
    * filtered/live counts — the LSH analog of [[searchAnnSeededIvf]]'s
    * probe escalation, with 2^bucketBits buckets per band as the cap. */
  def searchAnn(queries: DataFrame, k: Int, strengthSetting: Double = 50,
      predicate: Option[Column] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val (n, _, p) = loadIndexOverlay()
    val pb = predicate match {
      case None => 1
      case Some(pr) =>
        // cap = the occupancy bound: sign-bit bands have ≤ 2^bits
        // buckets; p-stable integer cells are unbounded, so the bound is
        // the filtered members themselves (over-escalation is harmless —
        // the rank window stops at the buckets that exist). Base 3 =
        // the ≥3×/sel multiplier the SCALING.md ladder measured (1×/sel
        // under-probes at moderate selectivity, recall 0.76–0.835).
        val f = filteredCount(pr)
        val cap = if (p.metric == "euclidean") math.max(1L, f)
          else 1L << p.bucketBits
        AnnSearch.escalatedProbes(3, f, liveCount, cap)
    }
    AnnSearch.searchLsh(n, queries, k,
      KnnSearch.scaleThreshold(strengthSetting), p,
      idFilter = filteredIds(predicate), probeBuckets = pb,
      // probe a filter-shrunk band in FULL when it holds ≤ 10 × budget
      // occupied buckets — exact over the filtered subset by
      // construction (AnnSearch.searchLshKeyed's probe-all clause)
      probeAllOcc = if (predicate.isEmpty) 0
        else math.min(10L * pb, Int.MaxValue.toLong).toInt)
  }

  /** LSH-seeded graph search against the saved index — the recall tier
    * above [[searchAnn]] at the cost of `iters` extra frontier
    * expansions over the stored adjacency
    * ([[operators.AnnSearch.searchGraphSeeded]]; expansions can only
    * improve on the LSH seeds, and the hybrid needs no cross-graph
    * routing, the property that survives scale — SCALING.md). */
  def searchAnnSeeded(queries: DataFrame, k: Int,
      strengthSetting: Double = 50, ef: Int = 64, iters: Int = 2,
      predicate: Option[Column] = None,
      seedProjDim: Int = 0): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val (n, e, p) = loadIndexOverlay()
    // the filtered-walk contract puts the recall on the SEED probe —
    // escalate it exactly like [[searchAnn]] (base 3, probe-all at 10×)
    val pb = predicate match {
      case None => 1
      case Some(pr) =>
        val f = filteredCount(pr)
        val cap = if (p.metric == "euclidean") math.max(1L, f)
          else 1L << p.bucketBits
        AnnSearch.escalatedProbes(3, f, liveCount, cap)
    }
    AnnSearch.searchGraphSeeded(n, e, queries, k,
      KnnSearch.scaleThreshold(strengthSetting), p, ef, iters,
      idFilter = filteredIds(predicate),
      seedProbeBuckets = pb,
      seedProbeAllOcc = if (predicate.isEmpty) 0
        else math.min(10L * pb, Int.MaxValue.toLong).toInt,
      // JL-projected seeding is OPT-IN (`seedProjDim`), not a dim-gated
      // default: on the iid-noise 384 fixture it measured strictly worse
      // than plain seeding (14.1 s / 0.485 vs 12.6 s / 0.613 — JL
      // distortion dominates when variance doesn't concentrate), and
      // wins only when the corpus has low effective dimension
      // (SCALING.md r14 lowdim rows) — a property of the data the
      // facade can't assume
      seedProjDim = seedProjDim)
  }

  /** The hot-bucket seeded tier: graph expansions seeded from the
    * PERSISTED residual-PQ generation's coarse quantizer (centroids +
    * build-time assignments — [[buildPqIndex]]'s artifact, reused
    * instead of re-assigning the corpus). Clustered corpora keep
    * cluster-sized LSH buckets at any bits setting, so
    * [[searchAnnSeeded]]'s seeding scan grows with the hottest bucket;
    * this tier's seeding is O(Q × nProbe × n/cells) by construction
    * (SCALING.md measures the crossover at 500 k). Requires both the
    * ANN graph generation and a PQ generation. nProbe default 32 — the
    * measured knee of the 500 k multi-probe curve (recall@10 0.902 at
    * 3.5–5.1 s serving; 8 probes gave only 0.654 — SCALING.md). */
  def searchAnnSeededIvf(queries: DataFrame, k: Int,
      strengthSetting: Double = 50, ef: Int = 64, iters: Int = 2,
      nProbe: Int = 32, predicate: Option[Column] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val (n, e, p) = loadIndexOverlay()
    val pre = loadPqIndex()
    AnnSearch.searchGraphSeededIvf(n, e, queries, k,
      KnnSearch.scaleThreshold(strengthSetting), p, pre.centroids,
      ef, iters, escalatedNProbe(nProbe, predicate, pre.centroids),
      assignments = Some(pre.assignments
        .join(n.select(col("id"), col("vector")), Seq("id"))),
      idFilter = filteredIds(predicate))
  }

  /** One-call adaptive serving — the production entry point that wires
    * [[operators.AdaptiveSearch]] to THIS store's persisted artifacts:
    * corpus stats (size + hot-bucket share) pick the arm, the saved ANN
    * graph upgrades the LSH/IVF arms to their seeded hybrids, and a
    * persisted PQ generation serves the past-the-memory-cutoff arm —
    * all without the caller naming a strategy. Returns the chosen
    * strategy alongside the result (observability); every arm honors
    * the (query_id, id, score, rn) + threshold contract, so consumers
    * never branch. Cutoffs are exposed for tuning/testing; defaults are
    * the measured SCALING.md crossovers. */
  def searchAuto(queries: DataFrame, k: Int, strengthSetting: Double = 50,
      exactCutoff: Long = 50000, skewCutoff: Double = 0.05,
      pqCutoff: Long = 5000000L, predicate: Option[Column] = None,
      queryCount: Long = -1L)
      : (AdaptiveSearch.Strategy, DataFrame) = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    val graph = currentIndexState.map { _ =>
      val (n, e, _) = loadIndexOverlay()
      (n, e)
    }
    val pq =
      if (Fs.exists(spark, s"$path/PQINDEX")) Some(servingPqIndex()) else None
    AdaptiveSearch.search(nodes, queries, k,
      KnnSearch.scaleThreshold(strengthSetting), params,
      exactCutoff = exactCutoff, skewCutoff = skewCutoff,
      pqCutoff = pqCutoff, prebuiltPq = pq, prebuiltGraph = graph,
      idFilter = filteredIds(predicate),
      idFilterCount = predicate.map(filteredCount),
      statsHint = Some(memoStats()),
      queryCount = queryCount)
  }

  // ---- auxiliary snapshot chains (documents / token vectors) ----------
  // Same versioned-parquet + atomic-pointer layout as the node table, one
  // chain per table kind — readers always see a complete snapshot.

  private def currentAux(pointer: String): Option[Long] =
    graft.util.Snapshots.current(spark, path, pointer)
  private def persistAux(prefix: String, pointer: String, df: DataFrame)
      : Unit = {
    graft.util.Snapshots.persist(spark, path, prefix, pointer, df)
    ()
  }
  private def loadAux(prefix: String, pointer: String, what: String)
      : DataFrame =
    graft.util.Snapshots.load(spark, path, prefix, pointer, what)

  /** Replace the store's document corpus snapshot — (doc_id, text) plus
    * any payload columns. The lexical side of the retrieval tower. */
  def putDocuments(docs: DataFrame): Unit = {
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"documents need (doc_id, text); got ${docs.columns.mkString(",")}")
    persistAux("docs", "DOCS", docs)
  }
  def documents: DataFrame = loadAux("docs", "DOCS", "documents")

  /** Replace the store's per-token vector snapshot —
    * (doc_id, vec_id, vector), MANY rows per doc. The late-interaction
    * side of the retrieval tower. */
  def putTokenVectors(tv: DataFrame): Unit = {
    require(Seq("doc_id", "vec_id", "vector").forall(tv.columns.contains),
      s"token vectors need (doc_id, vec_id, vector); got " +
        tv.columns.mkString(","))
    persistAux("tokvecs", "TOKVECS", tv)
  }
  def tokenVectors: DataFrame = loadAux("tokvecs", "TOKVECS", "token vectors")

  // ---- the retrieval tower -------------------------------------------

  /** BM25 lexical top-k over the stored documents. `queryDocs` is a
    * (query_id, text) bag-of-words relation; output
    * (query_id, id, score, rn) — [[operators.Retrieval.bm25TopK]].
    * `predicate` (over document columns) restricts the corpus BEFORE
    * scoring — PRE-filter semantics: N, df, avgdl and every idf
    * recompute on the subset ("search within this source"), the t34
    * hash-checked contract; work shrinks with the filtered fraction. */
  def searchBm25(queryDocs: DataFrame, topK: Int,
      predicate: Option[Column] = None): DataFrame = predicate match {
    // PRE-filter semantics recompute every stat on the subset, so the
    // corpus-wide postings cannot serve a filtered call
    case Some(p) => Retrieval.bm25TopK(documents.filter(p), queryDocs, topK)
    case None => Retrieval.bm25Serve(servingPostings(), queryDocs, topK)
  }

  /** The corpus-wide BM25 posting table, derived once per DOCS snapshot
    * and cached for every unfiltered lexical serve (the
    * [[servingPqIndex]] memo rule applied to the lexical tower: an
    * inverted index is an index BUILD artifact — r15 measured every
    * `searchBm25`/`searchHybrid*` call re-tokenizing the stored corpus
    * and re-running both postings windows per serve). Cached with
    * parquet-backed lineage (MEMORY_AND_DISK, the pqBasePackedMemo
    * trade: block loss recomputes instead of failing the serve);
    * superseded snapshots unpersist on eviction so a document-churning
    * server holds ONE postings relation. */
  private val postingsMemo =
    new Artifacts.LatestStamp[DataFrame](_.unpersist(blocking = false))
  private def servingPostings(): DataFrame = {
    val stampV = currentAux("DOCS").getOrElse(
      throw new IllegalStateException(
        s"no documents under $path — call putDocuments() first"))
    // build from the STAMPED snapshot directory, not the mutable
    // `documents` pointer: a concurrent putDocuments between the stamp
    // read and the corpus read would otherwise cache postings built
    // from one snapshot under the other's stamp
    postingsMemo(stampV.toString, "postings")(
      Retrieval.bm25Postings(spark.read.parquet(
          graft.util.Snapshots.versionPath(path, "docs", stampV)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Hybrid retrieval: BM25 over the stored documents fused with exact
    * vector kNN over the store's vector table by reciprocal-rank fusion —
    * the standard two-tower serving shape. `queryDocs` (query_id, text)
    * and `queryVecs` (query_id, query_vec) must share query_ids; doc ids
    * and vector ids must share the id space for fusion to be meaningful.
    * Output (query_id, id, rrf_r, rn). */
  /** `docPredicate` / `vecPredicate` pre-filter the lexical and dense
    * sides respectively (each over its own table's columns — documents
    * carry `doc_id`, the node table carries `id`); both sides keep the
    * exact filtered-subset semantics of [[searchBm25]]/[[searchWhere]]. */
  def searchHybrid(queryDocs: DataFrame, queryVecs: DataFrame, topK: Int,
      strengthSetting: Double = 0,
      docPredicate: Option[Column] = None,
      vecPredicate: Option[Column] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val lexical = searchBm25(queryDocs, topK, docPredicate)
    val dense = vecPredicate
      .map(p => searchWhere(queryVecs, topK, p, strengthSetting))
      .getOrElse(search(queryVecs, topK, strengthSetting))
    Retrieval.rrfFuse(lexical, dense, topK)
  }

  /** ColBERT-style late interaction over the stored token vectors —
    * exact MaxSim ([[operators.Retrieval.maxSimTopK]]). `queryVecs` =
    * (query_id, qvec_id, query_vec). Output (query_id, doc_id, score, rn).
    * `predicate` (over token-vector columns, e.g. `doc_id`) restricts
    * the scored corpus before any similarity work. */
  def searchMaxSim(queryVecs: DataFrame, topK: Int,
      predicate: Option[Column] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Retrieval.maxSimTopK(
      predicate.map(tokenVectors.filter).getOrElse(tokenVectors),
      queryVecs, topK)
  }

  /** The serving-scale MaxSim: token-ANN shortlist then exact re-rank
    * ([[operators.Retrieval.maxSimRerank]]), with anchor hyperplanes
    * derived POSITIONALLY from the stored token vectors — the first
    * `nBands·bits` rows in (doc_id, vec_id) order
    * ([[graft.queries.AnnQueries.anchorPlanesPositional]]), so the store
    * places no dense/0-based/globally-unique contract on vec_ids (natural
    * per-doc token numbering and hashed ids work alike). */
  def searchMaxSimAnn(queryVecs: DataFrame, topK: Int,
      tokenHitsPerQvec: Int = 8, nBands: Int = 4, bits: Int = 3,
      predicate: Option[Column] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    // `predicate` (over token-vector columns, e.g. doc_id) restricts the
    // token corpus BEFORE banding — the tower's subset-semantics rule
    // ([[searchBm25]] recomputes idf on the filtered subset): the anchor
    // planes derive from the FILTERED token vectors, so the shortlist
    // geometry indexes exactly the subset the query searches within,
    // results are ⊆ the filter by construction, and both the banding
    // scan and the re-rank shrink with the filtered fraction.
    val tv = predicate.map(tokenVectors.filter).getOrElse(tokenVectors)
    val anchors = graft.queries.AnnQueries.anchorPlanesPositional(
      tv, nBands, bits)
    Retrieval.maxSimRerank(tv, queryVecs, topK, tokenHitsPerQvec, anchors)
  }

  /** Streaming near-dup monitor over an incoming embedding stream
    * ((doc_id, vector) rows), anchored on THIS store's vectors: the LSH
    * band planes derive from the first `nBands·bits` live node vectors
    * in id order, so the bucket geometry is a pure function of the
    * stored corpus (re-opening the store reproduces it). Flags each
    * arrival that cosine-matches a bucket representative above `tau` in
    * any band — the ingest-side gate that keeps near-duplicate vectors
    * from ever entering the table ([[graft.streaming.StreamingNearDedup]]
    * carries the state-size and determinism contract). */
  def nearDupMonitor(stream: DataFrame, tau: Double = 0.9,
      nBands: Int = 4, bits: Int = 3, maxReps: Int = 64,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      : org.apache.spark.sql.Dataset[graft.streaming.NearDupOut] = {
    graft.functions.VectorFunctions.register(spark)
    val need = nBands * bits
    val planes = Mutations.compact(nodes).orderBy(col("id"))
      .limit(need).select(col("vector")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(planes.length == need,
      s"need $need live vectors for $nBands x $bits anchor planes; " +
        s"store has only ${planes.length}")
    val anchors = planes.grouped(bits).map(_.toSeq).toSeq
    graft.streaming.StreamingNearDedup.dedupNear(stream, anchors, tau,
      maxReps, ttl)(spark)
  }

  // ---- residual IVF-PQ index lifecycle -------------------------------
  //
  // The compressed generations (PQ / SQ / BQ) are build-once artifacts
  // whose EXPENSIVE part — codebooks, bounds — freezes at build time.
  // Vector churn folds in as O(|Δ|) deltas on the Snapshots chain:
  // append = encode the delta with the FROZEN artifacts (the scale form
  // of the reference's updatePoint, hnsw.ts:497-517 — re-link the
  // changed point, never rebuild the structure), behind the same atomic
  // pointer the base generation uses. A drift gate (quantization-error
  // ratio vs build time) flags when frozen artifacts have decayed and a
  // retrain is due — without it, silent distribution drift would erode
  // recall with no signal. At 100 TB this is the difference between
  // paying O(batch) per ingest and a full retrain + re-encode of the
  // corpus for 0.1% daily churn.
  //
  // Read contract across flips: every search call RE-RESOLVES the
  // pointer, so a call sees one complete generation end-to-end. A
  // DataFrame planned before a rebuild/compaction and executed after it
  // can race the best-effort prune of the superseded directories (same
  // caveat as the graph-index flip); long-lived readers should either
  // re-plan per call (what every facade method does) or deploy with a
  // retention window (the StreamingIngest retainVersions pattern) —
  // crash-safety is unaffected either way, the pointer flip is atomic.

  private def currentPqGen: Option[Long] =
    currentAux("PQINDEX")
  private def pqDir(gen: Long): String =
    Snapshots.versionPath(path, "pq", gen)

  /** Build + persist the residual IVF-PQ index from the current table
    * (coarse centroids, cell assignments, residual codebooks, codes —
    * the [[operators.AdaptiveSearch.PqPrebuilt]] artifact) plus the
    * build-time mean quantization error (`_STATS` — the
    * [[appendPqIndex]] drift gate's baseline), then atomically flip the
    * PQINDEX pointer (single-token: any delta chain of the previous
    * generation is dereferenced and pruned). [[searchPq]] serves from
    * the persisted generation without re-training.
    *
    * SAMPLE-BOUNDED TRAINING (`maxTrain`): coarse centroids and
    * residual codebooks train on a deterministic lowest-salted-hash
    * sample of at most ~`maxTrain` live rows (the [[operators.Sampling]]
    * hash idiom — partitioning-invariant, reproducible), then the FULL
    * corpus is assigned and encoded against the trained artifacts. The
    * expensive part of a quantizer build is the Lloyd iterations, whose
    * quality saturates far below corpus size (k·ksub centroids fit a
    * bounded sample) — so build cost past `maxTrain` rows grows only
    * with the one assign+encode pass, not with iters × corpus
    * (SCALING.md measures the 200 k/500 k drop and recall parity).
    *
    * `codebookMode = "sample"` replaces TRAINED artifacts with plain
    * data selection ([[operators.IvfIndex.sampleCodebook]] +
    * [[operators.PqIndex.sampleCodebooks]], `ksub` entries): the
    * externally-reproducible bootstrap — an external engine re-derives
    * every artifact, assignment and code from the same parquet (the a23
    * facade-lifecycle oracle requires it). "trained" (default) is the
    * quality path. */
  def buildPqIndex(cells: Int = 256, iters: Int = 3,
      maxTrain: Int = 100000, codebookMode: String = "trained",
      ksub: Int = 256): Unit = {
    graft.functions.VectorFunctions.register(spark)
    val mSub = PqIndex.subspaces(params.dim)
    require(params.dim % mSub == 0,
      s"dim ${params.dim} not divisible by $mSub subspaces")
    require(codebookMode == "trained" || codebookMode == "sample",
      s"codebookMode $codebookMode (trained|sample)")
    val subLen = params.dim / mSub
    val live = Mutations.compact(nodes).localCheckpoint()
    val nLive = live.count()
    val k = math.min(cells, math.max(16, math.sqrt(nLive.toDouble).toInt))
    val trainSet =
      if (nLive <= maxTrain) live
      else live.filter(
        pmod(xxhash64(col("id"), lit(0x5EEDL)), lit(1000000L))
          < lit(math.ceil(maxTrain.toDouble / nLive * 1000000L).toLong))
    val centroids =
      if (codebookMode == "sample") IvfIndex.sampleCodebook(live, k)
      else IvfIndex.train(trainSet, k, iters)
    // flat assign is n × k candidate volume — an n^1.5 term at the
    // k = √n regime (the 6 M-doc flagship measured 833.9 s vs the
    // two-level's 148.8 — SCALING.md); past k = 256 use the two-level
    // assignment ([[IvfIndex.assignHierarchical]], ~2n√k). Harness-scale
    // builds (k ≤ 256) keep the exact flat argmax — hash rows unchanged.
    val asg = (if (k > 256) IvfIndex.assignHierarchical(live, centroids)
        else IvfIndex.assign(live, centroids))
      .select(col("id"), col("cell")).localCheckpoint()
    // localCheckpoint: `res` feeds codebook training, encode AND the QE
    // baseline below — without it the corpus-wide residual derivation
    // (compact → assign → residuals) re-executes per consumer, the
    // lazy-chain recompute pattern assemble() was fixed for
    val res = PqIndex.residuals(live, asg, centroids)
      .select(col("id"), col("vector")).localCheckpoint()
    // codebooks train on the SAMPLE's residuals only (every id in
    // trainSet is in live, so the semi-join restricts res to the sample)
    val resTrain =
      if (nLive <= maxTrain) res
      else res.join(trainSet.select(col("id")), Seq("id"), "left_semi")
    val rcb =
      if (codebookMode == "sample")
        PqIndex.sampleCodebooks(res, mSub, subLen, ksub)
      else PqIndex.trainCodebooks(resTrain, mSub, subLen, ksub, iters = 1)
    val codes = PqIndex.encode(res, rcb, mSub, subLen)
    val old = Snapshots.currentWithDeltas(spark, path, "PQINDEX")
    val gen = old.map(_._1).getOrElse(-1L) + 1
    val dir = pqDir(gen)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    asg.write.mode("overwrite").parquet(s"$dir/assignments")
    rcb.write.mode("overwrite").parquet(s"$dir/codebooks")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    // drift baseline: checkpointed residuals + the WRITTEN codebook/code
    // artifacts — every corpus-sized input is a cached-block or parquet
    // reload, nothing re-derives the build lineage
    val qe = PqIndex.meanQeMicro(res,
      spark.read.parquet(s"$dir/codebooks"),
      spark.read.parquet(s"$dir/codes"), mSub, subLen)
    Fs.writeStringAtomic(spark, s"$dir/_STATS", qe.toString)
    // serving-shaped codes written AT BUILD TIME (from the just-written
    // parquet, not the encode lineage): the (id, codes) pack is an
    // n×m-row groupBy — paid once here, where the build already holds
    // the rows, instead of by the FIRST serve of every generation and
    // every process restart (the 101 s cold-serve term at 10 M).
    // [[servingPqIndex]] reads this table when present; generations
    // written before it exists fall back to packing on first serve.
    PqIndex.packCodes(spark.read.parquet(s"$dir/codes"))
      .write.mode("overwrite").parquet(s"$dir/codes_packed")
    // build args ride the generation so a drift-triggered retrain
    // ([[startIngest]] autoRetrain) replays THIS build's parameters
    Fs.writeStringAtomic(spark, s"$dir/_ARGS",
      s"$cells $iters $maxTrain $codebookMode $ksub")
    Fs.writeStringAtomic(spark, s"$path/PQINDEX", gen.toString)
    old.foreach { case (g, dk) => Snapshots.prune(spark, path, "pq", g, dk) }
    live.unpersist()
    ()
  }

  /** Rebuild the PQ generation with the CURRENT generation's recorded
    * build args (falls back to defaults when the generation predates
    * arg recording) — the autoRetrain action: a full retrain + flip;
    * appends continue serving the old generation until the flip. */
  private def retrainPq(): Unit = {
    val args = currentPqGen.map(pqDir).filter(d =>
        Fs.exists(spark, s"$d/_ARGS"))
      .map(d => Fs.readString(spark, s"$d/_ARGS").trim.split("\\s+"))
    args match {
      case Some(Array(c, i, mt, mode, ks)) =>
        buildPqIndex(c.toInt, i.toInt, mt.toInt, mode, ks.toInt)
      case _ => buildPqIndex()
    }
  }

  /** ONE delta schema for every compressed family (PQ / SQ / BQ): each
    * delta row carries the served columns plus a `deleted` BOOLEAN —
    * tombstone rows have `deleted = true` (placeholder values in the
    * served columns, never read). [[resolvedDelta]] collapses a chain to
    * each id's rows from its LATEST delta; the per-family overlays then
    * anti-join the base on touched ids and union the live rows back in —
    * overlay work proportional to delta rows, the base-sized side one
    * anti-join probe. A single schema + a single resolver means the
    * latest-wins and tombstone semantics cannot drift between families. */
  private def resolvedDelta(prefix: String, v: Long, k: Long)
      : Option[DataFrame] =
    if (k == 0L) None
    else Some {
      val wMax = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
      val raw = Snapshots.readChain(spark,
        (1L to k).map(i => Snapshots.deltaPath(path, prefix, v, i)),
        ".*_delta_(\\d+)/")
      // pre-upgrade PQ chains carried the sub = -1 tombstone convention
      // instead of the shared `deleted` column — synthesize it on read
      // (in a mixed chain, mergeSchema null-fills the column for the old
      // files and the coalesce falls back per row)
      val withDel =
        if (!raw.columns.contains("deleted"))
          raw.withColumn("deleted", col("sub") === -1)
        else if (raw.columns.contains("sub"))
          raw.withColumn("deleted",
            coalesce(col("deleted"), col("sub") === -1))
        else raw
      // delta-sized by contract → eager localCheckpoint: the per-family
      // overlays read the resolved chain several times per serve call
      // (touched-id anti-join + live-row union per table), and left lazy
      // each read re-lists and re-resolves the chain
      withDel
        .withColumn("__mx", max(col("__ds")).over(wMax))
        .filter(col("__ds") === col("__mx"))
        .drop("__ds", "__mx")
        .localCheckpoint()
    }

  /** The PQ generation's served (assignments, codes) pair: base overlaid
    * by pending append deltas ([[resolvedDelta]] semantics — a tombstone
    * retires the id's base rows via the anti-join and never serves). */
  private def pqOverlay(): (DataFrame, DataFrame, String) = {
    val (v, k) = Snapshots.currentWithDeltas(spark, path, "PQINDEX")
      .getOrElse(throw new IllegalStateException(
        s"no PQ index under $path — call buildPqIndex() first"))
    val dir = pqDir(v)
    val baseAsg = spark.read.parquet(s"$dir/assignments")
    val baseCodes = spark.read.parquet(s"$dir/codes")
    resolvedDelta("pq", v, k) match {
      case None => (baseAsg, baseCodes, dir)
      case Some(resolved) =>
        val ids = resolved.select(col("id")).distinct()
        val liveRows = resolved.filter(!col("deleted"))
        (baseAsg.join(ids, Seq("id"), "left_anti")
           .unionByName(liveRows.select(col("id"), col("cell")).distinct()),
         baseCodes.join(ids, Seq("id"), "left_anti")
           .unionByName(liveRows.select(col("id"), col("sub"), col("code"))),
         dir)
    }
  }

  /** Load the persisted residual IVF-PQ index as the dispatcher's
    * prebuilt artifact (assignments/codes overlaid with any pending
    * append deltas). */
  def loadPqIndex(): AdaptiveSearch.PqPrebuilt = {
    val (asg, codes, dir) = pqOverlay()
    AdaptiveSearch.PqPrebuilt(
      spark.read.parquet(s"$dir/centroids"), asg,
      spark.read.parquet(s"$dir/codebooks"), codes)
  }

  /** [[loadPqIndex]] with SERVING-shaped codes: the long (id, sub, code)
    * BASE table packs to one (id, codes) row per vector ONCE per PQINDEX
    * base GENERATION — not once per pointer stamp. Packing is an n×m-row
    * groupBy, and paying it per serve call dominated the 10 M-vector
    * wall (158 s/serve vs a 33 s exact scan); keying the pack by the
    * full "v k" stamp still re-packed the WHOLE corpus on every ingest
    * batch (each [[appendPqIndex]] flips k), which made the first
    * mid-ingest serve at 30 M a 136 s cold call. The base pack now keys
    * by generation v alone and SURVIVES delta flips: a serve under
    * stamp "v k" anti-joins the cached packed base on the delta's
    * touched ids and unions the delta's packed live rows — overlay work
    * proportional to the O(|Δ|) delta chain, the base side one
    * map-side probe of the cached relation (the [[resolvedDelta]]
    * shape, applied post-pack). Generations written since the
    * build-time pack carry a `codes_packed` parquet table
    * ([[buildPqIndex]]/[[compactPqIndex]]), so even the FIRST serve of
    * a generation — or of a restarted process — is a parquet scan, not
    * a groupBy; the in-memory pack survives only as the pre-upgrade
    * fallback.
    *
    * The packed base persists at MEMORY_AND_DISK (~(8 B id + m×4 B
    * codes)/row — the compressed tier itself, the working set a PQ
    * serving process holds by design) KEEPING the parquet-backed
    * lineage: an executor loss or block eviction between serves
    * recomputes the lost blocks from the generation's parquet instead
    * of failing every later serve the way a lineage-truncating
    * localCheckpoint would. Superseded generations unpersist on
    * eviction — a continuous-ingest server would otherwise leak one
    * cached relation per generation. The composed per-stamp artifact is
    * NOT persisted (its base rows are already the cached generation;
    * caching both would double the tier) — it memoizes un-persisted so
    * repeat serves at one stamp skip re-listing and re-resolving the
    * delta chain, and eviction is a plain remove (the localCheckpointed
    * delta blocks die by ContextCleaner weak-ref, the [[overlayMemo]]
    * rule). Lifecycle paths (appends, compaction, drift) keep the
    * long-form [[loadPqIndex]]. */
  private[graft] val pqBasePackedMemo =
    new Artifacts.LatestStamp[DataFrame](_.unpersist(blocking = false))
  private[graft] val pqServingMemo =
    new Artifacts.LatestStamp[AdaptiveSearch.PqPrebuilt](_ => ())
  private[graft] def servingPqIndex(): AdaptiveSearch.PqPrebuilt = {
    val (v, k) = Snapshots.currentWithDeltas(spark, path, "PQINDEX")
      .getOrElse(throw new IllegalStateException(
        s"no PQ index under $path — call buildPqIndex() first"))
    pqServingMemo(s"$v $k", "serving") {
      val dir = pqDir(v)
      val packedBase = pqBasePackedMemo(v.toString, "packed") {
        // generations since the build-time pack ship codes_packed —
        // the base load is then a parquet scan, and the groupBy pack
        // survives only as the pre-upgrade fallback
        val packedDir = s"$dir/codes_packed"
        (if (Fs.exists(spark, packedDir)) spark.read.parquet(packedDir)
         else PqIndex.packCodes(spark.read.parquet(s"$dir/codes")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      val centroids = spark.read.parquet(s"$dir/centroids")
      val codebooks = spark.read.parquet(s"$dir/codebooks")
      val baseAsg = spark.read.parquet(s"$dir/assignments")
      resolvedDelta("pq", v, k) match {
        case None => AdaptiveSearch.PqPrebuilt(
          centroids, baseAsg, codebooks, packedBase)
        case Some(resolved) =>
          val ids = resolved.select(col("id")).distinct()
          val liveRows = resolved.filter(!col("deleted"))
          AdaptiveSearch.PqPrebuilt(
            centroids,
            baseAsg.join(ids, Seq("id"), "left_anti")
              .unionByName(
                liveRows.select(col("id"), col("cell")).distinct()),
            codebooks,
            packedBase.join(ids, Seq("id"), "left_anti")
              .unionByName(PqIndex.packCodes(
                liveRows.select(col("id"), col("sub"), col("code")))))
      }
    }
  }

  /** Fold `delta` (id, vector[, deleted]) into the persisted PQ
    * generation at O(|Δ|) cost: upsert the node table (searches re-rank
    * against full vectors, so codes and vectors move in lockstep — the
    * [[mergeIndex]] rule), assign the delta to its coarse cells and
    * encode its residuals with the generation's FROZEN centroids and
    * codebooks ([[operators.PqIndex.encode]] /
    * [[operators.PqIndex.residuals]] already take them as arguments —
    * this is the lifecycle around those primitives), and append ONE
    * (id, cell, sub, code, deleted) delta behind the atomic PQINDEX
    * pointer (`deleted = true` rows tombstone their ids — the shared
    * delta schema, [[resolvedDelta]]). Every `compactEvery` appends the
    * chain folds ([[compactPqIndex]]).
    *
    * Returns the drift gate's verdict: the delta's mean quantization
    * error under the frozen codebooks vs the build-time baseline —
    * `retrainRecommended` when the ratio exceeds `driftRatioMax`
    * (frozen codebooks no longer fit the incoming distribution; callers
    * schedule [[buildPqIndex]]). The baseline enters the ratio floored
    * at `qeFloorMicro`: a degenerate build whose corpus the codebooks
    * memorize exactly (QE 0 — possible when the corpus is no larger
    * than ksub) must not make EVERY nonzero-QE delta read as infinite
    * drift. Appending is retryable: re-running with the same delta is
    * idempotent (latest-wins by id on both the node table and the
    * chain). */
  def appendPqIndex(delta: DataFrame, driftRatioMax: Double = 2.0,
      compactEvery: Int = 8,
      qeFloorMicro: Long = 1000L): VectorStore.CompressedAppendStats = {
    val dd = (if (delta.columns.contains("deleted")) delta
              else delta.withColumn("deleted", lit(false)))
      .localCheckpoint()
    validate(dd.filter(!col("deleted")))
    persist(Mutations.upsert(nodes, dd))
    appendPqCodes(dd, driftRatioMax, compactEvery, qeFloorMicro)
  }

  /** The codes-only half of [[appendPqIndex]] — `dd` (id, vector,
    * deleted) must ALREADY be reflected in the node table (the
    * streaming ingest path applies the batch to the table once, then
    * folds the same delta into every existing compressed tier). */
  private def appendPqCodes(dd: DataFrame, driftRatioMax: Double,
      compactEvery: Int, qeFloorMicro: Long)
      : VectorStore.CompressedAppendStats = {
    graft.functions.VectorFunctions.register(spark)
    val (v, k) = Snapshots.currentWithDeltas(spark, path, "PQINDEX")
      .getOrElse(throw new IllegalStateException(
        s"no PQ index under $path — call buildPqIndex() first"))
    val dir = pqDir(v)
    val mSub = PqIndex.subspaces(params.dim)
    val subLen = params.dim / mSub
    val liveD = dd.filter(!col("deleted")).select(col("id"), col("vector"))
    val tombD = dd.filter(col("deleted")).select(col("id"))
    val centroids = spark.read.parquet(s"$dir/centroids")
    val rcb = spark.read.parquet(s"$dir/codebooks")
    val asg = IvfIndex.assign(liveD, centroids)
      .select(col("id"), col("cell"))
    val res = PqIndex.residuals(liveD, asg, centroids)
      .select(col("id"), col("vector")).localCheckpoint()
    val codes = PqIndex.encode(res, rcb, mSub, subLen).localCheckpoint()
    val combined = codes
      .join(asg, Seq("id"))
      .select(col("id"), col("cell"), col("sub"), col("code"),
        lit(false).as("deleted"))
      .unionByName(tombD.select(col("id"), lit(-1).as("cell"),
        lit(-1).as("sub"), lit(-1).as("code"), lit(true).as("deleted")))
    Snapshots.appendDelta(spark, path, "pq", "PQINDEX", combined)
    val buildQe = Fs.readString(spark, s"$dir/_STATS").trim.toLong
    val deltaQe = PqIndex.meanQeMicro(res, rcb, codes, mSub, subLen)
    val stats = VectorStore.CompressedAppendStats(
      liveD.count(), tombD.count(), buildQe, deltaQe,
      deltaQe.toDouble >
        math.max(buildQe, qeFloorMicro).toDouble * driftRatioMax)
    if (k + 1 >= compactEvery) compactPqIndex()
    stats
  }

  /** Fold the PQ delta chain into a fresh base generation (frozen
    * centroids/codebooks/_STATS carry over unchanged) and prune the
    * superseded directories — the [[graft.CorpusStore.compactChunkIndex]]
    * analog. */
  def compactPqIndex(): Unit =
    Snapshots.currentWithDeltas(spark, path, "PQINDEX").foreach {
      case (v, k) if k > 0 =>
        val (asg, codes, oldDir) = pqOverlay()
        val dir = pqDir(v + 1)
        spark.read.parquet(s"$oldDir/centroids")
          .write.mode("overwrite").parquet(s"$dir/centroids")
        spark.read.parquet(s"$oldDir/codebooks")
          .write.mode("overwrite").parquet(s"$dir/codebooks")
        asg.write.mode("overwrite").parquet(s"$dir/assignments")
        codes.write.mode("overwrite").parquet(s"$dir/codes")
        // the compacted generation's serving-shaped pack, before the
        // flip (the buildPqIndex rule): the first post-compaction serve
        // reads it instead of re-packing the corpus
        PqIndex.packCodes(spark.read.parquet(s"$dir/codes"))
          .write.mode("overwrite").parquet(s"$dir/codes_packed")
        Fs.writeStringAtomic(spark, s"$dir/_STATS",
          Fs.readString(spark, s"$oldDir/_STATS"))
        Fs.writeStringAtomic(spark, s"$path/PQINDEX", (v + 1).toString)
        Snapshots.prune(spark, path, "pq", v, k)
      case _ => ()
    }

  /** Compressed-index search against the persisted residual IVF-PQ
    * generation: residual ADC shortlist + exact true-metric re-rank,
    * threshold on the reference's 0–100 strength scale — the
    * memory-bounded serving path for corpora whose full vectors no
    * longer fit the scan budget. Output (query_id, id, score, rn) —
    * the same contract as [[search]]/[[searchAnn]].
    *
    * Under a VERY selective `predicate`, prefer [[searchAuto]]: the
    * residual LUT table is per (query, probed cell), so the escalated
    * probe budget grows the one query-side structure that scales with
    * probe count — the dispatcher serves small filtered sets from the
    * exact/IVF arms instead (SCALING.md correlated-predicates 1 M
    * table). */
  def searchPq(queries: DataFrame, k: Int, strengthSetting: Double = 50,
      nProbe: Int = 0, predicate: Option[Column] = None,
      shortlist: Int = 0): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    val pre = servingPqIndex()
    val mSub = PqIndex.subspaces(params.dim)
    val cells = pqCountMemo(pointerStamp("PQINDEX"), "__cells")(
      pre.centroids.count())
    // nProbe = 0 (the default) means AUTO: probe ≥ 1/32 of the
    // generation's cells ([[operators.PqIndex.adaptiveNProbe]]) — the
    // probed FRACTION must not collapse as builds grow cells with √n
    // (≤ 256-cell builds keep 8, the historical default; the 10 M
    // flagship's 1024 cells get the measured knee of 32). An explicit
    // nProbe pins the budget exactly.
    val np = if (nProbe > 0) nProbe else PqIndex.adaptiveNProbe(8, cells)
    // shortlist = 0 (the default) means AUTO: scale the ADC re-rank
    // depth with candidate volume ([[operators.PqIndex
    // .adaptiveShortlist]]) — the recall lever at large n
    // (candidates/query = n·nProbe/cells grows with the corpus while a
    // FIXED 500-deep shortlist keeps a shrinking fraction: the 10 M
    // flagship measured recall@10 0.42 at the old constant default vs
    // 0.765 at 5000/nProbe 32 — SCALING.md UsePq table)
    val baseShort =
      if (shortlist > 0) shortlist
      else PqIndex.adaptiveShortlist(k, liveCount, np, cells)
    // a selective predicate starves BOTH knobs: the coarse probe (probed
    // cells may hold < k MATCHING rows — escalate like the seeded arm)
    // and the ADC shortlist (the re-rank tail keeps the MATCHING
    // candidate volume constant; capped at the filtered count, where the
    // re-rank degenerates to exact-over-the-subset — measured at 1 M:
    // recall 0.485-0.785 fixed-500 → ~1.0 escalated, SCALING.md)
    val short = predicate match {
      case None => baseShort
      case Some(p) =>
        val f = filteredCount(p)
        AnnSearch.escalatedProbes(baseShort, f, liveCount, f)
    }
    val escalNp = escalatedNProbe(np, predicate, pre.centroids)
    // the shortlist ranks by EUCLIDEAN residual ADC for every store
    // metric: the "cosine-consistent" IP + stored-norm estimate
    // ([[operators.PqIndex.searchIvfPqResidualIp]]) was measured and
    // REFUTED as the cosine serving default — at 1 M×64 it trails the
    // euclidean shortlist on BOTH fixtures (iid: 0.555 vs 0.700;
    // lowdim: 0.94 vs 0.945 at the 5000/32 knee; SCALING.md r14 A/B) —
    // the euclidean ADC's implicit −‖r̂‖²/2 magnitude correction beats
    // the IP estimate's unquantized-norm division under real
    // quantization error. The recall lever that works is the SCALED
    // shortlist/probe defaults above.
    PqIndex.searchIvfPqResidualScored(nodes, pre.codes, pre.assignments,
      pre.centroids, pre.codebooks, queries, k,
      shortlist = short, escalNp,
      mSub, params.dim / mSub,
      KnnSearch.scaleThreshold(strengthSetting), params.metric,
      idFilter = filteredIds(predicate))
  }

  /** [[searchPq]] for LARGE query batches — the SCALING.md query-batch
    * walls wired into the facade ([[operators.ChunkedServe]]). The PQ
    * arm carries two structures PROPORTIONAL TO Q that no corpus-side
    * knob bounds: the per-(query, probed-cell) residual LUT
    * (`Q·nProbe·m·ksub·8 B` — 14 GiB at Q = 10 k × dim 384, the
    * measured disk-exhaustion rung) and the exact-rerank re-attach
    * shuffle (`Q·shortlist·dim·4 B` — 77 GB at Q = 100 k × 384). This
    * entry resolves the SAME adaptive knobs [[searchPq]] would, sizes a
    * chunk so both structures fit the byte budgets, serves chunks
    * sequentially with shuffle partitions tracking the chunk's candidate
    * volume (the QueryBatchProbe deployment rule), and returns the
    * union of materialized chunk results — identical rows to one
    * unchunked [[searchPq]] call (per-query independence; the a37
    * oracle row pins it). Small batches short-circuit to one chunk.
    *
    * `queryCount` < 0 counts `queries` here; pass the known Q to skip
    * that job. */
  def searchPqBatched(queries: DataFrame, k: Int,
      strengthSetting: Double = 50, nProbe: Int = 0, shortlist: Int = 0,
      predicate: Option[Column] = None, queryCount: Long = -1L,
      lutBudgetBytes: Long = ChunkedServe.DefaultLutBudgetBytes,
      rerankBudgetBytes: Long = ChunkedServe.DefaultRerankBudgetBytes)
      : DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    val pre = servingPqIndex()
    val cells = pqCountMemo(pointerStamp("PQINDEX"), "__cells")(
      pre.centroids.count())
    val np = if (nProbe > 0) nProbe else PqIndex.adaptiveNProbe(8, cells)
    val short =
      if (shortlist > 0) shortlist
      else PqIndex.adaptiveShortlist(k, liveCount, np, cells)
    val mSub = PqIndex.subspaces(params.dim)
    val ksub = pqCountMemo(pointerStamp("PQINDEX"), "__ksub")(
      pre.codebooks.agg(max(col("code")).cast("long")).head().getLong(0)
        + 1L).toInt
    val rows = ChunkedServe.pqChunkRows(np, mSub, ksub, short,
      params.dim, lutBudgetBytes, rerankBudgetBytes)
    val perQueryBytes = math.max(np.toLong * mSub * ksub * 8L,
      short.toLong * params.dim * 4L)
    val parts = ChunkedServe.volumePartitions(rows * perQueryBytes,
      spark.sparkContext.defaultParallelism)
    ChunkedServe.serveChunked(queries, "query_id", rows, queryCount,
      Some(parts)) { chunk =>
      searchPq(chunk, k, strengthSetting, nProbe = np,
        predicate = predicate, shortlist = short)
    }
  }

  // ---- SQ8 index lifecycle -------------------------------------------

  private def sqDir(gen: Long): String =
    Snapshots.versionPath(path, "sq", gen)
  private def bqDir(gen: Long): String =
    Snapshots.versionPath(path, "bq", gen)

  /** Overlay for an id-keyed packed-row generation (SQ codes / BQ bits):
    * base rows minus delta-touched ids, plus the LATEST delta's live rows
    * per id ([[resolvedDelta]] — the one shared delta schema). Returns
    * (servedRows, baseDir). */
  private def packedOverlay(prefix: String, pointer: String, sub: String,
      buildHint: String): (DataFrame, String) = {
    val (v, k) = Snapshots.currentWithDeltas(spark, path, pointer)
      .getOrElse(throw new IllegalStateException(
        s"no $prefix index under $path — call $buildHint first"))
    val dir = Snapshots.versionPath(path, prefix, v)
    val base = spark.read.parquet(s"$dir/$sub")
    resolvedDelta(prefix, v, k) match {
      case None => (base, dir)
      case Some(resolved) =>
        (base.join(resolved.select(col("id")), Seq("id"), "left_anti")
           .unionByName(resolved.filter(!col("deleted"))
             .select(base.columns.map(col).toIndexedSeq: _*)),
         dir)
    }
  }

  /** Shared append for the bounds-frozen families (SQ / BQ): upsert the
    * node table, encode the live delta rows with the generation's FROZEN
    * bounds via `encodeFn`, append one (id, <packed>, deleted) delta
    * behind the atomic pointer, and report the out-of-bounds drift
    * fraction ([[operators.SqIndex.outOfBoundsMicro]] — build-time OOB
    * is 0 by construction, so the gate is absolute: retrain when the
    * delta's fraction exceeds `oobMicroMax`). */
  private def appendPacked(prefix: String, pointer: String,
      delta: DataFrame, encodeFn: (DataFrame, DataFrame) => DataFrame,
      packedCol: String, packedType: String, oobMicroMax: Long,
      compactEvery: Int,
      compactFn: () => Unit): VectorStore.CompressedAppendStats = {
    val dd = (if (delta.columns.contains("deleted")) delta
              else delta.withColumn("deleted", lit(false)))
      .localCheckpoint()
    validate(dd.filter(!col("deleted")))
    persist(Mutations.upsert(nodes, dd))
    appendPackedCodes(prefix, pointer, dd, encodeFn, packedCol,
      packedType, oobMicroMax, compactEvery, compactFn)
  }

  /** The codes-only half of [[appendPacked]] ([[appendPqCodes]]'
    * contract: `dd` already applied to the node table). */
  private def appendPackedCodes(prefix: String, pointer: String,
      dd: DataFrame, encodeFn: (DataFrame, DataFrame) => DataFrame,
      packedCol: String, packedType: String, oobMicroMax: Long,
      compactEvery: Int,
      compactFn: () => Unit): VectorStore.CompressedAppendStats = {
    val (v, k) = Snapshots.currentWithDeltas(spark, path, pointer)
      .getOrElse(throw new IllegalStateException(
        s"no $prefix index under $path — build it first"))
    val dir = Snapshots.versionPath(path, prefix, v)
    val liveD = dd.filter(!col("deleted")).select(col("id"), col("vector"))
    val tombD = dd.filter(col("deleted")).select(col("id"))
    val bounds = spark.read.parquet(s"$dir/bounds")
    val combined = encodeFn(liveD, bounds)
      .withColumn("deleted", lit(false))
      .unionByName(tombD.select(col("id"),
        expr(s"CAST(array() AS $packedType)").as(packedCol),
        lit(true).as("deleted")))
    Snapshots.appendDelta(spark, path, prefix, pointer, combined)
    val oob = SqIndex.outOfBoundsMicro(liveD, bounds)
    val stats = VectorStore.CompressedAppendStats(
      liveD.count(), tombD.count(), 0L, oob, oob > oobMicroMax)
    if (k + 1 >= compactEvery) compactFn()
    stats
  }

  /** Shared chain fold for the bounds-frozen families: overlaid packed
    * rows become the next base; frozen bounds carry over. */
  private def compactPacked(prefix: String, pointer: String, sub: String,
      buildHint: String): Unit =
    Snapshots.currentWithDeltas(spark, path, pointer).foreach {
      case (v, k) if k > 0 =>
        val (served, oldDir) = packedOverlay(prefix, pointer, sub, buildHint)
        val dir = Snapshots.versionPath(path, prefix, v + 1)
        spark.read.parquet(s"$oldDir/bounds")
          .write.mode("overwrite").parquet(s"$dir/bounds")
        served.write.mode("overwrite").parquet(s"$dir/$sub")
        Fs.writeStringAtomic(spark, s"$path/$pointer", (v + 1).toString)
        Snapshots.prune(spark, path, prefix, v, k)
      case _ => ()
    }

  /** Build + persist the SQ8 index from the current table (per-dimension
    * bounds + packed int codes — [[operators.SqIndex]]), then atomically
    * flip the SQINDEX pointer (single-token — dereferences and prunes
    * any delta chain). The quality-first compressed path: 4× smaller
    * rows, exact-integer symmetric distance, near-exact recall with a
    * shallow re-rank (SCALING.md's 200 k ladder measurement) — and a
    * build that is one min/max pass + one encode, no training. */
  def buildSqIndex(): Unit = {
    val live = Mutations.compact(nodes)
    val bounds = SqIndex.trainBounds(live)
    val codes = SqIndex.encode(live, bounds)
    val old = Snapshots.currentWithDeltas(spark, path, "SQINDEX")
    val gen = old.map(_._1).getOrElse(-1L) + 1
    val dir = sqDir(gen)
    bounds.write.mode("overwrite").parquet(s"$dir/bounds")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    Fs.writeStringAtomic(spark, s"$path/SQINDEX", gen.toString)
    old.foreach { case (g, dk) => Snapshots.prune(spark, path, "sq", g, dk) }
  }

  /** Fold `delta` (id, vector[, deleted]) into the persisted SQ8
    * generation at O(|Δ|) cost — encode with the FROZEN bounds, append
    * behind the atomic pointer, tombstones retire. Returns the
    * out-of-bounds drift verdict (see [[appendPacked]]'s contract). */
  def appendSqIndex(delta: DataFrame, oobMicroMax: Long = 10000L,
      compactEvery: Int = 8): VectorStore.CompressedAppendStats =
    appendPacked("sq", "SQINDEX", delta,
      (d, b) => SqIndex.encode(d, b), "codes", "array<int>",
      oobMicroMax, compactEvery, () => compactSqIndex())

  /** Fold the SQ delta chain into a fresh base generation. */
  def compactSqIndex(): Unit =
    compactPacked("sq", "SQINDEX", "codes", "buildSqIndex()")

  /** SQ8 shortlist + exact re-rank against the persisted generation
    * (codes overlaid with any pending append deltas), threshold on the
    * 0–100 strength scale. Output (query_id, id, score, rn) — the same
    * contract as [[search]]. */
  def searchSq(queries: DataFrame, k: Int, strengthSetting: Double = 50,
      shortlist: Int = 0, predicate: Option[Column] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    val (codes, dir) = packedOverlay("sq", "SQINDEX", "codes",
      "buildSqIndex()")
    SqIndex.searchSqRerankScored(nodes, codes,
      spark.read.parquet(s"$dir/bounds"),
      queries, k,
      shortlist = if (shortlist > 0) shortlist else math.max(100, 10 * k),
      KnnSearch.scaleThreshold(strengthSetting), params.metric,
      idFilter = filteredIds(predicate))
  }

  // ---- BQ (1-bit) index lifecycle ------------------------------------

  /** Build + persist the binary-quantization index (per-dimension bounds
    * + packed sign bits — [[operators.BqIndex]]) as an atomic generation.
    * The memory-extreme option on the facade's compression ladder
    * ([[buildSqIndex]] 4×, [[buildPqIndex]] 32× codes, this 32× with an
    * integer-only scan); serve via [[searchBqStore]] with a deep
    * shortlist — SCALING.md's ladder measurement has the recall trade. */
  def buildBqIndex(): Unit = {
    val live = Mutations.compact(nodes)
    val bounds = SqIndex.trainBounds(live)
    val bits = BqIndex.encode(live, bounds)
    val old = Snapshots.currentWithDeltas(spark, path, "BQINDEX")
    val gen = old.map(_._1).getOrElse(-1L) + 1
    val dir = bqDir(gen)
    bounds.write.mode("overwrite").parquet(s"$dir/bounds")
    bits.write.mode("overwrite").parquet(s"$dir/bits")
    Fs.writeStringAtomic(spark, s"$path/BQINDEX", gen.toString)
    old.foreach { case (g, dk) => Snapshots.prune(spark, path, "bq", g, dk) }
  }

  /** Fold `delta` (id, vector[, deleted]) into the persisted BQ
    * generation at O(|Δ|) cost — the [[appendSqIndex]] contract over
    * sign bits. */
  def appendBqIndex(delta: DataFrame, oobMicroMax: Long = 10000L,
      compactEvery: Int = 8): VectorStore.CompressedAppendStats =
    appendPacked("bq", "BQINDEX", delta,
      (d, b) => BqIndex.encode(d, b), "bits", "array<bigint>",
      oobMicroMax, compactEvery, () => compactBqIndex())

  /** Fold the BQ delta chain into a fresh base generation. */
  def compactBqIndex(): Unit =
    compactPacked("bq", "BQINDEX", "bits", "buildBqIndex()")

  /** Hamming shortlist + exact re-rank against the persisted BQ
    * generation (bits overlaid with any pending append deltas). Output
    * (query_id, id, score, rn) — the [[search]] contract. */
  def searchBqStore(queries: DataFrame, k: Int,
      strengthSetting: Double = 50, shortlist: Int = 0,
      predicate: Option[Column] = None): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    validate(queries, "query_id", "query_vec")
    val (bits, dir) = packedOverlay("bq", "BQINDEX", "bits",
      "buildBqIndex()")
    BqIndex.searchBqRerankScored(nodes, bits,
      spark.read.parquet(s"$dir/bounds"),
      queries, k,
      shortlist = if (shortlist > 0) shortlist else math.max(200, 20 * k),
      KnnSearch.scaleThreshold(strengthSetting), params.metric,
      idFilter = filteredIds(predicate))
  }

  // ---- streaming ingest keeping EVERY serving tier fresh -------------

  /** One ingest micro-batch against every serving tier — the shared body
    * of [[startIngest]]: apply the node table once, then fold the SAME
    * resolved delta into each tier that exists, all at O(batch). */
  private def ingestBatch(batch: DataFrame,
      config: VectorStore.IngestConfig,
      onAppend: (String, VectorStore.CompressedAppendStats) => Unit)
      : Unit = {
    graft.functions.VectorFunctions.register(spark)
    val touched = batch.select(col("id")).distinct()
    // the touched ids' FINAL state this batch, computed against ONLY
    // their prior rows (applyBatch semantics are per-id, so restricting
    // the state input to the touched ids is exact) — O(batch) compute,
    // O(batch) node persistence ([[appendNodeDelta]]). Live rows encode;
    // tombstoned rows retire their codes; a delete for an id the store
    // never held resolves to no row at all — nothing to retire.
    val deltaRows = graft.streaming.StreamingIngest
      .applyBatch(nodes.join(touched, Seq("id"), "left_semi"), batch)
      .localCheckpoint()
    appendNodeDelta(deltaRows, config.compactEvery)
    val dd = deltaRows
      .select(col("id"), col("vector"), col("deleted"))
    if (Fs.exists(spark, s"$path/INDEX"))
      appendIndexGraphDelta(dd, config.compactEvery)
    if (Fs.exists(spark, s"$path/PQINDEX")) {
      val st = appendPqCodes(dd, config.driftRatioMax,
        config.compactEvery, config.qeFloorMicro)
      onAppend("pq", st)
      if (st.retrainRecommended && config.autoRetrain) retrainPq()
    }
    if (Fs.exists(spark, s"$path/SQINDEX")) {
      val st = appendPackedCodes("sq", "SQINDEX", dd,
        (d, b) => SqIndex.encode(d, b), "codes", "array<int>",
        config.oobMicroMax, config.compactEvery, () => compactSqIndex())
      onAppend("sq", st)
      if (st.retrainRecommended && config.autoRetrain) buildSqIndex()
    }
    if (Fs.exists(spark, s"$path/BQINDEX")) {
      val st = appendPackedCodes("bq", "BQINDEX", dd,
        (d, b) => BqIndex.encode(d, b), "bits", "array<bigint>",
        config.oobMicroMax, config.compactEvery, () => compactBqIndex())
      onAppend("bq", st)
      if (st.retrainRecommended && config.autoRetrain) buildBqIndex()
    }
    dropCheckpointBlocks(deltaRows)
    // graph folds shuffle corpus-bucket-sized volumes per batch; their
    // shuffle files are ContextCleaner-retired only after a driver GC
    // (the ChunkedServe rule) — one GC per graph-bearing batch (tens of
    // seconds each) keeps a long-running ingest's disk flat. Compressed-
    // only batches are sub-second and delta-sized: natural GC suffices.
    if (Fs.exists(spark, s"$path/INDEX")) System.gc()
  }

  /** Streaming ingest that keeps EVERY serving tier fresh — the
    * reference's single-writer mutation queue (`driver/driver.ts:51-80`)
    * completed across the whole serving surface: events
    * (id, vector, op ∈ upsert|delete, seq) apply to the node table ONCE
    * per micro-batch ([[graft.streaming.StreamingIngest.applyBatch]]'s
    * seq-ordered semantics), then the SAME resolved delta folds into
    * every tier that exists — the ANN graph generation
    * ([[appendIndexGraphDelta]]: one delta-sized directory + pointer
    * flip, NEVER an O(index) generation rewrite) and the compressed
    * generations (PQ / SQ / BQ appends behind their pointers) — so a
    * search on ANY arm ([[searchAnnSeededIvf]], [[searchPq]],
    * [[searchSq]], [[searchBqStore]], [[searchAuto]]) sees the ingested
    * rows after the batch commits. Absent tiers are skipped; per-batch
    * cost is O(batch) against each present tier (SCALING.md measures
    * it).
    *
    * `config` carries the drift gates and compaction cadence
    * ([[VectorStore.IngestConfig]] — the same knobs the batch-path
    * appends expose). With `autoRetrain = true`, a tripped drift gate
    * triggers a full rebuild of THAT tier inside the batch (the
    * single-writer slot — serving reads continue against the old
    * generation until the atomic flip; the stream simply takes one long
    * batch). Default is report-only via `onAppend`.
    *
    * Single-writer contract: one running ingest query (or one batch
    * writer) owns a store path at a time. */
  def startIngest(events: DataFrame,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
      config: VectorStore.IngestConfig = VectorStore.IngestConfig(),
      onAppend: (String, VectorStore.CompressedAppendStats) => Unit =
        (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(Seq("id", "vector", "op", "seq")
        .forall(events.columns.contains),
      s"ingest events need (id, vector, op, seq); got " +
        events.columns.mkString(","))
    // a store that streamed through the pre-unification shim keeps its
    // source offsets: reuse its old checkpoint dir instead of silently
    // restarting the source from scratch under the new name
    val ckpt =
      if (Fs.exists(spark, s"$path/_ingest_compressed_checkpoint"))
        s"$path/_ingest_compressed_checkpoint"
      else s"$path/_ingest_checkpoint"
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay guard ([[graft.streaming.StreamingIngest.start]]'s rule):
        // a crash between the tier appends and the checkpoint commit
        // replays the batch — state would stay CORRECT (latest-wins by id
        // everywhere) but every chain would grow a duplicate delta and the
        // compaction/drift cadence would shift. The marker records the
        // last APPLIED batch; it advances after the appends, so the
        // crash-window replay is skipped on restart.
        //
        // The marker is TIED to the checkpoint identity (Spark's own
        // query id from `$ckpt/metadata`): a deleted/relocated checkpoint
        // (or a second stream into the same store) restarts batchIds at 0,
        // and an identity-less `applied >= batchId` comparison against
        // the stale marker would silently drop every batch until the new
        // ids exceeded it. A marker whose identity doesn't match the
        // active checkpoint is ignored (worst case: ONE duplicated delta
        // on the restart boundary — state stays correct by latest-wins).
        // Legacy bare-long markers predate the identity and are ignored
        // for the same reason.
        val ckptId =
          if (Fs.exists(spark, s"$ckpt/metadata"))
            "\"id\"\\s*:\\s*\"([^\"]+)\"".r
              .findFirstMatchIn(Fs.readString(spark, s"$ckpt/metadata"))
              .map(_.group(1)).getOrElse("none")
          else "none"
        val applied =
          if (Fs.exists(spark, s"$path/_INGEST_BATCH"))
            Fs.readString(spark, s"$path/_INGEST_BATCH").trim
              .split("\\s+") match {
              case Array(id, b) if id == ckptId => Some(b.toLong)
              case _ => None
            }
          else None
        if (!batch.isEmpty && !applied.exists(_ >= batchId)) {
          ingestBatch(batch, config, onAppend)
          Fs.writeStringAtomic(spark, s"$path/_INGEST_BATCH",
            s"$ckptId $batchId")
        }
        ()
      }
      .start()
  }

  /** [[startIngest]] restricted by construction to stores without a
    * graph generation (kept for source compatibility — same unified
    * body, the graph fold is a no-op when no INDEX pointer exists).
    * New callers use [[startIngest]]. */
  def startIngestCompressed(events: DataFrame,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
      onAppend: (String, VectorStore.CompressedAppendStats) => Unit =
        (_, _) => (),
      config: VectorStore.IngestConfig = VectorStore.IngestConfig())
      : org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(events, trigger, config, onAppend)

  /** Drop the store (astrovault.ts:134-146). */
  def delete(): Unit = graft.util.Fs.deleteRecursive(spark, path)
}

object VectorStore {

  /** Outcome of a compressed-index append ([[VectorStore.appendPqIndex]]
    * and the SQ/BQ analogs): row counts plus the drift gate. For PQ,
    * `buildStatMicro`/`deltaStatMicro` are mean quantization errors
    * (micro units) and the gate is their ratio; for SQ/BQ,
    * `buildStatMicro` is 0 (bounds cover the build corpus by
    * construction) and `deltaStatMicro` is the delta's out-of-bounds
    * component fraction against an absolute threshold.
    * `retrainRecommended = true` means the frozen artifacts no longer
    * fit the incoming distribution — schedule a full rebuild; appends
    * remain correct meanwhile (codes just quantize more coarsely). */
  case class CompressedAppendStats(nAppended: Long, nTombstoned: Long,
      buildStatMicro: Long, deltaStatMicro: Long,
      retrainRecommended: Boolean)

  /** Streaming-ingest tuning ([[VectorStore.startIngest]]): the drift
    * gates and compaction cadence of the per-batch tier folds — the
    * same knobs the batch-path appends ([[VectorStore.appendPqIndex]] /
    * [[VectorStore.appendSqIndex]]) expose, applied to every tier the
    * stream maintains. `compactEvery` defaults HIGHER than the batch
    * default (64 vs 8): a chain fold rewrites the tier's base —
    * O(corpus), not O(batch) — and a streaming trigger fires
    * continuously, so folding every 8 one-second batches would pay a
    * base rewrite roughly every 8 s of ingest; at 64 the amortized cost
    * stays delta-dominated. The serve-side of the trade is measured
    * (SCALING.md ChainServeProbe): graph serving costs ~+0.5 s per
    * pending delta at 100 k and one `compactIndex()` (6.6 s there)
    * restores the no-chain baseline — latency-sensitive deployments
    * lower `compactEvery` or compact on their own cadence; the fold is
    * safe any time (atomic flip). `autoRetrain = true` turns a tripped
    * drift gate into an in-batch full rebuild + atomic flip of that
    * tier (otherwise the verdict only surfaces through `onAppend`). */
  case class IngestConfig(
      driftRatioMax: Double = 2.0,
      qeFloorMicro: Long = 1000L,
      oobMicroMax: Long = 10000L,
      compactEvery: Int = 64,
      autoRetrain: Boolean = false)

  private[graft] def emptyTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Seq[Float], Boolean)].toDF("id", "vector", "deleted")
  }

  /** Open an existing store or create an empty one — `getAstroDB`
    * (driver.ts:40-48). */
  def openOrCreate(spark: SparkSession, path: String,
      params: IndexParams = IndexParams(),
      retainBases: Int = 0): VectorStore = {
    graft.util.Fs.mkdirs(spark, path)
    new VectorStore(spark, path, params, retainBases)
  }
}

