package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.util.{Fs, Snapshots}

/** The corpus-side production facade — [[VectorStore]]'s lifecycle pattern
  * applied to the training-data chain the loose operators implement (and
  * the t19/d10 harness queries prove composes): persisted document
  * snapshots plus ONE `assemble()` call that materializes
  * clean → quality-gate → source-cap → dedup → semantic-dedup →
  * decontaminate → DSIR-select → mixture-resample → split-assign →
  * sequence-pack as an atomic training-set generation.
  *
  * Layout mirrors [[VectorStore]] ([[graft.util.Snapshots]]): the raw
  * corpus lives as ONE live `docs_v{N}` base plus a bounded
  * `docs_v{N}_delta_{k}` ingest-delta chain behind the `DOCS` pointer
  * (appends are O(batch); compaction folds the chain every
  * `compactEvery` appends and deletes superseded directories); each
  * assembled generation writes a complete `train_g{N}` directory (the
  * surviving split-assigned doc table + the packed sequence table), then
  * atomically flips the `TRAIN` pointer and deletes the previous
  * generation. Readers ([[trainingDocs]], [[trainingSequences]]) resolve
  * the pointer and always see one complete, internally-consistent
  * generation; a crash mid-assemble leaves the previous generation live.
  *
  * Every stage is the already-verified operator, not a re-implementation:
  * [[operators.TextClean]] (t11), [[operators.TextDedup.qualityFeatures]]
  * (t02), [[operators.CorpusOps.sourceCap]] (t12),
  * [[operators.TextDedup.exactDedup]] (d10) /
  * [[operators.TextDedup.minhashNearDupPairs]]+[[operators.TextDedup.dedupSelect]]
  * (d03/d08/d11), [[operators.CorpusOps.resampleToMixture]] (t16),
  * [[operators.Sampling.splitAssign]] (t05),
  * [[operators.CorpusOps.packSequences]] (t15) — so the facade's scale
  * story is exactly theirs: the corpus never shuffles except where the
  * underlying operator's contract says it must, and every decision
  * (survivor sets, rates, splits, fragment offsets) is deterministic and
  * engine-portable (the t21/t22 harness rows hash-check the composed
  * output against a DuckDB re-derivation of the whole chain).
  */
class CorpusStore private (val spark: SparkSession, val path: String,
    compactEvery: Int,
    /** How many SUPERSEDED docs versions AND training generations stay
      * on disk through each flip. 0 (default) prunes immediately — the
      * continuous-ingest disk bound. > 0 is DATASET VERSIONING:
      * [[documentsAsOf]] re-reads any retained corpus version as a
      * stable snapshot, and [[trainingDocsAsOf]]/[[manifestAsOf]]
      * reproduce a prior training mix with the data card that links it
      * (`docs_version` in the manifest) back to the corpus version it
      * was assembled from. */
    val retainGenerations: Int = 0) {
  import CorpusStore.AssemblyParams

  /** Replace the corpus snapshot — requires (doc_id, text); payload
    * columns (source, lang, …) ride along untouched. Superseded versions
    * (and their delta chains) beyond the `retainGenerations` window are
    * deleted after the pointer flip, so the docs chain never grows
    * beyond retained + one live version. */
  def putDocuments(docs: DataFrame): Unit = {
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"documents need (doc_id, text); got ${docs.columns.mkString(",")}")
    val old = Snapshots.current(spark, path, "DOCS")
    val v = Snapshots.persist(spark, path, "docs", "DOCS", docs)
    // dereferenced-beyond-the-window dirs die; best-effort cleanup (a
    // crash here leaks a directory, never correctness). The generation
    // the pointer just moved off is GRACED one flip cycle so lazy
    // readers of the old pointer don't fail mid-job.
    Snapshots.pruneOlderThan(spark, path, "docs", v - retainGenerations,
      grace = old.getOrElse(Long.MinValue))
  }

  /** Append a batch (ingest shape): rows whose doc_id already exists are
    * REPLACED by the incoming rows (latest-wins, the
    * [[operators.Mutations]] upsert rule); new ids union in. Schemas must
    * match by name.
    *
    * O(batch) per call, NOT O(corpus): the batch lands as a delta behind
    * the `DOCS` pointer ([[graft.util.Snapshots.appendDelta]] — one
    * atomic pointer flip), and [[documents]] overlays deltas at read
    * time. Every `compactEvery` appends the chain is folded into a fresh
    * base snapshot and the superseded directories are deleted — so a
    * long-running [[startIngest]] stream costs amortized
    * O(corpus / compactEvery) write amplification per micro-batch and
    * bounded disk (one base + ≤ compactEvery deltas), instead of
    * rewriting and retaining the whole corpus every batch. */
  def appendDocuments(batch: DataFrame): Unit =
    Snapshots.currentWithDeltas(spark, path, "DOCS") match {
      case None => putDocuments(batch)
      case Some((_, _)) =>
        val cur = documents
        require(cur.columns.sorted.sameElements(batch.columns.sorted),
          s"schema mismatch: ${cur.columns.sorted.mkString(",")} vs " +
            batch.columns.sorted.mkString(","))
        val (_, k) = Snapshots.appendDelta(spark, path, "docs", "DOCS",
          batch.select(cur.columns.map(col).toIndexedSeq: _*))
        if (k >= compactEvery) compactDocuments()
    }

  /** Fold the delta chain into a fresh base snapshot and delete the
    * superseded directories. Called automatically by [[appendDocuments]];
    * public for callers that want to compact before a heavy read phase.
    *
    * Chunk-index aware: folding moves the docs BASE version, which
    * would strand [[refreshChunkIndex]]'s coverage watermark and force
    * a FULL chunk rebuild every `compactEvery` appends — the exact
    * write amplification the delta chains exist to avoid. So when a
    * chunk index exists, compaction first catches it up against the
    * still-live delta chain (O(|pending deltas|)), folds, then carries
    * the watermark to the new base. A crash between the fold and the
    * watermark write degrades to the full-rebuild path — slower, never
    * wrong. */
  def compactDocuments(): Unit =
    Snapshots.currentWithDeltas(spark, path, "DOCS") match {
      case Some((_, k)) if k > 0 =>
        val chunked = Fs.exists(spark, s"$path/CHUNK_DOCS_STATE")
        if (chunked) refreshChunkIndex()
        putDocuments(documents)
        if (chunked) {
          val nv = Snapshots.current(spark, path, "DOCS").get
          Fs.writeStringAtomic(spark, s"$path/CHUNK_DOCS_STATE", s"$nv 0")
        }
      case _ => ()
    }

  /** Current corpus snapshot: the base version overlaid by any pending
    * ingest deltas — per doc_id, rows of the LATEST delta carrying that
    * id win; base rows survive only for ids no delta touched. The
    * overlay work is proportional to the delta rows (the corpus-sized
    * side is one anti-join probe), so reads between compactions stay
    * cheap. */
  def documents: DataFrame = {
    val (v, k) = Snapshots.currentWithDeltas(spark, path, "DOCS")
      .getOrElse(throw new IllegalStateException(
        s"no documents under $path — load them first"))
    documentsAt(v, k)
  }

  /** TIME-TRAVEL read (requires `retainGenerations` > 0 at write time):
    * the corpus as of the END of docs version `version` — its base
    * overlaid by every delta it accumulated before being superseded
    * (versions are immutable once superseded → a stable snapshot).
    * Throws with the retained range when the version is gone. */
  def documentsAsOf(version: Long): DataFrame = {
    if (!Fs.exists(spark, Snapshots.versionPath(path, "docs", version)))
      throw new IllegalArgumentException(
        s"docs version $version not retained (have: " +
          s"${docVersions().mkString(", ")}; " +
          s"retainGenerations = $retainGenerations)")
    // the CURRENT version's delta count comes from the pointer (an
    // append that crashed before its flip can leave an orphan delta dir
    // the pointer never committed); superseded versions read their
    // SEALED token — the committed count recorded at supersede time —
    // falling back to the dir listing only for pre-sealing stores
    val k = Snapshots.currentWithDeltas(spark, path, "DOCS") match {
      case Some((cv, ck)) if cv == version => ck
      case _ => Snapshots.sealedDeltas(spark, path, "docs", version)
        .getOrElse(Snapshots.deltasOnDisk(spark, path, "docs", version))
    }
    documentsAt(version, k)
  }

  /** Docs versions still readable, oldest first (the current one last).
    * Windowed to `retainGenerations` — a generation graced past the
    * window for one flip cycle ([[putDocuments]]'s prune) is an
    * implementation detail for in-flight readers, not advertised. */
  def docVersions(): Seq[Long] = {
    val cur = Snapshots.current(spark, path, "DOCS").getOrElse(Long.MaxValue)
    Snapshots.versions(spark, path, "docs")
      .filter(_ >= cur - retainGenerations)
  }

  /** BRANCH a retained docs version into a NEW corpus store at
    * `destPath` (the [[graft.VectorStore.branchAsOf]] shape): the
    * historical corpus materializes as the branch's docs_v0, after which
    * the branch assembles / ingests / versions independently —
    * reproduce last month's corpus, re-assemble it under new knobs, and
    * diff the manifests. One O(corpus) parquet write. */
  def branchAsOf(version: Long, destPath: String): CorpusStore = {
    val dest = CorpusStore.openOrCreate(spark, destPath, compactEvery,
      retainGenerations)
    require(Snapshots.currentWithDeltas(spark, destPath, "DOCS").isEmpty,
      s"destination $destPath already holds a corpus")
    dest.putDocuments(documentsAsOf(version))
    dest
  }

  private def documentsAt(v: Long, k: Long): DataFrame = {
    val base = spark.read.parquet(Snapshots.versionPath(path, "docs", v))
    if (k == 0L) base
    else {
      // ONE multi-path scan of the chain (Snapshots.readChain stamps the
      // delta index from the file path) — overlay plan size stays FLAT
      // in chain length instead of growing a branch per pending delta
      val deltas = Snapshots.readChain(spark,
        (1L to k).map(i => Snapshots.deltaPath(path, "docs", v, i)),
        ".*_delta_(\\d+)/")
      // keep every row of the winning (max __ds) delta per doc_id — a
      // batch that carries an id twice keeps both rows, matching the
      // pre-delta union semantics; cross-delta the later append replaces
      val wMax = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
      val resolved = deltas
        .withColumn("__mx", max(col("__ds")).over(wMax))
        .filter(col("__ds") === col("__mx"))
        .drop("__ds", "__mx")
      base
        .join(resolved.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(resolved.select(base.columns.map(col).toIndexedSeq: _*))
    }
  }

  private def trainDir(gen: Long): String = s"$path/train_g$gen"

  /** Run the composed chain over the current corpus snapshot and persist
    * the result as the next training-set generation (atomic `TRAIN`
    * pointer flip; the previous generation is deleted after the flip).
    *
    * Stage order is the order a production pipeline runs them — cleaning
    * BEFORE dedup (so whitespace-variant duplicates collapse, the d10
    * load-bearing composition), capping BEFORE resampling (quotas bound
    * the worst sources; the mixture then rebalances what remains), and
    * packing LAST over the `packSplit` docs only (eval splits stay
    * doc-level). */
  def assemble(p: AssemblyParams = AssemblyParams()): Unit = {
    require(p.splits.exists(_._1 == p.packSplit),
      s"packSplit ${p.packSplit} not among splits ${p.splits.map(_._1)}")
    require(p.dsirTarget.isEmpty || p.dsirK > 0,
      s"dsirTarget set but dsirK ${p.dsirK} is not positive")
    // Stage-boundary caching: the optional drop stages (near-dup,
    // semantic, decontaminate, DSIR) each run SEVERAL internal actions
    // (pair persists, component iterations, model aggregations,
    // Gumbel-top-k) over their input — left lazy, every such action
    // re-executes the ENTIRE upstream chain, and with all stages on the
    // composition went super-additive (measured at 100 k docs: stages
    // individually +8/+33/+8/+12 s over an 18 s base, but 533 s
    // composed — ~7× pure recomputation). A stage output is therefore
    // persisted exactly when a LATER optional stage will traverse it
    // again; everything unpersists before return. At cluster scale the
    // same rule holds with MEMORY_AND_DISK: the cached frame is the
    // surviving corpus, the facade's own working set.
    val cachedStages =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def staged(df: DataFrame, reusedLater: Boolean): DataFrame =
      if (!reusedLater) df
      else { val c = df.persist(); cachedStages += c; c }
    val nearDupOn = p.nearDupJaccard > 0 || p.exactJaccardTauMicro > 0
    val semOn = p.embeddings.isDefined
    val contamOn = p.benchmark.isDefined
    val dsirOn = p.dsirTarget.isDefined
    try {
    val src = documents

    // 1. clean — in-place text transform, payload columns preserved
    //    (same normalize→mask order as TextClean.scrub / the t11 oracle)
    val cleaned =
      if (p.clean) src.withColumn("text",
        TextClean.maskPii(TextClean.normalizeWs(col("text"))))
      else src

    // 2. quality gate (t02's features); `quality` rides along for audit
    val gated = TextDedup.qualityFeatures(cleaned)
      .filter(col("n_tokens") >= p.minTokens &&
        col("quality") >= p.minQuality)
      .drop("n_tokens", "n_uniq", "stopword_ratio", "uniq_ratio")

    // 3. blocklist + per-source quota
    val capped =
      if (p.maxPerSource > 0)
        CorpusOps.sourceCap(gated, p.maxPerSource, p.blocklist,
          salt = p.capSalt).drop("src_rank")
      else if (p.blocklist.nonEmpty)
        gated.filter(col("source").isNull ||
          !col("source").isin(p.blocklist: _*))
      else gated

    // 4. dedup: exact always (min-id representative per cleaned text);
    //    near-dup optionally on top — EITHER probabilistic MinHash-LSH
    //    (nearDupJaccard > 0) OR the exact PPJoin tier
    //    (exactJaccardTauMicro > 0, [[operators.TextDedup.prefixJaccardPairs]]
    //    — d16's operator): every pair at token/shingle-set Jaccard ≥ τ
    //    found losslessly, the compliance-grade option where "we removed
    //    all near-duplicates above τ" must be a theorem, not an
    //    expectation. Both feed the same components → min-id-keep rule.
    require(p.nearDupJaccard <= 0 || p.exactJaccardTauMicro <= 0,
      "choose ONE near-dup mode: nearDupJaccard (MinHash-LSH) or " +
        "exactJaccardTauMicro (exact PPJoin)")
    val exactKept = staged(capped.join(
      TextDedup.exactDedup(capped).select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi"),
      nearDupOn || semOn || contamOn || dsirOn)
    def selectKeepers(pairs: DataFrame): DataFrame =
      exactKept.join(
        TextDedup.dedupSelect(exactKept, pairs)
          .filter(col("keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    val deduped = {
      val d0 =
        if (p.exactJaccardTauMicro > 0) {
          val tokenFn: org.apache.spark.sql.Column =>
              org.apache.spark.sql.Column =
            if (p.exactJaccardShingle > 1)
              t => TextDedup.shingles(t, p.exactJaccardShingle)
            else TextDedup.tokenSet _
          selectKeepers(TextDedup.prefixJaccardPairs(exactKept,
            p.exactJaccardTauMicro, tokenFn = tokenFn))
        } else if (p.nearDupJaccard > 0)
          selectKeepers(TextDedup.minhashNearDupPairs(exactKept, p.nHashes,
            p.nearDupJaccard))
        else exactKept
      if (d0 eq exactKept) d0 else staged(d0, semOn || contamOn || dsirOn)
    }

    // 4b. semantic dedup (SemDeDup, d14's operator) — when a doc-keyed
    //     embedding table is supplied, cluster-then-prune drops the
    //     paraphrase/re-encode duplicates surface n-grams can't see.
    //     Runs AFTER surface dedup (cheaper ops first shrink the pair
    //     scan) and only over SURVIVING docs' vectors.
    val semDeduped = p.embeddings match {
      case Some(emb) =>
        graft.functions.VectorFunctions.register(spark)
        val vecs = emb
          .select(col("doc_id").as("id"), col("vector"))
          .join(deduped.select(col("doc_id").as("id")), Seq("id"),
            "left_semi")
        // a persisted (id, cell) assignment skips semanticDedup's
        // O(n × k) argmax — the >1 M-vector lever; extra ids in the
        // prebuilt table are restricted by the inner join, and the
        // caller owns centroid/assignment consistency
        val dropIds = TextDedup.semanticDedup(vecs,
            IvfIndex.sampleCodebook(vecs, p.semanticK), p.semanticTau,
            assignments = p.semanticAssignments)
          .filter(!col("keep")).select(col("id").as("doc_id"))
        staged(deduped.join(dropIds, Seq("doc_id"), "left_anti"),
          contamOn || dsirOn)
      case None => deduped
    }

    // 4c. decontamination — the ACTION on t06's measurement: drop every
    //     doc sharing more than `maxSharedNgrams` distinct word n-grams
    //     with the held-out benchmark (GPT-3/Pile-style n-gram
    //     decontamination). Docs sharing none never appear in the
    //     contamination table, so the anti-join keeps them untouched;
    //     the corpus never shuffles (the t06 broadcast-grams shape).
    val decontTmp = p.benchmark match {
      case Some(bench) =>
        val dirty = TextDedup.contamination(semDeduped, bench,
            p.contaminationN)
          .filter(col("n_shared_ngrams") > p.maxSharedNgrams)
          .select(col("id").as("doc_id"))
        staged(semDeduped.join(dirty, Seq("doc_id"), "left_anti"), dsirOn)
      case None => semDeduped
    }

    // 4d. DSIR selection (t26's operator) — when a target corpus is
    //     supplied, keep only the `dsirK` most target-like survivors
    //     (importance weights on hashed-token bags, Gumbel-top-k).
    //     Runs LAST among the drop stages: selection quota applies to
    //     docs that already survived dedup + decontamination.
    val decontaminated = p.dsirTarget match {
      case Some(target) =>
        // the DSIR semi-join's OUTPUT persists: the Gumbel-top-k scoring
        // plan sits in its lineage, and stages 5-7 plus the two
        // generation writes would each re-run it otherwise
        staged(decontTmp.join(
          ImportanceResampling.resample(decontTmp, target, p.dsirK)
            .select(col("doc_id")),
          Seq("doc_id"), "left_semi"), reusedLater = true)
      case None => decontTmp
    }

    // 5. mixture resample (exact BigInt rates; no-op when no targets —
    //    n_toks/rate_micro still attach so the generation schema is stable)
    val mixed =
      if (p.targets.nonEmpty)
        decontaminated.join(
          CorpusOps.resampleToMixture(decontaminated, p.targets,
              salt = p.mixSalt)
            .select(col("doc_id"), col("n_toks"), col("rate_micro")),
          Seq("doc_id"))
      else decontaminated
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
        .withColumn("rate_micro", lit(1000000L))

    // 6. split assignment (stable salted buckets). The assigned table
    //    feeds BOTH generation writes (docs + packed sequences) — with
    //    any optional drop stage in its lineage, cache it so the second
    //    write replays a cached scan, not the chain.
    val assigned = staged(
      Sampling.splitAssign(mixed, "doc_id", p.splits, p.splitSalt),
      nearDupOn || semOn || contamOn || dsirOn)

    // 7. sequence packing over the training split only
    val seqs = CorpusOps.packSequences(
      assigned.filter(col("split") === p.packSplit), p.seqTokens)

    val old = Snapshots.current(spark, path, "TRAIN")
    val gen = old.getOrElse(-1L) + 1
    assigned.write.mode("overwrite").parquet(s"${trainDir(gen)}/docs")
    seqs.write.mode("overwrite").parquet(s"${trainDir(gen)}/sequences")
    writeManifest(gen, p, src)
    Fs.writeStringAtomic(spark, s"$path/TRAIN", gen.toString)
    // generations beyond the retention window are unreferenced now;
    // best-effort cleanup (a crash here leaks a directory, never
    // correctness). Retained generations stay fully readable —
    // docs + sequences + the manifest that records which docs version
    // they were assembled from.
    // the superseded generation is graced one flip cycle (same rule as
    // the docs chain — lazy readers of the old pointer stay valid)
    val genRe = "^train_g(\\d+)$".r
    Fs.list(spark, path).foreach {
      case name @ genRe(g) if g.toLong < gen - retainGenerations &&
          old.forall(_ != g.toLong) =>
        Fs.deleteRecursive(spark, s"$path/$name")
      case _ => ()
    }
    } finally cachedStages.foreach { c => c.unpersist(); () }
  }

  /** The generation's data card — the reproducibility manifest a
    * training run records next to its data (what went in, what came
    * out, under which knobs): input size and docs-chain position,
    * per-split survivor counts and token totals, packed-sequence count,
    * and the assembly params. Derived ONLY from the already-written
    * generation plus one input count (two small jobs — no stage
    * re-execution), written INSIDE the generation directory before the
    * pointer flip, so a manifest is exactly as atomic as its data. */
  private def writeManifest(gen: Long, p: AssemblyParams,
      src: DataFrame): Unit = {
    val docsState = Snapshots.currentWithDeltas(spark, path, "DOCS")
      .map { case (v, k) => s""""docs_version": $v, "docs_deltas": $k""" }
      .getOrElse(""""docs_version": -1, "docs_deltas": 0""")
    val nIn = src.count()
    val out = spark.read.parquet(s"${trainDir(gen)}/docs")
    val bySplit = out.groupBy(col("split"))
      .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("toks"))
      .collect()
      .map(r => s""""${r.getString(0)}": {"n_docs": ${r.getLong(1)}, """ +
        s""""n_toks": ${r.getLong(2)}}""")
      .sorted.mkString(", ")
    val nSeqs = spark.read.parquet(s"${trainDir(gen)}/sequences").count()
    // escape control chars too (the Verify.q rule) — a tab or newline
    // inside a blocklist entry must not corrupt the manifest JSON or be
    // eaten by the layout-newline flattening below
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json =
      s"""{"generation": $gen, $docsState,
         |"n_input_docs": $nIn, "n_output_docs": ${out.count()},
         |"n_sequences": $nSeqs,
         |"splits": {$bySplit},
         |"params": {"clean": ${p.clean}, "min_tokens": ${p.minTokens},
         |"min_quality": ${p.minQuality}, "max_per_source": ${p.maxPerSource},
         |"blocklist": [${p.blocklist.map(q).mkString(", ")}],
         |"near_dup_jaccard": ${p.nearDupJaccard}, "n_hashes": ${p.nHashes},
         |"exact_jaccard_tau_micro": ${p.exactJaccardTauMicro},
         |"exact_jaccard_shingle": ${p.exactJaccardShingle},
         |"decontaminate": ${p.benchmark.isDefined},
         |"max_shared_ngrams": ${p.maxSharedNgrams},
         |"semantic_dedup": ${p.embeddings.isDefined},
         |"semantic_tau": ${p.semanticTau},
         |"dsir": ${p.dsirTarget.isDefined}, "dsir_k": ${p.dsirK},
         |"mixture_targets": {${p.targets.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")}},
         |"splits_spec": {${p.splits
            .map { case (n, w) => s"${q(n)}: $w" }.mkString(", ")}},
         |"pack_split": ${q(p.packSplit)}, "seq_tokens": ${p.seqTokens}}}
         |""".stripMargin.replace("\n", " ").trim
    Fs.writeStringAtomic(spark, s"${trainDir(gen)}/manifest.json", json)
  }

  /** The current generation's data-card JSON ([[assemble]] writes it). */
  def manifest: String = {
    val gen = currentTrainGen
    Fs.readString(spark, s"${trainDir(gen)}/manifest.json")
  }

  private def currentTrainGen: Long =
    Snapshots.current(spark, path, "TRAIN").getOrElse(
      throw new IllegalStateException(
        s"no assembled generation under $path — call assemble() first"))

  /** Surviving documents of the current generation: the input columns
    * (cleaned text) + `quality`, `n_toks`, `rate_micro`, `split`. */
  def trainingDocs: DataFrame =
    spark.read.parquet(s"${trainDir(currentTrainGen)}/docs")

  /** Packed training sequences of the current generation — the
    * [[operators.CorpusOps.packSequences]] fragment table over the
    * `packSplit` docs. */
  def trainingSequences: DataFrame =
    spark.read.parquet(s"${trainDir(currentTrainGen)}/sequences")

  // ---- dataset versioning: retained training generations -------------

  /** Training generations still on disk, oldest first — the ones the
    * `asOf` readers can reproduce (requires `retainGenerations` > 0). */
  def trainGenerations(): Seq[Long] = {
    val re = "^train_g(\\d+)$".r
    Fs.list(spark, path).collect { case re(g) => g.toLong }.sorted
  }

  private def retainedTrainDir(gen: Long): String = {
    if (!Fs.exists(spark, trainDir(gen)))
      throw new IllegalArgumentException(
        s"training generation $gen not retained (have: " +
          s"${trainGenerations().mkString(", ")}; " +
          s"retainGenerations = $retainGenerations)")
    trainDir(gen)
  }

  /** TIME-TRAVEL read of a retained training generation's docs —
    * reproduce exactly what a past training run consumed. Generations
    * are written once and never mutated, so this is a stable snapshot;
    * [[manifestAsOf]] carries the `docs_version` link back to the corpus
    * version it was assembled from ([[documentsAsOf]]). */
  def trainingDocsAsOf(gen: Long): DataFrame =
    spark.read.parquet(s"${retainedTrainDir(gen)}/docs")

  /** The retained generation's packed sequences ([[trainingDocsAsOf]]). */
  def trainingSequencesAsOf(gen: Long): DataFrame =
    spark.read.parquet(s"${retainedTrainDir(gen)}/sequences")

  /** The retained generation's data card ([[trainingDocsAsOf]]). */
  def manifestAsOf(gen: Long): String =
    Fs.readString(spark, s"${retainedTrainDir(gen)}/manifest.json")

  // ---- tokenizer lifecycle -------------------------------------------

  /** Train + persist a BPE vocabulary from the current corpus snapshot
    * ([[operators.TextFeaturizer.bpeTrain]]) as an atomic `tok_v{N}`
    * generation behind the `TOKENIZER` pointer — build-once/serve-many
    * for the merge table the way the chunk/PQ/SQ/BQ tiers persist
    * theirs. The merge table is tiny (nMerges rows) but EXPENSIVE to
    * derive (nMerges passes over the word-type table) and must be
    * BIT-STABLE across the corpus jobs that share it — exactly what the
    * snapshot chain guarantees. */
  def buildTokenizer(nMerges: Int = 256): Unit = {
    val old = Snapshots.currentWithDeltas(spark, path, "TOKENIZER")
    Snapshots.persist(spark, path, "tok", "TOKENIZER",
      TextFeaturizer.bpeTrain(documents, nMerges))
    old.foreach { case (v, k) => Snapshots.prune(spark, path, "tok", v, k) }
  }

  /** The persisted merge table (step, left, right, merged, pair_count). */
  def tokenizerMerges: DataFrame =
    Snapshots.load(spark, path, "tok", "TOKENIZER", "tokenizer")

  /** Segment the current corpus with the persisted vocabulary —
    * [[operators.TextFeaturizer.bpeSegment]]'s zero-shuffle replay.
    * Output (id, wpos, pos, piece). */
  def segmentDocuments(): DataFrame =
    TextFeaturizer.bpeSegment(documents, tokenizerMerges)

  // ---- RAG chunk index lifecycle -------------------------------------

  /** Chunk + embed `docs` into the combined index-row shape: chunk
    * provenance columns plus the hash-embedded `vector`, one row per
    * chunk, keyed by the collision-free string uid `doc_id#chunk_id`
    * (never an arithmetic packing that overflows at large ids). */
  private def chunkRows(docs: DataFrame, window: Int, stride: Int,
      dim: Int): DataFrame = {
    val chunks = CorpusOps.chunkByTokens(docs, window, stride)
      .withColumn("chunk_uid", concat(col("doc_id").cast("string"),
        lit("#"), col("chunk_id").cast("string")))
    chunks.join(
      TextFeaturizer.featureHash(chunks, dim,
          idCol = "chunk_uid", textCol = "chunk_text")
        .select(col("id").as("chunk_uid"), col("vector")),
      Seq("chunk_uid"))
  }

  /** Params ride INSIDE the generation directory (`_PARAMS` — the
    * leading underscore keeps parquet readers away), so the atomic
    * CHUNKS pointer flip publishes data and params together: a crash
    * mid-build can never leave a new generation served with the old
    * dim (the silent-truncation garbage-ranking hazard). */
  private def chunkParams: (Int, Int, Int) =
    chunkParamsOf(currentChunkState._1)

  private def chunkParamsOf(gen: Long): (Int, Int, Int) = {
    val p = Fs.readString(spark,
        s"${Snapshots.versionPath(path, "chunks", gen)}/_PARAMS").trim
      .split("\\s+").map(_.toInt)
    (p(0), p(1), p(2))
  }

  /** The CHUNKS pointer's (version, delta count); throws when no chunk
    * index was built. */
  private def currentChunkState: (Long, Long) =
    Snapshots.currentWithDeltas(spark, path, "CHUNKS")
      .getOrElse(throw new IllegalStateException(
        s"no chunk index under $path — call buildChunkIndex() first"))

  /** Build + persist the RAG chunk index from the current corpus
    * snapshot — the e04 pipeline (slide-chunk → feature-hash embed)
    * given the build-once/serve-many lifecycle the compressed vector
    * indexes already have ([[VectorStore.buildPqIndex]]'s pattern).
    * The combined chunk+vector table lands as a complete `chunks_v{N}`
    * base on the [[graft.util.Snapshots]] chain behind the `CHUNKS`
    * pointer; params (window/stride/dim — [[searchChunks]] must embed
    * queries with the generation's own dim) and the covered docs state
    * persist beside it, the pointer flips atomically, and superseded
    * directories are deleted. Serving never re-derives chunks or
    * re-embeds the corpus; a crash mid-build leaves the old generation
    * live.
    *
    * Maintenance is O(Δ), not O(corpus): after ingest appends,
    * [[refreshChunkIndex]] re-embeds ONLY the touched docs as a chunk
    * DELTA — a full rebuild is only ever needed here, at params
    * changes. Scale: chunking is one map-side explode, embedding is
    * the t/e01 hash-agg — the corpus passes through once at build time
    * and the searchable side is O(chunks). */
  def buildChunkIndex(window: Int = 64, stride: Int = 48,
      dim: Int = 64): Unit = {
    require(dim > 0, s"dim $dim")
    val old = Snapshots.currentWithDeltas(spark, path, "CHUNKS")
    val docsState = Snapshots.currentWithDeltas(spark, path, "DOCS")
      .getOrElse(throw new IllegalStateException(
        s"no documents under $path — load them first"))
    // data AND params land in the generation dir BEFORE the pointer
    // flip (the chunkParams atomicity note) — so the persist is inlined
    // rather than delegated to Snapshots.persist (which flips itself)
    val v = old.map(_._1 + 1).getOrElse(0L)
    val dir = Snapshots.versionPath(path, "chunks", v)
    chunkRows(documents, window, stride, dim)
      .write.mode("overwrite").parquet(dir)
    Fs.writeStringAtomic(spark, s"$dir/_PARAMS", s"$window $stride $dim")
    Fs.writeStringAtomic(spark, s"$path/CHUNKS", v.toString)
    // a crash before this write leaves a stale watermark → the next
    // refresh degrades to a full rebuild (slower, never wrong)
    Fs.writeStringAtomic(spark, s"$path/CHUNK_DOCS_STATE",
      s"${docsState._1} ${docsState._2}")
    old.foreach { case (ov, k) =>
      Snapshots.prune(spark, path, "chunks", ov, k) }
  }

  /** Fold pending ingest deltas into the chunk index at O(|Δ|) cost:
    * docs appended/replaced since the index last covered the corpus
    * (the persisted docs-state watermark) are re-chunked and re-embedded
    * as ONE chunk delta ([[graft.util.Snapshots.appendDelta]] — atomic
    * pointer flip); untouched docs' chunks are never read, recomputed,
    * or rewritten. Read-side overlay is latest-wins BY DOC: a doc's
    * delta chunks replace ALL its base chunks (chunk counts may shrink
    * — delete-then-insert semantics). If the docs BASE version moved
    * (a compaction or [[putDocuments]] replaced the corpus), content
    * can't be attributed to deltas and the index rebuilds at the same
    * params. Every `compactEvery` refreshes the chain folds
    * ([[compactChunkIndex]]) so serving overlays stay bounded. */
  def refreshChunkIndex(): Unit = {
    val (window, stride, dim) = chunkParams
    // a missing watermark (crash between the CHUNKS flip and the state
    // write, or a lost file) is the documented degrade-to-full-rebuild
    // case — not an error that leaves the tier unrefreshable
    if (!Fs.exists(spark, s"$path/CHUNK_DOCS_STATE")) {
      buildChunkIndex(window, stride, dim)
      return
    }
    val covered = Fs.readString(spark, s"$path/CHUNK_DOCS_STATE").trim
      .split("\\s+").map(_.toLong)
    val (dv, dk) = Snapshots.currentWithDeltas(spark, path, "DOCS")
      .getOrElse(throw new IllegalStateException(
        s"no documents under $path"))
    if (dv != covered(0)) buildChunkIndex(window, stride, dim)
    else if (dk > covered(1)) {
      val touched = spark.read.parquet(
          (covered(1) + 1 to dk)
            .map(i => Snapshots.deltaPath(path, "docs", dv, i)): _*)
        .select(col("doc_id")).distinct()
      // latest content of the touched docs (documents already resolves
      // cross-delta latest-wins)
      val touchedDocs = documents.join(touched, Seq("doc_id"), "left_semi")
      val rows = chunkRows(touchedDocs, window, stride, dim)
      // a touched doc yielding ZERO chunks (replaced with empty or
      // token-less text) must still appear in the delta or the overlay
      // cannot retire its base chunks — emit a tombstone row
      // (chunk_id = -1, filtered out of the served view) so
      // delete-then-insert holds for every touched doc
      val tomb = touched
        .join(rows.select(col("doc_id")).distinct(), Seq("doc_id"),
          "left_anti")
        .select(concat(col("doc_id").cast("string"), lit("#tomb"))
            .as("chunk_uid"),
          col("doc_id"), lit(-1L).as("chunk_id"), lit(0L).as("start_tok"),
          lit(0L).as("n_chunk_toks"), lit("").as("chunk_text"),
          expr("CAST(array() AS array<float>)").as("vector"))
      val (_, ck) = Snapshots.appendDelta(spark, path, "chunks", "CHUNKS",
        rows.unionByName(
          tomb.select(rows.columns.map(col).toIndexedSeq: _*)))
      Fs.writeStringAtomic(spark, s"$path/CHUNK_DOCS_STATE", s"$dv $dk")
      if (ck >= compactEvery) compactChunkIndex()
    }
  }

  /** Fold the chunk delta chain into a fresh base and prune superseded
    * directories (the [[compactDocuments]] analog). The generation's
    * `_PARAMS` carries over into the folded base — same
    * publish-together rule as [[buildChunkIndex]]. */
  def compactChunkIndex(): Unit =
    Snapshots.currentWithDeltas(spark, path, "CHUNKS").foreach {
      case (v, k) if k > 0 =>
        val (w, st, dm) = chunkParamsOf(v)
        val dir = Snapshots.versionPath(path, "chunks", v + 1)
        chunkTableAt(v, k).write.mode("overwrite").parquet(dir)
        Fs.writeStringAtomic(spark, s"$dir/_PARAMS", s"$w $st $dm")
        Fs.writeStringAtomic(spark, s"$path/CHUNKS", (v + 1).toString)
        Snapshots.prune(spark, path, "chunks", v, k)
      case _ => ()
    }

  /** The served chunk view: base overlaid by pending chunk deltas,
    * latest-wins BY DOC (a refreshed doc's delta chunks replace all its
    * base chunks). Columns: (chunk_uid, doc_id, chunk_id, start_tok,
    * n_chunk_toks, chunk_text, vector). Overlay work is proportional to
    * delta rows — the base-sized side is one anti-join probe. */
  def chunkTable: DataFrame = {
    val (v, k) = currentChunkState
    chunkTableAt(v, k)
  }

  /** [[chunkTable]] for one observed pointer state (version `v` with `k`
    * deltas). */
  private def chunkTableAt(v: Long, k: Long): DataFrame = {
    val base = spark.read.parquet(Snapshots.versionPath(path, "chunks", v))
    if (k == 0L) base
    else {
      // one multi-path chain scan (the documents-overlay rule)
      val deltas = Snapshots.readChain(spark,
        (1L to k).map(i => Snapshots.deltaPath(path, "chunks", v, i)),
        ".*_delta_(\\d+)/")
      val wMax = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
      val resolved = deltas
        .withColumn("__mx", max(col("__ds")).over(wMax))
        .filter(col("__ds") === col("__mx"))
        .drop("__ds", "__mx")
      base
        .join(resolved.select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        // tombstones (chunk_id = -1) retire base chunks via the
        // anti-join above but never serve
        .unionByName(resolved.filter(col("chunk_id") >= 0)
          .select(base.columns.map(col).toIndexedSeq: _*))
    }
  }

  /** Serve top-k chunks per query from the persisted index: queries
    * (query_id, text) are embedded with the INDEX'S OWN stored hash dim
    * (a caller can't accidentally search dim-32 vectors with dim-64
    * queries), scored by exact cosine against the persisted chunk
    * vectors, and the winning chunks come back with their provenance
    * (query_id, doc_id, chunk_id, start_tok, chunk_text, score, rn).
    * The query side rides [[operators.KnnSearch.knnExact]]'s size-gated
    * broadcast; the metadata join-back touches only the Q×k winning
    * rows. */
  def searchChunks(queries: DataFrame, k: Int,
      minSim: Double = 0.0): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    require(queries.columns.contains("query_id") &&
      queries.columns.contains("text"),
      s"queries need (query_id, text); got ${queries.columns.mkString(",")}")
    // the overlay subtree feeds BOTH the scoring scan and the
    // provenance join-back — checkpoint it so a non-empty delta chain
    // resolves once per call, not twice (the load-bearing-checkpoint
    // rule). A DELTA-FREE generation is a plain parquet scan whose two
    // consumers share the file scan with pushdown — eagerly
    // checkpointing it copied the whole chunk table into executor
    // storage per serve (r16: ~40 % of e06's steady-state wall). The
    // pointer is read ONCE: view, checkpoint decision and hash dim all
    // come from the same (version, deltas), so a concurrent refresh or
    // rebuild can't pair one generation's chunks with another's dim.
    val (v, chainLen) = currentChunkState
    val raw = chunkTableAt(v, chainLen)
    val view = if (chainLen > 0) raw.localCheckpoint() else raw
    val dim = chunkParamsOf(v)._3
    val qvec = TextFeaturizer.featureHash(queries, dim,
        idCol = "query_id", textCol = "text")
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    val hits = KnnSearch.knnExact(
      view.select(col("chunk_uid").as("id"), col("vector")), qvec, k, minSim)
    hits
      .join(view, hits("id") === col("chunk_uid"))
      .select(col("query_id"), col("doc_id"), col("chunk_id"),
        col("start_tok"), col("chunk_text"), col("score"), col("rn"))
  }

  /** Streaming document ingest — the corpus-side analog of
    * [[graft.streaming.StreamingIngest]]'s single-writer queue:
    * micro-batches ARE the serialized writer (foreachBatch runs one
    * batch at a time, in order). Each batch resolves intra-batch
    * duplicate doc_ids by `seq` (highest wins — a DataFrame carries no
    * arrival order) and folds latest-wins into the DOCS snapshot chain
    * via [[appendDocuments]]. Single-writer contract: one running
    * ingest query (or one batch writer) owns a store path at a time.
    *
    * `refreshChunks = true` additionally folds each micro-batch into the
    * chunk index ([[refreshChunkIndex]] — O(batch) per call, the RAG
    * tier stays searchable as documents stream in). Requires
    * [[buildChunkIndex]] to have run once. */
  def startIngest(events: DataFrame,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
      refreshChunks: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(events.columns.contains("seq"),
      s"ingest events need a seq column; got ${events.columns.mkString(",")}")
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$path/_ingest_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("seq").desc)
          appendDocuments(batch
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .drop("__rn", "seq"))
          if (refreshChunks) refreshChunkIndex()
        }
        ()
      }
      .start()
  }

  /** Drop the store. */
  def delete(): Unit = Fs.deleteRecursive(spark, path)
}

object CorpusStore {

  /** Assembly configuration. Defaults are pass-through (no gate, no cap,
    * no near-dup, no resample) except cleaning and exact dedup, which a
    * training corpus always wants. Salt defaults pin the same hash
    * streams as the standalone t12/t16/t05 harness queries, so a
    * facade-assembled corpus is bit-comparable with the loose operators'
    * output. */
  case class AssemblyParams(
      clean: Boolean = true,
      minTokens: Int = 1,
      minQuality: Double = 0.0,
      maxPerSource: Int = 0,
      blocklist: Seq[String] = Nil,
      nearDupJaccard: Double = 0.0,
      nHashes: Int = 16,
      exactJaccardTauMicro: Long = 0L,
      exactJaccardShingle: Int = 3,
      benchmark: Option[org.apache.spark.sql.DataFrame] = None,
      maxSharedNgrams: Int = 0,
      contaminationN: Int = 3,
      embeddings: Option[org.apache.spark.sql.DataFrame] = None,
      semanticTau: Double = 0.9,
      semanticK: Int = 64,
      semanticAssignments: Option[org.apache.spark.sql.DataFrame] = None,
      dsirTarget: Option[org.apache.spark.sql.DataFrame] = None,
      dsirK: Int = 0,
      targets: Map[String, Long] = Map.empty,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      packSplit: String = "train",
      seqTokens: Int = 2048,
      capSalt: String = "cap",
      mixSalt: String = "mix",
      splitSalt: String = "split")

  /** Open an existing store or create an empty one. `compactEvery` bounds
    * the docs delta chain: the Nth consecutive [[CorpusStore.appendDocuments]]
    * folds the chain into a fresh base (amortized O(corpus/N) write
    * amplification per ingest micro-batch). */
  def openOrCreate(spark: SparkSession, path: String,
      compactEvery: Int = 8, retainGenerations: Int = 0): CorpusStore = {
    require(compactEvery >= 1, s"compactEvery $compactEvery")
    require(retainGenerations >= 0, s"retainGenerations $retainGenerations")
    Fs.mkdirs(spark, path)
    new CorpusStore(spark, path, compactEvery, retainGenerations)
  }
}
