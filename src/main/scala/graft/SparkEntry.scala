package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, Bpe, CorpusPrep, Curation, Decontamination, Dedup, Dsir, ItemCF, Lm, Relational, Retrieval, Sampling, SeqPack, Serving, Similarity, TextAnalysis}
import graft.recommender.Als
import graft.multimodal.Multimodal

/** Driver contract — see SURVEY.md §2 for the operator inventory.
  *
  * Every implemented operator has a `queries` entry; SQL-expressible
  * ones also carry a DuckDB oracle in `oracleSql` with IDENTICAL output
  * column names (the driver compares by sorted column name + value
  * hash). Aggregates over binary-inexact doubles go through
  * [[graft.functions.Parity]] so both engines produce bit-identical
  * values.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Agg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — reference surface (movie_rec) —
    "q_ratings_etl"      -> ((s, d) => Relational.ratingsEtl(s, d)),
    "q_movie_stats"      -> ((s, d) => Relational.movieStats(s, d)),
    "q_top_movies"       -> ((s, d) => Relational.topMovies(s, d)),
    // paged variants of the listing endpoints (routes.py limit args
    // generalized to skip/count pages)
    "q_top_movies_paged" -> ((s, d) => Relational.topMoviesPaged(s, d)),
    "q_user_top_ratings_paged" -> ((s, d) => Relational.userTopRatingsPaged(s, d)),
    "q_user_latest_paged" -> ((s, d) => Relational.userLatestPaged(s, d)),
    "q_user_top_ratings" -> ((s, d) => Relational.userTopRatings(s, d)),
    "q_user_topk_agg"    -> ((s, d) => Relational.userTopKAgg(s, d)),
    "q_user_latest"      -> ((s, d) => Relational.userLatest(s, d)),
    "q_recs_fallback"    -> ((s, d) => Relational.recsFallback(s, d)),
    "q_implicit_backfill" -> ((s, d) => Relational.implicitBackfill(s, d)),
    "q_round_half"       -> ((s, d) => Relational.roundHalf(s, d)),
    "q_point_lookup"     -> ((s, d) => Relational.pointLookup(s, d)),
    // — recommender (rows-only: ML, not SQL-expressible) —
    "als_top_n" -> ((s, d) => Als.topN(s, d)),
    "als_eval"  -> ((s, d) => Als.evaluate(s, d)),
    "als_grid"  -> ((s, d) => Als.gridSearch(s, d)),
    "als_cv"    -> ((s, d) => Als.crossValidate(s, d)),
    // implicit-feedback regime: watched-but-unrated rows as
    // Hu-Koren-Volinsky confidence weights (rows-only; ranking-sanity
    // spec-gated)
    "als_implicit" -> ((s, d) => Als.implicitTopN(s, d)),
    // fold-in serving: new-user factors solved against the FROZEN
    // item factors (the reference's between-retrains gap); rows-only,
    // AlsFoldInSpec pins trained-user parity + ranking sanity
    "als_fold_in" -> ((s, d) => Als.foldInTopN(s, d)),
    // the same between-retrains serve for the IMPLICIT model: Hu-Koren
    // confidence-weighted fold-in (gram-matrix term + per-user solve);
    // rows-only, AlsImplicitFoldInSpec pins trained-user parity
    "als_implicit_fold_in" -> ((s, d) => Als.implicitFoldInTopN(s, d)),
    // — deduplication —
    "dedup_exact"         -> ((s, d) => Dedup.exact(s, d)),
    // IVM over the hash-group store; oracle = the batch dedup (gates
    // the incremental identity), tick payload = touched groups only
    "dedup_exact_inc"     -> ((s, d) => Dedup.exactIncremental(s, d)),
    "dedup_exact_delta"   -> ((s, d) => Dedup.exactDelta(s, d)),
    // the same IVM identity through the maintainer's member BucketStore:
    // base seeded, the rest applied as one dedupMemberTick, groups read back
    "dedup_exact_store"   -> ((s, d) => Dedup.exactIncrementalStore(s, d)),
    "dedup_minhash"       -> ((s, d) => Dedup.minhashLsh(s, d)),
    // the ingest-tick regime, one BucketStore tick: base slice seeded
    // into the row + band stores, delta applied as batch 1, pairs read
    // from the tick's pair log (rows-only; base∪tick ≡ batch is
    // spec-gated). The _inc and _store keys are the same rung — both
    // stay registered
    "dedup_minhash_inc"   -> ((s, d) => Dedup.minhashLshIncremental(s, d)),
    "dedup_minhash_store" -> ((s, d) => Dedup.minhashLshIncremental(s, d)),
    // CDC rung: delete/re-ingest through the banded BucketStores —
    // before-images come from the row store itself (keyed by id),
    // tombstoned ids excluded from candidate+verify, band store
    // applies first (crash-consistent ordering); store parity with a
    // fresh seed of the mutated corpus is spec-gated
    "dedup_minhash_cdc"   -> ((s, d) => Dedup.minhashCdcStore(s, d)),
    "dedup_simhash"       -> ((s, d) => Dedup.simhash(s, d)),
    // the same one-tick rung for SimHash, under both keys
    "dedup_simhash_inc"   -> ((s, d) => Dedup.simhashIncremental(s, d)),
    "dedup_simhash_store" -> ((s, d) => Dedup.simhashIncremental(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "dedup_substring"     -> ((s, d) => Dedup.substringDedup(s, d)),
    "dedup_substring_inc" -> ((s, d) => Dedup.substringDedupIncremental(s, d)),
    // the exact tick is deterministic → the one HASH-GATED near-dup
    // tick (oracle recomputes the delta-touching pair set from scratch)
    "dedup_ngram_inc"     -> ((s, d) => Dedup.ngramJaccardIncremental(s, d)),
    // exact-cosine audit over a deterministic hash-gated slice — the
    // all-pairs plan is never registered over the full corpus (the
    // unsliced baseline lives in specs; scale paths: embed_lsh, knn_ivf).
    // threshold 0.40 (not the API default 0.45) so the small-SF oracle
    // gate covers ~60 value rows instead of a handful
    "dedup_embed_cosine"  -> ((s, d) => Dedup.embedCosineGated(s, d, threshold = 0.40)),
    // the LSH scale path, exercised in its regime via deterministic
    // planted near-dups (rows-only; recall vs all-pairs is spec-gated)
    "dedup_embed_lsh"     -> ((s, d) => Dedup.embedLshPlanted(s, d)),
    "dedup_embed_lsh_wide" -> ((s, d) => Dedup.embedLshWidePlanted(s, d)),
    // its ingest-tick regime: the same one-tick rung, under both keys
    "dedup_embed_lsh_inc" -> ((s, d) => Dedup.embedLshIncremental(s, d)),
    "dedup_embed_lsh_store" -> ((s, d) => Dedup.embedLshIncremental(s, d)),
    // pair graph → connected components → survivor manifest, over the
    // exact ngram-jaccard edges; value-gated by a DuckDB WITH RECURSIVE
    // transitive-closure oracle (the one operator deciding deletions)
    "dedup_clusters"      -> ((s, d) => Dedup.dedupClusters(s, d)),
    // the same manifest resolved by O(log n) star contraction — the
    // large-diameter scale path, gated by the same recursive oracle
    "dedup_clusters_star" -> ((s, d) => Dedup.dedupClustersStar(s, d)),
    // — similarity search —
    "knn_brute" -> ((s, d) => Similarity.knnBrute(s, d)),
    "knn_ivf"   -> ((s, d) => Similarity.ivfSearch(s, d)),
    // the PERSISTED index lifecycle (rows-only; k-means not SQL-
    // expressible): frozen quantizer artifact + cluster-bucketed
    // postings BucketStore, held-out split appended as one tick,
    // queries answered from the read-back index with probe-pruned
    // bucket reads; IvfStoreSpec gates identity with a one-shot index
    "knn_ivf_store" -> ((s, d) => Similarity.ivfStoreSearch(s, d)),
    // the IVF+PQ lifecycle with PRE-ENCODED codes in the postings
    // (rows-only; two k-means trainings): quantizer + codebook
    // artifacts frozen from the base split, postings seeded with
    // (raw vector, norm, 10-byte code), held-out split ticked in
    // encode-at-rest, search = probe-pruned bucket reads + ADC over
    // STORED codes + exact re-rank — the Faiss IVFPQ deployment
    // shape whose win the r10 measurement proved needs a persisted
    // index (in-query IVF+PQ 266 s ≈ flat PQ 264 s at 2M vectors)
    "knn_ivfpq_store" -> ((s, d) => Similarity.ivfPqStoreSearch(s, d)),
    "knn_ivf_drift" -> ((s, d) => Similarity.ivfDriftProbe(s, d)),
    "knn_sq8"   -> ((s, d) => Similarity.knnSq8(s, d)),
    // PQ/ADC two-stage ANN (rows-only; codebook k-means not
    // SQL-expressible) — recall + exact-survivor-cosine spec-gated
    "knn_pq"    -> ((s, d) => Similarity.knnPq(s, d)),
    "knn_ivf_pq" -> ((s, d) => Similarity.knnIvfPq(s, d)),
    "q_label_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
    // SemDeDup: cluster-bounded semantic dedup at moderate cosine
    // thresholds (rows-only; k-means not SQL-expressible) — the
    // regime below banded-LSH's collision floor; planted jittered
    // copies give guaranteed true semantic dups at every SF
    "dedup_semantic" -> ((s, d) => Similarity.semanticDedup(s, d)),
    "dedup_semantic_store" -> ((s, d) => Similarity.semanticDedupStore(s, d)),
    "dedup_semantic_cdc" -> ((s, d) => Similarity.semanticDedupCdc(s, d)),
    // cluster-based prototypicality pruning (Sorscher et al. 2022;
    // the D4 companion of SemDeDup): drop the floor(frac·n_c) most
    // centroid-like vectors per cluster — map-side assignment +
    // centroid cosine, one per-cluster window; rows-only (k-means fit
    // is engine-specific), planted clump-vs-tail gate in CurationSpec
    "q_proto_prune" -> ((s, d) => Curation.protoPrune(s, d)),
    // the family's frozen-quantizer rung: centroids trained + persisted
    // once (the IVF artifact seam), loaded, batch verdicted map-side
    // under the loaded literal — reproducible across batches/days;
    // rows-only, artifact round-trip + parity spec-gated
    "q_proto_prune_store" -> ((s, d) => Curation.protoPruneStored(s, d)),
    // the D4-shaped end-to-end curation pipeline: semantic dedup →
    // proto-prune → LM tercile selection → BFD pack, one shared
    // k-means for the two embedding phases, each phase PhaseTimer'd;
    // rows-only, composition ≡ sequential operators pinned in
    // CurationSpec
    "q_corpus_curate" -> ((s, d) => Curation.corpusCurate(s, d)),
    // — text analysis —
    // BPE subword vocabulary: train = one distributed word count +
    // bounded-table merge loop; encode = map-side with broadcast
    // ranks (rows-only; the merge recursion is not SQL-expressible)
    "text_bpe_train"  -> ((s, d) => Bpe.bpeTrain(s, d)),
    "text_bpe_encode" -> ((s, d) => Bpe.bpeEncode(s, d)),
    // the vocabulary-artifact lifecycle: merge table trained once,
    // PERSISTED, loaded back, corpus encoded from the loaded ranks —
    // the bloom-artifact shape for the tokenizer; byte-identical to
    // text_bpe_encode (BpeSpec round-trips it), rows-only
    "text_bpe_store"  -> ((s, d) => Bpe.bpeEncodeStored(s, d)),
    "text_quality"     -> ((s, d) => TextAnalysis.quality(s, d)),
    "text_tokens"      -> ((s, d) => TextAnalysis.termFrequencies(s, d)),
    "text_langid"      -> ((s, d) => TextAnalysis.langId(s, d)),
    "text_token_count" -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "text_repetition"  -> ((s, d) => TextAnalysis.repetition(s, d)),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    // corpus n-gram frequency table (contamination audits / tokenizer
    // seeding): gram explode -> two-phase agg -> TakeOrdered top-k
    "q_ngram_topk"     -> ((s, d) => TextAnalysis.ngramTopK(s, d)),
    // the 100 TB shape of the same answer: two-pass Misra-Gries exact
    // heavy hitters — per-partition bounded summaries name candidates
    // (shuffle <= capacity keys/partition, corpus-size-independent),
    // exact recount of candidates only, certificate require()d
    "q_ngram_topk_approx" -> ((s, d) => TextAnalysis.ngramTopKApprox(s, d)),
    // C4/Gopher rule cascade with a first-failing-rule audit column;
    // pure map-side column work
    "q_quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(s, d)),
    // cross-doc boilerplate line scrub (CCNet/RefinedWeb): lines in
    // >= minDocs distinct docs struck, docs reassembled in order
    "text_line_dedup"  -> ((s, d) => TextAnalysis.lineDedup(s, d)),
    // ingest-tick regime: delta line counts merged against the base's
    // (touched keys only), delta docs cleaned; oracle = batch
    // restricted to delta ids
    "text_line_dedup_inc"   -> ((s, d) => TextAnalysis.lineDedupIncremental(s, d)),
    // same identity through the maintainer's line-count BucketStore
    // (seed -> one lineCountTick -> read back); plan changes, values don't
    "text_line_dedup_store" -> ((s, d) => TextAnalysis.lineDedupStore(s, d)),
    // PII scrub over deterministically planted emails/phones; the full
    // redacted string is value-gated via md5
    "text_redact"      -> ((s, d) => TextAnalysis.redactPii(s, d)),
    // Okapi BM25 top-k retrieval for a bounded pseudo-query set:
    // per-term contributions rounded to the 1e-4 grid BEFORE the sum
    // so the hash survives FP add order; corpus tf/df restricted to
    // query terms before any shuffle
    "text_bm25"       -> ((s, d) => Retrieval.bm25(s, d)),
    // the index-at-rest lifecycle: postings in a token-hash-bucketed
    // BucketStore, built once, searched with the read pruned to the
    // query terms' buckets; same oracle (where the tf table lives
    // changes, what it scores doesn't)
    "text_bm25_store" -> ((s, d) => Retrieval.bm25Stored(s, d)),
    // the incremental rung: seed the first 80% id-ordered, tick-append
    // the rest through applyTick's generation publish, search the
    // merged index — value-identical to a one-shot build, so the SAME
    // full-corpus oracle gates it
    "text_bm25_inc"   -> ((s, d) => Retrieval.bm25Incremental(s, d)),
    // the delete/re-ingest rung: one CDC tick tombstones doc_id≡55's
    // postings (before-image re-derives their buckets map-side) and
    // re-ingests doc_id≡56 with doubled text; oracle = the same BM25
    // SQL over the post-CDC corpus (tick ≡ rebuild on mutated corpus)
    "text_bm25_cdc"   -> ((s, d) => Retrieval.bm25Cdc(s, d)),
    // lexical × dense hybrid via reciprocal-rank fusion (k=60): two
    // rank-capped arms full-outer-joined; fused score = sum of two
    // IEEE-exact divisions — hash-gated end to end
    "q_hybrid_rrf"    -> ((s, d) => Retrieval.hybridRrf(s, d)),
    // the hybrid's index-at-rest rung: lexical arm from the BM25
    // postings store, dense arm from the IVF inverted lists — two
    // pruned index reads + a constant-size fuse per query batch;
    // rows-only (ANN arm approximate below full probe), RetrievalSpec
    // pins full-probe ≡ in-query fusion
    "q_hybrid_rrf_store" -> ((s, d) => Retrieval.hybridRrfStored(s, d)),
    // DSIR importance resampling: hashed-unigram log-ratio weights +
    // hash-Gumbel top-frac selection via an in-plan quantile cut;
    // rows-only (hashed-LM weights have no SQL form), planted
    // two-vocabulary preference spec-gated in DsirSpec
    "q_dsir_sample"   -> ((s, d) => Dsir.dsirSample(s, d)),
    // the λ-table artifact lifecycle: fit once, persist (≤4096 rows),
    // load, score the batch map-side — rows-only, artifact≡in-query
    // parity spec-gated
    "q_dsir_store"    -> ((s, d) => Dsir.dsirStored(s, d)),
    // DPR hard-negative mining with RocketQA-style denoising: BM25
    // shortlist minus the positive minus semantic near-positives
    // (embedding cosine >= floor), re-ranked — SQL-oracled end to end
    "q_hard_negatives" -> ((s, d) => Retrieval.hardNegatives(s, d)),
    // the deployment shape: BM25 arm from the persisted postings
    // store, denoise vectors from the IVF store's rows — mining runs
    // against maintained indexes, no in-query corpus build; value-
    // identical, so it shares the SQL oracle (hash-gated)
    "q_hard_negatives_store" -> ((s, d) => Retrieval.hardNegativesStored(s, d)),
    // CCNet LM quality filter with Stupid Backoff over md5-prefix
    // hash buckets: fit on the curated target slice, score the whole
    // corpus, per-lang head/middle/tail terciles — per-token log
    // scores on the 1e-4 grid before the doc sum, so the whole
    // pipeline (counts, backoff, terciles) is SQL-oracled
    "text_lm_score"   -> ((s, d) => Lm.lmScore(s, d)),
    // the LM artifact lifecycle: counts persisted as one bounded
    // (≤ 4096+65536 row) parquet table, loaded, batch scored against
    // the frozen model — value-identical to in-query fit ⇒ same oracle
    "text_lm_store"   -> ((s, d) => Lm.lmStored(s, d)),
    // the frozen-cutpoint rung: per-lang approx-quantile tercile cuts
    // persisted as the artifact's third table; batches label against
    // the frozen cuts (broadcast join, no window) — rows-only, ≥95%
    // agreement with the exact window pinned in LmSpec
    "text_lm_frozen"  -> ((s, d) => Lm.lmFrozen(s, d)),
    "q_decontaminate"  -> ((s, d) => Decontamination.flagContaminated(s, d)),
    // bloom-prefiltered scale path; identical output (FPs removed by
    // the exact verify join) → gated by the same oracle
    "q_decontaminate_bloom" -> ((s, d) => Decontamination.flagContaminatedBloom(s, d)),
    // the artifact lifecycle: bloom built + PERSISTED + loaded back,
    // map-side suspect flagging against the loaded literal, exact
    // verify over suspects only; identical output → same oracle
    "q_decontaminate_store" -> ((s, d) => Decontamination.flagContaminatedStored(s, d)),
    // FUZZY decontamination: MinHash band probe of the corpus against
    // the (broadcast) eval band index + exact-Jaccard verify — catches
    // lightly-rewritten benchmark leaks exact n-grams miss; rows-only
    // (LSH candidate set is not SQL-expressible), planted leaks
    // spec-gated in DecontaminationFuzzySpec
    "q_decontaminate_minhash" -> ((s, d) => Decontamination.flagContaminatedFuzzy(s, d)),
    "q_seq_pack"       -> ((s, d) => SeqPack.pack(s, d)),
    // truncation-free packing via best-fit decreasing (Ding et al.
    // 2024): whole docs bin-packed per bucket, only >budget docs ever
    // chunked; rows-only (assignment is algorithm-specific), BFD
    // hand-trace + invariants in TrainingPrepSpec
    "q_seq_pack_bfd"   -> ((s, d) => SeqPack.packBestFit(s, d)),
    // — multimodal —
    "mm_features" -> ((s, d) => Multimodal.features(s, d)),
    "mm_resize"   -> ((s, d) => Multimodal.resizePlan(s, d)),
    "mm_frames"   -> ((s, d) => Multimodal.frameSample(s, d)),
    // perceptual-hash (dHash) image near-dup pairs: re-encoded /
    // brightness-shifted copies pair via 4x16-bit banded hamming
    // (simhash shape over pixels); decode map-side; rows-only (binary
    // codec — no SQL form), planted-pair recall pinned in spec
    "mm_phash"    -> ((s, d) => Multimodal.imageDups(s, d)),
    // spectral-fingerprint audio dedup (rows-only; binary codec) —
    // planted gain-scaled re-encodes give true dups at every SF
    "mm_audio_dedup" -> ((s, d) => Multimodal.audioDups(s, d)),
    // temporal-luminance video near-dup (rows-only; binary codec):
    // per-frame level sequences, shifted-grid-banded delta windows
    // (deterministic recall for re-encoded AND trimmed copies — the
    // planted mutation pair), exact best-alignment verify
    "mm_video_dedup" -> ((s, d) => Multimodal.videoDups(s, d)),
    // — neighborhood (item-item) collaborative filtering —
    "q_item_cooc"    -> ((s, d) => ItemCF.cooccurrence(s, d)),
    // measured-skew gate armed with the DERIVED cut (p99.9 ∨ floor):
    // same oracle as q_item_cooc — on unskewed data the gate measures
    // zero hot users and hands back the plain plan (cost ≈ plain);
    // under genuine skew the salted arm engages (SkewSpec pins the
    // engaged identity on planted-skew fixtures)
    "q_item_cooc_salted" -> ((s, d) => ItemCF.cooccurrenceSalted(s, d)),
    // incremental-view-maintenance path; oracle = the BATCH pair count,
    // so the gate checks the IVM identity itself
    "q_item_cooc_inc" -> ((s, d) => ItemCF.coocIncremental(s, d)),
    // the same IVM identity through the maintainer's matrix BucketStore:
    // base matrix seeded, one coocMergeTick applied (touched buckets
    // only read AND written), store read back
    "q_item_cooc_store" -> ((s, d) => ItemCF.coocIncrementalStore(s, d)),
    // the tick payload (changed rows only); oracle = pair-count diff
    "q_item_cooc_delta" -> ((s, d) => ItemCF.coocDeltaDemo(s, d)),
    "q_item_sim"     -> ((s, d) => ItemCF.itemSimilarity(s, d)),
    "q_item_cf_recs" -> ((s, d) => ItemCF.recommend(s, d)),
    "q_user_sim"     -> ((s, d) => ItemCF.userSimilarity(s, d)),
    "q_recs_serve"   -> ((s, d) => Serving.recsServe(s, d)),
    "q_user_mutations" -> ((s, d) => graft.operators.Mutations.userMutationsSnapshot(s, d)),
    // the CDC snapshot lifecycle through a REAL BucketStore: seeds,
    // runs the streaming maintainer's own merge tick (tombstones
    // empty bucket 5), reads the store back — hash-gated vs a plain
    // SQL merge of the same batch
    "q_ratings_cdc_store" -> ((s, d) => graft.operators.Mutations.cdcSnapshotStore(s, d)),
    "text_tfidf"     -> ((s, d) => TextAnalysis.tfIdf(s, d)),
    // — deterministic sampling —
    "q_sample_hash"     -> ((s, d) => Sampling.sampleDocs(s, d)),
    "q_sample_balanced" -> ((s, d) => Sampling.balancedSample(s, d)),
    "q_corpus_prep"     -> ((s, d) => CorpusPrep.prep(s, d)),
    "q_sample_weighted" -> ((s, d) => Sampling.weightedSample(s, d)),
    "q_sample_upsample" -> ((s, d) => Sampling.weightedUpsample(s, d)),
    "q_sample_curriculum" -> ((s, d) => Sampling.curriculumSample(s, d)),
    // scale path (approx_percentile cutpoints, FROZEN to a parquet
    // artifact on first run → layout/rerun independent): rows-only —
    // sketch boundaries are engine-specific; CurriculumSpec gates
    // agreement with the exact path and rerun stability
    "q_sample_curriculum_approx" -> ((s, d) => Sampling.curriculumSampleApproxFrozen(s, d)),
    "q_mix_plan"          -> ((s, d) => Sampling.mixPlan(s, d)),
    "q_epoch_shuffle"     -> ((s, d) => Sampling.epochShuffle(s, d)),
    // — MovieLens fidelity harness (reference's own dataset; rows-only) —
    "ml_top_movies" -> ((s, _) => graft.sources.MovieLens.topMovies(s)),
    "ml_genre_stats" -> ((s, _) => graft.sources.MovieLens.genreStats(s)),
    "ml_als_eval"   -> ((s, _) => graft.sources.MovieLens.alsEval(s)),
    "ml_als_top_n"  -> ((s, _) => graft.sources.MovieLens.topNWithTitles(s)),
    // — analytics headliners —
    "q1_agg"         -> ((s, d) => Analytics.q1Agg(s, d)),
    "q3_join"        -> ((s, d) => Analytics.q3Join(s, d)),
    "q_events_window" -> ((s, d) => Analytics.eventsWindow(s, d)),
    "q_sessionize"   -> ((s, d) => Analytics.sessionize(s, d)),
    "q_interval_join" -> ((s, d) => Analytics.intervalJoin(s, d)),
    "q5_nation"      -> ((s, d) => Analytics.q5Nation(s, d)),
    "q1_rollup"      -> ((s, d) => Analytics.q1Rollup(s, d)),
    "q_moving_avg"   -> ((s, d) => Analytics.movingAvg(s, d)),
    "q_events_props" -> ((s, d) => Analytics.eventsProps(s, d)),
    "q_asof_join"    -> ((s, d) => Analytics.asofEnrich(s, d)),
    "q_approx_stats" -> ((s, d) => Analytics.approxStats(s, d)),
    // salted hot-key join; oracle = the PLAIN join+aggregate, so the
    // gate passes only if salting redistributes work without changing
    // a single value
    "q_skew_join"    -> ((s, d) => graft.operators.Skew.saltedJoinDemo(s, d)),
  )

  private val I = Tables.interactionsSql
  // degree-capped CF working sets (see ItemCF scaladoc): capped per
  // user for item-pair joins, per item for user-pair joins
  private val IU = Tables.cappedSql("user_id", "item_id", graft.operators.ItemCF.DefaultMaxDegree)
  private val II = Tables.cappedSql("item_id", "user_id", graft.operators.ItemCF.DefaultMaxDegree)

  def oracleSql: Map[String, String] = Map(
    "q_ratings_etl" ->
      s"""$I SELECT user_id, item_id, rating, is_implicit FROM interactions""",

    "q_movie_stats" ->
      s"""$I SELECT item_id,
         |  count(user_id) AS count_users,
         |  round(avg(rating), 4) AS avg_rating
         |FROM interactions WHERE NOT is_implicit
         |GROUP BY item_id HAVING count(user_id) > 5""".stripMargin,

    "q_top_movies" ->
      s"""$I SELECT i.item_id,
         |  round(avg(i.rating), 4) AS avg_rating,
         |  count(i.user_id) AS votes,
         |  p.p_name, p.p_brand
         |FROM interactions i JOIN part p ON i.item_id = p.p_partkey
         |WHERE i.rating >= 3.5
         |GROUP BY i.item_id, p.p_name, p.p_brand
         |ORDER BY votes DESC, avg_rating DESC, item_id ASC
         |LIMIT 100""".stripMargin,

    "q_top_movies_paged" ->
      s"""$I SELECT item_id, avg_rating, votes, p_name, p_brand, rn FROM (
         |  SELECT i.item_id,
         |    round(avg(i.rating), 4) AS avg_rating,
         |    count(i.user_id) AS votes,
         |    p.p_name, p.p_brand,
         |    row_number() OVER (ORDER BY count(i.user_id) DESC,
         |      round(avg(i.rating), 4) DESC, i.item_id ASC) AS rn
         |  FROM interactions i JOIN part p ON i.item_id = p.p_partkey
         |  WHERE i.rating >= 3.5
         |  GROUP BY i.item_id, p.p_name, p.p_brand)
         |WHERE rn > 10 AND rn <= 20""".stripMargin,

    "q_user_top_ratings_paged" ->
      s"""$I SELECT user_id, item_id, rating, rn FROM (
         |  SELECT user_id, item_id, rating,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY rating DESC, ts DESC, item_id ASC) AS rn
         |  FROM interactions) WHERE rn > 5 AND rn <= 10""".stripMargin,

    "q_user_latest_paged" ->
      """SELECT user_id, event_id, ts_ms, event_type, rn FROM (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn > 5 AND rn <= 10""".stripMargin,

    "q_user_top_ratings" ->
      s"""$I SELECT user_id, item_id, rating, rn FROM (
         |  SELECT user_id, item_id, rating,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY rating DESC, ts DESC, item_id ASC) AS rn
         |  FROM interactions) WHERE rn <= 5""".stripMargin,

    "q_user_topk_agg" ->
      s"""$I SELECT user_id, item_id, rating, rn FROM (
         |  SELECT user_id, item_id, rating,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY rating DESC, item_id ASC) AS rn
         |  FROM interactions) WHERE rn <= 5""".stripMargin,

    "q_user_latest" ->
      """SELECT user_id, event_id, ts_ms, event_type, rn FROM (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn <= 5""".stripMargin,

    "q_recs_fallback" ->
      s"""$I, top AS (
         |  SELECT item_id,
         |    round(avg(rating), 4) AS avg_rating,
         |    count(user_id) AS votes
         |  FROM interactions WHERE rating >= 3.5
         |  GROUP BY item_id),
         |seen AS (SELECT DISTINCT item_id FROM interactions WHERE user_id = 1)
         |SELECT t.item_id, t.avg_rating, t.votes FROM top t
         |WHERE t.item_id NOT IN (SELECT item_id FROM seen)
         |ORDER BY votes DESC, avg_rating DESC, item_id ASC
         |LIMIT 20""".stripMargin,

    "q_implicit_backfill" ->
      s"""$I, stats AS (
         |  SELECT item_id, round(avg(rating), 4) AS item_avg
         |  FROM interactions WHERE NOT is_implicit
         |  GROUP BY item_id HAVING count(user_id) > 5)
         |SELECT i.user_id, i.item_id,
         |  coalesce(s.item_avg, 3.5) AS implicit_rating
         |FROM interactions i LEFT JOIN stats s ON i.item_id = s.item_id
         |WHERE i.is_implicit""".stripMargin,

    "q_round_half" ->
      """SELECT event_id,
        |  round(least(5.0, greatest(0.5, round(value / 40.0 * 2.0) / 2.0)), 1) AS half_star
        |FROM events""".stripMargin,

    "q_point_lookup" ->
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_custkey = 1""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // the IVM identity: incremental merge must equal the batch dedup;
    // the store regime reproduces the identical merged groups
    "dedup_exact_inc" -> dedupExactPlantedOracle,
    "dedup_exact_store" -> dedupExactPlantedOracle,

    "dedup_exact_delta" ->
      """WITH nn AS (SELECT CAST(floor(0.8 * count(*)) AS BIGINT) AS cut FROM documents),
        |p AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 3)
        |SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM p, nn GROUP BY md5(text)
        |HAVING max(CASE WHEN doc_id >= nn.cut THEN 1 ELSE 0 END) = 1""".stripMargin,

    "dedup_embed_cosine" ->
      """WITH n AS (SELECT count(*) AS gate_n FROM embeddings),
        |s AS (
        |  SELECT vec_id, embedding FROM embeddings, n
        |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT)
        |        < LEAST(CAST(ceil(65536.0 * 1000 / gate_n) AS BIGINT), 65536))
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM s a JOIN s b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.40""".stripMargin,

    "knn_brute" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT query_id, neighbor_id, cos, rn FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(c.v, q.v), 4) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(c.v, q.v), 4) DESC, c.vec_id ASC) AS rn
        |  FROM c JOIN c q ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rn <= 10""".stripMargin,

    "q_label_centroids" ->
      """SELECT e.label, t.i AS dim,
        |  round(avg(CAST(e.embedding[t.i + 1] AS DOUBLE)), 6) AS centroid,
        |  count(*) AS n_vectors
        |FROM embeddings e, range(64) t(i)
        |GROUP BY e.label, t.i""".stripMargin,

    "q_sample_hash" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        |GROUP BY lang""".stripMargin,

    "q_sample_balanced" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents) WHERE rn <= 30""".stripMargin,

    "q_sample_weighted" ->
      """SELECT doc_id, source, lang, n_chars FROM (
        |  SELECT doc_id, source, lang, n_chars,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS gate,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 7 THEN 'c0'
        |         WHEN CAST(substr(source, 4) AS INT) < 14 THEN '80'
        |         ELSE '40' END AS thr
        |  FROM documents) WHERE gate < thr""".stripMargin,

    "q_sample_curriculum" ->
      """SELECT doc_id, source, q_bucket, ttr FROM (
        |  SELECT doc_id, source, ttr, gate,
        |    ntile(4) OVER (PARTITION BY source ORDER BY ttr DESC, doc_id ASC) AS q_bucket
        |  FROM (
        |    SELECT doc_id, source,
        |      round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |            / len(string_split(text, ' ')), 4) AS ttr,
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS gate
        |    FROM documents))
        |WHERE q_bucket = 1
        |   OR gate < (CASE q_bucket WHEN 2 THEN '80' WHEN 3 THEN '40' ELSE '20' END)""".stripMargin,

    "q_mix_plan" ->
      """SELECT source, n_docs, n_tokens, weight,
        |  CAST(floor(3000000 * weight / 10.25) AS BIGINT) AS target_tokens,
        |  round(CAST(floor(3000000 * weight / 10.25) AS DOUBLE) / n_tokens, 6) AS rate,
        |  CAST(ceil(round(CAST(floor(3000000 * weight / 10.25) AS DOUBLE) / n_tokens, 6))
        |    AS BIGINT) AS n_epochs
        |FROM (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 7 THEN 0.75
        |         WHEN CAST(substr(source, 4) AS INT) < 14 THEN 0.5
        |         ELSE 0.25 END AS DOUBLE) AS weight
        |  FROM documents GROUP BY source)""".stripMargin,

    "q_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT doc_id, unnest(generate_series(0, 1)) AS epoch FROM documents),
        |h AS (
        |  SELECT doc_id, epoch,
        |    md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM e),
        |s AS (
        |  SELECT doc_id, epoch, h,
        |    CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8 AS BIGINT) AS shard
        |  FROM h)
        |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, shard
        |    ORDER BY h ASC, doc_id ASC) AS BIGINT) AS shard_rank
        |FROM s""".stripMargin,

    "q_sample_upsample" ->
      """SELECT doc_id, source,
        |  unnest(generate_series(1,
        |    CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 1 ELSE 0 END
        |    + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |        (CASE WHEN source = 'src0' THEN '80' WHEN source = 'src1' THEN '40' ELSE '00' END)
        |      THEN 1 ELSE 0 END)) AS copy_idx
        |FROM documents
        |WHERE source IN ('src0', 'src1')""".stripMargin,

    "q_corpus_prep" ->
      """SELECT doc_id, lang, source, n_chars, n_tokens, type_token_ratio FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |          / len(string_split(text, ' ')), 4) AS type_token_ratio,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10
        |    AND round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |          / len(string_split(text, ' ')), 4) >= 0.3
        |    AND substr(md5(text), 1, 2) < '80'
        |) WHERE rn = 1""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id, n_chars,
        |  len(regexp_split_to_array(text, '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+'))
        |    AS n_bpe_tokens,
        |  CASE WHEN len(regexp_extract_all(text,
        |      '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+')) > 0
        |    THEN round(CAST(n_chars AS DOUBLE) / len(regexp_extract_all(text,
        |      '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+')), 4)
        |  END AS chars_per_bpe_token
        |FROM documents""".stripMargin,

    "text_quality" ->
      """SELECT doc_id, n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  round(CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS avg_token_len,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS type_token_ratio,
        |  round(CAST(len(list_intersect(string_split(text, ' '),
        |          ['the', 'a', 'of', 'to', 'and', 'in', 'is', 'it'])) AS DOUBLE)
        |        / len(list_distinct(string_split(text, ' '))), 4) AS stopword_type_ratio
        |FROM documents""".stripMargin,

    "text_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '555-[0-9]{4}', '[PHONE]', 'g')) AS clean_md5
        |FROM p""".stripMargin,

    "text_tokens" ->
      """SELECT token, count(*) AS freq FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin,

    "text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
        |            FROM w WHERE len(w) >= 3))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
        |  round(1.0 - count(DISTINCT gram) / count(*), 4) AS dup_gram_frac
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_topk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT doc_id, array_to_string(l[i:i+2], ' ') AS ngram
        |      FROM t, UNNEST(generate_series(1, len(l) - 2)) AS u(i))
        |SELECT ngram, count(*) AS freq,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |FROM g GROUP BY ngram ORDER BY freq DESC, ngram ASC LIMIT 100""".stripMargin,

    // the Misra-Gries two-pass form returns the PROVABLY IDENTICAL
    // top-k (certificate require()d in-operator), so it shares the
    // exact oracle — the strongest gate an "approx" plan can face
    "q_ngram_topk_approx" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT doc_id, array_to_string(l[i:i+2], ' ') AS ngram
        |      FROM t, UNNEST(generate_series(1, len(l) - 2)) AS u(i))
        |SELECT ngram, count(*) AS freq,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |FROM g GROUP BY ngram ORDER BY freq DESC, ngram ASC LIMIT 100""".stripMargin,

    "q_quality_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l, len(text) AS nc
        |           FROM documents),
        |m AS (SELECT doc_id, max(c) AS maxtok FROM (
        |        SELECT doc_id, u.tok, count(*) AS c
        |        FROM t, UNNEST(l) AS u(tok) GROUP BY doc_id, u.tok)
        |      GROUP BY doc_id),
        |s AS (SELECT t.doc_id, len(l) AS n_tokens,
        |        CAST(nc - (len(l) - 1) AS DOUBLE) / len(l) AS atl,
        |        list_has_any(l, ['the','a','of','to','and','in','is','it']) AS has_stop,
        |        m.maxtok
        |      FROM t JOIN m USING (doc_id)),
        |f AS (SELECT doc_id, n_tokens, atl,
        |        CASE WHEN n_tokens < 25 THEN 'too_short'
        |             WHEN atl > 8.0 THEN 'long_words'
        |             WHEN NOT has_stop THEN 'no_stopword'
        |             WHEN maxtok * 1.0 / n_tokens > 0.2 THEN 'repetitive'
        |        END AS first_fail
        |      FROM s)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(atl, 4) AS avg_token_len,
        |  (first_fail IS NULL) AS kept, first_fail
        |FROM f""".stripMargin,

    "text_line_dedup" ->
      """WITH lines AS (
        |  SELECT doc_id, l[i] AS line, i
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents),
        |       UNNEST(generate_series(1, len(l))) AS u(i)),
        |boiler AS (
        |  SELECT trim(line) AS k FROM lines WHERE trim(line) <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (
        |  SELECT doc_id, line, i,
        |    (trim(line) <> '' AND trim(line) IN (SELECT k FROM boiler)) AS rm
        |  FROM lines)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN rm THEN NULL ELSE line END, chr(10)
        |           ORDER BY i), '') AS clean_text
        |FROM marked GROUP BY doc_id""".stripMargin,

    // both tick rungs reproduce the batch scrub restricted to the
    // delta slice (merged counts over base ∪ delta == full-corpus
    // counts), so one oracle gates all the plumbing
    "text_line_dedup_inc" -> lineDedupDeltaOracle,
    "text_line_dedup_store" -> lineDedupDeltaOracle,

    "q_skew_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 100 < 80 THEN 0
        |              ELSE l_orderkey % 100 END AS hot_key,
        |    l_quantity
        |  FROM lineitem),
        |dim AS (
        |  SELECT range AS hot_key,
        |    'seg' || CAST(range % 4 AS VARCHAR) AS segment
        |  FROM range(100))
        |SELECT d.segment, count(*) AS n_rows,
        |  round(sum(f.l_quantity), 2) AS sum_qty
        |FROM fact f JOIN dim d USING (hot_key)
        |GROUP BY d.segment""".stripMargin,

    "q_decontaminate" -> decontaminateOracle,
    // the bloom prefilter changes the plan, not the result
    "q_decontaminate_bloom" -> decontaminateOracle,
    // the persisted-artifact round-trip changes the plan, not the result
    "q_decontaminate_store" -> decontaminateOracle,

    "q_seq_pack" ->
      """WITH t AS (SELECT doc_id, doc_id % 16 AS bucket,
        |             len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, bucket, n_tokens,
        |        CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM t)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(bucket * 1000000 + (cum - n_tokens) // 512 AS BIGINT) AS seq_id,
        |  CAST((cum - n_tokens) % 512 AS BIGINT) AS seq_offset,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  ((cum - n_tokens) // 512) <> ((cum - 1) // 512) AS is_split
        |FROM c ORDER BY doc_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / count(*), 4) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      """SELECT l.l_orderkey,
        |  round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY l.l_orderkey
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q_events_window" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q5_nation" ->
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "q1_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS daily_total
        |  FROM orders GROUP BY 1)
        |SELECT order_date, daily_total,
        |  round(avg(daily_total) OVER (ORDER BY order_date
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma
        |FROM daily""".stripMargin,

    "q_events_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_item_cooc" ->
      s"""$IU SELECT a.item_id AS item_a, b.item_id AS item_b,
         |  count(*) AS n_users
         |FROM capped a JOIN capped b
         |  ON a.user_id = b.user_id AND a.item_id < b.item_id
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // identical to q_item_cooc by design: the salted plan must not
    // change one value
    "q_item_cooc_salted" ->
      s"""$IU SELECT a.item_id AS item_a, b.item_id AS item_b,
         |  count(*) AS n_users
         |FROM capped a JOIN capped b
         |  ON a.user_id = b.user_id AND a.item_id < b.item_id
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // the IVM identity: the incremental merge and the bucketed-store
    // tick both reproduce the batch pair count
    "q_item_cooc_inc" -> itemCoocOracle,
    "q_item_cooc_store" -> itemCoocOracle,

    "q_item_cooc_delta" ->
      s"""$I, pc_all AS (
         |  SELECT a.item_id AS item_a, b.item_id AS item_b, count(*) AS n_users
         |  FROM interactions a JOIN interactions b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |old_i AS (SELECT user_id, item_id FROM interactions WHERE ts < DATE '2001-06-01'),
         |pc_old AS (
         |  SELECT a.item_id AS item_a, b.item_id AS item_b, count(*) AS n_users
         |  FROM old_i a JOIN old_i b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2)
         |SELECT f.item_a, f.item_b, f.n_users
         |FROM pc_all f LEFT JOIN pc_old o USING (item_a, item_b)
         |WHERE o.n_users IS NULL OR f.n_users <> o.n_users""".stripMargin,

    "text_langid" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    round(CAST(len(list_intersect(string_split(text, ' '),
        |      ['der','die','das','und','ist'])) AS DOUBLE) / 5, 4) AS s_de,
        |    round(CAST(len(list_intersect(string_split(text, ' '),
        |      ['the','a','of','and','is'])) AS DOUBLE) / 5, 4) AS s_en,
        |    round(CAST(len(list_intersect(string_split(text, ' '),
        |      ['el','la','de','y','es'])) AS DOUBLE) / 5, 4) AS s_es
        |  FROM documents),
        |b AS (SELECT doc_id, list_sort([
        |    struct_pack(score := s_de, lang := 'de'),
        |    struct_pack(score := s_en, lang := 'en'),
        |    struct_pack(score := s_es, lang := 'es')])[3] AS best FROM s)
        |SELECT doc_id,
        |  CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred,
        |  best.score AS score
        |FROM b""".stripMargin,

    // min-label propagation ≡ connected components ≡ reachability
    // closure: label(v) = min over v's reachable set. DuckDB expresses
    // the closure with a recursive CTE over the symmetric exact-Jaccard
    // edges; docs never reached keep their own id (singleton clusters).
    "dedup_clusters" -> clustersOracle,
    // star contraction computes the same component minima — same oracle
    "dedup_clusters_star" -> clustersOracle,
  ) ++ oracleSqlTail

  // batch line-dedup over the full corpus, restricted to the delta
  // slice (doc_id >= floor(0.8 * n)) — the IVM identity both tick
  // rungs must reproduce
  // Shared BM25 CTE chain (toks → dl → stats → qt → tf → df → w → s):
  // the q_hybrid_rrf oracle extends it with the dense arm and fusion.
  // Arithmetic mirrors graft.operators.Retrieval.scoreBm25 operation-
  // for-operation: (1.2 + 1) kept as an ADD (both engines fold the
  // same parsed doubles), length normalization associated as
  // (dl/avgdl * 0.75 + 0.25) * 1.2, per-term w rounded to 4 decimals
  // BEFORE the per-doc sum, the sum re-rounded.
  private val Bm25Ctes: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT doc_id AS q_id, token FROM (
      |    SELECT doc_id, unnest((string_split(text, ' '))[1:6]) AS token
      |    FROM documents WHERE doc_id % 100 = 7 AND doc_id < 5000)),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM toks
      |  WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |w AS (
      |  SELECT qt.q_id, tf.doc_id,
      |    round(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1) *
      |      (tf.tf * (1.2 + 1)) /
      |      (tf.tf + (dl.dl / stats.avgdl * 0.75 + (1 - 0.75)) * 1.2), 4) AS w
      |  FROM qt JOIN tf ON qt.token = tf.token
      |    JOIN df ON tf.token = df.token
      |    JOIN dl ON tf.doc_id = dl.doc_id
      |    CROSS JOIN stats),
      |s AS (SELECT q_id, doc_id, round(sum(w), 4) AS score FROM w GROUP BY 1, 2)""".stripMargin

  private val Bm25OracleSql: String =
    s"""$Bm25Ctes
       |SELECT q_id, doc_id, score, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, doc_id ASC) AS rn FROM s)
       |WHERE rn <= 10""".stripMargin

  // DPR hard-negative mining: BM25 shortlist (the shared CTEs) →
  // strike positive + semantic near-positives → re-ranked top 5.
  // Shared by the in-query and index-at-rest rungs (value-identical).
  private val HardNegOracleSql: String =
    s"""$Bm25Ctes,
       |cand AS (
       |  SELECT q_id, doc_id, score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id ASC) AS rn FROM s)
       |  WHERE rn <= 20),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x AS (
       |  SELECT c.q_id, c.doc_id, c.score,
       |    round(list_cosine_similarity(de.v, qe.v), 4) AS cos
       |  FROM cand c
       |  LEFT JOIN e de ON de.vec_id = c.doc_id
       |  LEFT JOIN e qe ON qe.vec_id = c.q_id)
       |SELECT q_id, doc_id, score, rank FROM (
       |  SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM x WHERE doc_id <> q_id AND (cos IS NULL OR cos < 0.35))
       |WHERE rank <= 5""".stripMargin

  // the CDC rung's oracle: the SAME BM25 pipeline over the POST-CDC
  // corpus (doc_id≡55 deleted, doc_id≡56 re-ingested with doubled
  // text) — a delete+re-ingest tick must be value-identical to a
  // rebuild on the mutated corpus. The query residue (≡7) is disjoint
  // from the mutated ones, so qt over the corpus ≡ qt over documents.
  private val Bm25CdcOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 100 = 56 THEN text || ' ' || text ELSE text END AS text
      |  FROM documents WHERE doc_id % 100 <> 55),
      |toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM corpus),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |qt AS (
      |  SELECT DISTINCT doc_id AS q_id, token FROM (
      |    SELECT doc_id, unnest((string_split(text, ' '))[1:6]) AS token
      |    FROM corpus WHERE doc_id % 100 = 7 AND doc_id < 5000)),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM toks
      |  WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |w AS (
      |  SELECT qt.q_id, tf.doc_id,
      |    round(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1) *
      |      (tf.tf * (1.2 + 1)) /
      |      (tf.tf + (dl.dl / stats.avgdl * 0.75 + (1 - 0.75)) * 1.2), 4) AS w
      |  FROM qt JOIN tf ON qt.token = tf.token
      |    JOIN df ON tf.token = df.token
      |    JOIN dl ON tf.doc_id = dl.doc_id
      |    CROSS JOIN stats),
      |s AS (SELECT q_id, doc_id, round(sum(w), 4) AS score FROM w GROUP BY 1, 2)
      |SELECT q_id, doc_id, score, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY score DESC, doc_id ASC) AS rn FROM s)
      |WHERE rn <= 10""".stripMargin

  // Stupid-Backoff hashed-bigram LM scoring (operators.Lm), mirrored
  // operation-for-operation: md5-prefix buckets, backoff arm with the
  // add-one floor, per-token round-to-1e-4 BEFORE the doc sum,
  // per-lang terciles.
  private val LmOracleSql: String =
    """WITH tw AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |  WHERE lang = 'en' AND doc_id % 10 = 0),
      |uni AS (
      |  SELECT substr(md5(token), 1, 3) AS ub, count(*) AS cu
      |  FROM (SELECT unnest(w) AS token FROM tw) GROUP BY 1),
      |bi AS (
      |  SELECT substr(md5(w[i-1] || ' ' || w[i]), 1, 4) AS bb, count(*) AS cb
      |  FROM (SELECT w, unnest(generate_series(2, len(w))) AS i
      |        FROM tw WHERE len(w) >= 2) GROUP BY 1),
      |tot AS (SELECT sum(cu) AS n_total FROM uni),
      |toks AS (
      |  SELECT doc_id, lang,
      |    substr(md5(w[i]), 1, 3) AS ub,
      |    CASE WHEN i >= 2 THEN substr(md5(w[i-1] || ' ' || w[i]), 1, 4) END AS bb,
      |    CASE WHEN i >= 2 THEN substr(md5(w[i-1]), 1, 3) END AS pb
      |  FROM (SELECT doc_id, lang, w, unnest(generate_series(1, len(w))) AS i
      |        FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents))),
      |sc AS (
      |  SELECT doc_id, lang,
      |    round(ln(CASE WHEN b.cb IS NOT NULL AND pu.cu IS NOT NULL
      |      THEN CAST(b.cb AS DOUBLE) / pu.cu
      |      ELSE (CASE WHEN t.pb IS NULL THEN 1.0 ELSE 0.4 END) *
      |           (coalesce(u.cu, 0) + 1) / (tot.n_total + 4096) END), 4) AS l
      |  FROM toks t
      |  LEFT JOIN bi b ON t.bb = b.bb
      |  LEFT JOIN uni u ON t.ub = u.ub
      |  LEFT JOIN uni pu ON t.pb = pu.ub
      |  CROSS JOIN tot),
      |d AS (
      |  SELECT doc_id, lang, count(*) AS n_tok,
      |    round(-sum(l), 4) / count(*) AS logsb
      |  FROM sc GROUP BY 1, 2)
      |SELECT doc_id, lang, n_tok, logsb,
      |  ntile(3) OVER (PARTITION BY lang ORDER BY logsb ASC, doc_id ASC) AS tercile
      |FROM d""".stripMargin

  // the batch dedup over the dup-planted corpus (every doc_id % 10 = 3
  // copied at id + 10⁷): copies land in the delta, their originals in
  // the base, so groups genuinely merge across the tick
  private val dedupExactPlantedOracle: String =
    """WITH p AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 3)
      |SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies
      |FROM p GROUP BY md5(text)""".stripMargin

  // the batch pair count over the full facts, thresholded at 3 users
  private val itemCoocOracle: String =
    s"""$I SELECT a.item_id AS item_a, b.item_id AS item_b,
       |  count(*) AS n_users
       |FROM interactions a JOIN interactions b
       |  ON a.user_id = b.user_id AND a.item_id < b.item_id
       |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin

  private val lineDedupDeltaOracle: String =
    """WITH lines AS (
      |  SELECT doc_id, l[i] AS line, i
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS u(i)),
      |boiler AS (
      |  SELECT trim(line) AS k FROM lines WHERE trim(line) <> ''
      |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      |cutoff AS (SELECT CAST(floor(count(*) * 0.8) AS BIGINT) AS cut FROM documents),
      |marked AS (
      |  SELECT doc_id, line, i,
      |    (trim(line) <> '' AND trim(line) IN (SELECT k FROM boiler)) AS rm
      |  FROM lines)
      |SELECT m.doc_id, count(*) AS n_lines,
      |  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN rm THEN NULL ELSE line END, chr(10)
      |           ORDER BY i), '') AS clean_text
      |FROM marked m, cutoff WHERE m.doc_id >= cutoff.cut
      |GROUP BY m.doc_id""".stripMargin

  private val decontaminateOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
      |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-3)) AS i
      |            FROM w WHERE len(w) >= 4)),
      |eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
      |SELECT t.doc_id, CAST(count(DISTINCT t.gram) AS BIGINT) AS n_hits
      |FROM (SELECT * FROM g WHERE doc_id % 20 <> 0) t JOIN eval_g e USING (gram)
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  private val clustersOracle: String =
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct([array_to_string(w[i:i+2], ' ')
        |                             for i in range(1, len(w) - 1)])
        |    END AS grams
        |  FROM w),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |        / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4) >= 0.8),
        |edge AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM p
        |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
        |reach(id, r) AS (
        |  SELECT src, dst FROM edge
        |  UNION
        |  SELECT e.src, r.r FROM edge e JOIN reach r ON e.dst = r.id),
        |labels AS (
        |  SELECT id AS doc_id, least(id, min(r)) AS label FROM reach GROUP BY id)
        |SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id,
        |  d.doc_id = coalesce(l.label, d.doc_id) AS is_keeper
        |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id""".stripMargin

  private val oracleSqlTail: Map[String, String] = Map(
    // r15 (the r14 verdict's #8): the reference-fidelity surface gets
    // value gates — the MovieLens loaders are deterministic CSV reads,
    // so DuckDB can reproduce them end-to-end (read_csv over the SAME
    // files the Spark source layer reads; ratings are exact halves, so
    // float32-vs-double aggregation is bit-stable)
    "ml_top_movies" ->
      """WITH r AS (
        |  SELECT movieId AS movie_id, CAST(rating AS DOUBLE) AS rating, userId
        |  FROM read_csv('/root/reference/prototype/ml-latest-small/ratings.csv', header=true)
        |  WHERE rating >= 3.5),
        |agg AS (
        |  SELECT movie_id, ROUND(AVG(rating), 4) AS avg_rating,
        |         CAST(COUNT(userId) AS BIGINT) AS votes
        |  FROM r GROUP BY movie_id)
        |SELECT a.movie_id, m.title, a.avg_rating, a.votes
        |FROM agg a
        |JOIN read_csv('/root/reference/prototype/ml-latest-small/movies_enriched.csv', header=true) m
        |  USING (movie_id)
        |ORDER BY a.votes DESC, a.avg_rating DESC, a.movie_id ASC
        |LIMIT 20""".stripMargin,
    "ml_genre_stats" ->
      """WITH m AS (
        |  SELECT movie_id,
        |    COALESCE(CAST(NULLIF(regexp_extract(title, '\((\d{4})\)\s*$', 1), '') AS INT),
        |             year) AS year_derived,
        |    genres
        |  FROM read_csv('/root/reference/prototype/ml-latest-small/movies_enriched.csv', header=true)),
        |exploded AS (
        |  SELECT movie_id, year_derived, genre
        |  FROM m, UNNEST(string_split(COALESCE(genres, ''), '|')) AS t(genre)
        |  WHERE genre <> ''),
        |stats AS (
        |  SELECT movieId AS movie_id, CAST(COUNT(userId) AS BIGINT) AS votes,
        |         SUM(CAST(rating AS DOUBLE)) AS rating_sum
        |  FROM read_csv('/root/reference/prototype/ml-latest-small/ratings.csv', header=true)
        |  GROUP BY movieId)
        |SELECT genre,
        |  CAST(COUNT(e.movie_id) AS BIGINT) AS n_movies,
        |  CAST(MIN(year_derived) AS INT) AS min_year,
        |  CAST(MAX(year_derived) AS INT) AS max_year,
        |  CAST(SUM(COALESCE(s.votes, 0)) AS BIGINT) AS votes,
        |  CASE WHEN SUM(COALESCE(s.votes, 0)) > 0
        |       THEN ROUND(SUM(COALESCE(s.rating_sum, 0.0)) / SUM(COALESCE(s.votes, 0)), 4)
        |  END AS avg_rating
        |FROM exploded e LEFT JOIN stats s USING (movie_id)
        |GROUP BY genre""".stripMargin,
    // the incremental tick over the dup-planted corpus: same exact
    // jaccard, restricted to pairs with a post-cut member (the filter
    // is pushed into the join so DuckDB never forms base×base pairs)
    "dedup_ngram_inc" ->
      """WITH nn AS (SELECT CAST(floor(0.8 * count(*)) AS BIGINT) AS cut FROM documents),
        |p AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 3),
        |w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |  FROM p),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct([array_to_string(w[i:i+2], ' ')
        |                             for i in range(1, len(w) - 1)])
        |    END AS grams
        |  FROM w),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.grams, b.grams)) AS i,
        |    len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS u
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id, nn
        |  WHERE a.doc_id >= nn.cut OR b.doc_id >= nn.cut)
        |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / u, 4) AS jaccard
        |FROM pr WHERE round(CAST(i AS DOUBLE) / u, 4) >= 0.8""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct([array_to_string(w[i:i+2], ' ')
        |                             for i in range(1, len(w) - 1)])
        |    END AS grams
        |  FROM w),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.grams, b.grams)) AS i,
        |    len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS u
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / u, 4) AS jaccard
        |FROM p WHERE round(CAST(i AS DOUBLE) / u, 4) >= 0.8""".stripMargin,

    "dedup_substring_inc" ->
      """WITH nn AS (SELECT CAST(floor(0.8 * count(*)) AS BIGINT) AS cut FROM documents),
        |p AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 3),
        |t AS (SELECT doc_id, string_split(text, ' ') AS l FROM p
        |      WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT DISTINCT doc_id, array_to_string(l[i:i+7], ' ') AS win
        |      FROM t, UNNEST(generate_series(1, len(l) - 7)) AS u(i)),
        |ok AS (SELECT win FROM g GROUP BY win HAVING count(*) <= 100),
        |f AS (SELECT g.doc_id, g.win FROM g JOIN ok USING (win)),
        |d AS (SELECT f.doc_id, f.win FROM f, nn WHERE f.doc_id >= nn.cut),
        |pr AS (SELECT DISTINCT least(d.doc_id, f.doc_id) AS doc_a,
        |         greatest(d.doc_id, f.doc_id) AS doc_b, d.win
        |       FROM d JOIN f ON d.win = f.win AND d.doc_id <> f.doc_id)
        |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS shared_windows
        |FROM pr GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // the dfCap (<= 100 docs) and minShared (>= 2 windows) knobs are
    // mirrored EXACTLY between the Spark plan and this SQL
    "dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |           WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT DISTINCT doc_id, array_to_string(l[i:i+7], ' ') AS win
        |      FROM t, UNNEST(generate_series(1, len(l) - 7)) AS u(i)),
        |ok AS (SELECT win FROM g GROUP BY win HAVING count(*) <= 100),
        |f AS (SELECT g.doc_id, g.win FROM g JOIN ok USING (win))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS shared_windows
        |FROM f a JOIN f b ON a.win = b.win AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "q_item_sim" ->
      s"""$IU, norms AS (
         |  SELECT item_id, sqrt(sum(rating * rating)) AS norm
         |  FROM capped GROUP BY item_id),
         |dots AS (
         |  SELECT a.item_id AS item_a, b.item_id AS item_b,
         |    sum(a.rating * b.rating) AS dot, count(*) AS n_common
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT d.item_a, d.item_b, d.n_common,
         |  round(d.dot / (na.norm * nb.norm), 4) AS sim
         |FROM dots d
         |JOIN norms na ON d.item_a = na.item_id
         |JOIN norms nb ON d.item_b = nb.item_id
         |WHERE round(d.dot / (na.norm * nb.norm), 4) >= 0.0""".stripMargin,

    "q_user_sim" ->
      s"""$II, norms AS (
         |  SELECT user_id, sqrt(sum(rating * rating)) AS norm
         |  FROM capped GROUP BY user_id),
         |dots AS (
         |  SELECT a.user_id AS user_a, b.user_id AS user_b,
         |    sum(a.rating * b.rating) AS dot, count(*) AS n_common
         |  FROM capped a JOIN capped b
         |    ON a.item_id = b.item_id AND a.user_id < b.user_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT d.user_a, d.user_b, d.n_common,
         |  round(d.dot / (na.norm * nb.norm), 4) AS sim
         |FROM dots d
         |JOIN norms na ON d.user_a = na.user_id
         |JOIN norms nb ON d.user_b = nb.user_id
         |WHERE round(d.dot / (na.norm * nb.norm), 4) >= 0.0""".stripMargin,

    "q_item_cf_recs" ->
      s"""$IU, norms AS (
         |  SELECT item_id, sqrt(sum(rating * rating)) AS norm
         |  FROM capped GROUP BY item_id),
         |dots AS (
         |  SELECT a.item_id AS item_a, b.item_id AS item_b,
         |    sum(a.rating * b.rating) AS dot, count(*) AS n_common
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |sims AS (
         |  SELECT d.item_a, d.item_b, round(d.dot / (na.norm * nb.norm), 4) AS sim
         |  FROM dots d
         |  JOIN norms na ON d.item_a = na.item_id
         |  JOIN norms nb ON d.item_b = nb.item_id
         |  WHERE round(d.dot / (na.norm * nb.norm), 4) >= 0.0),
         |sym AS (
         |  SELECT item_a AS item_i, item_b AS item_j, sim FROM sims
         |  UNION ALL
         |  SELECT item_b AS item_i, item_a AS item_j, sim FROM sims),
         |scores AS (
         |  SELECT r.user_id, s.item_j,
         |    CAST(round(sum(CAST(s.sim AS DECIMAL(12,4)) * CAST(r.rating AS DECIMAL(8,2))), 4) AS DOUBLE) AS score
         |  FROM capped r JOIN sym s ON r.item_id = s.item_i
         |  GROUP BY 1, 2),
         |unseen AS (
         |  SELECT sc.* FROM scores sc
         |  LEFT JOIN interactions r ON sc.user_id = r.user_id AND sc.item_j = r.item_id
         |  WHERE r.item_id IS NULL)
         |SELECT user_id, item_j AS item_id, score, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY score DESC, item_j ASC) AS rn
         |  FROM unseen) WHERE rn <= 10""".stripMargin,

    "q_recs_serve" ->
      s"""$I,
         |snap AS (SELECT * FROM interactions WHERE ts < TIMESTAMP '2000-07-01'),
         |capped AS (
         |  SELECT user_id, item_id, rating FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY rating DESC, ts DESC, item_id ASC) AS deg_rn
         |    FROM snap) WHERE deg_rn <= 128),
         |norms AS (
         |  SELECT item_id, sqrt(sum(rating * rating)) AS norm
         |  FROM capped GROUP BY item_id),
         |dots AS (
         |  SELECT a.item_id AS item_a, b.item_id AS item_b,
         |    sum(a.rating * b.rating) AS dot, count(*) AS n_common
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |sims AS (
         |  SELECT d.item_a, d.item_b, round(d.dot / (na.norm * nb.norm), 4) AS sim
         |  FROM dots d
         |  JOIN norms na ON d.item_a = na.item_id
         |  JOIN norms nb ON d.item_b = nb.item_id
         |  WHERE round(d.dot / (na.norm * nb.norm), 4) >= 0.0),
         |sym AS (
         |  SELECT item_a AS item_i, item_b AS item_j, sim FROM sims
         |  UNION ALL
         |  SELECT item_b AS item_i, item_a AS item_j, sim FROM sims),
         |scores AS (
         |  SELECT r.user_id, s.item_j,
         |    CAST(round(sum(CAST(s.sim AS DECIMAL(12,4)) * CAST(r.rating AS DECIMAL(8,2))), 4) AS DOUBLE) AS score
         |  FROM capped r JOIN sym s ON r.item_id = s.item_i
         |  GROUP BY 1, 2),
         |cf_recs AS (
         |  SELECT user_id, item_j AS item_id, score FROM (
         |    SELECT sc.*, row_number() OVER (PARTITION BY sc.user_id
         |      ORDER BY sc.score DESC, sc.item_j ASC) AS cf_rn
         |    FROM scores sc LEFT JOIN snap r
         |      ON sc.user_id = r.user_id AND sc.item_j = r.item_id
         |    WHERE r.item_id IS NULL) WHERE cf_rn <= 10),
         |survivors AS (
         |  SELECT c.user_id, c.item_id, c.score,
         |    row_number() OVER (PARTITION BY c.user_id
         |      ORDER BY c.score DESC, c.item_id ASC) AS rec_rank
         |  FROM cf_recs c LEFT JOIN interactions f
         |    ON c.user_id = f.user_id AND c.item_id = f.item_id
         |  WHERE f.item_id IS NULL),
         |n_surv AS (SELECT user_id, count(*) AS n_surv FROM survivors GROUP BY 1),
         |pool AS (
         |  SELECT item_id, round(avg(rating), 4) AS avg_rating, count(user_id) AS votes
         |  FROM interactions WHERE rating >= 3.5 GROUP BY 1
         |  ORDER BY votes DESC, avg_rating DESC, item_id ASC LIMIT 200),
         |pad_cand AS (
         |  SELECT u.user_id, p.item_id, p.avg_rating, p.votes
         |  FROM (SELECT DISTINCT user_id FROM interactions) u
         |  CROSS JOIN pool p
         |  LEFT JOIN interactions f ON u.user_id = f.user_id AND p.item_id = f.item_id
         |  LEFT JOIN survivors s ON u.user_id = s.user_id AND p.item_id = s.item_id
         |  WHERE f.item_id IS NULL AND s.item_id IS NULL),
         |padded AS (
         |  SELECT pc.user_id, pc.item_id,
         |    coalesce(ns.n_surv, 0) + pc.pad_rn AS rec_rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |          ORDER BY votes DESC, avg_rating DESC, item_id ASC) AS pad_rn
         |        FROM pad_cand) pc
         |  LEFT JOIN n_surv ns ON pc.user_id = ns.user_id
         |  WHERE pc.pad_rn <= 10 - coalesce(ns.n_surv, 0))
         |SELECT user_id, item_id, CAST(rec_rank AS BIGINT) AS rec_rank,
         |  score, 'cf' AS source FROM survivors
         |UNION ALL
         |SELECT user_id, item_id, CAST(rec_rank AS BIGINT) AS rec_rank,
         |  CAST(NULL AS DOUBLE) AS score, 'fallback' AS source FROM padded""".stripMargin,

    "q_user_mutations" ->
      s"""$I, cust AS (
         |  SELECT c_custkey AS user_id, c_name AS name, c_mktsegment AS segment
         |  FROM customer),
         |merged AS (
         |  SELECT user_id, name, segment FROM cust
         |  WHERE user_id % 97 <> 0 AND user_id % 89 <> 0
         |  UNION ALL
         |  SELECT user_id, name || ' [renamed]' AS name, 'REACTIVATED' AS segment
         |  FROM cust WHERE user_id % 89 = 0
         |  UNION ALL
         |  SELECT user_id + 10000000 AS user_id, 'NEW ' || name AS name, 'SIGNUP' AS segment
         |  FROM cust WHERE user_id % 101 = 0),
         |counts AS (SELECT user_id, count(*) AS n FROM interactions GROUP BY 1)
         |SELECT m.user_id, m.name, m.segment,
         |  coalesce(c.n, 0) AS n_ratings
         |FROM merged m LEFT JOIN counts c ON m.user_id = c.user_id""".stripMargin,

    // the CDC-through-the-bucketed-store lifecycle: the oracle merges
    // the same data-derived batch in plain SQL (union + latest-wins
    // window + tombstone filter) — the Spark side runs the streaming
    // maintainer's own tick against a real BucketStore and reads the
    // store back, so rows+schema+hash gate the whole store regime,
    // emptied-bucket tombstones included
    "q_ratings_cdc_store" ->
      s"""$I, batch AS (
         |  SELECT user_id, item_id, CAST(NULL AS DOUBLE) AS rating,
         |    FALSE AS is_implicit, DATE '2005-01-01' AS ts, 'delete' AS op
         |  FROM interactions WHERE user_id % 64 = 5 OR user_id % 97 = 0
         |  UNION ALL
         |  SELECT user_id, item_id, 6.0 - rating AS rating, is_implicit,
         |    DATE '2005-01-01' AS ts, 'upsert' AS op
         |  FROM interactions WHERE user_id % 89 = 0 AND user_id % 64 <> 5
         |  UNION ALL
         |  SELECT user_id, item_id + 10000000 AS item_id, 4.6 AS rating,
         |    TRUE AS is_implicit, DATE '2005-01-01' AS ts, 'upsert' AS op
         |  FROM interactions WHERE user_id % 101 = 0 AND user_id % 64 <> 5),
         |unioned AS (
         |  SELECT user_id, item_id, rating, is_implicit, ts, 'upsert' AS op
         |  FROM interactions
         |  UNION ALL
         |  SELECT user_id, item_id,
         |    least(5.0, greatest(0.5, round(rating * 2.0) / 2.0)) AS rating,
         |    is_implicit, ts, op FROM batch),
         |merged AS (
         |  SELECT user_id, item_id, rating, is_implicit, ts FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id, item_id
         |      ORDER BY ts DESC, op DESC) AS rn FROM unioned)
         |  WHERE rn = 1 AND op <> 'delete')
         |SELECT user_id, item_id, rating, is_implicit,
         |  strftime(ts, '%Y-%m-%d') AS ts_day FROM merged""".stripMargin,

    "text_tfidf" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tokens GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, token, tfidf, rn FROM (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) DESC,
        |               tf.token ASC) AS rn
        |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
        |WHERE rn <= 3""".stripMargin,

    // BM25: arithmetic mirrored operation-for-operation with the
    // Spark side (same association, same literal folding — e.g.
    // (1.2 + 1) stays an ADD so both engines fold the same parsed
    // doubles); per-term w rounded to the 1e-4 grid BEFORE the sum
    "text_bm25" -> Bm25OracleSql,
    // persisting the postings changes where tf lives, not what it
    // scores — the store rung shares the oracle (the
    // q_decontaminate_store convention)
    "text_bm25_store" -> Bm25OracleSql,
    // seed ∪ tick covers every doc and merges to a value-identical
    // index, so the inc rung shares the full-corpus oracle too
    "text_bm25_inc" -> Bm25OracleSql,
    "text_bm25_cdc" -> Bm25CdcOracleSql,

    "text_lm_score" -> LmOracleSql,
    "text_lm_store" -> LmOracleSql,

    // BM25 shortlist (the shared CTEs) → strike positive + semantic
    // near-positives (cosine parity = the knn_brute discipline) →
    // re-ranked top 5
    "q_hard_negatives" -> HardNegOracleSql,
    // mining from the at-rest indexes is value-identical (stored BM25
    // ≡ in-query; IVF store rows are the exact vectors) — same oracle
    "q_hard_negatives_store" -> HardNegOracleSql,

    "q_hybrid_rrf" ->
      s"""$Bm25Ctes,
         |t AS (
         |  SELECT q_id, doc_id, rn AS trn FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, doc_id ASC) AS rn FROM s)
         |  WHERE rn <= 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |qv AS (SELECT vec_id AS q_id, v FROM e
         |       WHERE vec_id % 100 = 7 AND vec_id < 5000),
         |d AS (
         |  SELECT q_id, vec_id AS doc_id, vrn FROM (
         |    SELECT qv.q_id, e.vec_id, row_number() OVER (PARTITION BY qv.q_id
         |      ORDER BY round(list_cosine_similarity(e.v, qv.v), 4) DESC,
         |               e.vec_id ASC) AS vrn
         |    FROM e CROSS JOIN qv)
         |  WHERE vrn <= 20),
         |f AS (
         |  SELECT COALESCE(t.q_id, d.q_id) AS q_id,
         |    COALESCE(t.doc_id, d.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60 + t.trn), 0) + COALESCE(1.0 / (60 + d.vrn), 0) AS rrf
         |  FROM t FULL OUTER JOIN d ON t.q_id = d.q_id AND t.doc_id = d.doc_id)
         |SELECT q_id, doc_id, round(rrf, 6) AS rrf, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf DESC, doc_id ASC) AS rn FROM f)
         |WHERE rn <= 10""".stripMargin,

    "q_asof_join" ->
      s"""$I, basket AS (
         |  SELECT user_id AS b_user_id, ts AS b_ts,
         |    count(*) AS last_n_items, max(rating) AS last_max_rating
         |  FROM interactions GROUP BY 1, 2)
         |SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
         |  b.last_n_items, b.last_max_rating, epoch_ms(b.b_ts) AS asof_ts_ms
         |FROM events e ASOF LEFT JOIN basket b
         |  ON e.user_id = b.b_user_id AND e.ts >= b.b_ts""".stripMargin,

    "q_interval_join" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, session_id,
        |    epoch_ms(min(ts)) AS s_ms, epoch_ms(max(ts)) AS e_ms
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT s.user_id, s.session_id, count(*) AS n_concurrent
        |FROM sess s JOIN events e
        |  ON epoch_ms(e.ts) >= s.s_ms AND epoch_ms(e.ts) <= s.e_ms
        | AND e.user_id <> s.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id,
        |  count(*) AS n_events,
        |  epoch_ms(min(ts)) AS session_start_ms,
        |  epoch_ms(max(ts)) AS session_end_ms,
        |  CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,
  )
}
