package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus: the quality /
  * statistics layer a training-data pipeline runs before dedup and
  * sampling. Everything is per-row column arithmetic (zero shuffle)
  * except the corpus term-frequency aggregate.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  /** Per-document quality scores: token count, average token length,
    * type-token ratio, stopword ratio — the standard cheap filters
    * (C4/Gopher-style) expressed as codegen'd column ops.
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(spark, sfDir)
      .withColumn("toks", toks)
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).as("n_tokens"),
        round((col("n_chars") - (size(col("toks")) - 1)).cast("double") / size(col("toks")), 4)
          .as("avg_token_len"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 4)
          .as("type_token_ratio"),
        round(size(array_intersect(col("toks"), stopArr)).cast("double") / size(array_distinct(col("toks"))), 4)
          .as("stopword_type_ratio"))
  }

  /** Corpus term frequencies: tokenize → explode → count, top terms.
    * The explode fans out map-side; one shuffle on the token key with
    * partial aggregation (the classic word-count plan).
    */
  def termFrequencies(spark: SparkSession, sfDir: String, topK: Int = 100): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topK)

  /** Token counting under two tokenizers — the budget metric every
    * training-mix decision is priced in. `n_ws_tokens` is the
    * whitespace count; `n_bpe_tokens` approximates a byte-pair-encoded
    * count with the GPT-2-style pre-tokenizer regex (contraction
    * suffixes / letter runs / digit runs / punctuation runs, each with
    * an optional leading space — the split BPE merges then operate
    * within; counting those fragments tracks real tokenizer output
    * closely enough for mix budgeting). Pure regexp_extract_all column
    * work, no UDF; the pattern avoids lookarounds/backreferences so
    * the Java (Spark) and RE2 (DuckDB oracle) dialects agree.
    */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val bpeish = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        col("n_chars"),
        size(split(col("text"), "\\s+")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(bpeish), lit(0))).as("n_bpe_tokens"))
      // empty/whitespace-only docs have zero bpe tokens — NULL ratio,
      // not an ANSI divide-by-zero abort
      .withColumn("chars_per_bpe_token",
        when(col("n_bpe_tokens") > 0,
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4)))
  }

  /** Language-ID heuristic: score each document against tiny
    * marker-token profiles per language; best score wins (ties → 'und').
    * A real pipeline plugs fastText/CLD here — the operator shape
    * (per-row scoring against broadcast profiles) is the same.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val profiles = Map(
      "en" -> Seq("the", "a", "of", "and", "is"),
      "es" -> Seq("el", "la", "de", "y", "es"),
      "de" -> Seq("der", "die", "das", "und", "ist"))
    val toks = split(col("text"), " ")
    val scoreCols = profiles.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val m = array(markers.map(lit): _*)
      struct(
        round(size(array_intersect(toks, m)).cast("double") / lit(markers.size), 4).as("score"),
        lit(lang).as("lang"))
    }
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        array_max(array(scoreCols: _*)).as("best"))
      .select(
        col("doc_id"),
        when(col("best.score") > 0, col("best.lang")).otherwise(lit("und")).as("lang_pred"),
        col("best.score").as("score"))
  }

  /** TF-IDF top terms per document: tf·ln(N/df) with the document
    * count joined in as a broadcast scalar (stays declarative — no
    * driver-side collect), top-k terms per doc via window rank.
    */
  def tfIdf(spark: SparkSession, sfDir: String, topK: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tokens = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tokens.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("doc_id"), col("token"), col("tfidf"), col("rn"))
  }

  /** Word n-gram list over a column named `w` (the space-split token
    * array): gram i = tokens [i, i+n). Shared by [[repetitionOf]] and
    * [[Decontamination]] so the two stay gram-compatible (and both
    * match the DuckDB oracles' `w[i] || ' ' || …` construction).
    * Callers must pre-filter `size(w) >= n`. Note: NOT the same as
    * `graft_shingles`, which dedups, tokenizes on `\s+`, and emits
    * short docs as a single shingle.
    */
  private[graft] def wordGrams(n: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftShims.column(
      graft.functions.VectorFunctions.WordGrams(
        org.apache.spark.sql.GraftShims.expression(col("w")),
        org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** Within-document repetition score — the Gopher-style "fraction of
    * duplicate n-grams" quality filter: machine-generated and boiler-
    * plate text repeats itself, and a high duplicate-trigram fraction
    * is one of the strongest cheap signals for dropping it. Pure
    * per-row column work (no shuffle): build the gram list, compare
    * total vs distinct counts. Docs shorter than `n` tokens carry no
    * gram evidence and are excluded (same rule as the oracle).
    */
  def repetition(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame =
    repetitionOf(Tables.documents(spark, sfDir), n)

  /** Core on an injectable corpus (docs: doc_id, text) — spec entry. */
  def repetitionOf(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), wordGrams(n).as("grams"))
      .select(
        col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
      .withColumn("dup_gram_frac",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 4))
      .orderBy(col("doc_id"))

  // RE2-safe (no lookarounds/backreferences) so the Java (Spark) and
  // RE2 (DuckDB oracle) dialects match byte-for-byte
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "555-[0-9]{4}"

  /** The corpus with deterministic synthetic PII planted (every 5th
    * doc an email, every 7th a phone number — pure functions of
    * doc_id, no RNG, same on every engine/run): the test corpus has no
    * natural PII, and a redaction operator must be exercised against
    * strings it actually rewrites. Same planted-corpus pattern as
    * [[Dedup.embedLshPlanted]].
    */
  private[graft] def piiPlantedCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        concat(
          col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))

  /** PII redaction — the scrubbing pass an LLM training pipeline runs
    * before anything else sees the text: emails and phone-shaped
    * strings are counted and replaced with typed placeholders. Pure
    * map-side regexp column work (rides the ingest scan, zero
    * shuffle, codegen'd — no UDF); the redacted text is surfaced as an
    * md5 so the oracle value-checks the FULL rewritten string without
    * shipping it. A real pipeline swaps in more patterns (SSNs, IP
    * addresses, street addresses) — same operator shape, one regexp
    * per class.
    */
  def redactPii(spark: SparkSession, sfDir: String): DataFrame =
    redactPiiOn(piiPlantedCorpus(spark, sfDir))

  /** Core on an injectable corpus (docs: doc_id, text) — spec entry. */
  private[graft] def redactPiiOn(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      md5(regexp_replace(
        regexp_replace(col("text"), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]")).as("clean_md5"))

  /** Corpus-level n-gram top-k — the frequency table behind
    * contamination audits, tokenizer-merge seeding, and boilerplate
    * discovery: every (n consecutive tokens) gram with its total
    * occurrence count and document frequency. Plan shape is the
    * word-count classic widened to grams: map-side gram explode →
    * one shuffle on the gram key (the `freq` count partial-aggregates
    * map-side; the `doc_freq` distinct is planned by Catalyst as the
    * standard two-phase distinct aggregate keyed (gram, doc_id), so a
    * hot gram's copies spread across the cluster by doc before they
    * count) → global top-k via TakeOrderedAndProject, never a full
    * sort. At 100 TB: candidate work ∝ corpus tokens, the result ∝ k.
    */
  def ngramTopK(spark: SparkSession, sfDir: String, n: Int = 3, topK: Int = 100): DataFrame =
    ngramTopKOf(Tables.documents(spark, sfDir), n, topK)

  /** Core on an injectable corpus (docs: doc_id, text) — spec entry. */
  private[graft] def ngramTopKOf(docs: DataFrame, n: Int = 3, topK: Int = 100): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(wordGrams(n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("freq"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("freq").desc, col("ngram").asc)
      .limit(topK)

  /** Two-pass EXACT heavy-hitters top-k (Misra–Gries 1982) — the
    * 100 TB shape of [[ngramTopK]]: the plain plan's gram-keyed
    * shuffle carries every DISTINCT gram (and its doc_freq phase every
    * distinct (gram, doc) pair — at 1M docs that is the q_ngram_topk
    * 4.2 GB exchange, and the distinct-gram count grows with corpus
    * where the top-k answer does not).
    *
    * Pass 1 (candidates): each partition folds its gram stream through
    * a CAPACITY-bounded Misra–Gries summary (mapPartitions — the
    * decrement-sweep loop has no Catalyst form; the [[graft.operators
    * .Bpe]] codec precedent). MG's guarantee: an item absent from a
    * partition's final summary was decremented away every time, so its
    * true partition count ≤ that partition's decrement-event count
    * d_p; summing, ANY non-candidate's global frequency ≤ Σ d_p. The
    * shuffle carries only ≤ capacity keys + one d_p scalar per
    * partition — corpus-size-independent.
    *
    * Pass 2 (exact recount): re-scan the corpus, semi-join against the
    * candidate set (size-gated broadcast — the `cleanWithBoiler`
    * convention), aggregate freq + doc_freq for CANDIDATES only, take
    * top-k. The shuffle is ∝ the candidates' occurrence mass, not the
    * distinct-gram universe.
    *
    * The result is certified EXACT — not approximate — whenever the
    * k-th recounted frequency exceeds Σ d_p (no non-candidate can
    * displace it); the operator `require`s the certificate and fails
    * loudly with the capacity to raise, instead of silently returning
    * a plausible-but-unprovable list. At any capacity ≥ a partition's
    * distinct grams the summary never decrements (Σ d_p = 0) and the
    * certificate is unconditional. Hence the SAME hash-gated oracle as
    * `q_ngram_topk`: two scans buy a provably identical answer with a
    * bounded exchange.
    */
  def ngramTopKApprox(spark: SparkSession, sfDir: String, n: Int = 3,
                      topK: Int = 100, capacity: Int = 1 << 16): DataFrame =
    ngramTopKApproxOf(spark, Tables.documents(spark, sfDir), n, topK, capacity)

  /** Core on an injectable corpus — spec entry.
    *
    * Certification is adaptive: if the capacity can't certify the
    * requested rank (maxMiss > 0 and the k-th candidate's frequency
    * doesn't clear it — e.g. a deep-tail topK over a high-cardinality
    * gram universe), the capacity DOUBLES and the two-pass plan
    * re-runs, up to `maxEscalations` times, before failing. Each
    * attempt stays capacity-bounded in memory; the common case
    * (heavy-hitter-regime topK, or a corpus whose per-partition
    * distinct grams fit the summary ⇒ maxMiss = 0) certifies on the
    * first attempt and pays nothing.
    */
  private[graft] def ngramTopKApproxOf(spark: SparkSession, docs: DataFrame,
      n: Int = 3, topK: Int = 100, capacity: Int = 1 << 16,
      maxEscalations: Int = 4): DataFrame = {
    import spark.implicits._
    require(capacity > 0, "capacity must be positive")
    def grams = docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(wordGrams(n)).as("ngram"))
    // pass 1: per-partition MG summaries — emit (key, null-sentinel)
    // candidate rows plus ONE (null, d_p) decrement-count row each
    def attempt(cap: Int): (DataFrame, Long, Long, Long) = {
    val summaries = grams.select(col("ngram")).as[String]
      .mapPartitions { it =>
        val counts = new java.util.HashMap[String, java.lang.Long](cap * 2)
        var decEvents = 0L
        while (it.hasNext) {
          val g = it.next()
          val cur = counts.get(g)
          if (cur != null) counts.put(g, cur + 1L)
          else if (counts.size < cap) counts.put(g, 1L)
          else {
            // decrement-all-by-one sweep, drop zeros (classic MG);
            // each event cancels `cap` prior increments, so the
            // total sweep work is O(stream) amortized and
            // d_p ≤ n_p / (cap + 1)
            decEvents += 1L
            val es = counts.entrySet.iterator
            while (es.hasNext) {
              val e = es.next()
              if (e.getValue == 1L) es.remove() else e.setValue(e.getValue - 1L)
            }
          }
        }
        val keys = new scala.collection.mutable.ArrayBuffer[(String, Long)](counts.size + 1)
        counts.keySet.forEach(k => keys += ((k, 0L)))
        keys += ((null, decEvents))
        keys.iterator
      }.toDF("ngram", "dec").cache()
    val maxMiss = summaries.filter(col("ngram").isNull)
      .agg(coalesce(sum(col("dec")), lit(0L))).head().getLong(0)
    val cands = summaries.filter(col("ngram").isNotNull)
      .select(col("ngram")).distinct()
    // pass 2: exact recount of candidates only
    val top = grams
      .join(Hints.broadcastIfSmall(cands), Seq("ngram"), "left_semi")
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("freq"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("freq").desc, col("ngram").asc)
      .limit(topK)
      .cache()
    val rows = top.count()
    val kth = if (rows == 0) 0L else top.agg(min(col("freq"))).head().getLong(0)
    summaries.unpersist()
    (top, maxMiss, rows, kth)
    }
    // certificate: with maxMiss = 0 the summaries were exact (candidates
    // = every gram) and any result — even one shorter than topK — is
    // unconditionally the true list. With maxMiss > 0, exactness needs
    // BOTH a full k rows (a short list means unseen grams could fill
    // it) AND the k-th frequency clearing the bound no non-candidate
    // can exceed. An uncertified attempt escalates (capacity ×2,
    // uncached result dropped) rather than aborting the run.
    var cap = capacity
    var tries = 0
    var result: DataFrame = null
    while (result == null) {
      val (top, maxMiss, rows, kth) = attempt(cap)
      if (maxMiss == 0L || (rows == topK && kth > maxMiss)) result = top
      else {
        top.unpersist()
        require(tries < maxEscalations,
          s"top-$topK not certifiable at capacity=$cap after $tries " +
          s"escalation(s): a non-candidate gram could hold up to $maxMiss " +
          s"occurrences vs the k-th candidate's $kth over $rows returned " +
          "rows (certificate: full k rows with kth > sum of per-partition " +
          "MG decrement events)")
        tries += 1
        cap = math.min(cap.toLong * 2L, Int.MaxValue / 2).toInt
      }
    }
    result
  }

  /** C4/Gopher-style quality-filter CASCADE with an audit column: the
    * keep/drop decision plus the FIRST failing rule, so a pipeline can
    * report per-rule drop rates (the number every dataset card quotes)
    * without re-running one pass per rule. Rules, in order:
    * `too_short` (token count), `long_words` (average token length —
    * lorem-noise/base64 blobs), `no_stopword` (C4's "no common word →
    * not prose"), `repetitive` (max single-token share — tag-soup and
    * generator loops). Entirely per-row column work — zero shuffle,
    * rides the ingest scan at any scale. The max-token-share term is
    * computed as the longest run in the SORTED token array (O(n log n)
    * per doc, one pass — not the O(n·distinct) nested-filter form,
    * which is quadratic on exactly the degenerate docs this rule
    * exists to catch).
    */
  def qualityFilter(spark: SparkSession, sfDir: String, minTokens: Int = 25,
                    maxAvgTokenLen: Double = 8.0, maxTopTokenRatio: Double = 0.2): DataFrame =
    qualityFilterOf(Tables.documents(spark, sfDir), minTokens, maxAvgTokenLen, maxTopTokenRatio)

  /** Core on an injectable corpus (docs: doc_id, text) — spec entry. */
  private[graft] def qualityFilterOf(docs: DataFrame, minTokens: Int = 25,
      maxAvgTokenLen: Double = 8.0, maxTopTokenRatio: Double = 0.2): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("atl",
        (length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      // longest equal-token run in the sorted array == max token count
      .withColumn("max_tok", expr(
        "aggregate(sort_array(w), named_struct('prev', '', 'run', 0, 'best', 0), " +
        "(acc, x) -> named_struct('prev', x, " +
        "  'run', IF(x = acc.prev, acc.run + 1, 1), " +
        "  'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1))), " +
        "acc -> acc.best)"))
      .withColumn("first_fail",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("atl") > maxAvgTokenLen, "long_words")
          .when(size(array_intersect(col("w"), stopArr)) === 0, "no_stopword")
          .when(col("max_tok") / col("n_tokens") > maxTopTokenRatio, "repetitive"))
      .select(
        col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("atl"), 4).as("avg_token_len"),
        col("first_fail").isNull.as("kept"),
        col("first_fail"))
  }

  /** Cross-document LINE dedup — the CCNet/RefinedWeb boilerplate
    * scrub: a (trimmed, non-empty) line that appears in `minDocs`+
    * distinct documents is navigation/cookie-banner/footer noise and
    * is struck from every document carrying it; each doc is returned
    * reassembled from its surviving lines in original order. Three
    * bounded shuffles: (1) the distinct on (line-key, doc_id) — a hot
    * boilerplate line spreads across the cluster BY DOC before
    * anything counts it, so "every page has this footer" is
    * parallelism, not a straggler; (2) the per-key doc count
    * (partial-aggregated); (3) the re-assembly groupBy doc_id, ∝
    * corpus lines. The boilerplate set itself (lines in ≥ minDocs
    * docs) is orders smaller than the corpus and ships size-gated
    * ([[Hints.broadcastIfSmall]]); past the gate the fallback shuffled
    * join has one build row per key, so skew lives only on the probe
    * side where AQE splits it. Reassembly sorts each doc's own
    * collected lines by position — bounded by the doc's size, which
    * arrived as one row to begin with.
    */
  def lineDedup(spark: SparkSession, sfDir: String, minDocs: Int = 2): DataFrame =
    lineDedupOf(Tables.documents(spark, sfDir), minDocs)

  /** Core on an injectable corpus (docs: doc_id, text) — spec entry. */
  private[graft] def lineDedupOf(docs: DataFrame, minDocs: Int = 2): DataFrame =
    cleanWithBoiler(docs,
      lineCountsOf(docs).filter(col("ndocs") >= minDocs).select(col("k")))

  /** The line-count table — the STORE SCHEMA of the incremental
    * regime: (trimmed non-empty line key, distinct-doc count). The
    * (k, doc_id) distinct spreads a hot boilerplate line across the
    * cluster by doc before anything counts it.
    */
  private[graft] def lineCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .select(trim(col("line")).as("k"), col("doc_id"))
      .filter(col("k") =!= "")
      .distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("ndocs"))

  /** Strike every line of `docs` whose trimmed key is in `boiler` and
    * reassemble each doc in original order — the shared back half of
    * all three line-dedup rungs. The boiler set is counted once from
    * a cache and then RELEASED either way: a small set (the common
    * case — only keys over the doc-count threshold qualify) is
    * collected into a broadcast local relation, so repeated
    * invocations (the line-count maintainer calls this every tick)
    * pin no executor storage between calls; a corpus-sized set is
    * recomputed by the shuffled join instead of staying cached for
    * the life of the session.
    */
  private[graft] def cleanWithBoiler(docs: DataFrame, boiler: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("k", trim(col("line")))
    val keys = boiler.select(col("k")).cache()
    val n = keys.count()
    val joinSide =
      if (n <= Hints.DeltaBroadcastMaxRowsMd5) {
        val local = spark.createDataFrame(
          java.util.Arrays.asList(keys.collect(): _*), keys.schema)
        keys.unpersist()
        broadcast(local)
      } else { keys.unpersist(); keys }
    lines
      .join(joinSide.withColumn("rm0", lit(true)), Seq("k"), "left")
      .withColumn("rm", col("k") =!= "" && coalesce(col("rm0"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        array_join(expr(
          "transform(filter(sort_array(collect_list(struct(pos, line, rm))), " +
          "s -> NOT s.rm), s -> s.line)"), "\n").as("clean_text"))
  }

  /** Incremental line dedup — the ingest-tick regime of [[lineDedup]]:
    * at 100 TB the boilerplate scrub does not re-explode the landed
    * corpus per batch; the tick counts the DELTA's lines, pulls the
    * store's counts for exactly the TOUCHED keys (a delta doc's line
    * can only be boilerplate through a key the delta itself carries,
    * so the semi-join prune is lossless), merges, thresholds, and
    * cleans only the delta docs. Base docs keep the text they were
    * admitted with — ingest-time cleaning is the streaming contract;
    * retroactive scrubbing when a line LATER crosses the threshold is
    * a batch job ([[lineDedup]]), the same split every store rung in
    * [[Dedup]] documents. Here the base counts are rebuilt in-query
    * for oracle self-containment (the documented upper bound on the
    * tick, as `q_item_cooc_inc`); the store regime is
    * [[lineDedupStore]]. Output: the cleaned DELTA docs — identical
    * to the batch operator restricted to delta ids, which is the
    * registered oracle.
    */
  def lineDedupIncremental(spark: SparkSession, sfDir: String, minDocs: Int = 2): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val cut = docs.agg(floor(count(lit(1)) * 0.8).cast("long").as("cut"))
    val all = docs.crossJoin(broadcast(cut))
    val base = all.filter(col("doc_id") < col("cut")).select(col("doc_id"), col("text"))
    val delta = all.filter(col("doc_id") >= col("cut")).select(col("doc_id"), col("text"))
    lineDedupDeltaOf(lineCountsOf(base), delta, minDocs)
  }

  /** Tick core: clean `delta` docs against `storeCounts` ⊎ the delta's
    * own counts (touched keys only). Store/spec entry.
    */
  private[graft] def lineDedupDeltaOf(storeCounts: DataFrame, delta: DataFrame,
                                      minDocs: Int = 2): DataFrame = {
    val deltaCounts = lineCountsOf(delta).cache()
    val touched = storeCounts
      .join(Hints.broadcastIfSmall(deltaCounts.select(col("k"))), Seq("k"), "left_semi")
    val merged = touched.unionByName(deltaCounts)
      .groupBy(col("k")).agg(sum(col("ndocs")).as("ndocs"))
    cleanWithBoiler(delta, merged.filter(col("ndocs") >= minDocs).select(col("k")))
  }

  /** [[lineDedupIncremental]] through the line-count store the
    * streaming maintainer keeps (registered `text_line_dedup_store`):
    * the first 80% of the corpus ids' counts are seeded into a
    * md5-bucketed [[graft.streaming.BucketStore]], the rest apply as
    * batch 1 through the maintainer's own
    * [[graft.streaming.DocStream.lineCountTick]], and the delta docs
    * are cleaned against the store's merged counts
    * ([[graft.streaming.DocStream.readLineCounts]]) at 2+ docs. Same
    * oracle as the incremental rung: the store plumbing changes the
    * plan, never the values. The store root is unique per run
    * ([[graft.sources.Sinks.freshStoreDir]]), so concurrent runs on one
    * corpus never share a seed.
    */
  def lineDedupStore(spark: SparkSession, sfDir: String,
                     artifactDir: String = "target/graft-artifacts"): DataFrame = {
    import graft.streaming.{BucketStore, DocStream}
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val cut = math.floor(docs.count() * 0.8).toLong
    val delta = docs.filter(col("doc_id") >= cut)
    val dir = graft.sources.Sinks.freshStoreDir("line_store", sfDir, artifactDir)
    graft.PhaseTimer.timed("text_line_dedup_store", "seed") {
      val counts = lineCountsOf(docs.filter(col("doc_id") < cut)).cache()
      try {
        val n = BucketStore.deriveBuckets(counts.count())
        BucketStore.seed(counts, BucketStore.md5Bucket(md5(col("k")), n), dir, n,
          kind = BucketStore.KindMd5)
      } finally counts.unpersist()
    }
    graft.PhaseTimer.timed("text_line_dedup_store", "tick") {
      DocStream.lineCountTick(spark, dir, delta, batchId = 1L, nBuckets = -1)
    }
    cleanWithBoiler(delta, DocStream.readLineCounts(spark, dir).filter(col("ndocs") >= 2))
  }

  /** Rolling polynomial (Rabin-Karp-style) document fingerprint over
    * token hashes — order-sensitive, unlike the bag-of-shingles
    * signatures in [[Dedup]]. Arithmetic kept modular (acc < 2^31,
    * multiplier 2^20) so it never overflows a long — Spark 4's ANSI
    * mode makes wrap-around an error, and modular form is portable.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        // r14: one native pass (graft_rolling_fp) — the
        // aggregate(transform(split(…))) form interpreted two lambda
        // frames per token; fingerprints bit-identical (spec-pinned)
        expr("graft_rolling_fp(text)").as("fingerprint"))
  }
}
