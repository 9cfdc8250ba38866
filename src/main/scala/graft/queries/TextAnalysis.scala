package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Exact, Tables, Tokens}

/** Text-analysis operators for an LLM-training-data pipeline (driver-mandated
  * extension surface, SURVEY.md §2.C): per-corpus stats, token counting,
  * language-ID heuristic, quality scoring, fingerprinting, TF-IDF.
  *
  * All are single-pass scan→(explode)→shuffle-on-small-key plans: the only
  * shuffles are on (lang, source), doc_id, or token — each low-cardinality or
  * uniformly distributed, so the shapes hold at 100 TB (partial aggregation
  * bounds shuffle volume by |groups| per partition, and tokenization is
  * whole-stage-codegen'd row work that scales linearly with input splits).
  */
object TextAnalysis {

  private val tokens = split(col("text"), " ", -1)

  /** Corpus statistics per (lang, source): doc counts, char/token volume. */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(avg("n_chars"), 4).as("avg_chars"),
        sum(size(tokens).cast("long")).as("total_tokens"))
      .orderBy("lang", "source")

  /** Per-document token counts: whitespace tokens, regex (BPE-ish word/number
    * pieces) tokens, distinct tokens. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(tokens).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("n_re_tokens"),
        size(array_distinct(tokens)).as("n_distinct_tokens"))
      .orderBy("doc_id")

  /** PII redaction over the corpus (Graft.redact): deterministic synthetic
    * contact strings are appended per document (the driver corpus contains
    * no real PII, so the scrub must provably FIRE — the oracle checks the
    * fully redacted text byte-for-byte), then email/phone patterns replace
    * with typed placeholder tokens. Row-local regexp chain inside the scan;
    * per-doc match counts come from the same patterns pre-redaction. */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("body", concat(col("text"), lit(" user"),
        col("doc_id").cast("string"), lit("@mail.example.com or call 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
    graft.api.Graft.redact(docs, "body", Seq(
        "[a-z0-9._]+@[a-z0-9.-]+" -> "<EMAIL>",
        "[0-9]{3}-[0-9]{4}" -> "<PHONE>"), out = "clean")
      .select(col("doc_id"),
        size(expr("regexp_extract_all(body, '[a-z0-9._]+@[a-z0-9.-]+', 0)")).as("n_emails"),
        size(expr("regexp_extract_all(body, '[0-9]{3}-[0-9]{4}', 0)")).as("n_phones"),
        col("clean"))
      .orderBy("doc_id")
  }

  /** PII AUDIT REPORT — the per-source rollup a compliance review reads
    * beside the scrub itself: for each (source, rule), documents affected,
    * total matches, and the ratio4 hit rate. Same synthetic injection and
    * rule set as pii_scrub (so the report provably fires); counts are
    * row-local regexp_extract_all sizes, the rollup is one grid-sized
    * aggregate — at 100 TB this is the scan plus a (sources × rules)
    * reduce. */
  def piiReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("body", concat(col("text"), lit(" user"),
        col("doc_id").cast("string"), lit("@mail.example.com or call 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      // only even ids get a second phone so the per-rule rates differ
      .withColumn("body", when(col("doc_id") % 2 === 0,
        concat(col("body"), lit(" alt 555-0199"))).otherwise(col("body")))
    val rules = Seq(
      "email" -> "[a-z0-9._]+@[a-z0-9.-]+",
      "phone" -> "[0-9]{3}-[0-9]{4}")
    rules.map { case (rule, re) =>
      docs.select(col("source"),
          size(expr(s"regexp_extract_all(body, '$re', 0)")).cast("long").as("__m"))
        .groupBy("source")
        .agg(count(lit(1)).as("__n"),
          count_if(col("__m") > 0L).as("n_docs_hit"),
          sum("__m").as("n_matches"))
        .select(col("source"), lit(rule).as("rule"), col("n_docs_hit"),
          col("n_matches"),
          expr(Exact.ratio4("n_docs_hit", "__n"))
            .as("hit_rate"))
    }.reduce(_ unionByName _)
      .orderBy("source", "rule")
  }

  /** Per-document TOKEN ENTROPY — the low-entropy spam/template gate
    * (Shannon '48; keyword-stuffed or generated-template text reads low):
    * H = Σ_t (c_t/n)·ln(n/c_t) over the doc's token histogram, computed
    * ROW-LOCALLY (distinct-token lambda like quality_repetition, O(tokens·
    * distinct)/doc under codegen, zero shuffles) with per-type quantized-ln
    * integers (floor(ln(n/c)·2²⁰) — Σ c·L is exact BIGINT, ONE divide at
    * the end), so the value hash-matches cross-engine. */
  def tokenEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("__toks", expr(Tokens.array("text")))
      .filter(size(col("__toks")) > 0)
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("__hq", expr(
        s"""aggregate(
          |  transform(array_distinct(__toks),
          |    t -> size(filter(__toks, x -> x = t)) *
          |         CAST(floor(ln(CAST(__n AS DOUBLE)
          |           / CAST(size(filter(__toks, x -> x = t)) AS DOUBLE))
          |           * ${Exact.GridDec}) AS BIGINT)),
          |  0L, (acc, v) -> acc + v)""".stripMargin))
      .select(col("doc_id"), col("__n").as("n_tokens"),
        size(expr("array_distinct(__toks)")).cast("long").as("n_distinct"),
        round(col("__hq").cast("double")
          / col("__n").cast("double") / Exact.GridD, 6).as("entropy"))
      .withColumn("low_entropy", col("entropy") < 2.0)
      .orderBy("doc_id")

  /** Language-ID heuristic: count stopword markers per candidate language over
    * the token array (higher-order `filter`, codegen'd — no UDF), pick argmax
    * with a deterministic tie-break. A production pipeline would use character
    * n-gram profiles; the operator shape (per-row scoring → argmax CASE) is
    * identical and embarrassingly parallel. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val score = (langTokens: String) => expr(Tokens.stopCount("text", langTokens))
    Tables.documents(s, d)
      .select(
        col("doc_id"), col("lang").as("labeled_lang"),
        score(Tokens.StopWords).as("score_en"),
        score("'der','die','das','und','ist'").as("score_de"),
        score("'le','la','et','les','est'").as("score_fr"),
        score("'el','los','las','es','y'").as("score_es"))
      .withColumn("predicted_lang",
        when(col("score_en") >= greatest(col("score_de"), col("score_fr"), col("score_es")), lit("en"))
          .when(col("score_de") >= greatest(col("score_fr"), col("score_es")), lit("de"))
          .when(col("score_fr") >= col("score_es"), lit("fr"))
          .otherwise(lit("es")))
      .orderBy("doc_id")
  }

  /** Quality scoring: length/punctuation/stopword signals combined into a
    * [0,1] score — the standard cheap pre-filter before expensive dedup. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val nTokens = size(tokens).cast("double")
    val punct = length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double")
    val stop = expr(Tokens.stopCount("text")).cast("double")
    // the combined score comes from the ONE formula in Graft.qualityScore
    // (pipeline_clean_corpus thresholds the same column); only the display
    // ratios are computed locally
    graft.api.Graft.qualityScore(Tables.documents(s, d), "text", out = "__q")
      .select(
        col("doc_id"),
        size(tokens).as("n_tokens"),
        round((punct / length(col("text"))), 4).as("punct_ratio"),
        round(stop / nTokens, 4).as("stopword_ratio"),
        round(col("__q"), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** End-to-end corpus cleaning — the composition this engine exists for:
    * score every document (the qualityScore formula), keep those above
    * threshold, exact-dedup the survivors on normalized content (keep the
    * minimum id per fingerprint), and emit the cleaned keep-list. The
    * threshold compares the UNROUNDED score (IEEE-identical in both engines);
    * only the displayed column is rounded. One row-local scoring pass + one
    * fingerprint groupBy + one semi-join back — three stages at any scale. */
  def pipelineCleanCorpus(s: SparkSession, d: String): DataFrame = {
    val scored = graft.api.Graft.qualityScore(Tables.documents(s, d), "text", out = "q")
    val kept = scored.filter(col("q") >= 0.5)
    val keepIds = kept
      .groupBy(md5(lower(trim(col("text")))).as("fp"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    kept.join(keepIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("q"), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** Document fingerprints: md5 content hash over normalized text
    * (cross-engine-stable; the 64-bit xxhash64 variant lives in the dedup
    * family where the fingerprint is consumed Spark-side only). */
  def docFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(lower(trim(col("text")))).as("fp_md5"),
        substring(md5(lower(trim(col("text")))), 1, 8).as("fp_short"))
      .orderBy("doc_id")

  /** Rolling-hash fingerprints (graft.functions.RollingHash, native codegen
    * expression): per-doc 64-bit content hash plus per-window hashes of
    * 16-token chunks — the winnowing-style shape used for partial-overlap
    * detection. FULLY ORACLED since round 6: wrapping Long arithmetic is
    * arithmetic mod 2^64, which DuckDB's 128-bit HUGEINT reduce emulates
    * bit-exactly (SparkEntry.docFingerprintRollingOracleSql); the suite
    * additionally pins exact values. */
  def docFingerprintRolling(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    Tables.documents(s, d)
      .withColumn("toks", tokens)
      .select(
        col("doc_id"),
        expr("rolling_hash(text)").as("fp_full"),
        expr(
          """transform(sequence(0, CAST(greatest(ceil(size(toks) / 16.0) - 1, 0) AS INT)),
            |  w -> rolling_hash(array_join(slice(toks, w * 16 + 1, 16), ' ')))""".stripMargin)
          .as("chunk_hashes"))
      .select(col("doc_id"), col("fp_full"),
        size(col("chunk_hashes")).as("n_chunks"),
        expr("chunk_hashes[0]").as("first_chunk_hash"))
      .orderBy("doc_id")
  }

  /** RAG-corpus chunking (Graft.chunkDocuments): 32-token windows with
    * 8-token overlap, one row per chunk with its token offset — the
    * retrieval-preparation step before embedding. Row-local explode, fully
    * DuckDB-oracled. */
  def chunkDocuments(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.chunkDocuments(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", chunkTokens = 32, overlapTokens = 8)
      .orderBy("doc_id", "chunk_id")

  /** Vocabulary coverage at vocabSize=20 (Graft.vocabCoverage): the
    * tokenizer-prep OOV study — the synthetic corpus has ~30 token types, so
    * a 20-entry vocab leaves a measurable OOV tail. Fully oracled (the
    * frequency-ranked vocab is deterministic via the token tie-break; the
    * ratio is integer-exact). */
  def vocabCoverage(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.vocabCoverage(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", vocabSize = 20)
      .orderBy("doc_id")

  /** TF-IDF top-3 terms per document, computed relationally: term frequency
    * per (doc, term), document frequency per term, idf = ln(N/df), top-k via
    * row_number. Two shuffles (token, doc_id) — both well-distributed keys.
    * MLlib's HashingTF/IDF gives the same result vectorized; the relational
    * form keeps it oracle-checkable. */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(tokens).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df derives from tf (one row per (doc, term) already) — a reuse that
    // halves the explode+shuffle work vs recomputing from raw terms
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("score"))
      .orderBy("doc_id", "rn")
  }

  /** Top-5 token bigrams per language: adjacent-pair n-grams built row-locally
    * from the hoisted token array (never re-splitting inside the lambda), one
    * shuffle on the (lang, bigram) count key, top-k via row_number. The
    * corpus-statistics pass behind phrase mining / tokenizer training. */
  def ngramCounts(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .withColumn("t", split(col("text"), " ", -1))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(t) >= 2 THEN
          |  transform(sequence(1, size(t) - 1),
          |    i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
          |ELSE array() END""".stripMargin)).as("bigram"))
    val counts = bg.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("bigram").asc)
    counts.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("bigram"), col("n"))
      .orderBy("lang", "rn")
  }

  /** Okapi BM25 retrieval (Graft.bm25Rank) for the fixed query
    * "stream window shuffle": top-20 documents by the quantized-idf BM25
    * score — the lexical ranking half of a RAG retrieval stack next to the
    * knn_* dense half. Fully oracled: quantized idf + sorted-order score
    * fold are cross-engine exact. */
  def bm25Rank(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.bm25Rank(Tables.documents(s, d), "doc_id", "text",
      terms = Seq("stream", "window", "shuffle"), topK = 20)

  /** BPE merge-pair statistics (Graft.bpePairCounts): the top-20 adjacent
    * symbol pairs across the corpus — the inner counting loop of tokenizer
    * training, run over the word-TYPE histogram so the pair explode is
    * vocabulary-sized while the corpus-sized work is one groupBy. Integer
    * counts → fully oracled. */
  def bpePairCounts(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.bpePairCounts(Tables.documents(s, d), "text", topK = 20)

  /** Full BPE merge LOOP (Graft.bpeMerges, VERDICT r7 #7): 10 training
    * rounds of count → argmax → apply-merge → recount over the word-type
    * histogram, producing the ordered merge table a tokenizer ships.
    * Integer counts + literal-replace merges → the whole loop unrolls into
    * DuckDB CTEs and the row is fully oracled. */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.bpeMerges(Tables.documents(s, d), "text", budget = 10)

  /** BPE encode (Graft.bpeEncode): tokenize the corpus with the 10 learned
    * merges and report the resulting top-20 token frequencies — the
    * vocabulary/coverage readout that closes the tokenizer-training loop.
    * Same unrolled-CTE oracle machinery as bpe_merges. */
  def bpeEncode(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.bpeEncode(Tables.documents(s, d), "text", budget = 10,
      topK = 20)

  /** Per-language tokenizer fertility (Graft.bpeFertility): BPE tokens per
    * word and characters per token under the corpus-trained 10-merge table
    * — the over-fragmentation readout for minority languages before a
    * mixture commits to one tokenizer. Same unrolled-CTE oracle machinery
    * as bpe_merges/bpe_encode. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.bpeFertility(Tables.documents(s, d), "text", "lang",
        budget = 10)
      .orderBy("lang")

  /** T5 span-corruption plan (Graft.spanCorruptionPlan): the deterministic
    * ~15% masking schedule (everyK=20 starts × span 3) — row-local array
    * arithmetic, zero shuffles, reproducible across reruns and engines. */
  def spanCorruption(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.spanCorruptionPlan(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", everyK = 20, spanLen = 3)
      .orderBy("doc_id")

  /** Winnowing fingerprint selection (Graft.winnowFingerprints — the MOSS
    * algorithm, Schleimer '03): per-document selected-fingerprint stats at
    * k=4, w=5. Row-local array arithmetic, zero shuffles, md5-hash grams →
    * fully oracled. */
  def docWinnowing(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.winnowFingerprints(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 4, w = 5,
        gramHash = graft.api.Graft.md5GramSql)
      .orderBy("doc_id")

  /** Per-(source, lang) corpus report card — the rollup a curation run
    * reviews before committing a mix: doc counts, token volume, mean
    * quality (the ONE Graft.qualityScore formula, mean folded in fixed
    * point — sum of floor(q·2^20) as exact integers, one divide), and the
    * share of docs clearing the 0.5 keep threshold (integer ratio4). */
  def sourceReport(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.qualityScore(Tables.documents(s, d), "text", out = "__q")
      .withColumn("__nt", size(split(col("text"), " ", -1)).cast("long"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("__nt").as("tok_volume"),
        Exact.gridMean4(col("__q")).as("mean_quality"),
        expr(Exact.ratio4("count_if(__q >= 0.5D)", "count(1)"))
          .as("keep_share"))
      .orderBy("source", "lang")

  /** Gopher-style quality rule bundle (Graft.gopherRules, Rae '21 §A1.1
    * adapted): four row-local rule signals and the pass/fail conjunction,
    * all integer/ratio4 arithmetic — the rule-based sibling of the scored
    * qualityScore filter. */
  def qualityGopher(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.gopherRules(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "text", minWords = 20L)
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("alpha_share"), col("n_stopwords"), col("passes"))
      .orderBy("doc_id")

  /** Linear classifier inference (Graft.linearClassify): hashed
    * bag-of-words features × a broadcast (bucket, weight) model — fastText-
    * shape quality gating as one scan + broadcast join + groupBy. The
    * deterministic md5-derived stand-in model makes full model inference
    * oracle-able end-to-end (integer weights, ratio4 mean). */
  def qualityClassifier(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.linearClassify(Tables.documents(s, d), "doc_id", "text",
      buckets = 1024).orderBy("doc_id")

  /** Adjacent-pair PMI collocations (Graft.pmiBigrams): ln(c_ab·N/(c_a·c_b))
    * on the quantized-ln grid, top-20 pairs with count ≥ 5 — three hash
    * aggregates over one corpus pass, joins all vocabulary-sized. */
  def pmiCooccur(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.pmiBigrams(Tables.documents(s, d), "text",
      minCount = 5L, topK = 20)

  /** Bigram-LM log-perplexity scoring (Graft.lmPerplexity): the CCNet-style
    * quality filter — an add-1 bigram model trained on the corpus scores
    * every document's mean negative log probability. Quantized-ln fixed
    * point + position-ordered folds → fully oracled. */
  def qualityPerplexity(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.lmPerplexity(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** DSIR data selection (Graft.dsirWeights): importance weights of every
    * document under target = the English slice vs source = the whole
    * corpus, top-50 by (llr desc, doc_id) — "which raw documents look most
    * like the target domain". Two corpus passes, a 256-bucket broadcast
    * model, TakeOrdered top-k; integer-quantized lns keep the rank
    * hash-exact in DuckDB. */
  def dsirSelect(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.api.Graft.dsirScore(docs, "doc_id", "text",
        s.read.parquet(ensureDsirModel(s, d)), buckets = 256)
      .select(col("doc_id"), col("n_tokens"), col("llr"))
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .orderBy(col("llr").desc, col("doc_id").asc)
      .limit(50)
  }

  /** Train-once build of the at-rest DSIR model for (session, dataset):
    * the 256-row (bucket, integer log-ratio) table — a versioned artifact
    * in production (the fit-once/apply-anywhere seam streamDsir's scaladoc
    * already names), committed by `Scoped.once`. Integer columns
    * round-trip parquet exactly, so the at-rest model scores
    * bit-identically and every consumer's oracle is unchanged. Serves
    * dsir_select, stream_dsir, and stream_online_curate. */
  private[graft] def ensureDsirModel(s: SparkSession, d: String): String =
    graft.Scoped.once(s, "graft_dsir_model", d) { dir =>
      graft.api.Graft.dsirModel(Tables.documents(s, d), "text",
          col("lang") === "en", buckets = 256)
        .write.parquet(dir + "/model")
    } + "/model"

  /** Per-document novelty (Graft.docNovelty): share of each document's
    * distinct 8-token grams that no other document contains — the
    * memorization-risk / boilerplate readout, inverse of the
    * dedup_substring signal on the same gram machinery. */
  def docNovelty(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.docNovelty(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", gramHash = graft.api.Graft.md5Hash60)
      .orderBy("doc_id")

  /** Per-source distribution report (Graft.sourceDivergence): unigram
    * KL(source ‖ corpus) and entropy on the integer quantized-ln grid —
    * the "which sources are redundant / which are noise" rollup beside
    * sourceReport's quality view. One corpus pass; vocabulary-sized joins. */
  def sourceDivergence(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.sourceDivergence(Tables.documents(s, d), "text", "source")
      .orderBy("source")

  /** PAIRWISE FILTER AGREEMENT — the ablation readout a pipeline checks
    * before stacking quality filters (if two filters agree on ~everything,
    * the second buys nothing; if they disagree wildly, their conjunction
    * may be over-filtering): the three independent signals the registry
    * proves individually (Gopher rule bundle, hashed linear classifier,
    * bigram-LM perplexity), each binarized at its GLOBAL median grid
    * threshold (keep = score ≥ 50th-percentile / nll ≤ 50th-percentile —
    * percentile-disc on the ratio4 GRID, cumulative counts over grid-sized
    * frames, never a document rank window), then one row per filter pair
    * with the full 2×2 confusion, observed agreement, and the
    * chance-agreement baseline from the marginals (the pe of Cohen's κ;
    * all-integer ratio4, so fully oracled). One corpus-signal join, one
    * explode-by-pair aggregate — no pairwise document work at all. */
  def qualityAgreement(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val gop = graft.api.Graft.gopherRules(
        docs.select(col("doc_id"), col("text")), "text", minWords = 20L)
      .select(col("doc_id"), col("passes"))
    val cls = graft.api.Graft.linearClassify(docs, "doc_id", "text",
        buckets = 1024)
      .select(col("doc_id"), col("score"))
    val ppl = graft.api.Graft.lmPerplexity(
        docs.select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("doc_id"), col("nll"))
    val scored = gop.join(cls, "doc_id").join(ppl, "doc_id")
      // consumed by two global grid thresholds + the pair aggregate
      .localCheckpoint(true)
    def globalGridThreshold(valueCol: String, out: String): DataFrame =
      scored.groupBy(col(valueCol)).agg(count(lit(1)).as("__c"))
        // grid-sized frame: the windows run over distinct ratio4 values
        .withColumn("__cum", sum("__c").over(Window.orderBy(valueCol)))
        .withColumn("__n", sum("__c").over(Window.partitionBy()))
        .filter(col("__cum") * 2 >= col("__n"))
        .agg(min(valueCol).as(out))
    val flags = scored
      .crossJoin(broadcast(globalGridThreshold("score", "__ts")))
      .crossJoin(broadcast(globalGridThreshold("nll", "__tn")))
      .select(col("passes").as("__g"),
        (col("score") >= col("__ts")).as("__c"),
        (col("nll") <= col("__tn")).as("__p"))
    flags.select(explode(array(
        struct(lit("gopher|classifier").as("pair"),
          col("__g").as("a"), col("__c").as("b")),
        struct(lit("gopher|perplexity").as("pair"),
          col("__g").as("a"), col("__p").as("b")),
        struct(lit("classifier|perplexity").as("pair"),
          col("__c").as("a"), col("__p").as("b")))).as("x"))
      .select(col("x.pair").as("pair"), col("x.a").as("a"), col("x.b").as("b"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("a") && col("b")).as("n11"),
        count_if(!col("a") && !col("b")).as("n00"),
        count_if(col("a") && !col("b")).as("n10"),
        count_if(!col("a") && col("b")).as("n01"))
      .select(col("pair"), col("n_docs"), col("n11"), col("n00"),
        col("n10"), col("n01"),
        expr(Exact.ratio4("n11 + n00", "n_docs"))
          .as("agree4"),
        expr(Exact.ratio4(
          "(n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)",
          "n_docs * n_docs")).as("expected_agree4"))
      .orderBy("pair")
  }

  /** Quality ENSEMBLE with per-source calibrated thresholds — the CCNet
    * observation (Wenzek '19 §4.3) that one global cutoff over-filters
    * some sources and under-filters others, applied to three independent
    * signals this registry already proves individually: the Gopher rule
    * bundle (pass/fail), the hashed linear classifier (score), and the
    * bigram-LM perplexity (nll). Per SOURCE, the score threshold is the
    * 30th-percentile grid value (drop the bottom 30% of that source) and
    * the nll threshold the 70th (drop that source's worst 30%); a document
    * survives only if it clears all three. Thresholds are PERCENTILE-DISC
    * on the ratio4 grid computed integer-exactly: counts per (source,
    * grid value), one cumulative window over that GRID-sized frame —
    * never a rank window over documents, so no source-sized sort at
    * 100 TB; the three signal plans are each scan + broadcast-model
    * shapes. One barrier on the joined signal frame (consumed by two
    * threshold aggregates and the final rollup — without it the bigram-LM
    * join chain runs three times). Output per source: docs scored, Gopher
    * passes, both thresholds, docs kept, keep share (ratio4). */
  def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val gop = graft.api.Graft.gopherRules(
        docs.select(col("doc_id"), col("text")), "text", minWords = 20L)
      .select(col("doc_id"), col("passes"))
    val cls = graft.api.Graft.linearClassify(docs, "doc_id", "text",
        buckets = 1024)
      .select(col("doc_id"), col("score"))
    val ppl = graft.api.Graft.lmPerplexity(
        docs.select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("doc_id"), col("nll"))
    val scored = docs.select(col("doc_id"), col("source"))
      .join(gop, "doc_id").join(cls, "doc_id").join(ppl, "doc_id")
      .localCheckpoint(true)
    def gridThreshold(valueCol: String, tenths: Int, out: String): DataFrame = {
      val w = Window.partitionBy("source").orderBy(col(valueCol).asc)
      val tot = Window.partitionBy("source")
      scored.groupBy(col("source"), col(valueCol))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum("__c").over(w))
        .withColumn("__n", sum("__c").over(tot))
        .filter(col("__cum") * 10 >= col("__n") * tenths)
        .groupBy("source").agg(min(valueCol).as(out))
    }
    scored
      .join(broadcast(gridThreshold("score", 3, "thr_score")), "source")
      .join(broadcast(gridThreshold("nll", 7, "thr_nll")), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_gopher_pass"),
        min("thr_score").as("thr_score"), min("thr_nll").as("thr_nll"),
        sum(when(col("passes") && col("score") >= col("thr_score")
          && col("nll") <= col("thr_nll"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_share4", expr(
        Exact.ratio4("n_keep", "n_scored")))
      .orderBy("source")
  }

  /** Quality-proportional sampling (Graft.qualityWeightedSample, Sachdeva
    * '24): every document kept with probability ∝ its classifier score via
    * a deterministic md5 coin — classifier inference then a row-local
    * integer gate, reproducible across engines and partitionings. */
  def sampleQualityWeighted(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.qualityWeightedSample(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", buckets = 1024)
      .orderBy("doc_id")

  /** Threshold retention curve (Graft.qualityThresholdSweep, FineWeb-Edu
    * §3.2 calibration): docs/tokens surviving score ≥ τ for 9 grid
    * thresholds — one classifier pass to the score GRID, the sweep
    * theta-joins that ≤2001-row frame, never the corpus. */
  def qualityThresholdSweep(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.qualityThresholdSweep(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", buckets = 1024)
      .orderBy("tau")

  /** Zipf spectrum fit (Graft.zipfFit) over BIGRAM types: the
    * frequency-of-frequency power law slope and implied Zipf exponent —
    * one vocabulary aggregate, the regression runs over the grid-sized
    * spectrum head. Bigrams because the synthetic corpus has a ~31-word
    * unigram vocabulary (a degenerate spectrum); the bigram vocabulary is
    * ~900 types. NOTE the diagnostic reading on THIS corpus: uniform
    * random word draws give a Poisson-like count spectrum, so the fitted
    * slope comes out ≥ 0 and the implied exponent negative — the estimator
    * correctly reports "no Zipf tail" for synthetic text (a natural-language
    * corpus reads slope ≈ −2, ŝ ≈ 1). */
  def zipfFit(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.zipfFit(
      Tables.documents(s, d).select(col("text")), "text", n = 2)

  /** Heaps' law curve (Graft.heapsCurve) over TRIGRAM types: vocabulary
    * growth at 16 md5-order corpus prefixes — one n-gram aggregate,
    * cumulative windows on the 16-row grid. Trigrams so V(N) actually
    * grows across prefixes on the tiny synthetic unigram vocabulary. */
  def heapsLaw(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.heapsCurve(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", n = 3)
      .orderBy("bucket")

  /** Character-class composition per source (Graft.scriptMix): letters /
    * digits / spaces / other via the length-difference trick — the
    * script-mix screen a multilingual pass runs before trusting lang-ID. */
  def scriptMix(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.scriptMix(
        Tables.documents(s, d).select(col("source"), col("text")),
        "text", "source")
      .orderBy("source")

  /** Flesch-style readability per source (Graft.readabilityScores):
    * words/sentences/vowel-run counts per doc, per-source quantized-mean
    * reading-ease score. */
  def readability(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.readabilityScores(
        Tables.documents(s, d).select(col("source"), col("text")),
        "text", "source")
      .orderBy("source")

  /** Robust MAD length outliers per source (Graft.lengthMadOutliers):
    * exact median token count, MAD, and the ±3·MAD outlier share. */
  def lengthOutliers(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.lengthMadOutliers(
        Tables.documents(s, d).select(col("source"), col("text")),
        "text", "source")
      .orderBy("source")

  /** Distinct-n diversity per source (Graft.distinctNgramDiversity, Li
    * '16): distinct share of 1/2/3-gram occurrences — the degenerate-text
    * screen. */
  def diversityDistinctN(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.distinctNgramDiversity(
        Tables.documents(s, d).select(col("source"), col("text")),
        "text", "source", maxN = 3)
      .orderBy("source", "n")

  /** Quality-score calibration vs the Gopher rule gold (Graft
    * .qualityCalibration, Guo '17 ECE): per score decile, confidence vs
    * rule accuracy in exact 10⁻⁴ units, plus the corpus ECE. */
  def qualityEce(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.qualityCalibration(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text")
      .orderBy("bin")

  /** Quality × length joint distribution (Graft.qualityLengthJoint):
    * score-decile × 64-token length-bucket cell counts with ratio4 corpus
    * shares — the 2-D readout behind threshold choices. */
  def qualityLengthGrid(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.qualityLengthJoint(
        Tables.documents(s, d).select(col("text")),
        "text", bins = 10, bucketTokens = 64)
      .orderBy("q_bin", "len_bucket")

  /** Weighted-lexicon content screen (Graft.lexiconScreen): the wordlist
    * safety gate — hit-weight per token against a broadcast
    * (term, weight) lexicon, docs over τ=0.20 flag, per-source rollup. */
  def lexiconScreen(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.lexiconScreen(
        Tables.documents(s, d).select(col("doc_id"), col("text"), col("source")),
        "doc_id", "text", "source",
        lexicon = Seq(("slow", 3L), ("big", 2L), ("dup", 5L)),
        tauBp = 2000)
      .orderBy("source")

  /** Corpus concentration across sources (Graft.corpusConcentration):
    * HHI, inverse-Simpson effective source count, quantized-ln Shannon
    * entropy, exact integer Gini — one token scan to the source grid. */
  def corpusConcentration(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.corpusConcentration(
      Tables.documents(s, d).select(col("text"), col("source")),
      "text", "source")

  /** Isotonic calibration of the quality filter vs the Gopher gold
    * (Graft.isotonicCalibration): exact minimax PAV on the decile grid —
    * the repair step after quality_ece measures the miscalibration. */
  def qualityIsotonic(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.isotonicCalibration(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", bins = 10)
      .orderBy("bin")

  /** Split-conformal quality gate (Graft.conformalGate, α=0.1): drop
    * threshold = k-th smallest calibration score on the 4096 grid,
    * k = ⌈(n_cal+1)·α⌉; achieved keep shares on both slices. */
  def conformalGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.api.Graft.conformalGate(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0),
      "text", alpha10000 = 1000, bins = 4096)
  }

  /** word2vec negative-sampling table (Graft.negativeSamplingTable):
    * unigram^0.75 via the sqrt∘sqrt∘cube identity (IEEE-exact both
    * engines), 2^-20 quantized mass, top-64 head with cumulative prob. */
  def negativeSamplingTable(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.negativeSamplingTable(
        Tables.documents(s, d).select(col("text")), "text", k = 64)
      .orderBy("rank")

  /** Hash-bootstrap CI on mean tokens-per-doc per source (Graft
    * .bootstrapMeanCi): 32 deterministic half-sample replicates, 2^-17
    * quantized replicate means, ±1.96σ interval. */
  def bootstrapCi(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.bootstrapMeanCi(
        Tables.documents(s, d).select(col("doc_id"), col("text"), col("source")),
        "doc_id", "text", "source", reps = 32)
      .orderBy("source")

  /** Active-learning pick list (Graft.uncertaintySample): the 10 docs
    * per source closest to the 0.5 classifier boundary, selected by the
    * fused min-k aggregate — the label-these-first queue. */
  def uncertaintySample(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.uncertaintySample(
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("source")),
        "doc_id", "text", "source", k = 10)
      .orderBy("source", "rank")

  /** Covariate-shift importance weights + effective sample size per
    * source (Graft.importanceWeights): w = p/(1−p) on the 2^-20 grid,
    * ESS = (Σw)²/Σw² — the did-reweighting-kill-my-sample gauge. */
  def importanceWeights(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.importanceWeights(
        Tables.documents(s, d).select(col("text"), col("source")),
        "text", "source")
      .orderBy("source")

  /** Conditional bigram entropy H(w₂|w₁) per language (Graft
    * .bigramEntropy): the sequence-repetitiveness gauge on the
    * floor(ln·2^20) integer grid. */
  def bigramEntropy(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.bigramEntropy(
        Tables.documents(s, d).select(col("text"), col("lang")),
        "text", "lang")
      .orderBy("lang")

  /** Vocabulary-size sweep (Graft.vocabSizeSweep): token coverage and
    * OOV share at V ∈ {1k, 4k, 16k, 64k} candidate vocab sizes, computed
    * on the count-of-counts grid — integer-exact, tie-invariant. */
  def vocabSizeSweep(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.vocabSizeSweep(
        Tables.documents(s, d).select(col("text")), "text")
      .orderBy("vocab_size")

  /** ROUGE-1/2 between the corpus_diff generations treated as
    * candidate/reference pairs (Graft.rougeOverlap): clipped n-gram
    * overlap, micro-averaged per source on exact integer sums — the
    * generation-eval metric at corpus scale. */
  def rougeOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") % 13 =!= 5 && col("doc_id") % 13 =!= 7)
    val pairs = docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 13 === 2, upper(col("text")))
        .otherwise(col("text")).as("cand"),
      col("text").as("ref"))
    graft.api.Graft.rougeOverlap(pairs, "doc_id", "cand", "ref", "source")
      .orderBy("source")
  }

  /** Registry `bleu_corpus`: corpus BLEU (Graft.bleuCorpus) between
    * deterministic candidate/reference pairs — candidates keep the first
    * 80% of tokens (brevity penalty binds) and every third document is
    * token-reversed (unigram precision survives, n ≥ 2 drops). */
  def bleuCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") % 17 =!= 3)
    val pairs = docs
      .withColumn("__t", expr(Tokens.array("text")))
      .withColumn("__k", expr("greatest((size(__t) * 4) div 5, 1L)"))
      .withColumn("__ct", when(col("doc_id") % 3 === 0,
        reverse(expr("slice(__t, 1, __k)"))).otherwise(expr("slice(__t, 1, __k)")))
      .select(col("doc_id"), col("source"),
        array_join(col("__ct"), " ").as("cand"),
        array_join(col("__t"), " ").as("ref"))
    graft.api.Graft.bleuCorpus(pairs, "doc_id", "cand", "ref", "source")
      .orderBy("source")
  }

  /** Registry `chrf_score`: chrF (Graft.chrfScore) between deterministic
    * candidate/reference pairs over the doc_id % 19 ≠ 1 split — every
    * SEVENTH document (doc_id % 7 == 0) truncates to the first 70% of
    * characters, the rest drop every 'a' (character-level noise that
    * token metrics can't see). */
  def chrfScore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") % 19 =!= 1)
    val pairs = docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 7 === 0,
          expr("left(text, greatest((length(text) * 7) div 10, 1L))"))
        .otherwise(expr("replace(text, 'a', '')")).as("cand"),
      col("text").as("ref"))
    graft.api.Graft.chrfScore(pairs, "doc_id", "cand", "ref", "source")
      .orderBy("source")
  }

  /** Registry `quality_auc`: probe AUC (Graft.scoreAuc) of the cheap
    * unique-token-ratio score against a repetition ground truth (clean =
    * no token occurring ≥ 4 times), per language — "does the uniqueness
    * screen actually separate repetitious documents?". The score is
    * pre-quantized to an INTEGER (ppm of distinct tokens) so the AUC grid
    * groups on exact keys. */
  /** Registry `text_normalize`: Unicode NFC normalization through the
    * native codegen'd `nfc_normalize` expression (graft.functions.
    * NfcNormalize — java.text.Normalizer, pinned against DuckDB's
    * utf8proc twin). The corpus is ASCII, so decomposed sequences are
    * INJECTED deterministically (the pii_scrub provably-fires convention):
    * every 13th document gains " cafe" + U+0301, which NFC composes to
    * "café" (one char shorter). Report per source: docs, changed docs,
    * char totals before/after — all row-local, one rollup shuffle. */
  def textNormalize(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    Tables.documents(s, d)
      .withColumn("__raw",
        when(col("doc_id") % 13 === 4,
          concat(col("text"), lit(" cafe"), lit("\u0301")))
          .otherwise(col("text")))
      .withColumn("__norm", expr("nfc_normalize(__raw)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(length(col("__norm")) =!= length(col("__raw")), 1L)
          .otherwise(0L)).as("n_changed"),
        sum(length(col("__raw")).cast("long")).as("chars_before"),
        sum(length(col("__norm")).cast("long")).as("chars_after"))
      .orderBy("source")
  }

  def qualityAuc(s: SparkSession, d: String): DataFrame = {
    // per-doc stats are ROW-LOCAL (sorted-array fold for the max
    // multiplicity, array_distinct for the type count) — no token-level
    // shuffle; the only exchange in the whole plan is the (lang, score)
    // AUC grid
    val per = Tables.documents(s, d)
      .withColumn("__t", expr(Tokens.array("text")))
      .select(col("lang"),
        expr("size(__t)").cast("long").as("__tot"),
        expr("size(array_distinct(__t))").cast("long").as("__dist"),
        expr("""aggregate(array_sort(__t),
          named_struct('p', '', 'r', 0L, 'b', 0L),
          (a, x) -> named_struct('p', x,
            'r', IF(x = a.p, a.r + 1L, 1L),
            'b', greatest(a.b, IF(x = a.p, a.r + 1L, 1L))),
          a -> a.b)""").as("__mx"))
    val scored = per.select(col("lang"),
      expr("(1000000L * __dist) div __tot").as("score"),
      (col("__mx") < 4).as("clean"))
    graft.api.Graft.scoreAuc(scored, "score", "clean", "lang")
      .orderBy("lang")
  }
}
