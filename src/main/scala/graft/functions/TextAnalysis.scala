package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token statistics. Everything is built-in expressions (codegen'd,
  * shuffle only at the final aggregations) — no UDFs.
  */
object TextAnalysis {

  /** Tiny per-language stopword tables for the n-gram/stopword-count
    * language-ID heuristic. Deliberately small and fixed so the heuristic is
    * portable (the same lists are replayed in the DuckDB oracle). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Language-ID: score = stopword hits per language, predict the argmax
    * (ties and zero scores → "und" = undetermined, ISO 639-3 style).
    * Argmax is a static fold with a fixed language order, so the prediction
    * is deterministic. */
  def langId(text: Column): Column =
    // one fused native pass (TextQualityFeats) instead of 5 interpreted
    // filter(isInCollection) HOFs; the argmax fold is unchanged — same
    // fixed language order, same tie/zero → "und" rule
    langIdFromFeats(TextFeats.feats(text, withBigrams = false))

  /** The langId argmax over an already-computed [[TextFeats.feats]]
    * struct — for callers that share the kernel pass with other signals
    * (the quality/curation family). */
  def langIdFromFeats(f: Column): Column = {
    val scores = stopwords.map { case (lang, _) => lang -> f.getField(s"s_$lang") }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** `dupNGramFraction` at n = 2 over the feats struct (the kernel counts
    * bigram shingles exactly as [[wordShingles]] builds them). */
  def dupBigramFromFeats(f: Column): Column =
    when(f.getField("n_toks") < 2, lit(0.0))
      .otherwise(round(lit(1.0) -
        f.getField("n_dist_sh2").cast(DoubleType) /
          f.getField("n_sh2").cast(DoubleType), 6))

  /** Distinct lowercase character trigrams of a string — the pg_trgm
    * building block (reference `database-schema.sql:5,64` creates a GIN
    * trigram index on product name). Strings shorter than 3 chars collapse
    * to one (possibly short) gram, mirroring the oracle's slice semantics.
    * No padding (pg_trgm pads with spaces; similarity ORDERING is
    * unaffected for same-length comparisons, and the unpadded form replays
    * exactly in ANSI SQL). At scale the trigram set is the posting key of
    * an inverted index; here similarity scans are block/broadcast-sized
    * (name dictionaries), never fact-sized. */
  def charTrigrams(c: Column): Column = {
    val lc = lower(c)
    array_distinct(transform(
      sequence(lit(1), greatest(length(lc) - 2, lit(1))),
      i => lc.substr(i, lit(3))))
  }

  /** Fuzzy name search: trigram-Jaccard of every `nameCol` against a query
    * string, threshold + top-k — the query side is a LITERAL trigram set
    * (constant-folded into the scan projection; no join at all). `idCol`
    * is the key column carried through and used as the deterministic
    * tie-break. */
  def trigramSearch(
      df: DataFrame, idCol: String, nameCol: String,
      query: String, minSim: Double, k: Int): DataFrame = {
    val qt = charTrigrams(lit(query))
    df.select(col(idCol), col(nameCol),
        round(graft.operators.Dedup.jaccard(charTrigrams(col(nameCol)), qt), 6).as("sim"))
      .filter(col("sim") >= minSim)
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Per-document quality metrics (length / token / stopword ratios — the
    * classic pre-training corpus filters). All ratios are exact integer
    * arithmetic surfaced as double, so they are engine-portable. */
  def qualityMetrics(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val stopHits = vocabHits(toks, stopwords.flatMap(_._2))
    documents.select(
      col("doc_id"),
      length(col("text")).cast(IntegerType).as("n_chars_calc"),
      nTokens.as("n_tokens"),
      size(array_distinct(toks)).as("n_unique_tokens"),
      ((length(col("text")) - (nTokens - lit(1))).cast(DoubleType) / nTokens.cast(DoubleType))
        .as("avg_token_len"),
      (stopHits.cast(DoubleType) / nTokens.cast(DoubleType)).as("stopword_ratio"),
      (size(array_distinct(toks)).cast(DoubleType) / nTokens.cast(DoubleType))
        .as("type_token_ratio"))
  }

  /** GPT-2-style pretokenizer pattern, ASCII-simplified: contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * residual whitespace. Valid under both Java regex (Spark) and RE2
    * (DuckDB oracle) — no lookarounds. */
  val BpePattern: String = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"

  /** BPE-ish token count — the pretokenizer split count, the standard cheap
    * stand-in for "how many LLM tokens is this corpus". */
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpePattern))

  /** Corpus rollup per language: docs, tokens, token stats, distinct
    * sources. The per-doc token count is computed map-side; only the small
    * rollup shuffles. */
  /** The composed corpus-curation pipeline — the end-to-end shape a
    * training-data run actually executes: language gate → quality gate
    * (min tokens, min type-token ratio) → exact content dedup (first
    * doc_id survives per sha256, so re-runs are idempotent) → per-source
    * stats. One scan feeds the gates (all codegen'd predicates); the only
    * shuffles are the dedup window on the CONTENT HASH — never the full
    * text — and the final small aggregation. */
  def curateCorpus(
      documents: DataFrame,
      lang: String = "en",
      minTokens: Int = 5,
      minTypeTokenRatio: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val gated = documents
      .filter(langId(col("text")) === lang)
      .filter(size(toks) >= minTokens &&
        size(array_distinct(toks)).cast(DoubleType) / size(toks).cast(DoubleType)
          >= minTypeTokenRatio)
    val w = Window.partitionBy(col("text_sha")).orderBy(col("doc_id"))
    gated
      .withColumn("text_sha", sha2(col("text"), 256))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(size(toks)).as("total_tokens"))
      .orderBy(col("source"))
  }

  /** Corpus-level TF-IDF term ranking: explode tokens, one hash-agg for
    * (total term frequency, document frequency), score total_tf ·
    * ln(N/df), top-k. N is the corpus size — a scalar the driver computes
    * once (metadata-cheap count), the same bounded-scalar pattern as the
    * IVF quantizer. The explode fan-out is map-side; the only shuffle is
    * the term aggregation. */
  def tfIdfTerms(documents: DataFrame, topK: Int = 20): DataFrame = {
    val docs = documents.select(col("doc_id"), col("text"))
    val n = docs.count()
    docs
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("total_tf"), countDistinct(col("doc_id")).as("df"))
      .select(col("term"), col("total_tf"), col("df"),
        round(col("total_tf") * log(lit(n.toDouble) / col("df")), 6).as("tfidf"))
      .orderBy(col("tfidf").desc, col("term"))
      .limit(topK)
  }

  /** Per-source n-gram diversity — type-token ratio and distinct-2/3
    * ratios (the distinct-n diagnostic): the standard corpus-diversity
    * check a data pipeline runs per source before mixing (template-spam
    * and boilerplate collapse distinct-n long before they trip length or
    * stopword filters; rich prose keeps distinct-2/3 near 1).
    *
    * Scale shape: one (source, gram)-keyed aggregate per n — the same
    * term-keyed shuffle family as TF-IDF/PMI; nothing is collected, and
    * each n's pass prunes to documents long enough to carry an n-gram.
    * Ratios are one double division rounded to 6 dp — bit-portable. */
  def ngramDiversity(documents: DataFrame): DataFrame = {
    // ONE tokenize+explode pass emits every n's shingles tagged with n
    // (the three-scans-plus-two-joins spelling re-read and re-tokenized
    // the corpus per n): docs shorter than n contribute an EMPTY array
    // for that n — wordShingles would emit one whole-doc shingle — so the
    // per-n row sets match the old `size(tokens) >= n` filters exactly.
    def tagged(n: Int) = when(size(col("__t")) >= n,
      transform(wordShingles(col("__t"), n), g => struct(lit(n).as("n"), g.as("g"))))
      .otherwise(array().cast("array<struct<n:int,g:string>>"))
    val per = documents
      .select(col("source"), tokens(col("text")).as("__t"))
      .select(col("source"), explode(concat(tagged(1), tagged(2), tagged(3))).as("x"))
      .groupBy(col("source"), col("x.n").as("__n"))
      .agg(count(lit(1)).as("__tot"), countDistinct(col("x.g")).as("__dis"))
    // ≤ 3·|sources| rows: pivot the three n's into columns. A source with
    // no ≥n-token docs has no n row → null ratio (the old left joins).
    def pick(n: Int, c: String) = max(when(col("__n") === n, col(c)))
    per.groupBy(col("source")).agg(
      pick(1, "__tot").as("__tot_1"), pick(1, "__dis").as("__dis_1"),
      pick(2, "__tot").as("__tot_2"), pick(2, "__dis").as("__dis_2"),
      pick(3, "__tot").as("__tot_3"), pick(3, "__dis").as("__dis_3"))
      .filter(col("__tot_1").isNotNull)
      .select(col("source"),
        col("__tot_1").as("n_tokens"),
        col("__dis_1").as("n_types"),
        round(col("__dis_1").cast(DoubleType) / col("__tot_1"), 6).as("ttr"),
        round(col("__dis_2").cast(DoubleType) / col("__tot_2"), 6).as("distinct_2_ratio"),
        round(col("__dis_3").cast(DoubleType) / col("__tot_3"), 6).as("distinct_3_ratio"))
      .orderBy(col("source"))
  }

  /** Per-document average bigram conditional log-probability
    * ln p(w₂|w₁) = ln((c(w₁w₂)+1)/(c(w₁)+V)) under an add-one-smoothed
    * corpus bigram model — the sequence-aware upgrade of
    * [[unigramLogProb]]'s CCNet-style quality signal (gibberish with
    * plausible unigrams still scores low: its TRANSITIONS are rare).
    *
    * Same discipline as the unigram scorer and `dsirWeights`: exact
    * integer counts, one fixed log chain per bigram, per-document SORTED
    * float fold; bigram/unigram model tables are term-keyed shuffle
    * joins, never broadcast. */
  def bigramLogProb(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // Materialized (lazy localCheckpoint, the repo convention): the
    // unigram model, the bigram model and the per-doc fold are THREE
    // consumers of this tokenize — the regex pass is the expensive part
    // and must not run per consumer.
    val base = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .localCheckpoint(false)
    val uni = base.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = base.select(col("doc_id"), explode(wordShingles(col("t"), 2)).as("bg"))
    val bgCounts = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val d = (c: Column) => c.cast(DoubleType)
    val model = bgCounts
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .join(uni.select(col("w").as("w1"), col("c1")), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        log(d(col("c2") + 1) / d(col("c1") + col("v"))).as("lp"))
    big.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("m"))
      .join(model, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(
        array_sort(collect_list(struct(col("bg"), col("m"), col("lp")))).as("bs"),
        sum(col("m")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(aggregate(col("bs"), lit(0.0),
          (acc, c) => acc + c.getField("m").cast(DoubleType) * c.getField("lp"))
          / col("n_bigrams").cast(DoubleType), 6).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Inverted-index build as a dataflow: per term, document frequency and
    * a capped posting list (first `cap` doc ids, ascending) — the search-
    * index construction shape (posting lists are the at-rest layout; the
    * cap models posting-list pagination/impact-ordering truncation).
    * Postings surface as a comma-joined string for engine-portable
    * comparison. One explode + one term-keyed aggregation; the capped
    * collect is bounded per term. */
  def invertedIndex(documents: DataFrame, minDf: Long = 50, cap: Int = 5): DataFrame =
    documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(distinctTokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(slice(sort_array(collect_list(col("doc_id"))), 1, cap), ",").as("postings"))
      .filter(col("df") >= minDf)
      .orderBy(col("term"))

  /** Adjacent-token bigram collocations ranked by pointwise mutual
    * information, PMI = ln(p(ab) / (p(a)·p(b))) — the standard
    * collocation-mining signal (Church & Hanks 1990) a corpus pipeline
    * uses to find multi-word expressions worth treating as units.
    *
    * Determinism: counts are exact integers; PMI is computed as ONE ln of
    * a product/quotient chain of exact counts cast to double in a fixed
    * order, then rounded to 6 dp — the SQL oracle replays it
    * bit-identically. `minCount` suppresses the unstable low-frequency
    * tail (classic PMI failure mode: a hapax pair maxes the score).
    *
    * Scale shape: unigram and bigram tables aggregate distributed, keyed
    * by the term — the bigram→marginal joins are term-keyed SHUFFLE joins
    * (the vocabulary is unbounded on a web corpus; never broadcast it —
    * same posture as [[topTermsPerDoc]]); the two corpus totals join as a
    * broadcast single-row scalar. Final top-k is a TakeOrdered, not a
    * global sort. */
  def pmiBigrams(documents: DataFrame, minCount: Long = 10, topK: Int = 20): DataFrame = {
    val toks = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val big = toks.select(explode(wordShingles(col("t"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
    // corpus totals from per-doc sizes (no second explode): Σ|t|, Σ(|t|−1)
    val totals = toks.agg(
      sum(size(col("t")).cast("long")).as("tu"),
      sum((size(col("t")) - 1).cast("long")).as("tb"))
    val d = (c: Column) => c.cast(DoubleType)
    big.filter(col("cb") >= minCount)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("cb").as("n_pair"),
        round(log(d(col("cb")) * d(col("tu")) * d(col("tu")) /
          (d(col("tb")) * d(col("cu1")) * d(col("cu2")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topK)
  }

  /** Per-document keyword extraction: top `perDoc` terms by tf·ln(N/df).
    * Same two aggregations as [[tfIdfTerms]] plus a per-doc rank window.
    * The df table joins by SHUFFLE, not broadcast: "vocabulary-sized" is
    * unbounded on a web corpus (10⁸⁺ distinct terms), so broadcasting it
    * would OOM the driver at scale — and both sides are already keyed by
    * `term`, so the shuffle join is one co-partitioned exchange. */
  def topTermsPerDoc(documents: DataFrame, perDoc: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents.select(col("doc_id"), col("text"))
    val n = docs.count()
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perDoc)
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Per-document unigram language-model score: mean log-probability of the
    * document's tokens under the corpus's own unigram model — the
    * CCNet-style "LM quality bucket" signal, with the corpus itself as the
    * model (production swaps in a reference-corpus term table; the plan is
    * identical). Boilerplate scores high (common words), gibberish low.
    *
    * Scale shape: the term-frequency aggregation and the token→logp join
    * are both keyed by `term` (one co-partitioned exchange pair, no
    * broadcast of the unbounded vocabulary — same posture as
    * [[topTermsPerDoc]]); the corpus total joins as a broadcast SCALAR
    * (one row), never a driver collect. */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    // Two consumers (model counts, scoring join) re-tokenize; checkpointing
    // the token arrays measured SLOWER (0.50 -> 0.56 s, ppl 1.17 -> 1.41 s
    // riding it) — the dsirWeights finding again. Only bigramLogProb's
    // THREE-consumer shape (with the heavier shingle recompute) wins from
    // the materialization.
    val tok = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).cast(DoubleType).as("n_total"))
    val logp = tf.crossJoin(broadcast(total))
      .select(col("term"), log(col("tf") / col("n_total")).as("logp"))
    tok.join(logp, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("logp")), 6).as("avg_logprob"))
  }

  /** Fraction of duplicate word `n`-grams in a document — the Gopher-rule
    * repetition signal (a boilerplate/spam detector: scraped pages that
    * repeat navigation or templates score high). 0 for docs shorter than
    * `n` tokens. Pure per-row expression work: the signal costs one
    * map-side pass, no shuffle. */
  def dupNGramFraction(toks: Column, n: Int): Column = {
    val sh = wordShingles(toks, n)
    when(size(toks) < n, lit(0.0))
      .otherwise(round(
        lit(1.0) - size(array_distinct(sh)).cast(DoubleType) / size(sh).cast(DoubleType), 6))
  }

  /** Fraction of tokens taken by the single most frequent token — the
    * "most common word" concentration signal (near 1.0 ⇒ degenerate
    * repetition). Per-doc O(distinct × tokens) HOF work, still map-side. */
  def topTokenFraction(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(round(
        array_max(transform(array_distinct(toks),
          t => size(filter(toks, x => x === t)))).cast(DoubleType)
          / size(toks).cast(DoubleType), 6))

  /** Per-document repetition scorecard (the Gopher-style quality gates a
    * curation pipeline thresholds on). */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(
      col("doc_id"),
      dupNGramFraction(toks, 2).as("dup_bigram_frac"),
      dupNGramFraction(toks, 3).as("dup_trigram_frac"),
      topTokenFraction(toks).as("top_token_frac"))
  }

  def corpusStats(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), col("source"), size(tokens(col("text"))).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))

  /** Line-level exact dedup (the C4 recipe: drop every repeated "line"
    * corpus-wide, keeping only its FIRST occurrence in (doc_id, position)
    * order). This corpus has no newlines, so a "line" is a fixed block of
    * `blockTokens` consecutive tokens — same operator shape, deterministic
    * block boundary.
    *
    * Scale: one explode (fan-out ≤ n_tokens/blockTokens per doc), one
    * shuffle keyed on the BLOCK TEXT for the first-occurrence window, one
    * keyed re-aggregation per doc. The block, not the document, is the
    * shuffle payload, and each block moves exactly twice (window + regroup).
    * At 100 TB this is the same posture as exact doc-dedup, ×(blocks/doc).
    * Survivors are re-assembled in position order and fingerprinted
    * (sha256) so the result row stays narrow no matter how big the doc is.
    */
  def lineDedup(documents: DataFrame, blockTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val nBlocks = ceil(size(toks) / lit(blockTokens.toDouble)).cast(IntegerType)
    val blocks = transform(
      sequence(lit(0), nBlocks - 1),
      i => array_join(slice(toks, i * blockTokens + 1, lit(blockTokens)), " "))
    val exploded = documents.select(
      col("doc_id"), posexplode(blocks).as(Seq("pos", "block")))
    val w = Window.partitionBy("block").orderBy("doc_id", "pos")
    exploded
      .withColumn("__rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast(IntegerType).as("n_blocks"),
        sum(when(col("__rn") === 1, 1).otherwise(0)).cast(IntegerType).as("n_kept"),
        sha2(array_join(
          transform(
            array_sort(collect_list(when(col("__rn") === 1, struct(col("pos"), col("block"))))),
            s => s.getField("block")),
          " "), 256).as("kept_sha"))
      .orderBy(col("doc_id"))
  }

  /** BM25 relevance ranking of the corpus against a literal query-term set
    * (Robertson–Spärck Jones; the scoring function behind Lucene/
    * Elasticsearch defaults). Because the query is a SMALL LITERAL set,
    * per-document term frequencies are computed map-side with array HOFs —
    * no corpus-wide token explode, no vocabulary table at all. The only
    * other input is ONE corpus-stats row (N, avgdl, per-term df) that
    * broadcasts as a single-row cross join. At 100 TB: one scan, one
    * scalar-sized aggregate, one top-k — nothing shuffles at data size.
    *
    * The per-term score sum is a static left fold in query order, so the
    * floating-point result replays bit-identically in the SQL oracle's
    * `+` chain. */
  def bm25Rank(
      documents: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 15): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Rank needs at least one query term")
    val toks = tokens(col("text"))
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === lit(t))).cast(DoubleType).as(s"__tf$i")
    }
    val base = documents.select(
      col("doc_id") +: size(toks).cast(DoubleType).as("__dl") +: tfCols: _*)
    val corpus = base.agg(
      count(lit(1)).cast(DoubleType).as("__n"),
      avg(col("__dl")).as("__avgdl") +:
        queryTerms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1.0).otherwise(0.0)).as(s"__df$i")): _*)
    val score = queryTerms.indices.map { i =>
      val tf = col(s"__tf$i")
      val df = col(s"__df$i")
      val idf = log(lit(1.0) + (col("__n") - df + lit(0.5)) / (df + lit(0.5)))
      idf * tf * lit(k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(corpus))
      .select(col("doc_id"), round(score, 6).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Shannon entropy (bits) of a string's CHARACTER distribution — the
    * cheap gibberish/encoding-noise detector (near 0 ⇒ one repeated
    * character; natural text sits ~4 bits). Pure map-side HOF work over
    * the sorted distinct-character set, so the fold order — and therefore
    * the floating-point sum — is identical in the SQL oracle. */
  def charEntropy(text: Column): Column = {
    val cs = transform(sequence(lit(1), length(text)), i => text.substr(i, lit(1)))
    val n = size(cs).cast(DoubleType)
    val ent = -aggregate(
      array_sort(array_distinct(cs)), lit(0.0),
      (acc, ch) => {
        val p = size(filter(cs, x => x === ch)).cast(DoubleType) / n
        acc + p * log2(p)
      })
    when(length(text) === 0, lit(0.0)).otherwise(round(ent, 6))
  }

  /** Sliding-window chunking with overlap — the RAG / long-context
    * training splitter: windows of `window` tokens every `stride` tokens,
    * last window truncated, single window when the doc fits. Pure per-row
    * fan-out (explode of a generated index sequence) — embarrassingly
    * parallel, no shuffle at all until a consumer aggregates. */
  def slidingChunks(documents: DataFrame, window: Int = 64, stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = tokens(col("text"))
    val n = size(toks)
    // ceil((n - window) / stride) + 1 in pure integer math, 1 when n <= window
    val nChunks = when(n <= window, lit(1))
      .otherwise(floor((n - window + stride - 1) / lit(stride.toDouble)).cast(IntegerType) + 1)
    documents
      .select(col("doc_id"), toks.as("__toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        slice(col("__toks"), col("chunk_id") * stride + 1, lit(window)).as("__chunk"))
      .select(
        col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("__chunk")).as("n_chunk_tokens"),
        element_at(col("__chunk"), 1).as("first_tok"),
        element_at(col("__chunk"), -1).as("last_tok"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }
}
