package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.sources.Tables

/** Text-analysis operators over the documents table. Everything is
  * built-in codegen'd functions (split/regexp/higher-order array ops) —
  * single map-side pass, no shuffle except final ordering.
  */
object TextAnalysis {

  /** Shared with [[graft.OracleReplicas]] so oracle SQL derives from the
    * SAME word lists the operators use — no silently-divergent copy.
    */
  private[graft] val Stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "on", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "den", "von", "zu", "mit"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"))

  private def tokensCol: Column = ws_tokens(col("text"))

  /** The t3 subword pre-tokenizer — letter runs / digit runs / single
    * punctuation, in the Java∩RE2 subset so DuckDB extracts
    * identically. ONE definition shared by t3, the BPE family and
    * their oracles; a drifted copy would silently break the
    * cross-operator tokenization contract.
    */
  private[graft] val SubwordRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** t15's probe keys — shared with [[graft.OracleReplicas]] like
    * [[Stopwords]]: words the synthetic corpus actually uses, plus one
    * key that never occurs (exercises the empty-bucket estimate).
    */
  private[graft] val CmsProbes = Seq("the", "a", "join", "table", "scan",
    "merge", "row", "data", "query", "neverseenword")

  private def stopHits(lang: String): Column =
    stopword_hits(col("toks"), Stopwords(lang))

  /** t1: n-gram/stopword-heuristic language ID. Deterministic argmax over
    * per-language stopword hit counts with fixed preference order; 'und'
    * when no evidence. `is_match` compares to the corpus label.
    */
  /** t1's per-doc language signals with the token array kept — shared by
    * [[langId]] and dc16's language-balanced sampler so the prediction
    * rule exists exactly once.
    */
  private[graft] def langSignals(t: Tables): DataFrame =
    t.documents
      .withColumn("toks", tokensCol)
      .withColumn("s_de", stopHits("de"))
      .withColumn("s_en", stopHits("en"))
      .withColumn("s_es", stopHits("es"))
      .withColumn("s_fr", stopHits("fr"))
      .withColumn("pred_lang",
        when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
          .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
          .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
          .when(col("s_fr") > 0, "fr")
          .otherwise("und"))

  def langId(t: Tables): DataFrame =
    langSignals(t)
      .select(col("doc_id"), col("pred_lang"),
        (col("pred_lang") === col("lang")).as("is_match"))
      .orderBy(col("doc_id"))

  /** Appends the five t2 metric columns to a frame bearing (text, toks).
    * Shared by [[quality]] and [[gateMetrics]] so the dc6 gate judges
    * documents by EXACTLY the formulas t2 reports — the two cannot drift.
    */
  private def withQualityCols(df: DataFrame): DataFrame =
    df.withColumn("n_chars_actual", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("punct_ratio",
        round(length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double") /
          greatest(length(col("text")), lit(1)), 6))
      .withColumn("stop_ratio",
        round(stopword_hits(col("toks"), Stopwords("en")).cast("double") /
          greatest(size(col("toks")), lit(1)), 6))
      .withColumn("quality_score",
        round(lit(0.5) * least(col("n_tokens"), lit(100)).cast("double") / 100.0
          + lit(0.3) * (lit(1.0) - col("punct_ratio"))
          + lit(0.2) * least(col("stop_ratio") * 5.0, lit(1.0)), 6))

  /** t2: quality scoring — length, punctuation ratio, stopword ratio,
    * composite score (the classic pre-training heuristics stack).
    */
  def quality(t: Tables): DataFrame =
    withQualityCols(t.documents.withColumn("toks", tokensCol))
      .select(col("doc_id"), col("n_chars_actual"), col("n_tokens"),
        col("punct_ratio"), col("stop_ratio"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** t3: token counting — whitespace tokens and BPE-ish subword units
    * (letter runs / digit runs / single punctuation, the usual
    * pre-tokenizer shape).
    */
  def tokens(t: Tables): DataFrame =
    t.documents
      .withColumn("ws_tokens", size(tokensCol).cast("long"))
      .withColumn("subword_tokens",
        size(regexp_extract_all(lower(col("text")), lit(SubwordRegex), lit(0))).cast("long"))
      .select(col("doc_id"), col("ws_tokens"), col("subword_tokens"))
      .orderBy(col("doc_id"))

  /** t5: exact corpus vocabulary top-k — explode + count + rank. The
    * exact counterpart of [[vocabSketch]]; at 100 TB the sketch replaces
    * this (the explode shuffles one row per token occurrence).
    */
  def vocab(t: Tables, k: Int = 20): DataFrame =
    t.documents
      .select(explode(tokensCol).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** t5 scale path: the same statistic via the SpaceSaving
    * `TypedImperativeAggregate` — fixed memory per partial, one merge,
    * no per-occurrence shuffle. Verified against [[vocab]] in specs.
    */
  def vocabSketch(t: Tables, k: Int = 20): DataFrame = {
    spreadIfNarrow(t.documents.select(col("text")))
      .select(tokensCol.as("toks"))
      .agg(approx_top_k_tokens(col("toks"), k).as("topk"))
      .select(explode(col("topk")).as("e"))
      .select(col("e.token").as("token"), col("e.cnt").as("n"))
  }

  /** t15: corpus token frequencies through the Count-Min sketch — the
    * point-frequency companion of [[vocabSketch]]'s top-k: one map-side
    * pass folds every token occurrence into a d×w counter plane (16 KiB
    * partials, elementwise-sum merge — the token domain never
    * shuffles), then any later key probes the plane in O(d). Probed
    * with [[CmsProbes]] — nine common corpus words plus one
    * deliberately absent key (the empty-bucket branch); `exact_count`
    * joins the true counts so the CMS ≥-truth guarantee is visible in
    * the output (and oracle-checked). The 1-row sketch attaches to the
    * probe rows via the declared scalar-attach crossJoin (t6's idf
    * pattern).
    */
  def cmsTokenFreq(t: Tables, d: Int = 4, w: Int = 512): DataFrame = {
    val probes = CmsProbes
    val toks = t.documents.select(explode(tokensCol).as("token")).filter(col("token") =!= "")
    val sketch = toks.agg(cms_sketch(col("token"), d, w).as("sk"))
    val exact = toks.filter(col("token").isin(probes: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
    val probeDf = t.documents.sparkSession
      .createDataFrame(probes.map(Tuple1(_))).toDF("token")
    probeDf.crossJoin(sketch)
      .select(col("token"), cms_estimate(col("sk"), col("token")).as("est_count"))
      .join(exact, Seq("token"), "left")
      .na.fill(0L, Seq("exact_count"))
      .orderBy(col("token"))
  }

  /** t16: PMI collocation mining — the phrase-discovery pass (Church &
    * Hanks 1990) a corpus pipeline runs before building a phrase-aware
    * vocabulary: for adjacent pair (w1, w2),
    * pmi = ln(p(w1 w2) / (p(w1) p(w2))), keep pairs with count ≥
    * `minCount` (rare-pair PMI is noise), top-k by the ROUNDED score
    * (t6's cross-engine tie contract). Adjacency comes from t12's
    * (doc_id)-keyed lead window — no token self-join; the unigram and
    * bigram frequency joins are un-hinted (t6's contract) and the two
    * 1-row totals attach via declared scalar-attach crossJoins.
    */
  def pmiCollocations(t: Tables, minCount: Long = 5, k: Int = 30): DataFrame = {
    val docs = spreadIfNarrow(t.documents.select(col("doc_id"), col("text")))
    val tok = docs.select(col("doc_id"), posexplode(tokensCol)).toDF("doc_id", "pos", "w")
    val cu = tok.groupBy(col("w")).agg(count(lit(1)).cast("double").as("cu"))
    val nTot = tok.agg(count(lit(1)).cast("double").as("n"))
    val seq = tok.withColumn("w2",
      lead(col("w"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val pairs = seq.filter(col("w2").isNotNull)
      .select(col("w").as("w1"), col("w2"))
    val cb = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_count"))
    val nbTot = pairs.agg(count(lit(1)).cast("double").as("nb"))
    cb.filter(col("pair_count") >= minCount)
      .join(cu.withColumnRenamed("w", "w1").withColumnRenamed("cu", "cu1"), Seq("w1"))
      .join(cu.withColumnRenamed("w", "w2").withColumnRenamed("cu", "cu2"), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .crossJoin(broadcast(nbTot))
      .select(col("w1"), col("w2"), col("pair_count"),
        round(log(col("pair_count").cast("double") * col("n") * col("n")
          / (col("nb") * col("cu1") * col("cu2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** t6: TF-IDF top terms per document. Both aggregations are plain
    * partial-agg shuffles on (doc, token) / (token); ranking uses the
    * ROUNDED score so cross-engine ties resolve identically.
    *
    * Scale notes: the tf↔df join carries NO size hint — at web-corpus
    * scale the distinct-token table is billions of rows (junk tokens
    * dominate) and a forced broadcast would OOM; AQE still broadcasts it
    * when it measures small. The corpus doc count folds into the plan as
    * a one-row aggregate (broadcast by construction) instead of a
    * separate driver-side `count()` action.
    */
  def tfidf(t: Tables, topK: Int = 3): DataFrame = {
    val tokens = spreadIfNarrow(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(tokensCol).as("token"))
      .filter(col("token") =!= "")
    val nDocs = t.documents.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = tokens.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("token"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** t7: within-document repetition scoring — the Gopher-style filters
    * (duplicate-token fraction, top-token dominance, duplicate-n-gram
    * fraction) that catch boilerplate and degenerate generations. All
    * five counters come from ONE codegen pass over the token array
    * ([[graft.functions.RepetitionStats]]): per-document work stays
    * map-side, only small counters leave the scan — no token shuffle at
    * any corpus size.
    */
  /** The three t7 repetition fractions from a `repetition_stats` struct
    * column — shared by [[repetition]] and [[gateMetrics]].
    */
  private def repetitionFracCols(r: Column): Seq[Column] = Seq(
    round(lit(1.0) - r.getField("distinct_tokens") / greatest(r.getField("n_tokens"), lit(1)), 6)
      .as("dup_token_frac"),
    round(r.getField("top_token_count") / greatest(r.getField("n_tokens"), lit(1)).cast("double"), 6)
      .as("top_token_frac"),
    round(when(r.getField("n_shingles") > 0,
      lit(1.0) - r.getField("distinct_shingles") / r.getField("n_shingles").cast("double"))
      .otherwise(0.0), 6).as("dup_2gram_frac"))

  def repetition(t: Tables, k: Int = 2): DataFrame =
    t.documents
      .select(col("doc_id"), repetition_stats(tokensCol, k).as("r"))
      .select(col("doc_id") +: col("r.n_tokens").cast("long").as("n_tokens") +:
        repetitionFracCols(col("r")): _*)
      .orderBy(col("doc_id"))

  /** One-scan per-document metric panel for [[Curation.qualityGate]]:
    * the t2 quality columns and t7 repetition fractions computed in a
    * SINGLE map-side projection over one documents scan — no second scan,
    * no doc_id join, no shuffle at all. This is the 100 TB shape for a
    * filter that every document must pass through.
    */
  private[operators] def gateMetrics(t: Tables, k: Int = 2): DataFrame =
    gateMetricsOf(t.documents, k)

  /** [[gateMetrics]] over an explicit documents frame, optionally
    * carrying extra columns through the same single projection (`keep`
    * may reference `toks`, the tokenized text) — the composition hook
    * [[Curation.fullCuration]] uses to derive EVERY per-doc signal of
    * the fused pipeline in one scan.
    */
  private[operators] def gateMetricsOf(docs: DataFrame, k: Int = 2,
      keep: Seq[Column] = Seq.empty): DataFrame =
    withQualityCols(docs.withColumn("toks", tokensCol))
      .withColumn("r", repetition_stats(col("toks"), k))
      .select(Seq(col("doc_id"), col("n_tokens"), col("punct_ratio"),
        col("stop_ratio"), col("quality_score")) ++ repetitionFracCols(col("r")) ++ keep: _*)

  /** t8: unigram language-model score per document (the CCNet-style LM
    * quality proxy): avg over token occurrences of ln P(token), with
    * P estimated from the corpus itself (tf_corpus / total_tokens).
    * Low (very negative) scores flag rare-token gibberish; scores near
    * zero flag degenerate common-token repetition — the standard cheap
    * stand-in for a perplexity filter when no external LM is available.
    *
    * Scale shape mirrors t6 exactly: per-(doc, token) tf is one partial
    * agg; the corpus frequency table joins UN-hinted (AQE broadcasts it
    * only when it measures small — at web scale the distinct-token table
    * is unbounded); the corpus total folds into the plan as a one-row
    * aggregate cross join, never a driver-side action. Heavy text stays
    * in the scan — only (doc_id, token, tf) rows shuffle.
    */
  def unigramLogprob(t: Tables): DataFrame = {
    val tokens = spreadIfNarrow(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(tokensCol).as("token"))
      .filter(col("token") =!= "")
    val tf = tokens.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val ctf = tf.groupBy(col("token")).agg(sum(col("tf")).cast("double").as("ctf"))
    val total = tf.agg(sum(col("tf")).cast("double").as("n_total"))
    tf.join(ctf, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * log(col("ctf") / col("n_total"))).as("lp_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("lp_sum") / col("n_tokens"), 6).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns shared by the operator and its oracle SQL builder —
    * restricted to syntax Java regex and RE2 (DuckDB) interpret
    * identically: no backreferences, no lookaround, ASCII classes only.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private[graft] val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** t9 core: count and redact PII (emails, NNN-NNN-NNNN phones, IPv4
    * addresses) in `textCol`. Counts are measured on the ORIGINAL text;
    * redaction applies email → phone → IP in that fixed order so the
    * result is deterministic under overlapping character classes. One
    * map-side codegen pass (regexp_count/regexp_replace are codegen'd
    * built-ins) — no shuffle, the 100 TB shape for a scrubbing pass every
    * document flows through.
    */
  def piiRedact(df: DataFrame, textCol: Column): DataFrame =
    df.withColumn("n_emails", regexp_count(textCol, lit(EmailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(textCol, lit(PhoneRe)).cast("long"))
      .withColumn("n_ips", regexp_count(textCol, lit(Ipv4Re)).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(textCol, EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>"))

  /** t9 `queries()` row: the synthetic corpus carries no natural PII, so
    * the gate would be vacuous on raw `text`; instead each doc's columns
    * deterministically synthesize a contact line (one email, one phone,
    * one IPv4) prefixed to the text, and the redactor must find exactly
    * those plus leave the body intact. The oracle replays the same
    * synthesis in SQL, so counts AND the redacted-text digest are
    * hash-verified, not just non-zero.
    */
  def piiScrub(t: Tables): DataFrame = {
    val synth = t.documents.select(col("doc_id"),
      concat(
        lit("contact user"), col("doc_id"), lit("@"), col("source"), lit(".com or 555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(col("n_chars"), lit(10000)).cast("string"), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)), lit("."), pmod(col("n_chars"), lit(256)),
        lit(" re: "), col("text")).as("text"))
    piiRedact(synth, col("text"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        length(col("redacted")).cast("long").as("redacted_len"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** t10: token-distribution entropy per document — Shannon entropy of
    * the within-doc token histogram plus the [0,1] normalization
    * H/ln(distinct). Low entropy flags repetitive/templated text from a
    * different angle than t7's count fractions (a doc can have a low
    * dup-token fraction yet a very skewed distribution). Computed from
    * the SAME single codegen pass as t7/dc6 ([[graft.functions.RepetitionStats]]
    * carries the entropy field) — zero shuffles before the presentation
    * sort, at any corpus size.
    */
  def tokenEntropy(t: Tables, k: Int = 2): DataFrame =
    t.documents
      .select(col("doc_id"), repetition_stats(tokensCol, k).as("r"))
      .select(col("doc_id"),
        col("r.n_tokens").cast("long").as("n_tokens"),
        col("r.distinct_tokens").cast("long").as("distinct_tokens"),
        round(col("r.token_entropy"), 6).as("token_entropy"),
        round(when(col("r.distinct_tokens") > 1,
          col("r.token_entropy") / log(col("r.distinct_tokens").cast("double")))
          .otherwise(0.0), 6).as("norm_entropy"))
      .orderBy(col("doc_id"))

  /** t12: interpolated bigram LM quality score — t8's CCNet-shaped LM
    * proxy upgraded one order: per position i ≥ 2 the token scores
    * ln(λ·p̂(w_i|w_{i-1}) + (1−λ)·p̂(w_i)), the first token scores its
    * unigram logprob, and the doc reports the average. Corpus-trained on
    * itself, so every observed bigram has mass (no unseen-token floor
    * needed); λ fixed at 0.75 (Jelinek–Mercer interpolation with a
    * pinned weight — deterministic, engine-replayable).
    *
    * Scale shape: adjacency comes from ONE (doc_id)-keyed lead window
    * over (doc_id, pos, token) rows (st2's sessionize idiom — no token
    * self-join); the bigram/unigram frequency joins are UN-hinted (t6's
    * contract — at web scale the distinct-bigram table is unbounded, AQE
    * broadcasts only what measures small); the corpus total folds in as
    * a one-row aggregate. Heavy text never leaves the scan. Unlike t8,
    * empty tokens are NOT filtered (they only arise from empty docs and
    * the oracle replays the same raw stream — adjacency must not skip).
    */
  def bigramLogprob(t: Tables, l2: Double = 0.75): DataFrame = {
    val docs = spreadIfNarrow(t.documents.select(col("doc_id"), col("text")))
    val tok = docs.select(col("doc_id"), posexplode(tokensCol)).toDF("doc_id", "pos", "w")
    val cu = tok.groupBy(col("w")).agg(count(lit(1)).cast("double").as("cu"))
    val nTot = tok.agg(count(lit(1)).cast("double").as("n"))
    val seq = tok.withColumn("w2",
      lead(col("w"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val tfb = seq.filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tfb"))
    val cb = tfb.groupBy(col("w1"), col("w2")).agg(sum(col("tfb")).cast("double").as("cb"))
    val bigramTerms = tfb
      .join(cb, Seq("w1", "w2"))
      .join(cu.withColumnRenamed("w", "w1").withColumnRenamed("cu", "cu1"), Seq("w1"))
      .join(cu.withColumnRenamed("w", "w2").withColumnRenamed("cu", "cu2"), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .select(col("doc_id"),
        (col("tfb") * log(lit(l2) * col("cb") / col("cu1")
          + lit(1.0 - l2) * col("cu2") / col("n"))).as("term"))
    val firstTerms = tok.filter(col("pos") === 0)
      .join(cu, Seq("w"))
      .crossJoin(broadcast(nTot))
      .select(col("doc_id"), log(col("cu") / col("n")).as("term"))
    val nt = t.documents.select(col("doc_id"),
      size(ws_tokens(col("text"))).cast("long").as("n_tokens"))
    bigramTerms.unionByName(firstTerms)
      .groupBy(col("doc_id")).agg(sum(col("term")).as("lp"))
      .join(nt, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("lp") / col("n_tokens"), 6).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** t11 feature column: hashed unigram + bigram FNV shingles of the
    * canonical tokenization — array<long>, computed in one codegen pass.
    */
  private[graft] def dsirFeats(text: Column): Column =
    concat(shingle_hashes(ws_tokens(text), 1), shingle_hashes(ws_tokens(text), 2))

  /** t11 model build: hashed n-gram bucket distributions for the target
    * (doc_id < benchSplit — dc1's benchmark-slice convention) and raw
    * sides, add-1 smoothed, as the length-B log-ratio array
    * λ[b] = ln((ct_b+1)/(N_t+B)) − ln((cr_b+1)/(N_r+B)) (absent buckets
    * keep the smoothing-only value). ONE corpus aggregation — feature
    * hashes fold map-side, at most B rows per partition leave the
    * exchange — then a ≤B-row driver collect (the dc5 Bloom-bytes
    * scale). StrictMath.log is the function Catalyst's `log` evaluates,
    * so the driver-built model agrees with the DuckDB oracle's ln at
    * the gate's rounding.
    */
  def dsirLambda(docs: DataFrame, benchSplit: Long = 50, buckets: Int = 1024): Array[Double] = {
    val rows = spreadIfNarrow(docs.select(col("doc_id"), col("text")))
      .select((col("doc_id") < benchSplit).as("is_t"),
        explode(dsirFeats(col("text"))).as("h"))
      .select(col("is_t"), pmod(col("h"), lit(buckets.toLong)).as("b"))
      .groupBy(col("b"))
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("is_t"), 1L).otherwise(0L)).as("cr"))
      .collect() // ≤ `buckets` rows by construction
    var nt = 0.0; var nr = 0.0
    rows.foreach { r => nt += r.getLong(1); nr += r.getLong(2) }
    val dt = nt + buckets; val dr = nr + buckets
    val lam = Array.fill(buckets)(StrictMath.log(1.0 / dt) - StrictMath.log(1.0 / dr))
    rows.foreach { r =>
      lam(r.getLong(0).toInt) =
        StrictMath.log((r.getLong(1) + 1.0) / dt) - StrictMath.log((r.getLong(2) + 1.0) / dr)
    }
    lam
  }

  /** t11 scoring — shared by the batch query and the stateless streaming
    * twin: log importance weight Σ_features λ[bucket(h)] via ONE map-side
    * codegen pass ([[graft.functions.BucketWeightSum]]); no shuffle
    * before the presentation sort.
    */
  def dsirScore(docs: DataFrame, lambda: Array[Double]): DataFrame =
    docs.select(col("doc_id"),
        size(dsirFeats(col("text"))).cast("long").as("n_feats"),
        round(bucket_weight_sum(dsirFeats(col("text")), lambda.toSeq), 6).as("log_weight"))
      .orderBy(col("doc_id"))

  /** t11: DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — score every raw doc
    * by how target-like its hashed n-gram profile is, the
    * data-SELECTION step between quality gating (dc6) and mixture
    * sampling (dc4). Follows dc5's two-action pattern: the fixed-size
    * model is one bounded aggregation + driver collect, scoring is a
    * single map-side pass over one scan — at 100 TB the corpus is read
    * twice and shuffled never.
    */
  def dsirWeights(t: Tables, benchSplit: Long = 50, buckets: Int = 1024): DataFrame = {
    val lam = dsirLambda(t.documents, benchSplit, buckets)
    dsirScore(t.documents.filter(col("doc_id") >= benchSplit), lam)
  }

  /** t4: rolling-hash document fingerprints — full-document Karp–Rabin
    * min-window hash (shift-stable) + a coarse bucket for grouping.
    * Custom codegen expression [[graft.functions.RollingFingerprint]].
    */
  def fingerprint(t: Tables): DataFrame =
    t.documents
      .withColumn("fp64", rolling_fingerprint(col("text"), 16))
      .withColumn("fp_bucket", pmod(col("fp64"), lit(1024)).cast("int"))
      .select(col("doc_id"), col("fp64"), col("fp_bucket"))
      .orderBy(col("doc_id"))

  /** t18: Zipf-law fit of the token frequency distribution — the
    * corpus-health diagnostic that flags synthetic, templated or
    * degenerate corpora (natural language fits ln f ≈ a − s·ln r with
    * s ≈ 1; boilerplate floods flatten the head, dedup failures fatten
    * it). OLS over (ln rank, ln freq) for the top `headK` types:
    * per-point terms are ROUNDED at 8 dp then accumulated as
    * DECIMAL(28,10) — exact and order-free — so the closed-form
    * slope/intercept from those sums is engine-identical (the dc14
    * discipline applied to regression).
    *
    * Scale shape: one token-count aggregation (t5's shape), a top-K
    * cut, and a K-row regression — the corpus never shuffles past the
    * (token) partial agg; at 100 TB swap the exact counts for t5's
    * SpaceSaving sketch (the head is all the fit uses).
    */
  def zipfFit(t: Tables, headK: Int = 1000): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 10)
    val ranked = t.documents
      .select(explode(tokensCol).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(headK)
    // rank within the K-row head only (the limit precedes the window)
    val w = Window.orderBy(col("n").desc, col("token"))
    val pts = ranked
      .withColumn("r", row_number().over(w))
      .select(
        round(log(col("r").cast("double")), 8).as("x"),
        round(log(col("n").cast("double")), 8).as("y"))
      .select(col("x"), col("y"),
        round(col("x") * col("x"), 8).as("xx"),
        round(col("x") * col("y"), 8).as("xy"))
    pts
      .agg(
        count(lit(1)).cast("double").as("k"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum(col("xx").cast(dec)).cast("double").as("sxx"),
        sum(col("xy").cast(dec)).cast("double").as("sxy"))
      .select(
        col("k").cast("long").as("n_types"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
        round((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("k"), 6)
          .as("intercept"))
  }

  /** t19: per-source distribution drift — KL(source ‖ corpus) over the
    * whitespace-unigram distributions: Σ_tok p_s(tok)·ln(p_s(tok)/q(tok))
    * with p_s = c_st/N_s and q = c_t/N. The corpus-health monitor a
    * training-data pipeline runs per ingest source: a source whose token
    * distribution drifts from the blend (new boilerplate, language mix
    * shift, scraper breakage) spikes its KL before any downstream metric
    * moves. Every source token is in the corpus by construction, so q is
    * never zero and KL is finite.
    *
    * Cross-engine determinism (the t18/dc14 discipline): the ln factor
    * is ROUNDED at 8 dp, the per-token term at 10 dp, terms accumulate
    * as DECIMAL(28,12) — exact and order-free — and the final divergence
    * rounds at 6 dp.
    *
    * Scale shape: raw text dies at the ONE (source, token) partial
    * aggregation; everything after re-aggregates that vocabulary-sized
    * frame (checkpointed once, three consumers) — per-source totals are
    * enum-sized and broadcast, the corpus token margin is a
    * vocabulary-keyed join AQE resolves, and the final sum shuffles one
    * row per (source, token). The corpus never shuffles past the first
    * partial agg.
    */
  def klDrift(t: Tables): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)
    val st = t.documents
      .select(col("source"), explode(tokensCol).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))
      .localCheckpoint(true) // vocabulary-sized; feeds totals, margin, join
    val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val tokTot = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val total = st.agg(sum(col("c_st")).as("n"))
    st
      .join(tokTot, Seq("token"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_s"),
        round(
          (col("c_st").cast("double") / col("n_s").cast("double")) *
            round(log((col("c_st").cast("double") * col("n").cast("double")) /
              (col("n_s").cast("double") * col("c_t").cast("double"))), 8),
          10).as("term"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        round(sum(col("term").cast(dec)).cast("double"), 6).as("kl_divergence"))
      .orderBy(col("source"))
  }

  /** The pinned reference model for [[klDriftAgainst]]: the corpus's
    * unigram counts (one token-keyed aggregation, checkpointed) plus
    * the total — built once, then probed by every monitored batch.
    */
  def klReferenceModel(t: Tables): (DataFrame, Double) = {
    val counts = t.documents
      .select(explode(tokensCol).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("c_ref"))
      .localCheckpoint(true)
    val total = counts.agg(sum(col("c_ref"))).collect()(0).getLong(0).toDouble
    (counts, total)
  }

  /** t19 against a PINNED reference — the production drift monitor's
    * shape: an incoming batch's per-source unigram distribution scored
    * against a FIXED corpus model instead of the batch's own blend
    * (which a small batch would skew). Tokens the reference has never
    * seen cannot enter a KL term (q = 0); they are counted honestly in
    * `oov_tokens` and excluded from the sum — a rising OOV share is
    * itself the drift signal. Same rounding discipline as [[klDrift]],
    * and when the reference IS the scored corpus the result equals
    * klDrift exactly with zero OOV (spec-pinned).
    */
  def klDriftAgainst(docs: DataFrame, refCounts: DataFrame,
      refTotal: Double): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)
    val st = docs
      .select(col("source"), explode(ws_tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))
      .localCheckpoint(true)
    val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    st
      .join(refCounts, Seq("token"), "left")
      .join(broadcast(srcTot), Seq("source"))
      .select(col("source"), col("n_s"),
        round(
          (col("c_st").cast("double") / col("n_s").cast("double")) *
            round(log((col("c_st").cast("double") * lit(refTotal)) /
              (col("n_s").cast("double") * col("c_ref").cast("double"))), 8),
          10).as("term"), // NULL when c_ref is NULL — sum skips it
        when(col("c_ref").isNull, col("c_st")).otherwise(lit(0L)).as("oov"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        sum(col("oov")).as("oov_tokens"),
        round(coalesce(sum(col("term").cast(dec)).cast("double"), lit(0.0)), 6)
          .as("kl_vs_ref"))
      .orderBy(col("source"))
  }

  /** t20: TextRank keyword extraction (Mihalcea & Tarau 2004) — g1's
    * integer-arithmetic PageRank run over the word CO-OCCURRENCE graph
    * (distinct adjacent-token pairs; t12's adjacency domain): the
    * corpus's structurally central vocabulary, the unsupervised
    * keyword/keyphrase seed every tagging pipeline starts from. One
    * propagation engine, third domain (dedup pairs, co-purchase edges,
    * now word adjacency).
    *
    * Words enter the rank loop as FNV-64 ids (collision-negligible;
    * compact longs shuffle, never strings) and join back to strings
    * only for the topK presentation rows. The undirected edge set
    * dedups on the LEXICAL pair before hashing, so both engines build
    * the identical graph; ranks are g1's exact Long floor-division
    * micro-units — bit-identical under any partitioning and exactly
    * replayable as a CTE chain.
    */
  def textrankKeywords(t: Tables, topK: Int = 30, iters: Int = 5): DataFrame = {
    val toks = t.documents.select(col("doc_id"), tokensCol.as("t"))
    val adj = toks
      .select(posexplode(col("t")).as(Seq("pos", "w1")), col("doc_id"))
      .withColumn("w2", lead(col("w1"), 1)
        .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w1") =!= "" && col("w2") =!= "" &&
        col("w2").isNotNull && col("w1") =!= col("w2"))
    val und = adj
      .select(least(col("w1"), col("w2")).as("wa"),
        greatest(col("w1"), col("w2")).as("wb"))
      .distinct()
      .localCheckpoint(true) // feeds the edge build AND the id→word map
    // word id = the k=1 FNV shingle hash (t11's unigram feature domain,
    // fnv64(word ‖ 0x1f) — exactly replayable in the oracle)
    def wid(c: Column): Column = element_at(shingle_hashes(array(c), 1), 1)
    val edges = und.select(wid(col("wa")).as("src"), wid(col("wb")).as("dst"))
    val words = und.select(col("wa").as("w")).unionByName(und.select(col("wb").as("w")))
      .distinct()
      .select(wid(col("w")).as("part_key"), col("w"))
    Graph.pagerankFromEdges(edges, iters, topK)
      .join(words, Seq("part_key"))
      .select(col("w").as("word"), col("deg"), col("rank"))
      .orderBy(col("rank").desc, col("word"))
  }

  /** BM25 parameters (Robertson/Spärck Jones; the Lucene-default
    * shape): k1 term-frequency saturation, b length normalization.
    * Written as separate constants so both engines fold `k1 + 1`
    * identically from the same double literal.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** The pinned retrieval query for t17/s7 — a fixed keyword set so the
    * operator (and its oracle) is deterministic end to end.
    */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "join", "window")

  /** t17: BM25 keyword retrieval — top-k docs for a pinned query term
    * set. Per-term scores round at 6 dp BEFORE the per-doc sum (and the
    * sum rounds again) so cross-engine libm/summation ulps cannot
    * reorder the ranking.
    *
    * Scale shape: tf for each query term is pure map-side array
    * arithmetic over the token array (`filter` size — the corpus text
    * is NEVER exploded to a token table for a |Q|-term query, unlike
    * t6's full index); the only shuffles carry (doc_id, term, tf, dl)
    * compacts — one tiny per-term df aggregation, a one-row
    * (N, avgdl) aggregate, both broadcast back — plus the final
    * per-doc sum. At 100 TB this is one scan + top-k; the persisted
    * inverted-index variant (df/dl stored once, queries joining it)
    * follows the warehouse-store pattern when query volume warrants.
    */
  def bm25(t: Tables, terms: Seq[String] = Bm25QueryTerms, topK: Int = 20): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    bm25Scores(t, terms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      // rank attaches AFTER the top-k cut: the single-partition window
      // sees topK rows, never the corpus
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy(col("rank"))
  }

  /** The (doc_id, score) BM25 scores for every doc with at least one
    * query-term hit — shared by [[bm25]] (top-k presentation) and
    * [[bm25Ranks]] (s7's full-corpus rank leg).
    */
  /** Occurrence count of `term` in a token array as pure CODEGEN
    * column arithmetic: `size(toks) - size(array_remove(toks, term))`.
    * A `filter(toks, lambda)` higher-order function computes the same
    * number but runs INTERPRETED per element — measured 5× slower
    * end-to-end at 1M docs (SURVEY.md, "Measured design decisions"), the
    * repo-wide rule against lambdas on per-token paths.
    */
  private def termCount(toks: Column, term: Column): Column =
    (size(toks) - size(array_remove(toks, term))).cast("double")

  private[operators] def bm25Scores(t: Tables, terms: Seq[String]): DataFrame = {
    // ONE compact row per doc — (doc_id, dl, tf array) — materialized
    // once and feeding all three branches (corpus stats, per-term df,
    // the scoring join), so the corpus is scanned and tokenized once,
    // not three times (Catalyst has no common-subplan reuse across
    // differing exchanges; the clustersOfPairs discipline)
    val toks = ws_tokens(col("text"))
    val perDoc = spreadIfNarrow(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), size(toks).cast("double").as("dl"),
        array(terms.map(tm => termCount(toks, lit(tm))): _*).as("tfs"))
      .localCheckpoint(true)
    val stats = perDoc
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
    // per-term rows explode AFTER the checkpoint, in terms order (the
    // per-doc sum later accumulates in this order — the streaming twin
    // mirrors it)
    val perTerm = perDoc
      .select(col("doc_id"), col("dl"), posexplode(col("tfs")))
      .select(col("doc_id"), col("dl"),
        element_at(typedLit(terms), col("pos") + 1).as("term"), col("col").as("tf"))
    val dfT = perTerm.filter(col("tf") > 0)
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    perTerm.filter(col("tf") > 0)
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("tscore",
        bm25TermScore(col("tf"), col("dl"), col("df"), col("n_docs"), col("avgdl")))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("tscore")), 6).as("score"))
  }

  /** One query term's BM25 contribution, rounded at 6 dp — the SAME
    * expression tree serves batch t17 (columns from the df/stats
    * aggregates) and the streaming twin (the model pinned as literals),
    * so streamed scores are bit-equal to batch by construction.
    */
  private[graft] def bm25TermScore(tf: Column, dl: Column, dfC: Column,
      nDocs: Column, avgdl: Column): Column =
    round(
      log((nDocs - dfC + lit(0.5)) / (dfC + lit(0.5)) + lit(1.0)) *
        (tf * (lit(Bm25K1) + lit(1.0))) /
        (tf + lit(Bm25K1) * (lit(1.0) - lit(Bm25B) + lit(Bm25B) * dl / avgdl)),
      6)

  /** The PERSISTED form of t17: a real inverted index under the
    * warehouse generation protocol — `<name>_postings(token, doc_id,
    * tf, dl)` written ONCE per corpus generation, bucketed AND sorted
    * by token, plus a 1-row `<name>_stats(n_docs, avgdl)` table. The
    * index build pays the full token explode once (the correct trade:
    * t17's map-side arithmetic wins per query, the index wins per
    * WORKLOAD); a query then reads only its terms' buckets (Spark
    * prunes bucketed scans on IN-list predicates — spec-asserted via
    * SelectedBucketsCount), aggregates df from the pruned postings,
    * and scores with the SAME [[bm25TermScore]] expression as the
    * in-job operator. Docs with no query-term hits are never read.
    */
  def buildBm25Store(docs: DataFrame, name: String, buckets: Int = 0): Unit = {
    import graft.sources.Warehouse
    Warehouse.build(bm25Store(docs.sparkSession, name)) { gen =>
      writeBm25Generation(docs, name, gen, buckets)
    }: Unit
  }

  private def bm25Store(spark: org.apache.spark.sql.SparkSession,
      name: String): graft.sources.Warehouse.Store =
    graft.sources.Warehouse.tableStore(spark, name, Seq("postings", "stats"))

  /** ONE definition of a BM25 generation's content — postings bucketed
    * on token plus the (n_docs, avgdl, dl_sum) stats row — shared by the
    * full build and the segment append so the tokenize→postings→stats
    * chain cannot drift between them (the append ≡ one-shot contract
    * rests on both writing EXACTLY this). dl_sum rides along for
    * SEGMENT merges: dl values are integer-valued doubles, so the sum
    * is exact (< 2^53) and order-free — merged avgdl = Σdl_sum / Σn_docs
    * is bit-identical to a one-shot build's sum(dl)/count over the
    * union corpus.
    */
  private def writeBm25Generation(docs: DataFrame, name: String, gen: Long,
      buckets: Int): Long = {
    import graft.sources.Warehouse
    val toks = ws_tokens(col("text"))
    val (input, rows) = counted(spreadIfNarrow(docs.select(col("doc_id"), col("text"))))
    val perDoc = input
      .select(col("doc_id"), size(toks).cast("double").as("dl"), toks.as("toks"))
      .localCheckpoint(true)
    val postings = perDoc
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // both tables derive from the checkpointed perDoc — publish
    // concurrently (guide §2.6, the signature-store pattern)
    Warehouse.runConcurrently(Seq(
      () => Warehouse.writeBucketed(postings,
        Warehouse.storeTableName(name, gen, "postings"), "token", buckets),
      () => perDoc
        .agg(count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")) / count(lit(1))).as("avgdl"),
          sum(col("dl")).as("dl_sum"))
        .write.format("parquet")
        .saveAsTable(Warehouse.storeTableName(name, gen, "stats"))))
    rows()
  }

  /** t23: INCREMENTAL index ingest — append a batch of new documents to
    * a published BM25 store WITHOUT rebuilding it (the Lucene segment
    * model, [[graft.operators.Similarity.appendToIvfIndex]]'s table-store
    * sibling). The batch's postings land as a SEGMENT generation (same
    * bucket layout as the base, so per-term pruning holds across both),
    * its (n_docs, dl_sum) stats merge additively at query time, and df
    * aggregates over base ∪ segments — so scores after an append are
    * BIT-IDENTICAL to a one-shot build over the union corpus (both
    * avgdl divisions see the same exact integers; spec- and
    * gate-pinned). At 100 TB the corpus is tokenized/exploded once per
    * rebuild and every ingest batch pays only its own postings write;
    * callers append NEW doc_ids only (the d7/d16 ingest contract).
    * The segment's bucket layout always derives from the base build's
    * catalog metadata (a diverging layout would silently void
    * cross-segment pruning, so unreadable metadata fails loudly).
    */
  def appendToBm25Store(docs: DataFrame, name: String,
      dedupeTag: Option[String] = None): Option[Long] =
    appendToBm25StoreHooked(docs, name, dedupeTag)

  /** [[appendToBm25Store]] with a test seam: `beforePublish` runs after
    * the segment's tables are written, immediately before the atomic
    * publish — specs inject a racing rebuild there to exercise the
    * lost-race path deterministically.
    */
  private[graft] def appendToBm25StoreHooked(docs: DataFrame, name: String,
      dedupeTag: Option[String] = None,
      beforePublish: () => Unit = () => ()): Option[Long] = {
    import graft.sources.Warehouse
    val spark = docs.sparkSession
    // the whole retry/cleanup protocol lives ONCE in
    // [[graft.sources.Warehouse.appendSegmentWith]]: committed-tag
    // skip, empty-increment guard, atomic publish-or-refuse, immediate
    // cleanup of a refused (never-visible) segment, and the
    // provably-unpublished guard on every other failure path. This
    // wrapper contributes only the BM25 specifics: the segment MUST
    // share the base's bucket layout for per-term pruning to hold
    // across the union — derived from the base's catalog metadata,
    // never a caller-repeated parameter; unreadable metadata refuses
    // the append instead of guessing.
    Warehouse.appendSegmentWith[Int](bm25Store(spark, name),
      dedupeTag,
      prepare = base => Warehouse.storeLayout(spark, "BM25", name, base, "postings").buckets,
      writeData = (gen, layout) => writeBm25Generation(docs, name, gen, layout),
      beforePublish = beforePublish)
  }

  /** TAKEDOWN at the retrieval layer: drop the removed documents'
    * postings from base ∪ segments and subtract their (n_docs, dl_sum)
    * contributions from the corpus stats, publishing the next full
    * generation — after this, [[bm25AgainstStore]] is bit-identical to
    * querying a store rebuilt from the filtered corpus (postings are
    * per-doc functions of text; the stats are exact integer sums, so
    * the subtraction reproduces the rebuild's operands exactly, and
    * both stores' avgdl divisions see identical integers).
    * `removedDocs` carries (doc_id, text) — the document length of a
    * zero-posting doc (empty/one-token text) is not recoverable from
    * the postings, so the stats subtraction recomputes dl from the
    * exact ingested text with the build's own tokenize chain; only
    * ingested docs may be passed (the identity spec pins the
    * contract). Conditional publish: a segment landing mid-removal
    * refuses the commit and the removal re-folds.
    */
  def removeFromBm25Store(removedDocs: org.apache.spark.sql.DataFrame,
      name: String): Unit = {
    import graft.sources.Warehouse
    val spark = removedDocs.sparkSession
    val removed = spreadIfNarrow(removedDocs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), size(ws_tokens(col("text"))).cast("double").as("dl"))
      .dropDuplicates("doc_id")
      .localCheckpoint(true)
    val ids = removed.select(col("doc_id"))
    Warehouse.fold(bm25Store(spark, name))((base, segs) =>
      Some((base +: segs, Warehouse.storeLayout(spark, "BM25", name, base, "postings").buckets)))(
      write = { case (gen, (gens, buckets)) =>
        val oldPostings = gens
          .map(g => Warehouse.table(spark, Warehouse.storeTableName(name, g, "postings")))
          .reduce(_ unionAll _)
        // same legacy tolerance as the query path: a stats table persisted
        // before dl_sum existed reconstructs it as avgdl x n_docs (the one
        // float product its own build performed, inverted) — a takedown
        // must not fail analysis on exactly the stores queries still serve
        val oldStats = gens
          .map { g =>
            val st = Warehouse.table(spark, Warehouse.storeTableName(name, g, "stats"))
            if (st.columns.contains("dl_sum")) st.select(col("n_docs"), col("dl_sum"))
            else st.select(col("n_docs"), (col("avgdl") * col("n_docs")).as("dl_sum"))
          }
          .reduce(_ unionAll _)
        // both sides read only OLD generations + the removed-id set —
        // publish concurrently (guide §2.6, the signature-store pattern)
        Warehouse.runConcurrently(Seq(
          () => Warehouse.writeBucketed(
            oldPostings.join(broadcast(ids), Seq("doc_id"), "left_anti")
              .select(col("token"), col("doc_id"), col("dl"), col("tf")),
            Warehouse.storeTableName(name, gen, "postings"), "token", buckets),
          // exact integer-valued double sums (< 2^53): subtraction
          // reproduces the filtered rebuild's (n_docs, dl_sum) bit-for-bit
          () => oldStats
            .agg(sum(col("n_docs")).as("n_docs"), sum(col("dl_sum")).as("dl_sum"))
            .crossJoin(removed.agg(
              count(lit(1)).cast("double").as("r_n"),
              coalesce(sum(col("dl")), lit(0.0)).as("r_dl")))
            // removing EVERY doc must reproduce the empty rebuild's stats
            // row (n_docs 0, avgdl/dl_sum null — count/avg/sum over empty),
            // not a NaN-propagating 0/0
            .select(
              (col("n_docs") - col("r_n")).as("n_docs"),
              when(col("n_docs") === col("r_n"), lit(null).cast("double"))
                .otherwise((col("dl_sum") - col("r_dl")) / (col("n_docs") - col("r_n")))
                .as("avgdl"),
              when(col("n_docs") === col("r_n"), lit(null).cast("double"))
                .otherwise(col("dl_sum") - col("r_dl")).as("dl_sum"))
            .write.format("parquet")
            .saveAsTable(Warehouse.storeTableName(name, gen, "stats"))))
      },
      beforePublish = () => ())
  }

  /** Query the persisted BM25 index: same output contract as [[bm25]]
    * on the indexed corpus (spec-asserted equal). Work per query is
    * |Q| pruned bucket reads + a hit-sized (doc) aggregation — never a
    * corpus scan.
    */
  def bm25AgainstStore(spark: org.apache.spark.sql.SparkSession, name: String,
      terms: Seq[String] = Bm25QueryTerms, topK: Int = 20): DataFrame = {
    import graft.sources.Warehouse
    // segment-aware resolve: the live full build plus its published
    // append segments ([[appendToBm25Store]]); a no-append store reads
    // exactly its base as before. Bucket pruning applies to EACH
    // postings table before the union; stats merge additively from the
    // exact (n_docs, dl_sum) integers
    val (base, segs) = Warehouse.resolveSegmented(spark, name)
    val hits = (base +: segs)
      .map(g => Warehouse.table(spark, Warehouse.storeTableName(name, g, "postings"))
        .filter(col("token").isin(terms: _*)))
      .reduce(_ unionAll _)
    val statsTables = (base +: segs)
      .map(g => Warehouse.table(spark, Warehouse.storeTableName(name, g, "stats")))
    // back-compat: stores persisted before dl_sum existed carry only
    // (n_docs, avgdl). A single-generation legacy store uses its stored
    // avgdl verbatim (exact); a legacy table inside a multi-generation
    // union reconstructs dl_sum = avgdl × n_docs (the one lossy float
    // product its own build already performed, inverted)
    val stats =
      if (statsTables.size == 1 && !statsTables.head.columns.contains("dl_sum"))
        statsTables.head.select(col("n_docs"), col("avgdl"))
      else statsTables
        .map(st =>
          if (st.columns.contains("dl_sum")) st.select(col("n_docs"), col("dl_sum"))
          else st.select(col("n_docs"), (col("avgdl") * col("n_docs")).as("dl_sum")))
        .reduce(_ unionAll _)
        .agg(sum(col("n_docs")).as("n_docs"),
          (sum(col("dl_sum")) / sum(col("n_docs"))).as("avgdl"))
    val dfT = hits.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    hits
      .join(dfT, Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("tscore",
        bm25TermScore(col("tf"), col("dl"), col("df"), col("n_docs"), col("avgdl")))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("tscore")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy(col("rank"))
  }

  /** t17's ranking over the hit set with the query doc EXCLUDED BEFORE
    * ranking (a post-rank filter would leave a gap at the query doc's
    * rank and shift every doc below it) — the retrieval leg s7's rank
    * fusion consumes. Ranks come from the distributed range-partitioned
    * row-number (never a single global window).
    */
  private[operators] def bm25Ranks(t: Tables, excludeDocId: Long,
      terms: Seq[String] = Bm25QueryTerms): DataFrame =
    Ranking.globalRowNumber(
      bm25Scores(t, terms).filter(col("doc_id") =!= excludeDocId),
      Seq(col("score").desc, col("doc_id")), "r_text")
      .select(col("doc_id"), col("r_text"))
}
