package graft.ops

import graft.{OracleSql, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization
  * stats, quality scoring, n-gram language identification, and
  * winnowing document fingerprints.
  *
  * Everything is Catalyst expressions / higher-order functions over a
  * single scan — per-document work with no shuffle at all (the only
  * shuffles below are final ORDER BYs for deterministic driver checks,
  * and histograms' groupBy). At 100 TB each of these runs as one
  * whole-stage-codegen'd map over the corpus.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

  // -------------------------------------------------------------- tokens

  /** Whitespace token stats: counts, distinctness, lengths. All
    * integer arithmetic + int/int double division — bit-exact across
    * engines. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("t", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"),
        length(col("text")).cast("long").as("n_chars_text"),
        (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("ttr"))
      .orderBy(col("doc_id"))

  /** BPE-ish regex token count: word runs OR single non-space symbols —
    * the usual pre-tokenizer shape. ASCII corpus ⇒ identical \w
    * semantics across engines. */
  def regexTokenCounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("""[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]"""), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------- quality

  /** Per-document quality components + a weighted score. Component
    * ratios are int/int divisions; the score is a fixed-order linear
    * combination rounded at 4dp. */
  def qualityScores(s: SparkSession, dir: String): DataFrame =
    qualityOn(docs(s, dir))

  /** Adds the quality component columns + `quality_score` to any
    * (.., text) frame WITHOUT projecting its columns away — the
    * composable form used by [[Pipelines]] (callers drop the `t`
    * helper column themselves if they care). */
  def withQuality(df: DataFrame): DataFrame = {
    val stop = array(stopwords.map(lit): _*)
    df
      .withColumn("t", split(col("text"), " "))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("n_stop",
        size(filter(col("t"), x => array_contains(stop, x))))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("ttr",
        size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
      .withColumn("mean_token_len",
        (length(col("text")) - col("n_tokens") + 1).cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        round(col("ttr") * 0.5 + col("stop_ratio") * 0.2 +
          least(col("mean_token_len") / 10.0, lit(1.0)) * 0.3, 4))
  }

  /** Same, projected to the per-document quality report. */
  def qualityOn(df: DataFrame): DataFrame =
    withQuality(df)
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_stop").cast("long").as("n_stop"),
        round(col("stop_ratio"), 4).as("stop_ratio"),
        round(col("ttr"), 4).as("ttr"),
        round(col("mean_token_len"), 4).as("mean_token_len"),
        col("quality_score"))
      .orderBy(col("doc_id"))

  /** Corpus language histogram over the labeled column. */
  def langHistogram(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("lang"))

  /** Per-language corpus vocabulary stats: token volume, distinct
    * types, docs, and type-token ratio — the corpus-composition
    * report a mixture designer reads next to [[langHistogram]]. One
    * explode + one aggregate; the distinct-count is per language, so
    * partial aggregation bounds the shuffle at vocabulary size. */
  def langTokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"),
        countDistinct(col("doc_id")).as("n_docs"),
        round(countDistinct(col("tok")).cast("double") / count(lit(1)), 6)
          .as("ttr"))
      .orderBy(col("lang"))

  // ------------------------------------------------------------- lang-id

  /** Profiles live in [[graft.functions.LangProfiles]] (shared with
    * the native scoring kernel); re-exported here for callers. */
  def trigramProfiles: Map[String, Seq[String]] = graft.functions.LangProfiles.trigrams
  def functionWords: Map[String, Seq[String]] = graft.functions.LangProfiles.functionWords

  /** Predict language by combined trigram-profile overlap + function
    * word hits (scored in one pass by the native
    * [[graft.functions.LangScores]] kernel — the HOF formulation
    * materialized a trigram array per document and intersected it per
    * profile, ~8× slower); `score` is the (0..1) mean of both
    * fractions. Ties break lexicographically (deterministic).
    * No evidence ⇒ 'und'. */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = graft.functions.LangProfiles.langs.zipWithIndex.map {
      case (lang, i) =>
        struct(element_at(col("__ls"), i + 1).as("score"), lit(lang).as("lang"))
    }
    // argmax = last element of the sorted (score, lang) structs;
    // struct ordering is field-order, so score first, lang tie-break.
    df.withColumn("__ls", graft.functions.langFunctions.lang_scores(col(textCol)))
      .withColumn("best", element_at(sort_array(array(scored: _*)), -1))
      .withColumn("pred_lang",
        when(col("best.score") > 0, col("best.lang")).otherwise(lit("und")))
      .withColumn("lang_score", round(col("best.score"), 4))
      .drop("best", "__ls")
  }

  def langIdQuery(s: SparkSession, dir: String): DataFrame =
    langId(docs(s, dir))
      .select(col("doc_id"), col("pred_lang"), col("lang_score"))
      .orderBy(col("doc_id"))

  // -------------------------------------------------------------- tf-idf

  /** Top-3 TF-IDF terms per document: tf from one (doc, term) groupBy,
    * df from one groupBy over that, N broadcast as a literal-sized
    * one-row frame (no driver count in the plan), score
    * tf·ln(N/df). Ranking uses the 6dp-ROUNDED score (both engines
    * round identically via the shortest-repr emulation) with a term
    * tie-break, so cross-engine libm ulp differences in `ln` cannot
    * reorder ranks. Two shuffles total (doc+term, then term), both on
    * keys that scale with the corpus. */
  def tfidfTopTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(desc("tfidf"), col("term"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  // ---------------------------------------------------------- repetition

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1.2 shape):
    * the fraction of tokens taken by the single most frequent token,
    * and the fraction of word 2-grams that are repeats of an
    * already-seen 2-gram. Both are int/int double divisions — exact on
    * both engines — and `keep` applies the classic ≤ 0.2 prune
    * thresholds on the RAW ratios (deterministic: the inputs are
    * integers, so the comparison cannot straddle a rounding edge).
    *
    * One scan + one (doc, token) shuffle for the top-token count — the
    * 2-gram distinctness is a per-row HOF, deliberately NOT the
    * O(distinct×n) nested-filter formulation, so per-doc cost stays
    * linear in document length at corpus scale. */
  def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
    val tokCounts = base
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_tok"))
    val g2 = base.select(col("doc_id"),
      (size(col("t")) - 1).cast("long").as("n_2g"),
      expr("""size(array_distinct(transform(sequence(0, size(t) - 2),
        |  i -> concat_ws(' ', element_at(t, i + 1), element_at(t, i + 2)))))""".stripMargin)
        .cast("long").as("n_2g_distinct"))
    g2.join(tokCounts, "doc_id")
      .select(col("doc_id"),
        col("n_tok").as("n_tokens"),
        round(col("top_c") / col("n_tok"), 4).as("top_tok_frac"),
        round((col("n_2g") - col("n_2g_distinct")) / col("n_2g"), 4).as("dup_2gram_frac"),
        (col("top_c") / col("n_tok") <= 0.2 &&
          (col("n_2g") - col("n_2g_distinct")) / col("n_2g") <= 0.2).as("keep"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------- LM surprisal

  /** Unigram-LM cross-entropy quality scoring (the CCNet-style
    * perplexity gate, with the LM trained on the corpus itself rather
    * than an external model): per-token surprisal −log₂(c_t / total)
    * from one corpus-wide token count, per-doc mean bits-per-token, and
    * a keep gate at `threshold` bits. High surprisal = rare-token-heavy
    * (gibberish, boilerplate markers); low = repetitive filler.
    *
    * Determinism: surprisal is a libm log₂ away from exact, so each
    * (doc, token) contribution tf·s_t is rounded at 9dp and cast to
    * DECIMAL before the per-doc sum (exact, order-independent — see
    * [[graft.OracleSql.roundDec]]); the mean divides the exact decimal
    * by the token count and rounds at 4dp, and `keep` compares the
    * ROUNDED mean so it cannot straddle an ulp.
    *
    * Scale posture: one (doc, term) groupBy builds tf; the LM is a
    * groupBy over tf (vocab-sized — real tokenizer vocabs are ≤ a few
    * 100k rows, broadcastable); the scoring join is tf ⋈ lm on term and
    * one one-row total broadcast. The corpus text itself shuffles
    * never — only (doc_id, term, tf) triples. */
  def lmSurprisal(s: SparkSession, dir: String,
                  threshold: Double = 4.93): DataFrame =
    lmSurprisalOn(docs(s, dir), threshold)

  /** Generic variant over any (doc_id, text) frame. */
  def lmSurprisalOn(df: DataFrame, threshold: Double = 4.93): DataFrame = {
    val base = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 1)
    val tf = base
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val lm = tf.groupBy(col("tok")).agg(sum(col("tf")).as("c"))
    val tot = lm.agg(sum(col("c")).as("tot"))
    val surprisal = -log2(col("c").cast("double") / col("tot").cast("double"))
    val perDoc = tf.join(lm, "tok")
      .crossJoin(broadcast(tot))
      .withColumn("cb", round(col("tf") * surprisal, 9).cast("decimal(20,9)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cb")).as("bits"), sum(col("tf")).as("n_tokens"))
    perDoc
      .withColumn("xent_bits",
        round(col("bits").cast("double") / col("n_tokens"), 4))
      .select(col("doc_id"), col("n_tokens"), col("xent_bits"),
        (col("xent_bits") <= threshold).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Perplexity bucketing (the CCNet/RedPajama split): rank every
    * document by its unigram-LM cross-entropy ([[lmSurprisalOn]]) and
    * cut the corpus into `head` / `middle` / `tail` terciles — head =
    * most-predictable third, the slice CCNet keeps outright, tail =
    * the slice that gets re-filtered or dropped. Cut points are the
    * exact interpolated 1/3 and 2/3 quantiles of the 4dp score
    * (rounded at 4dp first, the cross-engine-proven percentile form)
    * broadcast back over the score frame.
    *
    * Scale posture: the LM pass is the [[lmSurprisal]] plan (tf
    * shuffle bounded by vocabulary); the bucketing adds one
    * percentile aggregate over the doc-count-sized score frame and a
    * broadcast join — no new corpus-sized shuffle. */
  def perplexityBuckets(s: SparkSession, dir: String): DataFrame =
    perplexityBucketsOn(docs(s, dir))

  /** Generic variant over any (doc_id, text) frame. */
  def perplexityBucketsOn(df: DataFrame): DataFrame = {
    val sc = lmSurprisalOn(df)
      .select(col("doc_id"), col("n_tokens"), col("xent_bits"))
    val cuts = sc.agg(
      round(expr(s"percentile(xent_bits, CAST(${1.0 / 3} AS DOUBLE))"), 4).as("c1"),
      round(expr(s"percentile(xent_bits, CAST(${2.0 / 3} AS DOUBLE))"), 4).as("c2"))
    sc.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("xent_bits") <= col("c1"), lit("head"))
          .when(col("xent_bits") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("n_tokens"), col("xent_bits"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source quality-score calibration: within each source, the
    * percent-rank of [[qualityScores]]' linear score — the rank-based
    * normalization that makes classifier scores comparable ACROSS
    * sources before a corpus-wide keep threshold (a raw cut keeps
    * whole high-scoring domains and drops whole low-scoring ones;
    * the per-source rank keeps the best X% of EACH). percent_rank =
    * (rank − 1)/(n − 1) is exact-integer-derived, so it is
    * hash-checkable without any float staging.
    *
    * Scale posture: one source-keyed window (sources are natural
    * partitions; a heavily skewed source would pre-aggregate to
    * score-count pairs first — the distribution, not the docs, is
    * what ranks). */
  def qualityCalibrated(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality_score"))
    withQuality(docs(s, dir))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .withColumn("quality_pct", round(percent_rank().over(w), 6))
      .orderBy(col("doc_id"))
  }

  /** Bigram conditional cross-entropy — the next step up from
    * [[lmSurprisal]]'s unigram model: per-bigram surprisal
    * −log₂(c(prev,tok)/c(prev)) from corpus-wide bigram counts,
    * per-doc mean bits per bigram, keep gate at `threshold`. Low
    * conditional entropy = locally predictable text (templated,
    * repetitive); high = token transitions the corpus has rarely
    * seen. Same determinism recipe as the unigram flavor (9dp DECIMAL
    * contributions, exact sum, gate on the rounded mean).
    *
    * Scale posture: bigrams are generated per-row in the scan stage
    * (nested HOF — no self-join), the (doc, prev, tok) groupBy is the
    * one corpus-sized shuffle, and the count tables key on (prev,tok)
    * / prev — vocab²-sized, exactly like a real n-gram LM's model
    * relation. */
  def lmBigramSurprisal(s: SparkSession, dir: String,
                        threshold: Double = 4.94): DataFrame =
    lmBigramSurprisalOn(docs(s, dir), threshold)

  /** Generic variant over any (doc_id, text) frame. */
  def lmBigramSurprisalOn(df: DataFrame, threshold: Double = 4.94): DataFrame = {
    val base = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val tf = base
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> named_struct('prev', element_at(t, i), 'tok', element_at(t, i + 1)))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.tok").as("tok"))
      .groupBy(col("doc_id"), col("prev"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val c2 = tf.groupBy(col("prev"), col("tok")).agg(sum(col("tf")).as("c2"))
    val c1 = c2.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
    val surprisal = -log2(col("c2").cast("double") / col("c1").cast("double"))
    tf.join(c2, Seq("prev", "tok")).join(c1, Seq("prev"))
      .withColumn("cb", round(col("tf") * surprisal, 9).cast("decimal(20,9)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cb")).as("bits"), sum(col("tf")).as("n_bigrams"))
      .withColumn("xent2_bits",
        round(col("bits").cast("double") / col("n_bigrams"), 4))
      .select(col("doc_id"), col("n_bigrams"), col("xent2_bits"),
        (col("xent2_bits") <= threshold).as("keep"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------------------- PMI

  /** Top token-pair associations by pointwise mutual information over
    * document co-occurrence: PMI(a,b) = ln(N·df_ab / (df_a·df_b)) with
    * document frequencies of the single tokens and the pair. The
    * collocation-mining primitive (phrase induction, tokenizer merge
    * candidates). `minCoDf` drops pairs with too little evidence —
    * sparse pairs otherwise dominate the PMI ranking on noise.
    *
    * Scale posture: per-doc pairs are generated IN THE SCAN STAGE by
    * [[PairGen.pairs]] over the sorted distinct token array — no
    * self-join of the exploded token table, so nothing doc-sized ever
    * shuffles twice; what shuffles is the (tok_a, tok_b) pair stream
    * into one map-side-combining groupBy. The lists are a projection
    * of the scan, so the hub split stays off: its second read would
    * scan the corpus twice. Pair volume is Σ C(v_d, 2) over per-doc
    * distinct counts v_d — bounded by windowed co-occurrence in real
    * corpora (and by the tiny vocab here). The
    * final ranking is a TakeOrderedAndProject over the vocab² pair
    * table, never a global sort. */
  def pmiPairs(s: SparkSession, dir: String,
               minCoDf: Int = 50, top: Int = 50): DataFrame =
    pmiPairsOn(docs(s, dir), minCoDf, top)

  /** Generic variant over any (doc_id, text) frame. */
  def pmiPairsOn(df: DataFrame, minCoDf: Int = 50, top: Int = 50): DataFrame = {
    val base = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 1)
    val dt = base.select(col("doc_id"),
      explode(array_distinct(col("t"))).as("tok"))
    val dfreq = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = base.agg(count(lit(1)).as("n"))
    val lists = base
      .filter(size(col("t")) >= 2)
      .select(array_sort(array_distinct(col("t"))).as("sd"))
      .filter(size(col("sd")) >= 2)
    val pairs = PairGen.pairs(lists, col("sd"), splitHubs = false)
      .select(col("x").as("tok_a"), col("y").as("tok_b"))
    val co = pairs.groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("co_df"))
      .filter(col("co_df") >= minCoDf)
    co.join(dfreq.select(col("tok").as("tok_a"), col("df").as("df_a")), "tok_a")
      .join(dfreq.select(col("tok").as("tok_b"), col("df").as("df_b")), "tok_b")
      .crossJoin(broadcast(n))
      .withColumn("pmi", round(log(
        col("co_df").cast("double") * col("n").cast("double") /
          (col("df_a").cast("double") * col("df_b").cast("double"))), 6))
      .select(col("tok_a"), col("tok_b"), col("co_df"), col("pmi"))
      .orderBy(desc("pmi"), col("tok_a"), col("tok_b"))
      .limit(top)
  }

  // --------------------------------------------------------- fingerprint

  /** Winnowing fingerprints (MOSS-style): per-token polynomial hash +
    * k-gram rolling combination of 5 consecutive token hashes (one
    * native [[graft.functions.WinnowTokenFingerprints]] pass — no
    * intermediate hash array), then the distinct minima of every
    * sliding window of 4. Robust to local edits; two documents sharing
    * any retained window agree on that fingerprint. The hash family is
    * Mersenne-61 modular arithmetic, reproduced exactly by the DuckDB
    * oracles (see the kernel's scaladoc), so both fingerprint queries
    * are fully oracle-checked. */
  private def withFps(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.textFunctions.winnow_fingerprints(
          split(col("text"), " "), 5, 4).as("fps"))
      .filter(size(col("fps")) > 0)

  def fingerprints(s: SparkSession, dir: String): DataFrame =
    withFps(s, dir)
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fingerprints"),
        array_min(col("fps")).as("fp_min"), array_max(col("fps")).as("fp_max"))
      .orderBy(col("doc_id"))

  /** Documents sharing at least `minShared` winnowing fingerprints —
    * the fingerprint flavor of near-dup detection (inverted-index join,
    * same scale posture as Dedup.jaccardPairs). `maxDf` drops
    * fingerprints shared by more than that many documents before the
    * self-join: a boilerplate fingerprint (repeated license header,
    * templated page) otherwise makes the posting list quadratic — the
    * join cost is Σ df², so one fingerprint with df = 10⁶ alone is
    * 10¹² candidate rows. Same guard as Dedup.jaccardPairs'
    * `maxBucket`; the oracle CTE mirrors the cap so the driver row
    * checks the guarded semantics. */
  def fingerprintPairs(s: SparkSession, dir: String, minShared: Int = 2,
                       maxDf: Int = 1000): DataFrame =
    fingerprintPairsFromPostings(
      withFps(s, dir).select(col("doc_id"), explode(col("fps")).as("fp")),
      minShared, maxDf)

  /** The guarded pair join over an exploded (doc_id, fp) posting frame
    * (factored out so specs can drive it with a planted-boilerplate
    * corpus and a small cap). */
  private[ops] def fingerprintPairsFromPostings(fp: DataFrame, minShared: Int,
                                                maxDf: Int): DataFrame = {
    val hot = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("fp"))
    // persist: the self-join below re-derives the fingerprint lineage
    // for both sides otherwise (the winnow kernel is the dominant cost)
    val bounded = fp.join(broadcast(hot), Seq("fp"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bounded.as("a").join(bounded.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The inner statistic of one BPE-training iteration: corpus-wide
    * adjacent-token-pair frequencies, top-32 by count (ties broken
    * lexically so the "vocabulary" is deterministic). A full trainer
    * loops: compute this, pick the winner, map the merge over the
    * corpus, recompute — the merge apply is a narrow map; THIS
    * aggregate is the shuffle that dominates at 100 TB, and it keys on
    * the (a,b) pair domain (bounded by vocab², heavily skew-safe
    * because partial aggregation collapses each partition's counts
    * before the exchange). The pair stream is generated inline from
    * the token array (one transform + explode — no self-join). */
  def bpeMergePairs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(col("text").isNotNull)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS a, t[i + 1] AS b))")).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(32)

  /** Iterative BPE merge LEARNING (Sennrich et al. 2016) — the actual
    * training loop, where [[bpeMergePairs]] is only its first
    * statistic: `steps` rounds of (count adjacent symbol pairs across
    * the frequency-weighted word vocabulary) → (pick the most frequent
    * pair, ties broken lexicographically) → (merge every left-greedy
    * occurrence into one symbol) → repeat on the merged vocabulary.
    * Returns the learned merge table: (step, left_sym, right_sym,
    * pair_count) — the artifact a tokenizer ships.
    *
    * Scale posture — the reason distributed BPE trainers exist: the
    * corpus is scanned ONCE (word-frequency groupBy); every iterative
    * round then runs on the VOCABULARY frame (types × freq, orders of
    * magnitude smaller than the corpus), so 100 TB of text costs one
    * shuffle plus `steps` vocab-sized aggregates. The per-round argmax
    * is a 1-row bounded collect (the merge pair must become a literal
    * in the next round's plan — the pageRank-style fixed-iteration
    * driver loop).
    *
    * Merge application is the left-greedy scan of the reference BPE
    * implementations, expressed as an order-preserving array fold
    * (merge when the accumulator's last symbol is `left` and the
    * current is `right` — for distinct pairs every occurrence merges;
    * for a self-pair like (a,a) on "aaaa" it takes positions 1,3 —
    * spec-pinned). The oracle applies the SAME rule positionally
    * (occurrence runs via gaps-and-islands, odd positions within each
    * run), a deliberately independent formulation. */
  def bpeLearnMerges(s: SparkSession, dir: String, steps: Int = 6): DataFrame =
    bpeLearnMergesOn(docs(s, dir), steps)

  /** Generic variant over any (doc_id, text) frame. */
  def bpeLearnMergesOn(df: DataFrame, steps: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val (vocab, merges) = bpeTrainOn(df, steps)
    vocab.unpersist(blocking = false)
    merges.toDF("step", "left_sym", "right_sym", "pair_count")
      .orderBy(col("step"))
  }

  /** BATCHED BPE merge learning — the trainer shape that reaches
    * realistic merge counts: one-merge-per-round BPE pays a driver
    * round-trip per merge, so hundreds of merges make round latency
    * the bottleneck regardless of corpus size. The standard batched
    * optimization amortizes it: each round ranks the top-`batch`
    * pairs by weighted count (ties lexicographic), keeps a pair iff
    * its symbols are DISJOINT from every higher-ranked candidate's
    * (kept or dropped — a rank-window rule both engines can state
    * without sequential recursion), and applies the kept merges in
    * rank order. Disjointness makes the batch sound: merging (a₁,b₁)
    * can neither create nor destroy an occurrence of a
    * symbol-disjoint (a₂,b₂), so every kept pair's recorded count is
    * exactly what sequential BPE would have seen at its turn, and
    * the batch application order cannot change the result. (The
    * merge TABLE can still differ from one-at-a-time BPE — a dropped
    * conflicting pair might have outranked later rounds' picks;
    * that's the documented trade every batched trainer makes.)
    *
    * Scale posture unchanged from [[bpeLearnMergesOn]]: the corpus
    * pays ONE word-count shuffle; rounds run on the type vocabulary;
    * the per-round collect is ≤ `batch` rows. `rounds` rounds now
    * yield up to rounds·batch merges for the same number of
    * materializations — 48 merges at steps-6 latency. */
  def bpeLearnMergesBatched(s: SparkSession, dir: String, rounds: Int = 9,
                            batch: Int = 16): DataFrame =
    bpeLearnMergesBatchedOn(docs(s, dir), rounds, batch)

  /** Generic variant over any (doc_id, text) frame. */
  def bpeLearnMergesBatchedOn(df: DataFrame, rounds: Int, batch: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val (vocab, merges) = bpeTrainBatchedOn(df, rounds, batch)
    vocab.unpersist(blocking = false)
    merges.toDF("step", "left_sym", "right_sym", "pair_count")
      .orderBy(col("step"))
  }

  /** Corpus-wide most-repeated word n-grams — the memorization-risk
    * audit (sequences repeated across a training corpus are the ones
    * a model disproportionately memorizes, the motivation behind
    * dedup-before-training): every word 5-gram occurrence, counted,
    * top-`topK` surfaced WITH their text and distinct-document
    * spread. The within-doc repeat vs cross-doc repeat distinction
    * matters (boilerplate vs template), hence both `n_occurrences`
    * and `n_docs`.
    *
    * Scale posture: gram STRINGS never shuffle for the count — the
    * M61+fmix hash is computed in the scan stage and the count
    * aggregates 8-byte keys (map-side combined); the top-K is a
    * TakeOrdered, never a global sort; only then do the ≤ topK
    * winning hashes broadcast back into a second scan that carries
    * strings just for the winners' resolve aggregate. Ties at the
    * cut are broken (count DESC, hash) — deterministic on both
    * engines; a hash collision would merge two grams identically on
    * both sides (the oracle joins on the same hashes). */
  def corpusTopNgrams(s: SparkSession, dir: String, n: Int = 5,
                      topK: Int = 32): DataFrame =
    corpusTopNgramsOn(docs(s, dir), n, topK)

  /** Generic variant over any (doc_id, text) frame. */
  def corpusTopNgramsOn(df: DataFrame, n: Int = 5, topK: Int = 32): DataFrame = {
    // NON-distinct gram enumeration (built-in transform, not
    // word_ngrams — that kernel deduplicates per doc, the set
    // semantics Jaccard wants; an occurrence audit must count every
    // position)
    def grams = df.filter(col("text").isNotNull)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), expr(
        s"transform(sequence(0, size(t) - $n), i -> array_join(slice(t, i + 1, $n), ' '))")
        .as("gs"))
      .select(col("doc_id"), col("gs"),
        graft.functions.textFunctions.m61_token_hashes(col("gs")).as("hs"))
      .select(col("doc_id"), explode(arrays_zip(col("gs"), col("hs"))).as("z"))
      .select(col("doc_id"), col("z.gs").as("gram"), col("z.hs").as("h"))
    val top = grams.select(col("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("h"))
      .limit(topK)
      .select(col("h"))
    // second scan: strings survive only past the broadcast winner set
    grams.join(broadcast(top), Seq("h"))
      .groupBy(col("h"))
      .agg(min(col("gram")).as("gram"), count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(col("gram"), col("n_occurrences"), col("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram"))
  }

  /** [[corpusTopNgramsOn]]'s oracle: the same n-gram text, the same
    * M61+fmix64 hash chain, hash-keyed count, (count DESC, h) top-K
    * cut, then the winners-only resolve. */
  private def topNgramsSql(n: Int, topK: Int): String =
    s"""WITH tokn AS (SELECT doc_id, t FROM
       |  (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL)
       |  WHERE len(t) >= $n),
       |gr AS (SELECT doc_id, array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS s
       |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${n - 2})) AS i FROM tokn)),
       |${graft.OracleSql.m61FmixScalarCtes("gr", "s", out = "h", p = "gh")},
       |cnt AS (SELECT h, count(*) AS n FROM gh GROUP BY h),
       |topk AS (SELECT h FROM cnt ORDER BY n DESC, h LIMIT $topK),
       |res AS (SELECT g.h, min(g.s) AS gram, count(*) AS n_occurrences,
       |               count(DISTINCT g.doc_id) AS n_docs
       |        FROM gh g SEMI JOIN topk t ON g.h = t.h GROUP BY g.h)
       |SELECT gram, n_occurrences, n_docs FROM res
       |ORDER BY n_occurrences DESC, gram""".stripMargin

  /** Per-document KL divergence from the corpus unigram distribution
    * over a top-`vocabSize` + OOV class space — the topic/domain-drift
    * score curation uses beside [[lmSurprisal]]'s cross-entropy:
    * cross-entropy conflates "unusual words" with "high-entropy doc",
    * while KL = CE − H(doc) isolates how far the document's own
    * distribution sits from the corpus profile (0 = perfectly
    * corpus-typical mixture, regardless of its entropy). Classing to
    * a bounded vocabulary + one OOV bucket keeps the class space (and
    * the broadcast model relation) fixed-size at any corpus scale —
    * the same boundedness move as [[Curation.vocabOovRate]].
    *
    * Determinism: the established LM recipe — per-(doc, class)
    * contributions p_d·log₂(p_d/p_c) rounded to 9dp DECIMAL before
    * the exact order-independent sum, surfaced 4dp-rounded; both
    * probability ratios are written with the identical IEEE operation
    * order in the oracle. Plan: one corpus-sized (doc, class) groupBy;
    * the vocabulary (TakeOrdered top-V), class counts and total all
    * broadcast back. */
  def klDivergence(s: SparkSession, dir: String, vocabSize: Int = 25): DataFrame =
    klDivergenceOn(docs(s, dir), vocabSize)

  /** Generic variant over any (doc_id, text) frame. */
  def klDivergenceOn(df: DataFrame, vocabSize: Int = 25): DataFrame = {
    val tokc = df.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 1)
    val vocab = tokc.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("iv"))
    val docCls = tokc.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("cls", when(col("iv").isNotNull, col("tok")).otherwise(lit("<oov>")))
      .groupBy(col("doc_id"), col("cls")).agg(count(lit(1)).as("tf"))
      // doc totals, corpus class counts and the final contribution sum
      // all read this frame; persist so the token classing runs once
      // (cache lifetime: Dedup.boundedSharedCounts' contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docTot = docCls.groupBy(col("doc_id")).agg(sum(col("tf")).as("nd"))
    val corpCls = docCls.groupBy(col("cls")).agg(sum(col("tf")).as("cf"))
    val corpTot = corpCls.agg(sum(col("cf")).as("tot"))
    val pd = col("tf").cast("double") / col("nd").cast("double")
    val pc = col("cf").cast("double") / col("tot").cast("double")
    docCls
      .join(docTot, Seq("doc_id"))
      .join(broadcast(corpCls), Seq("cls"))
      .crossJoin(broadcast(corpTot))
      .withColumn("cb", round(pd * log2(pd / pc), 9).cast("decimal(20,9)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cb")).as("klsum"), max(col("nd")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("klsum").cast("double"), 4).as("kl_bits"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its hashed-unigram bag is under
    * a TARGET distribution than under the RAW corpus —
    * log w(d) = Σ_f tf(d, f) · ln(p_target(f) / p_raw(f)) — the
    * signal DSIR resamples on to pull a raw crawl toward a trusted
    * corpus. Features are unigrams hashed into 256 buckets (md5 hex
    * prefix — the repo's cross-engine-stable hash, and hashing IS the
    * method: DSIR deliberately collides the open vocabulary into a
    * fixed feature space so both n-gram models stay bounded). Target
    * here = the `targetLang` subset of the same corpus (select
    * documents that "look English-distributed"); add-λ smoothing
    * (λ = 0.5 over V = 256) keeps buckets unseen in the target
    * finite.
    *
    * Scale posture: both models are BOUNDED tables (≤256 rows) — the
    * corpus pays one tokenize+count pass for the two distributions
    * and one tokenize+join pass for scoring, with the log-ratio
    * table broadcast; no shuffle wider than the 256-bucket
    * aggregation, no per-document state. The tokenized frame is
    * persisted across the two passes (cache lifetime:
    * Dedup.boundedSharedCounts' contract).
    *
    * Determinism: the per-bucket log-ratio is rounded once to 9dp
    * DECIMAL; per-doc contributions multiply it by the exact integer
    * tf and sum exactly (the klDivergence recipe), so the 4dp score
    * is order- and engine-independent. */
  def dsirWeights(s: SparkSession, dir: String,
                  targetLang: String = "en"): DataFrame =
    dsirWeightsOn(docs(s, dir), targetLang)

  /** Generic variant over any (doc_id, lang, text) frame. */
  def dsirWeightsOn(df: DataFrame, targetLang: String): DataFrame = {
    val tok = df.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .withColumn("f", substring(md5(col("tok")), 1, 2))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = tok.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("lang") === targetLang)
      .groupBy(col("f")).agg(count(lit(1)).as("ct"))
    val nt = tgt.agg(coalesce(sum(col("ct")), lit(0L)).cast("double").as("tot_t"))
    val nr = raw.agg(sum(col("cr")).cast("double").as("tot_r"))
    // raw is a superset of target (target ⊆ corpus), so a left join
    // covers every bucket any document can hash into
    val pt = (coalesce(col("ct"), lit(0L)).cast("double") + lit(0.5)) /
      (col("tot_t") + lit(128.0))
    val pr = (col("cr").cast("double") + lit(0.5)) / (col("tot_r") + lit(128.0))
    // broadcast the <=256-row target-side model so the build join can
    // never fall back to SMJ (BuildRight is legal for LeftOuter)
    val logRatio = raw.join(broadcast(tgt), Seq("f"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("f"), round(log(pt / pr), 9).cast("decimal(20,9)").as("lr"))
    tok.groupBy(col("doc_id"), col("lang"), col("f"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(logRatio), Seq("f"))
      .groupBy(col("doc_id"), col("lang"))
      // tf narrowed to DECIMAL(10,0) so tf·lr stays DECIMAL(31,9):
      // a raw BIGINT operand would push the product past precision
      // 38 and Spark's precision-loss rule silently truncates the
      // scale to 6 — rounding every contribution before the sum
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast("decimal(10,0)") * col("lr")).as("w"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("w").cast("double"), 4).as("dsir_logw"))
      .orderBy(col("doc_id"))
  }

  /** Corpus tokenization THROUGH the learned BPE merges — the apply
    * side of [[bpeLearnMergesOn]], reporting per document how far the
    * learned vocabulary compresses it: word count, character count,
    * BPE token count after `steps` merges, and chars-per-token (the
    * compression ratio tokenizer work optimizes). The merges are
    * applied to the WORD-TYPE vocabulary (each distinct word tokenized
    * once), and documents join their words' token counts back — the
    * same types-not-tokens economics as the trainer: 100 TB of text
    * pays one word-count shuffle and one broadcast-scale join, never a
    * per-occurrence re-tokenization.
    *
    * Plan: the training loop runs inline (same fixed-steps driver
    * loop), the final vocabulary's per-word token counts broadcast
    * back to an exploded (doc, word) frame, one per-doc aggregate. */
  def bpeTokenizeStats(s: SparkSession, dir: String, steps: Int = 6): DataFrame =
    bpeTokenizeStatsOn(docs(s, dir), steps)

  /** Generic variant over any (doc_id, text) frame. */
  def bpeTokenizeStatsOn(df: DataFrame, steps: Int): DataFrame = {
    val base = df.filter(col("text").isNotNull)
    val (finalVocab, _) = bpeTrainOn(base, steps)
    val vocab = finalVocab
      .select(col("w"), size(col("sy")).cast("long").as("n_word_tokens"))
    val out = base
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(vocab), Seq("w"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_word_tokens")).as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        round(col("n_chars") / col("n_bpe_tokens"), 4))
      .select(col("doc_id"), col("n_chars"), col("n_words"),
        col("n_bpe_tokens"), col("chars_per_token"))
      .orderBy(col("doc_id"))
    // the broadcast side is materialized into the plan's hash relation
    // lazily; keep the vocab cache alive for the caller's action and
    // rely on the serial driver's clearCache between queries (the
    // standing boundedSharedCounts contract)
    out
  }

  /** Per-document BPE token counts through the learned vocabulary —
    * the composable core of [[bpeTokenizeStatsOn]] (same
    * types-not-tokens economics: each distinct word tokenized once,
    * documents join their words' counts back through a broadcast).
    * Returns (doc_id, n_tokens) for downstream consumers that pack or
    * budget by TOKENIZER lengths rather than whitespace counts
    * ([[Pipelines.packBinsNextFitBpe]]). Docs with no countable word
    * (null/empty text) are absent. */
  private[ops] def bpeDocTokenCounts(df: DataFrame, steps: Int): DataFrame = {
    val base = df.filter(col("text").isNotNull)
    val (finalVocab, _) = bpeTrainOn(base, steps)
    val vocab = finalVocab
      .select(col("w"), size(col("sy")).cast("long").as("n_word_tokens"))
    base
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(vocab), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_word_tokens")).as("n_tokens"))
  }

  /** Oracle CTE bodies (no WITH) ending in `bpecnt(doc_id, n_tokens)`:
    * the per-doc BPE token counts through [[bpeRoundsCtes]]' final
    * vocabulary — the SQL mirror of [[bpeDocTokenCounts]], exposed so
    * composed rows (the BPE packing oracle) chain it. */
  private[ops] def bpeDocTokenCountsCtes(steps: Int): String =
    s"""${bpeRoundsCtes(steps)},
       |bpetok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |           FROM documents WHERE text IS NOT NULL),
       |bpetw AS (SELECT doc_id, w FROM bpetok WHERE len(w) >= 1),
       |bpevc AS (SELECT w, CAST(len(sy) AS BIGINT) AS n_word_tokens FROM s$steps),
       |bpecnt AS (SELECT doc_id, CAST(sum(n_word_tokens) AS BIGINT) AS n_tokens
       |           FROM bpetw JOIN bpevc USING (w) GROUP BY doc_id)""".stripMargin

  /** Tokenizer FERTILITY by language — the multilingual-fairness
    * metric (tokens emitted per word): a tokenizer trained on a
    * mixed corpus systematically over-segments the languages it saw
    * least, inflating their effective sequence lengths and training
    * cost per byte. Runs the corpus through the learned BPE
    * vocabulary ([[bpeTokenizeStatsOn]]'s types-not-tokens
    * economics — each distinct word tokenized once, documents join
    * their words' counts back) and aggregates per `lang`: docs,
    * words, BPE tokens, fertility (tokens/word) and chars/token. */
  def bpeFertilityByLang(s: SparkSession, dir: String, steps: Int = 6): DataFrame =
    bpeFertilityByLangOn(docs(s, dir), steps)

  /** Generic variant over any (doc_id, lang, text) frame. */
  def bpeFertilityByLangOn(df: DataFrame, steps: Int): DataFrame = {
    val base = df.filter(col("text").isNotNull)
    val (finalVocab, _) = bpeTrainOn(base, steps)
    val vocab = finalVocab
      .select(col("w"), size(col("sy")).cast("long").as("n_word_tokens"))
    val tok = base
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(vocab), Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_word_tokens")).as("n_bpe_tokens"))
    val chars = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"))
    chars.join(tok, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 4)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4)
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** Left-greedy application of ONE merge (ma, mb) to a `sy`
    * array<string> column — the order-preserving fold (merge when the
    * accumulator's last symbol is ma and the current is mb). Exposed
    * to the property spec, which cross-checks it against the oracle's
    * independent positional (gaps-and-islands) formulation on random
    * sequences. */
  private[ops] def bpeApplyMerge(ma: String, mb: String): org.apache.spark.sql.Column =
    aggregate(col("sy"),
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(ma) && x === lit(mb),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(ma + mb))))
          .otherwise(concat(acc, array(x))))

  /** The trainer's driver loop, shared by the merge-table and
    * tokenize-stats surfaces: `steps` rounds of weighted-pair argmax +
    * left-greedy merge over the word-type vocabulary. Returns the
    * final PERSISTED vocabulary (w, freq, sy) — caller owns its
    * unpersist — and the merge table rows. */
  /** Driver-budget gate for the local BPE rounds: the collected
    * vocabulary holds (word, freq, symbol array) — ~400 B/type peak
    * transient — so budget a quarter of the driver heap at that rate,
    * capped at 2²¹ types. */
  private def maxLocalTypes: Long =
    math.min(1L << 21, Runtime.getRuntime.maxMemory() / 4 / 400)

  /** The initial frequency-weighted symbolized vocabulary — ONE corpus
    * scan (the word-count shuffle), shared by both trainers. */
  private def bpeVocab0(df: DataFrame): DataFrame =
    df.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), split(col("w"), "").as("sy"))

  /** The collected vocabulary the local rounds fold over. `sy` comes
    * from SPARK's own `split(w, '')` (collected, never re-derived
    * locally), so the local loop cannot diverge on split semantics. */
  private type LocalVocab = Array[(String, Long, Array[String])]

  /** Collect the persisted vocabulary for the local rounds (only
    * called under the type gate). */
  private def collectVocab(vocab: DataFrame): LocalVocab = {
    val s = vocab.sparkSession
    import s.implicits._
    vocab.as[(String, Long, Array[String])].collect()
  }

  /** UTF-8 byte comparison — Spark's UTF8String (and DuckDB's string)
    * ordering, which Java's UTF-16 `compareTo` diverges from on
    * supplementary characters; the local argmax must tie-break in the
    * engines' order. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** Weighted adjacent-pair counts over the local vocabulary, ranked
    * (n DESC, a, b) in UTF-8 order — the scalar twin of the trainers'
    * per-round candidate aggregate. */
  private def localPairCounts(v: LocalVocab): Seq[(String, String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    for ((_, freq, sy) <- v if sy.length >= 2) {
      var i = 0
      while (i < sy.length - 1) {
        val k = (sy(i), sy(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + freq
        i += 1
      }
    }
    counts.toSeq.map { case ((a, b), n) => (a, b, n) }
      .sortWith { case ((a1, b1, n1), (a2, b2, n2)) =>
        if (n1 != n2) n1 > n2
        else if (a1 != a2) utf8Lt(a1, a2)
        else utf8Lt(b1, b2)
      }
  }

  /** [[bpeApplyMerge]]'s left-greedy fold, scalar: merge when the
    * accumulator's last symbol is `a` and the current is `b` (a
    * self-pair on a run takes alternate positions, exactly like the
    * Column fold — spec-pinned there, shared semantics here). */
  private def localApplyMerge(sy: Array[String], a: String, b: String): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    for (s <- sy) {
      if (buf.nonEmpty && buf.last == a && s == b) buf(buf.length - 1) = a + b
      else buf += s
    }
    buf.toArray
  }

  /** Rebuild the final vocabulary as a frame (LocalRelation — the
    * downstream stats aggregate over it exactly as they would over
    * the distributed loop's cache). */
  private def localVocabFrame(s: SparkSession, v: LocalVocab): DataFrame = {
    import s.implicits._
    v.toSeq.toDF("w", "freq", "sy")
  }

  private[ops] def bpeTrainOn(df: DataFrame, steps: Int,
                              localGate: Long = maxLocalTypes)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    val s = df.sparkSession
    val vocab0 = bpeVocab0(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTypes = vocab0.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // SIZE-GATED LOCAL ROUNDS (the clustersFromEdges precedent): after
    // the one corpus scan above, BPE training is a pure function of
    // the (word, freq) TYPE vocabulary — orders of magnitude smaller
    // than the corpus, and the reason real BPE trainers are
    // single-machine programs. Under the gate the rounds fold locally
    // over Spark's own collected symbol arrays (exact integer counts,
    // UTF-8-order tie-breaks — bit-identical to the distributed
    // rounds, spec-pinned); past it the distributed loop below runs
    // unchanged, one vocab-sized aggregate + merge application per
    // round (the 100 TB posture either way: the corpus paid ONE
    // word-count shuffle).
    if (nTypes <= localGate) {
      var v = collectVocab(vocab0)
      vocab0.unpersist(blocking = false)
      var exhausted = false
      for (r <- 1 to steps if !exhausted) {
        val top = localPairCounts(v).headOption
        if (top.isEmpty) exhausted = true
        else {
          val (ma, mb, cnt) = top.get
          merges += ((r, ma, mb, cnt))
          v = v.map { case (w, f, sy) => (w, f, localApplyMerge(sy, ma, mb)) }
        }
      }
      return (localVocabFrame(s, v), merges.toSeq)
    }
    var prev = vocab0
    var exhausted = false
    for (r <- 1 to steps if !exhausted) {
      val top = prev
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(sy) - 2), i -> struct(sy[i] AS a, sy[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      // no pairs left (empty corpus, or every word fully merged):
      // stop with the merges found so far. The merge-table oracle
      // agrees on any input (its m$r CTEs go empty in lockstep); the
      // tokenize oracle agrees when the corpus supports all `steps`
      // merges (always true for the testdata) or is entirely empty.
      if (top.isEmpty) exhausted = true
      else {
        val (ma, mb, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, ma, mb, cnt))
        val step = prev.select(col("w"), col("freq"), bpeApplyMerge(ma, mb).as("sy"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        step.count()
        prev.unpersist(blocking = false)
        prev = step
      }
    }
    (prev, merges.toSeq)
  }

  /** The batched trainer's driver loop: `rounds` rounds of (rank the
    * top-`batch` weighted pairs) → (keep the rank-window-disjoint
    * subset) → (apply kept merges in rank order, ONE materialization
    * per round). Shares [[bpeApplyMerge]] — kept merges chain as
    * nested folds, exactly the order the oracle's per-merge CTE
    * chains replay. Returns the final persisted vocabulary (caller
    * owns its unpersist) and the merge table with global step
    * numbers. */
  private[ops] def bpeTrainBatchedOn(df: DataFrame, rounds: Int, batch: Int,
                                     localGate: Long = maxLocalTypes)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    val s = df.sparkSession
    val vocab0 = bpeVocab0(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTypes = vocab0.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // size-gated local rounds — see bpeTrainOn; the rank-window
    // disjoint selection and the kept-order chained applications are
    // the same scalar rules the oracle states
    if (nTypes <= localGate) {
      var v = collectVocab(vocab0)
      vocab0.unpersist(blocking = false)
      var exhausted = false
      for (_ <- 1 to rounds if !exhausted) {
        val cand = localPairCounts(v).take(batch)
        if (cand.isEmpty) exhausted = true
        else {
          val seen = scala.collection.mutable.Set.empty[String]
          val kept = cand.flatMap { case (a, b, n) =>
            val ok = !seen.contains(a) && !seen.contains(b)
            seen += a; seen += b
            if (ok) Some((a, b, n)) else None
          }
          kept.foreach { case (a, b, _) =>
            v = v.map { case (w, f, sy) => (w, f, localApplyMerge(sy, a, b)) }
          }
          kept.foreach { case (a, b, n) => merges += ((merges.size + 1, a, b, n)) }
        }
      }
      return (localVocabFrame(s, v), merges.toSeq)
    }
    var prev = vocab0
    // Deferred materialization: each round's merged vocabulary is
    // persisted but NOT counted — the next round's candidate
    // aggregate populates the cache as its scan runs, saving one job
    // per round. The predecessor frame stays cached until that scan
    // has happened (unpersisting earlier would force the new cache to
    // rebuild its whole fold lineage from the parquet source).
    var pending: Option[DataFrame] = None
    var exhausted = false
    for (_ <- 1 to rounds if !exhausted) {
      // bounded collect: the batch candidates must become literals in
      // the apply plan (the fixed-iteration driver-loop pattern)
      val cand = prev
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(sy) - 2), i -> struct(sy[i] AS a, sy[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(batch).collect()
      pending.foreach(_.unpersist(blocking = false))
      pending = None
      if (cand.isEmpty) exhausted = true
      else {
        // rank-window selection: a candidate survives iff its symbols
        // are untouched by EVERY higher-ranked candidate (kept or
        // dropped) — the rule the oracle states as one NOT EXISTS
        val seen = scala.collection.mutable.Set.empty[String]
        val kept = cand.flatMap { row =>
          val (a, b, n) = (row.getString(0), row.getString(1), row.getLong(2))
          val ok = !seen.contains(a) && !seen.contains(b)
          seen += a; seen += b
          if (ok) Some((a, b, n)) else None
        }
        var step = prev
        kept.foreach { case (a, b, _) =>
          step = step.select(col("w"), col("freq"), bpeApplyMerge(a, b).as("sy"))
        }
        val mat = step.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pending = Some(prev)
        prev = mat
        kept.foreach { case (a, b, n) =>
          merges += ((merges.size + 1, a, b, n))
        }
      }
    }
    pending.foreach(_.unpersist(blocking = false))
    (prev, merges.toSeq)
  }

  /** Independent DuckDB reimplementation of [[bpeTrainOn]]'s rounds
    * (no leading WITH): one CTE block per round — weighted pair counts
    * and the argmax (m\$r), occurrence flags via lead() per word,
    * LEFT-GREEDY selection as gaps-and-islands (consecutive occurrence
    * runs; odd rank within each run — equivalent to the engine's fold:
    * distinct pairs occur ≥ 2 apart so every occurrence is its own
    * run, and a self-pair's run takes alternate positions), then the
    * merged vocabulary rebuilt with an ORDER BY p list aggregate,
    * dropping absorbed positions. Every s\$r/m\$r is MATERIALIZED —
    * each is referenced several times and inlining would re-run the
    * whole prefix per reference. */
  private def bpeRoundsCtes(steps: Int): String = {
    val rounds = (1 to steps).map { r =>
      val pv = s"s${r - 1}"
      s"""p$r AS (SELECT sy[i] AS a, sy[i + 1] AS b, freq
         |  FROM (SELECT sy, freq, unnest(range(1, len(sy))) AS i FROM $pv WHERE len(sy) >= 2)),
         |m$r AS MATERIALIZED (SELECT a, b, CAST(sum(freq) AS BIGINT) AS n
         |  FROM p$r GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1),
         |e$r AS (SELECT w, freq, unnest(range(1, len(sy) + 1)) AS p, unnest(sy) AS s FROM $pv),
         |o$r AS (SELECT e.w, e.freq, e.p, e.s, m.a AS ma, m.b AS mb,
         |          coalesce(e.s = m.a AND lead(e.s) OVER (PARTITION BY e.w ORDER BY e.p) = m.b, FALSE) AS occ
         |        FROM e$r e CROSS JOIN m$r m),
         |oc$r AS (SELECT w, p, p - row_number() OVER (PARTITION BY w ORDER BY p) AS rid
         |         FROM o$r WHERE occ),
         |ap$r AS (SELECT w, p FROM (
         |           SELECT w, p, row_number() OVER (PARTITION BY w, rid ORDER BY p) AS k FROM oc$r)
         |         WHERE k % 2 = 1),
         |s$r AS MATERIALIZED (
         |  SELECT o.w, o.freq,
         |    list(CASE WHEN ap.p IS NOT NULL THEN o.ma || o.mb ELSE o.s END ORDER BY o.p) AS sy
         |  FROM o$r o
         |  LEFT JOIN ap$r ap ON o.w = ap.w AND o.p = ap.p
         |  LEFT JOIN ap$r ab ON o.w = ab.w AND o.p = ab.p + 1
         |  WHERE ab.p IS NULL
         |  GROUP BY o.w, o.freq)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE text IS NOT NULL)
       |  WHERE len(w) >= 1 GROUP BY w),
       |s0 AS MATERIALIZED (SELECT w, freq, string_split(w, '') AS sy FROM w0),
       |$rounds""".stripMargin
  }

  /** Independent DuckDB reimplementation of [[bpeTrainBatchedOn]]:
    * per round, ranked top-`batch` candidates (bc\$r), the
    * rank-window disjoint selection as ONE NOT EXISTS against all
    * higher-ranked candidates (bk\$r — no sequential recursion
    * needed, which is why the selection rule is stated this way),
    * then `batch` chained per-merge applications in kept order. A
    * slot j beyond the round's kept count yields a SENTINEL merge
    * (chr(1), chr(1)) via scalar subqueries — no symbol ever equals
    * chr(1), so its apply chain is an exact pass-through and the
    * fixed `batch`-deep chain needs no empty-relation special case.
    * Global step numbers come from cumulative kept counts (scalar
    * COUNT subqueries over earlier bk CTEs). Every bs/bc/bk stage is
    * MATERIALIZED — referenced several times, and the inlined chains
    * would re-expand exponentially in the round count. */
  private def bpeBatchedSql(rounds: Int, batch: Int): String = {
    def applyChain(src: String, m: String, tag: String, out: String): String =
      s"""e$tag AS (SELECT w, freq, unnest(range(1, len(sy) + 1)) AS p, unnest(sy) AS s FROM $src),
         |o$tag AS (SELECT e.w, e.freq, e.p, e.s, m.ma, m.mb,
         |          coalesce(e.s = m.ma AND lead(e.s) OVER (PARTITION BY e.w ORDER BY e.p) = m.mb, FALSE) AS occ
         |        FROM e$tag e CROSS JOIN $m m),
         |oc$tag AS (SELECT w, p, p - row_number() OVER (PARTITION BY w ORDER BY p) AS rid
         |         FROM o$tag WHERE occ),
         |ap$tag AS (SELECT w, p FROM (
         |           SELECT w, p, row_number() OVER (PARTITION BY w, rid ORDER BY p) AS k FROM oc$tag)
         |         WHERE k % 2 = 1),
         |$out AS MATERIALIZED (
         |  SELECT o.w, o.freq,
         |    list(CASE WHEN ap.p IS NOT NULL THEN o.ma || o.mb ELSE o.s END ORDER BY o.p) AS sy
         |  FROM o$tag o
         |  LEFT JOIN ap$tag ap ON o.w = ap.w AND o.p = ap.p
         |  LEFT JOIN ap$tag ab ON o.w = ab.w AND o.p = ab.p + 1
         |  WHERE ab.p IS NULL
         |  GROUP BY o.w, o.freq)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      val pv = s"bs${r - 1}"
      val cand =
        s"""bp$r AS (SELECT sy[i] AS a, sy[i + 1] AS b, freq
           |  FROM (SELECT sy, freq, unnest(range(1, len(sy))) AS i FROM $pv WHERE len(sy) >= 2)),
           |bc$r AS MATERIALIZED (
           |  SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS rn
           |  FROM (SELECT a, b, CAST(sum(freq) AS BIGINT) AS n FROM bp$r GROUP BY a, b)
           |  ORDER BY n DESC, a, b LIMIT $batch),
           |bk$r AS MATERIALIZED (
           |  SELECT a, b, n, row_number() OVER (ORDER BY rn) AS kn FROM bc$r c
           |  WHERE NOT EXISTS (SELECT 1 FROM bc$r d WHERE d.rn < c.rn
           |    AND (d.a = c.a OR d.a = c.b OR d.b = c.a OR d.b = c.b)))""".stripMargin
      val applies = (1 to batch).map { j =>
        val src = if (j == 1) pv else s"bt${r}_${j - 1}"
        val out = if (j == batch) s"bs$r" else s"bt${r}_$j"
        s"""bm${r}_$j AS (SELECT coalesce((SELECT a FROM bk$r WHERE kn = $j), chr(1)) AS ma,
           |              coalesce((SELECT b FROM bk$r WHERE kn = $j), chr(1)) AS mb),
           |${applyChain(src, s"bm${r}_$j", s"b${r}_$j", out)}""".stripMargin
      }.mkString(",\n")
      s"$cand,\n$applies"
    }.mkString(",\n")
    val out = (1 to rounds).map { r =>
      val off = if (r == 1) "0"
        else (1 until r).map(j => s"(SELECT count(*) FROM bk$j)").mkString(" + ")
      s"SELECT CAST($off + kn AS INTEGER) AS step, a AS left_sym, b AS right_sym, n AS pair_count FROM bk$r"
    }.mkString(" UNION ALL ")
    s"""WITH bw0 AS (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE text IS NOT NULL)
       |  WHERE len(w) >= 1 GROUP BY w),
       |bs0 AS MATERIALIZED (SELECT w, freq, string_split(w, '') AS sy FROM bw0),
       |$roundsSql
       |SELECT step, left_sym, right_sym, pair_count FROM ($out) ORDER BY step""".stripMargin
  }

  /** [[bpeRoundsCtes]] + the merge-table projection. */
  private def bpeLearnSql(steps: Int): String = {
    val out = (1 to steps)
      .map(r => s"SELECT $r AS step, a AS left_sym, b AS right_sym, n AS pair_count FROM m$r")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeRoundsCtes(steps)}
       |SELECT step, left_sym, right_sym, pair_count FROM ($out) ORDER BY step""".stripMargin
  }

  /** [[bpeRoundsCtes]] + the corpus tokenization join — mirror of
    * [[bpeTokenizeStatsOn]] over the final vocabulary s`steps`. */
  private def bpeTokenizeSql(steps: Int): String =
    s"""WITH ${bpeRoundsCtes(steps)},
       |tok AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |          unnest(string_split(text, ' ')) AS w
       |        FROM documents WHERE text IS NOT NULL),
       |tw AS (SELECT doc_id, n_chars, w FROM tok WHERE len(w) >= 1),
       |vc AS (SELECT w, CAST(len(sy) AS BIGINT) AS n_word_tokens FROM s$steps),
       |agg AS (SELECT doc_id, n_chars, count(*) AS n_words,
       |          CAST(sum(n_word_tokens) AS BIGINT) AS n_bpe_tokens
       |        FROM tw JOIN vc USING (w) GROUP BY doc_id, n_chars)
       |SELECT doc_id, n_chars, n_words, n_bpe_tokens,
       |  ${OracleSql.round("CAST(n_chars AS DOUBLE) / n_bpe_tokens", 4)} AS chars_per_token
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Trainable quality classifier — fixed-iteration batch-gradient
    * logistic regression separating "curated" sources from the rest
    * (the GPT-3/CCNet-style learned quality filter: label a trusted
    * slice 1, the crawl 0, train on cheap text statistics, score
    * everything). Features per doc: token count, chars-per-token,
    * type-token ratio, short-token ratio, plus intercept; labels are
    * `source ∈ curated` — fully derived from the data, no side
    * channel.
    *
    * Exactness across engines (iterative training is the hazard — an
    * ulp in any gradient compounds through every later step): each
    * doc's per-feature gradient term `x_j·(y−p)` is a sub-unit double
    * rounded at 9dp into DECIMAL ([[OracleSql.roundDecSub]] staging on
    * the DuckDB side), summed exactly; the weight update adds the
    * 9dp-rounded `lr·(g/n)` to the exact decimal weight; the sigmoid's
    * `z` is rebuilt each step from the decimal weights cast to double
    * in a FIXED association. The oracle unrolls the same `iters` steps
    * as CTE stages. Output: one row per step with post-update weights
    * and the step-start training accuracy.
    *
    * Scale posture (100 TB): the feature pass is one scan persisted as
    * a 5-doubles-per-doc frame; each iteration is ONE map-side-
    * combining aggregate to 6 numbers (no shuffle wider than the
    * 5-value gradient), and the weight state is 5 decimals on the
    * driver — the classic distributed-GD shape. Scoring the corpus
    * with the trained weights is a scan-stage expression. */
  def qualityClassifierTrain(s: SparkSession, dir: String,
                             iters: Int = 5, lr: Double = 0.5,
                             curated: Seq[String] = Seq("src0", "src1", "src2", "src3")): DataFrame =
    qcTrain(s, dir, iters, lr, curated)._3

  /** [[qualityClassifierTrain]]'s APPLY side: score every document
    * with the trained weights (a scan-stage sigmoid — what actually
    * runs over 100 TB once training converges) and surface the
    * `topn` highest-scoring docs with their labels. */
  def qualityClassifierScores(s: SparkSession, dir: String,
                              iters: Int = 5, lr: Double = 0.5,
                              curated: Seq[String] = Seq("src0", "src1", "src2", "src3"),
                              topn: Int = 20): DataFrame = {
    val (f, w, _) = qcTrain(s, dir, iters, lr, curated)
    val z = lit(w(0).doubleValue) +
      lit(w(1).doubleValue) * col("x1") + lit(w(2).doubleValue) * col("x2") +
      lit(w(3).doubleValue) * col("x3") + lit(w(4).doubleValue) * col("x4")
    f.select(col("doc_id"), col("y"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 9).as("p9"))
      .orderBy(desc("p9"), col("doc_id")).limit(topn)
      .select(col("doc_id"), col("y"), round(col("p9"), 4).as("score"))
      .orderBy(desc("score"), col("doc_id"))
  }

  /** Shared trainer: (persisted feature frame, trained weights,
    * history frame). */
  private def qcTrain(s: SparkSession, dir: String, iters: Int, lr: Double,
                      curated: Seq[String]): (DataFrame, Array[java.math.BigDecimal], DataFrame) = {
    val f = docs(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"), split(col("text"), " ").as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
      .filter(col("dl") >= 1)
      .select(col("doc_id"),
        round(col("dl").cast("double") / 100.0, 9).as("x1"),
        round(col("n_chars").cast("double") / col("dl").cast("double") / 10.0, 9).as("x2"),
        round(size(array_distinct(col("t"))).cast("double")
          / col("dl").cast("double"), 9).as("x3"),
        round(size(filter(col("t"), w => length(w) <= 3)).cast("double")
          / col("dl").cast("double"), 9).as("x4"),
        when(col("source").isin(curated: _*), 1.0).otherwise(0.0).as("y"))
      .persist()
    // Spark's round(x, 9) semantics on the driver: shortest-repr
    // BigDecimal, HALF_UP (the Ivf Lloyd-update recipe)
    def dec9(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP)
    val w = Array.fill(5)(java.math.BigDecimal.ZERO.setScale(9))
    val hist = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double, Double, Double, Double, Long, Long)]
    for (step <- 1 to iters) {
      val z = lit(w(0).doubleValue) +
        lit(w(1).doubleValue) * col("x1") + lit(w(2).doubleValue) * col("x2") +
        lit(w(3).doubleValue) * col("x3") + lit(w(4).doubleValue) * col("x4")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val d = col("y") - p
      def g(x: Column) = sum(round(x, 9).cast("decimal(20,9)"))
      val r = f.agg(
        g(d).as("g0"), g(col("x1") * d).as("g1"), g(col("x2") * d).as("g2"),
        g(col("x3") * d).as("g3"), g(col("x4") * d).as("g4"),
        sum(when((p >= 0.5) === (col("y") >= 0.5), 1L).otherwise(0L)).as("ok"),
        count(lit(1)).as("n")).collect()(0)
      val n = r.getLong(6)
      for (j <- 0 until 5)
        w(j) = w(j).add(dec9(lr * (r.getDecimal(j).doubleValue / n)))
      hist += ((step.toLong, w(0).doubleValue, w(1).doubleValue,
        w(2).doubleValue, w(3).doubleValue, w(4).doubleValue,
        r.getLong(5), n))
    }
    import s.implicits._
    val histDf = hist.toSeq.toDF("step", "rw0", "rw1", "rw2", "rw3", "rw4", "ok", "n")
      .select(col("step"),
        round(col("rw0"), 4).as("w0"), round(col("rw1"), 4).as("w1"),
        round(col("rw2"), 4).as("w2"), round(col("rw3"), 4).as("w3"),
        round(col("rw4"), 4).as("w4"),
        round(col("ok").cast("double") / col("n"), 4).as("acc"))
      .orderBy(col("step"))
    (f, w, histDf)
  }

  /** The unrolled-iterations oracle for [[qualityClassifierTrain]]. */
  private def qualityClassifierOracleSql(iters: Int): String =
    s"""WITH ${qcOracleCtes(iters)}
       |${(1 to iters).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS step,
             |  ${OracleSql.round(s"CAST(w$i.w0 AS DOUBLE)", 4)} AS w0,
             |  ${OracleSql.round(s"CAST(w$i.w1 AS DOUBLE)", 4)} AS w1,
             |  ${OracleSql.round(s"CAST(w$i.w2 AS DOUBLE)", 4)} AS w2,
             |  ${OracleSql.round(s"CAST(w$i.w3 AS DOUBLE)", 4)} AS w3,
             |  ${OracleSql.round(s"CAST(w$i.w4 AS DOUBLE)", 4)} AS w4,
             |  ${OracleSql.round(s"CAST(g$i.ok AS DOUBLE) / nn.n", 4)} AS acc
             |FROM w$i CROSS JOIN g$i CROSS JOIN nn""".stripMargin
        }.mkString("\nUNION ALL\n")}
       |ORDER BY step""".stripMargin

  /** The scoring oracle for [[qualityClassifierScores]]: the same
    * unrolled chain, then one sigmoid pass with the final weights. */
  private def qualityClassifierScoresOracleSql(iters: Int, topn: Int): String =
    s"""WITH ${qcOracleCtes(iters)},
       |scored AS (SELECT fx.doc_id, fx.y,
       |    CAST(${OracleSql.roundDecSub(
              "1.0 / (1.0 + exp(-(CAST(w.w0 AS DOUBLE) + CAST(w.w1 AS DOUBLE) * x1" +
                " + CAST(w.w2 AS DOUBLE) * x2 + CAST(w.w3 AS DOUBLE) * x3" +
                " + CAST(w.w4 AS DOUBLE) * x4)))", 9)} AS DOUBLE) AS p9
       |  FROM fx CROSS JOIN w$iters w),
       |top AS (SELECT doc_id, y, p9 FROM scored
       |        ORDER BY p9 DESC, doc_id LIMIT $topn)
       |SELECT doc_id, CAST(y AS DOUBLE) AS y, ${OracleSql.round("p9", 4)} AS score
       |FROM top ORDER BY score DESC, doc_id""".stripMargin

  /** Shared CTE chain: features, per-step sigmoid/gradient/update. */
  private def qcOracleCtes(iters: Int): String = {
    val feats =
      """f AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS t,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |      FROM documents WHERE text IS NOT NULL),
        |fx AS (SELECT doc_id,
        |         %s AS x1, %s AS x2, %s AS x3, %s AS x4,
        |         CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
        |              THEN 1.0 ELSE 0.0 END AS y
        |       FROM f WHERE dl >= 1),
        |nn AS (SELECT count(*) AS n FROM fx),
        |w0 AS (SELECT CAST(0 AS DECIMAL(20,9)) AS w0, CAST(0 AS DECIMAL(20,9)) AS w1,
        |              CAST(0 AS DECIMAL(20,9)) AS w2, CAST(0 AS DECIMAL(20,9)) AS w3,
        |              CAST(0 AS DECIMAL(20,9)) AS w4)""".stripMargin.format(
        // features are ratios that can sit well below 1 — sub-unit
        // staging, surfaced back as DOUBLE (Spark's round(x, 9))
        s"CAST(${OracleSql.roundDecSub("CAST(dl AS DOUBLE) / 100.0", 9)} AS DOUBLE)",
        s"CAST(${OracleSql.roundDecSub("CAST(n_chars AS DOUBLE) / CAST(dl AS DOUBLE) / 10.0", 9)} AS DOUBLE)",
        s"CAST(${OracleSql.roundDecSub("CAST(len(list_distinct(t)) AS DOUBLE) / CAST(dl AS DOUBLE)", 9)} AS DOUBLE)",
        s"CAST(${OracleSql.roundDecSub("CAST(len(list_filter(t, w -> len(w) <= 3)) AS DOUBLE) / CAST(dl AS DOUBLE)", 9)} AS DOUBLE)")
    val steps = (1 to iters).map { i =>
      val pw = s"w${i - 1}"
      def upd(j: Int) =
        s"CAST(w.w$j + ${OracleSql.roundDecSub(s"0.5 * (CAST(g.g$j AS DOUBLE) / nn.n)", 9)} AS DECIMAL(20,9)) AS w$j"
      def grad(j: Int, x: String) =
        s"sum(${OracleSql.roundDecSub(s"$x(y - p)", 9)}) AS g$j"
      s"""s$i AS (SELECT fx.*,
         |          1.0 / (1.0 + exp(-(CAST(w.w0 AS DOUBLE) + CAST(w.w1 AS DOUBLE) * x1
         |            + CAST(w.w2 AS DOUBLE) * x2 + CAST(w.w3 AS DOUBLE) * x3
         |            + CAST(w.w4 AS DOUBLE) * x4))) AS p
         |        FROM fx CROSS JOIN $pw w),
         |g$i AS (SELECT ${grad(0, "")}, ${grad(1, "x1 * ")}, ${grad(2, "x2 * ")},
         |          ${grad(3, "x3 * ")}, ${grad(4, "x4 * ")},
         |          sum(CASE WHEN (p >= 0.5) = (y >= 0.5) THEN 1 ELSE 0 END) AS ok
         |        FROM s$i),
         |w$i AS (SELECT ${upd(0)}, ${upd(1)}, ${upd(2)}, ${upd(3)}, ${upd(4)}
         |        FROM $pw w CROSS JOIN g$i g CROSS JOIN nn)""".stripMargin
    }
    s"""$feats,
       |${steps.mkString(",\n")}""".stripMargin
  }

  // ------------------------------------------------------------ registry

  private def R(e: String, n: Int): String = OracleSql.round(e, n)

  val defs: Map[String, QueryDef] = Map(
    "quality_classifier_train" -> QueryDef(
      (s, d) => qualityClassifierTrain(s, d),
      Some(qualityClassifierOracleSql(5)),
      notes = "Fixed-iteration batch-GD logistic regression (curated-vs-" +
        "crawl quality filter): decimal-staged gradients, driver-held " +
        "weights, oracle unrolls the 5 steps as CTE stages"),
    "quality_classifier_scores" -> QueryDef(
      (s, d) => qualityClassifierScores(s, d),
      Some(qualityClassifierScoresOracleSql(5, 20)),
      notes = "Apply side of the trained quality filter: scan-stage " +
        "sigmoid over the corpus with the final weights, top-20 by " +
        "9dp-rounded score"),
    "text_token_stats" -> QueryDef(tokenStats, Some(
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  length(text) AS n_chars_text,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin)),
    "bpe_learn_merges" -> QueryDef((s, d) => bpeLearnMerges(s, d),
      Some(bpeLearnSql(6))),
    // The batched trainer at realistic merge counts: 9 rounds of up
    // to 16 disjoint merges each — ≥ 32 learned merges at every
    // tested scale (36/42/44 at sf0.001/0.01/0.1) from 9 vocabulary
    // materializations, where the one-merge-per-round trainer would
    // pay one per merge.
    "bpe_learn_batched" -> QueryDef((s, d) => bpeLearnMergesBatched(s, d),
      Some(bpeBatchedSql(9, 16))),
    "bpe_tokenize_stats" -> QueryDef((s, d) => bpeTokenizeStats(s, d),
      Some(bpeTokenizeSql(6))),
    // Memorization-risk audit: hashes count, strings resolve — see
    // corpusTopNgramsOn's scale notes.
    "corpus_top_ngrams" -> QueryDef((s, d) => corpusTopNgrams(s, d),
      Some(topNgramsSql(5, 32))),
    // Multilingual tokenizer fairness through the learned vocabulary.
    "bpe_fertility_by_lang" -> QueryDef((s, d) => bpeFertilityByLang(s, d),
      Some(s"""WITH ${bpeRoundsCtes(6)},
         |tokf AS (SELECT lang, length(text) AS n_chars, doc_id,
         |           unnest(string_split(text, ' ')) AS w
         |         FROM documents WHERE text IS NOT NULL),
         |twf AS (SELECT lang, w FROM tokf WHERE len(w) >= 1),
         |vcf AS (SELECT w, CAST(len(sy) AS BIGINT) AS n_word_tokens FROM s6),
         |aggf AS (SELECT lang, count(*) AS n_words,
         |           CAST(sum(n_word_tokens) AS BIGINT) AS n_bpe_tokens
         |         FROM twf JOIN vcf USING (w) GROUP BY lang),
         |dc AS (SELECT lang, count(*) AS n_docs,
         |         CAST(sum(length(text)) AS BIGINT) AS n_chars
         |       FROM documents WHERE text IS NOT NULL GROUP BY lang)
         |SELECT dc.lang, dc.n_docs, aggf.n_words, aggf.n_bpe_tokens,
         |  ${OracleSql.round("CAST(n_bpe_tokens AS DOUBLE) / n_words", 4)} AS fertility,
         |  ${OracleSql.round("CAST(n_chars AS DOUBLE) / n_bpe_tokens", 4)} AS chars_per_token
         |FROM dc JOIN aggf USING (lang) ORDER BY dc.lang""".stripMargin)),
    "doc_kl_divergence" -> QueryDef((s, d) => klDivergence(s, d), Some(
      s"""WITH tokc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents WHERE text IS NOT NULL),
         |tk AS (SELECT doc_id, tok FROM tokc WHERE len(tok) >= 1),
         |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tk GROUP BY tok)
         |          ORDER BY c DESC, tok LIMIT 25),
         |dc AS (SELECT doc_id,
         |         CASE WHEN v.tok IS NOT NULL THEN t.tok ELSE '<oov>' END AS cls,
         |         count(*) AS tf
         |       FROM tk t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY 1, 2),
         |dt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS nd FROM dc GROUP BY doc_id),
         |cc AS (SELECT cls, CAST(sum(tf) AS BIGINT) AS cf FROM dc GROUP BY cls),
         |ct AS (SELECT CAST(sum(cf) AS BIGINT) AS tot FROM cc),
         |cb AS (SELECT dc.doc_id, dt.nd,
         |         ${graft.OracleSql.roundDecSub(
                     "(CAST(tf AS DOUBLE) / CAST(nd AS DOUBLE)) * " +
                     "log2((CAST(tf AS DOUBLE) / CAST(nd AS DOUBLE)) / " +
                     "(CAST(cf AS DOUBLE) / CAST(tot AS DOUBLE)))", 9)} AS c
         |       FROM dc JOIN dt ON dc.doc_id = dt.doc_id
         |         JOIN cc ON dc.cls = cc.cls CROSS JOIN ct)
         |SELECT doc_id, max(nd) AS n_tokens,
         |  ${R("CAST(sum(c) AS DOUBLE)", 4)} AS kl_bits
         |FROM cb GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    "doc_dsir_weights" -> QueryDef((s, d) => dsirWeights(s, d), Some(
      s"""WITH tokc AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |        FROM documents WHERE text IS NOT NULL),
         |tk AS (SELECT doc_id, lang, substr(md5(tok), 1, 2) AS f
         |       FROM tokc WHERE len(tok) >= 1),
         |raw AS (SELECT f, count(*) AS cr FROM tk GROUP BY f),
         |tgt AS (SELECT f, count(*) AS ct FROM tk WHERE lang = 'en' GROUP BY f),
         |nt AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS tot_t FROM tgt),
         |nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS tot_r FROM raw),
         |lr AS (SELECT raw.f,
         |         ${graft.OracleSql.roundDecSub(
                     "ln(((CAST(coalesce(ct, 0) AS DOUBLE) + 0.5) / (tot_t + 128.0)) / " +
                     "((CAST(cr AS DOUBLE) + 0.5) / (tot_r + 128.0)))", 9)} AS lr
         |       FROM raw LEFT JOIN tgt ON raw.f = tgt.f
         |         CROSS JOIN nt CROSS JOIN nr),
         |dtf AS (SELECT doc_id, lang, f, count(*) AS tf FROM tk GROUP BY 1, 2, 3),
         |sc AS (SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |         sum(tf * lr) AS w
         |       FROM dtf JOIN lr ON dtf.f = lr.f GROUP BY 1, 2)
         |SELECT doc_id, lang, n_tokens,
         |  ${R("CAST(w AS DOUBLE)", 4)} AS dsir_logw
         |FROM sc ORDER BY doc_id""".stripMargin)),
    "bpe_merge_pairs" -> QueryDef(bpeMergePairs, Some(
      """WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL),
        |big AS (SELECT t FROM tok WHERE len(t) >= 2),
        |ix AS (SELECT t, unnest(range(1, len(t))) AS i FROM big),
        |pr AS (SELECT t[i] AS a, t[i + 1] AS b FROM ix)
        |SELECT a, b, count(*) AS n FROM pr GROUP BY a, b
        |ORDER BY n DESC, a, b LIMIT 32""".stripMargin)),
    "text_bpe_token_count" -> QueryDef(regexTokenCounts, Some(
      """SELECT doc_id, len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    "text_quality" -> QueryDef(qualityScores, Some {
      val t = "string_split(text, ' ')"
      val nTok = s"len($t)"
      val nStop = s"len(list_filter($t, x -> x IN ('" + stopwords.mkString("','") + "')))"
      val stopRatio = s"CAST($nStop AS DOUBLE) / $nTok"
      val ttr = s"CAST(len(list_distinct($t)) AS DOUBLE) / $nTok"
      val mtl = s"CAST(length(text) - $nTok + 1 AS DOUBLE) / $nTok"
      s"""SELECT doc_id, $nTok AS n_tokens, $nStop AS n_stop,
         |  ${R(stopRatio, 4)} AS stop_ratio,
         |  ${R(ttr, 4)} AS ttr,
         |  ${R(mtl, 4)} AS mean_token_len,
         |  ${R(s"$ttr * 0.5 + $stopRatio * 0.2 + least($mtl / 10.0, 1.0) * 0.3", 4)} AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    "lang_histogram" -> QueryDef(langHistogram, Some(
      s"SELECT lang, count(*) AS n_docs, ${R("avg(n_chars)", 2)} AS avg_chars FROM documents GROUP BY lang ORDER BY lang")),
    "lang_token_stats" -> QueryDef(langTokenStats, Some(
      s"""WITH tk AS (
         |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |tf AS (SELECT * FROM tk WHERE tok <> '')
         |SELECT lang, count(*) AS n_tokens,
         |  count(DISTINCT tok) AS n_types, count(DISTINCT doc_id) AS n_docs,
         |  CAST(${graft.OracleSql.roundDecSub(
                 "CAST(count(DISTINCT tok) AS DOUBLE) / count(*)", 6)} AS DOUBLE) AS ttr
         |FROM tf GROUP BY lang ORDER BY lang""".stripMargin)),
    "text_langid" -> QueryDef(langIdQuery, Some(langIdOracle)),
    "text_tfidf_top_terms" -> QueryDef((s, d) => tfidfTopTerms(s, d), Some(
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (SELECT doc_id, term,
         |    ${R("tf * ln(CAST(n AS DOUBLE) / df)", 6)} AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (SELECT doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
         |  FROM scored)
         |SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin)),
    "text_repetition" -> QueryDef(repetitionStats, Some(
      s"""WITH ${repetitionCtes()}
         |SELECT doc_id, n_tok AS n_tokens, top_tok_frac, dup_2gram_frac,
         |  (CAST(top_c AS DOUBLE) / n_tok <= 0.2 AND
         |   CAST(n_2g - n_2g_distinct AS DOUBLE) / n_2g <= 0.2) AS keep
         |FROM rep ORDER BY doc_id""".stripMargin)),
    "text_fingerprints" -> QueryDef(fingerprints, Some(
      s"""$fpCte
         |SELECT doc_id, len(fps) AS n_fingerprints,
         |       list_min(fps) AS fp_min, list_max(fps) AS fp_max
         |FROM fp ORDER BY doc_id""".stripMargin)),
    // The hot/exb CTEs mirror fingerprintPairs' maxDf = 1000 posting
    // guard (on the testdata no fingerprint is that hot, so the rows
    // equal the unguarded set — but the driver row now checks the
    // guarded semantics, same contract as dedup_jaccard_pairs).
    "text_fingerprint_pairs" -> QueryDef((s, d) => fingerprintPairs(s, d), Some(
      s"""$fpCte,
         |ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |hot AS (SELECT f FROM ex GROUP BY f HAVING count(*) > 1000),
         |exb AS (SELECT e.doc_id, e.f FROM ex e ANTI JOIN hot h ON e.f = h.f)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM exb a JOIN exb b ON a.f = b.f AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin)),
    "text_lm_surprisal" -> QueryDef((s, d) => lmSurprisal(s, d), Some(
      s"""WITH ${lmXentCtes()}
         |SELECT doc_id, n_tokens, xent_bits, xent_bits <= 4.93 AS keep
         |FROM x ORDER BY doc_id""".stripMargin)),
    "doc_perplexity_buckets" -> QueryDef((s, d) => perplexityBuckets(s, d), Some(
      s"""WITH ${lmXentCtes()},
         |cuts AS (SELECT
         |    ${R(s"quantile_cont(xent_bits, ${1.0 / 3})", 4)} AS c1,
         |    ${R(s"quantile_cont(xent_bits, ${2.0 / 3})", 4)} AS c2
         |  FROM x)
         |SELECT doc_id, n_tokens, xent_bits,
         |  CASE WHEN xent_bits <= c1 THEN 'head'
         |       WHEN xent_bits <= c2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM x CROSS JOIN cuts ORDER BY doc_id""".stripMargin)),
    "quality_calibrated" -> QueryDef((s, d) => qualityCalibrated(s, d), Some {
      val t = "string_split(text, ' ')"
      val nTok = s"len($t)"
      val nStop = s"len(list_filter($t, x -> x IN ('" + stopwords.mkString("','") + "')))"
      val stopRatio = s"CAST($nStop AS DOUBLE) / $nTok"
      val ttr = s"CAST(len(list_distinct($t)) AS DOUBLE) / $nTok"
      val mtl = s"CAST(length(text) - $nTok + 1 AS DOUBLE) / $nTok"
      s"""WITH q AS (SELECT doc_id, source,
         |    ${R(s"$ttr * 0.5 + $stopRatio * 0.2 + least($mtl / 10.0, 1.0) * 0.3", 4)}
         |      AS quality_score
         |  FROM documents)
         |SELECT doc_id, source, quality_score,
         |  ${R("percent_rank() OVER (PARTITION BY source ORDER BY quality_score)", 6)}
         |    AS quality_pct
         |FROM q ORDER BY doc_id""".stripMargin
    }),
    "text_lm_bigram" -> QueryDef((s, d) => lmBigramSurprisal(s, d), Some(
      s"""WITH bn AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |            WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
         |bg AS (SELECT doc_id, unnest(list_slice(t, 1, len(t) - 1)) AS prev,
         |              unnest(list_slice(t, 2, len(t))) AS tok FROM bn),
         |tf AS (SELECT doc_id, prev, tok, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
         |c2 AS (SELECT prev, tok, sum(tf) AS c2 FROM tf GROUP BY 1, 2),
         |c1 AS (SELECT prev, sum(c2) AS c1 FROM c2 GROUP BY 1),
         |contrib AS (SELECT doc_id,
         |    ${OracleSql.roundDec("tf * -log2(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))", 9)} AS cb, tf
         |  FROM tf JOIN c2 USING (prev, tok) JOIN c1 USING (prev)),
         |pd AS (SELECT doc_id, sum(cb) AS bits, CAST(sum(tf) AS BIGINT) AS n_bigrams
         |       FROM contrib GROUP BY doc_id),
         |x AS (SELECT doc_id, n_bigrams,
         |        ${OracleSql.round("CAST(bits AS DOUBLE) / n_bigrams", 4)} AS xent2_bits FROM pd)
         |SELECT doc_id, n_bigrams, xent2_bits, xent2_bits <= 4.94 AS keep
         |FROM x ORDER BY doc_id""".stripMargin)),
    "text_pmi_pairs" -> QueryDef((s, d) => pmiPairs(s, d), Some(
      s"""WITH bn AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |            WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 1),
         |dt AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM bn),
         |dfreq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
         |n AS (SELECT count(*) AS n FROM bn),
         |co AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS co_df
         |       FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |       GROUP BY 1, 2 HAVING count(*) >= 50)
         |SELECT tok_a, tok_b, co_df,
         |  ${OracleSql.round(
             "ln(CAST(co_df AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(da.df AS DOUBLE) * CAST(db.df AS DOUBLE)))", 6)} AS pmi
         |FROM co JOIN dfreq da ON co.tok_a = da.tok JOIN dfreq db ON co.tok_b = db.tok
         |CROSS JOIN n
         |ORDER BY pmi DESC, tok_a, tok_b LIMIT 50""".stripMargin)))

  /** Unigram-LM surprisal CTE chain (no WITH): CTEs
    * `${p}bn/${p}tf/${p}lm/${p}tot/${p}contrib/${p}pd/${p}x`, final
    * `${p}x` = (doc_id, n_tokens, xent_bits). ONE source for the
    * standalone `text_lm_surprisal` oracle and every composed oracle
    * (the quality ensemble) — a fix here propagates to both. */
  private[ops] def lmXentCtes(p: String = ""): String =
    s"""${p}bn AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |            WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 1),
       |${p}tf AS (SELECT doc_id, tok, count(*) AS tf
       |       FROM (SELECT doc_id, unnest(t) AS tok FROM ${p}bn) GROUP BY doc_id, tok),
       |${p}lm AS (SELECT tok, sum(tf) AS c FROM ${p}tf GROUP BY tok),
       |${p}tot AS (SELECT sum(c) AS tot FROM ${p}lm),
       |${p}contrib AS (SELECT doc_id,
       |    ${OracleSql.roundDec("tf * -log2(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))", 9)} AS cb, tf
       |  FROM ${p}tf JOIN ${p}lm USING (tok) CROSS JOIN ${p}tot),
       |${p}pd AS (SELECT doc_id, sum(cb) AS bits, CAST(sum(tf) AS BIGINT) AS n_tokens
       |       FROM ${p}contrib GROUP BY doc_id),
       |${p}x AS (SELECT doc_id, n_tokens,
       |        ${OracleSql.round("CAST(bits AS DOUBLE) / n_tokens", 4)} AS xent_bits FROM ${p}pd)""".stripMargin

  /** Gopher-repetition CTE chain (no WITH): CTEs
    * `${p}rtok/${p}rb/${p}tc/${p}ragg/${p}g2/${p}rep`, final `${p}rep`
    * = (doc_id, top_c, n_tok, n_2g, n_2g_distinct, top_tok_frac,
    * dup_2gram_frac) — raw columns included so the standalone oracle
    * can apply its raw-ratio keep gate. Shared with the ensemble. */
  private[ops] def repetitionCtes(p: String = ""): String =
    s"""${p}rtok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |${p}rb AS (SELECT doc_id, t FROM ${p}rtok WHERE len(t) >= 2),
       |${p}tc AS (SELECT doc_id, tok, count(*) AS c
       |       FROM (SELECT doc_id, unnest(t) AS tok FROM ${p}rb) GROUP BY 1, 2),
       |${p}ragg AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_tok
       |        FROM ${p}tc GROUP BY 1),
       |${p}g2 AS (SELECT doc_id, len(t) - 1 AS n_2g,
       |         len(list_distinct(list_transform(range(len(t) - 1),
       |           i -> t[i + 1] || ' ' || t[i + 2]))) AS n_2g_distinct
       |       FROM ${p}rb),
       |${p}rep AS (SELECT a.doc_id, top_c, n_tok, n_2g, n_2g_distinct,
       |          ${R("CAST(top_c AS DOUBLE) / n_tok", 4)} AS top_tok_frac,
       |          ${R("CAST(n_2g - n_2g_distinct AS DOUBLE) / n_2g", 4)} AS dup_2gram_frac
       |        FROM ${p}ragg a JOIN ${p}g2 USING (doc_id))""".stripMargin

  /** DuckDB reimplementation of [[graft.functions.WinnowTokenFingerprints]]
    * (k=5, w=4): same Mersenne-61 shift-polynomial hashes via HUGEINT
    * modular arithmetic — an independent second implementation, so the
    * driver check validates the kernel end-to-end. The `c >= 0` filter
    * neutralizes DuckDB's empty-token artifact (`string_split('','')`
    * yields `['']` and `unicode('')` is -1) so an empty token hashes
    * to 0 on both sides, exactly like the kernel's zero-char fold. */
  private lazy val fpCte: String = {
    val p = graft.functions.TextExpressions.M61
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |th AS (SELECT doc_id, list_transform(t, tk ->
       |         CAST(list_reduce([CAST(0 AS HUGEINT)] ||
       |                list_filter(list_transform(string_split(tk, ''), ch -> CAST(unicode(ch) AS HUGEINT)),
       |                            c -> c >= 0),
       |              (a, c) -> (a * 32 + c) % $p) AS BIGINT)) AS hs
       |       FROM tok),
       |kh AS (SELECT doc_id, list_transform(range(len(hs) - 4), i ->
       |         CAST(list_reduce([CAST(0 AS HUGEINT)] ||
       |                list_transform(list_slice(hs, i + 1, i + 5), h -> CAST(h AS HUGEINT)),
       |              (a, h) -> (a * 8192 + h) % $p) AS BIGINT)) AS kh
       |       FROM th WHERE len(hs) >= 8),
       |fp AS (SELECT doc_id, list_distinct(list_transform(range(len(kh) - 3), i ->
       |         list_min(list_slice(kh, i + 1, i + 4)))) AS fps
       |       FROM kh)""".stripMargin
  }

  /** DuckDB reimplementation of the [[langId]] scoring: per language,
    * trigram hits = 3-char profile entries contained in the raw text
    * (≡ distinct-trigram ∩ profile), word hits = function words present
    * in the lowercased token set; argmax with (score, lang) descending
    * tie-break, no evidence ⇒ 'und'. Profile lists are generated from
    * [[graft.functions.LangProfiles]] so both sides share one source. */
  /** The langs/scored/best CTE bodies (no leading WITH, no final
    * SELECT), shared with [[Pipelines]]' composed oracle. */
  private[ops] lazy val langBestCte: String = {
    val rows = graft.functions.LangProfiles.langs.map { l =>
      def lst(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("[", ", ", "]")
      s"('$l', ${lst(graft.functions.LangProfiles.trigrams(l))}, ${lst(graft.functions.LangProfiles.functionWords(l))})"
    }.mkString(",\n|    ")
    s"""langs(lang, tris, words) AS (VALUES
       |    $rows),
       |scored AS (
       |  SELECT d.doc_id, l.lang,
       |    (CAST(len(list_filter(l.tris, g -> length(g) = 3 AND contains(d.text, g))) AS DOUBLE) / len(l.tris)
       |     + CAST(len(list_filter(l.words, w0 -> list_contains(string_split(lower(d.text), ' '), w0))) AS DOUBLE) / len(l.words)) / 2 AS score
       |  FROM documents d CROSS JOIN langs l),
       |best AS (
       |  SELECT doc_id, lang, score,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
       |  FROM scored)""".stripMargin
  }

  /** Per-document pred_lang in DuckDB, as a derived-table body. */
  private[ops] lazy val predLangSelect: String =
    "SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang FROM best WHERE rn = 1"

  private lazy val langIdOracle: String =
    s"""WITH ${langBestCte}
       |SELECT doc_id,
       |       CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
       |       ${R("score", 4)} AS lang_score
       |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** The quality_score expression in DuckDB (matches `text_quality`'s
    * oracle scoring exactly). */
  private[ops] lazy val qualityScoreSql: String = {
    val t = "string_split(text, ' ')"
    val nTok = s"len($t)"
    val nStop = s"len(list_filter($t, x -> x IN ('" + stopwords.mkString("','") + "')))"
    val stopRatio = s"CAST($nStop AS DOUBLE) / $nTok"
    val ttr = s"CAST(len(list_distinct($t)) AS DOUBLE) / $nTok"
    val mtl = s"CAST(length(text) - $nTok + 1 AS DOUBLE) / $nTok"
    R(s"$ttr * 0.5 + $stopRatio * 0.2 + least($mtl / 10.0, 1.0) * 0.3", 4)
  }

  /** Per-document quality_score in DuckDB, as a derived-table body. */
  private[ops] lazy val qualityScoreSelect: String =
    s"SELECT doc_id, $qualityScoreSql AS quality_score FROM documents"
}
