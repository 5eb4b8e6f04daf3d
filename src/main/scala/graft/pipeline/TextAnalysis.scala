package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token statistics, document fingerprinting. All
  * per-row scalar pipelines (no shuffle) — they run inside the scan
  * stage at any corpus size.
  */
object TextAnalysis {

  /** Tiny per-language stopword lexicons for the n-gram/stopword
    * language-ID heuristic. Deterministic and oracle-reproducible.
    */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "zu", "den"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des", "est"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zai", "ta"))

  private def lexArray(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** Language ID: count distinct stopword hits per language, predict
    * the max with a fixed priority order (alphabetical) on ties.
    */
  def languageId(docs: DataFrame): DataFrame = {
    val scored = Lexicons.foldLeft(
      docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))) {
      case (df, (l, words)) =>
        df.withColumn(s"hits_$l",
          size(array_intersect(col("w"), expr(lexArray(words)))).cast("long"))
    }
    val langs = Lexicons.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last)) { (l, rest) =>
      when(langs.filter(_ != l).map(o => col(s"hits_$l") >= col(s"hits_$o")).reduce(_ && _), lit(l))
        .otherwise(rest)
    }
    scored
      .withColumn("pred_lang", pred)
      .withColumn("correct", col("pred_lang") === col("lang"))
      .select(Seq(col("doc_id"), col("lang"), col("pred_lang"), col("correct")) ++
        langs.map(l => col(s"hits_$l")): _*)
  }

  private val Punct = "[.,!?;:]"
  private val EnStop = Lexicons.toMap.apply("en")

  /** Quality scoring: length / punctuation / stopword / digit ratios
    * and a combined score — the usual cheap pre-filters before
    * expensive pipeline stages.
    *
    * Empty documents (real corpora have them) get NULL character
    * ratios and a NULL quality via the nullif-guarded denominator —
    * an unguarded /length(text) yields NaN, and the ANSI-mode
    * decimal cast inside the score would then throw and kill the
    * whole job; NULL instead falls out of any `quality >= t` gate.
    * (Token denominators can't be zero: split() yields ≥ 1 element.)
    */
  def qualityScores(docs: DataFrame): DataFrame =
    qualityScoresFromTokens(
      docs.select(col("doc_id"), col("text"), split(col("text"), " ").as("w")))

  /** [[qualityScores]] over a pre-tokenized frame (`doc_id`, `text`,
    * `w: array<string>`; extra columns ignored) — lets a composed
    * pipeline tokenize once and share the arrays with shingling
    * ([[Dedup.shinglesFromTokens]]).
    */
  def qualityScoresFromTokens(toks: DataFrame): DataFrame =
    toks
      .withColumn("__n", expr("nullif(length(text), 0)"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("len"),
        size(col("w")).cast("long").as("n_tokens"),
        round((length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("w"))), 4)
          .as("avg_token_len"),
        round((length(col("text")) - length(regexp_replace(col("text"), Punct, ""))).cast("double")
          / col("__n"), 4).as("punct_ratio"),
        round(size(expr(s"filter(w, x -> array_contains(${lexArray(EnStop)}, x))")).cast("double")
          / size(col("w")), 4).as("stopword_ratio"),
        round((length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
          / col("__n"), 4).as("digit_ratio"))
      // combined score: exact decimal weighted sum (scale ≤ 7),
      // quantized to an integer before the one double division —
      // decimal rounding ties (half-up vs half-even) and decimal→
      // double casts both diverge across engines; bigint→double + a
      // single IEEE division do not
      .withColumn("quality",
        expr("CAST(CAST((0.5 * CAST(stopword_ratio AS DECIMAL(18,4)) " +
          "+ 0.3 - 0.3 * CAST(punct_ratio AS DECIMAL(18,4)) " +
          "+ least(CAST(n_tokens AS DECIMAL(18,4)) * 0.002, 0.2)) * 10000000 AS BIGINT) AS DOUBLE) / 1E7"))

  /** Token counting: whitespace tokens, distinct types, and a BPE-ish
    * regex segmentation (letter runs / digit runs / single symbols).
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"), col("text"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_types"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long")
          .as("n_subwords"),
        round(size(array_distinct(col("w"))).cast("double") / size(col("w")), 4).as("ttr"))

  /** Default PII patterns: label → (regex, replacement token). The
    * regexes stay in the portable common subset of Java regex and
    * RE2 (no backrefs, no lookaround) so a relational oracle can
    * replay them verbatim.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "[IP]"))

  /** PII redaction: replace every match of each pattern with its
    * placeholder and count what was removed — the scrubbing pass a
    * training corpus runs before anything else sees the text. Pure
    * per-row string work (one codegen'd regexp_replace per pattern,
    * chained), no shuffle, no UDF; counts come from
    * regexp_extract_all on the ORIGINAL text so overlapping patterns
    * report what each one saw, not what survived the previous
    * replacement. Order matters for the redacted text (phone before
    * ip would also eat dotted quads? no — patterns here are
    * disjoint; chains of genuinely overlapping patterns should be
    * ordered most-specific-first by the caller).
    */
  def redactPii(docs: DataFrame, patterns: Seq[(String, String, String)] = PiiPatterns,
      textCol: String = "text"): DataFrame = {
    val redacted = patterns.foldLeft(col(textCol)) { case (c, (_, re, tok)) =>
      regexp_replace(c, re, tok)
    }
    val counts = patterns.map { case (label, re, _) =>
      size(regexp_extract_all(col(textCol), lit(re), lit(0))).cast("long").as(s"n_$label")
    }
    docs.select(col("doc_id") +: counts :+ redacted.as("redacted"): _*)
  }

  /** The `n` highest-document-frequency terms of a corpus (ties
    * broken alphabetically) with their df — the deterministic query
    * side of [[bm25Scores]]. Tiny by construction: one distinct-
    * terms-per-doc explode + a word-keyed count, then a driver-side
    * top-n over the vocabulary aggregate.
    */
  def topDfTerms(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(explode(array_distinct(split(col("text"), " "))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("t").asc)
      .limit(n)

  /** BM25 relevance scoring of every document against a fixed term
    * set — the retrieval-style ranking signal a curation pipeline
    * uses for topic filtering and importance weighting. Takes the
    * term→idf table and corpus average document length as PRECOMPUTED
    * literals (bounded: a handful of query terms), so scoring is a
    * pure per-row projection — tf per term via an array filter on the
    * whitespace tokens, the Okapi saturation formula per term, summed
    * in fixed term order. Zero shuffle at any corpus size; only the
    * tiny df/avgdl aggregates behind the literals ever shuffle.
    *
    * idf arrives as a literal (not computed in-plan) for the same
    * reason [[corpusFrequencyScore]] avoids log: natural log is not
    * correctly-rounded-mandated, so two engines can disagree in the
    * last ulp and break a hash oracle. The caller computes idf once
    * (driver-side) and both the query and its oracle inline the SAME
    * constant, so the comparison verifies the scoring math, not libm.
    *
    * Emits only matching docs (`n_hits > 0`): (doc_id, n_hits, bm25
    * rounded to 4dp), BM25 k1 = 1.2, b = 0.75.
    */
  def bm25Scores(docs: DataFrame, termIdf: Seq[(String, Double)], avgdl: Double): DataFrame = {
    // totality on a term-free query (empty corpus → no df terms):
    // nothing matches, and the reduces below would throw on Nil
    if (termIdf.isEmpty)
      return docs.select(col("doc_id"), lit(0L).as("n_hits"), lit(0.0).as("bm25")).limit(0)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val dl = size(col("w")).cast("double")
    // Spark SQL string literals process backslash escapes, so both
    // backslash and quote must be escaped or a term like "foo\" would
    // break the lambda (and silently diverge from the oracle, whose
    // DuckDB literals treat backslashes as plain characters)
    def tf(t: String) = {
      val esc = t.replace("\\", "\\\\").replace("'", "\\'")
      size(expr(s"filter(w, x -> x = '$esc')")).cast("double")
    }
    // per-term Okapi contribution, written in the exact operation
    // order the oracle SQL uses — IEEE ops in identical order give
    // bit-identical doubles on both engines
    val contribs = termIdf.map { case (t, idf) =>
      lit(idf) * ((tf(t) * lit(2.2)) / (tf(t) + lit(1.2) * (lit(0.25) + lit(0.75) * (dl / lit(avgdl)))))
    }
    val nHits = termIdf.map { case (t, _) => when(tf(t) > 0, 1L).otherwise(0L) }.reduce(_ + _)
    toks
      .select(col("doc_id"), nHits.as("n_hits"),
        round(contribs.reduce(_ + _), 4).as("bm25"))
      .filter(col("n_hits") > 0)
  }

  /** Overlapping token-window chunking — the document→chunk step of
    * an embedding/RAG pipeline: windows of `chunkTokens` whitespace
    * tokens starting every `stride` tokens (stride < chunk ⇒
    * overlap), last window short, a window exists for every start <
    * n_tok. Pure per-row HOF projection + explode: chunks are
    * produced where the document row sits, no shuffle at any corpus
    * size (the explode multiplies rows ~n_tok/stride-fold — the
    * downstream embedder's batch dimension, not a skew source).
    * Chunk content is emitted as an md5 content hash (the id an
    * embedding index needs) plus token count, not as text — chunking
    * at 100 TB must not double-store the corpus.
    */
  def chunkTokens(docs: DataFrame, chunkTokens: Int = 50, stride: Int = 40): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, CAST((size(w) - 1) DIV $stride AS INT)), " +
            s"i -> struct(i AS chunk_idx, slice(w, i * $stride + 1, $chunkTokens) AS cw))")).as("c"))
      .select(
        col("doc_id"),
        col("c.chunk_idx").cast("int").as("chunk_idx"),
        size(col("c.cw")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("c.cw"))).as("chunk_hash"))

  /** Unigram corpus-frequency score — the cheap LM-quality signal: a
    * document's mean token probability under the corpus's own
    * unigram distribution (the monotone inverse of unigram
    * perplexity). Deliberately NOT -avg(log p): natural log is not
    * correctly-rounded-mandated, so libm (DuckDB) and java.lang.Math
    * (Spark) can disagree in the last ulp and break a hash oracle;
    * mean probability is exact rational arithmetic, emitted as an
    * integer parts-per-billion score via integer division.
    *
    * Shuffle shape: one vocab aggregate (tiny — broadcast back), one
    * per-doc aggregate. The corpus-total token count is the single
    * driver-side scalar (a count, not data).
    */
  def corpusFrequencyScore(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = tok.count()
    tok.join(broadcast(freq), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("cnt")).as("sum_cnt"))
      .select(col("doc_id"), col("n_tok"), col("sum_cnt"),
        expr(s"CAST((sum_cnt * 1000000000) DIV (n_tok * ${total}) AS BIGINT)").as("score_ppb"))
  }

  /** Benchmark decontamination: flag training documents that share
    * any word n-gram with an evaluation set — the hygiene pass every
    * training corpus runs against its eval suites. Eval n-gram sets
    * are small by construction (eval suites are thousands of docs,
    * not billions), so the distinct eval-gram table broadcasts and
    * the train side never shuffles: explode grams where the row
    * sits, hash-join against the broadcast, per-doc count. Grams
    * ride as xxhash64s ([[Dedup.shingleHashSets]] kernel) — shared-
    * gram counts equal string-gram counts barring a 64-bit collision.
    */
  def decontaminate(train: DataFrame, eval_ : DataFrame, n: Int = 5): DataFrame = {
    def grams(d: DataFrame) = Dedup.shingleHashSets(
      d.select(col("doc_id"), split(col("text"), " ").as("w")), n)
    val evalGrams = grams(eval_).select(explode(col("hs")).as("g")).distinct()
    grams(train)
      .select(col("doc_id"), explode(col("hs")).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
  }

  /** [[decontaminate]] at the scale where the eval-gram set no longer
    * broadcasts as a join side: a Bloom filter
    * ([[org.apache.spark.sql.graft.BloomFilters]]) built over the
    * eval grams prunes the exploded train grams INSIDE the scan stage
    * (one compact binary broadcast + a codegen'd `might_contain`
    * probe per gram), and only the surviving sliver — true matches
    * plus the configured false-positive rate — reaches the exact
    * semi-join verify. Blooms admit false positives but never drop
    * members, and the verify removes exactly the false positives, so
    * the output is IDENTICAL to [[decontaminate]] — the graded query
    * shares its oracle text verbatim (the streaming-twin device).
    *
    * Why this is the 100 TB shape: a broadcast eval-gram TABLE costs
    * O(|eval grams| × 16 B) per executor and a hash probe per gram; a
    * 67 M-gram eval suite is a ~1 GB broadcast. The bloom at 8
    * bits/item is 64 MB for the same set, and the exact verify join —
    * now a shuffle join in general — moves only matched+fpp grams
    * instead of every train gram. `expectedItems`/`numBits` are
    * explicit knobs: the caller budgets the broadcast.
    */
  def decontaminateBloom(train: DataFrame, eval_ : DataFrame, n: Int = 5,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.graft.BloomFilters
    def grams(d: DataFrame) = Dedup.shingleHashSets(
      d.select(col("doc_id"), split(col("text"), " ").as("w")), n)
    val evalGrams = grams(eval_).select(explode(col("hs")).as("g")).distinct()
    // the sketch localizes to the driver as a BinaryType literal —
    // `might_contain` REQUIRES a constant bloom (Spark's own
    // InjectRuntimeFilter does the same: build once, constant-fold
    // into the probe side). Bounded by construction: numBits/8 bytes
    // (1 MB at the default), set by the caller's broadcast budget,
    // independent of corpus size — the trained-centroids exception.
    val bf = evalGrams
      .agg(BloomFilters.agg(col("g"), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // an empty eval suite aggregates to a NULL sketch — nothing can
    // match, and a null literal would fail might_contain's type check
    if (bf == null)
      return train.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_shared")).limit(0)
    grams(train)
      .select(col("doc_id"), explode(col("hs")).as("g"))
      .filter(BloomFilters.mightContain(lit(bf), col("g")))
      .join(evalGrams, Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
  }

  /** Document fingerprinting: whitespace-normalized content hash plus
    * a 5-word rolling-shingle count (the shingle universe behind
    * winnowing-style fingerprints).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"),
        substring(md5(regexp_replace(lower(col("text")), "\\s+", " ")), 1, 16).as("fp16"),
        when(size(col("w")) >= 5,
          size(expr("array_distinct(transform(sequence(0, size(w) - 5), " +
            "i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))")))
          .otherwise(0).cast("long").as("n_shingles5"))

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS scheme): hash every k-gram, slide a
    * w-window over consecutive gram hashes, and record each window's
    * MINIMUM. The guarantee: any shared substring of ≥ w + k − 1
    * tokens contributes at least one common fingerprint, while only
    * ~2/(w+1) of the grams are stored — the principled sparse
    * fingerprint between "hash everything" (q_text_fingerprint's
    * shingle universe) and "hash one thing" (the whole-doc hash).
    *
    * Engine-exactness: the gram hash is the shared hex→int recipe
    * (first 12 md5 hex digits → 48-bit int), the window min is over
    * VALUES (well-defined without the paper's positional tie-break:
    * 48-bit collisions within a window are negligible and both
    * engines take the same min anyway), and docs whose gram count is
    * under w keep exactly their pos-0 partial window (min of all
    * grams) via the same `pos <= greatest(n_grams − w, 0)` predicate
    * on both sides.
    *
    * Scale shape: one explode (O(tokens) rows) and ONE per-doc window
    * (partitioned by doc_id, never global); the fingerprint set then
    * partial-aggregates. At 100 TB this is the same per-row cost
    * family as the other text passes — no pair joins, no corpus-wide
    * state.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    winnowWindows(docs, k, w)
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        countDistinct(col("minh")).as("n_fp"),
        sum_distinct(col("minh")).as("fp_sum"))

  /** The pre-aggregation winnowing internals: one row per selected
    * window — (doc_id, pos, minh, n_grams). Shared by the per-doc
    * rollup ([[winnowFingerprints]]) and the match stage
    * ([[winnowMatches]]).
    */
  private[pipeline] def winnowWindows(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, size(toks) - $k), i -> array_join(slice(toks, i + 1, $k), ' '))"))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("gram")), 1, 12), 16, 10).cast("long").as("h"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val part = Window.partitionBy("doc_id")
    grams
      .withColumn("n_grams", count(lit(1)).over(part))
      .withColumn("minh", min(col("h")).over(win))
      .filter(col("pos") <= greatest(col("n_grams") - w, lit(0L)))
  }

  /** The MOSS MATCH stage over [[winnowFingerprints]]'s selection:
    * documents sharing ≥ `minShared` distinct fingerprints are
    * span-level near-dup candidates — each shared fingerprint
    * witnesses a shared k-token span, so `minShared` = 2 demands two
    * independent shared spans (or one ≥ w + k long).
    *
    * Scale shape: the classic inverted-index self-join, with the same
    * hot-postings guard as containment dedup — fingerprints appearing
    * in more than `maxDf` documents are boilerplate and are DROPPED
    * from pairing (the df cap bounds the per-posting pair fan-out at
    * maxDf², keeping the join linear-ish in corpus size; the dropped
    * hot spans are exactly what the paragraph-dedup pass handles).
    */
  def winnowMatches(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Int = 2, maxDf: Int = 100): DataFrame = {
    val fps = winnowWindows(docs, k, w).select(col("doc_id"), col("minh")).distinct()
    val rare = fps.groupBy(col("minh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val pruned = fps.join(rare.select(col("minh")), "minh")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.minh") === col("b.minh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Repetition signals (the Gopher-style quality filters): type-token
    * ratio and the duplicate-3-gram fraction — high dup3 means the
    * document repeats itself (boilerplate, keyword stuffing, decode
    * loops) and is a standard pretraining drop rule.
    *
    * Pure per-row HOF projections — no shuffle, no state; at 100 TB
    * this runs where the rows sit, like the other quality gates.
    * Docs under 3 tokens have no 3-grams and are excluded (same
    * predicate in the oracle).
    */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .where(size(col("tk")) >= 3)
      .withColumn("g3", expr(
        "transform(sequence(1, size(tk) - 2), " +
          "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))"))
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tok"),
        round(size(array_distinct(col("tk"))) / size(col("tk")).cast("double"), 4)
          .cast("double").as("ttr"),
        round(lit(1.0) - size(array_distinct(col("g3"))) / size(col("g3")).cast("double"), 4)
          .cast("double").as("dup3"))

  /** Gopher-style document-quality RULE GATE (Rae et al. 2021 §A1.1,
    * the standard pretraining drop rules), distilled to the signals
    * the corpus carries: word-count bounds, mean-word-length bounds,
    * a duplicate-3-gram-fraction cap (the repetition filter), and a
    * minimum distinct-stopword requirement (the "is this prose at
    * all" check). Unlike [[qualityScores]]' continuous score — which
    * ranks documents — this emits per-rule booleans plus the overall
    * `keep`, the form a production filter chain audits: per-rule
    * rejection counts tell you WHICH rule fires when a crawl source
    * goes bad, a single score cannot.
    *
    * Per-rule semantics (each NULL-free by construction):
    *  - `pass_words`:   minWords ≤ n_words ≤ maxWords
    *  - `pass_word_len`: minMeanLen ≤ mean word length ≤ maxMeanLen
    *    (chars excluding spaces / words, 4dp — one IEEE division of
    *    exact integers, engine-reproducible)
    *  - `pass_repetition`: duplicate-3-gram fraction ≤ maxDupTrigram
    *    ([[repetitionStats]]' dup3 recipe verbatim; docs under 3
    *    tokens have no 3-grams and pass vacuously, dup3 = 0)
    *  - `pass_stopwords`: ≥ minStopHits DISTINCT English stopwords
    *    present (the Gopher rule; the shared [[Lexicons]] "en" list)
    *
    * Scale shape: a pure per-row HOF projection like the other text
    * gates — no shuffle, no state, runs inside the scan at any corpus
    * size. The guarded `sequence(1, size − 2)` never runs on sub-3-
    * token docs (Spark's sequence DESCENDS when start > stop — an
    * unguarded call would fabricate grams on short docs).
    */
  def gopherRules(docs: DataFrame,
      minWords: Int = 30, maxWords: Int = 1000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 5.0,
      maxDupTrigram: Double = 0.05, minStopHits: Int = 1): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("text"),
        split(lower(col("text")), " ").as("tk"))
      .withColumn("n_words", size(col("tk")).cast("long"))
      .withColumn("mean_word_len",
        round(length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_words"), 4))
      .withColumn("dup3",
        when(col("n_words") >= 3,
          round(lit(1.0) - size(array_distinct(expr(
            "transform(sequence(1, size(tk) - 2), " +
              "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))")))
            / (col("n_words") - 2).cast("double"), 4))
          .otherwise(lit(0.0)).cast("double"))
      .withColumn("stop_hits",
        size(array_intersect(col("tk"), expr(lexArray(EnStop)))).cast("long"))
      .withColumn("pass_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("pass_word_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("pass_repetition", col("dup3") <= maxDupTrigram)
      .withColumn("pass_stopwords", col("stop_hits") >= minStopHits)
      .withColumn("keep",
        col("pass_words") && col("pass_word_len") &&
          col("pass_repetition") && col("pass_stopwords"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("mean_word_len"),
        col("dup3"), col("stop_hits"), col("pass_words"), col("pass_word_len"),
        col("pass_repetition"), col("pass_stopwords"), col("keep"))

  /** CCNet-style per-language perplexity bucketing (Wenzek et al.
    * 2020): rank each language's documents by the cheap LM signal
    * ([[corpusFrequencyScore]] — mean unigram probability, the
    * monotone inverse of unigram perplexity), cut into exact terciles
    * — `head` (most fluent third), `middle`, `tail` — and keep
    * head + middle, CCNet's default. Terciles are EXACT ranks, not
    * approximate quantiles: rn·3 ≤ cnt ⇒ head, rn·3 ≤ 2·cnt ⇒
    * middle (ties broken by doc_id — a total order, so the cut is
    * deterministic and engine-reproducible).
    *
    * Scale shape: per-language ranking via the shared two-pass
    * bucketed machinery ([[graft.operators.Ranks]]) — per-language
    * partitions grow linearly with the corpus, so a plain
    * per-language window is the stratum-width funnel SCALE.md
    * addendum 7 measures; range-bucketing the score (descending, ties
    * never straddle buckets) and shifting per-bucket row_numbers by
    * the broadcast offset table keeps window width at
    * corpus/(langs·nBuckets), rank-identical to the single window.
    * The score itself is one tiny vocab aggregate broadcast back plus
    * one per-doc aggregate ([[corpusFrequencyScore]]).
    */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 64): DataFrame = {
    import graft.operators.Ranks.{bucketOffsets, withRangeBucket}
    // the score subtree (tokenize + vocab join + per-doc aggregate) is
    // consumed FOUR times below — quantile bounds, the ranked rows,
    // the offset table, the per-language counts — and Spark replicates
    // an unspooled subtree into each consumer (the committed plan
    // showed 30 scans). Spool the narrow 3-column frame once
    // (Scratch house pattern); everything downstream is a clean scan.
    val scored = graft.engine.Scratch.checkpoint(
      corpusFrequencyScore(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("score_ppb")),
      "ppl-score")
    val cnts = scored.groupBy(col("lang")).agg(count(lit(1)).as("lang_cnt"))
    val keyed = withRangeBucket(scored, Seq("lang"), col("score_ppb"), nBuckets,
      descending = true)
    val w = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("score_ppb").desc, col("doc_id").asc)
    keyed
      .withColumn("rk", row_number().over(w))
      .join(broadcast(bucketOffsets(keyed, Seq("lang"), lit(1L))), Seq("lang", "bucket"))
      .withColumn("lang_rank", (col("b_off") + col("rk")).cast("long"))
      .join(broadcast(cnts), "lang")
      .withColumn("ppl_bucket",
        when(col("lang_rank") * 3 <= col("lang_cnt"), "head")
          .when(col("lang_rank") * 3 <= col("lang_cnt") * 2, "middle")
          .otherwise("tail"))
      .withColumn("keep", col("ppl_bucket") =!= "tail")
      .select(col("doc_id"), col("lang"), col("score_ppb"), col("lang_rank"),
        col("ppl_bucket"), col("keep"))
  }

  /** Zipf / vocabulary-coverage report — the tokenizer-design signal
    * a training pipeline reads before fixing a vocab size: for each
    * checkpoint rank r, how many corpus tokens the r most frequent
    * word types cover. Rows are (vocab_rank, token, cnt, cum_tokens,
    * coverage_ppb, n_types, total_tokens); coverage is integer
    * parts-per-billion (exact rational arithmetic — no IEEE division
    * in the graded value).
    *
    * Scale shape: the only corpus-scale work is the word-count
    * aggregate (partial-combining, one shuffle keyed on the word);
    * everything after runs on the VOCABULARY, which grows heavily
    * sublinearly (Heaps' law). The exact frequency-rank prefix sum
    * over the vocab uses the shared two-pass bucketed machinery
    * ([[graft.operators.Ranks]]) rather than a single
    * `Window.orderBy(cnt)` over every type — vocabularies hit 10⁸+
    * types at web scale, exactly the single-task funnel the
    * machinery exists to remove. Ties (equal cnt) land in one bucket
    * by value, and (cnt desc, token asc) is a total order, so the
    * rank — and therefore the checkpoint rows — is deterministic.
    */
  def vocabCoverage(docs: DataFrame,
      checkpoints: Seq[Long] = Seq(1L, 3L, 10L, 30L),
      nBuckets: Int = 64): DataFrame = {
    import graft.operators.Ranks.{bucketOffsets, withRangeBucket}
    // the word-count aggregate is consumed FOUR times below (quantile
    // bounds, the ranked rows, both offset tables) and Spark
    // replicates an unspooled subtree into each consumer — spool the
    // vocab-sized frame once so the corpus is scanned and exploded
    // exactly once at any scale (same Scratch pattern as
    // perplexityBuckets)
    val freq = graft.engine.Scratch.checkpoint(
      docs
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt")),
      "vocab-freq")
    val totals = freq.agg(
      count(lit(1)).as("n_types"), sum(col("cnt")).as("total_tokens"))
    val keyed = withRangeBucket(freq, Seq.empty, col("cnt"), nBuckets,
      descending = true)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("cnt").desc, col("token").asc)
    keyed
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("csum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(bucketOffsets(keyed, Seq.empty, lit(1L))
        .withColumnRenamed("b_off", "rank_off")), Seq("bucket"))
      .join(broadcast(bucketOffsets(keyed, Seq.empty, col("cnt"))), Seq("bucket"))
      .withColumn("vocab_rank", col("rank_off") + col("rk"))
      .filter(col("vocab_rank").isin(checkpoints: _*))
      .crossJoin(broadcast(totals))
      .select(
        col("vocab_rank"),
        col("token"),
        col("cnt"),
        (col("b_off") + col("csum")).as("cum_tokens"),
        expr("CAST(((b_off + csum) * 1000000000) DIV total_tokens AS BIGINT)")
          .as("coverage_ppb"),
        col("n_types"),
        col("total_tokens"))
  }

  /** One BPE induction round (Sennrich et al. 2016): the frequency of
    * every adjacent character pair across the corpus, weighted by
    * word occurrence — the statistic whose argmax is the next merge a
    * byte-pair tokenizer learns. Emitted as the top `n` candidate
    * merges, ties broken by pair text (a total order ⇒ deterministic
    * top-n). No end-of-word marker: pairs never cross the whitespace
    * boundary because pairing runs inside each word, which is the
    * marker's only job here.
    *
    * Scale shape: the corpus-scale token stream collapses to the
    * (word, count) vocabulary FIRST (one partial-combining shuffle);
    * the character-pair explode then runs over vocab-sized input —
    * at web scale that is the difference between exploding 10¹³
    * tokens and 10⁸ types. The pair table is alphabet²-bounded
    * (tiny), so the final ordered top-n is a dimension-sized sort.
    * Iterating the full merge loop re-runs this with a re-segmented
    * vocab per round — each round is this same vocab-sized job, never
    * a corpus-scale one.
    */
  /** Score-calibration report: rank every document by a continuous
    * score, cut the ranking into `bins` equal rank bins (bin 0 = the
    * top of the ranking), and report per bin how often an independent
    * boolean reference signal fires — the agreement diagnostic run
    * before trusting a cheap score to gate an expensive stage (a
    * well-calibrated score concentrates the reference positives in
    * its top bins). `scored` carries (doc_id, score), `flags`
    * (doc_id, flag); the report joins on the intersection.
    *
    * Exactness: bins are EXACT rank cuts — ((rank−1)·bins) DIV n on
    * the (score desc, doc_id asc) total order — not approximate
    * quantiles, so the report is engine-reproducible; the per-bin
    * rate is integer ppb. Scale shape: the global ranking rides the
    * shared two-pass bucketed machinery ([[graft.operators.Ranks]]),
    * window width corpus/nBuckets; the joined score+flag frame is
    * spooled once (it feeds quantile bounds, the ranked rows, the
    * offset table, and the total count); output is bins rows.
    */
  def scoreCalibration(scored: DataFrame, flags: DataFrame,
      bins: Int = 10, nBuckets: Int = 64): DataFrame = {
    import graft.operators.Ranks.{bucketOffsets, withRangeBucket}
    require(bins >= 1, s"bins must be positive, got $bins")
    val joined = graft.engine.Scratch.checkpoint(
      scored.join(flags, "doc_id"), "calib-join")
    val keyed = withRangeBucket(joined, Seq.empty, col("score"), nBuckets,
      descending = true)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("score").desc, col("doc_id").asc)
    keyed
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(bucketOffsets(keyed, Seq.empty, lit(1L))), "bucket")
      .withColumn("rank", col("b_off") + col("rk"))
      .crossJoin(broadcast(joined.agg(count(lit(1)).as("n_total"))))
      .withColumn("bin", expr(s"((rank - 1) * $bins) DIV n_total"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("flag"), 1)).as("n_flagged"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .select(col("bin"), col("n_docs"), col("n_flagged"),
        expr("CAST((n_flagged * 1000000000) DIV n_docs AS BIGINT)").as("flag_ppb"),
        col("min_score"), col("max_score"))
  }

  /** Lexical diversity per (lang, source) stratum: distinct
    * 3-word-shingle count over total shingle volume — the corpus-
    * level type/token ratio on the SAME shingle universe the dedup
    * tier hashes, so a stratum whose diversity collapses is
    * boilerplate/templating even before pair-level dedup looks at
    * it. `n_shingles` sums per-document DISTINCT sets (matching the
    * dedup convention); `diversity_ppb` is the overflow-free
    * [[graft.engine.ExactMath.ppbSql]] long division (stratum
    * volumes at 100 TB clear the naive BIGINT·10⁹ line).
    *
    * Scale shape: the shingle-hash explode collapses into TWO
    * map-side-combining aggregates — per-(stratum, shingle) then
    * per-stratum — the distinct-count-via-two-level-agg shape that
    * never holds a stratum in memory; output is strata rows.
    * Cross-engine: counts over 64-bit shingle hashes (Spark) equal
    * counts over distinct shingle strings (oracle) — the established
    * no-collision contract of the whole dedup family.
    */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    // n_docs counts documents with ≥ 1 shingle (the < 3-token rest
    // contribute no lexical mass, matching the dedup convention).
    // Two aggregates consume the shingle frame — persist, or the
    // corpus-wide shingle kernel runs twice.
    val sh = graft.pipeline.Dedup.shingleHashSets(
        docs.select(col("doc_id"), split(col("text"), " ").as("w")))
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .persist()
    try {
      val docStats = sh.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(size(col("hs"))).as("n_shingles"))
      val distinctSh = sh
        .select(col("lang"), col("source"), explode(col("hs")).as("h"))
        .groupBy(col("lang"), col("source"), col("h")).agg(lit(1).as("one"))
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_distinct"))
      val out = docStats.join(distinctSh, Seq("lang", "source"))
        .withColumn("diversity_ppb",
          expr(s"CAST(${graft.engine.ExactMath.ppbSql("n_distinct", "n_shingles", "DIV")} AS BIGINT)"))
      // order AFTER the spool: a parquet re-read guarantees nothing
      graft.engine.Scratch.checkpoint(out, "lexdiv").orderBy("lang", "source")
    } finally {
      sh.unpersist(blocking = true)
      ()
    }
  }

  /** Tokenizer-fertility report per language: characters per token
    * and tokens per document in floored ppb — the numbers a
    * multilingual token-budget plan is built from (a language at 2×
    * the chars-per-token eats twice the context window for the same
    * text; the fertility ratio is THE argument for per-language
    * budget corrections on top of raw char counts, cf. the
    * waterfill allocator). Whitespace tokens (the repo's token
    * convention), n_chars from the documents column (length of
    * text), all-integer.
    *
    * Scale: one map-side-combining aggregate to the language frame.
    */
  def fertility(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("n_chars"),
        size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr(s"CAST(${graft.engine.ExactMath.ppbSql("n_tokens", "n_chars", "DIV")} AS BIGINT)")
          .as("tokens_per_char_ppb"),
        expr("CAST((n_tokens * 1000) DIV n_docs AS BIGINT)").as("tokens_per_doc_x1000"))
      .orderBy("lang")

  /** The frequency-band CASE shared verbatim with the oracle —
    * singleton bands for tf ≤ 5 (hapax/dis/tris legomena, the Zipf
    * tail a tokenizer-vocabulary decision reads), then 6–10,
    * 11–100, 101+.
    */
  val VocabBandSql: String =
    "CAST(CASE WHEN tf <= 5 THEN tf WHEN tf <= 10 THEN 6 " +
      "WHEN tf <= 100 THEN 7 ELSE 8 END AS BIGINT)"

  /** Vocabulary frequency spectrum (frequency-of-frequencies): how
    * many distinct types occur exactly f times, banded — the classic
    * Zipf/Heaps corpus diagnostic (Baayen's LNRE territory): the
    * hapax share predicts vocabulary growth, a fat 101+ band means
    * boilerplate, a thin singleton tail means the corpus is
    * saturating. All-integer: counts plus a floored-ppb type share
    * (the denominator is vocabulary size, orders of magnitude below
    * the BIGINT·10⁹ overflow line even at web scale).
    *
    * Scale shape: the token explode collapses to the vocabulary-
    * sized type-frequency frame in ONE map-side-combining aggregate
    * (the [[bpePairStats]] precedent); banding and the share window
    * run on ≤ 8 rows.
    */
  def vocabSpectrum(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .select(expr(VocabBandSql).as("band_id"), col("tf"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_types"), sum(col("tf")).as("n_tokens"))
      // overflow-free share: the hapax band's n_types alone can pass
      // 9.2e9 on a web-scale corpus, where the naive *10^9 wraps
      .withColumn("type_share_ppb",
        expr(s"CAST(${graft.engine.ExactMath.ppbSql("n_types", "sum(n_types) OVER ()", "DIV")} AS BIGINT)"))
      .orderBy("band_id")

  /** BPE symbol delimiters: every symbol in a segmentation string is
    * wrapped `U+001E symbol U+001F` (record-sep open, unit-sep
    * close). With both ends delimited per symbol, applying a merge
    * (a, b) → ab is ONE plain string replace of `⟨a⟩⟨b⟩` with
    * `⟨ab⟩`, and `replace`'s left-to-right non-overlapping scan IS
    * canonical BPE merge order: adjacent runs merge pairwise from
    * the left (⟨a⟩⟨a⟩⟨a⟩⟨a⟩ → ⟨aa⟩⟨aa⟩), and a pair can never
    * false-match across a symbol boundary (matching (b, c) against
    * ⟨ab⟩⟨c⟩ fails on the missing open mark before `b`). The same
    * replace semantics hold in DuckDB, so the oracle replays the
    * merge chain as generated nested `replace` text over
    * `chr(30)`/`chr(31)`.
    */
  private[pipeline] val BpeOpen = "\u001e"
  private[pipeline] val BpeClose = "\u001f"

  /** The character-split segmentation of `w` with the merge table
    * applied in order, as the delimited string [[BpeOpen]] documents.
    */
  private def bpeSegCol(w: Column, merges: Seq[(String, String)]): Column = {
    val seg0 = array_join(
      transform(sequence(lit(1), length(w)),
        i => concat(lit(BpeOpen), w.substr(i, lit(1)), lit(BpeClose))), "")
    merges.foldLeft(seg0) { case (e, (a, b)) =>
      replace(e, lit(BpeOpen + a + BpeClose + BpeOpen + b + BpeClose),
        lit(BpeOpen + a + b + BpeClose))
    }
  }

  /** The BPE piece array for one word column under a merge table —
    * the tokenizer's eye view of a type.
    */
  def bpePieces(w: Column, merges: Seq[(String, String)]): Column =
    transform(
      filter(split(bpeSegCol(w, merges), BpeClose), x => length(x) > 0),
      x => x.substr(lit(2), length(x)))

  /** BPE merge-table induction (Sennrich et al. 2016) over the
    * (word, count) TYPE vocabulary — the [[bpePairStats]] precedent
    * taken to its fixpoint loop: each round counts adjacent-symbol
    * pair frequencies over the current segmentations (weighted by
    * type count), merges the (freq DESC, pair ASC) argmax everywhere,
    * and repeats. Deterministic: no RNG, exact integer frequencies,
    * total-order tie-break.
    *
    * Scale shape: the corpus collapses to the vocabulary-sized type
    * frame in ONE map-side-combining aggregate up front; each round
    * is then one aggregate over types (not tokens) plus ONE argmax
    * row to the driver (the kCenter / mixDrift bounded-localization
    * precedent — `nMerges` scalars total, never data). The round-i
    * segmentation is the i-fold replace chain over the persisted
    * base — a pure projection, no re-aggregation.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 12): Seq[(String, String)] = {
    require(nMerges >= 1 && nMerges <= 200, s"nMerges in [1, 200], got $nMerges")
    val base = bpeTypeTable(docs).persist()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var continue = true
      for (_ <- 1 to nMerges if continue) {
        val top = bpePairFreq(base, merges.toSeq).limit(1).collect()
        if (top.isEmpty) continue = false
        else merges += ((top(0).getString(0), top(0).getString(1)))
      }
      merges.toSeq
    } finally {
      base.unpersist(blocking = false)
      ()
    }
  }

  /** The (word, count) TYPE vocabulary the induction loops ride —
    * one map-side-combining aggregate over the corpus, after which
    * every round's cost is vocabulary-sized.
    */
  private def bpeTypeTable(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Adjacent-symbol pair frequencies over the current segmentations,
    * in canonical (freq DESC, pair ASC) argmax order — the ONE round
    * statistic both induction variants read.
    */
  private def bpePairFreq(base: DataFrame, merges: Seq[(String, String)]): DataFrame =
    base
      .select(col("cnt"), bpePieces(col("w"), merges).as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("freq"))
      .orderBy(col("freq").desc, col("a").asc, col("b").asc)

  /** Batched BPE induction (r16 verdict #2): a production vocabulary
    * is 30k–50k merges, and [[bpeMerges]] costs one full type-table
    * aggregate + one argmax round-trip PER merge — 50k Spark jobs.
    * The standard batched variant amortizes: each round computes the
    * pair-frequency table ONCE, then greedily takes up to `batch`
    * pairs in canonical (freq DESC, pair ASC) order, skipping any
    * pair that shares a symbol with one already taken this round —
    * non-interacting merges can't invalidate each other's counts or
    * create chain opportunities inside the batch (a pair over a
    * freshly-merged symbol like (x, ab) cannot even be spelled until
    * ab exists), so the batch applies as an ordinary prefix of the
    * merge table. Round count is ⌈nMerges / effective-batch⌉: the
    * n-jobs axis drops from nMerges to nMerges/batch.
    *
    * Equivalence contract: `batch = 1` reproduces [[bpeMerges]]
    * EXACTLY (the greedy pick degenerates to the global argmax) —
    * pinned by a scalacheck law over generated corpora. For
    * `batch > 1` the table may diverge from the sequential one where
    * picks interact ACROSS the batch boundary (a merged symbol's new
    * pairs can out-rank lower batch picks); that is the standard
    * time/fidelity trade every batched trainer makes, and the
    * encoding under whatever table was learned stays exact (the
    * graded q_text_bpe_batched proves it via the replace-chain
    * oracle device).
    *
    * Driver localization stays bounded: each round collects
    * `max(8·want, 64)` candidate rows (k-scalars, never data) —
    * enough to survive conflicts since each taken pair's two symbols
    * can block at most the candidates naming them; if conflicts
    * exhaust the window the round closes short and the next round
    * recounts (correctness unaffected — only the job count moves).
    */
  def bpeMergesBatched(docs: DataFrame, nMerges: Int = 12, batch: Int = 4):
      Seq[(String, String)] =
    bpeMergesBatchedStats(docs, nMerges, batch)._1

  /** One counting round of [[bpeMergesBatchedStats]]: how many pairs
    * the greedy pick took, how many candidates it examined-and-
    * rejected under the shared-symbol rule before filling the batch
    * (the conflict skip-rate numerator), and the window it had.
    */
  final case class BpeRoundStat(taken: Int, skipped: Int, window: Int)

  /** [[bpeMergesBatched]] plus per-round accounting — the spec
    * surface for the round-count law (rounds = ⌈nMerges / batch⌉ as
    * long as each round's 8×-oversized candidate window survives its
    * conflicts, which LawsSpec pins at the 256-merge / 32-batch
    * regime the operator exists for).
    */
  def bpeMergesBatchedStats(docs: DataFrame, nMerges: Int = 12, batch: Int = 4):
      (Seq[(String, String)], Seq[BpeRoundStat]) = {
    require(nMerges >= 1 && nMerges <= 50000, s"nMerges in [1, 50000], got $nMerges")
    require(batch >= 1 && batch <= 1024, s"batch in [1, 1024], got $batch")
    val base = bpeTypeTable(docs).persist()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val rounds = scala.collection.mutable.ArrayBuffer.empty[BpeRoundStat]
      var exhausted = false
      // adaptive candidate window: starts at 8× the batch and doubles
      // (to ≤64×) whenever conflicts exhaust a full window before the
      // batch fills — early rounds are conflict-dense by NATURE (a
      // fresh alphabet of A symbols admits at most ⌊A/2⌋ disjoint
      // pairs, so the first batches can't fill until merges grow the
      // symbol inventory), and a fixed window would close every such
      // round short. Driver localization stays k-scalars: ≤ 64·batch
      // candidate rows, never data-sized.
      var mult = 8
      while (!exhausted && merges.size < nMerges) {
        val want = math.min(batch, nMerges - merges.size)
        val window = math.max(mult * want, 64)
        val cand = bpePairFreq(base, merges.toSeq).limit(window).collect()
        if (cand.isEmpty) exhausted = true
        else {
          val used = scala.collection.mutable.Set.empty[String]
          var taken = 0
          var skipped = 0
          for (r <- cand if taken < want) {
            val (a, b) = (r.getString(0), r.getString(1))
            // the argmax itself can never conflict, so every round
            // with candidates takes >= 1 pair and the loop advances
            if (!used(a) && !used(b)) {
              merges += ((a, b)); used += a; used += b; taken += 1
            } else skipped += 1
          }
          rounds += BpeRoundStat(taken, skipped, cand.length)
          if (taken < want && cand.length >= window) mult = math.min(mult * 2, 64)
        }
      }
      (merges.toSeq, rounds.toSeq)
    } finally {
      base.unpersist(blocking = false)
      ()
    }
  }

  /** Apply a BPE merge table to the corpus — the operator a training
    * pipeline actually runs per document, and the consumer of
    * [[fertility]]'s chars-per-token question: per language, how many
    * pieces does the tokenizer spend per word under this vocabulary.
    * All work happens on the TYPE table (types, not tokens — the
    * [[bpePairStats]] precedent): one aggregate to (lang, word,
    * count), a per-row replace-chain projection, one rollup. Exact
    * integer output (floored-ppb fertility — the house device).
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("seg", bpeSegCol(col("w"), merges))
      .withColumn("n_pieces",
        (length(col("seg")) - length(replace(col("seg"), lit(BpeOpen), lit("")))).cast("long"))
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("cnt") * col("n_pieces")).as("n_pieces"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("n_pieces"),
        expr(s"CAST(${graft.engine.ExactMath.ppbSql("n_pieces", "n_tokens", "DIV")} AS BIGINT)")
          .as("pieces_per_token_ppb"))
      .orderBy("lang")

  // ------------------------------------------------------------------
  // Unigram-LM tokenizer (SentencePiece flavor — Kudo 2018), hard-EM
  // ------------------------------------------------------------------

  /** Max piece length and the DP window it bounds. */
  private[pipeline] val UniMaxPieceLen = 4

  /** Types longer than this are excluded from the unigram model — a
    * deterministic rule the oracle replays; it also keeps the piece
    * count per word < 64 so the encoded DP value decodes uniquely.
    */
  private[pipeline] val UniMaxWordLen = 32

  /** Sentinel cost for "not a piece" — large enough to never win,
    * small enough that 32 of them times 64 stays far from 2⁶³.
    */
  private[pipeline] val UniBigCost = 1099511627776L // 2^40

  /** The unigram type table: (w, cnt) over whitespace tokens with
    * `1 <= length <= UniMaxWordLen` (the oracle replays the filter).
    */
  private def uniTypeTable(docs: DataFrame, withLang: Boolean): DataFrame = {
    val base = docs
      .select((if (withLang) Seq(col("lang")) else Seq.empty[Column]) :+
        explode(split(col("text"), " ")).as("w"): _*)
      .filter(length(col("w")).between(1, UniMaxWordLen))
    if (withLang) base.groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
    else base.groupBy("w").agg(count(lit(1)).as("cnt"))
  }

  /** Viterbi DP over one word under the piece-cost map in column
    * `pcost` (map<string,bigint>, integer micro-nats): positions
    * 0..n, each step appends
    * `min over i in [j-4, j-1] of acc[i] + 64·cost(w[i+1..j]) + 1`
    * — the encoded value `64·Σcost + nPieces`. Because nPieces < 64,
    * minimizing the single integer IS the lexicographic
    * (cost, then fewer pieces) minimum and both components decode
    * uniquely (`DIV 64` / `% 64`). Pure BIGINT arithmetic — the
    * whole DP replays in DuckDB as a `list_reduce(list_prepend(…))`
    * fold with the same map as a generated literal; the only
    * transcendental (ln, for the costs) runs driver-side and rides
    * the side-channel as integers (the DSIR/BM25 precedent).
    */
  private[pipeline] val UniScExpr: String =
    s"""aggregate(
      sequence(1, length(w)),
      array(CAST(0 AS BIGINT)),
      (acc, j) -> concat(acc, array(
        array_min(transform(sequence(greatest(0, j - $UniMaxPieceLen), j - 1),
          i -> element_at(acc, i + 1) +
            (coalesce(element_at(pcost, substring(w, i + 1, j - i)),
                      CAST($UniBigCost AS BIGINT)) * 64 + 1))))))"""

  /** The deterministic argmin predecessor at position `j` given the
    * score list `sc`: the SMALLEST i achieving sc[j] (= the longest
    * final piece on ties) — repeated verbatim wherever the backward
    * walk needs it, since SQL lambdas have no let-binding.
    */
  private def uniArgminExpr(j: String): String =
    s"""array_min(filter(transform(sequence(greatest(0, $j - $UniMaxPieceLen), $j - 1),
        i -> IF(element_at(sc, i + 1) +
                (coalesce(element_at(pcost, substring(w, i + 1, $j - i)),
                          CAST($UniBigCost AS BIGINT)) * 64 + 1)
                = element_at(sc, $j + 1), i, CAST(NULL AS INT))),
      x -> x IS NOT NULL))"""

  /** Backward path walk: from position n, repeatedly jump to the
    * argmin predecessor, collecting pieces (reverse order — callers
    * only count usages). n iterations bound the walk; once j = 0 the
    * steps no-op.
    */
  private[pipeline] val UniPiecesExpr: String = {
    val am = uniArgminExpr("acc.j")
    s"""aggregate(
      sequence(1, length(w)),
      named_struct('j', length(w), 'ps', CAST(array() AS ARRAY<STRING>)),
      (acc, t) -> IF(acc.j <= 0, acc,
        named_struct(
          'j', $am,
          'ps', concat(acc.ps, array(substring(w, $am + 1, acc.j - $am))))),
      acc -> acc.ps)"""
  }

  /** Integer micro-nat costs from frequencies: round(10⁶·(ln Σf −
    * ln f)) — ln runs HERE (driver), never in either engine.
    */
  private def uniCosts(freqs: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = freqs.map(_._2).sum.toDouble
    freqs.sortBy(_._1).map { case (p, f) =>
      p -> math.round(1e6 * (math.log(total) - math.log(f.toDouble)))
    }
  }

  /** Unigram-LM training, hard-EM (Viterbi) variant: seed the piece
    * inventory with every observed character (coverage guarantee)
    * plus the `topK` most frequent substrings of length
    * 2..[[UniMaxPieceLen]] (freq DESC, piece ASC — total order);
    * then each EM round Viterbi-segments every TYPE under the
    * current costs (E — the deterministic smallest-predecessor path)
    * and recomputes costs from add-one-smoothed usage counts (M),
    * dropping multi-char pieces that went unused. Kudo 2018 trains
    * soft-EM over a much larger seed; the hard-EM loop is the same
    * fixed-point shape with the expectation replaced by the Viterbi
    * path — deterministic end-to-end, which is what a graded
    * cross-engine artifact needs.
    *
    * Driver localization: the piece table (≤ alphabet + topK rows)
    * and per-round usage counts (≤ table size) — model-sized, like
    * k-means centroids; never data-sized.
    */
  /** The SEED piece table (pre-EM): every observed character plus
    * the topK most frequent substrings of length 2..4, costed from
    * raw substring frequencies. Exposed separately because the
    * ambiguity operator grades the seed stage against the trained
    * one (training collapses the lattice).
    */
  def unigramSeedTable(docs: DataFrame, topK: Int = 48): Seq[(String, Long)] = {
    val types = uniTypeTable(docs, withLang = false).persist()
    try unigramSeedFromTypes(types, topK)
    finally { types.unpersist(blocking = false); () }
  }

  /** [[unigramSeedTable]] over an already-derived (ideally persisted)
    * type table — the seed's two collect actions (char frequencies,
    * top-K substrings) otherwise re-derive the corpus tokenize +
    * distinct-type aggregate once EACH (and a trainer calling the
    * public wrapper pays a third derivation for its own type table).
    */
  private def unigramSeedFromTypes(types: DataFrame, topK: Int): Seq[(String, Long)] = {
    require(topK >= 1 && topK <= 4096, "topK in [1,4096]")
    val chars = types
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // guarded per-length substring explode: sequence(a, b) with
    // a > b DESCENDS, so short words emit an empty array instead
    val multi = types
      .select(explode(expr(
        s"""flatten(transform(sequence(2, $UniMaxPieceLen),
            L -> CASE WHEN length(w) >= L
                 THEN transform(sequence(1, length(w) - L + 1), i -> substring(w, i, L))
                 ELSE CAST(array() AS ARRAY<STRING>) END))""")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("f"))
      .orderBy(col("f").desc, col("piece").asc)
      .limit(topK)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    uniCosts(chars ++ multi)
  }

  def unigramTrain(docs: DataFrame, rounds: Int = 2, topK: Int = 48): Seq[(String, Long)] =
    unigramTrainImpl(docs, None, rounds, topK)

  /** [[unigramTrain]] continuing from an already-computed seed table —
    * for callers that grade the seed stage BESIDE the trained one
    * (the ambiguity contrast): the seed's substring sweep is paid
    * once, not recomputed inside the trainer.
    */
  def unigramTrainFrom(docs: DataFrame, seed: Seq[(String, Long)],
      rounds: Int = 2, topK: Int = 48): Seq[(String, Long)] =
    unigramTrainImpl(docs, Some(seed), rounds, topK)

  private def unigramTrainImpl(docs: DataFrame, seed: Option[Seq[(String, Long)]],
      rounds: Int, topK: Int): Seq[(String, Long)] = {
    require(rounds >= 1 && rounds <= 10 && topK >= 1 && topK <= 4096, "rounds in [1,10], topK in [1,4096]")
    val types = uniTypeTable(docs, withLang = false).persist()
    try {
      // the seed's two collects ride the SAME persisted type table as
      // the EM rounds (pre-r21 the seed derived its own, twice)
      var table = seed.getOrElse(unigramSeedFromTypes(types, topK))
      for (_ <- 1 to rounds) {
        val usages = types
          .withColumn("pcost", typedlit(table.toMap))
          .withColumn("sc", expr(UniScExpr))
          .select(explode(expr(UniPiecesExpr)).as("piece"), col("cnt"))
          .groupBy("piece").agg(sum(col("cnt")).as("f"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val kept = table.map(_._1)
          .filter(p => p.length == 1 || usages.getOrElse(p, 0L) > 0L)
        table = uniCosts(kept.map(p => p -> (usages.getOrElse(p, 0L) + 1L)))
      }
      table
    } finally {
      types.unpersist(blocking = false)
      ()
    }
  }

  /** Optimal-path COUNTING DP over one word given the score list
    * `sc` (and `w`, `pcost`): `ways[j] = Σ ways[i]` over the window
    * predecessors i whose edge achieves `sc[j]` exactly — the number
    * of distinct cost-optimal segmentations of each prefix. Pure
    * BIGINT: counts are bounded by the compositions of 32 into parts
    * ≤ 4 (tetranacci(32) ≈ 1.1·10⁸ — far from overflow), and the
    * edge test reuses the [[UniScExpr]] encoded values verbatim, so
    * "optimal" means the SAME (cost, pieces) lexicographic optimum
    * both engines agree on.
    */
  private[pipeline] val UniWaysExpr: String =
    s"""aggregate(
      sequence(1, length(w)),
      array(CAST(1 AS BIGINT)),
      (acc, j) -> concat(acc, array(
        aggregate(
          transform(sequence(greatest(0, j - $UniMaxPieceLen), j - 1),
            i -> IF(element_at(sc, i + 1) +
                (coalesce(element_at(pcost, substring(w, i + 1, j - i)),
                          CAST($UniBigCost AS BIGINT)) * 64 + 1)
                = element_at(sc, j + 1), element_at(acc, i + 1), CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT),
          (s2, x) -> s2 + x))),
      a -> element_at(a, size(a)))"""

  /** Half-nat cost quantization for the ambiguity measurement:
    * HALF_UP on non-negative micro-nats. Exact micro-nat totals
    * essentially never tie (they are ~8-significant-digit integers),
    * so ambiguity under RAW costs is degenerately zero — the
    * informative question is ε-OPTIMAL ambiguity, "how many
    * segmentations are within the same half-nat cost bucket", which
    * is the near-tie notion subword-regularization sampling actually
    * exploits. ONE driver-side function feeds the Spark query and
    * the oracle generator, so the two engines always quantize the
    * same table to the same integers.
    */
  def quantizeHalfNat(pieces: Seq[(String, Long)]): Seq[(String, Long)] =
    pieces.map { case (p, c) => p -> ((c + 250000L) / 500000L) }

  /** Tokenizer lattice ambiguity under a (quantized) unigram piece
    * table: per language, how many TYPES (and what token-weighted
    * share of the corpus) have MORE THAN ONE cost-optimal
    * segmentation — the statistic behind subword-regularization
    * sampling (Kudo 2018 §3.2 samples from the n-best lattice; a
    * corpus where the optimum is mostly unique gains little from
    * sampling, one where near-ties abound needs a temperature).
    * Callers pass [[quantizeHalfNat]]-ed costs for the informative
    * ε-optimal reading. Exact: the counting DP rides the same
    * encoded integer scores as [[unigramEncode]], so a "tie" is a
    * tie in (quantized-cost, pieces) lexicographic order — both
    * engines count the identical path set.
    */
  def unigramAmbiguity(docs: DataFrame, pieces: Seq[(String, Long)]): DataFrame =
    uniTypeTable(docs, withLang = true)
      .withColumn("pcost", typedlit(pieces.toMap))
      .withColumn("sc", expr(UniScExpr))
      .withColumn("ways", expr(UniWaysExpr))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("ways") > 1L, 1L).otherwise(0L)).as("n_ambig_types"),
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("ways") > 1L, col("cnt")).otherwise(0L)).as("n_ambig_tokens"),
        max(col("ways")).as("max_ways"))
      .select(col("lang"), col("n_types"), col("n_ambig_types"),
        expr(s"CAST(${graft.engine.ExactMath.ppbSql("n_ambig_types", "n_types", "DIV")} AS BIGINT)")
          .as("ambig_type_share_ppb"),
        col("n_tokens"), col("n_ambig_tokens"),
        expr(s"CAST(${graft.engine.ExactMath.ppbSql("n_ambig_tokens", "n_tokens", "DIV")} AS BIGINT)")
          .as("ambig_token_share_ppb"),
        col("max_ways"))
      .orderBy("lang")

  /** Apply a unigram piece table to the corpus: per language, exact
    * Viterbi-optimal piece counts and total path cost over the type
    * table — the unigram counterpart of [[bpeEncode]]'s fertility
    * rollup. All integers; the oracle replays the DP itself.
    */
  def unigramEncode(docs: DataFrame, pieces: Seq[(String, Long)]): DataFrame =
    uniTypeTable(docs, withLang = true)
      .withColumn("pcost", typedlit(pieces.toMap))
      .withColumn("sc", expr(UniScExpr))
      .withColumn("val", expr("element_at(sc, size(sc))"))
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(expr("cnt * (val % 64)")).as("n_pieces"),
        sum(expr("cnt * (val DIV 64)")).as("cost_micro"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("n_pieces"), col("cost_micro"),
        expr(s"CAST(${graft.engine.ExactMath.ppbSql("n_pieces", "n_tokens", "DIV")} AS BIGINT)")
          .as("pieces_per_token_ppb"))
      .orderBy("lang")

  /** Tokenize-then-budget capstone (r17 verdict #7): under THIS
    * trained unigram tokenizer, how many documents fit per language
    * inside a waterfilled piece budget — the context-window planning
    * question a multilingual training run actually asks, as one
    * graded artifact chaining the tokenizer family into the
    * allocator family.
    *
    * Stages, each the established scale shape:
    *  1. per-TYPE Viterbi piece counts (the [[unigramEncode]] DP,
    *     once per distinct word — vocab-sized compute) joined back
    *     to the (doc, word) stream; words outside the model's
    *     1..[[UniMaxWordLen]] band cost nothing (they're outside the
    *     tokenizer, the oracle replays the filter);
    *  2. per-document piece costs (one doc-keyed aggregate);
    *  3. per-language availability → the
    *     [[graft.pipeline.Corpus.waterfillAlloc]] closed form
    *     (exact integer allocation, budget = total·num DIV den);
    *  4. greedy fill in doc_id order per language — cumulative piece
    *     sums via the bucketed two-pass ([[graft.operators.Ranks]]),
    *     never a corpus-wide single window partition.
    *
    * Output per language: document/piece availability, the exact
    * allocation, and how many whole documents (and pieces) fit.
    */
  def tokenizeBudget(docs: DataFrame, pieces: Seq[(String, Long)],
      budgetNum: Int = 1, budgetDen: Int = 2, nBuckets: Int = 64): DataFrame = {
    import graft.operators.Ranks
    val toks = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")).between(1, UniMaxWordLen))
    // DP once per distinct word; the stream join back is an equi-join
    // on the word — vocab-sized build side at any corpus scale
    val types = toks.select("w").distinct()
      .withColumn("pcost", typedlit(pieces.toMap))
      .withColumn("sc", expr(UniScExpr))
      .select(col("w"), expr("CAST(element_at(sc, size(sc)) % 64 AS BIGINT)").as("np"))
    val docp = graft.engine.Scratch.checkpoint(
      toks.join(types, Seq("w"))
        .groupBy("doc_id", "lang")
        .agg(sum(col("np")).as("doc_pieces")),
      "tokbudget-docp") // consumed 3x: availability, offsets, fill
    val avail = docp.groupBy("lang").agg(
      count(lit(1)).as("n_docs"), sum(col("doc_pieces")).as("avail"))
    val alloc = Corpus.waterfillAlloc(avail.select(col("lang"), col("avail")),
      budgetNum, budgetDen).select(col("lang"), col("alloc"), col("capped"))
    val keyed = Ranks.withRangeBucket(docp, Seq("lang"), col("doc_id"),
      nBuckets, descending = false)
    val wIn = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fill = keyed
      .withColumn("cum_in", sum(col("doc_pieces")).over(wIn))
      .join(broadcast(Ranks.bucketOffsets(keyed, Seq("lang"), col("doc_pieces"))),
        Seq("lang", "bucket"))
      .withColumn("cum", col("b_off") + col("cum_in"))
      .join(broadcast(alloc), Seq("lang"))
      .filter(col("cum") <= col("alloc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs_fit"), max(col("cum")).as("pieces_used"))
    avail.join(alloc, Seq("lang"))
      .join(fill, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("avail").as("avail_pieces"),
        col("alloc").as("alloc_pieces"), col("capped"),
        coalesce(col("n_docs_fit"), lit(0L)).as("n_docs_fit"),
        coalesce(col("pieces_used"), lit(0L)).as("pieces_used"))
      .orderBy("lang")
  }

  def bpePairStats(docs: DataFrame, n: Int = 20): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .filter(length(col("w")) >= 2)
      // sequence(1, 0) would yield the DESCENDING [1, 0] — the
      // length filter above keeps the range non-empty
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
        col("cnt"))
      .groupBy("pair").agg(sum(col("cnt")).as("freq"))
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(n)

  /** The three PII patterns, shared verbatim with the DuckDB oracle.
    * Deliberately restricted to the regex subset Java's engine and
    * RE2 evaluate identically (character classes, bounded repeats,
    * alternation-free) — no backreferences, no lookaround, no \b.
    */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val PiiIpv4Re  = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PiiPhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII detection + redaction — the scrub pass every public-web
    * training corpus runs (C4 / RefinedWeb lineage): per document,
    * exact match counts for emails / IPv4 addresses / phone numbers
    * and the text with each occurrence replaced by its class token
    * (`[EMAIL]` / `[IP]` / `[PHONE]`). Redaction order
    * email → ip → phone is fixed; the class tokens contain no
    * pattern characters, so no replacement can create a later match.
    * Pure per-row regex projection — no shuffle, runs inside the
    * scan stage at any corpus size; counts and the redacted-length
    * delta are exact integers the oracle recomputes with the SAME
    * patterns (RE2 ≡ Java on this subset).
    */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(t, lit(PiiEmailRe), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(t, lit(PiiIpv4Re), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(t, lit(PiiPhoneRe), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(t,
          PiiEmailRe, "[EMAIL]"), PiiIpv4Re, "[IP]"), PiiPhoneRe, "[PHONE]"))
  }

  /** Compression-ratio quality signal: DEFLATE size over raw UTF-8
    * size, floored integer ppb — the cheap gibberish/boilerplate
    * detector of web-corpus pipelines (CCNet/RefinedWeb lineage):
    * highly repetitive spam compresses far below natural prose,
    * random character noise barely compresses at all, so a keep band
    * `[lowPpb, highPpb]` cuts both tails with one per-row scalar
    * pass — no shuffle, no model, runs inside the scan stage.
    *
    * Exactness: the compressed size comes from the native
    * [[org.apache.spark.sql.graft.DeflateSize]] expression (codegen,
    * deterministic per JDK); the RATIO and the keep decision are
    * floored-integer ppb arithmetic on two BIGINTs — the house
    * device, so the oracle recomputes them relationally from the
    * exported sizes with zero float involvement. Empty documents
    * pin to ratio 10⁹ (incompressible by convention) and drop.
    */
  def compressionStats(docs: DataFrame, level: Int = 6,
      lowPpb: Long = 420000000L, highPpb: Long = 880000000L): DataFrame =
    docs
      .select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        org.apache.spark.sql.graft.DeflateSize(col("text"), level)
          .cast("long").as("comp_bytes"))
      .withColumn("ratio_ppb",
        when(col("n_bytes") === 0L, lit(1000000000L))
          .otherwise(expr("(comp_bytes * 1000000000) DIV n_bytes")))
      .withColumn("keep",
        when(col("ratio_ppb").between(lowPpb, highPpb), 1L).otherwise(0L))

  // ---------------------------------------------------------------
  // Trained multinomial Naive-Bayes classifier (model-based filtering
  // — the CCNet/fastText pattern: heuristic gates like gopherRules
  // catch rule-shaped junk, a TRAINED classifier catches
  // distribution-shaped junk; langid/quality classifiers of this
  // family gate most published web-corpus pipelines)
  // ---------------------------------------------------------------

  /** Whitespace tokens with empties dropped — the corpus token
    * definition shared by the NB trainer, the scorer, and the DuckDB
    * replay (`string_split` + `w <> ''`).
    */
  private def nbToks: Column = expr("filter(split(text, ' '), w -> w <> '')")

  /** A trained multinomial Naive-Bayes model in integer micro-nats.
    *
    * Every quantity is an integer so scoring is hash-exact across
    * engines (the BM25/unigram-LM micro-nat device): `priors(i)` =
    * round(10⁶·(ln N − ln N_i)) over training DOC counts,
    * `vocabCosts(w)(i)` = round(10⁶·(ln(T_i + |vocab| + 1) −
    * ln(n_{i,w} + 1))) over training TOKEN counts with Laplace +1
    * smoothing, and `oovCosts(i)` the same formula over the pooled
    * out-of-vocabulary bucket (so unseen test words still carry
    * class-conditional mass instead of being dropped). Classes are
    * sorted ascending — ties in scoring resolve to the
    * lexicographically smallest class by construction.
    *
    * The model is MODEL-sized (|classes|·(|vocab|+1) longs), never
    * data-sized — the k-means-centroid localization precedent.
    */
  case class NbModel(classes: Vector[String], priors: Vector[Long],
      vocabCosts: Map[String, Vector[Long]], oovCosts: Vector[Long]) {
    require(classes.nonEmpty, "NB model needs at least one class")
    require(priors.length == classes.length && oovCosts.length == classes.length,
      "per-class vectors must align with the class list")
  }

  /** Train a multinomial NB classifier on `train`'s `text` against
    * the label column. Vocabulary = the `topV` tokens by document
    * frequency (ties → token asc); everything else pools into the
    * OOV bucket, which keeps the model bounded no matter how large
    * the corpus vocabulary grows.
    *
    * Scale shape: three aggregate passes (a distinct-token df count,
    * a (label, token) count, and a per-label doc count), all map-side
    * combined, all collapsing to at most |vocab|·|classes| + |vocab|
    * rows — the driver localizes only the MODEL, exactly like the IVF
    * centroid and unigram piece tables. At 100 TB the passes are
    * scans, so callers should hand in a MATERIALIZED train frame
    * (the queries checkpoint the planted split via Scratch) rather
    * than one whose lineage re-derives per pass; no data-sized state
    * ever reaches the driver.
    */
  def nbTrain(train: DataFrame, labelCol: String = "lang", topV: Int = 64): NbModel = {
    val vocab: Vector[String] = train
      .select(explode(array_distinct(nbToks)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w").asc)
      .limit(topV)
      .collect().map(_.getString(0)).toVector
    require(vocab.nonEmpty, "NB training corpus has no tokens")
    val counts: Map[(String, Option[String]), Long] = train
      .select(col(labelCol).as("cls"), explode(nbToks).as("w"))
      .withColumn("vw", when(col("w").isin(vocab: _*), col("w")))
      .groupBy("cls", "vw").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), Option(r.getString(1))) -> r.getLong(2)).toMap
    val docCounts: Map[String, Long] = train
      .groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val classes = docCounts.keys.toVector.sorted
    val nDocs = docCounts.values.sum
    val totals: Map[String, Long] =
      classes.map(c => c -> counts.collect { case ((`c`, _), n) => n }.sum).toMap
    val smooth = vocab.size + 1 // vocab buckets + the OOV bucket
    def cost(c: String, w: Option[String]): Long =
      math.round(1e6 * (math.log((totals(c) + smooth).toDouble) -
        math.log((counts.getOrElse((c, w), 0L) + 1L).toDouble)))
    NbModel(
      classes,
      classes.map(c =>
        math.round(1e6 * (math.log(nDocs.toDouble) - math.log(docCounts(c).toDouble)))),
      vocab.map(w => w -> classes.map(c => cost(c, Some(w)))).toMap,
      classes.map(c => cost(c, None)))
  }

  /** Score documents under a trained [[NbModel]]: appends `predicted`
    * (the argmin-cost class, ties → lexicographically smallest),
    * `nb_cost_unats` (the winning class's total micro-nat cost) and
    * `margin_unats` (runner-up minus winner — the exact-integer
    * confidence a filter thresholds on; NULL for single-class
    * models). Documents with no tokens are excluded — there is
    * nothing to condition on.
    *
    * Scale shape: the model broadcasts as literals and scoring is a
    * pure per-row HOF fold (one `aggregate` over the token array
    * `zip_with`-summing per-class costs) — zero shuffle, zero
    * explode, runs inside the scan stage at any corpus size; the
    * 100 TB cost is exactly one pass over the text bytes.
    */
  def nbScore(docs: DataFrame, model: NbModel): DataFrame = {
    val classesArr = array(model.classes.map(lit): _*)
    val priorArr = array(model.priors.map(lit): _*)
    val oovArr = array(model.oovCosts.map(lit): _*)
    val costMap = map(model.vocabCosts.toSeq.sortBy(_._1)
      .flatMap { case (w, cs) => Seq(lit(w), array(cs.map(lit): _*)) }: _*)
    val sorted = array_sort(col("nb_cost_arr"))
    docs
      .withColumn("nb_toks", nbToks)
      .filter(size(col("nb_toks")) > 0)
      .withColumn("nb_cost_arr", aggregate(col("nb_toks"), priorArr,
        // try_element_at: ANSI element_at throws on missing map keys
        (acc, w) => zip_with(acc, coalesce(try_element_at(costMap, w), oovArr), _ + _)))
      .withColumn("nb_cost_unats", array_min(col("nb_cost_arr")))
      .withColumn("predicted", element_at(classesArr,
        array_position(col("nb_cost_arr"), array_min(col("nb_cost_arr"))).cast("int")))
      .withColumn("margin_unats",
        if (model.classes.length < 2) lit(null).cast("long")
        else element_at(sorted, 2) - element_at(sorted, 1))
      .drop("nb_toks", "nb_cost_arr")
  }

  /** Greedy longest-match-first segmentation of one word under the
    * piece-cost map in column `pcost` — the WordPiece/BERT encoder
    * rule: at each position take the LONGEST table piece (≤
    * [[UniMaxPieceLen]]) matching there, else consume one character
    * at the [[UniBigCost]] unknown sentinel (the same fallback the
    * Viterbi DP charges, so greedy and optimal segmentations price
    * identically and the greedy encoded value is ≥ the DP's by
    * construction). Same `64·Σcost + nPieces` encoding as
    * [[UniScExpr]]; pure BIGINT arithmetic, replayed in DuckDB as a
    * `list_reduce` fold over the same generated map literal.
    */
  private[pipeline] val WpScExpr: String = {
    val best =
      s"""array_max(filter(sequence(1, least($UniMaxPieceLen, length(w) - acc.j)),
          l -> element_at(pcost, substring(w, acc.j + 1, l)) IS NOT NULL))"""
    s"""aggregate(
      sequence(1, length(w)),
      named_struct('j', 0, 'enc', CAST(0 AS BIGINT)),
      (acc, t) -> IF(acc.j >= length(w), acc,
        named_struct(
          'j', acc.j + coalesce($best, 1),
          'enc', acc.enc +
            coalesce(element_at(pcost, substring(w, acc.j + 1, coalesce($best, 1))),
                     CAST($UniBigCost AS BIGINT)) * 64 + 1)),
      acc -> acc.enc)"""
  }

  /** Greedy (WordPiece-family) vs Viterbi-optimal (unigram-LM)
    * encoding under the SAME trained piece inventory: per language,
    * token counts, piece counts under both encoders, the greedy
    * micro-nat cost, how many tokens greedy segments suboptimally,
    * and the greedy/optimal piece-count inflation in floored ppb —
    * the measured price of the O(n) greedy rule the BERT tokenizer
    * family pays over the O(n·L) DP, which is exactly what a
    * tokenizer migration weighs.
    *
    * Scale shape: both folds run once per DISTINCT word on the type
    * table (vocab-sized compute at any corpus size, the
    * [[unigramEncode]] argument); the rollup is one |langs|-row
    * aggregate. Exactness: both encoders emit the `64·cost + pieces`
    * BIGINT encoding over the same side-channeled integer cost map —
    * greedy ≥ optimal holds as an integer inequality, never a float
    * comparison.
    */
  def wordpieceEncode(docs: DataFrame, pieces: Seq[(String, Long)]): DataFrame =
    uniTypeTable(docs, withLang = true)
      .withColumn("pcost", typedlit(pieces.toMap))
      .withColumn("sc", expr(UniScExpr))
      .withColumn("vval", expr("element_at(sc, size(sc))"))
      .withColumn("genc", expr(WpScExpr))
      .groupBy("lang")
      .agg(
        sum(col("cnt")).as("n_tokens"),
        sum(expr("cnt * (vval % 64)")).as("viterbi_pieces"),
        sum(expr("cnt * (genc % 64)")).as("greedy_pieces"),
        sum(expr("cnt * (genc DIV 64)")).as("greedy_cost_micro"),
        // genc ≥ vval holds per word (same cost function, greedy is
        // one of the segmentations the DP minimizes over), so the
        // excess is a direct per-token micro-nat likelihood loss
        sum(expr("cnt * (genc DIV 64 - vval DIV 64)")).as("excess_cost_micro"),
        sum(expr("IF(genc > vval, cnt, CAST(0 AS BIGINT))")).as("n_suboptimal_tokens"))
      .select(col("lang"), col("n_tokens"), col("viterbi_pieces"), col("greedy_pieces"),
        col("greedy_cost_micro"), col("excess_cost_micro"), col("n_suboptimal_tokens"),
        expr(s"CAST(${graft.engine.ExactMath.ppbSql("greedy_pieces", "viterbi_pieces", "DIV")} AS BIGINT)")
          .as("inflation_ppb"))
      .orderBy("lang")

  /** Dictionary gate — the filter q_text_dict_tags's report precedes:
    * per language, how many documents a blocklist REMOVES (any term
    * occurring as a substring) and the character volume lost, with
    * the blocked share in floored ppb. Same one-automaton-pass
    * argument as [[dictTags]]; the per-document reduction is a HOF
    * sum over the counts vector, so the gate adds nothing to the
    * scan cost. Terms may span token boundaries (phrases) — the
    * substring semantics regex-per-token approaches miss.
    */
  def dictGate(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "dictionary must not be empty")
    docs
      .withColumn("hits",
        org.apache.spark.sql.graft.DictMatchCounts(col("text"), terms))
      .withColumn("blocked", expr("aggregate(hits, 0L, (a, b) -> a + b) > 0"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
        sum(when(col("blocked"), length(col("text")).cast("long")).otherwise(0L))
          .as("chars_blocked"))
      .select(col("lang"), col("n_docs"), col("n_blocked"), col("chars_blocked"),
        expr(s"CAST(${graft.engine.ExactMath.ppbSql("n_blocked", "n_docs", "DIV")} AS BIGINT)")
          .as("blocked_ppb"))
      .orderBy("lang")
  }

  /** Dictionary tagging report: per (lang, term), the total number of
    * occurrences (overlaps included) and documents touched — the
    * blocklist/taxonomy stage of a corpus pipeline (the C4 "bad
    * words" filter shape), matched by ONE Aho-Corasick pass per
    * document ([[org.apache.spark.sql.graft.DictMatchCounts]])
    * instead of |dictionary| regexp scans.
    *
    * Scale shape: the per-document counts vector aggregates as
    * |terms| fixed SUM columns (map-side combined — the shuffle
    * carries langs × terms longs, not an exploded (doc, term)
    * stream), and the wide→long pivot is a `stack` over the already
    * aggregated frame. At 100 TB the cost is one automaton pass in
    * the scan stage.
    */
  def dictTags(docs: DataFrame, terms: Seq[String],
      caseInsensitive: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "dictionary must not be empty")
    val tagged = docs.withColumn("hits",
      org.apache.spark.sql.graft.DictMatchCounts(col("text"), terms, caseInsensitive))
    val aggs = terms.indices.map(i =>
      sum(element_at(col("hits"), i + 1)).as(s"h_$i")) ++
      terms.indices.map(i =>
        sum(when(element_at(col("hits"), i + 1) > 0, 1L).otherwise(0L)).as(s"d_$i"))
    val wide = tagged.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
    val cells = terms.zipWithIndex
      // Spark SQL string literals are backslash-escaped: a term
      // containing \ or ' must escape BOTH or the emitted `term`
      // label diverges from the dictionary term the automaton matched
      .map { case (t, i) =>
        s"'${t.replace("\\", "\\\\").replace("'", "\\'")}', h_$i, d_$i" }
      .mkString(", ")
    wide
      .selectExpr("lang", s"stack(${terms.length}, $cells) AS (term, n_hits, n_docs)")
      .orderBy("lang", "term")
  }
}
