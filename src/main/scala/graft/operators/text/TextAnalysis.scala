package graft.operators.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale corpus pipelines: tokenization,
  * quality scoring, language identification, and content fingerprinting.
  * All pure Column expressions (whole-stage codegen; no UDFs), designed to
  * run as a single projection over a 100 TB documents table.
  */
object TextAnalysis {

  /** Whitespace tokenization of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Crude BPE-ish subword estimate: whitespace tokens plus intra-word
    * splits every 6 characters (long words cost extra tokens).
    */
  def tokenEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + lit(1L) + (length(t).cast("long") / 6).cast("long"))

  private val stopEn = Seq("the", "and", "of")
  private val stopDe = Seq("der", "und", "das")
  private val stopFr = Seq("le", "et", "les")
  private val stopEs = Seq("el", "los", "por")

  private def hitCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => words.map(w => t === w).reduce(_ || _)))

  /** n-gram/stopword language-ID heuristic: per-language stopword hit
    * counts, argmax with a fixed priority order on ties.
    */
  def langGuess(text: Column): Column = {
    val en = hitCount(text, stopEn)
    val de = hitCount(text, stopDe)
    val fr = hitCount(text, stopFr)
    val es = hitCount(text, stopEs)
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Quality metrics in exact integer per-mille (cross-engine safe:
    * integer floor division only, no raw ratios).
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val tc = size(tokens(text)).cast("long")
    val chars = length(text).cast("long")
    val punct = chars - length(regexp_replace(text, "[.,!?;:]", "")).cast("long")
    val letters = length(regexp_replace(trim(text), " ", "")).cast("long")
    val stopHits = hitCount(text, stopEn).cast("long")
    Seq(
      "token_count" -> tc,
      "char_count" -> chars,
      "punct_count" -> punct,
      // average word length ×1000 (floor division; exact integers)
      "avg_word_len_k" -> floor(letters * 1000 / tc).cast("long"),
      "stopword_pm" -> floor(stopHits * 1000 / tc).cast("long"))
  }

  /** Bag-of-words document fingerprint: md5 of the sorted distinct token
    * list. Deterministic, order-insensitive — near-dup docs that permute
    * words collide (the cheap first pass before MinHash).
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Word 3-gram shingles (distinct, first-occurrence order), the unit set
    * for Jaccard similarity. Documents shorter than 3 tokens yield an empty
    * set. One-pass native expression — the tokenization runs once per row
    * (see [[graft.expressions.WordShingles]] for why the lambda-composed
    * form re-splits the text per shingle).
    */
  def shingles(text: Column): Column =
    graft.expressions.Sketches.wordShingles(tokens(text), 3)

  /** Rule-based document quality filter (the decision step over the
    * quality metrics — C4/Gopher-style): keep documents with enough
    * tokens, sane average word length, and some stopword signal. Returns
    * the verdict and the first failed rule (for corpus diagnostics).
    */
  def qualityVerdict(text: Column, minTokens: Int = 5, maxTokens: Int = 100000,
      minAvgWordLenK: Int = 2000, maxAvgWordLenK: Int = 12000): (Column, Column) = {
    val tc = size(tokens(text)).cast("long")
    val letters = length(regexp_replace(trim(text), " ", "")).cast("long")
    val awlk = floor(letters * 1000 / tc).cast("long")
    val stops = hitCount(text, stopEn).cast("long")
    val reason = when(tc < minTokens, "too_short")
      .when(tc > maxTokens, "too_long")
      .when(awlk < minAvgWordLenK, "words_too_short")
      .when(awlk > maxAvgWordLenK, "words_too_long")
      .when(stops === 0, "no_stopwords")
      .otherwise("ok")
    (reason === "ok", reason)
  }

  /** Deterministic corpus split by content hash: stable across runs,
    * engines, and partitionings (md5 is engine-portable; the first hex
    * nibble buckets 0..15). `trainNibbles` of 16 go to train.
    */
  def splitLabel(text: Column, trainNibbles: Int = 13): Column =
    when(graft.expressions.PortableHash.md5Prefix(text, 1).cast("int")
        < trainNibbles,
      "train").otherwise("eval")

  /** PII patterns: email addresses and a NANP-style phone shape. Plain
    * character-class regexes only (no lookaround/backreferences), so Java
    * regex (Spark) and RE2 (DuckDB oracle) match identically.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+1 555 [0-9]{4}"

  /** PII detection + redaction columns: match counts per pattern and the
    * text with every match replaced by a placeholder (scrubbing pass of a
    * training-data pipeline). Pure regexp expressions — one codegen'd
    * projection over the corpus, no UDFs.
    */
  def piiColumns(text: Column): Seq[(String, Column)] = {
    val redacted = regexp_replace(
      regexp_replace(text, emailRe, "[EMAIL]"), phoneRe, "[PHONE]")
    Seq(
      "emails" -> regexp_count(text, lit(emailRe)).cast("long"),
      "phones" -> regexp_count(text, lit(phoneRe)).cast("long"),
      "redacted_md5" -> md5(redacted))
  }

  /** Cross-corpus boilerplate scrub (the CCNet/RefinedWeb line-level
    * dedup, REWRITING variant): sentences that occur in more than `maxDf`
    * distinct documents are navigation chrome / legal footers / template
    * text — remove them from every document and reassemble the remainder
    * in original order. The detection-only companion is the
    * sentence-dedup query; this is the operator that actually cleans the
    * corpus.
    *
    * Returns (id, clean_text, kept_sents, dropped_sents) — one row per
    * input document, including documents scrubbed down to nothing
    * (clean_text = '').
    *
    * Scale shape: document frequency is counted on 8-byte sentence
    * hashes once per (doc, sentence) — one shuffle whose payload never
    * carries the text. The hot set (df > maxDf) is by construction small
    * — each entry costs > maxDf documents, so there are < n/maxDf of
    * them — and broadcasts into a left-anti join, so the per-sentence
    * rows shuffle only once more for the per-document reassembly.
    * Reassembly sorts each document's surviving sentences by original
    * position inside the aggregate (array_sort over (pos, sent) structs)
    * — no window, no second sort.
    */
  def scrubBoilerplate(df: DataFrame, idCol: String, textCol: String,
      maxDf: Int): DataFrame = {
    val sents = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\\. ")).as(Seq("pos", "raw")))
      .select(col("id"), col("pos"), trim(col("raw")).as("sent"))
      .where(length(col("sent")) > 0)
    // df = distinct documents (a sentence repeated inside ONE document is
    // repetition, not boilerplate — it must not count toward the cap)
    val hot = sents.select(col("id"), xxhash64(col("sent")).as("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("docs"))
      .where(col("docs") > maxDf)
      .select("h")
    val kept = sents.join(broadcast(hot),
      xxhash64(col("sent")) === hot("h"), "left_anti")
    val clean = kept.groupBy("id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("sent")))),
        x => x("sent")), ". ").as("clean_text"),
      count(lit(1)).as("kept_sents"))
    // every input doc survives, even fully-scrubbed ones
    val totals = sents.groupBy("id").agg(count(lit(1)).as("total_sents"))
    totals.join(clean, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_sents"), lit(0L)).as("kept_sents"),
        (col("total_sents") - coalesce(col("kept_sents"), lit(0L)))
          .as("dropped_sents"))
  }

  /** Within-document n-gram repetition (the Gopher duplicate-n-gram
    * fraction): total n-gram count, distinct n-gram count, duplicate
    * fraction in exact integer per-mille.
    */
  def ngramRepetition(text: Column, n: Int = 3): Seq[(String, Column)] = {
    val total = greatest(size(tokens(text)) - (n - 1), lit(0)).cast("long")
    val dist = size(graft.expressions.Sketches.wordShingles(tokens(text), n))
      .cast("long")
    Seq(
      "gram_total" -> total,
      "gram_distinct" -> dist,
      "dup_pm" -> when(total > 0, floor((total - dist) * 1000 / total))
        .otherwise(0L).cast("long"))
  }

  /** Per-group adaptive quality cutoffs: exact discrete percentiles of a
    * metric within each group, plus how many rows the [pLow, pHigh] band
    * keeps. Fixed global thresholds misfire when sources differ in kind
    * (a code corpus's "too short" is prose's median); per-source
    * percentile bands are the standard fix. Percentile is rank-based
    * (value at 1-based index ⌈pct·n/100⌉, pure integer arithmetic) so
    * any engine reproduces it bit-for-bit — no interpolation, no
    * float-semantics drift between implementations.
    *
    * Returns (group, n, p_low, p_high, kept). Ties are value-ties: the
    * value at a rank is unique even when row order among equals is not,
    * and `kept` counts by value — both deterministic.
    *
    * Scale shape: one rank window per group (a single shuffle on the
    * group key) + a broadcast of the per-group cut rows back onto the
    * metric projection. Groups are sources/domains — thousands, not
    * billions — so the cuts always broadcast. At extreme per-group
    * cardinality swap the exact rank for `percentile_approx` and keep
    * the rest of the pipeline unchanged; the exact variant is the
    * auditable baseline.
    */
  def adaptiveCutoffs(df: DataFrame, groupCol: String, metricCol: String,
      lowPct: Int, highPct: Int): DataFrame = {
    require(0 < lowPct && lowPct <= highPct && highPct <= 100,
      s"need 0 < lowPct <= highPct <= 100, got ($lowPct, $highPct)")
    val t = df.select(col(groupCol).as("g"), col(metricCol).cast("long").as("m"))
    val ranked = t
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("m")))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
    // ⌈pct·n/100⌉ in integer arithmetic (div, not /, which widens to double)
    def idx(pct: Int) = expr(s"(n * $pct + 99) div 100")
    val cuts = ranked.groupBy("g").agg(
      max(col("n")).as("n"),
      min(when(col("rn") === idx(lowPct), col("m"))).as("p_low"),
      min(when(col("rn") === idx(highPct), col("m"))).as("p_high"))
    t.join(broadcast(cuts), Seq("g"))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n"),
        max(col("p_low")).as("p_low"), max(col("p_high")).as("p_high"),
        sum(when(col("m") >= col("p_low") && col("m") <= col("p_high"), 1L)
          .otherwise(0L)).as("kept"))
  }

  /** Per-document top-k terms by tf-idf.
    *
    * Weighting is tf·(N/df) in exact integer arithmetic (`score_ppm =
    * tf·N·1e6 div df`): the linear inverse-document-frequency keeps every
    * score engine-portable (a log idf diverges between engines at float
    * rounding boundaries); substitute `tf * ln(N/df)` for the classic
    * weighting when cross-engine exactness is not required — the pipeline
    * shape is identical.
    *
    * Scale shape: term frequencies reduce map-side before the (doc, tok)
    * shuffle; the document-frequency table joins back on the token with
    * NO forced strategy — at testdata scale Catalyst broadcasts it, at
    * web scale (vocabularies are heavy-tailed and unbounded) AQE picks a
    * sort-merge join, which is correct there; the corpus size N is a
    * 1-row broadcast cross join; ranking is a per-document window,
    * parallel across documents, and the `rank <= k` predicate lets
    * Spark's WindowGroupLimit cap rows before the final exchange.
    */
  def tfidfTop(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tf = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df_t"))
    val n = df.select(countDistinct(col(idCol)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score_ppm"), asc("tok"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score_ppm", expr("tf * n_docs * 1000000 div df_t"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df_t"),
        col("score_ppm"), col("rnk"))
  }

  /** Per-document unigram-LM surprisal in integer bits — the KenLM-style
    * perplexity-proxy quality signal: documents made of corpus-rare tokens
    * score high (gibberish, OCR noise, foreign-language spill), documents
    * of common tokens score low. The unigram probability is quantized to
    * whole bits via exact integer log2 — `floor(log2(n)) = length(bin(n))-1`
    * — so token surprisal = floor(log2(total)) − floor(log2(count)) bits,
    * and every value is integer math that any engine reproduces bit-exactly
    * (no float log, no summation-order sensitivity).
    *
    * Scale shape: same as [[tfidfTop]] — one corpus scan builds (doc, tok),
    * the unigram table is a self-aggregation of it (heavy-tailed and
    * unbounded, so the count join is left to Catalyst/AQE: broadcast at
    * test scale, sort-merge at web scale), and the corpus total is a 1-row
    * broadcast. The per-doc rollup reduces map-side before its exchange.
    *
    * @return (doc_id, n_toks, sum_bits, mean_bits_e3)
    */
  def surprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (length(bin(col("total"))) - length(bin(col("c")))).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("bits").as("sum_bits"))
      .withColumn("mean_bits_e3", expr("sum_bits * 1000 div n_toks"))
  }

  /** Bigram-LM transition surprisal per document — the second-order
    * companion of [[surprisal]]: each token transition (prev → next) costs
    * floor(log2 count(prev·)) − floor(log2 count(prev→next)) bits, i.e.
    * the integer-quantized −log2 of the CONDITIONAL probability. A
    * document of common words in an uncommon order (shuffled text,
    * keyword stuffing) scores high here while the unigram score stays
    * low. Same `bin()` integer-log2 trick — exact in any engine.
    *
    * Transitions keep positional multiplicity (a transition repeated in a
    * document counts every time), so the corpus tables are true bigram/
    * context counts, not per-document sets.
    *
    * @return (doc_id, n_trans, sum_bits, mean_bits_e3)
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize ONCE into a bound column: an inline tokens(textCol) inside
    // the transform lambda would re-run the regex split in every
    // element_at — O(tokens²) per document (measured 12s vs 0.7s at sf0.1)
    val w = col("w")
    val pairs = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .select(col("doc_id"),
        explode(transform(
          // sequence(1, 0) would DESCEND — guard short docs to an empty list
          when(size(w) >= 2, sequence(lit(1), size(w) - 1))
            .otherwise(array().cast("array<int>")),
          i => struct(element_at(w, i).as("prev"),
            element_at(w, i + 1).as("next")))).as("p"))
      .select(col("doc_id"), col("p.prev"), col("p.next"))
      .where(length(col("prev")) > 0 && length(col("next")) > 0)
    val pairCount = pairs.groupBy("prev", "next").agg(count(lit(1)).as("cp"))
    val ctxCount = pairs.groupBy("prev").agg(count(lit(1)).as("cc"))
    pairs.join(pairCount, Seq("prev", "next")).join(ctxCount, Seq("prev"))
      .select(col("doc_id"),
        (length(bin(col("cc"))) - length(bin(col("cp")))).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"), sum("bits").as("sum_bits"))
      .withColumn("mean_bits_e3", expr("sum_bits * 1000 div n_trans"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own top-K
    * token vocabulary — the tokenizer-coverage signal: a document whose
    * tokens mostly fall outside the frequency-truncated vocabulary will
    * shatter into byte-level pieces under a trained tokenizer (OCR noise,
    * foreign scripts, markup). Vocabulary ranking ties break by token
    * string, so the cut is deterministic and engine-portable; the rate is
    * integer ppm.
    *
    * Scale shape: the vocabulary is BOUNDED (top-K) — it broadcasts, so
    * the membership probe never shuffles the token stream; the per-doc
    * rollup reduces map-side. The ranking itself is one aggregation of
    * the same scan plus a driver-size limit.
    *
    * @return (doc_id, n_toks, oov_toks, oov_ppm)
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("tok")).limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_toks"))
      .withColumn("oov_ppm", expr("oov_toks * 1000000 div n_toks"))
  }

  /** Longest corpus-duplicated token span per document — the Spark-shaped
    * stand-in for suffix-array substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * POSITIONAL n-gram occurs "duplicated" when its text appears ≥2 times
    * corpus-wide (any document, including its own), and consecutive
    * duplicated positions chain into spans via gaps-and-islands. A long
    * max span flags a lifted passage inside an otherwise-original
    * document — which doc-level exact/near dedup both miss.
    *
    * Scale shape: one corpus scan emits (doc, position, gram-hash);
    * occurrence counts are a self-aggregation on the 8-byte xxhash64 key
    * (the repo-wide shuffle-key convention — an SQL oracle groups by the
    * gram string and agrees whenever no 64-bit collision occurs; a
    * collision only ever overcounts duplication); the run detection is
    * one window per document partition over its DUPLICATED positions
    * only. All integer math.
    *
    * @return (doc_id, grams, dup_grams, max_run, dup_span_ppm) — span
    *         fraction = (max_run + n − 1) / token count, 0 when clean
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = col("w")
    // persisted: the occurrence self-join reads this twice and the final
    // stats/runs read it again — without the persist the tokenize+hash
    // pass re-runs up to 4x per action
    val grams = graft.ScratchCache.persist(df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .where(size(w) >= n)
      .select(col("doc_id"), size(w).as("n_toks"),
        explode(transform(sequence(lit(1), size(w) - (n - 1)), i =>
          struct(i.as("pos"),
            xxhash64(array_join(slice(w, i, lit(n)), " ")).as("g")))).as("p"))
      .select(col("doc_id"), col("n_toks"), col("p.pos"), col("p.g")))
    val occ = grams.groupBy("g").agg(count(lit(1)).as("occ"))
    val flagged = graft.ScratchCache.persist(grams.join(occ, "g")
      .select(col("doc_id"), col("n_toks"), col("pos"),
        (col("occ") > 1).as("dup")))
    // gaps-and-islands over duplicated positions: pos − row_number is
    // constant within a consecutive run
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val runs = flagged.where(col("dup"))
      .withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max("run").as("max_run"))
    flagged
      .groupBy("doc_id")
      .agg(first("n_toks").as("n_toks"), count(lit(1)).as("grams"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("dup_grams"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("grams"), col("dup_grams"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        when(coalesce(col("max_run"), lit(0L)) === 0, 0L)
          .otherwise(expr(s"least(max_run + ${n - 1}, n_toks) * 1000000 div n_toks"))
          .as("dup_span_ppm"))
  }

  /** Exact-substring scrub (the REWRITING form of [[dupSpanStats]] —
    * Lee et al.'s suffix-array dedup, keep-first variant): every token
    * covered by a positional n-gram whose text occurs elsewhere in the
    * corpus BEFORE it (in global (doc_id, pos) order) is removed; the
    * first occurrence of each duplicated passage survives, later copies
    * are cut out of their documents and the remainder reassembled. This
    * is the pass that de-duplicates lifted passages INSIDE documents —
    * doc-level exact/near dedup cannot touch them.
    *
    * Returns (id, clean_text, kept_toks, removed_toks) for every
    * document with ≥1 token.
    *
    * Scale shape: one scan emits (doc, pos, gram-hash); keep-first
    * ranking is a single window on the 8-byte hash (one shuffle keyed by
    * gram — no df-cap needed here because rank>1 rows, not pairs, leave
    * the window: volume is linear in occurrences, never quadratic).
    * Removed occurrences explode into at most n covered positions each;
    * reassembly sorts (pos, token) structs inside the per-document
    * aggregate — no second window.
    */
  def scrubDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = col("w")
    // the gram pass and the token pass both read the tokenization
    val base = graft.ScratchCache.persist(df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("w")))
    val grams = base
      .where(size(w) >= n)
      .select(col("id"),
        explode(transform(sequence(lit(1), size(w) - (n - 1)), i =>
          struct(i.as("pos"),
            xxhash64(array_join(slice(w, i, lit(n)), " ")).as("g")))).as("p"))
      .select(col("id"), col("p.pos"), col("p.g"))
    // rank 1 per gram hash = the globally-first occurrence; rank > 1
    // already implies the gram is duplicated, no separate count needed
    val dups = grams
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("id", "pos")))
      .where(col("rn") > 1)
      .select(col("id"), col("pos"))
    val covered = dups
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tp"))
      .distinct()
    val toks = base
      .select(col("id"), posexplode(w).as(Seq("tp0", "tok")))
      .select(col("id"), (col("tp0") + 1).as("tp"), col("tok"))
      .where(length(col("tok")) > 0)
    val kept = toks.join(covered, Seq("id", "tp"), "left_anti")
    val clean = kept.groupBy("id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("tp"), col("tok")))),
        x => x("tok")), " ").as("clean_text"),
      count(lit(1)).as("kept_toks"))
    toks.groupBy("id").agg(count(lit(1)).as("total_toks"))
      .join(clean, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_toks"), lit(0L)).as("kept_toks"),
        (col("total_toks") - coalesce(col("kept_toks"), lit(0L)))
          .as("removed_toks"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken's MOSS local
    * algorithm, SIGMOD 2003): hash every k-token shingle, slide a window
    * of `w` consecutive shingles, and keep each window's minimum hash
    * (leftmost position on ties — the deterministic variant). The
    * selected set carries winnowing's guarantee: any shared token run of
    * length ≥ w + k − 1 contributes at least one shared fingerprint,
    * while expected density is 2/(w+1) of the gram stream — the sparse,
    * coverage-guaranteed overlap index. Where [[dupSpanStats]] indexes
    * EVERY positional gram, a winnowed index is ~(w+1)/2× smaller with
    * the same detection floor, which at
    * 100 TB is the difference between an index that fits and one that
    * doesn't.
    *
    * Portable hashing (48-bit md5 slice, like `Dsir`): fingerprint VALUES
    * appear in the output, so the hash itself must reproduce in a SQL
    * oracle — xxhash64 would only let rows-match, not hash-match.
    *
    * Scale shape: one scan explodes positional grams; selection is a
    * single per-document window (`min(struct(hash, pos))` over w rows —
    * partitioned by doc, no cross-document traffic); `distinct` dedups
    * the overlapping windows that picked the same gram. No joins.
    *
    * @return (id, pos, fp): distinct selected fingerprints, pos the
    *         1-based gram position; a document shorter than w grams
    *         winnows its single whole-document window
    */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, "k and w must be at least 1")
    val toks = col("w")
    // Spread.wide: the positional-gram md5 projection runs above the
    // corpus scan, before the per-doc window's exchange — spread a
    // narrow file-backed scan so the expensive stage parallelizes
    // (identity at production file counts)
    val grams = graft.operators.Spread.wide(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
      .where(size(toks) >= k)
      .select(col("id"), (size(toks) - (k - 1)).as("ng"),
        explode(transform(sequence(lit(1), size(toks) - (k - 1)), i =>
          struct(i.as("pos"),
            graft.expressions.PortableHash.md5Prefix48(
              array_join(slice(toks, i, lit(k)), " ")).as("h")))).as("p"))
      .select(col("id"), col("ng"), col("p.pos"), col("p.h"))
    val frame = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("m", min(struct(col("h"), col("pos"))).over(frame))
      // full windows only (start ≤ ng − w + 1); the trailing starts would
      // add paper-nonconforming suffix windows. A doc with fewer than w
      // grams keeps its start-1 whole-document window.
      .where(col("pos") <= greatest(col("ng") - (w - 1), lit(1)))
      .select(col("id"), col("m.pos").cast("long").as("pos"), col("m.h").as("fp"))
      .distinct()
  }

  /** First-occurrence n-gram novelty per document: treating ascending doc
    * id as ingestion order, the fraction of a document's distinct 3-grams
    * never seen in any earlier document. A corpus-freshness signal —
    * sustained low novelty marks a crawl that has started re-reading
    * itself; per-batch novelty curves drive dedup/stop decisions.
    *
    * Scale shape: one corpus scan builds the (doc, gram-hash) set
    * ([[shingles]] dedups per doc in its pass); the gram's first doc is a
    * self-aggregation (min over an 8-byte key, partial before its
    * exchange), and "novel" is `first_doc == doc_id` after the join —
    * the corpus never self-joins row-wise. Grams key by xxhash64 (the
    * repo-wide 8-byte shuffle-key convention).
    *
    * @return (doc_id, grams, novel_grams, novelty_ppm)
    */
  def novelty(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = df.select(col(idCol).as("doc_id"),
      explode(transform(shingles(col(textCol)), g => xxhash64(g))).as("g"))
    val firstSeen = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    grams.join(firstSeen, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("novel_grams"))
      .withColumn("novelty_ppm", expr("novel_grams * 1000000 div grams"))
  }

  /** Per-source token-distribution drift: total-variation distance between
    * each source's unigram distribution and the corpus-wide one, in exact
    * integer ppm — the domain-shift signal behind mixture re-weighting
    * (a source whose distribution walks away from the corpus is changing
    * character). TV = ½·Σ_t |p_s(t) − p(t)| needs the WHOLE vocabulary per
    * source; tokens the source never emits contribute p(t), so the sum is
    * decomposed as Σ_present (|p_s−p| − p) + Σ_vocab p — only the
    * (source, token) pairs that exist are ever materialized, never the
    * sources × vocabulary grid.
    *
    * All probabilities are integer ppm (truncating div, identical in any
    * engine); both aggregations reduce map-side before their exchange and
    * the two corpus-level tables join on the token (Catalyst/AQE picks
    * broadcast vs sort-merge as the vocabulary grows).
    *
    * @return (source, n_toks, tv_ppm)
    */
  def sourceDrift(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
    val st = toks.groupBy("source", "tok").agg(count(lit(1)).as("o"))
    val t = toks.groupBy("tok").agg(count(lit(1)).as("tot"))
    val s = toks.groupBy("source").agg(count(lit(1)).as("n_s"))
    val n = toks.agg(count(lit(1)).as("n"))
    val allP = t.crossJoin(broadcast(n))
      .agg(sum(expr("tot * 1000000 div n")).as("sum_p_ppm"))
    st.join(t, "tok")
      .join(broadcast(s), "source")
      .crossJoin(broadcast(n))
      .select(col("source"), col("n_s"),
        (abs(expr("o * 1000000 div n_s") - expr("tot * 1000000 div n")) -
          expr("tot * 1000000 div n")).as("term"))
      .groupBy("source")
      .agg(first("n_s").as("n_toks"), sum("term").as("present_term"))
      .crossJoin(broadcast(allP))
      .select(col("source"), col("n_toks"),
        expr("(present_term + sum_p_ppm) div 2").as("tv_ppm"))
  }

  /** Corpus-duplicate n-gram fraction per document (the RefinedWeb-style
    * cross-document repetition signal, complementing the *within*-document
    * [[ngramRepetition]]): for each document, how many of its distinct
    * 3-grams also appear in at least one OTHER document. High fractions
    * flag boilerplate/templated text that exact and near dedup both miss.
    * Set semantics per document ([[shingles]] dedups in its one pass);
    * within-document multiplicity is [[ngramRepetition]]'s signal.
    *
    * Scale shape: the (doc, gram) set is built in one corpus scan; the
    * corpus-wide document frequency is a self-aggregation of that same
    * set, and the dup test is a `df_docs > 1` predicate — the corpus is
    * never joined against itself row-wise. Grams key by xxhash64 (8-byte
    * shuffle keys; 64-bit collisions negligible — the repo-wide
    * convention, see [[graft.operators.dedup.Dedup]]). The fraction is
    * integer ppm, so an SQL oracle matches bit-exactly.
    */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // distinct by construction: WordShingles drops within-doc duplicates
    val grams = df.select(col(idCol).as("doc_id"),
      explode(transform(shingles(col(textCol)), g => xxhash64(g))).as("g"))
    val docFreq = grams.groupBy("g").agg(count(lit(1)).as("df_docs"))
    grams.join(docFreq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("grams"),
        sum(when(col("df_docs") > 1, 1L).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_frac_ppm", expr("dup_grams * 1000000 div grams"))
  }

  /** Character trigrams of the lowercased text, positional (with
    * multiplicity — this is an occurrence stream, not a set). Native
    * one-pass expression ([[graft.expressions.CharNGrams]]): the composed
    * `transform(sequence(...), i => substr(t, i, 3))` form is quadratic
    * per document because UTF-8 `substr` has no O(1) character index.
    * Texts shorter than 3 chars yield an empty array.
    */
  def charTrigrams(text: Column): Column =
    graft.expressions.Sketches.charNGrams(lower(text), 3)

  /** Rare-trigram ratio — a model-free gibberish/quality signal: the
    * fraction (ppm) of a document's character-trigram OCCURRENCES whose
    * corpus-wide occurrence count is ≤ `maxCount`. Natural language reuses
    * a small trigram inventory; random bytes, mojibake, and OCR noise sit
    * in the long tail, so a high rare ratio flags junk the word-level
    * quality heuristics miss.
    *
    * Scale shape: pass 1 aggregates trigram counts — the result is
    * bounded by the charset cubed, NOT the corpus size, so pass 2 joins
    * it back BROADCAST: the corpus itself never shuffles. The ratio is
    * integer ppm — an SQL oracle reproduces it bit-exactly.
    */
  def rareTrigramStats(df: DataFrame, idCol: String, textCol: String,
      maxCount: Long = 2L): DataFrame = {
    // two passes over the corpus, both reducing map-side to the tiny
    // trigram inventory / doc count before any shuffle. The occurrence
    // stream is re-extracted on the second pass rather than cached:
    // extraction is one cheap codegen'd pass, while caching it would hold
    // a corpus-sized (several bytes per character) intermediate
    val tris = df.select(col(idCol).as("doc_id"),
      explode(charTrigrams(col(textCol))).as("g"))
    val counts = tris.groupBy("g").agg(count(lit(1)).as("c"))
    tris.join(broadcast(counts), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total_tris"),
        sum(when(col("c") <= maxCount, 1L).otherwise(0L)).as("rare_tris"))
      .withColumn("rare_ppm", expr("rare_tris * 1000000 div total_tris"))
  }
}
