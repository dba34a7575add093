package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFunctions._

/** Text-analysis operators over `documents`: language-ID (lexicon-hit
  * heuristic), quality scoring (length / punctuation / stopword ratios),
  * token counting (whitespace + BPE-ish regex), and document
  * fingerprinting. All pure column expressions — map-side only, no
  * shuffle, safe at any scale.
  */
object TextAnalysis {

  /** PII patterns, restricted to syntax Java regex (Spark) and RE2
    * (DuckDB oracle) interpret identically: character classes, bounded
    * repeats, `\b` word anchors — no lookaround, no backrefs.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII detection + redaction: per-row match counts for emails / IPv4
    * addresses / phone numbers, plus the text with every match replaced
    * by a typed placeholder. Pure column expressions — map-side only, no
    * shuffle, the text never leaves its partition. Redaction order
    * (email → ip → phone) is fixed: the patterns are disjoint on any
    * single span, so order only matters for determinism, not results.
    */
  def piiRedact(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))))
      .withColumn("n_ips",
        size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(col(textCol),
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>"))

  /** Linear bag-of-words quality classifier (the CCNet / GPT-3 "quality
    * filter" shape): per-token weights, summed per document, thresholded.
    * Weights here are DETERMINISTIC pseudo-weights derived from each
    * token's own hash (w = charHash(tok, seed) % 2001 − 1000 ∈
    * [−1000, 1000]) so the oracle can re-derive them; a trained model
    * swaps in a broadcast (term → weight) lookup without changing the
    * plan shape. Integer weight sums are accumulation-order-independent
    * and the normalization is one exact IEEE division — cross-engine
    * stable. The whole operator is a per-row array fold: map-side only,
    * no explode, no shuffle.
    */
  def classifierScore(docs: DataFrame, seed: Int = 13,
                      threshold: Double = 0.0): DataFrame = {
    val toks = tokens(col("text"))
    val ws = transform(toks, tok =>
      pmod(charHash(tok, lit(seed)), lit(2001L)) - 1000L)
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        aggregate(ws, lit(0L), (acc, x) => acc + x).as("score_int"))
      .withColumn("score", col("score_int") * lit(1.0) / col("n_tokens"))
      .withColumn("keep", col("score") >= threshold)
  }

  private def lexScores(toksCol: String) =
    Lexicons.map { case (lang, words) =>
      lang -> lexiconHits(col(toksCol), words)
    }

  /** C4/CCNet-style boilerplate removal by corpus line frequency: split
    * each document into fixed-width word "lines", count how many
    * DISTINCT documents each line occurs in, and strip lines above the
    * repetition threshold (navboxes, cookie banners, license footers —
    * any fragment shared verbatim across documents).
    *
    * Scale shape: lines are md5-HASHED before the frequency groupBy, so
    * the corpus-wide shuffle carries 32-byte digests, never text (the
    * same text-stays-home discipline as the dedup family); the per-doc
    * reassembly is a join on the hash plus one order-restoring
    * sort_array over that document's own lines. Grouping by hash is
    * result-equivalent to grouping by the line (md5 injective modulo a
    * 2⁻⁶⁴ collision), which is what the oracle does.
    *
    * @return (doc_id, n_lines, n_boiler, clean_fp) — fingerprint of the
    *         document with boilerplate lines removed, original order
    */
  def boilerplateStrip(docs: DataFrame, lineWords: Int = 3,
                       minDocs: Int = 2): DataFrame = {
    val lines = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      // nl=0 (empty token array) must yield NO lines: sequence(0,-1)
      // would descend and emit two phantom lines where the oracle's
      // range(0,0) emits none — filter before the explode
      .filter(size(col("t")) > 0)
      .withColumn("nl",
        ceil(size(col("t")) / lit(lineWords.toDouble)).cast("long"))
      .withColumn("line_idx", explode(sequence(lit(0L), col("nl") - 1)))
      .select(col("doc_id"), col("line_idx"),
        concat_ws(" ", slice(col("t"),
          (col("line_idx") * lineWords + 1).cast("int"),
          lit(lineWords))).as("line"))
      .withColumn("lh", md5(col("line")))
    val freq = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    lines.join(freq, "lh")
      .withColumn("boiler", col("nd") >= minDocs)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        md5(concat_ws(" ",
          transform(
            filter(
              sort_array(collect_list(struct(col("line_idx"), col("line"),
                col("boiler")))),
              x => !x.getField("boiler")),
            x => x.getField("line")))).as("clean_fp"))
  }

  /** Bigram collocation mining by pointwise mutual information: for
    * every adjacent token pair (w1, w2), score how much more often the
    * pair occurs than its parts' positional frequencies predict —
    * ratio = N·c(w1,w2) / (c1(w1)·c2(w2)) with c1/c2 the left/right
    * marginals of the pair table and N the total pair count (the
    * standard contingency normalization; PMI is the log of this, and
    * log is monotone, so ranking on the ratio IS ranking on PMI while
    * keeping every value a short deterministic double chain).
    *
    * Determinism: counts are exact BIGINTs; the score is
    * floor(10⁶ · (c12·N)/(c1·c2)) — four exact int→double casts, three
    * single-rounded fp ops, one floor — mirrored verbatim in the
    * oracle, so the full ranked output hash-checks.
    *
    * Scale shape: pairs are generated MAP-SIDE from the token array
    * (shifted-index transform — no positional self-join, which would
    * shuffle the exploded token stream twice); one map-combinable
    * groupBy builds the pair table, and the marginals derive from that
    * (already vocabulary²-bounded) table, not from the raw stream. The
    * `minCount` gate cuts the long tail BEFORE the marginal joins, and
    * top-N is a sort-limit (partial top-k per partition).
    */
  def pmiBigrams(docs: DataFrame, minCount: Long = 5, topN: Int = 30): DataFrame = {
    val toked = docs.select(tokens(col("text")).as("t"))
      .withColumn("nl", size(col("t")))
      .filter(col("nl") >= 2)
    val pairs = toked.select(explode(
        transform(sequence(lit(0), col("nl") - 2),
          i => struct(element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // Size-guarded pin (VERDICT r12 item 5): four consumers (c1, c2, n,
    // scored) re-derive this pair aggregation lazily — measured FASTER
    // at gate scale (per-consumer pushdown, no materialization write).
    // At or above `spark.graft.pairTable.minInputBytes` of input, one
    // eager checkpoint replaces four tokenize+aggregate passes.
    val c12base = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c12 = if (graft.Tables.inputBytes(docs) >=
        graft.Tables.pairTableMinInputBytes(docs.sparkSession))
      c12base.localCheckpoint(true) else c12base
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = c12.agg(sum(col("c12")).as("n_pairs"))
    val scored = c12.filter(col("c12") >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi_micro",
        floor(lit(1e6) *
          ((col("c12").cast("double") * col("n_pairs").cast("double")) /
            (col("c1").cast("double") * col("c2").cast("double"))))
          .cast("long"))
    scored
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2")).limit(topN)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))).cast("long"))
      .select(col("rank"), col("w1"), col("w2"), col("c12"), col("pmi_micro"))
  }

  /** Interpolated bigram-LM document scoring — the bigram cousin of the
    * unigram perplexity filter: each adjacent pair (w1, w2) scores
    * λ·c(w1w2)/c(w1·) + (1−λ)·c(w2)/T (Jelinek-Mercer interpolation
    * with λ = 1/2), and a document's score is the mean over its
    * bigrams. Everything is INTEGER-quantized before any cross-row
    * aggregation: per-bigram micro-score = (500000·c12) div c1 +
    * (500000·c2) div T in exact BIGINT floor division, per-doc score =
    * Σmicro div n — so the result is order-independent and hash-stable
    * cross-engine (a double sum over shuffled rows would not be).
    *
    * Scale shape: bigrams generate MAP-SIDE from the token array (no
    * positional self-join); counts are map-combinable; the per-bigram
    * score table is assembled by joining the ALREADY-AGGREGATED
    * (vocab²-bounded) c12 table with its own marginals, and the doc
    * stream shuffles ONCE, on the (w1, w2) key, to pick up scores.
    * Docs with < 2 tokens have no bigrams and emit no row (mirrored by
    * the oracle).
    */
  def bigramLm(docs: DataFrame): DataFrame = {
    val toked = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("nl", size(col("t")))
      .filter(col("nl") >= 2)
    val pairs = toked.select(col("doc_id"), explode(
        transform(sequence(lit(0), col("nl") - 2),
          i => struct(element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c2"))
    val total = docs.select(explode(tokens(col("text"))).as("w"))
      .agg(count(lit(1)).as("_t"))
    val c12 = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val scoredBigram = c12.join(c1, "w1")
      .join(uni.select(col("w").as("w2"), col("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        (expr("(500000 * c12) div c1") +
          expr("(500000 * c2) div _t")).as("micro"))
    val res = pairs.join(scoredBigram, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("micro")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("s div n_bigrams").as("lm_micro"))
      .localCheckpoint(true)
    pairs.unpersist(blocking = false)
    res
  }

  /** Heaps-law vocabulary-growth curve: for each doc-id cut in a
    * geometric ladder, the number of docs / token instances / DISTINCT
    * terms in the prefix `doc_id ≤ cut`. The classic sublinear
    * vocab-vs-corpus points (V ≈ K·nᵝ) that size tokenizer vocabularies
    * and dedup dictionaries.
    *
    * Scale shape: the whole curve computes on HISTOGRAMS — per-term
    * first-occurrence doc (a map-combinable min), reduced to a
    * first-doc histogram, and a per-doc token-count table; each cut is
    * then a broadcast-join + map-combinable suffix sum. The raw token
    * stream is scanned once and never re-shuffled per cut.
    */
  def heapsLaw(docs: DataFrame, cuts: Seq[Long]): DataFrame = {
    require(cuts.nonEmpty, "heapsLaw needs at least one cut")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first-occurrence histogram: ≤ |docs| rows after the two reductions
    val firstHist = terms.groupBy(col("term"))
      .agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("nt"))
    val docHist = terms.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ntok"))
    val cutsDf = cuts.toDF("cut")
    val vocab = cutsDf.join(broadcast(firstHist), col("fd") <= col("cut"), "left")
      .groupBy(col("cut")).agg(coalesce(sum(col("nt")), lit(0L)).as("vocab"))
    val sizes = cutsDf.join(broadcast(docHist), col("doc_id") <= col("cut"), "left")
      .groupBy(col("cut")).agg(
        count(col("doc_id")).as("n_docs"),
        coalesce(sum(col("ntok")), lit(0L)).as("n_tokens"))
    val res = sizes.join(vocab, "cut")
      .select(col("cut"), col("n_docs"), col("n_tokens"), col("vocab"))
      .localCheckpoint(true)
    terms.unpersist(blocking = false)
    res
  }

  /** heapsLaw gate ladder: doc-id cuts 16·2ⁱ; cuts past the corpus end
    * just repeat the full-corpus row (deterministically, both engines). */
  val HeapsCuts: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L, 512L)

  /** RAKE keyword extraction (Rose et al. 2010), corpus-level: candidate
    * phrases are the maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) where freq counts the word's occurrences in phrases
    * and deg adds the lengths of the phrases it occurs in; a phrase
    * scores the sum of its words' scores, and the top-`topN` distinct
    * phrases are ranked. Scores are integer-quantized BEFORE any
    * cross-row sum (word_micro = ⌊10⁶·deg/freq⌋, phrase score =
    * Σword_micro — both exact BIGINT), so ranking is hash-stable
    * cross-engine; ties break on phrase text.
    *
    * Scale shape: phrase segmentation is a per-doc running stopword
    * count (window partitioned by doc_id — each doc's tokens stay on
    * one reducer, the same partitioning every per-doc text op here
    * uses); word stats are map-combinable aggregates over the exploded
    * phrase stream; the per-distinct-phrase table is vocabulary-bounded
    * and the final top-N is a partial-rank sort-limit.
    */
  def rakeKeywords(docs: DataFrame, stops: Seq[String],
                   topN: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopsArr = array(stops.map(lit): _*)
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "w")))
      .withColumn("is_stop", array_contains(stopsArr, col("w")))
      .withColumn("grp",
        sum(col("is_stop").cast("long")).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // one row per phrase INSTANCE: ordered word list + length
    val inst = tok.filter(!col("is_stop"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x("w")).as("ws"))
      .select(col("doc_id"), col("grp"), col("ws"),
        size(col("ws")).cast("long").as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = inst.select(explode(col("ws")).as("w"), col("len"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("w"), expr("(1000000 * deg) div freq").as("word_micro"))
    val scoredInst = inst.select(col("doc_id"), col("grp"),
        concat_ws(" ", col("ws")).as("phrase"), explode(col("ws")).as("w"))
      .join(words, "w")
      .groupBy(col("doc_id"), col("grp"), col("phrase"))
      .agg(sum(col("word_micro")).as("score_micro"))
    val res = scoredInst.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        // identical text → identical word multiset → identical score
        max(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("phrase"))).cast("long"))
      .select(col("rank"), col("phrase"), col("n_occurrences"),
        col("score_micro"))
      .localCheckpoint(true)
    inst.unpersist(blocking = false)
    res
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // interpolated bigram LM scoring, integer-quantized
    "t_bigram_lm" -> { (s, d) => bigramLm(t(s, d, "documents")) },

    // Heaps-law vocabulary growth over a doc-id prefix ladder
    "t_heaps" -> { (s, d) => heapsLaw(t(s, d, "documents"), HeapsCuts) },

    // RAKE keyword phrases (stopword-run segmentation, deg/freq scores)
    "t_rake" -> { (s, d) =>
      rakeKeywords(t(s, d, "documents"), graft.functions.TextFunctions.Lexicons.head._2)
    },

    // bigram collocations: PMI-ranked adjacent pairs, map-side pair gen
    "t_pmi" -> { (s, d) => pmiBigrams(t(s, d, "documents")) },

    // corpus-frequency boilerplate line removal (C4/CCNet shape)
    "t_boilerplate" -> { (s, d) => boilerplateStrip(t(s, d, "documents")) },

    // language-ID: argmax lexicon hits with fixed priority tie-break
    "t_langid" -> { (s, d) =>
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang").as("claimed_lang"),
          tokens(col("text")).as("t"))
      val scored = lexScores("t").foldLeft(base) { case (df, (lang, c)) =>
        df.withColumn(s"s_$lang", c)
      }
      scored.withColumn("pred_lang",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
            col("s_en") >= col("s_fr"), "en")
            .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
            .when(col("s_es") >= col("s_fr"), "es")
            .otherwise("fr"))
        .select(col("doc_id"), col("claimed_lang"), col("pred_lang"),
          col("s_en"), col("s_de"), col("s_es"), col("s_fr"))
    },

    // quality signals: ratios of deterministic integer counts
    "t_quality" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("t"))
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          size(col("t")).as("n_tokens"),
          (size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))) * lit(1.0) /
            length(col("text"))).as("punct_ratio"),
          (lexiconHits(col("t"), Lexicons.head._2) * lit(1.0) / size(col("t")))
            .as("stopword_ratio"),
          (aggregate(transform(col("t"), w => length(w)), lit(0),
            (acc, x) => acc + x) * lit(1.0) / size(col("t"))).as("avg_token_len"))
    },

    // Gopher-style quality GATE (Rae et al. 2021 §A1.1, adapted to this
    // corpus): word-count bounds, mean-word-length bounds, ≥2 distinct
    // stopwords, and a type-token-ratio floor, combined into one keep
    // flag. All signals are integer counts or a single division of two
    // ints — hash-exact cross-engine. Map-side only: the token array
    // never leaves its partition and the gate runs before any shuffle a
    // downstream pipeline would add (filter-early at 100 TB).
    "t_gopher" -> { (s, d) =>
      val stops = Lexicons.head._2
      t(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_words"),
          aggregate(transform(col("t"), w => length(w)), lit(0),
            (acc, x) => acc + x).cast("long").as("sum_len"),
          size(array_intersect(col("t"), array(stops.map(lit): _*)))
            .cast("long").as("n_stop_kinds"),
          size(array_distinct(col("t"))).cast("long").as("n_distinct"))
        .withColumn("mean_word_len",
          col("sum_len") * lit(1.0) / col("n_words"))
        .withColumn("ttr", col("n_distinct") * lit(1.0) / col("n_words"))
        .withColumn("keep",
          col("n_words").between(30, 90) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("n_stop_kinds") >= 2 && col("ttr") > 0.3)
    },

    // repetition signal (Gopher-style quality gate): fraction of word
    // 3-grams that are repeats of an earlier 3-gram in the same doc.
    // Integer counts hash exactly; the ratio is a single division of
    // those ints (no fp accumulation), so it is cross-engine-stable.
    // Map-side only — the shingle arrays never leave their partition.
    "t_repetition" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n_ngrams"),
          (size(col("sh")) - size(array_distinct(col("sh")))).cast("long")
            .as("n_dup"))
        .withColumn("rep_ratio",
          when(col("n_ngrams") > 0,
            col("n_dup") * lit(1.0) / col("n_ngrams")).otherwise(lit(0.0)))
    },

    // token counting: whitespace vs BPE-ish regex segmentation
    "t_tokens" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        size(tokens(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe_tokens"))
    },

    // corpus vocabulary: explode (generator) + count + top-k rank
    "t_top_terms" -> { (s, d) =>
      val terms = t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
      terms.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("term"))))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("term"), col("n"))
    },

    // canonical fingerprint (md5 of normalized text) + rolling char hash
    "t_fingerprint" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        charHash(col("text"), lit(1)).as("roll_hash"))
    },

    // TF-IDF keyword extraction: top-3 scoring terms per document.
    // Rational idf (N/df instead of ln(N/df)) keeps every value an exact
    // IEEE division of integers — bit-identical across engines, same
    // ranking behavior for fixed tf. Scale: doc-term counts shuffle on
    // (doc_id, term); the df table is vocabulary-sized and broadcasts.
    "t_tfidf" -> { (s, d) =>
      val docs = t(s, d, "documents")
      // N as a broadcast 1-row aggregate INSIDE the job (a driver-side
      // count() would be a second scan of the table per invocation)
      val nDocs = docs.agg(count(lit(1)).as("_n_docs"))
      val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score", (col("tf") * col("_n_docs")).cast("double") / col("df"))
      scored.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("score"))
    },

    // Context-window chunking: split documents into overlapping
    // fixed-token windows (the pre-training "pack long docs into model
    // context" step). 64-token windows, stride 48 (16 overlap); the
    // last window may be shorter. Pure per-row array arithmetic —
    // map-side, exploding only the chunk index.
    "t_chunk" -> { (s, d) =>
      val sz = 64
      val step = 48
      t(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .withColumn("n", size(col("t")).cast("long"))
        // nChunks = 1 + max(0, ceil((n - size) / step))
        .withColumn("nc",
          lit(1L) + greatest(
            floor((col("n") - sz + (step - 1)) / lit(step.toDouble)).cast("long"),
            lit(0L)))
        .withColumn("chunk_idx", explode(sequence(lit(0L), col("nc") - 1)))
        .select(col("doc_id"), col("chunk_idx"),
          concat_ws(" ", slice(col("t"), (col("chunk_idx") * step + 1).cast("int"),
            lit(sz))).as("chunk_text"),
          least(lit(sz.toLong), col("n") - col("chunk_idx") * step).as("n_tokens"))
    },

    // PII detect + redact. The synthetic corpus is digit- and @-free
    // (verified), so a deterministic PII suffix derived from doc_id is
    // appended first — variable counts (a second email every 3rd doc, a
    // phone every 2nd) exercise real match multiplicity; the oracle
    // re-derives the same suffix and must agree on counts AND the
    // redacted text's fingerprint.
    "t_pii" -> { (s, d) =>
      val withPii = t(s, d, "documents").select(col("doc_id"), concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id"), lit("@example.com"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" cc ops@example.org"))
          .otherwise(lit("")),
        lit(" from 10."), pmod(col("doc_id"), lit(256)), lit(".0.1"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" call 415-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))
      piiRedact(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("redacted")).as("redacted_fp"))
    },

    // model-based quality filter: hashed linear scorer (see
    // classifierScore); map-side only
    "t_classifier" -> { (s, d) => classifierScore(t(s, d, "documents")) },

    // Unigram-LM quality score: a document's mean corpus-frequency of
    // its tokens (the no-log cousin of LM perplexity filters à la
    // C4/Dolma). Integer count sums keep aggregation order-independent;
    // the two divisions are fixed-order exact IEEE ops. Scale: token →
    // count join broadcasts the vocabulary; per-doc aggregation is a
    // map-side-combinable integer sum.
    "t_unigram_lm" -> { (s, d) =>
      val terms = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
      // corpus size as a broadcast 1-row aggregate, not a second
      // tokenize+explode pass via a driver-side count()
      val total = terms.agg(count(lit(1)).as("_corpus_tokens"))
      terms.join(broadcast(counts), "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("n"),
          ((col("s") * lit(1.0)) / col("n") / col("_corpus_tokens")).as("lm_score"))
    },

    // CCNet-style perplexity bucketing: score every document with the
    // unigram LM (same pipeline as t_unigram_lm), then split the corpus
    // into head / middle / tail terciles — CCNet trains on "head",
    // drops or down-weights "tail". The tercile thresholds are ONE
    // exact interpolated-percentile aggregate (two doubles), broadcast
    // back for a map-side bucket assignment — no global sort, no
    // single-partition window. At 100 TB you'd swap the exact
    // percentile for approxQuantile (a mergeable one-pass sketch) and
    // keep the identical broadcast+bucket plan; the exact form here is
    // what makes the oracle byte-comparable (percentile ↔ quantile_cont
    // already hash-matches in q17). Higher lm_score = more-frequent
    // tokens = "head", mirroring CCNet's low-perplexity bucket.
    "t_ppl_buckets" -> { (s, d) =>
      val terms = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val total = terms.agg(count(lit(1)).as("_corpus_tokens"))
      // scored feeds BOTH the cuts aggregate and the final bucket pass;
      // persist so the tokenize+explode+join chain runs once (lazy: the
      // cuts job materializes it, the bucket pass reads the cache)
      val scored = terms.join(broadcast(counts), "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          ((col("s") * lit(1.0)) / col("n") / col("_corpus_tokens"))
            .as("lm_score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cuts = scored.agg(
        expr("percentile(lm_score, 0.3333333333333333D)").as("_t1"),
        expr("percentile(lm_score, 0.6666666666666666D)").as("_t2"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("lm_score"),
          when(col("lm_score") <= col("_t1"), "tail")
            .when(col("lm_score") <= col("_t2"), "middle")
            .otherwise("head").as("bucket"))
    },

    // rule-based token cleaning (the list-HOF shape C4/CCNet-style
    // cleaners use): strip stopwords, emit the cleaned text plus the
    // removal count. filter + array_join stay inside whole-stage
    // codegen; map-side only — the text never leaves its partition.
    "t_stopword_strip" -> { (s, d) =>
      val stops = array(Lexicons.head._2.map(lit): _*)
      t(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          filter(col("t"), w => !array_contains(stops, w)).as("kept"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_tokens"),
          (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"),
          array_join(col("kept"), " ").as("cleaned"))
    }
  )

  private val tokSql =
    "SELECT doc_id, lang, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents"
  private def lexSql(lang: String): String = {
    val words = Lexicons.find(_._1 == lang).get._2
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(t, w -> list_contains($words, w)))"
  }

  // Same pattern strings the Spark side uses, as they appear to RE2.
  private val emailReSql = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipv4ReSql = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneReSql = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  // seeded polynomial char hash, mirroring TextFunctions.charHash
  private def chashSql(sExpr: String, seed: Int): String =
    s"list_reduce(list_prepend(CAST($seed AS BIGINT), " +
      s"list_transform(regexp_extract_all($sExpr, '.'), c -> CAST(ord(c) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % $HashMod)"

  def oracle: Map[String, String] = Map(
    // same pair generation as t_pmi, same integer floor-division
    // quantization order as bigramLm
    "t_bigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |pr AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> {'w1': t[i], 'w2': t[i+1]})) AS p
        |  FROM tok WHERE len(t) >= 2),
        |pp AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pr),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c2
        |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
        |tt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS t
        |  FROM (SELECT unnest(t) AS w FROM tok)),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |        FROM pp GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |sb AS (
        |  SELECT c12.w1, c12.w2,
        |    (500000 * c12.c12) // c1.c1 +
        |      (500000 * uni.c2) // (SELECT t FROM tt) AS micro
        |  FROM c12 JOIN c1 ON c1.w1 = c12.w1 JOIN uni ON uni.w = c12.w2),
        |d AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(micro) AS BIGINT) AS s
        |  FROM pp JOIN sb ON sb.w1 = pp.w1 AND sb.w2 = pp.w2
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST(s // n_bigrams AS BIGINT) AS lm_micro FROM d""".stripMargin,

    // histogram-sum mirror of heapsLaw
    "t_heaps" -> {
      val vals = HeapsCuts.map(c => s"($c)").mkString(", ")
      s"""WITH tt AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
         |  FROM documents),
         |fh AS (
         |  SELECT fd, CAST(count(*) AS BIGINT) AS nt FROM (
         |    SELECT term, min(doc_id) AS fd FROM tt GROUP BY term)
         |  GROUP BY fd),
         |dh AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok
         |  FROM tt GROUP BY doc_id),
         |ks(cut) AS (VALUES $vals)
         |SELECT CAST(cut AS BIGINT) AS cut,
         |  CAST((SELECT count(*) FROM dh WHERE doc_id <= ks.cut) AS BIGINT)
         |    AS n_docs,
         |  CAST((SELECT coalesce(sum(ntok), 0) FROM dh WHERE doc_id <= ks.cut)
         |    AS BIGINT) AS n_tokens,
         |  CAST((SELECT coalesce(sum(nt), 0) FROM fh WHERE fd <= ks.cut)
         |    AS BIGINT) AS vocab
         |FROM ks""".stripMargin
    },

    // RAKE mirror: same running-stopword-count segmentation, same
    // integer quantization order
    "t_rake" -> {
      val stops = graft.functions.TextFunctions.Lexicons.head._2
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
         |    i -> {'pos': i - 1, 'w': t[i]})) AS x
         |  FROM (SELECT doc_id,
         |          regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         |        FROM documents)),
         |tk AS (SELECT doc_id, x.pos AS pos, x.w AS w,
         |         list_contains($stops, x.w) AS is_stop FROM tok),
         |g AS (
         |  SELECT doc_id, pos, w, is_stop,
         |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM tk),
         |inst AS (
         |  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
         |    CAST(count(*) AS BIGINT) AS len,
         |    list(w ORDER BY pos) AS ws
         |  FROM g WHERE NOT is_stop GROUP BY doc_id, grp),
         |wstat AS (
         |  SELECT w, (1000000 * CAST(sum(len) AS BIGINT))
         |    // CAST(count(*) AS BIGINT) AS word_micro
         |  FROM (SELECT unnest(ws) AS w, len FROM inst) GROUP BY w),
         |si AS (
         |  SELECT iw.doc_id, iw.grp, iw.phrase,
         |    CAST(sum(ws.word_micro) AS BIGINT) AS score_micro
         |  FROM (SELECT doc_id, grp, phrase, unnest(ws) AS w FROM inst) iw
         |  JOIN wstat ws ON ws.w = iw.w
         |  GROUP BY iw.doc_id, iw.grp, iw.phrase),
         |ph AS (
         |  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         |    CAST(max(score_micro) AS BIGINT) AS score_micro
         |  FROM si GROUP BY phrase)
         |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, phrase)
         |    AS BIGINT) AS rank,
         |  phrase, n_occurrences, score_micro
         |FROM ph ORDER BY score_micro DESC, phrase LIMIT 25""".stripMargin
    },

    // same pair generation (shifted-index list transform), same exact
    // counts, same fp op order inside the floor
    "t_pmi" ->
      """WITH pr AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |    i -> {'w1': t[i], 'w2': t[i+1]})) AS p
        |  FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |        FROM documents)
        |  WHERE len(t) >= 2),
        |pp AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM pr),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |        FROM pp GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
        |n AS (SELECT CAST(sum(c12) AS BIGINT) AS n_pairs FROM c12),
        |scored AS (
        |  SELECT c12.w1, c12.w2, c12.c12,
        |    CAST(floor(1000000.0 *
        |      ((CAST(c12.c12 AS DOUBLE) * CAST(n_pairs AS DOUBLE)) /
        |       (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE)))) AS BIGINT)
        |      AS pmi_micro
        |  FROM c12
        |  JOIN c1 ON c1.w1 = c12.w1
        |  JOIN c2 ON c2.w2 = c12.w2
        |  CROSS JOIN n
        |  WHERE c12.c12 >= 5),
        |r AS (
        |  SELECT CAST(row_number() OVER (ORDER BY pmi_micro DESC, w1, w2)
        |      AS BIGINT) AS rank,
        |    w1, w2, c12, pmi_micro
        |  FROM scored)
        |SELECT rank, w1, w2, c12, pmi_micro FROM r WHERE rank <= 30""".stripMargin,

    "t_boilerplate" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, CAST(ceil(len(t) / 3.0) AS BIGINT))) AS line_idx
        |  FROM tok),
        |lines AS (
        |  SELECT doc_id, line_idx,
        |    array_to_string(t[CAST(line_idx * 3 + 1 AS INTEGER) :
        |                      CAST(line_idx * 3 + 3 AS INTEGER)], ' ') AS line
        |  FROM l),
        |freq AS (SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line),
        |f AS (
        |  SELECT lines.doc_id, lines.line_idx, lines.line, freq.nd >= 2 AS boiler
        |  FROM lines JOIN freq USING (line))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  md5(coalesce(string_agg(CASE WHEN NOT boiler THEN line END, ' '
        |    ORDER BY line_idx), '')) AS clean_fp
        |FROM f GROUP BY doc_id""".stripMargin,

    "t_classifier" ->
      s"""SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(list_sum(list_transform(t, tok ->
         |    ${chashSql("tok", 13)} % 2001 - 1000)) AS BIGINT) AS score_int,
         |  CAST(list_sum(list_transform(t, tok ->
         |    ${chashSql("tok", 13)} % 2001 - 1000)) AS BIGINT) * 1.0 / len(t) AS score,
         |  CAST(list_sum(list_transform(t, tok ->
         |    ${chashSql("tok", 13)} % 2001 - 1000)) AS BIGINT) * 1.0 / len(t) >= 0.0
         |    AS keep
         |FROM ($tokSql)""".stripMargin,

    "t_pii" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    substring(text, 1, 40) || ' contact user' || doc_id ||
         |    '@example.com' ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' cc ops@example.org' ELSE '' END ||
         |    ' from 10.' || (doc_id % 256) || '.0.1' ||
         |    CASE WHEN doc_id % 2 = 0
         |      THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$emailReSql')) AS n_emails,
         |  len(regexp_extract_all(text, '$ipv4ReSql')) AS n_ips,
         |  len(regexp_extract_all(text, '$phoneReSql')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$emailReSql', '<EMAIL>', 'g'),
         |    '$ipv4ReSql', '<IP>', 'g'),
         |    '$phoneReSql', '<PHONE>', 'g')) AS redacted_fp
         |FROM p""".stripMargin,

    "t_langid" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang AS claimed_lang,
         |    ${lexSql("en")} AS s_en, ${lexSql("de")} AS s_de,
         |    ${lexSql("es")} AS s_es, ${lexSql("fr")} AS s_fr
         |  FROM ($tokSql))
         |SELECT doc_id, claimed_lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS pred_lang,
         |  s_en, s_de, s_es, s_fr
         |FROM s""".stripMargin,

    "t_quality" ->
      s"""SELECT doc_id,
         |  length(text) AS n_chars,
         |  len(t) AS n_tokens,
         |  len(regexp_extract_all(text, '[.,!?;:]')) * 1.0 / length(text) AS punct_ratio,
         |  ${lexSql("en")} * 1.0 / len(t) AS stopword_ratio,
         |  list_sum(list_transform(t, w -> length(w))) * 1.0 / len(t) AS avg_token_len
         |FROM ($tokSql)""".stripMargin,

    "t_gopher" -> {
      val stopList = Lexicons.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CAST(len(t) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT)
         |      AS sum_len,
         |    CAST(len(list_intersect(t, $stopList)) AS BIGINT)
         |      AS n_stop_kinds,
         |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
         |  FROM ($tokSql))
         |SELECT doc_id, n_words, sum_len, n_stop_kinds, n_distinct,
         |  sum_len * 1.0 / n_words AS mean_word_len,
         |  n_distinct * 1.0 / n_words AS ttr,
         |  (n_words BETWEEN 30 AND 90
         |    AND sum_len * 1.0 / n_words BETWEEN 3.0 AND 10.0
         |    AND n_stop_kinds >= 2
         |    AND n_distinct * 1.0 / n_words > 0.3) AS keep
         |FROM g""".stripMargin
    },

    "t_repetition" ->
      s"""WITH s AS (
         |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
         |      list_transform(range(1, len(t) - 1),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |    ELSE [] END AS sh
         |  FROM ($tokSql))
         |SELECT doc_id,
         |  CAST(len(sh) AS BIGINT) AS n_ngrams,
         |  CAST(len(sh) - len(list_distinct(sh)) AS BIGINT) AS n_dup,
         |  CASE WHEN len(sh) > 0
         |    THEN (len(sh) - len(list_distinct(sh))) * 1.0 / len(sh)
         |    ELSE 0.0 END AS rep_ratio
         |FROM s""".stripMargin,

    "t_tokens" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(lower(text)), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
        |FROM documents""".stripMargin,

    "t_top_terms" ->
      """SELECT rank, term, n FROM (
        |  SELECT term, count(*) AS n,
        |    row_number() OVER (ORDER BY count(*) DESC, term) AS rank
        |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY term)
        |WHERE rank <= 20""".stripMargin,

    "t_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         |  list_reduce(list_prepend(CAST(1 AS BIGINT),
         |    list_transform(regexp_extract_all(text, '.'), c -> CAST(ord(c) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % $HashMod) AS roll_hash
         |FROM documents""".stripMargin,

    "t_tfidf" ->
      """WITH tt AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tt GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * (SELECT count(*) FROM documents) AS DOUBLE) / df.df AS score
        |  FROM tf JOIN df ON tf.term = df.term),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3""".stripMargin,

    "t_chunk" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, n,
        |    unnest(range(0, 1 + CAST(greatest(floor((n - 64 + 47) / 48.0), 0) AS BIGINT)))
        |      AS chunk_idx
        |  FROM tok)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text,
        |  least(CAST(64 AS BIGINT), n - chunk_idx * 48) AS n_tokens
        |FROM c""".stripMargin,

    "t_unigram_lm" ->
      """WITH tt AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY term),
        |d AS (SELECT doc_id, CAST(sum(c.c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |      FROM tt JOIN c ON tt.term = c.term GROUP BY doc_id)
        |SELECT doc_id, n,
        |  CAST(s AS DOUBLE) / n / (SELECT count(*) FROM tt) AS lm_score
        |FROM d""".stripMargin,

    "t_ppl_buckets" ->
      """WITH tt AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY term),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(sum(c.c) AS BIGINT) * 1.0 / CAST(count(*) AS BIGINT)
        |      / (SELECT count(*) FROM tt) AS lm_score
        |  FROM tt JOIN c ON tt.term = c.term GROUP BY doc_id),
        |cuts AS (
        |  SELECT quantile_cont(lm_score, 0.3333333333333333) AS t1,
        |         quantile_cont(lm_score, 0.6666666666666666) AS t2
        |  FROM scored)
        |SELECT doc_id, lm_score,
        |  CASE WHEN lm_score <= t1 THEN 'tail'
        |       WHEN lm_score <= t2 THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM scored CROSS JOIN cuts""".stripMargin,

    "t_stopword_strip" -> {
      val stops = Lexicons.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(t) - len(k) AS BIGINT) AS n_removed,
         |  array_to_string(k, ' ') AS cleaned
         |FROM (
         |  SELECT doc_id, t,
         |    list_filter(t, w -> NOT list_contains($stops, w)) AS k
         |  FROM ($tokSql))""".stripMargin
    }
  )
}
