package graft.functions

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-training-data pipeline tier
  * (builder mandate beyond the reference surface; SURVEY.md §2.9 last row).
  * All are narrow per-row transforms — no shuffle, codegen-friendly
  * built-in expressions only — so they stream through a 100 TB scan at
  * parquet-read speed.
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  def tokens(c: Column): Column = split(c, " ")

  /** Whitespace token count (cast to long so the schema matches DuckDB's
    * BIGINT `len()`). */
  val tokenCount: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))

  /** Quality scoring: length, token count, punctuation ratio, stopword
    * ratio — the classic cheap heuristics applied before expensive dedup.
    * Ratios are deterministic int/int double divisions, rounded in both
    * engines.
    *
    * One fused TextStats pass per row (single tokenization + single
    * character scan) replaces the composed regexp_replace + split +
    * filter plan — the regex alone rebuilt every string just to count
    * its punctuation. HOF twin kept below for the equivalence spec. */
  val qualityScore: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("st",
        graft.expressions.TextHashes.text_stats(col("text"), Seq(stopwords)))
      .select(col("doc_id"),
        col("st")(0).as("n_chars"),
        col("st")(1).as("n_tokens"),
        // n_chars == 0 guard: Spark's /0 yields NULL but DuckDB's
        // float division yields NaN — define the empty-doc ratio as 0.0
        // in BOTH engines instead (stopword_ratio needs none: split('')
        // gives [''] so n_tokens >= 1 on both sides)
        // RAW exact-integer quotients (r15 q143-class sweep): one IEEE
        // division is bit-identical in both engines; a 4-decimal round
        // can land on a reachable exact half-way (e.g. 1/32) where
        // Spark decimal-HALF_UP and DuckDB scaled-double disagree
        when(col("st")(0) === 0, lit(0.0))
          .otherwise(col("st")(2).cast("double") / col("st")(0))
          .as("punct_ratio"),
        (col("st")(3).cast("double") / col("st")(1)).as("stopword_ratio"))

  /** q146: Gopher-style quality rule report — the published
    * rule-of-thumb filters (Rae et al. 2021 §A1.1: word-count window,
    * mean word length window, symbol-to-word ratio, bullet/ellipsis
    * line fractions, alpha-word fraction, stopword floor) evaluated
    * per document in ONE scan, rolled up to per-rule pass counts via
    * the q131 explode-reshape. Every rule is list/arithmetic-only —
    * no regex beyond a single [A-Za-z] class test — so the two engines
    * compute identical booleans; ratios guard the empty denominator
    * with an explicit CASE in BOTH engines (the q21 /0 lesson:
    * Spark NULL vs DuckDB NaN). Rules with no interpolation hash
    * exactly; the rolled-up pass_rate is one integer division under
    * round(·,6). */
  val gopherRules: Q = (s, d) => gopherRulesOver(t(s, d, "documents"))

  private[graft] def gopherRulesOver(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    val nWords = size(tk).cast("long")
    val sumLen = aggregate(transform(tk, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    val meanLen = when(nWords > 0, sumLen.cast("double") / nWords)
    val hashes = length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))
    val dots = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    val symRatio = when(nWords > 0,
      (hashes + dots).cast("double") / nWords)
    val alphaFrac = when(nWords > 0,
      size(filter(tk, w => w.rlike("[A-Za-z]"))).cast("double") / nWords)
    val lines = split(col("text"), "\n")
    val nLines = size(lines).cast("long")
    val bulletFrac = when(nLines > 0,
      size(filter(lines, l => l.startsWith("- ") || l.startsWith("* ")))
        .cast("double") / nLines)
    val ellipsisFrac = when(nLines > 0,
      size(filter(lines, l => l.endsWith("..."))).cast("double") / nLines)
    val stopHits = size(filter(tk, w => w.isin(stopwords: _*))).cast("long")
    val rules = Seq(
      "word_count" -> (nWords >= 50 && nWords <= 100000),
      "mean_word_length" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "symbol_ratio" -> (symRatio < 0.1),
      "bullet_lines" -> (bulletFrac < 0.9),
      "ellipsis_lines" -> (ellipsisFrac < 0.3),
      "alpha_words" -> (alphaFrac > 0.8),
      "stopword_floor" -> (stopHits >= 2))
    val agg0 = docs.agg(count(lit(1)).as("n_docs"),
      rules.map { case (n, c) =>
        sum(when(c, 1L).otherwise(0L)).as(s"__$n")
      }: _*)
    agg0.select(col("n_docs"), explode(array(rules.map { case (n, _) =>
        struct(lit(n).as("rule"), col(s"__$n").as("n_pass"))
      }: _*)).as("p"))
      .select(col("p.rule"), col("n_docs"), col("p.n_pass"),
        (col("p.n_pass").cast("double") / col("n_docs"))
          .as("pass_rate"))
  }

  /** Composable-HOF twin of qualityScore (TextStatsSpec proves bitwise
    * equality; the fused form is what runs in q21). */
  val qualityScoreHof: Q = (s, d) => {
    val tk = tokens(col("text"))
    val stopHits = size(filter(tk, tok => tok.isin(stopwords: _*)))
    val punct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    t(s, d, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(tk).cast("long").as("n_tokens"),
        when(length(col("text")) === 0, lit(0.0))
          .otherwise(punct.cast("double") / length(col("text")))
          .as("punct_ratio"), // empty-doc guard, as the fused form
        (stopHits.cast("double") / size(tk)).as("stopword_ratio"))
  }

  /** Document fingerprint over normalized text (lowercase, alnum+space
    * only). md5 prefix keeps the oracle SQL-expressible; the rolling-hash
    * winnowing variant is q56 (`winnowFingerprint` below). */
  val fingerprint: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        substring(md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")
          .cast("binary")), 1, 16).as("fingerprint"))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * local document fingerprinting scheme): hash every k=8 char-gram,
    * slide a w=4 window over the hash sequence, keep each window's
    * minimum, dedup — any shared substring of length ≥ k+w−1 guarantees
    * a shared fingerprint, so the selected set supports partial-overlap
    * detection exact hashing (q22) cannot. The gram hash is a djb2-style
    * polynomial mod 1e9+7: every intermediate fits a long with room to
    * spare, so Spark 4's ANSI overflow checking never fires and DuckDB
    * mirrors the arithmetic exactly (WinnowSpec pins the subset/window
    * coverage properties; docs shorter than k+w−1 have no window and are
    * filtered). Emitted as (n_fps, fp_sum) — order-independent integer
    * reductions of the fingerprint SET, so the two engines agree without
    * caring how each orders array_distinct.
    *
    * Runs through the fused WinnowFingerprints expression (one pass per
    * row inside WholeStageCodegen): the composable HOF form below is
    * semantically identical but interprets ~4 ms/doc — measured 400+ s
    * for a 100 k-doc scan vs seconds fused — and is kept only as the
    * equivalence twin (WinnowSpec proves bit-identical fingerprints). */
  val winnowFingerprint: Q = (s, d) =>
    t(s, d, "documents")
      .filter(length(col("text")) >= 11)
      .select(col("doc_id"),
        graft.expressions.TextHashes.winnow_fingerprints(col("text")).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fps"),
        expr("aggregate(fps, 0L, (a, x) -> a + x)").as("fp_sum"))

  /** The interpreted-HOF twin of WinnowFingerprints — equivalence spec
    * fodder only; never on a hot path. */
  def winnowFingerprintHof(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .filter(length(col("text")) >= 11)
      .withColumn("bytes",
        expr("transform(sequence(1, length(text)), j -> ascii(substr(text, j, 1)))"))
      .withColumn("gh", expr(
        """transform(sequence(0, length(text) - 8),
          |  i -> aggregate(slice(bytes, i + 1, 8), 5381L,
          |         (h, b) -> (h * 33 + b) % 1000000007))""".stripMargin))
      .withColumn("fps", expr(
        """array_distinct(transform(sequence(0, size(gh) - 4),
          |  i -> array_min(slice(gh, i + 1, 4))))""".stripMargin))
      .select(col("doc_id"), col("fps"))

  /** Exact deduplication by content hash: one shuffle on the hash key,
    * map-side partial agg first. `keeper_doc_id` = min doc_id per group
    * (the row a dedup pass would keep). */
  val dedupExact: Q = (s, d) =>
    t(s, d, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"))

  /** Repetition statistics — the Gopher-rule family of training-data
    * quality filters (Rae et al., 2021 measure duplicate-line and
    * top-n-gram fractions; the fixtures are single-line word streams, so
    * the token-level forms carry the signal here): distinct-token count
    * and the occurrence count of the most frequent bigram/trigram. All
    * emissions are exact integers — downstream filters take ratios, the
    * oracle hash-compares without any float concern. Runs through the
    * fused RepetitionStats expression (one pass, hash-map mode counts —
    * the interpreted HOF twin below recomputes the mode as
    * O(distinct × n) lambda work and measured 2.7 s vs ~0.2 s at sf0.1;
    * RepetitionSpec proves the two identical). */
  val repetitionStats: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        graft.expressions.TextHashes.repetition_stats(col("text")).as("r"))
      .select(col("doc_id"),
        col("r").getItem(0).as("n_tokens"),
        col("r").getItem(1).as("n_distinct"),
        col("r").getItem(2).as("top_bigram_n"),
        col("r").getItem(3).as("top_trigram_n"))

  /** Interpreted-HOF twin of RepetitionStats — equivalence spec fodder
    * only. */
  def repetitionStatsHof(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      // guards: sequence(a, b) with b < a yields a DESCENDING sequence
      // in Spark, so short docs must branch to an empty n-gram list
      .withColumn("bgs", expr(
        """if(size(toks) >= 2,
          |  transform(sequence(1, size(toks) - 1),
          |    i -> concat(toks[i - 1], ' ', toks[i])),
          |  array())""".stripMargin))
      .withColumn("tgs", expr(
        """if(size(toks) >= 3,
          |  transform(sequence(2, size(toks) - 1),
          |    i -> concat(toks[i - 2], ' ', toks[i - 1], ' ', toks[i])),
          |  array())""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        coalesce(expr("""array_max(transform(array_distinct(bgs),
          |  b -> size(filter(bgs, x -> x = b))))""".stripMargin), lit(0))
          .cast("long").as("top_bigram_n"),
        coalesce(expr("""array_max(transform(array_distinct(tgs),
          |  t -> size(filter(tgs, x -> x = t))))""".stripMargin), lit(0))
          .cast("long").as("top_trigram_n"))

  /** Deterministic mixture sampling — the domain-reweighting step of a
    * training-data pipeline (down-sample over-represented languages to a
    * target mixture): keep a doc iff a uniform hash of its id falls
    * under its language's rate. The hash is Knuth-multiplicative mod a
    * prime — pure integer arithmetic both engines compute identically
    * (exact up to doc_id ≈ 3.5e9 before 64-bit overflow; swap in a
    * 128-bit or split-multiply hash beyond that). Deterministic: re-runs
    * and the oracle pick the SAME docs, no RNG state anywhere. Emission
    * is per-lang totals plus kept ids' checksum, all exact integers. */
  /** q60's admission rule as ONE reusable predicate — the e2e pipeline
    * (q71) applies the SAME Column, so the two cannot drift. */
  val mixtureRates: Map[String, Double] =
    Map("en" -> 0.4, "zh" -> 1.0, "es" -> 1.0, "de" -> 1.0, "fr" -> 1.0)
  val mixturePrime = 1000003L

  def mixtureKeep(docId: Column, lang: Column): Column = {
    val rateCol = mixtureRates.foldLeft(lit(1.0)) { case (acc, (l, r)) =>
      when(lang === l, lit(r)).otherwise(acc)
    }
    pmod(docId * 2654435761L, lit(mixturePrime)) < rateCol * mixturePrime
  }

  val mixtureSample: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("keep", mixtureKeep(col("doc_id"), col("lang")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))

  /** PII scrub patterns — email, IPv4, international-ish phone. RE2-
    * and java.util.regex-compatible subset ON PURPOSE: no lookaround,
    * no backreferences, greedy quantifiers only, so Spark (Java regex)
    * and DuckDB (RE2) find the SAME matches and the redacted text
    * hash-compares. ASCII classes only (`[0-9]`, not `\d` — Java's \d
    * is ASCII by default but spelling it out removes the ambiguity). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    "\\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}" -> "<PHONE>")

  /** Sequential redaction passes in declaration order (email first so
    * an address's dotted host is consumed before the IP pattern can
    * bite into it). Map-only — composes into any scan. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** q80: PII scrub — the redaction stage every released training set
    * runs (emails, IPs, phone numbers → typed tags). The fixtures carry
    * no PII, so the query APPENDS a deterministic PII-bearing suffix
    * built from fixture columns — identically in both engines — then
    * scrubs it: every row exercises one real match per pattern class
    * and the original text must pass through byte-identical (the
    * generated-oracle pattern of q38/q42/q74). Counts are taken BEFORE
    * redaction via regexp_extract_all so detection and replacement are
    * verified independently. 100 TB shape: map-only, no shuffle, three
    * codegen'd regex passes per row (PlanAuditSpec pins no-Exchange). */
  val piiScrub: Q = (s, d) => {
    val suffixed = t(s, d, "documents").select(col("doc_id"), concat(
      col("text"), lit(" reach user"), col("doc_id"),
      lit("@example.com at 10.0."), pmod(col("doc_id"), lit(256)),
      lit(".7 or +12 345-678-9012")).as("s"))
    val counts = piiPatterns.zip(Seq("n_emails", "n_ips", "n_phones")).map {
      case ((pat, _), name) =>
        size(regexp_extract_all(col("s"), lit(pat), lit(0))).cast("long").as(name)
    }
    suffixed.select(col("doc_id") +: scrubPii(col("s")).as("redacted") +: counts: _*)
  }

  val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "es", "una", "y"))

  /** Language-ID by stopword-vote n-gram heuristic (composable-HOF form:
    * one split + filter per language). English/German/French/Spanish
    * function-word hit counts; argmax wins, ties broken by fixed
    * language order. Purely columnar (no UDF). */
  def langIdCol(text: Column): Column = {
    val tk = tokens(text)
    // array_max on struct is lexicographic, so ties would pick the
    // lexicographically-last lang among equals; make order deterministic
    // by preferring earlier langs via a rank component.
    val ranked = langWords.zipWithIndex.map { case ((lang, ws), i) =>
      struct(size(filter(tk, tok => tok.isin(ws: _*))).as("hits"),
        lit(langWords.size - i).as("prio"), lit(lang).as("lang"))
    }
    array_max(array(ranked: _*)).getField("lang")
  }

  /** q24: all four languages' hit counts from ONE TextStats pass (the
    * HOF form tokenizes the text once per language); same argmax +
    * earlier-lang tie preference. TextStatsSpec proves equality. */
  val langId: Q = (s, d) => {
    val ranked = langWords.zipWithIndex.map { case ((lang, _), i) =>
      struct(col("st")(3 + i).as("hits"),
        lit(langWords.size - i).as("prio"), lit(lang).as("lang"))
    }
    t(s, d, "documents")
      .withColumn("st",
        graft.expressions.TextHashes.text_stats(col("text"), langWords.map(_._2)))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        array_max(array(ranked: _*)).getField("lang").as("detected_lang"))
  }

  /** The composed training-data filter — the shape an LLM data pipeline
    * actually runs: quality gates (token count, stopword ratio) AND
    * exact-dedup survivor check in one pass, reported per language.
    * Dedup survivors = rows whose doc_id is the min for their content
    * hash (TextOps.dedupExact's keeper). */
  val pipelineFilter: Q = (s, d) => {
    val tk = tokens(col("text"))
    val stopHits = size(filter(tk, tok => tok.isin(stopwords: _*)))
    val scored = t(s, d, "documents")
      .withColumn("n_tokens", size(tk).cast("long"))
      .withColumn("stop_ratio", stopHits.cast("double") / size(tk))
      .withColumn("text_hash", md5(col("text").cast("binary")))
    val keepers = scored.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    scored
      .join(keepers, Seq("text_hash", "doc_id"), "left_semi") // dedup survivors
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
        col("stop_ratio") <= 0.5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"))
  }

  /** BPE-ish pre-tokenization count — the GPT-2 pre-tokenizer shape
    * (letter runs / digit runs / punct runs, each with an optional
    * leading space) next to the whitespace count: the two token-budget
    * estimators a training-data pipeline actually runs. Plain regex
    * alternation over explicit character classes so Java and DuckDB's
    * RE2 tokenize identically. */
  val bpeRegex = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
  val bpeTokenCount: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(bpeRegex), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"))

  /** Per-source corpus composition — the mixture-planning report that
    * feeds a sampler like q60: for every ingestion source, its doc and
    * token counts, its share of corpus tokens, and how many of its docs
    * are exact duplicates of anything in the WHOLE corpus (cross-source
    * dup pressure is what demotes a source in the mix). One corpus scan;
    * dup detection is a window count over md5 partitions (shuffle on
    * hash — the exact-dedup shuffle, q23), then one groupBy(source).
    * token_share divides two exact longs — deterministic IEEE division,
    * rounded in both engines. */
  val sourceMix: Q = (s, d) => {
    val base = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
    val withDup = base.withColumn("n_same",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    withDup
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      // the share window runs over the ALREADY-AGGREGATED per-source
      // frame (≤ #sources rows) — the single-partition window is fine
      // at any corpus size, same argument as q43's lag
      .withColumn("token_share",
        col("n_tokens") / sum(col("n_tokens")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
  }

  /** Token-trigram phrases of a document — the posting unit of the
    * phrase inverted index (q65/q66). Fused TokenNgrams expression
    * (~10 µs/doc in codegen); docs under 3 tokens contribute none. */
  private def trigramPhrases: Column =
    graft.expressions.TextHashes.token_ngrams(col("text"), 3)

  /** Interpreted-HOF twin of TokenNgrams over a bound `toks` column
    * (PhraseIndexSpec proves the two identical) — ~1.4 ms/doc, never on
    * a hot path. */
  def trigramPhrasesHof: Column = expr(
    """if(size(toks) >= 3,
      |  transform(sequence(2, size(toks) - 1),
      |    i -> concat(toks[i - 2], ' ', toks[i - 1], ' ', toks[i])),
      |  array())""".stripMargin)

  /** Phrase inverted-index build — the ES-style index the reference
    * delegates to, built as a first-class batch operator: explode each
    * document into token trigrams, one shuffle on the phrase key
    * (map-side partial agg), emit per-phrase document frequency,
    * occurrence count, and order-independent checksums of the posting
    * list (min/max/sum of distinct doc ids — the driver compare can't
    * hash array columns, and the checksums pin the SAME set; q66 then
    * materializes actual postings as rows). df >= 3 keeps the published
    * slice to phrases with real posting lists. At 100 TB the shuffle
    * carries (phrase, doc_id) pairs only; hot-phrase skew is bounded by
    * the df cap a production build would add (AQE skew-split covers the
    * rest), and postings would be delta-encoded per term shard. */
  /** The five-aggregate phrase build over (doc_id, text) rows — q65
    * runs THIS code, and PhraseIndexSink runs its two steps apart
    * (phraseDocRows at write, phraseFromRows at read), so the batch
    * query and the incremental index cannot drift apart. */
  def phraseAggregate(docs: DataFrame): DataFrame =
    phraseFromRows(phraseDocRows(docs))

  /** The per-doc phrase ledger rows (doc_id, phrase, occ) — the
    * RETRACTABLE unit of the phrase index (r17): min_doc/max_doc are
    * not invertible aggregates (deleting the min doc needs the
    * second-min, which only per-doc rows still know), so the streaming
    * sink stores THESE rows and every aggregate derives at read time —
    * the same per-doc-pair-rows argument that shaped
    * [[graft.sinks.BenchRegistrySink]]. The q65 batch build runs
    * through the same two steps, so batch and stored-serving answers
    * share one definition. */
  private[graft] def phraseDocRows(docs: DataFrame): DataFrame =
    docs
      .withColumn("tgs", trigramPhrases)
      .select(col("doc_id"), explode(col("tgs")).as("phrase"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("occ"))

  /** The five phrase aggregates over per-doc ledger rows: one row per
    * (doc, phrase) makes df a plain count, id_sum a plain sum — and
    * the former countDistinct/sum_distinct pair (two distinct
    * aggregates = an Expand over every exploded trigram) becomes two
    * cascaded hash aggregates whose first stage combiner-collapses
    * per-doc repeats map-side. */
  private[graft] def phraseFromRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("phrase"))
      .agg(count(lit(1)).as("df"),
        sum(col("occ")).as("occ"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("doc_id")).as("id_sum"))

  val phraseIndex: Q = (s, d) =>
    phraseAggregate(t(s, d, "documents")).filter(col("df") >= 3)

  /** Boilerplate stop-band report (q85) — the data-driven input to the
    * hot-bucket caps and a C4-style boilerplate filter list: the top-k
    * trigram phrases by document coverage (df / corpus docs), with raw
    * df/occ. Runs THROUGH phraseAggregate (the q65 builder — cannot
    * drift), top-k via TakeOrdered on (df desc, phrase) so boundary
    * ties cut deterministically; the 1-row corpus total broadcasts into
    * the k-row frame. A production pipeline feeds this list back as the
    * band-join stop list, exactly how full-text engines drop stopwords. */
  val boilerplateReport: Q = (s, d) => {
    val docs = t(s, d, "documents")
    phraseAggregate(docs)
      .select(col("phrase"), col("df"), col("occ"))
      .orderBy(col("df").desc, col("phrase").asc)
      .limit(20)
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("total_docs"))))
      .select(col("phrase"), col("df"), col("occ"),
        (col("df") / col("total_docs")).as("coverage"))
  }

  /** Conjunctive-candidate phrase search THROUGH the index: the top-3
    * phrases by (df desc, phrase) are looked up and their posting lists
    * emitted as (phrase, doc_id) hits — the index-backed half of the
    * reference's ES match query. The oracle deliberately takes the other
    * road (substring containment scan over the raw corpus), so the two
    * engines agree only if index build + posting lookup is semantically
    * a full-text presence scan. Single-space tokenization makes
    * token-aligned trigram presence ⟺ ' phrase ' substring of
    * ' text ' (PhraseIndexSpec pins the equivalence). The top-3 terms
    * are enumerated on the driver and pushed as literals; at scale the
    * posting lookup is a partition-pruned point read of the term shard,
    * not a corpus scan. */
  val phraseSearch: Q = (s, d) => {
    val inv = t(s, d, "documents")
      .withColumn("tgs", trigramPhrases)
      .select(col("doc_id"), explode(col("tgs")).as("phrase"))
    // The top-3 terms are ENUMERATED on the driver (3 strings — the
    // probeAnnLshIndex pattern: tiny driver-side model, literal
    // pruning), then pushed as an isin filter BEFORE the posting
    // distinct. The earlier join shape (inv.distinct ⋈ broadcast(top))
    // re-shuffled the ENTIRE inverted list a second time: the two
    // branches' distinct exchanges canonicalize differently once the
    // optimizer merges distinct+groupBy on the aggregation side, so
    // ReusedExchange never fires (measured: 2 full corpus scans, 2
    // corpus-sized exchanges, reuse 0). With the literal filter the
    // second pass's exchange carries only the 3 matched phrases'
    // postings — at 100 TB the difference between shuffling the whole
    // inverted list twice and once. Semantics identical: filter-then-
    // distinct ≡ distinct-then-join on the same key set, and the top-3
    // selection (df desc, phrase asc) is unchanged.
    val top = inv.distinct().groupBy(col("phrase"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("phrase").asc)
      .limit(3)
      .select(col("phrase")).collect().map(_.getString(0)).toSeq
    inv.filter(col("phrase").isin(top: _*))
      .distinct()
      .select(col("phrase"), col("doc_id"))
  }

  /** Exact global-decile quality gate — "keep the longest 10 % of the
    * corpus by token count" without a global sort: aggregate to the
    * distinct-value frame first (one narrow shuffle; at most as many
    * rows as distinct token counts, thousands not billions), run the
    * cumulative count over THAT tiny frame (the single-partition window
    * is over the aggregated frame — q43/q63's accepted argument), pick
    * the smallest value whose top-cumulative count stays within
    * ceil(N/10), then broadcast the one-row threshold back as a filter.
    * Ties at the boundary are kept wholesale (value-threshold semantics,
    * deterministic — no arbitrary row_number cut). All arithmetic is
    * exact integers in both engines. */
  val decileFilter: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    // fallback: when even the top value-group alone exceeds the decile
    // budget (heavy ties at the max), keep that tied top group rather
    // than returning an empty report — "ties kept wholesale" applies at
    // the first boundary too
    val thr = docs.groupBy(col("n_tokens")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("n_tokens").desc)))
      .withColumn("nt", sum(col("cnt")).over(Window.partitionBy()))
      .agg(coalesce(
        min(when(col("cum") <= expr("(nt + 9) div 10"), col("n_tokens"))),
        max(col("n_tokens"))).as("threshold"))
    docs.join(broadcast(thr), docs("n_tokens") >= thr("threshold"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("n_tokens")).as("min_tok"),
        max(col("n_tokens")).as("max_tok"),
        max(col("threshold")).as("threshold"))
  }

  /** Cross-source overlap matrix — the dedup-planning report behind a
    * mixture decision (how much of source A is already in source B):
    * per-source distinct trigram-phrase sets, pairwise shared counts and
    * Jaccard — never a doc×doc or corpus cross join. Built as a
    * phrase→sources inverted index in ONE wide shuffle: collect_set
    * dedups both in-doc repeats and same-source docs, and map-side
    * partial aggregation keeps every in-flight set bounded by #sources,
    * so a hot phrase never concentrates rows. Each phrase then emits
    * its C(df, 2) source pairs from the sorted set — the phrase
    * self-join this replaces shuffled the presence list twice and paid
    * the join besides.
    *
    * The df-cap: a phrase present in EVERY source adds a constant +1 to
    * every pair's shared count and every source's set size — zero
    * ranking information for the full C(#sources, 2) fanout, and at
    * 100 TB boilerplate phrases ARE in every source. The report is
    * therefore defined over the informative phrase universe
    * df < #sources (the oracle applies the identical cap). Jaccard is
    * long/long division → identical IEEE doubles in both engines,
    * rounded in both. */
  private[graft] def sourceOverlapOf(docs: DataFrame): DataFrame = {
    val nSources = docs.agg(countDistinct(col("source"))).first().getLong(0)
    // r18: the phrase→sources index keys on the fused DISTINCT trigram
    // hash set (ShingleHashes — DedupSpec pins hash ≡ xxhash64 of the
    // distinct gram strings), not the trigram STRING: the phrase value
    // never reaches the output (only source pairs and counts do), so
    // this is the q154/q61 hash-key convention — the one corpus-wide
    // exchange narrows from ~25-byte strings to 8-byte longs, in-doc
    // repeats collapse before the explode, and the oracle keeps joining
    // the gram string (equal modulo 64-bit collisions).
    val inv = docs
      .select(col("source"),
        explode(graft.expressions.TextHashes
          .shingle_hashes(col("text"), 3)).as("phrase"))
      .groupBy(col("phrase"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) < nSources)
    val sizes = inv.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    // ordered pairs straight from the sorted set: element i pairs with
    // every later element — C(df, 2) structs per phrase, no self-join.
    // Fused OrderedPairs expression: the HOF flatten/transform/slice
    // composition is CodegenFallback (interpreted, lambda frame per
    // element) and this runs once per DISTINCT PHRASE — the q69 hot row
    // set (CorpusStatsSpec pins HOF bit-equivalence).
    val pairs = inv
      .filter(size(col("srcs")) >= 2)
      .select(explode(
        graft.expressions.TextHashes.ordered_pairs(col("srcs"))).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n_sh", "n_a")), Seq("source_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n_sh", "n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared"),
        col("n_a"), col("n_b"),
        (col("shared") / (col("n_a") + col("n_b") - col("shared")))
          .as("jaccard"))
  }

  val sourceOverlap: Q = (s, d) => sourceOverlapOf(t(s, d, "documents"))

  /** Overlapping chunk split — the retrieval/embedding-prep shape (w=32
    * token windows, stride 24, 8-token overlap so no boundary sentence
    * is lost): one chunk row per window start, with the chunk's token
    * count and content hash. Chunk starts are a tiny integer sequence
    * per row (never a lambda over tokens); slice/concat_ws/md5 are
    * native collection expressions, so the whole thing is a map-only
    * explode — at 100 TB it streams at scan speed like q20-q24. Both
    * engines clamp a slice past the end identically, so the tail chunk
    * hashes agree. */
  /** Token-window grid shared by q73 and q81: one row per (doc_id, ci)
    * window start with the sliced token array. stride == w gives q81's
    * disjoint grid; w > stride gives q73's overlapping windows. Starts
    * are a tiny integer sequence per row (never a lambda over tokens),
    * so the whole thing is a map-only explode. */
  private def tokenWindows(docs: DataFrame, w: Int, stride: Int): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("starts",
        expr(s"sequence(0, ((size(toks) - 1) div $stride) * $stride, $stride)"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("starts")).as(Seq("ci", "start")))
      .select(col("doc_id"), col("ci").cast("long").as("ci"),
        expr(s"slice(toks, start + 1, $w)").as("win"))

  val chunkSplit: Q = (s, d) =>
    tokenWindows(t(s, d, "documents"), w = 32, stride = 24)
      .select(col("doc_id"), col("ci").as("chunk_idx"),
        size(col("win")).cast("long").as("chunk_len"),
        md5(concat_ws(" ", col("win")).cast("binary")).as("chunk_hash"))

  /** q81: chunk-level exact dedup with document reassembly — the
    * C4-style span dedup that doc-level q23 can't do: a boilerplate
    * paragraph repeated across otherwise-distinct documents survives
    * doc-level dedup forever, while chunk-level keeps its globally
    * FIRST occurrence (min (doc_id, chunk_idx)) and drops the rest,
    * then stitches every document back together from its surviving
    * chunks. Chunks are the disjoint 24-token spans of the q73 grid
    * (stride = width — dedup wants a partition, not retrieval's
    * overlapping windows). Output per doc: total/kept chunk counts and
    * the md5 of the reassembled text ('' when every span was seen
    * earlier — exact-dup docs collapse to empty, subsuming q23).
    *
    * 100 TB shape: two exchanges — the keeper window shuffles on the
    * chunk TEXT (the dedup identity, same contract as q23's content
    * key; hashing it first would trade a 64-bit-collision correctness
    * hole for shuffle width), then reassembly shuffles the kept slivers
    * on doc_id. Both partial-aggregate map-side; no corpus-sized state
    * anywhere. */
  /** The disjoint 24-token chunk grid of a documents frame — q81's
    * partition (stride = width) and the unit the chunk index stores.
    * One row per (doc_id, ci, chunk). */
  private[graft] def chunkGrid(docs: DataFrame): DataFrame =
    tokenWindows(docs, w = 24, stride = 24)
      .select(col("doc_id"), col("ci"),
        concat_ws(" ", col("win")).as("chunk"))

  val chunkDedup: Q = (s, d) => {
    val chunks = chunkGrid(t(s, d, "documents"))
    val keep = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk")).orderBy(col("doc_id"), col("ci"))
    chunks.withColumn("rk", row_number().over(keep))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN rk = 1 THEN struct(ci, chunk) END)), x -> x.chunk)"))
          .cast("binary")).as("clean_md5"))
  }

  /** ---- Persistent chunk index: q81's ingest symmetry (the same
    * build/probe/streaming-admission triple the MinHash-LSH and
    * embedding-LSH families carry). The index is a
    * [[graft.sinks.SegmentIndex]] storing one md5 per DISTINCT chunk
    * ever admitted — 128-bit hash equality stands in for chunk-text
    * equality (2^-64 collision odds at corpus scale; same stand-in q23's
    * exact dedup and C4-style span dedup use in production), so the
    * index row is 32 bytes regardless of chunk width. Rows are
    * partitioned by bmod = pmod(xxhash64(h), chunkIndexBuckets) and fold
    * to their distinct hashes (same h ⇒ same bmod). 64 buckets suit the
    * test scale; at 100 TB, size them so a micro-batch's distinct bucket
    * set stays ≪ the directory count — otherwise every probe touches
    * every directory and the pruning is vacuous. */
  val chunkIndexBuckets = 64

  private val chunkIndex = graft.sinks.SegmentIndex("chunks", "h", Seq("h"),
    part = Some("bmod"), hashOf = Some(xxhash64(col("h")) -> chunkIndexBuckets))

  /** Bulk-build ingest ids are NEGATIVE (default -1) and streaming
    * batchIds are >= 0, so a bootstrap segment is never excluded by a
    * batch-0 probe's replay filter and never clobbered by a batch-0
    * segment overwrite — the id spaces are disjoint by sign. */
  def buildChunkIndex(docs: DataFrame, path: String, ingestId: Long = -1L): Unit = {
    chunkIndex.guardBuild(docs.sparkSession, path, ingestId)
    chunkIndex.write(chunkGrid(docs).select(md5(col("chunk").cast("binary")).as("h"))
      .dropDuplicates("h"), path, ingestId)
  }

  /** Probe: which of `batchH`'s hashes are already indexed by ingests
    * other than `excludeIngest`? The index side is pruned at listing time
    * to the batch's driver-enumerated bucket set and joins the BROADCAST
    * batch hashes — the index is never shuffled nor fully read
    * (ChunkDedupSpec walks the executed plan for both pins). */
  private[graft] def probeChunkIndex(spark: SparkSession, indexPath: String,
      batchH: DataFrame, excludeIngest: Long): DataFrame =
    chunkIndex.live(spark, indexPath, chunkIndex.parts(batchH, indexPath),
        Some(excludeIngest)) match {
      case None => batchH.limit(0).select(col("h"))
      case Some(idx) => idx.join(broadcast(batchH), "h").select(col("h")).distinct()
    }

  /** Compact the chunk index (fold all but the newest replayable batch
    * segment). */
  def compactChunkIndex(spark: SparkSession, indexPath: String): Unit =
    chunkIndex.compact(spark, indexPath)

  /** Streaming chunk-dedup admission ([[graft.sinks.SegmentIndex.admit]]):
    * per micro-batch, drop every chunk whose hash is already indexed
    * (earlier ingests only), self-dedup the batch's own chunks
    * (globally-first (doc_id, ci) wins — the q81 keeper rule applied
    * within the batch), reassemble each doc from its surviving chunks,
    * then write the cleaned docs and the batch's new-hash segment. Output
    * rows: (doc_id, n_chunks, n_kept, clean_text) — a doc whose every
    * span was seen earlier survives as an EMPTY doc (n_kept = 0), the
    * caller's signal to drop it entirely. */
  def streamingChunkDedupWriter(indexPath: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    graft.sinks.SegmentIndex.admit(outDir, batchId) {
      val chunks = chunkGrid(batch)
        .withColumn("h", md5(col("chunk").cast("binary")))
        .localCheckpoint()
      val seen = probeChunkIndex(batch.sparkSession, indexPath,
        chunks.select(col("h")).distinct(), excludeIngest = batchId)
      val keep = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"), col("ci"))
      // checkpointed so the probe join + keeper window run ONCE per batch
      // — both the admitted rollup and the segment write read from here
      val marked = chunks
        .join(seen.withColumn("__seen", lit(true)), Seq("h"), "left")
        .withColumn("rk", row_number().over(keep))
        .withColumn("kept", col("__seen").isNull && col("rk") === 1)
        .localCheckpoint()
      (marked.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(CASE WHEN kept THEN struct(ci, chunk) END)), x -> x.chunk)"))
            .as("clean_text")),
        () => chunkIndex.write(marked.filter(col("kept")).select(col("h"))
          .dropDuplicates("h"), indexPath, batchId))
    }

  /** Length-bucketed batching report — the dynamic-batching planner's
    * input: every doc rounds up to the next power-of-two token bucket,
    * and each bucket reports its doc count, real token mass, padding
    * waste (what a padded batch burns), and fill ratio. The bucket
    * assignment is an exact integer comparison chain in BOTH engines —
    * no log2 float hazard at exact powers of two. Map-side classify +
    * one tiny groupBy: corpus-scan shaped. */
  /** Power-of-two bucket bounds 16..2^20 — the oracle's CASE chain is
    * generated from the SAME seq, so the two engines cannot drift. 2^20
    * tokens ≈ 5 MB of text in one row, beyond the string-column design
    * point, so the chain never clamps in practice (a clamp would make
    * pad_waste negative — the bug class this generated chain removes). */
  private[graft] val bucketBounds: Seq[Long] = (4 to 20).map(1L << _)

  val lengthBuckets: Q = (s, d) => {
    val bounds = bucketBounds
    def bucketOf(n: Column): Column =
      bounds.reverse.foldLeft(lit(bounds.last)) { case (acc, b) =>
        when(n <= b, lit(b)).otherwise(acc)
      }
    t(s, d, "documents")
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket", bucketOf(col("n_tokens")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tok_total"),
        sum(col("bucket") - col("n_tokens")).as("pad_waste"))
      .withColumn("fill",
        col("tok_total") / (col("n_docs") * col("bucket")))
  }

  /** Corpus vocabulary build (q82) — the tokenizer-training /
    * frequency-table pass every pipeline runs before BPE fitting: one
    * row per token with corpus frequency, document frequency, and a
    * deterministic frequency rank (ties broken by token text). Shape:
    * explode → ONE hash-shuffle groupBy(token) with map-side partial
    * aggregation (df via the two-phase distinct expansion), then the
    * top-k lands via orderBy+limit — Spark's TakeOrderedAndProject, a
    * per-partition heap + driver merge of k rows, NOT a global sort.
    * The rank window runs over the already-limited k-row frame (same
    * tiny-frame argument as q63's share window). At 100 TB the token
    * key space is vocabulary-sized (≪ corpus), so the groupBy's reduce
    * side is small however large the scan; skewed hot tokens ("the")
    * are absorbed by the map-side partial agg. */
  /** The per-token (freq, df) aggregate — shared by the q82 batch
    * query and the streaming vocabulary sink (same builder, cannot
    * drift). Both outputs are decomposable sums, so per-batch partials
    * merge exactly under the one-doc-one-batch admission contract. */
  private[graft] def vocabAggregate(docs: DataFrame): DataFrame =
    vocabFromRows(vocabDocRows(docs))

  /** The per-doc vocabulary ledger rows (doc_id, token, tf) — the
    * retractable unit behind [[graft.sinks.VocabSink]]: a retraction
    * subtracts exactly the retracted docs' live (token, tf) rows, read
    * back from the store (the SubstrIndexSink negative-partial
    * convention). The q82 batch build derives through the same rows,
    * so the batch and streamed answers share one definition. */
  private[graft] def vocabDocRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** (token, freq, df) over per-doc rows: one row per (doc, token)
    * makes df a plain count — the countDistinct this replaces cost an
    * extra distinct aggregation over every exploded token. */
  private[graft] def vocabFromRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("token"))
      .agg(sum(col("tf")).as("freq"),
        count(lit(1)).as("df"))

  /** The deterministic (freq desc, token asc) top-k + dense rank over
    * an already-aggregated vocab frame — shared by q82 and the sink's
    * read side. TakeOrdered top-k, rank windowed over k rows only. */
  private[graft] def vocabTopK(agg: DataFrame, k: Int): DataFrame =
    agg.orderBy(col("freq").desc, col("token").asc).limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("token").asc)).cast("long"))

  val vocabBuild: Q = (s, d) =>
    vocabTopK(vocabAggregate(t(s, d, "documents")), 200)

  /** q102: the LIVE vocabulary snapshot ≡ the q82 batch build, with the
    * streaming sink's whole lifecycle under the driver's hash gate (the
    * q98 pattern: a stored lifecycle state proved equal to the plain
    * batch oracle). The corpus is cut into three micro-batches (one doc
    * in exactly one batch — the sink's df-additivity admission
    * contract), written through VocabSink's foreachBatch hook, the
    * first two cuts FOLDED by compaction, the third left as a live
    * tail — so the read exercises the fold + tail merged path, not the
    * post-fold fast case — and the top-k over that merged state must
    * hash-equal q82's single-pass batch answer exactly. */
  val vocabStream: Q = (s, d) =>
    // kind carries the layout version (see LedgerStore): an older
    // layout must rebuild
    vocabTopK(graft.sinks.VocabSink.read(s,
      ensureCutLifecycle(s, d, "vocabstream-v4side",
        graft.sinks.VocabSink.writer,
        loc => graft.sinks.VocabSink.compact(s, loc))), 200)

  /** q172: RETRACTION through the vocabulary lifecycle — the q167
    * convention applied to the first ADDITIVE text store: the worst
    * retractable state ([[ensureRetractLifecycle]]: three ingest cuts,
    * fold, retract ≡ 3 (mod 10), resurrect the ≡ 3 (mod 20) half,
    * fold again, live-tail re-retract ≡ 3 (mod 40)), served top-k
    * hash-gated against q82's batch oracle on the POST-RETRACTION
    * corpus — which proves the negative-partial arithmetic ported from
    * the substring counts store: a token whose every occurrence lived
    * in retracted docs telescopes to zero and leaves the vocabulary
    * (no ghost tokens), while freq/df for surviving tokens subtract
    * exactly. */
  val vocabRetract: Q = (s, d) =>
    vocabTopK(graft.sinks.VocabSink.read(s,
      ensureRetractLifecycle(s, d, "vocabretract-v2side",
        graft.sinks.VocabSink.writer,
        graft.sinks.VocabSink.retract,
        loc => graft.sinks.VocabSink.compact(s, loc))), 200)

  /** q103: the live PHRASE INVERTED INDEX ≡ the q65 batch build through
    * the same three-cut lifecycle as q102. Since r17 the store is a
    * per-doc ROW LEDGER (retraction support: min_doc/max_doc are not
    * invertible, so only pair rows can serve deletions — see the
    * sink's Scaladoc), which means THIS lifecycle's mid-order compact
    * folds nothing (the row protocol keeps the max batch id
    * replayable; the honesty note on [[ensureCutLifecycle]]) — the
    * ledger's fold+tail road is exercised by q173's retract lifecycle
    * and the PhraseIndexSpec. All five aggregates must derive exactly
    * from the merged ledger under the one-doc-one-batch admission
    * contract, proved by the driver's hash gate against the batch
    * oracle. */
  val phraseStream: Q = (s, d) =>
    graft.sinks.PhraseIndexSink.read(s,
      ensureCutLifecycle(s, d, "phrasestream-v4side",
        graft.sinks.PhraseIndexSink.writer,
        loc => graft.sinks.PhraseIndexSink.compact(s, loc)), minDf = 3L)

  /** q173: RETRACTION through the phrase-index lifecycle (the q172
    * matrix on the ledger store): a CDC-deleted doc must leave df,
    * occ, id_sum AND the min/max posting bounds — the two aggregates
    * no negative partial can fix, which is exactly why this store
    * holds per-doc rows. Hash-gated against q65's batch oracle on the
    * post-retraction corpus through retract → resurrect → fold →
    * live-tail re-retract. */
  val phraseRetract: Q = (s, d) =>
    graft.sinks.PhraseIndexSink.read(s,
      ensureRetractLifecycle(s, d, "phraseretract-v2side",
        graft.sinks.PhraseIndexSink.writer,
        graft.sinks.PhraseIndexSink.retract,
        loc => graft.sinks.PhraseIndexSink.compact(s, loc)), minDf = 3L)

  /** q174: RETRACTION through the source-stats lifecycle, served as
    * the q84 mixture PLAN — the dataset-card decision a retired
    * source must leave immediately (its ghost token mass would keep
    * drawing budget). Same matrix; hash-gated against q84's batch
    * oracle on the post-retraction corpus, which proves the negative
    * partials AND the downstream tempered-weight renormalization (the
    * Σ√ denominator shrinks to the live sources). */
  val sourceStatsRetract: Q = (s, d) =>
    graft.sinks.SourceStatsSink.mixturePlan(s,
      ensureRetractLifecycle(s, d, "sourcestatsretract-v2side",
        graft.sinks.SourceStatsSink.writer,
        graft.sinks.SourceStatsSink.retract,
        loc => graft.sinks.SourceStatsSink.compact(s, loc)), 1000000L)

  /** Build (once per fixture generation) a three-cut streaming-sink
    * lifecycle state over the documents table: batches 0/1 written,
    * compacted, batch 2 appended as a live tail — for ADDITIVE
    * sub-stores (vocab/phrase counts) this is the worst readable state
    * (fold of 0+1 + tail merged read), shared by q102/q103. Honesty
    * note (r16 review): an [[graft.sinks.IngestSegments]] ROW store
    * behind this order does NOT fold here — that protocol keeps the
    * max batch id out, so folded = {0} early-returns; the row-store
    * fold+tail road is exercised by [[ensureRetractLifecycle]]'s
    * three-then-compact order and by the per-store specs instead.
    * Tagged by the documents fixture and published by
    * [[graft.sinks.Lifecycle]], so a regenerated fixture rebuilds
    * instead of serving stale counts and a torn state never serves. */
  private[graft] def ensureCutLifecycle(s: SparkSession, d: String, kind: String,
      writer: String => (DataFrame, Long) => Unit,
      compact: String => Unit): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("documents"), kind) { stage =>
      val docs = t(s, d, "documents")
      def cut(b: Long) = docs.filter(pmod(col("doc_id"), lit(3)) === b)
      writer(stage)(cut(0), 0L)
      writer(stage)(cut(1), 1L)
      compact(stage)
      writer(stage)(cut(2), 2L)
    }

  /** The retraction lifecycle twin of [[ensureCutLifecycle]] — the
    * worst RETRACTABLE state a store can serve from
    * ([[graft.sinks.Lifecycle.retractCuts]]: three ingest cuts by
    * doc_id, compact, retract(`retract1`), re-ingest(`resurrect`),
    * compact, live-tail retract(`retract2`) — by default q167's doc_id
    * ≡ 3 mod 10/20/40 masks); additive sub-stores then serve a fold
    * PLUS live partial tails (batches 3+), so the merged read is
    * exercised on both store kinds. */
  private[graft] def ensureRetractLifecycle(s: SparkSession, d: String,
      kind: String,
      writer: String => (DataFrame, Long) => Unit,
      retractor: String => (DataFrame, Long) => Unit,
      compact: String => Unit,
      masks: (Column, Column, Column) =
        graft.sinks.Lifecycle.halvingMasks(col("doc_id"))): String =
    graft.sinks.Lifecycle.ensure(s, d, Seq("documents"), kind)(
      graft.sinks.Lifecycle.retractCuts(t(s, d, "documents"), col("doc_id"),
        writer, retractor, compact, masks))

  /** Unigram-LM quality score (q88) — the cheap statistical tier of the
    * CCNet/Gopher-style quality cascade: score every document by its
    * MEAN add-one-smoothed token probability under a unigram model
    * trained on the corpus itself (rare-token-heavy gibberish scores
    * low, stopword-heavy boilerplate scores high). The score is kept a
    * RATIONAL: numerator Σ_t (cnt(t)+1) and denominator n_tokens ×
    * (total_tokens + |V|) are exact integer sums — order-independent,
    * so Spark's and DuckDB's different aggregation orders cannot
    * diverge — with ONE double division at the end (exactly rounded in
    * both engines; a log-prob variant would hang bit-equality on libm).
    *
    * Scale shape: train = one explode → vocabulary-sized token agg
    * (map-side partials absorb hot tokens, reduce side is |V| however
    * big the scan — q82's argument); score = token stream ⋈ broadcast
    * model (the model is vocabulary-sized ⇒ broadcastable at any corpus
    * size), re-grouped by doc_id — explode preserves document locality,
    * so the partial agg collapses each doc's tokens before the
    * exchange and the shuffle carries ≈ one narrow row per document.
    * The corpus-total stats ride a one-row broadcast like q79's; no
    * driver collect anywhere. */
  /** The (token, cnt) unigram model — q88's train pass, shared with the
    * streaming gate (which maintains it incrementally via VocabSink). */
  private[graft] def lmModel(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  /** Score `docs` against an explicit (token, cnt) model — the shared
    * scoring builder (q88 trains on `docs` itself; the streaming gate
    * passes the persisted corpus-so-far model). LEFT join + coalesce:
    * an out-of-vocabulary token contributes the smoothing floor
    * (cnt = 0 ⇒ +1), so scoring is total — q88's oracle uses an inner
    * join, equivalent there because its model is trained on the same
    * corpus (no OOV by construction).
    *
    * Integer range: the numerator Σ_t(cnt+1) is bounded by n_doc ×
    * max_cnt — at the 100 TB design point (~2.5e13 tokens, hottest
    * token ~5% of mass, docs ≤ ~1e6 tokens) that is ~1e18, inside
    * int64 with a small margin; a degenerate corpus where one token
    * carries most of 2.5e13 occurrences AND appears 1e6 times in one
    * document would need the sum widened (DuckDB already computes it
    * as HUGEINT). The denominator is two exact-long factors multiplied
    * as doubles — overflow-free (see the select below). */
  private[graft] def lmScoreAgainst(docs: DataFrame, model: DataFrame): DataFrame = {
    val stats = model.agg(sum(col("cnt")).as("total"), count(lit(1)).as("v"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(model), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("cnt"), lit(0L)) + lit(1L)).as("num"),
        count(lit(1)).as("n"))
      .crossJoin(broadcast(stats))
      // denominator as double × double, NOT an int64 product: n·(total+|V|)
      // overflows long once a ~1e6-token document meets a ~2.5e13-token
      // corpus (the 100 TB design point). Both factors are exact longs
      // ≤ 2^53, so the one double multiply rounds the true product once —
      // bit-identical to the int64-product-then-cast wherever that
      // doesn't overflow, and well-defined everywhere (oracle mirrors
      // the same two casts).
      .select(col("doc_id"),
        (col("num").cast("double") /
          (col("n").cast("double") *
            (col("total") + col("v")).cast("double"))).as("lm_score"))
  }

  private[graft] def lmScore(docs: DataFrame): DataFrame =
    lmScoreAgainst(docs, lmModel(docs))

  val lmQuality: Q = (s, d) => lmScore(t(s, d, "documents"))

  /** q125: EXACT heavy hitters (tokens with freq > N/k) through a
    * Misra-Gries candidate pass — the shuffle-shape alternative to
    * q82's full vocabulary aggregate: q82's exchange carries |V| rows
    * however selective the question; here pass 1 runs k-counter
    * Misra-Gries per partition (mapPartitions — the genuine
    * per-partition imperative case) and ships k×P candidate tokens to
    * the driver, and pass 2 re-counts ONLY candidates exactly (the
    * isin literal prunes before the exchange, so the shuffle carries
    * candidate rows, not the vocabulary). Exactness: a token with
    * global freq > N/k must have local freq > N_p/k in ≥1 partition
    * (pigeonhole over Σ), and per-partition MG with k counters
    * retains every token with local freq > N_p/k — so the candidate
    * union is a SUPERSET of the true heavy hitters and the exact
    * re-count's filter makes the final answer precise, not
    * approximate. The at-100-TB case is heavy hitters over an
    * UNBOUNDED key domain (URLs, hosts, n-grams) where |V|-sized
    * exchanges are the bottleneck and k×P is driver-trivial. */
  val heavyTokens: Q = (s, d) => heavyTokensOver(t(s, d, "documents"), 50)

  private[graft] def heavyTokensOver(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    // one pass carries BOTH the MG sketch and the partition's token
    // count, so N needs no second scan
    val (candidates, total) = toks.rdd
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Long]()
        var n = 0L
        it.foreach { row =>
          val t = row.getString(0)
          n += 1
          if (m.containsKey(t)) m.put(t, m.get(t) + 1)
          else if (m.size < k) m.put(t, 1L)
          else {
            // decrement-all step; drop zeroed counters
            val dead = new java.util.ArrayList[String]()
            m.forEach { (kk, vv) =>
              if (vv == 1L) dead.add(kk) else m.put(kk, vv - 1)
            }
            dead.forEach(kk => m.remove(kk))
          }
        }
        import scala.jdk.CollectionConverters._
        Iterator.single((m.keySet().asScala.toSet, n))
      }
      .fold((Set.empty[String], 0L)) { case ((s1, n1), (s2, n2)) =>
        (s1 union s2, n1 + n2)
      }
    // broadcast SEMI-join, not an isin literal list: k×P candidates is
    // driver-trivial but can still be hundreds of thousands of strings
    // at a production partition count — a join build side scales where
    // a giant In expression does not; the prune still runs before the
    // exact count's exchange either way
    val candDf = candidates.toSeq.toDF("token")
    toks.join(broadcast(candDf), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") > lit(total / k.toDouble))
      .select(col("token"), col("freq"))
  }

  /** q120: DSIR-style importance weights (Xie et al. 2023,
    * arXiv:2302.03169 — Data Selection via Importance Resampling):
    * score every document by its mean per-token log-likelihood RATIO
    * between a target-domain unigram model (here: the lang='en' slice)
    * and the raw-corpus model, both add-one smoothed over the shared
    * vocabulary. High weight ⇒ the doc looks like the target domain;
    * resampling by these weights tilts a raw crawl toward it. DSIR
    * hashes n-grams into buckets to BOUND the model; this corpus'
    * vocabulary is already model-sized, so features are the tokens
    * themselves (same add-hashing-at-scale note as q28's shingles).
    *
    * weight(d) = [Σ_t ln(c_T(t)+1) − ln(c_R(t)+1)
    *              + n_d·(ln(N_R+V) − ln(N_T+V))] / n_d
    * — the two models share vocabulary V (trained on the same corpus),
    * so the smoothing denominators collapse into the one global
    * length-normalized term.
    *
    * Determinism: counts stay exact integers through both engines; the
    * ln/Σ double tail is engine-dependent only below ~1e-10 (1-ulp libm
    * on O(1) addends, q101's argument; the q26/q114 round-after-
    * double-sum precedent), so round(·, 6) makes the emitted weight
    * hash-exact.
    *
    * Scale shape: q88's exactly — ONE token agg carries both models
    * (c_R = count, c_T = conditional count — the target slice never
    * gets its own scan), the joint model broadcasts at vocabulary
    * size, explode preserves doc locality so the per-doc partial agg
    * collapses before the exchange, and the corpus stats ride a
    * one-row broadcast. */
  val dsirWeights: Q = (s, d) => dsirWeightsOver(t(s, d, "documents"))

  /** The q120 engine over any (doc_id, lang, text) frame; target domain
    * = the lang='en' slice. */
  private[graft] def dsirWeightsOver(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
    val model = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
    val stats = model.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"),
      count(lit(1)).as("v"))
    toks.join(broadcast(model), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sum(log(col("c_t") + lit(1.0)) - log(col("c_r") + lit(1.0))).as("lsum"),
        count(lit(1)).as("n"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round((col("lsum") + col("n") *
            (log((col("n_r") + col("v")).cast("double")) -
              log((col("n_t") + col("v")).cast("double")))) / col("n"), 6)
          .as("dsir_weight"))
  }

  /** q126: DSIR importance RESAMPLING — the selection step q120's
    * weights exist for (arXiv:2302.03169 §2: sample ∝ importance weight,
    * without replacement). Gumbel-top-k: key_i = w_i + g_i with
    * g_i = −ln(−ln(u_i)) makes "top-m by key" an exact without-
    * replacement sample ∝ exp(w_i) — and w IS the per-doc log
    * importance weight, so exp(w) is the weight itself. u_i is the q60
    * Knuth-multiplicative uniform, shifted to (h+0.5)/P so it lies
    * strictly inside (0,1) and both ln's stay finite: pure integer
    * arithmetic both engines compute identically, then ONE correctly-
    * rounded IEEE division. The two libm ln's ride on the ALREADY-
    * rounded weight, so the only cross-engine noise is ~1 ulp of g —
    * absorbed by round(·,6) (q120's argument); the top-m boundary ties
    * break on doc_id in both engines.
    *
    * Scale shape: exactly q120's aggregation plan plus one
    * TakeOrdered(m) — the key is a map-side expression, no global sort,
    * no new exchange. */
  val dsirResample: Q = (s, d) => dsirResampleOver(t(s, d, "documents"))

  private[graft] def dsirResampleOver(docs: DataFrame): DataFrame = {
    val u = (pmod(col("doc_id") * lit(2654435761L), lit(mixturePrime))
      .cast("double") + lit(0.5)) / lit(mixturePrime.toDouble)
    dsirWeightsOver(docs)
      .withColumn("sample_key",
        round(col("dsir_weight") - log(-log(u)), 6))
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(100)
  }

  /** q132: bigram collocations by pointwise mutual information —
    * PMI(x,y) = ln(c_xy·N / (c_x·c_y)) with a min-count floor, the
    * classic collocation-mining statistic (Church & Hanks 1990) and the
    * statistical sibling of the q65 phrase index (q65 ranks by raw df;
    * PMI surfaces pairs that co-occur MORE than their unigram
    * frequencies predict). Adjacent pairs come from the same in-row
    * `transform` the shingle family uses — doc locality holds, so both
    * the bigram and unigram aggs combiner-collapse map-side; the two
    * unigram joins broadcast at vocabulary size (Heaps' law, the q120
    * argument) and the min-count floor prunes the bigram frame BEFORE
    * the joins. The ln argument is computed in double with one
    * multiply/divide in a fixed operand order (c_xy·N can overflow
    * int64 at corpus scale — 1e12·1e13 — so the cast happens FIRST,
    * identically in both engines). Output is TakeOrdered(50) — no
    * global sort. */
  val pmiBigrams: Q = (s, d) => pmiBigramsOver(t(s, d, "documents"))

  /** (doc_id, bigram) — shared by q132's PMI mining and q135's bigram
    * LM, so the pair construction cannot drift between the two. Fused
    * TokenNgrams(width=2), the q65 trigram argument one order down: the
    * transform(sequence, i -> concat(...)) HOF it replaces is
    * CodegenFallback (interpreted lambda frame per element, ~1.4 ms/doc
    * measured for the trigram twin) where the fused expression runs
    * inside WholeStageCodegen; emitted grams are identical — same
    * single-space split (Java regex " " ≡ the literal-space
    * UTF8String.split, both limit -1), same adjacent concat-ws-space,
    * and a <2-token doc yields an empty array that explode drops just
    * like the old size(toks) >= 2 pre-filter. */
  private def bigramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(
      graft.expressions.TextHashes.token_ngrams(col("text"), 2)).as("bigram"))

  private[graft] def pmiBigramsOver(docs: DataFrame): DataFrame = {
    val bigrams = bigramsOf(docs)
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
      .withColumn("w1", split(col("bigram"), " ")(0))
      .withColumn("w2", split(col("bigram"), " ")(1))
    val uni = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n_tok"))
    bigrams
      .join(broadcast(uni.select(col("token").as("w1"), col("c").as("c_x"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("token").as("w2"), col("c").as("c_y"))),
        Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_xy"),
        round(log((col("c_xy").cast("double") * col("n_tok").cast("double"))
          / (col("c_x").cast("double") * col("c_y").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** q135: bigram-LM document quality — the CCNet/KenLM filter shape,
    * one Markov order above q88's unigram LM: score(d) = mean over the
    * doc's bigrams of ln((c(w1,w2)+1)/(c(w1)+V)), the add-one-smoothed
    * conditional log-likelihood. A doc of common words in UNCOMMON
    * order now scores low, which the unigram model cannot see. Counts
    * stay exact integers until the ln (one double division per term,
    * fixed operand order both engines); the per-doc Σ of ln's
    * associates engine-dependently at ~1e-15 → round(·,6), the q120
    * argument. Shape: q132's bigram construction (shared — bigramsOf)
    * feeds BOTH the model agg and the scoring pass; the model joins by
    * broadcast (bigram vocabulary obeys Heaps' law one power up — at
    * true corpus scale DSIR-style feature hashing bounds it, the
    * q28/q120 note), and explode's doc locality collapses the per-doc
    * sum map-side. Docs with <2 tokens have no bigram likelihood and
    * are absent in both engines. */
  val bigramLmQuality: Q = (s, d) => bigramLmQualityOver(t(s, d, "documents"))

  private[graft] def bigramLmQualityOver(docs: DataFrame): DataFrame = {
    val bi = bigramsOf(docs)
    val model = bi.groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
    val uni = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c_x"))
    val v = uni.agg(count(lit(1)).as("v"))
    bi.withColumn("w1", split(col("bigram"), " ")(0))
      .join(broadcast(model), Seq("bigram"))
      .join(broadcast(uni.withColumnRenamed("token", "w1")), Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(round(sum(log((col("c_xy") + lit(1.0)) /
          (col("c_x") + col("v")))) / count(lit(1)), 6).as("lm2_score"))
  }

  /** Streaming quality-gate admission — the stream twin of q88 and the
    * statistical sibling of the dedup/decontamination admission
    * writers: each micro-batch (1) folds its token counts into the
    * persisted vocabulary (VocabSink segment seq = batchId —
    * replay-idempotent), then (2) scores its documents against the
    * MERGED model (corpus-so-far INCLUDING this batch — so a one-batch
    * stream reproduces the q88 batch result exactly), and (3) admits
    * docs with lm_score ≥ minScore to an overwrite-by-ingest output
    * (a retried batch rewrites the same directory, no duplicates).
    *
    * Model semantics are prefix-trained: early batches score against a
    * smaller corpus than late ones — the documented trade for O(batch)
    * per-batch cost; re-scoring the full corpus each batch would be
    * O(corpus). Per-batch cost: batch tokens × broadcast-model lookup +
    * the segment merge, whose fan-in is BOUNDED by `compactEvery`: the
    * merge-on-read model unions one segment per batch since the last
    * fold, so without compaction a long-running stream would reread
    * O(batches) segments — the writer folds them every `compactEvery`
    * batches (VocabSink.compact is crash-safe; see AdditiveSegments),
    * keeping the read ≤ compactEvery + 1 vocabulary-sized segments
    * regardless of stream age. */
  def streamingQualityGateWriter(vocabPath: String, outDir: String,
      minScore: Double, compactEvery: Int = 32)(
      batch: DataFrame, batchId: Long): Unit = {
    require(compactEvery >= 2, s"compactEvery must be >= 2, got $compactEvery")
    val b = batch.localCheckpoint()
    // an empty micro-batch writes nothing anywhere (no vocab segment,
    // no admitted dir) — and must return BEFORE the model read, which
    // rightly refuses a table with no segments on a cold start
    if (b.isEmpty) return
    graft.sinks.VocabSink.writer(vocabPath)(b, batchId)
    if (batchId % compactEvery == (compactEvery - 1).toLong)
      graft.sinks.VocabSink.compact(b.sparkSession, vocabPath)
    // readOpt, not read: a non-empty cold-start batch whose documents
    // all tokenize to nothing writes no vocab segment, and read()'s
    // loud no-segments failure would wedge the stream permanently —
    // every replay of the batch fails identically. With no model, no
    // doc can score ≥ minScore: write the (empty) admitted segment so
    // the batch completes and replays no-op like any other.
    val admitted = graft.sinks.VocabSink.readOpt(b.sparkSession, vocabPath) match {
      case Some(m) =>
        val model = m.select(col("token"), col("freq").as("cnt"))
        b.join(lmScoreAgainst(b, model).filter(col("lm_score") >= minScore),
          Seq("doc_id"))
      case None => b.limit(0).withColumn("lm_score", lit(0.0))
    }
    admitted.write.mode("overwrite").parquet(s"$outDir/admitted/ingest=$batchId")
  }

  /** Deterministic training-order assignment (q90) — the global shuffle
    * a training run needs, WITHOUT a global sort: shuffle_key =
    * md5(seed ‖ doc_id) gives a seedable pseudo-random permutation;
    * shard = first two hex chars (256 shards) partitions it; pos =
    * row_number within the shard. (shard, pos) is a total order ≡
    * ORDER BY shuffle_key up to shard interleaving, and every window
    * runs shard-partitioned — 16^shardHexChars-way parallel, no
    * single-partition window, no range-partitioned sort exchange over
    * the corpus. A new seed is a new permutation (re-keying only);
    * `shardHexChars` is the knob that must make the shard count exceed
    * cluster parallelism at 100 TB — 2 hex chars = 256 shards (the
    * default, right for local[32] and small clusters), 3 = 4 096,
    * 4 = 65 536 (the 1000-executor design point). Widening only
    * re-keys: (shard, pos) stays a total order ≡ ORDER BY shuffle_key
    * up to shard interleaving at every width. */
  private[graft] def orderAssign(docs: DataFrame, seed: String,
      shardHexChars: Int = 2): DataFrame = {
    require(shardHexChars >= 1 && shardHexChars <= 8,
      s"shardHexChars must be in [1, 8], got $shardHexChars")
    val key = md5(concat(lit(s"$seed:"), col("doc_id").cast("string")).cast("binary"))
    val shardW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("shuffle_key"), col("doc_id"))
    docs
      .select(col("doc_id"), key.as("shuffle_key"))
      .withColumn("shard", substring(col("shuffle_key"), 1, shardHexChars))
      .withColumn("pos", row_number().over(shardW).cast("long"))
  }

  val trainingOrder: Q = (s, d) => orderAssign(t(s, d, "documents"), "seed42")

  /** Token-budget mixture planner (q84) — temperature-based source
    * sampling (p_i ∝ mass_i^α, α = 0.5 — the multilingual-training
    * upweighting of small sources): given a target token budget, emit
    * each source's available token mass, its α-tempered mix weight, the
    * token target that weight implies, and the epoch count (how many
    * passes over the source the target costs — > 1 means oversampling).
    * Shape: one scan → tiny per-source aggregate (≤ #sources rows);
    * the normalization window runs over that aggregated frame, so the
    * single partition holds source-count rows at any corpus size. Only
    * the per-source masses are exact longs; the tempered weights are
    * doubles rounded identically in both engines. */
  /** The per-source (n_docs, n_tokens) aggregate — shared by q84's
    * planner and the streaming source-stats sink (same builder, cannot
    * drift). Decomposable sums: per-batch partials merge exactly under
    * the one-doc-one-batch admission contract. */
  private[graft] def sourceStatsAggregate(docs: DataFrame): DataFrame =
    sourceStatsFromRows(sourceStatsDocRows(docs))

  /** The per-doc stats ledger row (doc_id, source, n) — the
    * retractable unit behind [[graft.sinks.SourceStatsSink]] (see
    * [[vocabDocRows]]; here the "ledger" is one row per DOC, the
    * cheapest possible retraction bookkeeping). */
  private[graft] def sourceStatsDocRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n"))

  private[graft] def sourceStatsFromRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))

  /** α=0.5 tempered mixture plan over an already-aggregated
    * (source, …, n_tokens) frame — q84's math, shared with the sink's
    * planning view. The Σ√ denominator is a LEFT FOLD over the
    * source-SORTED sqrt list, not an unordered window sum: window
    * accumulation order is engine-dependent, and floor(w·budget)
    * consumes the raw ulps (the one ratio in this tier that isn't
    * exact-integer — a last-ulp difference at an integer boundary would
    * flip target_tokens between engines). The sorted 0.0-seeded fold is
    * bit-identical on both sides (the repo's left-associative rule);
    * the folded frame is ≤ #sources rows. */
  private[graft] def temperedPlan(agg: DataFrame, budget: Long): DataFrame = {
    val a2 = agg.select(col("source"), col("n_tokens").as("avail_tokens"))
    val denom = a2.agg(aggregate(
      sort_array(collect_list(struct(col("source"),
        sqrt(col("avail_tokens")).as("sq")))),
      lit(0.0), (acc, x) => acc + x.getField("sq")).as("den"))
    a2.crossJoin(broadcast(denom))
      .withColumn("w", sqrt(col("avail_tokens")) / col("den"))
      .select(col("source"), col("avail_tokens"),
        round(col("w"), 6).as("mix_weight"),
        floor(col("w") * budget).cast("long").as("target_tokens"),
        (floor(col("w") * budget) / col("avail_tokens")).as("epochs"))
  }

  val tokenBudgetPlan: Q = (s, d) =>
    temperedPlan(sourceStatsAggregate(t(s, d, "documents")), 1000000L)

  /** Deterministic stratified sample (q86) — the eval-holdout
    * construction primitive: k docs per source, chosen by md5 hash
    * order so the sample is reproducible across runs, engines, and
    * corpus re-partitionings (the property `rand()`-sampling lacks).
    * Two-phase so it scales: a map-side HASH GATE (hkey < threshold,
    * an ~25% oversample) prunes the corpus at scan speed, and the
    * per-source rank window runs over the gated sliver only — the
    * window's source-count-bounded parallelism never sees the full
    * corpus. The gate is part of the SEMANTICS (both engines apply
    * it), so the result is exact, not approximate: the k lowest-hash
    * gated docs per source. */
  val stratifiedSample: Q = (s, d) => {
    val k = 5
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("hkey"), col("doc_id"))
    t(s, d, "documents")
      .withColumn("hkey", md5(concat_ws(":", col("doc_id"), col("text"))))
      .filter(col("hkey") < "40")
      .withColumn("rk", row_number().over(byHash).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("doc_id"), col("rk"))
  }

  /** q109: per-source distribution drift from the corpus mixture —
    * total-variation distance between each source's unigram token
    * distribution and the corpus-wide one, the standard monitor for
    * off-distribution scrape batches and mixture rebalancing. The
    * whole statistic is computed in EXACT integer arithmetic (decimal
    * 38,0 — the q88 rational pattern) down to ONE final double
    * division, because a per-token sum of `p·ln(p/q)`-style DOUBLES is
    * summation-order-dependent under shuffle and can never hash-match
    * an oracle. TV over the full vocab needs the absent-token mass
    * too: Σ_{t∉Vs} c(t)·n_s = n_s·(n − cov_s) in closed form (cov_s =
    * corpus count mass of the source's own vocab), so the scan only
    * ever touches (source, token) pairs that EXIST.
    *
    * Scale shape: one token-level shuffle builds c_st with map-side
    * combine; everything after runs on vocab-sized or source-sized
    * frames — c_t is a vocab-sized reduce, n_s/n are source-sized and
    * broadcast back, and the diff-sum is a second vocab-sized reduce.
    * No corpus-sized join, no global window. At 100 TB counts can
    * exceed 2^63 when multiplied (c·n ~ 1e25), hence decimal(38,0)
    * products, exact to 1e38. */
  val sourceDrift: Q = (s, d) => sourceDriftOf(t(s, d, "documents"))

  /** The q109 statistic over any (source, text) frame — public for
    * CorpusStatsSpec's hand-computed fixture. */
  def sourceDriftOf(docs: DataFrame): DataFrame =
    driftFromSourceTokenCounts(docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c_st")))

  /** The q109 statistic over ANY (source, token, c_st) counts — shared
    * by the batch form and the live merged state of
    * [[graft.sinks.DriftSink]] (q113). */
  private[graft] def driftFromSourceTokenCounts(cst0: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val cst = cst0.select(col("source"), col("token"),
      col("c_st").cast(dec).as("c_st"))
    val ct = cst.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val ns = cst.groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_s"), count(lit(1)).as("vocab_seen"))
    val nt = ns.agg(sum(col("n_s")).as("n"))
    cst.join(ct, "token")
      .join(broadcast(ns.select(col("source"), col("n_s"))), "source")
      .crossJoin(broadcast(nt))
      .groupBy(col("source"))
      .agg(sum(abs(col("c_st") * col("n") - col("c_t") * col("n_s")))
          .as("diffsum"),
        sum(col("c_t")).as("cov"))
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nt))
      .select(col("source"),
        col("n_s").cast("long").as("n_tokens"),
        col("vocab_seen"),
        round((col("diffsum") + col("n_s") * (col("n") - col("cov")))
            .cast("double") /
          (lit(2).cast(dec) * col("n_s") * col("n")).cast("double"), 6)
          .as("tv_drift"))
  }

  /** q110: novelty rate per ingest cut — how much genuinely NEW
    * content each crawl increment brings, the freshness metric a
    * continuously-fed corpus is steered by (a cut whose token types
    * are largely already known is recrawl, not growth). A token type
    * belongs to the cut that saw it FIRST (min cut id); each cut then
    * reports its instance count, type count, the types it introduced,
    * and the share of its instances covered by its own novel types.
    * All counts are integers; the one ratio divides two exact longs.
    *
    * Scale shape: one token-level shuffle to (cut, token) counts with
    * map-side combine, a vocab-sized min-reduce for first-cut, and a
    * cut-sized rollup. The cut here is pmod(doc_id, 3) — the same
    * deterministic three-cut the lifecycle queries (q102/q103/q105/
    * q107) stream through, so the batch answer doubles as the oracle
    * for any streaming twin. */
  val noveltyRate: Q = (s, d) => noveltyRateOf(t(s, d, "documents"))

  def noveltyRateOf(docs: DataFrame): DataFrame =
    noveltyFromCutCounts(docs
      .select(pmod(col("doc_id"), lit(3)).as("cut"),
        explode(tokens(col("text"))).as("token"))
      .groupBy(col("cut"), col("token"))
      .agg(count(lit(1)).as("c")))

  /** The per-cut novelty rollup over ANY (cut, token, c) counts —
    * shared by the q110 batch form and the live merged state of
    * [[graft.sinks.NoveltySink]] (q112). */
  private[graft] def noveltyFromCutCounts(ctk: DataFrame): DataFrame = {
    val first = ctk.groupBy(col("token")).agg(min(col("cut")).as("first_cut"))
    ctk.join(first, "token")
      .groupBy(col("cut"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("first_cut") === col("cut"), lit(1))
          .otherwise(lit(0))).as("novel_types"),
        sum(when(col("first_cut") === col("cut"), col("c"))
          .otherwise(lit(0))).as("novel_mass"))
      .select(col("cut"), col("n_tokens"), col("n_types"),
        col("novel_types"),
        round(col("novel_mass").cast("double") /
          col("n_tokens").cast("double"), 6).as("novel_share"))
  }

  /** q112: the LIVE novelty report ≡ the q110 batch answer through the
    * three-cut additive lifecycle (cuts 0+1 folded by compaction,
    * cut 2 the replayable live tail) — same oracle as q110 on purpose,
    * exactly as q102/q103 share their batch twins' oracles: the
    * lifecycle is the thing under test, not new query semantics. The
    * fold must preserve first-cut attribution across the compaction
    * boundary; that is the property this query gates. */
  val noveltyStream: Q = (s, d) =>
    graft.sinks.NoveltySink.report(s,
      ensureCutLifecycle(s, d, "noveltystream",
        graft.sinks.NoveltySink.writer,
        loc => graft.sinks.NoveltySink.compact(s, loc)))

  /** q113: the LIVE drift report ≡ the q109 batch answer through the
    * three-cut additive lifecycle (cuts 0+1 folded, cut 2 the
    * replayable tail) — same oracle as q109 on purpose (the
    * q112/q102/q103 pattern). */
  val sourceDriftStream: Q = (s, d) =>
    graft.sinks.DriftSink.report(s,
      ensureCutLifecycle(s, d, "driftstream",
        graft.sinks.DriftSink.writer,
        loc => graft.sinks.DriftSink.compact(s, loc)))

  val queries: Map[String, Q] = Map(
    "q113_drift_stream" -> sourceDriftStream,
    "q112_novelty_stream" -> noveltyStream,
    "q110_novelty_rate" -> noveltyRate,
    "q109_source_drift" -> sourceDrift,
    "q73_chunk_split" -> chunkSplit,
    "q86_stratified_sample" -> stratifiedSample,
    "q82_vocab_build" -> vocabBuild,
    "q102_vocab_stream" -> vocabStream,
    "q88_lm_quality" -> lmQuality,
    "q90_training_order" -> trainingOrder,
    "q84_token_budget_plan" -> tokenBudgetPlan,
    "q85_boilerplate_report" -> boilerplateReport,
    "q74_length_buckets" -> lengthBuckets,
    "q69_source_overlap" -> sourceOverlap,
    "q65_phrase_index" -> phraseIndex,
    "q103_phrase_stream" -> phraseStream,
    "q66_phrase_search" -> phraseSearch,
    "q67_decile_filter" -> decileFilter,
    "q63_source_mix" -> sourceMix,
    "q40_pipeline_filter" -> pipelineFilter,
    "q120_dsir_weights" -> dsirWeights,
    "q126_dsir_resample" -> dsirResample,
    "q132_pmi_bigrams" -> pmiBigrams,
    "q135_bigram_lm" -> bigramLmQuality,
    "q146_gopher_rules" -> gopherRules,
    "q125_heavy_tokens" -> heavyTokens,
    "q20_token_count" -> tokenCount,
    "q21_quality_score" -> qualityScore,
    "q22_fingerprint" -> fingerprint,
    "q23_dedup_exact" -> dedupExact,
    "q24_lang_id" -> langId,
    "q52_bpe_tokens" -> bpeTokenCount,
    "q56_winnow_fps" -> winnowFingerprint,
    "q59_repetition_stats" -> repetitionStats,
    "q60_mixture_sample" -> mixtureSample,
    "q80_pii_scrub" -> piiScrub,
    "q81_chunk_dedup" -> chunkDedup,
    "q172_vocab_retract" -> vocabRetract,
    "q173_phrase_retract" -> phraseRetract,
    "q174_sourcestats_retract" -> sourceStatsRetract,
  )

  /** The q172-q174 live-corpus predicate — q167's retraction masks
    * verbatim (retract ≡3 mod 10, resurrect ≡3 mod 20, re-retract ≡3
    * mod 40 ⇒ live = everything except ≡13 mod 20 and ≡3 mod 40). */
  private val retractLivePred: String =
    "NOT (doc_id % 20 = 13) AND NOT (doc_id % 40 = 3)"

  private val driftOracleSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |cst AS (
      |  SELECT source, token, count(*)::HUGEINT AS c_st
      |  FROM tok GROUP BY 1, 2),
      |ct AS (SELECT token, sum(c_st) AS c_t FROM cst GROUP BY 1),
      |ns AS (SELECT source, sum(c_st) AS n_s, count(*) AS vocab_seen
      |       FROM cst GROUP BY 1),
      |nt AS (SELECT sum(c_st) AS n FROM cst),
      |ag AS (
      |  SELECT cst.source,
      |    sum(abs(c_st * n - c_t * n_s)) AS diffsum,
      |    sum(c_t) AS cov
      |  FROM cst JOIN ct USING (token) JOIN ns USING (source)
      |    CROSS JOIN nt
      |  GROUP BY 1)
      |SELECT ag.source, n_s::BIGINT AS n_tokens,
      |  vocab_seen::BIGINT AS vocab_seen,
      |  round((diffsum + n_s * (n - cov))::DOUBLE
      |    / (2 * n_s * n)::DOUBLE, 6) AS tv_drift
      |FROM ag JOIN ns USING (source) CROSS JOIN nt""".stripMargin

  private val noveltyOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id % 3 AS cut,
      |    unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |ctk AS (SELECT cut, token, count(*) AS c FROM tok GROUP BY 1, 2),
      |first AS (SELECT token, min(cut) AS first_cut FROM ctk GROUP BY 1)
      |SELECT cut, sum(c)::BIGINT AS n_tokens, count(*) AS n_types,
      |  sum(CASE WHEN first_cut = cut THEN 1 ELSE 0 END)::BIGINT
      |    AS novel_types,
      |  round(sum(CASE WHEN first_cut = cut THEN c ELSE 0 END)::DOUBLE
      |    / sum(c)::DOUBLE, 6) AS novel_share
      |FROM ctk JOIN first USING (token) GROUP BY cut""".stripMargin

  /** The q120 oracle, shared verbatim with q126's CTE (see the q126
    * oracle comment — string composition keeps the two in lockstep). */
  private val dsirOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |model AS (
      |  SELECT token, count(*) AS c_r,
      |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
      |  FROM tok GROUP BY 1),
      |stats AS (
      |  SELECT sum(c_r) AS n_r, sum(c_t) AS n_t, count(*) AS v
      |  FROM model)
      |SELECT t.doc_id,
      |  round((sum(ln(m.c_t + 1.0) - ln(m.c_r + 1.0))
      |    + count(*) * (ln((s.n_r + s.v)::DOUBLE) - ln((s.n_t + s.v)::DOUBLE)))
      |    / count(*), 6) AS dsir_weight
      |FROM tok t JOIN model m USING (token), stats s
      |GROUP BY t.doc_id, s.n_r, s.n_t, s.v""".stripMargin

  val oracles: Map[String, String] = Map(
    "q110_novelty_rate" -> noveltyOracleSql,
    // q112 = the live additive-lifecycle state (fold + tail); same
    // oracle as q110 on purpose — the q102/q103 pattern: the lifecycle
    // is the thing under test, not new query semantics
    "q112_novelty_stream" -> noveltyOracleSql,
    // exact integer TV distance, one final double division (see
    // sourceDrift) — HUGEINT is DuckDB's exact-to-1e38 twin of
    // Spark's decimal(38,0)
    "q109_source_drift" -> driftOracleSql,
    // q113 = the live additive-lifecycle state; same oracle as q109 on
    // purpose — the q112 pattern
    "q113_drift_stream" -> driftOracleSql,
    "q82_vocab_build" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |agg AS (
        |  SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS df
        |  FROM tok GROUP BY token)
        |SELECT token, freq, df,
        |  row_number() OVER (ORDER BY freq DESC, token) AS rank
        |FROM agg ORDER BY freq DESC, token LIMIT 200""".stripMargin,
    // q102 must equal the PLAIN batch build through the sink lifecycle
    // (fold + live tail) — same oracle as q82 on purpose, exactly as
    // q98/q99 share the plain orders oracle across storage states
    "q102_vocab_stream" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |agg AS (
        |  SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS df
        |  FROM tok GROUP BY token)
        |SELECT token, freq, df,
        |  row_number() OVER (ORDER BY freq DESC, token) AS rank
        |FROM agg ORDER BY freq DESC, token LIMIT 200""".stripMargin,
    // integer numerator/denominator, ONE double division — the
    // order-independence that makes the doubles hash-compare (see
    // lmQuality's docstring)
    // q125: plain HAVING over the full token agg — DuckDB pays the
    // |V|-sized group-by the Spark side's MG candidate pass avoids
    "q125_heavy_tokens" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |n AS (SELECT count(*) AS total FROM tok)
        |SELECT token, count(*)::BIGINT AS freq
        |FROM tok, n
        |GROUP BY token, n.total
        |HAVING count(*) > total / 50.0""".stripMargin,
    // q120: counts stay integers until the ln; operand order mirrors
    // dsirWeights exactly (see its Scaladoc for the rounding argument)
    "q120_dsir_weights" -> dsirOracleSql,
    // q126 = q120's oracle verbatim as a CTE (string-composed — the two
    // CANNOT drift) + the Gumbel key over the already-rounded weight;
    // the top-m cut ties break on doc_id in both engines
    "q126_dsir_resample" ->
      s"""WITH w AS (
         |$dsirOracleSql
         |),
         |k AS (
         |  SELECT doc_id, dsir_weight,
         |    round(dsir_weight - ln(-ln(
         |      (((doc_id * 2654435761) % 1000003) + 0.5) / 1000003.0)), 6)
         |      AS sample_key
         |  FROM w)
         |SELECT doc_id, dsir_weight, sample_key FROM k
         |ORDER BY sample_key DESC, doc_id LIMIT 100""".stripMargin,
    // q132: the q85 n-gram construction at width 2; ONE double division
    // inside the ln with explicit casts in the SAME operand order as
    // the Spark side, round(·,6) absorbs the libm ulp
    "q132_pmi_bigrams" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT unnest(list_transform(range(2, len(toks) + 1),
        |      i -> toks[(i - 1)::INTEGER] || ' ' || toks[i::INTEGER]))
        |    AS bigram
        |  FROM tk WHERE len(toks) >= 2),
        |bc AS (
        |  SELECT bigram, count(*)::BIGINT AS c_xy FROM b
        |  GROUP BY 1 HAVING count(*) >= 5),
        |tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |uni AS (SELECT token, count(*)::BIGINT AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni)
        |SELECT string_split(bc.bigram, ' ')[1] AS w1,
        |  string_split(bc.bigram, ' ')[2] AS w2,
        |  bc.c_xy AS c_xy,
        |  round(ln((bc.c_xy::DOUBLE * t.n_tok::DOUBLE)
        |    / (u1.c::DOUBLE * u2.c::DOUBLE)), 6) AS pmi
        |FROM bc
        |JOIN uni u1 ON u1.token = string_split(bc.bigram, ' ')[1]
        |JOIN uni u2 ON u2.token = string_split(bc.bigram, ' ')[2]
        |CROSS JOIN tot t
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    // q146: list/arithmetic-only rule parity — replace (not regex) for
    // the symbol counts, one [A-Za-z] class test, CASE guards on every
    // ratio denominator (the q21 /0 lesson), ELSE-0 on null rule results
    "q146_gopher_rules" ->
      """WITH s AS (
        |  SELECT text, string_split(text, ' ') AS tk,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT
        |    len(tk)::BIGINT AS n_words,
        |    CASE WHEN len(tk) > 0 THEN
        |      CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE)
        |        / len(tk)::BIGINT END AS mean_len,
        |    CASE WHEN len(tk) > 0 THEN
        |      ((length(text) - length(replace(text, '#', '')))
        |       + (length(text) - length(replace(text, '...', ''))) / 3)
        |        / len(tk)::BIGINT END AS sym_ratio,
        |    CASE WHEN len(tk) > 0 THEN
        |      CAST(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))
        |        AS DOUBLE) / len(tk)::BIGINT END AS alpha_frac,
        |    CASE WHEN len(lines) > 0 THEN
        |      CAST(len(list_filter(lines, l -> starts_with(l, '- ')
        |        OR starts_with(l, '* '))) AS DOUBLE) / len(lines)::BIGINT
        |      END AS bullet_frac,
        |    CASE WHEN len(lines) > 0 THEN
        |      CAST(len(list_filter(lines, l -> ends_with(l, '...')))
        |        AS DOUBLE) / len(lines)::BIGINT END AS ellipsis_frac,
        |    len(list_filter(tk, w -> w IN
        |      ('the','a','of','and','to','in')))::BIGINT AS stop_hits
        |  FROM s),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    CAST(sum(CASE WHEN n_words >= 50 AND n_words <= 100000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS word_count,
        |    CAST(sum(CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS mean_word_length,
        |    CAST(sum(CASE WHEN sym_ratio < 0.1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS symbol_ratio,
        |    CAST(sum(CASE WHEN bullet_frac < 0.9 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bullet_lines,
        |    CAST(sum(CASE WHEN ellipsis_frac < 0.3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ellipsis_lines,
        |    CAST(sum(CASE WHEN alpha_frac > 0.8 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS alpha_words,
        |    CAST(sum(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS stopword_floor
        |  FROM m),
        |u AS (
        |  SELECT 'word_count' AS rule, n_docs, word_count AS n_pass FROM a
        |  UNION ALL SELECT 'mean_word_length', n_docs, mean_word_length FROM a
        |  UNION ALL SELECT 'symbol_ratio', n_docs, symbol_ratio FROM a
        |  UNION ALL SELECT 'bullet_lines', n_docs, bullet_lines FROM a
        |  UNION ALL SELECT 'ellipsis_lines', n_docs, ellipsis_lines FROM a
        |  UNION ALL SELECT 'alpha_words', n_docs, alpha_words FROM a
        |  UNION ALL SELECT 'stopword_floor', n_docs, stopword_floor FROM a)
        |SELECT rule, n_docs, n_pass,
        |  CAST(n_pass AS DOUBLE) / n_docs AS pass_rate
        |FROM u""".stripMargin,
    // q135: q132's bigram CTE, add-one smoothing in the SAME operand
    // order as the Spark side ((c_xy + 1.0) / (c_x + v), ONE division)
    "q135_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(list_transform(range(2, len(toks) + 1),
        |      i -> toks[(i - 1)::INTEGER] || ' ' || toks[i::INTEGER]))
        |    AS bigram
        |  FROM tk WHERE len(toks) >= 2),
        |m AS (SELECT bigram, count(*) AS c_xy FROM b GROUP BY 1),
        |tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |uni AS (SELECT token, count(*) AS c_x FROM tok GROUP BY 1),
        |vv AS (SELECT count(*) AS v FROM uni)
        |SELECT b.doc_id,
        |  round(sum(ln((m.c_xy + 1.0) / (u.c_x + vv.v))) / count(*), 6)
        |    AS lm2_score
        |FROM b JOIN m USING (bigram)
        |     JOIN uni u ON u.token = string_split(b.bigram, ' ')[1], vv
        |GROUP BY b.doc_id, vv.v""".stripMargin,
    "q88_lm_quality" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |model AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |c AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS v FROM model),
        |per AS (
        |  SELECT t.doc_id, CAST(sum(m.cnt + 1) AS BIGINT) AS num,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM tok t JOIN model m USING (token) GROUP BY t.doc_id)
        |SELECT p.doc_id,
        |  p.num::DOUBLE / (p.n::DOUBLE * (c.total + c.v)::DOUBLE) AS lm_score
        |FROM per p, c""".stripMargin,
    "q90_training_order" ->
      """WITH k AS (
        |  SELECT doc_id, md5('seed42:' || doc_id) AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key, substr(shuffle_key, 1, 2) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY substr(shuffle_key, 1, 2)
        |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
        |FROM k""".stripMargin,
    // same α=0.5 tempering; the Σ√ denominator is the SAME
    // source-sorted 0.0-seeded left fold as the Spark side (an
    // unordered window sum accumulates in engine-dependent order and
    // floor(w·budget) consumes the raw ulps)
    "q84_token_budget_plan" ->
      """WITH m AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY source),
        |den AS (
        |  SELECT list_reduce(
        |    list_prepend(0.0::DOUBLE, list(sqrt(avail_tokens) ORDER BY source)),
        |    (a, b) -> a + b) AS den
        |  FROM m),
        |w AS (
        |  SELECT source, avail_tokens,
        |    sqrt(avail_tokens) / (SELECT den FROM den) AS w
        |  FROM m)
        |SELECT source, avail_tokens, round(w, 6) AS mix_weight,
        |  CAST(floor(w * 1000000) AS BIGINT) AS target_tokens,
        |  floor(w * 1000000) / avail_tokens AS epochs
        |FROM w""".stripMargin,
    // same hash gate + rank; BIGINT || VARCHAR concatenates identically
    // and both md5s emit lowercase hex, so the orders match exactly
    "q86_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, source, md5(doc_id || ':' || text) AS hkey
        |  FROM documents),
        |g AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) AS rk
        |  FROM h WHERE hkey < '40')
        |SELECT source, doc_id, rk FROM g WHERE rk <= 5""".stripMargin,
    // q65's trigram CTE + deterministic (df desc, phrase) top-20;
    // BIGINT/BIGINT divides as double in both engines
    "q85_boilerplate_report" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |e AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(3, len(toks) + 1),
        |        i -> toks[(i - 2)::INTEGER] || ' ' || toks[(i - 1)::INTEGER]
        |             || ' ' || toks[i::INTEGER])
        |    ELSE []::VARCHAR[] END) AS phrase
        |  FROM tk),
        |agg AS (
        |  SELECT phrase, count(DISTINCT doc_id) AS df, count(*) AS occ
        |  FROM e GROUP BY phrase),
        |total AS (SELECT count(*) AS total_docs FROM documents)
        |SELECT phrase, df, occ, df / total_docs AS coverage
        |FROM agg, total
        |ORDER BY df DESC, phrase LIMIT 20""".stripMargin,
    // mirrors piiScrub: same suffix construction, same patterns, same
    // pass order; 'g' flag matches Spark regexp_replace's replace-all
    "q80_pii_scrub" ->
      """WITH sfx AS (
        |  SELECT doc_id,
        |    text || ' reach user' || doc_id || '@example.com at 10.0.'
        |      || (doc_id % 256) || '.7 or +12 345-678-9012' AS s
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
        |  len(regexp_extract_all(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(s,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(s,
        |    '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones
        |FROM sfx""".stripMargin,
    // mirrors chunkDedup: q73's slicing grid at stride = width = 24,
    // keeper = row_number over (chunk) ordered by (doc_id, ci);
    // coalesce('') matches Spark's concat_ws over an empty array
    "q81_chunk_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ch AS (
        |  SELECT doc_id, ci,
        |    array_to_string(toks[(ci * 24 + 1)::INTEGER : (ci * 24 + 24)::INTEGER], ' ')
        |      AS chunk
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(0, ((len(toks) - 1) // 24))) AS ci
        |        FROM tk)),
        |mk AS (
        |  SELECT doc_id, ci, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rk
        |  FROM ch)
        |SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |  sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  md5(coalesce(
        |    string_agg(CASE WHEN rk = 1 THEN chunk END, ' ' ORDER BY ci), ''))
        |    AS clean_md5
        |FROM mk GROUP BY doc_id""".stripMargin,
    "q73_chunk_split" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |st AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, ((len(toks) - 1) // 24))) AS ci
        |  FROM tk)
        |SELECT doc_id, ci AS chunk_idx,
        |  len(toks[(ci * 24 + 1)::INTEGER : (ci * 24 + 32)::INTEGER])::BIGINT
        |    AS chunk_len,
        |  md5(array_to_string(
        |    toks[(ci * 24 + 1)::INTEGER : (ci * 24 + 32)::INTEGER], ' '))
        |    AS chunk_hash
        |FROM st""".stripMargin,
    "q74_length_buckets" -> {
      val chain = bucketBounds.dropRight(1)
        .map(b => s"WHEN n_tokens <= $b THEN $b").mkString(" ")
      s"""WITH b AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |cl AS (
        |  SELECT doc_id, n_tokens,
        |    CASE $chain ELSE ${bucketBounds.last} END AS bucket
        |  FROM b)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_total,
        |  CAST(sum(bucket - n_tokens) AS BIGINT) AS pad_waste,
        |  CAST(sum(n_tokens) AS BIGINT)
        |    / (count(*) * bucket) AS fill
        |FROM cl GROUP BY bucket""".stripMargin
    },
    // the df-cap (drop phrases present in EVERY source) mirrors
    // sourceOverlapOf — see its scaladoc for the semantics
    "q69_source_overlap" ->
      """WITH tk AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents),
        |pres AS (
        |  SELECT DISTINCT source,
        |    unnest(CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(3, len(toks) + 1),
        |        i -> toks[(i - 2)::INTEGER] || ' ' || toks[(i - 1)::INTEGER]
        |             || ' ' || toks[i::INTEGER])
        |    ELSE []::VARCHAR[] END) AS phrase
        |  FROM tk),
        |ns AS (SELECT count(DISTINCT source) AS n FROM documents),
        |dfc AS (SELECT phrase, count(*) AS df FROM pres GROUP BY 1),
        |keep AS (
        |  SELECT p.source, p.phrase FROM pres p
        |  JOIN dfc ON dfc.phrase = p.phrase CROSS JOIN ns
        |  WHERE dfc.df < ns.n),
        |sizes AS (SELECT source, count(*) AS n_sh FROM keep GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS shared
        |  FROM keep a JOIN keep b
        |    ON a.phrase = b.phrase AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.shared, sa.n_sh AS n_a,
        |  sb.n_sh AS n_b,
        |  p.shared / (sa.n_sh + sb.n_sh - p.shared) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.source = p.source_a
        |JOIN sizes sb ON sb.source = p.source_b""".stripMargin,
    // mirrors phraseIndex's trigram construct; DuckDB sum/sum(DISTINCT)
    // over BIGINT returns HUGEINT → CAST (the q57 lesson)
    "q65_phrase_index" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |e AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(3, len(toks) + 1),
        |        i -> toks[(i - 2)::INTEGER] || ' ' || toks[(i - 1)::INTEGER]
        |             || ' ' || toks[i::INTEGER])
        |    ELSE []::VARCHAR[] END) AS phrase
        |  FROM tk)
        |SELECT phrase, count(DISTINCT doc_id) AS df, count(*) AS occ,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  CAST(sum(DISTINCT doc_id) AS BIGINT) AS id_sum
        |FROM e GROUP BY phrase HAVING count(DISTINCT doc_id) >= 3""".stripMargin,
    // q103 ≡ q65 through the sink lifecycle — same oracle on purpose
    // (the q98/q102 promote-the-lifecycle-to-the-oracle pattern)
    "q103_phrase_stream" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |e AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(3, len(toks) + 1),
        |        i -> toks[(i - 2)::INTEGER] || ' ' || toks[(i - 1)::INTEGER]
        |             || ' ' || toks[i::INTEGER])
        |    ELSE []::VARCHAR[] END) AS phrase
        |  FROM tk)
        |SELECT phrase, count(DISTINCT doc_id) AS df, count(*) AS occ,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  CAST(sum(DISTINCT doc_id) AS BIGINT) AS id_sum
        |FROM e GROUP BY phrase HAVING count(DISTINCT doc_id) >= 3""".stripMargin,
    // q172 = q82's batch SQL over the POST-RETRACTION corpus (the q167
    // oracle convention): live docs = the retractLivePred mask
    "q172_vocab_retract" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE $retractLivePred),
        |agg AS (
        |  SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS df
        |  FROM tok GROUP BY token)
        |SELECT token, freq, df,
        |  row_number() OVER (ORDER BY freq DESC, token) AS rank
        |FROM agg ORDER BY freq DESC, token LIMIT 200""".stripMargin,
    // q173 = q65's batch SQL over the post-retraction corpus — incl.
    // min_doc/max_doc, the aggregates only the per-doc ledger can fix
    "q173_phrase_retract" ->
      s"""WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE $retractLivePred),
        |e AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(3, len(toks) + 1),
        |        i -> toks[(i - 2)::INTEGER] || ' ' || toks[(i - 1)::INTEGER]
        |             || ' ' || toks[i::INTEGER])
        |    ELSE []::VARCHAR[] END) AS phrase
        |  FROM tk)
        |SELECT phrase, count(DISTINCT doc_id) AS df, count(*) AS occ,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  CAST(sum(DISTINCT doc_id) AS BIGINT) AS id_sum
        |FROM e GROUP BY phrase HAVING count(DISTINCT doc_id) >= 3""".stripMargin,
    // q174 = q84's batch SQL over the post-retraction corpus (the Σ√
    // denominator renormalizes to the live sources)
    "q174_sourcestats_retract" ->
      s"""WITH m AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents WHERE $retractLivePred GROUP BY source),
        |den AS (
        |  SELECT list_reduce(
        |    list_prepend(0.0::DOUBLE, list(sqrt(avail_tokens) ORDER BY source)),
        |    (a, b) -> a + b) AS den
        |  FROM m),
        |w AS (
        |  SELECT source, avail_tokens,
        |    sqrt(avail_tokens) / (SELECT den FROM den) AS w
        |  FROM m)
        |SELECT source, avail_tokens, round(w, 6) AS mix_weight,
        |  CAST(floor(w * 1000000) AS BIGINT) AS target_tokens,
        |  floor(w * 1000000) / avail_tokens AS epochs
        |FROM w""".stripMargin,
    // the DIFFERENT road on purpose: top-3 phrases via the same trigram
    // counts, but hits via substring containment over the raw corpus —
    // agreeing with the Spark side's index-posting lookup proves the
    // index round-trips a presence scan
    "q66_phrase_search" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |e AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(3, len(toks) + 1),
        |        i -> toks[(i - 2)::INTEGER] || ' ' || toks[(i - 1)::INTEGER]
        |             || ' ' || toks[i::INTEGER])
        |    ELSE []::VARCHAR[] END) AS phrase
        |  FROM tk),
        |top3 AS (
        |  SELECT phrase FROM e GROUP BY phrase
        |  ORDER BY count(*) DESC, phrase LIMIT 3)
        |SELECT t.phrase, d.doc_id
        |FROM top3 t JOIN documents d
        |  ON contains(' ' || d.text || ' ', ' ' || t.phrase || ' ')""".stripMargin,
    "q67_decile_filter" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |v AS (SELECT n_tokens, count(*) AS cnt FROM d GROUP BY 1),
        |c AS (
        |  SELECT n_tokens,
        |    CAST(sum(cnt) OVER (ORDER BY n_tokens DESC) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS nt
        |  FROM v),
        |t AS (SELECT coalesce(
        |        min(CASE WHEN cum <= (nt + 9) // 10 THEN n_tokens END),
        |        max(n_tokens)) AS threshold FROM c)
        |SELECT source, count(*) AS n_kept,
        |  min(n_tokens) AS min_tok, max(n_tokens) AS max_tok,
        |  max(t.threshold) AS threshold
        |FROM d, t WHERE d.n_tokens >= t.threshold
        |GROUP BY source""".stripMargin,
    "q63_source_mix" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    md5(text) AS h
        |  FROM documents),
        |dup AS (
        |  SELECT *, count(*) OVER (PARTITION BY h) AS n_same FROM b),
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_docs
        |  FROM dup GROUP BY source)
        |SELECT source, n_docs, n_tokens, n_dup_docs,
        |  n_tokens / CAST(sum(n_tokens) OVER () AS BIGINT)
        |    AS token_share
        |FROM agg""".stripMargin,
    "q60_mixture_sample" ->
      """WITH k AS (
        |  SELECT doc_id, lang,
        |    (doc_id * 2654435761) % 1000003 AS u,
        |    CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 1.0
        |      WHEN 'es' THEN 1.0 WHEN 'de' THEN 1.0 WHEN 'fr' THEN 1.0
        |      ELSE 1.0 END AS rate
        |  FROM documents)
        |SELECT lang, count(*) AS n_total,
        |  sum(CASE WHEN u < rate * 1000003 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN u < rate * 1000003 THEN doc_id ELSE 0 END)::BIGINT
        |    AS kept_id_sum
        |FROM k GROUP BY lang""".stripMargin,
    "q59_repetition_stats" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) >= 2 THEN
        |      list_transform(range(2, len(toks) + 1),
        |        i -> toks[(i - 1)::INTEGER] || ' ' || toks[i::INTEGER])
        |    ELSE []::VARCHAR[] END AS bgs,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(3, len(toks) + 1),
        |        i -> toks[(i - 2)::INTEGER] || ' ' || toks[(i - 1)::INTEGER]
        |             || ' ' || toks[i::INTEGER])
        |    ELSE []::VARCHAR[] END AS tgs
        |  FROM tk)
        |SELECT doc_id,
        |  len(toks)::BIGINT AS n_tokens,
        |  len(list_distinct(toks))::BIGINT AS n_distinct,
        |  coalesce(list_max(list_transform(list_distinct(bgs),
        |    bb -> len(list_filter(bgs, x -> x = bb)))), 0)::BIGINT
        |    AS top_bigram_n,
        |  coalesce(list_max(list_transform(list_distinct(tgs),
        |    tt -> len(list_filter(tgs, x -> x = tt)))), 0)::BIGINT
        |    AS top_trigram_n
        |FROM b""".stripMargin,
    // mirrors winnowFingerprint: DuckDB range(a,b) is exclusive where
    // Spark sequence(a,b) is inclusive (bounds shifted accordingly);
    // n_fps/fp_sum are order-independent set reductions, so the two
    // engines' array_distinct orderings cannot matter
    "q56_winnow_fps" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE length(text) >= 11),
        |b AS (
        |  SELECT doc_id, n,
        |    list_transform(range(1, n + 1),
        |      j -> ascii(substr(text, j::INTEGER, 1))) AS bytes
        |  FROM d),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(0, n - 7), i ->
        |      list_reduce(
        |        list_prepend(5381::BIGINT,
        |          list_transform(list_slice(bytes, (i + 1)::INTEGER, (i + 8)::INTEGER),
        |            x -> x::BIGINT)),
        |        (h, x) -> (h * 33 + x) % 1000000007)) AS gh
        |  FROM b),
        |sel AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, len(gh) - 3), i ->
        |      list_min(list_slice(gh, (i + 1)::INTEGER, (i + 4)::INTEGER)))) AS fps
        |  FROM g)
        |SELECT doc_id, len(fps)::BIGINT AS n_fps,
        |  list_aggregate(fps, 'sum')::BIGINT AS fp_sum
        |FROM sel""".stripMargin,
    "q40_pipeline_filter" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, md5(text) AS text_hash,
        |   len(string_split(text,' ')) AS n_tokens,
        |   len(list_filter(string_split(text,' '),
        |       tok -> tok IN ('the','a','of','and','to','in')))
        |     / len(string_split(text,' ')) AS stop_ratio
        |  FROM documents),
        |keepers AS (
        |  SELECT text_hash, min(doc_id) AS doc_id FROM scored GROUP BY 1)
        |SELECT lang, count(*) AS n_kept, round(avg(n_tokens),2) AS avg_tokens
        |FROM scored
        |WHERE EXISTS (SELECT 1 FROM keepers k
        |              WHERE k.text_hash = scored.text_hash
        |                AND k.doc_id = scored.doc_id)
        |  AND n_tokens BETWEEN 20 AND 1000 AND stop_ratio <= 0.5
        |GROUP BY lang""".stripMargin,
    "q20_token_count" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
        | length(text) AS n_chars_actual
        |FROM documents""".stripMargin,
    "q52_bpe_tokens" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
        |   AS n_bpe_tokens,
        | len(string_split(text,' ')) AS n_ws_tokens
        |FROM documents""".stripMargin,
    "q21_quality_score" ->
      """SELECT doc_id, length(text) AS n_chars,
        | len(string_split(text,' ')) AS n_tokens,
        | CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE length(regexp_replace(text,'[a-z0-9 ]','','g')) / length(text)
        |       END AS punct_ratio,
        | len(list_filter(string_split(text,' '),
        |         tok -> tok IN ('the','a','of','and','to','in')))
        |       / len(string_split(text,' ')) AS stopword_ratio
        |FROM documents""".stripMargin,
    "q22_fingerprint" ->
      """SELECT doc_id,
        | substring(md5(regexp_replace(lower(text),'[^a-z0-9 ]','','g')),1,16)
        |   AS fingerprint
        |FROM documents""".stripMargin,
    "q23_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies,
        | min(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY 1""".stripMargin,
    "q24_lang_id" ->
      """WITH hits AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |   len(list_filter(string_split(text,' '),
        |       t -> t IN ('the','and','of','to','a','in','is'))) AS h_en,
        |   len(list_filter(string_split(text,' '),
        |       t -> t IN ('der','die','und','das','ist','nicht'))) AS h_de,
        |   len(list_filter(string_split(text,' '),
        |       t -> t IN ('le','la','les','et','est','une'))) AS h_fr,
        |   len(list_filter(string_split(text,' '),
        |       t -> t IN ('el','los','las','es','una','y'))) AS h_es
        |  FROM documents)
        |SELECT doc_id, labeled_lang,
        | CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
        |      WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
        |      WHEN h_fr >= h_es THEN 'fr'
        |      ELSE 'es' END AS detected_lang
        |FROM hits""".stripMargin,
  )
}
