package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification (n-gram/stopword heuristic),
  * and document fingerprinting (k-gram min-hash, winnowing-style).
  *
  * Every metric is engine-deterministic (integer counts, one final division)
  * so the DuckDB oracle matches bit-for-bit. All operators are narrow
  * projections over the text column — they scale linearly with no shuffle
  * except the explicit per-doc aggregations.
  */
object TextAnalysis {

  /** shared with FTS/dedup: the oracles pin this exact tokenization. */
  def tokens(text: Column): Column = graft.fts.Fts.tokensOf(text)

  /** whitespace-word count, BPE-ish subword count (runs of letters, digits,
    * or single punctuation — a cheap proxy for byte-pair pieces), chars. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_words"),
      size(filter(split(col("text"), "\\s+"), t => length(t) > 0)).cast("long").as("n_ws_tokens"),
      length(col("text")).cast("long").as("n_chars_measured"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))
        .cast("long").as("n_bpe_pieces"))

  /** Composite quality of a text column — exposed as a raw Column so
    * multi-stage pipelines can fuse it into ONE scan projection instead of
    * re-reading the corpus per metric (see the pl1 gate). */
  def qualityOf(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double")
    val nAlphaChars = length(regexp_replace(lower(text), "[^a-z]", "")).cast("double")
    val nChars = length(text).cast("double")
    (nStop / nTok) * 0.5 + (nAlphaChars / nChars) * 0.5
  }

  /** Quality score: mean word length, alpha ratio, stopword ratio, and a
    * composite — all from integer counts with one final division each. */
  def qualityScores(docs: DataFrame, stopwords: Seq[String]): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double")
    val nAlphaChars = length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double")
    val nChars = length(col("text")).cast("double")
    docs.select(
      col("doc_id"),
      (nChars / nTok).as("mean_word_span"),
      (nAlphaChars / nChars).as("alpha_ratio"),
      (nStop / nTok).as("stopword_ratio"),
      ((nStop / nTok) * 0.5 + (nAlphaChars / nChars) * 0.5).as("quality"))
  }

  /** Gopher/C4-style RULE filter — the keep/drop DECISION layer on top of
    * the raw metrics ([[qualityScores]] reports; this op filters): per doc,
    * the five standard document-quality rules and their conjunction.
    *
    *  r1: word count within [minWords, maxWords]
    *  r2: mean word length within [3, 10] chars
    *  r3: symbol-to-word ratio <= 0.1 (chars that are neither alnum nor
    *      whitespace, per word)
    *  r4: >= 80% of words contain an alphabetic character
    *  r5: >= 2 DISTINCT stop words present (the Gopher "stop word" rule —
    *      absence signals boilerplate/navigation text)
    *
    * Every rule evaluates in EXACT INTEGER arithmetic (e.g. r3 as
    * `10 * symbols <= words`, r2 as `3n <= Σlen <= 10n`) so the booleans
    * are engine-identical with no float thresholds anywhere; the reported
    * ratio metrics are IEEE doubles derived from the same integers (NULL
    * for empty docs — an empty doc fails r1, never divides by zero).
    * One narrow projection: no shuffle, no UDF, full codegen. */
  def gopherRules(docs: DataFrame, stopwords: Seq[String],
      minWords: Long, maxWords: Long): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords, s"bad bounds [$minWords, $maxWords]")
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val sumLen = coalesce(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long")), lit(0L))
    val symbols = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")).cast("long")
    val alphaWords = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val stopDistinct = size(array_intersect(array_distinct(toks),
      typedlit(stopwords))).cast("long")
    val r1 = n >= minWords && n <= maxWords
    val r2 = sumLen >= lit(3L) * n && sumLen <= lit(10L) * n && n > 0
    val r3 = lit(10L) * symbols <= n
    val r4 = lit(5L) * alphaWords >= lit(4L) * n && n > 0
    val r5 = stopDistinct >= 2L
    docs.select(
      col("doc_id"),
      n.as("n_words"),
      when(n > 0, sumLen.cast("double") / n.cast("double")).as("mean_word_len"),
      when(n > 0, symbols.cast("double") / n.cast("double")).as("symbol_ratio"),
      when(n > 0, alphaWords.cast("double") / n.cast("double")).as("alpha_word_ratio"),
      stopDistinct.as("n_stop_distinct"),
      r1.as("r1_words"), r2.as("r2_word_len"), r3.as("r3_symbols"),
      r4.as("r4_alpha"), r5.as("r5_stopwords"),
      (r1 && r2 && r3 && r4 && r5).as("keep"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the "clean"
    * in Colossal Clean Crawled Corpus) over a `lines(doc_id, line_text)`
    * relation: a line is KEPT only when it ends in terminal punctuation
    * (`.` `!` `?` `"`), has at least five words, and does not contain
    * `javascript`; a doc is dropped outright when any line carries a
    * policy marker (`lorem ipsum`, a curly brace — source-code tell), and
    * otherwise dropped when fewer than `minKeptLines` lines survive (the
    * paper's sentence-count floor). Output per doc: line counts, the
    * policy flag, and verdict keep / drop_policy / drop_short.
    *
    * One line-keyed aggregation — the rules are codegen'd expressions on
    * the scan; nothing shuffles except the per-doc rollup. */
  def c4Rules(lines: DataFrame, minKeptLines: Int = 5): DataFrame = {
    val t = col("line_text")
    val nWords = size(tokens(t))
    val keepLine = t.rlike("[.!?\"]$") && nWords >= 5 &&
      !lower(t).contains("javascript")
    val policy = lower(t).contains("lorem ipsum") || t.contains("{")
    lines.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(keepLine, 1L).otherwise(0L)).as("n_kept"),
        (max(when(policy, 1).otherwise(0)) === 1).as("policy_hit"))
      .withColumn("verdict",
        when(col("policy_hit"), "drop_policy")
          .when(col("n_kept") < minKeptLines, "drop_short")
          .otherwise("keep"))
  }

  /** Gopher CHAR-level repetition metrics — the paper's second rule family
    * ([[repetitionStats]] reports the COUNT fraction; Gopher's actual
    * thresholds are over characters): per doc,
    *
    *  - `top_frac`: fraction of characters contained in occurrences of the
    *    single most frequent `topN`-gram (count desc, gram asc tie — the
    *    paper's "top n-gram" rule, n = 2..4; can exceed 1 when occurrences
    *    overlap, as in the paper's counting),
    *  - `dup_frac`: fraction of characters covered by ANY `dupN`-gram that
    *    occurs >= 2 times within the doc (the "duplicated n-gram" rule,
    *    n = 5..10) — positions under overlapping duplicated windows count
    *    once, so this one is a true coverage in [0, 1].
    *
    * Characters = token characters (separators excluded) on both sides of
    * the oracle. Scale: two linear gram explodes, one (doc, gram) count
    * shuffle each; the top gram is a rank-1 window (WindowGroupLimit —
    * map-side top-1 per doc below the shuffle); coverage is a per-doc HOF
    * fold over the doc's own duplicated starts. */
  def repetitionCharStats(docs: DataFrame, topN: Int, dupN: Int): DataFrame = {
    require(topN >= 1 && dupN >= 1, s"bad gram sizes: top=$topN dup=$dupN")
    def gramRows(n: Int): DataFrame = {
      val grams = element_at(transform(array(tokens(col("text"))), ts =>
        when(size(ts) >= n,
          transform(sequence(lit(1), size(ts) - (n - 1)),
            i => array_join(slice(ts, i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))), 1)
      docs.select(col("doc_id"), posexplode(grams).as(Seq("idx", "g")))
        .select(col("doc_id"), (col("idx") + 1).as("i"), col("g"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("g"))
    val top = gramRows(topN).groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("g").as("top_gram"), col("cnt").as("top_count"))
    val dupStarts = gramRows(dupN).groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"), collect_list(col("i")).as("is"))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), explode(col("is")).as("i"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("i"))).as("dstarts"))
    val joined = docs
      .join(top, Seq("doc_id"), "left_outer")
      .join(dupStarts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), tokens(col("text")).as("ts"),
        coalesce(col("top_gram"), lit("")).as("top_gram"),
        coalesce(col("top_count"), lit(0L)).as("top_count"),
        coalesce(col("dstarts"), array().cast("array<int>")).as("dstarts"))
    // one bound evaluation of (token chars, covered chars) — see shingles
    // for why the HOFs must not be referenced twice
    val bound = element_at(transform(
      array(struct(col("ts"), col("dstarts"))), s => {
        val t = s.getField("ts")
        val d = s.getField("dstarts")
        val nch = coalesce(
          aggregate(t, lit(0L), (a, x) => a + length(x).cast("long")), lit(0L))
        val covered = when(size(t) > 0,
          filter(sequence(lit(1), size(t)),
            p => exists(d, st => st <= p && p < st + lit(dupN))))
          .otherwise(array().cast("array<int>"))
        val dch = coalesce(
          aggregate(covered, lit(0L),
            (a, p) => a + length(element_at(t, p)).cast("long")), lit(0L))
        struct(nch.as("n_chars"), dch.as("dup_chars"))
      }), 1)
    joined.select(col("doc_id"), bound.as("b"),
        col("top_gram"), col("top_count"))
      .select(col("doc_id"),
        col("b.n_chars").as("n_chars"),
        col("top_gram"), col("top_count"),
        when(col("b.n_chars") > 0,
          (col("top_count") *
            (length(col("top_gram")) - lit(topN - 1)).cast("long")).cast("double")
            / col("b.n_chars").cast("double"))
          .otherwise(lit(0.0)).as("top_frac"),
        col("b.dup_chars").as("dup_chars"),
        when(col("b.n_chars") > 0,
          col("b.dup_chars").cast("double") / col("b.n_chars").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Language marker lists (tiny stopword heuristics). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "una", "para", "con"))

  /** All marker counts in ONE token-array traversal: a struct accumulator
    * folded with `aggregate`. The per-language `size(filter(toks, isin))`
    * form tokenizes and walks the array once PER LANGUAGE (higher-order
    * functions fall back to interpreted eval, so nothing de-duplicates the
    * shared `tokens(text)` subtree) — the fold measured 2.3× faster on the
    * sf0.1 corpus with identical output. */
  private def markerCounts(text: Column): Seq[(String, Column)] = {
    val zero = struct(LangMarkers.map(l => lit(0L).as("c_" + l._1)): _*)
    val counts = aggregate(tokens(text), zero, (acc, t) =>
      struct(LangMarkers.map { case (lang, markers) =>
        (acc.getField("c_" + lang) +
          when(t.isin(markers.map(lit): _*), 1L).otherwise(0L))
          .as("c_" + lang)
      }: _*))
    LangMarkers.map { case (lang, _) => lang -> counts.getField("c_" + lang) }
  }

  // argmax fold: strict > keeps the earlier language on ties
  private def argmaxLang(counts: Seq[(String, Column)]): (Column, Column) =
    counts.tail.foldLeft(
      (lit(counts.head._1), counts.head._2)) { case ((bl, bc), (lang, c)) =>
      (when(c > bc, lit(lang)).otherwise(bl), when(c > bc, c).otherwise(bc))
    }

  /** Predicted language of a text column (argmax marker count, 'und' when
    * no marker hits) — raw Column form for single-scan pipeline fusion. */
  def langPredOf(text: Column): Column = {
    val (bestLang, bestCount) = argmaxLang(markerCounts(text))
    when(bestCount > 0, bestLang).otherwise(lit("und"))
  }

  /** Language-ID: argmax of marker-token counts, ties and no-marker docs →
    * 'und' (undetermined). Deterministic tie-break: higher count wins, then
    * earlier language in [[LangMarkers]] order. */
  def languageId(docs: DataFrame): DataFrame = {
    val (bestLang, bestCount) = argmaxLang(markerCounts(col("text")))
    docs.select(col("doc_id"),
      when(bestCount > 0, bestLang).otherwise(lit("und")).as("lang_pred"),
      bestCount.as("marker_hits"))
  }

  /** Document fingerprint: minimum md5 over all k-gram character windows —
    * a deterministic rolling-hash sketch (winnowing with window = whole doc;
    * exact in SQL for the oracle). */
  def fingerprints(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      when(length(col("text")) >= k,
        array_min(transform(sequence(lit(1), length(col("text")) - (k - 1)),
          i => md5(col("text").substr(i, lit(k))))))
        .otherwise(md5(col("text"))).as("fingerprint"))

  /** Concat-and-chunk sequence packing: documents are conceptually
    * concatenated in doc_id order WITHIN each source shard and split at
    * `budget`-token context boundaries; each doc gets the pack it STARTS in
    * and its token offset there. Per-shard windows keep the cumulative sum
    * parallel (one partition per source — the global-concat formulation is
    * inherently sequential and would single-thread a 100 TB corpus), which
    * is also how production packers shard. Integer arithmetic end to end
    * (`div`, not `/`: Spark's `/` on longs is DOUBLE division, which loses
    * ulps past 2^53 cumulative tokens and diverges from the oracle's
    * integer `//`). */
  def packForTraining(docs: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_end", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", expr(s"(cum_end - n_tokens) div $budget"))
      .withColumn("token_offset", (col("cum_end") - col("n_tokens")) % budget)
      .drop("cum_end")
  }

  /** Within-document repetition signal (the Gopher/dolma-style quality rule
    * "fraction of duplicated n-grams"): per doc, ALL word n-grams (not
    * de-duplicated) vs their distinct count; `dup_ngram_frac` =
    * 1 - distinct/total. A doc that loops one sentence scores near 1; clean
    * prose scores near 0. Both counts come out of ONE bound token array —
    * higher-order functions are CodegenFallback, so naming the gram array
    * twice would re-tokenize and re-shingle the doc per reference (the
    * repo-wide shingling finding); the struct packs both sizes in a single
    * evaluation. Narrow projection, no shuffle. */
  def repetitionStats(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be positive, got $n")
    val grams = element_at(transform(array(tokens(col("text"))), ts =>
      when(size(ts) >= n,
        transform(sequence(lit(1), size(ts) - (n - 1)),
          i => array_join(slice(ts, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))), 1)
    val stats = element_at(transform(array(grams), gs => struct(
      size(gs).cast("long").as("n_grams"),
      size(array_distinct(gs)).cast("long").as("n_distinct"))), 1)
    docs.select(col("doc_id"), stats.as("st"))
      .select(col("doc_id"),
        col("st.n_grams").as("n_grams"),
        col("st.n_distinct").as("n_distinct"),
        when(col("st.n_grams") > 0,
          lit(1.0) - col("st.n_distinct").cast("double") / col("st.n_grams").cast("double"))
          .otherwise(lit(0.0)).as("dup_ngram_frac"))
  }

  /** Per-source document cap — the URL/domain-cap operator every web-scale
    * pipeline runs so one giant crawl host cannot dominate the corpus. Keeps
    * the `cap` highest-priority docs per source, priority = md5(salt|doc_id)
    * (deterministic across runs/engines/partitionings — sampling by rand()
    * is not reproducible on retry), tie-broken by doc_id. One window per
    * source shard; Spark 4 plans rank-limit windows as WindowGroupLimit
    * (map-side top-cap per group below the shuffle), so the full corpus is
    * never sorted — per-group state is O(cap). */
  def capPerSource(docs: DataFrame, cap: Int, salt: String): DataFrame = {
    require(cap >= 1, s"per-source cap must be positive, got $cap")
    val pri = md5(concat(lit(salt + "|"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(pri, col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
  }

  /** Deterministic pre-training shard shuffle — the "global shuffle +
    * shard writer" step a training run performs before serializing
    * examples: every doc gets a reproducible pseudorandom key
    * (md5(salt|doc_id) — identical on any engine, partitioning, or retry;
    * rand() is none of those), its shard is the key's top-60-bit value mod
    * nShards, and its position is the rank of its key within the shard.
    * `repartition(shard) + sortWithinPartitions(pos)` downstream then
    * writes byte-identical shard files on every rerun.
    *
    * Scale: ONE shuffle on the shard key + a per-shard sort — exactly the
    * physical plan the shard writer needs anyway; no global sort, no
    * driver state, and shards are md5-uniform so a hot shard is impossible
    * by construction. Returns (doc_id, shard, pos). */
  def shardShuffle(docs: DataFrame, nShards: Int, salt: String): DataFrame = {
    require(nShards >= 1, s"shard count must be positive, got $nShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    docs.select(col("doc_id"),
        md5(concat(lit(salt + "|"), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard",
        conv(substring(col("k"), 1, 15), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Train/eval decontamination report (the GPT-3/PaLM-style n-gram overlap
    * check): assigns every doc a [[deterministicSplit]] slot, collects the
    * distinct word n-grams of the TEST split, and reports each TRAIN doc
    * sharing at least one n-gram with it: (doc_id, n_hit_grams, first_gram).
    * Short docs (< n tokens) contribute their whole text as one gram — the
    * same rule as [[graft.dedup.Dedup.shingles]], so exact short-doc copies
    * across the split boundary are still caught.
    *
    * Scale: the caller passes the eval/benchmark docs as their own DataFrame,
    * so the broadcast-small assumption is STRUCTURAL — benchmarks are MBs
    * while the corpus is TBs, and the signature makes it impossible to
    * accidentally broadcast a corpus-sized side. The train side is then ONE
    * scan + broadcast semi-join + per-doc aggregation with no shuffle of the
    * gram stream on the build side. */
  def contaminationReport(trainDocs: DataFrame, evalDocs: DataFrame,
      n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(graft.dedup.Dedup.shingles(col("text"), n)).as("g"))
    val evalGrams = grams(evalDocs).select(col("g")).distinct()
    grams(trainDocs)
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hit_grams"),
        min(col("g")).as("first_gram"))
  }

  /** [[contaminationReport]] against this corpus's own [[deterministicSplit]]
    * test slice — the self-split formulation the dc1 gate runs. Only for
    * corpora whose test permille is benchmark-sized: the eval side is
    * broadcast, so at 100 TB pass a real external benchmark DataFrame to the
    * two-argument overload instead of splitting the corpus itself. */
  def contaminationReport(docs: DataFrame, n: Int, salt: String,
      valPermille: Int, testPermille: Int): DataFrame = {
    val split = deterministicSplit(docs, "doc_id", salt, valPermille, testPermille)
    contaminationReport(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "test"), n)
  }

  /** Exact-substring decontamination (the complement of the n-gram overlap
    * report): eval docs contribute a fixed-length head snippet, and every
    * TRAIN doc containing any snippet verbatim is flagged — the check that
    * catches benchmark prompts pasted into training text even when
    * tokenization would split them differently.
    *
    * Executed as a multi-pattern Rabin–Karp scan: the snippet side is
    * structurally small (an eval set), so its fixed-length patterns ship to
    * every partition as a broadcast rolling-hash table, and each train doc
    * is ONE O(len) pass — a window-hash lookup per position plus an exact
    * `regionMatches` verify on table hits (hash collisions cannot produce
    * false positives). Per-doc aggregation happens inside the same
    * mapPartitions, so the whole operator is a single narrow stage: no
    * shuffle, no per-(doc, snippet) probe. The round-5 sf1 probe caught the
    * previous `instr`-join form scaling as corpus × eval (133× wall on 10×
    * data); this form is linear in corpus chars and stays exact. */
  def exactContamination(docs: DataFrame, snippetLen: Int, salt: String,
      valPermille: Int, testPermille: Int): DataFrame = {
    require(snippetLen >= 8, s"snippet length too short to be meaningful: $snippetLen")
    val spark = docs.sparkSession
    val lbl = deterministicSplit(docs, "doc_id", salt, valPermille, testPermille)
    val snippets = lbl.filter(col("split") === "test")
      .select(col("doc_id").as("snippet_doc"),
        substring(col("text"), 1, snippetLen).as("snippet"))
      .filter(length(col("snippet")) >= snippetLen)
      .collect() // structurally eval-sized (the same contract the previous
                 // broadcast form had); MBs while the corpus is TBs
      .map(r => (r.getLong(0), r.getString(1)))
    val L = snippetLen
    val Base = 257L
    def winHash(s: String, from: Int): Long = {
      var h = 0L; var i = from
      while (i < from + L) { h = h * Base + s.charAt(i); i += 1 }
      h
    }
    // hash → indices of snippet rows with that window hash
    val table: Map[Long, Array[Int]] = snippets.indices
      .groupBy(i => winHash(snippets(i)._2, 0))
      .map { case (h, is) => (h, is.toArray) }
    val tableB = spark.sparkContext.broadcast((snippets, table))
    graft.Caches.track(tableB)
    import org.apache.spark.sql.Row
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_hits",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("first_snippet_doc",
          org.apache.spark.sql.types.LongType, nullable = false))))
    lbl.filter(col("split") === "train")
      .select(col("doc_id"), col("text"))
      .mapPartitions { rows =>
        val (snips, tbl) = tableB.value
        // precomputed Base^(L-1) for the rolling update
        var pow = 1L; (1 until L).foreach(_ => pow *= Base)
        rows.flatMap { r =>
          val docId = r.getLong(0)
          val text = r.getString(1)
          if (text == null || text.length < L || tbl.isEmpty) Iterator.empty
          else {
            val matched = new java.util.BitSet(snips.length)
            var h = winHash(text, 0)
            var pos = 0
            val last = text.length - L
            while (pos <= last) {
              tbl.get(h) match {
                case Some(is) =>
                  var k = 0
                  while (k < is.length) {
                    val i = is(k)
                    if (!matched.get(i) && snips(i)._1 != docId &&
                        text.regionMatches(pos, snips(i)._2, 0, L))
                      matched.set(i)
                    k += 1
                  }
                case None => ()
              }
              if (pos < last) // roll the window one char right
                h = (h - text.charAt(pos) * pow) * Base + text.charAt(pos + L)
              pos += 1
            }
            var n = 0L
            var minSd = Long.MaxValue
            var i = matched.nextSetBit(0)
            while (i >= 0) {
              n += 1
              if (snips(i)._1 < minSd) minSd = snips(i)._1
              i = matched.nextSetBit(i + 1)
            }
            if (n == 0) Iterator.empty else Iterator(Row(docId, n, minSd))
          }
        }
      }(enc)
  }

  /** Fuzzy (near-duplicate) decontamination — the third leg of the dc
    * family: [[contaminationReport]] catches shared n-grams and
    * [[exactContamination]] catches verbatim snippets, but a lightly
    * paraphrased or reformatted benchmark document (whitespace, casing,
    * a re-worded sentence) defeats both. MinHash-LSH between train docs
    * and eval docs catches it: any (train, eval) pair whose estimated
    * Jaccard over token shingles is >= simThreshold is reported as
    * (doc_id, eval_doc_id, sim).
    *
    * Scale shape is [[graft.dedup.Dedup.minhashLshCrossPairs]]'s: the
    * eval side is structurally benchmark-sized and broadcast, so the
    * train corpus is one narrow signature scan probed by a broadcast
    * band join — no train-side shuffle at any corpus size. */
  def fuzzyContamination(trainDocs: DataFrame, evalDocs: DataFrame, n: Int,
      k: Int, bands: Int, simThreshold: Double): DataFrame =
    graft.dedup.Dedup
      .minhashLshCrossPairs(trainDocs, evalDocs, n, k, bands, simThreshold)
      .select(col("a").as("doc_id"), col("b").as("eval_doc_id"), col("sim"))

  /** [[fuzzyContamination]] against this corpus's own
    * [[deterministicSplit]] test slice — the self-split formulation the
    * dc3 gate runs. As with the dc1 twin, only for corpora whose test
    * permille is benchmark-sized; at 100 TB pass the external benchmark
    * to the two-argument overload. */
  def fuzzyContamination(docs: DataFrame, n: Int, k: Int, bands: Int,
      simThreshold: Double, salt: String, valPermille: Int,
      testPermille: Int): DataFrame = {
    val split = deterministicSplit(docs, "doc_id", salt, valPermille, testPermille)
    fuzzyContamination(
      split.filter(col("split") === "train").select(col("doc_id"), col("text")),
      split.filter(col("split") === "test").select(col("doc_id"), col("text")),
      n, k, bands, simThreshold)
  }

  /** Self-trained unigram-LM surprisal — the KenLM-style "perplexity filter"
    * of web-scale pipelines, with the LM trained on the corpus itself: a
    * token's probability is its corpus frequency cnt/N, a doc's score is the
    * mean surprisal ln(N/cnt) of its tokens. Low scores = repetitive/
    * boilerplate-heavy docs; high scores = rare-token noise. Empty docs
    * (zero tokens) have no defined surprisal and are absent from the output.
    *
    * Determinism discipline (the oracle hash-compares): ln() is evaluated
    * PER ROW on integer-valued doubles (identical libm results in both
    * engines — the BM25 idf relies on the same), quantized per row to i64
    * micro-units with trunc, and only the exact BIGINT keys are summed —
    * never raw doubles, whose summation order would drift in the last ulp
    * across partitionings.
    *
    * Scale: one explode (linear), one groupBy(token) for the vocab (Heaps'
    * law keeps it ≪ corpus, but it is NOT forced broadcast — at 100 TB a
    * 10^8-row vocab shuffle-joins on the token key), one groupBy(doc_id).
    * The 1-row total rides a broadcast cross join. */
  def lmSurprisal(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n"))
    toks.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (log(col("n").cast("double") / col("cnt").cast("double")) * lit(1e6))
          .cast("long").as("surp_key"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("surp_key")).as("sum_surprisal_key"))
      .withColumn("mean_surprisal_key",
        expr("sum_surprisal_key div n_toks"))
  }

  /** Interpolated Kneser–Ney bigram surprisal — the CCNet-style held-out
    * perplexity filter: the LM trains on the `doc_id % trainMod == trainRem`
    * slice and scores EVERY doc, so held-out docs exercise the discount /
    * continuation backoff on unseen bigrams and unseen words (what
    * distinguishes KN from the raw-frequency [[lmSurprisal]]).
    *
    * Model (discount D = 0.75, add-one continuation floor so unseen words
    * keep positive mass):
    *   p(w|v) = (max(c(vw)−D, 0) + D·N1+(v·)·pcont(w)) / c(v)   if c(v) > 0
    *          = pcont(w)                                         otherwise
    *   pcont(w) = (N1+(·w) + 1) / (N1+(··) + |V|)
    *
    * Determinism: every count is exact BIGINT; p evaluates in one fixed
    * double expression (IEEE ops are engine-identical), −ln(p) goes through
    * the f32 round-trip micro-unit key (the tf-idf/BM25 discipline) and
    * only exact i64 keys are summed. Scale: the model relations are
    * vocab-/bigram-sized groupBys that shuffle-join the scoring stream on
    * their natural keys; the two scalar totals ride a broadcast. */
  def knSurprisal(docs: DataFrame, trainMod: Long = 2,
      trainRem: Long = 0): DataFrame = {
    val bg = docs.select(col("doc_id"), explode(bigramPairs(col("text"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("v"), col("p.w2").as("w"))
    val isTrain = col("doc_id") % trainMod === trainRem
    val train = bg.filter(isTrain)
    val cvw = train.groupBy("v", "w").agg(count(lit(1)).as("c_vw"))
    val cv = cvw.groupBy("v")
      .agg(sum("c_vw").as("c_v"), count(lit(1)).as("n1p_v"))
    val pw = cvw.groupBy("w").agg(count(lit(1)).as("n1p_w"))
    val gl = cvw.agg(count(lit(1)).as("n1pp")).crossJoin(
      docs.filter(isTrain)
        .select(explode(tokens(col("text"))).as("t"))
        .agg(countDistinct(col("t")).as("vsize")))
    val pcont = (coalesce(col("n1p_w"), lit(0L)).cast("double") + lit(1.0)) /
      (col("n1pp").cast("double") + col("vsize").cast("double"))
    val p = when(col("c_v").isNotNull,
        (greatest(coalesce(col("c_vw"), lit(0L)).cast("double") - lit(0.75),
          lit(0.0)) + lit(0.75) * col("n1p_v").cast("double") * pcont) /
          col("c_v").cast("double"))
      .otherwise(pcont)
    bg.join(cvw, Seq("v", "w"), "left")
      .join(cv, Seq("v"), "left")
      .join(pw, Seq("w"), "left")
      .crossJoin(broadcast(gl))
      .select(col("doc_id"),
        ((-log(p)).cast("float").cast("double") * lit(1e6)).cast("long")
          .as("kn_key"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("kn_key")).as("sum_kn_key"))
      .withColumn("mean_kn_key", expr("sum_kn_key div n_bigrams"))
  }

  /** Deterministic stratified sampling — per-stratum keep rates in permille
    * (the "downsample crawl dominance, keep all of the curated sliver" op).
    * Keep/drop is decided by the md5 slot of (salt, id) — reproducible
    * across runs/engines/partitionings and independent of row order, so a
    * retried 100 TB job keeps exactly the same sample. Strata without an
    * explicit rate fall back to `defaultPermille`. The rate lookup compiles
    * to a CASE chain (strata maps are human-sized); the slot column is kept
    * in the output so downstream thinning can subset without re-hashing. */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
      ratesPermille: Map[String, Int], defaultPermille: Int,
      salt: String): DataFrame = {
    (ratesPermille.values.toSeq :+ defaultPermille).foreach { r =>
      require(r >= 0 && r <= 1000, s"permille rate out of [0,1000]: $r")
    }
    val slot = graft.functions.Md5HexLong(concat(lit(salt + "|"),
      col(idCol).cast("string")), 1, 15) % 1000
    // deterministic CASE order (sorted keys) so the compiled plan is stable
    val rate = ratesPermille.toSeq.sortBy(_._1).foldLeft(lit(defaultPermille)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs.withColumn("slot", slot).filter(col("slot") < rate)
  }

  /** Target-mixture resampling — the data-mixing step of a pre-training
    * build: given per-source target weights, each source is deterministically
    * downsampled so the KEPT corpus's source proportions match the weights,
    * with no source sampled harder than necessary (the binding source — the
    * one scarcest relative to its weight — keeps rate 1000‰ and everything
    * else scales to it). Sources without a weight are dropped entirely.
    *
    * Rates are exact integer arithmetic: binding source b = argmin(n/w)
    * (IEEE-double sort key, source tie-break — division is exactly rounded
    * so the ordering is engine-identical), then
    * rate_s = (1000 * n_b * w_s) div (w_b * n_s), which is <= 1000 by
    * construction and integer-exact at any corpus size (no double product
    * past 2^53). Row selection is the same md5-permille slot as
    * [[stratifiedSample]]: reproducible across runs, engines and
    * partitionings, stable under re-ingest.
    *
    * Scale shape: one count aggregation (tiny result), the rate relation is
    * sources-sized and broadcast onto the corpus scan — the corpus itself
    * never shuffles. */
  def mixtureRates(docs: DataFrame, sourceCol: String,
      weights: Map[String, Int]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"mixture weights must be positive: $weights")
    // overflow headroom for the exact-integer rate: 1000 * n_b * w must fit
    // a long, so with weights <= 1000 the binding count may reach 9e12 rows
    // per source before wrapping. Weights are RATIOS — normalize large ones.
    require(weights.values.forall(_ <= 1000),
      s"mixture weights are ratios; normalize to <= 1000: $weights")
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toSeq.sortBy(_._1).toDF(sourceCol, "w")
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
    val joined = counts.join(broadcast(w), Seq(sourceCol))
    val binding = joined
      .orderBy((col("n").cast("double") / col("w").cast("double")).asc,
        col(sourceCol))
      .limit(1).select(col("n").as("bn"), col("w").as("bw"))
    joined.crossJoin(broadcast(binding))
      .withColumn("rate_permille",
        expr("(1000L * bn * w) div (bw * n)"))
      .select(col(sourceCol), col("n").as("n_in"), col("rate_permille"))
  }

  /** Apply [[mixtureRates]]: the kept rows of `docs`, selected by the
    * deterministic md5(salt|id) permille slot against each source's rate.
    * Unweighted sources vanish (inner join with the rate relation). */
  def mixtureResample(docs: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Int], salt: String): DataFrame = {
    val rates = mixtureRates(docs, sourceCol, weights)
      .select(col(sourceCol), col("rate_permille"))
    val slot = graft.functions.Md5HexLong(concat(lit(salt + "|"),
      col(idCol).cast("string")), 1, 15) % 1000
    docs.join(broadcast(rates), Seq(sourceCol))
      .filter(slot < col("rate_permille"))
      .drop("rate_permille")
  }

  /** Temperature-scaled source mixture (α = 1/2): target share ∝ n^α, the
    * standard between-language/source balancing temperature (multilingual
    * pretraining mixes sample p_i ∝ n_i^α with α ∈ [0.2, 0.7] to keep small
    * sources from vanishing). Downsampling-only, so rate_i ∝ w_i / n_i with
    * w_i = isqrt(n_i), scaled so the binding source (max w/n = the smallest
    * source) keeps everything — the same exact-integer binding-source
    * algebra as [[mixtureRates]], with the static weight column replaced by
    * the data-derived temperature weight.
    *
    * isqrt via `floor(sqrt(double))` is EXACT for n < 2^51: IEEE sqrt is
    * correctly rounded, perfect squares are hit exactly, and an irrational
    * √n sits ≥ 1/(2√n+1) from the next integer while the rounding error is
    * < √n·2⁻⁵², which only crosses once n > 2^51 — both engines agree
    * bit-for-bit. Overflow: 1000·bn·w must fit a long → fine to ~10^12
    * rows per source. */
  def temperatureRates(docs: DataFrame, sourceCol: String): DataFrame = {
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
    val wt = counts.withColumn("w",
      floor(sqrt(col("n").cast("double"))).cast("long"))
    val binding = wt
      .orderBy((col("n").cast("double") / col("w").cast("double")).asc,
        col(sourceCol))
      .limit(1).select(col("n").as("bn"), col("w").as("bw"))
    wt.crossJoin(broadcast(binding))
      .withColumn("rate_permille", expr("(1000L * bn * w) div (bw * n)"))
      .select(col(sourceCol), col("n").as("n_in"), col("w").as("w_temp"),
        col("rate_permille"))
  }

  /** Apply [[temperatureRates]]: kept rows selected by the deterministic
    * md5(salt|id) permille slot — repartition-invariant, like
    * [[mixtureResample]]. */
  def temperatureResample(docs: DataFrame, sourceCol: String, idCol: String,
      salt: String): DataFrame = {
    val rates = temperatureRates(docs, sourceCol)
      .select(col(sourceCol), col("rate_permille"))
    val slot = graft.functions.Md5HexLong(concat(lit(salt + "|"),
      col(idCol).cast("string")), 1, 15) % 1000
    docs.join(broadcast(rates), Seq(sourceCol))
      .filter(slot < col("rate_permille"))
      .drop("rate_permille")
  }

  /** Budget-constrained epoch plan — exact water-filling over per-source
    * token counts. Each source asks for a budget share ∝ its temperature
    * weight w = isqrt(n_tokens), capped at `maxEpochs` passes over its own
    * tokens (the "repeat small high-quality sources, but not forever" rule
    * every large pretraining mix applies); capped surplus redistributes to
    * the uncapped sources. The global budget is `totalTokens · budgetNum /
    * budgetDen` (relation-derived, so the plan is scale-free).
    *
    * Closed form, no iteration: sorted by cap/w ascending, the capped set
    * is a PREFIX — row i caps iff cap_i · W_i ≤ w_i · R_i where W_i sums w
    * over rows ≥ i and R_i is the budget minus caps already granted to
    * rows < i (the prefix-min guard makes the set prefix-closed even under
    * double-ordering ties). Uncapped rows then split the final remainder R
    * by exact integer floor division w·R div W.
    *
    * Scale: this is a PLANNER operator — the input is the per-source
    * aggregate (metadata-sized, one row per source), so the single-frame
    * windows are over at most a few thousand rows, like the compaction /
    * range-partition planners. The only data-scale pass is the upstream
    * token count. Overflow bound: cap·W and w·R must fit a long — with
    * per-source tokens ≤ 4·10^12 and ≤ 10^4 sources both stay < 2^63. */
  def epochPlan(tokens: DataFrame, sourceCol: String,
      budgetNum: Int, budgetDen: Int, maxEpochs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(
      (col("cap").cast("double") / col("w").cast("double")).asc, col(sourceCol))
    val all = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tokens
      .withColumn("w", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      .withColumn("cap", col("n_tokens") * maxEpochs)
      .withColumn("tot", sum("n_tokens").over(all))
      .withColumn("budget", expr(s"(tot * $budgetNum) div $budgetDen"))
      .withColumn("c_before", coalesce(
        sum("cap").over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("w_from",
        sum("w").over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("f",
        (col("cap") * col("w_from") <= col("w") * (col("budget") - col("c_before")))
          .cast("int"))
      .withColumn("capped",
        min("f").over(ord.rowsBetween(Window.unboundedPreceding, 0)) === 1)
      .withColumn("cap_used",
        coalesce(sum(when(col("capped"), col("cap"))).over(all), lit(0L)))
      .withColumn("w_unc", sum(when(!col("capped"), col("w"))).over(all))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap"))
          .otherwise(expr("(w * (budget - cap_used)) div w_unc")))
      .withColumn("epochs_permille",
        expr("(1000L * alloc_tokens) div n_tokens"))
      .select(col(sourceCol), col("n_tokens"), col("w").as("w_temp"),
        col("cap"), col("capped"), col("alloc_tokens"), col("epochs_permille"))
  }

  /** Preference-pair assembly — the DPO/RLHF dataset-prep step: given
    * scored completions `responses(prompt_id, response_id, reward_u)`
    * (integer micro-unit rewards), each prompt pairs its BEST completion
    * (max reward, smallest id tie-break) against every other completion at
    * least `minMarginU` below it — the best-vs-rest scheme; closer-than-
    * margin pairs are too ambiguous to teach from and prompts with a single
    * completion emit nothing. Output (prompt_id, chosen_id, rejected_id,
    * margin_u), one row per surviving pair.
    *
    * One prompt-keyed window (full-frame first_value picks the champion on
    * the same shuffle the pairing filter rides); nothing quadratic — the
    * pair set is linear in the response count. */
  def preferencePairs(responses: DataFrame, minMarginU: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("prompt_id"))
      .orderBy(col("reward_u").desc, col("response_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    responses
      .withColumn("chosen_id", first(col("response_id")).over(w))
      .withColumn("chosen_reward", first(col("reward_u")).over(w))
      .filter(col("response_id") =!= col("chosen_id") &&
        col("chosen_reward") - col("reward_u") >= minMarginU)
      .select(col("prompt_id"), col("chosen_id"),
        col("response_id").as("rejected_id"),
        (col("chosen_reward") - col("reward_u")).as("margin_u"))
  }

  /** SFT conversation flattening — the chat-to-training-text step of a
    * fine-tuning data pipeline, as one relational pass:
    *
    *  1. consecutive same-role turns MERGE into one turn, contents joined
    *     by newline (gaps-and-islands run ids: lag + running sum);
    *  2. conversations whose first merged turn is not `user` are DROPPED
    *     (a reply with no prompt teaches nothing);
    *  3. conversations with fewer than `minTurns` merged turns are dropped;
    *  4. turns beyond `maxTurns` TRUNCATE (context-length guard);
    *  5. the survivors render to a ChatML-style template
    *     `<|im_start|>role\ncontent<|im_end|>` joined by newline.
    *
    * Input `turns(conv_id, turn_idx, role, content)`; output one row per
    * surviving conversation with turn/role counts, rendered length and the
    * md5 of the rendered text (the hash, not the text — oracle-friendly
    * and cheap to ship).
    *
    * Scale: one shuffle on conv_id; every window and the merge/render
    * aggregations are bounded by a single conversation's turn count. The
    * rendered text exists only inside the per-conversation aggregate —
    * nothing conversation-sized crosses another shuffle. */
  def chatFlatten(turns: DataFrame, minTurns: Int, maxTurns: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTurn = Window.partitionBy("conv_id").orderBy("turn_idx")
    val runs = turns
      .withColumn("prev_role", lag("role", 1).over(byTurn))
      .withColumn("new_run",
        (col("prev_role").isNull || col("prev_role") =!= col("role")).cast("int"))
      .withColumn("run_id", sum("new_run").over(byTurn))
    val merged = runs.groupBy("conv_id", "run_id")
      .agg(min("role").as("role"), // constant within a run
        expr("array_join(transform(array_sort(collect_list(struct(turn_idx, content))), r -> r.content), '\n')")
          .as("content"))
    val byRun = Window.partitionBy("conv_id").orderBy("run_id")
    val full = byRun.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    merged
      .withColumn("first_role", first("role").over(full))
      .withColumn("n_runs", count(lit(1)).over(full))
      .filter(col("first_role") === "user" && col("n_runs") >= minTurns &&
        col("run_id") <= maxTurns)
      .groupBy("conv_id")
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
        sum(when(col("role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
        expr("array_join(transform(array_sort(collect_list(struct(run_id, role, content))), r -> concat('<|im_start|>', r.role, '\n', r.content, '<|im_end|>')), '\n')")
          .as("text"))
      .select(col("conv_id"), col("n_turns"), col("n_user"), col("n_assistant"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("text_md5"))
  }

  /** T5-style span-corruption plan: deterministic masked-span placement
    * for denoising pretraining, as a relation. Per doc, target
    * `ratePermille` of the tokens masked in spans of `spanLen`; candidate
    * span starts are hash-placed (md5(salt|doc#i) — reproducible across
    * runs, partitionings and engines, like every sampling decision here),
    * then overlapping candidates UNION via [[graft.relational.Intervals]]
    * so the plan reports the real masked coverage and span count (the
    * sentinel-token count of the T5 encoding = n_spans). Docs shorter than
    * one span carry no plan.
    *
    * Scale: the explode is ≤ n_tok/spanLen/~7 rows per doc (sub-token
    * volume), the merge windows are bounded by a doc's candidate count,
    * everything partitions on doc_id. */
  def spanCorruptionPlan(docs: DataFrame, ratePermille: Int, spanLen: Int,
      salt: String): DataFrame = {
    require(ratePermille > 0 && ratePermille <= 1000 && spanLen > 0)
    val base = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") >= spanLen)
      .withColumn("n_target", expr(s"(n_tok * $ratePermille) div 1000"))
      .withColumn("n_cand", greatest(lit(1L), expr(s"n_target div $spanLen")))
    val cands = base
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_cand") - 1)).as("i"))
      .withColumn("start",
        graft.functions.Md5HexLong(concat(lit(salt + "|"), col("doc_id"),
          lit("#"), col("i")), 1, 15) %
          (col("n_tok") - spanLen + 1))
      .withColumn("end", col("start") + spanLen)
    val merged = graft.relational.Intervals.merge(
      cands.select(col("doc_id").as("key"), col("start"), col("end")))
    merged.groupBy(col("key").as("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("end") - col("start")).as("n_masked"))
      .join(base.select(col("doc_id"), col("n_tok"), col("n_cand")),
        Seq("doc_id"))
      .withColumn("mask_permille", expr("(1000 * n_masked) div n_tok"))
      .select(col("doc_id"), col("n_tok"), col("n_cand"), col("n_spans"),
        col("n_masked"), col("mask_permille"))
  }

  /** PII detection + redaction report: per doc, counts of email and IPv4
    * literals and the md5 of the redacted text (emails first, then IPs —
    * fixed order so the hash is well-defined). The patterns stay inside the
    * regex subset where Java's engine and RE2 agree (character classes and
    * bounded repetition, no alternation/backtracking constructs), which is
    * what makes the DuckDB oracle exact. Narrow projection, no shuffle. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  def piiReport(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ipv4"),
      md5(regexp_replace(
        regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>"))).as("redacted_hash"))

  /** Deterministic stratified train/val/test split: every row is assigned by
    * the md5 of (salt, id) — reproducible across runs, engines, partitionings
    * and cluster sizes (NO rand(), which breaks on retry/re-partition), and
    * independent of row order, which is what makes the split stable when the
    * corpus is re-ingested at 100 TB. `valPermille`/`testPermille` carve the
    * 0..999 hash space; the remainder is train. Stratification comes free:
    * the hash is uniform within every stratum of any other column. */
  def deterministicSplit(docs: DataFrame, idCol: String, salt: String,
      valPermille: Int, testPermille: Int): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille <= 1000,
      s"split permilles must be non-negative and sum <= 1000")
    val slot = graft.functions.Md5HexLong(concat(lit(salt + "|"),
      col(idCol).cast("string")), 1, 15) % 1000
    docs.withColumn("split",
      when(slot < valPermille, lit("val"))
        .when(slot < valPermille + testPermille, lit("test"))
        .otherwise(lit("train")))
  }

  /** Corpus vocabulary heavy hitters: the `k` tokens with the highest
    * document frequency, with their total term frequency — the vocab/Zipf
    * report every corpus build starts from. One explode + one aggregation;
    * the countDistinct plans as a two-phase partial-agg shuffle on
    * (token, doc_id) and the top-k is TakeOrdered (never a global sort).
    * Ties break lexicographically so the cut is deterministic. */
  def vocabTopK(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"vocab top-k must be positive, got $k")
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("token"))
      .limit(k)
  }

  /** Per-document keyword extraction: the `k` highest tf·idf terms of every
    * doc, idf = ln((N+1)/(df+1)) (add-one smoothed). The score is cast to
    * f32 BEFORE the i64 micro-unit quantization — the same trick as the BM25
    * `score_key` ([[graft.fts.Search.scoreKey]]): engines' double `ln` can
    * disagree in the last ulp, and the f32 round-trip absorbs it, making the
    * key engine-exact. Term counts shuffle once on (doc, token); the df side
    * re-aggregates those counts (docs-per-term); the rank filter plans as
    * WindowGroupLimit (map-side top-k per doc, no full sort). */
  def tfidfKeywords(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"keyword top-k must be positive, got $k")
    val tc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tc.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(col("doc_id")).distinct().count()
    val score = col("tf") *
      log((lit(nDocs.toDouble) + 1.0) / (col("df").cast("double") + 1.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_key").desc, col("token"))
    tc.join(df, Seq("token"))
      .withColumn("score_key",
        (score.cast("float").cast("double") * 1e6).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("score_key"))
  }

  /** Corpus bigram language model: C(w1,w2), C(w1), and the conditional
    * P(w2|w1) as one exact-integer division — the n-gram-LM build step
    * (the unigram variant backs the tx9 surprisal filter). Pairs explode
    * from the bound token array in one pass (no self-join on positions);
    * the aggregation is a plain (w1,w2)-keyed shuffle with map-side
    * partials, so the build scales to any corpus. Returns the `topN`
    * bigrams by count (ties lexicographic) — TakeOrdered, no global sort. */
  /** Adjacent-token bigram structs per doc as one bound array (the
    * single-element-array lambda trick — see [[Dedup.shingles]]'s note on
    * HOF re-evaluation). Docs with < 2 tokens contribute nothing. */
  private def bigramPairs(text: org.apache.spark.sql.Column) =
    element_at(transform(array(tokens(text)), ts =>
      when(size(ts) >= 2,
        transform(sequence(lit(1), size(ts) - 1), i =>
          struct(element_at(ts, i).as("w1"), element_at(ts, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))), 1)

  def bigramLm(docs: DataFrame, topN: Int): DataFrame = {
    require(topN >= 1, s"bigram top-n must be positive, got $topN")
    val big = docs.select(explode(bigramPairs(col("text"))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val uni = big.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_w1"))
    big.join(uni, Seq("w1"))
      .select(col("w1"), col("w2"), col("n_pair"),
        col("n_w1").cast("long").as("n_w1"),
        (col("n_pair").cast("double") / col("n_w1").cast("double")).as("p_cond"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Proper winnowing (Schleimer/Wilkerson/Aiken): hash every k-char gram,
    * slide a w-hash window, keep each window's MINIMUM — the fingerprint
    * set that guarantees any match of length ≥ k+w−1 shares a fingerprint.
    * [[fingerprints]] is the degenerate window=whole-doc variant; this one
    * emits the real per-document set as (doc_id, fp) rows for the
    * cross-document fingerprint join. Docs shorter than one full window
    * keep their single all-hash minimum.
    *
    * ZERO shuffles: the hash array binds once per row (the `array(...)`
    * lambda trick — HOFs are CodegenFallback and would otherwise
    * re-evaluate the whole md5 array per window), window minima and the
    * per-doc dedup run as array ops inside the row, and only the final
    * small fingerprint set explodes. The first formulation (posexplode →
    * per-doc window → distinct) dragged every position through two keyed
    * shuffles and was the slowest gate in the suite (5.5 s → ~0.3 s). */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame =
    // fingerprints are the top 60 md5 bits (the repo-wide md5-derived-family
    // convention); hashing + full-window sliding minima + dedup run in one
    // native kernel pass per row (see [[graft.functions.WinnowFps]] — the
    // HOF chain this replaces was the slowest gate in the suite)
    docs.filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps(col("text"), k, w)).as("fp"))

  /** BPE merge learning — the tokenizer-training step of a corpus pipeline:
    * starting from single characters, learn the `nMerges` highest-frequency
    * adjacent symbol pairs (greedy, ties broken lexicographically), merging
    * each winner into the working vocabulary before counting the next.
    * Returns the merge table (rank, left, right, merged, pair_count).
    *
    * Split of labor (the same one SentencePiece / HF `tokenizers` use):
    * the CORPUS-scale step — word frequency counting — is one distributed
    * explode+groupBy, the only pass that ever touches the documents. Merge
    * learning then runs driver-local over the VOCAB-sized (word, freq)
    * table with incrementally maintained pair counts and a lazily
    * invalidated max-heap: each merge touches only the words containing
    * the winning pair (a reverse index, exactly HF's `word_to_pairs`), so
    * learning 32k merges is O(total updates), not
    * O(nMerges × vocab) Spark jobs — the round-4 scale finding. Greedy
    * BPE is inherently sequential (a merge re-weights candidate pairs, and
    * batching even symbol-disjoint winners diverges: merging (a,b) can
    * induce (x,ab) with a count above the next batch member's), so exact
    * training cannot fan out across rounds; what scales is keeping the
    * sequential part off the cluster entirely.
    *
    * `minFreq` drops words rarer than the floor before collecting (HF's
    * `min_frequency`), bounding driver memory at open-web scale;
    * `maxVocab` is the hard guard on the collected row count.
    *
    * Greedy semantics are pinned by the oracle's encoding: symbol
    * sequences as DOUBLE-SPACE-joined strings, a merge replacing
    * `" A  B "` left-to-right non-overlapping — the in-memory list merge
    * below is position-for-position identical (adjacent repeats merge
    * left-to-right, a fresh merged symbol never re-pairs within its own
    * round), ties broken by (l, r) byte order. */
  // left-to-right non-overlapping merge of (l, r); null when the pair is
  // absent — shared by training ([[bpeMerges]]) and encoding ([[bpeEncode]])
  // so the two sides cannot drift
  private def mergeWord(s: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    var changed = false
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
        out += l + r; i += 2; changed = true
      } else { out += s(i); i += 1 }
    }
    if (changed) out.result() else null
  }

  def bpeMerges(docs: DataFrame, nMerges: Int, minFreq: Long = 1L,
      maxVocab: Int = 4 << 20): DataFrame = {
    require(nMerges >= 1, s"need at least one merge, got $nMerges")
    val spark = docs.sparkSession
    import org.apache.spark.sql.Row
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .select(col("w"), col("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(words.length <= maxVocab,
      s"vocab ${words.length} exceeds maxVocab $maxVocab — raise minFreq " +
        "(frequency-floored training is the standard bound at corpus scale)")

    val syms: Array[Array[String]] = words.map(_._1.split("").filter(_.nonEmpty))
    val freqs: Array[Long] = words.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val wordsOf = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    // max-heap by (cnt, then smallest l, smallest r); stale snapshots are
    // skipped at pop time by re-checking the live count
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c
          else {
            val cl = b._2.compareTo(a._2)
            if (cl != 0) cl else b._3.compareTo(a._3)
          }
        }
      })
    def bump(p: (String, String), delta: Long, wi: Int): Unit = {
      val next = counts.getOrElse(p, 0L) + delta
      if (next <= 0L) { counts.remove(p); () }
      else {
        counts(p) = next
        heap.enqueue((next, p._1, p._2))
      }
      if (delta > 0) { wordsOf.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += wi; () }
    }
    for (wi <- syms.indices; i <- 0 until syms(wi).length - 1)
      bump((syms(wi)(i), syms(wi)(i + 1)), freqs(wi), wi)

    val merges = Seq.newBuilder[Row]
    var rank = 1
    while (rank <= nMerges && heap.nonEmpty) {
      val (cnt, l, r) = heap.dequeue()
      if (counts.get((l, r)).contains(cnt)) { // live, not a stale snapshot
        merges += Row(rank.toLong, l, r, l + r, cnt)
        for (wi <- wordsOf.getOrElse((l, r), scala.collection.mutable.HashSet.empty[Int]).toArray) {
          val merged = mergeWord(syms(wi), l, r)
          if (merged != null) { // the index keeps stale members lazily
            for (i <- 0 until syms(wi).length - 1)
              bump((syms(wi)(i), syms(wi)(i + 1)), -freqs(wi), wi)
            syms(wi) = merged
            for (i <- 0 until merged.length - 1)
              bump((merged(i), merged(i + 1)), freqs(wi), wi)
          }
        }
        counts.remove((l, r))
        wordsOf.remove((l, r))
        rank += 1
      }
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.result(), 1),
      StructType(Seq(StructField("rank", LongType, nullable = false),
        StructField("lhs", StringType), StructField("rhs", StringType),
        StructField("merged", StringType),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** Apply a learned [[bpeMerges]] table: tokenize every document under the
    * trained vocabulary — the other half of the tokenizer story (training
    * is offline; ENCODING is the pass that runs over the full corpus on
    * every build). Per doc: the subword token count and the md5 of the
    * space-joined token stream (a content-strength check the oracle can
    * reproduce, without shipping the stream itself).
    *
    * Merges apply in rank order with the SAME left-to-right
    * non-overlapping word merge as training (shared `mergeWord` — the two
    * sides cannot drift). Scale shape: the merge table is vocab-sized and
    * broadcast; encoding is one narrow mapPartitions pass with a
    * per-partition word→tokens memo (Zipf makes the memo hit rate high),
    * no shuffle, no driver loop. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "empty merge table")
    val spark = docs.sparkSession
    import spark.implicits._
    val mergesB = spark.sparkContext.broadcast(merges.toArray)
    graft.Caches.track(mergesB)
    docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val ms = mergesB.value
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        def enc(w: String): Array[String] = memo.getOrElseUpdate(w, {
          var s = w.split("").filter(_.nonEmpty)
          var mi = 0
          while (mi < ms.length) {
            val m = mergeWord(s, ms(mi)._1, ms(mi)._2)
            if (m != null) s = m
            mi += 1
          }
          s
        })
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, ws) =>
          val stream = ws.iterator.flatMap(enc).mkString(" ")
          md.reset()
          val hex = md.digest(stream.getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          (docId, ws.iterator.map(w => enc(w).length.toLong).sum, hex)
        }
      }
      .toDF("doc_id", "n_tokens", "stream_md5")
  }

  /** RAG-style chunking: each doc's token stream is cut into windows of
    * `window` tokens every `stride` tokens (overlap = window − stride), the
    * unit retrieval pipelines embed and index. Emits one row per chunk with
    * its token span and an md5 content hash (the downstream dedup/embedding
    * key). Tail chunks shorter than the window are kept — dropping them
    * would lose corpus coverage; the `n_toks` column lets consumers filter.
    * Pure per-row explode over one scan: no shuffle, scales linearly. */
  def chunkWithOverlap(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("ts")) - 1, lit(stride)))
          .as("start_tok"), col("ts"))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        slice(col("ts"), col("start_tok") + 1, lit(window)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_toks"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
  }

  /** Unigram-LM piece vocabulary (the SentencePiece model table): every
    * substring of corpus words up to `maxPieceLen` chars, counted weighted
    * by word frequency; single-char pieces always survive (segmentation
    * coverage guarantee), longer pieces need `minCount`. Piece cost =
    * −ln(count/total) in f32-quantized micro-units (the tx14 score-key
    * discipline — trunc after an f32 round-trip, so Spark and DuckDB agree
    * bit-for-bit).
    *
    * Split of labor (the bpeMerges contract): the corpus-scale step is ONE
    * explode+groupBy word-frequency pass; everything downstream is
    * vocab-sized. */
  def unigramVocab(docs: DataFrame, maxPieceLen: Int,
      minCount: Long): DataFrame = {
    require(maxPieceLen >= 1, s"piece length must be positive, got $maxPieceLen")
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val pieces = words
      .select(explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> transform(sequence(i, least(i + ${maxPieceLen - 1}, length(w))),
           |    j -> substring(w, i, j - i + 1))))""".stripMargin)).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .filter(length(col("piece")) === 1 || col("cnt") >= minCount)
    pieces.crossJoin(broadcast(pieces.agg(sum("cnt").as("tot"))))
      .select(col("piece"), col("cnt"), expr(
        """CAST(CAST(CAST(ln(CAST(tot AS DOUBLE) / CAST(cnt AS DOUBLE))
          |  AS FLOAT) AS DOUBLE) * 1e6 AS BIGINT)""".stripMargin).as("cost_u"))
  }

  /** Unigram-LM Viterbi encoding: each distinct corpus word segments into
    * the min-cost piece sequence under [[unigramVocab]] — SentencePiece
    * inference as ONE Catalyst HOF fold, no UDF, no driver loop. The DP
    * state (cost, n_pieces) rides a single BIGINT (`cost_u·64 + n`, words
    * capped at `maxWordLen` < 64 pieces), so the lexicographic
    * (cost, pieces) minimum is a plain `array_min` and ties are broken
    * identically in both engines. Per word: best(0)=0,
    * best(j) = min over vocab pieces (i..j) of best(i−1) + cost64 —
    * `aggregate(sequence(1, L), …)` builds the table positionally.
    *
    * Candidate pieces join the broadcast vocab; single-char coverage means
    * the DP never strands. Output: (word, freq, cost_u, n_pieces). */
  def unigramEncode(docs: DataFrame, maxPieceLen: Int, minCount: Long,
      maxWordLen: Int): DataFrame = {
    require(maxWordLen >= 1 && maxWordLen < 64,
      s"word cap must be in [1, 63], got $maxWordLen")
    val vocab = unigramVocab(docs, maxPieceLen, minCount)
      .select(col("piece"), col("cost_u"))
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) <= maxWordLen)
    val cand = words
      .select(col("w"), col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  i -> transform(sequence(i, least(i + ${maxPieceLen - 1}, length(w))),
           |    j -> named_struct('i', i, 'j', j,
           |           'piece', substring(w, i, j - i + 1)))))""".stripMargin)).as("c"))
      .select(col("w"), col("freq"), col("c.i").as("i"), col("c.j").as("j"),
        col("c.piece").as("piece"))
      .join(broadcast(vocab), "piece")
      .select(col("w"), col("freq"), col("i"), col("j"),
        (col("cost_u") * 64 + 1).as("c64"))
    cand.groupBy("w", "freq")
      .agg(collect_list(struct(col("i"), col("j"), col("c64"))).as("ps"))
      .withColumn("best", expr(
        """aggregate(sequence(1, length(w)), array(CAST(0 AS BIGINT)),
          |  (acc, j) -> concat(acc, array(array_min(transform(
          |    filter(ps, p -> p.j = j), p -> element_at(acc, p.i) + p.c64)))),
          |  acc -> element_at(acc, -1))""".stripMargin))
      .select(col("w").as("word"), col("freq"),
        expr("best div 64").as("cost_u"), expr("best % 64").as("n_pieces"))
  }
}
