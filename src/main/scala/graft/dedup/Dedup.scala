package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication family for large-scale training-data pipelines:
  * exact (content-hash), n-gram Jaccard (exact set similarity), MinHash+LSH
  * (probabilistic candidate generation at scale), SimHash (hamming-distance
  * near-dup). All operators are pure DataFrame pipelines — shuffles only on
  * the natural keys (hash / shingle / band / bit-chunk), no driver loops.
  *
  * Scale notes (100 TB):
  *  - exact dedup shuffles once on a 128-bit content hash.
  *  - MinHash/LSH: signature build is one explode+groupBy per doc; candidate
  *    generation shuffles on (band_idx, band_hash) — pairs never materialize
  *    beyond colliding buckets. Increase bands/rows for recall/precision.
  *  - n-gram Jaccard joins on shared shingles — exact but quadratic in the
  *    worst case; use after LSH at scale (verify step), standalone for
  *    small/medium corpora.
  *  - SimHash: 60-bit fingerprints, candidates via the Manku block-triple
  *    scheme (any pair within hamming distance 3 leaves one of the C(6,3)
  *    block-triples untouched — its 30-bit key collides).
  */
object Dedup {

  // ---------------------------------------------------------------------
  // tokenization / shingling
  // ---------------------------------------------------------------------

  /** shared with FTS: the oracle pins this exact tokenization. */
  def tokens(text: Column): Column = graft.fts.Fts.tokensOf(text)

  /** word n-gram shingles as strings ("w1 w2 w3").
    *
    * The token array is bound ONCE through a single-element-array lambda:
    * higher-order functions are CodegenFallback, so codegen's subexpression
    * elimination never sees them — written naively, the five references to
    * `toks` below re-split and re-lower the document five times per
    * evaluation (the dominant cost of every shingling operator). */
  def shingles(text: Column, n: Int): Column =
    element_at(transform(array(tokens(text)), ts => {
      // guard: sequence(0, -1) would produce a DESCENDING sequence in Spark.
      // Docs shorter than n tokens contribute their whole text as a single
      // shingle so identical short docs still pair (empty text contributes
      // nothing).
      when(size(ts) >= n,
        array_distinct(transform(
          sequence(lit(1), size(ts) - (n - 1)),
          i => array_join(slice(ts, i, lit(n)), " "))))
        .otherwise(when(size(ts) > 0, array(array_join(ts, " ")))
          .otherwise(array().cast("array<string>")))
    }), 1)

  // ---------------------------------------------------------------------
  // exact dedup
  // ---------------------------------------------------------------------

  /** Groups of byte-identical documents by md5(text); emits groups with >1
    * member: (text_hash, n_copies, canonical_id, member_ids). */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("canonical_id"),
        array_join(array_sort(collect_list(col("doc_id").cast("string"))), ",").as("member_ids"))
      .filter(col("n_copies") > 1)

  /** Incremental exact dedup: which docs of an `incoming` batch already
    * exist (byte-identical text) in a `reference` corpus — the recurring
    * "new crawl vs existing corpus" membership check.
    *
    * The result is EXACT: a Bloom filter over the reference hashes runs as a
    * map-side prefilter on the incoming batch (dropping the ~all-novel
    * majority before any shuffle), and survivors are confirmed by a real
    * semi-join, so Bloom false positives never reach the output and false
    * negatives are impossible by construction. Incremental ingest thus
    * shuffles candidate rows only — at a 3% fpp, 100× fewer bytes than
    * joining the full batch.
    *
    * `expectedRefDocs` sizes the filter (`stat.bloomFilter` tree-aggregates
    * it to the driver: ~0.9 GB per 10^9 keys at 3% — past that, raise fpp
    * or shard the reference and union the per-shard results; the confirm
    * join keeps every variant exact). */
  def incrementalDuplicates(incoming: DataFrame, reference: DataFrame,
      expectedRefDocs: Long, fpp: Double = 0.03): DataFrame = {
    require(expectedRefDocs > 0 && fpp > 0 && fpp < 1,
      s"bad bloom sizing: n=$expectedRefDocs fpp=$fpp")
    val refHashes = reference.select(md5(col("text")).as("text_hash"))
    val bf = refHashes.stat.bloomFilter("text_hash", expectedRefDocs, fpp)
    val bfB = reference.sparkSession.sparkContext.broadcast(bf)
    // the returned frame is lazy, so the broadcast cannot be destroyed
    // here; the caller's release does (a ~GB bloom leaked per invocation
    // is driver OOM)
    graft.Caches.track(bfB)
    val mightContain = udf((h: String) => h != null && bfB.value.mightContain(h))
    incoming.withColumn("text_hash", md5(col("text")))
      .filter(mightContain(col("text_hash")))
      .join(refHashes.dropDuplicates("text_hash"), Seq("text_hash"), "left_semi")
      .select(col("doc_id"), col("text_hash"))
  }

  /** Cross-document repeated-passage detection — the paragraph-dedup step of
    * CCNet-style pipelines, at the granularity that works for corpora without
    * reliable paragraph boundaries: each doc's token stream is chunked into
    * fixed `w`-token passages (non-overlapping), and a passage appearing in
    * more than one distinct document is reported with its occurrence counts
    * and canonical (smallest) doc. Removing rows whose passage_hash lands
    * here is the boilerplate-stripping pass (licence headers, navigation
    * chrome, quoted reply chains).
    *
    * The final partial chunk is kept only when it has at least `minTail`
    * tokens: a 1–2-token tail (e.g. a trailing "the") is near-certain to
    * collide across unrelated documents, and a consumer stripping every
    * reported passage would delete legitimate content. `minTail = 1` keeps
    * every tail (full-coverage mode); the gated default is w/2.
    *
    * Scale: one explode + ONE shuffle on the 128-bit passage hash — the
    * same shape as exact dedup, linear in corpus token count. */
  def repeatedPassages(docs: DataFrame, w: Int, minTail: Int = 1): DataFrame = {
    require(w >= 1, s"passage window must be positive, got $w")
    require(minTail >= 1 && minTail <= w,
      s"minTail must be in [1, w], got $minTail (w = $w)")
    // sequence(1, size, step w) yields the chunk start positions; the filter
    // drops starts whose remaining run is shorter than minTail; slice clamps
    // the final chunk. The token array binds once through the
    // single-element-array lambda (HOFs are CodegenFallback — see shingles).
    val passages = element_at(transform(array(tokens(col("text"))), ts =>
      when(size(ts) > 0,
        transform(
          filter(sequence(lit(1), size(ts), lit(w)),
            i => size(ts) - i + 1 >= minTail),
          i => array_join(slice(ts, i, lit(w)), " ")))
        .otherwise(array().cast("array<string>"))), 1)
    docs.select(col("doc_id"), explode(passages).as("p"))
      .groupBy(md5(col("p")).as("passage_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_docs") > 1)
  }

  /** Boilerplate stripping — the CONSUMER of [[repeatedPassages]]: rebuilds
    * every document from the chunks that are NOT cross-document repeated
    * (licence headers, navigation chrome, quoted reply chains vanish; the
    * doc's own prose survives). Chunking is the same fixed `w`-token grid
    * with FULL coverage (minTail 1): a stripper must account for every
    * token, so the short-tail guard applies to the *detector's* report, not
    * to reconstruction — a tail chunk is only dropped here when it repeats
    * across `minDocs` distinct documents AND clears `minTail` (both rules
    * together prevent the trailing-stop-word deletion failure).
    *
    * Output: (doc_id, clean_hash, n_kept, n_dropped) — the hash stands in
    * for the rebuilt text so the gate compares fixed-width values. Docs
    * whose every chunk is boilerplate (or that have no tokens) rebuild as
    * the empty string.
    *
    * Scale: chunk explode (linear), one groupBy on the passage hash, one
    * anti-join back on that hash, one per-doc rebuild groupBy — all
    * key-partitioned, nothing driver-side. */
  def stripRepeatedPassages(docs: DataFrame, w: Int, minDocs: Int,
      minTail: Int = 1): DataFrame = {
    require(w >= 1 && minDocs >= 2, s"bad strip params: w=$w minDocs=$minDocs")
    val chunks = element_at(transform(array(tokens(col("text"))), ts =>
      when(size(ts) > 0,
        transform(sequence(lit(1), size(ts), lit(w)),
          i => array_join(slice(ts, i, lit(w)), " ")))
        .otherwise(array().cast("array<string>"))), 1)
    val chunked = docs.select(col("doc_id"), posexplode(chunks).as(Seq("idx", "p")))
    val boiler = repeatedPassages(docs, w, minTail)
      .filter(col("n_docs") >= minDocs).select(col("passage_hash"))
    val kept = chunked.join(boiler,
        md5(col("p")) === boiler("passage_hash"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("p")))),
          s => s.getField("p")), " ").as("clean_text"))
    // total chunk count per doc = ceil(n_tokens / w), 0 for empty docs;
    // floor of a double ratio of small ints is exact (≪ 2^53)
    val nChunks = element_at(transform(array(tokens(col("text"))),
      ts => floor((size(ts) + lit(w - 1)).cast("double") / lit(w)).cast("long")), 1)
    docs.select(col("doc_id"), nChunks.as("n_chunks"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_hash"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Sliding-window duplicated-SPAN removal — the suffix-array-style exact
    * substring dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), re-expressed as relational passes. Unlike the
    * fixed `w`-token grid of [[repeatedPassages]]/[[stripRepeatedPassages]]
    * (which misses any duplicate that straddles a chunk boundary), every
    * k-token window of every document is hashed, a window is *duplicated*
    * when its hash occurs more than once in the whole corpus (cross- OR
    * within-document — a doc looping its own sentence is cut too), and a
    * token position is *covered* when any duplicated window spans it, so
    * overlapping duplicated windows merge into maximal spans exactly as the
    * suffix-array formulation produces them.
    *
    * Output per doc: (doc_id, n_tokens, n_covered, n_spans, clean_hash) —
    * `n_spans` counts the maximal covered runs, `clean_hash` is the md5 of
    * the doc rebuilt from its UNcovered tokens (the dedup'd training text).
    * Docs shorter than k tokens have no windows and survive whole.
    *
    * Scale: the window explode is linear in corpus token count (one row per
    * token, same as shingling); duplicate detection is ONE shuffle on the
    * 128-bit window hash (uniform — no hot key can exceed its occurrence
    * count); the start-position collect and the coverage rebuild are one
    * doc_id-keyed shuffle each. No pair join anywhere: cost is O(tokens) +
    * O(dup windows), never O(docs²). Per-doc coverage is a HOF fold over
    * the doc's OWN duplicated starts — bounded by doc length, executed
    * inside the scan. */
  def duplicatedSpans(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"window length must be >= 2 tokens, got $k")
    // md5 of each k-token window, start positions 1-based; the token array
    // binds once through the single-element-array lambda (see shingles)
    val grams = element_at(transform(array(tokens(col("text"))), ts =>
      when(size(ts) >= k,
        transform(sequence(lit(1), size(ts) - (k - 1)),
          i => md5(array_join(slice(ts, i, lit(k)), " "))))
        .otherwise(array().cast("array<string>"))), 1)
    val starts = docs
      .select(col("doc_id"), posexplode(grams).as(Seq("idx", "h")))
      .select(col("doc_id"), (col("idx") + 1).as("i"), col("h"))
    val dup = starts.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1).select(col("h"))
    val dupStarts = starts.join(dup, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("i"))).as("dstarts"))
    // coverage fold: layer 1 binds (tokens, covered positions) ONCE so the
    // three consumers below (count, span count, rebuild) never re-run the
    // O(n·|dstarts|) interval test per reference
    val bound = element_at(transform(
      array(struct(tokens(col("text")).as("t"), col("dstarts").as("d"))), s => {
        val t = s.getField("t")
        val d = s.getField("d")
        val covered = when(size(t) > 0,
          filter(sequence(lit(1), size(t)),
            p => exists(d, st => st <= p && p < st + lit(k))))
          .otherwise(array().cast("array<int>"))
        struct(t.as("t"), covered.as("cov"))
      }), 1)
    val out = element_at(transform(array(bound), s => {
      val t = s.getField("t")
      val cov = s.getField("cov")
      struct(
        size(t).cast("long").as("n_tokens"),
        size(cov).cast("long").as("n_covered"),
        size(filter(cov, p => !array_contains(cov, p - 1)))
          .cast("long").as("n_spans"),
        md5(array_join(
          transform(
            when(size(t) > 0,
              filter(sequence(lit(1), size(t)),
                p => !array_contains(cov, p)))
              .otherwise(array().cast("array<int>")),
            p => element_at(t, p)), " ")).as("clean_hash"))
    }), 1)
    docs.join(dupStarts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("text"),
        coalesce(col("dstarts"), array().cast("array<int>")).as("dstarts"))
      .select(col("doc_id"), out.as("o"))
      .select(col("doc_id"),
        col("o.n_tokens").as("n_tokens"),
        col("o.n_covered").as("n_covered"),
        col("o.n_spans").as("n_spans"),
        col("o.clean_hash").as("clean_hash"))
  }

  // ---------------------------------------------------------------------
  // exact n-gram Jaccard (shingle join — the verify step of LSH at scale)
  // ---------------------------------------------------------------------

  /** All pairs with Jaccard(shingles_n) >= threshold:
    * (a, b, inter, union, jaccard), a < b. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // three consumers (sizes + both join sides) — cache the shingle stream
    // so the tokenize+shingle pass runs once, not three times
    val sh = docs.select(col("doc_id"), explode(shingles(col("text"), n)).as("sh"))
      .persist()
    graft.Caches.track(sh)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), Seq("b"))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("inter"), col("un"), col("jaccard"))
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------

  /** LSH candidate pairs from banded signatures, verified with exact
    * signature similarity >= simThreshold (fraction of equal components).
    * Signatures use the md5-derived Kirsch–Mitzenmacher family of
    * [[minhashMd5Signatures]] — every step is integer arithmetic both
    * engines reproduce bit-for-bit, so the whole operator carries a full
    * DuckDB oracle (the round-2 gap for this gate). */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4,
      simThreshold: Double = 0.8): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"bands ($bands) must divide the signature size ($k)") // rows=0 would cross-join everything
    val rows = k / bands
    // the signature build (shingling + one md5/shingle) is the dominant
    // cost and the band self-join would evaluate its lineage twice —
    // persist the tiny (doc_id, k longs) relation so it runs once
    val sigs = minhashMd5Signatures(docs, n, k)
      .select(col("doc_id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
      .persist()
    graft.Caches.track(sigs)
    // band key = joined component values (not a re-hash): keeps the bucket
    // relation identical across engines for the oracle
    val bandKeys = array((0 until bands).map(b =>
      concat_ws("|", (0 until rows).map(j => col("sig").getItem(b * rows + j)): _*)): _*)
    val banded = sigs.select(col("doc_id"), col("sig"), posexplode(bandKeys))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
    val l = banded.as("l")
    val r = banded.as("r")
    // the candidate dedup exchange carries only (a, b) — the signatures
    // re-attach from the persisted sigs relation afterwards, so sim is
    // computed ONCE per distinct pair and the dedup never ships the two
    // k-long arrays (r14, guide §2.3). The carried-sigs form (dedup on
    // (a, b) with both arrays in tow) and the sim-in-the-join-projection
    // form (zip_with per duplicate band collision) were both A/B'd —
    // see OPTIMIZATION_r14.md for the numbers.
    val cands = l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .dropDuplicates("a", "b")
    cands
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sig_a")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sig_b")), Seq("b"))
      .withColumn("sim",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k)
      .filter(col("sim") >= simThreshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** MinHash-LSH near-duplicate pairs BETWEEN two corpora — the fuzzy
    * cross-set primitive (train corpus probed against an eval benchmark,
    * new crawl against an existing index). Same banded md5-signature
    * scheme as [[minhashLshPairs]], but the band join is left × right
    * instead of a self-join, and the right side is broadcast by default:
    * an eval suite is KBs against a 100 TB train corpus, so the probe
    * side never shuffles — signature build is one narrow map pass and
    * the band match is a broadcast hash join, making the whole operator
    * scan-bound. Returns (a = left doc, b = right doc, sim = fraction of
    * equal signature components, >= simThreshold). */
  def minhashLshCrossPairs(left: DataFrame, right: DataFrame, n: Int = 3,
      k: Int = 16, bands: Int = 4, simThreshold: Double = 0.8,
      broadcastRight: Boolean = true): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"bands ($bands) must divide the signature size ($k)")
    val l = bandedSignatures(left, n, k, bands).as("l")
    val r0 = bandedSignatures(right, n, k, bands)
    val r = (if (broadcastRight) broadcast(r0) else r0).as("r")
    l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_hash") === col("r.band_hash"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .dropDuplicates("a", "b")
      .withColumn("sim",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          p => p)).cast("double") / k)
      .filter(col("sim") >= simThreshold)
      .select(col("a"), col("b"), col("sim"))
  }

  // ---------------------------------------------------------------------
  // maintained LSH band index (index-once-serve-many dedup)
  // ---------------------------------------------------------------------

  /** The banded MinHash signature relation `(doc_id, sig, band_idx,
    * band_hash)` — the ROW LAYOUT of the persistent LSH index. Same
    * md5-derived signature family and joined-component band keys as
    * [[minhashLshPairs]]; every step is a pure per-row function of the
    * text, which is what makes the index incrementally maintainable
    * (appending a batch's rows ≡ rebuilding over the union). */
  def bandedSignatures(docs: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"bands ($bands) must divide the signature size ($k)")
    val rows = k / bands
    val sigs = minhashMd5Signatures(docs, n, k)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
    val bandKeys = array((0 until bands).map(b =>
      concat_ws("|",
        (0 until rows).map(j => col("sig").getItem(b * rows + j)): _*)): _*)
    sigs.select(col("doc_id"), col("sig"), posexplode(bandKeys))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** Materialize the LSH band index for a corpus slice: clustered by
    * `(band_idx, band_hash)` so a probe's band keys prune row groups via
    * parquet min/max stats. At 100 TB this table is maintained by ingest
    * (the dedup analog of the postings/IVF/backlink indexes): the corpus
    * is signature-hashed ONCE, and every later dedup pass joins band keys
    * against the index instead of re-shingling petabytes of text. */
  def writeLshBandIndex(docs: DataFrame, path: String, n: Int = 3,
      k: Int = 16, bands: Int = 4): Unit =
    bandedSignatures(docs, n, k, bands)
      .repartition(col("band_idx"), col("band_hash"))
      .sortWithinPartitions("band_idx", "band_hash")
      .write.mode("overwrite").parquet(path)

  /** Fold an appended batch into the stored index. Signatures are pure
    * per-row functions, so appending the batch's banded rows makes the
    * maintained table EXACTLY a rebuild over the union (up to row order) —
    * the batch is hashed once and the base corpus is never rescanned. */
  def appendLshBandIndex(batch: DataFrame, path: String, n: Int = 3,
      k: Int = 16, bands: Int = 4): Unit =
    bandedSignatures(batch, n, k, bands)
      .write.mode("append").parquet(path)

  /** Near-duplicate pairs served FROM the stored index: self-join on the
    * band key (one shuffle of the narrow index relation — the text never
    * ships), verify candidates by exact signature agreement >= simThreshold.
    * Output ≡ [[minhashLshPairs]] over the indexed corpus — the dd15 gate
    * pins that equivalence through the incremental build. */
  def lshIndexPairs(index: DataFrame, k: Int = 16,
      simThreshold: Double = 0.8): DataFrame = {
    val l = index.as("l")
    val r = index.as("r")
    l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .dropDuplicates("a", "b")
      .withColumn("sim",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          p => p)).cast("double") / k)
      .filter(col("sim") >= simThreshold)
      .select(col("a"), col("b"), col("sim"))
  }

  // ---------------------------------------------------------------------
  // content-defined chunking (storage-level dedup)
  // ---------------------------------------------------------------------

  /** Gear-hash content-defined chunks per document (see
    * [[graft.functions.GearChunks]]): `(doc_id, chunk_idx, start, clen,
    * chunk_md5)` with 1-based code-point offsets. One narrow map pass —
    * the boundary kernel is a codegen'd native expression, chunk substrings
    * and hashes derive inside the row, and only chunk-sized rows explode.
    * This is the storage-dedup primitive (LBFS/FastCDC family): identical
    * passages chunk identically regardless of their byte offset, so
    * chunk-hash dedup survives insertions that shift the rest of the
    * document — the property the fixed-grid dd9 lacks. */
  def cdcChunks(docs: DataFrame, maskBits: Int): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        graft.functions.GearChunks(col("text"), maskBits).as("ends"))
      .filter(size(col("ends")) > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ends"))), j => {
          val start = when(j === 1, 1)
            .otherwise(element_at(col("ends"), j - 1) + 1)
          val e = element_at(col("ends"), j)
          struct(j.cast("long").as("chunk_idx"),
            start.cast("long").as("start"),
            (e - start + 1).cast("long").as("clen"),
            md5(substring(col("text"), start, e - start + 1)).as("chunk_md5"))
        })).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.start"),
        col("c.clen"), col("c.chunk_md5"))

  /** Corpus-level CDC dedup accounting over [[cdcChunks]]: logical vs
    * stored (distinct-chunk) sizes — the content-addressed-store report a
    * dedup storage layer runs. One chunk-hash shuffle. */
  def cdcDedupStats(docs: DataFrame, maskBits: Int): DataFrame = {
    val ch = cdcChunks(docs, maskBits)
    val logical = ch.agg(
      count(lit(1)).as("n_logical"),
      countDistinct(col("chunk_md5")).as("n_unique"),
      sum(col("clen")).as("logical_chars"))
    // clen is determined by the chunk content, so min() per hash is just
    // "the" length of that distinct chunk
    val stored = ch.groupBy(col("chunk_md5"))
      .agg(min(col("clen")).as("clen"))
      .agg(sum(col("clen")).as("stored_chars"))
    logical.crossJoin(stored)
      .select(col("n_logical"), col("n_unique"), col("logical_chars"),
        col("stored_chars"),
        expr("stored_chars * 10000 div logical_chars").as("stored_bp"))
  }

  /** Cross-engine-replicable MinHash: two 60-bit base hashes per shingle cut
    * from the two halves of ONE md5 (hex chars 1-15 and 17-31 → BIGINT —
    * DuckDB casts '0x…' literals, Spark uses conv(_,16,10)); component i =
    * min over shingles of `h1 XOR (h2 >> i)`. Right-shift-only derivation
    * keeps every value positive so Spark's shiftrightunsigned and DuckDB's
    * `>>` agree bit-for-bit — the whole LSH pipeline carries a DuckDB oracle
    * while hashing each shingle ONCE instead of k times (the md5 runs in the
    * inner transform, so it is structurally once-per-shingle regardless of
    * how many derived components read it).
    *
    * Derivation is higher-order-function arithmetic over the per-doc shingle
    * ARRAY — one md5 per shingle in a single narrow projection, then k
    * array scans of XOR/shift; no explode and no groupBy shuffle (the
    * exploded formulation shuffled the whole shingle stream). Docs with no
    * shingles carry no signature. Returns (doc_id, h0..h{k-1}). */
  def minhashMd5Signatures(docs: DataFrame, n: Int, k: Int): DataFrame = {
    // h2 is a 60-bit value: component i >= 60 would shift it to zero and
    // every such component would equal min(h1) — perfectly correlated
    // duplicates that silently inflate similarity estimates
    require(k >= 1 && k <= 60, s"signature size k must be in [1, 60], got $k")
    // the signature pass is persisted BEFORE the empty-doc filter: a filter
    // on the lazy column gets predicate-pushed below the projection and
    // re-evaluates the whole shingle+md5 tree a second time per row (the
    // plan-verified round-3 finding); the cache boundary stops the pushdown.
    // Hashing + component minima run in the native kernel
    // ([[graft.functions.MinhashSigs]] — same md5 derivation, one pass).
    val hashed = docs.select(col("doc_id"),
      graft.functions.MinhashSigs(shingles(col("text"), n), k).as("sigs"))
      .persist()
    graft.Caches.track(hashed)
    hashed
      .filter(size(col("sigs")) > 0)
      .select(col("doc_id") +:
        (0 until k).map(i => element_at(col("sigs"), i + 1).as(s"h$i")): _*)
  }

  /** The scale composition the docs promise: MinHash-LSH candidate
    * generation + EXACT n-gram-Jaccard verification, end to end. Candidates
    * come from banded md5-MinHash signatures (one shuffle on the band key);
    * verification joins each candidate pair to its two shingle SETS and
    * intersects arrays — per-pair O(|A|+|B|), no shingle self-join, so the
    * Σ df² blowup of the standalone exact operator never happens. Output
    * (a, b, inter, un, jaccard) ⊆ the exact operator's output. */
  def lshVerifiedJaccardPairs(docs: DataFrame, n: Int = 3, k: Int = 8,
      bands: Int = 4, threshold: Double = 0.6): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"bands ($bands) must divide the signature size ($k)")
    val r = k / bands
    // the corpus is shingled EXACTLY ONCE: the persisted array feeds both
    // the signature derivation (below) and the two verify joins. Signatures
    // come straight off the array with higher-order functions — one md5
    // per shingle (both 60-bit halves), then k cheap XOR/shift scans — no explode, no
    // groupBy shuffle, and none of the round-2 double-shingling cost.
    val shArr = docs.select(col("doc_id"), shingles(col("text"), n).as("shs"))
      .persist()
    graft.Caches.track(shArr)
    // shingle-less docs carry no signature (exactly the explode+groupBy
    // semantics) — otherwise every empty doc lands in one degenerate bucket.
    // Persisted: the band self-join below evaluates its input twice, and
    // without the cache each side re-runs the md5 pass over the shingles.
    // Hashing + component minima run in the native MinhashSigs kernel.
    val sigs = shArr.filter(size(col("shs")) > 0)
      .withColumn("sigs", graft.functions.MinhashSigs(col("shs"), k))
      .select(col("doc_id") +:
        (0 until k).map(i => element_at(col("sigs"), i + 1).as(s"h$i")): _*)
      .persist()
    graft.Caches.track(sigs)
    val bexp = sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        concat_ws("|", (0 until r).map(j => col(s"h${b * r + j}")): _*)): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
    val cand = bexp.as("l").join(bexp.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .dropDuplicates("a", "b")
    cand
      .join(shArr.select(col("doc_id").as("a"), col("shs").as("sha")), Seq("a"))
      .join(shArr.select(col("doc_id").as("b"), col("shs").as("shb")), Seq("b"))
      .withColumn("inter",
        graft.functions.IntersectCount(col("sha"), col("shb")))
      .withColumn("un", (size(col("sha")) + size(col("shb"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("inter"), col("un"), col("jaccard"))
  }

  /** LSH-candidate CONTAINMENT verify — the asymmetric near-dup test
    * (RefinedWeb-style): a truncated or excerpted copy has Jaccard ≈ |A|/|B|
    * (invisible to [[lshVerifiedJaccardPairs]] at any threshold above it)
    * but containment |A∩B|/min(|A|,|B|) ≈ 1. Same shingle-once + banded
    * candidate machinery; single-row bands (r = 1) because candidate
    * recall under banding is J^r per band and the interesting pairs sit at
    * LOW Jaccard — r = 1 with k bands gives 1−(1−J)^k recall (99.6% at
    * J = 0.5, k = 8). Verification is exact-integer: containment in basis
    * points from the intersect count and each side's shingle count. */
  def lshContainmentPairs(docs: DataFrame, n: Int = 3, k: Int = 8,
      tauBp: Long = 9000L): DataFrame = {
    val shArr = docs.select(col("doc_id"), shingles(col("text"), n).as("shs"))
      .persist()
    graft.Caches.track(shArr)
    val sigs = shArr.filter(size(col("shs")) > 0)
      .withColumn("sigs", graft.functions.MinhashSigs(col("shs"), k))
      .select(col("doc_id") +:
        (0 until k).map(i => element_at(col("sigs"), i + 1).as(s"h$i")): _*)
      .persist()
    graft.Caches.track(sigs)
    val bexp = sigs.select(col("doc_id"),
      posexplode(array((0 until k).map(i => col(s"h$i").cast("string")): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
    val cand = bexp.as("l").join(bexp.as("r"),
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .dropDuplicates("a", "b")
    cand
      .join(shArr.select(col("doc_id").as("a"), col("shs").as("sha")), Seq("a"))
      .join(shArr.select(col("doc_id").as("b"), col("shs").as("shb")), Seq("b"))
      .withColumn("inter",
        graft.functions.IntersectCount(col("sha"), col("shb")))
      .withColumn("cont_a_bp", expr("inter * 10000 div size(sha)"))
      .withColumn("cont_b_bp", expr("inter * 10000 div size(shb)"))
      .filter(greatest(col("cont_a_bp"), col("cont_b_bp")) >= tauBp)
      .select(col("a"), col("b"), col("inter"), col("cont_a_bp"), col("cont_b_bp"))
  }

  /** Transitive near-duplicate clustering: connected components over an
    * undirected similarity-pair set, by iterative min-label propagation
    * (label = smallest doc_id reachable). Each round is one shuffle join of
    * the cached edge list against the current labels plus a map-side min;
    * the round count is the cluster DIAMETER, which for dedup clusters
    * (LSH candidates verified into near-cliques) is small by construction —
    * the property that makes label propagation the right fixpoint here
    * where a general graph would want large-star/small-star. Returns
    * (doc_id, canonical_id) for every document in at least one pair; the
    * canonical is the cluster's smallest doc_id (the survivor a dedup
    * pipeline keeps). */
  /** Round cap for [[dedupComponents]]: label propagation converges in
    * diameter rounds, and a >256-hop transitive chain of near-dups is a
    * data bug, not a cluster shape. NEVER silently truncated — hitting the
    * cap throws, because a non-converged label set splits one cluster
    * across multiple canonicals and a dedup pipeline would quietly keep
    * duplicate survivors. */
  val ComponentMaxRounds = 256

  /** Edge sets at or below this row count run connected components as a
    * driver-local union–find instead of the distributed fixpoint — the
    * [[graft.sparql.PathCompiler.LocalClosureMaxEdges]] device: a
    * d-diameter cluster graph costs ~d·4 Spark jobs of pure scheduling
    * overhead distributed, versus milliseconds of union–find on ≤ a few
    * hundred MB of collected keys. Unlike the path closure the OUTPUT here
    * is bounded by the input (one row per node ≤ 2·edges), so the input cap
    * alone is safe. Larger sets (and non-long/string/int keys, and any null
    * endpoint) keep the distributed min-label loop. */
  val LocalComponentsMaxEdges = 2000000L

  /** Driver-local connected components of a symmetric edge list: union–find
    * with path halving, canonical = component minimum under the SAME
    * ordering Spark's `min()` uses (UTF8String binary order for strings —
    * not Java's UTF-16 order). Returns None when a key type or a null
    * endpoint needs the distributed fixpoint. */
  private def localComponents(edges: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val spark = edges.sparkSession
    val dt = edges.schema("x").dataType
    if (dt != LongType && dt != StringType && dt != IntegerType) return None
    val rows = edges.collect()
    val ids = new java.util.HashMap[Any, Integer]()
    val vals = new scala.collection.mutable.ArrayBuffer[Any]()
    val xs = new Array[Int](rows.length)
    val ys = new Array[Int](rows.length)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      def intern(v: Any): Int = {
        val got = ids.get(v)
        if (got != null) got.intValue()
        else { val id = vals.length; ids.put(v, id); vals += v; id }
      }
      xs(i) = intern(r.get(0))
      ys(i) = intern(r.get(1))
      i += 1
    }
    val n = vals.length
    val parent = Array.tabulate(n)(identity)
    def find(a0: Int): Int = {
      var a = a0
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    i = 0
    while (i < rows.length) {
      val ra = find(xs(i)); val rb = find(ys(i))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      i += 1
    }
    // component minimum under Spark's min() ordering (binary UTF-8 for strings)
    val lt: (Any, Any) => Boolean = dt match {
      case LongType => (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case IntegerType => (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
      case StringType => (a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(
            b.asInstanceOf[String])) < 0
    }
    val minOf = new Array[Any](n)
    i = 0
    while (i < n) {
      val r = find(i)
      if (minOf(r) == null || lt(vals(i), minOf(r))) minOf(r) = vals(i)
      i += 1
    }
    val out = new Array[org.apache.spark.sql.Row](n)
    i = 0
    while (i < n) {
      out(i) = org.apache.spark.sql.Row(vals(i), minOf(find(i)))
      i += 1
    }
    val schema = StructType(Seq(StructField("doc_id", dt, nullable = false),
      StructField("canonical_id", dt, nullable = false)))
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(out.toIndexedSeq), schema))
  }

  def dedupComponents(pairs: DataFrame): DataFrame = {
    // barrier the RAW pairs, not the symmetrized edge list: union–find is
    // direction-blind, so the driver-local fast path consumes (a, b)
    // directly — half the barriered bytes and no explode before the cache
    // (r13 optimization). The distributed fixpoint derives both directions
    // from the cached pairs per round — a narrow explode over InternalRows,
    // never a re-execution of the (expensive) pair lineage.
    val (pairBar, pairRdd) = graft.Caches.barrier(
      pairs.select(col("a").as("x"), col("b").as("y")))
    graft.Caches.track(pairRdd)
    // the count below materializes the barrier either way (the fixpoint's
    // round-1 join would otherwise do it); small graphs then skip the
    // whole distributed loop. The cap stays an EDGE count (2 edges/pair).
    if (2 * pairBar.count() <= LocalComponentsMaxEdges) {
      localComponents(pairBar) match {
        case Some(local) => return local
        case None => // unsupported shape — run the distributed fixpoint
      }
    }
    val edges = pairBar.select(explode(array(
        struct(col("x"), col("y")),
        struct(col("y").as("x"), col("x").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    var (labels, labelsRdd) = graft.Caches.barrier(
      edges.select(col("x").as("node")).distinct().withColumn("lbl", col("node")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < ComponentMaxRounds) {
      val nbr = edges.join(labels.withColumnRenamed("node", "y"), Seq("y"))
        .groupBy(col("x").as("node"))
        .agg(min(col("lbl")).as("nbr_min"))
      val (next, nextRdd) = graft.Caches.barrier(
        labels.join(nbr, Seq("node"), "left_outer")
          .select(col("node"),
            least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"),
            (coalesce(col("nbr_min"), col("lbl")) < col("lbl")).as("chg")))
      changed = next.filter(col("chg")).count()
      labelsRdd.unpersist(blocking = false) // superseded round
      labels = next.select(col("node"), col("lbl"))
      labelsRdd = nextRdd
      rounds += 1
    }
    require(changed == 0,
      s"component labels did not converge within $ComponentMaxRounds rounds " +
        "(a near-dup chain deeper than the cap) — refusing to emit split clusters")
    graft.Caches.track(labelsRdd)
    labels.select(col("node").as("doc_id"), col("lbl").as("canonical_id"))
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** SimHash bit width: 60 bits — the md5-prefix token hash is 60 bits
    * (15 hex chars) so every value stays positive and below 2^60, where
    * Spark and DuckDB shift/AND/XOR agree bit-for-bit (the full-oracle
    * requirement); 60 also splits evenly into the 6 blocks of 10 bits the
    * Manku block-combination candidate scheme keys on. */
  val SimhashBits = 60

  /** SimHash fingerprints: per-bit tf-weighted votes over md5-derived token
    * hashes. The 60 bit-votes aggregate as 60 SUM columns in ONE map-side
    * combinable pass — no per-bit row explosion, no second shuffle (the
    * naive posexplode formulation multiplies the token stream 60×).
    * Returns (doc_id, simhash). */
  def simhash(docs: DataFrame): DataFrame =
    // ZERO shuffles: tf counting, per-token hashing, and the bit votes all
    // run inside [[graft.functions.SimhashOf]] (one map-side pass) — the
    // explode+double-groupBy formulation this replaces shuffled the corpus
    // twice. Token-less docs are dropped BEFORE the projection on a cheap
    // text predicate ("has an alnum char" ⇔ "has a token"): filtering on
    // the kernel output would get predicate-pushed below the project and
    // evaluate the kernel twice per row (the round-3 double-eval trap).
    docs
      .filter(lower(col("text")).rlike("[a-z0-9]"))
      .select(col("doc_id"),
        graft.functions.SimhashOf(tokens(col("text")), SimhashBits).as("simhash"))

  /** Near-dup pairs within hamming distance <= maxDist (<= 3), candidates
    * via the block-combination scheme of Manku et al. (WWW'07, the
    * published web-scale simhash design): the 60-bit fingerprint splits
    * into 6 blocks of 10 bits; <= 3 flipped bits touch <= 3 blocks, so
    * every true pair shares all three blocks of at least one of the
    * C(6,3) = 20 block-triples. Each doc emits 20 (triple_idx, 30-bit key)
    * rows and candidates are key collisions — vs the naive 4x15-bit chunk
    * pigeonhole, spurious collisions drop by ~2^15 (n^2/2^30 per key
    * instead of n^2/2^15) for a 5x key fan-out, which is what keeps the
    * candidate join linear-ish to web scale. Candidates are then EXACTLY
    * verified (bit_count of the XOR), so the output is blocking-invariant
    * and the DuckDB oracle pins it unchanged. */
  /** The C(6,3)=20 block-triple candidate keys of a 60-bit fingerprint:
    * key `c` packs blocks c(0),c(1),c(2) (10 bits each) into 30 bits.
    * Exposed package-private so the completeness invariant — any <=3-bit
    * flip leaves at least one triple's key unchanged — is property-tested
    * directly (a blocking that silently lost recall would MISS pairs, which
    * the exact verify step cannot repair). */
  private[graft] def simhashTripleKeys(fp: Column): Seq[Column] = {
    val block = (i: Int) => shiftright(fp, i * 10).bitwiseAND(lit(0x3FFL))
    (0 until 6).combinations(3).toSeq.map { c =>
      shiftleft(block(c(0)), 20)
        .bitwiseOR(shiftleft(block(c(1)), 10))
        .bitwiseOR(block(c(2)))
    }
  }

  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"block scheme covers maxDist 1..3, got $maxDist")
    // the key self-join below evaluates its input twice; fingerprints are
    // one long per doc, so cache them rather than re-running the tf pass
    val fp = simhash(docs).persist()
    graft.Caches.track(fp)
    val keyed = fp.select(col("doc_id"), col("simhash"),
      posexplode(array(simhashTripleKeys(col("simhash")): _*)))
      .withColumnRenamed("pos", "triple_idx").withColumnRenamed("col", "key")
    val l = keyed.as("l")
    val r = keyed.as("r")
    l.join(r,
        col("l.triple_idx") === col("r.triple_idx") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("l.simhash").as("ha"), col("r.simhash").as("hb"))
      .dropDuplicates("a", "b")
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }

  // ---------------------------------------------------------------------
  // embedding cosine near-dup (int-quantized for cross-engine determinism)
  // ---------------------------------------------------------------------

  /** All pairs with cosine >= threshold over 1e3-quantized embeddings.
    * Exact arithmetic: integer dot products, one correctly-rounded sqrt —
    * bit-identical to the SQL formulation.
    *
    * Executed as a DISTRIBUTED blocked all-pairs join: vectors are hashed
    * into ~blockSize-vector blocks, every block pair (i <= j) becomes one
    * task holding exactly two blocks in memory, and a primitive-array
    * kernel scans the pair. No driver collect, no corpus broadcast —
    * memory per task is O(blockSize · dims), compute spreads over all
    * executors. Exact all-pairs is inherently Θ(n²) dot products; this
    * bounds memory and distributes the compute, but past ~1M vectors use
    * [[embeddingCosinePairsLsh]] (sign-band candidates + exact re-rank). */
  def embeddingCosinePairs(embeddings: DataFrame, threshold: Double,
      blockSize: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("v"))
    val nBlocks = math.max(1,
      math.ceil(q.count().toDouble / blockSize).toInt) // cheap metadata-ish count job
    val blocks = q
      .withColumn("bid", pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast("int"))
      .groupBy(col("bid"))
      .agg(collect_list(struct(col("vec_id").as("_1"), col("v").as("_2"))).as("vecs"))
    val bids = spark.range(nBlocks).select(col("id").cast("int"))
    val tasks = bids.toDF("bi").crossJoin(bids.toDF("bj"))
      .filter(col("bi") <= col("bj"))
      .join(blocks.select(col("bid").as("bi"), col("vecs").as("va")), Seq("bi"))
      .join(blocks.select(col("bid").as("bj"), col("vecs").as("vb")), Seq("bj"))
      .repartition(col("bi"), col("bj")) // one block pair per task slot
      .select(col("bi"), col("bj"), col("va"), col("vb"))
      .as[(Int, Int, Array[(Long, Array[Long])], Array[(Long, Array[Long])])]
    tasks.flatMap { case (bi, bj, rawA, rawB) =>
      val aa = rawA.sortBy(_._1)
      val bb = if (bi == bj) aa else rawB.sortBy(_._1)
      def norm2(v: Array[Long]): Long = {
        var s = 0L; var i = 0; while (i < v.length) { s += v(i) * v(i); i += 1 }; s
      }
      val n2a = aa.map(x => norm2(x._2))
      val n2b = if (bi == bj) n2a else bb.map(x => norm2(x._2))
      val out = Seq.newBuilder[(Long, Long, Long, Double)]
      var i = 0
      while (i < aa.length) {
        val (ida, va) = aa(i)
        var j = if (bi == bj) i + 1 else 0
        while (j < bb.length) {
          val (idb, vb) = bb(j)
          var dot = 0L
          var k = 0
          while (k < va.length) { dot += va(k) * vb(k); k += 1 }
          // Long product of norms overflows ~1024-dim unnormalized; go double
          val cosine = dot.toDouble / math.sqrt(n2a(i).toDouble * n2b(j).toDouble)
          if (cosine >= threshold)
            out += (if (ida < idb) (ida, idb, dot, cosine) else (idb, ida, dot, cosine))
          j += 1
        }
        i += 1
      }
      out.result()
    }.toDF("a", "b", "dot", "cosine")
  }

  /** Semantic (embedding-space) DECONTAMINATION — the cross-set twin of
    * [[semanticDupPairs]]: every (train, eval) pair whose cosine clears the
    * threshold, blocked by the SAME IVF-cell assignment, both sides scored
    * under the TRAIN side's codebook (the eval benchmark must not influence
    * cell geometry, and an identical leaked vector then lands in the same
    * cell by construction — full recall on verbatim leaks). Completes the
    * decontamination ladder: n-gram overlap (dc1) catches token-level
    * leaks, exact substring (dc2) verbatim spans, fuzzy MinHash (dc3)
    * paraphrase shingles — this catches the SEMANTIC leak (translated /
    * re-worded eval items) none of the lexical checks see.
    *
    * Scale: the eval side is benchmark-sized by definition, so its
    * assigned vectors BROADCAST — the 100 TB train corpus is scored in one
    * shuffle-free scan (assignment is map-side against the literal
    * codebook, the join is broadcast-hash on the cell key). Returns
    * (vec_id, eval_vec_id, cosine), cosine >= threshold, zero-norm vectors
    * excluded. */
  def semanticCrossPairs(train: DataFrame, eval: DataFrame,
      threshold: Double, nCells: Int = 0): DataFrame = {
    // adaptive on the TRAIN side (see semanticDupPairs): more cells →
    // fewer train rows per broadcast-joined eval cell
    val effCells =
      if (nCells > 0) nCells
      else graft.similarity.Ann.adaptiveCells(math.max(1L, train.count()))
    val cents = graft.similarity.Ann.codebook(train, effCells)
    val t = graft.similarity.Ann.ivfAssignments(train, cents)
      .filter(col("n2") > 0)
      .select(col("vec_id"), col("v"), col("n2"), col("cell"))
    val e = graft.similarity.Ann.ivfAssignments(eval, cents)
      .filter(col("n2") > 0)
      .select(col("vec_id").as("eval_vec_id"), col("v").as("ev"),
        col("n2").as("en2"), col("cell"))
    t.join(broadcast(e), Seq("cell"))
      .withColumn("dot", graft.functions.DotI64(col("v"), col("ev")))
      .withColumn("cosine", col("dot").cast("double") /
        sqrt(col("n2").cast("double") * col("en2").cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id"), col("eval_vec_id"), col("cosine"))
  }

  /** Cluster-bucketed semantic near-dup — the SemDeDup recipe: vectors are
    * assigned to their nearest codebook cell (the same map-side IVF
    * assignment the ANN family uses, reference: Abbas et al., "SemDeDup",
    * 2023) and only WITHIN-CELL pairs are scored exactly. Third blocking
    * strategy beside exact blocked all-pairs ([[embeddingCosinePairs]],
    * Θ(n²) by contract) and sign-band LSH ([[embeddingCosinePairsLsh]],
    * probabilistic recall): cell blocking is DATA-ADAPTIVE — clusters
    * concentrate the near-dups — and its candidate count scales with
    * Σ cell² under one shuffle on the cell key. Identical vectors always
    * share a cell (same assignment), so exact duplicates have full recall;
    * a near-dup pair split across a cell boundary is missed BY DESIGN (the
    * paper's stated trade — raise nCells for selectivity, not recall).
    * Returns (a, b, cosine), a < b, cosine >= threshold, zero-norm vectors
    * excluded. */
  def semanticDupPairs(embeddings: DataFrame, threshold: Double,
      nCells: Int = 0): DataFrame = {
    // nCells = 0 (production default) → √n-adaptive codebook: with cells
    // fixed the candidate volume Σ cell² grows quadratically (the dd12
    // gate's pinned-16 oracle measured 193× on 100× data at sf10);
    // adaptive cells keep assignment (n·nCells) and candidates (n²/nCells)
    // balanced. Gates pin nCells=16 so the DuckDB oracle stays static.
    val effCells =
      if (nCells > 0) nCells
      else graft.similarity.Ann.adaptiveCells(math.max(1L, embeddings.count()))
    // the cell self-join evaluates its input twice — cache the assignment
    // pass (argmin over the whole codebook per vector) so it runs once
    val asg = graft.similarity.Ann.ivfAssignments(embeddings, effCells)
      .filter(col("n2") > 0)
      .select(col("vec_id"), col("v"), col("n2"), col("cell"))
      .persist()
    graft.Caches.track(asg)
    val l = asg.as("l")
    val r = asg.as("r")
    l.join(r, col("l.cell") === col("r.cell") &&
        col("l.vec_id") < col("r.vec_id"))
      .withColumn("dot", graft.functions.DotI64(col("l.v"), col("r.v")))
      .withColumn("cosine", col("dot").cast("double") /
        sqrt(col("l.n2").cast("double") * col("r.n2").cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"), col("cosine"))
  }

  /** Scale path for embedding near-dup: random-hyperplane sign-band LSH
    * candidates + EXACT integer re-rank. Output ⊆ the exact operator's
    * output; a pair is a candidate iff it collides in at least one of
    * `bands` bands of nBits/bands signature bits. Identical vectors always
    * collide (identical signatures); a pair at cosine c misses all bands
    * with probability ((1-(1-θ/π)^r))^bands, θ = arccos(c) — at c = 0.99,
    * r = 6, bands = 4 that is ≈ 3e-3 and falls exponentially with bands.
    * Band width is the selectivity lever: r = 4 made ~25% of ALL pairs
    * candidates on uniform vectors (2^4 buckets/band barely prunes); r = 6
    * cuts the candidate set ~4× for a fraction of a percent of recall at
    * the 0.99 operating point. One shuffle on (band, band_bits); candidates
    * never materialize beyond colliding buckets — this is the 100 TB path.
    *
    * FIXED band width does not survive corpus growth: with r bits there are
    * only 2^r buckets per band, so bucket occupancy — and candidate pairs,
    * which grow as occupancy² per bucket — scales linearly with n (the
    * round-5 sf1 probe measured the fixed r = 6 gate at 22× wall on 10×
    * data). Pass `nBits = 0` (the default) to size r from the corpus:
    * r = max(6, bitlen(n/64 − 1) + 1) — one bit finer than ⌈log2(n/64)⌉,
    * targeting ~32–64 vectors per bucket — at any
    * scale, keeping per-bucket pair generation bounded while recall at the
    * 0.99 operating point stays ≥ 1 − (1−0.955^r)^bands ≈ 99% up to r = 10
    * (raise `bands` together with r when operating below ~0.97 cosine).
    * Explicit nBits/bands remain for oracle-pinned callers. */
  def embeddingCosinePairsLsh(embeddings: DataFrame, threshold: Double,
      nBits: Int = 0, bands: Int = 4): DataFrame = {
    val effBits =
      if (nBits > 0) nBits
      else {
        val n = math.max(1L, embeddings.count()) // cheap metadata-ish job
        val r = math.max(6, 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, n / 64 - 1)) + 1) // ceil(log2(n/64)), floor 6
        math.min(r, 15) * bands // 2^15 buckets/band is plenty past 2M vecs
      }
    require(bands >= 1 && effBits % bands == 0,
      s"bands ($bands) must divide nBits ($effBits)")
    val r = effBits / bands
    val mask = (1L << r) - 1
    // the band self-join evaluates its input twice — cache the signature
    // pass (nBits hyperplane projections per vector) so it runs once
    val sigs = graft.similarity.Ann.lshSignatures(embeddings, effBits)
      .select(col("vec_id"), col("v"), col("n2"), col("sig"))
      .persist()
    graft.Caches.track(sigs)
    // the band join is skinny — (vec_id, band) keys only. Carrying the
    // vectors through the 4× posexplode and the bucket shuffle replicates
    // every embedding four times; instead candidates dedup first and the
    // two cached-sig joins attach vectors only to surviving pairs
    val banded = sigs.select(col("vec_id"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * r).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_bits")
    val l = banded.as("l")
    val rr = banded.as("r")
    l.join(rr,
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_bits") === col("r.band_bits") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"))
      .dropDuplicates("a", "b")
      .join(sigs.select(col("vec_id").as("a"), col("v").as("va"), col("n2").as("n2a")), Seq("a"))
      .join(sigs.select(col("vec_id").as("b"), col("v").as("vb"), col("n2").as("n2b")), Seq("b"))
      .withColumn("dot", graft.functions.DotI64(col("va"), col("vb")))
      .withColumn("cosine",
        col("dot").cast("double") / sqrt(col("n2a").cast("double") * col("n2b").cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("dot"), col("cosine"))
  }

  /** Quality-aware canonical selection: within every near-dup cluster keep
    * the HIGHEST-quality member (smaller doc_id on ties — so an exact copy
    * never displaces its original), the retention policy production dedup
    * applies instead of keeping an arbitrary cluster member.
    *
    * `labels(doc_id, canonical_id)` (e.g. [[dedupComponents]]),
    * `quality(doc_id, logit_u)` (e.g. the qf2 frozen linear classifier).
    * Returns one row per MULTI-member cluster: (canonical_id, n_members,
    * kept_doc, kept_logit). Singletons pass through a dedup untouched, so
    * they carry no pick. One join + one per-cluster window, both
    * partitioned on the cluster key; window size = cluster size. */
  def canonicalPick(labels: DataFrame, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("canonical_id")
      .orderBy(col("logit_u").desc, col("doc_id").asc)
    labels.join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("canonical_id")))
      .filter(col("rk") === 1 && col("n_members") >= 2)
      .select(col("canonical_id"), col("n_members"),
        col("doc_id").as("kept_doc"), col("logit_u").as("kept_logit"))
  }
}
