package graft.pipeline

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Ann
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators for the driver gate: dedup family, ANN
  * similarity, text analysis, multimodal stats. Every dedup operator —
  * including the banded MinHash-LSH and SimHash gates — carries a full
  * DuckDB oracle (the md5-derived hash families are integer arithmetic both
  * engines reproduce bit-for-bit); only LSH-ANN stays rows-only
  * (recall-vs-brute-force invariants live in PipelineSpec).
  *
  * The dedup corpus plants duplicates deterministically: exact copies of
  * every 25th doc (+200000) and near-copies with a 4-word tail of every
  * 50th doc (+400000) — so dedup output is non-trivial and reproducible.
  */
object PipelineQueries {

  /** documents ∪ planted exact copies ∪ planted near-copies: the input of
    * every dedup gate. */
  def corpus(s: SparkSession, d: String): DataFrame = {
    // plain (un-fanned) scans: a fan-out pays one text exchange per union
    // arm (measured: dd14 +0.35 s), and a single fan-out above the union
    // ALSO measured worse (pl1 +0.18, dd14 +0.13 — the dedup pipelines
    // reshuffle by their own keys right after, so the extra text exchange
    // buys nothing). Rejected r13 experiment.
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(col("text"), lit(" extra tail words appended")).as("text")))
  }

  private val corpusCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id%25=0
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id, text || ' extra tail words appended' AS text
      |  FROM documents WHERE doc_id%50=0
      |)""".stripMargin

  // Shared operator parameters, interpolated into BOTH the Spark call and
  // its DuckDB oracle SQL from one definition — editing either side alone
  // cannot silently turn a passing gate into a red-herring mismatch.
  private val Dd15Mod    = 10      // maintained-LSH-index batch slice: doc_id % Mod == Rem
  private val Dd15Rem    = 3
  private val CdcBits    = 6       // CDC boundary mask bits: avg chunk 64 chars

  /** The dd15 maintained LSH band index: built once per (session, dir) —
    * stable slice indexed, held-out batch folded in by append. Shared with
    * PipelineSpec so the equivalence tests probe the SAME stored table. */
  private[graft] def dd15Index(s: SparkSession, d: String): DataFrame =
    graft.Store.materialized(s, d, "lsh_band_index") { p =>
      val c = corpus(s, d)
      val isBatch = col("doc_id") % Dd15Mod === Dd15Rem
      Dedup.writeLshBandIndex(c.filter(!isBatch), p)
      Dedup.appendLshBandIndex(c.filter(isBatch), p)
    }
  private val Dd9W       = 8       // passage window (tokens)
  private val Dd9MinTail = Dd9W / 2 // min final-chunk tokens kept
  private val Dd13K      = 6       // duplicated-span sliding window (tokens)
  private val Dc1N       = 5       // contamination n-gram size
  private val Dc2Snippet = 40      // exact-substring probe length (chars)
  private val Dc3Sim     = 0.8     // fuzzy-contamination similarity floor
  private val SplitSalt  = "graft" // deterministic-split hash salt
  private val SplitValPm  = 100    // val permille of the hash space
  private val SplitTestPm = 50     // test permille
  private val Tx6Budget  = 512     // packing token budget
  private val Tx8Cap     = 20      // per-source doc cap
  private val Ann4K      = 5       // knn-join neighbors per query
  private val Ann4Every  = 50      // knn-join query stride (every Nth vec)
  private val Dd10Every    = 7      // incoming-batch stride: %N==0 dup, %N==3 novel
  private val Dd10IdOffset = 600000 // incoming-batch doc_id offset
  private val Dd10Suffix   = " wholly novel suffix" // marks the novel docs
  private val Ds1Rates   = Seq("src0" -> 1000, "src1" -> 100, "src7" -> 900)
  private val Ds1Default = 500     // permille for strata without a rate
  private val Ds3Shards  = 8       // training shard count
  // target mixture weights (sources not listed are dropped from the mix)
  private val Ds2Weights = Seq("src0" -> 6, "src11" -> 3, "src19" -> 1,
    "src3" -> 2, "src4" -> 2, "src7" -> 1)
  private val PiiMod     = 10      // %N==0 plants an email, %N==5 an IPv4
  private val Pl1MinQuality = 0.4  // end-to-end pipeline quality floor
  private val Gr1Fanout  = 3       // derived link-graph out-degree
  private val Gr1Damping = 0.85    // PageRank damping factor
  private val Gr1Iters   = 3       // PageRank iterations
  private val Gr3SeedMod = 97      // BFS seeds: doc_id % mod == 0
  private val Gr3Depth   = 3       // BFS hop budget
  private val Gr4Rounds  = 3       // Bellman-Ford relax rounds
  private val Ann12MaxId = 500L    // fixed recall probe-id ceiling
  private val Ann9Query  = 13      // materialized-IVF-index probe vector id
  private val Ann10Mod   = 5       // incremental-index batch slice modulus
  private val Ann10Rem   = 2       // ... and remainder
  private val Ann10Query = 22L     // probe id INSIDE the appended batch
  private val Qf1SeedMod = 37      // every Nth vector seeds the domain centroid
  // qf2 linear quality model: integer micro-unit weights (a trained
  // fastText-style model's coefficients, frozen as constants)
  private val Qf2Bias  = -600000L
  private val Qf2WStop = 30000L    // per corpus-stopword hit
  private val Qf2WTok  = 9000L     // per token
  private val Qf2WChar = 100L      // per char
  private val Qf2WMwl  = -50L      // per mean-word-length micro-unit
  // qf3 DSIR (Xie et al. 2023, "Data Selection for Language Models via
  // Importance Resampling"): hashed-token importance weights. Linear-pooled
  // (mean per-token weight) instead of log-likelihood-ratio pooling so every
  // intermediate stays exact-integer — `ln` is not correctly-rounded across
  // libm implementations (the Sketches discipline).
  private val Qf3B    = 4096       // hashed feature buckets
  private val Qf3Lang = "en"       // target-distribution slice
  private val Qf3K    = 50         // resample size
  // tx22 unigram-LM tokenizer (SentencePiece inference): substring-count
  // piece vocab, Viterbi min-cost segmentation as one Catalyst HOF fold.
  private val Tx22PieceLen   = 4   // max piece length (chars)
  private val Tx22MinCnt     = 5L  // multi-char piece count floor
  private val Tx22MaxWordLen = 12  // encoded-word cap (DP depth; corpus max is 8)

  // rrf1 hybrid retrieval: lexical tf·idf ranking ⊕ vector dot ranking,
  // fused by reciprocal-rank fusion (Cormack et al. 2009) in exact integer
  // micro-units. Doc→vector alignment doc_id % n_vecs (the gr1 derived-
  // relation precedent — at production scale the embedding table carries
  // doc_id itself and the join is direct).
  private val Rrf1Toks  = Seq("customer", "filter", "merge") // the query
  private val Rrf1QVec  = 5L       // query embedding id
  private val Rrf1C     = 60       // RRF rank constant
  private val Rrf1Depth = 100      // per-ranking candidate depth
  private val Rrf1Out   = 20       // fused result size
  private val Ann6M      = 4       // PQ subspaces
  private val Ann6Codes  = 16      // PQ centroids per subspace
  private val Ann6Query  = 7       // ADC query vector id
  private val Ann6TopK   = 10      // ADC result size
  private val Ann11Query = 29      // materialized-PQ-index probe vector id
  private val Mm7Frame   = 4       // audio fingerprint frame (samples)
  private val Mm8K       = 5       // video frame-sample fan-out per clip
  private val RlEvery    = 19      // every 19th part gets a corrupted twin
  private val RlMaxDist  = 2       // linkage edit-distance ceiling
  private val RlBlock    = 3       // blocking-key length (prefix + suffix)
  // cs1 snapshot-version slices: docs %11==3 exist only in NEW (added),
  // %17==2 only in OLD (removed), %13==5 have OLD text truncated (changed)
  private val CsAdd = (11, 3); private val CsRm = (17, 2)
  private val CsChg = (13, 5)

  /** dd16: signature budget R = r·b and the (rows, bands) candidates. */
  private val LshBudget = 64
  private val LshRGrid  = Seq(1, 2, 4, 8, 16, 32)

  /** Score → CCNet tercile map (shared by qf4 and pl3): cumsum over the
    * SCORE histogram (distinct scores, not docs — the rp1 formula; ties
    * share a bucket deterministically). */
  private def ccnetBucketMap(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy("mean_surprisal_key").agg(count(lit(1)).as("cnt"))
    val tot = scored.agg(count(lit(1)).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("mean_surprisal_key")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    hist.crossJoin(broadcast(tot))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("bucket", expr("((cum - cnt) * 3) div n_total"))
      .select("mean_surprisal_key", "bucket")
  }

  /** DuckDB twin of [[ccnetBucketMap]]: CTE bodies h/nt/bk over a scored
    * CTE exposing column `mk`. */
  private def ccnetBucketSql(scoredCte: String): String =
    s"""h AS (SELECT mk, COUNT(*) AS cnt FROM $scoredCte GROUP BY 1),
       |nt AS (SELECT COUNT(*) AS n_total FROM $scoredCte),
       |bk AS (SELECT mk, CAST(((cum - cnt) * 3) // n_total AS BIGINT) AS bucket
       |       FROM (SELECT mk, cnt, CAST(SUM(cnt) OVER (ORDER BY mk
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |             FROM h) c, nt)""".stripMargin

  /** x^e as an explicit square-and-multiply chain — multiplication is
    * correctly-rounded IEEE in both engines, `pow()` is libm and is NOT;
    * the chain text is identical Spark/DuckDB SQL. */
  private def powChain(base: String, e: Int): String =
    if (e == 1) base
    else {
      val h = powChain(base, e / 2)
      val sq = s"($h * $h)"
      if (e % 2 == 1) s"($sq * $base)" else sq
    }
  private val Tx13K      = 30      // vocab heavy-hitter count
  private val Tx16TopN   = 50      // bigram-LM report size
  private val Tx18Merges = 256     // BPE merges learned (vocab-scale training, round-5)
  // corpus-adapted "stop word" list: the documents table is synthetic
  // engine-vocabulary prose, so the Gopher rule's stopword floor uses its
  // own function words — an English list would vacuously drop every doc
  private val Tx20Stop = Seq("the", "a", "query", "row", "join", "data", "scan", "key")
  private val Tx20MinWords = 10L   // Gopher word-count floor (corpus-scaled)
  private val Tx20MaxWords = 100000L
  private val Tx21TopN = 2         // "top n-gram" char-fraction gram size
  private val Tx21DupN = 5         // "duplicated n-gram" coverage gram size
  private val Tx17K      = 16      // winnowing gram length (chars)
  private val Tx17W      = 8       // winnowing window (hashes)
  private val Tx14K      = 3       // tf-idf keywords per doc
  private val Tx15Window = 64      // RAG chunk window (tokens)
  private val Tx15Stride = 48      // RAG chunk stride (tokens)

  /** documents with deterministic planted PII — email on every PiiMod-th
    * doc, an IPv4 on the PiiMod/2-offset docs — so the scrub gate has
    * non-trivial hits. The oracle CTE replicates the planting verbatim. */
  private def piiCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("text",
        when(col("doc_id") % PiiMod === 0,
          concat(col("text"), lit(" contact p"), col("doc_id").cast("string"),
            lit("@mail.example.org for details")))
        .when(col("doc_id") % PiiMod === 5,
          concat(col("text"), lit(" origin host 10.1."),
            (col("doc_id") % 200).cast("string"), lit(".77 logged")))
        .otherwise(col("text")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd1_exact_dup" -> { (s, d) =>
      Dedup.exactDuplicates(corpus(s, d)).orderBy(col("text_hash"))
    },

    "dd2_minhash_lsh" -> { (s, d) =>
      Dedup.minhashLshPairs(corpus(s, d)).orderBy(col("a"), col("b"))
    },

    // maintained LSH band index — the dedup rung of the maintained-index
    // family (ev15 postings / ev16 backlinks / ann10 IVF / hll3 registers):
    // the stable 9/10 of the corpus is signature-indexed once, the held-out
    // batch folds in by appending its banded rows (signatures are pure
    // per-row functions, so the maintained table ≡ a rebuild), and the pair
    // probe self-joins the NARROW stored index on its band key — the corpus
    // text is hashed once per doc, never rescanned. Oracle = the full-corpus
    // formulation, pinning incremental ≡ batch.
    "dd15_lsh_maintained" -> { (s, d) =>
      Dedup.lshIndexPairs(dd15Index(s, d)).orderBy(col("a"), col("b"))
    },

    // gear-hash content-defined chunking: every doc's chunk table (offsets
    // + content hashes) from one codegen'd native-kernel pass — the
    // content-addressed storage-dedup primitive, edit-shift robust where
    // dd9's fixed grid is not
    "cdc1_chunks" -> { (s, d) =>
      Dedup.cdcChunks(corpus(s, d), CdcBits)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // corpus-level CDC store accounting: logical vs distinct-chunk chars —
    // the dedup ratio a content-addressed blob store achieves on this
    // corpus (planted exact + near copies dedup to shared chunks)
    "cdc2_dedup_stats" -> { (s, d) =>
      Dedup.cdcDedupStats(corpus(s, d), CdcBits)
    },

    // transitive clustering of the LSH pair set: every doc in a pair gets
    // its cluster's smallest doc_id as the canonical survivor
    "dd8_dedup_components" -> { (s, d) =>
      Dedup.dedupComponents(Dedup.minhashLshPairs(corpus(s, d)))
        .orderBy(col("doc_id"))
    },

    // canonical pick: within every near-dup cluster (dd8's components over
    // the LSH pair graph) keep the HIGHEST-QUALITY member by qf2's frozen
    // integer logit (doc_id tie-break) — the "dedup keeps the best copy,
    // not a random one" retention policy production pipelines apply
    "dd17_canonical_pick" -> { (s, d) =>
      val c = corpus(s, d)
      val labels = Dedup.dedupComponents(Dedup.minhashLshPairs(c))
      val toks = TextAnalysis.tokens(col("text"))
      val q = c.select(col("doc_id"),
        size(toks).as("n_tok"),
        size(filter(toks, t => t.isin(Tx20Stop: _*))).as("n_stop"),
        length(col("text")).as("n_chars"))
        .withColumn("mwl_u", expr("(n_chars * 1000) div greatest(n_tok, 1)"))
        .withColumn("logit_u", expr(
          s"$Qf2Bias + $Qf2WStop * n_stop + $Qf2WTok * n_tok + " +
            s"$Qf2WChar * n_chars + $Qf2WMwl * mwl_u"))
        .select(col("doc_id"), col("logit_u"))
      Dedup.canonicalPick(labels, q).orderBy("canonical_id")
    },

    "dd3_ngram_jaccard" -> { (s, d) =>
      // capped corpus: the exact shingle self-join is the LSH verify step,
      // not a standalone full-corpus operator (Σ df² blowup) — gate it on a
      // deterministic 1/5 slice; dd6 gates the full-scale composition.
      Dedup.ngramJaccardPairs(corpus(s, d).filter(col("doc_id") % 5 === 0),
          n = 3, threshold = 0.6)
        .orderBy(col("a"), col("b"))
    },

    "dd6_lsh_verified" -> { (s, d) =>
      Dedup.lshVerifiedJaccardPairs(corpus(s, d), n = 3, k = 8, bands = 4,
          threshold = 0.6)
        .orderBy(col("a"), col("b"))
    },

    // asymmetric containment dedup: half-truncated plants sit at Jaccard
    // ≈ 0.5 (invisible to dd6's 0.6 floor) but containment ≈ 1 — the
    // excerpt/truncation case a symmetric threshold misses
    "dd14_containment" -> { (s, d) =>
      val planted = corpus(s, d).unionByName(
        Tables.documents(s, d).filter(col("doc_id") % 25 === 3)
          .select((col("doc_id") + 700000).as("doc_id"),
            expr("substring(text, 1, length(text) div 2)").as("text")))
      Dedup.lshContainmentPairs(planted, n = 3, k = 8, tauBp = 9000L)
        .orderBy(col("a"), col("b"))
    },

    "dd7_embed_cosine_lsh" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.embeddingCosinePairsLsh(planted, threshold = 0.99, nBits = 24) // oracle-pinned bands
        .select(col("a"), col("b"), col("dot"))
        .orderBy(col("a"), col("b"))
    },

    // the occupancy-adaptive twin of dd7 (nBits = 0 sizes the band width
    // from the corpus: ~32-64 vectors/bucket at any scale, so candidate
    // generation stays bounded where dd7's PINNED r = 6 bands go
    // superlinear past ~100k vectors — the round-10 verdict's one weak
    // gate without a gated scale twin). Same exact-pair oracle: every
    // qualifying pair in this fixture is an identical-vector plant, and
    // identical vectors collide at any band width.
    "dd18_embed_lsh_adaptive" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.embeddingCosinePairsLsh(planted, threshold = 0.99) // adaptive bands
        .select(col("a"), col("b"), col("dot"))
        .orderBy(col("a"), col("b"))
    },

    "dd4_simhash" -> { (s, d) =>
      Dedup.simhashPairs(corpus(s, d), maxDist = 3).orderBy(col("a"), col("b"))
    },

    "dd5_embed_cosine" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.embeddingCosinePairs(planted, threshold = 0.99)
        .select(col("a"), col("b"), col("dot"))
        .orderBy(col("a"), col("b"))
    },

    // SemDeDup: cluster-bucketed semantic near-dup — IVF cell assignment
    // blocks the pair search, within-cell exact cosine; the data-adaptive
    // third blocking beside exact all-pairs (dd5) and sign-LSH (dd7)
    "dd12_semdedup" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.semanticDupPairs(planted, threshold = 0.99, nCells = 16)
        .orderBy(col("a"), col("b"))
    },

    // the adaptive-codebook twin of dd12 (nCells = 0 -> √n-sized, pow2-
    // clamped [16,1024] codebook of the lowest vec_ids): with cells FIXED
    // the within-cell pair volume grows quadratically (the dd12 pinned-16
    // probe measured 189 s at sf10); adaptive cells balance assignment
    // (n·cells) against candidates (n²/cells). The codebook rule and cell
    // count are deterministic functions of the corpus, so the DuckDB
    // oracle replays the identical algebra at any scale.
    "dd19_semdedup_adaptive" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // one fan-out above the union: the per-vector cell assignment (64-dim
      // dot products × cells) ran in the scan's 2 row-bearing tasks
      val planted = Tables.fanOut(s, s"$d/embeddings.parquet",
        e.unionByName(e.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))),
        "vec_id")
      Dedup.semanticDupPairs(planted, threshold = 0.99) // adaptive codebook
        .orderBy(col("a"), col("b"))
    },

    // cross-doc repeated-passage detection (paragraph-dedup analog over
    // fixed W-token chunks, sub-W/2 tails dropped) on the planted corpus
    "dd9_passage_dedup" -> { (s, d) =>
      Dedup.repeatedPassages(corpus(s, d), w = Dd9W, minTail = Dd9MinTail)
        .orderBy(col("passage_hash"))
    },

    // train/test decontamination: train docs sharing an n-gram with the test
    // split (the planted near/exact copies leak across the split boundary)
    "dc1_decontaminate" -> { (s, d) =>
      TextAnalysis.contaminationReport(corpus(s, d), n = Dc1N, salt = SplitSalt,
          valPermille = SplitValPm, testPermille = SplitTestPm)
        .orderBy(col("doc_id"))
    },

    // exact-substring decontamination: test-split head snippets found
    // verbatim inside train docs (broadcast snippet probe)
    "dc2_exact_substring" -> { (s, d) =>
      TextAnalysis.exactContamination(corpus(s, d), snippetLen = Dc2Snippet,
          salt = SplitSalt, valPermille = SplitValPm, testPermille = SplitTestPm)
        .orderBy(col("doc_id"))
    },

    // fuzzy decontamination: train docs that are NEAR-duplicates of test
    // docs (MinHash-LSH, eval side broadcast) — catches the paraphrase/
    // reformat leaks dc1's gram overlap and dc2's verbatim scan both miss
    "dc3_fuzzy_contamination" -> { (s, d) =>
      TextAnalysis.fuzzyContamination(corpus(s, d), n = 3, k = 16, bands = 4,
          simThreshold = Dc3Sim, salt = SplitSalt,
          valPermille = SplitValPm, testPermille = SplitTestPm)
        .orderBy(col("doc_id"), col("eval_doc_id"))
    },

    "ann1_topk_dot" -> { (s, d) =>
      Ann.topKDot(Tables.embeddings(s, d), queryId = 0, k = 10)
    },

    // batch k-NN join: K nearest neighbors for every Nth vector
    "ann4_knn_join" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Ann.knnJoin(e, e.filter(col("vec_id") % Ann4Every === 0), k = Ann4K)
        .orderBy(col("q_id"), col("rk"))
    },

    // contrastive hard-negative mining: top-5 most-similar DIFFERENT-label
    // candidates per anchor, 0.95-cosine dup ceiling filters presumed
    // unlabeled positives before ranking
    "ann13_hard_negatives" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Ann.hardNegatives(e, e.filter(col("vec_id") % Ann4Every === 0),
          k = 5, dupCeiling = 0.95)
        .orderBy(col("q_id"), col("rk"))
    },

    // IVF-bucketed hard-negative mining — ann13's scale path (ann13 is
    // the documented by-contract quadratic: anchors x corpus)
    "ann14_hard_negatives_ivf" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Ann.hardNegativesIvf(e, e.filter(col("vec_id") % Ann4Every === 0),
          k = 5, dupCeiling = 0.95, nCells = 16)
        .orderBy(col("q_id"), col("rk"))
    },

    // IVF-bucketed batch k-NN join — the knnJoin scale path: each query
    // ranks only its nprobe probed cells' members
    "ann8_knn_join_ivf" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      // nCells pinned for the static oracle; production callers omit it and
      // get the √n-adaptive codebook (see knnJoinIvf scaladoc)
      Ann.knnJoinIvf(e, e.filter(col("vec_id") % Ann4Every === 0), k = Ann4K,
          nCells = 16)
        .orderBy(col("q_id"), col("rk"))
    },

    // recall@k evaluation harness: the IVF scale path scored against the
    // exact ground truth, per probe — the monitoring relation every ANN
    // deployment keeps (speed is worthless without a recall number). The
    // exact side is the eval artifact: at 100 TB it runs on a probe SAMPLE,
    // the IVF side is the production plan unchanged.
    "ann12_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      // FIXED probe set (ids below the sf0.01 corpus size): the exact
      // ground-truth side is then probes×corpus = LINEAR in corpus size —
      // a probe set growing with the corpus made the harness quadratic
      // (186 s at the 100× probe; 1.9 s fixed)
      val q = e.filter(col("vec_id") % Ann4Every === 0 &&
        col("vec_id") < Ann12MaxId)
      val exact = Ann.knnJoin(e, q, k = Ann4K)
        .select(col("q_id"), col("vec_id"))
      val ivf = Ann.knnJoinIvf(e, q, k = Ann4K, nCells = 16)
        .select(col("q_id"), col("vec_id"))
      val hits = ivf.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("hits"), lit(0L)).as("n_hit"),
          expr("coalesce(hits, 0) * 10000 div n_exact").as("recall_bp"))
        .orderBy("q_id")
    },

    // recall on CLUSTERABLE data — the ann12 harness over a synthesized
    // clustered corpus (40 tight clusters: each vector = its cluster rep's
    // integer-quantized embedding plus a per-vector constant shift, exact
    // in float32). Demonstrates the complement of ann12's worst case: when
    // the data clusters, a query's own cell is always probed and IVF
    // recall is ~perfect at the same nprobe=4 that scores 42% on the
    // unclustered vectors.
    "ann16_recall_clustered" -> { (s, d) =>
      val base = Tables.embeddings(s, d).filter(col("vec_id") < 2000)
        .select("vec_id", "embedding")
      val reps = base.filter(col("vec_id") < 40)
        .select(col("vec_id").as("rep_id"), col("embedding").as("rep_emb"))
      val clustered = base
        .select(col("vec_id"), (col("vec_id") % 40).as("rep_id"))
        .join(broadcast(reps), Seq("rep_id"))
        .select(col("vec_id"), expr(
          "transform(rep_emb, x -> CAST(round(CAST(x AS DOUBLE) * 1000)" +
            " + CAST(vec_id % 7 - 3 AS DOUBLE) AS FLOAT))").as("embedding"))
      val q = clustered.filter(col("vec_id") % Ann4Every === 0 &&
        col("vec_id") < Ann12MaxId)
      val exact = Ann.knnJoin(clustered, q, k = Ann4K)
        .select(col("q_id"), col("vec_id"))
      val ivf = Ann.knnJoinIvf(clustered, q, k = Ann4K, nCells = 16)
        .select(col("q_id"), col("vec_id"))
      val hits = ivf.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("hits"), lit(0L)).as("n_hit"),
          expr("coalesce(hits, 0) * 10000 div n_exact").as("recall_bp"))
        .orderBy("q_id")
    },

    // recall OPERATING CURVE: recall@k vs nprobe in {1,2,4,8,16} as one
    // relation (the r9-verdict ask — ann12 shows only the nprobe=4 point).
    // Exact ground truth computed ONCE; each sweep point reruns only the
    // IVF chain. micro_bp is the exact-integer micro-average
    // (sum hits / sum exact); min/max are the per-query extremes.
    "ann15_recall_curve" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % Ann4Every === 0 &&
        col("vec_id") < Ann12MaxId)
      val exact = Ann.knnJoin(e, q, k = Ann4K)
        .select(col("q_id"), col("vec_id")).persist()
      graft.Caches.track(exact)
      val exn = exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      val perProbe = Seq(1, 2, 4, 8, 16).map { np =>
        val ivf = Ann.knnJoinIvf(e, q, k = Ann4K, nCells = 16, nprobe = np)
          .select(col("q_id"), col("vec_id"))
        ivf.join(exact, Seq("q_id", "vec_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
          .join(exn, Seq("q_id"), "right_outer")
          .select(lit(np).as("nprobe"), col("q_id"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_exact"))
      }.reduce(_ unionByName _)
      perProbe.groupBy("nprobe")
        .agg(count(lit(1)).as("n_q"),
          expr("sum(n_hit) * 10000 div sum(n_exact)").as("micro_bp"),
          min(expr("n_hit * 10000 div n_exact")).as("min_bp"),
          max(expr("n_hit * 10000 div n_exact")).as("max_bp"))
        .orderBy("nprobe")
    },

    "ann2_topk_cosine_lsh" -> { (s, d) =>
      Ann.topKCosineLsh(Tables.embeddings(s, d), queryId = 0, k = 10)
    },

    "ann3_topk_cosine_ivf" -> { (s, d) =>
      Ann.topKCosineIvf(Tables.embeddings(s, d), queryId = 7, k = 10)
    },

    // same IVF probe against the MATERIALIZED cell-partitioned index
    // (Store.ivfIndex): built once per session, each query reads only its
    // nprobe cells' partition directories — index-once-serve-many, the
    // 100 TB serving path (ann3 re-derives the assignment per query)
    "ann9_ivf_indexed" -> { (s, d) =>
      Ann.topKCosineIvfIndexed(graft.Store.ivfIndex(s, d),
        queryId = Ann9Query, k = 10)
    },

    // probe an INCREMENTALLY-maintained IVF index (base build + batch
    // append under the frozen codebook); the query vector is IN the
    // appended batch, so the gate proves appended vectors are served —
    // oracle is the full-corpus formulation (append ≡ rebuild)
    "ann10_ivf_append" -> { (s, d) =>
      Ann.topKCosineIvfIndexed(
        graft.Store.ivfIndexIncr(s, d, Ann10Mod, Ann10Rem),
        queryId = Ann10Query, k = 10)
    },

    // embedding-space data selection: every vector scored by cosine to the
    // seed-set centroid (integer sum vector — scale-invariant, so no mean
    // division); the filter step of domain-targeted corpus curation
    "qf1_domain_affinity" -> { (s, d) =>
      Ann.centroidAffinity(Tables.embeddings(s, d),
          col("vec_id") % Qf1SeedMod === 0)
        .orderBy(col("vec_id"))
    },

    // fastText-style learned quality classifier APPLICATION: a linear model
    // over exact-integer doc features (stopword count, token count, chars,
    // mean-word-length micro-units), logit in micro-units, keep = logit>0.
    // Weights broadcast as literals; one narrow codegen'd scan — the
    // classifier rung of the quality ladder (metrics tx2 → rules tx20 →
    // classifier qf2 → LM surprisal tx9).
    "qf2_quality_classifier" -> { (s, d) =>
      val toks = TextAnalysis.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).as("n_tok"),
          size(filter(toks, t => t.isin(Tx20Stop: _*))).as("n_stop"),
          length(col("text")).as("n_chars"))
        .withColumn("mwl_u",
          expr("(n_chars * 1000) div greatest(n_tok, 1)"))
        .withColumn("logit_u", expr(
          s"$Qf2Bias + $Qf2WStop * n_stop + $Qf2WTok * n_tok + " +
            s"$Qf2WChar * n_chars + $Qf2WMwl * mwl_u"))
        .select(col("doc_id"), col("logit_u"), (col("logit_u") > 0).as("keep"))
        .orderBy("doc_id")
    },

    // unigram-LM tokenizer encode: min-cost Viterbi segmentation of every
    // distinct corpus word under the substring-count piece vocab — the
    // SentencePiece counterpart of the BPE pair (tx18/tx19). Corpus-scale
    // work is ONE word-frequency pass; the DP runs inside a codegen'd HOF
    // fold over vocab-sized rows (no UDF, no driver loop)
    "tx22_unigram_encode" -> { (s, d) =>
      TextAnalysis.unigramEncode(Tables.documents(s, d),
          Tx22PieceLen, Tx22MinCnt, Tx22MaxWordLen)
        .orderBy("word")
    },

    // unigram-LM tokenizer APPLICATION (the tx19 mirror): per-doc encoded
    // length and total cost under the tx22 model — the word-level encode
    // table is vocab-sized and broadcasts to the corpus token stream
    "tx23_unigram_apply" -> { (s, d) =>
      val enc = TextAnalysis.unigramEncode(Tables.documents(s, d),
          Tx22PieceLen, Tx22MinCnt, Tx22MaxWordLen)
        .select(col("word"), col("cost_u"), col("n_pieces"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("word"))
        .join(broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("n_pieces").as("n_pieces"),
          sum("cost_u").as("cost_u"))
        .orderBy("doc_id")
    },

    // hybrid retrieval: lexical top-100 (query-token tf × f32-quantized
    // idf, tokens filtered BEFORE any shuffle) and vector top-100 (exact
    // int-quantized dot, query broadcast) fused by RRF — the
    // lexical+semantic retrieval step of a RAG / curation pipeline. Both
    // candidate lists are TakeOrdered (no global sort); the fusion join
    // runs on 2×100 rows.
    "rrf1_hybrid_rank" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val nDocs = docs.count()
      val nVecs = Tables.embeddings(s, d).count()
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token").isin(Rrf1Toks: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
        .withColumn("idf", log((lit(nDocs.toDouble) + 1.0) /
          (col("df").cast("double") + 1.0)))
      val lexTop = tf.join(broadcast(idf), "token")
        .withColumn("score_key",
          ((col("tf") * col("idf")).cast("float").cast("double") * 1e6).cast("long"))
        .groupBy("doc_id").agg(sum("score_key").as("lex_score"))
        .orderBy(col("lex_score").desc, col("doc_id")).limit(Rrf1Depth)
        .withColumn("rank_lex", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("lex_score").desc, col("doc_id"))).cast("long"))
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === Rrf1QVec)
        .select(expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))").as("qv"))
      val vecTop = docs.select(col("doc_id"), (col("doc_id") % nVecs).as("vec_id"))
        .join(Tables.embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))").as("v")),
          "vec_id")
        .crossJoin(broadcast(qv))
        .select(col("doc_id"),
          expr("aggregate(zip_with(v, qv, (a, b) -> a*b), CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("dot"))
        .orderBy(col("dot").desc, col("doc_id")).limit(Rrf1Depth)
        .withColumn("rank_vec", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("dot").desc, col("doc_id"))).cast("long"))
      lexTop.select(col("doc_id"), col("rank_lex"))
        .join(vecTop.select(col("doc_id"), col("rank_vec")), Seq("doc_id"), "full_outer")
        .withColumn("rrf_u",
          coalesce(expr(s"1000000 div ($Rrf1C + rank_lex)"), lit(0L)) +
            coalesce(expr(s"1000000 div ($Rrf1C + rank_vec)"), lit(0L)))
        .orderBy(col("rrf_u").desc, col("doc_id")).limit(Rrf1Out)
    },

    // DSIR data selection: importance weight per hashed token bucket =
    // smoothed target/raw frequency ratio in micro-units (ONE pass trains
    // the ≤B-row weight table — target and raw counts from the same agg);
    // docs scored by mean per-token weight on the second pass (weights
    // broadcast); top-K resample. At 100 TB the weight table trains on a
    // sample slice — the scoring plan is unchanged.
    "qf3_dsir_select" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .withColumn("b",
          // native md5-slice kernel ≡ conv(substring(md5(tok),1,8),16,10)
          // (the per-token hex/conv machinery was qf3's dominant CPU)
          graft.functions.Md5HexLong(col("tok"), 1, 8) % Qf3B)
      val w = tok.groupBy("b").agg(
          count(lit(1)).as("r_cnt"),
          sum(when(col("lang") === Qf3Lang, 1L).otherwise(0L)).as("t_cnt"))
        .select(col("b"),
          expr("(1000000 * (t_cnt + 1)) div (r_cnt + 1)").as("w_u"))
      tok.join(broadcast(w), Seq("b"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tok"), sum("w_u").as("sum_w"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("sum_w div n_tok").as("score_u"))
        .orderBy(col("score_u").desc, col("doc_id")).limit(Qf3K)
    },

    // one Lloyd step of IVF codebook retraining: exact integer assignment,
    // per-(cell,dim) exact sums, one double division for the mean
    "ann5_ivf_retrain" -> { (s, d) =>
      Ann.ivfRetrain(Tables.embeddings(s, d), nCells = 16)
        .orderBy(col("cell"), col("dim"))
    },

    // fixed-iteration PageRank over a deterministic doc link graph
    // (doc i -> (31·i + j) mod n for j = 1..fanout)
    "gr1_pagerank" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array((1 to Gr1Fanout).map(j =>
          (col("doc_id") * 31 + j) % n): _*)).as("dst"))
      graft.graph.Graphs.pageRank(edges, damping = Gr1Damping,
          iterations = Gr1Iters)
        .orderBy(col("node"))
    },

    // per-node triangle counts over the undirected derived link graph
    "gr2_triangles" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array((1 to Gr1Fanout).map(j =>
          (col("doc_id") * 31 + j) % n): _*)).as("dst"))
      graft.graph.Graphs.triangleCounts(edges).orderBy(col("node"))
    },

    // multi-source BFS hop distance over the derived link graph: frontier
    // rounds (only last round's discoveries expand), min-hop by
    // construction; nodes beyond the hop budget stay absent
    "gr3_bfs_hops" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array((1 to Gr1Fanout).map(j =>
          (col("doc_id") * 31 + j) % n): _*)).as("dst"))
      val seeds = docs.filter(col("doc_id") % Gr3SeedMod === 0)
        .select(col("doc_id").as("node"))
      graft.graph.Graphs.bfsHops(edges, seeds, Gr3Depth).orderBy("node", "d")
    },

    // bounded-hop weighted shortest paths (Bellman-Ford rounds) over the
    // derived link graph with deterministic integer weights
    "gr4_shortest_paths" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        explode(array((1 to Gr1Fanout).map(j =>
          (col("doc_id") * 31 + j) % n): _*)).as("dst"))
        .withColumn("w", expr("(src + dst) % 7 + 1"))
      val seeds = docs.filter(col("doc_id") % Gr3SeedMod === 0)
        .select(col("doc_id").as("node"))
      graft.graph.Graphs.shortestPaths(edges, seeds, Gr4Rounds)
        .orderBy("node", "d")
    },

    // symmetric int8 embedding quantization (integer-exact rounding)
    "ann7_int8_quant" -> { (s, d) =>
      Ann.int8Quantize(Tables.embeddings(s, d)).orderBy(col("vec_id"))
    },

    // product-quantization ADC search: m code bytes per vector, exact
    // integer subspace-distance lookup — the compressed-index ANN path
    "ann6_pq_adc" -> { (s, d) =>
      Ann.topKAdc(Tables.embeddings(s, d), queryId = Ann6Query, k = Ann6TopK,
        m = Ann6M, kCodes = Ann6Codes)
    },

    // ADC probe against the MATERIALIZED code table (Store.pqIndex): the
    // per-query scan reads only the m code columns — vectors never ship
    "ann11_pq_indexed" -> { (s, d) =>
      Ann.topKAdcIndexed(graft.Store.pqIndex(s, d, Ann6M, Ann6Codes),
        Tables.embeddings(s, d), queryId = Ann11Query, k = Ann6TopK,
        m = Ann6M, kCodes = Ann6Codes)
    },

    "tx1_token_stats" -> { (s, d) =>
      TextAnalysis.tokenStats(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // within-doc duplicate-3-gram fraction (Gopher-style repetition rule)
    "tx7_repetition" -> { (s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d), n = 3)
        .orderBy(col("doc_id"))
    },

    // deterministic per-source cap (the URL/domain-cap pipeline op): keep
    // the cap highest-md5-priority docs of each source
    "tx8_source_cap" -> { (s, d) =>
      TextAnalysis.capPerSource(Tables.documents(s, d), cap = Tx8Cap,
          salt = SplitSalt)
        .orderBy(col("source"), col("rk"))
    },

    // self-trained unigram-LM surprisal (perplexity-filter analog); the
    // per-token ln is quantized to i64 micro-units BEFORE the per-doc sum,
    // so the aggregate is exact integer arithmetic at any partitioning
    "tx9_lm_surprisal" -> { (s, d) =>
      TextAnalysis.lmSurprisal(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // Composed curation chain v3 — rules, then perplexity, then split:
    // Gopher rule gate → self-trained surprisal over the SURVIVORS (the
    // LM never sees dropped docs, the production order) → CCNet tercile
    // keep (head+middle) → deterministic split → per-split corpus totals.
    // Every stage reuses arithmetic its standalone gate hash-matches
    // (tx20, tx9/qf4, tx5).
    "pl3_rules_ppl_split" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val keep = TextAnalysis.gopherRules(docs, Tx20Stop,
        Tx20MinWords, Tx20MaxWords).filter(col("keep")).select("doc_id")
      val survivors = docs.join(keep, "doc_id")
      val scored = TextAnalysis.lmSurprisal(survivors)
      val kept = scored.join(ccnetBucketMap(scored), "mean_surprisal_key")
        .filter(col("bucket") <= 1)
        .select("doc_id", "n_toks")
      TextAnalysis.deterministicSplit(kept, "doc_id", SplitSalt,
          SplitValPm, SplitTestPm)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
        .orderBy("split")
    },

    // CCNet-style perplexity bucketing: docs split into terciles of the
    // tx9 surprisal score (head/middle/tail), head+middle kept — the
    // decision layer ON TOP of the perplexity filter. Terciles come from a
    // cumsum over the SCORE histogram (distinct scores, not docs — the rp1
    // formula; ties share a bucket deterministically); at 100 TB the
    // thresholds come from the ks1 sample-quantile sketch instead, with
    // the bucket-map join unchanged.
    "qf4_ccnet_buckets" -> { (s, d) =>
      val scored = TextAnalysis.lmSurprisal(Tables.documents(s, d))
      scored.join(ccnetBucketMap(scored), "mean_surprisal_key")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_toks"),
          min("mean_surprisal_key").as("lo_key"),
          max("mean_surprisal_key").as("hi_key"))
        .withColumn("keep", col("bucket") <= 1)
        .orderBy("bucket")
    },

    // Kneser–Ney bigram surprisal with a HELD-OUT model: trained on the
    // even-doc half, scoring everything — held-out docs hit the discount/
    // continuation backoff paths (unseen bigrams and words) that the
    // self-trained tx9 never exercises
    "tx25_kn_surprisal" -> { (s, d) =>
      TextAnalysis.knSurprisal(Tables.documentsFanned(s, d)).orderBy(col("doc_id"))
    },

    // PII scrub: counts + redacted-text hash over the planted-PII corpus
    "tx10_pii_scrub" -> { (s, d) =>
      TextAnalysis.piiReport(piiCorpus(s, d)).orderBy(col("doc_id"))
    },

    // deterministic per-stratum downsampling (md5-slot vs per-source rate)
    "ds1_stratified_sample" -> { (s, d) =>
      TextAnalysis.stratifiedSample(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id", "source", Ds1Rates.toMap, Ds1Default, SplitSalt)
        .select(col("doc_id"), col("source"), col("slot"))
        .orderBy(col("doc_id"))
    },

    // target-mixture resampling summary: per weighted source, its input
    // count, the exact-integer sampling rate that lands the kept corpus on
    // the target mix, and the rows the md5 slot actually kept
    "ds2_mixture_resample" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val kept = TextAnalysis.mixtureResample(docs, "source", "doc_id",
          Ds2Weights.toMap, SplitSalt)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      TextAnalysis.mixtureRates(docs, "source", Ds2Weights.toMap)
        .join(kept, Seq("source"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .orderBy(col("source"))
    },

    // temperature-scaled source mixture (α = 1/2): the corpus is skewed
    // deterministically (each source keeps doc_id % (srcnum%7+1) == 0, so
    // source sizes span 7×), then sampled to shares ∝ isqrt(n) with the
    // smallest source binding at rate 1000‰ — small sources are protected,
    // big sources downsample toward √n, the standard multilingual balance
    "ds4_temperature_mix" -> { (s, d) =>
      val dsk = Tables.documents(s, d).select(col("doc_id"), col("source"))
        .filter(expr("(doc_id div 20) % " +
          "(cast(substr(source, 4, 10) as bigint) % 7 + 1) = 0"))
      val kept = TextAnalysis.temperatureResample(dsk, "source", "doc_id",
          SplitSalt)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      TextAnalysis.temperatureRates(dsk, "source")
        .join(kept, Seq("source"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .orderBy(col("source"))
    },

    // budget-constrained epoch plan: per-source token budgets under a
    // 1.5×-corpus global budget with a 2-epoch per-source repeat cap —
    // exact water-filling, capped surplus redistributed by temperature
    // weight; small sources hit the cap, large ones split the remainder
    "ds5_epoch_plan" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .filter(expr("(doc_id div 20) % " +
          "(cast(substr(source, 4, 10) as bigint) % 7 + 1) = 0"))
        .groupBy(col("source")).agg(sum(col("n_chars")).as("n_tokens"))
      TextAnalysis.epochPlan(tok, "source", budgetNum = 3, budgetDen = 2,
          maxEpochs = 2)
        .orderBy(col("source"))
    },

    // SFT conversation flattening: events as dialog turns (view/signup =
    // user prompts, click/purchase = assistant replies, error rows dropped
    // upstream), consecutive same-role turns merged, reply-first
    // conversations dropped, 8-turn truncation, ChatML render hashed
    "sft1_chat_flatten" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type") =!= "error")
        .select(col("user_id").as("conv_id"),
          col("event_id").as("turn_idx"),
          when(col("event_type").isin("view", "signup"), "user")
            .otherwise("assistant").as("role"),
          concat(col("event_type"), lit("#"), col("event_id")).as("content"))
      TextAnalysis.chatFlatten(ev, minTurns = 2, maxTurns = 8)
        .orderBy("conv_id")
    },

    // DPO preference pairs: events as scored completions per user-prompt,
    // best-vs-rest with an 800-micro-unit ambiguity margin
    "sft2_pref_pairs" -> { (s, d) =>
      val r = Tables.events(s, d).select(
        col("user_id").as("prompt_id"),
        col("event_id").as("response_id"),
        (when(col("event_type") === "purchase", 3000L)
          .when(col("event_type") === "click", 2000L)
          .when(col("event_type") === "signup", 1500L)
          .when(col("event_type") === "view", 1000L)
          .otherwise(0L) +
          round(col("value") * 100).cast("long")).as("reward_u"))
      TextAnalysis.preferencePairs(r, minMarginU = 800L)
        .orderBy(col("prompt_id"), col("rejected_id"))
    },

    // composed language-balanced corpus prep: n-gram langid -> temperature
    // mixture over the DETECTED language (α=1/2 protects the small
    // languages) -> deterministic split; per-(lang, split) counts with the
    // applied rate, the multilingual pre-training sampling chain
    "pl4_lang_balanced" -> { (s, d) =>
      // the (doc_id, lang) projection feeds THREE consumers (rate counts,
      // the keep join, the final rate join); without a barrier each one
      // re-evaluates the 4-language HOF marker scan over the full text
      // column (~3x tx3's whole cost). Cache the tiny projection once.
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.langPredOf(col("text")).as("lang"))
        .persist()
      graft.Caches.track(docs)
      val kept = TextAnalysis.temperatureResample(docs, "lang", "doc_id",
        SplitSalt)
      // split under a DIFFERENT salt: reusing the keep-decision hash would
      // make the split conditional on surviving the sampler (rate<1000 langs
      // would have empty high-slot splits) — independent decisions need
      // independent hash spaces
      val split = TextAnalysis.deterministicSplit(kept, "doc_id",
        SplitSalt + ":split", SplitValPm, SplitTestPm)
      split.groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_kept"))
        .join(TextAnalysis.temperatureRates(docs, "lang")
          .select(col("lang"), col("rate_permille")), Seq("lang"))
        .orderBy(col("lang"), col("split"))
    },

    // boilerplate strip: rebuild every corpus doc from its non-repeated
    // chunks (consumer of the dd9 detector, full-coverage chunk grid)
    "dd11_boilerplate_strip" -> { (s, d) =>
      Dedup.stripRepeatedPassages(corpus(s, d), w = Dd9W, minDocs = 2,
          minTail = Dd9MinTail)
        .orderBy(col("doc_id"))
    },

    // round-5 curation chain composed end-to-end: Gopher rule gate ->
    // duplicated-span dedup over the SURVIVORS (filter-then-dedup, the
    // production order) -> deterministic shard shuffle; per-shard totals
    "pl2_filter_spandedup_shard" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // the filtered survivor set feeds THREE consumers (span hashing, the
      // rebuild join inside duplicatedSpans, the shard assignment); without
      // a barrier each re-evaluates the HOF-heavy rule scan — the sf10 30×
      // finding. Cache once; the caller releases it after the action.
      val kept = docs.join(
        TextAnalysis.gopherRules(docs, Tx20Stop, Tx20MinWords, Tx20MaxWords)
          .filter(col("keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
        .persist()
      graft.Caches.track(kept)
      val spans = Dedup.duplicatedSpans(kept, k = Dd13K)
        .select(col("doc_id"), col("n_tokens"), col("n_covered"))
      val shards = TextAnalysis.shardShuffle(kept.select(col("doc_id")),
          nShards = Ds3Shards, salt = SplitSalt)
        .select(col("doc_id"), col("shard"))
      spans.join(shards, Seq("doc_id"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens") - col("n_covered")).as("n_tokens_clean"),
          sum(col("n_covered")).as("n_tokens_cut"))
        .orderBy(col("shard"))
    },

    // deterministic shard shuffle: md5-keyed pseudorandom order, shard =
    // top-60-bit key mod N, position = key rank within shard — the
    // reproducible "global shuffle + shard writer" step before training
    "ds3_shard_shuffle" -> { (s, d) =>
      TextAnalysis.shardShuffle(
          Tables.documents(s, d).select(col("doc_id")),
          nShards = Ds3Shards, salt = SplitSalt)
        .orderBy(col("shard"), col("pos"))
    },

    // semantic decontamination: train x eval embedding pairs over the
    // threshold, cell-blocked under the TRAIN codebook, eval side
    // broadcast; catches reworded eval leaks dc1/dc2/dc3 cannot see
    "dc4_semantic_contamination" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val evalSet = e.filter(col("vec_id") % 50 === 7)
      val train = e.filter(col("vec_id") % 50 =!= 7)
        .unionByName(evalSet.filter(col("vec_id") % 3 === 0)
          .select((col("vec_id") + 900000).as("vec_id"), col("embedding")))
      Dedup.semanticCrossPairs(train, evalSet, threshold = 0.99, nCells = 16)
        .orderBy(col("vec_id"), col("eval_vec_id"))
    },

    // sliding-window duplicated-span removal (Lee-et-al exact-substring
    // dedup): every K-token window hashed; positions covered by a window
    // occurring >1 time anywhere are cut; doc rebuilt from the rest
    "dd13_dup_spans" -> { (s, d) =>
      Dedup.duplicatedSpans(corpus(s, d), k = Dd13K)
        .orderBy(col("doc_id"))
    },

    // end-to-end training-data pipeline in ONE fused scan: quality floor →
    // language gate → exact-dedup canonicalization → deterministic split →
    // per-split corpus stats. The metric columns come from the raw Column
    // forms (qualityOf/langPredOf) so the text is read ONCE — composing the
    // per-metric DataFrames would re-scan and re-join the corpus per stage.
    "pl1_filter_dedup_split" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val survivors = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_words"),
          TextAnalysis.qualityOf(col("text"),
            TextAnalysis.LangMarkers.head._2).as("quality"),
          TextAnalysis.langPredOf(col("text")).as("lang_pred"))
        .filter(col("quality") >= Pl1MinQuality && col("lang_pred") === "en")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      TextAnalysis.deterministicSplit(survivors, "doc_id", SplitSalt,
          SplitValPm, SplitTestPm)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
        .orderBy(col("split"))
    },

    // incremental exact dedup of an incoming batch against the existing
    // corpus: Bloom prefilter (map-side) + exact semi-join confirm
    "dd10_bloom_incremental" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val incoming = docs.filter(col("doc_id") % Dd10Every === 0)
        .select((col("doc_id") + Dd10IdOffset).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % Dd10Every === 3)
          .select((col("doc_id") + Dd10IdOffset).as("doc_id"),
            concat(col("text"), lit(Dd10Suffix)).as("text")))
      Dedup.incrementalDuplicates(incoming, docs, expectedRefDocs = 1000000L)
        .orderBy(col("doc_id"))
    },

    "tx2_quality" -> { (s, d) =>
      TextAnalysis.qualityScores(Tables.documents(s, d),
        TextAnalysis.LangMarkers.head._2).orderBy(col("doc_id"))
    },

    "tx3_langid" -> { (s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // T5 span-corruption plan: 15% target rate, 3-token spans, hash-placed
    // candidates unioned to real coverage via the interval-merge primitive
    "tx26_span_plan" -> { (s, d) =>
      TextAnalysis.spanCorruptionPlan(Tables.documents(s, d),
          ratePermille = 150, spanLen = 3, salt = SplitSalt)
        .orderBy("doc_id")
    },

    "tx4_fingerprint" -> { (s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d), k = 16).orderBy(col("doc_id"))
    },

    // concat-and-chunk sequence packing into 512-token contexts, windowed
    // per source shard (the parallel formulation)
    "tx6_pack" -> { (s, d) =>
      TextAnalysis.packForTraining(Tables.documents(s, d), budget = Tx6Budget)
        .orderBy(col("doc_id"))
    },

    // deterministic md5-keyed train/val/test assignment — reproducible
    // across runs/engines/partitionings (rand() is not)
    "tx5_split" -> { (s, d) =>
      TextAnalysis.deterministicSplit(
          Tables.documents(s, d).select(col("doc_id")), "doc_id",
          SplitSalt, SplitValPm, SplitTestPm)
        .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
    },

    // corpus vocabulary heavy hitters (top-k tokens by document frequency)
    "tx13_vocab" -> { (s, d) =>
      TextAnalysis.vocabTopK(Tables.documents(s, d), k = Tx13K)
    },

    // corpus bigram LM: pair/unigram counts + exact conditional probability
    "tx16_bigram_lm" -> { (s, d) =>
      TextAnalysis.bigramLm(Tables.documents(s, d), topN = Tx16TopN)
    },

    // real winnowing fingerprints (k-gram hashes, min per w-window)
    "tx17_winnowing" -> { (s, d) =>
      TextAnalysis.winnowFingerprints(Tables.documentsFanned(s, d),
          k = Tx17K, w = Tx17W)
        .orderBy(col("doc_id"), col("fp"))
    },

    // BPE merge learning (tokenizer training): greedy top pair per round
    "tx18_bpe" -> { (s, d) =>
      TextAnalysis.bpeMerges(Tables.documents(s, d), nMerges = Tx18Merges)
        .orderBy(col("rank"))
    },

    // tokenizer APPLICATION: the corpus re-tokenized under the tx18-trained
    // vocabulary — per doc, subword count + token-stream md5 (training is
    // offline; encoding is the pass every corpus build runs end to end)
    "tx19_bpe_encode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.bpeMerges(docs, nMerges = Tx18Merges)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs, merges).orderBy(col("doc_id"))
    },

    // Gopher CHAR-level repetition metrics: top bigram char fraction +
    // duplicated 5-gram char coverage (tx7 reports the count fraction;
    // the paper's thresholds are these char fractions)
    // corpus diversity report: per source and n ∈ {1,2,3}, total vs
    // distinct n-grams (distinct-n, the standard text-diversity metric) —
    // exact at gate scale; at 100 TB the distinct count rides the
    // hll/kmv sketch with the same grouping
    "tx24_ngram_diversity" -> { (s, d) =>
      // single-pass n-gram explode: fanned read (r13 A/B: 1.39->0.53 s)
      val grams = Tables.documentsFanned(s, d)
        .select(col("source"), TextAnalysis.tokens(col("text")).as("ts"))
        .select(col("source"), explode(expr(
          """flatten(transform(sequence(1, 3), n ->
            |  CASE WHEN size(ts) >= n THEN
            |    transform(sequence(1, size(ts) - n + 1),
            |      i -> named_struct('n', n, 'g', array_join(slice(ts, i, n), ' ')))
            |  ELSE CAST(array() AS array<struct<n: int, g: string>>) END))""".stripMargin)).as("x"))
        .select(col("source"), col("x.n").as("n"), col("x.g").as("g"))
      grams.groupBy("source", "n")
        .agg(count(lit(1)).as("total_n"), countDistinct("g").as("distinct_n"))
        .withColumn("ratio_bp", expr("distinct_n * 10000 div total_n"))
        .orderBy("source", "n")
    },

    "tx21_char_repetition" -> { (s, d) =>
      TextAnalysis.repetitionCharStats(Tables.documentsFanned(s, d),
          topN = Tx21TopN, dupN = Tx21DupN)
        .orderBy(col("doc_id"))
    },

    // Gopher-style RULE filter: the five-document-quality-rule keep/drop
    // decision, every rule exact-integer (tx2 reports metrics; this filters)
    "tx20_gopher_rules" -> { (s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d), Tx20Stop,
          Tx20MinWords, Tx20MaxWords)
        .orderBy(col("doc_id"))
    },

    // C4 line-level cleaning over deterministically derived 7-token lines:
    // md5-slot terminal punctuation (~25% of lines fail the punct rule),
    // sprinkled 'javascript' markers, doc-level lorem-ipsum / curly-brace
    // policy plants on doc_id%41 / %43
    "tx27_c4_rules" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) > 0)
      val lines = base
        .withColumn("i",
          explode(sequence(lit(0), size(col("ts")) - 1, lit(7))))
        .withColumn("chunk", slice(col("ts"), col("i") + 1, lit(7)))
        .withColumn("slot",
          graft.functions.Md5HexLong(concat(col("doc_id").cast("string"),
            lit("#"), col("i").cast("string")), 1, 15))
        .select(col("doc_id"), concat(
          when(col("slot") % 17 === 0, "javascript ").otherwise(""),
          array_join(col("chunk"), " "),
          when(col("doc_id") % 41 === 0 && col("i") === 0, " lorem ipsum")
            .when(col("doc_id") % 43 === 0 && col("i") === 0, " {")
            .otherwise(""),
          element_at(array(lit(""), lit("."), lit("!"), lit("?")),
            (col("slot") % 4 + 1).cast("int"))).as("line_text"))
      TextAnalysis.c4Rules(lines).orderBy(col("doc_id"))
    },

    // per-doc tf-idf keyword extraction, f32-quantized score key
    "tx14_keywords" -> { (s, d) =>
      TextAnalysis.tfidfKeywords(Tables.documents(s, d), k = Tx14K)
        .orderBy(col("doc_id"), col("rank"))
    },

    // RAG chunking: overlapping token windows + content hash per chunk
    "tx15_chunks" -> { (s, d) =>
      TextAnalysis.chunkWithOverlap(Tables.documents(s, d),
          window = Tx15Window, stride = Tx15Stride)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    "mm1_media_stats" -> { (s, d) =>
      Multimodal.media(s, d)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("bytes"))).as("total_bytes"),
          min(col("meta.width")).as("min_width"),
          max(col("meta.duration_ms")).as("max_duration_ms"))
        .orderBy(col("kind"))
    },

    // REAL javax.imageio decode of synthetic BMPs; pixel stats oracle'd in
    // closed form (the byte-stat stub path for video stays spec-only)
    "mm2_features" -> { (s, d) =>
      Multimodal.imageFeatures(Multimodal.syntheticImages(s, d)).orderBy(col("doc_id"))
    },

    // REAL javax.sound.sampled decode of synthetic 16-bit PCM WAVs; sample
    // stats oracle'd in closed form
    "mm3_audio_decode" -> { (s, d) =>
      Multimodal.audioFeatures(Multimodal.syntheticAudio(s, d)).orderBy(col("doc_id"))
    },

    // REAL ISO-BMFF box parsing of synthetic MP4s (duration, resolution,
    // handler, mdat size); container metadata oracle'd in closed form
    "mm4_video_meta" -> { (s, d) =>
      Multimodal.videoMeta(Multimodal.syntheticVideos(s, d)).orderBy(col("doc_id"))
    },

    // LSH parameter planner: the S-curve detection probability
    // p = 1 − (1 − j^r)^b for every (rows, bands) split of the signature
    // budget R = r·b, over a Jaccard grid — the relation an operator reads
    // BEFORE committing a band shape (dd2/dd6/dd15 run at one point of
    // this surface). Engine-exact: j^r and (1−j^r)^b are explicit
    // square-and-multiply chains (correctly-rounded IEEE multiplies — no
    // libm pow), identical SQL text in both engines.
    "dd16_lsh_tune" -> { (s, d) =>
      LshRGrid.map { r =>
        val b = LshBudget / r
        s.sql(
          s"""SELECT $r AS r, $b AS b, j_pct,
             |  CAST(CAST(1.0 - ${powChain("(1.0 - jr)", b)} AS FLOAT) AS DOUBLE)
             |    AS p_detect
             |FROM (SELECT j_pct, ${powChain("j", r)} AS jr
             |      FROM (SELECT j_pct, CAST(j_pct AS DOUBLE) / 100 AS j
             |            FROM (SELECT explode(sequence(5, 95, 5)) AS j_pct)))""".stripMargin)
      }.reduce(_ unionByName _).orderBy("r", "j_pct")
    },

    // Snapshot diff — the dataset-versioning primitive (what a lakehouse
    // CDC feed emits between two table versions): full outer join on the
    // key, content compared by hash, each row classified
    // added/removed/changed/unchanged. One keyed join; the hash is
    // computed map-side so the shuffle never carries document bodies.
    "cs1_snapshot_diff" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val oldV = docs.filter(col("doc_id") % CsAdd._1 =!= CsAdd._2)
        .select(col("doc_id"),
          when(col("doc_id") % CsChg._1 === CsChg._2,
            expr("substring(text, 1, CAST(length(text) div 2 AS INT))"))
            .otherwise(col("text")).as("text"))
      val newV = docs.filter(col("doc_id") % CsRm._1 =!= CsRm._2)
        .select(col("doc_id"), col("text"))
      oldV.select(col("doc_id"), md5(col("text")).as("h_old"))
        .join(newV.select(col("doc_id"), md5(col("text")).as("h_new")),
          Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged"))
        .groupBy("status").agg(count(lit(1)).as("n_docs"))
        .orderBy("status")
    },

    // Fuzzy record linkage (entity resolution): dirty records (planted
    // single-char deletions of part names — deterministic corruption at
    // position key % length) link back to the catalog via BLOCKED edit
    // distance — the union of prefix-3 and suffix-3 blocking keys covers
    // every single-deletion corruption of a ≥7-char name (a deletion spares
    // the prefix OR the suffix; fails-both needs len < 2·block+1), then the
    // levenshtein verify runs on block-mates only — never the all-pairs
    // product (the string analog of the LSH→verify ladder). Best match =
    // (min distance, min key), deterministic in both engines.
    "rl1_fuzzy_linkage" -> { (s, d) =>
      val parts = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      val posE = s"CAST(p_partkey % length(p_name) AS INT)"
      val dirty = parts.filter(col("p_partkey") % RlEvery === 0)
        .select(col("p_partkey").as("d_id"),
          expr(s"concat(substring(p_name, 1, $posE), substring(p_name, $posE + 2))")
            .as("d_name"))
      // the expensive compare runs on DISTINCT names — both sides are
      // VOCABULARY-bounded, so the levenshtein block join is independent
      // of corpus size (the sf0.1 probe caught the row-level formulation
      // at Σ bucket-products ∝ n²); row-level answers come back via two
      // broadcast name joins, and name-level best + min-key-per-name
      // equals the row-level argmin (dist, p_partkey) exactly
      def blocked(df: DataFrame, nameCol: String) =
        df.withColumn("bk", explode(array(
          substring(col(nameCol), 1, RlBlock),
          substring(col(nameCol), -RlBlock, RlBlock))))
      val scored = blocked(dirty.select("d_name").distinct(), "d_name")
        .join(blocked(parts.select("p_name").distinct(), "p_name"), "bk")
        .dropDuplicates("d_name", "p_name")
        .withColumn("dist",
          levenshtein(col("d_name"), col("p_name")).cast("long"))
        .filter(col("dist") <= RlMaxDist)
      val best = scored.groupBy("d_name").agg(min("dist").as("dist"))
      val chosen = scored.join(best, Seq("d_name", "dist"))
        .join(parts.groupBy("p_name").agg(min("p_partkey").as("pk_min")),
          "p_name")
        .groupBy("d_name", "dist").agg(min("pk_min").as("match_id"))
      dirty.join(broadcast(chosen), "d_name")
        .select(col("d_id"), col("match_id"), col("dist"))
        .orderBy("d_id")
    },

    // Frame-sample PLANNING over the REAL parsed video metadata (mm4's
    // ISO-BMFF box walk): per clip, K uniform sample timestamps plus the
    // proportional mdat byte offset a range-request decode would seek to —
    // the decode itself stays excluded (no codec in the toolchain), the
    // Spark-side plumbing (parse → plan → explode fan-out) is real. The
    // oracle recomputes from the synthetic clips' closed form.
    "mm8_frame_sample" -> { (s, d) =>
      Multimodal.videoMeta(Multimodal.syntheticVideos(s, d))
        .select(col("doc_id"), col("duration_ms"), col("mdat_bytes"),
          explode(sequence(lit(0L), lit(Mm8K - 1L))).as("sample_idx"))
        .withColumn("sample_ms", expr(s"duration_ms * sample_idx div $Mm8K"))
        .withColumn("sample_byte",
          expr("mdat_bytes * sample_ms div duration_ms"))
        .select("doc_id", "sample_idx", "sample_ms", "sample_byte")
        .orderBy("doc_id", "sample_idx")
    },

    // REAL resize: decode -> nearest-neighbor resample to 8x6 -> BMP
    // re-encode -> decode; resampled pixel stats oracle'd in closed form
    // (the floor mapping src = dst*srcDim/outDim is replicated in SQL)
    "mm5_resize" -> { (s, d) =>
      Multimodal.imageFeatures(
        Multimodal.resizeImages(Multimodal.syntheticImages(s, d), 8, 6))
        .orderBy(col("doc_id"))
    },

    // perceptual dHash over the real decode->resample path: the image rung
    // of the dedup family (equal images hash equal; near-dups pair under
    // the simhash-style Hamming blocking)
    "mm6_dhash" -> { (s, d) =>
      Multimodal.imageDHashes(Multimodal.syntheticImages(s, d))
        .orderBy(col("doc_id"))
    },

    // frame-energy-delta audio fingerprint through the real WAV decode:
    // the audio rung of the dedup family
    "mm7_audio_fp" -> { (s, d) =>
      Multimodal.audioFingerprints(Multimodal.syntheticAudio(s, d), frame = Mm7Frame)
        .orderBy(col("doc_id"))
    }
  )

  private def shinglesCte(src: String = "corpus") =
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM $src),
      |sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, UNNEST(list_transform(range(1, len(ts) - 1),
      |      i -> array_to_string(ts[i:i+2], ' '))) AS sh
      |    FROM toks WHERE len(ts) >= 3
      |    UNION ALL
      |    SELECT doc_id, array_to_string(ts, ' ') AS sh
      |    FROM toks WHERE len(ts) BETWEEN 1 AND 2) u)""".stripMargin

  /** The tx18 BPE training rounds as a reusable CTE chain: `words`, `w0`
    * and `p$i`/`b$i`/`w$i` for every merge round — tx18 reads the `b$i`
    * winners, tx19 re-applies them to the doc relation. */
  private lazy val bpeTrainingCtes: String = {
    def round(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, p[CAST(j AS INT)] AS l, p[CAST(j AS INT) + 1] AS r
         |    FROM (SELECT freq, string_split(trim(s), '  ') AS p FROM w${i - 1}) t,
         |         UNNEST(range(1, len(p))) AS u(j))
         |  GROUP BY l, r),
         |b$i AS MATERIALIZED (SELECT l, r, l || r AS merged, cnt FROM p$i
         |        ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT freq,
         |    replace(s, ' ' || (SELECT l FROM b$i) || '  ' || (SELECT r FROM b$i) || ' ',
         |            ' ' || (SELECT merged FROM b$i) || ' ') AS s
         |  FROM w${i - 1})""".stripMargin
    s"""words AS (
       |  SELECT w, COUNT(*) AS freq FROM (
       |    SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                              t -> t <> '')) AS w
       |    FROM documents) t
       |  GROUP BY w),
       |w0 AS MATERIALIZED (
       |  SELECT freq, '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
       |  FROM words),
       |${(1 to Tx18Merges).map(round).mkString(",\n")}""".stripMargin
  }

  /** The dd2 MinHash-LSH pipeline as a reusable CTE chain ending in
    * `lshpairs(a, b, sim)` — dd8's component clustering composes on it. */
  private lazy val minhashPairsCtes: String = {
    val simExpr = (0 until 16).map(i =>
      s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$corpusCte,
       |${shinglesCte()},
       |sh2 AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h1,
       |         CAST(('0x' || substr(md5(sh), 17, 15)) AS BIGINT) AS h2
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id,
       |${(0 until 16).map(i => s"    MIN(xor(h1, h2 >> $i)) AS h$i").mkString(",\n")}
       |  FROM sh2 GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id,
       |${(0 until 4).map(b => s"    CONCAT(h${b * 4},'|',h${b * 4 + 1},'|',h${b * 4 + 2},'|',h${b * 4 + 3}) AS b$b").mkString(",\n")}
       |  FROM sigs),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r ON l.doc_id < r.doc_id
       |   AND (l.b0 = r.b0 OR l.b1 = r.b1 OR l.b2 = r.b2 OR l.b3 = r.b3)),
       |lshpairs AS (
       |  SELECT a, b, sim FROM (
       |    SELECT c.a, c.b, CAST($simExpr AS DOUBLE) / 16 AS sim
       |    FROM cand c
       |    JOIN sigs sa ON sa.doc_id = c.a
       |    JOIN sigs sb ON sb.doc_id = c.b) t
       |  WHERE sim >= 0.8)""".stripMargin
  }

  /** Shared DuckDB mirror of the gear-CDC chunk table ([[Dedup.cdcChunks]]):
    * CTE chain ending in `cfinal(doc_id, chunk_idx, start, clen, chunk_md5)`.
    * The kernel's rolling `h = (2h + gear(c)) mod 2^62` equals a pure
    * 62-term windowed sum (2^62·x ≡ 0), so the oracle replays it as a
    * bounded window self-join — per-term `(g & (m >> k)) << k` is exactly
    * `g·2^k mod 2^62`, the HUGEINT sum then folds once more. */
  private lazy val cdcChunksCtes: String = {
    val m62 = "4611686018427387903"  // 2^62 - 1
    val p62 = "4611686018427387904"  // 2^62
    s"""$corpusCte,
       |cdocs AS (SELECT doc_id, text, length(text) AS len
       |          FROM corpus WHERE length(text) > 0),
       |cchars AS (SELECT doc_id, UNNEST(range(len)) AS i, text, len FROM cdocs),
       |cgear AS (
       |  SELECT doc_id, i, len,
       |    CAST(('0x' || substr(md5(CAST(ascii(text[CAST(i + 1 AS INT):CAST(i + 1 AS INT)]) AS VARCHAR)), 1, 15)) AS BIGINT) AS g
       |  FROM cchars),
       |chash AS (
       |  SELECT a.doc_id, a.i, a.len,
       |    CAST(SUM((b.g & ($m62 >> (a.i - b.i))) << (a.i - b.i)) % $p62 AS BIGINT) AS h
       |  FROM cgear a JOIN cgear b
       |    ON b.doc_id = a.doc_id AND b.i BETWEEN a.i - 61 AND a.i
       |  GROUP BY 1, 2, 3),
       |cbpos AS (
       |  SELECT doc_id, i + 1 AS e FROM chash
       |  WHERE h % ${1 << CdcBits} = 0 AND i + 1 < len
       |  UNION ALL
       |  SELECT doc_id, len FROM cdocs),
       |cchunks AS (
       |  SELECT doc_id, e,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY e) AS BIGINT) AS chunk_idx,
       |    CAST(COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS BIGINT) AS start
       |  FROM cbpos),
       |cfinal AS (
       |  SELECT c.doc_id, c.chunk_idx, c.start,
       |    CAST(c.e - c.start + 1 AS BIGINT) AS clen,
       |    md5(substr(d.text, CAST(c.start AS INT), CAST(c.e - c.start + 1 AS INT))) AS chunk_md5
       |  FROM cchunks c JOIN cdocs d USING (doc_id))""".stripMargin
  }

  /** Shared DuckDB mirror of the tx22 unigram model + Viterbi DP: CTE body
    * ending in `enc(word, freq, cost_u, n_pieces)`. MATERIALIZED everywhere
    * a CTE is referenced twice — DuckDB inlines by default and the chained
    * references would otherwise expand exponentially. */
  private val tx22OracleCte: String = {
    val steps = (1 to Tx22MaxWordLen).map { j =>
      val prev = if (j == 1) "b0" else s"bb${j - 1}"
      s"""s$j AS (SELECT c.w, c.freq, $j AS j, MIN(p.v + c.c64) AS v
         |  FROM cand c JOIN $prev p ON p.w = c.w AND p.j = c.i - 1
         |  WHERE c.j = $j GROUP BY 1, 2),
         |bb$j AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM s$j)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                                  t -> t <> '')) AS w
       |        FROM documents)
       |  GROUP BY 1),
       |wf AS MATERIALIZED (SELECT * FROM words WHERE length(w) <= $Tx22MaxWordLen),
       |sub AS MATERIALIZED (
       |  SELECT substr(words.w, i.i, l.len) AS piece, words.freq, i.i,
       |         i.i + l.len - 1 AS j, words.w
       |  FROM words,
       |       UNNEST(range(1, length(words.w) + 1)) AS i(i),
       |       UNNEST(range(1, $Tx22PieceLen + 1)) AS l(len)
       |  WHERE i.i + l.len - 1 <= length(words.w)),
       |voc AS (
       |  SELECT piece, SUM(freq) AS cnt FROM sub GROUP BY 1
       |  HAVING length(piece) = 1 OR SUM(freq) >= $Tx22MinCnt),
       |tot AS (SELECT SUM(cnt) AS tot FROM voc),
       |vc AS (SELECT piece,
       |         CAST(trunc(CAST(CAST(ln(CAST(tot AS DOUBLE) / CAST(cnt AS DOUBLE))
       |           AS REAL) AS DOUBLE) * 1e6) AS BIGINT) AS cost_u
       |       FROM voc, tot),
       |cand AS MATERIALIZED (
       |  SELECT s.w, s.freq, s.i, s.j, vc.cost_u * 64 + 1 AS c64
       |  FROM (SELECT * FROM sub WHERE length(w) <= $Tx22MaxWordLen) s
       |  JOIN vc USING (piece)),
       |b0 AS MATERIALIZED (SELECT w, freq, 0 AS j, CAST(0 AS BIGINT) AS v FROM wf),
       |$steps,
       |enc AS MATERIALIZED (
       |  SELECT b.w AS word, b.freq, b.v // 64 AS cost_u, b.v % 64 AS n_pieces
       |  FROM bb$Tx22MaxWordLen b JOIN wf ON b.w = wf.w AND b.j = length(wf.w))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dd1_exact_dup" ->
      s"""WITH $corpusCte
         |SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
         |       MIN(doc_id) AS canonical_id,
         |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS member_ids
         |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
         |ORDER BY text_hash""".stripMargin,

    "dd6_lsh_verified" ->
      s"""WITH $corpusCte,
         |${shinglesCte()},
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |sh2 AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h1,
         |         CAST(('0x' || substr(md5(sh), 17, 15)) AS BIGINT) AS h2
         |  FROM sh),
         |sigs AS (
         |  SELECT doc_id,
         |${(0 until 8).map(i => s"    MIN(xor(h1, h2 >> $i)) AS h$i").mkString(",\n")}
         |  FROM sh2 GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, CONCAT(h0,'|',h1) AS b0, CONCAT(h2,'|',h3) AS b1,
         |         CONCAT(h4,'|',h5) AS b2, CONCAT(h6,'|',h7) AS b3
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r ON l.doc_id < r.doc_id
         |   AND (l.b0 = r.b0 OR l.b1 = r.b1 OR l.b2 = r.b2 OR l.b3 = r.b3)),
         |inter AS (
         |  SELECT c.a, c.b, COUNT(*) AS inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a
         |  JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |  GROUP BY 1, 2)
         |SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
         |       CAST(sa.n_sh + sb.n_sh - i.inter AS BIGINT) AS un,
         |       CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON sa.doc_id = i.a
         |JOIN sizes sb ON sb.doc_id = i.b
         |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.6
         |ORDER BY a, b""".stripMargin,

    // containment verify over r=1 bands: same signature family as dd6,
    // single-component buckets, containment in basis points
    "dd14_containment" ->
      s"""WITH $corpusCte,
         |corpus14 AS (
         |  SELECT doc_id, text FROM corpus
         |  UNION ALL
         |  SELECT doc_id + 700000 AS doc_id,
         |         substr(text, 1, length(text) // 2) AS text
         |  FROM documents WHERE doc_id % 25 = 3),
         |${shinglesCte("corpus14")},
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |sh2 AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h1,
         |         CAST(('0x' || substr(md5(sh), 17, 15)) AS BIGINT) AS h2
         |  FROM sh),
         |sigs AS (
         |  SELECT doc_id,
         |${(0 until 8).map(i => s"    MIN(xor(h1, h2 >> $i)) AS h$i").mkString(",\n")}
         |  FROM sh2 GROUP BY doc_id),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM sigs l JOIN sigs r ON l.doc_id < r.doc_id
         |   AND (${(0 until 8).map(i => s"l.h$i = r.h$i").mkString(" OR ")})),
         |inter AS (
         |  SELECT c.a, c.b, COUNT(*) AS inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a
         |  JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |  GROUP BY 1, 2)
         |SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
         |       i.inter * 10000 // sa.n_sh AS cont_a_bp,
         |       i.inter * 10000 // sb.n_sh AS cont_b_bp
         |FROM inter i
         |JOIN sizes sa ON sa.doc_id = i.a
         |JOIN sizes sb ON sb.doc_id = i.b
         |WHERE greatest(i.inter * 10000 // sa.n_sh,
         |               i.inter * 10000 // sb.n_sh) >= 9000
         |ORDER BY a, b""".stripMargin,

    // full oracle for the banded-minhash LSH gate: identical md5-derived
    // signature family, band buckets as joined component values, sim =
    // fraction of equal components — integer arithmetic end to end
    "dd2_minhash_lsh" ->
      s"""WITH $minhashPairsCtes
         |SELECT a, b, sim FROM lshpairs ORDER BY a, b""".stripMargin,

    // the maintained index serves the SAME pair set as a full-corpus run —
    // the oracle is deliberately the dd2 formulation (incremental ≡ batch)
    "dd15_lsh_maintained" ->
      s"""WITH $minhashPairsCtes
         |SELECT a, b, sim FROM lshpairs ORDER BY a, b""".stripMargin,

    "cdc1_chunks" ->
      s"""WITH $cdcChunksCtes
         |SELECT doc_id, chunk_idx, start, clen, chunk_md5 FROM cfinal
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "cdc2_dedup_stats" ->
      s"""WITH $cdcChunksCtes
         |SELECT a.n_logical, a.n_unique, a.logical_chars, b.stored_chars,
         |       b.stored_chars * 10000 // a.logical_chars AS stored_bp
         |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_logical,
         |             CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS n_unique,
         |             CAST(SUM(clen) AS BIGINT) AS logical_chars FROM cfinal) a,
         |     (SELECT CAST(SUM(clen) AS BIGINT) AS stored_chars
         |      FROM (SELECT chunk_md5, MIN(clen) AS clen FROM cfinal
         |            GROUP BY 1) u) b""".stripMargin,

    // transitive near-dup clustering over the SAME pair set: recursive
    // min-label reachability ≡ the Spark side's label-propagation fixpoint
    "dd8_dedup_components" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |und AS (SELECT a AS x, b AS y FROM lshpairs
         |        UNION ALL SELECT b, a FROM lshpairs),
         |reach(node, m) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM und) n
         |  UNION
         |  SELECT u.x, r.m FROM und u JOIN reach r ON r.node = u.y)
         |SELECT node AS doc_id, MIN(m) AS canonical_id FROM reach
         |GROUP BY node ORDER BY doc_id""".stripMargin,

    // canonical pick: dd8's recursive reachability labels joined to qf2's
    // integer logit over the same corpus, QUALIFY-style window pick
    "dd17_canonical_pick" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |und AS (SELECT a AS x, b AS y FROM lshpairs
         |        UNION ALL SELECT b, a FROM lshpairs),
         |reach(node, m) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM und) n
         |  UNION
         |  SELECT u.x, r.m FROM und u JOIN reach r ON r.node = u.y),
         |labels AS (SELECT node AS doc_id, MIN(m) AS canonical_id FROM reach
         |           GROUP BY node),
         |f AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                    t -> t <> '')) AS n_tok,
         |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                    t -> t IN (${Tx20Stop.map(w => s"'$w'").mkString(",")}))) AS n_stop,
         |    length(text) AS n_chars
         |  FROM corpus),
         |q AS (SELECT doc_id,
         |        $Qf2Bias + $Qf2WStop * n_stop + $Qf2WTok * n_tok +
         |          $Qf2WChar * n_chars +
         |          $Qf2WMwl * ((n_chars * 1000) // greatest(n_tok, 1)) AS logit_u
         |      FROM f),
         |m AS (SELECT l.canonical_id, l.doc_id, q.logit_u
         |      FROM labels l JOIN q USING (doc_id))
         |SELECT canonical_id, n_members, doc_id AS kept_doc,
         |       logit_u AS kept_logit
         |FROM (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY canonical_id
         |                           ORDER BY logit_u DESC, doc_id) AS rk,
         |        COUNT(*) OVER (PARTITION BY canonical_id) AS n_members
         |      FROM m) t
         |WHERE rk = 1 AND n_members >= 2
         |ORDER BY canonical_id""".stripMargin,

    // full oracle for the SimHash gate: 60-bit md5-prefix token hashes,
    // 60 tf-weighted bit votes, 4x15-bit pigeonhole chunks, popcount dist
    "dd4_simhash" -> {
      val votes = (0 until Dedup.SimhashBits).map(i =>
        s"    SUM(CASE WHEN (h >> $i) & 1 = 1 THEN tf ELSE -tf END) AS v$i").mkString(",\n")
      val fp = (0 until Dedup.SimhashBits).map(i =>
        s"(CASE WHEN v$i > 0 THEN CAST(1 AS BIGINT) << $i ELSE CAST(0 AS BIGINT) END)").mkString(" + ")
      val chunkEq = (0 until 4).map(i =>
        s"((a.fp >> ${i * 15}) & 32767) = ((b.fp >> ${i * 15}) & 32767)").mkString(" OR ")
      s"""WITH $corpusCte,
         |tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
         |    SELECT doc_id,
         |           UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                              t -> t <> '')) AS tok
         |    FROM corpus) u
         |  GROUP BY 1, 2),
         |h AS (
         |  SELECT doc_id, tf,
         |         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
         |  FROM tf),
         |votes AS (
         |  SELECT doc_id,
         |$votes
         |  FROM h GROUP BY doc_id),
         |fp AS (SELECT doc_id, $fp AS fp FROM votes),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.fp AS fa, b.fp AS fb
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND ($chunkEq))
         |SELECT a, b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS dist FROM cand
         |WHERE bit_count(xor(fa, fb)) <= 3
         |ORDER BY a, b""".stripMargin
    },

    "dd3_ngram_jaccard" ->
      s"""WITH $corpusCte,
         |capped AS (SELECT * FROM corpus WHERE doc_id % 5 = 0),
         |${shinglesCte("capped")},
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.a, i.b, i.inter, sa.n_sh + sb.n_sh - i.inter AS un,
         |       CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON sa.doc_id = i.a
         |JOIN sizes sb ON sb.doc_id = i.b
         |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.6
         |ORDER BY a, b""".stripMargin,

    // LSH output ⊆ exact output; every qualifying pair in this corpus is an
    // identical-vector plant (verified empirically at sf0.01/sf0.1), and
    // identical vectors always share all signature bands — so the LSH path
    // deterministically equals the exact oracle here.
    "dd7_embed_cosine_lsh" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id%20=0),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM planted),
        |n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS BIGINT) AS dot
        |FROM n a, n b
        |WHERE a.vec_id < b.vec_id
        |  AND CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(a.n2*b.n2 AS DOUBLE)) >= 0.99
        |ORDER BY a, b""".stripMargin,

    // identical oracle to dd7: the adaptive band sizing changes candidate
    // generation cost, never the verified output (exact re-rank ⊆ exact)
    "dd18_embed_lsh_adaptive" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id%20=0),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM planted),
        |n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS BIGINT) AS dot
        |FROM n a, n b
        |WHERE a.vec_id < b.vec_id
        |  AND CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(a.n2*b.n2 AS DOUBLE)) >= 0.99
        |ORDER BY a, b""".stripMargin,

    "dd5_embed_cosine" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id%20=0),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM planted),
        |n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS BIGINT) AS dot
        |FROM n a, n b
        |WHERE a.vec_id < b.vec_id
        |  AND CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(a.n2*b.n2 AS DOUBLE)) >= 0.99
        |ORDER BY a, b""".stripMargin,

    // SemDeDup: the ann3 assignment algebra over the dd5 planted relation,
    // then exact within-cell pairs only (cell blocking IS the operator)
    "dd12_semdedup" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id%20=0),
        |vecs AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM planted),
        |nv AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM vecs),
        |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, v, n2, cell FROM (
        |    SELECT e.vec_id, e.v, e.n2, c.cell,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |             c.cell) AS rn
        |    FROM nv e CROSS JOIN cents c) t
        |  WHERE rn = 1 AND n2 > 0)
        |SELECT a, b, cosine FROM (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    CAST(list_sum(list_transform(list_zip(l.v, r.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(l.n2 AS DOUBLE) * CAST(r.n2 AS DOUBLE)) AS cosine
        |  FROM assign l JOIN assign r
        |    ON l.cell = r.cell AND l.vec_id < r.vec_id) t
        |WHERE cosine >= 0.99
        |ORDER BY a, b""".stripMargin,

    // dd19: dd12's algebra with the adaptive cell count — K is a pure
    // function of the corpus count (1 << bitlen(floor(sqrt(n))), clamped
    // [16,1024]), identical to Ann.adaptiveCells
    "dd19_semdedup_adaptive" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id%20=0),
        |kk AS (
        |  SELECT GREATEST(16, LEAST(1024, 1 << LENGTH(bin(
        |    CAST(FLOOR(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))))) AS k
        |  FROM planted),
        |vecs AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM planted),
        |nv AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM vecs),
        |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv
        |  WHERE vec_id < (SELECT k FROM kk)),
        |assign AS (
        |  SELECT vec_id, v, n2, cell FROM (
        |    SELECT e.vec_id, e.v, e.n2, c.cell,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |             c.cell) AS rn
        |    FROM nv e CROSS JOIN cents c) t
        |  WHERE rn = 1 AND n2 > 0)
        |SELECT a, b, cosine FROM (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    CAST(list_sum(list_transform(list_zip(l.v, r.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(l.n2 AS DOUBLE) * CAST(r.n2 AS DOUBLE)) AS cosine
        |  FROM assign l JOIN assign r
        |    ON l.cell = r.cell AND l.vec_id < r.vec_id) t
        |WHERE cosine >= 0.99
        |ORDER BY a, b""".stripMargin,

    // full oracle for the LSH-bucketed ANN: identical md5-parity hyperplane
    // family, 12-bit signatures, hamming<=2 probe, exact integer re-rank
    "ann2_topk_cosine_lsh" -> {
      def proj(p: Int): String =
        s"""list_sum(list_transform(range(1, len(v) + 1), i ->
           |      v[i] * (CASE WHEN CAST(('0x' || substr(md5('$p|' || (i-1)), 1, 15)) AS BIGINT) % 2 = 0
           |              THEN 1 ELSE -1 END)))""".stripMargin
      val sigExpr = (0 until 12).map(p =>
        s"(CASE WHEN ${proj(p)} > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
        .mkString("\n    + ")
      s"""WITH q0 AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, v,
         |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q0),
         |sigs AS (
         |  SELECT vec_id, v, n2,
         |    $sigExpr AS sig
         |  FROM n),
         |qv AS (SELECT v, n2, sig FROM sigs WHERE vec_id = 0 AND n2 > 0)
         |SELECT s.vec_id,
         |  CAST(CAST(list_sum(list_transform(list_zip(s.v, q.v), p -> p[1]*p[2])) AS BIGINT) AS DOUBLE)
         |    / sqrt(CAST(s.n2 AS DOUBLE) * CAST(q.n2 AS DOUBLE)) AS cosine
         |FROM sigs s, qv q
         |WHERE s.vec_id <> 0 AND s.n2 > 0 AND bit_count(xor(s.sig, q.sig)) <= 2
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    },

    // repeated fixed-window passages across documents: same tokenization,
    // chunk starts at 1, 1+W, … (range step), md5 passage key; final chunks
    // shorter than minTail tokens are dropped (trailing-stop-word guard)
    "dd9_passage_dedup" ->
      s"""WITH $corpusCte,
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             t -> t <> '') AS ts
         |  FROM corpus),
         |pass AS (
         |  SELECT doc_id, array_to_string(ts[i:i+${Dd9W - 1}], ' ') AS p
         |  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts)+1, $Dd9W)) AS i
         |        FROM toks WHERE len(ts) > 0) t
         |  WHERE len(ts) - i + 1 >= $Dd9MinTail)
         |SELECT md5(p) AS passage_hash, COUNT(DISTINCT doc_id) AS n_docs,
         |       COUNT(*) AS n_occurrences, MIN(doc_id) AS canonical_doc
         |FROM pass GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
         |ORDER BY passage_hash""".stripMargin,

    // decontamination: md5-permille split of the planted corpus, distinct
    // 5-gram overlap of train docs against the test split's gram set (short
    // docs contribute their whole text as one gram, like the Spark side)
    "dc2_exact_substring" ->
      s"""WITH $corpusCte,
         |lbl AS (
         |  SELECT doc_id, text,
         |    CASE WHEN slot < $SplitValPm THEN 'val'
         |         WHEN slot < ${SplitValPm + SplitTestPm} THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM (
         |    SELECT doc_id, text,
         |      CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS slot
         |    FROM corpus) s),
         |sn AS (
         |  SELECT doc_id AS snippet_doc, substr(text, 1, $Dc2Snippet) AS snippet
         |  FROM lbl WHERE split = 'test' AND length(substr(text, 1, $Dc2Snippet)) >= $Dc2Snippet),
         |tr AS (SELECT doc_id, text FROM lbl WHERE split = 'train')
         |SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  MIN(snippet_doc) AS first_snippet_doc
         |FROM tr JOIN sn
         |  ON instr(tr.text, sn.snippet) > 0 AND tr.doc_id <> sn.snippet_doc
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    // fuzzy decontamination: the dd2 signature/band algebra, but candidates
    // come from a train-band x test-band join over the dc1 split instead of
    // a self-join; sim is the same /16 component fraction (engine-exact)
    "dc3_fuzzy_contamination" -> {
      val simExpr = (0 until 16).map(i =>
        s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $corpusCte,
         |lbl AS (
         |  SELECT doc_id, text,
         |    CASE WHEN slot < $SplitValPm THEN 'val'
         |         WHEN slot < ${SplitValPm + SplitTestPm} THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM (
         |    SELECT doc_id, text,
         |      CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS slot
         |    FROM corpus) s),
         |tt AS (SELECT doc_id, text FROM lbl WHERE split IN ('train', 'test')),
         |${shinglesCte("tt")},
         |sh2 AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h1,
         |         CAST(('0x' || substr(md5(sh), 17, 15)) AS BIGINT) AS h2
         |  FROM sh),
         |sigs AS (
         |  SELECT doc_id,
         |${(0 until 16).map(i => s"    MIN(xor(h1, h2 >> $i)) AS h$i").mkString(",\n")}
         |  FROM sh2 GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id,
         |${(0 until 4).map(b => s"    CONCAT(h${b * 4},'|',h${b * 4 + 1},'|',h${b * 4 + 2},'|',h${b * 4 + 3}) AS b$b").mkString(",\n")}
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l
         |  JOIN lbl sl ON sl.doc_id = l.doc_id AND sl.split = 'train'
         |  JOIN bands r ON (l.b0 = r.b0 OR l.b1 = r.b1 OR l.b2 = r.b2 OR l.b3 = r.b3)
         |  JOIN lbl sr ON sr.doc_id = r.doc_id AND sr.split = 'test')
         |SELECT a AS doc_id, b AS eval_doc_id, sim FROM (
         |  SELECT c.a, c.b, CAST($simExpr AS DOUBLE) / 16 AS sim
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.a
         |  JOIN sigs sb ON sb.doc_id = c.b) t
         |WHERE sim >= $Dc3Sim
         |ORDER BY doc_id, eval_doc_id""".stripMargin
    },

    "dc1_decontaminate" ->
      s"""WITH $corpusCte,
         |lbl AS (
         |  SELECT doc_id, text,
         |    CASE WHEN slot < $SplitValPm THEN 'val'
         |         WHEN slot < ${SplitValPm + SplitTestPm} THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM (
         |    SELECT doc_id, text,
         |      CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS slot
         |    FROM corpus) s),
         |toks AS (
         |  SELECT doc_id, split, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                                    t -> t <> '') AS ts
         |  FROM lbl WHERE split IN ('test', 'train')),
         |grams AS (
         |  SELECT DISTINCT doc_id, split, g FROM (
         |    SELECT doc_id, split,
         |           UNNEST(list_transform(range(1, len(ts) - ${Dc1N - 2}), i -> array_to_string(ts[i:i+${Dc1N - 1}], ' '))) AS g
         |    FROM toks WHERE len(ts) >= $Dc1N
         |    UNION ALL
         |    SELECT doc_id, split, array_to_string(ts, ' ') AS g
         |    FROM toks WHERE len(ts) BETWEEN 1 AND ${Dc1N - 1}) u),
         |ev AS (SELECT DISTINCT g FROM grams WHERE split = 'test')
         |SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_hit_grams, MIN(t.g) AS first_gram
         |FROM grams t JOIN ev ON ev.g = t.g
         |WHERE t.split = 'train'
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // batch k-NN join: identical integer quantization/dot/norm arithmetic,
    // per-query ROW_NUMBER rank with vec_id tie-break
    "ann4_knn_join" ->
      s"""WITH q0 AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, v,
         |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q0),
         |qs AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id % $Ann4Every = 0 AND n2 > 0)
         |SELECT q_id, vec_id, cosine, rk FROM (
         |  SELECT q.q_id, c.vec_id,
         |    CAST(list_sum(list_transform(list_zip(c.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |      / sqrt(CAST(c.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(c.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(c.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, c.vec_id) AS BIGINT) AS rk
         |  FROM n c, qs q
         |  WHERE c.vec_id <> q.q_id AND c.n2 > 0) t
         |WHERE rk <= $Ann4K ORDER BY q_id, rk""".stripMargin,

    // hard-negative mining: ann4's arithmetic + label filter and the
    // 0.95 dup ceiling BEFORE the per-anchor rank
    "ann13_hard_negatives" ->
      s"""WITH q0 AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, label, v,
         |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM q0),
         |qs AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, n2 AS qn2
         |       FROM n WHERE vec_id % $Ann4Every = 0 AND n2 > 0),
         |sc AS (
         |  SELECT q.q_id, c.vec_id, c.label,
         |    CAST(list_sum(list_transform(list_zip(c.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |      / sqrt(CAST(c.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) AS cosine
         |  FROM n c, qs q
         |  WHERE c.vec_id <> q.q_id AND c.n2 > 0 AND c.label <> q.q_label)
         |SELECT q_id, vec_id, label, cosine, rk FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
         |  FROM sc WHERE cosine < 0.95) t
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // exact chain (ann4's) + IVF chain (ann8's) as CTEs; recall counts the
    // intersection per probe
    "ann12_recall" ->
      s"""WITH vecs AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |nv AS (
         |  SELECT vec_id, v,
         |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM vecs),
         |qs AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM nv
         |       WHERE vec_id % $Ann4Every = 0 AND vec_id < $Ann12MaxId
         |         AND n2 > 0),
         |ex AS (SELECT q_id, vec_id FROM (
         |  SELECT q.q_id, c.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(c.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(c.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, c.vec_id) AS rk
         |  FROM nv c, qs q
         |  WHERE c.vec_id <> q.q_id AND c.n2 > 0) t
         |  WHERE rk <= $Ann4K),
         |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, n2, cell FROM (
         |    SELECT e.vec_id, e.v, e.n2, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM nv e CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |qprobe AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM qs q CROSS JOIN cents c) t
         |  WHERE rn <= 4),
         |ap AS (SELECT q_id, vec_id FROM (
         |  SELECT q.q_id, a.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(a.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, a.vec_id) AS rk
         |  FROM assign a
         |  JOIN qprobe p ON a.cell = p.cell
         |  JOIN qs q ON q.q_id = p.q_id
         |  WHERE a.vec_id <> q.q_id AND a.n2 > 0) t
         |  WHERE rk <= $Ann4K),
         |hit AS (SELECT ap.q_id, COUNT(*) AS n_hit
         |        FROM ap JOIN ex ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
         |        GROUP BY 1),
         |exn AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
         |SELECT exn.q_id, n_exact,
         |       COALESCE(n_hit, CAST(0 AS BIGINT)) AS n_hit,
         |       COALESCE(n_hit, 0) * 10000 // n_exact AS recall_bp
         |FROM exn LEFT JOIN hit ON exn.q_id = hit.q_id
         |ORDER BY exn.q_id""".stripMargin,

    // the ann12 chains over the synthesized clustered corpus; the rep
    // quantization is integer-exact so list arithmetic matches bit-for-bit
    "ann16_recall_clustered" ->
      s"""WITH cbase AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
         |creps AS (SELECT vec_id AS rep_id, embedding AS rep_emb
         |          FROM cbase WHERE vec_id < 40),
         |ccl AS (
         |  SELECT b.vec_id,
         |    list_transform(r.rep_emb, x ->
         |      round(CAST(x AS DOUBLE)*1000) + (b.vec_id % 7 - 3)) AS vraw
         |  FROM cbase b JOIN creps r ON r.rep_id = b.vec_id % 40),
         |vecs AS (SELECT vec_id,
         |           list_transform(vraw, x -> CAST(x * 1000 AS BIGINT))
         |             AS v
         |         FROM ccl),
         |nv AS (
         |  SELECT vec_id, v,
         |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM vecs),
         |qs AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM nv
         |       WHERE vec_id % $Ann4Every = 0 AND vec_id < $Ann12MaxId
         |         AND n2 > 0),
         |ex AS (SELECT q_id, vec_id FROM (
         |  SELECT q.q_id, c.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(c.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(c.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, c.vec_id) AS rk
         |  FROM nv c, qs q
         |  WHERE c.vec_id <> q.q_id AND c.n2 > 0) t
         |  WHERE rk <= $Ann4K),
         |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, n2, cell FROM (
         |    SELECT e.vec_id, e.v, e.n2, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM nv e CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |qprobe AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM qs q CROSS JOIN cents c) t
         |  WHERE rn <= 4),
         |ap AS (SELECT q_id, vec_id FROM (
         |  SELECT q.q_id, a.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(a.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, a.vec_id) AS rk
         |  FROM assign a
         |  JOIN qprobe p ON a.cell = p.cell
         |  JOIN qs q ON q.q_id = p.q_id
         |  WHERE a.vec_id <> q.q_id AND a.n2 > 0) t
         |  WHERE rk <= $Ann4K),
         |hit AS (SELECT ap.q_id, COUNT(*) AS n_hit
         |        FROM ap JOIN ex ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
         |        GROUP BY 1),
         |exn AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
         |SELECT exn.q_id, n_exact,
         |       COALESCE(n_hit, CAST(0 AS BIGINT)) AS n_hit,
         |       COALESCE(n_hit, 0) * 10000 // n_exact AS recall_bp
         |FROM exn LEFT JOIN hit ON exn.q_id = hit.q_id
         |ORDER BY exn.q_id""".stripMargin,

    // ann12's exact + IVF chains, swept over nprobe via a VALUES join;
    // both knn chains recomputed per probe point as the verdict asked
    "ann15_recall_curve" ->
      s"""WITH vecs AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |nv AS (
         |  SELECT vec_id, v,
         |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM vecs),
         |qs AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM nv
         |       WHERE vec_id % $Ann4Every = 0 AND vec_id < $Ann12MaxId
         |         AND n2 > 0),
         |ex AS (SELECT q_id, vec_id FROM (
         |  SELECT q.q_id, c.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(c.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(c.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, c.vec_id) AS rk
         |  FROM nv c, qs q
         |  WHERE c.vec_id <> q.q_id AND c.n2 > 0) t
         |  WHERE rk <= $Ann4K),
         |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, n2, cell FROM (
         |    SELECT e.vec_id, e.v, e.n2, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM nv e CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |nps(np) AS (VALUES (1), (2), (4), (8), (16)),
         |qprobe AS (
         |  SELECT n.np, t.q_id, t.cell FROM (
         |    SELECT q.q_id, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM qs q CROSS JOIN cents c) t
         |  JOIN nps n ON t.rn <= n.np),
         |ap AS (SELECT np, q_id, vec_id FROM (
         |  SELECT p.np, q.q_id, a.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY p.np, q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(a.v, q.qv), pr -> pr[1]*pr[2])) AS DOUBLE)
         |        / sqrt(CAST(a.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, a.vec_id) AS rk
         |  FROM assign a
         |  JOIN qprobe p ON a.cell = p.cell
         |  JOIN qs q ON q.q_id = p.q_id
         |  WHERE a.vec_id <> q.q_id AND a.n2 > 0) t
         |  WHERE rk <= $Ann4K),
         |hit AS (SELECT np, ap.q_id, COUNT(*) AS n_hit
         |        FROM ap JOIN ex ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
         |        GROUP BY 1, 2),
         |exn AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1),
         |per AS (SELECT n.np, e.q_id, COALESCE(h.n_hit, 0) AS n_hit,
         |          e.n_exact
         |        FROM nps n CROSS JOIN exn e
         |        LEFT JOIN hit h ON h.np = n.np AND h.q_id = e.q_id)
         |SELECT np AS nprobe, COUNT(*) AS n_q,
         |  CAST(SUM(n_hit) * 10000 // SUM(n_exact) AS BIGINT) AS micro_bp,
         |  MIN(n_hit * 10000 // n_exact) AS min_bp,
         |  MAX(n_hit * 10000 // n_exact) AS max_bp
         |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "ann14_hard_negatives_ivf" ->
      s"""WITH vecs AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |nv AS (
         |  SELECT vec_id, label, v,
         |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM vecs),
         |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, label, v, n2, cell FROM (
         |    SELECT e.vec_id, e.label, e.v, e.n2, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM nv e CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |qs AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, n2 AS qn2
         |       FROM nv WHERE vec_id % $Ann4Every = 0 AND n2 > 0),
         |qprobe AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM qs q CROSS JOIN cents c) t
         |  WHERE rn <= 4)
         |SELECT q_id, vec_id, label, cosine, rk FROM (
         |  SELECT q.q_id, a.vec_id, a.label,
         |    CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(a.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, a.vec_id) AS BIGINT) AS rk
         |  FROM assign a
         |  JOIN qprobe p ON a.cell = p.cell
         |  JOIN qs q ON q.q_id = p.q_id
         |  WHERE a.vec_id <> q.q_id AND a.n2 > 0 AND a.label <> q.q_label
         |    AND CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(a.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) < 0.95) t
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "ann8_knn_join_ivf" ->
      s"""WITH vecs AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |nv AS (
         |  SELECT vec_id, v,
         |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM vecs),
         |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, n2, cell FROM (
         |    SELECT e.vec_id, e.v, e.n2, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM nv e CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |qs AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM nv
         |       WHERE vec_id % $Ann4Every = 0 AND n2 > 0),
         |qprobe AS (
         |  SELECT q_id, cell FROM (
         |    SELECT q.q_id, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM qs q CROSS JOIN cents c) t
         |  WHERE rn <= 4)
         |SELECT q_id, vec_id, cosine, rk FROM (
         |  SELECT q.q_id, a.vec_id,
         |    CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS DOUBLE)
         |        / sqrt(CAST(a.n2 AS DOUBLE) * CAST(q.qn2 AS DOUBLE)) DESC, a.vec_id) AS BIGINT) AS rk
         |  FROM assign a
         |  JOIN qprobe p ON a.cell = p.cell
         |  JOIN qs q ON q.q_id = p.q_id
         |  WHERE a.vec_id <> q.q_id AND a.n2 > 0) t
         |WHERE rk <= $Ann4K ORDER BY q_id, rk""".stripMargin,

    "ann1_topk_dot" ->
      """WITH q AS (
        |  SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(list_sum(list_transform(list_zip(
        |    list_transform(e.embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)), q.qv),
        |    p -> p[1]*p[2])) AS BIGINT) AS dot
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin,

    // full IVF replica: deterministic flat codebook (vec_id < 16), integer
    // L2 assignment with lowest-cell tie-break, 4-cell probe, exact cosine
    // re-rank — integer arithmetic end to end
    "ann3_topk_cosine_ivf" ->
      """WITH vecs AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |nv AS (
        |  SELECT vec_id, v,
        |         CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM vecs),
        |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, v, n2, cell FROM (
        |    SELECT e.vec_id, e.v, e.n2, c.cell,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |             c.cell) AS rn
        |    FROM nv e CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |q AS (SELECT v AS qv, n2 AS qn2 FROM nv WHERE vec_id = 7),
        |qprobe AS (
        |  SELECT cell FROM (
        |    SELECT c.cell,
        |           ROW_NUMBER() OVER (ORDER BY
        |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |             c.cell) AS rn
        |    FROM cents c, q) t
        |  WHERE rn <= 4)
        |SELECT vec_id, CAST(dot AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE) * CAST(qn2 AS DOUBLE)) AS cosine
        |FROM (
        |  SELECT a.vec_id, a.n2, q.qn2,
        |         CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS BIGINT) AS dot
        |  FROM assign a, q
        |  WHERE a.cell IN (SELECT cell FROM qprobe)
        |    AND a.vec_id <> 7 AND a.n2 > 0) t
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    // identical algebra to ann3 (the index write/read roundtrip must not
    // change a single probe result) with the ann9 query id interpolated
    "ann9_ivf_indexed" ->
      s"""WITH vecs AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |nv AS (
         |  SELECT vec_id, v,
         |         CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
         |  FROM vecs),
         |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, n2, cell FROM (
         |    SELECT e.vec_id, e.v, e.n2, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM nv e CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |q AS (SELECT v AS qv, n2 AS qn2 FROM nv WHERE vec_id = $Ann9Query),
         |qprobe AS (
         |  SELECT cell FROM (
         |    SELECT c.cell,
         |           ROW_NUMBER() OVER (ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM cents c, q) t
         |  WHERE rn <= 4)
         |SELECT vec_id, CAST(dot AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE) * CAST(qn2 AS DOUBLE)) AS cosine
         |FROM (
         |  SELECT a.vec_id, a.n2, q.qn2,
         |         CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS BIGINT) AS dot
         |  FROM assign a, q
         |  WHERE a.cell IN (SELECT cell FROM qprobe)
         |    AND a.vec_id <> $Ann9Query AND a.n2 > 0) t
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    // incremental-index probe: append ≡ rebuild under the frozen codebook,
    // so the oracle is the identical full-corpus formulation, query inside
    // the appended batch
    "ann10_ivf_append" ->
      s"""WITH vecs AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |nv AS (
         |  SELECT vec_id, v,
         |         CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
         |  FROM vecs),
         |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, v, n2, cell FROM (
         |    SELECT e.vec_id, e.v, e.n2, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM nv e CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |q AS (SELECT v AS qv, n2 AS qn2 FROM nv WHERE vec_id = $Ann10Query),
         |qprobe AS (
         |  SELECT cell FROM (
         |    SELECT c.cell,
         |           ROW_NUMBER() OVER (ORDER BY
         |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) AS BIGINT),
         |             c.cell) AS rn
         |    FROM cents c, q) t
         |  WHERE rn <= 4)
         |SELECT vec_id, CAST(dot AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE) * CAST(qn2 AS DOUBLE)) AS cosine
         |FROM (
         |  SELECT a.vec_id, a.n2, q.qn2,
         |         CAST(list_sum(list_transform(list_zip(a.v, q.qv), p -> p[1]*p[2])) AS BIGINT) AS dot
         |  FROM assign a, q
         |  WHERE a.cell IN (SELECT cell FROM qprobe)
         |    AND a.vec_id <> $Ann10Query AND a.n2 > 0) t
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    // same assignment CTE as ann3, then per-(cell,dim) exact integer sums;
    // dims explode via range-UNNEST (1-based list index -> 0-based dim)
    // same quantization as every ann gate; centroid = per-dim exact integer
    // seed sums re-assembled into a list (cos(v, mean) == cos(v, sum))
    // same exact-integer features and frozen weights; token list built by
    // the tx13-parity split, stop hits via the shared corpus stoplist
    "qf2_quality_classifier" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                    t -> t <> '')) AS n_tok,
         |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                    t -> t IN (${Tx20Stop.map(w => s"'$w'").mkString(",")}))) AS n_stop,
         |    length(text) AS n_chars
         |  FROM documents),
         |g AS (SELECT doc_id, n_tok, n_stop, n_chars,
         |        (n_chars * 1000) // greatest(n_tok, 1) AS mwl_u FROM f)
         |SELECT doc_id,
         |  $Qf2Bias + $Qf2WStop * n_stop + $Qf2WTok * n_tok +
         |    $Qf2WChar * n_chars + $Qf2WMwl * mwl_u AS logit_u,
         |  ($Qf2Bias + $Qf2WStop * n_stop + $Qf2WTok * n_tok +
         |    $Qf2WChar * n_chars + $Qf2WMwl * mwl_u) > 0 AS keep
         |FROM g ORDER BY doc_id""".stripMargin,

    "tx24_ngram_diversity" ->
      s"""WITH toks AS (
         |  SELECT source,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                     t -> t <> '') AS ts
         |  FROM documents),
         |g AS (
         |  SELECT source, ns.n AS n,
         |         array_to_string(ts[i.i : i.i + ns.n - 1], ' ') AS g
         |  FROM toks,
         |       (SELECT UNNEST([1, 2, 3]) AS n) ns,
         |       UNNEST(range(1, greatest(len(ts) - ns.n + 1, 0) + 1)) AS i(i))
         |SELECT source, n, CAST(COUNT(*) AS BIGINT) AS total_n,
         |       CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_n,
         |       COUNT(DISTINCT g) * 10000 // COUNT(*) AS ratio_bp
         |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the Viterbi DP unrolls to a Tx22MaxWordLen-deep CTE chain: B_j holds
    // best (cost·64+pieces) for every word prefix of length ≤ j
    "tx22_unigram_encode" -> {
      s"""WITH $tx22OracleCte
         |SELECT word, freq, cost_u, n_pieces FROM enc ORDER BY word""".stripMargin
    },

    // per-doc totals under the same DP chain; the enc relation is
    // vocab-sized, the corpus side is one token explode
    "tx23_unigram_apply" ->
      s"""WITH $tx22OracleCte,
         |toks AS (
         |  SELECT doc_id,
         |         UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                            t -> t <> '')) AS word
         |  FROM documents)
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |       CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
         |       CAST(SUM(e.cost_u) AS BIGINT) AS cost_u
         |FROM toks t JOIN enc e USING (word)
         |GROUP BY 1 ORDER BY t.doc_id""".stripMargin,


    "rrf1_hybrid_rank" ->
      s"""WITH nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         |nv AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
         |tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id,
         |          UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             t -> t <> '')) AS token
         |        FROM documents)
         |  WHERE token IN (${Rrf1Toks.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2),
         |idf AS (SELECT token, ln((n_docs + 1) / (CAST(COUNT(*) AS DOUBLE) + 1)) AS idf
         |        FROM tf, nd GROUP BY token, n_docs),
         |lex AS (
         |  SELECT doc_id, SUM(CAST(trunc(CAST(CAST(tf.tf * idf.idf AS REAL) AS DOUBLE)
         |                              * 1e6) AS BIGINT)) AS lex_score
         |  FROM tf JOIN idf USING (token) GROUP BY 1),
         |lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
         |           ORDER BY lex_score DESC, doc_id) AS BIGINT) AS rank_lex
         |         FROM (SELECT * FROM lex ORDER BY lex_score DESC, doc_id LIMIT $Rrf1Depth)),
         |q AS (SELECT list_transform(embedding,
         |        x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
         |      FROM embeddings WHERE vec_id = $Rrf1QVec),
         |dv AS (
         |  SELECT d.doc_id,
         |    CAST(list_sum(list_transform(list_zip(
         |      list_transform(e.embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)),
         |      q.qv), p -> p[1]*p[2])) AS BIGINT) AS dot
         |  FROM documents d, nv, q
         |  JOIN embeddings e ON e.vec_id = d.doc_id % nv.n_vecs),
         |vecr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
         |           ORDER BY dot DESC, doc_id) AS BIGINT) AS rank_vec
         |         FROM (SELECT * FROM dv ORDER BY dot DESC, doc_id LIMIT $Rrf1Depth))
         |SELECT doc_id, rank_lex, rank_vec,
         |  COALESCE(1000000 // ($Rrf1C + rank_lex), 0) +
         |    COALESCE(1000000 // ($Rrf1C + rank_vec), 0) AS rrf_u
         |FROM lexr FULL OUTER JOIN vecr USING (doc_id)
         |ORDER BY rrf_u DESC, doc_id LIMIT $Rrf1Out""".stripMargin,

    "qf3_dsir_select" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % $Qf3B AS b
         |  FROM (SELECT doc_id, lang,
         |          UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             t -> t <> '')) AS t
         |        FROM documents)),
         |w AS (SELECT b,
         |        CAST((1000000 * (SUM(CASE WHEN lang = '$Qf3Lang' THEN 1 ELSE 0 END) + 1))
         |          // (COUNT(*) + 1) AS BIGINT) AS w_u
         |      FROM tok GROUP BY 1),
         |sc AS (SELECT t.doc_id, t.lang, COUNT(*) AS n_tok,
         |              CAST(SUM(w.w_u) AS BIGINT) AS sum_w
         |       FROM tok t JOIN w USING (b) GROUP BY 1, 2)
         |SELECT doc_id, lang, n_tok, CAST(sum_w // n_tok AS BIGINT) AS score_u
         |FROM sc ORDER BY score_u DESC, doc_id LIMIT $Qf3K""".stripMargin,

    "qf1_domain_affinity" ->
      s"""WITH vecs AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |nv AS (
         |  SELECT vec_id, v,
         |         CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
         |  FROM vecs),
         |seeds AS (SELECT v FROM nv WHERE vec_id % $Qf1SeedMod = 0 AND n2 > 0),
         |ex AS (
         |  SELECT i, CAST(SUM(v[CAST(i AS INT)]) AS BIGINT) AS s
         |  FROM seeds, UNNEST(range(1, len(v) + 1)) AS u(i)
         |  GROUP BY i),
         |c AS (SELECT list(s ORDER BY i) AS cv,
         |             CAST(SUM(s * s) AS BIGINT) AS cn2 FROM ex)
         |SELECT vec_id,
         |       CAST(dot AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS affinity
         |FROM (
         |  SELECT e.vec_id, e.n2, c.cn2,
         |         CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT) AS dot
         |  FROM nv e, c WHERE e.n2 > 0) t
         |ORDER BY vec_id""".stripMargin,

    "ann5_ivf_retrain" ->
      """WITH vecs AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |nv AS (
        |  SELECT vec_id, v,
        |         CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM vecs),
        |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM nv WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cell,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |             c.cell) AS rn
        |    FROM nv e CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |ex AS (
        |  SELECT cell, i - 1 AS dim, v[CAST(i AS INT)] AS x
        |  FROM assign, UNNEST(range(1, len(v) + 1)) AS u(i))
        |SELECT cell, dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |       CAST(SUM(x) AS BIGINT) AS sum_q,
        |       CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_q
        |FROM ex GROUP BY cell, dim ORDER BY cell, dim""".stripMargin,

    // three chained iteration CTEs, each one join + one decimal-exact
    // aggregation — the same dataflow as the Spark rounds; per-row math is
    // IEEE double in the identical op order
    "gr1_pagerank" -> {
      def iter(prev: String, out: String) =
        s"""$out AS (
          |  SELECT nd.node, (1.0 - $Gr1Damping)/nn.n + COALESCE(s.recv, 0.0) AS pr
          |  FROM nodes nd CROSS JOIN nn
          |  LEFT JOIN (
          |    SELECT e.dst,
          |      CAST(CAST(SUM(CAST(p.pr / d.out_deg * $Gr1Damping AS DECIMAL(18,13))) AS VARCHAR) AS DOUBLE) AS recv
          |    FROM edges e JOIN $prev p ON e.src = p.node
          |    JOIN deg d ON e.src = d.src
          |    GROUP BY e.dst) s ON nd.node = s.dst)""".stripMargin
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id*31 + j.j) % nn.n AS dst
        |  FROM documents CROSS JOIN nn, UNNEST(range(1, ${Gr1Fanout + 1})) AS j(j)),
        |deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |p0 AS (SELECT node, CAST(1.0 AS DOUBLE)/nn.n AS pr FROM nodes CROSS JOIN nn),
        |${iter("p0", "p1")},
        |${iter("p1", "p2")},
        |${iter("p2", "p3")}
        |SELECT node, pr FROM p3 ORDER BY node""".stripMargin
    },

    // oriented wedge join: canon a<b edges, (a,b)x(b,c) closed by (a,c)
    "gr2_triangles" ->
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS src, (doc_id*31 + j.j) % nn.n AS dst
        |  FROM documents CROSS JOIN nn, UNNEST(range(1, ${Gr1Fanout + 1})) AS j(j)),
        |canon AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE src <> dst),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM canon e1 JOIN canon e2 ON e1.b = e2.a
        |  WHERE EXISTS (SELECT 1 FROM canon e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
        |m AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM m GROUP BY node ORDER BY node""".stripMargin,

    // weighted union-min relax per round: d_k(v) = min path weight ≤ k hops
    "gr4_shortest_paths" -> {
      def round(prev: String, out: String) =
        s"""$out AS (
          |  SELECT node, MIN(d) AS d FROM (
          |    SELECT node, d FROM $prev
          |    UNION ALL
          |    SELECT e.dst AS node, p.d + e.w AS d
          |    FROM edges e JOIN $prev p ON e.src = p.node)
          |  GROUP BY node)""".stripMargin
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |edges AS (
        |  SELECT src, dst, (src + dst) % 7 + 1 AS w FROM (
        |    SELECT doc_id AS src, (doc_id*31 + j.j) % nn.n AS dst
        |    FROM documents CROSS JOIN nn,
        |         UNNEST(range(1, ${Gr1Fanout + 1})) AS j(j))),
        |d0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS d FROM documents
        |       WHERE doc_id % $Gr3SeedMod = 0),
        |${(1 to Gr4Rounds).map(i => round(s"d${i - 1}", s"d$i")).mkString(",\n")}
        |SELECT node, d FROM d$Gr4Rounds ORDER BY node, d""".stripMargin
    },

    // union-min closure per round ≡ frontier BFS: d_k(v) = min hops ≤ k
    "gr3_bfs_hops" -> {
      def round(prev: String, out: String) =
        s"""$out AS (
          |  SELECT node, MIN(d) AS d FROM (
          |    SELECT node, d FROM $prev
          |    UNION ALL
          |    SELECT e.dst AS node, p.d + 1 AS d
          |    FROM edges e JOIN $prev p ON e.src = p.node)
          |  GROUP BY node)""".stripMargin
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id*31 + j.j) % nn.n AS dst
        |  FROM documents CROSS JOIN nn, UNNEST(range(1, ${Gr1Fanout + 1})) AS j(j)),
        |d0 AS (SELECT doc_id AS node, 0 AS d FROM documents
        |       WHERE doc_id % $Gr3SeedMod = 0),
        |${(1 to Gr3Depth).map(i => round(s"d${i - 1}", s"d$i")).mkString(",\n")}
        |SELECT node, d FROM d$Gr3Depth ORDER BY node, d""".stripMargin
    },

    "ann7_int8_quant" ->
      """WITH vecs AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, v,
        |         CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT) AS vmax
        |  FROM vecs),
        |codes AS (
        |  SELECT vec_id, vmax, CAST(len(v) AS BIGINT) AS n_dims,
        |    list_transform(v, x -> CASE WHEN x < 0
        |      THEN -((2*abs(x)*127 + vmax) // (2*vmax))
        |      ELSE (2*abs(x)*127 + vmax) // (2*vmax) END) AS cs
        |  FROM sc WHERE vmax > 0)
        |SELECT vec_id, n_dims, vmax AS scale_q,
        |  CAST(list_sum(cs) AS BIGINT) AS code_sum,
        |  md5(array_to_string(cs, ',')) AS code_hash
        |FROM codes ORDER BY vec_id""".stripMargin,

    // PQ-ADC: per-(vector, subspace) nearest-centroid codes, then the
    // query-to-centroid distance table joined back on (subspace, code);
    // everything is exact integer L2 so the compare is bit-for-bit
    "ann6_pq_adc" -> {
      val ds = 64 / Ann6M
      s"""WITH vecs AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |sv AS (
        |  SELECT vec_id, CAST(s.sub AS INT) AS sub,
        |         v[CAST(s.sub*$ds+1 AS INT):CAST((s.sub+1)*$ds AS INT)] AS sv
        |  FROM vecs, UNNEST(range(0, $Ann6M)) AS s(sub)),
        |cents AS (
        |  SELECT vec_id AS code, sub, sv AS cv FROM sv WHERE vec_id < $Ann6Codes),
        |assign AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT sv.vec_id, sv.sub, c.code,
        |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
        |        CAST(list_sum(list_transform(c.cv, x -> x*x)) AS BIGINT)
        |          - 2*CAST(list_sum(list_transform(list_zip(sv.sv, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |        c.code) AS rn
        |    FROM sv JOIN cents c USING (sub)) t
        |  WHERE rn = 1),
        |qd AS (
        |  SELECT c.sub, c.code,
        |    CAST(list_sum(list_transform(list_zip(q.sv, c.cv),
        |                                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
        |  FROM cents c JOIN (SELECT sub, sv FROM sv WHERE vec_id = $Ann6Query) q USING (sub))
        |SELECT vec_id, CAST(SUM(d) AS BIGINT) AS adc_dist
        |FROM assign JOIN qd USING (sub, code)
        |WHERE vec_id <> $Ann6Query
        |GROUP BY vec_id
        |ORDER BY adc_dist, vec_id LIMIT $Ann6TopK""".stripMargin
    },

    // materialized-PQ-index probe: codes are a pure function of (vector,
    // codebook), so the oracle is the identical assignment formulation
    "ann11_pq_indexed" -> {
      val ds = 64 / Ann6M
      s"""WITH vecs AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |sv AS (
        |  SELECT vec_id, CAST(s.sub AS INT) AS sub,
        |         v[CAST(s.sub*$ds+1 AS INT):CAST((s.sub+1)*$ds AS INT)] AS sv
        |  FROM vecs, UNNEST(range(0, $Ann6M)) AS s(sub)),
        |cents AS (
        |  SELECT vec_id AS code, sub, sv AS cv FROM sv WHERE vec_id < $Ann6Codes),
        |assign AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT sv.vec_id, sv.sub, c.code,
        |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
        |        CAST(list_sum(list_transform(c.cv, x -> x*x)) AS BIGINT)
        |          - 2*CAST(list_sum(list_transform(list_zip(sv.sv, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |        c.code) AS rn
        |    FROM sv JOIN cents c USING (sub)) t
        |  WHERE rn = 1),
        |qd AS (
        |  SELECT c.sub, c.code,
        |    CAST(list_sum(list_transform(list_zip(q.sv, c.cv),
        |                                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
        |  FROM cents c JOIN (SELECT sub, sv FROM sv WHERE vec_id = $Ann11Query) q USING (sub))
        |SELECT vec_id, CAST(SUM(d) AS BIGINT) AS adc_dist
        |FROM assign JOIN qd USING (sub, code)
        |WHERE vec_id <> $Ann11Query
        |GROUP BY vec_id
        |ORDER BY adc_dist, vec_id LIMIT $Ann6TopK""".stripMargin
    },

    "tx1_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_measured,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_pieces
        |FROM documents ORDER BY doc_id""".stripMargin,

    // duplicate-3-gram fraction: ALL grams (non-distinct) vs distinct count
    "tx7_repetition" ->
      """SELECT doc_id, n_grams, n_distinct,
        |  CASE WHEN n_grams > 0
        |       THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |       ELSE 0.0 END AS dup_ngram_frac
        |FROM (
        |  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
        |         CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN len(ts) >= 3
        |           THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |           ELSE CAST([] AS VARCHAR[]) END AS gs
        |    FROM (SELECT doc_id,
        |            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
        |          FROM documents) t) g) s
        |ORDER BY doc_id""".stripMargin,

    // per-source cap: md5-priority ROW_NUMBER, keep rk <= 20
    "tx8_source_cap" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
         |  FROM documents) t
         |WHERE rk <= $Tx8Cap ORDER BY source, rk""".stripMargin,

    // unigram LM: identical per-token ln()/trunc quantization, exact BIGINT
    // sums; DuckDB's SUM(BIGINT) widens to HUGEINT, so cast back
    "tx9_lm_surprisal" ->
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                                    t -> t <> '')) AS tok
         |  FROM documents),
         |vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab),
         |keyed AS (
         |  SELECT t.doc_id,
         |    CAST(trunc(ln(CAST(tot.n AS DOUBLE) / CAST(v.cnt AS DOUBLE)) * 1e6) AS BIGINT) AS surp_key
         |  FROM toks t JOIN vocab v USING (tok), tot)
         |SELECT doc_id, COUNT(*) AS n_toks,
         |  CAST(SUM(surp_key) AS BIGINT) AS sum_surprisal_key,
         |  CAST(SUM(surp_key) AS BIGINT) // COUNT(*) AS mean_surprisal_key
         |FROM keyed GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // rules → survivor-trained surprisal → terciles → split, all from the
    // standalone gates' pinned arithmetic
    "pl3_rules_ppl_split" ->
      s"""WITH t0 AS (SELECT doc_id, text,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                t -> t <> '') AS ts
         |  FROM documents),
         |rstats AS (
         |  SELECT doc_id,
         |    CAST(len(ts) AS BIGINT) AS n,
         |    CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0) AS BIGINT) AS sumlen,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS BIGINT) AS symbols,
         |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS aw,
         |    CAST(len(list_intersect(list_distinct(ts),
         |      [${Tx20Stop.map(w => s"'$w'").mkString(",")}])) AS BIGINT) AS sd
         |  FROM t0),
         |surv AS (
         |  SELECT t0.doc_id, ts FROM t0 JOIN rstats USING (doc_id)
         |  WHERE (n >= $Tx20MinWords AND n <= $Tx20MaxWords)
         |    AND (sumlen >= 3*n AND sumlen <= 10*n AND n > 0)
         |    AND (10*symbols <= n) AND (5*aw >= 4*n AND n > 0)
         |    AND (sd >= 2)),
         |toks AS (SELECT doc_id, UNNEST(ts) AS tok FROM surv),
         |vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab),
         |keyed AS (
         |  SELECT t.doc_id,
         |    CAST(trunc(ln(CAST(tot.n AS DOUBLE) / CAST(v.cnt AS DOUBLE)) * 1e6) AS BIGINT) AS surp_key
         |  FROM toks t JOIN vocab v USING (tok), tot),
         |scored AS (
         |  SELECT doc_id, COUNT(*) AS n_toks,
         |    CAST(SUM(surp_key) AS BIGINT) // COUNT(*) AS mk
         |  FROM keyed GROUP BY doc_id),
         |${ccnetBucketSql("scored")},
         |kept AS (SELECT doc_id, n_toks FROM scored JOIN bk USING (mk)
         |         WHERE bucket <= 1),
         |spl AS (
         |  SELECT n_toks,
         |    CASE WHEN slot < $SplitValPm THEN 'val'
         |         WHEN slot < ${SplitValPm + SplitTestPm} THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM (SELECT n_toks,
         |          CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS slot
         |        FROM kept) t)
         |SELECT split, COUNT(*) AS n_docs,
         |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens
         |FROM spl GROUP BY 1 ORDER BY split""".stripMargin,

    // terciles over the tx9 score distribution via the rp1 cumsum formula
    "qf4_ccnet_buckets" ->
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                                    t -> t <> '')) AS tok
         |  FROM documents),
         |vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab),
         |keyed AS (
         |  SELECT t.doc_id,
         |    CAST(trunc(ln(CAST(tot.n AS DOUBLE) / CAST(v.cnt AS DOUBLE)) * 1e6) AS BIGINT) AS surp_key
         |  FROM toks t JOIN vocab v USING (tok), tot),
         |scored AS (
         |  SELECT doc_id, COUNT(*) AS n_toks,
         |    CAST(SUM(surp_key) AS BIGINT) // COUNT(*) AS mk
         |  FROM keyed GROUP BY doc_id),
         |${ccnetBucketSql("scored")}
         |SELECT bucket, COUNT(*) AS n_docs,
         |       CAST(SUM(n_toks) AS BIGINT) AS n_toks,
         |       MIN(mk) AS lo_key, MAX(mk) AS hi_key,
         |       bucket <= 1 AS keep
         |FROM scored JOIN bk USING (mk)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Kneser–Ney: exact BIGINT model counts, ONE fixed double expression
    // for p (IEEE-identical across engines), f32-round-tripped −ln key in
    // micro-units (trunc before the BIGINT cast — DuckDB's cast rounds)
    "tx25_kn_surprisal" ->
      s"""WITH dtoks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             t -> t <> '') AS ts
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, ts[i + 1] AS v, ts[i + 2] AS w
         |  FROM (SELECT doc_id, ts, UNNEST(range(len(ts) - 1)) AS i
         |        FROM dtoks WHERE len(ts) >= 2)),
         |cvw AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c_vw
         |        FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
         |cv AS (SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v,
         |              CAST(COUNT(*) AS BIGINT) AS n1p_v FROM cvw GROUP BY 1),
         |pw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1p_w FROM cvw GROUP BY 1),
         |gl AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cvw) AS n1pp,
         |              (SELECT CAST(COUNT(DISTINCT t) AS BIGINT)
         |               FROM (SELECT UNNEST(ts) AS t FROM dtoks
         |                     WHERE doc_id % 2 = 0) u) AS vsize),
         |keys AS (
         |  SELECT bg.doc_id,
         |    CAST(trunc(CAST(CAST(-ln(
         |      CASE WHEN cv.c_v IS NOT NULL THEN
         |        (greatest(CAST(COALESCE(cvw.c_vw, 0) AS DOUBLE) - 0.75, 0.0)
         |         + 0.75 * CAST(cv.n1p_v AS DOUBLE)
         |           * ((CAST(COALESCE(pw.n1p_w, 0) AS DOUBLE) + 1.0)
         |              / (CAST(gl.n1pp AS DOUBLE) + CAST(gl.vsize AS DOUBLE))))
         |        / CAST(cv.c_v AS DOUBLE)
         |      ELSE (CAST(COALESCE(pw.n1p_w, 0) AS DOUBLE) + 1.0)
         |           / (CAST(gl.n1pp AS DOUBLE) + CAST(gl.vsize AS DOUBLE))
         |      END) AS REAL) AS DOUBLE) * 1e6) AS BIGINT) AS kn_key
         |  FROM bg
         |  LEFT JOIN cvw USING (v, w)
         |  LEFT JOIN cv USING (v)
         |  LEFT JOIN pw USING (w), gl)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(kn_key) AS BIGINT) AS sum_kn_key,
         |  CAST(SUM(kn_key) AS BIGINT) // COUNT(*) AS mean_kn_key
         |FROM keys GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // PII scrub over the planted corpus; regexes stay in the Java∩RE2
    // common subset so counts and the redacted hash agree bit-for-bit
    "tx10_pii_scrub" ->
      s"""WITH pii AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % $PiiMod = 0
         |           THEN text || ' contact p' || CAST(doc_id AS VARCHAR) || '@mail.example.org for details'
         |         WHEN doc_id % $PiiMod = 5
         |           THEN text || ' origin host 10.1.' || CAST(doc_id % 200 AS VARCHAR) || '.77 logged'
         |         ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ipv4,
         |  md5(regexp_replace(regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |                     '${TextAnalysis.Ipv4Re}', '<IP>', 'g')) AS redacted_hash
         |FROM pii ORDER BY doc_id""".stripMargin,

    "ds1_stratified_sample" ->
      s"""SELECT doc_id, source, slot FROM (
         |  SELECT doc_id, source,
         |    CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS slot
         |  FROM documents) t
         |WHERE slot < CASE source
         |  ${Ds1Rates.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")}
         |  ELSE $Ds1Default END
         |ORDER BY doc_id""".stripMargin,

    // mixture resampling: identical integer rate algebra — binding source
    // by IEEE-double n/w ordering (division is exactly rounded, so both
    // engines agree), then exact integer floor-division rates; `//` is
    // DuckDB's integer division (Spark side spells it `div`)
    "ds2_mixture_resample" ->
      s"""WITH w(source, w) AS (VALUES
         |  ${Ds2Weights.sortBy(_._1).map { case (s, v) => s"('$s', CAST($v AS BIGINT))" }.mkString(",\n  ")}),
         |c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
         |j AS (SELECT c.source, c.n, w.w FROM c JOIN w USING (source)),
         |b AS (SELECT n AS bn, w AS bw FROM j
         |      ORDER BY CAST(n AS DOUBLE) / CAST(w AS DOUBLE), source LIMIT 1),
         |r AS (SELECT j.source, j.n AS n_in,
         |             (1000 * b.bn * j.w) // (b.bw * j.n) AS rate_permille
         |      FROM j, b),
         |k AS (
         |  SELECT d.source, COUNT(*) AS n_kept
         |  FROM documents d JOIN r ON d.source = r.source
         |  WHERE CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < r.rate_permille
         |  GROUP BY d.source)
         |SELECT r.source, r.n_in, r.rate_permille,
         |       COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept
         |FROM r LEFT JOIN k ON k.source = r.source
         |ORDER BY r.source""".stripMargin,

    // temperature mixture: same binding-source algebra as ds2 with the
    // weight column replaced by isqrt(n) — floor(sqrt(double)) is exact
    // below 2^51 in both engines, and the rate/keep arithmetic is integer
    "ds4_temperature_mix" ->
      s"""WITH dsk AS (
         |  SELECT doc_id, source FROM documents
         |  WHERE (doc_id // 20) % (CAST(substr(source, 4) AS BIGINT) % 7 + 1) = 0),
         |c AS (SELECT source, COUNT(*) AS n FROM dsk GROUP BY source),
         |wt AS (SELECT source, n,
         |         CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w
         |       FROM c),
         |b AS (SELECT n AS bn, w AS bw FROM wt
         |      ORDER BY CAST(n AS DOUBLE) / CAST(w AS DOUBLE), source LIMIT 1),
         |r AS (SELECT wt.source, wt.n AS n_in, wt.w AS w_temp,
         |             (1000 * b.bn * wt.w) // (b.bw * wt.n) AS rate_permille
         |      FROM wt, b),
         |k AS (SELECT d.source, COUNT(*) AS n_kept
         |      FROM dsk d JOIN r USING (source)
         |      WHERE CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < r.rate_permille
         |      GROUP BY d.source)
         |SELECT r.source, r.n_in, r.w_temp, r.rate_permille,
         |       COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept
         |FROM r LEFT JOIN k USING (source)
         |ORDER BY r.source""".stripMargin,

    // chat flatten: identical run-id algebra (lag + running sum), ordered
    // string_agg for the merge and the ChatML render, hash compared
    "sft2_pref_pairs" ->
      """WITH r AS (
        |  SELECT user_id AS prompt_id, event_id AS response_id,
        |    CAST(CASE event_type WHEN 'purchase' THEN 3000
        |         WHEN 'click' THEN 2000 WHEN 'signup' THEN 1500
        |         WHEN 'view' THEN 1000 ELSE 0 END
        |      + CAST(round(value * 100) AS BIGINT) AS BIGINT) AS reward_u
        |  FROM events),
        |c AS (
        |  SELECT *,
        |    FIRST_VALUE(response_id) OVER (PARTITION BY prompt_id
        |      ORDER BY reward_u DESC, response_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS chosen_id,
        |    FIRST_VALUE(reward_u) OVER (PARTITION BY prompt_id
        |      ORDER BY reward_u DESC, response_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS chosen_reward
        |  FROM r)
        |SELECT prompt_id, chosen_id, response_id AS rejected_id,
        |       CAST(chosen_reward - reward_u AS BIGINT) AS margin_u
        |FROM c
        |WHERE response_id <> chosen_id AND chosen_reward - reward_u >= 800
        |ORDER BY prompt_id, rejected_id""".stripMargin,

    "sft1_chat_flatten" ->
      """WITH t AS (
        |  SELECT user_id AS conv_id, event_id AS turn_idx,
        |         CASE WHEN event_type IN ('view','signup') THEN 'user'
        |              ELSE 'assistant' END AS role,
        |         event_type || '#' || event_id AS content
        |  FROM events WHERE event_type <> 'error'),
        |r AS (SELECT *,
        |        CASE WHEN LAG(role) OVER w IS NULL OR LAG(role) OVER w <> role
        |             THEN 1 ELSE 0 END AS new_run
        |      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
        |r2 AS (SELECT *,
        |         SUM(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx)
        |           AS run_id
        |       FROM r),
        |m AS (SELECT conv_id, run_id, MIN(role) AS role,
        |        string_agg(content, chr(10) ORDER BY turn_idx) AS content
        |      FROM r2 GROUP BY 1, 2),
        |f AS (SELECT *,
        |        FIRST_VALUE(role) OVER (PARTITION BY conv_id ORDER BY run_id)
        |          AS first_role,
        |        COUNT(*) OVER (PARTITION BY conv_id) AS n_runs
        |      FROM m),
        |k AS (SELECT * FROM f
        |      WHERE first_role = 'user' AND n_runs >= 2 AND run_id <= 8),
        |g AS (SELECT conv_id, COUNT(*) AS n_turns,
        |        CAST(SUM(CASE WHEN role='user' THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_user,
        |        CAST(SUM(CASE WHEN role='assistant' THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_assistant,
        |        string_agg('<|im_start|>'||role||chr(10)||content||'<|im_end|>',
        |                   chr(10) ORDER BY run_id) AS text
        |      FROM k GROUP BY 1)
        |SELECT conv_id, n_turns, n_user, n_assistant,
        |       CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS text_md5
        |FROM g ORDER BY conv_id""".stripMargin,

    // language-balanced chain: tx3's argmax langid CTE feeding ds4's
    // binding-source temperature algebra feeding tx5's split slots
    "pl4_lang_balanced" ->
      s"""WITH lang AS (
         |  SELECT doc_id,
         |    CASE WHEN best = 0 THEN 'und'
         |         WHEN c_en = best THEN 'en' WHEN c_de = best THEN 'de'
         |         WHEN c_fr = best THEN 'fr' ELSE 'es' END AS lang
         |  FROM (
         |    SELECT doc_id, c_en, c_de, c_fr, c_es,
         |           greatest(c_en, c_de, c_fr, c_es) AS best
         |    FROM (
         |      SELECT doc_id,
         |        CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS BIGINT) AS c_en,
         |        CAST(len(list_filter(ts, t -> list_contains(['der','die','das','und','nicht','ist','ein'], t))) AS BIGINT) AS c_de,
         |        CAST(len(list_filter(ts, t -> list_contains(['le','la','les','et','est','une','dans'], t))) AS BIGINT) AS c_fr,
         |        CAST(len(list_filter(ts, t -> list_contains(['el','los','las','es','una','para','con'], t))) AS BIGINT) AS c_es
         |      FROM (SELECT doc_id,
         |              list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
         |            FROM documents) d) c) f),
         |c AS (SELECT lang, COUNT(*) AS n FROM lang GROUP BY lang),
         |wt AS (SELECT lang, n,
         |         CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w
         |       FROM c),
         |b AS (SELECT n AS bn, w AS bw FROM wt
         |      ORDER BY CAST(n AS DOUBLE) / CAST(w AS DOUBLE), lang LIMIT 1),
         |r AS (SELECT wt.lang, (1000 * b.bn * wt.w) // (b.bw * wt.n)
         |        AS rate_permille FROM wt, b),
         |kept AS (
         |  SELECT l.doc_id, l.lang,
         |    CAST(('0x' || substr(md5('$SplitSalt:split|' || CAST(l.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS slot2
         |  FROM lang l JOIN r USING (lang)
         |  WHERE CAST(('0x' || substr(md5('$SplitSalt|' || CAST(l.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < r.rate_permille),
         |sp AS (SELECT lang,
         |         CASE WHEN slot2 < $SplitValPm THEN 'val'
         |              WHEN slot2 < ${SplitValPm + SplitTestPm} THEN 'test'
         |              ELSE 'train' END AS split
         |       FROM kept)
         |SELECT sp.lang, sp.split, COUNT(*) AS n_kept, r.rate_permille
         |FROM sp JOIN r USING (lang)
         |GROUP BY sp.lang, sp.split, r.rate_permille
         |ORDER BY sp.lang, sp.split""".stripMargin,

    // epoch plan: identical closed-form water-filling — prefix-min capped
    // set over the cap/w ordering, integer floor-division remainder split
    "ds5_epoch_plan" ->
      s"""WITH tok AS (
         |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE (doc_id // 20) % (CAST(substr(source, 4) AS BIGINT) % 7 + 1) = 0
         |  GROUP BY source),
         |wt AS (SELECT source, n_tokens,
         |         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w,
         |         n_tokens * 2 AS cap
         |       FROM tok),
         |x AS (SELECT *,
         |        (CAST(SUM(n_tokens) OVER () AS BIGINT) * 3) // 2 AS budget,
         |        COALESCE(CAST(SUM(cap) OVER (
         |          ORDER BY CAST(cap AS DOUBLE)/CAST(w AS DOUBLE), source
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |          0) AS c_before,
         |        CAST(SUM(w) OVER (
         |          ORDER BY CAST(cap AS DOUBLE)/CAST(w AS DOUBLE), source
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         |          AS w_from
         |      FROM wt),
         |y AS (SELECT *,
         |        CASE WHEN cap * w_from <= w * (budget - c_before)
         |             THEN 1 ELSE 0 END AS f
         |      FROM x),
         |z AS (SELECT *,
         |        MIN(f) OVER (
         |          ORDER BY CAST(cap AS DOUBLE)/CAST(w AS DOUBLE), source
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
         |          AS capped
         |      FROM y),
         |a AS (SELECT *,
         |        COALESCE(CAST(SUM(CASE WHEN capped THEN cap END) OVER () AS BIGINT), 0)
         |          AS cap_used,
         |        CAST(SUM(CASE WHEN NOT capped THEN w END) OVER () AS BIGINT)
         |          AS w_unc
         |      FROM z),
         |fin AS (SELECT source, n_tokens, w AS w_temp, cap, capped,
         |          CASE WHEN capped THEN cap
         |               ELSE (w * (budget - cap_used)) // w_unc END AS alloc_tokens
         |        FROM a)
         |SELECT source, n_tokens, w_temp, cap, capped, alloc_tokens,
         |       (1000 * alloc_tokens) // n_tokens AS epochs_permille
         |FROM fin ORDER BY source""".stripMargin,

    // boilerplate strip: same chunk grid, detector tail rule on the boiler
    // side only (full-coverage rebuild), order-preserving string_agg
    "dd11_boilerplate_strip" ->
      s"""WITH $corpusCte,
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             t -> t <> '') AS ts
         |  FROM corpus),
         |chunks AS (
         |  SELECT doc_id, i, len(ts) AS n, array_to_string(ts[i:i+${Dd9W - 1}], ' ') AS p
         |  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts)+1, $Dd9W)) AS i
         |        FROM toks WHERE len(ts) > 0) t),
         |boiler AS (
         |  SELECT md5(p) AS h FROM chunks
         |  WHERE n - i + 1 >= $Dd9MinTail
         |  GROUP BY md5(p) HAVING COUNT(DISTINCT doc_id) >= 2),
         |kept AS (
         |  SELECT doc_id, i, p FROM chunks
         |  WHERE md5(p) NOT IN (SELECT h FROM boiler)),
         |rebuilt AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |         string_agg(p, ' ' ORDER BY i) AS clean_text
         |  FROM kept GROUP BY doc_id),
         |tot AS (
         |  SELECT doc_id, (len(ts) + ${Dd9W - 1}) // $Dd9W AS n_chunks FROM toks)
         |SELECT c.doc_id, md5(COALESCE(r.clean_text, '')) AS clean_hash,
         |       COALESCE(r.n_kept, 0) AS n_kept,
         |       t.n_chunks - COALESCE(r.n_kept, 0) AS n_dropped
         |FROM corpus c JOIN tot t USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,

    // composed curation chain: tx20's integer rule gate, dd13's window
    // algebra over the kept set only, ds3's shard selector, BIGINT sums
    "pl2_filter_spandedup_shard" ->
      s"""WITH ts0 AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             t -> t <> '') AS ts,
         |         text
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, ts,
         |    CAST(len(ts) AS BIGINT) AS n,
         |    CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0) AS BIGINT) AS sumlen,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS BIGINT) AS symbols,
         |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS aw,
         |    CAST(len(list_intersect(list_distinct(ts),
         |      [${Tx20Stop.map(w => s"'$w'").mkString(",")}])) AS BIGINT) AS sd
         |  FROM ts0),
         |kept AS (
         |  SELECT doc_id, ts FROM m
         |  WHERE n >= $Tx20MinWords AND n <= $Tx20MaxWords
         |    AND sumlen >= 3*n AND sumlen <= 10*n AND n > 0
         |    AND 10*symbols <= n AND 5*aw >= 4*n AND sd >= 2),
         |g AS (
         |  SELECT doc_id, i, md5(array_to_string(ts[i:i+${Dd13K - 1}], ' ')) AS h
         |  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts) - ${Dd13K - 2})) AS i
         |        FROM kept WHERE len(ts) >= $Dd13K) t),
         |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
         |dstarts AS (
         |  SELECT doc_id, list(i) AS st
         |  FROM g WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
         |spans AS (
         |  SELECT k.doc_id, CAST(len(k.ts) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(range(1, len(k.ts) + 1),
         |      p -> len(list_filter(COALESCE(d.st, CAST([] AS BIGINT[])),
         |                           s -> s <= p AND p < s + $Dd13K)) > 0)) AS BIGINT) AS n_covered
         |  FROM kept k LEFT JOIN dstarts d USING (doc_id)),
         |sh AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % $Ds3Shards AS shard
         |  FROM kept)
         |SELECT s.shard, COUNT(*) AS n_docs,
         |  CAST(SUM(p.n_tokens - p.n_covered) AS BIGINT) AS n_tokens_clean,
         |  CAST(SUM(p.n_covered) AS BIGINT) AS n_tokens_cut
         |FROM sh s JOIN spans p USING (doc_id)
         |GROUP BY s.shard ORDER BY s.shard""".stripMargin,

    // shard shuffle: same md5 key both as shard selector (top 60 bits mod
    // N, the ds1/ds2 hex-cast idiom) and as the within-shard sort key
    "ds3_shard_shuffle" ->
      s"""SELECT doc_id, shard, pos FROM (
         |  SELECT doc_id, shard,
         |         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
         |  FROM (
         |    SELECT doc_id,
         |           md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)) AS k,
         |           CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |             % $Ds3Shards AS shard
         |    FROM documents) t) t2
         |ORDER BY shard, pos""".stripMargin,

    // semantic decontamination: identical quantize/assign algebra as the
    // dd12 oracle, codebook restricted to TRAIN vec_id < 16, cross join of
    // per-cell train x eval instead of the self-pair triangle
    "dc4_semantic_contamination" ->
      """WITH ev AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id%50=7),
        |tr AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id%50<>7
        |  UNION ALL
        |  SELECT vec_id + 900000 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id%50=7 AND vec_id%3=0),
        |tn AS (
        |  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |    FROM tr) t),
        |en AS (
        |  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |    FROM ev) t),
        |cents AS (SELECT vec_id AS cell, v AS cv, n2 AS cn2 FROM tn WHERE vec_id < 16),
        |ta AS (
        |  SELECT vec_id, v, n2, cell FROM (
        |    SELECT e.vec_id, e.v, e.n2, c.cell,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |             c.cell) AS rn
        |    FROM tn e CROSS JOIN cents c) t
        |  WHERE rn = 1 AND n2 > 0),
        |ea AS (
        |  SELECT vec_id, v, n2, cell FROM (
        |    SELECT e.vec_id, e.v, e.n2, c.cell,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |             c.cn2 - 2*CAST(list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) AS BIGINT),
        |             c.cell) AS rn
        |    FROM en e CROSS JOIN cents c) t
        |  WHERE rn = 1 AND n2 > 0)
        |SELECT vec_id, eval_vec_id, cosine FROM (
        |  SELECT t.vec_id AS vec_id, e.vec_id AS eval_vec_id,
        |    CAST(list_sum(list_transform(list_zip(t.v, e.v), p -> p[1]*p[2])) AS DOUBLE)
        |      / sqrt(CAST(t.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) AS cosine
        |  FROM ta t JOIN ea e ON t.cell = e.cell) x
        |WHERE cosine >= 0.99
        |ORDER BY vec_id, eval_vec_id""".stripMargin,

    // sliding-window span dedup: same window hashing, duplicate = hash
    // count > 1 corpus-wide, coverage = any duplicated start spans the
    // position, maximal runs counted by left-edge, rebuild from the rest
    "dd13_dup_spans" ->
      s"""WITH $corpusCte,
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             t -> t <> '') AS ts
         |  FROM corpus),
         |g AS (
         |  SELECT doc_id, i, md5(array_to_string(ts[i:i+${Dd13K - 1}], ' ')) AS h
         |  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts) - ${Dd13K - 2})) AS i
         |        FROM toks WHERE len(ts) >= $Dd13K) t),
         |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
         |ds AS (
         |  SELECT doc_id, list_sort(list(i)) AS dstarts
         |  FROM g WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
         |cov AS (
         |  SELECT t.doc_id, t.ts, len(t.ts) AS n,
         |         COALESCE(d.dstarts, CAST([] AS BIGINT[])) AS dstarts
         |  FROM toks t LEFT JOIN ds d USING (doc_id)),
         |res AS (
         |  SELECT doc_id, ts, n,
         |    list_filter(range(1, n + 1),
         |      p -> len(list_filter(dstarts, s -> s <= p AND p < s + $Dd13K)) > 0) AS covered
         |  FROM cov)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(len(covered) AS BIGINT) AS n_covered,
         |  CAST(len(list_filter(covered, p -> NOT list_contains(covered, p - 1))) AS BIGINT) AS n_spans,
         |  md5(COALESCE(array_to_string(list_transform(
         |    list_filter(range(1, n + 1), p -> NOT list_contains(covered, p)),
         |    p -> ts[p]), ' '), '')) AS clean_hash
         |FROM res ORDER BY doc_id""".stripMargin,

    // end-to-end pipeline: quality floor -> langid gate -> md5-canonical
    // dedup -> split -> per-split stats; every stage reuses the exact
    // arithmetic its standalone gate already hash-matches
    "pl1_filter_dedup_split" ->
      s"""WITH m AS (
         |  SELECT doc_id, text,
         |    CAST(len(ts) AS BIGINT) AS n_words,
         |    (ns / nt) * 0.5 + (na / CAST(length(text) AS DOUBLE)) * 0.5 AS quality,
         |    CASE WHEN best = 0 THEN 'und'
         |         WHEN c_en = best THEN 'en' WHEN c_de = best THEN 'de'
         |         WHEN c_fr = best THEN 'fr' ELSE 'es' END AS lang_pred
         |  FROM (
         |    SELECT doc_id, text, ts, nt, ns, na, c_en, c_de, c_fr, c_es,
         |      greatest(c_en, c_de, c_fr, c_es) AS best
         |    FROM (
         |      SELECT doc_id, text, ts,
         |        CAST(len(ts) AS DOUBLE) AS nt,
         |        CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS DOUBLE) AS ns,
         |        CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS na,
         |        CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS BIGINT) AS c_en,
         |        CAST(len(list_filter(ts, t -> list_contains(['der','die','das','und','nicht','ist','ein'], t))) AS BIGINT) AS c_de,
         |        CAST(len(list_filter(ts, t -> list_contains(['le','la','les','et','est','une','dans'], t))) AS BIGINT) AS c_fr,
         |        CAST(len(list_filter(ts, t -> list_contains(['el','los','las','es','una','para','con'], t))) AS BIGINT) AS c_es
         |      FROM (SELECT doc_id, text,
         |              list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
         |            FROM documents) d) c) f),
         |dd AS (
         |  SELECT doc_id, n_words,
         |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM m WHERE quality >= $Pl1MinQuality AND lang_pred = 'en'),
         |sp AS (
         |  SELECT doc_id, n_words,
         |    CASE WHEN slot < $SplitValPm THEN 'val'
         |         WHEN slot < ${SplitValPm + SplitTestPm} THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM (
         |    SELECT doc_id, n_words,
         |      CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS slot
         |    FROM dd WHERE rn = 1) s)
         |SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS n_tokens
         |FROM sp GROUP BY split ORDER BY split""".stripMargin,

    // membership of the incoming batch in the reference corpus — the Bloom
    // prefilter is invisible to results (exact confirm join), so the oracle
    // is the plain semi-join
    "dd10_bloom_incremental" ->
      s"""WITH inc AS (
         |  SELECT doc_id + $Dd10IdOffset AS doc_id, text
         |  FROM documents WHERE doc_id % $Dd10Every = 0
         |  UNION ALL
         |  SELECT doc_id + $Dd10IdOffset AS doc_id, text || '$Dd10Suffix' AS text
         |  FROM documents WHERE doc_id % $Dd10Every = 3),
         |ref AS (SELECT DISTINCT md5(text) AS text_hash FROM documents)
         |SELECT i.doc_id, md5(i.text) AS text_hash
         |FROM inc i JOIN ref r ON md5(i.text) = r.text_hash
         |ORDER BY i.doc_id""".stripMargin,

    "tx2_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) / nt AS mean_word_span,
        |  na / CAST(length(text) AS DOUBLE) AS alpha_ratio,
        |  ns / nt AS stopword_ratio,
        |  (ns / nt) * 0.5 + (na / CAST(length(text) AS DOUBLE)) * 0.5 AS quality
        |FROM (
        |  SELECT doc_id, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS DOUBLE) AS nt,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t <> '' AND list_contains(['the','a','of','and','to','in','is'], t))) AS DOUBLE) AS ns,
        |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS na
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    // char-level repetition: same gram grids, rank-1 top gram (count desc,
    // gram asc), within-doc duplicated-start coverage summed over token
    // lengths; separators excluded from all char counts
    "tx21_char_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                             t -> t <> '') AS ts
         |  FROM documents),
         |g2 AS (
         |  SELECT doc_id, i, array_to_string(ts[i:i+${Tx21TopN - 1}], ' ') AS g
         |  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts) - ${Tx21TopN - 2})) AS i
         |        FROM toks WHERE len(ts) >= $Tx21TopN) t),
         |top AS (
         |  SELECT doc_id, g AS top_gram, cnt AS top_count FROM (
         |    SELECT doc_id, g, COUNT(*) AS cnt,
         |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, g) AS rk
         |    FROM g2 GROUP BY doc_id, g) t
         |  WHERE rk = 1),
         |g5 AS (
         |  SELECT doc_id, i, array_to_string(ts[i:i+${Tx21DupN - 1}], ' ') AS g
         |  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts) - ${Tx21DupN - 2})) AS i
         |        FROM toks WHERE len(ts) >= $Tx21DupN) t),
         |dup AS (
         |  SELECT doc_id, list_sort(list(i)) AS dstarts FROM (
         |    SELECT doc_id, i, COUNT(*) OVER (PARTITION BY doc_id, g) AS cnt
         |    FROM g5) t
         |  WHERE cnt >= 2 GROUP BY doc_id),
         |base AS (
         |  SELECT t.doc_id, t.ts,
         |    CAST(coalesce(list_sum(list_transform(t.ts, x -> length(x))), 0) AS BIGINT) AS n_chars,
         |    COALESCE(d.dstarts, CAST([] AS BIGINT[])) AS dstarts,
         |    COALESCE(p.top_gram, '') AS top_gram,
         |    CAST(COALESCE(p.top_count, 0) AS BIGINT) AS top_count
         |  FROM toks t LEFT JOIN dup d USING (doc_id) LEFT JOIN top p USING (doc_id)),
         |cov AS (
         |  SELECT doc_id, n_chars, top_gram, top_count,
         |    CAST(coalesce(list_sum(list_transform(
         |      list_filter(range(1, len(ts) + 1),
         |        q -> len(list_filter(dstarts, s -> s <= q AND q < s + $Tx21DupN)) > 0),
         |      q -> length(ts[q]))), 0) AS BIGINT) AS dup_chars
         |  FROM base)
         |SELECT doc_id, n_chars, top_gram, top_count,
         |  CASE WHEN n_chars > 0
         |       THEN CAST(top_count * (length(top_gram) - ${Tx21TopN - 1}) AS DOUBLE) / CAST(n_chars AS DOUBLE)
         |       ELSE 0.0 END AS top_frac,
         |  dup_chars,
         |  CASE WHEN n_chars > 0
         |       THEN CAST(dup_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
         |       ELSE 0.0 END AS dup_frac
         |FROM cov ORDER BY doc_id""".stripMargin,

    // same exact-integer rule algebra; doubles only in the reported ratios
    "tx27_c4_rules" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS ts
        |  FROM documents),
        |l0 AS (
        |  SELECT doc_id, ts, UNNEST(range(0, len(ts), 7)) AS i
        |  FROM toks WHERE len(ts) > 0),
        |l1 AS (
        |  SELECT doc_id, i, ts[i+1:i+7] AS chunk,
        |    CAST(('0x' || substr(md5(doc_id || '#' || i), 1, 15)) AS BIGINT)
        |      AS slot
        |  FROM l0),
        |ln AS (
        |  SELECT doc_id,
        |    (CASE WHEN slot % 17 = 0 THEN 'javascript ' ELSE '' END)
        |    || array_to_string(chunk, ' ')
        |    || (CASE WHEN doc_id%41 = 0 AND i = 0 THEN ' lorem ipsum'
        |             WHEN doc_id%43 = 0 AND i = 0 THEN ' {'
        |             ELSE '' END)
        |    || (['', '.', '!', '?'][(slot % 4) + 1]) AS line_text
        |  FROM l1),
        |lw AS (
        |  SELECT doc_id, line_text,
        |    len(list_filter(string_split_regex(lower(line_text), '[^a-z0-9]+'),
        |                    t -> t <> '')) AS n_words
        |  FROM ln),
        |cl AS (
        |  SELECT doc_id, COUNT(*) AS n_lines,
        |    CAST(SUM(CASE WHEN regexp_matches(line_text, '[.!?"]$')
        |                   AND n_words >= 5
        |                   AND NOT contains(lower(line_text), 'javascript')
        |              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    MAX(CASE WHEN contains(lower(line_text), 'lorem ipsum')
        |              OR contains(line_text, '{') THEN 1 ELSE 0 END) = 1
        |      AS policy_hit
        |  FROM lw GROUP BY 1)
        |SELECT doc_id, n_lines, n_kept, policy_hit,
        |  CASE WHEN policy_hit THEN 'drop_policy'
        |       WHEN n_kept < 5 THEN 'drop_short'
        |       ELSE 'keep' END AS verdict
        |FROM cl ORDER BY doc_id""".stripMargin,

    "tx20_gopher_rules" ->
      s"""SELECT doc_id, n AS n_words,
         |  CASE WHEN n > 0 THEN CAST(sumlen AS DOUBLE) / CAST(n AS DOUBLE) END AS mean_word_len,
         |  CASE WHEN n > 0 THEN CAST(symbols AS DOUBLE) / CAST(n AS DOUBLE) END AS symbol_ratio,
         |  CASE WHEN n > 0 THEN CAST(aw AS DOUBLE) / CAST(n AS DOUBLE) END AS alpha_word_ratio,
         |  sd AS n_stop_distinct,
         |  (n >= $Tx20MinWords AND n <= $Tx20MaxWords) AS r1_words,
         |  (sumlen >= 3*n AND sumlen <= 10*n AND n > 0) AS r2_word_len,
         |  (10*symbols <= n) AS r3_symbols,
         |  (5*aw >= 4*n AND n > 0) AS r4_alpha,
         |  (sd >= 2) AS r5_stopwords,
         |  ((n >= $Tx20MinWords AND n <= $Tx20MaxWords)
         |   AND (sumlen >= 3*n AND sumlen <= 10*n AND n > 0)
         |   AND (10*symbols <= n)
         |   AND (5*aw >= 4*n AND n > 0)
         |   AND (sd >= 2)) AS keep
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(ts) AS BIGINT) AS n,
         |    CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0) AS BIGINT) AS sumlen,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS BIGINT) AS symbols,
         |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS aw,
         |    CAST(len(list_intersect(list_distinct(ts),
         |      [${Tx20Stop.map(w => s"'$w'").mkString(",")}])) AS BIGINT) AS sd
         |  FROM (SELECT doc_id, text,
         |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
         |        FROM documents) t0) t
         |ORDER BY doc_id""".stripMargin,

    "tx3_langid" ->
      """SELECT doc_id,
        |  CASE WHEN best = 0 THEN 'und'
        |       WHEN c_en = best THEN 'en' WHEN c_de = best THEN 'de'
        |       WHEN c_fr = best THEN 'fr' ELSE 'es' END AS lang_pred,
        |  best AS marker_hits
        |FROM (
        |  SELECT doc_id, c_en, c_de, c_fr, c_es, greatest(c_en, c_de, c_fr, c_es) AS best
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS BIGINT) AS c_en,
        |      CAST(len(list_filter(ts, t -> list_contains(['der','die','das','und','nicht','ist','ein'], t))) AS BIGINT) AS c_de,
        |      CAST(len(list_filter(ts, t -> list_contains(['le','la','les','et','est','une','dans'], t))) AS BIGINT) AS c_fr,
        |      CAST(len(list_filter(ts, t -> list_contains(['el','los','las','es','una','para','con'], t))) AS BIGINT) AS c_es
        |    FROM (SELECT doc_id,
        |            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
        |          FROM documents) d) c) f
        |ORDER BY doc_id""".stripMargin,

    "tx4_fingerprint" ->
      """SELECT doc_id, fingerprint FROM (
        |  SELECT doc_id, MIN(md5(substr(text, CAST(i AS INT), 16))) AS fingerprint FROM (
        |    SELECT doc_id, text, UNNEST(range(1, length(text) - 14)) AS i
        |    FROM documents WHERE length(text) >= 16) w
        |  GROUP BY doc_id
        |  UNION ALL
        |  SELECT doc_id, md5(text) AS fingerprint FROM documents WHERE length(text) < 16
        |) t ORDER BY doc_id""".stripMargin,

    // CAST back to BIGINT: DuckDB's SUM(BIGINT) window is HUGEINT, and the
    // driver's value hash distinguishes int128 from the i64 Spark writes
    // (r3's only hash mismatch)
    "tx6_pack" ->
      s"""SELECT doc_id, source, n_tokens,
         |  CAST((cum_end - n_tokens) // $Tx6Budget AS BIGINT) AS pack_id,
         |  CAST((cum_end - n_tokens) % $Tx6Budget AS BIGINT) AS token_offset
         |FROM (
         |  SELECT doc_id, source, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum_end
         |  FROM (
         |    SELECT doc_id, source,
         |      CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                           t -> t <> '')) AS BIGINT) AS n_tokens
         |    FROM documents) c) t
         |ORDER BY doc_id""".stripMargin,

    // span plan: same hash placement + gaps-and-islands interval union
    "tx26_span_plan" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                         t -> t <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |b2 AS (SELECT doc_id, n_tok,
         |         greatest(1, ((n_tok * 150) // 1000) // 3) AS n_cand
         |       FROM base WHERE n_tok >= 3),
         |cand AS (
         |  SELECT doc_id, n_tok, n_cand,
         |    CAST(('0x' || substr(md5('$SplitSalt|' || doc_id || '#' || i), 1, 15)) AS BIGINT)
         |      % (n_tok - 2) AS s
         |  FROM (SELECT doc_id, n_tok, n_cand, UNNEST(range(0, n_cand)) AS i
         |        FROM b2) t),
         |iv AS (SELECT doc_id, n_tok, n_cand, s, s + 3 AS e FROM cand),
         |m AS (SELECT *,
         |        MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS meb
         |      FROM iv),
         |f AS (SELECT *, CASE WHEN meb IS NULL OR s > meb THEN 1 ELSE 0 END AS ni
         |      FROM m),
         |g AS (SELECT *, SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e)
         |        AS island FROM f),
         |isl AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
         |        FROM g GROUP BY 1, 2),
         |agg AS (SELECT doc_id, COUNT(*) AS n_spans,
         |          CAST(SUM(e - s) AS BIGINT) AS n_masked
         |        FROM isl GROUP BY 1)
         |SELECT a.doc_id, b.n_tok, b.n_cand, a.n_spans, a.n_masked,
         |       (1000 * a.n_masked) // b.n_tok AS mask_permille
         |FROM agg a JOIN b2 b USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin,

    "tx5_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN slot < $SplitValPm THEN 'val'
         |       WHEN slot < ${SplitValPm + SplitTestPm} THEN 'test'
         |       ELSE 'train' END AS split
         |FROM (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5('$SplitSalt|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS slot
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin,

    "tx13_vocab" ->
      s"""SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         |  CAST(COUNT(*) AS BIGINT) AS tf
         |FROM (
         |  SELECT doc_id,
         |    UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                       t -> t <> '')) AS token
         |  FROM documents) t
         |GROUP BY token
         |ORDER BY df DESC, token
         |LIMIT $Tx13K""".stripMargin,

    // one (pairs → best → replace) CTE triple per merge round, generated by
    // the same loop count as the Spark side; plain replace() on the
    // double-space encoding is the boundary-safe merge in both engines
    "tx18_bpe" -> {
      // balanced UNION ALL tree: a left-deep 256-way chain exceeds
      // DuckDB's max_expression_depth (1000); depth log2(n) does not
      def unionAll(xs: Seq[String]): String =
        if (xs.length == 1) xs.head
        else {
          val (a, b) = xs.splitAt(xs.length / 2)
          s"(${unionAll(a)}\nUNION ALL ${unionAll(b)})"
        }
      val finals = unionAll((1 to Tx18Merges).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, l AS lhs, r AS rhs, merged, cnt AS pair_count FROM b$i"))
      s"""WITH $bpeTrainingCtes
         |$finals
         |ORDER BY rank""".stripMargin
    },

    // tokenizer application: the SAME training rounds derive the merge
    // table, then the doc relation runs the identical double-space replace
    // chain (4-space word boundaries can never match a ' l  r ' pattern,
    // so per-doc global replace ≡ per-word merge)
    "tx19_bpe_encode" -> {
      // 4 sequential merges nest into one CTE (innermost replace = lowest
      // rank) — the d-chain would otherwise push the combined training +
      // encode CTE chain past DuckDB's 1000 expression-depth cap
      val perCte = 4
      require(Tx18Merges % perCte == 0)
      // COALESCE to an unmatchable control char: training may exhaust its
      // pair supply before nMerges rounds (every word one symbol — the
      // Spark loop stops at heap exhaustion), leaving later b$i EMPTY, and
      // a NULL scalar pattern would NULL the whole doc string
      val docRounds = (1 to Tx18Merges / perCte).map { g =>
        val body = ((g - 1) * perCte + 1 to g * perCte).foldLeft("s") { (acc, i) =>
          s"""replace($acc, ' ' || COALESCE((SELECT l FROM b$i), chr(7)) || '  ' || COALESCE((SELECT r FROM b$i), chr(7)) || ' ',
             |            ' ' || COALESCE((SELECT merged FROM b$i), chr(7)) || ' ')""".stripMargin
        }
        s"""d$g AS MATERIALIZED (
           |  SELECT doc_id, $body AS s
           |  FROM d${g - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH $bpeTrainingCtes,
         |d0 AS MATERIALIZED (
         |  SELECT doc_id,
         |    '  ' || array_to_string(list_transform(
         |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''),
         |        w -> array_to_string(string_split(w, ''), '  ')), '    ') || '  ' AS s
         |  FROM documents),
         |$docRounds
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       md5(array_to_string(toks, ' ')) AS stream_md5
         |FROM (SELECT doc_id,
         |        list_filter(string_split_regex(trim(s), ' +'), t -> t <> '') AS toks
         |      FROM d${Tx18Merges / 4}) t
         |ORDER BY doc_id""".stripMargin
    },

    "tx16_bigram_lm" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                t -> t <> '') AS ts
         |  FROM documents),
         |pairs AS (
         |  SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
         |  FROM toks, UNNEST(range(1, len(ts))) AS u(i)
         |  WHERE len(ts) >= 2),
         |big AS (
         |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
         |  FROM pairs GROUP BY w1, w2),
         |uni AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1 FROM big GROUP BY w1)
         |SELECT w1, w2, n_pair, n_w1,
         |  CAST(n_pair AS DOUBLE) / CAST(n_w1 AS DOUBLE) AS p_cond
         |FROM big JOIN uni USING (w1)
         |ORDER BY n_pair DESC, w1, w2 LIMIT $Tx16TopN""".stripMargin,

    "tx17_winnowing" ->
      s"""SELECT DISTINCT doc_id, fp FROM (
         |  SELECT doc_id, pos, n_pos,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN CURRENT ROW AND ${Tx17W - 1} FOLLOWING) AS fp
         |  FROM (
         |    SELECT doc_id, i - 1 AS pos, length(text) - ${Tx17K - 1} AS n_pos,
         |      CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), $Tx17K)), 1, 15)) AS BIGINT) AS h
         |    FROM documents, UNNEST(range(1, length(text) - ${Tx17K - 2})) AS u(i)
         |    WHERE length(text) >= $Tx17K) g) v
         |WHERE pos <= greatest(n_pos - $Tx17W, 0)
         |ORDER BY doc_id, fp""".stripMargin,

    // trunc before the BIGINT cast: DuckDB's double->int cast rounds while
    // Spark's truncates; the REAL round-trip mirrors the f32 score key
    "tx14_keywords" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                       t -> t <> '')) AS token
         |  FROM documents),
         |tc AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks GROUP BY doc_id, token),
         |dft AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tc GROUP BY token),
         |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
         |sc AS (
         |  SELECT tc.doc_id, tc.token, tc.tf, dft.df,
         |    CAST(trunc(CAST(CAST(
         |      tc.tf * ln((n.n + 1) / (CAST(dft.df AS DOUBLE) + 1))
         |    AS REAL) AS DOUBLE) * 1e6) AS BIGINT) AS score_key
         |  FROM tc JOIN dft USING (token) CROSS JOIN n)
         |SELECT doc_id, rank, token, tf, df, score_key FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score_key DESC, token) AS BIGINT) AS rank
         |  FROM sc) r
         |WHERE rank <= $Tx14K
         |ORDER BY doc_id, rank""".stripMargin,

    "tx15_chunks" ->
      s"""SELECT doc_id, CAST(start_tok // $Tx15Stride AS BIGINT) AS chunk_id,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(len(chunk) AS BIGINT) AS n_toks,
         |  md5(array_to_string(chunk, ' ')) AS chunk_hash
         |FROM (
         |  SELECT doc_id, start_tok,
         |    ts[CAST(start_tok + 1 AS INT) : CAST(start_tok + $Tx15Window AS INT)] AS chunk
         |  FROM (
         |    SELECT doc_id, ts, UNNEST(range(0, len(ts), $Tx15Stride)) AS start_tok
         |    FROM (
         |      SELECT doc_id,
         |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                    t -> t <> '') AS ts
         |      FROM documents) d
         |    WHERE len(ts) > 0) s) c
         |ORDER BY doc_id, chunk_id""".stripMargin,

    // closed-form replica of the synthetic-BMP pixel pattern; matching the
    // Spark side requires the encode->ImageIO-decode round trip to be exact
    "mm2_features" ->
      """SELECT d.doc_id,
        |       CAST(d.doc_id%16 + 1 AS INT) AS width,
        |       CAST(d.doc_id%12 + 1 AS INT) AS height,
        |       CAST(SUM((d.doc_id*31 + x.x*7 + y.y*13) % 256) AS BIGINT) AS px_sum,
        |       CAST(SUM((d.doc_id*31 + x.x*7 + y.y*13) % 256) AS DOUBLE)
        |         / ((d.doc_id%16 + 1) * (d.doc_id%12 + 1)) AS mean_brightness
        |FROM documents d,
        |     LATERAL (SELECT UNNEST(range(0, d.doc_id%16 + 1)) AS x) x,
        |     LATERAL (SELECT UNNEST(range(0, d.doc_id%12 + 1)) AS y) y
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // closed-form replica of the synthetic-WAV sample pattern; matching the
    // Spark side requires the encode->AudioSystem-decode round trip (RIFF
    // chunk layout, little-endian signed 16-bit samples) to be exact
    "mm3_audio_decode" ->
      """SELECT d.doc_id,
        |       CAST(8000 AS INT) AS sample_rate,
        |       CAST(d.doc_id%50 + 1 AS BIGINT) AS n_samples,
        |       CAST(SUM((d.doc_id*31 + i.i*7) % 65536 - 32768) AS BIGINT) AS amp_sum,
        |       CAST((d.doc_id%50 + 1) * 1000 // 8000 AS BIGINT) AS duration_ms
        |FROM documents d,
        |     LATERAL (SELECT UNNEST(range(0, d.doc_id%50 + 1)) AS i) i
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // nearest-neighbor floor mapping src = dst*srcDim/outDim over the
    // synthetic-BMP closed form; matching the Spark side requires BOTH
    // ImageIO round trips (decode the source, re-encode+decode the
    // resampled image) to be pixel-exact
    "mm5_resize" ->
      """SELECT d.doc_id,
        |       CAST(8 AS INT) AS width,
        |       CAST(6 AS INT) AS height,
        |       CAST(SUM((d.doc_id*31 + ((x.x*(d.doc_id%16 + 1))//8)*7
        |                 + ((y.y*(d.doc_id%12 + 1))//6)*13) % 256) AS BIGINT) AS px_sum,
        |       CAST(SUM((d.doc_id*31 + ((x.x*(d.doc_id%16 + 1))//8)*7
        |                 + ((y.y*(d.doc_id%12 + 1))//6)*13) % 256) AS DOUBLE)
        |         / 48 AS mean_brightness
        |FROM documents d,
        |     LATERAL (SELECT UNNEST(range(0, 8)) AS x) x,
        |     LATERAL (SELECT UNNEST(range(0, 6)) AS y) y
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // dHash: gradient bits of the 9x8 resample recomputed from the
    // synthetic pixels' closed form; 32-bit halves keep every shift off
    // the sign bit on both engines
    "mm6_dhash" ->
      """SELECT doc_id,
        |  CAST(SUM(CASE WHEN idx < 32 AND pr > pl
        |           THEN (CAST(1 AS BIGINT) << (31 - idx)) ELSE 0 END) AS BIGINT) AS dhash_hi,
        |  CAST(SUM(CASE WHEN idx >= 32 AND pr > pl
        |           THEN (CAST(1 AS BIGINT) << (63 - idx)) ELSE 0 END) AS BIGINT) AS dhash_lo,
        |  CAST(SUM(CASE WHEN pr > pl THEN 1 ELSE 0 END) AS BIGINT) AS n_gradient_bits
        |FROM (
        |  SELECT d.doc_id, CAST(y.y*8 + x.x AS INT) AS idx,
        |    (d.doc_id*31 + ((x.x*(d.doc_id%16+1))//9)*7
        |       + ((y.y*(d.doc_id%12+1))//8)*13) % 256 AS pl,
        |    (d.doc_id*31 + (((x.x+1)*(d.doc_id%16+1))//9)*7
        |       + ((y.y*(d.doc_id%12+1))//8)*13) % 256 AS pr
        |  FROM documents d,
        |       LATERAL (SELECT UNNEST(range(0, 8)) AS x) x,
        |       LATERAL (SELECT UNNEST(range(0, 8)) AS y) y) t
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // audio fingerprint: frame energies from the closed-form samples,
    // rising-energy bits MSB-first; frames of $Mm7Frame samples, final
    // partial frame kept
    "mm7_audio_fp" ->
      s"""WITH fr AS (
         |  SELECT d.doc_id, i.i // $Mm7Frame AS f,
         |         SUM(abs((d.doc_id*31 + i.i*7) % 65536 - 32768)) AS e
         |  FROM documents d,
         |       LATERAL (SELECT UNNEST(range(0, d.doc_id%50 + 1)) AS i) i
         |  GROUP BY d.doc_id, i.i // $Mm7Frame),
         |nf AS (SELECT doc_id, COUNT(*) AS n_frames FROM fr GROUP BY doc_id),
         |bits AS (
         |  SELECT a.doc_id, a.f, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
         |  FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.f = a.f + 1)
         |SELECT n.doc_id, CAST(n.n_frames AS BIGINT) AS n_frames,
         |  CAST(COALESCE(SUM(CAST(bit AS BIGINT)
         |    * (CAST(1 AS BIGINT) << CAST(n.n_frames - 2 - b.f AS INT))), 0) AS BIGINT) AS fp,
         |  CAST(COALESCE(SUM(bit), 0) AS BIGINT) AS n_bits_set
         |FROM nf n LEFT JOIN bits b USING (doc_id)
         |GROUP BY n.doc_id, n.n_frames
         |ORDER BY n.doc_id""".stripMargin,

    "mm4_video_meta" ->
      """SELECT doc_id,
        |       CAST(doc_id%320 + 16 AS INT) AS width,
        |       CAST(doc_id%240 + 16 AS INT) AS height,
        |       CAST(doc_id%9000 + 1000 AS BIGINT) AS duration_ms,
        |       'vide' AS handler,
        |       CAST(doc_id%64 + 16 AS BIGINT) AS mdat_bytes
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "dd16_lsh_tune" ->
      LshRGrid.map { r =>
        val b = LshBudget / r
        s"""SELECT $r AS r, $b AS b, j_pct,
           |  CAST(CAST(1.0 - ${powChain("(1.0 - jr)", b)} AS FLOAT) AS DOUBLE)
           |    AS p_detect
           |FROM (SELECT j_pct, ${powChain("j", r)} AS jr
           |      FROM (SELECT CAST(j_pct AS INT) AS j_pct,
           |                   CAST(j_pct AS DOUBLE) / 100 AS j
           |            FROM (SELECT UNNEST(range(5, 100, 5)) AS j_pct) g) jj) kk""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY r, j_pct"),

    "cs1_snapshot_diff" ->
      s"""WITH oldv AS (
         |  SELECT doc_id, CASE WHEN doc_id % ${CsChg._1} = ${CsChg._2}
         |                      THEN substr(text, 1, length(text) // 2)
         |                      ELSE text END AS text
         |  FROM documents WHERE doc_id % ${CsAdd._1} <> ${CsAdd._2}),
         |newv AS (SELECT doc_id, text FROM documents
         |         WHERE doc_id % ${CsRm._1} <> ${CsRm._2}),
         |j AS (SELECT doc_id, o.h AS h_old, nv.h AS h_new
         |      FROM (SELECT doc_id, md5(text) AS h FROM oldv) o
         |      FULL OUTER JOIN (SELECT doc_id, md5(text) AS h FROM newv) nv
         |        USING (doc_id))
         |SELECT status, COUNT(*) AS n_docs FROM (
         |  SELECT CASE WHEN h_old IS NULL THEN 'added'
         |              WHEN h_new IS NULL THEN 'removed'
         |              WHEN h_old <> h_new THEN 'changed'
         |              ELSE 'unchanged' END AS status
         |  FROM j) t
         |GROUP BY 1 ORDER BY status""".stripMargin,

    "rl1_fuzzy_linkage" -> {
      val pos = "CAST(p_partkey % length(p_name) AS INT)"
      s"""WITH parts AS (SELECT p_partkey, p_name FROM part),
         |dirty AS (SELECT p_partkey AS d_id,
         |    substr(p_name, 1, $pos) || substr(p_name, $pos + 2) AS d_name
         |  FROM part WHERE p_partkey % $RlEvery = 0),
         |db AS (SELECT d_id, d_name, UNNEST([substr(d_name, 1, $RlBlock),
         |                                    substr(d_name, -$RlBlock, $RlBlock)]) AS bk
         |       FROM dirty),
         |pb AS (SELECT p_partkey, p_name, UNNEST([substr(p_name, 1, $RlBlock),
         |                                         substr(p_name, -$RlBlock, $RlBlock)]) AS bk
         |       FROM parts),
         |cand AS (SELECT DISTINCT d_id, d_name, p_partkey, p_name
         |         FROM db JOIN pb USING (bk)),
         |scored AS (SELECT d_id, p_partkey,
         |                  levenshtein(d_name, p_name) AS dist
         |           FROM cand WHERE levenshtein(d_name, p_name) <= $RlMaxDist)
         |SELECT d_id, p_partkey AS match_id, dist FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY d_id
         |                               ORDER BY dist, p_partkey) AS rk
         |  FROM scored) t
         |WHERE rk = 1 ORDER BY d_id""".stripMargin
    },

    // duration/mdat from the mm4 closed form; sample grid is pure integer
    "mm8_frame_sample" ->
      s"""SELECT doc_id, i AS sample_idx,
         |  (doc_id%9000 + 1000) * i // $Mm8K AS sample_ms,
         |  (doc_id%64 + 16) * ((doc_id%9000 + 1000) * i // $Mm8K)
         |    // (doc_id%9000 + 1000) AS sample_byte
         |FROM documents, (SELECT UNNEST(range(0, $Mm8K)) AS i) ii
         |ORDER BY doc_id, sample_idx""".stripMargin,

    "mm1_media_stats" ->
      """SELECT kind, COUNT(*) AS n, CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       MIN(width) AS min_width, MAX(duration_ms) AS max_duration_ms
        |FROM (
        |  SELECT CASE CAST(doc_id%3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         text, CAST(doc_id%640 + 1 AS INT) AS width, n_chars*10 AS duration_ms
        |  FROM documents) m
        |GROUP BY kind ORDER BY kind""".stripMargin
  )
}
