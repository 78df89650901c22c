package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Training-data text-pipeline queries over the `documents` table:
  * dedup (exact + MinHash/SimHash/n-gram near-dup), quality scoring,
  * language ID, token stats, fingerprinting, multimodal binary plumbing.
  * Oracle-expressible ops carry DuckDB SQL in [[oracles]]; signature-based
  * ops (MinHash/SimHash — hash functions differ per engine) get the
  * driver's rows-only check.
  */
object TextQueries {
  /** The shared hashed-linear-classifier logit (g4/g7/d24): every token
    * hashed onto 256 buckets, bucket weight = (b·2654435761 mod 1000003)
    * − 500001 (a pure expression of the bucket id — nothing broadcast),
    * per-doc logit = Σ c_b·w_b in BIGINT. One narrow explode + one
    * (doc, bucket) aggregation; docs with no tokens are absent.
    * Output: (doc_id, n_feats, logit). */
  private def docLogits(s: SparkSession, dir: String): DataFrame = {
    val wExpr = pmod(col("bk") * lit(2654435761L), lit(1000003L)) -
      lit(500001L)
    // repartition = parallelism barrier (the minHashLsh idiom, guide
    // §2.5): tokenize+explode+hash otherwise fuse onto the scan — one
    // task on a low-split source — and the id partitioning makes BOTH
    // downstream groupBys exchange-free (doc_id ⊆ each grouping key).
    graft.Spread.by(docs(s, dir).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), explode(cleanTokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        pmod(md5Bits60(col("tok")), lit(256L)).as("bk"))
      .groupBy(col("doc_id"), col("bk")).agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"), (col("c") * wExpr).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"), sum(col("contrib")).as("logit"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val enStop = Seq("the", "a", "of", "and", "to")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- exact dedup via content hash ---
    "d1_exact_dedup" -> ((s, dir) => {
      Dedup.exact(docs(s, dir), "text", "doc_id").orderBy(col("h"))
    }),

    // --- token statistics per language ---
    "d2_token_stats" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(sum(tokenCount(col("text"))).as("n_tokens"),
          count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"))
    }),

    // --- per-document quality scores ---
    "d3_quality" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          distinctTokenRatio(col("text")).as("uniq_ratio"),
          meanTokenLength(col("text")).as("mean_tok_len"),
          stopwordRatio(col("text"), enStop).as("stop_ratio"))
        .orderBy(col("doc_id"))
    }),

    // --- heuristic language ID (stopword argmax) ---
    "d4_langid" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          hitCount(col("text"), LangStopwords.toMap.apply("en")).as("hits_en"),
          hitCount(col("text"), LangStopwords.toMap.apply("de")).as("hits_de"),
          langId(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // --- content fingerprints (md5 prefix; xxhash64 in the library) ---
    "d5_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // --- MinHash-LSH candidates → EXACT word-shingle Jaccard verify.
    // The production dedup shape: LSH prunes candidates, the exact score
    // decides. Output is deterministically { pairs with true Jaccard ≥
    // 0.8 } for ANY corpus, not just this one: with bands=16 × rows=2
    // (the minHashLshVerified defaults) a pair at Jaccard j misses every
    // band with probability (1−j²)^16, which is ≤ (1−0.8²)^16 ≈ 7.6e-8
    // at the threshold and decreasing in j — so over the entire
    // ≥-threshold range the all-pairs DuckDB oracle matches except with
    // negligible (union-bounded ≪ 1e-4 even for 10³ qualifying pairs)
    // probability. The boundary itself is FP-safe: both engines score
    // |∩|/|∪| as the same int-count double division, bit-identical ---
    "d6_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashLshVerified(docs(s, dir), "text", "doc_id")
        .orderBy(col("a_id"), col("b_id"))
    }),

    // --- SimHash signatures. Per-token hashes are md5-derived (the one
    // hash both engines share), so the DuckDB oracle reproduces the exact
    // 64-bit signature digit-by-digit — full hash-exact check. The
    // semantics (Hamming-close signatures ⇔ near-dup text) are
    // property-tested in DedupSpec ---
    "d7_simhash" -> ((s, dir) => {
      Dedup.simHashSignatures(docs(s, dir), "text", "doc_id")
        .orderBy(col("id"))
    }),

    // --- exact n-gram Jaccard on banded pairs (range join, not NL join) ---
    "d8_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 100)
      Dedup.ngramJaccardBanded(d, "text", "doc_id", n = 3,
          maxGap = 10, threshold = 0.3)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // --- sequence packing: fill 2048-token budgets per source ---
    "d11_packing" -> ((s, dir) => {
      graft.operators.Mixing.packByTokenBudget(
          docs(s, dir), "source", "doc_id", budget = 2048)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
        .orderBy(col("source"), col("pack_id"))
    }),

    // --- sliding-window chunking: 64-token chunks, 16-token overlap ---
    "d13_chunking" -> ((s, dir) => {
      graft.operators.Mixing.chunkByTokens(
          docs(s, dir).filter(col("doc_id") < 50), "text", "doc_id",
          maxTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // --- near-dup cluster collapse: candidate pairs → transitive
    // components via hash-min label propagation. The edge set here is
    // deterministic (consecutive doc_ids sharing a language) so DuckDB
    // can replay the transitive closure with a recursive CTE; production
    // edges come from minHashLshVerified/simHashPairs, same operator. ---
    "d14_dup_clusters" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val nxt = d.select((col("doc_id") - 1).as("src"),
        col("doc_id").as("dst"), col("lang").as("l2"))
      val edges = d.join(nxt,
          col("doc_id") === col("src") && col("lang") === col("l2"))
        .select(col("src"), col("dst"))
      Dedup.connectedComponents(edges)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"), max(col("node")).as("last_doc"))
        .orderBy(col("component"))
    }),

    // --- near-dup cluster-SIZE histogram (the dedup report every
    // curation run publishes: "how much of the corpus sits in clusters
    // of size s, and how many docs would dedup remove"): the d14
    // duplicate graph's components rolled up twice — component → size,
    // then size → (n_clusters, n_docs, n_removed = docs minus one
    // canonical survivor per cluster). Singleton docs (no dup edge)
    // enter as size-1 clusters via a LeftAnti against the clustered
    // nodes, so the histogram accounts for the WHOLE corpus.
    // All-integer; two bounded rollups past the CC fixpoint ---
    "d28_cluster_sizes" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val nxt = d.select((col("doc_id") - 1).as("src"),
        col("doc_id").as("dst"), col("lang").as("l2"))
      val edges = d.join(nxt,
          col("doc_id") === col("src") && col("lang") === col("l2"))
        .select(col("src"), col("dst"))
      val comp = Dedup.connectedComponents(edges)
      val clustered = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("sz"))
      val singles = d.select(col("doc_id"))
        .join(comp.select(col("node").as("doc_id")), Seq("doc_id"),
          "left_anti")
        .select(lit(1L).as("sz"))
      clustered.select(col("sz")).unionByName(singles)
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("sz")).as("n_docs"),
          (count(lit(1)) * (col("sz") - 1)).as("n_removed"))
        .orderBy(col("sz"))
    }),

    // --- persisted MinHash-LSH dedup index (the last build-once gap in
    // the LLM dedup stack, VERDICT r14 #4): the corpus's band
    // signatures are built ONCE and persisted PARTITIONED BY
    // (band, bucket); an incremental shard (every 20th doc, playing
    // the "new arrivals" role) then dedups against the corpus by
    // probing only its own buckets — corpus signatures are never
    // recomputed and corpus TEXT is never re-read (PlanGuardSpec pins
    // one documents scan + static PartitionFilters on the index).
    // Signatures are the md5MinHash family, so the DuckDB oracle
    // replays the exact same signatures, band hashes, and agreement
    // fractions — full hash-exact, no literal snapshot needed ---
    "d29_incremental_lsh" -> ((s, dir) => {
      val all = docs(s, dir)
      val corpus = all.filter(pmod(col("doc_id"), lit(20L)) =!= 0L)
      val shard = all.filter(pmod(col("doc_id"), lit(20L)) === 0L)
      // v2: the r16 one-md5-per-shingle signature family — a stale v1
      // index (per-component md5 signatures) would silently mismatch
      // the new shard signatures, so the family bump rides the name
      val path = IndexCache.path("graft_lsh_index_v2", dir)
      IndexCache.ensure(path, "d29") {
        Dedup.buildLshIndex(corpus, "text", "doc_id", path,
          nBuckets = 4) }
      // nBuckets=4 (32 directories): the dynamic-partition write's
      // fixed per-directory cost dominates the single-shot build at
      // smoke scale (VERDICT r16 #7); at deployment scale raise it —
      // the probe plan (static PartitionFilters) is shape-identical
      Dedup.queryLshIndex(s, path, shard, "text", "doc_id",
          threshold = 0.5, nBuckets = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // --- canonical-keep: survivors after collapsing each cluster to its
    // min-id member (everything not in a pair survives untouched) ---
    "d15_canonical_keep" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val nxt = d.select((col("doc_id") - 1).as("a_id"),
        col("doc_id").as("b_id"), col("lang").as("l2"))
      val pairs = d.join(nxt,
          col("doc_id") === col("a_id") && col("lang") === col("l2"))
        .select(col("a_id"), col("b_id"))
      Dedup.keepCanonical(docs(s, dir), "doc_id", pairs)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),

    // --- stratified sampling. Row selection hashes (doc_id, seed) through
    // md5 (stable across partitionings/retries, unlike rand()), which the
    // DuckDB oracle reproduces bit-exactly — full hash-exact check. The
    // per-stratum fraction property is additionally asserted in SkewSpec ---
    "d12_stratified_sample" -> ((s, dir) => {
      graft.operators.Mixing.stratifiedSample(
          docs(s, dir), "lang",
          Map("en" -> 0.5, "fr" -> 1.0, "es" -> 1.0, "zh" -> 1.0,
            "de" -> 1.0),
          keyCols = Seq("doc_id"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // --- weighted dataset mixing: sample each language toward target
    // mixture weights under a 10k-token budget; rates derive from the
    // available token mass, selection is the deterministic md5 key ---
    "d16_weighted_mix" -> ((s, dir) => {
      graft.operators.Mixing.mixByWeights(
          docs(s, dir), "lang", tokenCount(col("text")),
          Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15,
            "es" -> 0.1, "zh" -> 0.05),
          tokenBudget = 10000, keyCols = Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(tokenCount(col("text"))).as("tok"))
        .orderBy(col("lang"))
    }),

    // --- Gopher-style document quality gates (the public heuristic
    // battery of Rae et al. 2021 "Scaling Language Models", appendix
    // A1.1: word-count window, mean-word-length window, stopword
    // presence). Every rule reduces to integer/boolean counts, so the
    // oracle is exact; each rule is a narrow codegen'd projection over
    // the scan — no shuffle before the per-language rollup, so at
    // 100 TB this is one pass at I/O speed ---
    "g1_gopher_quality" -> ((s, dir) => {
      val words = split(trim(col("text")), "\\s+")
      val nWords = size(words).cast("long")
      val nLetters =
        length(regexp_replace(col("text"), "\\s+", "")).cast("long")
      val meanWl = nLetters.cast("double") / nWords.cast("double")
      docs(s, dir).select(col("lang"),
          nWords.between(50, 100000).as("pl"),
          (meanWl >= 3.0 && meanWl <= 10.0).as("pw"),
          (array_contains(words, "the") || array_contains(words, "a"))
            .as("ps"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pl"), 1L).otherwise(0L)).as("n_len"),
          sum(when(col("pw"), 1L).otherwise(0L)).as("n_wl"),
          sum(when(col("ps"), 1L).otherwise(0L)).as("n_stop"),
          sum(when(col("pl") && col("pw") && col("ps"), 1L)
            .otherwise(0L)).as("n_pass"))
        .orderBy(col("lang"))
    }),

    // --- Gopher repetition gates (Rae et al. 2021 A1.1, the other half
    // of the rule battery next to g1): drop docs dominated by their own
    // repetition — most-common-2-gram token fraction > 1/10, and
    // duplicated-5-gram occurrence fraction > 3/10 (token-count variant
    // of the paper's character fractions; thresholds compared as exact
    // INTEGER cross-products so the oracle is bit-stable — no doubles
    // anywhere). Shape: two explode + (doc, gram) aggregations (uniform
    // shuffle keys) collapsed per doc, then the per-language rollup ---
    "g2_repetition" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("lang"),
          split(trim(col("text")), "\\s+").as("ws"))
        .withColumn("n_words", size(col("ws")).cast("long"))
      // guard: size(ws) < n would make sequence() step DOWNWARD and
      // slice(ws, 0, n) throw — short/empty docs get no grams and pass
      // both gates via the left-join coalesce (same as the oracle's
      // empty range())
      def grams(n: Int) = expr(
        s"CASE WHEN size(ws) >= $n THEN " +
          s"transform(sequence(0, size(ws) - $n), i -> " +
          s"array_join(slice(ws, i + 1, $n), ' ')) " +
          s"ELSE array() END")
      val top2 = base.select(col("doc_id"), explode(grams(2)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("max2"))
      val dup5 = base.select(col("doc_id"), explode(grams(5)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup5"),
          sum(col("c")).as("tot5"))
      base.select(col("doc_id"), col("lang"), col("n_words"))
        .join(top2, Seq("doc_id"), "left")
        .join(dup5, Seq("doc_id"), "left")
        .select(col("lang"),
          (coalesce(col("max2"), lit(0L)) * 10L <= col("n_words"))
            .as("p2"),
          (coalesce(col("dup5"), lit(0L)) * 10L <=
            coalesce(col("tot5"), lit(0L)) * 3L).as("p5"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("p2"), 1L).otherwise(0L)).as("n_top2_ok"),
          sum(when(col("p5"), 1L).otherwise(0L)).as("n_dup5_ok"),
          sum(when(col("p2") && col("p5"), 1L).otherwise(0L))
            .as("n_pass"))
        .orderBy(col("lang"))
    }),

    // --- segment-level exact dedup (CCNet/RefinedWeb paragraph-dedup
    // stage, fixed-width-window form): drop 3-word segments occurring
    // in more than 3 docs (cross-document boilerplate), reassemble the
    // survivors, fingerprint the cleaned text. md5 is reproducible in
    // both engines so the check is hash-exact end-to-end ---
    "d17_segment_dedup" -> ((s, dir) => {
      Dedup.dropBoilerplateSegments(docs(s, dir), "text", "doc_id",
          width = 3, maxDocFreq = 3)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_hash"))
        .orderBy(col("doc_id"))
    }),

    // --- overlapping-span duplication profile (the substring-dedup
    // decision signal of Lee et al. 2022): per doc, how many of its
    // stride-1 5-word spans occur in at least one other document.
    // All-integer — hash-exact by construction ---
    "d21_repeated_spans" -> ((s, dir) => {
      Dedup.repeatedSpans(docs(s, dir), "text", "doc_id", width = 5)
        .orderBy(col("doc_id"))
    }),

    // --- temperature-flattened sampling shares (α=2, exact integers):
    // the multilingual-mix weights p_s ∝ c_s² as parts-per-million of
    // the corpus, integral div on DECIMAL(38,0) — no FP anywhere ---
    "d22_temperature_mix" -> ((s, dir) => {
      graft.operators.Mixing.temperatureShares(docs(s, dir), "source",
          graft.functions.TextFunctions.tokenCount(col("text")))
        .orderBy(col("stratum"))
    }),

    // --- DSIR-style importance weights: log-likelihood ratio of hashed
    // unigram+bigram models, target = English docs vs raw = everything.
    // The 64 bucket log-ratios are computed ONCE on the driver (bounded
    // metadata) and the same BIGINT micro-unit literals ride in this
    // plan AND the DuckDB oracle (stashed below), so no engine runs `ln`
    // and every downstream operation is integer sum/multiply —
    // hash-exact regardless of libm build ---
    "d18_dsir_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      val en = col("lang") === "en"
      val model = graft.operators.Mixing.importanceModel(d, "text", en, 64)
      graft.OracleLiterals.put("d18_w", graft.OracleLiterals.valuesCteL(
        "w", "b", "w_micro", model))
      graft.operators.Mixing.importanceWeights(
          d, "text", "doc_id", isTarget = en, buckets = 64,
          model = Some(model))
        .orderBy(col("doc_id"))
    }),

    // --- vocabulary building: exact top-5 bigrams per language (count
    // desc, bigram asc — a total order, so the result is deterministic).
    // Explode + partial-aggregated count + per-key top-k window: the
    // n-gram table a tokenizer-training pipeline materializes. At scale
    // the count is map-side combined and only (lang, bigram) partials
    // shuffle; the top-k window runs on the already-reduced frame ---
    "ng1_top_bigrams" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bigrams = expr(
        "transform(sequence(0, size(ws) - 2), i -> " +
          "concat(ws[i], ' ', ws[i + 1]))")
      docs(s, dir)
        .select(col("lang"), split(trim(col("text")), "\\s+").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("lang"), explode(bigrams).as("bg"))
        .groupBy(col("lang"), col("bg")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("cnt").desc, col("bg"))))
        .filter(col("rk") <= 5)
        .orderBy(col("lang"), col("rk"))
    }),

    // --- LM-perplexity quality signal (CCNet-style hashed LM): per-doc
    // cross-entropy under the corpus's OWN Laplace-smoothed hashed-bigram
    // model — bigrams hash onto 512 buckets (the d18 feature-hashing
    // shape) and P(b) = (c_b+1)/(tot+512). nll = −Σ ln P; cross-entropy
    // = nll/n_bigrams is left to the reader (a final double division can
    // land exactly on a rounding boundary and flip the last digit between
    // engines — seen at sf0.1 — so the output stays exact).
    // The 512 bucket log-probs are computed ONCE on the driver and ride
    // as identical BIGINT micro-unit literals in this plan and the
    // oracle — no in-engine `ln`, pure integer arithmetic downstream,
    // hash-exact on any libm build (CORRECTNESS_r08
    // showed the in-plan round(ln) chain flipping vs the driver's DuckDB).
    // Scale shape: model = one equi-keyed aggregation onto 512 keys
    // collected as bounded driver metadata; scoring = one (doc, bucket)
    // aggregation + broadcast literal join — shuffle-partitionable,
    // nothing broadcast-unbounded, no windows ---
    "g3_bigram_xent" -> ((s, dir) => {
      import s.implicits._
      val B = 512L
      // repartition = parallelism barrier (guide §2.5): the bigram
      // explode+hash feeds TWO consumers (the model aggregate collected
      // below and the scoring rollup) and would otherwise run twice,
      // single-task, fused onto the scan; doc_id partitioning also makes
      // the scoring groupBy(doc_id, bk) + groupBy(doc_id) exchange-free.
      val base = graft.Spread.by(
          docs(s, dir).select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), cleanTokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2)
      val occ = base.select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> " +
            "concat(ws[i], ' ', ws[i + 1]))")).as("bg"))
        .select(col("doc_id"),
          pmod(md5Bits60(col("bg")), lit(B)).as("bk"))
      val counts = occ.groupBy(col("bk")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val tot = counts.valuesIterator.sum
      val model = (0L until B).map(b => b -> graft.OracleLiterals.lnMicro6(
        (counts.getOrElse(b, 0L) + 1L).toDouble, (tot + B).toDouble))
      graft.OracleLiterals.put("g3_lp", graft.OracleLiterals.valuesCteL(
        "lp", "bk", "lp_micro", model))
      val lpDf = model.toDF("bk", "lp_micro")
      occ.groupBy(col("doc_id"), col("bk")).agg(count(lit(1)).as("c"))
        .join(broadcast(lpDf), Seq("bk"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"),
          (sum(col("c") * col("lp_micro")) * lit(-1L))
            .cast("bigint").as("nll_micro"))
        .orderBy(col("doc_id"))
    }),

    // --- one BPE-training iteration's pair statistics: corpus word
    // frequencies (the BPE working set) → adjacent-character-pair counts
    // weighted by word frequency → top-20 merge candidates. THE inner
    // loop of tokenizer training, re-expressed as two aggregations: the
    // (word, count) table is the shuffle-reduced working set (vocabulary-
    // sized, not corpus-sized) and the pair explode runs over DISTINCT
    // words only — the 100 TB shape. All integers, hash-exact ---
    "d20_bpe_pairs" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(explode(cleanTokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        .filter(length(col("w")) >= 2)
      words
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(w) - 1), " +
            "i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // --- PII scan (the safety pass every released corpus runs): per
    // source, docs containing email-shaped / phone-shaped strings and
    // the total count of digit runs — flag counts a redaction pipeline
    // would act on. One narrow codegen'd pass; Java regex and RE2 agree
    // on these anchored character-class patterns; all integer outputs ---
    "g5_pii_scan" -> ((s, dir) => {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phone = "[0-9]{3}-[0-9]{4}"
      docs(s, dir)
        .select(col("source"),
          col("text").rlike(email).as("he"),
          col("text").rlike(phone).as("hp"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
            .cast("bigint").as("nd"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("he"), 1L).otherwise(0L)).as("n_email_docs"),
          sum(when(col("hp"), 1L).otherwise(0L)).as("n_phone_docs"),
          sum(col("nd")).as("n_digit_runs"))
        .orderBy(col("source"))
    }),

    // --- PII redaction (the act-on-g5 masking pass): emails → [EMAIL],
    // phone-shapes → [PHONE], with per-doc audit counts and an md5 of
    // the cleaned text. One narrow codegen'd projection; both engines'
    // regex dialects agree on these character-class patterns and both
    // regexp_replace calls are replace-all ---
    "g6_pii_redact" -> ((s, dir) => {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phone = "[0-9]{3}-[0-9]{4}"
      docs(s, dir)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(email), lit(0)))
            .cast("bigint").as("n_email"),
          size(regexp_extract_all(col("text"), lit(phone), lit(0)))
            .cast("bigint").as("n_phone"),
          md5(regexp_replace(regexp_replace(col("text"), email, "[EMAIL]"),
            phone, "[PHONE]")).as("clean_hash"))
        .orderBy(col("doc_id"))
    }),

    // --- leakage-safe train/val/test split: every doc in the SAME
    // near-dup cluster lands in the SAME split (assigning by per-doc
    // hash would leak near-duplicates across train/test — the classic
    // contamination bug). Cluster = connected components over the d14
    // edge set; singletons are their own cluster; split = md5 of the
    // cluster id mod 10 — deterministic, reproducible, engine-exact ---
    "d23_cluster_split" -> ((s, dir) => {
      import graft.functions.TextFunctions.md5Bits60
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val nxt = d.select((col("doc_id") - 1).as("src"),
        col("doc_id").as("dst"), col("lang").as("l2"))
      val edges = d.join(nxt,
          col("doc_id") === col("src") && col("lang") === col("l2"))
        .select(col("src"), col("dst"))
      val comp = Dedup.connectedComponents(edges)
        .withColumnRenamed("node", "doc_id")
      d.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("comp"))
        .select(col("doc_id"), col("comp"),
          pmod(md5Bits60(col("comp").cast("string")), lit(10L)).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("comp")).as("n_clusters"))
        .orderBy(col("split"))
    }),

    // --- fasttext-style linear quality classifier APPLICATION: hashed
    // bag-of-words (256 buckets, the d18 hashing) dotted with a FIXED
    // seeded weight vector — the "score every document with a trained
    // classifier" step of a corpus pipeline, with the model as
    // data-independent literals. Weights live in integer micro-units
    // (w_b = (b·2654435761 mod 1000003) − 500001 ∈ [−500001, 500002]),
    // the logit is Σ c_b·w_b in BIGINT, keep = logit > 0 — zero FP
    // anywhere, hash-exact in any engine. Scale: narrow explode + one
    // (doc, bucket) aggregation; the weight is a pure expression of the
    // bucket id, so nothing is broadcast at all ---
    "g4_linear_classifier" -> ((s, dir) => {
      docLogits(s, dir)
        .select(col("doc_id"), col("n_feats"),
          col("logit").as("logit_micro"),
          (col("logit") > 0L).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // --- classifier calibration table (the audit a curation pipeline
    // runs before trusting a quality classifier's threshold): docs
    // ranked by the g4 integer logit into 10 exact deciles via the
    // two-pass range-partitioned rank (operators/Ranks — no
    // single-partition window), then per decile the observed en-rate
    // in exact ppm plus the decile's logit bounds. A calibrated signal
    // is monotone in the decile; a flat table says the classifier adds
    // nothing. All-integer — hash-exact ---
    "g7_calibration" -> ((s, dir) => {
      val d = docs(s, dir)
      val logits = docLogits(s, dir).select(col("doc_id"), col("logit"))
      graft.operators.Ranks.rankPhases(logits,
          Seq(col("logit").desc, col("doc_id")), k = 10,
          phaseCol = "decile")
        .join(d.select(col("doc_id"), (col("lang") === "en").as("is_en")),
          Seq("doc_id"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_en"), 1L).otherwise(0L)).as("n_en"),
          min(col("logit")).as("min_logit"),
          max(col("logit")).as("max_logit"))
        .withColumn("en_ppm", expr("(n_en * 1000000) div n_docs"))
        .orderBy(col("decile"))
    }),

    // --- corpus length profile: per (lang, size-bucket) doc and token
    // counts, bucket = number of binary digits of the token count —
    // ⌊log₂ n⌋+1 as an EXACT integer via length(bin(n)), not a
    // transcendental log2 whose rounding at the 2^k boundaries could
    // differ per engine. One narrow scan + one rollup ---
    "d27_length_histogram" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"), tokenCount(col("text")).as("n_tok"))
        .select(col("lang"), col("n_tok"),
          length(bin(col("n_tok"))).cast("int").as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("bigint").as("sum_tok"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // --- benchmark decontamination: training docs flagged when ≥ 1/5 of
    // their distinct word 3-grams occur anywhere in the eval split
    // (doc_id % 19 == 0 — a deterministic stand-in benchmark). The flag
    // threshold is an integer cross-product (n_hit·5 ≥ n_grams), so every
    // output column is integer/boolean exact ---
    "d19_decontamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(
          d.filter(col("doc_id") % 19 =!= 0),
          d.filter(col("doc_id") % 19 === 0),
          "text", "doc_id", n = 3, flagNum = 1, flagDen = 5)
        .orderBy(col("doc_id"))
    }),

    // --- BM25 top-5 retrieval for three term queries: the inverted-index
    // ranking path (postings → query-term broadcast restriction →
    // driver-computed idf micro-unit literals → ONE integral division per
    // posting, all-integer — see Retrieval.scoreAndRank for the algebra).
    // The idf `ln` runs once on the driver and the same BIGINT literals
    // land in this plan AND the oracle (stashBm25Idf); no round(double)
    // exists anywhere in the scoring, so the score_micro BIGINTs are
    // hash-exact on any engine build ---
    "ir1_bm25" -> ((s, dir) => {
      graft.operators.Retrieval.bm25TopK(docs(s, dir), "text", "doc_id",
        Bm25Queries, k = 5, onModel = stashBm25Idf)
    }),

    // --- exact phrase search (Lucene PhraseQuery semantics) via the
    // positional-postings adjacency join: restrict to the phrase's terms
    // before any exchange, then LeftSemi (doc_id, pos−i) per successive
    // term. All-integer — hash-exact ---
    "ir3_phrase_query" -> ((s, dir) => {
      graft.operators.Retrieval.phraseOccurrences(docs(s, dir), "text",
          "doc_id", Seq("hash", "join"))
        .orderBy(col("doc_id"))
    }),

    // --- global top-20 bigrams via the Misra–Gries two-pass: bounded
    // per-partition candidate sketches (mapPartitions — the documented
    // imperative last resort), then an EXACT recount of only the
    // candidates. At this capacity the guarantee bound holds trivially,
    // so the result equals the exact top-k and the oracle is plain SQL;
    // at 100 TB this shape shuffles candidates, not the vocabulary ---
    "ng2_topk_mg" -> ((s, dir) => {
      val bigrams = expr(
        "transform(sequence(0, size(ws) - 2), i -> " +
          "concat(ws[i], ' ', ws[i + 1]))")
      val b = docs(s, dir)
        .select(split(trim(col("text")), "\\s+").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(bigrams).as("bg"))
      graft.operators.Sketches.topKFrequent(b, "bg", k = 20,
        capacity = 4096)
    }),

    // --- the whole preprocessing pipeline as ONE declarative plan:
    // exact-dedup → quality filter → sequence packing → per-source stats.
    // Catalyst fuses it: one scan, dedup semi-join, filter, one window ---
    "p1_pipeline" -> ((s, dir) => {
      val survivors = Dedup.exactSurvivors(docs(s, dir), "text", "doc_id")
      val filtered = survivors
        .filter(distinctTokenRatio(col("text")) >= 0.3 &&
          tokenCount(col("text")) >= 10)
      graft.operators.Mixing.packByTokenBudget(
          filtered, "source", "doc_id", budget = 1024)
        .groupBy(col("source"))
        .agg(countDistinct(col("pack_id")).as("n_packs"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tok"))
        .orderBy(col("source"))
    }),

    // --- tokenizer OOV analysis: vocabulary = exact top-100 tokens
    // (count desc, token asc — total order), then per-source token and
    // out-of-vocabulary counts with the rate as exact integer ppm. The
    // top-100 is `orderBy(...).limit(100)` → Catalyst's
    // TakeOrderedAndProject, a DISTRIBUTED partial top-k (each partition
    // keeps its local 100, the driver merges) — NOT a single-partition
    // rank window, which at 100 TB would drag a billions-row vocabulary
    // through one task (VERDICT r9 #2; PlanGuardSpec pins the shape).
    // The 100-row vocab then broadcasts back onto the token stream ---
    "d25_oov_rate" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"), explode(cleanTokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"))
        .limit(100)
        .select(col("tok"), lit(1).as("in_v"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          expr("(n_oov * 1000000) div n_tokens").as("oov_ppm"))
        .orderBy(col("source"))
    }),

    // --- tokenizer fertility (subwords per whitespace word, the
    // cross-lingual tokenizer-quality metric): per lang, Σ BPE-ish
    // subword counts vs Σ whitespace tokens, ratio as exact integer
    // ppm. One conditional-aggregation scan ---
    "d26_fertility" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(sum(graft.functions.TextFunctions.bpeTokenCount(col("text")))
            .as("sum_sub"),
          sum(tokenCount(col("text"))).as("sum_ws"))
        .select(col("lang"), col("sum_sub"), col("sum_ws"),
          expr("(sum_sub * 1000000) div sum_ws").as("fertility_ppm"))
        .orderBy(col("lang"))
    }),

    // --- the FULL curation pipeline as one declarative plan, composing
    // four independently-oracled stages: exact dedup (d1) → cross-doc
    // boilerplate segment drop on the survivors (d17) → quality gates on
    // the CLEANED text (d3's thresholds) → leakage-safe cluster split
    // (d23) → per-(split, source) corpus stats. Catalyst fuses the whole
    // chain; every stage is a shuffle on a natural key (text hash /
    // segment / doc id), nothing driver-side. The oracle replays all
    // four stages in SQL — the composition, not just the pieces, is
    // value-checked ---
    "p2_curation" -> ((s, dir) => {
      val d = docs(s, dir)
      val survivors = Dedup.exactSurvivors(d, "text", "doc_id")
      val seg = Dedup.dropBoilerplateSegments(survivors, "text", "doc_id",
        width = 3, maxDocFreq = 3)
      val gated = seg.filter(col("n_kept") >= 4)
        .select(col("doc_id"), col("clean_text"))
        .filter(tokenCount(col("clean_text")) >= 10 &&
          distinctTokenRatio(col("clean_text")) >= 0.3)
      // d23's cluster-consistent split over the full corpus
      val nxt = d.select((col("doc_id") - 1).as("src"),
        col("doc_id").as("dst"), col("lang").as("l2"))
      val edges = d.select(col("doc_id"), col("lang"))
        .join(nxt, col("doc_id") === col("src") && col("lang") === col("l2"))
        .select(col("src"), col("dst"))
      val comp = Dedup.connectedComponents(edges)
        .withColumnRenamed("node", "doc_id")
      val split = d.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          pmod(graft.functions.TextFunctions.md5Bits60(
            coalesce(col("component"), col("doc_id")).cast("string")),
            lit(10L)).as("split"))
      gated
        .join(split, Seq("doc_id"))
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("clean_text"))).as("sum_tok"))
        .orderBy(col("split"), col("source"))
    }),

    // --- curriculum ordering (easy→hard scheduling by a quality
    // signal): docs ranked by the g4 integer logit, phase = exact
    // integer quartile ((rn−1)·4 div n — the fe2 rank-math convention,
    // no FP percentile). The global rank is the RANGE-PARTITIONED
    // two-pass rank ([[graft.operators.Ranks]]): range-shuffle on
    // (logit desc, doc_id), bounded per-partition counts → broadcast
    // offsets + local rank — identical values to a global row_number
    // (total order), but no single-partition window over |docs| rows
    // (VERDICT r9 #3; PlanGuardSpec pins the shape) ---
    "d24_curriculum" -> ((s, dir) => {
      val logits = docLogits(s, dir).select(col("doc_id"), col("logit"))
      val ranked = graft.operators.Ranks.rankPhases(logits,
        Seq(col("logit").desc, col("doc_id")), k = 4, phaseCol = "phase")
      ranked
        .join(docs(s, dir).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("phase"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("logit")).as("min_logit"),
          max(col("logit")).as("max_logit"))
        .orderBy(col("phase"), col("source"))
    }),

    // --- multimodal: opaque binary payload + typed metadata. The payload
    // here is utf-8 text bytes standing in for image/audio bytes (decoders
    // aren't in this container — see graft.multimodal for the stubbed
    // decode plumbing); hashing/size/metadata handling is real. ---
    "m1_multimodal_meta" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"),
          col("source"))
        .select(col("doc_id"),
          length(col("payload")).cast("bigint").as("n_bytes"),
          sha2(col("payload"), 256).as("payload_sha"),
          col("source"))
        .orderBy(col("doc_id"))
    }),

    // --- REAL image decode end to end: deterministic RGB test patterns
    // encoded as genuine PNG bytes (JDK ImageIO encoder) ride a binary
    // column and are decoded partition-parallel back to dimensions +
    // exact per-channel pixel sums (PNG is lossless). The oracle is the
    // CLOSED FORM of the pattern's channel sums in doc_id — so the whole
    // encode→bytes→decode pipeline is value-checked, not stubbed ---
    "m3_image_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val imgs = ids.as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.Multimodal.testPng(id))))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal
        .decodeImageStats(imgs, "doc_id", "payload")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // --- REAL decode + deterministic RESIZE: same PNG payloads as m3,
    // nearest-neighbor downsampled to 4×4 with explicit floor index
    // math (no Graphics2D interpolation — implementation-defined), so
    // the resized channel sums have a closed form the oracle replays
    // pixel-by-pixel over generate_series ---
    "m4_image_resize" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val imgs = ids.as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.Multimodal.testPng(id))))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal
        .decodeResizedStats(imgs, "doc_id", "payload", w2 = 4, h2 = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // --- REAL audio decode: deterministic 16-bit PCM test signals
    // encoded as genuine RIFF/WAVE bytes (JDK javax.sound.sampled),
    // decoded partition-parallel to exact amplitude stats; the oracle
    // is the generator's closed form over generate_series ---
    "m5_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val wavs = ids.as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.Multimodal.testWav(id))))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal
        .decodeAudioStats(wavs, "doc_id", "payload")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // --- windowed audio FEATURE EXTRACTION (the spectrogram precursor):
    // decode the same real RIFF/WAVE clips as m5, then per fixed
    // 100-sample frame emit exact integer L1/L2 accumulators and the
    // zero-crossing count (sign flips between adjacent in-frame
    // samples). Decode + featurize is ONE narrow flatMap per clip — no
    // shuffle, grain bounded by clip length / window. The oracle replays
    // the generator's closed form over generate_series with a lag()
    // for the crossings — every output integral, hash-exact ---
    "m7_audio_features" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val wavs = ids.as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.Multimodal.testWav(id))))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal
        .decodeAudioWindows(wavs, "doc_id", "payload", window = 100)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("win"))
    }),

    // --- frame-sampling generator end to end: k pseudo-frames explode
    // per media row (narrow flatMap, no shuffle). The decoded features
    // are the documented stub, so the ORACLE-checkable contract is the
    // generator's cardinality and id algebra plus feature-vector shape ---
    // --- REAL video decode end-to-end: build a real AVI container (RIFF
    // hdrl/movi, MPNG frames — every byte JDK-produced), demux the chunk
    // tree, ImageIO-decode every frame, emit per-(video, frame)
    // dimensions + exact channel sums. Frame f of video d is exactly
    // the m3 pattern at d + f, so the oracle replays the closed forms
    // over a (doc, frame) grid — no bytes, no codec on the oracle side ---
    "m6_video_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).filter(col("doc_id") < 40)
        .select(col("doc_id"))
      val vids = ids.as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.Multimodal.testAvi(id, nFrames = 4))))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal
        .decodeVideoStats(vids, "doc_id", "payload")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("frame"))
    }),

    "m2_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      val rows = graft.multimodal.Multimodal.withMedia(media, "doc_id",
        "payload").as[graft.multimodal.Multimodal.MediaRow]
      graft.multimodal.Multimodal.sampleFrames(rows, k = 3)
        .toDF()
        .agg(count(lit(1)).as("n_frames"),
          countDistinct(col("id")).as("n_ids"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          min(size(col("features"))).cast("bigint").as("dim_lo"),
          max(size(col("features"))).cast("bigint").as("dim_hi"))
    })
  )

  /** DuckDB replica of [[graft.functions.TextFunctions.simHash]]: per
    * token, the first 16 hex digits of md5; per bit i (MSB-first), a ±1
    * vote from hex digit i/4 bit 3-i%4; sign of the vote sum is the
    * signature bit; nibbles re-assembled into lowercase hex. Generated
    * (64 vote exprs + 16 nibble lookups) rather than hand-written. */
  private def simhashOracle: String = {
    val votes = (0 until 64).map { i =>
      val j = i / 4 + 1
      val b = 3 - (i % 4)
      s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN " +
        s"((CAST('0x' || substr(h, $j, 1) AS BIGINT) >> $b) & 1) = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n        ")
    val hexSel = (0 until 16).map { d =>
      s"substr('0123456789abcdef', " +
        s"b${d * 4} * 8 + b${d * 4 + 1} * 4 + b${d * 4 + 2} * 2 + b${d * 4 + 3} + 1, 1)"
    }.mkString(" || ")
    s"""
      WITH t AS (
        SELECT doc_id AS id,
          list_transform(string_split_regex(trim(text), '\\s+'),
                         tok -> substr(md5(tok), 1, 16)) AS hs
        FROM documents),
      v AS (SELECT id,
        $votes
        FROM t)
      SELECT id, $hexSel AS sig FROM v ORDER BY id"""
  }

  /** The shared retrieval benchmark: three term queries over `documents`,
    * used by ir1 (pure BM25) and VectorQueries' ir2 (hybrid RRF). */
  private[queries] val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "hash_join" -> Seq("hash", "join", "table"),
    "stream_window" -> Seq("window", "merge", "stream"),
    "vector_scan" -> Seq("spark", "vector", "scan"))

  /** Stashes the BM25 idf micro-unit literals for [[bm25RankedCtes]] —
    * shared by ir1 and ir2 (same corpus + query set → identical model
    * either way). idf_micro = idf · 10⁶ as exact BIGINT text, matching
    * the Spark plan's integer scoring. */
  private[queries] val stashBm25Idf
      : graft.operators.Retrieval.Bm25Model => Unit = m =>
    graft.OracleLiterals.put("bm25_idf", graft.OracleLiterals.valuesCteStr(
      "idfl", "term", "idf_micro", "BIGINT",
      m.idf.map { case (t, v) => t -> v.movePointRight(6) }))

  /** DuckDB CTE chain scoring [[Bm25Queries]]: ends in
    * `bmr(q_id, doc_id, score_micro, rnk)` — the exact replica of
    * [[graft.operators.Retrieval.bm25TopK]]'s all-integer scoring (see
    * its `scoreAndRank` scaladoc for the algebra; defaults k1=1.2,
    * b=0.75 → constants 880/120/360). Shared by the ir1 and ir2 oracles,
    * which append their own final SELECT.
    *
    * A def, not a val: the idfl CTE reads the driver-stashed idf literals
    * (see [[graft.OracleLiterals]]) once ir1/ir2 have run — or from the
    * compiled-in snapshot in a cold JVM; with neither, the fragment
    * FAILS LOUDLY inside the oracle engine instead of recomputing
    * `round(ln(...))` with boundary-fragile libm (VERDICT r10 #1 — the
    * old in-SQL fallback "passed by luck" three rounds running). */
  private[queries] def bm25RankedCtes: String = s"""
      q(q_id, term) AS (VALUES
        ('hash_join', 'hash'), ('hash_join', 'join'), ('hash_join', 'table'),
        ('stream_window', 'window'), ('stream_window', 'merge'),
        ('stream_window', 'stream'),
        ('vector_scan', 'spark'), ('vector_scan', 'vector'),
        ('vector_scan', 'scan')),
      toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\\s+'),
                      w -> w <> '') AS ws
        FROM documents),
      dls AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM toks),
      tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(ws) AS term FROM toks)
        GROUP BY doc_id, term),
      tfq AS (
        SELECT t.doc_id, t.term, t.tf, d.dl
        FROM tf t JOIN dls d USING (doc_id)
        WHERE t.term IN (SELECT DISTINCT term FROM q)),
      stats AS (SELECT COUNT(*) AS n_docs,
                  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dls),
      ${graft.OracleLiterals.get("bm25_idf", "idfl", Seq("term", "idf_micro"))},
      sc AS (
        SELECT q.q_id, t.doc_id,
          CAST((CAST(i.idf_micro AS HUGEINT) * 880 * t.tf * s.sum_dl) //
            (CAST(400 AS HUGEINT) * t.tf * s.sum_dl +
             120 * CAST(s.sum_dl AS HUGEINT) +
             360 * CAST(t.dl AS HUGEINT) * s.n_docs)
            AS BIGINT) AS sc_micro
        FROM tfq t JOIN q ON t.term = q.term
        JOIN idfl i ON t.term = i.term CROSS JOIN stats s),
      pd AS (
        SELECT q_id, doc_id, CAST(SUM(sc_micro) AS BIGINT) AS score_micro
        FROM sc GROUP BY q_id, doc_id),
      bmr AS (
        SELECT q_id, doc_id, score_micro,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY score_micro DESC, doc_id) AS INT) AS rnk
        FROM pd)"""

  // def, not val: d18/g3/ir1 oracle text embeds driver-stashed literals
  // rendered AFTER the queries run (see graft.OracleLiterals).
  def oracles: Map[String, String] = Map(
    "g1_gopher_quality" -> """
      WITH t AS (
        SELECT lang,
          len(string_split_regex(trim(text), '\s+')) AS nw,
          length(regexp_replace(text, '\s+', '', 'g')) AS nl,
          string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      f AS (
        SELECT lang,
          (nw BETWEEN 50 AND 100000) AS pl,
          (CAST(nl AS DOUBLE) / nw >= 3.0
            AND CAST(nl AS DOUBLE) / nw <= 10.0) AS pw,
          (list_contains(ws, 'the') OR list_contains(ws, 'a')) AS ps
        FROM t)
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN pl THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
        CAST(SUM(CASE WHEN pw THEN 1 ELSE 0 END) AS BIGINT) AS n_wl,
        CAST(SUM(CASE WHEN ps THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
        CAST(SUM(CASE WHEN pl AND pw AND ps THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pass
      FROM f GROUP BY lang ORDER BY lang""",
    "ng1_top_bigrams" -> """
      WITH t AS (
        SELECT lang, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      b AS (
        SELECT lang, unnest(list_transform(range(1, len(ws)),
          i -> ws[i] || ' ' || ws[i + 1])) AS bg
        FROM t WHERE len(ws) >= 2),
      c AS (SELECT lang, bg, COUNT(*) AS cnt FROM b GROUP BY lang, bg),
      r AS (SELECT lang, bg, cnt,
              CAST(row_number() OVER (PARTITION BY lang
                ORDER BY cnt DESC, bg) AS INTEGER) AS rk
            FROM c)
      SELECT lang, bg, cnt, rk FROM r WHERE rk <= 5
      ORDER BY lang, rk""",
    "d7_simhash" -> simhashOracle,
    "ng2_topk_mg" -> """
      WITH t AS (
        SELECT string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      b AS (
        SELECT unnest(list_transform(range(1, len(ws)),
          i -> ws[i] || ' ' || ws[i + 1])) AS bg
        FROM t WHERE len(ws) >= 2),
      c AS (SELECT bg, COUNT(*) AS cnt FROM b GROUP BY bg),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
      SELECT bg, cnt, (cnt * 4096 > n) AS guaranteed
      FROM c, tot ORDER BY cnt DESC, bg LIMIT 20""",
    "g3_bigram_xent" -> s"""
      WITH base AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\\s+'),
                      w -> w <> '') AS ws
        FROM documents),
      bg AS (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
        FROM base, LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2),
      occ AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(b), 1, 15) AS BIGINT) % 512 AS bk
        FROM bg),
      ${graft.OracleLiterals.get("g3_lp", "lp", Seq("bk", "lp_micro"))},
      per AS (
        SELECT doc_id, bk, COUNT(*) AS c
        FROM occ GROUP BY doc_id, bk)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        CAST(SUM(c * lp_micro) * -1 AS BIGINT) AS nll_micro
      FROM per JOIN lp USING (bk)
      GROUP BY doc_id ORDER BY doc_id""",
    "d20_bpe_pairs" -> """
      WITH w AS (
        SELECT tok AS w, COUNT(*) AS wc FROM (
          SELECT unnest(list_filter(
            string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
          FROM documents)
        GROUP BY tok),
      p AS (
        SELECT unnest(list_transform(range(1, length(w)),
          i -> substr(w, CAST(i AS INT), 2))) AS pair, wc
        FROM w WHERE length(w) >= 2)
      SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
      FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",
    "g5_pii_scan" -> """
      WITH x AS (
        SELECT source,
          regexp_matches(text,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}') AS he,
          regexp_matches(text, '[0-9]{3}-[0-9]{4}') AS hp,
          CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS nd
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN he THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs,
        CAST(SUM(CASE WHEN hp THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_docs,
        CAST(SUM(nd) AS BIGINT) AS n_digit_runs
      FROM x GROUP BY source ORDER BY source""",
    "g4_linear_classifier" -> """
      WITH toks AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '')) AS tok
        FROM documents),
      occ AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256 AS bk
        FROM toks),
      pd AS (SELECT doc_id, bk, COUNT(*) AS c FROM occ GROUP BY doc_id, bk),
      sc AS (
        SELECT doc_id, c,
          c * ((bk * 2654435761) % 1000003 - 500001) AS contrib
        FROM pd)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
        CAST(SUM(contrib) AS BIGINT) AS logit_micro,
        (CAST(SUM(contrib) AS BIGINT) > 0) AS keep
      FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "g7_calibration" -> """
      WITH toks AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '')) AS tok
        FROM documents),
      occ AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256 AS bk
        FROM toks),
      pd AS (SELECT doc_id, bk, COUNT(*) AS c FROM occ GROUP BY doc_id, bk),
      sc AS (
        SELECT doc_id,
          c * ((bk * 2654435761) % 1000003 - 500001) AS contrib
        FROM pd),
      lg AS (
        SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS logit
        FROM sc GROUP BY doc_id),
      rk AS (
        SELECT doc_id, logit,
          ROW_NUMBER() OVER (ORDER BY logit DESC, doc_id) AS rn,
          COUNT(*) OVER () AS n
        FROM lg),
      dc AS (
        SELECT doc_id, logit, ((rn - 1) * 10) // n AS decile FROM rk)
      SELECT decile, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_en,
        MIN(logit) AS min_logit, MAX(logit) AS max_logit,
        CAST((CAST(SUM(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)
          AS BIGINT) * 1000000) // COUNT(*) AS BIGINT) AS en_ppm
      FROM dc JOIN documents d ON dc.doc_id = d.doc_id
      GROUP BY decile ORDER BY decile""",
    "d27_length_histogram" -> """
      WITH t AS (
        SELECT lang,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
            AS n_tok
        FROM documents),
      b AS (
        SELECT lang, n_tok,
          CAST(length(bin(n_tok)) AS INTEGER) AS bucket
        FROM t)
      SELECT lang, bucket, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tok
      FROM b GROUP BY lang, bucket ORDER BY lang, bucket""",
    "d19_decontamination" -> """
      WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
                      w -> w <> '') AS ws
        FROM documents),
      g AS (
        SELECT doc_id,
          CASE WHEN len(ws) >= 3 THEN
            list_distinct(list_transform(range(1, len(ws) - 1),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          ELSE [] END AS gs
        FROM toks),
      ev AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id % 19 = 0),
      tr AS (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id % 19 <> 0),
      hits AS (
        SELECT t.doc_id, COUNT(*) AS n_grams,
          CAST(SUM(CASE WHEN e.gr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hit
        FROM tr t LEFT JOIN ev e ON t.gr = e.gr
        GROUP BY t.doc_id)
      SELECT d.doc_id, COALESCE(h.n_grams, 0) AS n_grams,
        COALESCE(h.n_hit, 0) AS n_hit,
        (COALESCE(h.n_hit, 0) * 5 >= COALESCE(h.n_grams, 0)
          AND COALESCE(h.n_grams, 0) > 0) AS flagged
      FROM (SELECT doc_id FROM g WHERE doc_id % 19 <> 0) d
      LEFT JOIN hits h USING (doc_id)
      ORDER BY d.doc_id""",
    "ir1_bm25" -> s"""
      WITH $bm25RankedCtes
      SELECT q_id, rnk, doc_id, score_micro FROM bmr WHERE rnk <= 5
      ORDER BY q_id, rnk""",
    "d12_stratified_sample" -> """
      SELECT lang, COUNT(*) AS n FROM documents
      WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(1) || '42'), 1, 15) AS BIGINT)
             % 1000000007) / 1000000007.0
            < (CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 1.0
                 WHEN 'es' THEN 1.0 WHEN 'zh' THEN 1.0 WHEN 'de' THEN 1.0
                 ELSE 0.0 END)
      GROUP BY lang ORDER BY lang""",
    "d16_weighted_mix" -> """
      WITH toks AS (
        SELECT doc_id, lang,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
        FROM documents),
      avail AS (
        SELECT lang, CAST(SUM(tok) AS DOUBLE) AS t FROM toks GROUP BY lang),
      rates AS (
        SELECT lang, LEAST(1.0,
          (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2
             WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.1 WHEN 'zh' THEN 0.05
             ELSE 0.0 END) * 10000 / t) AS r
        FROM avail)
      SELECT d.lang, COUNT(*) AS n, CAST(SUM(d.tok) AS BIGINT) AS tok
      FROM toks d JOIN rates USING (lang)
      WHERE (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || chr(1) || '42'), 1, 15) AS BIGINT)
             % 1000000007) / 1000000007.0 < r
      GROUP BY d.lang ORDER BY d.lang""",
    // all-pairs exact ground truth: the LSH path must find exactly these
    "d6_minhash_lsh" -> """
      WITH sh AS (
        SELECT doc_id, list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
                                i -> array_to_string(toks[i:i+2], ' '))
            ELSE [array_to_string(toks, ' ')] END) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents) x)
      SELECT a_id, b_id, jac FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
            / CAST(len(a.sh) + len(b.sh)
                   - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jac
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
      WHERE jac >= 0.8 ORDER BY a_id, b_id""",
    "d1_exact_dedup" -> """
      SELECT md5(text) AS h, MIN(doc_id) AS keep, COUNT(*) AS n
      FROM documents GROUP BY md5(text) ORDER BY h""",
    "g2_repetition" -> """
      WITH base AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      top2 AS (
        SELECT doc_id, MAX(c) AS max2 FROM (
          SELECT doc_id, g, COUNT(*) AS c
          FROM base, LATERAL unnest(
            list_transform(range(1, len(ws)),
                           i -> array_to_string(ws[i:i+1], ' '))) AS t(g)
          GROUP BY doc_id, g) GROUP BY doc_id),
      dup5 AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup5,
          CAST(SUM(c) AS BIGINT) AS tot5 FROM (
          SELECT doc_id, g, COUNT(*) AS c
          FROM base, LATERAL unnest(
            list_transform(range(1, len(ws) - 3),
                           i -> array_to_string(ws[i:i+4], ' '))) AS t(g)
          GROUP BY doc_id, g) GROUP BY doc_id),
      flags AS (
        SELECT b.lang,
          COALESCE(t.max2, 0) * 10 <= len(b.ws) AS p2,
          COALESCE(d.dup5, 0) * 10 <= COALESCE(d.tot5, 0) * 3 AS p5
        FROM base b
          LEFT JOIN top2 t ON b.doc_id = t.doc_id
          LEFT JOIN dup5 d ON b.doc_id = d.doc_id)
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_top2_ok,
        CAST(SUM(CASE WHEN p5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup5_ok,
        CAST(SUM(CASE WHEN p2 AND p5 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pass
      FROM flags GROUP BY lang ORDER BY lang""",
    "d18_dsir_weights" -> s"""
      WITH base AS (
        SELECT doc_id, lang = 'en' AS is_t,
               string_split_regex(trim(text), '\\s+') AS ws
        FROM documents),
      feats AS (
        SELECT doc_id, is_t, f
        FROM base, LATERAL unnest(
          list_concat(ws,
            CASE WHEN len(ws) >= 2 THEN
              list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
            ELSE [] END)) AS t(f)),
      occ AS (
        SELECT doc_id, is_t,
               CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % 64 AS b
        FROM feats),
      ${graft.OracleLiterals.get("d18_w", "w", Seq("b", "w_micro"))},
      pd AS (SELECT doc_id, b, COUNT(*) AS c FROM occ GROUP BY doc_id, b),
      agg AS (
        SELECT doc_id,
          CAST(SUM(c) AS BIGINT) AS n_feats,
          CAST(SUM(c * w_micro) AS BIGINT) AS w_micro
        FROM pd JOIN w USING (b)
        GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(a.n_feats, 0) AS n_feats,
        COALESCE(a.w_micro, 0) AS w_micro
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id""",
    "d17_segment_dedup" -> """
      WITH words AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
                      w -> w <> '') AS ws
        FROM documents),
      segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(list_slice(ws, i*3+1, i*3+3), ' ') AS seg
        FROM words, LATERAL unnest(generate_series(0,
          CAST(ceil(len(ws) / 3.0) AS BIGINT) - 1)) AS t(i)),
      boiler AS (
        SELECT seg FROM segs GROUP BY seg
        HAVING COUNT(DISTINCT doc_id) > 3),
      marked AS (
        SELECT s.doc_id, s.seg_idx, s.seg, b.seg IS NOT NULL AS bo
        FROM segs s LEFT JOIN boiler b ON s.seg = b.seg)
      SELECT doc_id,
        CAST(SUM(CASE WHEN bo THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN bo THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        md5(COALESCE(string_agg(CASE WHEN NOT bo THEN seg END, ' '
                                ORDER BY seg_idx), '')) AS clean_hash
      FROM marked GROUP BY doc_id ORDER BY doc_id""",
    "m3_image_decode" -> """
      WITH dims AS (
        SELECT doc_id AS d, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
        FROM documents WHERE doc_id < 200)
      SELECT d AS doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        CAST(h * (w * d + (w * (w - 1)) // 2) AS BIGINT) AS sum_r,
        CAST(w * (h * d + (h * (h - 1)) // 2) AS BIGINT) AS sum_g,
        CAST(w * h * d + h * ((w * (w - 1)) // 2)
          + w * ((h * (h - 1)) // 2) AS BIGINT) AS sum_b
      FROM dims ORDER BY doc_id""",
    "d25_oov_rate" -> """
      WITH toks AS (
        SELECT source,
          unnest(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '')) AS tok
        FROM documents),
      vc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
      vocab AS (
        SELECT tok FROM (
          SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn
          FROM vc) x
        WHERE rn <= 100)
      SELECT t.source, COUNT(*) AS n_tokens,
        CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_oov,
        CAST((SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000)
          // COUNT(*) AS BIGINT) AS oov_ppm
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.source ORDER BY t.source""",
    "d26_fertility" -> """
      WITH per AS (
        SELECT lang,
          CAST(SUM(CAST(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)) AS BIGINT)
            AS sum_sub,
          CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+'))
            AS BIGINT)) AS BIGINT) AS sum_ws
        FROM documents GROUP BY lang)
      SELECT lang, sum_sub, sum_ws,
        CAST((sum_sub * 1000000) // sum_ws AS BIGINT) AS fertility_ppm
      FROM per ORDER BY lang""",
    "p2_curation" -> """
      WITH surv AS (
        SELECT d.doc_id, d.text FROM documents d
        JOIN (SELECT text, MIN(doc_id) AS keep_id
              FROM documents GROUP BY text) k
          ON d.doc_id = k.keep_id),
      words AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
                      w -> w <> '') AS ws
        FROM surv),
      segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(list_slice(ws, i*3+1, i*3+3), ' ') AS seg
        FROM words, LATERAL unnest(generate_series(0,
          CAST(ceil(len(ws) / 3.0) AS BIGINT) - 1)) AS t(i)),
      boiler AS (
        SELECT seg FROM segs GROUP BY seg
        HAVING COUNT(DISTINCT doc_id) > 3),
      clean AS (
        SELECT s.doc_id,
          SUM(CASE WHEN b.seg IS NULL THEN 1 ELSE 0 END) AS n_kept,
          COALESCE(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END, ' '
                              ORDER BY s.seg_idx), '') AS ct
        FROM segs s LEFT JOIN boiler b ON s.seg = b.seg
        GROUP BY s.doc_id),
      gated AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(ct), '\s+'),
                      w -> w <> '') AS cws
        FROM clean WHERE n_kept >= 4),
      g2 AS (
        SELECT doc_id, CAST(len(cws) AS BIGINT) AS n_tok FROM gated
        WHERE len(cws) >= 10
          AND CAST(len(list_distinct(cws)) AS DOUBLE) / len(cws) >= 0.3),
      runs AS (
        SELECT doc_id, lang,
          doc_id - ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
            AS grp
        FROM documents),
      comps AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang, grp) AS comp
        FROM runs),
      asg AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 15) AS BIGINT)
            % 10 AS split
        FROM comps)
      SELECT a.split, d.source, COUNT(*) AS n_docs,
        CAST(SUM(g2.n_tok) AS BIGINT) AS sum_tok
      FROM g2 JOIN asg a ON g2.doc_id = a.doc_id
      JOIN documents d ON g2.doc_id = d.doc_id
      GROUP BY a.split, d.source ORDER BY a.split, d.source""",
    "d24_curriculum" -> """
      WITH toks AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '')) AS tok
        FROM documents),
      occ AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256 AS bk
        FROM toks),
      pd AS (SELECT doc_id, bk, COUNT(*) AS c FROM occ GROUP BY doc_id, bk),
      sc AS (
        SELECT doc_id,
          c * ((bk * 2654435761) % 1000003 - 500001) AS contrib
        FROM pd),
      lg AS (
        SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS logit
        FROM sc GROUP BY doc_id),
      rk AS (
        SELECT doc_id, logit,
          ROW_NUMBER() OVER (ORDER BY logit DESC, doc_id) AS rn,
          COUNT(*) OVER () AS n
        FROM lg),
      ph AS (
        SELECT doc_id, logit, ((rn - 1) * 4) // n AS phase FROM rk)
      SELECT phase, d.source, COUNT(*) AS n_docs,
        MIN(logit) AS min_logit, MAX(logit) AS max_logit
      FROM ph JOIN documents d ON ph.doc_id = d.doc_id
      GROUP BY phase, d.source ORDER BY phase, d.source""",
    "m4_image_resize" -> """
      WITH dims AS (
        SELECT doc_id AS d, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
        FROM documents WHERE doc_id < 200),
      px AS (
        SELECT d, w, h, (i.i * w) // 4 AS sx, (j.j * h) // 4 AS sy
        FROM dims, range(0, 4) AS i(i), range(0, 4) AS j(j))
      SELECT d AS doc_id, CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
        CAST(SUM(d + sx) AS BIGINT) AS sum_r,
        CAST(SUM(d + sy) AS BIGINT) AS sum_g,
        CAST(SUM(d + sx + sy) AS BIGINT) AS sum_b
      FROM px GROUP BY d ORDER BY doc_id""",
    "m5_audio_decode" -> """
      WITH ids AS (
        SELECT doc_id AS d, 400 + doc_id % 100 AS n
        FROM documents WHERE doc_id < 200),
      samp AS (
        SELECT d, n, ((d * 31 + i.i * 7) % 2001) - 1000 AS s
        FROM ids, LATERAL unnest(generate_series(0, n - 1)) AS i(i))
      SELECT d AS doc_id, CAST(n AS BIGINT) AS n_samples,
        CAST(SUM(s) AS BIGINT) AS sum_amp,
        CAST(MIN(s) AS BIGINT) AS min_amp,
        CAST(MAX(s) AS BIGINT) AS max_amp
      FROM samp GROUP BY d, n ORDER BY doc_id""",
    // exact replica of decodeAudioWindows over the closed-form signal:
    // window = 100 samples, crossings = strict sign flips within frame
    "m7_audio_features" -> """
      WITH ids AS (
        SELECT doc_id AS d, 400 + doc_id % 100 AS n
        FROM documents WHERE doc_id < 200),
      samp AS (
        SELECT d, i.i AS i, ((d * 31 + i.i * 7) % 2001) - 1000 AS s,
          i.i // 100 AS win
        FROM ids, LATERAL unnest(generate_series(0, n - 1)) AS i(i)),
      lagd AS (
        SELECT d, i, s, win,
          lag(s) OVER (PARTITION BY d ORDER BY i) AS prev
        FROM samp)
      SELECT d AS doc_id, CAST(win AS BIGINT) AS win,
        COUNT(*) AS n_samples,
        CAST(SUM(s) AS BIGINT) AS sum_amp,
        CAST(SUM(s * s) AS BIGINT) AS sum_sq,
        CAST(SUM(CASE WHEN i % 100 <> 0 AND prev * s < 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
      FROM lagd GROUP BY d, win ORDER BY doc_id, win""",
    "g6_pii_redact" -> """
      SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
          AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}'))
          AS BIGINT) AS n_phone,
        md5(regexp_replace(
          regexp_replace(text,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
            '[EMAIL]', 'g'),
          '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS clean_hash
      FROM documents ORDER BY doc_id""",
    "d23_cluster_split" -> """
      WITH runs AS (
        SELECT doc_id, lang,
          doc_id - ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
            AS grp
        FROM documents),
      comps AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang, grp) AS comp
        FROM runs),
      asg AS (
        SELECT doc_id, comp,
          CAST('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 15) AS BIGINT)
            % 10 AS split
        FROM comps)
      SELECT split, COUNT(*) AS n_docs,
        CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_clusters
      FROM asg GROUP BY split ORDER BY split""",
    "ir3_phrase_query" -> """
      WITH words AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
                      w -> w <> '') AS ws
        FROM documents),
      occ AS (
        SELECT doc_id, COUNT(*) AS n_occ
        FROM words, LATERAL unnest(generate_series(1, len(ws) - 1))
            AS t(i)
        WHERE ws[i] = 'hash' AND ws[i + 1] = 'join'
        GROUP BY doc_id)
      SELECT doc_id, n_occ FROM occ ORDER BY doc_id""",
    "d21_repeated_spans" -> """
      WITH words AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\s+'),
                      w -> w <> '') AS ws
        FROM documents),
      spans AS (
        SELECT doc_id, array_to_string(list_slice(ws, i, i + 4), ' ')
            AS span
        FROM words, LATERAL unnest(generate_series(1, len(ws) - 4))
            AS t(i)
        WHERE len(ws) >= 5),
      dup AS (
        SELECT span FROM spans GROUP BY span
        HAVING COUNT(DISTINCT doc_id) >= 2),
      per AS (
        SELECT s.doc_id, COUNT(*) AS n_spans,
          CAST(SUM(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup
        FROM spans s LEFT JOIN dup d ON s.span = d.span
        GROUP BY s.doc_id)
      SELECT w.doc_id,
        COALESCE(n_spans, 0) AS n_spans,
        COALESCE(n_dup, 0) AS n_dup
      FROM words w LEFT JOIN per ON w.doc_id = per.doc_id
      ORDER BY w.doc_id""",
    "d22_temperature_mix" -> """
      WITH per AS (
        SELECT source AS stratum,
          CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+'))
            AS BIGINT)) AS HUGEINT) AS c
        FROM documents GROUP BY source),
      tot AS (SELECT SUM(c * c) AS den FROM per)
      SELECT stratum, CAST(c AS BIGINT) AS n_tokens,
        CAST((c * c * 1000000) // den AS BIGINT) AS share_ppm
      FROM per, tot ORDER BY stratum""",
    "d2_token_stats" -> """
      SELECT lang,
        CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
        COUNT(*) AS n_docs,
        MIN(n_chars) AS min_chars,
        MAX(n_chars) AS max_chars
      FROM documents GROUP BY lang ORDER BY lang""",
    "d3_quality" -> """
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS uniq_ratio,
        CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE) AS mean_tok_len,
        CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE) AS stop_ratio
      FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks
            FROM documents) x
      ORDER BY doc_id""",
    "d4_langid" -> """
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      h AS (SELECT doc_id,
        CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','is','in'))) AS BIGINT) AS hits_en,
        CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein'))) AS BIGINT) AS hits_de,
        CAST(len(list_filter(toks, t -> t IN ('le','la','les','et','est','une'))) AS BIGINT) AS hits_fr,
        CAST(len(list_filter(toks, t -> t IN ('el','los','las','y','es','una'))) AS BIGINT) AS hits_es
        FROM t)
      SELECT doc_id, hits_en, hits_de,
        CASE
          WHEN hits_en > 0 AND hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
          WHEN hits_de > 0 AND hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
          WHEN hits_fr > 0 AND hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
          WHEN hits_es > 0 AND hits_es = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'es'
          ELSE 'unk' END AS lang_guess
      FROM h ORDER BY doc_id""",
    "d5_fingerprint" -> """
      SELECT doc_id, substring(md5(lower(trim(text))), 1, 16) AS fp
      FROM documents ORDER BY doc_id""",
    "d8_ngram_jaccard" -> """
      WITH sh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN length(text) >= 3
            THEN list_transform(range(1, length(text) - 1),
                                i -> substr(text, i, 3))
            ELSE [text] END) AS sh
        FROM documents WHERE doc_id < 100)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh)
                 - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jac
      FROM sh a JOIN sh b
        ON b.doc_id - a.doc_id <= 10 AND a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh)
                 - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) >= 0.3
      ORDER BY a_id, b_id""",
    "p1_pipeline" -> """
      WITH surv AS (
        SELECT d.* FROM documents d
        JOIN (SELECT MIN(doc_id) AS keep FROM documents GROUP BY md5(text)) k
          ON d.doc_id = k.keep),
      filt AS (
        SELECT source, doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        FROM (
          SELECT source, doc_id, text,
            string_split_regex(trim(text), '\s+') AS toks
          FROM surv) x
        WHERE CAST(len(list_distinct(toks)) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) >= 0.3
          AND len(toks) >= 10),
      c AS (
        SELECT source, doc_id, n_tok,
          SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
        FROM filt),
      packs AS (
        SELECT source, n_tok,
          CAST(FLOOR(CAST(cum - n_tok AS DOUBLE) / 1024) AS BIGINT) AS pack_id
        FROM c)
      SELECT source, COUNT(DISTINCT pack_id) AS n_packs, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tok
      FROM packs GROUP BY source ORDER BY source""",
    "d11_packing" -> """
      WITH t AS (
        SELECT source, doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tok,
          SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
        FROM t)
      SELECT source, CAST(FLOOR(CAST(cum - n_tok AS DOUBLE) / 2048) AS BIGINT) AS pack_id,
             COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
      FROM c GROUP BY 1, 2 ORDER BY source, pack_id""",
    "d13_chunking" -> """
      WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE doc_id < 50),
      st AS (
        SELECT doc_id, toks,
          unnest(range(0, CAST(len(toks) AS BIGINT), 48)) AS s
        FROM t)
      SELECT doc_id, CAST(s // 48 AS INT) AS chunk_id,
        array_to_string(toks[s+1:s+64], ' ') AS chunk_text,
        CAST(len(toks[s+1:s+64]) AS INT) AS n_tok
      FROM st WHERE len(toks[s+1:s+64]) > 0
      ORDER BY doc_id, chunk_id""",
    "d14_dup_clusters" -> """
      WITH RECURSIVE edges AS (
        SELECT d1.doc_id AS src, d2.doc_id AS dst
        FROM documents d1 JOIN documents d2
          ON d2.doc_id = d1.doc_id + 1 AND d1.lang = d2.lang),
      sym AS (
        SELECT src, dst FROM edges
        UNION SELECT dst AS src, src AS dst FROM edges),
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      reach(root, node) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.root, s.dst FROM reach r JOIN sym s ON s.src = r.node),
      label AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node)
      SELECT component, COUNT(*) AS n_docs, MAX(node) AS last_doc
      FROM label GROUP BY component ORDER BY component""",
    "d29_incremental_lsh" -> """
      WITH sh AS (
        SELECT doc_id, list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
                                i -> array_to_string(toks[i:i+2], ' '))
            ELSE [array_to_string(toks, ' ')] END) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents) x),
      sig AS (
        SELECT doc_id,
          list_transform(range(0, 16), i ->
            list_min(list_transform(bs, b ->
              ((2*i + 1) * b + i * 1013904223) % 2147483647))) AS sig
        FROM (SELECT doc_id,
                list_transform(sh, s ->
                  CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                    % 2147483647) AS bs
              FROM sh) y),
      bsig AS (
        SELECT doc_id, sig,
          list_transform(range(0, 8), b ->
            CAST('0x' || substr(md5('b' || CAST(b AS VARCHAR) || ':' ||
              array_to_string(list_transform(sig[b*2+1:b*2+2],
                x -> CAST(x AS VARCHAR)), ',')), 1, 15) AS BIGINT)) AS bh
        FROM sig)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))
             AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard
      FROM bsig a JOIN bsig b
        ON a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0
        AND len(list_filter(range(1, 9), j -> a.bh[j] = b.bh[j])) > 0
      WHERE CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))
             AS DOUBLE) / CAST(16 AS DOUBLE) >= 0.5
      ORDER BY a_id, b_id""",
    "d28_cluster_sizes" -> """
      WITH RECURSIVE edges AS (
        SELECT d1.doc_id AS src, d2.doc_id AS dst
        FROM documents d1 JOIN documents d2
          ON d2.doc_id = d1.doc_id + 1 AND d1.lang = d2.lang),
      sym AS (
        SELECT src, dst FROM edges
        UNION SELECT dst AS src, src AS dst FROM edges),
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      reach(root, node) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.root, s.dst FROM reach r JOIN sym s ON s.src = r.node),
      label AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node),
      clustered AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
        FROM label GROUP BY component),
      singles AS (
        SELECT CAST(1 AS BIGINT) AS sz
        FROM documents d LEFT JOIN label l ON d.doc_id = l.node
        WHERE l.node IS NULL),
      allc AS (
        SELECT sz FROM clustered UNION ALL SELECT sz FROM singles)
      SELECT sz, COUNT(*) AS n_clusters,
        CAST(COUNT(*) * sz AS BIGINT) AS n_docs,
        CAST(COUNT(*) * (sz - 1) AS BIGINT) AS n_removed
      FROM allc GROUP BY sz ORDER BY sz""",
    "d15_canonical_keep" -> """
      WITH RECURSIVE edges AS (
        SELECT d1.doc_id AS src, d2.doc_id AS dst
        FROM documents d1 JOIN documents d2
          ON d2.doc_id = d1.doc_id + 1 AND d1.lang = d2.lang),
      sym AS (
        SELECT src, dst FROM edges
        UNION SELECT dst AS src, src AS dst FROM edges),
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      reach(root, node) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.root, s.dst FROM reach r JOIN sym s ON s.src = r.node),
      label AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node)
      SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents
      WHERE doc_id NOT IN (SELECT node FROM label WHERE node <> component)
      GROUP BY lang ORDER BY lang""",
    "m1_multimodal_meta" -> """
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_bytes,
        sha256(text) AS payload_sha,
        source
      FROM documents ORDER BY doc_id""",
    // the (doc, frame) grid at e = doc_id + f inherits m3's closed-form
    // channel sums — the oracle never touches container bytes or a codec
    "m6_video_decode" -> """
      WITH grid AS (
        SELECT doc_id, f, doc_id + f AS e,
          8 + (doc_id + f) % 8 AS w, 8 + (doc_id + f) % 5 AS h
        FROM documents, (VALUES (0), (1), (2), (3)) AS t(f)
        WHERE doc_id < 40)
      SELECT doc_id, CAST(f AS INT) AS frame,
        CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        CAST(h * (w * e + (w * (w - 1)) // 2) AS BIGINT) AS sum_r,
        CAST(w * (h * e + (h * (h - 1)) // 2) AS BIGINT) AS sum_g,
        CAST(w * h * e + h * ((w * (w - 1)) // 2)
          + w * ((h * (h - 1)) // 2) AS BIGINT) AS sum_b
      FROM grid ORDER BY doc_id, frame""",
    "m2_frame_sample" -> """
      SELECT COUNT(*) * 3 AS n_frames,
        COUNT(*) * 3 AS n_ids,
        CAST(MIN(doc_id) * 1000 AS BIGINT) AS min_id,
        CAST(MAX(doc_id) * 1000 + 2 AS BIGINT) AS max_id,
        CAST(8 AS BIGINT) AS dim_lo,
        CAST(8 AS BIGINT) AS dim_hi
      FROM documents"""
  )
}
