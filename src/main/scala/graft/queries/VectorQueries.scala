package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.{Dedup, Similarity}

/** Embedding / similarity-search queries over the `embeddings` table
  * (`vec_id BIGINT, embedding ARRAY<FLOAT>, label INT`). Exact ops carry
  * DuckDB oracles (both engines fold the dot product left-to-right over
  * doubles → bit-identical); LSH/IVF approximate ops are rows-only.
  */
object VectorQueries {
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // e17/e18 build-once registry + pid-scoped tmpdir keys live in
  // [[IndexCache]] (shared with d29's persisted LSH index).

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- per-vector norms and dimensions (sanity + pruning stats) ---
    "e1_vector_norms" -> ((s, dir) => {
      emb(s, dir)
        .select(col("vec_id"),
          size(col("embedding")).cast("int").as("dim"),
          norm(col("embedding")).as("l2"))
        .orderBy(col("vec_id"))
    }),

    // --- brute-force exact cosine top-k (ANN recall baseline) ---
    "e2_knn_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 3), k = 5)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- label centroids: order-independent decimal accumulation so the
    // result is deterministic under any partitioning. Emitted as exploded
    // (label, i, c) scalar rows — an array-typed column cannot be
    // hashed/sorted by the driver's compare harness ---
    "e3_centroids" -> ((s, dir) => {
      val D = DecimalType(28, 12)
      emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        // float → double FIRST (exact binary expansion in any engine),
        // then decimal for an order-independent sum; the final round(6)
        // absorbs the ≤1e-12 cross-engine double→decimal rounding delta
        // (DuckDB's cast is double-multiply based, Spark's is exact)
        .agg(round(sum(col("x").cast("double").cast(D)).cast("double") /
          count(lit(1)).cast("double"), 6).as("c"))
        .orderBy(col("label"), col("i"))
    }),

    // --- LSH-bucketed ANN (scale path). The hyperplanes are deterministic
    // plan literals and both engines fold doubles left-to-right, so the
    // bucket assignment — and therefore the whole result — is exactly
    // reproducible in the DuckDB oracle (generated SQL below) ---
    "e4_knn_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshKnn(e, e.filter(col("vec_id") < 20), k = 5, nPlanes = 4)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- IVF-cell ANN: deterministic centroids (first nCells by vec_id),
    // narrow argmin assignment; exactly reproduced by the oracle ---
    "e5_knn_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfKnn(e, e.filter(col("vec_id") < 3), k = 5)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- embedding near-duplicate pairs via sign-LSH + cosine; exact
    // oracle through the same literal-hyperplane reconstruction ---
    "e6_embedding_dedup" -> ((s, dir) => {
      Dedup.embeddingNearDups(emb(s, dir), "embedding", "vec_id",
          nPlanes = 4, threshold = 0.3)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // --- one distributed Lloyd (k-means) step: deterministic seed
    // (first 8 vectors), narrow argmin assignment (the IVF projection),
    // per-(cell, dim) decimal-exact means. The oracle replays the
    // |c|²−2·a·c argmin and the float→double→decimal fold in DuckDB —
    // assignment AND update are both hash-exact ---
    "e7_kmeans_step" -> ((s, dir) => {
      Similarity.lloydStep(emb(s, dir), k = 8)
    }),

    // --- two FULL Lloyd rounds via kmeansFit: round-1 means (the e7
    // computation) feed round 2 as literal argmin centroids. The oracle
    // unrolls both rounds — reassembling the round-1 means into centroid
    // vectors with list(mean ORDER BY dim) and replaying the identical
    // |c|²−2·a·c fold — so assignment AND update stay hash-exact across
    // the iteration boundary. Cell ids: seeds are vec_ids 0..3, which
    // equal kmeansFit's centroid indices, so ids agree by construction ---
    "e8_kmeans_fit" -> ((s, dir) => {
      Similarity.kmeansFit(emb(s, dir), k = 4, rounds = 2)
    }),

    // --- clustering-quality evaluation: per-cell member count + inertia
    // (Σ|a−c|², the convergence/elbow statistic) against the e7-style
    // seed centroids (first 4 vectors — collected as O(k·dim) driver
    // metadata, same bound as every centroid path). Every cell appears,
    // empty ones as (cell, 0, 0). The distance chain is IEEE-exact dot
    // folds rounded once to 6 dp riding as DECIMAL inside the operator;
    // the QUERY presents the sum as exact BIGINT micro-units (×10⁶) —
    // r18: e9 was the registry's last raw-decimal output column, and
    // decimal rendering is parquet-read-path-dependent (the ds38 driver
    // lesson, PLANS.md §ds38); inertia_micro is integral so every read
    // path prints the same string ---
    "e9_kmeans_inertia" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents: Seq[Seq[Double]] = e.orderBy(col("vec_id")).limit(4)
        .select(col("embedding")).collect().toSeq
        .map(_.getSeq[Any](0).map {
          case n: java.lang.Number => n.doubleValue
          case x => throw new IllegalArgumentException(
            s"embedding values must be numeric, got ${x.getClass.getName}")
        }.toSeq)
      Similarity.quantizationError(e, cents)
        .select(col("cell"), col("n_members"),
          Present.bigintExact(col("inertia") * lit(1000000L),
            "e9.inertia_micro").as("inertia_micro"))
    }),

    // --- SemDeDup: cluster-confined semantic dedup (Abbas et al. 2023)
    // — the embedding-space sibling of MinHash-LSH: the e9 seed
    // centroids define the cells, and a vector is dropped iff a LOWER-id
    // vector in the SAME cell has cosine ≥ 0.95. The pair join never
    // leaves a cell (the method's 100 TB story); cosine is the
    // bit-identical cross-engine fold, so keep-flags are hash-exact ---
    "e10_semdedup" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents: Seq[Seq[Double]] = e.orderBy(col("vec_id")).limit(4)
        .select(col("embedding")).collect().toSeq
        .map(_.getSeq[Any](0).map {
          case n: java.lang.Number => n.doubleValue
          case x => throw new IllegalArgumentException(
            s"embedding values must be numeric, got ${x.getClass.getName}")
        }.toSeq)
      Dedup.semDedup(e, cents, threshold = 0.95)
        .orderBy(col("vec_id"))
    }),

    // --- hard-negative mining (DPR/ANCE-style contrastive curation):
    // per query, top-3 most-similar vectors with a DIFFERENT label —
    // the bit-identical cosine fold, so hash-exact like e2 ---
    "e13_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 5), "label",
          k = 3)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- ANN recall audit (the acceptance metric every approximate-
    // index deployment tracks before switching off brute force):
    // recall@5 of the sign-LSH ranking (e4 machinery) against the exact
    // brute-force top-5 (e2 machinery), per query and as exact integer
    // ppm. The intersection is one bounded (q_id, n_id) LeftSemi —
    // ≤ k rows per query per side — and both rankings are already
    // independently hash-exact, so the audit is too ---
    "e14_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceKnn(e, qs, k = 5)
        .select(col("q_id"), col("n_id"))
      val ann = Similarity.lshKnn(e, qs, k = 5, nPlanes = 4)
        .select(col("q_id"), col("n_id"))
      val hits = exact.join(ann, Seq("q_id", "n_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_ppm", expr("(n_hit * 1000000) div n_exact"))
        .orderBy(col("q_id"))
    }),

    // --- product quantization encode (Jégou et al. 2011): 64-dim
    // vectors → 4 codes from 8-codeword codebooks (codebook m = the m-th
    // 16-dim slice of the first 8 vectors — deterministic seeds, the
    // e7/e9 convention). The argmin is the IVF |c|²−2·a·c literal fold
    // per subspace, so the oracle replays it exactly; all-integer
    // output — hash-exact ---
    "e11_pq_codes" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqCodes(e, pqCodebooks(e))
        .orderBy(col("vec_id"), col("m"))
    }),

    // --- asymmetric-distance (ADC) PQ search: query vectors 0/1/2
    // against the coded corpus. The O(#q·M·k) lookup table is computed
    // ONCE on the driver and injected as identical BIGINT micro-unit
    // literals into this plan AND the oracle (the d18/BM25 pattern), so
    // the Σ_m sum is pure integer arithmetic — order-independent and
    // hash-exact ---
    "e12_pq_adc" -> ((s, dir) => {
      val e = emb(s, dir)
      val cbs = pqCodebooks(e)
      val qs = seedEmbeddings(e, 3)
      val codes = Similarity.pqCodes(e, cbs)
      Similarity.pqAdcTopK(codes, qs, cbs, k = 5, onLut = lut =>
        graft.OracleLiterals.put("e12_lut", graft.OracleLiterals.valuesCte3L(
          "lut", "q_id", "m", "code", "dq_micro", lut)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- IVF-ADC: the COMBINED coarse-quantizer + product-quantizer
    // search (IVF-PQ, Jégou et al. 2011 §V-A) — the e5 cell pruning and
    // the e12 ADC scoring composed end to end, which is what a
    // billion-vector deployment actually runs: only the nProbe=4 (of 16)
    // cells nearest each query are ADC-scored. Cell assignment + PQ
    // encode fuse into ONE narrow codegen'd projection; probes and LUT
    // are bounded driver metadata injected as identical BIGINT micro-unit
    // literals into this plan AND the oracle — pure integer sums, so the
    // cell-pruned ranking is hash-exact on any engine ---
    "e15_ivf_adc" -> ((s, dir) => {
      val e = emb(s, dir)
      val cbs = pqCodebooks(e)
      val qs = seedEmbeddings(e, 3)
      Similarity.ivfAdcTopK(e, qs, cbs, k = 5, nCells = 16, nProbe = 4,
        onLut = lut => graft.OracleLiterals.put("e15_lut",
          graft.OracleLiterals.valuesCte3L(
            "lut", "q_id", "m", "code", "dq_micro", lut)),
        onProbes = ps => graft.OracleLiterals.put("e15_probes",
          graft.OracleLiterals.valuesCteL("probes", "q_id", "cell", ps)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- SQ8 scalar-quantized search: per-dim 0..255 codes against the
    // corpus min/max range, ranking by INTEGER code dot product — the
    // 4×-compression serving path next to PQ (FAISS SQ8 / int8 GEMM).
    // No literal snapshot needed: min/max are exact float aggregates
    // both engines recompute bit-identically, the encode is the same
    // IEEE double expression on both sides, and all scoring is BIGINT ---
    "e16_sq8_search" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.sq8TopK(e, seedEmbeddings(e, 3), k = 5)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- SQ8 build-once/query-many: the SERVING decomposition of e16 —
    // buildSq8Index persists per-dim scale stats (O(dim) metadata) and
    // the 4×-compressed code arrays; querySq8Index then ranks against
    // the CODES SCAN ONLY, never re-touching the float corpus (the
    // ir1-family persisted-index precedent; cf. buildBm25Index). The
    // index lands under java.io.tmpdir keyed by the corpus dir, so the
    // registry entry is idempotent per scale. k=8 distinguishes the
    // result from e16's k=5; the quantizer is the SHARED sq8CodesCol
    // expression, so inline and persisted paths cannot diverge ---
    "e17_sq8_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = IndexCache.path("graft_sq8_index_v1", dir)
      // build-once per JVM per corpus: suites run in parallel in one
      // JVM, and a concurrent overwrite-build racing another caller's
      // index SCAN would be flaky. IndexCache.ensure runs the build at
      // most once and blocks other first callers until it completes.
      // The index is data-deterministic, so a skipped rebuild can never
      // go stale within a corpus; the v1 tag versions the disk format.
      IndexCache.ensure(path, "e17") { Similarity.buildSq8Index(e, path) }
      Similarity.querySq8Index(s, path, seedEmbeddings(e, 3), k = 8)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- IVF-ADC build-once/query-many: the SERVING decomposition of
    // e15 — buildIvfAdcIndex persists the nCells centroids (bounded
    // metadata) plus the fused cell+PQ codes PARTITIONED BY cell, and
    // queryIvfAdcIndex ranks against a statically cell-pruned CODES SCAN
    // ONLY: the plan reads just the probed cells' directories of the
    // compressed code table and never re-touches the float corpus — the
    // billion-vector deployment shape (build the IVF-PQ index once,
    // serve forever; cf. e17 for the SQ8 analogue). The encode is the
    // SHARED ivfPqCodesWithCell projection and the probe fold is the
    // SHARED ivfProbeCells, so inline and persisted paths cannot
    // diverge. k=7 distinguishes the result from e15's k=5 ---
    "e18_ivf_adc_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val cbs = pqCodebooks(e)
      val qs = seedEmbeddings(e, 3)
      val path = IndexCache.path("graft_ivfadc_index_v1", dir)
      IndexCache.ensure(path, "e18") {
        Similarity.buildIvfAdcIndex(e, path, cbs, nCells = 16) }
      Similarity.queryIvfAdcIndex(s, path, qs, cbs, k = 7, nProbe = 4,
        onLut = lut => graft.OracleLiterals.put("e18_lut",
          graft.OracleLiterals.valuesCte3L(
            "lut", "q_id", "m", "code", "dq_micro", lut)),
        onProbes = ps => graft.OracleLiterals.put("e18_probes",
          graft.OracleLiterals.valuesCteL("probes", "q_id", "cell", ps)))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- ADC-shortlist + exact rerank (the FAISS IndexRefineFlat
    // serving pattern, completing the e15/e18 ANN stack): the persisted
    // IVF-ADC index produces a 20-candidate approximate shortlist per
    // query (compressed codes only, statically cell-pruned — the e18
    // plan), then EXACT cosine re-scores just those candidates by a
    // KEY join against the float corpus, final top-5. The expensive
    // exact scorer touches shortlist×queries rows (60 here), never the
    // corpus — at a billion vectors the refine stage is a 60-row
    // broadcast probe into a keyed scan, not a second brute-force pass.
    // Cosine is the bit-identical e2 fold, so the oracle replays the
    // whole two-stage pipeline exactly ---
    "e19_adc_rerank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val cbs = pqCodebooks(e)
      val qs = seedEmbeddings(e, 3)
      val path = IndexCache.path("graft_ivfadc_index_v1", dir)
      IndexCache.ensure(path, "e19") {
        Similarity.buildIvfAdcIndex(e, path, cbs, nCells = 16) }
      val shortlist = Similarity.queryIvfAdcIndex(s, path, qs, cbs,
        k = 20, nProbe = 4,
        onLut = lut => graft.OracleLiterals.put("e19_lut",
          graft.OracleLiterals.valuesCte3L(
            "lut", "q_id", "m", "code", "dq_micro", lut)),
        onProbes = ps => graft.OracleLiterals.put("e19_probes",
          graft.OracleLiterals.valuesCteL("probes", "q_id", "cell", ps)))
        .select(col("q_id"), col("vec_id"))
      val qemb = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = shortlist
        .join(broadcast(qemb), Seq("q_id"))
        .join(e.select(col("vec_id"), col("embedding").as("d_emb")),
          Seq("vec_id"))
        .withColumn("cos", cosine(col("q_emb"), col("d_emb")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk").cast("int").as("rnk"),
          col("vec_id"), col("cos"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- hybrid retrieval: BM25 top-20 (sparse) fused with brute-force
    // cosine top-20 (dense, query vectors = embeddings 0/1/2 standing in
    // for encoded query text) via reciprocal-rank fusion — the two-tower
    // RAG retrieval stack as one declarative plan. Each rank contribution
    // is an exact BIGINT integral division (pico-units, 10¹² div
    // (60+rnk)), so the fused scores carry NO floating point or rounding
    // function at all and the oracle check is hash-exact on any engine
    // build (CORRECTNESS_r09 flipped on the old round(double,12)) ---
    "ir2_hybrid_rrf" -> ((s, dir) =>
      hybridFused(s, dir).orderBy(col("q_id"), col("rnk"))),

    // --- retrieve-then-rerank (the standard two-stage RAG stack): the
    // ir2 hybrid RRF top-10 per query is re-scored by EXACT cosine
    // between the query embedding and each candidate's embedding, final
    // top-5 by (cos desc, doc_id). The rerank stage touches only the
    // BOUNDED fused list (≤ 10 rows per query joined against the
    // embedding table on its key), which is the whole point of the
    // two-stage design: the expensive scorer sees k candidates, not the
    // corpus. Cosine is the bit-identical e2 fold — hash-exact ---
    "ir4_rerank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val qvec = when(col("q_id") === "hash_join", 0L)
        .when(col("q_id") === "stream_window", 1L).otherwise(2L)
      val cands = hybridFused(s, dir)
        .select(col("q_id"), qvec.as("qv"), col("doc_id"))
      val scored = cands
        .join(broadcast(e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qv"), col("embedding").as("q_emb"))),
          Seq("qv"))
        .join(e.select(col("vec_id").as("doc_id"),
          col("embedding").as("d_emb")), Seq("doc_id"))
        .withColumn("cos", cosine(col("q_emb"), col("d_emb")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("doc_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("doc_id"), col("cos"))
        .orderBy(col("q_id"), col("rnk"))
    })
  )

  /** The ir2 hybrid retrieval: BM25 top-20 (sparse) fused with
    * brute-force cosine top-20 (dense, query vectors = embeddings 0/1/2
    * standing in for encoded query text) via integer reciprocal-rank
    * fusion. Shared by ir2 (fused ranking) and ir4 (rerank stage). */
  private def hybridFused(s: SparkSession, dir: String): DataFrame = {
    val sparse = graft.operators.Retrieval.bm25TopK(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        TextQueries.Bm25Queries, k = 20,
        onModel = TextQueries.stashBm25Idf)
      .select(col("q_id"), col("doc_id"), col("rnk"))
    val e = emb(s, dir)
    val dense = Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 3), k = 20)
      .select(
        when(col("q_id") === 0L, "hash_join")
          .when(col("q_id") === 1L, "stream_window")
          .otherwise("vector_scan").as("q_id"),
        col("n_id").as("doc_id"), col("rnk"))
    graft.operators.Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
  }

  /** First n corpus vectors by vec_id as (id, doubles) — the bounded
    * O(n·dim) seed-collection every deterministic centroid/codebook path
    * uses (the e9/e10 convention). */
  private def seedEmbeddings(df: DataFrame,
                             n: Int): Seq[(Long, Seq[Double])] =
    df.orderBy(col("vec_id")).limit(n)
      .select(col("vec_id"), col("embedding")).collect().toSeq
      .map { r =>
        val id = r.get(0) match {
          case x: java.lang.Number => x.longValue
          case x => throw new IllegalArgumentException(
            s"vec_id must be numeric, got ${x.getClass.getName}")
        }
        id -> r.getSeq[Any](1).map {
          case n: java.lang.Number => n.doubleValue
          case x => throw new IllegalArgumentException(
            s"embedding values must be numeric, got ${x.getClass.getName}")
        }.toSeq
      }

  /** PQ codebooks: codebook m = the m-th D/nSub-dim slice of the first
    * nWords corpus vectors. Deterministic; matches pqSubSql in the
    * oracle. */
  private def pqCodebooks(df: DataFrame, nWords: Int = 8,
                          nSub: Int = 4): Seq[Seq[Seq[Double]]] = {
    val seeds = seedEmbeddings(df, nWords).map(_._2)
    val subDim = seeds.head.length / nSub
    (0 until nSub).map(m =>
      seeds.map(v => v.slice(m * subDim, (m + 1) * subDim)))
  }

  // ---- oracle-SQL generation: replicate the literal-hyperplane LSH and
  // IVF-centroid arithmetic in DuckDB. Both engines compute dot products
  // as left-to-right double folds (proven bit-identical by e1/e2), so
  // bucket signs, argmin cells, and cosines match exactly. ----

  /** DuckDB double literal list, e.g. `[0.1, -2.3e-4]`. */
  private def litList(xs: Seq[Double]): String =
    xs.mkString("[", ", ", "]")

  /** Σ aᵢ·bᵢ over two SQL array expressions (left-to-right double fold). */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** Sign-LSH bucket id of `vec` for the same seeded hyperplanes
    * [[graft.functions.VectorFunctions.hyperplanes]] embeds in the plan. */
  private def bucketSql(vec: String, nPlanes: Int, dim: Int): String =
    hyperplanes(nPlanes, dim).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(vec, litList(p))} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def e14Oracle: String = s"""
    WITH b AS (SELECT vec_id AS id, embedding AS v,
                 ${bucketSql("embedding", 4, 64)} AS bucket
               FROM embeddings),
    ex AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
                   c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 20),
    exact AS (SELECT q_id, n_id FROM ex WHERE rnk <= 5),
    cand AS (
      SELECT q.id AS q_id, c.id AS n_id,
        ROW_NUMBER() OVER (PARTITION BY q.id
          ORDER BY ${cosSql("q.v", "c.v")} DESC, c.id ASC) AS rnk
      FROM b q JOIN b c ON q.bucket = c.bucket AND c.id <> q.id
      WHERE q.id < 20),
    ann AS (SELECT q_id, n_id FROM cand WHERE rnk <= 5),
    hits AS (
      SELECT e.q_id, COUNT(*) AS n_hit
      FROM exact e JOIN ann a ON e.q_id = a.q_id AND e.n_id = a.n_id
      GROUP BY e.q_id),
    base AS (SELECT q_id, COUNT(*) AS n_exact FROM exact GROUP BY q_id)
    SELECT base.q_id, base.n_exact,
      CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      CAST((COALESCE(h.n_hit, 0) * 1000000) // base.n_exact AS BIGINT)
        AS recall_ppm
    FROM base LEFT JOIN hits h ON base.q_id = h.q_id
    ORDER BY base.q_id"""

  private def e4Oracle: String = s"""
    WITH b AS (SELECT vec_id AS id, embedding AS v,
                 ${bucketSql("embedding", 4, 64)} AS bucket
               FROM embeddings),
    cand AS (
      SELECT q.id AS q_id, c.id AS n_id, ${cosSql("q.v", "c.v")} AS sim
      FROM b q JOIN b c ON q.bucket = c.bucket AND c.id <> q.id
      WHERE q.id < 20),
    ranked AS (
      SELECT q_id, n_id, sim,
        ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY sim DESC, n_id ASC) AS rnk
      FROM cand)
    SELECT q_id, CAST(rnk AS INT) AS rnk, n_id, sim FROM ranked
    WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** Shared PQ assignment CTE chain (cents → sc → asg → codes):
    * codewords = 16-dim slices of the first 8 vectors, per-subspace
    * argmin of dot(c,c) − 2·dot(e,c) with (d asc, j asc) ties — the
    * exact fold [[Similarity.pqCodes]] embeds as literals. */
  private def pqCodesSql: String = {
    val cSub = "list_slice(c.c_emb, m.m * 16 + 1, m.m * 16 + 16)"
    val eSub = "list_slice(e.embedding, m.m * 16 + 1, m.m * 16 + 16)"
    s"""cents AS (
      SELECT vec_id AS j, embedding AS c_emb
      FROM embeddings ORDER BY vec_id LIMIT 8),
    sc AS (
      SELECT e.vec_id, m.m, c.j,
        (${dotSql(cSub, cSub)}) - 2.0 * (${dotSql(eSub, cSub)}) AS d
      FROM embeddings e CROSS JOIN range(0, 4) AS m(m) CROSS JOIN cents c),
    asg AS (
      SELECT vec_id, m, j,
        ROW_NUMBER() OVER (PARTITION BY vec_id, m
                           ORDER BY d ASC, j ASC) AS r
      FROM sc),
    codes AS (SELECT vec_id, m, j AS code FROM asg WHERE r = 1)"""
  }

  private def e11Oracle: String = s"""
    WITH $pqCodesSql
    SELECT vec_id, m, code FROM codes ORDER BY vec_id, m"""

  private def e12Oracle: String = s"""
    WITH $pqCodesSql,
    ${graft.OracleLiterals.get("e12_lut",
      "lut", Seq("q_id", "m", "code", "dq_micro"))},
    scored AS (
      SELECT l.q_id, c.vec_id, CAST(SUM(l.dq_micro) AS BIGINT)
        AS adist_micro
      FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
      GROUP BY l.q_id, c.vec_id),
    ranked AS (
      SELECT q_id, vec_id, adist_micro,
        ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY adist_micro ASC, vec_id ASC) AS rnk
      FROM scored)
    SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id, adist_micro
    FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** e15/e18: the e5 coarse-assignment chain (16 seed centroids, argmin
    * by (d asc, c_id ASC)) prunes to the literal probe cells, then the
    * e11 code chain + the literal LUT replay the integer ADC sum. CTE
    * names cents/sc/asg/codes come from [[pqCodesSql]]; the coarse chain
    * uses cents16/csc/casg to avoid collision. Parameterized by the
    * literal-key prefix and cut depth: e18 is the SAME search against
    * the persisted index, which by construction (shared fused encode +
    * shared probe fold) returns the inline result — one oracle shape,
    * two key namespaces. */
  private def ivfAdcOracle(prefix: String, k: Int): String = s"""
    ${ivfAdcCtes(prefix)}
    SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id, adist_micro
    FROM ranked WHERE rnk <= $k ORDER BY q_id, rnk"""

  /** The shared ADC pipeline CTE chain (codes → cells → probes → LUT →
    * scored → ranked), ending OPEN so callers append their own final
    * stage — e15/e18 cut the ranked list directly; e19 appends the
    * exact-rerank stage. */
  private def ivfAdcCtes(prefix: String): String = s"""
    WITH $pqCodesSql,
    cents16 AS (
      SELECT vec_id AS c_id, embedding AS c_emb
      FROM embeddings ORDER BY vec_id LIMIT 16),
    csc AS (
      SELECT e.vec_id, c.c_id,
        (${dotSql("c.c_emb", "c.c_emb")}) - 2.0 * (${dotSql("e.embedding", "c.c_emb")}) AS d
      FROM embeddings e CROSS JOIN cents16 c),
    casg AS (
      SELECT vec_id, c_id AS cell,
        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c_id ASC) AS r
      FROM csc),
    cellof AS (SELECT vec_id, cell FROM casg WHERE r = 1),
    ${graft.OracleLiterals.get(s"${prefix}_probes",
      "probes", Seq("q_id", "cell"))},
    ${graft.OracleLiterals.get(s"${prefix}_lut",
      "lut", Seq("q_id", "m", "code", "dq_micro"))},
    cand AS (
      SELECT p.q_id, a.vec_id
      FROM probes p JOIN cellof a ON a.cell = p.cell),
    scored AS (
      SELECT cd.q_id, c.vec_id, CAST(SUM(l.dq_micro) AS BIGINT)
        AS adist_micro
      FROM cand cd JOIN codes c ON c.vec_id = cd.vec_id
        JOIN lut l ON l.q_id = cd.q_id AND l.m = c.m AND l.code = c.code
      GROUP BY cd.q_id, c.vec_id),
    ranked AS (
      SELECT q_id, vec_id, adist_micro,
        ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY adist_micro ASC, vec_id ASC) AS rnk
      FROM scored)"""

  /** e19: the ADC chain cut at a 20-candidate shortlist, then exact
    * cosine rerank (same fold as e2) joined by key, final top-5. */
  private def e19Oracle: String = s"""
    ${ivfAdcCtes("e19")},
    short AS (SELECT q_id, vec_id FROM ranked WHERE rnk <= 20),
    rr AS (
      SELECT s.q_id, s.vec_id,
        ${cosSql("q.embedding", "d.embedding")} AS cos
      FROM short s
        JOIN embeddings q ON q.vec_id = s.q_id
        JOIN embeddings d ON d.vec_id = s.vec_id),
    rranked AS (
      SELECT q_id, vec_id, cos,
        ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM rr)
    SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id, cos
    FROM rranked WHERE rnk <= 5 ORDER BY q_id, rnk"""

  private def e5Oracle: String = s"""
    WITH cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb
      FROM embeddings ORDER BY vec_id LIMIT 16),
    sc AS (
      SELECT e.vec_id, e.embedding, c.c_id,
        (${dotSql("c.c_emb", "c.c_emb")}) - 2.0 * (${dotSql("e.embedding", "c.c_emb")}) AS d
      FROM embeddings e CROSS JOIN cents c),
    asg AS (
      SELECT vec_id AS n_id, embedding AS n_emb, c_id AS cell,
        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c_id ASC) AS r
      FROM sc),
    prb AS (
      SELECT vec_id AS q_id, embedding AS q_emb, c_id AS cell,
        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c_id ASC) AS r
      FROM sc WHERE vec_id < 3),
    cand AS (
      SELECT p.q_id, a.n_id, ${cosSql("p.q_emb", "a.n_emb")} AS sim
      FROM prb p JOIN asg a ON p.cell = a.cell AND a.r = 1
      WHERE p.r <= 4 AND a.n_id <> p.q_id),
    ranked AS (
      SELECT q_id, n_id, sim,
        ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY sim DESC, n_id ASC) AS rnk
      FROM cand)
    SELECT q_id, CAST(rnk AS INT) AS rnk, n_id, sim FROM ranked
    WHERE rnk <= 5 ORDER BY q_id, rnk"""

  private def e7Oracle: String = s"""
    WITH cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb
      FROM embeddings ORDER BY vec_id LIMIT 8),
    sc AS (
      SELECT e.vec_id, e.embedding, c.c_id,
        (${dotSql("c.c_emb", "c.c_emb")}) - 2.0 * (${dotSql("e.embedding", "c.c_emb")}) AS d
      FROM embeddings e CROSS JOIN cents c),
    asg AS (
      SELECT vec_id, embedding, c_id AS cell,
        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c_id ASC) AS r
      FROM sc),
    ex AS (
      SELECT cell, i - 1 AS dim,
        CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,6)) AS v
      FROM asg, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
      WHERE r = 1)
    SELECT cell, CAST(dim AS INT) AS dim,
      CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean,
      COUNT(*) AS n_members
    FROM ex GROUP BY cell, dim ORDER BY cell, dim"""

  private def e10Oracle: String = s"""
    WITH cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb
      FROM embeddings ORDER BY vec_id LIMIT 4),
    sc AS (
      SELECT e.vec_id, e.embedding, c.c_id,
        (${dotSql("c.c_emb", "c.c_emb")})
          - 2.0 * (${dotSql("e.embedding", "c.c_emb")}) AS d
      FROM embeddings e CROSS JOIN cents c),
    asg AS (
      SELECT vec_id, embedding, c_id AS cell,
        ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY d ASC, c_id ASC) AS r
      FROM sc),
    v AS (SELECT vec_id, embedding, cell FROM asg WHERE r = 1),
    dom AS (
      SELECT DISTINCT a.vec_id
      FROM v a JOIN v b ON a.cell = b.cell AND b.vec_id < a.vec_id
      WHERE (${cosSql("a.embedding", "b.embedding")}) >= 0.95)
    SELECT v.vec_id, v.cell, (d.vec_id IS NULL) AS keep
    FROM v LEFT JOIN dom d ON v.vec_id = d.vec_id
    ORDER BY v.vec_id"""

  private def e9Oracle: String = s"""
    WITH cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb
      FROM embeddings ORDER BY vec_id LIMIT 4),
    sc AS (
      SELECT e.vec_id, c.c_id,
        (${dotSql("c.c_emb", "c.c_emb")})
          - 2.0 * (${dotSql("e.embedding", "c.c_emb")}) AS d,
        (${dotSql("e.embedding", "e.embedding")}) AS anorm
      FROM embeddings e CROSS JOIN cents c),
    asg AS (
      SELECT vec_id, c_id AS cell, d, anorm,
        ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY d ASC, c_id ASC) AS r
      FROM sc),
    per AS (
      SELECT cell, CAST(round(anorm + d, 6) AS DECIMAL(28,6)) AS err
      FROM asg WHERE r = 1),
    agg AS (
      -- scale per-row BEFORE summing: err*1e6 is integer-valued
      -- DECIMAL so the per-row BIGINT cast is exact, and DuckDB sums
      -- BIGINT in HUGEINT — SUM(err)*1000000 would need DECIMAL width
      -- > 38 and fall back to float64, exact only under 2^53
      SELECT cell, COUNT(*) AS n_members,
        CAST(SUM(CAST(err * 1000000 AS BIGINT)) AS BIGINT)
          AS inertia_micro
      FROM per GROUP BY cell)
    SELECT c.c_id AS cell, COALESCE(a.n_members, 0) AS n_members,
      COALESCE(a.inertia_micro, 0) AS inertia_micro
    FROM cents c LEFT JOIN agg a ON c.c_id = a.cell
    ORDER BY cell"""

  private def e8Oracle: String = s"""
    WITH cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb
      FROM embeddings ORDER BY vec_id LIMIT 4),
    sc1 AS (
      SELECT e.vec_id, e.embedding, c.c_id,
        (${dotSql("c.c_emb", "c.c_emb")}) - 2.0 * (${dotSql("e.embedding", "c.c_emb")}) AS d
      FROM embeddings e CROSS JOIN cents c),
    asg1 AS (
      SELECT vec_id, embedding, c_id AS cell,
        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c_id ASC) AS r
      FROM sc1),
    ex1 AS (
      SELECT cell, i - 1 AS dim,
        CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,6)) AS v
      FROM asg1, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
      WHERE r = 1),
    m1 AS (
      SELECT cell, dim,
        CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean
      FROM ex1 GROUP BY cell, dim),
    cv AS (
      SELECT cell AS c_id, list(mean ORDER BY dim) AS c_emb
      FROM m1 GROUP BY cell),
    sc2 AS (
      SELECT e.vec_id, e.embedding, c.c_id,
        (${dotSql("c.c_emb", "c.c_emb")}) - 2.0 * (${dotSql("e.embedding", "c.c_emb")}) AS d
      FROM embeddings e CROSS JOIN cv c),
    asg2 AS (
      SELECT vec_id, embedding, c_id AS cell,
        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, c_id ASC) AS r
      FROM sc2),
    ex2 AS (
      SELECT cell, i - 1 AS dim,
        CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,6)) AS v
      FROM asg2, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
      WHERE r = 1)
    SELECT cell, CAST(dim AS INT) AS dim,
      CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean,
      COUNT(*) AS n_members
    FROM ex2 GROUP BY cell, dim ORDER BY cell, dim"""

  private def e6Oracle: String = s"""
    WITH b AS (SELECT vec_id AS id, embedding AS v,
                 ${bucketSql("embedding", 4, 64)} AS bucket
               FROM embeddings)
    SELECT x.id AS a_id, y.id AS b_id, ${cosSql("x.v", "y.v")} AS sim
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id
    WHERE ${cosSql("x.v", "y.v")} >= 0.3
    ORDER BY a_id, b_id"""

  /** ir2/ir4 shared CTE chain: the BM25 CTEs (shared with ir1, see
    * [[TextQueries.bm25RankedCtes]]) + the e2-style dense cosine ranking
    * + the integer RRF fusion replica of
    * [[graft.operators.Retrieval.rrfFuse]], ending in
    * `fr(q_id, doc_id, rrf_pico, rnk)`. */
  private def ir2Ctes: String = s"""
    ${TextQueries.bm25RankedCtes},
    bms AS (SELECT q_id, doc_id, rnk FROM bmr WHERE rnk <= 20),
    dq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    dsims AS (
      SELECT q.vec_id AS qv, e.vec_id AS n_id,
        ${cosSql("q.embedding", "e.embedding")} AS sim
      FROM dq q, embeddings e WHERE e.vec_id <> q.vec_id),
    dranked AS (
      SELECT qv, n_id,
        ROW_NUMBER() OVER (PARTITION BY qv
                           ORDER BY sim DESC, n_id ASC) AS rnk
      FROM dsims),
    den AS (
      SELECT CASE qv WHEN 0 THEN 'hash_join' WHEN 1 THEN 'stream_window'
               ELSE 'vector_scan' END AS q_id,
        n_id AS doc_id, rnk
      FROM dranked WHERE rnk <= 20),
    contrib AS (
      SELECT q_id, doc_id,
        1000000000000 // (60 + CAST(rnk AS BIGINT)) AS c FROM bms
      UNION ALL
      SELECT q_id, doc_id,
        1000000000000 // (60 + CAST(rnk AS BIGINT)) AS c FROM den),
    fused AS (
      SELECT q_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_pico
      FROM contrib GROUP BY q_id, doc_id),
    fr AS (
      SELECT q_id, doc_id, rrf_pico,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY rrf_pico DESC, doc_id ASC) AS INT) AS rnk
      FROM fused)"""

  private def ir2Oracle: String = s"""
    WITH $ir2Ctes
    SELECT q_id, rnk, doc_id, rrf_pico FROM fr WHERE rnk <= 10
    ORDER BY q_id, rnk"""

  /** ir4: the ir2 fused top-10 re-scored by exact cosine (the e2 fold)
    * against the query embedding, final top-5 per query. */
  private def ir4Oracle: String = s"""
    WITH $ir2Ctes,
    top AS (SELECT q_id, doc_id FROM fr WHERE rnk <= 10),
    qv AS (
      SELECT CASE vec_id WHEN 0 THEN 'hash_join'
               WHEN 1 THEN 'stream_window' ELSE 'vector_scan' END AS q_id,
        embedding AS q_emb
      FROM embeddings WHERE vec_id < 3),
    rsc AS (
      SELECT t.q_id, t.doc_id,
        ${cosSql("q.q_emb", "e.embedding")} AS cos
      FROM top t JOIN qv q ON t.q_id = q.q_id
        JOIN embeddings e ON e.vec_id = t.doc_id),
    rr AS (
      SELECT q_id, doc_id, cos,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos DESC, doc_id ASC) AS INT) AS rnk
      FROM rsc)
    SELECT q_id, rnk, doc_id, cos FROM rr WHERE rnk <= 5
    ORDER BY q_id, rnk"""

  // def, not val: ir2Oracle embeds the driver-stashed BM25 idf literals
  // rendered AFTER the queries run (see graft.OracleLiterals).
  def oracles: Map[String, String] = Map(
    "ir2_hybrid_rrf" -> ir2Oracle,
    "ir4_rerank" -> ir4Oracle,
    "e4_knn_lsh" -> e4Oracle,
    "e14_ann_recall" -> e14Oracle,
    "e11_pq_codes" -> e11Oracle,
    "e12_pq_adc" -> e12Oracle,
    "e15_ivf_adc" -> ivfAdcOracle("e15", 5),
    // e18 = e15's search against the PERSISTED cell-partitioned code
    // index — same algebra, deeper cut (k=7), own literal namespace
    "e18_ivf_adc_persisted" -> ivfAdcOracle("e18", 7),
    "e19_adc_rerank" -> e19Oracle,
    "e16_sq8_search" -> """
      WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
          unnest(embedding) AS x
        FROM embeddings),
      stats AS (
        SELECT pos, MIN(x) AS mn, MAX(x) AS mx
        FROM ex GROUP BY pos),
      codes AS (
        SELECT vec_id, e.pos,
          CAST(LEAST(GREATEST(floor(
            (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 255.0 /
            (CASE WHEN mx = mn THEN 1.0
                  ELSE CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE) END)),
            0.0), 255.0) AS BIGINT) AS c
        FROM ex e JOIN stats s ON s.pos = e.pos),
      qcodes AS (SELECT vec_id AS q_id, pos, c FROM codes WHERE vec_id < 3),
      scored AS (
        SELECT q.q_id, c.vec_id, CAST(SUM(q.c * c.c) AS BIGINT) AS ip_int
        FROM qcodes q JOIN codes c ON c.pos = q.pos
        WHERE c.vec_id <> q.q_id
        GROUP BY q.q_id, c.vec_id),
      ranked AS (
        SELECT q_id, vec_id, ip_int,
          ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY ip_int DESC, vec_id ASC) AS rnk
        FROM scored)
      SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id, ip_int
      FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // e17 = e16's pipeline through the PERSISTED index — same exact
    // min/max + IEEE encode algebra, deeper cut (k=8)
    "e17_sq8_persisted" -> """
      WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
          unnest(embedding) AS x
        FROM embeddings),
      stats AS (
        SELECT pos, MIN(x) AS mn, MAX(x) AS mx
        FROM ex GROUP BY pos),
      codes AS (
        SELECT vec_id, e.pos,
          CAST(LEAST(GREATEST(floor(
            (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 255.0 /
            (CASE WHEN mx = mn THEN 1.0
                  ELSE CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE) END)),
            0.0), 255.0) AS BIGINT) AS c
        FROM ex e JOIN stats s ON s.pos = e.pos),
      qcodes AS (SELECT vec_id AS q_id, pos, c FROM codes WHERE vec_id < 3),
      scored AS (
        SELECT q.q_id, c.vec_id, CAST(SUM(q.c * c.c) AS BIGINT) AS ip_int
        FROM qcodes q JOIN codes c ON c.pos = q.pos
        WHERE c.vec_id <> q.q_id
        GROUP BY q.q_id, c.vec_id),
      ranked AS (
        SELECT q_id, vec_id, ip_int,
          ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY ip_int DESC, vec_id ASC) AS rnk
        FROM scored)
      SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id, ip_int
      FROM ranked WHERE rnk <= 8 ORDER BY q_id, rnk""",
    "e5_knn_ivf" -> e5Oracle,
    "e6_embedding_dedup" -> e6Oracle,
    "e7_kmeans_step" -> e7Oracle,
    "e8_kmeans_fit" -> e8Oracle,
    "e9_kmeans_inertia" -> e9Oracle,
    "e10_semdedup" -> e10Oracle,
    "e3_centroids" -> """
      SELECT label, CAST(i - 1 AS INT) AS i,
        round(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS c
      FROM embeddings, range(1, 65) t(i)
      GROUP BY label, i
      ORDER BY label, i""",
    "e1_vector_norms" -> """
      SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        sqrt(list_sum(list_transform(list_zip(embedding, embedding),
          s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))) AS l2
      FROM embeddings ORDER BY vec_id""",
    "e13_hard_negatives" -> """
      WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_lab
                 FROM embeddings WHERE vec_id < 5),
      sims AS (
        SELECT q.q_id, e.vec_id AS n_id,
          list_sum(list_transform(list_zip(q.q_emb, e.embedding),
            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(list_zip(q.q_emb, q.q_emb),
               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))
           * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding),
               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))) AS sim
        FROM q, embeddings e
        WHERE e.vec_id <> q.q_id AND e.label <> q.q_lab),
      ranked AS (
        SELECT q_id, n_id, sim,
          ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY sim DESC, n_id ASC) AS rnk
        FROM sims)
      SELECT q_id, CAST(rnk AS INT) AS rnk, n_id, sim FROM ranked
      WHERE rnk <= 3 ORDER BY q_id, rnk""",
    "e2_knn_brute" -> """
      WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
                 WHERE vec_id < 3),
      sims AS (
        SELECT q.q_id, e.vec_id AS n_id,
          list_sum(list_transform(list_zip(q.q_emb, e.embedding),
            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(list_zip(q.q_emb, q.q_emb),
               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))
           * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding),
               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))) AS sim
        FROM q, embeddings e WHERE e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, n_id, sim,
          ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY sim DESC, n_id ASC) AS rnk
        FROM sims)
      SELECT q_id, CAST(rnk AS INT) AS rnk, n_id, sim FROM ranked
      WHERE rnk <= 5 ORDER BY q_id, rnk"""
  )
}
