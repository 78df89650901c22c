package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: queries are assumed small relative to the corpus, so the
  * query side is broadcast and the corpus is streamed partition-parallel —
  * the cross product never shuffles the big side. Top-k uses a window
  * ranked per query; Catalyst turns the global `orderBy.limit` pattern
  * into TakeOrderedAndProject, and the per-query variant keeps state
  * bounded by k per partition.
  */
object Similarity {

  /** Ranked per-query top-k over a (q_id, n_id, sim) candidate frame.
    * Candidates are pruned by the custom heap-based
    * [[graft.plans.TopKPerKey]] operator (O(n log k), no sort/spill)
    * before the tiny k-row ranking window. */
  private def rankTopK(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    graft.plans.TopKPerKey.topK(df, Seq("q_id"),
        Seq("sim" -> false, "n_id" -> true), k)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), col("sim"))
  }

  /** Brute-force exact top-k cosine neighbors per query vector. O(|Q|·|C|)
    * compute but embarrassingly parallel; the baseline for recall. */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    rankTopK(
      broadcast(q).crossJoin(c)
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", cosine(col("q_emb"), col("n_emb"))),
      k)
  }

  /** Hard-negative mining for contrastive/embedding-model training: per
    * query, the top-k most-similar corpus vectors with a DIFFERENT label
    * (the "looks close but isn't" pairs that make the best negatives;
    * standard dense-retrieval curation, cf. DPR/ANCE). Same broadcast-
    * query/streamed-corpus shape as [[bruteForceKnn]] with the label
    * inequality fused into the candidate filter — at scale swap the
    * brute scan for the IVF/LSH candidate generators exactly as in knn.
    * labelCol must exist on both frames. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"), col(labelCol).as("n_lab"))
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col(labelCol).as("q_lab"))
    rankTopK(
      broadcast(q).crossJoin(c)
        .filter(col("q_id") =!= col("n_id") &&
          col("q_lab") =!= col("n_lab"))
        .withColumn("sim", cosine(col("q_emb"), col("n_emb"))),
      k)
  }

  /** LSH-bucketed ANN: corpus is pre-bucketed by sign-LSH; a query probes
    * its own bucket plus (optionally) every bucket at Hamming distance 1
    * — classic multi-probe LSH: vectors near a hyperplane land on either
    * side, and flipping one sign bit recovers them without shrinking the
    * plane count. Scan per query is (1+multiProbe·nPlanes)/2^nPlanes of
    * the corpus on average — still the 100 TB path (candidates confined
    * to bucket equi-joins; the probe explode is on the SMALL query
    * side). Recall is tunable via nPlanes (fewer planes → bigger
    * buckets) and multiProbe. */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             nPlanes: Int = 8, dim: Int = 64,
             multiProbe: Boolean = false): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val own = lshBucket(col("embedding"), planes)
    val probeSet: Column =
      if (multiProbe)
        array((own +: (0 until nPlanes).map(i =>
          own.bitwiseXOR(lit(1L << i)))): _*)
      else array(own)
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"),
        explode(probeSet).as("bucket"))
    rankTopK(
      broadcast(q).join(c, Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", cosine(col("q_emb"), col("n_emb"))),
      k)
  }

  /** IVF-style ANN: k-means-lite centroids chosen as a deterministic sample,
    * corpus assigned to nearest centroid via a NARROW argmin projection —
    * no join, no window, no shuffle between the corpus scan and its cell
    * assignment. Centroids are cluster metadata (≤ a few thousand rows even
    * at 100 TB): collected once and embedded as plan literals.
    *
    * The per-centroid score is `|c|² − 2·a·c` (argmin-equivalent to the L2
    * distance, since `|a|²` is constant per row): `|c|²` folds to a driver
    * constant and the dot runs on the native codegen'd expression, so
    * assignment is nCells tight loops per row inside whole-stage codegen. */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents = centroidStats(corpus, nCells)
    val (assigned, probes) =
      cellAssignments(corpus, queries, cents, nProbe)
    rankTopK(
      broadcast(probes).join(assigned, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", cosine(col("q_emb"), col("n_emb"))),
      k)
  }

  /** Corpus → (cell, n_id, n_emb) argmin-L2 assignment against EXPLICIT
    * centroids — the public face of [[cellAssignments]]' corpus side, for
    * operators that cluster-confine their work (e.g.
    * [[Dedup.semDedup]]). Cells are centroid indices 0..k−1; same
    * narrow-literal / broadcast-join strategy split as every other
    * centroid path. */
  def assignCells(corpus: DataFrame,
                  centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "assignCells needs centroids")
    val cents = centroids.zipWithIndex.map { case (emb, i) =>
      (i.toLong, emb, emb.foldLeft(0.0)((s, v) => s + v * v)) }
    val (assigned, _) = cellAssignments(corpus, corpus.limit(0), cents, 1)
    assigned
  }

  /** Type-generic centroid extraction: ids normalized to long, embeddings
    * to double — array<float> or array<double> corpora and any integral
    * id type all work. `|c|²` is folded on the driver with the same
    * left-to-right double sum as the engines use (deterministic score). */
  private def centroidStats(corpus: DataFrame,
                            nCells: Int): Seq[(Long, Seq[Double], Double)] =
    corpus.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      .collect().toSeq.map { r =>
        val cid = r.get(0) match {
          case n: java.lang.Number => n.longValue
          case x => throw new IllegalArgumentException(
            s"ivfKnn: vec_id must be numeric, got ${x.getClass.getName}")
        }
        val emb = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case n: java.lang.Number => n.doubleValue
        }
        (cid, emb, emb.foldLeft(0.0)((s, v) => s + v * v))
      }

  /** array of (d, c_id) structs scoring `vec` against every literal
    * centroid — d = |c|² − 2·a·c (argmin-equivalent to L2 since |a|² is
    * constant per row), struct ordering (d asc, c_id asc): the query-side
    * probe ranking of cellAssignments' literal path. */
  private def scoredLiteral(
      cents: Seq[(Long, Seq[Double], Double)])(vec: Column): Column =
    array(cents.map { case (cid, emb, normSq) =>
      // ONE ArrayType literal node per centroid, not a CreateArray of
      // dim Literal children (r20): same folded value the optimizer
      // would constant-fold to, but the analyzer/optimizer never walks
      // the dim-wide trees — nCells·dim expression nodes → nCells
      val cLit = typedLit(emb)
      struct((lit(normSq) - lit(2.0) * dot(vec, cLit))
        .as("d"), lit(cid).as("c_id"))
    }: _*)

  /** struct<d, c_id> of the winning centroid for `vec`: the single-node
    * native [[graft.plans.ArgminScore]] over the literal centroids, same
    * score and (d asc, c_id asc) order as `array_min` over
    * [[scoredLiteral]] (spec-pinned bit-identical in NativeExprSpec). */
  private def argmin(
      cents: Seq[(Long, Seq[Double], Double)])(vec: Column): Column =
    call_function("graft_argmin", vec, lit(0), lit(true),
      typedLit(cents.map(_._2)), typedLit(cents.map(_._3)),
      typedLit(cents.map(_._1)))

  /** Centroid count up to which cell assignment is the narrow literal
    * argmin; past it, centroids ride as a broadcast join. IVF-ADC fuses
    * the literal argmin into its PQ encode, so it refuses more cells. */
  private val literalCells = 128

  /** The IVF core shared by the one-shot [[ivfKnn]] and the persisted
    * index ([[buildIvfIndex]]/[[queryIvfIndex]]): corpus → (cell, n_id,
    * n_emb) assignment and queries → (cell, q_id, q_emb) probes.
    * Per-centroid score is |c|² − 2·a·c (argmin-equivalent to L2 since
    * |a|² is constant per row). Two physical strategies, identical
    * output, picked by the centroid count against [[literalCells]]. */
  private def cellAssignments(corpus: DataFrame, queries: DataFrame,
      cents: Seq[(Long, Seq[Double], Double)],
      nProbe: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
      if (cents.length <= literalCells) {
        // Literal argmin: a NARROW projection, zero shuffle, fully
        // codegen'd. The corpus side is one graft_argmin node; the
        // query-side probe ranking is an array of nCells scored structs
        // (scoredLiteral, struct ordering = (d asc, c_id asc)), and that
        // array's size is what literalCells caps.
        // r20: a Spread.ensure barrier under this argmin was tried and
        // REVERTED — with the native graft_argmin the per-row work is no
        // longer heavy enough to buy back its exchange (focused 8-round
        // paired A/B: e7 1.19x [1.19, 1.60], e8 1.23x [1.14, 1.64] —
        // bands exclude 1.0 — while e5's 0.56x win came from the argmin
        // itself). The fused IVF-PQ encode (ivfPqCodesWithCell) keeps
        // its spread: 3x the per-row work and a band that excludes 1.0
        // the other way (e15 0.46x).
        (corpus.select(
          argmin(cents)(col("embedding"))
            .getField("c_id").as("cell"),
          col("vec_id").as("n_id"), col("embedding").as("n_emb")),
         queries.select(col("vec_id").as("q_id"),
            col("embedding").as("q_emb"),
            explode(slice(array_sort(
              scoredLiteral(cents)(col("embedding"))), 1, nProbe)).as("p"))
          .select(col("p.c_id").as("cell"), col("q_id"), col("q_emb")))
      } else {
        // Broadcast-join + min-struct argmin: centroids ride as a
        // broadcast DataFrame (data, not expression nodes), the dot stays
        // on the native codegen'd expression, and the per-row best cell is
        // a partial-aggregated min of (d, c_id) structs — the exchange
        // carries one row per corpus vector (map-side combine collapses
        // the nCells candidates before the shuffle). Same n·nCells dot
        // count as the literal path, plus one corpus-wide shuffle: the
        // price of unbounded nCells.
        import spark.implicits._
        val centsDf = broadcast(
          cents.toDF("c_id", "c_emb", "c_norm").repartition(1))
        def sc(vec: Column): Column =
          struct((col("c_norm") - lit(2.0) * dot(vec, col("c_emb")))
            .as("d"), col("c_id"))
        (corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
          .crossJoin(centsDf)
          .groupBy(col("n_id"))
          .agg(min(sc(col("n_emb"))).getField("c_id").as("cell"),
            first(col("n_emb")).as("n_emb"))
          .select(col("cell"), col("n_id"), col("n_emb")),
         queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          .crossJoin(centsDf)
          .groupBy(col("q_id"))
          .agg(slice(sort_array(collect_list(sc(col("q_emb")))), 1, nProbe)
            .as("ps"), first(col("q_emb")).as("q_emb"))
          .select(explode(col("ps")).as("p"), col("q_id"), col("q_emb"))
          .select(col("p.c_id").as("cell"), col("q_id"), col("q_emb")))
      }
  }

  /** Builds and PERSISTS an IVF index — the build-once/query-many shape a
    * similarity deployment actually runs at 100 TB (one-shot [[ivfKnn]]
    * re-assigns the whole corpus per call). Layout:
    *
    *   path/centroids/  — nCells rows (c_id, c_emb, c_norm): tiny metadata
    *   path/cells/      — the corpus re-written `partitionBy("cell")`
    *
    * Because `cell` is a PARTITION column of the index layout, a query
    * joining on it after [[queryIvfIndex]]'s probe selection reads only
    * the probed cells' directories (partition pruning) — per-query I/O is
    * ~ |corpus| · nProbe / nCells, not a full scan. Build is one pass. */
  def buildIvfIndex(corpus: DataFrame, path: String,
                    nCells: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centroidStats(corpus, nCells)
    cents.toDF("c_id", "c_emb", "c_norm").repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val (assigned, _) = cellAssignments(corpus, corpus.limit(0), cents, 1)
    // cluster by target directory (guide §6/§8): this single payload
    // exchange moves each vector once, into the cell layout it serves
    // from, instead of one file per (cell, task) pair
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells")
  }

  /** [[buildIvfIndex]] with TRAINED centroids: runs [[kmeansFit]] first
    * and uses the converged means as the cell centroids, so cells track
    * the corpus's actual density instead of the first-`nCells` seed
    * vectors — tighter cells mean fewer candidates per probe at equal
    * recall. The on-disk layout is identical, so [[queryIvfIndex]] works
    * unchanged against a trained index. Training cost: `rounds` one-pass
    * Lloyd steps (each O(corpus·nCells) dots, no extra shuffles). */
  def buildIvfIndexTrained(corpus: DataFrame, path: String, nCells: Int = 16,
                           rounds: Int = 3): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // kmeansFitCentroids ALWAYS returns nCells entries (an empty cell
    // keeps its previous centroid), so the persisted index never silently
    // shrinks its probe space
    val cents: Seq[(Long, Seq[Double], Double)] =
      kmeansFitCentroids(corpus, nCells, rounds)
    cents.toDF("c_id", "c_emb", "c_norm").repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val (assigned, _) = cellAssignments(corpus, corpus.limit(0), cents, 1)
    // see buildIvfIndex: one payload exchange into the serving layout
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells")
  }

  /** Top-k cosine ANN against a persisted [[buildIvfIndex]] index. The
    * centroid read is bounded metadata (nCells rows); probes select
    * nProbe cells per query and the `cell` join prunes the index scan to
    * those partitions. Results are identical to [[ivfKnn]] with the same
    * parameters (same centroids, same probe order). */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, k: Int,
                    nProbe: Int = 4): DataFrame = {
    val cents: Seq[(Long, Seq[Double], Double)] =
      graft.ParquetSchemas.read(spark, s"$path/centroids")
        .select(col("c_id"), col("c_emb"), col("c_norm"))
        .collect().toSeq.map(r => (r.getLong(0),
          r.getSeq[Double](1).toSeq, r.getDouble(2)))
    val assigned = graft.ParquetSchemas.read(spark, s"$path/cells")
    val emptyCorpus = assigned.select(col("n_id").as("vec_id"),
      col("n_emb").as("embedding")).limit(0)
    val (_, probes) = cellAssignments(emptyCorpus, queries, cents, nProbe)
    rankTopK(
      broadcast(probes).join(assigned, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", cosine(col("q_emb"), col("n_emb"))),
      k)
  }

  /** One distributed Lloyd (k-means) iteration over the corpus: without
    * explicit `centroids`, they seed deterministically from the first `k`
    * vectors by id; with them (index = cell id), the step continues a
    * previous iteration — [[kmeansFit]] wires that loop. Every vector is
    * assigned to its nearest centroid through the SAME narrow argmin
    * projection IVF uses (zero shuffle between scan and assignment), and
    * the update step emits per-(cell, dim) means in row form — sums ride
    * float→double→DECIMAL so the fold is order-independent, the mean
    * divides once at the end.
    *
    * Scale shape: one narrow pass + ONE shuffle on (cell, dim) —
    * O(k·dim) result rows; each step costs the same one pass a
    * production k-means does.
    *
    * Output: (cell, dim, mean, n_members) ordered by (cell, dim). */
  def lloydStep(corpus: DataFrame, k: Int = 8,
                centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val cents = centroids match {
      case Some(cs) => cs.zipWithIndex.map { case (emb, i) =>
        (i.toLong, emb, emb.foldLeft(0.0)((s, v) => s + v * v)) }
      case None => centroidStats(corpus, k)
    }
    val (assigned, _) = cellAssignments(corpus, corpus.limit(0), cents, 1)
    assigned
      .select(col("cell"), posexplode(col("n_emb")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(
        sum(col("v").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("s"),
        count(lit(1)).as("n_members"))
      .select(col("cell"), col("dim"),
        (col("s").cast("double") / col("n_members").cast("double"))
          .as("mean"),
        col("n_members"))
      .orderBy(col("cell"), col("dim"))
  }

  /** Centroids after `rounds` full Lloyd iterations, as (id, embedding,
    * |c|²) with ids 0..k-1 — the trained model itself, ALWAYS k entries:
    * a cell that loses all members keeps its previous centroid. Each
    * round is one [[lloydStep]] pass whose k·dim means (cluster
    * metadata, O(k·dim) driver rows like the IVF centroid collect) feed
    * the next round's literal argmin. */
  def kmeansFitCentroids(corpus: DataFrame, k: Int = 8,
      rounds: Int = 5): Seq[(Long, Seq[Double], Double)] = {
    require(rounds >= 0, "kmeansFitCentroids needs rounds >= 0")
    var cents: Seq[Seq[Double]] = centroidStats(corpus, k).map(_._2)
    for (_ <- 0 until rounds) {
      val byCell = lloydStep(corpus, k, Some(cents))
        .collect().groupBy(_.getLong(0)).map { case (c, rs) =>
          c -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.zipWithIndex.map { case (prev, c) =>
        byCell.getOrElse(c.toLong, prev)
      }
    }
    cents.zipWithIndex.map { case (emb, i) =>
      (i.toLong, emb, emb.foldLeft(0.0)((s, v) => s + v * v)) }
  }

  /** Full Lloyd iteration to a fixed round count, returning the FINAL
    * round's per-(cell, dim) means frame (the [[lloydStep]] shape). The
    * first rounds−1 iterations run through [[kmeansFitCentroids]]; the
    * last round is returned LAZILY — no duplicate execution when the
    * caller materializes it. */
  def kmeansFit(corpus: DataFrame, k: Int = 8, rounds: Int = 5): DataFrame = {
    require(rounds >= 1, "kmeansFit needs at least one round")
    val cents = kmeansFitCentroids(corpus, k, rounds - 1)
    lloydStep(corpus, k, Some(cents.map(_._2)))
  }

  /** Clustering-quality evaluation: per-cell member count and inertia
    * (Σ squared L2 distance to the assigned centroid) — the metric that
    * closes the Lloyd loop (fit → assign → evaluate) and the convergence
    * / elbow statistic a production k-means monitors per round.
    *
    * Determinism (the ir1/d18 pattern): the per-vector squared distance
    * is ONE double chain — `a·a + (|c|² − 2·a·c)` with every dot folded
    * left-to-right — rounded once to 6 dp and summed as DECIMAL, so the
    * per-cell inertia is order-independent and hash-exact across engines.
    *
    * Scale shape: assignment shares cellAssignments' two strategies — the
    * NARROW single-node literal argmin up to [[literalCells]] (zero
    * shuffle between scan and assignment), then the broadcast-join +
    * min-struct argmin (centroids as broadcast DATA, one map-side-combined
    * exchange) for the thousands-of-centroids regime a 100 TB corpus
    * needs. The final rollup is the O(k)-row per-cell aggregate either
    * way.
    *
    * EVERY centroid appears in the output, including empty cells as
    * (cell, 0, 0.000000) — a convergence monitor must distinguish an
    * empty cell from a missing row, and Σ-inertia rollups need a fixed
    * k-row shape (same always-k posture as [[kmeansFitCentroids]]).
    *
    * Output: (cell, n_members, inertia DECIMAL(38,6)) ordered by cell. */
  def quantizationError(corpus: DataFrame,
                        centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "quantizationError needs centroids")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex.map { case (emb, i) =>
      (i.toLong, emb, emb.foldLeft(0.0)((s, v) => s + v * v)) }
    val anorm = dot(col("embedding"), col("embedding"))
    // (cell, err) per corpus row; b = winning (d, c_id) struct — ties on
    // d break toward the lower cell id in both strategies.
    val perRow =
      if (cents.length <= literalCells)
        corpus
          .select(argmin(cents)(col("embedding"))
            .as("b"), anorm.as("anorm"))
      else {
        // the cellAssignments large-k shape: centroids ride as broadcast
        // DATA; per-row argmin is a map-side-combined min over the
        // broadcast-expanded candidates, keyed by a per-row unique id
        // (corpus rows need no natural key here)
        val centsDf = broadcast(
          cents.toDF("c_id", "c_emb", "c_norm").repartition(1))
        corpus
          .select(monotonically_increasing_id().as("rid"),
            col("embedding"), anorm.as("anorm"))
          .crossJoin(centsDf)
          .groupBy(col("rid"))
          .agg(min(struct(
              (col("c_norm") - lit(2.0) *
                dot(col("embedding"), col("c_emb"))).as("d"),
              col("c_id"))).as("b"),
            first(col("anorm")).as("anorm"))
      }
    val filled = perRow
      .select(col("b").getField("c_id").as("cell"),
        round(col("anorm") + col("b").getField("d"), 6)
          .cast("decimal(28,6)").as("err"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("err")).cast("decimal(38,6)").as("inertia"))
    cents.map(_._1).toDF("cell")
      .join(filled, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia"), lit(0).cast("decimal(38,6)")).as("inertia"))
      .orderBy(col("cell"))
  }

  /** Product-quantization encode (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — the memory-compression
    * path a billion-vector ANN deployment runs: the D-dim vector is split
    * into M contiguous subvectors and each is replaced by the id of its
    * nearest codeword, giving M small ints per vector instead of D
    * floats. `codebooks(m)(j)` is codeword j of subspace m; all codebooks
    * must share one subDim = D/M. Assignment reuses the IVF argmin form
    * (|c|² − 2·a·c, ties toward the lower codeword id) per subspace —
    * the codebook is bounded O(M·k·subDim) driver metadata riding as
    * plan literals, so the encode is a NARROW fully-codegen'd projection:
    * zero shuffle, embarrassingly parallel at any corpus size. (The
    * literal-size regime matches cellAssignments' small-k path; PQ
    * codebooks are small by construction — M·k·subDim = D·k literals —
    * so no broadcast-join fallback is needed here.)
    *
    * Output: (vec_id, m, code) exploded scalar rows (array columns can't
    * be hashed by the driver's compare harness), M rows per vector. */
  def pqCodes(corpus: DataFrame,
              codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    // spread the narrow projection below the per-row M·k·subDim argmin
    // folds when the source is under-split (see ivfPqCodesWithCell, r20)
    graft.Spread.ensure(pqChecked(corpus, codebooks)
        .select(col("vec_id"), col("embedding")), col("vec_id"))
      .select(col("vec_id"),
        explode(pqCodeArray(codebooks)).as("mc"))
      .select(col("vec_id"), col("mc").getField("m").as("m"),
        col("mc").getField("code").as("code"))
  }

  /** Length-guarded corpus for a codebook set. Runtime guard (ADVICE r9):
    * a short or mismatched embedding would make slice/zip_with null-pad
    * the dot products and emit silently WRONG codes — fail the job
    * instead. assert_true returns NULL when the condition holds, so the
    * `.isNull` filter keeps every valid row while pinning the check into
    * the codegen'd scan. */
  private def pqChecked(corpus: DataFrame,
                        codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "pqCodes needs at least one codebook with at least one codeword")
    val subDim = codebooks.head.head.length
    require(codebooks.flatten.forall(_.length == subDim),
      "all codewords must share one subspace dimension")
    val expectDim = codebooks.length * subDim
    corpus.filter(assert_true(
      size(col("embedding")) === expectDim,
      lit(s"pqCodes: embedding length must equal M*subDim = $expectDim"))
      .isNull)
  }

  /** `array<struct<m, code>>` of the per-subspace argmin codes of
    * `embedding` — the PQ encode as ONE narrow expression column, shared
    * by [[pqCodes]] and the fused IVF-ADC projection ([[ivfAdcTopK]]) so
    * the assignment fold can never silently diverge between them. */
  private def pqCodeArray(codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val subDim = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (cb, m) =>
      // per-subspace native argmin over the codeword slice (see argmin;
      // strict=false pins the slice length semantics: null only when
      // fewer than subDim elements remain)
      val code = call_function("graft_argmin", col("embedding"),
        lit(m * subDim), lit(false), typedLit(cb),
        typedLit(cb.map(_.foldLeft(0.0)((s, v) => s + v * v))),
        typedLit(cb.indices.map(_.toLong)))
        .getField("c_id")
      struct(lit(m.toLong).as("m"), code.as("code"))
    }: _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * exact, each database vector is represented by its codes, and the
    * estimated distance is Σ_m lut(q, m, code_m) where the lookup table
    * holds the per-subspace codeword distances. The LUT is O(#queries ·
    * M · k) driver metadata: each entry is |cw|² − 2·q_sub·cw (the
    * |q_sub|²-dropped form — rank-equivalent for a fixed query) computed
    * ONCE on the driver, rounded half-up to 6 dp and scaled to BIGINT
    * micro-units, riding as integer literals — so the per-vector sum is
    * pure BIGINT arithmetic, order-independent, and hash-exact in any
    * engine (the d18/BM25 literal-injection pattern — no FP aggregation,
    * no decimal parsing anywhere).
    *
    * Scale shape: codes ⋈ broadcast LUT on (m, code) — narrow against
    * the corpus — then one (q_id, vec_id) rollup and a rank-limited
    * per-query top-k. Query cost never touches the original vectors:
    * that is the PQ deployment story (codes are ~D·8/subDim× smaller).
    *
    * Output: (q_id, rnk, vec_id, adist_micro BIGINT), rnk 1..k by
    * (adist_micro asc, vec_id asc) — a total order (micro-units are a
    * monotone ×10⁶ rescale of the 6-dp distance, so the ranking is
    * unchanged). */
  def pqAdcTopK(codes: DataFrame, queries: Seq[(Long, Seq[Double])],
                codebooks: Seq[Seq[Seq[Double]]], k: Int,
                onLut: Seq[(Long, Long, Long, Long)] => Unit
                  = _ => ()): DataFrame = {
    require(queries.nonEmpty, "pqAdcTopK needs at least one query")
    val spark = codes.sparkSession
    import spark.implicits._
    val lut = adcLut(queries, codebooks)
    onLut(lut)
    val lutDf = broadcast(lut.toDF("q_id", "m", "code", "dq_micro"))
    val scored = codes.join(lutDf, Seq("m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dq_micro")).cast("bigint").as("adist_micro"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist_micro").asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("adist_micro"))
  }

  /** The ADC lookup table: per (query, subspace, codeword) the
    * |cw|² − 2·q_sub·cw distance term in exact BIGINT micro-units —
    * O(#queries · M · k) driver metadata, computed once and injected as
    * identical integer literals into the Spark plan and any oracle. */
  private def adcLut(queries: Seq[(Long, Seq[Double])],
                     codebooks: Seq[Seq[Seq[Double]]])
      : Seq[(Long, Long, Long, Long)] = {
    val subDim = codebooks.head.head.length
    for {
      (qid, q) <- queries
      (cb, m) <- codebooks.zipWithIndex
      (cw, j) <- cb.zipWithIndex
    } yield {
      val qSub = q.slice(m * subDim, m * subDim + subDim)
      val normSq = cw.foldLeft(0.0)((s, v) => s + v * v)
      val dot = qSub.zip(cw).foldLeft(0.0)((s, p) => s + p._1 * p._2)
      (qid, m.toLong, j.toLong,
        graft.OracleLiterals.micro6(normSq - 2.0 * dot))
    }
  }

  /** Per-dimension (min, max) of the embedding column — the SQ8 scale
    * model. One posexplode + a D-key map-side-combined aggregate; the
    * collect is bounded O(dim) driver metadata (like [[centroidStats]]).
    * Values stay the EXACT floats of the data (min/max does no FP
    * arithmetic), so any engine recomputes them bit-identically. */
  private def sq8Stats(corpus: DataFrame): Seq[(Int, Double, Double)] =
    corpus.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("pos"))
      .collect().toSeq.map { r =>
        def d(a: Any): Double = a match {
          case f: Float => f.toDouble
          case x: java.lang.Number => x.doubleValue
        }
        (r.getInt(0), d(r.get(1)), d(r.get(2)))
      }

  /** The SQ8 quantizer: `clamp(floor((x − mn_d) · 255 / span_d), 0, 255)`
    * with `span_d = 1` on constant dimensions (code 0 either way). The
    * EXACT operand order matters: both engines evaluate
    * `((double(x) − mn) * 255.0) / span` on identical IEEE doubles, so
    * the codes — and everything downstream, which is pure integer —
    * are hash-exact with no literal-snapshot machinery. */
  private def sq8Span(mn: Double, mx: Double): Double =
    if (mx == mn) 1.0 else mx - mn

  def sq8Code(x: Double, mn: Double, span: Double): Long =
    math.min(255L, math.max(0L,
      math.floor((x - mn) * 255.0 / span).toLong))

  /** SQ8 (int8 scalar quantization) top-k by quantized inner product —
    * the other production vector-compression path next to PQ (FAISS
    * `SQ8` / the int8-GEMM serving stack): each dimension is quantized
    * independently to 0..255 against the corpus per-dim range, and
    * ranking uses the INTEGER dot product of code vectors (a monotone
    * proxy for the inner product on the dequantized grid). 4× smaller
    * than float32, no codebook training.
    *
    * Scale shape: the scale model is one bounded D-key aggregate; the
    * encode and the per-query integer dots are ONE narrow fully
    * codegen'd projection over the corpus scan (queries ride as literal
    * code arrays — zero joins); the only exchanges are the per-query
    * rank and the presentation sort. All scoring is BIGINT — hash-exact
    * on any engine.
    *
    * Output: (q_id, rnk, vec_id, ip_int BIGINT), rnk 1..k by
    * (ip_int desc, vec_id asc); the query vector itself is excluded. */
  /** The SQ8 encode as ONE narrow expression column over `embedding` —
    * shared by [[sq8TopK]] and [[buildSq8Index]] so the quantizer can
    * never silently diverge between the one-shot and persisted paths. */
  private def sq8CodesCol(stats: Seq[(Int, Double, Double)]): Column = {
    // one ArrayType literal node each (see scoredLiteral)
    val mnArr = typedLit(stats.map(_._2))
    val spanArr = typedLit(stats.map(s => sq8Span(s._2, s._3)))
    transform(col("embedding"), (x, i) =>
      least(greatest(
        floor((x.cast("double") - element_at(mnArr, i + 1)) * lit(255.0) /
          element_at(spanArr, i + 1)), lit(0.0)), lit(255.0)).cast("long"))
  }

  private def sq8QueryCodes(stats: Seq[(Int, Double, Double)],
                            queries: Seq[(Long, Seq[Double])])
      : Seq[(Long, Seq[Long])] =
    queries.map { case (qid, q) =>
      qid -> q.zip(stats).map { case (x, (_, mn, mx)) =>
        sq8Code(x, mn, sq8Span(mn, mx)) }
    }

  /** Per-query integer dots + rank over a (vec_id, codes) frame —
    * queries ride as literal code arrays, so this stays join-free. */
  private def sq8Rank(codesDf: DataFrame, qCodes: Seq[(Long, Seq[Long])],
                      k: Int): DataFrame = {
    def ip(c: Column, qc: Seq[Long]): Column =
      aggregate(zip_with(c, typedLit(qc), (a, b) => a * b),
        lit(0L), (acc, v) => acc + v)
    val perQ = codesDf
      .select(col("vec_id"), explode(array(qCodes.map { case (qid, qc) =>
        struct(lit(qid).as("q_id"), ip(col("codes"), qc).as("ip_int"))
      }: _*)).as("s"))
      .select(col("s.q_id"), col("vec_id"), col("s.ip_int"))
      .filter(col("q_id") =!= col("vec_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("ip_int").desc, col("vec_id").asc)
    perQ.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("ip_int"))
  }

  def sq8TopK(corpus: DataFrame, queries: Seq[(Long, Seq[Double])],
              k: Int): DataFrame = {
    require(queries.nonEmpty, "sq8TopK needs at least one query")
    val stats = sq8Stats(corpus)
    sq8Rank(corpus.select(col("vec_id"), sq8CodesCol(stats).as("codes")),
      sq8QueryCodes(stats, queries), k)
  }

  /** Persists the SQ8 index: the per-dim scale stats (bounded metadata)
    * and the encoded code arrays — ~4× smaller than the float corpus.
    * The serving decomposition of [[sq8TopK]]: encode once, query many
    * (cf. [[buildIvfIndex]]/[[queryIvfIndex]] for the IVF analogue). */
  def buildSq8Index(corpus: DataFrame, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val stats = sq8Stats(corpus)
    stats.toDF("pos", "mn", "mx").repartition(1)
      .write.mode("overwrite").parquet(s"$path/stats")
    corpus.select(col("vec_id"), sq8CodesCol(stats).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Top-k by quantized inner product against a persisted
    * [[buildSq8Index]] index. The stats read is bounded O(dim) metadata;
    * the code scan never touches the original vectors. Results are
    * identical to [[sq8TopK]] over the same corpus. */
  def querySq8Index(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: Seq[(Long, Seq[Double])], k: Int): DataFrame = {
    require(queries.nonEmpty, "querySq8Index needs at least one query")
    val stats: Seq[(Int, Double, Double)] =
      graft.ParquetSchemas.read(spark, s"$path/stats")
        .orderBy(col("pos")).collect().toSeq
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    sq8Rank(graft.ParquetSchemas.read(spark, s"$path/codes"),
      sq8QueryCodes(stats, queries), k)
  }

  /** IVF-ADC search — the combined coarse-quantizer + product-quantizer
    * stack (IVF-PQ, Jégou et al. 2011 §V-A, "non-exhaustive search") that
    * a billion-vector ANN deployment actually runs: the IVF layer prunes
    * the corpus to the `nProbe` cells nearest each query, and ONLY those
    * cells' PQ codes are ADC-scored. Composes the e5 cell machinery with
    * the e12 LUT machinery end to end.
    *
    * Scale shape — ONE wide exchange total:
    *   1. cell assignment AND PQ encode are fused into a single NARROW
    *      fully-codegen'd projection over the corpus (both are literal
    *      argmin folds — zero shuffle, embarrassingly parallel);
    *   2. the query probes are bounded O(#q · nCells) DRIVER arithmetic
    *      (same |c|²−2·q·c fold) riding as a broadcast, so the probe
    *      join prunes corpus rows without shuffling them — against a
    *      persisted cell-PARTITIONED code layout (cf. [[buildIvfIndex]])
    *      it prunes at the directory level and reads ~nProbe/nCells of
    *      the index;
    *   3. the ADC LUT is bounded driver metadata broadcast as BIGINT
    *      micro-unit literals (the e12/d18/BM25 pattern — pure integer
    *      sums downstream, hash-exact on any engine);
    *   4. the only shuffle is the (q_id, vec_id) rollup + the
    *      rank-limited per-query top-k (WindowGroupLimit keeps map-side
    *      contributions to k rows per query).
    *
    * Output: (q_id, rnk, vec_id, adist_micro BIGINT), rnk 1..k by
    * (adist_micro asc, vec_id asc) over the probed cells only. */
  def ivfAdcTopK(corpus: DataFrame, queries: Seq[(Long, Seq[Double])],
                 codebooks: Seq[Seq[Seq[Double]]], k: Int,
                 nCells: Int = 16, nProbe: Int = 4,
                 onLut: Seq[(Long, Long, Long, Long)] => Unit = _ => (),
                 onProbes: Seq[(Long, Long)] => Unit = _ => ())
      : DataFrame = {
    require(queries.nonEmpty, "ivfAdcTopK needs at least one query")
    val cents = centroidStats(corpus, nCells)
    require(cents.length <= literalCells,
      s"ivfAdcTopK: nCells=${cents.length} exceeds IVF-ADC's limit of " +
        s"$literalCells cells")
    val probes = ivfProbeCells(queries, cents, nProbe)
    onProbes(probes)
    val lut = adcLut(queries, codebooks)
    onLut(lut)
    adcScoreTopK(ivfPqCodesWithCell(corpus, cents, codebooks),
      probes, lut, k)
  }

  /** The fused IVF-PQ encode: coarse cell (the e5 argmin over the seed
    * centroids, cell ids = seed vec_ids) + the M PQ codes in ONE narrow
    * fully-codegen'd projection — SHARED by [[ivfAdcTopK]] and
    * [[buildIvfAdcIndex]] (the sq8CodesCol principle: the inline and
    * persisted paths quantize through the same expression, so they can
    * never silently diverge). */
  private def ivfPqCodesWithCell(corpus: DataFrame,
      cents: Seq[(Long, Seq[Double], Double)],
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    // the round-20 §2.5 rescue: cell argmin + PQ encode are the corpus's
    // dominant per-row CPU; spread the narrow (id, embedding) projection
    // under them when the source is under-split. The projection stays
    // fused and narrow ABOVE the barrier; nothing upstream of a join
    // shuffles (probe/LUT joins remain broadcast).
    graft.Spread.ensure(pqChecked(corpus, codebooks)
        .select(col("vec_id"), col("embedding")), col("vec_id"))
      .select(
        argmin(cents)(col("embedding"))
          .getField("c_id").as("cell"),
        col("vec_id"), explode(pqCodeArray(codebooks)).as("mc"))
      .select(col("cell"), col("vec_id"), col("mc").getField("m").as("m"),
        col("mc").getField("code").as("code"))
  }

  /** Bounded driver-side probe selection — nProbe nearest cells per
    * query by (d asc, c_id asc) over O(#q · nCells) arithmetic, injected
    * as literals into both engines. Shared by the inline and persisted
    * IVF-ADC paths. */
  private def ivfProbeCells(queries: Seq[(Long, Seq[Double])],
      cents: Seq[(Long, Seq[Double], Double)],
      nProbe: Int): Seq[(Long, Long)] = for {
    (qid, q) <- queries
    cell <- cents.map { case (cid, emb, normSq) =>
        val dot = q.zip(emb).foldLeft(0.0)((s, p) => s + p._1 * p._2)
        (normSq - 2.0 * dot, cid)
      }.sortBy(identity)(Ordering.Tuple2(Ordering.Double.TotalOrdering,
        Ordering.Long)).take(nProbe).map(_._2)
  } yield (qid, cell)

  /** The ADC scoring tail shared by [[ivfAdcTopK]] and
    * [[queryIvfAdcIndex]]: probe-join (broadcast, bounded), LUT-join
    * (broadcast, bounded), one (q_id, vec_id) rollup, rank-limited
    * per-query top-k. */
  private def adcScoreTopK(codesWithCell: DataFrame,
      probes: Seq[(Long, Long)], lut: Seq[(Long, Long, Long, Long)],
      k: Int): DataFrame = {
    val spark = codesWithCell.sparkSession
    import spark.implicits._
    val scored = codesWithCell
      .join(broadcast(probes.toDF("q_id", "cell")), Seq("cell"))
      .join(broadcast(lut.toDF("q_id", "m", "code", "dq_micro")),
        Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dq_micro")).cast("bigint").as("adist_micro"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist_micro").asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("adist_micro"))
  }

  /** Persists the IVF-ADC (IVF-PQ) index — the build-once half of the
    * billion-vector serving stack ([[ivfAdcTopK]] is the one-shot form;
    * this is what a deployment runs: encode once, query many). Layout:
    *
    *   path/centroids/ — nCells rows (c_id, c_emb, c_norm): tiny metadata
    *   path/codes/     — (vec_id, m, code) PARTITIONED BY cell
    *
    * `cell` is a partition column, so [[queryIvfAdcIndex]]'s static
    * probe-cell filter prunes at the DIRECTORY level — per-query I/O is
    * ~ |codes| · nProbe / nCells of an already ~D·8/subDim×-compressed
    * code table; the float corpus is never read again. */
  def buildIvfAdcIndex(corpus: DataFrame, path: String,
                       codebooks: Seq[Seq[Seq[Double]]],
                       nCells: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centroidStats(corpus, nCells)
    require(cents.length <= literalCells,
      s"buildIvfAdcIndex: nCells=${cents.length} exceeds IVF-ADC's " +
        s"limit of $literalCells cells")
    cents.toDF("c_id", "c_emb", "c_norm").repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    ivfPqCodesWithCell(corpus, cents, codebooks)
      // cluster rows by their target directory (guide §6): the encode
      // above runs spread across the barrier tasks (r20), so without
      // this the dynamic-partition write would emit one file per
      // (cell, encode-task) pair; the post-encode exchange carries only
      // the small integer code rows and AQE may coalesce it freely
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** ADC top-k against a persisted [[buildIvfAdcIndex]] index. The
    * centroid read is bounded O(nCells·dim) metadata; probes are the
    * same driver-side fold as [[ivfAdcTopK]]; the code scan carries a
    * STATIC `cell IN (probed…)` partition filter, so only the probed
    * cells' directories are read — the plan touches the compressed code
    * table only, never the float corpus. Results are identical to
    * [[ivfAdcTopK]] with the same parameters. */
  def queryIvfAdcIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: Seq[(Long, Seq[Double])],
                       codebooks: Seq[Seq[Seq[Double]]], k: Int,
                       nProbe: Int = 4,
                       onLut: Seq[(Long, Long, Long, Long)] => Unit
                         = _ => (),
                       onProbes: Seq[(Long, Long)] => Unit = _ => ())
      : DataFrame = {
    require(queries.nonEmpty, "queryIvfAdcIndex needs at least one query")
    val cents: Seq[(Long, Seq[Double], Double)] =
      graft.ParquetSchemas.read(spark, s"$path/centroids")
        .select(col("c_id"), col("c_emb"), col("c_norm"))
        .collect().toSeq.map(r => (r.getLong(0),
          r.getSeq[Double](1).toSeq, r.getDouble(2)))
    val probes = ivfProbeCells(queries, cents, nProbe)
    onProbes(probes)
    val lut = adcLut(queries, codebooks)
    onLut(lut)
    val probedCells = probes.map(_._2).distinct.sorted
    val codes = graft.ParquetSchemas.read(spark, s"$path/codes")
      // static partition filter → directory-level pruning (the broadcast
      // probe join alone would rely on runtime DPP; this is plan-time)
      .filter(col("cell").isin(probedCells: _*))
    adcScoreTopK(codes, probes, lut, k)
  }
}
