package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, RecursiveCte, Similarity}
import graft.functions.VectorFunctions

class RecursiveCteSpec extends SparkSpec {
  import spark.implicits._

  test("numeric fixpoint matches WITH RECURSIVE semantics") {
    val out = RecursiveCte.fixpoint(
      Seq(1).toDF("n"),
      d => d.filter(col("n") < 10).select((col("n") + 1).as("n")))
    assert(out.as[Int].collect().sorted.toSeq == (1 to 10))
  }

  test("graph transitive closure (BFS frontier)") {
    val edges = Seq(1 -> 2, 2 -> 3, 3 -> 4, 2 -> 5, 6 -> 7).toDF("src", "dst")
    val reach = RecursiveCte.fixpoint(
      Seq(1).toDF("node"),
      d => d.join(edges, d("node") === edges("src"))
        .select(col("dst").as("node")))
    assert(reach.as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("cycles terminate under UNION semantics") {
    val edges = Seq(1 -> 2, 2 -> 3, 3 -> 1).toDF("src", "dst")
    val reach = RecursiveCte.fixpoint(
      Seq(1).toDF("node"),
      d => d.join(edges, d("node") === edges("src"))
        .select(col("dst").as("node")))
    assert(reach.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("emptiness gate rides the checkpoint action (observed count)") {
    // r20: the per-round count job is folded into the materializing
    // localCheckpoint via observe — the observed count must equal the
    // real count for plain, empty, and exchange-rooted frames, and the
    // returned frame must still hold the rows (lineage truncated)
    val (ck, n) = RecursiveCte.checkpointCounted(spark.range(7).toDF("n"))
    assert(n == 7 && ck.count() == 7)
    val (ck0, n0) = RecursiveCte.checkpointCounted(
      spark.range(7).toDF("n").filter(col("n") < 0))
    assert(n0 == 0 && ck0.count() == 0)
    val shuffled = spark.range(100).toDF("n")
      .groupBy((col("n") % 10).as("k")).agg(count(lit(1)).as("c"))
    val (ck2, n2) = RecursiveCte.checkpointCounted(shuffled)
    assert(n2 == 10 && ck2.count() == 10)
  }

  test("an observed metric that never arrives falls back within the bound") {
    import scala.concurrent.duration._
    import org.apache.spark.sql.Observation
    // attached to no action: its metric never fires
    val never = Observation()
    val t0 = System.nanoTime
    assert(graft.Materialize.awaitMetric(never, 200.millis)(42L) == 42L)
    assert(System.nanoTime - t0 < 5L * 1000 * 1000 * 1000,
      "the wait must end at its bound")
    // a metric that does arrive is returned without running the fallback
    val fired = Observation()
    spark.range(5).observe(fired, count(lit(1)).as("n")).collect()
    assert(graft.Materialize.awaitMetric(fired, 10.seconds)(
      fail("fallback ran for a delivered metric")) == 5L)
  }
}

class TimeJoinsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TimeJoins

  test("banded self-join equals the predicate nested-loop pairs") {
    val df = Seq(1L, 3L, 8L, 12L, 14L, 30L).toDF("id")
      .withColumn("payload", col("id") * 10)
    val banded = TimeJoins.bandedSelfJoinPairs(df, "id", maxGap = 5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val expected = (for {
      a <- Seq(1L, 3L, 8L, 12L, 14L, 30L)
      b <- Seq(1L, 3L, 8L, 12L, 14L, 30L)
      if b > a && b - a <= 5
    } yield (a, b)).toSet
    assert(banded == expected)
  }

  test("as-of join picks the latest right row at or before left time") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (1L, 5L, "e0"),
      (2L, 50L, "f1")).toDF("k", "lt", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 60L, 300.0))
      .toDF("k", "rt", "price")
    val out = TimeJoins.asOfJoin(left, right, "k", "lt", "rt")
      .select("tag", "price").as[(String, Double)].collect().toMap
    assert(out == Map("e1" -> 100.0, "e2" -> 200.0)) // e0 pre-dates, f1's rate is later
  }

  test("as-of join tolerance drops stale matches") {
    val left = Seq((1L, 100L, "x")).toDF("k", "lt", "tag")
    val right = Seq((1L, 10L, 1.0)).toDF("k", "rt", "price")
    assert(TimeJoins.asOfJoin(left, right, "k", "lt", "rt").count() == 1)
    assert(TimeJoins.asOfJoin(left, right, "k", "lt", "rt",
      tolerance = Some(50L)).count() == 0)
  }

  test("forward as-of join picks the earliest right row at or after left") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (1L, 20L, "e3"),
      (2L, 70L, "f1")).toDF("k", "lt", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 60L, 300.0))
      .toDF("k", "rt", "price")
    val fwd = TimeJoins.asOfJoinForward(left, right, "k", "lt", "rt")
    // the forward variant's schema mirrors the backward one: the left
    // time column survives so callers can compute the match gap
    assert(fwd.columns.contains("lt"), fwd.columns.mkString(","))
    val out = fwd
      .select("tag", "price").as[(String, Double)].collect().toMap
    // e1 → 10 (inclusive), e3 → 20 (inclusive), e2 has no later rate,
    // f1's only rate is earlier
    assert(out == Map("e1" -> 100.0, "e3" -> 200.0))
    assert(fwd.filter(col("tag") === "e3").select("lt")
      .as[Long].head() == 20L)
    val tol = TimeJoins.asOfJoinForward(
      Seq((1L, 5L, "x")).toDF("k", "lt", "tag"), right, "k", "lt", "rt",
      tolerance = Some(3L))
    assert(tol.count() == 0)   // nearest later rate is 5 away > 3
  }

  test("resample+ffill: gaps carry the last value, bounds are per key") {
    val ts = (h: Int, m: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // key 1: events in hours 0 and 3 -> grid 0..3 with 2 gap hours;
    // key 2: single event -> one-row grid
    val df = Seq(
      (1L, ts(0, 15), 1.0, 10L), (1L, ts(3, 5), 2.0, 11L),
      (2L, ts(7, 0), 9.0, 12L))
      .toDF("k", "t", "v", "eid")
    val out = TimeJoins.resampleFill(df, "k", "t", "v", "eid")
      .orderBy("k", "bucket_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", 1.0, 1L, false),
      (1L, "2024-01-01 01:00:00.0", 1.0, 0L, true),
      (1L, "2024-01-01 02:00:00.0", 1.0, 0L, true),
      (1L, "2024-01-01 03:00:00.0", 2.0, 1L, false),
      (2L, "2024-01-01 07:00:00.0", 9.0, 1L, false)))
  }

  test("resample+ffill: last event in a bucket wins, ties broken by ord") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:30:00")
    val df = Seq((1L, t0, 5.0, 1L), (1L, t0, 6.0, 2L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 7.0, 3L))
      .toDF("k", "t", "v", "eid")
    val out = TimeJoins.resampleFill(df, "k", "t", "v", "eid").collect()
    assert(out.length == 1)
    // same bucket: 00:30 beats 00:10; at 00:30 the higher eid (6.0) wins
    assert(out.head.getDouble(2) == 6.0 && out.head.getLong(3) == 3L)
  }
}

class IntervalOverlapSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TimeJoins

  test("bucketed interval overlap equals the nested-loop predicate") {
    // intervals spanning bucket boundaries, exact-touch endpoints, and a
    // separate key that must never pair
    val rows = Seq(
      (1L, 10L, 0L, 20L), (1L, 11L, 20L, 30L),   // touch at 20 → overlap
      (1L, 12L, 31L, 40L),                       // gap from 11 → no pair
      (1L, 13L, 5L, 95L),                        // long: spans 4 buckets
      (2L, 20L, 0L, 100L))                       // other key
    val df = rows.toDF("k", "id", "s", "e")
    for (bw <- Seq(7L, 32L, 1000L)) {
      val got = TimeJoins.intervalOverlapPairs(df, "k", "s", "e", bw)
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val expect = (for {
        (ka, ia, sa, ea) <- rows; (kb, ib, sb, eb) <- rows
        if ka == kb && ia < ib && sa <= eb && sb <= ea
      } yield (ia, ib)).toSet
      assert(got == expect, s"bucketWidth=$bw")
    }
  }

  test("violating the start<=end / non-negative contract fails LOUDLY") {
    // an inverted or negative interval would silently drop pairs
    // (descending bucket sequence → empty explode) — the runtime
    // assert_true must turn that into a job failure instead
    for (bad <- Seq(Seq((1L, 1L, 30L, 10L)), Seq((1L, 1L, -5L, 10L)))) {
      val ex = intercept[Exception] {
        TimeJoins.intervalOverlapPairs(
          bad.toDF("k", "id", "s", "e"), "k", "s", "e", 16L).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("intervalOverlapPairs")),
        msgs(ex).mkString(" | "))
    }
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox leaps over the lazy dog again and again"),
    (4L, "completely different content about spark query engines at scale"),
    (5L, "totally unrelated text concerning benchmark suites and oracles"))
    .toDF("doc_id", "text")

  test("exact dedup keeps lowest id per identical text") {
    val survivors = Dedup.exactSurvivors(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("minhash LSH finds planted near-duplicates, not unrelated pairs") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
      bands = 8, rows = 2, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))   // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup
    assert(!pairs.contains((4L, 5L))) // unrelated
  }

  test("persisted LSH index: shard probe finds the same pairs as the " +
    "inline band join, and never misses identical docs") {
    // shard = doc 2 (identical to 1) and doc 4 (unrelated); corpus =
    // the rest. The probe must surface (2,1) with est 1.0 — identical
    // signatures collide in every band — and must NOT pair 4 with 5.
    val path = graft.TmpDirs.create("graft_lsh_test")
    val corpus = docs.filter($"doc_id".isin(1L, 3L, 5L))
    val shard = docs.filter($"doc_id".isin(2L, 4L))
    Dedup.buildLshIndex(corpus, "text", "doc_id", path)
    val got = Dedup.queryLshIndex(spark, path, shard, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.contains((2L, 1L)) && got((2L, 1L)) == 1.0, got.toString)
    assert(!got.contains((4L, 5L)), got.toString)
    // incremental contract: a second probe with a DIFFERENT shard hits
    // the same persisted index without a rebuild and stays consistent
    val got2 = Dedup.queryLshIndex(spark, path,
        docs.filter($"doc_id" === 2L), "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2.contains((2L, 1L)), got2.toString)
  }

  test("simhash: identical docs share signatures; near-dups are close") {
    val sigs = Dedup.simHashSignatures(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val pairs = Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 12)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngram jaccard scores identical > near > far") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
      blocking = (a, b) => b - a <= 10, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.7)
    assert(pairs((4L, 5L)) < 0.2)
  }

  test("segment dedup drops cross-doc boilerplate, keeps order, guards empties") {
    // "a b" (width=2) appears in docs 1..4 -> boilerplate at maxDocFreq=3;
    // every other segment is unique to its doc and must survive in order.
    val df = Seq(
      (1L, "a b u1 u2"), (2L, "a b v1 v2"), (3L, "a b w1 w2"),
      (4L, "a b x1 x2"), (5L, "y1 y2 y3 y4"), (6L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateSegments(df, "text", "doc_id",
        width = 2, maxDocFreq = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 1L, "u1 u2")))
    assert(out(4L) == ((1L, 1L, "x1 x2")))
    assert(out(5L) == ((2L, 0L, "y1 y2 y3 y4")))   // order preserved
    assert(out(6L) == ((0L, 0L, "")))              // empty doc survives
  }

  test("decontaminate flags eval-overlapping docs, exact gram counts") {
    // eval doc 100 contributes 3-grams {a b c, b c d}; train doc 1 shares
    // both of its grams, doc 2 shares none, doc 3 is too short for any.
    val train = Seq(
      (1L, "a b c d"),           // grams {a b c, b c d} — 2/2 hit
      (2L, "x y z w"),           // grams {x y z, y z w} — 0/2 hit
      (3L, "a b"))               // no 3-gram
      .toDF("doc_id", "text")
    val ev = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, ev, "text", "doc_id",
        n = 3, flagNum = 1, flagDen = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((2L, 2L, true)))
    assert(out(2L) == ((2L, 0L, false)))
    assert(out(3L) == ((0L, 0L, false)))   // zero grams -> never flagged
  }

  test("repeatedSpans: cross-doc overlapping spans counted per position") {
    // width=2 spans: doc 1 "a b","b c","c d"; doc 2 "b c","c d","d e";
    // shared spans {b c, c d} → doc1 n_dup=2, doc2 n_dup=2; doc 3 has no
    // shared span; doc 4 too short for any span (0,0); a span repeated
    // WITHIN one doc only (doc 3 "x y x y": "x y" twice, "y x" once) is
    // not cross-doc duplicated.
    val df = Seq(
      (1L, "a b c d"), (2L, "b c d e"), (3L, "x y x y"), (4L, "q"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(df, "text", "doc_id", width = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) == ((3L, 2L)))
    assert(out(2L) == ((3L, 2L)))
    assert(out(3L) == ((3L, 0L)))
    assert(out(4L) == ((0L, 0L)))
  }

  test("decontaminate counts DISTINCT grams once per doc") {
    // "a b c a b c a b c": distinct 3-grams {a b c, b c a, c a b}; all
    // three occur in the eval doc, so n_grams = n_hit = 3 (not the 7
    // positional occurrences).
    val train = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
    val ev = Seq((9L, "a b c a b c")).toDF("doc_id", "text")
    val row = Dedup.decontaminate(train, ev, "text", "doc_id", n = 3)
      .collect().head
    assert((row.getLong(1), row.getLong(2), row.getBoolean(3)) ==
      ((3L, 3L, true)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("brute-force knn matches a naive local computation") {
    val q = emb.filter(col("vec_id") === 0)
    val got = Similarity.bruteForceKnn(emb, q, k = 3)
      .select("n_id").as[Long].collect().toSeq
    // naive local oracle
    val all = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val qv = all.find(_._1 == 0L).get._2.map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = all.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(qv, v.map(_.toDouble)) }
      .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSeq
    assert(got == expect)
  }

  test("lsh knn returns same-bucket true neighbors with exact cosine") {
    val q = emb.filter(col("vec_id") < 5)
    val out = Similarity.lshKnn(emb, q, k = 3, nPlanes = 2)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(1) <= 3))
    // sims must be valid cosines
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
  }

  test("multi-probe lsh recall is at least single-probe recall") {
    val q = emb.filter(col("vec_id") < 3)
    def hits(mp: Boolean) = Similarity
      .lshKnn(emb, q, k = 5, nPlanes = 4, multiProbe = mp)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.bruteForceKnn(emb, q, k = 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = hits(mp = false)
    val multi = hits(mp = true)
    // candidates(multi) is a superset, and exact-cosine ranking means any
    // displaced candidate is displaced by a truth member — recall can
    // only grow
    assert(multi.intersect(truth).size >= single.intersect(truth).size)
    assert(multi.size >= single.size)
  }

  test("ivf knn probes cells and ranks by cosine") {
    val q = emb.filter(col("vec_id") < 2)
    val out = Similarity.ivfKnn(emb, q, k = 4).collect()
    assert(out.nonEmpty)
    assert(out.groupBy(_.getLong(0)).values.forall(_.length <= 4))
  }

  test("persisted SQ8 index: build once, query matches one-shot sq8TopK") {
    val path = graft.TmpDirs.create("sq8_idx")
    Similarity.buildSq8Index(emb, path)
    val qs = emb.orderBy(col("vec_id")).limit(2)
      .collect().toSeq.map(r => (r.getLong(0),
        r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case n: java.lang.Number => n.doubleValue
        }.toSeq))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(rows(Similarity.querySq8Index(spark, path, qs, k = 4)) ==
      rows(Similarity.sq8TopK(emb, qs, k = 4)))
    // the persisted codes are integer arrays — the query path must never
    // read the float corpus
    val codeSchema = spark.read.parquet(s"$path/codes").schema
    assert(codeSchema.fieldNames.toSet == Set("vec_id", "codes"))
  }

  test("persisted IVF index: build once, query matches one-shot ivfKnn") {
    val path = graft.TmpDirs.create("ivf_idx")
    Similarity.buildIvfIndex(emb, path, nCells = 16)
    val q = emb.filter(col("vec_id") < 2)
    val fromIndex = Similarity.queryIvfIndex(spark, path, q, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val oneShot = Similarity.ivfKnn(emb, q, k = 4, nCells = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(fromIndex.sorted == oneShot.sorted)
    // the index layout is cell-partitioned: probed queries must not need
    // every cell directory
    val cellDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(path, "cells")).iterator()
    var n = 0
    while (cellDirs.hasNext) {
      if (cellDirs.next().getFileName.toString.startsWith("cell=")) n += 1
    }
    assert(n > 1, "index must be partitioned by cell")
  }

  /** 140 seeded array<double> vectors with int ids — more than the 128
    * cells up to which assignment is the literal argmin, so nCells > 128
    * takes the broadcast-join path. */
  private lazy val wide = {
    val rnd = new scala.util.Random(7)
    (0 until 140).map(i => (i, Array.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
  }

  test("ivf knn: join-based path (nCells > maxLiteralCells) is identical") {
    val vecs = wide.orderBy("vec_id").as[(Int, Array[Double])].collect()
      .map { case (i, v) => (i.toLong, v.toSeq) }.toSeq
    // 130 centroids, the last a copy of centroid 3: a vector nearest to
    // it ties, and the tie goes to the lower cell id
    val cents = vecs.take(129).map(_._2) :+ vecs(3)._2
    def fold(a: Seq[Double], c: Seq[Double]): Double =
      a.zip(c).foldLeft(0.0)((s, p) => s + p._1 * p._2)
    // the engine's score, |c|² − 2·a·c, each dot folded left to right
    val want = vecs.map { case (id, a) =>
      id -> cents.indices.minBy(i =>
          (fold(cents(i), cents(i)) - 2.0 * fold(a, cents(i)), i))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)).toLong
    }.toMap
    val got = Similarity.assignCells(wide, cents)
      .select("n_id", "cell").as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(got(3L) == 3L)
    // probing every cell sees every candidate: exact brute force
    val q = wide.filter(col("vec_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rnk", "n_id").as[(Long, Int, Long)].collect().toSeq
    assert(rows(Similarity.ivfKnn(wide, q, k = 4, nCells = 130,
      nProbe = 130)).sorted == rows(Similarity.bruteForceKnn(wide, q,
      k = 4)).sorted)
  }

  test("ivf knn: array<double> embeddings and int ids work on both paths") {
    val q = wide.filter(col("vec_id") < 2)
    for (nCells <- Seq(8, 130)) {
      val out = Similarity.ivfKnn(wide, q, k = 3, nCells = nCells).collect()
      assert(out.nonEmpty)
      assert(out.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    }
  }

  test("vector functions: dot/norm/cosine against hand values") {
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 1.0f)))
      .toDF("a", "b")
    val d = df.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].head()
    assert(d == 4.0)
    val n = df.select(VectorFunctions.norm(col("a"))).as[Double].head()
    assert(n == 3.0)
    val c = df.select(VectorFunctions.cosine(col("a"), col("a"))).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("lloyd step: hand-checkable assignment and exact means") {
    // centroids seed from vec_id 0 and 1; ids 2/3 sit near them, so the
    // step must assign {0,2}->cell 0, {1,3}->cell 1 and the per-dim
    // decimal-exact means are (0.25, 0.25) and (9.5, 9.5).
    val df = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(0.5f, 0.5f)), (3L, Seq(9f, 9f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.lloydStep(df, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(out((0L, 0)) == ((0.25, 2L)))
    assert(out((0L, 1)) == ((0.25, 2L)))
    assert(out((1L, 0)) == ((9.5, 2L)))
    assert(out((1L, 1)) == ((9.5, 2L)))
  }

  test("trained IVF index: kmeans cells split real clusters; query exact") {
    // same bad-seed fixture as the kmeansFit test: training must put the
    // two true clusters in separate cells, and the unchanged
    // queryIvfIndex path (probing all cells) must equal brute force
    val df = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(0.4f, 0.4f)),
      (2L, Seq(10f, 10f)), (3L, Seq(10.4f, 10.4f)))
      .toDF("vec_id", "embedding")
    val dir = graft.TmpDirs.create("ivftrained")
    Similarity.buildIvfIndexTrained(df, dir, nCells = 2, rounds = 3)
    // `cell` is a partition column — its read-back type is inferred from
    // the directory names (INT here), so compare via Number
    val cells = spark.read.parquet(s"$dir/cells")
      .select("cell", "n_id").collect()
      .groupBy(_.getAs[Number](0).longValue).map { case (c, rs) =>
        c -> rs.map(_.getLong(1)).toSet }
    assert(cells.values.toSet == Set(Set(0L, 1L), Set(2L, 3L)))
    val q = df.filter(col("vec_id") === 0L)
    val fromIdx = Similarity.queryIvfIndex(spark, dir, q, k = 3, nProbe = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    val brute = Similarity.bruteForceKnn(df, q, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(fromIdx == brute)
  }

  test("kmeansFit: iterations move centroids to the true cluster means") {
    // both seeds (vec 0, vec 1) start inside the left cluster; round 1
    // lumps {1,2,3} into cell 1, later rounds must re-split into the
    // true clusters {0,1} and {2,3} with exact decimal means
    val df = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(0.4f, 0.4f)),
      (2L, Seq(10f, 10f)), (3L, Seq(10.4f, 10.4f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansFit(df, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(out((0L, 0)) == ((0.2, 2L)) && out((0L, 1)) == ((0.2, 2L)))
    assert(out((1L, 0)) == ((10.2, 2L)) && out((1L, 1)) == ((10.2, 2L)))
    // one un-iterated step from the same seeds is genuinely different
    val one = Similarity.lloydStep(df, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(one((1L, 0)) != 10.2)
  }

  test("semDedup: lower-id cellmate above threshold drops the higher id") {
    // cells: (0,0)-ish cluster vs (10,10)-ish cluster. vec 2 duplicates
    // vec 0 (cos=1 ≥ 0.95 → dropped); vec 3 is a rotated cellmate of 1
    // (cos < 0.95 → kept); vec 1 has no lower-id cellmate → kept.
    val df = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(2f, 0f)), (3L, Seq(10f, 20f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0), Seq(10.0, 10.0))
    val out = Dedup.semDedup(df, cents, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(out(0L) == ((0L, true)))
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((1L, true)))
  }

  test("quantizationError: hand-computed inertia, counts, empty cell") {
    // centroids: (0,0), (10,10), and (100,100) which captures nothing.
    // assignments: {0 (d=0), 2 (d=0.5)} -> cell 0; {1 (d=0), 3 (d=2)} ->
    // cell 1. inertia(cell 0) = 0 + 0.5² + 0.5² = 0.5; inertia(cell 1)
    // = 0 + 1² + 1² = 2. The empty cell 2 must still appear as a
    // (2, 0, 0.000000) row, not vanish.
    val df = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(0.5f, 0.5f)), (3L, Seq(9f, 9f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(100.0, 100.0))
    val out = Similarity.quantizationError(df, cents)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDecimal(2).doubleValue))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L) == ((2L, 0.5)))
    assert(out(1L) == ((2L, 2.0)))
    assert(out(2L) == ((0L, 0.0)))
  }

  test("quantizationError: counts agree with lloydStep membership on emb") {
    val members = Similarity.lloydStep(emb, k = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (c, rs) => c -> rs.head.getLong(3) }
    // the same seed centroids lloydStep uses: embeddings of vec_id < 4
    val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble).toSeq).toSeq
    val qe = Similarity.quantizationError(emb, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(members.forall { case (c, n) => qe(c) == n })
    assert(qe.values.sum == emb.count())
  }

  test("quantizationError: literal and broadcast-join paths agree") {
    val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble).toSeq).toSeq
    // 126 far-away centroids push the count past 128 (the broadcast
    // join) without winning a single row
    val far = (0 until 126).map(i => Seq.fill(cents.head.size)(1e6 + i))
    def run(cs: Seq[Seq[Double]]) = Similarity.quantizationError(emb, cs)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).toPlainString)).toSeq
    val joined = run(cents ++ far)
    assert(joined.take(4) == run(cents))
    assert(joined.drop(4).forall(r => r._2 == 0L && r._3 == "0.000000"))
  }

  test("hardNegatives: only different-label neighbors, ranked like knn") {
    val labels = emb.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    val out = Similarity.hardNegatives(
        emb, emb.filter(col("vec_id") === 0), "label", k = 5)
      .select("n_id").as[Long].collect().toSeq
    assert(out.size == 5)
    assert(out.forall(n => labels(n) != labels(0L)))
    // equals brute-force knn restricted to different-label candidates
    val bf = Similarity.bruteForceKnn(
        emb.filter(col("label") =!= labels(0L)
          || col("vec_id") === 0),
        emb.filter(col("vec_id") === 0), k = 5)
      .select("n_id").as[Long].collect().toSeq
    assert(out == bf)
  }

  test("pqCodes: hand-checkable subspace argmin with lower-id ties") {
    // dim 4, M=2 subspaces of 2; codebooks: sub0 words {(0,0),(10,10)},
    // sub1 words {(0,0),(10,10)}
    val cbs = Seq(Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)),
                  Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val df = Seq(
      (1L, Seq(1.0f, 1.0f, 9.0f, 9.0f)),   // sub0→0, sub1→1
      (2L, Seq(9.0f, 9.0f, 1.0f, 1.0f)),   // sub0→1, sub1→0
      (3L, Seq(5.0f, 5.0f, 5.0f, 5.0f)))   // equidistant both → tie → 0
      .toDF("vec_id", "embedding")
    val out = Similarity.pqCodes(df, cbs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out == Map((1L, 0L) -> 0L, (1L, 1L) -> 1L,
      (2L, 0L) -> 1L, (2L, 1L) -> 0L, (3L, 0L) -> 0L, (3L, 1L) -> 0L))
  }

  test("pqAdcTopK: ADC ranking equals brute-force on codebook-exact vectors") {
    // vectors that ARE codeword concatenations → ADC distance is exact,
    // so the ADC order must equal the true L2 order to the query
    val cbs = Seq(Seq(Seq(0.0, 0.0), Seq(4.0, 4.0), Seq(8.0, 8.0)),
                  Seq(Seq(0.0, 0.0), Seq(4.0, 4.0), Seq(8.0, 8.0)))
    val df = Seq(
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(4.0f, 4.0f, 4.0f, 4.0f)),
      (3L, Seq(8.0f, 8.0f, 8.0f, 8.0f)),
      (4L, Seq(0.0f, 0.0f, 8.0f, 8.0f)))
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(df, cbs)
    val out = Similarity.pqAdcTopK(codes,
        Seq(5L -> Seq(4.0, 4.0, 4.0, 4.0)), cbs, k = 4)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    // true squared L2 to q: v2=0, v1=64, v3=64, v4=64 → ties by vec_id
    assert(out.toSeq == Seq((1, 2L), (2, 1L), (3, 3L), (4, 4L)))
  }

  test("lloyd step: membership partitions the corpus; iterating converges") {
    val step1 = Similarity.lloydStep(emb, k = 4).collect()
    val n = emb.count()
    val dims = step1.map(_.getInt(1)).distinct.length
    // every (cell, dim) row counts the same members; cells partition corpus
    step1.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).distinct.length == 1)
    }
    assert(step1.groupBy(_.getLong(0)).map(_._2.head.getLong(3)).sum == n)
    assert(step1.length == step1.map(r => (r.getLong(0), r.getInt(1))).distinct.length)
    assert(dims == step1.length / step1.map(_.getLong(0)).distinct.length)
  }
}

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  test("integer pagerank matches the hand-computed chain recurrence") {
    // chain 1 -> 2 -> 3 (node 3 dangling), seed 1024, 3 iterations:
    //   P1 = (3072, 20480, 20480)
    //   P2 = (61440, 113664, 409600)
    //   P3 = (1228800, 2273280, 3161088)
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst")
    val out = graft.operators.Graphs.pageRankInt(nodes, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1228800L, 2L -> 2273280L, 3L -> 3161088L))
  }

  test("pagerank: sink accumulates, teleport keeps sources nonzero") {
    // star: 1,2,3 all point at 4; out-degree 1 each
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val edges = Seq(1L -> 4L, 2L -> 4L, 3L -> 4L).toDF("src", "dst")
    val out = graft.operators.Graphs.pageRankInt(nodes, edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(4L) > out(1L) && out(1L) > 0L)
    assert(out(1L) == out(2L) && out(2L) == out(3L))
  }

  test("min-plus distances: cheaper multi-hop path beats direct edge") {
    // 1->2->3 costs 1+1=2; direct 1->3 costs 5. One round sees only the
    // direct edge (5); two rounds find the cheaper chain (2).
    val seeds = Seq(1L).toDF("node")
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L))
      .toDF("src", "dst", "w")
    def dist(rounds: Int): Map[Long, Long] =
      graft.operators.Graphs.minPlusDistances(seeds, edges, rounds)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(dist(1) == Map(1L -> 0L, 2L -> 1L, 3L -> 5L))
    assert(dist(2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("min-plus distances: multi-seed, unreached nodes absent") {
    val seeds = Seq(1L, 10L).toDF("node")
    val edges = Seq((1L, 2L, 7L)).toDF("src", "dst", "w")
    val out = graft.operators.Graphs.minPlusDistances(seeds, edges, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 1L) -> 0L, (1L, 2L) -> 7L, (10L, 10L) -> 0L))
  }

  test("pagerank: integer division stays exact for power-of-two degrees") {
    // node 1 has out-degree 2: every P(1) must divide by 2 exactly over
    // 3 iterations — guaranteed by the 2^10 seed; verify via the exact
    // symmetric split of node 1's mass between 2 and 3
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq(1L -> 2L, 1L -> 3L).toDF("src", "dst")
    val out = graft.operators.Graphs.pageRankInt(nodes, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) == out(3L))
    assert(out(2L) > out(1L))
  }

  // two triangles {1,2,3} / {10,11,12} bridged at 3–10, plus isolated 99
  private def lpaFixture = {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("node")
    val pairs = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L,
      10L -> 11L, 11L -> 12L, 10L -> 12L, 3L -> 10L)
    val und = (pairs ++ pairs.map(_.swap)).toDF("v", "w")
    (nodes, und)
  }

  test("label propagation: hand-computed 2-round trace (tie-break + frequency)") {
    val (nodes, und) = lpaFixture
    def labs(rounds: Int): Map[Long, Long] =
      graft.operators.Graphs.labelPropagation(nodes, und, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 is pure min-of-neighbors (all counts are 1 → smallest
    // label wins every tie); isolated 99 keeps its own label
    assert(labs(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
    // round 2 exercises the FREQUENCY rule: node 10's neighbors carry
    // labels {1, 10, 10} — label 10 (count 2) beats the smaller label 1
    assert(labs(2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 3L, 12L -> 3L, 99L -> 99L))
  }

  test("label propagation: zero rounds is the identity labeling; bound enforced") {
    val (nodes, und) = lpaFixture
    val out = graft.operators.Graphs.labelPropagation(nodes, und, 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (v, l) => v == l } && out.size == 7)
    intercept[IllegalArgumentException] {
      graft.operators.Graphs.labelPropagation(nodes, und, -1)
    }
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("chains, cycles and cliques collapse to min-id components") {
    // component {1,2,3,4}: chain + cycle back-edge; {10,11,12}: clique;
    // {20,21}: single edge; diameter-3 chain forces >1 propagation round
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 2L,
      10L -> 11L, 11L -> 12L, 10L -> 12L, 21L -> 20L).toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges).as[(Long, Long)]
      .collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("label propagation crosses long chains (diameter > 2 rounds)") {
    val n = 12L
    val edges = (1L until n).map(i => i -> (i + 1)).toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
    assert(cc.length == n && cc.forall(_._2 == 1L))
  }

  test("keepCanonical drops every cluster member but the min id") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z"))
      .toDF("doc_id", "text")
    val pairs = Seq(1L -> 2L, 2L -> 3L).toDF("a_id", "b_id")
    val kept = Dedup.keepCanonical(df, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 2,3 collapse into 1; 4 and 9 never appear in a pair and survive
    assert(kept == Seq(1L, 4L, 9L))
  }

  test("property: components match brute-force union-find on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEdges = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(1, 30)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (a, b))
      if edges.nonEmpty
    } yield edges
    def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val prop = Prop.forAll(genEdges) { edges =>
      val expect = unionFind(edges)
      val got = Dedup.connectedComponents(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      got == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("end-to-end: minhash pairs -> components -> canonical survivors") {
    // near-identical trio (one canonical survivor) + two distinct docs
    val base = "the quick brown fox jumps over the lazy dog " * 4
    val df = Seq(
      (1L, base), (2L, base + "extra tail"), (3L, base + "another tail"),
      (7L, "completely different text about spark physical planning"),
      (8L, "unrelated content concerning parquet column pruning"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashLshVerified(df, "text", "doc_id",
      threshold = 0.6)
    val kept = Dedup.keepCanonical(df, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 7L, 8L))
  }
}
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("Materialize.once picks reliable checkpoint iff a dir is set") {
    // VERDICT r19 #3: the four r19 localCheckpoint sites must follow the
    // same reliable-aware mode selection as Graphs' per-round truncation.
    // Local mode: no checkpoint dir -> executor-local blocks, an
    // RDD-scan plan, and NO files anywhere.
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: suites run without a checkpoint dir")
    val local = graft.Materialize.once(Seq(1L, 2L, 3L).toDF("n"))
    assert(local.count() == 3)
    assert(local.queryExecution.optimizedPlan.toString
      .contains("LogicalRDD"), "local mode must truncate to an RDD scan")
    val (localObs, localN) = graft.Materialize.observed(
      Seq(1L, 2L).toDF("n"), count(lit(1)))
    assert(localN == 2L && localObs.queryExecution.optimizedPlan.toString
      .contains("LogicalRDD"))
    // Cluster signal: with a checkpoint dir set the SAME call must write
    // a reliable checkpoint under it.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      def filesUnder(f: java.io.File): Int =
        Option(f.listFiles).getOrElse(Array.empty)
          .map(c => if (c.isDirectory) filesUnder(c) else 1).sum
      val rel = graft.Materialize.once(Seq(4L, 5L).toDF("n"))
      assert(rel.count() == 2)
      val afterOnce = filesUnder(new java.io.File(dir))
      assert(afterOnce > 0,
        s"reliable mode must write checkpoint files under $dir")
      // the fixpoint loops' observed checkpoint follows the same mode
      val (obs, n) = graft.Materialize.observed(
        Seq(6L, 7L, 8L).toDF("n"), count(lit(1)))
      assert(n == 3L && obs.count() == 3)
      assert(filesUnder(new java.io.File(dir)) > afterOnce,
        s"observed must write a reliable checkpoint under $dir")
    } finally {
      // Option(null) = None: cleanly unsets so parallel suites keep the
      // single-host local mode (probed on this Spark build)
      spark.sparkContext.setCheckpointDir(null)
      graft.TmpDirs.deleteRec(new java.io.File(dir))
    }
  }

  test("a self-FK CASCADE delete checkpoints under a set checkpoint dir") {
    val g = graft.api.GraftSession(spark, graft.TmpDirs.create("graft_ckfk"))
    g.execute("CREATE TABLE emp (id BIGINT, boss BIGINT)")
    g.execute("INSERT INTO emp VALUES (1, NULL), (2, 1), (3, 2), (9, NULL)")
    g.addForeignKey("emp", "boss", "emp", "id", g.Cascade)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      def filesUnder(f: java.io.File): Int =
        Option(f.listFiles).getOrElse(Array.empty)
          .map(c => if (c.isDirectory) filesUnder(c) else 1).sum
      val gone = g.delete("emp", col("id") === 1L)
      assert(gone.select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L))
      assert(g.table("emp").select("id").as[Long].collect().toSeq == Seq(9L))
      assert(filesUnder(new java.io.File(dir)) > 0,
        s"the cascade closure must checkpoint reliably under $dir")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      graft.TmpDirs.deleteRec(new java.io.File(dir))
    }
  }
}
