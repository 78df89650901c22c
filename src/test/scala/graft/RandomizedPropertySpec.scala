package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Mixing, Similarity, TimeJoins}

/** Randomized differential tests: each operator is replayed against a
  * naive in-memory reference implementation on seeded random inputs —
  * the property-based layer on top of the hand-picked fixtures in
  * OperatorsSpec. Trials are few and small (a Spark job per trial), but
  * the seeds are fixed so every failure reproduces exactly. */
class RandomizedPropertySpec extends SparkSpec {
  import spark.implicits._

  test("intervalOverlapPairs == nested-loop predicate on random inputs") {
    for (seed <- 1 to 4) {
      val r = new scala.util.Random(seed)
      val rows = (0 until 40).map { i =>
        val s = r.nextInt(300).toLong
        (r.nextInt(3).toLong, i.toLong, s, s + r.nextInt(80).toLong)
      }
      val bw = Seq(13L, 64L, 500L)(seed % 3)
      val got = TimeJoins.intervalOverlapPairs(
          rows.toDF("k", "id", "s", "e"), "k", "s", "e", bw)
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val want = (for {
        (ka, ia, sa, ea) <- rows; (kb, ib, sb, eb) <- rows
        if ka == kb && ia < ib && sa <= eb && sb <= ea
      } yield (ia, ib)).toSet
      assert(got == want, s"seed=$seed bw=$bw")
    }
  }

  test("asOfJoin fwd/bwd == naive scan on random inputs") {
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(100 + seed)
      val left = (0 until 25).map(i =>
        (r.nextInt(3).toLong, r.nextInt(100).toLong, i.toLong))
      val right = (0 until 15).map(i =>
        (r.nextInt(3).toLong, r.nextInt(100).toLong, i * 10.0))
      val lDf = left.toDF("k", "lt", "tag")
      val rDf = right.toDF("k", "rt", "price")
      val bwd = TimeJoins.asOfJoin(lDf, rDf, "k", "lt", "rt")
        .select("tag", "price").as[(Long, Double)].collect().toMap
      val fwd = TimeJoins.asOfJoinForward(lDf, rDf, "k", "lt", "rt")
        .select("tag", "price").as[(Long, Double)].collect().toMap
      val wantB = left.flatMap { case (k, lt, tag) =>
        val c = right.filter(x => x._1 == k && x._2 <= lt)
        // tie-break on the time axis only: at equal rt the LAST right row
        // in union order wins in the window impl; generated rts collide
        // rarely but dedup by keeping max payload at max rt
        if (c.isEmpty) None
        else {
          val mt = c.map(_._2).max
          Some(tag -> c.filter(_._2 == mt).last._3)
        }
      }.toMap
      val wantF = left.flatMap { case (k, lt, tag) =>
        val c = right.filter(x => x._1 == k && x._2 >= lt)
        if (c.isEmpty) None
        else {
          val mt = c.map(_._2).min
          Some(tag -> c.filter(_._2 == mt).last._3)
        }
      }.toMap
      assert(bwd.keySet == wantB.keySet, s"bwd keys seed=$seed")
      assert(fwd.keySet == wantF.keySet, s"fwd keys seed=$seed")
      // values must agree wherever the right-side time is unique
      val dupTimes = right.groupBy(x => (x._1, x._2))
        .filter(_._2.size > 1).keySet
      left.foreach { case (k, lt, tag) =>
        for (p <- bwd.get(tag)) {
          val mt = right.filter(x => x._1 == k && x._2 <= lt).map(_._2).max
          if (!dupTimes((k, mt))) assert(wantB(tag) == p, s"bwd $tag")
        }
        for (p <- fwd.get(tag)) {
          val mt = right.filter(x => x._1 == k && x._2 >= lt).map(_._2).min
          if (!dupTimes((k, mt))) assert(wantF(tag) == p, s"fwd $tag")
        }
      }
    }
  }

  test("Ranks.globalRowNumber == global row_number window on random inputs") {
    // the two-pass range-partitioned rank (and its mono-id local rank)
    // must equal the single-partition window EXACTLY for total orders —
    // including duplicate sort-key values that straddle range-partition
    // boundaries (id is the tie-break)
    import graft.operators.Ranks
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(300 + seed)
      val rows = (0 until 120).map(i =>
        (i.toLong, r.nextInt(12).toLong))    // heavy ties in the value
      val df = rows.toDF("id", "v")
      val got = Ranks.globalRowNumber(df,
          Seq(col("v").desc, col("id")), "rn", nCol = Some("n"))
        .collect().map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3)))
        .toMap
      val want = rows.sortBy { case (id, v) => (-v, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
      rows.foreach { case (id, _) =>
        assert(got(id) == ((want(id), rows.size.toLong)), s"seed=$seed id=$id")
      }
      val phases = Ranks.rankPhases(df,
          Seq(col("v").desc, col("id")), k = 4, phaseCol = "ph")
        .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
      rows.foreach { case (id, _) =>
        assert(phases(id) == (want(id) - 1) * 4 / rows.size, s"ph id=$id")
      }
    }
  }

  test("labelPropagation == in-memory synchronous LPA on random graphs") {
    // distributed rounds (join + count + max-of-struct argmax) must
    // equal a straightforward single-machine synchronous LPA with the
    // (max count, min label) tie rule — including vertices whose
    // neighbor multiset is empty (isolated: keep own label)
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(700 + seed)
      val n = 40
      val vs = (0L until n.toLong).toVector
      val pairs = (0 until 70).map { _ =>
        (r.nextInt(n).toLong, r.nextInt(n).toLong)
      }.filter(p => p._1 != p._2).distinct
      val und = pairs ++ pairs.map(_.swap)
      val rounds = 1 + r.nextInt(3)
      // reference: adjacency lists, synchronous update
      val adj = und.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      var ref = vs.map(v => v -> v).toMap
      for (_ <- 0 until rounds) {
        val prev = ref
        ref = vs.map { v =>
          val labs = adj.getOrElse(v, Seq.empty).map(prev)
          if (labs.isEmpty) v -> prev(v)
          else {
            val counts = labs.groupBy(identity).map {
              case (l, o) => l -> o.size
            }
            val best = counts.toSeq.minBy { case (l, c) => (-c, l) }._1
            v -> best
          }
        }.toMap
      }
      val got = graft.operators.Graphs.labelPropagation(
          vs.toDF("node"), und.toDF("v", "w"), rounds)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == ref, s"seed=$seed rounds=$rounds")
    }
  }

  test("temperatureShares == BigInt floor formula on random counts") {
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(200 + seed)
      val strata = (0 until 6).map(i =>
        (s"s$i", 1L + r.nextInt(1 << 20).toLong))
      val got = Mixing.temperatureShares(
          strata.toDF("src", "n"), "src", col("n"))
        .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
      val den = strata.map(x => BigInt(x._2) * BigInt(x._2)).sum
      strata.foreach { case (k, c) =>
        val want = (BigInt(c) * BigInt(c) * 1000000 / den).toLong
        assert(got(k) == want, s"seed=$seed stratum=$k")
      }
    }
  }

  test("repeatedSpans == naive overlapping-window count on random docs") {
    val words = Array("a", "b", "c", "d")
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(300 + seed)
      val docs = (0 until 12).map(i =>
        (i.toLong, Seq.fill(r.nextInt(10))(words(r.nextInt(4)))
          .mkString(" ")))
      val w = 2
      val got = Dedup.repeatedSpans(docs.toDF("doc_id", "text"),
          "text", "doc_id", width = w)
        .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2))))
        .toMap
      def spans(t: String): Seq[String] = {
        val ws = t.split("\\s+").filter(_.nonEmpty)
        if (ws.length < w) Nil
        else (0 to ws.length - w).map(i => ws.slice(i, i + w).mkString(" "))
      }
      val byDoc = docs.map { case (id, t) => id -> spans(t) }
      val docFreq = byDoc.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
      docs.foreach { case (id, _) =>
        val ss = byDoc.toMap.apply(id)
        val want = (ss.length.toLong,
          ss.count(s => docFreq(s) >= 2).toLong)
        assert(got(id) == want, s"seed=$seed doc=$id")
      }
    }
  }

  test("ivfAdcTopK == in-memory IVF-PQ reference on random vectors") {
    // full-stack differential for e15 (VERDICT r11 #3): an independent
    // in-memory IVF-PQ — coarse argmin by (|c|²−2·v·c asc, c_id asc)
    // over the first-nCells seed centroids, probe selection the same
    // way over the query, per-subspace PQ argmin with j-asc ties, ADC
    // sum of micro6(|cw|²−2·q_sub·cw) over the probed cells only, rank
    // by (adist asc, vec_id asc). Every fold is a left-to-right sum, so
    // doubles are bit-identical with the plan's zip_with/aggregate fold.
    import spark.implicits._
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(500 + seed)
      val subDim = 3; val m = 2; val kCode = 4; val dim = m * subDim
      val nCells = 6; val nProbe = 2; val topK = 5; val n = 40
      val cbs = Seq.fill(m)(Seq.fill(kCode)(Seq.fill(subDim)(
        r.nextInt(10).toDouble)))
      val vecs = (0 until n).map(i =>
        (i.toLong, Seq.fill(dim)(r.nextInt(10).toFloat)))
      val queries = (0 until 3).map(qi =>
        (100L + qi, Seq.fill(dim)(r.nextInt(10).toDouble)))
      val corpus = vecs.toDF("vec_id", "embedding")

      def dot(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).foldLeft(0.0)((s, p) => s + p._1 * p._2)
      def normSq(a: Seq[Double]): Double =
        a.foldLeft(0.0)((s, v) => s + v * v)
      val cents = vecs.take(nCells).map { case (id, v) =>
        (id, v.map(_.toDouble)) }
      def nearestCells(v: Seq[Double], take: Int): Seq[Long] =
        cents.map { case (cid, c) => (normSq(c) - 2.0 * dot(v, c), cid) }
          .sortBy(identity)(Ordering.Tuple2(
            Ordering.Double.TotalOrdering, Ordering.Long))
          .take(take).map(_._2)
      val cellOf = vecs.map { case (id, v) =>
        id -> nearestCells(v.map(_.toDouble), 1).head }.toMap
      def codeOf(v: Seq[Double], mm: Int): Int = {
        val sub = v.slice(mm * subDim, (mm + 1) * subDim)
        cbs(mm).zipWithIndex.map { case (cw, j) =>
          (normSq(cw) - 2.0 * dot(sub, cw), j) }.min._2
      }
      def lut(q: Seq[Double], mm: Int, j: Int): Long = {
        val qSub = q.slice(mm * subDim, (mm + 1) * subDim)
        OracleLiterals.micro6(normSq(cbs(mm)(j)) - 2.0 * dot(qSub, cbs(mm)(j)))
      }
      val want = queries.flatMap { case (qid, q) =>
        val probed = nearestCells(q, nProbe).toSet
        vecs.filter(v => probed(cellOf(v._1)))
          .map { case (id, v) =>
            val vd = v.map(_.toDouble)
            (id, (0 until m).map(mm => lut(q, mm, codeOf(vd, mm))).sum) }
          .sortBy { case (id, d) => (d, id) }
          .take(topK).zipWithIndex
          .map { case ((id, d), i) => (qid, i + 1, id, d) }
      }.toSet

      val got = Similarity.ivfAdcTopK(corpus, queries, cbs, k = topK,
          nCells = nCells, nProbe = nProbe)
        .collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3)))
        .toSet
      assert(got == want, s"seed=$seed\n got=${got.toSeq.sorted}\n" +
        s"want=${want.toSeq.sorted}")
    }
  }

  test("sq8TopK == in-memory SQ8 reference on random vectors") {
    // independent reference for e16: per-dim min/max over the corpus,
    // clamp(floor((x−mn)·255/span)) codes via Similarity.sq8Code's own
    // formula order, integer dot, rank by (ip desc, vec_id asc) with
    // the query row excluded.
    import spark.implicits._
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(600 + seed)
      val dim = 5; val n = 30; val topK = 4
      val vecs = (0 until n).map(i =>
        (i.toLong, Seq.fill(dim)((r.nextInt(200) - 100) / 7.0f)))
      val queries = (0 until 2).map(qi =>
        (qi.toLong, vecs(qi)._2.map(_.toDouble)))
      val corpus = vecs.toDF("vec_id", "embedding")

      val mn = (0 until dim).map(d => vecs.map(_._2(d).toDouble).min)
      val mx = (0 until dim).map(d => vecs.map(_._2(d).toDouble).max)
      def span(d: Int) = if (mx(d) == mn(d)) 1.0 else mx(d) - mn(d)
      def code(v: Seq[Double]): Seq[Long] =
        (0 until dim).map(d => Similarity.sq8Code(v(d), mn(d), span(d)))
      val want = queries.flatMap { case (qid, q) =>
        val qc = code(q)
        vecs.filter(_._1 != qid).map { case (id, v) =>
          (id, qc.zip(code(v.map(_.toDouble))).map(p => p._1 * p._2).sum) }
          .sortBy { case (id, ip) => (-ip, id) }
          .take(topK).zipWithIndex
          .map { case ((id, ip), i) => (qid, i + 1, id, ip) }
      }.toSet

      val got = Similarity.sq8TopK(corpus, queries, k = topK)
        .collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3)))
        .toSet
      assert(got == want, s"seed=$seed\n got=${got.toSeq.sorted}\n" +
        s"want=${want.toSeq.sorted}")
    }
  }

  test("pqCodes == naive per-subspace argmin on random vectors") {
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(400 + seed)
      val subDim = 3; val m = 2; val k = 4
      val cbs = Seq.fill(m)(Seq.fill(k)(Seq.fill(subDim)(
        r.nextInt(10).toDouble)))
      val vecs = (0 until 10).map(i =>
        (i.toLong, Seq.fill(m * subDim)(r.nextInt(10).toFloat)))
      val got = Similarity.pqCodes(vecs.toDF("vec_id", "embedding"), cbs)
        .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2))
        .toMap
      vecs.foreach { case (id, v) =>
        for (mm <- 0 until m) {
          val sub = v.slice(mm * subDim, (mm + 1) * subDim)
            .map(_.toDouble)
          val want = cbs(mm).zipWithIndex.map { case (cw, j) =>
            val d = cw.zip(sub).map { case (c, a) =>
              (c - a) * (c - a) }.sum
            (d, j)
          }.min._2.toLong
          assert(got((id, mm.toLong)) == want, s"seed=$seed v=$id m=$mm")
        }
      }
    }
  }

  /** Same md5-60-bit bucket as TextFunctions.md5Bits60 / Sketches
    * .sketchBucket, computed in plain JVM code: first 15 hex digits of
    * md5(s"$key:$seed") as a long, mod width. */
  private def refBucket(key: String, seed: Int, width: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$key:$seed".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16) % width
  }

  test("countMinTopK == in-memory CMS on random keys; est >= exact") {
    import graft.operators.Sketches
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(500 + seed)
      val depth = 3; val width = 32L; val k = 10
      // 60-key domain over 32 buckets forces collisions — the min-over-
      // rows path must matter, not just echo exact counts
      val keys = Seq.fill(400)(s"k${r.nextInt(60)}")
      val got = Sketches.countMinTopK(keys.toDF("u"), "u", depth, width, k)
        .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2)))
        .toMap
      val exact = keys.groupBy(identity).map { case (u, g) =>
        u -> g.size.toLong }
      val cells = scala.collection.mutable
        .Map[(Int, Long), Long]().withDefaultValue(0L)
      for (u <- keys; sd <- 1 to depth)
        cells((sd, refBucket(u, sd, width))) += 1L
      val top = exact.toSeq.sortBy { case (u, n) => (-n, u) }.take(k)
      assert(got.keySet == top.map(_._1).toSet, s"seed=$seed top-k set")
      top.foreach { case (u, n) =>
        val est = (1 to depth).map(sd => cells((sd, refBucket(u, sd, width)))).min
        assert(got(u) == ((n, est)), s"seed=$seed key=$u")
        assert(est >= n, s"seed=$seed key=$u: CMS must overestimate")
      }
    }
  }

  test("topKFrequent == exact top-k above the bound; counts always exact") {
    import graft.operators.Sketches
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(700 + seed)
      // skewed keys so the top-k is distinctive
      val keys = Seq.fill(500)(s"w${(r.nextInt(40) * r.nextInt(40)) / 40}")
      val exact = keys.groupBy(identity).map { case (u, g) =>
        u -> g.size.toLong }
      val want = exact.toSeq.sortBy { case (u, n) => (-n, u) }.take(8)
      // capacity far above n/f_k: Misra–Gries candidates must contain
      // the true top-k, so the recount returns EXACTLY it, all flagged
      val got = Sketches.topKFrequent(keys.toDF("w"), "w", k = 8,
          capacity = 256)
        .collect().map(x => (x.getString(0), x.getLong(1), x.getBoolean(2)))
      assert(got.map(t => (t._1, t._2)).toSeq == want, s"seed=$seed")
      assert(got.forall(_._3), s"seed=$seed: all guaranteed at cap 256")
      // tiny capacity: the candidate set may miss tail keys, but every
      // RETURNED count must still be the exact count (pass 2 recounts)
      val small = Sketches.topKFrequent(keys.toDF("w"), "w", k = 8,
          capacity = 4)
        .collect().map(x => (x.getString(0), x.getLong(1)))
      small.foreach { case (u, n) =>
        assert(n == exact(u), s"seed=$seed key=$u recount must be exact")
      }
    }
  }

  test("bloomSemiJoin == in-memory bit set; never drops a member") {
    import graft.operators.Sketches
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(600 + seed)
      val m = 32L; val hashes = 2
      val probe = (0 until 200).map(i => (i.toLong, r.nextInt(80).toLong))
      val members = probe.map(_._2).distinct.filter(_ => r.nextBoolean())
        .take(12)
      val got = Sketches.bloomSemiJoin(probe.toDF("id", "key"),
          members.toDF("key"), "key", m, hashes)
        .select("id").as[Long].collect().toSet
      val bits = (for (u <- members; sd <- 1 to hashes)
        yield refBucket(u.toString, sd, m)).toSet
      val want = probe.collect { case (id, u)
        if (1 to hashes).forall(sd => bits(refBucket(u.toString, sd, m))) =>
          id }.toSet
      assert(got == want, s"seed=$seed")
      val memberIds = probe.collect { case (id, u)
        if members.contains(u) => id }.toSet
      assert(memberIds.subsetOf(got), s"seed=$seed: false negative!")
    }
  }

  test("ds50's profile collapse == literal double-EXISTS on random " +
    "order/line data") {
    // the q16/q94/q95 rewrite: ONE per-order aggregation (count
    // distinct suppliers + max return flag) must classify orders
    // exactly like the template's correlated EXISTS probes
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(700 + seed)
      val lines = (0 until 120).map { i =>
        (r.nextInt(30).toLong, r.nextInt(6).toLong,
          if (r.nextInt(4) == 0) "R" else "N") }
      val orders = (0 until 30).map(_.toLong)
      val lDf = lines.toDF("ok", "sk", "flag")
      val prof = lDf.groupBy(col("ok"))
        .agg(countDistinct(col("sk")).as("nsupp"),
          max(when(col("flag") === "R", 1).otherwise(0)).as("hasRet"))
        .filter(col("nsupp") >= 2)
      val got = prof.select(col("ok"), col("hasRet"))
        .as[(Long, Int)].collect().toMap
      val want = orders.flatMap { ok =>
        val ls = lines.filter(_._1 == ok)
        val multi = ls.exists(a => ls.exists(b => a._2 != b._2))
        if (!multi) None
        else Some(ok -> (if (ls.exists(_._3 == "R")) 1 else 0))
      }.toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("LeftAnti missing-dim probe == literal NOT IN on random keys") {
    // the q76/q78 rewrite: anti-join against a key set must drop
    // exactly the NOT-IN rows (null-free keys by construction)
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(800 + seed)
      val facts = (0 until 100).map(i => (i.toLong, r.nextInt(40).toLong))
      val dim = (0 until 40).map(_.toLong).filter(_ => r.nextBoolean())
      val got = facts.toDF("id", "k")
        .join(dim.toDF("dk"), col("k") === col("dk"), "left_anti")
        .select("id").as[Long].collect().toSet
      val want = facts.collect {
        case (id, k) if !dim.contains(k) => id }.toSet
      assert(got == want, s"seed=$seed")
    }
  }
  test("minPlusDistances == in-memory k-round Bellman-Ford relaxation " +
    "on random weighted graphs (the ldbc5/ldbc27 kernel)") {
    import graft.operators.Graphs
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(4200 + seed)
      val n = 30
      val edges = (0 until 80).map { _ =>
        (r.nextInt(n).toLong, r.nextInt(n).toLong,
          (1 + r.nextInt(9)).toLong)
      }.filter { case (a, b, _) => a != b }.distinct
      val seeds = (0L until n.toLong).filter(_ % 7 == 1)
      val rounds = 3
      val got = Graphs.minPlusDistances(
          seeds.toDF("node"),
          edges.toDF("src", "dst", "w"), rounds)
        .as[(Long, Long, Long)].collect()
        .map { case (sd, nd, d) => (sd, nd) -> d }.toMap
      // reference: k synchronous min-plus rounds over a dense map
      val want = scala.collection.mutable.Map[(Long, Long), Long]()
      for (sd <- seeds) want((sd, sd)) = 0L
      for (_ <- 0 until rounds) {
        val snapshot = want.toMap
        for (((sd, nd), d) <- snapshot; (a, b, w) <- edges if a == nd) {
          val cand = d + w
          if (cand < want.getOrElse((sd, b), Long.MaxValue))
            want((sd, b)) = cand
        }
      }
      assert(got == want.toMap, s"seed=$seed")
    }
  }

  test("comments at random gaps do not change what a DML statement does") {
    // each statement runs twice, on two sessions holding the same rows:
    // as written, and with a comment at four seeded whitespace gaps. The
    // comments carry an apostrophe, a paren or a clause keyword, which a
    // literal-blind carve would read as SQL.
    val stmts = Seq(
      "UPDATE t SET a = a + 1 WHERE id >= 2 RETURNING id, a",
      "DELETE FROM t USING k WHERE t.id = k.kid RETURNING t.id, reason",
      "MERGE INTO t USING (SELECT * FROM VALUES (1, 5), (3, 500), (9, 9) " +
        "AS v(sid, sa)) AS s ON t.id = s.sid WHEN MATCHED AND s.sa > 100 " +
        "THEN DO NOTHING WHEN MATCHED THEN UPDATE SET a = s.sa " +
        "WHEN NOT MATCHED THEN INSERT (id, a) VALUES (s.sid, s.sa)")
    val comments = Seq("/* it's WHERE ( */", "-- don't WHEN\n")
    def commented(stmt: String, seed: Int): String = {
      val r = new scala.util.Random(seed)
      val gaps = r.shuffle(stmt.indices.filter(stmt(_) == ' ').toList)
        .take(4).toSet
      stmt.indices.map { i =>
        if (gaps(i)) s" ${comments(r.nextInt(comments.size))} "
        else stmt(i).toString
      }.mkString
    }
    def session(): graft.api.GraftSession = {
      val g = graft.api.GraftSession(spark, graft.TmpDirs.create("graft"))
      g.createTable("t", new org.apache.spark.sql.types.StructType()
        .add("id", "bigint").add("a", "bigint"))
      g.insert("t", Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
        .toDF("id", "a"))
      g.createTable("k", new org.apache.spark.sql.types.StructType()
        .add("kid", "bigint").add("reason", "string"))
      g.insert("k", Seq((4L, "dup")).toDF("kid", "reason"))
      g
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val (plain, noisy) = (session(), session())
    stmts.zipWithIndex.foreach { case (stmt, i) =>
      val seed = 900 + i
      val c = commented(stmt, seed)
      assert(rows(noisy.execute(c)) == rows(plain.execute(stmt)),
        s"seed=$seed: $c")
      assert(rows(noisy.table("t")) == rows(plain.table("t")),
        s"seed=$seed: $c")
    }
  }

  test("in-place sort == AQE-off sort on NULL/NaN/-0.0/duplicate keys") {
    // graft.plans.SortInPlace sorts a small aggregate's output in one
    // partition; Spark without AQE range-partitions it. Both must put the
    // rows in Spark's order — NULLs where asked, NaN above +Infinity,
    // -0.0 tied with 0.0 — so the in-place output is sorted by its keys
    // and is the AQE-off output as a multiset; with the unique id as the
    // last key, the two are equal row for row.
    val ds: Seq[Option[Double]] = Seq(None, Some(Double.NaN), Some(-0.0),
      Some(0.0), Some(1.5), Some(-1.5), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity))
    val ss: Seq[Option[String]] = Seq(None, Some(""), Some("a"), Some("ab"),
      Some("b"))
    val ls: Seq[Option[Long]] = Seq(None, Some(-1L), Some(0L), Some(1L))
    def cmpValue(a: Any, b: Any): Int = (a, b) match {
      case (x: Double, y: Double) =>
        if (x.isNaN || y.isNaN) java.lang.Boolean.compare(x.isNaN, y.isNaN)
        else if (x == y) 0 else if (x < y) -1 else 1
      case (x: String, y: String) => x.compareTo(y)
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    }
    def text(r: org.apache.spark.sql.Row): String =
      r.toSeq.map(String.valueOf).mkString("|")
    for (seed <- 1 to 4) {
      val r = new scala.util.Random(1200 + seed)
      val rows = (0 until 80).map(i => (i.toLong, ds(r.nextInt(ds.size)),
        ss(r.nextInt(ss.size)), ls(r.nextInt(ls.size))))
      // (column, ascending, nulls first) in a seeded order
      val keys = r.shuffle(List("d", "s", "l"))
        .map(c => (c, r.nextBoolean(), r.nextBoolean()))
      def frame(withId: Boolean) = {
        val order = (keys ++ (if (withId) Seq(("id", true, true)) else Nil))
          .map { case (c, asc, nf) =>
            (asc, nf) match {
              case (true, true) => col(c).asc_nulls_first
              case (true, false) => col(c).asc_nulls_last
              case (false, true) => col(c).desc_nulls_first
              case (false, false) => col(c).desc_nulls_last
            }
          }
        rows.toDF("id", "d", "s", "l").groupBy(col("id"))
          .agg(first(col("d")).as("d"), first(col("s")).as("s"),
            first(col("l")).as("l"))
          .filter(col("id") % 5 =!= 2)
          .orderBy(order: _*)
      }
      def aqeOff(withId: Boolean): Seq[org.apache.spark.sql.Row] =
        withConf("spark.sql.adaptive.enabled" -> "false")(
          frame(withId).collect().toSeq)
      val inPlace = frame(withId = false)
      assert(!finalPlan(inPlace).contains("rangepartitioning"), s"seed=$seed")
      val got = inPlace.collect().toSeq
      val sorted = got.sliding(2).forall {
        case Seq(a, b) =>
          keys.iterator.map { case (c, asc, nf) =>
            (a.getAs[Any](c), b.getAs[Any](c)) match {
              case (null, null) => 0
              case (null, _) => if (nf) -1 else 1
              case (_, null) => if (nf) 1 else -1
              case (x, y) => if (asc) cmpValue(x, y) else cmpValue(y, x)
            }
          }.find(_ != 0).getOrElse(0) <= 0
        case _ => true
      }
      assert(sorted, s"seed=$seed keys=$keys: ${got.map(text)}")
      assert(got.map(text).sorted == aqeOff(withId = false).map(text).sorted,
        s"seed=$seed keys=$keys")
      assert(frame(withId = true).collect().toSeq.map(text) ==
        aqeOff(withId = true).map(text), s"seed=$seed keys=$keys")
    }
  }
}
