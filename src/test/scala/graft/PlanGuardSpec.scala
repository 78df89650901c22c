package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Plan-shape tripwire for the relational corpus: a `broadcast()` hint on
  * a scale-proportional table bypasses AQE's size check and OOMs the
  * executors at 100x (round-4 verdict "What's wrong" #1 — the hints were
  * deleted in round 5; this spec keeps them out). A hint is legitimate
  * only when its subtree is bounded BY CONSTRUCTION: it scans nothing but
  * nation/region (25/5 rows by spec) or it is a global (ungrouped)
  * aggregate, which yields at most one row.
  *
  * Scope: the SQL-corpus prefixes. The ANN/dedup operators (e*, d*)
  * broadcast their query/probe side under a DOCUMENTED small-side
  * contract, which is a different invariant. */
class PlanGuardSpec extends SparkSpec {

  private val guarded = Seq("q", "h", "sb", "c", "a", "j", "k", "s", "m", "p",
    "pv", "pc", "lt", "ts", "st", "w", "f", "ds", "job")
  private val boundedScans = Set("nation.parquet", "region.parquet")

  private def scanFiles(p: LogicalPlan): Seq[String] =
    p.collect { case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(_.getName).toSeq
      case _ => Nil
    }}.flatten

  private def isBounded(p: LogicalPlan): Boolean = {
    val globalAgg = p.collectFirst {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
    }.isDefined
    globalAgg || scanFiles(p).forall(boundedScans) || boundedKeyAgg(p)
  }

  /** True when the subtree's topmost aggregate/distinct groups on keys
    * whose value DOMAIN is bounded by construction — every key traces
    * (through projections and generators) to `pmod(_, lit(c))` with a
    * small constant c, so the output can never exceed the product of the
    * key domains no matter how many rows feed it. This is what makes a
    * sketch (count-min cells, bloom bit sets) broadcast-safe at any
    * scale: the hint rides on ≤ c₁·…·cₖ rows, not on the input. */
  private def boundedKeyAgg(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Generate, Project}
    // per-key domain size, or None if unbounded. ADVICE r12: checking
    // each key independently would bless a 3×pmod-4096 grouping (~7e10
    // cells); the PRODUCT of the domains is what actually bounds the
    // aggregate's output, so that is what gets capped below. Generator
    // outputs are modeled per-output (a posexplode's pos column has
    // domain = array arity, its value column the UNION of the element
    // domains) — mapping both to the whole generator would square the
    // product and mis-flag the 192-cell count-min sketch.
    var originDomains: Map[ExprId, () => Option[Long]] = Map.empty
    def domain(e: Expression, depth: Int): Option[Long] =
      if (depth >= 16) None else e match {
        case _: Literal => Some(1L)
        case a: Alias => domain(a.child, depth + 1)
        case c: Cast => domain(c.child, depth + 1)
        case pm: Pmod => pm.right match {
          case Literal(v: Number, _) if v.longValue <= 4096 =>
            Some(v.longValue)
          case _ => None
        }
        case ca: CreateArray =>
          // an array VALUE as a key: cartesian of its components
          ca.children.foldLeft(Option(1L)) { (acc, ch) =>
            for (a <- acc; d <- domain(ch, depth + 1)) yield a * d }
        case ar: AttributeReference =>
          originDomains.get(ar.exprId).flatMap(f => f())
        case _ => None
      }
    // domain of ONE exploded element of `e`: union of element domains,
    // bounded above by their sum
    def explodedDomain(e: Expression, depth: Int): Option[Long] =
      if (depth >= 16) None else e match {
        case a: Alias => explodedDomain(a.child, depth + 1)
        case ca: CreateArray =>
          ca.children.foldLeft(Option(0L)) { (acc, ch) =>
            for (a <- acc; d <- domain(ch, depth + 1)) yield a + d }
        case _ => None
      }
    originDomains = p.collect {
      case pr: Project =>
        pr.projectList.collect {
          case a: Alias => a.exprId -> (() => domain(a.child, 1)) }
      case g: Generate => g.generator match {
        case pe: PosExplode =>
          val arity: Option[Long] = pe.child match {
            case ca: CreateArray => Some(ca.children.size.toLong)
            case _ => None
          }
          g.generatorOutput match {
            case Seq(pos, value) => Seq(
              pos.exprId -> (() => arity),
              value.exprId -> (() => explodedDomain(pe.child, 1)))
            case outs => outs.map(o => o.exprId -> (() => Option.empty[Long]))
          }
        case ex: ExplodeBase =>
          g.generatorOutput.map(o =>
            o.exprId -> (() => explodedDomain(ex.child, 1)))
        case _ =>
          g.generatorOutput.map(o => o.exprId -> (() => Option.empty[Long]))
      }
    }.flatten.toMap
    def cellCap(keys: Seq[Expression]): Boolean =
      keys.foldLeft(Option(1L)) { (acc, k) =>
        for (a <- acc; d <- domain(k, 0)) yield a * d
      }.exists(_ <= 1000000L)
    def strip(q: LogicalPlan): LogicalPlan = q match {
      case pr: Project => strip(pr.child)
      case other => other
    }
    strip(p) match {
      case a: Aggregate if a.groupingExpressions.nonEmpty =>
        cellCap(a.groupingExpressions)
      case d: Deduplicate => cellCap(d.keys)
      case _ => false
    }
  }

  test("no unbounded cartesian/nested-loop joins in the corpus") {
    // a CartesianProduct or BroadcastNestedLoopJoin is O(|L|·|R|) work —
    // fine when one side is bounded by construction (nation/region,
    // 1-row scalar aggregate) or the query IS the theta/cross operator
    // row (q4/q7); anywhere else it's a scale-killer that AQE cannot fix
    val exempt = Set("q4_theta_join", "q7_cross_join")
    val offenders = scala.collection.mutable.Buffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => guarded.exists(pfx =>
        n.startsWith(pfx) && n.drop(pfx.length).headOption.exists(_.isDigit)) }
      .filterNot { case (n, _) => exempt(n) }
      .foreach { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        plan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
              if j.condition.isEmpty ||
                !j.condition.exists(hasEquiPart(j, _)) => j
        }.foreach { j =>
          if (!isBounded(j.left) && !isBounded(j.right))
            offenders += s"$name: non-equi join of two unbounded sides"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  private def hasEquiPart(
      j: org.apache.spark.sql.catalyst.plans.logical.Join,
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, EqualNullSafe}
    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    cond.collectFirst {
      case e @ EqualTo(l, r)
          if (l.references.subsetOf(leftOut) && r.references.subsetOf(rightOut)) ||
            (l.references.subsetOf(rightOut) && r.references.subsetOf(leftOut)) => e
      case e @ EqualNullSafe(l, r)
          if (l.references.subsetOf(leftOut) && r.references.subsetOf(rightOut)) ||
            (l.references.subsetOf(rightOut) && r.references.subsetOf(leftOut)) => e
    }.isDefined
  }

  test("no broadcast hints on scale-proportional relations in the corpus") {
    val offenders = scala.collection.mutable.Buffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => guarded.exists(pfx =>
        n.startsWith(pfx) && n.drop(pfx.length).headOption.exists(_.isDigit)) }
      .foreach { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.analyzed
        plan.collect { case h: ResolvedHint => h }.foreach { h =>
          if (!isBounded(h.child))
            offenders += s"$name: hint over ${scanFiles(h.child).mkString(",")}"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("ng1 keeps the rank-limit pushdown below the shuffle") {
    // ng1's `row_number() <= 5` must plan as WindowGroupLimit on BOTH
    // sides of the rank exchange (Partial before, Final after) so each
    // map task ships only its local top-5 per language — at 100 TB the
    // difference between shuffling O(k·#langs) and the full bigram
    // count table. The pushdown silently disappears if the window's
    // orderBy ever becomes non-deterministic or the rank filter moves
    // off the window output; this pins it.
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val phys = SparkEntry.queries("ng1_top_bigrams")(spark, sf)
      .queryExecution.sparkPlan
    val limits = phys.collect { case w: WindowGroupLimitExec => w }
    assert(limits.size == 2,
      s"expected Partial+Final WindowGroupLimit, got:\n$phys")
    val modes = limits.map(_.mode.toString).sorted
    assert(modes == Seq("Final", "Partial"),
      s"expected one Partial (map-side) and one Final, got $modes")
  }

  test("ds6 stays a single scan (q88's eight subqueries fused into one pass)") {
    // the whole point of the re-expression is 8x less I/O: all eight
    // band counts must ride ONE parquet scan with the discount filter
    // pushed. A regression to per-band subqueries multiplies the scans.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val phys = SparkEntry.queries("ds6_multi_band")(spark, sf)
      .queryExecution.sparkPlan
    val scans = phys.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected ONE scan, got ${scans.size}")
    assert(scans.head.metadata("PushedFilters").contains("l_discount"),
      scans.head.metadata("PushedFilters"))
  }

  test("e11 PQ encode: narrow projection above one pinned under-split " +
    "spread (no join/aggregate exchanges)") {
    // the PQ deployment property: encoding must be embarrassingly
    // parallel map work — the entire codebook rides as plan literals
    // inside the scan's projection. Since r20 the encode sits above ONE
    // pinned id-spread (the §2.5 under-split rescue: smoke parquets are
    // single-split, so the per-row argmin folds otherwise run one task;
    // Spread.ensure skips it on well-split cluster inputs). Allowed
    // exchanges: that spread + the presentation orderBy, nothing else —
    // a regression that turns the argmin into a join or aggregate
    // (e.g. codebook as data) would show up as a third exchange, and
    // the spread must be the pinned REPARTITION_BY_NUM shape (an AQE-
    // coalescible repartition would serialize the encode again).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // unwrap AQE: AdaptiveSparkPlanExec is a leaf for collect, so
    // counting on the wrapper alone would vacuously pass
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val phys = unwrap(SparkEntry.queries("e11_pq_codes")(spark, sf)
      .queryExecution.executedPlan)
    val exs = phys.collect { case e: ShuffleExchangeExec => e }
    assert(exs.size <= 2,
      s"PQ encode must not shuffle beyond spread + presentation:\n$phys")
    assert(exs.exists(_.shuffleOrigin.toString == "REPARTITION_BY_NUM"),
      s"the under-split spread must stay pinned against AQE:\n$phys")
  }

  test("e15 IVF-ADC: fused projection narrow, joins broadcast, " +
    "shuffles only at rollup/rank/presentation") {
    // the IVF-PQ deployment shape (VERDICT r11 #3): cell assignment + PQ
    // encode must stay ONE narrow codegen'd projection over the corpus
    // scan; the probe and LUT joins must ride broadcast (bounded driver
    // metadata), never shuffle the corpus; the only exchanges allowed
    // are the (q_id, vec_id) rollup and the per-query rank. A regression
    // that plans either join as SortMergeJoin — or splits the fused
    // projection into a self-join — shows up as an extra exchange here.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      SortMergeJoinExec}
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val phys = unwrap(SparkEntry.queries("e15_ivf_adc")(spark, sf)
      .queryExecution.executedPlan)
    assert(phys.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"e15: probe/LUT joins must be broadcast, not sort-merge:\n$phys")
    assert(phys.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"e15: expected the probe AND LUT joins to plan broadcast:\n$phys")
    val exs = phys.collect { case e: ShuffleExchangeExec => e }
    // the r20 under-split spread (pinned, BELOW the fused encode and
    // both broadcast joins) + rollup + rank + presentation sort — the
    // corpus still never shuffles AT JOIN LEVEL (both joins build on
    // broadcast metadata; the one corpus exchange carries only the
    // narrow (id, embedding) projection under the heavy encode)
    assert(exs.size <= 4,
      s"e15: corpus must not shuffle beyond spread/rollup/rank/sort:\n$phys")
    assert(exs.exists(_.shuffleOrigin.toString == "REPARTITION_BY_NUM"),
      s"e15: the under-split spread must stay pinned against AQE:\n$phys")
    assert(phys.collect { case s: FileSourceScanExec => s }.size == 1,
      s"e15: cell+code fusion must keep ONE corpus scan:\n$phys")
  }

  test("k5/k6 sketches: fact never shuffles, sketch sides ride broadcast") {
    // the mergeable-sketch deployment shape: the CM cells / bloom bit
    // set are bounded-domain aggregates (pmod to a constant — see
    // boundedKeyAgg) that must reach the fact as BROADCAST builds; the
    // fact side itself must never sort-merge. k5's probe join and k6's
    // two bit semi-joins + membership join all ride broadcast here.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      SortMergeJoinExec}
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val k5 = unwrap(SparkEntry.queries("k5_count_min")(spark, sf)
      .queryExecution.executedPlan)
    assert(k5.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"k5: the sketch probe must broadcast, not sort-merge:\n$k5")
    assert(k5.collect { case j: BroadcastHashJoinExec => j }.size == 1,
      s"k5: expected exactly the one broadcast probe join:\n$k5")
    val k6 = unwrap(SparkEntry.queries("k6_bloom_semijoin")(spark, sf)
      .queryExecution.executedPlan)
    assert(k6.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"k6: bit/membership joins must broadcast at this sf:\n$k6")
    val semis = k6.collect {
      case j: BroadcastHashJoinExec
          if j.joinType.toString == "LeftSemi" => j
    }
    assert(semis.size == 2,
      s"k6: expected BOTH bloom bit probes as broadcast semi-joins:\n$k6")
  }

  test("e16 SQ8: zero joins, one corpus scan, shuffles only at rank/sort") {
    // the int8 serving shape: encode + per-query integer dots are ONE
    // narrow projection (queries ride as literal code arrays), so the
    // plan must contain NO join node at all and exactly one corpus scan;
    // the only exchanges are the per-query rank and presentation sort.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec}
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val phys = unwrap(SparkEntry.queries("e16_sq8_search")(spark, sf)
      .queryExecution.executedPlan)
    assert(phys.collect { case j: BaseJoinExec => j }.isEmpty,
      s"e16: the encode+dot must be join-free:\n$phys")
    assert(phys.collect { case s: FileSourceScanExec => s }.size == 1,
      s"e16: expected ONE corpus scan:\n$phys")
    assert(phys.collect { case e: ShuffleExchangeExec => e }.size <= 2,
      s"e16: only the rank + presentation sort may shuffle:\n$phys")
  }

  test("ldbc9/c17/m6: round-11 additions keep their scale shapes") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AdaptiveSparkPlanExec is a LEAF for collect — unwrap to the inner
    // physical plan or the assertions below would look at nothing
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // LPA is aggregates + keyed joins ONLY — a window creeping into the
    // argmax (the easy-but-wrong spelling) would be a per-vertex
    // row_number; and the top-20 must stay a distributed partial top-k
    val l9 = SparkEntry.queries("ldbc9_community")(spark, sf).queryExecution
    assert(l9.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "ldbc9: the LPA argmax must be an aggregate, not a window")
    assert(unwrap(l9.executedPlan).collect {
      case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "ldbc9 top-20 must plan as TakeOrderedAndProject")
    // c17's day-total window must keep its PARTITION BY (and sit above
    // the aggregate, so it sees O(#types) rows per day, not raw events)
    val c17 = SparkEntry.queries("c17_type_share")(spark, sf)
      .queryExecution.optimizedPlan
    assert(c17.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      .isEmpty, "c17: day-total window lost its PARTITION BY")
    // video decode is narrow: the ONLY exchange is the presentation sort
    val m6 = unwrap(SparkEntry.queries("m6_video_decode")(spark, sf)
      .queryExecution.executedPlan)
    assert(m6.collect { case e: ShuffleExchangeExec => e }.size <= 1,
      s"m6 demux+decode must not shuffle before the presentation sort:\n$m6")
  }

  test("c24 week band reaches the parquet scan as PushedFilters " +
    "(canonical TIMESTAMP corpus)") {
    // the claim lived only in SURVEY prose (VERDICT r12 #7): on the
    // canonical micros-TIMESTAMP events encoding, `t` IS the stored
    // column, so the band must prune at the reader. (On the legacy
    // nanos-long encoding `t` is derived and cannot push — documented
    // at Tables.withEventTime; this pin runs on the canonical corpus.)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val phys = SparkEntry.queries("c24_minute_histogram")(spark, sf)
      .queryExecution.sparkPlan
    val pushed = phys.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(ts") &&
      pushed.contains("LessThan(ts"), s"c24 week band not pushed: $pushed")
  }

  test("ds16/ds17/c25/c26/e17: round-13 additions keep their scale shapes") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // ds16: the four year_total arms are CASE sums in ONE aggregation —
    // exactly one join (fact⋈orders), never a self-join of aggregates
    val ds16 = unwrap(SparkEntry.queries("ds16_yoy_channel_ratio")(
      spark, sf).queryExecution.executedPlan)
    assert(ds16.collect { case j: BaseJoinExec => j }.size == 1,
      s"ds16 must join fact to orders exactly once:\n$ds16")
    // ds17: the lead()-window rewrite's point is ONE lineitem scan (the
    // self-join spelling scans the fact twice; exchange reuse does not
    // rescue it) and its date band pushed
    val ds17phys = SparkEntry.queries("ds17_volatility_band")(spark, sf)
      .queryExecution
    val ds17 = unwrap(ds17phys.executedPlan)
    assert(ds17.collect { case s: FileSourceScanExec => s }.size == 1,
      s"ds17 must scan lineitem once:\n$ds17")
    assert(ds17phys.sparkPlan.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString
      .contains("GreaterThanOrEqual(l_shipdate"),
      "ds17 year band must prune at the scan")
    // c25: the source prefix prunes BEFORE the regex sees a row
    val c25 = SparkEntry.queries("c25_referer_domains")(spark, sf)
      .queryExecution.sparkPlan
    assert(c25.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString
      .contains("StringStartsWith(source,src1)"),
      "c25 prefix filter must reach the documents scan")
    // c26: offset+limit page must stay a distributed partial top-k
    // (TakeOrderedAndProject), never a global sort
    val c26 = unwrap(SparkEntry.queries("c26_multi_key_topk")(spark, sf)
      .queryExecution.executedPlan)
    assert(c26.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"c26 offset page must plan as TakeOrderedAndProject:\n$c26")
    // e17: the query path ranks against the persisted CODES scan only —
    // the float corpus parquet must not appear in the serving plan
    val e17 = SparkEntry.queries("e17_sq8_persisted")(spark, sf)
      .queryExecution.sparkPlan
    val scanned = e17.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString).mkString }.mkString
    assert(scanned.contains("graft_sq8_index"),
      s"e17 must scan the persisted index: $scanned")
    assert(!scanned.contains("embeddings.parquet"),
      s"e17 serving plan must never re-touch the float corpus: $scanned")
  }

  test("d25/d24/c7: no single-partition window anywhere (VERDICT r9 #2-4)") {
    // an unpartitioned row_number()/ntile() window drags EVERY row
    // through one task — invisible at sf0.01, fatal at 100 TB. d25's
    // vocab top-k is TakeOrderedAndProject (distributed partial top-k),
    // d24/c7 use the Ranks two-pass range-partitioned rank; all windows
    // that remain must carry a PARTITION BY.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("d25_oov_rate", "d24_curriculum", "c7_spend_quartiles")) {
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      val bare = qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bare.isEmpty,
        s"$name: unpartitioned Window survived:\n${bare.mkString("\n")}")
    }
    // and d25's vocabulary really is the distributed partial top-k
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val d25 = SparkEntry.queries("d25_oov_rate")(spark, sf)
      .queryExecution.sparkPlan
    assert(d25.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"d25 vocab top-100 must plan as TakeOrderedAndProject:\n$d25")
  }

  test("job2's LIKE filters reach their scans as pushed predicates") {
    // JOB's dimension selectivity only helps if the string patterns
    // prune at the scan, not post-join
    import org.apache.spark.sql.execution.FileSourceScanExec
    val phys = SparkEntry.queries("job2_dual_dim")(spark, sf)
      .queryExecution.sparkPlan
    val pushed = phys.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed.contains("StringEndsWith(p_name,bolt)"), pushed)
    assert(pushed.contains("StringContains(o_orderpriority,URGENT)"),
      pushed)
  }

  test("ds37/ds39: the guarded BIGINT presentation is plan-neutral " +
    "(scans stay narrow, date bands pushed)") {
    // r19: Present.bigintExact wrapped these queries' money
    // presentations in a raise_error CASE. The guard must live ONLY in
    // the final dozens-of-rows projection — if it (or the DECIMAL(38,0)
    // re-accumulation that feeds it) ever widened a scan or blocked the
    // shipdate pushdown, the corpus-shaped read would pay for a
    // presentation-layer check at 100 TB.
    import org.apache.spark.sql.execution.FileSourceScanExec
    for (q <- Seq("ds37_monthly_deviation", "ds39_frequent_best")) {
      val phys = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val lineitemScans = phys.collect {
        case s: FileSourceScanExec if s.metadata.getOrElse("Location", "")
          .contains("lineitem") => s }
      assert(lineitemScans.nonEmpty, s"$q: expected lineitem scans")
      lineitemScans.foreach { s =>
        assert(s.requiredSchema.fields.length <= 4,
          s"$q: lineitem scan must stay <=4 columns, got " +
            s.requiredSchema.fieldNames.mkString(","))
      }
      // the dated arm's band must still prune at its scan (ds39's
      // lifetime-spend arm is legitimately unbanded, so: at least one)
      val pushed = lineitemScans.map(
        _.metadata.getOrElse("PushedFilters", "")).mkString(";")
      assert(pushed.contains("GreaterThanOrEqual(l_shipdate"),
        s"$q: shipdate band must prune at a scan: $pushed")
    }
  }

  test("job8/ds24/ds25/e18: round-14 additions keep their scale shapes") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // job8: EVERY table's predicate must reach its scan as a pushed
    // filter — the query exists to stress join ordering over seven
    // differently-selective scans, which only works if none of the
    // predicates degrades to a post-join filter
    val job8 = SparkEntry.queries("job8_filter_chain")(spark, sf)
      .queryExecution.sparkPlan
    val pushed8 = job8.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    for (frag <- Seq("LessThan(l_quantity,40", "Not(EqualTo(o_orderstatus,F",
        "GreaterThan(c_acctbal,0", "StringStartsWith(n_name,NATION_1)",
        "In(r_name", "GreaterThan(s_acctbal,0",
        "GreaterThanOrEqual(p_size,5", "LessThanOrEqual(p_size,45"))
      assert(pushed8.contains(frag), s"job8 missing pushed '$frag': $pushed8")
    // job11: the fact-side key band must transit the equi-join — BOTH
    // the lineitem scan and the orders scan prune on the orderkey range
    // (InferFiltersFromConstraints derives the orders-side band)
    val job11 = SparkEntry.queries("job11_key_range")(spark, sf)
      .queryExecution.sparkPlan
    val pushed11 = job11.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed11.contains("GreaterThanOrEqual(l_orderkey,100"),
      s"job11 fact key band not pushed: $pushed11")
    assert(pushed11.contains("GreaterThanOrEqual(o_orderkey,100"),
      s"job11 key band must transit to the orders scan: $pushed11")
    // job13: the join-key IN-list prunes the fact scan directly
    val job13 = SparkEntry.queries("job13_key_inlist")(spark, sf)
      .queryExecution.sparkPlan
    val pushed13 = job13.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed13.contains("In(l_partkey"),
      s"job13 key IN-list not pushed: $pushed13")
    // ds24/ds25: ONE lineitem scan each (the template's self-joins are
    // collapsed), year band pushed
    for (name <- Seq("ds24_cyclic_deviation", "ds25_return_ratios")) {
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      val liScans = unwrap(qe.executedPlan).collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.toString.contains("lineitem")) => s }
      assert(liScans.size == 1, s"$name must scan lineitem once: $liScans")
      assert(qe.sparkPlan.collect { case s: FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "") }.mkString
        .contains("GreaterThanOrEqual(l_shipdate"),
        s"$name year band must prune at the scan")
    }
    // e18: the serving plan ranks against the persisted cell-partitioned
    // CODES scan only — the float corpus must not appear — and the probe
    // cells prune STATICALLY at the directory level (PartitionFilters on
    // the scan, not a post-scan filter)
    val e18 = SparkEntry.queries("e18_ivf_adc_persisted")(spark, sf)
      .queryExecution.sparkPlan
    val codeScans = e18.collect { case s: FileSourceScanExec => s }
    val roots = codeScans.map(
      _.relation.location.rootPaths.map(_.toString).mkString).mkString
    assert(roots.contains("graft_ivfadc_index"),
      s"e18 must scan the persisted index: $roots")
    assert(!roots.contains("embeddings.parquet"),
      s"e18 serving plan must never re-touch the float corpus: $roots")
    val partFiltered = codeScans.filter(s =>
      s.relation.location.rootPaths.exists(_.toString.contains(
        "graft_ivfadc_index")) && s.partitionFilters.nonEmpty)
    assert(partFiltered.nonEmpty,
      s"e18 probe cells must prune as static PartitionFilters:\n$e18")
  }

  test("job18-job21: round-15 JOB signatures keep their scale shapes") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // job18: the LEFT-JOIN-IS-NULL probe must execute as a LeftAnti
    // join — an outer join materializes every padded row then filters,
    // which at 100 TB is a full extra pass over the probe output
    val j18 = SparkEntry.queries("job18_null_probe")(spark, sf)
      .queryExecution.optimizedPlan
    assert(j18.collect { case j: LJoin if j.joinType == LeftAnti => j }
      .nonEmpty, s"job18 must plan as LeftAnti:\n$j18")
    // job19: the cross-alias OR is only evaluable post-join — the joins
    // themselves must all stay equi (no nested-loop degradation)
    val j19 = unwrap(SparkEntry.queries("job19_cross_alias_in")(spark, sf)
      .queryExecution.executedPlan)
    assert(j19.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"job19 must keep pure equi-joins:\n$j19")
    // job20: each arm's part predicates prune at that alias's scan
    val j20 = SparkEntry.queries("job20_linked_pair")(spark, sf)
      .queryExecution.sparkPlan
    val pushed20 = j20.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed20.contains("StringContains(p_name,bolt)") &&
      pushed20.contains("LessThan(p_size,15") &&
      pushed20.contains("StringContains(p_name,rod)") &&
      pushed20.contains("GreaterThan(p_size,30"),
      s"job20 arm predicates not pushed: $pushed20")
    // job21: the whole prefix disjunction pushes as ONE Or filter on
    // the part scan (same-column OR, unlike job10's cross-dim OR)
    val j21 = SparkEntry.queries("job21_or_prefix")(spark, sf)
      .queryExecution.sparkPlan
    val pushed21 = j21.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed21.contains(
      "Or(StringStartsWith(p_name,small),StringStartsWith(p_name,large))"),
      s"job21 prefix disjunction not pushed: $pushed21")
  }

  test("job22/job23/ds42: second round-15 batch keeps its scale shapes") {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.execution.FileSourceScanExec
    // job22: the OR's rc>=3 branch uses matched values, so the outer
    // join must SURVIVE — neither EliminateOuterJoin (filter isn't
    // null-rejecting) nor an anti-join rewrite applies
    val j22 = SparkEntry.queries("job22_null_or_branch")(spark, sf)
      .queryExecution.optimizedPlan
    assert(j22.collect { case j: LJoin if j.joinType == LeftOuter => j }
      .nonEmpty, s"job22 must keep a true LeftOuter:\n$j22")
    // job23: lexicographic string bounds prune at the part scan like a
    // numeric band
    val j23 = SparkEntry.queries("job23_string_range")(spark, sf)
      .queryExecution.sparkPlan
    val pushed23 = j23.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed23.contains("LessThan(p_name,cold)") &&
      pushed23.contains("GreaterThanOrEqual(p_name,blue)"),
      s"job23 string range not pushed: $pushed23")
    // ds42: the 24 monthly CASE sums ride ONE lineitem scan (the
    // template spells two UNIONed channel scans — the fusion is the
    // efficiency claim)
    val ds42 = SparkEntry.queries("ds42_ship_pivot")(spark, sf)
      .queryExecution.sparkPlan
    val liScans = ds42.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("lineitem")) => s }
    assert(liScans.size == 1,
      s"ds42 must scan lineitem once, got ${liScans.size}:\n$ds42")
  }

  test("d29's serving plan probes the persisted LSH index only " +
    "(one shard text scan, static bucket PartitionFilters)") {
    // the build-once contract: incremental dedup must never recompute
    // corpus signatures or re-read corpus text — the ONLY documents
    // scan is the shard side, and the index read prunes to the shard's
    // (band, bucket) directories statically (the e18 pattern)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val d29 = SparkEntry.queries("d29_incremental_lsh")(spark, sf)
      .queryExecution.sparkPlan
    val scans = d29.collect { case s: FileSourceScanExec => s }
    val docScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("documents.parquet")))
    assert(docScans.size == 1,
      s"d29 must scan documents ONCE (the shard side), got " +
        s"${docScans.size}:\n$d29")
    val idxScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("graft_lsh_index")))
    assert(idxScans.nonEmpty, s"d29 must scan the persisted index:\n$d29")
    assert(idxScans.forall(_.partitionFilters.nonEmpty),
      s"d29 probe buckets must prune as static PartitionFilters:\n$d29")
  }

  test("sb1's year band reaches the lineitem scan as a pushed range " +
    "(VERDICT r14: the corpus's only unpruned fact scan)") {
    // year(l_shipdate)=1997 never reaches PushedFilters; the
    // timestamp-range respelling must prune row groups at the reader —
    // on 100 TB this is the difference between scanning 1/7th of the
    // fact and scanning all of it.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val phys = SparkEntry.queries("sb1_discount_revenue")(spark, sf)
      .queryExecution.sparkPlan
    val pushed = phys.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"sb1 year band not pushed: $pushed")
  }

  test("ds46-ds51: third round-15 batch keeps its scale shapes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def liScanCount(p: SparkPlan): Int = p.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("lineitem")) => s }.size
    // ds46: the template's FIFTEEN scalar subqueries ride ONE lineitem
    // scan — the fusion IS the 15x I/O claim
    val ds46 = SparkEntry.queries("ds46_bucket_case")(spark, sf)
      .queryExecution.sparkPlan
    assert(liScanCount(ds46) == 1,
      s"ds46 must scan lineitem once, got ${liScanCount(ds46)}:\n$ds46")
    // ds47: both years' pivots ride ONE scan with the two-year band
    // pushed; the yoy self-join runs over ~50-row aggregated frames.
    // (The plan has TWO lineitem scan NODES — one per join side — but
    // both carry the pushed band; what's pinned is that neither scan
    // lost its range.)
    val ds47 = SparkEntry.queries("ds47_week_yoy_pivot")(spark, sf)
      .queryExecution.sparkPlan
    val pushed47 = ds47.collect { case s: FileSourceScanExec
      if s.relation.location.rootPaths
        .exists(_.toString.contains("lineitem")) =>
      s.metadata.getOrElse("PushedFilters", "") }
    assert(pushed47.nonEmpty &&
      pushed47.forall(_.contains("GreaterThanOrEqual(l_shipdate")),
      s"ds47 ship band must prune every lineitem scan: $pushed47")
    // ds48: the correlated dim subquery is pre-gated on the dimension —
    // the fact side joins a broadcast part list, never a per-row
    // subquery, and the quarter band prunes the fact scan
    val ds48qe = SparkEntry.queries("ds48_above_avg_parts")(spark, sf)
      .queryExecution
    val pushed48 = ds48qe.sparkPlan.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed48.contains("GreaterThanOrEqual(l_shipdate"),
      s"ds48 quarter band not pushed: $pushed48")
    assert(unwrap(ds48qe.executedPlan).collect {
      case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"ds48 must keep pure equi-joins")
    // ds49: the chain join is a co-partitioned equi-join on
    // (custkey, suppkey) with the date inequality as a residual —
    // never a nested-loop — and both order arms prune on their bounds
    val ds49qe = SparkEntry.queries("ds49_return_repurchase")(spark, sf)
      .queryExecution
    assert(unwrap(ds49qe.executedPlan).collect {
      case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"ds49 chain must stay an equi-join with residual")
    val pushed49 = ds49qe.sparkPlan.collect { case s: FileSourceScanExec
      if s.relation.location.rootPaths
        .exists(_.toString.contains("orders")) =>
      s.metadata.getOrElse("PushedFilters", "") }
    assert(pushed49.forall(_.contains("LessThan(o_orderdate")),
      s"ds49 order-arm date bounds must prune both scans: $pushed49")
    // ds50: the template's per-order EXISTS probes collapse into ONE
    // per-order profile aggregation — one lineitem scan total
    val ds50 = SparkEntry.queries("ds50_multi_supplier_split")(spark, sf)
      .queryExecution.sparkPlan
    assert(liScanCount(ds50) == 1,
      s"ds50 must scan lineitem once, got ${liScanCount(ds50)}:\n$ds50")
    // ds51: the three-level rollup is ONE orders scan (grid width is
    // group-cardinality bounded, never data bounded)
    val ds51 = SparkEntry.queries("ds51_measure_rollup")(spark, sf)
      .queryExecution.sparkPlan
    val oScans = ds51.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("orders")) => s }
    assert(oScans.size == 1,
      s"ds51 must scan orders once, got ${oScans.size}:\n$ds51")
  }

  test("job24-job26/ds52/ds53: fourth round-15 batch keeps its shapes") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // job24: the NOT LIKE and the same-column LIKE-disjunction BOTH
    // translate to source filters on the part scan
    val j24 = SparkEntry.queries("job24_not_like")(spark, sf)
      .queryExecution.sparkPlan
    val pushed24 = j24.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed24.contains("Not(StringContains(p_name,blue))"),
      s"job24 NOT LIKE not pushed: $pushed24")
    assert(pushed24.contains(
      "Or(StringContains(p_name,bolt),StringContains(p_name,gear))"),
      s"job24 LIKE disjunction not pushed: $pushed24")
    // job25: eleven relations, all equi — the widest chain must never
    // degrade to a nested loop, and every scan survives as its own
    // relation (no accidental self-join collapse)
    val j25qe = SparkEntry.queries("job25_widest_chain")(spark, sf)
      .queryExecution
    assert(unwrap(j25qe.executedPlan).collect {
      case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"job25 must keep pure equi-joins")
    val scans25 = j25qe.sparkPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans25.size == 11,
      s"job25 must scan 11 relations, got ${scans25.size}")
    // job26: both bridge probes plan as LeftSemi — the m:n bridges
    // must never multiply the fact
    val j26 = SparkEntry.queries("job26_double_bridge")(spark, sf)
      .queryExecution.optimizedPlan
    assert(j26.collect { case j: LJoin if j.joinType == LeftSemi => j }
      .size == 2, s"job26 must plan two LeftSemi probes:\n$j26")
    // ds52: the zip-OR-membership gate keeps equi-joins (the OR is a
    // post-join filter; the membership arm is a left join, not a
    // nested loop) and the quarter band prunes the fact
    val ds52qe = SparkEntry.queries("ds52_zip_or_items")(spark, sf)
      .queryExecution
    assert(unwrap(ds52qe.executedPlan).collect {
      case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"ds52 must keep pure equi-joins")
    assert(ds52qe.sparkPlan.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString
      .contains("GreaterThanOrEqual(l_shipdate"),
      s"ds52 quarter band must prune the fact scan")
    // ds53: the template's three windowed CTE scans fuse into ONE
    // lineitem pass with the envelope range + R-flag pushed
    val ds53 = SparkEntry.queries("ds53_return_windows")(spark, sf)
      .queryExecution.sparkPlan
    val li53 = ds53.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("lineitem")) => s }
    assert(li53.size == 1,
      s"ds53 must scan lineitem once, got ${li53.size}:\n$ds53")
    assert(ds53.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString
      .contains("EqualTo(l_returnflag,R)"),
      s"ds53 R-flag must prune at the scan")
  }

  test("job27/job28/ds54/ds55: fifth round-15 batch keeps its shapes") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.execution.FileSourceScanExec
    // job27: the NOT-EXISTS bridge probe plans as a LeftAnti — never
    // an outer join + filter over the padded stream
    val j27 = SparkEntry.queries("job27_anti_bridge")(spark, sf)
      .queryExecution.optimizedPlan
    assert(j27.collect { case j: LJoin if j.joinType == LeftAnti => j }
      .nonEmpty, s"job27 must plan as LeftAnti:\n$j27")
    // job28: both typed-edge probes stay LeftSemi — the event stream
    // (scale-proportional) never multiplies the customer side
    val j28 = SparkEntry.queries("job28_event_bridge")(spark, sf)
      .queryExecution.optimizedPlan
    assert(j28.collect { case j: LJoin if j.joinType == LeftSemi => j }
      .size == 2, s"job28 must plan two LeftSemi probes:\n$j28")
    // ds54: the template's four-way year_total self-join fuses into
    // ONE orders scan of conditional sums
    val ds54 = SparkEntry.queries("ds54_growth_gate")(spark, sf)
      .queryExecution.sparkPlan
    val oScans54 = ds54.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("orders")) => s }
    assert(oScans54.size == 1,
      s"ds54 must scan orders once, got ${oScans54.size}:\n$ds54")
    // ds55: cohort membership is a LeftSemi and the spend scan prunes
    // on its quarter band
    val ds55qe = SparkEntry.queries("ds55_cohort_spend")(spark, sf)
      .queryExecution
    assert(ds55qe.optimizedPlan.collect {
      case j: LJoin if j.joinType == LeftSemi => j }.nonEmpty,
      s"ds55 cohort must plan as LeftSemi:\n${ds55qe.optimizedPlan}")
    assert(ds55qe.sparkPlan.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString
      .contains("GreaterThanOrEqual(o_orderdate"),
      s"ds55 spend quarter must prune at the orders scan")
  }

  test("ds57-ds60: sixth round-15 batch keeps its scale shapes") {
    import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def liScanCount(p: SparkPlan): Int = p.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("lineitem")) => s }.size
    // ds57: the templates' UNION ALL of sales + negated returns per
    // channel fuses into ONE lineitem scan of conditional sums
    val ds57 = SparkEntry.queries("ds57_channel_pnl")(spark, sf)
      .queryExecution.sparkPlan
    assert(liScanCount(ds57) == 1,
      s"ds57 must scan lineitem once, got ${liScanCount(ds57)}:\n$ds57")
    // ds58: the template's six cross-joined band subqueries fuse into
    // ONE scan whose multi-COUNT(DISTINCT) plans through Expand
    val ds58 = SparkEntry.queries("ds58_band_distinct")(spark, sf)
      .queryExecution.sparkPlan
    assert(liScanCount(ds58) == 1,
      s"ds58 must scan lineitem once, got ${liScanCount(ds58)}:\n$ds58")
    assert(ds58.collect { case e: ExpandExec => e }.nonEmpty,
      s"ds58 multi-distinct must plan through Expand:\n$ds58")
    // ds59: the three unioned channel windows fuse into ONE scan
    val ds59 = SparkEntry.queries("ds59_union_reagg")(spark, sf)
      .queryExecution.sparkPlan
    assert(liScanCount(ds59) == 1,
      s"ds59 must scan lineitem once, got ${liScanCount(ds59)}:\n$ds59")
    // ds60: the dim-vs-dim inequality is a post-join residual over
    // pure equi-joins, with the month band pruning the fact
    val ds60qe = SparkEntry.queries("ds60_city_change")(spark, sf)
      .queryExecution
    assert(unwrap(ds60qe.executedPlan).collect {
      case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"ds60 must keep pure equi-joins")
    assert(ds60qe.sparkPlan.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString
      .contains("GreaterThanOrEqual(l_shipdate"),
      s"ds60 month band must prune the fact scan")
  }

  test("e19's refine stage joins the corpus by KEY after a statically " +
    "cell-pruned shortlist (never a second brute-force pass)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val e19 = SparkEntry.queries("e19_adc_rerank")(spark, sf)
      .queryExecution.sparkPlan
    val scans = e19.collect { case s: FileSourceScanExec => s }
    // stage 1: the shortlist rides the persisted codes, statically
    // cell-pruned (the e18 contract)
    val idx = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("graft_ivfadc_index")))
    assert(idx.nonEmpty && idx.forall(_.partitionFilters.nonEmpty),
      s"e19 shortlist must scan statically-pruned index cells:\n$e19")
    // stage 2: exactly two embeddings touches — the 3-row query-side
    // scan (vec_id<3 pushed) and the keyed rerank probe; a third scan
    // would mean the exact scorer re-entered the corpus
    val corpus = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("embeddings")))
    assert(corpus.size == 2,
      s"e19 must touch embeddings exactly twice, got ${corpus.size}")
    assert(corpus.exists(_.metadata.getOrElse("PushedFilters", "")
      .contains("LessThan(vec_id,3)")),
      s"e19 query-side scan must push vec_id<3")
  }

  test("ds61-ds66: seventh round-15 batch keeps its scale shapes") {
    import org.apache.spark.sql.execution.{FileSourceScanExec,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def liScanCount(p: SparkPlan): Int = p.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("lineitem")) => s }.size
    // ds61: top-10 presentation must be TakeOrderedAndProject (never a
    // global sort of the brand grid)
    val ds61 = SparkEntry.queries("ds61_brand_month")(spark, sf)
      .queryExecution.sparkPlan
    assert(ds61.collect { case t: TakeOrderedAndProjectExec => t }
      .nonEmpty, s"ds61 top-10 must be TakeOrderedAndProject:\n$ds61")
    // ds62: one scan; the quarter window runs over the aggregated grid
    val ds62 = SparkEntry.queries("ds62_quarter_deviation")(spark, sf)
      .queryExecution.sparkPlan
    assert(liScanCount(ds62) == 1,
      s"ds62 must scan lineitem once, got ${liScanCount(ds62)}:\n$ds62")
    // ds65: the template's two scalar subqueries fuse into ONE scan
    val ds65 = SparkEntry.queries("ds65_promo_share")(spark, sf)
      .queryExecution.sparkPlan
    assert(liScanCount(ds65) == 1,
      s"ds65 must scan lineitem once, got ${liScanCount(ds65)}:\n$ds65")
    // ds66: the two-condition dim gate joins back as equi-joins only
    val ds66 = unwrap(SparkEntry.queries("ds66_zip_prefix_gate")(spark, sf)
      .queryExecution.executedPlan)
    assert(ds66.collect { case n: BroadcastNestedLoopJoinExec => n }
      .isEmpty, s"ds66 must keep pure equi-joins")
  }

  test("ds67-ds72: eighth round-15 batch keeps its scale shapes") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // ds67: the cross-year self-join runs on the AGGREGATED grain —
    // equi on the item key, never a nested loop
    val ds67 = unwrap(SparkEntry.queries("ds67_cross_year_pairs")(
      spark, sf).queryExecution.executedPlan)
    assert(ds67.collect { case n: BroadcastNestedLoopJoinExec => n }
      .isEmpty, s"ds67 must keep the aggregated self-join equi")
    // ds68: the returns side must stay a true LeftOuter (the COALESCE
    // netting consumes padded NULLs — the join must not be eliminated
    // or flipped)
    val ds68 = SparkEntry.queries("ds68_netted_pivot")(spark, sf)
      .queryExecution.optimizedPlan
    assert(ds68.collect { case j: LJoin if j.joinType == LeftOuter => j }
      .nonEmpty, s"ds68 must keep a LeftOuter for the netting:\n$ds68")
    // ds70: the returns flag prunes at the scan
    val ds70 = SparkEntry.queries("ds70_return_loss")(spark, sf)
      .queryExecution.sparkPlan
    assert(ds70.collect { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString
      .contains("EqualTo(l_returnflag,R)"),
      s"ds70 R-flag must prune at the scan")
    // ds71: the template's LEFT-JOIN-IS-NULL returns exclusion plans
    // as a LeftAnti (the job18/job27 discipline)
    val ds71 = SparkEntry.queries("ds71_anti_return_yoy")(spark, sf)
      .queryExecution.optimizedPlan
    assert(ds71.collect { case j: LJoin if j.joinType == LeftAnti => j }
      .nonEmpty, s"ds71 returns exclusion must plan as LeftAnti:\n$ds71")
    // ds72: the missing-dimension probe (left join + IS NULL) is
    // rewritten to a LeftAnti by the optimizer
    val ds72 = SparkEntry.queries("ds72_missing_dim")(spark, sf)
      .queryExecution.optimizedPlan
    assert(ds72.collect { case j: LJoin if j.joinType == LeftAnti => j }
      .nonEmpty, s"ds72 missing-dim probe must plan as LeftAnti:\n$ds72")
  }

  test("r16 batch (ds73, ldbc26-29) keeps equi-join scale shapes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    // ds73: the q72 signature's two facts meet on an (item, week) EQUI
    // key with the on-hand < ordered inequality as a residual — a
    // cross join here would be quadratic in both facts at 100 TB —
    // and the year gate reaches the orders scan as a pushed timestamp
    // range (the sb1 lesson)
    val ds73qe = SparkEntry.queries("ds73_inventory_shortfall")(spark, sf)
      .queryExecution
    assert(ds73qe.sparkPlan.collect {
      case n: BroadcastNestedLoopJoinExec => n
      case c: CartesianProductExec => c }.isEmpty,
      s"ds73 fact-fact week join must stay an equi join")
    val pushed73 = ds73qe.sparkPlan.collect { case s: FileSourceScanExec
      if s.relation.location.rootPaths
        .exists(_.toString.contains("orders")) =>
      s.metadata.getOrElse("PushedFilters", "") }.mkString(";")
    assert(pushed73.contains("GreaterThanOrEqual(o_orderdate") &&
      pushed73.contains("LessThan(o_orderdate"),
      s"ds73 year band not pushed to the orders scan: $pushed73")
    // ldbc26-29: the BI shapes must never degrade to a cross join —
    // bi-17's textbook spelling IS a quadratic message self-join, and
    // the profile-grain rewrite only counts if the planner keeps every
    // probe an equi/semi/anti join
    for (q <- Seq("ldbc26_country_topic_forums", "ldbc27_trusted_paths",
                  "ldbc28_fake_news", "ldbc29_info_propagation")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      assert(p.collect {
        case n: BroadcastNestedLoopJoinExec => n
        case c: CartesianProductExec => c }.isEmpty,
        s"$q must contain no cartesian/nested-loop join:\n$p")
    }
  }
}
