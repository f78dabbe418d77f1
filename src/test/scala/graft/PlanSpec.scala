package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExtendedMode, FormattedMode}
import scala.jdk.CollectionConverters._

/** Physical-plan assertions: the scale posture the Scaladoc claims must
  * actually appear in the plans — pushed-down scan predicates, pruned
  * read schemas, broadcast vs shuffled join strategies, top-k without a
  * global sort, and exchange reuse in the self-join dedup pipelines.
  * Plans are pinned against this repo's fixed Spark version.
  */
class PlanSpec extends SparkSpec {

  /** Number of Exchange operators in a FormattedMode plan (counted via
    * the "(n) Exchange" node-detail headers — each node has exactly one). */
  private def exchanges(p: String): Int =
    """\(\d+\) Exchange""".r.findAllIn(p).length

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)
  private def extended(df: DataFrame): String =
    df.queryExecution.explainString(ExtendedMode)

  test("q02: filters push into the parquet scan and columns prune") {
    val p = formatted(SparkEntry.queries("q02_filter_project")(spark, sf0001))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // 5 referenced columns, not all 16
    assert(!p.contains("l_comment"), "scan reads unreferenced columns")
  }

  test("q03: dimension side broadcasts") {
    val p = formatted(SparkEntry.queries("q03_join_broadcast")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("broadcastIfSmall: hints under the cap, withholds above it") {
    import graft.queries.Hints
    import graft.sources.Tables
    // Clone the session with the planner's own broadcast election off,
    // so whatever strategy appears is attributable to the hint alone.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val o = Tables.orders(s2, sf0001)
    val c = Tables.customer(s2, sf0001)
    val cond = o("o_custkey") === c("c_custkey")
    // Generous explicit cap → estimate qualifies → hint → broadcast.
    val hinted = formatted(o.join(Hints.broadcastIfSmall(c, 1L << 30), cond))
    assert(hinted.contains("BroadcastHashJoin"), hinted)
    // Zero cap → no hint → shuffle join (the 100 TB-customer shape).
    val guarded = formatted(o.join(Hints.broadcastIfSmall(c, 0L), cond))
    assert(!guarded.contains("BroadcastHashJoin"), guarded)
    // Default cap follows the session threshold: disabled ⇒ no hint.
    val followed = formatted(o.join(Hints.broadcastIfSmall(c), cond))
    assert(!followed.contains("BroadcastHashJoin"), followed)
  }

  test("t08/t09: vocabulary df-table broadcasts are size-guarded") {
    // The document-frequency relation grows with corpus vocabulary
    // (Heaps' law) — the guard must withhold the hint when the session
    // threshold disqualifies it, so the join degrades to a shuffle
    // join instead of forcing an executor-OOM broadcast at 100 TB.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Seq("t08_cooccurrence", "t09_tfidf_topk").foreach { name =>
      val p = formatted(SparkEntry.queries(name)(s2, sf0001))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"$name must shuffle-join the df table when broadcast is off:\n$p")
    }
  }

  test("d03/d09: docs-proportional broadcasts are size-guarded") {
    // d03's per-doc shingle counts and d09's drop list both grow with
    // the corpus (|docs| rows / cluster membership, 30%+ of real web
    // corpora) — when the session threshold disqualifies them the
    // guard must withhold the hint so the join degrades to a shuffle
    // join instead of forcing an executor-OOM broadcast at 100 TB.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val d03p = formatted(SparkEntry.queries("d03_dedup_jaccard")(s2, sf0001))
    assert(!d03p.contains("BroadcastHashJoin"),
      s"d03 must not broadcast the per-doc count table when disabled:\n$d03p")
    assert(d03p.contains("SortMergeJoin") || d03p.contains("ShuffledHashJoin"),
      d03p)
    val d09p = formatted(SparkEntry.queries("d09_dedup_applied")(s2, sf0001))
    assert(!d09p.contains("BroadcastHashJoin"),
      s"d09 must not broadcast the drop list when disabled:\n$d09p")
  }

  test("t22/t20/st13: gram-keyed model broadcasts are size-guarded") {
    // t22's bigram count/context tables and t20/st13's log-odds model
    // are vocabulary-scale relations (t22's quadratically wider than a
    // unigram vocab) — the guard must let every model join degrade to
    // a shuffle join when the session threshold disqualifies the
    // broadcast. (The 1-row scalar broadcasts — vocab size, corpus
    // total — stay broadcast by construction; only equi-joins on gram
    // keys are in scope.)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Seq("t22_bigram_fluency", "t20_quality_classifier").foreach { name =>
      val p = formatted(SparkEntry.queries(name)(s2, sf0001))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"$name must shuffle-join the model when broadcast is off:\n$p")
    }
  }

  test("d17: run groupBy reuses the window's doc_id partitioning") {
    // The span text must cross exactly one exchange: the doc_id join /
    // window shuffle. The run aggregation's (doc_id, run_id, kept)
    // clustering is satisfied by hash(doc_id), so no exchange may sit
    // between the output aggregate and the window below it.
    val p = formatted(SparkEntry.queries("d17_dedup_substrings")(spark, sf0001))
    val tree = p.linesIterator.takeWhile(l => !l.contains("(1) Scan")).toSeq
    val firstWindow = tree.indexWhere(_.contains("Window"))
    assert(firstWindow > 0, p)
    assert(!tree.take(firstWindow).exists(_.contains("Exchange")),
      s"exchange between run aggregation and window:\n$p")
  }

  test("d16: pair join key carries the hot-cluster sub-split band") {
    // The within-cluster self-join must key on (cid, band), not cid
    // alone — the secondary sign-bit band is what bounds a hot
    // cluster's quadratic pair work (cold clusters carry band 0 on
    // both sides, so behavior below the threshold is unchanged).
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = SparkEntry.queries("d16_dedup_semantic")(spark, sf0001)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    val pairJoin = joins.filter(_.condition.exists(
      _.references.map(_.name).exists(_.startsWith("band"))))
    assert(pairJoin.nonEmpty,
      s"no join keyed on the band column:\n${joins.mkString("\n")}")
  }

  test("q12: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = formatted(SparkEntry.queries("q12_topk")(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q24: literal-band range join is a broadcast nested loop") {
    val p = formatted(SparkEntry.queries("q24_range_join")(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q50: runtime bloom filter prunes the fact side before its shuffle") {
    val df = SparkEntry.queries("q50_bloom_prune")(spark, sf0001)
    val p = extended(df)
    assert(p.contains("might_contain"), p)
    assert(p.contains("bloom_filter_agg"), p)
    // and the join stayed a shuffle join (broadcast would make the
    // bloom filter redundant rather than load-bearing)
    assert(formatted(df).contains("SortMergeJoin")
      || formatted(df).contains("ShuffledHashJoin"), formatted(df))
  }

  test("t09: per-group top-k plans a WindowGroupLimit (no full sort+filter)") {
    // rank <= k predicates over a window should trigger Spark's
    // WindowGroupLimit pushdown: each group keeps a running top-k heap
    // instead of fully sorting and ranking every row — the difference
    // between O(n log k) and O(n log n) per group at scale.
    val p = formatted(SparkEntry.queries("t09_tfidf_topk")(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p)
    // m09's per-doc keyframe cut rides the same lever
    val m9 = formatted(SparkEntry.queries("m09_keyframes")(spark, sf0001))
    assert(m9.contains("WindowGroupLimit"), m9)
  }

  test("d11: bloom probe guards the batch side before the verify join") {
    val df = SparkEntry.queries("d11_dedup_bloom")(spark, sf0001)
    val p = extended(df)
    assert(p.contains("might_contain"), p)
    assert(p.contains("bloom_filter_agg"), p)
  }

  test("d05: band self-join reuses one exchange over the simhash plan") {
    val df = SparkEntry.queries("d05_dedup_simhash")(spark, "/root/testdata/sf0.01")
    val p = formatted(df)
    assert(p.contains("ShuffledHashJoin"), p)
    // The two join inputs are the same child plan; at runtime AQE
    // materializes one shuffle stage and reuses it for the other side.
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") ||
      executed.contains("ReusedQueryStage") ||
      executed.contains("ShuffleQueryStage 0") &&
        !executed.contains("ShuffleQueryStage 3"),
      executed.take(3000))
  }

  test("m03/m05/m06: metadata-only multimodal queries skip the decode boundary") {
    // Metadata consumers must stay on the expression path: a typed
    // mapPartitions decode stage (fine for m02/m04, which touch pixel
    // bytes) would materialize every row through the Dataset encoder
    // and kill column pruning + whole-stage codegen for queries that
    // only read width/height/n_frames.
    Seq("m03_frame_sample", "m05_patch_grid", "m06_aspect_buckets",
        "m07_scene_cuts")
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf0001)
        val p = formatted(df)
        assert(!p.contains("MapPartitions") &&
          !p.contains("DeserializeToObject"),
          s"$name crosses a typed boundary:\n$p")
        // "*(n)" node prefixes = whole-stage-codegen membership (AQE
        // plans only finalize codegen stages after execution)
        df.collect()
        assert(df.queryExecution.executedPlan.toString.contains("*("), p)
      }
    // ...and the real-codec queries keep the typed batch shape.
    val m02p = formatted(SparkEntry.queries("m02_decode_stub")(spark, sf0001))
    assert(m02p.contains("MapPartitions"), m02p)
  }

  test("m08: perceptual hashing stays row-local codegen with ONE shuffle") {
    val df = SparkEntry.queries("m08_phash_dedup")(spark, sf0001)
    val p = formatted(df)
    assert(!p.contains("MapPartitions") && !p.contains("DeserializeToObject"),
      s"phash must be an expression, not a typed boundary:\n$p")
    val exchanges = "(?m)^\\s*\\+?-? ?Exchange \\(".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one hash-agg shuffle, got $exchanges:\n$p")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("), p)
  }

  test("d13: decontamination probes a broadcast semi-join (corpus grams never shuffle)") {
    val p = formatted(SparkEntry.queries("d13_decontaminate")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"eval-gram set must broadcast; training grams must not shuffle:\n$p")
  }

  test("q38: explicit-values pivot = two-phase agg, no domain scan") {
    val p = formatted(SparkEntry.queries("q38_pivot")(spark, sf0001))
    // pre-aggregate on (status, flag) then pivot: exactly two exchanges,
    // the second over the collapsed (status, flag) cardinality — and no
    // extra job to discover the pivot domain (explicit values)
    assert(exchanges(p) == 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s07: cross-set ANN join is an equi-join, never a cross join") {
    val p = formatted(SparkEntry.queries("s07_ann_set_join")(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banded ANN join must stay an equi-join:\n$p")
  }

  test("s11: multi-probe candidate join stays bucket-pruned (equi-join)") {
    // The 7-bucket probe list must reach the corpus as bucket = pbucket
    // — one BroadcastNestedLoop/Cartesian here and multi-probe becomes
    // a full scan per query. (The exact-baseline side of the audit is
    // the one intentional broadcast cross join, same as s10.)
    val p = formatted(SparkEntry.queries("s11_ann_multiprobe")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c01: curation gates run in the scan stage (no pre-dedup shuffle)") {
    val p = formatted(SparkEntry.queries("c01_curate")(spark, sf0001))
    // normalize+gates+hash-agg partials+sample-filter = narrow until the
    // single dedup aggregate; only that one exchange appears
    assert(exchanges(p) == 1, p)
  }

  test("AQE coalesces shuffle partitions at runtime (final plan)") {
    // Session configures 4 shuffle partitions; at sf0.001 the post-agg
    // data is far below the advisory partition size, so the ADAPTIVE
    // final plan must read the shuffle through a coalesced
    // AQEShuffleRead — the mechanism that right-sizes reducer counts at
    // every scale without manual tuning.
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf0001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead"), finalPlan)
    assert(finalPlan.contains("coalesced"), finalPlan)
  }

  test("c04: doc-level prefix sum is a partitioned window, not one task") {
    // The doc-level running sum must window over `block` partitions
    // (parallel); only the 64x-smaller block-offset relation may use an
    // unpartitioned window. A single global-ordered window over the
    // docs would serialize the whole corpus through one task.
    val df = SparkEntry.queries("c04_pack_sequences")(spark, sf0001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length == 2, s"expected 2 windows:\n${df.queryExecution}")
    // Exactly one window (the block-offset one) is allowed to be global.
    assert(windows.count(_.partitionSpec.isEmpty) == 1,
      windows.map(_.partitionSpec).mkString("; "))
  }

  test("q57: planner broadcasts from ANALYZE statistics, no hint anywhere") {
    // First call registers + ANALYZEs; the second exercises the
    // already-registered path (Bench reruns every query — staleness
    // check must not re-ANALYZE or crash).
    SparkEntry.queries("q57_cbo_stats_join")(spark, sf0001)
    val df = SparkEntry.queries("q57_cbo_stats_join")(spark, sf0001)
    assert(formatted(df).contains("BroadcastHashJoin"), formatted(df))
    // Row-count statistics really flowed from ANALYZE into the plan —
    // the CBO leaf stats carry a rowCount, which file-size guessing
    // never produces.
    val leafStats = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats)
    assert(leafStats.exists(_.rowCount.isDefined),
      leafStats.mkString("; "))
  }

  test("q58: AQE splits the skewed join partition at runtime") {
    // sf0.01: key 0 owns ~54k of 60k fact rows → one ~1 MB shuffle
    // partition against 32 KB advisory size. The FINAL adaptive plan
    // must show the sort-merge join running in skew mode.
    val df = SparkEntry.queries("q58_skew_join")(spark, "/root/testdata/sf0.01")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), p.take(4000))
  }

  test("d14/d15: span dedup ships text through at most one exchange") {
    // d14 hashes spans before anything shuffles — no exchange carries
    // text. d15 reconstructs documents, so text must cross exactly one
    // exchange (the doc_id regroup above the keep-set join). Plan
    // pinned at fixture scale: three exchanges each — span-hash agg,
    // per-doc firsts agg, and totals/reconstruction regroup.
    Seq("d14_dedup_spans", "d15_dedup_reconstruct").foreach { name =>
      val p = formatted(SparkEntry.queries(name)(spark, sf0001))
      assert(exchanges(p) == 3, s"$name:\n$p")
    }
  }

  test("q59: pass-2 rank window sorts only the joined (bucket-pruned) rows") {
    // The point of the two-pass plan: the only window over row-level
    // data sits ABOVE the hit-bucket join (sorting ~1/width of the
    // table); the cumulative-count window runs on the bucket-sized
    // aggregate (no join below it). A window directly over the raw
    // scan would be q42's group-bound sort again.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val df = SparkEntry.queries("q59_bucket_quantiles")(spark, sf0001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.nonEmpty)
    val (rankW, cumW) = windows.partition(_.partitionSpec.length == 2)
    assert(rankW.nonEmpty && cumW.nonEmpty, windows.mkString("; "))
    rankW.foreach { w =>
      assert(w.child.collectFirst { case j: Join => j }.isDefined,
        s"rank window must sit above the hit-bucket join:\n$w")
    }
    cumW.foreach { w =>
      assert(w.child.collectFirst { case j: Join => j }.isEmpty,
        s"cumulative window must run on the bucket aggregate, not a join:\n$w")
    }
  }

  test("q60: co-bucketed layout removes the join-side exchanges") {
    val df = SparkEntry.queries("q60_bucketed_join")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    // the only exchange left is the final aggregate's (o_orderpriority);
    // neither join input shuffles — the bucketed layout supplies the
    // orderkey partitioning both sides
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join inputs must be exchange-free:\n$p")
  }

  test("t18: top-100 rank cut plans a WindowGroupLimit before the window sort") {
    // the per-source vocabulary sort is the scale hazard (parallelism
    // bounded by source count); WindowGroupLimit caps what reaches it
    // to each partition's top-100 candidates
    val p = formatted(SparkEntry.queries("t18_zipf_fit")(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q61: the year predicate prunes partitions at the scan") {
    val df = SparkEntry.queries("q61_partition_prune")(spark, sf0001)
    val p = formatted(df)
    // the filter must land in the scan's PartitionFilters (directory
    // pruning), not as a post-scan Filter over all years
    assert(p.contains("PartitionFilters"), p)
    assert("""PartitionFilters: \[[^\]]*o_year""".r.findFirstIn(p).isDefined,
      s"o_year must prune at the scan:\n$p")
  }

  test("q62: the dim filter prunes fact partitions at RUNTIME (DPP)") {
    val df = SparkEntry.queries("q62_dynamic_prune")(spark, sf0001)
    val p = formatted(df)
    // the year predicate sits on the dimension, so the fact scan must
    // carry a dynamic pruning subquery on its partition column, not a
    // static filter (and not nothing)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a dynamic pruning expression:\n$p")
  }

  test("s13: probed inverted lists partition-prune the index scan") {
    val df = SparkEntry.queries("s13_ivfpq_index")(spark, sf0001)
    val p = formatted(df)
    // the top-3 probe list must reach the codes table as directory
    // pruning — the scan never opens the other lists' files — and the
    // ADC table must broadcast
    assert("""PartitionFilters: \[[^\]]*cid""".r.findFirstIn(p).isDefined,
      s"probe list must prune index partitions:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d16: trained codebook broadcasts into the assignment scan") {
    val p = formatted(SparkEntry.queries("d16_dedup_semantic")(spark, sf0001))
    // assignment = corpus × label-bounded codebook: must be the
    // broadcast nested-loop fan-out, never a shuffled cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("no batch query plans a CartesianProduct") {
    // Cross joins in s01/s03 broadcast (BroadcastNestedLoopJoin); a
    // CartesianProduct anywhere means a shuffle-everything-everywhere
    // plan slipped in. Streaming queries are excluded (building them
    // executes the stream); d08/d09/c01 run driver loops at build time
    // and are covered by their own assertions.
    // d12 executes the takedown warehouse lifecycle at plan-build time.
    val skip = Set("d08_dedup_clusters", "d09_dedup_applied", "d12_takedown")
    SparkEntry.queries.keys
      .filterNot(_.startsWith("st")).filterNot(skip)
      .foreach { name =>
        val p = formatted(SparkEntry.queries(name)(spark, sf0001))
        assert(!p.contains("CartesianProduct"),
          s"$name plans a CartesianProduct")
      }
  }

  test("s17: DBSCAN candidate generation is bucket-banded, never all-pairs") {
    val p = formatted(SparkEntry.queries("s17_dbscan")(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"LSH-DBSCAN neighbor join must stay an equi-join on the bucket:\n" +
        p.take(3000))
  }

  test("t26/t27: n-gram count relations ride size-guarded broadcasts") {
    // BM25's df table and the backoff LM's c1/c2/c3 tables are the
    // Heaps-bounded small sides — under the guard they broadcast, so
    // the scored/eval side never shuffles for the lookup joins.
    Seq("t26_bm25", "t27_lm_backoff").foreach { name =>
      val p = formatted(SparkEntry.queries(name)(spark, sf0001))
      assert(!p.contains("CartesianProduct"), s"$name: cartesian\n")
      assert(p.contains("BroadcastHashJoin"),
        s"$name: expected broadcast count-table joins:\n${p.take(3000)}")
    }
  }

  test("q65: transition matrix shuffles once on user_id, then row-local") {
    val p = formatted(SparkEntry.queries("q65_markov")(spark, sf0001))
    // lag window shuffle + count aggregate + tiny row-total window:
    // the |types|^2 matrix relation must not fan out further
    assert(exchanges(p) <= 3, s"q65 shuffles more than the contract:\n$p")
  }

  test("q67: EXISTS pair decorrelates to semi + anti joins (no subplan loop)") {
    val p = formatted(SparkEntry.queries("q67_exists_subquery")(spark, sf0001))
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q68: correlated LATERAL top-k decorrelates to one join + rank") {
    val p = formatted(SparkEntry.queries("q68_lateral_topk")(spark, sf0001))
    // DecorrelateInnerQuery must turn the per-customer ORDER BY+LIMIT
    // into a window/group-limit over a single join — never a loop or
    // cartesian re-execution of the inner query
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("Window") || p.contains("WindowGroupLimit"),
      s"expected the lateral LIMIT as a rank filter:\n${p.take(3000)}")
  }

  test("q71: custom AsofJoinExec plans with declared exchanges + sorts") {
    val p = formatted(SparkEntry.queries("q71_asof_native")(spark, sf0001))
    assert(p.contains("AsofJoin"), s"custom exec missing from plan:\n$p")
    // EnsureRequirements must plant the clustered exchanges and the
    // per-partition sorts the exec declares — not the operator itself
    assert(exchanges(p) >= 2, p)
    assert(p.contains("Sort"), p)
    // and the padded-union window formulation must NOT appear
    assert(!p.contains("Window"), s"native as-of must not plan a window:\n$p")
  }

  test("q72: one exchange drives both the sweep window and the peak agg") {
    // Sweep-line contract: the boundary-point union is shuffle-free,
    // ONE hash exchange on event_type feeds the running-sum window,
    // the whole-partition max window AND the final aggregate (all the
    // same key — EnsureRequirements must not re-shuffle).
    val p = formatted(SparkEntry.queries("q72_interval_peak")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(exchanges(p) == 1,
      s"sweep should shuffle exactly once on event_type:\n${p.take(3000)}")
  }

  test("d21: weighted term relation materializes once for its 3 consumers") {
    // The tokenize->tf->df cascade must not replay per consumer: the
    // checkpointed relation shows up as ExistingRDD scans, and the
    // pair join must never degrade to a cartesian.
    val p = formatted(SparkEntry.queries("d21_dedup_weighted")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed weighted-term relation:\n${p.take(3000)}")
  }

  test("t28: rolling-hash scan parallelizes; chunk agg shuffles hash keys") {
    // The boundary explode must run AFTER the doc_id repartition (the
    // shingleArrays file-parallelism guard), and the only downstream
    // shuffles are the per-doc cut window and the fixed-width
    // chunk-hash aggregate — no cartesian anywhere.
    val p = formatted(SparkEntry.queries("t28_cdc_chunks")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("Generate"), s"expected the boundary explode:\n$p")
    assert(exchanges(p) <= 4, s"t28 shuffles more than the contract:\n$p")
  }

  test("q63: the recursion consumes the materialized chain, never the raw scan") {
    // The UnionLoop contract (SCALE.md round 10): the static chain
    // relation is checkpointed ONCE before entering the loop — UnionLoop
    // re-inlines non-recursive CTEs into every iteration, so a
    // regression that reintroduces the parquet scan or the row_number
    // window into the loop body multiplies both by the 50-step depth.
    val df = SparkEntry.queries("q63_recursive_cte")(spark, sf0001)
    val p = extended(df)
    assert(p.contains("UnionLoop"), s"expected native recursion:\n${p.take(3000)}")
    // Direct scan-node assertions (ADVICE r10): ZERO parquet scans may
    // survive anywhere in the plan — the one legitimate scan happened at
    // checkpoint time, so every relation the recursion touches must be
    // the checkpointed LogicalRDD/ExistingRDD. Counting occurrences
    // beats the old whole-plan substring disjunction, which passed
    // vacuously on printer-format drift.
    val parquetScans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(parquetScans.isEmpty,
      s"loop body re-scans the source instead of the checkpointed chain: $parquetScans")
    assert(!p.contains("FileScan parquet") && !p.contains("Scan parquet"),
      s"physical plan re-scans parquet:\n${p.take(4000)}")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"expected the checkpointed chain relation:\n${p.take(4000)}")
    assert(!p.contains("row_number"),
      s"loop body re-runs the chain-index window:\n${p.take(4000)}")
  }

  test("q63: the stats-based broadcast guard picks the same plan at both sfs") {
    // VERDICT r10 #3: the broadcast-vs-shuffle decision reads the
    // checkpointed plan's stats, not a counting job. Both test sfs are
    // far below the 500k-chain-row crossover, so both must carry the
    // BROADCAST hint into the recursion.
    for (d <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val p = extended(SparkEntry.queries("q63_recursive_cte")(spark, d))
      assert(p.contains("BROADCAST") || p.contains("BroadcastHashJoin"),
        s"expected the broadcast frontier join at $d:\n${p.take(4000)}")
    }
  }

  test("q78: z-order layout is one row-local projection + one aggregate exchange") {
    // Layout planning at 100 TB: the 16-term interleave must stay a
    // codegen'd projection and the only shuffle is the file-id hash
    // aggregate — no global sort, no window anywhere.
    val p = formatted(SparkEntry.queries("q78_zorder_layout")(spark, sf0001))
    assert(exchanges(p) == 1, s"expected only the file-id aggregate:\n${p.take(3000)}")
    assert(!p.contains("Sort"), s"layout stats must not sort:\n${p.take(3000)}")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>")
      || p.contains("ReadSchema: struct<l_partkey:int,l_suppkey:int>"),
      s"scan must prune to the two clustering columns:\n$p")
  }

  test("q73: the clamp closed form plans one exchange and zero recursion") {
    // q63's 50 UnionLoop iterations collapse to stacked windows on a
    // single user_id exchange — depth-independent cost is the contract.
    val p = formatted(SparkEntry.queries("q73_clamp_closed_form")(spark, sf0001))
    assert(!p.contains("UnionLoop"), s"closed form must not recurse:\n$p")
    assert(exchanges(p) == 1,
      s"expected one exchange on user_id:\n${p.take(3000)}")
  }

  test("q74: the heavy sweep stages partition by (type, bucket), not type") {
    // The 100 TB contract: the full point relation is only ever
    // exchanged on (event_type, bucket) — parallelism scales with
    // buckets; the event_type-only window runs on the bucket-sized
    // summary relation. Two exchanges total: points -> (type, bucket),
    // bucket summaries -> type.
    val p = formatted(
      SparkEntry.queries("q74_interval_peak_buckets")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(exchanges(p) == 2,
      s"expected points->(type,bucket) + summaries->type:\n${p.take(3000)}")
    assert("""hashpartitioning\(event_type#\d+, bucket#\d+""".r
      .findFirstIn(p).isDefined,
      s"expected the local sweep keyed on (event_type, bucket):\n$p")
  }

  test("q75: one sketch pass; explode-composed windows; diff-array exact side") {
    // The sketch ladder's contract (r11 shape): raw events aggregate
    // into per-hour sketches ONCE (checkpointed — ExistingRDD); every
    // window answer is sketch algebra composed by an explode +
    // equi-shuffle onto the 24 anchors each hour serves. NO range join
    // anywhere — the old hours × hours BNLJ grows quadratically in the
    // corpus' time span. The exact comparator is the interval diff
    // array, so no 24× explode of the event-pair relation either: the
    // only Generate inputs are the hour-grain sketch relation.
    val p = formatted(SparkEntry.queries("q75_sliding_distinct")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"windows must compose by explode + equi-join, not a range BNLJ:\n${p.take(3000)}")
    assert(p.contains("Generate"),
      s"expected the 24-anchor explode of the hourly sketches:\n${p.take(3000)}")
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed hourly sketch relation:\n${p.take(3000)}")
  }

  test("asof limit pushdown: LIMIT plants a LocalLimit under the join") {
    // The as-of join is 1:1 left-outer, so LIMIT n may take any n
    // target rows BEFORE the join — the custom optimizer rule
    // (AsofLimitPushdown) must fire, and the limited output must be a
    // subset of the full join keyed identically.
    import graft.sources.Events
    import org.apache.spark.sql.functions.col
    val e = Events.read(spark, sf0001)
      .withColumn("us", col("ts").cast("long"))
    val t = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("us"))
    val m = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("m_user"), col("event_id").as("m_eid"),
        col("us").as("m_us"))
    val joined = graft.plans.AsofJoin.join(t, m,
      "user_id", "us", "m_user", "m_us", "m_eid")
    val limited = joined.limit(7)
    val opt = limited.queryExecution.optimizedPlan
    // the limit must appear BELOW the AsofJoinPlan node
    val asof = opt.collect {
      case a: graft.plans.AsofJoinPlan => a
    }
    assert(asof.nonEmpty, s"as-of node missing:\n$opt")
    assert(asof.head.left.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => l
    }.nonEmpty, s"LocalLimit not pushed into the left side:\n$opt")
    // semantics: 7 rows, each present in the unlimited join
    val full = joined.collect().map(_.mkString("|")).toSet
    val got = limited.collect().map(_.mkString("|"))
    assert(got.length == 7)
    assert(got.forall(full.contains), "limited rows must come from the join")

    // ---- filter pushdown: a left-only predicate lands under the join
    val filtered = joined.filter(col("user_id") % 7 === 0)
    val fopt = filtered.queryExecution.optimizedPlan
    val fasof = fopt.collect { case a: graft.plans.AsofJoinPlan => a }
    assert(fasof.nonEmpty, s"as-of node missing:\n$fopt")
    assert(fopt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.child.isInstanceOf[graft.plans.AsofJoinPlan] => f
    }.isEmpty, s"left-only filter must not stay above the join:\n$fopt")
    // and the filtered result equals filtering the full output
    val expect = joined.collect()
      .filter(r => r.getAs[Long]("user_id") % 7 == 0)
      .map(_.mkString("|")).toSet
    assert(filtered.collect().map(_.mkString("|")).toSet == expect)
  }

  test("d19: the incremental merge broadcasts into the label relation") {
    // The 100 TB contract: the corpus-sized label relation is scanned,
    // never shuffled — the delta->representative lookup and the
    // merged-label relabel must both plan as broadcast joins (the
    // delta/merged side is the broadcast), and no CartesianProduct
    // may appear anywhere.
    val p = formatted(
      SparkEntry.queries("d19_dedup_cluster_incremental")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert("""BroadcastHashJoin""".r.findAllIn(p).length >= 2,
      s"expected the contraction + relabel joins to broadcast:\n${p.take(3000)}")
  }

  test("c16: audit metrics ride the curation scan (one scan, " +
    "CollectMetrics above it, counters partition rows_seen)") {
    val (gated, obs) = graft.queries.Corpus.observedCurateGated(spark, sf0001)
    val p = formatted(gated)
    // The audit is the SAME job as the load: exactly one scan feeds
    // both, and the gate filter must sit ABOVE the metrics node
    // (CollectMetrics is a pushdown barrier) or rows_seen would shrink
    // to rows_kept.
    assert(p.contains("CollectMetrics"), p.take(3000))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      p.take(3000))
    gated.write.format("noop").mode("overwrite").save()
    val m = obs.get
    val docs = spark.read
      .parquet(s"$sf0001/documents.parquet")
    assert(m("rows_seen") == docs.count())
    // waterfall attribution: the first failing gate claims the row, so
    // the four counters tile rows_seen with no overlap and no gap
    assert(m("fail_len").asInstanceOf[Long] +
      m("fail_distinct").asInstanceOf[Long] +
      m("fail_lang").asInstanceOf[Long] +
      m("rows_kept").asInstanceOf[Long] ==
      m("rows_seen").asInstanceOf[Long], m.toString)
    // and the kept counter equals the rows the load actually shipped
    // (fresh plan + fresh Observation — an Observation binds to one
    // Dataset/action)
    val kept = graft.queries.Corpus
      .observedCurateGated(spark, sf0001)._1.count()
    assert(m("rows_kept") == kept, m.toString)
  }

  test("zone-prune rule: a plain WHERE drops non-overlapping batch roots at plan time") {
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    val staging = tmpDir("graft-zprstage-")
    val wh = tmpDir("graft-zprwh-") + "/t"
    val hist = tmpDir("graft-zprhist-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("region",
        org.apache.spark.sql.types.StringType)))
    def load(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(staging, name),
        rows.mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    }
    load("f1.json", """{"id": "1", "region": "a"}""",
      """{"id": "2", "region": "a"}""")
    load("f2.json", """{"id": "100", "region": "b"}""",
      """{"id": "101", "region": "b"}""")
    load("f3.json", """{"id": "1000", "region": "c"}""")
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get

    // baseline: no predicate plans every committed root
    assert(roots(read()) == 3)
    // numeric range: only the middle batch's interval overlaps
    val mid = read().filter(col("id") >= 90 && col("id") <= 200)
    assert(roots(mid) == 1,
      s"expected 1 surviving root, plan:\n${mid.queryExecution.optimizedPlan}")
    assert(mid.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(100L, 101L), "pruning changed the answer")
    // string equality composes through the same rule
    val b = read().filter(col("region") === "b")
    assert(roots(b) == 1)
    assert(b.count() == 2)
    // conjuncts COMPOSE across columns: id range admits batches 2+3,
    // region pins batch 3 — intersection plans exactly one root
    val both = read().filter(col("id") >= 90 && col("region") === "c")
    assert(roots(both) == 1)
    assert(both.select("id").collect().map(_.getLong(0)).toSeq == Seq(1000L))
    // nothing overlaps: the branch collapses to an empty local relation
    val none = read().filter(col("region") === "x")
    assert(roots(none) == 0)
    assert(none.count() == 0)
    // conservative: a non-literal predicate prunes nothing
    assert(roots(read().filter(col("id") >= col("id") - 1)) == 3)
    // and the recorded intervals agree with the planner's decision
    assert(WarehouseLoad.committedBatches(spark, hist).count { id =>
      WarehouseLoad.batchStats(spark, hist, id).get.zones.get("id").forall {
        case WarehouseLoad.NumZone(lo, hi) => hi >= 90 && lo <= 200
        case _ => true
      }
    } == 1)
  }

  test("zone-prune r16: per-file stats drop FILES inside surviving batch roots") {
    // The file-level tier (VERDICT r15 #1, Delta add-file stats): a
    // multi-file batch whose files have disjoint recorded ranges plans
    // only the overlapping FILES — before a scan task or footer read
    // of the pruned files exists. Batch-root pruning composes on top.
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val wh = tmpDir("graft-fzwh-") + "/t"
    val hist = tmpDir("graft-fzhist-") + "/h"
    // 4 files with disjoint k ranges: [0,99] [100,199] [200,299] [300,399]
    val df = spark.range(400)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    WarehouseLoad.commitStreamedBatch(spark, df.toDF(), wh, hist, "fz0")
    // second batch far away: [1000, 1099], one file
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(1000, 1100).select(col("id").as("k"),
        (col("id") % 7).as("v")).coalesce(1).toDF(), wh, hist, "fz1")
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    def scan(dfq: org.apache.spark.sql.DataFrame): (Int, Int) =
      dfq.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            (fs.location.rootPaths.size, fs.location.inputFiles.length)
          case _ => (0, 0)
        }
      }.foldLeft((0, 0))((a, b) => (a._1 + b._1, a._2 + b._2))

    assert(scan(read()) == ((2, 5)), "baseline: 2 roots, 4+1 files")
    // point-ish range inside file 2 of batch 1: 1 root, 1 file
    val one = read().filter(col("k") >= 150 && col("k") <= 160)
    assert(scan(one) == ((1, 1)),
      s"expected 1 root / 1 file:\n${one.queryExecution.optimizedPlan}")
    assert(one.count() == 11L, "file pruning changed the answer")
    // half-open range: files 1-3 of batch 1 survive, batch 2 pruned
    val lo = read().filter(col("k") < 250)
    assert(scan(lo) == ((1, 3)),
      s"expected 1 root / 3 files:\n${lo.queryExecution.optimizedPlan}")
    assert(lo.count() == 250L)
    // spans both batches: batch 1 keeps 1 file, batch 2 keeps its file
    val both = read().filter(col("k") >= 350)
    assert(scan(both) == ((2, 2)),
      s"expected 2 roots / 2 files:\n${both.queryExecution.optimizedPlan}")
    assert(both.count() == 150L)
    // conservative: a non-literal predicate prunes nothing
    assert(scan(read().filter(col("k") >= col("v"))) == ((2, 5)))
    // and the recorded manifest actually carries per-file intervals
    val ids = WarehouseLoad.committedBatches(spark, hist)
    val st0 = WarehouseLoad.batchStats(spark, hist, ids.head).get
    assert(st0.fileZones.size == 4, st0.fileZones.keys.toString)
    assert(st0.fileZones.values.forall(_.contains("k")))

    // per-file NULL COUNTS prune too: one batch, two files split at a
    // record boundary — the lower file's v is all null, the upper's
    // never null. IS NULL keeps only the all-null file; IS NOT NULL
    // (and every comparison) proves the all-null file empty.
    val mrpf = "spark.sql.files.maxRecordsPerFile"
    val old = spark.conf.getOption(mrpf)
    spark.conf.set(mrpf, "100")
    try {
      WarehouseLoad.commitStreamedBatch(spark,
        spark.range(500, 700).select(col("id").as("k"),
          org.apache.spark.sql.functions.when(col("id") < 600,
            org.apache.spark.sql.functions.lit(null))
            .otherwise(col("id") % 7).as("v"))
          .coalesce(1).sortWithinPartitions("k").toDF(),
        wh, hist, "fz2")
    } finally old match {
      case Some(v) => spark.conf.set(mrpf, v)
      case None => spark.conf.unset(mrpf)
    }
    assert(scan(read()) == ((3, 7)))
    val isNull = read().filter(col("v").isNull)
    assert(scan(isNull) == ((1, 1)),
      s"IS NULL must keep only the all-null file:\n${isNull.queryExecution.optimizedPlan}")
    assert(isNull.count() == 100L)
    val notNull = read().filter(col("v").isNotNull &&
      col("k") >= 500 && col("k") <= 699)
    assert(scan(notNull) == ((1, 1)),
      s"IS NOT NULL must drop the all-null file:\n${notNull.queryExecution.optimizedPlan}")
    assert(notNull.count() == 100L)
  }

  test("zone-prune r14: dictionary, OR, IS [NOT] NULL, prefix, and IN prune past what intervals can") {
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    val staging = tmpDir("graft-zdstage-")
    val wh = tmpDir("graft-zdwh-") + "/t"
    val hist = tmpDir("graft-zdhist-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    def load(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(staging, name),
        rows.mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    }
    // Every batch's src INTERVAL spans the probes (mixed sources — the
    // real corpus layout); only the DICTIONARY separates them. The
    // note column is all-null in b1, null-free in b2, mixed in b3.
    load("f1.json",
      """{"id": "1", "src": "arxiv"}""",
      """{"id": "2", "src": "zlib"}""")
    load("f2.json",
      """{"id": "10", "src": "arxiv", "note": "x"}""",
      """{"id": "11", "src": "web", "note": "y"}""",
      """{"id": "12", "src": "zlib", "note": "z"}""")
    load("f3.json",
      """{"id": "20", "src": "books"}""",
      """{"id": "21", "src": "wiki", "note": "w"}""")
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get

    assert(roots(read()) == 3)
    // dictionary: every interval ['arxiv'..'zlib']-ish spans 'web',
    // only b2's value SET holds it
    val web = read().filter(col("src") === "web")
    assert(roots(web) == 1,
      s"dict must prune what intervals cannot:\n${web.queryExecution.optimizedPlan}")
    assert(web.count() == 1)
    // disjunction: each disjunct misses b1 and b2's dicts; b3 holds both
    val or = read().filter(col("src") === "books" || col("src") === "wiki")
    assert(roots(or) == 1)
    assert(or.count() == 2)
    // a disjunct nobody holds composes to empty
    val orNone = read().filter(col("src") === "c4" || col("src") === "cc")
    assert(roots(orNone) == 0)
    assert(orNone.count() == 0)
    // IN probes each point against the dict (envelope would keep all)
    val in = read().filter(col("src").isin("web", "common"))
    assert(roots(in) == 1)
    assert(in.count() == 1)
    // IS NOT NULL prunes the all-null batch; IS NULL the null-free one
    val nn = read().filter(col("note").isNotNull)
    assert(roots(nn) == 2, s"\n${nn.queryExecution.optimizedPlan}")
    assert(nn.count() == 4)
    val isn = read().filter(col("note").isNull)
    assert(roots(isn) == 2, s"\n${isn.queryExecution.optimizedPlan}")
    assert(isn.count() == 3)
    // all-null short-circuit: ANY comparison misses b1's all-null note
    val cmp = read().filter(col("note") >= "a")
    assert(roots(cmp) == 2)
    assert(cmp.count() == 4)
    // prefix (LIKE 'wi%'): dict membership decides
    val pre = read().filter(col("src").startsWith("wi"))
    assert(roots(pre) == 1)
    assert(pre.count() == 1)
    // INTEGRAL dictionaries (r14): the id intervals so far are
    // [1,2],[10,12],[20,21] — load a GAPPED wave {5, 9} whose
    // interval [5,9] spans 7; only the value set proves the miss
    load("f3b.json",
      """{"id": "5", "src": "arxiv", "note": "g"}""",
      """{"id": "9", "src": "zlib", "note": "h"}""")
    val idMiss = read().filter(col("id") === 7)
    assert(roots(idMiss) == 0,
      s"int dict must prune inside the interval:\n${idMiss.queryExecution.optimizedPlan}")
    assert(idMiss.count() == 0)
    val idHit = read().filter(col("id") === 9)
    assert(roots(idHit) == 1)
    assert(idHit.count() == 1)
    val idIn = read().filter(col("id").isin(2, 9))
    assert(roots(idIn) == 2)
    assert(idIn.count() == 2)
    // dictionaries survive compaction (union ≤ cap) — fold everything,
    // re-load a disjoint wave, and the dict still separates the fold
    // from the new batch
    WarehouseLoad.compactCommitted(spark, wh, hist)
    load("f4.json", """{"id": "30", "src": "web", "note": "v"}""")
    assert(roots(read()) == 2)
    val webAfter = read().filter(col("src") === "books")
    assert(roots(webAfter) == 1, "merged dict must still prune")
    assert(webAfter.count() == 1)
    // and the merged null counts stay sound: the fold has 3 nulls of 7
    // rows (no prune), the new batch is null-free (IS NULL prunes it)
    val isnAfter = read().filter(col("note").isNull)
    assert(roots(isnAfter) == 1)
    assert(isnAfter.count() == 3)
    // NOT-equality (the curation EXCLUDE class): the single-source f4
    // batch's dict {web} is covered by the excluded set, so
    // `src != 'web'` plans only the fold; NOT IN likewise
    val ne = read().filter(col("src") =!= "web")
    assert(roots(ne) == 1,
      s"!= must prune the single-value batch:\n${ne.queryExecution.optimizedPlan}")
    assert(ne.count() == 8)
    val nin = read().filter(!col("src").isin("web", "arxiv"))
    assert(roots(nin) == 1)
    assert(nin.count() == 5)
  }

  test("manifest file index: committed scans + load history plan from the log, zero listing; a manifest without file lists fails loudly") {
    import java.nio.file.{Files, Paths}
    import graft.load.{AtomicManifest, WarehouseLoad}
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val staging = tmpDir("graft-mfistage-")
    val wh = tmpDir("graft-mfiwh-") + "/t"
    val hist = tmpDir("graft-mfihist-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def load(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(staging, name),
        rows.mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    }
    load("f1.json", """{"id": "1"}""", """{"id": "2"}""")
    load("f2.json", """{"id": "100"}""")
    load("f3.json", """{"id": "1000"}""")
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    def locations(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location
        }
      }

    // the committed relation is built FROM THE LOG — no listing index
    val locs = locations(read())
    assert(locs.size == 1 && locs.head.isInstanceOf[ManifestFileIndex],
      s"expected a ManifestFileIndex scan, got $locs")
    assert(locs.head.rootPaths.size == 3)
    assert(read().count() == 4)
    // zone pruning RESTRICTS the manifest index — still zero I/O
    val pruned = read().filter(col("id") >= 90 && col("id") <= 200)
    val plocs = locations(pruned)
    assert(plocs.size == 1 && plocs.head.isInstanceOf[ManifestFileIndex])
    assert(plocs.head.rootPaths.size == 1,
      s"zone pruning must restrict the manifest index:\n" +
      s"${pruned.queryExecution.optimizedPlan}")
    assert(pruned.select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(100L))
    // the load history plans from the log too, and stays batch-exact
    val lf = WarehouseLoad.loadedFiles(spark, hist).get
    assert(locations(lf).forall(_.isInstanceOf[ManifestFileIndex]),
      "loadedFiles must plan from the recorded history file lists")
    assert(lf.select("batch").distinct().count() == 3)
    assert(lf.count() == 3)

    // every commit records its row count, so a manifest without one
    // is corruption too: the read refuses, naming the batch
    val counted = WarehouseLoad.committedBatches(spark, hist)(1)
    val countedTxt =
      AtomicManifest.read(spark, s"$hist/b$counted", "_ZONEMAP").get
    AtomicManifest.write(spark, s"$hist/b$counted", "_ZONEMAP",
      countedTxt.linesIterator.filterNot(_.startsWith("#c ")).mkString("\n"))
    val uncounted = intercept[IllegalStateException](read())
    assert(uncounted.getMessage.contains(s"batch $counted "),
      uncounted.getMessage)
    AtomicManifest.write(spark, s"$hist/b$counted", "_ZONEMAP", countedTxt)

    // every commit records its file lists, so a manifest without them
    // is corruption: strip one batch's recorded file lines and the
    // read refuses, naming the batch, instead of listing the dir
    val anyId = WarehouseLoad.committedBatches(spark, hist).head
    val txt = AtomicManifest.read(spark, s"$hist/b$anyId", "_ZONEMAP").get
    AtomicManifest.write(spark, s"$hist/b$anyId", "_ZONEMAP",
      txt.linesIterator.filterNot(l =>
        l.startsWith("#f") || l.startsWith("#hf")).mkString("\n"))
    val refused = intercept[IllegalStateException](read())
    assert(refused.getMessage.contains(s"batch $anyId "), refused.getMessage)
    intercept[IllegalStateException](WarehouseLoad.loadedFiles(spark, hist))
  }

  /** The commit-log invariant every writer keeps: each committed
    * batch's `_ZONEMAP` records its schema and both file lists (the
    * data list matching the batch dir on disk), and the committed
    * read plans log-built scans only — no listing, no footer merge. */
  private def assertManifestInvariant(wh: String, hist: String,
                                      after: String): Unit = {
    import graft.load.{AtomicManifest, WarehouseLoad}
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val ids = WarehouseLoad.committedBatches(spark, hist)
    assert(ids.nonEmpty, s"after $after: nothing committed")
    ids.foreach { id =>
      val lines = AtomicManifest.read(spark, s"$hist/b$id", "_ZONEMAP")
        .getOrElse(fail(s"after $after: batch $id has no _ZONEMAP"))
        .linesIterator.toSeq
      Seq("#s ", "#fc ", "#hfc ").foreach(tag =>
        assert(lines.exists(_.startsWith(tag)),
          s"after $after: batch $id records no '$tag' line"))
      val st = WarehouseLoad.batchStats(spark, hist, id).get
      val dir = java.nio.file.Paths.get(s"$wh/b$id")
      val onDisk =
        if (!java.nio.file.Files.exists(dir)) Set.empty[String]
        else {
          val walk = java.nio.file.Files.walk(dir)
          try walk.iterator().asScala
            .filter(p => java.nio.file.Files.isRegularFile(p))
            .map(p => dir.relativize(p).toString)
            .filterNot(_.split("/").exists(s =>
              s.startsWith("_") || s.startsWith(".")))
            .toSet
          finally walk.close()
        }
      assert(st.files.map(_._1).toSet == onDisk,
        s"after $after: batch $id records ${st.files} but holds $onDisk")
      assert(st.histFiles.nonEmpty,
        s"after $after: batch $id records no history file")
    }
    WarehouseLoad.readWarehouse(spark, wh, hist).foreach { df =>
      val locs = df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
          lr.relation.asInstanceOf[HadoopFsRelation].location
      }
      assert(locs.nonEmpty && locs.forall(_.isInstanceOf[ManifestFileIndex]),
        s"after $after: the committed read planned $locs")
    }
  }

  test("every commit-log writer records its manifest; the committed read plans from it alone") {
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import spark.implicits._
    val staging = tmpDir("graft-invstage-")
    val root = tmpDir("graft-inv-")
    val (wh, hist) = (s"$root/t", s"$root/h")
    val target = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    def count() = WarehouseLoad.readWarehouse(spark, wh, hist).get.count()
    Seq(0, 10, 20).foreach { base =>
      Files.writeString(Paths.get(staging, s"f$base.json"),
        (base until base + 10).map(i => s"""{"k": "$i", "v": "s$i"}""")
          .mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    }
    assertManifestInvariant(wh, hist, "batchIdempotent")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(30, 40).select(col("id").as("k"),
        col("id").cast("string").as("v")), wh, hist, "epoch-0")
    assertManifestInvariant(wh, hist, "a streamed epoch")
    assert(WarehouseLoad.mergeCommitted(spark, wh, hist,
      Seq((5L, "u5"), (99L, "i99")).toDF("k", "v"), Seq("k")) == ((1L, 1L)))
    assertManifestInvariant(wh, hist, "mergeCommitted")
    assert(WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(15L).toDF("k"), Seq("k")) == 1L)
    assertManifestInvariant(wh, hist, "takedownVectorized")
    assert(WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(25L).toDF("k"), Seq("k")) == 1L)
    assertManifestInvariant(wh, hist, "takedownCommitted")
    val v = WarehouseLoad.currentVersion(spark, hist)
    assert(WarehouseLoad.compactSmall(spark, wh, hist, Long.MaxValue) >= 2)
    assertManifestInvariant(wh, hist, "compactSmall")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(40, 50).select(col("id").as("k"),
        col("id").cast("string").as("v")), wh, hist, "epoch-1")
    WarehouseLoad.compactZOrdered(spark, wh, hist, "k", "k", numFiles = 2)
    assertManifestInvariant(wh, hist, "compactZOrdered")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(50, 55).select(col("id").as("k"),
        col("id").cast("string").as("v")), wh, hist, "epoch-2")
    WarehouseLoad.compactCommitted(spark, wh, hist)
    assertManifestInvariant(wh, hist, "compactCommitted")
    assert(count() == 54L)
    WarehouseLoad.restoreWarehouse(spark, wh, hist, v)
    assertManifestInvariant(wh, hist, "restoreWarehouse")
    assert(count() == 39L)
  }

  test("a table with no zone-mappable column records its manifest: compactSmall folds it, a DV takedown carries its files") {
    // decimal and boolean columns get no min/max stats, yet the batch
    // still needs its manifest: the committed read, compactSmall's
    // size and a DV takedown's file match all come from it
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.types.{BooleanType, DecimalType, StructField, StructType}
    import spark.implicits._
    val staging = tmpDir("graft-nzstage-")
    val root = tmpDir("graft-nz-")
    val (wh, hist) = (s"$root/t", s"$root/h")
    val target = StructType(Seq(StructField("id", DecimalType(10, 2)),
      StructField("ok", BooleanType)))
    Seq(0, 10, 20).foreach { base =>
      Files.writeString(Paths.get(staging, s"f$base.json"),
        (base until base + 10).map(i => s"""{"id": "$i.5", "ok": "${i % 2 == 0}"}""")
          .mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist)
    }
    assertManifestInvariant(wh, hist, "batchIdempotent (decimal/boolean)")
    val before = WarehouseLoad.committedBatches(spark, hist)
    val hidden = WarehouseLoad.takedownVectorized(spark, wh, hist,
      Seq(BigDecimal("12.50")).toDF("id")
        .select($"id".cast(DecimalType(10, 2)).as("id")), Seq("id"))
    assert(hidden == 1L)
    val rewritten = WarehouseLoad.committedBatches(spark, hist)
      .filterNot(before.toSet)
    assert(rewritten.size == 1)
    val st = WarehouseLoad.batchStats(spark, hist, rewritten.head).get
    assert(st.dv.valuesIterator.map(_.cardinality).sum == 1L,
      "the DV takedown must carry the batch's files and hide the row")
    assertManifestInvariant(wh, hist, "takedownVectorized (decimal/boolean)")
    assert(WarehouseLoad.compactSmall(spark, wh, hist, Long.MaxValue) == 3)
    assert(WarehouseLoad.committedBatches(spark, hist).size == 1)
    assertManifestInvariant(wh, hist, "compactSmall (decimal/boolean)")
    val df = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(df.count() == 29L)
    assert(df.filter($"id" === BigDecimal("12.50")).count() == 0L)
  }

  test("a streamed epoch of binary/array columns records its manifest; a fold of file-less batches records one too") {
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.{array, col, lit}
    val root = tmpDir("graft-bin-")
    val (wh, hist) = (s"$root/t", s"$root/h")
    def epoch(from: Long, to: Long, id: String,
              partitionCols: Seq[String] = Nil): Unit =
      WarehouseLoad.commitStreamedBatch(spark,
        spark.range(from, to, 1, 2).select(
          (Seq(col("id").cast("string").cast("binary").as("b"),
            array(col("id"), lit(1L)).as("xs")) ++
            partitionCols.map(c => (col("id") % 2).as(c))): _*),
        wh, hist, id, partitionCols)
    // file-less batches: a hive-partitioned write of no rows creates no
    // partition dir, hence no file
    epoch(0, 0, "empty-0", Seq("p"))
    epoch(0, 0, "empty-1", Seq("p"))
    WarehouseLoad.committedBatches(spark, hist).foreach(id =>
      assert(WarehouseLoad.batchStats(spark, hist, id).get.files.isEmpty,
        s"batch $id was meant to hold no file"))
    WarehouseLoad.compactCommitted(spark, wh, hist)
    val fold = WarehouseLoad.committedBatches(spark, hist)
    assert(fold.size == 1 && fold.head.startsWith("compact-"))
    assertManifestInvariant(wh, hist, "a fold of file-less batches")
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).isEmpty)
    epoch(0, 6, "bin-0")
    assertManifestInvariant(wh, hist, "a binary/array streamed epoch")
    val df = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(df.count() == 6L)
    assert(df.schema.fieldNames.toSeq == Seq("b", "xs"))
  }

  test("a write of no rows commits no data file: an empty flat epoch, and a CDC merge that tombstones every row of a batch") {
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = tmpDir("graft-nofile-")
    val (wh, hist) = (s"$root/t", s"$root/h")
    def epoch(from: Long, to: Long, id: String): Unit =
      WarehouseLoad.commitStreamedBatch(spark,
        spark.range(from, to).select(col("id").as("k"),
          col("id").cast("string").as("v")), wh, hist, id)
    def stats(id: String) = WarehouseLoad.batchStats(spark, hist, id).get
    epoch(0, 0, "empty-0")
    assert(stats("empty-0").files.isEmpty && stats("empty-0").rows == 0L,
      s"an empty epoch committed ${stats("empty-0").files}")
    assertManifestInvariant(wh, hist, "an empty flat epoch")
    epoch(0, 3, "rows-1")
    epoch(10, 12, "rows-2")
    // the rewrite path (deletion vectors off) rewrites a batch whose
    // every row is tombstoned as a batch of no rows
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong("graft.dv.maxRows", 0L)
    try {
      val src = Seq((0L, "x", "D"), (1L, "x", "D"), (2L, "x", "D"))
        .toDF("k", "v", "op")
      assert(WarehouseLoad.mergeCdc(spark, wh, hist, src, Seq("k"),
        "op = 'D'") == ((0L, 0L, 3L)))
    } finally conf.unset("graft.dv.maxRows")
    val rewritten = WarehouseLoad.committedBatches(spark, hist)
      .filterNot(Set("empty-0", "rows-2"))
    assert(rewritten.size == 1 && rewritten.head != "rows-1")
    assert(stats(rewritten.head).files.isEmpty,
      s"the tombstoned batch committed ${stats(rewritten.head).files}")
    assertManifestInvariant(wh, hist, "a merge that tombstones a batch")
    assert(WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(10L, 11L))
  }

  test("batches recording one nested type with different null flags read as one table, through a merge rewrite too") {
    // array(...) records non-null elements, a JSON target's ArrayType
    // nullable ones: the same column, so the read must reconcile them
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.{array, col, lit}
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    import spark.implicits._
    val staging = tmpDir("graft-nnstage-")
    val root = tmpDir("graft-nn-")
    val (wh, hist) = (s"$root/t", s"$root/h")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(0, 5).select(col("id").as("k"),
        array(col("id"), lit(1L)).as("xs")), wh, hist, "epoch-0")
    Files.writeString(Paths.get(staging, "f.json"),
      (5 until 10).map(i => s"""{"k": "$i", "xs": [$i, 2]}""")
        .mkString("", "\n", "\n"))
    WarehouseLoad.batchIdempotent(spark, staging,
      StructType(Seq(StructField("k", LongType),
        StructField("xs", ArrayType(LongType)))), wh, hist)
    val recorded = WarehouseLoad.committedBatches(spark, hist).map(id =>
      WarehouseLoad.batchStats(spark, hist, id).get.schemaJson).distinct
    assert(recorded.size == 2,
      s"the two writers were meant to record different null flags: $recorded")
    assertManifestInvariant(wh, hist, "an array epoch, then a JSON array load")
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    assert(read().schema("xs").dataType == ArrayType(LongType, containsNull = true))
    assert(read().count() == 10L)
    // the merge's rewrite path reads the hit batch at its recorded
    // schema and leaves the table readable
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setLong("graft.dv.maxRows", 0L)
    try assert(WarehouseLoad.mergeCommitted(spark, wh, hist,
        Seq((2L, Seq(7L)), (6L, Seq(8L))).toDF("k", "xs"), Seq("k")) == ((2L, 0L)))
    finally conf.unset("graft.dv.maxRows")
    assertManifestInvariant(wh, hist, "a merge rewrite")
    val after = read()
    assert(after.count() == 10L)
    assert(after.filter(col("k").isin(2L, 6L)).orderBy("k").select("xs")
      .as[Seq[Long]].collect().toSeq == Seq(Seq(7L), Seq(8L)))
  }

  test("the driver-written history file reads the same through Spark's own parquet reader as through the log-built scan") {
    // the load history is written by the driver (writeHistoryList), not
    // by Spark, and only the log-built scan reads it — pin the file
    // against spark.read.parquet: same rows, same nullable file STRING
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val staging = tmpDir("graft-hdstage-")
    val root = tmpDir("graft-hd-")
    val (wh, hist) = (s"$root/t", s"$root/h")
    Seq("a.json", "b c.json").foreach(n =>
      Files.writeString(Paths.get(staging, n), """{"k": "1"}""" + "\n"))
    WarehouseLoad.batchIdempotent(spark, staging,
      StructType(Seq(StructField("k", LongType))), wh, hist)
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(2, 3).select(col("id").as("k")), wh, hist, "epoch-0")
    val Seq(loaded, streamed) = WarehouseLoad.committedBatches(spark, hist)
    val expected = StructType(Seq(StructField("file", StringType, nullable = true)))
    val logBuilt = WarehouseLoad.loadedFiles(spark, hist).get
    assert(logBuilt.select("file").schema == expected)
    def rows(df: DataFrame) = df.collect().map(_.getString(0)).sorted.toSeq
    Seq(loaded -> 2, streamed -> 0).foreach { case (id, n) =>
      val sparkRead = spark.read.parquet(s"$hist/b$id")
      assert(sparkRead.schema == expected, s"batch $id: ${sparkRead.schema}")
      val fromLog = logBuilt.filter(col("batch") === id).select("file")
      assert(rows(sparkRead) == rows(fromLog), s"batch $id")
      assert(rows(sparkRead).size == n, s"batch $id")
    }
  }

  test("additive schema drift keeps the log-planned scan: one ManifestFileIndex, old batches read the new column as null") {
    // VERDICT r14 #4: pre-r15 the manifest tier required every live
    // batch to record the IDENTICAL schema, so an evolution window
    // (old + new batches both live) silently dropped the table to
    // discovery listing until a compaction unified it. Additive drift
    // now conforms per batch: the scan gets the merged union schema
    // and parquet fills the missing column with null.
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val staging = tmpDir("graft-driftstage-")
    val wh = tmpDir("graft-driftwh-") + "/t"
    val hist = tmpDir("graft-drifthist-") + "/h"
    val v1 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    Files.writeString(Paths.get(staging, "f1.json"), """{"id": "1"}""" + "\n")
    WarehouseLoad.batchIdempotent(spark, staging, v1, wh, hist)
    // drift: a new staged field appears; evolve widens the target
    Files.writeString(Paths.get(staging, "f2.json"),
      """{"id": "2", "tier": "gold"}""" + "\n")
    val v2 = graft.schema.SchemaDrift.evolve(spark, staging, v1)
    WarehouseLoad.batchIdempotent(spark, staging, v2, wh, hist)
    val df = WarehouseLoad.readWarehouse(spark, wh, hist).get
    val locs = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location
      }
    }
    assert(locs.size == 1 && locs.head.isInstanceOf[ManifestFileIndex],
      s"an additive evolution window must keep the log plan, got $locs")
    assert(locs.head.rootPaths.size == 2)
    val got = df.select("id", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> None, 2L -> Some("gold")),
      "old batches must read the evolved column as null")
  }

  test("type-widening retype window plans from the log: one relation per schema generation, cast to the widened union") {
    // VERDICT r15 #3: an int→long (or float→double) retype wave used
    // to drop the table to the discovery union — the same plan-cliff
    // class the r15 layout-generation work killed — because the
    // manifest tier demanded exact type agreement. Parquet-safe
    // promotions now plan one log-built relation per recorded schema
    // generation, each read AT ITS OWN type and cast exactly to the
    // widened schema.
    import graft.load.WarehouseLoad
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val wh = tmpDir("graft-widwh-") + "/t"
    val hist = tmpDir("graft-widhist-") + "/h"
    // generation 1: id INT, score FLOAT; generation 2: id LONG, DOUBLE
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(3).select(col("id").cast("int").as("id"),
        (col("id") * 2).cast("float").as("score")).toDF(),
      wh, hist, "gen1")
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(10, 13).select(col("id").as("id"),
        (col("id") * 2).cast("double").as("score")).toDF(),
      wh, hist, "gen2")
    val df = WarehouseLoad.readWarehouse(spark, wh, hist).get
    // widened read schema, both generations log-built (no discovery)
    assert(df.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(df.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val locs = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location
      }
    }
    assert(locs.size == 2 && locs.forall(_.isInstanceOf[ManifestFileIndex]),
      s"a retype window must keep the log plan, got ${locs.size}: $locs")
    // values exact through the widening casts
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 10L, 11L, 12L))
    assert(df.filter(col("id") >= 10L).agg(
        org.apache.spark.sql.functions.sum("score")).head().getDouble(0)
      == 66.0)
    // zone pruning FIRES ACROSS the widening window: the user filter
    // pushes through the conform projection (Catalyst substitutes the
    // cast and unwraps it against the literal), so each generation's
    // branch is a plain Filter over its ManifestFileIndex and the
    // gen-1 root leaves the plan entirely
    val hi = df.filter(col("id") >= 10L)
    val hiScans = hi.queryExecution.optimizedPlan.collect {
      case lr2: LogicalRelation => lr2.relation match {
        case fs: HadoopFsRelation => fs.location
      }
    }
    assert(hiScans.size == 1,
      s"gen-1's root must prune across the widening window:\n${hi.queryExecution.optimizedPlan}")
    assert(hi.count() == 3L)

    // an UNWIDENABLE retype (string vs long) is NOT conformable by any
    // exact cast: the table falls to discovery, where Spark's own
    // footer merge refuses loudly — an incompatible retype is an
    // error, never a silently-coerced read
    WarehouseLoad.commitStreamedBatch(spark,
      spark.range(20, 21).select(col("id").cast("string").as("id"),
        (col("id") * 2).cast("double").as("score")).toDF(),
      wh, hist, "gen3")
    intercept[org.apache.spark.SparkException] {
      WarehouseLoad.readWarehouse(spark, wh, hist).get.count()
    }
  }

  test("mixed flat + partitioned batch layouts plan from the log: one relation per layout generation, not per batch") {
    // r15: a table whose life spans a layout change (flat loads, then
    // hive-partitioned ones) used to reject the manifest tier WHOLE
    // and fall to the per-batch discovery union — measured 80 s to
    // plan at 1,001 mixed commits (CommitScale r15). Now each layout
    // generation plans one log-built relation and the mix unions.
    import graft.load.WarehouseLoad
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = tmpDir("graft-mixlay-")
    val wh = s"$root/t"
    val hist = s"$root/h"
    import spark.implicits._
    // generation 1: two flat batches (tag is a data column)
    WarehouseLoad.commitStreamedBatch(spark,
      Seq((1L, "a")).toDF("id", "tag"), wh, hist, "f0")
    WarehouseLoad.commitStreamedBatch(spark,
      Seq((2L, "b")).toDF("id", "tag"), wh, hist, "f1")
    // generation 2: two hive-partitioned batches (tag is the layout)
    WarehouseLoad.commitStreamedBatch(spark,
      Seq((3L, "a")).toDF("id", "tag"), wh, hist, "p0",
      partitionCols = Seq("tag"))
    WarehouseLoad.commitStreamedBatch(spark,
      Seq((4L, "b")).toDF("id", "tag"), wh, hist, "p1",
      partitionCols = Seq("tag"))
    val df = WarehouseLoad.readWarehouse(spark, wh, hist).get
    val locs = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location
      }
    }
    assert(locs.size == 2, s"expected one relation per layout, got $locs")
    assert(locs.forall(_.isInstanceOf[ManifestFileIndex]),
      s"both layout generations must plan from the log: $locs")
    val got = df.select("id", "tag").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "b"))
    // a tag filter prunes the partitioned generation's directories and
    // plain-filters the flat one — same answer as discovery semantics
    assert(df.filter(col("tag") === "a").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the _metadata.file_path consumers survive the mix (r15 review
    // #1: metadata never resolves through a Union — each layout
    // generation must be tagged before the cross-group union): the
    // change feed tags batch ids exactly…
    val head = WarehouseLoad.currentVersion(spark, hist)
    val feed = WarehouseLoad.changes(spark, wh, hist, 0, head).get
      .select("id", "_graft_batch").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feed == Map(1L -> "f0", 2L -> "f1", 3L -> "p0", 4L -> "p1"))
    // …and the takedown probe finds + rewrites only the hit batches
    import spark.implicits._
    WarehouseLoad.takedownCommitted(spark, wh, hist,
      Seq(1L).toDF("id"), Seq("id"))
    val after = WarehouseLoad.readWarehouse(spark, wh, hist).get
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(2L, 3L, 4L), "mixed-layout takedown broke")
  }

  test("log-planned partitions: typed, null, and escaped values round-trip; filters prune exactly") {
    // The partitioned manifest index OWNS partition-filter evaluation
    // (FileSourceStrategy strips partition filters from the after-scan
    // set), so value parsing must be lossless for every class the
    // layout can spell: a non-string type (cast through Spark's own
    // string→type Cast), the hive null marker, and %XX-escaped
    // metacharacters.
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val staging = tmpDir("graft-pvstage-")
    val wh = tmpDir("graft-pvwh-") + "/t"
    val hist = tmpDir("graft-pvhist-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    def load(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(staging, name),
        rows.mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist,
        partitionCols = Seq("y", "tag"))
    }
    load("f1.json",
      """{"id": "1", "y": "2023", "tag": "a b"}""",
      """{"id": "2", "y": "2024", "tag": "x=y"}""")
    load("f2.json",
      """{"id": "3", "y": "2024"}""", // null tag → hive null marker dir
      """{"id": "4", "y": "2025", "tag": "p%q"}""")
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    read().queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          assert(fs.location.isInstanceOf[ManifestFileIndex],
            s"expected the log-planned index, got ${fs.location.getClass}")
          assert(fs.partitionSchema.fieldNames.toSeq == Seq("y", "tag"))
        case _ => fail("expected a HadoopFsRelation")
      }
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(read()) == Seq(1L, 2L, 3L, 4L))
    // values round-trip exactly
    val byId = read().collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("y"), r.getAs[String]("tag"))).toMap
    assert(byId(1L) == (2023L, "a b"))
    assert(byId(2L) == (2024L, "x=y"))
    assert(byId(3L) == (2024L, null))
    assert(byId(4L) == (2025L, "p%q"))
    // partition filters evaluated by the index — every class exact
    assert(ids(read().filter(col("y") === 2024)) == Seq(2L, 3L))
    assert(ids(read().filter(col("tag") === "x=y")) == Seq(2L))
    assert(ids(read().filter(col("tag") === "p%q")) == Seq(4L))
    assert(ids(read().filter(col("tag").isNull)) == Seq(3L))
    assert(ids(read().filter(col("tag").isNotNull && col("y") >= 2024)) ==
      Seq(2L, 4L))
  }

  test("log-planned partitions: adversarial values match the discovery read exactly") {
    // Ground-truth equivalence: whatever the parse does with nasty
    // partition values, the log-planned relation must agree row-for-
    // row with Spark's own per-root discovery read of the SAME dirs —
    // including the hive null-marker collapse (null and "" both write
    // __HIVE_DEFAULT_PARTITION__ and read back null in stock Spark).
    import graft.load.WarehouseLoad
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = tmpDir("graft-pnasty-")
    val wh = s"$root/t"
    val hist = s"$root/h"
    import spark.implicits._
    // (non-ASCII values are excluded: this JVM's path encoding cannot
    // even WRITE them — Spark's own writer throws InvalidPathException
    // before any graft code runs)
    val values = Seq("a b", "x=y", "p%q", "a/b", "plus+e",
      "%2F", "tab\tchar", null)
    values.zipWithIndex.foreach { case (v, i) =>
      WarehouseLoad.commitStreamedBatch(spark,
        Seq((i.toLong, v)).toDF("id", "tag"), wh, hist, s"w$i",
        partitionCols = Seq("tag"))
    }
    val logRead = WarehouseLoad.readWarehouse(spark, wh, hist).get
    logRead.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          assert(fs.location.isInstanceOf[ManifestFileIndex],
            s"nasty values must not silently disable the log plan: " +
            s"${fs.location.getClass}")
        case _ => ()
      }
    }
    val discovery = WarehouseLoad.committedBatches(spark, hist)
      .map(id => spark.read.parquet(s"$wh/b$id"))
      .reduce(_.unionByName(_))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "tag").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(rows(logRead) == rows(discovery),
      "log-planned partition values diverge from the discovery read")
    // point filters through the index, one per value class
    values.zipWithIndex.foreach { case (v, i) =>
      if (v != null) {
        val got = logRead.filter(col("tag") === v)
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(got == Seq(i.toLong), s"filter on '$v' returned $got")
      }
    }
    assert(logRead.filter(col("tag").isNull)
      .select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(values.indexOf(null).toLong))
  }

  test("partition-path unescape is lossless for supplementary-plane values and refuses malformed escapes") {
    // ADVICE r14: char-at-a-time UTF-8 encoding split surrogate pairs
    // into '?' replacement bytes whenever the value ALSO carried a
    // %XX escape (a pure non-ASCII value short-circuits before the
    // loop). The JVM here cannot write such paths (tested above), but
    // the decode must still be lossless for clusters that can.
    import graft.plans.ManifestFileIndex.unescape
    assert(unescape("plain") == Some("plain"))
    assert(unescape("a%20b") == Some("a b"))
    assert(unescape("🎉") == Some("🎉"))
    // emoji + escaped '=' in one value: the regression case
    assert(unescape("🎉%3Dx") == Some("🎉=x"))
    assert(unescape("x%3D🎉tail") == Some("x=🎉tail"))
    // multi-byte escapes still reassemble into one code point
    assert(unescape("%F0%9F%8E%89") == Some("🎉"))
    // malformed escapes → None (discovery fallback, never a guess)
    assert(unescape("%G1").isEmpty)
    assert(unescape("trunc%2").isEmpty)
  }

  test("zone-prune: HIVE-PARTITIONED batches plan from the log and prune roots + directories") {
    // r14: partitioned tables plan from the commit log too — ONE
    // ManifestFileIndex-backed relation at any batch count (partition
    // values parsed from the recorded paths, partition filters
    // evaluated by the index), with the per-root discovery union as
    // the legacy fallback. ZonePrune prunes the partitioned manifest
    // index by restriction like the unpartitioned one.
    import java.nio.file.{Files, Paths}
    import graft.load.WarehouseLoad
    import graft.plans.ManifestFileIndex
    import org.apache.spark.sql.functions.col
    val staging = tmpDir("graft-zpstage-")
    val wh = tmpDir("graft-zpwh-") + "/t"
    val hist = tmpDir("graft-zphist-") + "/h"
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("region",
        org.apache.spark.sql.types.StringType)))
    def load(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(staging, name),
        rows.mkString("", "\n", "\n"))
      WarehouseLoad.batchIdempotent(spark, staging, target, wh, hist,
        partitionCols = Seq("region"))
    }
    load("f1.json", """{"id": "1", "region": "a"}""",
      """{"id": "2", "region": "b"}""")
    load("f2.json", """{"id": "100", "region": "a"}""",
      """{"id": "101", "region": "c"}""")
    load("f3.json", """{"id": "1000", "region": "c"}""")
    def read() = WarehouseLoad.readWarehouse(spark, wh, hist).get
    def partitionedRoots(df: DataFrame): Int = {
      fsRelations(df).foreach { fs =>
        assert(fs.partitionSchema.nonEmpty,
          "batches must have planned as hive-partitioned roots")
        assert(fs.location.isInstanceOf[ManifestFileIndex],
          "a partitioned committed table must plan from the log, " +
          s"not discovery: ${fs.location.getClass}")
      }
      roots(df)
    }
    assert(partitionedRoots(read()) == 3)
    // a DATA-column interval prunes whole batch roots out of the union
    val mid = read().filter(col("id") >= 90 && col("id") <= 200)
    assert(partitionedRoots(mid) == 1,
      s"partitioned roots must zone-prune per union child:\n" +
      s"${mid.queryExecution.optimizedPlan}")
    assert(mid.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(100L, 101L))
    // and within a surviving root, the partition predicate still prunes
    // DIRECTORIES (zone stats + hive layout compose)
    val one = read().filter(col("id") >= 90 && col("id") <= 200 &&
      col("region") === "c")
    assert(one.select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(101L))
  }
}
