package graft

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md, enforced: the physical-plan properties the 100 TB argument
  * rests on must hold in the actual executed plans — pushdown reaching
  * the parquet scan, broadcast on dimension sides, TakeOrderedAndProject
  * for top-k, partial+final aggregation. A Spark upgrade or refactor
  * that silently regresses any of these fails here, not in production.
  */
class PlansSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  private def explained(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("r1: substring predicate pushed into the parquet scan") {
    val p = plan("r1_substr_filter")
    assert(p.contains("StringContains(p_name,ol)"), p.take(2000))
  }

  test("r6: numeric predicate pushed into the parquet scan") {
    val p = plan("r6_filter_group_count")
    assert(p.contains("GreaterThan(value,50.0)"), p.take(2000))
  }

  test("x1/x2: dimension sides broadcast, no fact-side shuffle for dims") {
    assert(plan("x1_equi_join").contains("BroadcastHashJoin"))
    val x2 = plan("x2_join_agg")
    assert("BroadcastHashJoin".r.findAllMatchIn(x2).size >= 2, x2.take(2000))
  }

  test("x4/l3: global top-k plans TakeOrderedAndProject, not a full sort") {
    assert(plan("x4_topk").contains("TakeOrderedAndProject"))
    assert(plan("l3_cosine_topk").contains("TakeOrderedAndProject"))
  }

  test("r5: aggregation is partial+final (map-side combine)") {
    val p = plan("r5_group_count")
    assert("HashAggregate".r.findAllMatchIn(p).size >= 2, p.take(2000))
  }

  test("l17: per-domain cap is a heap trim (TopKPerKey), never a window over the corpus") {
    val p = plan("l17_domain_cap")
    assert(p.contains("TopKPerKeyPartial"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("x67: version trim is a heap (partial before the exchange); window only over the trimmed manifest") {
    val p = plan("x67_window_dedup_rank")
    assert(p.contains("TopKPerKeyPartial"), p.take(3000))
    // the one Window ranks the keys×2 trimmed rows, DOWNSTREAM of the
    // TopKPerKey exchange — never the raw changelog. executedPlan
    // prints root-first, so downstream = earlier in the string.
    assert(p.indexOf("Window") >= 0 &&
      p.indexOf("Window") < p.indexOf("TopKPerKeyPartial"), p.take(3000))
  }

  test("x68: recount joins broadcast window-candidate pairs; rank windows only the answer") {
    val p = plan("x68_approx_topk_stream")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("cartesian"), p.take(3000))
  }

  test("x70: triangle join is hash joins over the oriented list; top-100 is a bounded heap") {
    val p = plan("x70_triangle_count")
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    // the wedge join runs ONCE: corners is a lateral explode of tri,
    // never a 3-way UNION that would inline the join per branch
    assert("Generate explode".r.findAllMatchIn(p).size == 1, p.take(4000))
    // the oriented list is materialized ONCE and every triangle-join
    // reference reads the checkpointed blocks — round 13 found the old
    // persist+view spelling silently re-deriving it per reference (the
    // cache manager never matches a WithCTE subtree inside the
    // consumer's own WITH chain): the consuming plan must carry ZERO
    // parquet scans, only the LogicalRDD leaves
    assert(!p.contains("FileScan parquet"), p.take(4000))
    assert(p.contains("Scan ExistingRDD"), p.take(4000))
  }

  test("s13: BM25 stats broadcast as one row; top-20 is a bounded heap, no window") {
    val p = plan("s13_bm25_topk")
    // the corpus-level stats (N, Σdl, per-term df) are a single
    // scalar-aggregate row joined back by a broadcast nested loop —
    // never a shuffle keyed on anything corpus-sized
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("s14: both retrieval halves are bounded heaps; windows only rank the 20-row lists") {
    val p = plan("s14_hybrid_rrf")
    // lexical top-20, dense top-20, fused top-10 — three bounded heaps;
    // the corpus-sized text/embedding columns never reach a sort
    assert("TakeOrderedAndProject".r.findAllMatchIn(p).size >= 3, p.take(4000))
    // corpus stats joined back as ONE broadcast row (s13's shape)
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // the row_number windows rank the ≤20-row lists — they sit
    // DOWNSTREAM of (earlier in the root-first string than) the last
    // bounded heap, never over the corpus scan
    assert(p.lastIndexOf("Window") < p.lastIndexOf("TakeOrderedAndProject"), p.take(4000))
  }

  test("t11: fuzzy join candidates are a hash equi-join on variant hashes, never all-pairs") {
    val p = plan("t11_fuzzy_join")
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // the shuffle payload is (hash, doc_id) — the scan reads only the
    // two columns the prefix needs
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p.take(4000))
  }

  test("x71: sketch sides are partial+final aggregates; set algebra joins 1-row sketches") {
    val p = plan("x71_sketch_intersect")
    // each side's sketch builds map-side and merges (the mergeability
    // that makes it k-longs-per-partition at 100 TB)
    assert("ObjectHashAggregate".r.findAllMatchIn(p).size >= 4, p.take(4000))
    // the cross join is 1-row × 1-row — broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("l20: priority sample is a heap trim (TopKPerKey), never a window over the corpus") {
    val p = plan("l20_weighted_sample")
    assert(p.contains("TopKPerKeyPartial"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("p6: index build has no per-vector window; cell argmin rides the scan; top terms a heap") {
    val p = plan("p6_hybrid_index")
    assert(!p.contains("Window"), p.take(4000))
    // round 18: assignment is the nearest_cell_label projection kernel —
    // no argmin aggregate, no centroid join, no corpus exchange for it
    assert(p.contains("nearest_cell_label"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
  }

  test("s15: both eval arms are heaps + projection argmin; no per-vector window") {
    val p = plan("s15_ann_recall")
    assert(!p.contains("Window"), p.take(4000))
    // round 18: the ANN arm's assignment + probe lists are projection
    // kernels (zero-shuffle), not aggregates/TopK over a crossJoin
    assert(p.contains("nearest_cell_label"), p.take(4000))
    assert(p.contains("nearest_cells"), p.take(4000))
    assert("TopKPerKeyPartial".r.findAllMatchIn(p).size >= 2, p.take(4000))
  }

  test("l21: eval set broadcasts; per-doc argmax is a heap, never a corpus window") {
    val p = plan("l21_semantic_decon")
    assert(!p.contains("Window"), p.take(4000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(4000))
    assert(p.contains("TopKPerKeyPartial"), p.take(4000))
  }

  test("x72: both IVM arms aggregate partial+final; the ts split reaches the scan") {
    val p = plan("x72_incremental_agg")
    // two arms × partial+final plus the merge layer
    assert("HashAggregate".r.findAllMatchIn(p).size >= 4, p.take(4000))
    assert(!p.contains("Window"), p.take(4000))
    // the base arm's cut predicate is pushed into its parquet scan
    assert(p.contains("PushedFilters: [IsNotNull(ts), LessThan(ts,"), p.take(4000))
  }

  test("l25: mix plan solves on the answer — totals broadcast as one row, no window") {
    val p = plan("l25_mix_plan")
    assert(!p.contains("Window"), p.take(4000))
    // the 1-row totals side joins via broadcast nested loop
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // corpus collapses map-side before the sources exchange
    assert("HashAggregate".r.findAllMatchIn(p).size >= 2, p.take(4000))
  }

  test("l26: mix apply broadcasts the plan; the corpus side is one scan, no window") {
    val p = plan("l26_mix_apply")
    assert(!p.contains("Window"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("l24: tokenizer eval is one fused-kernel scan + a sources-sized aggregate") {
    val p = plan("l24_tokenizer_eval")
    assert(p.toLowerCase.contains("bpeapplycount"), p.take(4000))
    assert(!p.contains("Join"), p.take(4000))
    assert(!p.contains("Window"), p.take(4000))
    // partial+final: the corpus collapses map-side before the exchange
    assert("HashAggregate".r.findAllMatchIn(p).size >= 2, p.take(4000))
  }

  test("s16: PQ eval reads the stored codes; arms are heaps + sum aggregates; LUTs broadcast; no window") {
    val p = plan("s16_pq_recall")
    assert(!p.contains("Window"), p.take(4000))
    // round 11: the eval scores the STORED codes artifact — the encode
    // argmin is the artifact build's plan, not the eval's
    assert(p.contains("pq_codes_v1_"), p.take(4000))
    assert("TopKPerKeyPartial".r.findAllMatchIn(p).size >= 3, p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("d17: dedup eval carries ids only; the three counts meet as broadcast 1-row sides") {
    val p = plan("d17_dedup_eval")
    assert(!p.contains("Window"), p.take(4000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("p8: refresh merges full aggregates, cuts the head AFTER the merge, no window") {
    val p = plan("p8_index_refresh")
    assert(!p.contains("Window"), p.take(4000))
    // delta term/corpus aggregates + the per-key merge layer (the
    // base side is the stored manifest — a parquet read, no aggregate)
    assert("HashAggregate".r.findAllMatchIn(p).size >= 6, p.take(4000))
    assert(p.contains("p8_base_v1_"), p.take(4000))
    // ONE head cut, downstream of the merge — a bounded heap
    assert("TakeOrderedAndProject".r.findAllMatchIn(p).size == 1, p.take(4000))
    assert(p.contains("nearest_cell_label"), p.take(4000))
  }

  test("x73: delta-term joins only — base partials READ from the stored artifact; split predicates pushed") {
    val p = plan("x73_join_ivm")
    assert(!p.contains("Window"), p.take(4000))
    // round 11: the A₀⋈B₀ term is the stored view — the refresh plan
    // joins ONLY the three delta terms and reads the base partials
    assert(p.contains("x73_base_v1_"), p.take(4000))
    assert("Join".r.findAllMatchIn(p).size >= 3, p.take(4000))
    // the lineitem split is a plain comparison — it must reach parquet
    // in BOTH delta directions (ΔA⋈B₀ scans the lineitem base)
    assert(p.contains("LessThan(l_linenumber,6)"), p.take(4000))
    assert(p.contains("GreaterThanOrEqual(l_linenumber,6)"), p.take(4000))
  }

  test("s17: radius search = broadcast probes + projection argmin; no window beyond it") {
    val p = plan("s17_ivf_radius")
    assert(p.contains("nearest_cell_label"), p.take(4000))
    assert(!p.contains("Window"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("l27: the LM table broadcasts into the corpus scan; per-doc score is an aggregate") {
    val p = plan("l27_bigram_quality")
    assert(!p.contains("Window"), p.take(4000))
    // the reference-bounded model side must broadcast — the corpus
    // side never shuffles by pair key
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    // ref pair + ref left + per-doc aggregates, each partial+final
    assert("HashAggregate".r.findAllMatchIn(p).size >= 6, p.take(4000))
  }

  test("p7: release manifest = fused apply kernel in the scan + per-shard pack window only") {
    val p = plan("p7_tokenizer_release")
    // apply is the fused kernel, never the interpreted fold chain
    assert(p.toLowerCase.contains("bpeapplycount"), p.take(4000))
    // no join anywhere: the trained merges enter as kernel parameters
    assert(!p.contains("Join"), p.take(4000))
    // exactly ONE window — the per-shard pack offset (partitioned by
    // the 8-way hash shard, never a corpus-global frame)
    assert("Window".r.findAllMatchIn(p).size == 1, p.take(4000))
    assert(p.contains("windowspecdefinition(shard"), p.take(4000))
  }

  test("l22: trained-tokenizer apply is the fused kernel inside the scan — no join, no window") {
    val p = plan("l22_bpe_apply")
    assert(p.toLowerCase.contains("bpeapplycount"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("l23: repeat collapse is a pure scan — no join, no window, fused fingerprint") {
    val p = plan("l23_repeat_collapse")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(p.toLowerCase.contains("polyhash"), p.take(3000))
  }

  test("m13: router is one mapPartitions decode pass — no keyed shuffle before the sort") {
    val p = plan("m13_modality_router")
    assert(p.contains("MapPartitions"), p.take(3000))
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("t12: supports and N broadcast back; top-20 is a bounded heap; never cartesian") {
    val p = plan("t12_collocations")
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 2, p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(4000))
  }

  test("d16: calibration joins are keyed equi-joins over the persisted pair manifest") {
    val p = plan("d16_sketch_calibration")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(4000))
    assert(!p.contains("Window"), p.take(4000))
  }

  test("s4: centroid argmin is a projection kernel, not a window sort or aggregate") {
    val p = plan("s4_ann_ivf")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("nearest_cell_label"), p.take(2000))
  }

  test("x21: salted aggregation prunes the scan to key + salt-source columns") {
    val p = plan("x21_salted_agg")
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_returnflag:string>"),
      p.take(2000))
  }

  test("x19: range join is a bucket equi-join, not a nested loop") {
    val p = plan("x19_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Join") || p.contains("hashpartitioning"), p.take(2000))
  }

  test("r3: column pruning reaches the scan (2-column read of 11-column lineitem)") {
    val p = plan("r3_projection")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_returnflag:string>"),
      p.take(2000))
  }

  test("s5: production-threshold LSH keeps the no-nested-loop candidate join") {
    val p = plan("s5_lsh_near_dup_prod")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("x28: session windows plan as the MergingSessions aggregate, no cartesian stage") {
    val p = plan("x28_session_window")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    // the PHYSICAL session-merge node, not the column alias (which would
    // appear in any plan shape and make the assertion vacuous)
    assert(p.contains("MergingSessions"), p.take(2000))
  }

  test("l4: the declared brute-force join spreads its probe side, not one task") {
    // the final orderBy coalesces the (tiny) RESULT, so output partition
    // count says nothing — assert the round-robin exchange that fans the
    // single-split scan out under the pair join is in the plan
    val p = plan("l4_near_dup_pairs")
    assert(p.contains("RoundRobinPartitioning") || p.contains("REPARTITION_BY_NUM"),
      p.take(3000))
  }

  test("l7: sequence packing is one shard-partitioned window, no global sort under it") {
    val p = plan("l7_sequence_pack")
    // exactly one Window operator, running over hashpartitioning(shard)
    assert("Window\\b".r.findAllMatchIn(p).size == 1, p.take(3000))
    assert(p.contains("hashpartitioning(shard"), p.take(3000))
    // the only global (range) sort is the final presentation orderBy —
    // never underneath the window, where it would serialize packing
    val windowIdx = p.indexOf("Window")
    val rangeIdx = p.indexOf("rangepartitioning")
    assert(rangeIdx < windowIdx, // presentation sort sits ABOVE the window
      s"global sort below the packing window:\n${p.take(3000)}")
  }

  test("d6: incremental accept gate plans as anti-joins on ids, never a nested loop") {
    val p = plan("d6_incremental_dedup")
    assert("LeftAnti".r.findAllMatchIn(p).size >= 2, p.take(3000))
    assert(!p.contains("NestedLoop"), p.take(3000))
    // the shingle kernel runs ONCE: all ids references read the
    // checkpointed table (round 13 — the old persist+view spelling
    // re-ran the kernel per SQL-WITH reference); the only parquet
    // scans left are the exact-dup pair and the final accept gate
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
    assert("FileScan parquet".r.findAllMatchIn(p).size <= 3, p.take(3000))
  }

  test("x34: sliding windows plan one Expand into a partial+final aggregate") {
    val p = plan("x34_sliding_window")
    assert("Expand".r.findAllMatchIn(p).size == 1, p.take(3000))
    assert("HashAggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
  }

  test("m3: pre-decode frame probe runs the per-partition kernel seam over the spread scan") {
    val p = plan("m3_frame_sample")
    // the demux + header walk is an imperative kernel behind the
    // object seam, like the rest of the media suite — one pass, no
    // shuffle before the presentation sort
    assert(p.contains("MapPartitions"), p.take(2000))
    assert(p.contains("SerializeFromObject"), p.take(2000))
  }

  test("l8: per-source thresholds broadcast onto the scan — no corpus-wide shuffle join") {
    val p = plan("l8_corpus_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("l9: eval shingle set broadcast against the corpus hash stream") {
    val p = plan("l9_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"), p.take(3000))
  }

  test("x35: full outer join shuffles both sides — broadcast is impossible") {
    val p = plan("x35_full_outer_join")
    assert(p.contains("FullOuter"), p.take(3000))
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("t7: repetition gate is the fused kernel scan — one Exchange (the result sort) only") {
    val p = plan("t7_repetition")
    assert(p.toLowerCase.contains("repetitionstats") || p.contains("repeat_stats"), p.take(2000))
    // no explode + shuffled per-doc aggregates: the only Exchange is
    // the presentation ORDER BY's range partitioning
    assert("Exchange".r.findAllMatchIn(p).size == 1, p.take(3000))
    // exactly ONE Generate — the one-row explode ComputeOncePerRow puts
    // under the pushed-down n_tokens gate so split runs once per row;
    // a second Generate would mean a real per-token explode crept in
    assert("Generate".r.findAllMatchIn(p).size == 1, p.take(3000))
  }

  test("p3: curation pipeline — broadcast contamination probe, id-only anti join, no nested loop") {
    val p = plan("p3_curation_pipeline")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"), p.take(3000))
  }

  test("s6: kNN join — broadcast probes into the scan, partial top-k below the exchange") {
    val p = plan("s6_knn_join")
    // probe side broadcast (the =!= predicate makes it a broadcast
    // nested-loop, which is RIGHT here: tiny build side, scan probe side)
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the scored pair stream must hit the map-side partial heap pass
    // before any exchange — the n·p stream never shuffles
    assert(p.contains("TopKPerKeyPartial"), p.take(3000))
    assert(p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(p.indexOf("TopKPerKeyPartial") > p.indexOf("Exchange hashpartitioning"),
      p.take(3000))
  }

  test("d7: canonical pick is the partial+final top-k heap, never a cluster-wide sort") {
    val p = plan("d7_canonical_docs")
    assert(p.contains("TopKPerKeyPartial"), p.take(3000))
    // the quality signal joins on the 8-byte doc_id; no nested loop
    // anywhere in the composed pipeline
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"), p.take(3000))
  }

  test("d8: semantic dedup — equi-join pair gate, anti-join survivors, no quadratic scan") {
    val p = plan("d8_semantic_dedup")
    // survivors leave as an id-only LEFT ANTI join
    assert(p.contains("LeftAnti"), p.take(3000))
    // the within-cluster pair mine is an equi-join on the cluster id;
    // nothing in the post-assignment pipeline may plan cartesian
    // (the quantizer broadcast sits behind the assignment checkpoint
    // and its argmin shape is pinned by the s4 test on the same helper)
    assert(!p.toLowerCase.contains("cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("x38: correlated EXISTS decorrelates to semi/anti hash joins, never per-row re-execution") {
    val p = plan("x38_exists_subquery")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"), p.take(3000))
  }

  test("l10: epoch shuffle is one shard-partitioned rank window, no global sort under it") {
    val p = plan("l10_global_shuffle")
    // presentation sort on top; beneath it exactly one hash exchange
    // (the shard partitioning) feeding the per-shard window
    assert(p.contains("Window"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size == 1, p.take(3000))
    assert("Exchange rangepartitioning".r.findAllMatchIn(p).size == 1, p.take(3000))
  }

  test("x40: unpivot is one Expand over the scan — no join, no aggregate") {
    val p = plan("x40_unpivot")
    assert(p.contains("Expand"), p.take(3000))
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(3000))
    // the only exchange is the presentation sort's range partitioning
    assert("Exchange".r.findAllMatchIn(p).size == 1, p.take(3000))
  }

  test("x41: lateral aggregate decorrelates to one agg + outer join, never per-row re-execution") {
    val p = plan("x41_lateral")
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"), p.take(3000))
    assert(p.contains("LeftOuter"), p.take(3000))
    // the count-bug guard: empty groups surface 0 through the
    // alwaysTrue null-probe, not NULL
    assert(p.contains("alwaysTrue"), p.take(3000))
  }

  test("x42: recursive CTE plans the iterative UnionLoop, guard inside the step") {
    val p = plan("x42_recursive_cte")
    assert(p.contains("UnionLoop"), p.take(3000))
    // rows leave the frame at the guard — the filter must sit inside
    // the recursion step, bounding each iteration's frame
    assert(p.contains("UnionLoopRef"), p.take(3000))
  }

  test("l11: per-doc tf-idf top-3 is the partial+final heap pass; df side broadcast") {
    val p = plan("l11_tfidf")
    assert(p.contains("TopKPerKeyPartial"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("l12: chunking is one Generate over the scan — the manifest never shuffles text") {
    val p = plan("l12_chunk")
    assert(p.contains("Generate"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert("Exchange".r.findAllMatchIn(p).size == 1, p.take(3000))
  }

  test("l13: quantization stats run the fused kernel in one scan — no shuffle but the sort") {
    val p = plan("l13_quantize")
    assert(p.toLowerCase.contains("int8quantstats") || p.contains("int8_quant_stats"),
      p.take(3000))
    assert("Exchange".r.findAllMatchIn(p).size == 1, p.take(3000))
  }

  test("l14: LM vocabulary broadcast against the corpus hash stream, left join keeps zero-coverage docs") {
    val p = plan("l14_lm_score")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("LeftOuter"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // coverage counting is a partial+final aggregate on narrow keys
    assert("HashAggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
  }

  test("x44: listagg joins the dimension by broadcast — no fact-side shuffle for the dim") {
    val p = plan("x44_listagg")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("d9: counts = fused gram kernel in the scan + stored-mask equi-join, no nested loop") {
    val p = plan("d9_span_dedup")
    // the positional kernel, not interpreted transform(slice(...))
    assert(p.toLowerCase.contains("gramhashes") || p.contains("gram_hashes"), p.take(3000))
    // round 11: the detection lives in the stored-mask BUILD; the
    // counts view reads the artifact and joins by doc_id — equi only
    assert(p.contains("d11_mask_v1_"), p.take(3000))
    assert(!p.toLowerCase.contains("cartesian") && !p.contains("NestedLoop"), p.take(3000))
    // mask-row count per doc is a partial+final aggregate
    assert("HashAggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
  }

  test("x45: heavy hitters — bounded sketch pass + broadcast candidate recount, no full-key window") {
    val p = plan("x45_heavy_hitters")
    assert(p.toLowerCase.contains("misragries") || p.contains("misra_gries"), p.take(3000))
    // the candidate array reaches the recount scan as a broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("x46: CDC upsert is one partial+final max_by aggregate — no window sort of the changelog") {
    val p = plan("x46_cdc_upsert")
    assert(!p.contains("Window"), p.take(3000))
    // partial_max_by below the exchange = map-side combine; struct-typed
    // aggregates plan as SortAggregate (structs aren't hash-aggregable)
    assert(p.contains("partial_max_by"), p.take(3000))
    assert("(Hash|Sort)Aggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
    // exactly one data shuffle (the key hash) + the presentation sort
    assert("Exchange".r.findAllMatchIn(p).size <= 2, p.take(3000))
  }

  test("x48: histogram quantile — partial+final bucket aggregate, windows only over the tiny histogram") {
    val p = plan("x48_histogram_quantile")
    assert("HashAggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
    // the Window runs over the bucket AGGREGATE's output (~buckets
    // rows), never the raw table: printed top-down, the bucket
    // aggregate must appear BELOW (after) the Window node
    assert(p.contains("Window"), p.take(3000))
    assert(p.lastIndexOf("HashAggregate") > p.indexOf("Window"), p.take(3000))
  }

  test("x52: SCD2 history build — one user-key shuffle, all windows and the run aggregate key-local") {
    val p = plan("x52_scd2")
    // change-point windows, run aggregate and the closing lead() all
    // share the user_id clustering, so the only exchanges are the one
    // key hash and the presentation sort
    assert(p.contains("Window"), p.take(3000))
    assert("Exchange".r.findAllMatchIn(p).size <= 2, p.take(3000))
  }

  test("x12: backward as-of is a partial+final max_by — no per-event candidate window sort") {
    val p = plan("x12_asof_join")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("partial_max_by"), p.take(3000))
    assert("(Hash|Sort)Aggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
  }

  test("x49: nearest as-of is a partial+final min_by — no per-event candidate window sort") {
    val p = plan("x49_asof_nearest")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("partial_min_by"), p.take(3000))
    assert("(Hash|Sort)Aggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
  }

  test("s7: serving READS the stored codes artifact; LUT/candidate sides broadcast — no window") {
    val p = plan("s7_ivf_pq")
    assert(!p.contains("Window"), p.take(3000))
    // round 11: the encode argmin lives in the ARTIFACT BUILD — the
    // serving plan reads the stored codes parquet (VERDICT r10 #2)
    assert(p.contains("pq_codes_v1_"), p.take(3000))
    // candidate top-10 and re-rank top-5 are bounded-heap TakeOrdered
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // LUT + candidate + probe sides all broadcast
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 2, p.take(4000))
  }

  test("s9: MIPS baseline — broadcast probes, partial top-k heaps below the exchange") {
    val p = plan("s9_mips")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("TopKPerKeyPartial"), p.take(3000))
    assert(p.indexOf("TopKPerKeyPartial") > p.indexOf("Exchange hashpartitioning"),
      p.take(3000))
  }

  test("x53: grouping sets is ONE scan through Expand + one partial+final aggregate") {
    val p = plan("x53_grouping_sets")
    assert(p.contains("Expand"), p.take(3000))
    assert("(Hash|Sort|ObjectHash)Aggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
    // one corpus read — not one GROUP BY job per set UNIONed
    assert("Scan parquet".r.findAllMatchIn(p).size == 1, p.take(3000))
  }

  test("x54: global cumsum — corpus window is PARTITIONED by bucket; single-partition work is only the bucket aggregate") {
    val p = plan("x54_global_cumsum")
    // the per-row running sum must be a bucket-partitioned window:
    // windowspecdefinition lists the partition key before the sort keys
    assert("windowspecdefinition\\(bucket#\\d+L?, ts#".r.findFirstIn(p).isDefined, p.take(4000))
    // exactly one single-partition exchange — feeding the ~720-row
    // bucket-offset window, never the corpus
    assert("Exchange SinglePartition".r.findAllMatchIn(p).size == 1, p.take(4000))
    // bucket sums are partial+final (map-side combine before the shuffle)
    assert("(Hash|Sort)Aggregate".r.findAllMatchIn(p).size >= 2, p.take(4000))
  }

  test("x55: moments battery is ONE partial+final aggregate pass — no window, no second scan") {
    val p = plan("x55_moments")
    assert(!p.contains("Window"), p.take(3000))
    assert("(Hash|Sort)Aggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
    assert("Scan parquet".r.findAllMatchIn(p).size == 1, p.take(3000))
  }

  test("x56: point-in-time read is an entity-keyed equi join — containment is a residual filter, never a nested loop") {
    val p = plan("x56_pit_join")
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"),
      p.take(4000))
    // the interval test rides the user_id equi join as its residual
    // condition — the join keys are the entity ids on both sides
    assert("Join \\[user_id#\\d+L?\\], \\[user_id#\\d+L?\\], LeftOuter".r
      .findFirstIn(p).isDefined, p.take(4000))
  }

  test("x57: z-score pass joins the tiny stats side by broadcast — scoring scan never shuffles") {
    val p = plan("x57_zscore")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("x58: funnel steps are keyed aggregates over equi joins with time residuals — no window, no nested loop") {
    val p = plan("x58_funnel")
    assert(!p.contains("Window"), p.take(4000))
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"),
      p.take(4000))
    // the strictly-after constraints ride equi joins as conditions
    assert("Join Inner, \\(ts".r.findFirstIn(p).isDefined
      || "Join \\[user_id".r.findFirstIn(p).isDefined
      || p.contains("HashJoin"), p.take(4000))
  }

  test("x59: retention matrix — distinct activity and cohort map are partial+final aggregates, no window") {
    val p = plan("x59_retention")
    assert(!p.contains("Window"), p.take(4000))
    assert("(Hash|Sort)Aggregate".r.findAllMatchIn(p).size >= 4, p.take(4000))
    assert(!p.toLowerCase.contains("cartesian"), p.take(4000))
  }

  test("s10: label centroids — partial+final vector-sum buffers, no posexplode of the corpus") {
    val p = plan("s10_label_centroids")
    // TypedImperativeAggregate plans as ObjectHashAggregate partial+final
    assert("ObjectHashAggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
    // the one Generate is the long-shape emit: it explodes the
    // AGGREGATE's sum vector (slice(cs...)), i.e. labels × d
    // already-reduced rows — never the corpus embedding column
    assert("Generate".r.findAllMatchIn(p).size <= 1, p.take(3000))
    assert(p.contains("posexplode(slice("), p.take(3000))
    assert(!p.contains("posexplode(embedding"), p.take(3000))
  }

  test("d14: merged-modality clustering keeps id-only edges into CC, text never shuffles") {
    val p = plan("d14_full_dedup")
    assert(!p.toLowerCase.contains("cartesian") && !p.contains("NestedLoop"),
      p.take(4000))
    // the output side is labels ⋈ nothing wide: no text column survives
    // into the post-CC plan (the pair miners' scans are upstream of the
    // checkpoint barrier)
    assert(!p.contains("text#"), p.take(4000))
  }

  test("d13: containment candidates come from the prefix-filter equi-join, never an all-pairs loop") {
    // round 11: the serving plan READS the stored pair manifest — the
    // never-all-pairs claim is pinned on the BUILD plan that mines it
    val p = explained(graft.queries.DedupQueries.containmentPairsPlan(spark, sfDir))
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"),
      p.take(4000))
    assert(p.contains("Join") && p.contains("hashpartitioning"), p.take(4000))
    // the build mines from the checkpointed shingle table — its four
    // ids references must never re-run the kernel (round 13): zero
    // parquet scans in the mining plan
    assert(!p.contains("FileScan parquet"), p.take(4000))
    assert(p.contains("Scan ExistingRDD"), p.take(4000))
    assert(plan("d13_containment").contains("d13_pairs_v1_"))
  }

  test("checkpointReleasable carries origin stats into the new leaf (round-14 d13 fix, pinned)") {
    // round 13 built the checkpoint leaf via internalCreateDataFrame —
    // a LogicalRDD with NO origin stats, estimating defaultSizeInBytes:
    // every join downstream of a swap silently lost broadcast candidacy
    // at static planning (ScalingCurveSpec's d13 third-decade red). The
    // leaf must now report the ORIGIN plan's estimate, and a join
    // against a small checkpointed side must still plan a broadcast.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val origin = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val (out, rdd) = org.apache.spark.sql.GraftShims.checkpointReleasable(docs)
    try {
      val leafSizes = org.apache.spark.sql.GraftShims.checkpointLeafSizes(out)
      assert(leafSizes == Seq(origin),
        s"checkpoint leaf stats $leafSizes != origin $origin — stats lost across the swap")
      val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val joined = fact.join(out, fact("l_orderkey") === out("doc_id"))
      assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        joined.queryExecution.executedPlan.toString.take(3000))
    } finally rdd.unpersist(blocking = true)
  }

  test("every Materialize.swap leaf carries finite stats; d13's hinted/broadcast joins survive the swap") {
    // VERDICT r13 #4: the swap could silently change join selection
    // anywhere it's introduced, and only d13 had a curve test watching.
    // Pin the hazard class itself: every swapped build's LogicalRDD
    // leaves must estimate REAL sizes (a stats-less leaf reports
    // defaultSizeInBytes ≈ 2^63 and kills broadcast for the whole
    // downstream plan), for all four swap consumers.
    val builds = Seq(
      "d13_build" -> graft.queries.DedupQueries.containmentPairsPlan(spark, sfDir),
      "d6" -> SparkEntry.queries("d6_incremental_dedup")(spark, sfDir),
      "x65" -> SparkEntry.queries("x65_pagerank")(spark, sfDir),
      "x70" -> SparkEntry.queries("x70_triangle_count")(spark, sfDir))
    for ((name, df) <- builds) {
      val leaves = org.apache.spark.sql.GraftShims.checkpointLeafSizes(df)
      assert(leaves.nonEmpty, s"$name: no checkpoint leaf in the plan — the swap disappeared?")
      leaves.foreach(s => assert(s < (BigInt(1L) << 40),
        s"$name: swapped leaf estimates $s bytes — stats-less leaf, downstream joins lose broadcast candidacy"))
    }
    // ...and the join strategies d13's build claims: the verify join
    // keeps its SHUFFLE_HASH hint, and the doc-frequency/prefix side
    // joins keep broadcast at this SF (they did before the swap)
    val p = explained(graft.queries.DedupQueries.containmentPairsPlan(spark, sfDir))
    assert("ShuffledHashJoin".r.findAllMatchIn(p).size >= 2, p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("d1: the banded minhash join mines the stored manifest; serving READS it") {
    val p = explained(graft.queries.DedupQueries.resemblancePairsPlan(spark, sfDir))
    assert(!p.contains("NestedLoop") && !p.toLowerCase.contains("cartesian"),
      p.take(4000))
    assert(p.contains("Join") && p.contains("hashpartitioning"), p.take(4000))
    assert(plan("d1_minhash_lsh").contains("d1_pairs_v1_"))
  }

  test("s11: Lloyd step — min_by assignment + vector-sum buffers, no per-vector window sort") {
    val p = plan("s11_kmeans_step")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("min_by"), p.take(3000))
    assert("ObjectHashAggregate".r.findAllMatchIn(p).size >= 2, p.take(3000))
    // long-shape emit explodes the aggregated sum vector (the one
    // other Generate is the s4 centroid SEED's per-label avg — a
    // one-time bootstrap, not the per-iteration path)
    assert(p.contains("posexplode(slice("), p.take(3000))
  }

  test("x65: PageRank iterations are keyed equi joins + partial+final sums; top-100 is a bounded heap") {
    val p = plan("x65_pagerank")
    assert(!p.toLowerCase.contains("cartesian"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert("(Hash|Sort)Aggregate".r.findAllMatchIn(p).size >= 4, p.take(4000))
    // the edge list and degree table are materialized ONCE and every
    // iteration reads the checkpointed blocks — round 13 found the old
    // persist+view spelling silently re-running the orders⋈lineitem
    // fact join per iteration reference (28 parquet FileScans in the
    // "cached" plan): the iteration plan must carry ZERO parquet scans
    assert(!p.contains("FileScan parquet"), p.take(4000))
    assert(p.contains("Scan ExistingRDD"), p.take(4000))
  }

  test("p4: release report — fused repetition kernel, broadcast cutoffs, id-only keep joins") {
    val p = plan("p4_corpus_release")
    assert(p.toLowerCase.contains("repetitionstats") || p.contains("repeat_stats"),
      p.take(4000))
    assert(p.contains("Broadcast"), p.take(4000))
    assert(!p.toLowerCase.contains("cartesian") && !p.contains("NestedLoopJoin")
      || p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("x62: interval merge — one user-key shuffle, both windows and the island aggregate key-local") {
    val p = plan("x62_interval_merge")
    assert("Exchange hashpartitioning\\(user_id".r.findAllMatchIn(p).size == 1, p.take(4000))
    // running-max-of-ends and island-id windows both partition by user
    assert("windowspecdefinition\\(user_id#\\d+L?, s_us#".r.findAllMatchIn(p).size >= 1,
      p.take(4000))
    assert(!p.toLowerCase.contains("cartesian"), p.take(4000))
  }

  test("l16: curriculum sampling — tertile walk confined to the tiny histogram, cutoffs broadcast") {
    val p = plan("l16_curriculum_sample")
    // the only single-partition work is the <=50-row histogram cumulative
    assert("Exchange SinglePartition".r.findAllMatchIn(p).size <= 2, p.take(4000))
    // the 1-row cutoff frame broadcasts onto the scored stream
    assert(p.contains("Broadcast"), p.take(4000))
    // keep decision is a scan-side filter, never a corpus sort below the
    // presentation ORDER BY
    assert("Sort \\[doc_id".r.findAllMatchIn(p).size <= 1, p.take(4000))
  }

  test("x61: snapshot diff — partial max_by per half, one full-outer key join, no window") {
    val p = plan("x61_snapshot_diff")
    assert(!p.contains("Window"), p.take(4000))
    assert(p.contains("partial_max_by"), p.take(4000))
    assert(p.contains("FullOuter"), p.take(4000))
    assert(!p.toLowerCase.contains("cartesian"), p.take(4000))
  }

  test("t9: char-diversity gate is the fused kernel scan — one Exchange (the result sort) only") {
    val p = plan("t9_char_diversity")
    assert(p.toLowerCase.contains("charstats") || p.contains("char_stats"), p.take(2000))
    // no per-character explode + shuffled per-(doc, char) aggregate
    assert("Exchange".r.findAllMatchIn(p).size == 1, p.take(3000))
    // exactly ONE Generate — the one-row explode ComputeOncePerRow puts
    // under the pushed-down n_cp gate so char_stats runs once per row
    assert("Generate".r.findAllMatchIn(p).size == 1, p.take(3000))
  }

  test("explode barriers hold: no per-row kernel or tokenization inside a scan Filter") {
    // graft.plans.ComputeOncePerRow computes each costly expression once
    // per row (in a one-row explode under the Filter): on every declared
    // key, no Filter evaluates a costly call twice, or one that the
    // operator directly above it also evaluates
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      CostlyCalls.repeated(SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan)
        .map(hit => s"$q: $hit")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
