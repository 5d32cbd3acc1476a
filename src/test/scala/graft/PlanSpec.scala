package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale posture (broadcasts where
  * intended, bucketed joins — never an unintended cartesian, pushed
  * filters) is asserted against the physical plans at sf0.001 so a future
  * refactor cannot silently regress the 100 TB story.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("routing joins the whitelist via broadcast hash join, never shuffle") {
    val p = plan("p3_route_counts")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("dedup pipelines never cartesian-product") {
    Seq("d1_exact_dedup", "d2_minhash_neardup", "d3_simhash_neardup",
      "d4_embed_neardup", "d6_ngram_jaccard", "d15_image_neardup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("ANN probes broadcast; corpus side is never broadcast-shuffled whole") {
    // the only cross join allowed is corpus x broadcast(probes|centroids) —
    // a BroadcastNestedLoopJoin with the SMALL side as build
    val p = plan("n1_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dimension join broadcasts the small side (q3)") {
    assert(plan("q3_join_agg").contains("BroadcastHashJoin"))
  }

  test("predicate pushdown reaches the parquet scan (s1, j1)") {
    // day-range on events and the BUILDING segment filter must appear as
    // pushed data filters, not post-scan filters only
    assert(plan("j1_semi_join").contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(plan("s1_prefix_scan").contains("GreaterThanOrEqual(ts"))
  }

  test("top-k aggregation is partial (map-side combine before exchange)") {
    // ObjectHashAggregate appears twice around the exchange: partial + final
    val p = plan("n1_ann_topk")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2)
  }

  test("iterative loops truncate lineage (d7 labels are a checkpoint scan)") {
    // dupClusters runs its propagation eagerly; the RESULT plan must be a
    // bare scan of the last round's checkpoint — if a Join/Aggregate shows
    // up here, lineage truncation regressed and analysis cost returns to
    // growing with the iteration count
    val p = plan("d7_dup_clusters")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"d7 result is not a checkpoint scan:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"d7 result drags the propagation lineage along:\n$p")
  }

  test("trained-IVF search never cartesian-products (n3)") {
    val p = plan("n3_ann_ivf_trained")
    assert(!p.contains("CartesianProduct"))
    // candidate generation is an equi-join on cell ids, top-k is partial
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2)
  }

  test("semantic dedup broadcasts centroids, pairs only within cells (d9)") {
    val p = plan("d9_semdedup")
    assert(!p.contains("CartesianProduct"), s"d9 plans a cartesian product:\n$p")
    // centroid scoring is corpus x broadcast(centroids); the pairing join
    // is an equi-join on the cell id, never an all-pairs product
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("repetition signals aggregate with map-side combine (t8)") {
    // both two-level aggs must plan partial_ aggregates before their
    // exchanges — per-token rows never shuffle raw
    val p = plan("t8_repetition")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"t8 shuffles raw token rows:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("incremental dedup joins batch bands against corpus bands only (d10)") {
    val p = plan("d10_incremental_neardup")
    assert(!p.contains("CartesianProduct"), s"d10 plans a cartesian product:\n$p")
    // candidate generation is the (band, key) equi-join — a shuffled join,
    // never a broadcast of the corpus side or an all-pairs product
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"))
  }

  test("source cap is one window exchange over the scan (t9)") {
    val p = plan("t9_source_cap")
    assert("Exchange".r.findAllIn(p).size === 1, s"extra exchange in t9:\n$p")
    assert(p.contains("Window"), s"t9 lost its window:\n$p")
  }

  test("OHLC resample is one aggregation exchange, no window sort (w8)") {
    val p = plan("w8_ohlc_resample")
    assert("Exchange".r.findAllIn(p).size === 1, s"extra exchange in w8:\n$p")
    assert(!p.contains("Window"), s"w8 grew a window sort:\n$p")
    // the falsifiable marker: the extremes must combine MAP-SIDE
    // (partial_min_by below the exchange), not only in the final agg
    assert(p.contains("partial_min_by"), s"w8 lost map-side combine:\n$p")
  }

  test("soft dedup is one fingerprint-keyed window exchange (d20)") {
    val p = plan("d20_soft_dedup")
    assert("Exchange".r.findAllIn(p).size === 1, s"extra exchange in d20:\n$p")
    assert(p.contains("Window"), s"d20 lost its window:\n$p")
    assert(!p.contains("Join"), s"d20 grew a join:\n$p")
  }

  test("MIPS search keeps the brute-force posture: probes broadcast, bounded heap (n11)") {
    val p = plan("n11_mips")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"n11 must broadcast the probe side:\n$p")
    assert(!p.contains("CartesianProduct"), s"n11 plans a cartesian product:\n$p")
    // the bounded heap must cut MAP-SIDE: partial_topk below the exchange
    assert(p.contains("partial_topk"), s"n11 lost the partial top-k cut:\n$p")
  }

  test("hard-negative mining broadcasts anchors, cuts with the bounded heap (n12)") {
    val p = plan("n12_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"n12 must broadcast the anchor side:\n$p")
    assert(!p.contains("CartesianProduct"), s"n12 plans a cartesian product:\n$p")
  }

  test("stratified sampling is filter + one aggregation exchange (t6)") {
    // the hash-bucket predicate must stay a scan-side filter; the only
    // shuffle is the per-language count
    val p = plan("t6_stratified_sample")
    assert("Exchange".r.findAllIn(p).size === 1, s"extra exchange in t6:\n$p")
    assert(p.contains("Filter"))
  }

  test("as-of join is one key exchange + window — no join operator at all (j5)") {
    val p = plan("j5_asof_join")
    assert(!p.contains("Join"), s"j5 planned a join instead of the union+window:\n$p")
    // both sides repartition into ONE exchange on the key; the window sort
    // is the same cost a latest-per-key query pays
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"extra exchange in j5:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("range join is a hash join on the bucket key (j6)") {
    val p = plan("j6_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"j6 degenerated to a nested loop:\n$p")
  }

  test("partitioned scan prunes directories, not rows (q9)") {
    val p = plan("q9_partition_prune")
    // the event_type predicate must land in PartitionFilters (directory
    // skip at planning time) ...
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined,
      s"q9 filter did not reach the partition index:\n$p")
    // ... and NOT survive as a row-level pushed filter over a full scan
    assert("PushedFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isEmpty,
      s"q9 re-filters rows the pruning already excluded:\n$p")
  }

  test("ranked-window top-k pushes the rank limit below the sort (WindowGroupLimit)") {
    // the Spark-first SQL form of bounded per-group top-k: row_number <= k
    // plans a WindowGroupLimit, so each partition keeps k rows instead of
    // materializing and sorting whole groups — the reason a topk UDAF is
    // unnecessary on the SQL surface (the typed path uses the bounded
    // TopK Aggregator)
    val p = plan("t7_doc_frequency")
    assert(p.contains("WindowGroupLimit"),
      s"t7 rank filter no longer pushes into a group limit:\n$p")
  }

  test("span dedup is window + agg on keyed exchanges — no self-join (d12)") {
    val p = plan("d12_span_dedup")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"d12 grew a join; first-occurrence marking must stay a window:\n$p")
    // exactly two exchanges: hashpartitioning(span) for the window and
    // hashpartitioning(doc_id) for the reassembly agg
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.sorted === List("doc_id", "span"),
      s"d12 exchange set changed: $exchanges\n$p")
  }

  test("substring dedup keeps the two-keyed-exchange shape of d12 (d18)") {
    val p = plan("d18_substring_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"d18 grew a join; coverage must ride the union through one agg:\n$p")
    // exactly two keyed exchanges: hashpartitioning(win) for first-
    // occurrence marking, hashpartitioning(doc_id) for reassembly —
    // sliding windows must not add a third corpus-sized shuffle
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.sorted === List("doc_id", "win"),
      s"d18 exchange set changed: $exchanges\n$p")
  }

  test("shard packing never globally sorts the corpus (t12)") {
    val p = plan("t12_token_shards")
    // the bucket-offset side broadcasts back; a sort-merge join here would
    // shuffle the corpus against a #buckets-row table
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"t12 offset join is not broadcast:\n$p")
    // exactly ONE single-partition exchange — the O(#buckets) offset
    // window — while corpus-sized windows stay partitioned by bucket
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles === 1, s"t12 has $singles single-partition exchanges:\n$p")
  }

  test("sequence packing keeps t12's shape — one tiny offset window (t18)") {
    val p = plan("t18_sequence_pack")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"t18 offset join is not broadcast:\n$p")
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles === 1, s"t18 has $singles single-partition exchanges:\n$p")
    // the span explode is narrow per-row work, never a wide operator
    assert(p.contains("Generate"), s"t18 lost the span explode:\n$p")
  }

  test("corpus-to-shards capstone composes without new wide shapes (c1)") {
    val p = plan("c1_corpus_to_shards")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"c1 plans a cartesian or shuffled join:\n$p")
    // the only single-partition exchange allowed is the packer's
    // O(#buckets) offset window (t12's pinned shape); the gate, dedup
    // window, and shuffle stages must all stay keyed/range-partitioned
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 1, s"c1 has $singles single-partition exchanges:\n$p")
  }

  test("chunk retrieval: bounded heap cut, broadcast constants, no wide join (h5)") {
    val p = plan("h5_chunk_retrieval")
    // the top-10 doc cut must be a distributed partial top-k
    assert(p.contains("TakeOrderedAndProject"),
      s"h5 top-k is not a bounded-heap take:\n$p")
    // chunking+scoring are narrow; the only join is the broadcast of the
    // 1-row corpus-constants aggregate (a BroadcastNestedLoopJoin of one
    // row — t11's shape); nothing corpus-wide may shuffle-join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"h5 plans a wide join:\n$p")
    // one single-partition exchange: the final rank window over <= 10 rows
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 1, s"h5 has $singles single-partition exchanges:\n$p")
  }

  test("hybrid retrieval cuts with bounded heaps, reranks a broadcast set (h1)") {
    val p = plan("h1_hybrid_retrieval")
    // the global top-M cuts must be TakeOrderedAndProject (per-partition
    // bounded heaps), never a full Sort + materialization
    assert(p.contains("TakeOrderedAndProject"),
      s"h1 top-M is not a bounded-heap take:\n$p")
    // the 50-row candidate set and the 1-row probe broadcast back over the
    // embedding table — no shuffled join anywhere in the rerank
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"),
      s"h1 rerank joins are not broadcast:\n$p")
  }

  test("RRF fusion arms cut with bounded heaps; fusion stays O(k) (h2)") {
    val p = plan("h2_rrf_fusion")
    // both arms' top-20 cuts are distributed partial top-k
    assert(p.contains("TakeOrderedAndProject"),
      s"h2 arm top-k is not a bounded-heap take:\n$p")
    // no corpus-wide shuffled join: the fusion join runs over two 20-row
    // sets and the only nested-loop is corpus x broadcast(1-row probe)
    assert(!p.contains("CartesianProduct"), s"h2 plans a cartesian:\n$p")
    val d16 = queries.DedupQueries.lineDedupQ(spark, sf)
      .queryExecution.executedPlan.toString
    // d16's boilerplate membership test must ride a broadcast, not a third
    // corpus-wide exchange
    assert(d16.contains("BroadcastHashJoin") && !d16.contains("CartesianProduct"),
      s"d16 boilerplate join is not broadcast:\n$d16")
  }

  test("budget mix runs on one source-keyed window; fuzzy match broadcasts (t22, j8)") {
    val t22 = plan("t22_token_budget_mix")
    // one hash exchange (the source-keyed window), nothing global
    assert("Exchange hashpartitioning".r.findAllIn(t22).size === 1,
      s"t22 has extra exchanges:\n$t22")
    assert(!t22.contains("Exchange SinglePartition"), s"t22 went global:\n$t22")
    val j8 = plan("j8_fuzzy_match")
    // the reference list rides a broadcast nested loop over the VOCAB
    // (already aggregated), never a shuffled join
    assert(j8.contains("BroadcastNestedLoopJoin") &&
      !j8.contains("SortMergeJoin") && !j8.contains("CartesianProduct"),
      s"j8 reference join is not broadcast:\n$j8")
  }

  test("incremental refresh reads the staged base, re-aggregates only the merge (q11)") {
    val p = plan("q11_incr_agg")
    // the refresh half unions a parquet read of the staged base aggregate
    // with the delta aggregation — the base EVENTS table must appear only
    // once in the plan (the delta scan), or the refresh is a full rescan
    val eventScans = "events\\.parquet".r.findAllIn(p).size
    assert(eventScans === 1,
      s"q11 refresh rescans the base ($eventScans event scans):\n$p")
    assert(p.contains("q11_base_agg"), s"q11 lost its staged base read:\n$p")
  }

  test("dynamic partition pruning fires on the runtime-filtered join (q10)") {
    // stage the partitioned layout, then inspect the join plan: the
    // partitioned scan must carry a dynamicpruning expression — without
    // DPP the whole fact is scanned and the join drops the rows after
    SparkEntry.queries("q10_dpp_join")(spark, sf).count()
    val p = queries.CoreQueries.dppJoinRead(spark)
      .queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"q10 partitioned scan lost its dynamic pruning subquery:\n$p")
  }

  test("ORC round-trip scan pushes the predicate and prunes columns (s17)") {
    // stage once via the query itself, then inspect the ORC read's plan
    SparkEntry.queries("s17_orc_scan")(spark, sf).count()
    val orc = spark.read.orc(s"${queries.TarQueries.StageDir}/s17_events_orc")
      .filter(org.apache.spark.sql.functions.col("event_type") =!= "error")
      .select("event_id", "event_type")
    val p = orc.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(event_type), Not(EqualTo(event_type,error))]"),
      s"s17 ORC scan lost its pushed predicate:\n$p")
    assert(p.contains("ReadSchema: struct<event_id:bigint,event_type:string>"),
      s"s17 ORC scan reads more than the projection:\n$p")
  }

  test("cumulative uniques: one hash agg + a bounded-tail running sum (w6)") {
    val p = plan("w6_cumulative_uniques")
    // the running sum's single partition holds <= #days rows; the heavy
    // work is the two keyed hash aggregations — no corpus-wide window
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 1, s"w6 has $singles single-partition exchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("image-pipeline capstone: drop set broadcasts, nothing cartesians (c2)") {
    val p = plan("c2_image_pipeline")
    assert(!p.contains("CartesianProduct"), s"c2 plans a cartesian:\n$p")
    // the survivor cut is an anti-join against the <=|pairs| drop set — it
    // must ride a broadcast, never re-shuffle the stats table
    assert(p.contains("BroadcastHashJoin"), s"c2 anti-join is not broadcast:\n$p")
  }

  test("boolean retrieval cuts with a bounded heap; posting-volume shuffles only (h3)") {
    val p = plan("h3_boolean_retrieval")
    // final top-20 is a distributed partial top-k, never a global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"h3 top-k is not a bounded-heap take:\n$p")
    // the rollups are hash aggregations (map-side combine); no join at all
    // touches the corpus and nothing cartesians
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"h3 plans a wide join:\n$p")
    // the term filter runs inside the scan-side projection: the explode's
    // input is already filtered, so only posting-list tokens shuffle
    assert(p.contains("Generate explode"), s"h3 lost its explode:\n$p")
  }

  test("LM filter scoring pass never shuffles the corpus (t13)") {
    // the model pass is a separate bounded-size job (≤|alphabet|² rows,
    // collected to a broadcast variable); the RETURNED scoring plan must
    // be scan → map with no Exchange, join, or aggregation anywhere
    val p = plan("t13_lm_filter")
    assert(!p.contains("Exchange"), s"t13 scoring plan shuffles:\n$p")
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      s"t13 scoring plan is not a pure map:\n$p")
  }

  test("PQ search joins codes against a broadcast distance table (n5)") {
    val p = plan("n5_ann_pq")
    // the m·k codebook and the probes' distance table broadcast; the
    // corpus side is codes-only — never a shuffled or cartesian join
    assert(p.contains("BroadcastHashJoin"),
      s"n5 code/table joins are not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"n5 plans a cartesian product:\n$p")
    // the encode argmax is a map-side-combinable max_by aggregate — a
    // row_number window here would exchange+sort corpus×m×k rows
    assert(!p.contains("Window"),
      s"n5 encode plans a window over the candidate set:\n$p")
  }

  test("IVF-PQ joins cells and codes against broadcast probe tables (n6)") {
    // probe-side tables (cells, ADC entries, constants, the rerank pool)
    // are all broadcast; the corpus side keys on cell and (subspace,
    // code) — a cartesian or a corpus-wide window here means the
    // compressed-domain search degenerated to probes×corpus
    val p = plan("n6_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"), s"n6 plans no broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"n6 plans a cartesian:\n$p")
  }

  test("IVF-PQ update serves broadcast probes over the appended index (n7)") {
    // the update path must keep n6's search shape — broadcast probe-side
    // tables, corpus keyed on cell/(subspace, code) — AND the delta append
    // must not re-plan the base: the staged base index arrives as a plain
    // parquet scan unioned with the delta's checkpoint
    val p = plan("n7_ann_ivfpq_update")
    assert(p.contains("BroadcastHashJoin"), s"n7 plans no broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"n7 plans a cartesian:\n$p")
    assert(p.contains("Union"), s"n7 lost the base∪delta union:\n$p")
  }

  test("BPE tokenize applies the learned vocab as a pure scan projection (t17)") {
    // the merge table inlines as literals (the learn pass is a separate
    // bounded job); the tokenize plan must be scan → project with no
    // Exchange, join, or aggregation operator
    val p = plan("t17_bpe_tokenize")
    assert(!p.contains("Exchange"), s"t17 tokenize plan shuffles:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("SortAggregate"),
      s"t17 tokenize plan is not a pure projection:\n$p")
  }

  test("256-merge BPE tokenize keeps the scan→project shape (t17b)") {
    // the merge table rides as ONE reference object in bpe_word_tokens —
    // the plan must look exactly like t17's despite 32× the merges, and
    // in particular must not inline merges as a replace chain
    val p = plan("t17b_bpe_tokenize256")
    assert(!p.contains("Exchange"), s"t17b tokenize plan shuffles:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("SortAggregate"),
      s"t17b tokenize plan is not a pure projection:\n$p")
    assert(!p.contains("replace("),
      s"t17b inlines merges as a replace chain:\n$p")
  }

  test("1024-merge BPE tokenize keeps the scan→project shape (t17c)") {
    // the O(1)-depth claim where real tokenizers live: at 4x t17b's
    // merge count the plan must still be scan → project — no Exchange,
    // no join, no aggregate, no literal replace chain
    val p = plan("t17c_bpe_tokenize1k")
    assert(!p.contains("Exchange"), s"t17c tokenize plan shuffles:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("SortAggregate"),
      s"t17c tokenize plan is not a pure projection:\n$p")
    assert(!p.contains("replace("),
      s"t17c inlines merges as a replace chain:\n$p")
  }

  test("bloom decontamination filters at the scan, verifies a sliver (d13)") {
    // the training gram stream must die at a might_contain scan predicate
    // BELOW the verify join — that predicate is what turns the semi-join's
    // input from |corpus grams| into ~|contamination|
    val p = plan("d13_bloom_decontaminate")
    assert(p.contains("might_contain"), s"d13 plans no bloom prefilter:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("filtered ANN applies the predicate before ADC, not post-rerank (n8)") {
    // the eligibility semi-join must sit INSIDE the ADC aggregate's
    // subtree (candidates pruned before any distance math); a filter
    // above the rerank would instead return < k rows under a selective
    // predicate — the classic filtered-ANN failure
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val df = SparkEntry.queries("n8_ann_filtered")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    // the ADC scoring aggregate is the one grouping on (p_id, vec_id,
    // cconst) — the probe-side cell-assignment aggregate (groupBy vec_id)
    // is intentionally unfiltered, probes need no eligibility
    val adcAggs = optimized.collect {
      case a: Aggregate if a.groupingExpressions.length == 3 => a
    }
    assert(adcAggs.nonEmpty, s"n8 plans no ADC aggregate:\n$optimized")
    assert(adcAggs.forall(_.collectFirst {
        case j: Join if j.joinType == LeftSemi => j
      }.nonEmpty),
      s"n8's eligibility semi-join is not below the ADC aggregate:\n$optimized")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"n8 plans a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"n8 plans no broadcast joins:\n$p")
  }

  test("corpus shuffle range-sorts and never plans a global window (t14)") {
    val p = plan("t14_corpus_shuffle")
    // positions come from the prefix-summed offset join, not row_number():
    // a Window over the global order would funnel the corpus through one task
    assert(!p.contains("Window"), s"t14 plans a window:\n$p")
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"t14 sort is not range-partitioned:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"t14 offset join is not broadcast:\n$p")
  }

  test("source mix broadcasts the rate table over the corpus (t15)") {
    val p = plan("t15_source_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"t15 rate join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"t15 plans a shuffled or cartesian join:\n$p")
  }

  test("BM25 corpus stats ride a broadcast; the scan never wide-shuffles (t11)") {
    val p = plan("t11_bm25")
    // the single-row (N, avgdl, df_i) side must broadcast back over the
    // corpus — any sort-merge/shuffled-hash join here would shuffle the
    // whole corpus for a 1-row dimension
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"t11 stats join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), s"t11 shuffles the corpus to join stats:\n$p")
    // no hashpartitioning exchange at all: per-doc work is scan-local and
    // the global agg reduces through a SinglePartition exchange only
    assert(!p.contains("Exchange hashpartitioning"),
      s"t11 grew a wide shuffle:\n$p")
  }

  test("filter eval broadcasts the 7-row threshold table over one classifier scan (t25)") {
    val p = plan("t25_filter_eval")
    // classifier rows × thresholds must be corpus x broadcast(7 rows) —
    // a shuffled join here would exchange the whole scored corpus to
    // meet a constant table
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"t25 threshold join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"t25 shuffles the corpus to meet the threshold table:\n$p")
    // confusion cells reduce with map-side combine: a partial
    // HashAggregate must appear below the thr-keyed exchange
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"t25 aggregation is not partial before the exchange:\n$p")
  }

  test("ANN delete is the n7 serve plus a scan-side tombstone filter (n13)") {
    val p = plan("n13_ann_delete")
    assert(!p.contains("CartesianProduct"),
      s"n13 plans a cartesian product:\n$p")
    // the delete must surface as a FILTER on the index rows (% 10 = 3
    // masked out), never as a rewrite join of the surviving rows; the
    // index-key equi-joins inside the serve are n7's own shapes (the
    // shared n7Serve — pinned equal by construction)
    assert(p.contains("% 10) = 3"),
      s"n13's tombstone mask is not a plan-visible filter:\n$p")
  }

  test("column profile is ONE Expand aggregate pass, never per-column scans (a7)") {
    val p = plan("a7_data_profile")
    // multi-count_distinct compiles to a single Expand + one partial/
    // final aggregate pair over ONE scan of documents
    assert(p.contains("Expand"), s"a7 lost the Expand multi-distinct shape:\n$p")
    assert("(?s)Scan parquet".r.findAllIn(p).size == 1,
      s"a7 re-scans documents per column:\n$p")
  }

  test("funnel is one user exchange + stacked windows, no event self-join (w9)") {
    val p = plan("w9_funnel_steps")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"w9 self-joins the events table:\n$p")
    assert("(?s)Scan parquet".r.findAllIn(p).size == 1,
      s"w9 re-scans events per step:\n$p")
    // EXACTLY one user_id exchange: the three windows and the per-user
    // collapse all reuse the same hash partitioning — a second one means
    // window-exchange reuse broke and the one-shuffle contract with it
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"w9 must have exactly one user_id exchange:\n$p")
    assert("(?s)Window".r.findAllIn(p).size >= 3,
      s"w9 window stack missing:\n$p")
  }

  test("merge-into is one full-outer key join with a delta-sized guard agg (j11)") {
    val p = plan("j11_merge_into")
    assert(p.contains("FullOuter"), s"j11 lost full-outer classification:\n$p")
    assert(!p.contains("CartesianProduct"), s"j11 cartesians:\n$p")
  }

  test("tf-idf top-3 rides WindowGroupLimit, never a full per-source sort (t26)") {
    val p = plan("t26_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"),
      s"t26's rank<=3 did not push below the sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"t26 cartesians:\n$p")
  }

  test("curation capstone: WindowGroupLimit cap, no cartesian anywhere in the 5-stage chain (c5)") {
    val p = plan("c5_curation_pipeline")
    assert(p.contains("WindowGroupLimit"),
      s"c5's balance cap did not push below the sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"c5 cartesians:\n$p")
  }

  test("cluster-balanced sampling caps via WindowGroupLimit; the kmeans argmin never joins (n15)") {
    val p = plan("n15_cluster_sample")
    assert(p.contains("WindowGroupLimit"),
      s"n15's rank<=cap did not push below the sort:\n$p")
    // the centroid argmin is a PROJECTION over broadcast literals — a
    // join/cartesian here would mean probes x corpus work at 100 TB
    assert(!p.contains("CartesianProduct"), s"n15 cartesians:\n$p")
  }

  test("retention cohorts scan events ONCE, no cohort self-join (w10)") {
    val p = plan("w10_retention_cohorts")
    assert("(?s)Scan parquet".r.findAllIn(p).size == 1,
      s"w10 re-scans events for the cohort table:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"w10 reintroduced the cohort join:\n$p")
  }
}
