package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump formatted physical plans.
  *
  *   runMain graft.PlanDump
  *     the headline queries to PLANS.md — the reviewed artifact behind
  *     the plan-shape assertions in PlanSpec;
  *   runMain graft.PlanDump <round> <dir> <tag> <name,name,…>
  *     `.explain("formatted")` of the named queries over the fixture
  *     tables in <dir> to plans/<round>/<name>_<tag>.txt, the artifacts
  *     a round's plan claims are checked against.
  */
object PlanDump {
  def main(args: Array[String]): Unit = args match {
    case Array(round, dir, tag, names) => dumpRound(round, dir, tag, names.split(",").toSeq)
    case Array() => dumpHeadline()
    case _ =>
      sys.error("usage: PlanDump | PlanDump <round> <dir> <tag> <name,name,…>")
  }

  private def dumpRound(round: String, dir: String, tag: String, names: Seq[String]): Unit = {
    val spark = Engine.session(s"graft-plandump-$round")
    val out = Paths.get("plans", round)
    Files.createDirectories(out)
    names.foreach { name =>
      try {
        val p = SparkEntry.queries(name)(spark, dir)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(out.resolve(s"${name}_$tag.txt"),
          (s"== $name ($tag, $dir) ==\n" + p).getBytes("UTF-8"))
        println(s"[plandump-$round] wrote ${name}_$tag.txt")
      } catch {
        case NonFatal(e) => println(s"[plandump-$round] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  private def dumpHeadline(): Unit = {
    val spark = Engine.session("graft-plandump")
    val dir = "/root/testdata/sf0.001"

    val annotated = Seq(
      "flagship_pipeline" -> "The reference pipeline: broadcast semi-join + narrow maps, zero shuffles.",
      "j1_semi_broadcast" -> "R4's physical shape: BroadcastHashJoin LeftSemi, filter pushed to the dim scan.",
      "j6_sortmerge" -> "Large-large: SortMergeJoin (the only shape that survives two huge sides).",
      "j7_range" -> "Range join keyed on (user_id, hour bucket): skew bounded per user-hour.",
      "a1_hashagg" -> "Partial+final HashAggregate with decimal-exact sums.",
      "o1_topk" -> "TakeOrderedAndProject: per-partition heaps, k-row merge, no global sort.",
      "w4_topk_per_group" -> "CUSTOM two-phase operator (plans/TopKPerGroup): partial bounded heaps below the exchange, final merge above — no WindowExec, no sort.",
      "l2_lsh_pairs" -> "Banded MinHash-LSH: bucket equi-join candidates, no cross join.",
      "l2_ngram_jaccard" -> "Prefix-filtered jaccard (r8): candidates from the rare-gram PREFIX index only (df-ordered, exact for J>=0.5 by pigeonhole) — common-gram posting lists never drive the pair join; exact array_intersect per candidate.",
      "l3_ann_lsh" -> "Multi-table hyperplane LSH: MAP-SIDE literal-plane signatures (no Exchange, no BNLJ before the candidate equi-join).",
      "l3_ann_ivf" -> "IVF: broadcast centroids, inverted-list equi-join, nprobe=2.",
      "w4_topk_window_idiom" -> "Plain user-written window top-k, auto-rewritten by TopKWindowRewrite onto the bounded-heap operator (TopKPerGroupExec partial+final; Window ranks only the survivors).",
      "j10_bloom_semi" -> "Explicit Bloom semi-join pushdown: scalar-subquery bloom build, might_contain filter ON THE FACT SCAN before the exact LeftSemi scrub.",
      "l2_simhash_hamming" -> "64-bit SimHash Hamming pairs: narrow signature agg, 4x16-bit band equi-join, popcount before pair-dedup.",
      "l2_dedup_clusters" -> "Connected-components dedup clustering: label-propagation rounds materialized; final round shown (join + min-agg over checkpointed labels).",
      "l3_ann_pq" -> "PQ ANN: allocation-free narrow encode (l2_sq_at + when-chain argmin), broadcast ADC lookup tables, bounded-heap top-k via the window rewrite.",
      "l13_pagerank" -> "PageRank power iteration (r5): the bucketed+sorted adjacency table joins each rank frontier with NO edge-side exchange or sort; contribution sums are map-side combined.",
      "l11_decontam" -> "Decontamination scrub (r5): broadcast eval gram set — the train corpus never shuffles; distinct counts via one two-level aggregation, no Expand.",
      "l3_ann_trained" -> "Trained IVF serve tail (r5): partition-pruned index read (pruning IS the inverted-list lookup), broadcast probe map, exact L2 rerank.",
      "s13_dpp_join" -> "Dynamic partition pruning (r7): the broadcast calendar dim's filter reaches the fact scan as dynamicpruningexpression in PartitionFilters — 4 of 30 date dirs opened, no date literal in the query.",
      "l2_incremental_dedup" -> "Incremental dedup (r7): fresh narrow batch bands join the PERSISTED bucketed corpus band table — corpus side has no exchange; per-batch work is batch-sized.",
      "l6_decode_real" -> "Real PNG codec decode (r7): narrow mapPartitions encode→decode pipeline, no shuffle until the final sort.",
      "l13_triangles" -> "Degree-oriented triangle counting (r7): wedges generated only at each edge's low-rank center, closed by an equi-join on the oriented edge set — no cartesian, no BNLJ, O(m^1.5) wedge bound.",
      "w7_funnel" -> "Windowed funnel (r7): ONE fact scan — three chained conditional-min windows share a single user-keyed exchange (the per-stage-join form would scan the fact 3x).",
      "j12_interval_overlap" -> "Interval-overlap join (r7): sessions explode into spanned 6h grid buckets, windows live in one bucket — overlap runs as a bucket equi-join with the strict inequalities as residual.",
      "l2_substring_dedup" -> "Duplicated-span detection (r7): narrow window-hash explode, one hash-keyed count-distinct agg for the dup set, semi-join coverage — O(tokens) + two shuffles, never all-pairs.",
      "j13_spatial_grid" -> "Spatial proximity join (r7): probe side explodes to its 3x3 neighbor cells (narrow Generate), single cell equi-join + squared-distance residual — never all-pairs.",
      "j14_cobucketed_join" -> "Co-bucketed fact join (r7): both facts read from bucketed+sorted layouts — the SMJ has no exchange AND no sort on either side; shuffle paid once at ingest. Dumped with broadcast joins DISABLED (the PlanSpec gate's config) so the reviewed plan shows the co-located SMJ shape, not the AQE small-sf broadcast.",
      "p15_lateral" -> "Correlated LATERAL with LIMIT (r7): decorrelated into ONE window-ranked equi-join; the W4 bounded-heap rewrite fires under the decorrelated rank — never per-outer-row re-execution.",
      "l4_bpe_train" -> "BPE training loop (r7): three materialized merge rounds over the vocab-sized word-frequency table; per round one pair-count agg + TakeOrdered-1 argmax + a one-row broadcast driving the fold.",
      "l4_lm_score" -> "Bigram-LM scoring (r7): token-keyed count aggs whose output partitioning the scoring joins reuse; one-row vocab broadcast; per-doc decimal-exact mean.",
      "w10_seasonal_decomp" -> "Seasonal decomposition (r7, tightened r8): the daily series is MATERIALIZED — grid bounds, densify, windows and the broadcast seasonal join all run on the days-sized series; zero fact rescans at serve (PlanSpec-gated).",
      "w9_anomaly" -> "Rolling z-score anomaly detection (r8 gate): ONE user-keyed exchange, count/sum/sum² collapsed into ONE Window node (vi² precomputed), the only other exchange is the presentation sort.",
      "l4_bpe_encode" -> "BPE corpus encoding (r8 gate): single corpus scan streaming map-side through the broadcast vocab split table; per-doc stats in one doc-keyed agg.",
      "s20_bson_dump" -> "BSON dump ingest (r8): custom DSv2 scan, one InputPartition per dump shard, pruning + residual filters in the reader; drop-on-error with length-prefix resync.",
      "l2_simhash_blocked" -> "SimHash block-combination schedule (r8): C(6,3)=20 block-triple keys (~32-bit buckets) from map-side bit slicing — same exact pair set as the 4x16 banding (oracle cross-checks the schedules), 5x index rows for 2^16x fewer random collisions; the 100 TB dial.",
      "l2_cosine_neardup_bucketed" -> "Bucketed exact cosine near-dup (r8): blocking key = 8-plane sign quantizer (tunable cardinality, vs the bounded label dim) — same precomputed-norm one-dot-per-pair plan, block sizes held constant by the plane-count dial.",
      "l4_repetition" -> "Gopher repetition filters (r8): doc-local sorted-run n-gram stats — no aggregate, no join, no hash exchange anywhere; the only exchange is the presentation sort. The ideal quality-filter shape: scan-bandwidth-bound.",
      "l2_chunk_dedup" -> "Content-defined chunking dedup (r8): map-side hash-cut chunking (zip_with (start,end) slicer — the per-element element_at form re-evaluates the inlined boundary array, measured 6x slower), then the shared duplicated-unit downstream: hash-keyed count-distinct agg + semi-join coverage.",
      "a10_kmv_sketch" -> "KMV sketch algebra (r8): per-lang bottom-64 lowered onto the bounded-heap operator (losers never cross the exchange); union/intersection/Jaccard estimates over broadcast k-row sketches; one corpus-sized distinct agg total.",
      "l3_jl_projection" -> "JL sign projection (r8): 16 fused literal-row dot products as plain projections (no Generate, no crossJoin+groupBy anti-shape), one consecutive-id equi-join pairs the distortion probe.",
      "l13_hits" -> "HITS hubs/authorities (r8): auth half-step joins ranks on src over the SRC-bucketed adjacency, hub half-step on dst over the DST-bucketed orientation — both edge sides exchange-free; L1 normalizers ride as one-row broadcasts; integer fixed-point rounds the oracle replays exactly.",
      "s22_time_travel" -> "Snapshot/time-travel reads (r8): three versioned manifests each plan their own immutable file set — v1/v2 stay readable after the v3 copy-on-write delete because COW rewrites into NEW files and swaps the manifest list.",
      "s23_merge_on_read" -> "Merge-on-read deletes (r8): positional deletion vectors from the parquet reader's own _metadata (file_path, row_index); the read-time reconcile is a BROADCAST left-anti join (DV side is deletes-sized); v3 compaction applies vectors once and returns reads to scan speed.",
      "l13_bfs" -> "Multi-source BFS (r8): each relaxation round joins the frontier to the SRC-bucketed adjacency (edge side exchange-free) + one min-agg keyed by dst; k-hop composes by iteration with released frontiers.",
      "l10_drift" -> "Corpus drift / JS divergence (r8): ONE (lang, token) agg carries both source cohorts as conditional sums, per-lang totals broadcast back, per-token fixed-point terms, DECIMAL-exact per-lang sum — a single corpus scan end to end.",
      "w11_ewma" -> "Per-user EWMA (r8): the recursive smoother frame windows can't express, as ONE user-keyed collect agg + an ordered in-row fold (alpha=1/2 — every step one add + one exact binary halving, so the fold is cross-engine bit-identical with no per-step rounding).",
      "l2_survivor_selection" -> "Quality-aware survivor election (r9): the (quality, doc_id) election key PACKED into one BIGINT keeps the per-cluster vote a plain codegen'd max+count HashAggregate (struct keys demote max_by to SortAggregate; a window would sort) — one exchange on component, map-side partial combine.",
      "s22c_change_feed" -> "Commit-log change feed (r9): each version's OWN delta manifest drives the incremental fold — signed union of added(+1)/removed(-1) batch scans into one partial+final agg; no join, no table rescan, O(changes) regardless of table size.",
      "l6_phash_dedup" -> "Perceptual-hash image dedup (r9): real PNG decode in a narrow mapPartitions, 48-bit average-hash via codegen HOFs (integer cross-multiply bits), 4x12-bit band equi-join exact at Hamming<=2 by pigeonhole — the SimHash banding discipline on decoded pixels.",
      "l4_pmi_phrases" -> "PMI collocation mining (r9): vocab unigram agg + (w1,w2) bigram agg with partial combine, unigram counts BROADCAST back twice, one-row totals broadcast, bounded TakeOrdered top-50 — the corpus-sized bigram table never sorts or shuffles to a dimension join.",
      "s66_topn_prune" -> "Top-N file pruning (r14/r15): ORDER BY LIMIT over the sorted commitlog table plans only the files whose boxes reach the accumulate-to-k bound (null-tolerant since r15 — the NOT NULL proof is just the fast path); Spark re-sorts above the scan (partial pushdown).",
      "s68_bloom_bigint" -> "Numeric bloom point lookup (r15): a BIGINT equality probe on an interleaved (fully box-overlapping) table plans ~1 of 6 batches from the manifest blooms — integral values hash their decimal-string canonical key on both sides.",
      "s69_null_stats" -> "Null-count facet (r15): metadata COUNT(col) folds rows−nulls with ZERO parquet scans (a local metadata relation), IS [NOT] NULL probes plan 1 of 2 batches, and both null orderings of the nullable top-N cut to the batches that can compete.")

    // per-query session overrides: dump the plan under the SAME config
    // its PlanSpec gate asserts (j14's no-exchange/no-sort claim only
    // holds with broadcast disabled — at sf0.001 AQE otherwise folds
    // the small side into a broadcast and hides the co-located shape)
    val confOverrides: Map[String, Seq[(String, String)]] = Map(
      "j14_cobucketed_join" -> Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for headline queries (sf0.001)\n\n")
    sb.append("Generated by `graft.PlanDump`; structural properties are asserted in `PlanSpec`.\n")
    annotated.foreach { case (name, note) =>
      val overrides = confOverrides.getOrElse(name, Nil)
      val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      val p =
        try SparkEntry.queries(name)(spark, dir)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      sb.append(s"\n## $name\n\n$note\n\n```\n$p```\n")
    }
    Files.write(Paths.get("/root/repo/PLANS.md"), sb.toString.getBytes("UTF-8"))
    println(s"[plandump] wrote PLANS.md (${annotated.size} plans)")
    spark.stop()
  }
}
