"""Physical-plan audit: prints the scan/pushdown/join/codegen facts for the
headline queries so plan regressions are visible in review.

Usage: python tools/plan_audit.py [sf_dir]

Checks (exit non-zero on violation):
- flagship scans carry PushedFilters + pruned ReadSchema
- dimension joins are BroadcastHashJoin (no shuffle of the fact side)
- global top-k plans as TakeOrderedAndProject (no full sort)
- no CartesianProduct anywhere except the deliberate broadcast
  nested-loop in brute-force similarity scoring
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


# ---- bounded-cardinality rank-window manifest (r12 verdict task 3) ----
#
# Every row_number()/ntile()/dense_rank() window in the package must be
# REVIEWED: its partition key either grows with the data (per-key row
# share bounded), is a pre-aggregated/bounded input, or is a bounded-
# cardinality key with the TakeOrdered rewrite documented (the generic
# rewrite is operators/relational.bounded_budget_pick — implemented and
# tested since r12; SCALE.md 'Bounded-cardinality rank windows' lists
# every bounded site with its bound). A new rank window that is not in
# this manifest FAILS the audit — the l79 pattern (its k=8 window was
# the third unguarded instance) cannot ship unreviewed a fourth time.
# Keys are (path relative to the package, enclosing function).
RANK_WINDOW_MANIFEST = {
    # -- keys that grow with the data: per-partition share is bounded --
    ("operators/cdc.py", "cdc_compact"):
        "grows: partitions by primary key (latest-version pick)",
    ("operators/dedup.py", "exact_dedup"):
        "grows: partitions by content-hash key (survivor pick)",
    ("operators/relational.py", "grouped_topk"):
        "generic operator: callers declare their key here",
    ("operators/relational.py", "bounded_budget_pick"):
        "bounded BY CONSTRUCTION: cumsum window <= 2^bucket_bits rows; "
        "rank window = single boundary bucket (~n_key/2^bucket_bits) — "
        "this IS the rewrite bounded sites migrate to",
    ("operators/similarity.py", "cosine_topk"):
        "grows: per-query top-k (partition by query id)",
    ("operators/similarity.py", "ann_ivf_topk_multi"):
        "grows: per-query top-k",
    ("operators/similarity.py", "ann_ivf_pq_topk_multi"):
        "grows: per-query top-k",
    ("operators/similarity.py", "ann_lsh_fixed_topk_multi"):
        "grows: per-query top-k",
    ("operators/similarity.py", "_ivf_probe_with_centers"):
        "grows: per-query top-k",
    ("operators/similarity.py", "knn_join"):
        "grows: per-query top-k over cell-join candidates",
    ("registry/llm.py", "l13_tfidf_topk"):
        "grows: top-3 terms per doc (partition by doc_id)",
    ("registry/llm.py", "l29_neardup_canonical_pick"):
        "grows: partition by component id",
    ("registry/llm.py", "l44_training_export_pipeline"):
        "grows: partition by normalized text (exact-dedup pick)",
    ("registry/llm_incremental.py", "_pick_survivors"):
        "grows: partition by component id",
    ("registry/llm_similarity.py", "l68_knn_join"):
        "grows: per-query top-k (frozen oracle twin of knn_join)",
    ("registry/llm_similarity.py", "_knn_exact_ranked"):
        "bounded input: exact truth over the 8-query gate sample",
    ("registry/llm_similarity.py", "_enacted_mixture_totals"):
        "bounded BY CONSTRUCTION: the bounded_budget_pick boundary rank "
        "applied store-side (l79c/l79d) — partitions by (cluster, "
        "boundary bucket), <= 1 bucket per cluster, ~n_cluster/4096 rows; "
        "full buckets never materialize rows (stored aggregates)",
    # -- windows over pre-aggregated / structurally bounded inputs --
    ("registry/core.py", "d13_group_mode"):
        "bounded input: counts table (|status x priority| rows)",
    ("registry/llm.py", "l55_template_prefix"):
        "bounded input: (source, prefix) counts table, not corpus rows",
    ("registry/stats.py", "e25_bh_fdr"):
        "bounded input: one p-value row per screened feature",
    # -- bounded-cardinality keys: bound + rewrite documented (SCALE.md
    # 'Bounded-cardinality rank windows'); migrate to
    # bounded_budget_pick when the per-key share matters --
    ("operators/relational.py", "ntile_bucket"):
        "bounded documented: global-order demo op; quantile_buckets is "
        "the stated scale path in its docstring",
    ("registry/analytic.py", "g8_analytic_pack"):
        "bounded documented: 5 segments over the customer dim",
    ("registry/stats.py", "e28_gini_concentration"):
        "bounded documented: 5 segments over the customer dim",
    ("registry/llm.py", "l47_source_cap_rebalance"):
        "bounded documented: ~16 sources, cap=15 pick -> "
        "bounded_budget_pick with a constant budget",
    ("registry/llm.py", "l49_epoch_shuffle"):
        "bounded documented: (epoch, shard) key — shard count is the "
        "scale knob (raise shards with corpus size)",
    ("registry/llm.py", "l50_quality_calibrated_keep"):
        "bounded documented: per-lang rank threshold",
    ("registry/llm.py", "l54_curriculum_bins"):
        "bounded documented: per-lang ntile(4)",
    ("registry/llm.py", "l56_stratified_holdout"):
        "bounded documented: (source, lang) strata (~64)",
    ("registry/llm_similarity.py", "l79_domain_mixture"):
        "frozen oracle twin: k=8 window kept for exact DuckDB replay; "
        "production path is l79b via bounded_budget_pick",
}


def audit_rank_windows(repo_root: str, failures: list[str]) -> None:
    """Source-level sweep: find every row_number/ntile/dense_rank
    window in the package and require a manifest entry. Also flags
    stale manifest rows so the manifest cannot rot."""
    import ast
    import glob
    import re

    pkg = os.path.join(repo_root, "datafusion_cyberpolka_eda_spark")
    rx = re.compile(
        r"(row_number\(\)|ntile\([^)]*\)|dense_rank\(\))\s*\.over\("
    )
    found: set[tuple[str, str]] = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg)
        src = open(path).read()
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.FunctionDef)
        ]
        for i, line in enumerate(src.splitlines(), 1):
            if rx.search(line):
                enc = [nm for (s, e, nm) in spans if s <= i <= e]
                found.add((rel, enc[-1] if enc else "<module>"))
    for site in sorted(found - set(RANK_WINDOW_MANIFEST)):
        failures.append(
            f"rank window not in audit manifest: {site} — declare its "
            "partition-key scaling class in tools/plan_audit.py "
            "RANK_WINDOW_MANIFEST (or rewrite via "
            "relational.bounded_budget_pick)"
        )
    for site in sorted(set(RANK_WINDOW_MANIFEST) - found):
        failures.append(f"stale rank-window manifest entry: {site}")
    print(f"[{'OK' if not failures else '??'}] rank-window manifest "
          f"({len(found)} sites reviewed)")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from datafusion_cyberpolka_eda_spark import get_spark
    from datafusion_cyberpolka_eda_spark.registry import queries

    spark = get_spark(app_name="plan_audit")
    qs = queries()
    failures: list[str] = []

    def check(name: str, *, contains: list[str] = (), absent: list[str] = ()):
        p = plan_of(qs[name](spark, sf_dir))
        for s in contains:
            if s not in p:
                failures.append(f"{name}: expected '{s}' in plan")
        for s in absent:
            if s in p:
                failures.append(f"{name}: unexpected '{s}' in plan")
        print(f"[{'OK' if not failures else '??'}] {name}")

    check(
        "d2_wide_agg_pricing",
        contains=["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual"],
        absent=["CartesianProduct"],
    )
    check(
        "b1_b2_project_cast_filter",
        contains=["EqualTo(l_returnflag,A)", "LessThan(l_quantity,10.0)"],
    )
    check(
        "c1_join_revenue_by_region",
        contains=["BroadcastHashJoin"],
        absent=["SortMergeJoin", "CartesianProduct"],
    )
    check("g1_g2_topk_global", contains=["TakeOrderedAndProject"], absent=["Exchange"])
    check("e7_auc_by_rank", absent=["CartesianProduct"])
    # e7's cumulative sums over distinct scores must run under windows
    # PARTITIONED BY bucket (a global Window.orderBy collapses a
    # continuous-score table onto one task). Its one unpartitioned
    # window is the cross-bucket prefix over the per-bucket table
    # (<= num_buckets+4 rows), a sum of `_n`.
    p = plan_of(qs["e7_auc_by_rank"](spark, sf_dir))
    unpartitioned = []
    for line in p.splitlines():
        spec = re.search(r"windowspecdefinition\(([^,]*)", line)
        if spec is None:
            continue
        if " ASC" in spec.group(1) or " DESC" in spec.group(1):
            unpartitioned.append(line.strip())
        elif not spec.group(1).startswith("bucket#"):
            failures.append(f"e7_auc_by_rank: window not partitioned by bucket: {line.strip()}")
    if len(unpartitioned) != 1 or "sum(_n#" not in unpartitioned[0]:
        failures.append(f"e7_auc_by_rank: unpartitioned windows: {unpartitioned}")
    print(f"[{'OK' if not failures else '??'}] e7_auc_by_rank window partitioning")
    check("j3_sessionize", absent=["CartesianProduct"])
    # brute-force similarity deliberately broadcasts the tiny query side
    check("l7_cosine_topk", contains=["BroadcastNestedLoopJoin"])
    # bucketed embedding near-dup: candidates from same-cell equi-joins
    # only — an all-pairs join sneaking back in is the 100 TB scale-killer
    check(
        "l10_embedding_neardup",
        absent=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )

    # vocabulary top-k: per-partition heaps + driver merge, no global sort
    check("l12_vocab_topk", contains=["TakeOrderedAndProject"])
    # tf-idf: the tiny document-frequency table broadcasts back onto the
    # term rows (no third shuffle)
    check("l13_tfidf_topk", contains=["BroadcastHashJoin"], absent=["CartesianProduct"])

    # Q3-shape pipeline: customer dim broadcasts, top-10 is a TakeOrdered
    # (per-partition heaps, no global sort), filters reach all three scans
    check(
        "c13_order_revenue_topk",
        contains=[
            "BroadcastHashJoin",
            "TakeOrderedAndProject",
            "EqualTo(c_mktsegment,BUILDING)",
            "GreaterThan(l_shipdate,1998-01-01",
        ],
        absent=["CartesianProduct"],
    )

    # per-group reservoir: one shuffle on the group key, heap-ranked
    check(
        "b16_group_reservoir",
        absent=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )
    # sequence packing: exactly one Exchange (the shard groupBy) feeding
    # the Arrow-batched pandas group map — no hidden second shuffle
    p = plan_of(qs["l19_sequence_packing"](spark, sf_dir))
    if "FlatMapGroupsInPandas" not in p:
        failures.append("l19_sequence_packing: expected FlatMapGroupsInPandas")
    n_exch = p.count("Exchange (")
    if n_exch != 1:
        failures.append(
            f"l19_sequence_packing: expected exactly 1 Exchange, found {n_exch}"
        )
    print(f"[{'OK' if not failures else '??'}] l19_sequence_packing")

    # partitioned sink: the filter must prune directories (PartitionFilters),
    # not rely on data-column pushdown
    check(
        "a7_partitioned_pruning",
        contains=["PartitionFilters: [isnotnull(o_orderpriority"],
    )
    # bucketed co-located join: the ONLY exchange in the whole plan is the
    # post-join aggregation; the join itself reads both bucketed tables
    # pre-partitioned on the key (no shuffle, no broadcast)
    p = plan_of(qs["c8_bucketed_colocated_join"](spark, sf_dir))
    # count tree nodes ("Exchange (N)"), not detail headers ("(N) Exchange")
    n_exch = p.count("Exchange (")
    if "SortMergeJoin" not in p:
        failures.append("c8_bucketed_colocated_join: expected SortMergeJoin")
    if n_exch != 1:
        failures.append(
            f"c8_bucketed_colocated_join: expected exactly 1 Exchange "
            f"(post-agg), found {n_exch}"
        )
    print(f"[{'OK' if not failures else '??'}] c8_bucketed_colocated_join")

    # CMS sketch: candidate probes hash-join the BROADCAST 1024-row
    # sketch (the one-row totals join is a deliberate broadcast NLJ, the
    # c10 pattern); nothing may shuffle-sort or go all-pairs
    check(
        "d17_heavy_hitters_cms",
        contains=["BroadcastHashJoin"],
        absent=["CartesianProduct", "SortMergeJoin"],
    )
    # decontamination: the benchmark gram set must broadcast into a
    # LeftSemi probe — a shuffled semi-join of exploded gram rows is the
    # 100 TB scale-killer here
    check(
        "l20_contamination_screen",
        contains=["BroadcastHashJoin", "LeftSemi"],
        absent=["CartesianProduct", "SortMergeJoin"],
    )
    # rank-analytic pack: all three window specs + the top-k filter share
    # ONE partitioning exchange on c_mktsegment
    p = plan_of(qs["g8_analytic_pack"](spark, sf_dir))
    n_exch = p.count("Exchange (")
    if n_exch != 1:
        failures.append(
            f"g8_analytic_pack: expected exactly 1 Exchange, found {n_exch}"
        )
    if "CartesianProduct" in p:
        failures.append("g8_analytic_pack: unexpected CartesianProduct")
    print(f"[{'OK' if not failures else '??'}] g8_analytic_pack")

    # A-ES weighted sample: race key is map-side, selection is a top-k
    # reduction — a full global sort would be the scale bug
    check("b17_weighted_sample", contains=["TakeOrderedAndProject"],
          absent=["CartesianProduct"])
    # winsorize / MAD: bounds tables broadcast back onto the fact scan
    check("e20_winsorize", contains=["BroadcastHashJoin"],
          absent=["SortMergeJoin", "CartesianProduct"])
    check("e21_mad_outliers", contains=["BroadcastHashJoin"],
          absent=["SortMergeJoin", "CartesianProduct"])
    # gap fill: every window must be partitioned by the series key
    p = plan_of(qs["i4_gap_fill_interpolate"](spark, sf_dir))
    for line in p.splitlines():
        if "windowspecdefinition" in line and "key#" not in line:
            failures.append(f"i4_gap_fill_interpolate: unpartitioned window: {line.strip()}")
    if "CartesianProduct" in p:
        failures.append("i4_gap_fill_interpolate: unexpected CartesianProduct")
    print(f"[{'OK' if not failures else '??'}] i4_gap_fill_interpolate")
    # z-order: z-values and file ids are map-side expressions; the ONLY
    # exchange is the final per-file stats agg (bounds join is a 1-row
    # broadcast NLJ, the c10 pattern)
    p = plan_of(qs["a12_zorder_layout"](spark, sf_dir))
    # exactly 3 exchange nodes: the 1-row bounds agg, its BroadcastExchange
    # onto the fact scan, and the final per-file stats agg — the fact table
    # itself is never shuffled before the stats agg
    n_exch = p.count("Exchange (")
    if n_exch != 3:
        failures.append(f"a12_zorder_layout: expected 3 Exchange nodes, found {n_exch}")
    if "CartesianProduct" in p or "SortMergeJoin" in p:
        failures.append("a12_zorder_layout: unexpected shuffle join")
    print(f"[{'OK' if not failures else '??'}] a12_zorder_layout")
    # grouped regression: one partial-agg pass, one exchange, no join
    p = plan_of(qs["e22_group_regression"](spark, sf_dir))
    n_exch = p.count("Exchange (")
    if n_exch != 1:
        failures.append(f"e22_group_regression: expected exactly 1 Exchange, found {n_exch}")
    print(f"[{'OK' if not failures else '??'}] e22_group_regression")
    # grouped-agg pandas UDAF: Arrow agg node + the single group exchange
    p = plan_of(qs["k5_pandas_grouped_agg"](spark, sf_dir))
    if "ArrowAggregatePython" not in p and "AggregateInPandas" not in p:
        failures.append("k5_pandas_grouped_agg: expected Arrow grouped-agg node")
    print(f"[{'OK' if not failures else '??'}] k5_pandas_grouped_agg")
    # mixture sampling: the budget-cut window and the per-source rollup
    # share the source partitioning (window exchange + at most one more)
    p = plan_of(qs["l22_mixture_sampling"](spark, sf_dir))
    n_exch = p.count("Exchange (")
    if n_exch > 2:
        failures.append(f"l22_mixture_sampling: expected <=2 Exchanges, found {n_exch}")
    print(f"[{'OK' if not failures else '??'}] l22_mixture_sampling")

    # end-to-end dedup pipeline: banded everywhere — nothing may go
    # all-pairs at any stage
    check("l23_dedup_pipeline", absent=["CartesianProduct"])
    # triangle counting: ordered two-join enumeration, no cross product
    check("p2_triangle_count", absent=["CartesianProduct"])
    # cohort retention: the cohort-size table broadcasts
    check("g11_cohort_retention", contains=["BroadcastHashJoin"],
          absent=["CartesianProduct"])
    # round-5 additions: repetition profile stays UDF-free map-side +
    # grouped aggs; survivor pick must not enumerate pairs beyond the
    # (already banded) similarity graph; fuzzy decontamination candidates
    # come from the band bucket equi-join — never bench x train all-pairs
    check("l25_repetition_stats",
          absent=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"])
    check("l29_neardup_canonical_pick", absent=["CartesianProduct"])
    check("l30_fuzzy_decontamination", absent=["CartesianProduct"])
    # incremental dedup: nothing may go all-pairs. (The no-rescan
    # contract — increment predicate pushed into every documents scan,
    # old corpus entering only via the store parquet — is asserted in
    # tests/test_incremental_dedup.py against the UNCUT lineage; the
    # registry entry checkpoints its signature stage, so its final plan
    # no longer contains the documents scan at all.)
    check("l31_incremental_dedup", absent=["CartesianProduct"])

    # chunking is a map-side explode: no window function and no join may
    # appear; exchanges only for the two rollup aggregations
    check(
        "l45_doc_chunking",
        absent=["CartesianProduct", "Window", "Join"],
    )
    # sparse cosine: pruned df table broadcasts; the lineage cut keeps
    # the corpus to ONE scan (the checkpointed postings replace parquet
    # re-scans downstream, so no parquet scan survives in the final plan)
    check(
        "l48_sparse_cosine_pairs",
        contains=["BroadcastHashJoin"],
        absent=["CartesianProduct", "Scan parquet"],
    )
    # --- r8 entries ---
    # multimodal decode/frame-sample are pure map-side passes: payloads
    # must never meet a join or window (spread()'s Exchange is the only
    # allowed shuffle)
    check(
        "l9b_multimodal_ppm_decode",
        absent=["CartesianProduct", "Window", "Join"],
    )
    check(
        "l9c_multimodal_frame_sample",
        absent=["CartesianProduct", "Window", "Join"],
    )
    check(
        "l9d_multimodal_wav_decode",
        absent=["CartesianProduct", "Window", "Join"],
    )
    check(
        "l9e_multimodal_resize",
        absent=["CartesianProduct", "Window", "Join"],
    )
    # template detection: the modal table (one row per source) must come
    # back as a broadcast join, and nothing may go all-pairs
    check(
        "l55_template_prefix",
        contains=["BroadcastHashJoin"],
        absent=["CartesianProduct"],
    )
    check("l53_mixture_temperature", absent=["CartesianProduct"])
    check("l54_curriculum_bins", absent=["CartesianProduct"])
    check("l56_stratified_holdout", absent=["CartesianProduct"])
    check("l8h_ann_ivf_pq_rotated", absent=["CartesianProduct"])
    # --- r9 entries ---
    # perceptual image near-dup: pigeonhole band equi-join only — never
    # all-pairs; hamming verification is map-side bit arithmetic
    check("l58_image_phash_neardup", absent=["CartesianProduct"])
    # distributed Lloyd: the output join is tiny-vs-tiny (centroid table
    # x per-cluster stats); supersteps are literal-expression map passes
    # with one k*dim-row groupBy each — never all-pairs
    check("l59_distributed_kmeans", absent=["CartesianProduct"])
    # semantic decontamination: candidates come from the frozen-quantizer
    # cell equi-join; verification is a bounded candidate join — never
    # all-pairs
    check("l60_semantic_decontamination", absent=["CartesianProduct"])
    # image dedup pipeline: banded pairs + iterative HashMin components —
    # never all-pairs at any stage
    check("l61_image_dedup_pipeline", absent=["CartesianProduct"])
    # audio near-dup: same shared banding engine — never all-pairs
    check("l62_audio_fingerprint_neardup", absent=["CartesianProduct"])
    # --- r10 entries ---
    # audio dedup pipeline: banded pairs + rendezvous HashMin components
    check("l63_audio_dedup_pipeline", absent=["CartesianProduct"])
    # incremental fingerprint stores: increment-vs-store band equi-joins
    check("l66_incremental_image_neardup", absent=["CartesianProduct"])
    check("l67_incremental_audio_neardup", absent=["CartesianProduct"])
    # SemDeDup: candidates are same-cluster equi-join pairs — never
    # all-pairs; training supersteps are literal-expression map passes
    check("l65_semdedup", absent=["CartesianProduct"])
    # quality classifier: supersteps are literal-expression map passes +
    # O(dim) groupBys; the lang join keys on id arithmetic — never all-pairs
    check("l64_quality_classifier", absent=["CartesianProduct"])
    # batch k-NN join: candidates from the two-sided cell equi-join; the
    # per-query top-k is a partitioned window — never all-pairs, never a
    # global sort
    check("l68_knn_join", absent=["CartesianProduct"])
    # its recall gate deliberately broadcasts the 8-row query side
    check("l68b_knn_join_recall", contains=["BroadcastNestedLoopJoin"])
    # incremental SemDeDup: frozen-centroid assignment is a literal map
    # pass; candidates are same-cluster equi-join pairs — never all-pairs
    check("l69_incremental_semdedup", absent=["CartesianProduct"])
    # model filter deployment: one literal-weight map pass + per-source agg
    check("l70_model_filter_pipeline", absent=["CartesianProduct", "SortMergeJoin"])
    # incremental classifier update: warm-start supersteps are literal
    # map passes; the lang join keys on id arithmetic — never all-pairs
    check("l71_incremental_classifier_update", absent=["CartesianProduct"])
    # DSIR: the 256-row score table must broadcast back onto the
    # exploded bigrams — no shuffle of the bigram side, never all-pairs
    check(
        "l72_dsir_selection",
        contains=["BroadcastHashJoin", "TakeOrderedAndProject"],
        absent=["CartesianProduct"],
    )
    check(
        "l73_incremental_dsir",
        contains=["BroadcastHashJoin", "TakeOrderedAndProject"],
        absent=["CartesianProduct"],
    )
    # dup-span scrub: gram groupBy + anti-join on fixed-width keys
    check("l74_dup_span_scrub", absent=["CartesianProduct"])
    # PR curve: one scoring pass + literal grid explode — no join at all
    check("l75_classifier_pr_curve", absent=["CartesianProduct", "SortMergeJoin"])
    # SemDeDup takedown: in-cluster pairs + broadcast request joins
    check("l76_semdedup_takedown", absent=["CartesianProduct"])
    # incremental scrub: gram-keyed store join + (doc,pos) anti-join
    check("l77_incremental_dup_span_scrub", absent=["CartesianProduct"])

    # --- r11 entries ---
    # adaptive-quantizer production paths: the registered l65b/l68c gates
    # return driver-assembled VALUES rows, so audit the OPERATOR plans —
    # candidates must come from cluster/cell equi-joins, never all-pairs
    from datafusion_cyberpolka_eda_spark.operators import similarity as _SIM
    from datafusion_cyberpolka_eda_spark.sources.catalog import (
        load_table as _load_table,
    )

    _emb = _load_table(spark, sf_dir, "embeddings")
    for _nm, _df in (
        ("semdedup (l65b operator)",
         _SIM.semdedup(_emb, "vec_id", "embedding", tau=0.999)),
        ("knn_join (l68c operator)",
         _SIM.knn_join(_emb, "vec_id", "embedding", k=5)),
    ):
        _p = plan_of(_df)
        if "CartesianProduct" in _p or "BroadcastNestedLoopJoin" in _p:
            failures.append(f"{_nm}: all-pairs join in plan")
        print(f"[{'OK' if not failures else '??'}] {_nm}")
    # cross-modal paired dedup: both edge generators banded (MinHash band
    # join + fingerprint pigeonhole join), components iterative HashMin —
    # never all-pairs at any stage
    check("l78_crossmodal_dedup", absent=["CartesianProduct"])
    # domain-discovery mixture: Lloyd assignment is a literal map pass;
    # the k-row weight/budget tables broadcast; ranking windows partition
    # by cluster — never all-pairs, never a global sort
    check("l79_domain_mixture", absent=["CartesianProduct"])
    # store takedowns: literal-weight scoring / broadcast frozen-table
    # join + map-side removal predicates + bounded heads — never
    # all-pairs, never a global sort
    check("l80_classifier_takedown", absent=["CartesianProduct"])
    # adaptive incremental SemDeDup: frozen-quantizer assignment map
    # passes + cell-key store equi-join — never all-pairs (gate returns
    # VALUES rows; the candidate join is inside, audited via the
    # operator check above and this entry's lineage)
    check("l69b_incremental_semdedup_adaptive", absent=["CartesianProduct"])
    check(
        "l81_dsir_takedown",
        contains=["TakeOrderedAndProject"],
        absent=["CartesianProduct", "SortMergeJoin"],
    )

    # --- r12 entries ---
    # source-level rank-window review: every row_number/ntile window in
    # the package must carry a manifest justification (new ones fail)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    audit_rank_windows(repo_root, failures)
    # cross-modal incremental: both modality edge joins banded — never
    # all-pairs at any stage
    check("l78b_crossmodal_incremental", absent=["CartesianProduct"])
    # cross-modal takedown: store-sliced edge rebuild + broadcast
    # request joins — never all-pairs (the no-documents-rescan contract
    # is pinned in tests/test_crossmodal_lifecycle.py)
    check("l78c_crossmodal_takedown", absent=["CartesianProduct"])
    # the bounded budget pick (l79b's enacted selection): every window
    # spec must be partitioned — an unpartitioned rank window here would
    # resurrect the exact shape the rewrite exists to kill
    from datafusion_cyberpolka_eda_spark.operators import relational as _REL
    from datafusion_cyberpolka_eda_spark.functions.hashing import (
        md5_hash64 as _md5h,
    )
    from pyspark.sql import functions as _BF

    _bp_df = spark.range(0, 10_000).select(
        _BF.col("id"),
        (_BF.col("id") % 13).alias("key"),
        _md5h(_BF.col("id").cast("string")).alias("rkey"),
    )
    _bp_budgets = spark.createDataFrame(
        [(int(i), 50) for i in range(13)], "key bigint, n_budget bigint"
    )
    _p = plan_of(
        _REL.bounded_budget_pick(_bp_df, "key", "rkey", "id", _bp_budgets)
    )
    _bp_fails = []
    for line in _p.splitlines():
        if "windowspecdefinition" in line and "key#" not in line:
            _bp_fails.append(
                f"bounded_budget_pick: unpartitioned window: {line.strip()}"
            )
    if "CartesianProduct" in _p:
        _bp_fails.append("bounded_budget_pick: CartesianProduct in plan")
    failures.extend(_bp_fails)
    print(f"[{'OK' if not _bp_fails else '??'}] bounded_budget_pick windows "
          "partitioned")

    # incremental covariance: the increment scan must carry the pushed
    # vec_id >= cutoff predicate (day-1 vectors never re-read as vectors)
    p = plan_of(qs["l51_incremental_covariance"](spark, sf_dir))
    local_fails = []
    # plan-format-tolerant pushed-predicate match: accept either the
    # Catalyst filter rendering (vec_id >= N / GreaterThanOrEqual) or
    # the datasource PushedFilters rendering, any literal value
    import re as _re

    if not _re.search(r"(GreaterThanOrEqual\(vec_id|vec_id\s*>=\s*\d)", p):
        local_fails.append(
            "l51_incremental_covariance: pushed cutoff predicate absent"
        )
    if "CartesianProduct" in p:
        local_fails.append("l51_incremental_covariance: CartesianProduct")
    failures.extend(local_fails)
    print(
        f"[{'OK' if not local_fails else '??'}] "
        "l51_incremental_covariance pushed increment scan"
    )

    # incremental + takedown domain mixture (l79c/l79d): the re-balance
    # runs on MERGED AGGREGATES; the only day-1 membership rows the plan
    # may touch are the boundary buckets, read back from the store with
    # a pushed (cluster, bucket) disjunction — if the plan scans the
    # store's rows.parquet at all, that scan must carry pushed filters
    for _nm in (
        "l79c_domain_mixture_incremental",
        "l79d_domain_mixture_takedown",
    ):
        p = plan_of(qs[_nm](spark, sf_dir))
        lf = []
        if "CartesianProduct" in p:
            lf.append(f"{_nm}: CartesianProduct in plan")
        if "rows.parquet" in p and not _re.search(
            r"EqualTo\(cluster,", p
        ):
            lf.append(
                f"{_nm}: boundary rows scan lacks the pushed "
                "(cluster, bucket) filter"
            )
        failures.extend(lf)
        print(
            f"[{'OK' if not lf else '??'}] {_nm} boundary-bucket pushed read"
        )

    # AQE skew-join split (executed, not just planned: AQE finalizes at
    # runtime): a deliberately skewed SMJ must come back with skew=true
    # in the final adaptive plan — the automatic counterpart of the
    # hand-salted c9/c12 entries, and what a 100x hot key relies on.
    from pyspark.sql import functions as SF

    saved = {}
    aqe_confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in aqe_confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 440_000).select(
            SF.when(SF.col("id") < 400_000, SF.lit(7))
            .otherwise(SF.pmod(SF.col("id"), SF.lit(1000)) + 100)
            .alias("k"),
            SF.concat(SF.lit("x" * 64), SF.col("id").cast("string")).alias("pl"),
        )
        right = spark.range(0, 2000).select(
            SF.pmod(SF.col("id"), SF.lit(1100)).alias("k"),
            SF.col("id").alias("rv"),
        )
        j = left.join(right, "k").agg(
            SF.sum(SF.length("pl")).alias("s"), SF.count(SF.lit(1)).alias("n")
        )
        j.collect()
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        if "skew=true" not in final_plan:
            failures.append("aqe_skew_join: skew=true absent from final plan")
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)
    print(f"[{'OK' if not failures else '??'}] aqe_skew_join split fires")

    if failures:
        print("\nPLAN AUDIT FAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print("\nplan audit: all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
