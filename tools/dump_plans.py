"""Dump formatted physical plans: EXPLAIN.md, or one round's plan files.

Usage:
  python tools/dump_plans.py
      writes EXPLAIN.md at the repo root (headline queries, sf0.001)
  python tools/dump_plans.py --round r16 [--suffix=before|after]
                             [--sf-dir DIR] <query> [...]
      writes plans/<round>/<query>_<suffix>.txt for each query, over the
      tables in DIR (default: $SPARK_GRAFT_SF_DIR; rounds use sf0.1)

EXPLAIN.md pairs each registry query with the scale property its plan
is expected to exhibit; tests/test_plan_shapes.py pins the same
properties mechanically — the file lets the actual plans be read
without running Spark.

The ``--round`` files are an optimization round's before/after
evidence for every touched query. Lifecycle queries run their side
effects during construction; the dumped plan is the final serving read
— exactly what the bench times through the noop sink.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SHOWCASE = [
    (
        "table_profile",
        "Exact stats as one plain codegen aggregate (no Expand); "
        "distincts via the deterministic-HLL MapInPandas kernel whose "
        "output is register partials — the shuffle carries (colname, "
        "reg, rho) sketch rows, never values or distinct sets.",
    ),
    (
        "ann_index_export",
        "The probe's read-back scan shows PartitionFilters on "
        "(band, bkey): the LSH bucket key is the physical directory "
        "key, so each probe lists only its nprobe buckets — the "
        "100 TB vector-index storage layout, visible in the plan.",
    ),
    (
        "dsir_weights",
        "ONE bigram-keyed Exchange for the whole query: occurrences "
        "hash-partition by bigram up front and the multiplicity "
        "collapse, both-models aggregation, and scoring join all "
        "reuse that partitioning (no further exchange on the bigram "
        "side); the only BroadcastNestedLoopJoin is the 1-row "
        "normalizer frame; the model is never collected.",
    ),
    (
        "dyadic_quantile_sketch",
        "The (b+1)-level dyadic explode collapses in ONE "
        "map-side-combined aggregation (the shuffle carries node "
        "partials, never values); every join after it touches only "
        "the bounded heavy-node sketch; the window cumsum runs over "
        "sketch rows — no sort of the data anywhere.",
    ),
    (
        "q1_pricing_summary",
        "Filter and the 4-column projection reach the parquet scan "
        "(PushedFilters / ReadSchema); single partial+final aggregate.",
    ),
    (
        "q5_local_supplier_volume",
        "All five dimension sides broadcast; the only shuffle is the "
        "lineitem⋈orders key and the final group-by.",
    ),
    (
        "q21_waiting_suppliers",
        "EXISTS / NOT-EXISTS become LeftSemi / LeftAnti hash joins "
        "co-keyed on l_orderkey — no cartesian, no per-row subquery.",
    ),
    (
        "measures_window",
        "All six risk measures evaluate over ONE window spec (single "
        "sort/shuffle on the key); sorted-array reuse via one "
        "collect_list.",
    ),
    (
        "bm25_rank",
        "Term counting is a per-row HOF inside codegen (no explode); "
        "corpus stats are a 1-row aggregate broadcast back; top-k is "
        "TakeOrderedAndProject (partial top-k merge, no global sort).",
    ),
    (
        "ivf_ann_cosine",
        "Cell assignment is a narrow mapInPandas (codebook as closure "
        "state — no join, no window); probe set bounded per query "
        "vector; the candidate join is an equi-join on cell id — "
        "never an all-pairs product.",
    ),
    (
        "nearest_view_lag",
        "Pure-JVM nearest-in-time alignment: one hash exchange on "
        "user_id feeds a single window (flanking views via "
        "last/first-ignorenulls); the final groupBy reuses that "
        "partitioning — no Python, no second user_id exchange.",
    ),
    (
        "dedup_embedding_1nn",
        "Exact 1-NN as a distributed block-nested-loop: probe fan-out "
        "explode + FlatMapCoGroupsInPandas on the block key, then a "
        "max(struct) reduce — no driver-side index collect, no n² pair "
        "materialization.",
    ),
    (
        "semantic_dedup",
        "SemDeDup cell assignment via a mapInPandas argmax kernel "
        "holding the adaptive 16-256-row codebook as closure state "
        "(one narrow map over the data side — no codebook join, no "
        "shuffle, no window sort); duplicate candidates are a "
        "within-cell equi-join over BARE ID PAIRS (Σn_c² not n²), "
        "with vectors re-fetched per side only after the pair join.",
    ),
    (
        "cross_dedup_minhash",
        "Eval-split band table broadcasts; the training corpus "
        "streams through one scan with BroadcastHashJoin probes. The "
        "only corpus-side Exchange is the round-robin spread_small "
        "equalizer (a small-input-only decision, absent at scale) — "
        "no KEY shuffle of the big side anywhere.",
    ),
    (
        "ngram_familiarity",
        "ONE bigram-keyed Exchange for the whole query (the "
        "dsir_weights discipline): occurrences hash-partition by "
        "bigram up front and the multiplicity collapse, model "
        "aggregation, and scoring join all reuse that partitioning. "
        "Nothing forces a broadcast: at this SF Catalyst may elect "
        "BroadcastHashJoin from size stats, and past the threshold "
        "the same declarative plan keeps the co-partitioned join — "
        "model size is unbounded.",
    ),
    (
        "dedup_embedding_lsh",
        "Embedding near-dup with the hot-group guard: the plan's "
        "banding/verify subtree hangs off the collapsed distinct-"
        "vector aggregate (groupBy the raw array — one data-sized "
        "exchange), so replicated vectors never reach the band self-"
        "join or the pandas-UDF verify; the within/cross expansion "
        "branches are output-sized.",
    ),
    (
        "dedup_exact_substr",
        "ExactSubstr with the round-7 hot-anchor guard: the anchor "
        "table never joins itself — the duplicated-anchor set is a "
        "map-side-combinable groupBy(anchor).count() (partial "
        "aggregation: the count exchange moves one row per (anchor, "
        "map task), never the data) equi-joined back, which AQE "
        "skew-join can split per hot key (a window partition could "
        "not be); the islands stage windows on doc_id over the "
        "collapsed duplicated rows only; all expressions codegen.",
    ),
    (
        "substr_index_incremental",
        "The persisted anchor index probe: the scan subtree reads "
        "ONLY the manifest-intersected bucket=N partition dirs of the "
        "bucket-partitioned anchor index (probe cost tracks the eval "
        "batch, not the corpus), the tiny distinct eval-anchor set "
        "broadcasts into the hit join, and the islands/rollup stages "
        "run on contaminated rows only — identical shape to "
        "decontaminate_substr from the join down (shared "
        "_leak_report), which is why the same oracle hash-matches.",
    ),
    (
        "quality_classifier_score",
        "Classifier apply: ONE stateless projection over the cached "
        "feature frame — z/p are pure codegen arithmetic with the "
        "learned weights inlined as literals (O(d) driver model "
        "state, the k-means codebook discipline); no shuffle, no "
        "Python, no join. Training iterations (not shown) are each "
        "one map-side-combined aggregate over the same frame.",
    ),
    (
        "domain_mixture_weights",
        "Classifier-driven domain mixing: the keep decision is "
        "literal-weight codegen arithmetic riding the feature scan; "
        "the roster join is a broadcast here (co-partitioned doc_id "
        "shuffle at scale), after which the groupBy(source) exchange "
        "carries ~|sources| partial rows and the 1-row kept-token "
        "total re-enters via BroadcastNestedLoopJoin — nothing after "
        "the roster join is data-sized.",
    ),
    (
        "cluster_balanced_sample",
        "Cluster-balanced selection after the shared Lloyd rounds: "
        "the salted local rank windows on (cid, salt) — K×16 "
        "partitions, so no per-cluster window swallows n/K rows — "
        "then the global re-rank runs on the ≤K×16×quota survivors "
        "only; label/size joins broadcast (bounded sides).",
    ),
    (
        "mixture_resample",
        "Token-budget mixture draw: budgets come from a ~|sources|-row "
        "aggregate broadcast back; the selection's first Window "
        "partitions on (source, salt) — 16× the parallelism of a "
        "per-source window — and the final per-source running total is "
        "the chunk-parallel exact prefix sum (functions/prefix.py): "
        "local cumsum Windows on (source, chunk) — 64 deterministic "
        "hash-prefix chunks per source — with per-chunk totals "
        "broadcast back as exclusive offsets. No Window in the plan "
        "partitions on a bare per-source key.",
    ),
    (
        "pack_sequences",
        "Training-sequence packing: ONE hash exchange on the shard "
        "key feeds a per-shard window cumsum (no global sort — "
        "determinism is per shard, the scale-out axis); bin "
        "assignment and boundary-crossing are all-integer codegen "
        "expressions, and the final rollup reuses the shard "
        "partitioning.",
    ),
    (
        "source_mix_rebalance",
        "Per-language counts collapse to ≤5 rows then broadcast back; "
        "the exact per-language hash-rank runs as the chunk-parallel "
        "prefix sum over 256 hash-prefix chunks (functions/prefix.py) "
        "— local rank Windows on (language, chunk) plus broadcast "
        "chunk-count offsets, retiring the per-language single-task "
        "sort that was the price of an exact quota.",
    ),
    (
        "bucketed_join_roundtrip",
        "The co-located fact⋈fact join: both scans show "
        "SelectedBucketsCount and the SortMergeJoin has NO exchange "
        "below it — the bucketed table layout already co-located both "
        "sides on the join key (the one data-sized shuffle was paid "
        "at write time); the only exchange in the plan is the 3-row "
        "post-join rollup.",
    ),
    (
        "ivf_index_search",
        "The persisted-IVF probe: the scan's PartitionFilters prune on "
        "cell — the IVF cell id is the physical directory key, so a "
        "probe lists and reads only its nprobe cell dirs out of "
        "N_CELLS (the 100 TB vector-index layout); the probe set and "
        "quantizer are O(K·d) broadcast model state, and the top-k "
        "window runs over candidate cells only, never the corpus.",
    ),
    (
        "asof_feature_join",
        "The point-in-time feature lookup as union-sort-fill: state "
        "and probe scans union, then EXACTLY ONE hash exchange on "
        "user_id feeds the per-user (ts, kind, id) sort and the "
        "last(ignorenulls) running fill — no join operator at all, so "
        "no BNLJ risk and nothing else in the plan is data-sized "
        "(the non-equi BETWEEN alternative plans as "
        "BroadcastNestedLoopJoin).",
    ),
    (
        "stream_bucketed_ingest",
        "The co-located join over the STREAM-INGESTED fact table: "
        "after five bucket-aligned epoch appends and a mid-stream "
        "compaction, both scans still show SelectedBucketsCount and "
        "the SortMergeJoin has NO exchange below it — online "
        "ingestion preserved the write-once shuffle contract; the "
        "only exchange is the 3-row post-join rollup.",
    ),
    (
        "minhash_index_delete",
        "The post-deletion probe: the index scan reads ONLY the "
        "manifest-intersected explicit bucket paths (the band index's "
        "literal-path file pruning) — per-partition deletion preserved "
        "the pruned probe shape, and the partitions the delete emptied "
        "are simply absent from the manifest (removed explicitly; "
        "dynamic overwrite cannot touch a no-survivors partition).",
    ),
    (
        "zorder_pruned_scan",
        "The 2-D box aggregate over the Morton layout: the scan shows "
        "PartitionFilters with the driver-enumerated zcell IN list — "
        "pruning happens at file-listing time over ONE partition "
        "column that encodes BOTH dimensions (bit-interleaved bins), "
        "with the exact box predicate as the residual PushedFilters; "
        "the only exchange is the 5-row priority rollup.",
    ),
    (
        "zonemap_pruned_scan",
        "Zone-map file skipping: the scan's InMemoryFileIndex lists "
        "ONLY the explicit file paths whose per-file (min, max) "
        "shipdate zones intersect the quarter — stats-based pruning "
        "decided BEFORE the plan from the one-small-file manifest, so "
        "no directory scheme is needed at all; the exact range "
        "predicate is the residual PushedFilters and the only "
        "exchange is the 3-row return-flag rollup.",
    ),
    (
        "scd2_schema_evolution",
        "The union-by-name read of an EVOLVED state table: ONE scan "
        "over the manifest-listed generation dirs under the "
        "manifest-recorded schema handed to the reader explicitly "
        "(pre-evolution files project etype as typed NULL by name — "
        "no per-file footer-merge pass), a plain projection, then "
        "the result sort. NO extra exchange, no join, no "
        "per-generation union plan: evolution is invisible to the "
        "plan, and a widened table reads exactly like an unevolved "
        "one.",
    ),
    (
        "stream_zorder_ingest",
        "The streamed z-cell layout's steady-state probe: the scan's "
        "InMemoryFileIndex lists ONLY the live files the manifest "
        "names for the box's cells (cell-level pruning decided "
        "driver-side from one small JSON — the post-compaction live "
        "set, epoch fragments already folded); the exact box "
        "predicate is the residual PushedFilters and the only "
        "exchange is the 5-row priority rollup.",
    ),
    (
        "zonemap_delete",
        "The post-delete probe over the cloned zone-mapped table: a "
        "full-table aggregate whose file list simply LACKS the "
        "fully-covered zones (metadata-only deletes leave no trace in "
        "the plan) and includes the rewritten straddle files under "
        "their d- names — the DELETE's cost model is visible as "
        "which files exist, not as plan complexity.",
    ),
    (
        "stream_upsert_widening",
        "The TYPE-WIDENED state read: ONE scan over the "
        "manifest-listed generation dirs under the widened schema "
        "handed to the reader explicitly — pre-widening int32 "
        "generations up-cast to long NATIVELY inside the scan "
        "(SPARK-40876), so the plan shows no cast projection, no "
        "per-generation union, no rewrite: widening is invisible to "
        "the plan exactly like the additive evolution above.",
    ),
    (
        "cdf_multi_consumer",
        "Two consumers' convergence as one plan: each snapshot read "
        "is a manifest-resolved bucket-file scan (delta-maintained, "
        "bucket-aligned), the union-distinct is the ONLY data-sized "
        "exchange and it carries 2×|users| aggregate rows, never "
        "feed or state rows — the proof-of-convergence costs the "
        "view size, not the pipeline.",
    ),
    (
        "stream_zonemap_resume",
        "Delete-then-continue for the zone map: the probe's file "
        "list lacks the purged zones, carries straddlers under their "
        "epoch-preserving e{N}-d- rewrite names (inside the epoch's "
        "replay-replace set, so a replay cannot duplicate them), and "
        "carries the late epoch's files whose in-range rows "
        "legitimately survive — the purge journal, not the plan, is "
        "what makes replay safe.",
    ),
    (
        "cdf_consumer_eviction",
        "Three consumers' convergence (one evicted mid-stream and "
        "re-bootstrapped) as one plan: each snapshot read is a "
        "manifest-resolved bucket-file scan, the union-distinct plus "
        "two symmetric differences carry only view-sized aggregate "
        "rows — eviction, tombstone, and rejoin are pure driver-side "
        "metadata, invisible to the plan, and feed storage stays "
        "bounded by max_lag × delta regardless of consumer crashes.",
    ),
    (
        "stream_upsert_rename",
        "The RENAMED + DROPPED state read: ONE scan over the "
        "manifest-listed generations under their shared PHYSICAL "
        "schema, with a Project aliasing physical → logical names — "
        "rename and drop each cost one manifest write and zero file "
        "rewrites, so the only plan trace of the whole evolution is "
        "that alias projection (the dropped column simply is not "
        "projected).",
    ),
    (
        "stream_upsert_rebucket",
        "The re-bucketed state read: ONE scan over the new layout's "
        "generation dirs — the 4→16 rebucket rewrote state once "
        "under the new modulus, the manifest records n_buckets so a "
        "mismatched epoch fails loudly before planning anything, and "
        "the final delta epoch's files sit beside the rebucket "
        "generation's untouched buckets (delta-sized epochs again, "
        "under finer buckets).",
    ),
    (
        "stream_zorder_resume",
        "The probe after delete-then-ingest: the file list LACKS the "
        "band-covered cells' pre-purge files, carries straddlers "
        "under their d- rewrite names, and carries the late epoch's "
        "e2- files (whose band rows legitimately survive — they "
        "arrived after the purge); the composition's whole story is "
        "in which files the manifest lists, the plan is one 5-row "
        "rollup.",
    ),
]


def dump_round(round_tag: str, names: list[str], suffix: str, sf: str) -> None:
    from psd_project_spark.plans.inspect import formatted_plan
    from psd_project_spark.registry import queries
    from psd_project_spark.session import get_spark

    out_dir = os.path.join(ROOT, "plans", round_tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="psd-plan")
    qs = queries()
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(formatted_plan(qs[name](spark, sf)) + "\n")
        print(f"wrote {path}", file=sys.stderr)
        spark.catalog.clearCache()
    spark.stop()


def dump_explain_md() -> None:
    from pyspark.sql import SparkSession

    from psd_project_spark import registry
    from psd_project_spark.plans.inspect import formatted_plan

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("dump-plans")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sf = "/root/testdata/sf0.001"
    qs = registry.queries()
    out = [
        "# EXPLAIN — physical plans of headline queries",
        "",
        "Generated by `python tools/dump_plans.py` at sf0.001 (plan",
        "shapes are SF-independent; AQE may re-plan sizes at runtime).",
        "The same properties are regression-pinned by",
        "`tests/test_plan_shapes.py`.",
        "",
    ]
    for name, why in SHOWCASE:
        df = qs[name](spark, sf)
        out += [f"## {name}", "", f"**Expected shape:** {why}", "", "```"]
        out.append(formatted_plan(df).rstrip())
        out += ["```", ""]
    with open(os.path.join(ROOT, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", help="round tag: write plans/<round>/ instead of EXPLAIN.md")
    ap.add_argument("--suffix", default="before", help="file suffix, e.g. before|after")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="table directory for --round (default: $SPARK_GRAFT_SF_DIR)",
    )
    ap.add_argument("queries", nargs="*", help="registry queries to dump (with --round)")
    args = ap.parse_args()
    if args.round is None:
        if args.queries:
            ap.error("query names need --round")
        dump_explain_md()
    elif not args.queries:
        ap.error("--round needs at least one query")
    elif not args.sf_dir:
        ap.error("--round needs --sf-dir or $SPARK_GRAFT_SF_DIR")
    else:
        dump_round(args.round, args.queries, args.suffix, args.sf_dir)


if __name__ == "__main__":
    main()
