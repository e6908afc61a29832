#!/usr/bin/env python
"""Measured scaling experiment: replicate the sf0.1 FACT tables 10×
(keys shifted so they stay unique, join integrity preserved) into a
throwaway directory and time representative queries at both scales.

Usage:
    python tools/scale_experiment.py build   # write /tmp/scale_sf1
    python tools/scale_experiment.py run     # time queries, print table

This is evidence for SCALE.md's claims: a query whose plan is
scan-bound should scale ~linearly in input (ratio ≈ 10 minus fixed
overhead); a query with an accidental quadratic term would blow past
it. Dimension tables stay at sf0.1 (growth concentrates in facts —
also the realistic shape). Documents/embeddings are replicated as
EXACT copies, which deliberately makes every LSH bucket 10× hot — the
documented dedup skew case gets exercised, not avoided.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query  # noqa: E402

SRC = "/root/testdata/sf0.1"
#: Replication factor and destination are env-tunable (round-15,
#: VERDICT r14 #7): the 10x default measures data-growth ratios; a
#: larger factor (e.g. SCALE_REPS=100 -> /tmp/scale_sf100) builds a
#: corpus where compute, not per-query orchestration, dominates — the
#: regime where the 32-vs-8-core comparison (``cores`` subcommand) is
#: meaningful.
REPS = int(os.environ.get("SCALE_REPS", "10"))
DST = os.environ.get(
    "SCALE_DST", "/tmp/scale_sf1" if REPS == 10 else f"/tmp/scale_sf{REPS}"
)

#: (table, key columns to shift). Keys shifted by rep * (max+1); the
#: orderkey shift is shared between lineitem and orders so the join
#: keeps exactly one matching order per lineitem.
FACTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]

QUERIES = [
    # scan/agg bound
    "q1_pricing_summary",
    # broadcast-dim join + agg
    "q5_local_supplier_volume",
    # window/groupBy on events
    "hourly_top_spenders",
    "rolling_dau",
    # text scan + shuffle agg
    "doc_stats",
    "ngram_familiarity",
    # dedup: exact (1 shuffle) and LSH under 10x hot buckets
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_exact_then_minhash",
    # embedding battery
    "semantic_dedup",
    "dedup_embedding_lsh",
    # round-4: sketch profiler, fixpoint composition, model-table ops
    "table_profile",
    "dedup_canonical",
    "dsir_weights",
    "bpe_encode_stats",
    # round-5: rank-error-bounded quantile sketch (bounded node state),
    # its streaming form, and training-sequence packing
    "dyadic_quantile_sketch",
    "stream_value_quantiles",
    "pack_sequences",
    # round-6: substring-level exact dedup (under 10x exact replication
    # EVERY anchor position is duplicated — the adversarial maximum for
    # the islands stage, not just for the anchor-count window), the
    # per-day sketch store rollup, and the durable-sink streaming
    # sketch
    "dedup_exact_substr",
    "dyadic_quantile_rollup",
    "stream_value_quantiles_sink",
    "decontaminate_substr",
    # round-7: the persisted anchor index (build+append+compact+probe
    # lifecycle at 10x corpus — and under exact replication every
    # probe anchor hits, the adversarial probe maximum), the ANN
    # compaction lifecycle, and the classifier (5 agg passes + a
    # scoring projection over 10x features)
    "substr_index_incremental",
    # round-7 mid-round: the decontamination APPLY stage (covered-
    # position volume grows with leak mass) and the streaming crawl
    # screen (per-epoch pruned index probes at 10x corpus)
    "decontaminate_cut",
    "stream_crawl_screen",
    "ann_index_compaction",
    "quality_classifier_score",
    # round-7 late-round curation tier: the feature store + per-epoch
    # pruned lookups at 10x corpus, the per-source mixture rollup over
    # 10x keep decisions, and the cluster-balanced sampler's salted
    # two-phase selection over 10x cluster populations
    "stream_quality_score",
    "domain_mixture_weights",
    "cluster_balanced_sample",
    # the token-budget draw: budgets and survivor volumes scale with
    # kept mass; the replicated corpus also doubles every source's
    # budget, so the selection itself grows 10x
    "mixture_resample",
    # the feature-store lifecycle: base/delta/compaction are
    # data-sized (once), the probe reads manifest-pruned buckets
    "quality_store_incremental",
    # round-8: the stream-maintained substring index (per-epoch
    # bucket-local appends + per-bucket compaction at 10x corpus),
    # and the classifier evaluation tier (per-source confusion
    # counts / 10-bin calibration — one exchange each, ~|sources| or
    # ~10 rows after it)
    "stream_index_maintain",
    "quality_classifier_eval",
    "quality_calibration",
    # round-8 rewrite re-measurements (the r07 entries timed the
    # retired single-window plans): chunk-parallel exact prefix sums
    "source_mix_rebalance",
    # round-9: the persisted IVF lifecycle — build/append/compact are
    # data-sized (once, pruned before each rep), the probe reads only
    # nprobe manifest-pruned cell dirs
    "ivf_index_search",
    "ivf_index_compaction",
    "stream_ivf_search",
    # the streaming near-dup screen: per-epoch manifest-pruned band
    # probes + Jaccard verification against the cached corpus shingle
    # table (10x exact replication makes every probe band hit — the
    # adversarial candidate maximum)
    "stream_minhash_screen",
    # the co-located bucketed join: rep 1 pays the bucketed write
    # (data-sized, once per snapshot), rep 2 is the steady state —
    # the exchange-free join itself
    "bucketed_join_roundtrip",
    # the bucketed range join: 10x events in the same time span ≈ 10x
    # per-bucket density, so pair volume grows ~100x — the stress case
    # for the equi-join rewrite (the naive BNLJ would grow the same
    # but with the build side in memory)
    "range_join_overlap",
    # SCD2 validity intervals: one user_id exchange + per-user lead()
    "scd2_history",
    # round-10: the point-in-time as-of join (union-sort-fill, one
    # user_id exchange over state ∪ probes — same scale axis as
    # scd2_history with 2x the rows through the window)
    "asof_feature_join",
    # the streaming SCD2 maintenance: 3 epochs of MERGE, each
    # O(delta + affected-user history); at 10x both terms grow 10x
    # and the version write is data-sized per epoch (the documented
    # full-rewrite-at-test-scale / bucket-rewrite-at-100TB trade)
    "stream_scd2_maintain",
    # the point-in-time serving stream: per-epoch left_semi prune of
    # the cached history to the epoch's users, then union-sort-fill —
    # epoch cost tracks the probing users' histories, not the corpus
    "stream_asof_lookup",
    # the streaming range join: corpus write is data-sized (once);
    # each epoch's corpus read is partition-pruned to its time span.
    # Shares range_join_overlap's output-bound caveat under exact
    # replication (identical timestamps multiply qualifying pairs)
    "stream_range_overlap",
    # (bucketed_join_roundtrip, listed above, is RE-MEASURED in r10:
    # the pair now builds base + bucket-aligned delta append — rep 1
    # pays both phases, rep 2 is the exchange-free steady state over
    # multi-file buckets)
    # round-10: the keyed MERGE sink (re-measured in r11 after the
    # runner went bucket-aligned: per-epoch writes now rewrite only
    # affected key-buckets, never the full state)
    "stream_upsert_latest",
    # round-11: read-while-maintain (six interleaved availableNow
    # runs; per-epoch cost = affected-bucket merges + pruned as-of
    # answers) and the streaming bucketed-fact ingest (5 delta-sized
    # appends + one amortized compaction + the exchange-free join)
    "stream_scd2_serve",
    "stream_bucketed_ingest",
    # round-11: the index DELETE verb — build is data-sized (once,
    # pruned before each rep); the delete rewrites only the dirs the
    # deletion set's bands/cells name (under 10× exact replication
    # the %7 slice replicates too, so the affected-dir set is the
    # adversarial maximum)
    "minhash_index_delete",
    "ivf_index_delete",
    # round-11 continued: the delete verb's remaining surfaces — the
    # anchor index (per-bucket rewrites named by the takedown docs'
    # own anchors), the STREAMED takedown (3 deletion epochs, each
    # tracking its epoch's band volume), and SCD2 user erasure through
    # the bucket-aligned MERGE sink (erasure epoch rewrites only the
    # erased users' buckets)
    "substr_index_delete",
    "stream_index_delete",
    "stream_scd2_erase",
    # round-11 continued: the Morton-cell layout — rep 1 pays the
    # data-sized layout build (fingerprint-gated, fresh per corpus),
    # rep 2 is the steady state: the pruned 2-D box scan, whose cost
    # tracks the box's cells, not the table
    "zorder_pruned_scan",
    # round-11 continued: snapshot reads + the change feed over the
    # maintained table — time travel costs one manifest + its pinned
    # generation dirs (a current-read, at an old version); the CDF
    # reads only the manifest-diff's changed buckets per epoch
    "scd2_time_travel",
    "scd2_change_feed",
    # the feed's consumer: maintenance + CDF + one signed aggregate
    # over the delta-shaped change files — the view itself adds one
    # feed-sized groupBy on top of the change_feed row's cost
    "cdf_materialized_view",
    # zone-map skipping: rep 1 pays the range-clustered write + the
    # one-pass stats collection (fingerprint-gated), rep 2 is the
    # steady state — a quarter-predicate scan reading only the files
    # whose zones intersect
    "zonemap_pruned_scan",
    # epoch reshuffle: 3 hash-ordered chunk-parallel ranks, one
    # (epoch, chunk) exchange each — the single-window form this
    # replaces would serialize each epoch through one task
    "epoch_shuffle",
    # the zone map's online half: base clustered write + 3 epoch
    # appends (each a small clustering shuffle + a stats pass over
    # its own files) + the maintained-manifest probe
    "stream_zonemap_ingest",
    # round-12: schema evolution through the maintained table — the
    # same 3-epoch MERGE as stream_scd2_maintain plus the widening
    # epoch's typed-NULL conforms; evolution itself is metadata
    "scd2_schema_evolution",
    # round-12: the feed lifecycle — maintenance + CDF + per-epoch
    # snapshot folds; the GC is unlinks, the apply is O(delta +
    # |snapshot|) per epoch
    "cdf_feed_retention",
    # round-12: the Morton layout's online half — base clustered
    # write + 3 per-epoch z-cell appends + gated per-cell re-cluster
    # compaction + the manifest-pruned box probe (sinks pruned per
    # rep: every rep pays the full lifecycle, write-volume-bound)
    "stream_zorder_ingest",
    # round-12: the layout DELETE verbs — base layouts are
    # fingerprint-gated (data-sized, once per corpus); each rep pays
    # delete + full post-delete probe, with delete cost bounded by
    # straddling files / edge-bin cells (fully-covered zones and
    # cells are metadata-only drops, untouched files hardlinks)
    "zonemap_delete",
    "zorder_delete",
    # round-12 continued: evolution through the keyed upsert (3 epochs
    # + the widening phase's fixed floor) and the takedown against the
    # stream-maintained layout's manifest (the _stream layout itself
    # is gated — rep 1 may pay its build; rep 2 is delete + probe)
    "stream_upsert_evolving",
    "stream_zorder_delete",
    # round-13: type widening through the keyed upsert (the
    # stream_upsert_evolving shape with the third epoch widening
    # qty int→long; evolution itself is the manifest record — old
    # generations up-cast at read, no rewrite)
    "stream_upsert_widening",
    # round-13: two registered consumers folding one feed (fast every
    # epoch, slow in arrears) — cost is both consumers' applies, each
    # O(delta + affected snapshot buckets), plus the drain
    "cdf_multi_consumer",
    # round-13: ingest-after-delete against the streamed Morton
    # layout — base + 2 epochs + in-place band purge (O(straddling
    # cells) rewrite) + the late epoch through the same checkpoint
    # (sinks pruned per rep: every rep pays the full composition)
    "stream_zorder_resume",
    # round-13: the zone map's delete-then-continue — base + 2 epochs
    # + journaled in-place range purge + the late epoch; the journal
    # keeps a replayed pre-purge epoch from resurrecting purged rows
    "stream_zonemap_resume",
]


def _prune_sinks(name: str, sf_dir: str) -> None:
    """Clear a lifecycle query's persisted artifacts before a timed
    rep, so the completion-marker gate can't hide the build cost
    (the quality_store_incremental methodology, SCALE.md r7)."""
    import shutil

    from psd_project_spark.operators import dedup, exact_substr, similarity
    from psd_project_spark.operators.zorder import _zonemap_dir as _zdir
    from psd_project_spark.operators.zorder import _zorder_dir as _zodir

    dirs = {
        "stream_index_maintain": lambda d: [
            exact_substr._substr_index_dir(d) + "_stream",
            exact_substr._substr_index_dir(d) + "_stream_stage",
        ],
        "ivf_index_search": lambda d: [similarity._ivf_index_dir(d)],
        "stream_ivf_search": lambda d: [similarity._ivf_index_dir(d)],
        "stream_minhash_screen": lambda d: [dedup._minhash_index_dir(d)],
        "ivf_index_compaction": lambda d: [
            similarity._ivf_index_dir(d) + "_cmp"
        ],
        "minhash_index_delete": lambda d: [
            dedup._minhash_index_dir(d) + "_del"
        ],
        "ivf_index_delete": lambda d: [
            similarity._ivf_index_dir(d) + "_gdpr"
        ],
        "substr_index_delete": lambda d: [
            exact_substr._substr_index_dir(d) + "_del"
        ],
        "stream_index_delete": lambda d: [
            dedup._minhash_index_dir(d) + "_sdel"
        ],
        "stream_zonemap_ingest": lambda d: [
            _zdir(d) + "_stream", _zdir(d) + "_stream_stage"
        ],
        "stream_zorder_ingest": lambda d: [
            _zodir(d) + "_stream", _zodir(d) + "_stream_stage"
        ],
        "zonemap_delete": lambda d: [
            _zdir(d) + "_del", _zdir(d) + "_del_stage"
        ],
        "zorder_delete": lambda d: [
            _zodir(d) + "_del", _zodir(d) + "_del_stage"
        ],
        "stream_zorder_delete": lambda d: [
            _zodir(d) + "_stream_del", _zodir(d) + "_stream_del_stage"
        ],
        "stream_zorder_resume": lambda d: [
            _zodir(d) + "_resume", _zodir(d) + "_resume_stage"
        ],
        "stream_zonemap_resume": lambda d: [
            _zdir(d) + "_resume", _zdir(d) + "_resume_stage"
        ],
    }.get(name)
    if dirs:
        for p in dirs(sf_dir):
            shutil.rmtree(p, ignore_errors=True)


def _best(spark, qs, name: str, sf_dir: str) -> float:
    """Min of two ``bench.time_query`` reps, each after
    :func:`_prune_sinks`."""

    def rep() -> float:
        _prune_sinks(name, sf_dir)
        return time_query(spark, qs[name], sf_dir)[0]

    return min(rep() for _ in range(2))


def build() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.compute as pc

    os.makedirs(DST, exist_ok=True)
    # shared orderkey offset so lineitem⋈orders survives replication
    omax = pc.max(
        pq.read_table(f"{SRC}/orders.parquet", columns=["o_orderkey"])[
            "o_orderkey"
        ]
    ).as_py()
    offsets = {"l_orderkey": omax + 1, "o_orderkey": omax + 1}
    for name, keys in FACTS.items():
        t = pq.read_table(f"{SRC}/{name}.parquet")
        for k in keys:
            if k not in offsets:
                offsets[k] = pc.max(t[k]).as_py() + 1
        parts = []
        for rep in range(REPS):
            r = t
            for k in keys:
                shifted = pc.add(r[k], rep * offsets[k])
                r = r.set_column(r.schema.get_field_index(k), k, shifted)
            parts.append(r)
        out = pa.concat_tables(parts)
        # split into >= 64 row groups so the scan stays splittable —
        # one giant row group makes the whole file ONE Spark task and
        # fakes a serial bottleneck into every core-scaling number
        # (measured: doc_stats flat 32-vs-8 cores on a single-group
        # 500k-row file, 2.3x once split)
        pq.write_table(
            out, f"{DST}/{name}.parquet",
            row_group_size=max(1024, len(out) // 64),
        )
        print(f"built {name}: {len(t)} -> {len(out)} rows", file=sys.stderr)
    for name in DIMS:
        pq.write_table(
            pq.read_table(f"{SRC}/{name}.parquet"), f"{DST}/{name}.parquet"
        )


def run(names: list[str] | None = None) -> None:
    """Time ``names`` (default: the full QUERIES list) at both scales.
    With an explicit subset, merge the rows into SCALE_EXPERIMENT.json
    in place instead of printing a fresh full document."""
    import json

    from psd_project_spark.registry import queries
    from psd_project_spark.session import get_spark

    spark = get_spark(app_name="scale-experiment")
    qs = queries()
    subset = bool(names)
    result = {}
    for name in names or QUERIES:
        row = {}
        for label, sf_dir in (("sf0.1", SRC), ("sf1x10", DST)):
            row[label] = round(_best(spark, qs, name, sf_dir), 3)
        row["ratio"] = round(row["sf1x10"] / row["sf0.1"], 2)
        result[name] = row
        print(f"{name:24s} {row['sf0.1']:7.2f}s {row['sf1x10']:8.2f}s "
              f"x{row['ratio']}", file=sys.stderr, flush=True)
    if subset:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALE_EXPERIMENT.json",
        )
        with open(path) as fh:
            doc = json.load(fh)
        doc.update(result)
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
        print(f"merged {len(result)} rows into {path}", file=sys.stderr)
    print(json.dumps(result, indent=1))


def run_cores(names: list[str]) -> None:
    """Time ``names`` at the replicated scale ONLY, under the session's
    own core count (``$SPARK_GRAFT_CPUS`` — run once with 32 and once
    with 8 to get the comparison; a JVM's master is fixed for its
    lifetime, so the two counts need two processes). Prints one JSON
    object {name: best_sec}; the caller merges the pair into
    SCALE_EXPERIMENT.json's ``_cores_<reps>x`` section (VERDICT r14
    #7: demonstrate data parallelism where compute dominates — at
    sf0.1 every query is flat-or-faster at 8 cores because the bench
    measures orchestration, not data)."""
    import json

    from psd_project_spark.registry import queries
    from psd_project_spark.session import get_spark

    spark = get_spark(app_name="scale-cores")
    qs = queries()
    out = {}
    for name in names:
        best = _best(spark, qs, name, DST)
        out[name] = round(best, 3)
        print(f"{name:28s} {best:8.2f}s", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    if sys.argv[1] == "build":
        build()
    elif sys.argv[1] == "cores":
        run_cores(sys.argv[2:])
    else:
        run(sys.argv[2:] or None)
