"""Caches: per-query frames, session scratch dirs, persisted dirs.

Several operators cache an intermediate (signature tables, exploded
n-grams, cell assignments) that feeds BOTH the returned lazy DataFrame
and other branches of the same query — so it cannot be unpersisted
inside the operator (the caller has not materialized yet), but leaving
it cached forever accumulates session-lifetime memory (the
``dedup_embedding_lsh`` leak class, ADVICE r03).

:func:`transient_cache` caches the frame AND registers it;
:func:`release_transient` unpersists everything registered. The query
registry (`registry.py`) calls ``release_transient`` on every query
entry, so a scratch cache lives exactly from its query's construction
until the NEXT query starts — long enough for any consumer to
materialize the result, never longer. (Queries run serially per
session in every harness — driver, bench, pytest — which is what makes
next-entry release safe.)

On disk, :func:`scratch_dir` hands out a session-scoped directory that
the next invocation replaces, and :func:`cache_dir` names every
directory that outlives the session (indexes, layouts, sinks, format
stagings), keyed by the source table's content fingerprint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from psd_project_spark.durable import LOCK_SUFFIX, lock_is_live

_TRANSIENT: list[DataFrame] = []


def transient_cache(df: DataFrame) -> DataFrame:
    """Cache ``df`` for the duration of the current query."""
    df = df.cache()
    _TRANSIENT.append(df)
    return df


def release_transient() -> int:
    """Unpersist every scratch cache from prior queries; returns how
    many were released. Never raises (a stopped session just drops)."""
    n = 0
    while _TRANSIENT:
        df = _TRANSIENT.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


# --- session-scoped scratch directories --------------------------------------

_SCRATCH: dict[str, str] = {}
_SCRATCH_ATEXIT = False


def scratch_dir(prefix: str) -> str:
    """Session-scoped scratch directory (ADVICE r06 #2): registry
    queries that need a disk store (sketch stores, streaming sink +
    checkpoint dirs) previously ``mkdtemp``'d per INVOCATION and never
    removed — the bench/driver loops invoke each query repeatedly, so
    /tmp accumulated parquet stores for the whole session. One live
    scratch dir per prefix: minting the next invocation's dir removes
    the previous one (queries run serially per session — the same
    property that makes next-entry :func:`release_transient` safe, and
    the prior invocation's result was collected before the next query
    started), and an ``atexit`` hook removes whatever is live when the
    interpreter exits."""
    global _SCRATCH_ATEXIT
    import atexit
    import shutil
    import tempfile

    old = _SCRATCH.pop(prefix, None)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
    path = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH[prefix] = path
    if not _SCRATCH_ATEXIT:
        atexit.register(_cleanup_scratch)
        _SCRATCH_ATEXIT = True
    return path


def _cleanup_scratch() -> None:
    import shutil

    while _SCRATCH:
        _, path = _SCRATCH.popitem()
        shutil.rmtree(path, ignore_errors=True)


# --- persisted caches keyed by source content --------------------------------

def cache_dir(sf_dir: str, table: str, name: str) -> str:
    """The one home of every persisted index, layout, sink and staging
    dir an operator reuses across queries and runs:
    ``<tempfile.gettempdir()>/psd_spark_cache/<md5(sf_dir)[:10]>/
    <name>_<source_fingerprint(sf_dir, table)>``.

    - **Keyed by content, not path** (ADVICE r04): a reused result is
      only sound while its input is unchanged, so the source table's
      fingerprint is part of the name. Data regenerated in place — even
      a same-size, mtime-restored ``cp -p`` — mints a new directory,
      and the caller's completion gate (``_SUCCESS`` or a manifest)
      fails and rebuilds, instead of serving the old result.
    - **Layout in ``name``**: anything else the cached bytes depend on
      (bucket counts, bits, a recipe hash) goes into ``name``, so a
      layout change also lands in a fresh dir. The fingerprint stays
      LAST, optionally followed by a caller's ``_<suffix>`` variant
      (``_incr``, ``_cmp``, ``_del``, ``_stream`` …) — the contract
      :func:`prune_siblings_of` parses.
    - **Rooted at** ``tempfile.gettempdir()``, so ``TMPDIR`` separates
      two runs on one host the way it does for :func:`scratch_dir`.
    - **Retired on resolve**: each call prunes superseded-fingerprint
      siblings of ``name`` (all their suffix variants), skipping any
      tree a live writer still holds, so the root stays bounded across
      data regenerations."""
    import hashlib
    import tempfile

    from psd_project_spark.sources.registry import source_fingerprint

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    fp = source_fingerprint(sf_dir, table)
    path = os.path.join(
        tempfile.gettempdir(), "psd_spark_cache", key, f"{name}_{fp}"
    )
    prune_siblings_of(path)
    return path


def prune_stale_siblings(parent: str, prefix: str, fp: str) -> int:
    """Delete sibling index dirs of the same layout ``prefix`` whose
    fingerprint segment differs from the current ``fp`` — the
    fingerprinted cache key (sources/registry.source_fingerprint)
    mints a new directory whenever the source data changes, and the
    superseded trees (each a full corpus band/vector copy) would
    otherwise accumulate under the cache root forever. Returns the
    number of directories actually removed.

    The match is an exact parse of the name's fingerprint position
    (``{prefix}{fp}`` or ``{prefix}{fp}_suffix``), never a substring
    test — a substring test would mis-keep/mis-drop depending on how
    the prefix happens to end.

    A superseded sibling whose writer lock names a LIVE pid is SKIPPED
    (ADVICE r06 #3): a concurrent run still building against the older
    source state must not have its in-progress index rmtree'd out from
    under it — the same refusal ``durable.single_writer`` applies to
    a live holder, extended to sibling trees; an unreadable lock is a
    writer mid-acquisition and protects its tree too. The skipped tree
    is reclaimed by the next prune after that writer exits."""
    import shutil

    if not os.path.isdir(parent):
        return 0
    entries = [e for e in os.listdir(parent) if e.startswith(prefix)]
    protected: set[str] = set()
    for entry in entries:
        if not entry.endswith(LOCK_SUFFIX):
            continue
        lockfile = os.path.join(parent, entry)
        if os.path.isfile(lockfile) and lock_is_live(lockfile):
            # protect the lock AND the index dir it guards
            protected.add(entry)
            protected.add(entry[: -len(LOCK_SUFFIX)])
    n = 0
    for entry in entries:
        rest = entry[len(prefix):]
        if rest == fp or rest.startswith(fp + "_") or rest.startswith(
            fp + LOCK_SUFFIX
        ):
            continue  # the live index (or its _incr sibling / lock)
        if entry in protected:
            continue  # a live writer still owns this superseded tree
        target = os.path.join(parent, entry)
        if os.path.isfile(target):  # a superseded index's lock file
            try:
                os.remove(target)
            except OSError:
                pass
        else:
            shutil.rmtree(target, ignore_errors=True)
        if not os.path.exists(target):
            n += 1
    return n


def prune_siblings_of(path: str) -> int:
    """Prune superseded fingerprint siblings of a current index dir
    whose basename is ``{prefix}{fp10}`` or ``{prefix}{fp10}_<layout>``
    (``source_fingerprint`` returns exactly 10 hex chars; the layout
    suffix is ``_incr``, ``_cmp``, or any future variant including
    multi-segment ones like ``_incr_v2`` — ``_``-segments are stripped
    right-to-left until the remaining stem ends in the 10-hex
    fingerprint, preferring the longest such stem, so a new variant
    can't silently opt out of pruning). :func:`cache_dir` calls it on
    every resolve, so a superseded fingerprint's suffix variants go
    with it."""
    def _fp_stem(s: str) -> bool:
        return len(s) > 10 and all(
            c in "0123456789abcdef" for c in s[-10:]
        )

    base = os.path.basename(path)
    core = base
    if not _fp_stem(core):  # longest stem first: an un-suffixed name
        cand = base         # already ends in its fingerprint
        while "_" in cand:
            cand = cand.rpartition("_")[0]
            if _fp_stem(cand):
                core = cand
                break
    fp = core[-10:]
    # only act on real fingerprinted names (10 hex chars after a
    # non-empty prefix) — a test-scratch dir like "idx" must never
    # trigger a prune of its whole parent
    if len(core) <= 10 or not all(c in "0123456789abcdef" for c in fp):
        return 0
    return prune_stale_siblings(os.path.dirname(path), core[:-10], fp)
