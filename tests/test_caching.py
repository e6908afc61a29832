"""The one persisted-cache root (no Spark needed).

Every persisted index, layout, sink and staging dir is named by
``functions/caching.cache_dir``: rooted at ``tempfile.gettempdir()``
and keyed by the source table's content fingerprint. These tests pin
that contract for all 13 path helpers against fake source files — the
helpers only hash bytes, they never parse them.
"""

from __future__ import annotations

import os
import re
import tempfile
from pathlib import Path

import psd_project_spark
from psd_project_spark.operators import (
    dedup,
    exact_substr,
    governance,
    quality_classifier,
    similarity,
    timeseries,
    zorder,
)
from psd_project_spark.sources import alert_log, jsonl, orc
from psd_project_spark.streaming import jobs

TABLES = ("documents", "embeddings", "orders", "lineitem", "events")

#: name → (sf_dir) -> path, one entry per persisted-cache helper
HELPERS = {
    "ann": similarity._ann_index_dir,
    "ivf": similarity._ivf_index_dir,
    "zorder": zorder._zorder_dir,
    "zonemap": zorder._zonemap_dir,
    "minhash": dedup._minhash_index_dir,
    "substr": exact_substr._substr_index_dir,
    "qstore": quality_classifier._qstore_dir,
    "shards": governance._shard_dir,
    "sink": timeseries._sink_dir,
    "orc": orc._stage_lineitem_orc,
    "jsonl": jsonl._stage_events_jsonl,
    "alert_log": alert_log._stage_dir,
    "stream": lambda sf: jobs._stream_dir(sf, "events"),
}


def _fake_sf(root: Path) -> str:
    root.mkdir(parents=True)
    for i, t in enumerate(TABLES):
        (root / f"{t}.parquet").write_bytes(bytes([65 + i]) * 1000)
    return str(root)


def _use_tmpdir(monkeypatch, path: Path) -> str:
    path.mkdir(parents=True, exist_ok=True)
    monkeypatch.setenv("TMPDIR", str(path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    return tempfile.gettempdir()


def _resolve_all(sf: str) -> dict[str, str]:
    return {name: fn(sf) for name, fn in HELPERS.items()}


def test_every_helper_roots_under_tmpdir(tmp_path, monkeypatch):
    sf = _fake_sf(tmp_path / "sf")
    seen = []
    for run in ("a", "b"):
        root = _use_tmpdir(monkeypatch, tmp_path / run)
        paths = _resolve_all(sf)
        for name, p in paths.items():
            assert p.startswith(root + os.sep), (name, p)
        seen.append(set(paths.values()))
    assert not seen[0] & seen[1]


def test_same_size_mtime_restored_rewrite_moves_every_path(
    tmp_path, monkeypatch
):
    """The ``cp -p`` case: different bytes, same size, same mtime."""
    _use_tmpdir(monkeypatch, tmp_path / "tmp")
    sf = _fake_sf(tmp_path / "sf")
    before = _resolve_all(sf)
    for t in TABLES:
        f = os.path.join(sf, f"{t}.parquet")
        st = os.stat(f)
        with open(f, "r+b") as fh:
            fh.write(b"z" * 10)
        os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
        assert os.stat(f).st_size == st.st_size
    after = _resolve_all(sf)
    unchanged = [n for n in HELPERS if before[n] == after[n]]
    assert unchanged == []


def test_cache_dir_prunes_superseded_siblings_but_not_live_writers(
    tmp_path, monkeypatch
):
    from psd_project_spark.functions.caching import LOCK_SUFFIX, cache_dir

    _use_tmpdir(monkeypatch, tmp_path / "tmp")
    sf = _fake_sf(tmp_path / "sf")
    src = os.path.join(sf, "orders.parquet")

    def regenerate(tag: bytes) -> None:
        with open(src, "wb") as fh:
            fh.write(tag * 1000)

    old = cache_dir(sf, "orders", "idx_4x8")
    other = cache_dir(sf, "orders", "idx_8x8")
    for d in (old, old + "_incr", other):
        os.makedirs(d)
    regenerate(b"1")
    live = cache_dir(sf, "orders", "idx_4x8")
    assert live != old
    # every suffix variant of the superseded fingerprint went with it;
    # a different name under the same root is not a sibling
    assert not os.path.exists(old) and not os.path.exists(old + "_incr")
    assert os.path.isdir(other)
    assert os.path.dirname(live) == os.path.dirname(old)

    os.makedirs(live)
    with open(live + LOCK_SUFFIX, "w") as fh:
        fh.write(str(os.getpid()))  # a live writer still builds it
    regenerate(b"2")
    newest = cache_dir(sf, "orders", "idx_4x8")
    assert newest != live and os.path.isdir(live)
    os.remove(live + LOCK_SUFFIX)
    assert cache_dir(sf, "orders", "idx_4x8") == newest
    assert not os.path.exists(live)


def test_stream_dir_relative_sf_dir(tmp_path, monkeypatch):
    """A relative sf_dir must link to an absolute target: a relative
    link dangles, and the second call then fails on the dead link."""
    _use_tmpdir(monkeypatch, tmp_path / "tmp")
    _fake_sf(tmp_path / "sf")
    monkeypatch.chdir(tmp_path)
    d = jobs._stream_dir("sf", "events")
    assert jobs._stream_dir("sf", "events") == d
    link = os.path.join(d, "events.parquet")
    assert os.readlink(link) == str(tmp_path / "sf" / "events.parquet")
    assert os.path.isfile(link)


def test_package_has_one_cache_root():
    """No hard-coded temp root, and one owner of the path key and of
    sibling pruning."""
    pkg = Path(psd_project_spark.__file__).parent
    rules = [
        (re.compile(r"[\"']/tmp"), None),
        (re.compile(r"hashlib\.md5\(sf_dir"), "functions/caching.py"),
        (re.compile(r"prune_siblings_of\("), "functions/caching.py"),
    ]
    hits = [
        f"{src.relative_to(pkg)}:{line.strip()}"
        for src in sorted(pkg.rglob("*.py"))
        for line in src.read_text().splitlines()
        for pattern, owner in rules
        if pattern.search(line) and str(src.relative_to(pkg)) != owner
    ]
    assert hits == []

