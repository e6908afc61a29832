"""The durable-state primitive (``psd_project_spark/durable.py``):
fault injection on publish, the gated build and the pointer repoint,
corrupt reads, racing writers, and source scans that keep it the
package's only publish, lock and pointer protocol. No Spark session."""

import ast
import os
import re
import sys
import threading
from pathlib import Path

import pytest

from psd_project_spark import durable
from psd_project_spark.durable import CorruptMetadata
from psd_project_spark.operators import index_compact
from psd_project_spark.streaming.foreach_sink import current_version


def test_failed_replace_keeps_the_previous_document(tmp_path, monkeypatch):
    path = str(tmp_path / "_MANIFEST.json")
    durable.publish(path, {"v": 1})

    def boom(src, dst):
        raise OSError("disk gone mid-publish")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="mid-publish"):
        durable.publish(path, {"v": 2})
    monkeypatch.undo()
    assert durable.read_json(path) == {"v": 1}
    assert os.listdir(tmp_path) == ["_MANIFEST.json"], "tmp file left behind"


def test_truncated_json_names_the_file(tmp_path):
    path = tmp_path / "_ZCELLS.json"
    path.write_text('{"applied": 3, "cells": {"1": ["e0-p0')
    with pytest.raises(CorruptMetadata, match=re.escape(str(path))):
        durable.read_json(str(path))
    with pytest.raises(FileNotFoundError):
        durable.read_json(str(tmp_path / "absent.json"))


def test_read_int_defaults_when_absent_and_fails_on_garbage(tmp_path):
    path = tmp_path / "_APPLIED"
    assert durable.read_int(str(path), -1) == -1
    durable.publish(str(path), "7")
    assert durable.read_int(str(path), -1) == 7
    path.write_text("7 epochs")
    with pytest.raises(CorruptMetadata, match="_APPLIED"):
        durable.read_int(str(path), -1)


def _run_racing(workers, reader):
    """Run ``workers`` and ``reader`` threads with a tiny switch
    interval; returns the exceptions they raised."""
    errors = []
    done = threading.Event()

    def guard(fn, *args):
        try:
            fn(*args)
        except BaseException as e:  # recorded, asserted by the caller
            errors.append(e)

    def read_loop():
        while not done.is_set():
            reader()

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=guard, args=(w,)) for w in workers]
        rt = threading.Thread(target=guard, args=(read_loop,))
        rt.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        done.set()
        rt.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads + [rt])
    return errors


def test_racing_publishers_never_tear_the_document(tmp_path):
    """Two writers publish different documents to one path while a
    third thread reads it: a shared tmp name would tear the document
    or fail a writer's replace; writer-unique names do neither."""
    path = str(tmp_path / ".evicted.c.json")
    docs = [
        {"progress": 1, "evicted_at_epoch": 4, "max_lag": 2, "pad": "a" * 4096},
        {"progress": 2, "evicted_at_epoch": 5, "max_lag": 2, "pad": "b" * 4096},
    ]
    durable.publish(path, docs[0])
    reads = []

    def write(doc):
        for _ in range(200):
            durable.publish(path, doc)

    errors = _run_racing(
        [lambda: write(docs[0]), lambda: write(docs[1])],
        lambda: reads.append(durable.read_json(path)),
    )
    assert errors == []
    assert reads and all(r in docs for r in reads)
    assert os.listdir(tmp_path) == [".evicted.c.json"]


def test_gate_published_while_locking_skips_the_build(tmp_path, monkeypatch):
    """A racing writer finishes the index while this one waits for the
    lock: the re-check under the lock must skip the build, never
    rebuild over (or remove) the finished directory."""
    path = str(tmp_path / "idx")
    marker = os.path.join(path, "_DELTA_APPENDED")
    part = os.path.join(path, "bucket=1", "part-0.parquet")

    class racing(durable.single_writer):
        def __enter__(self):
            os.makedirs(os.path.dirname(part))
            with open(part, "w") as fh:
                fh.write("finished")
            durable.publish(marker, "base+delta\n")
            return super().__enter__()

    monkeypatch.setattr(durable, "single_writer", racing)
    calls = []
    built = index_compact.build_base_plus_delta(
        path, lambda: calls.append("base"), lambda: calls.append("delta")
    )
    assert (built, calls) == (False, [])
    assert open(part).read() == "finished"
    assert not os.path.exists(path + durable.LOCK_SUFFIX)


def test_failed_build_publishes_no_gate_and_releases_the_lock(tmp_path):
    """A build that raises leaves no gate and no lock file, and the
    retry starts from an empty directory: the crashed attempt's
    partial output is cleared before the build runs again."""
    path = str(tmp_path / "idx")
    marker = os.path.join(path, "_DELTA_APPENDED")

    def write_partial():
        os.makedirs(os.path.join(path, "bucket=1"))
        with open(os.path.join(path, "bucket=1", "part-0.parquet"), "w"):
            pass

    def crash():
        raise RuntimeError("injected mid-build crash")

    with pytest.raises(RuntimeError, match="mid-build"):
        index_compact.build_base_plus_delta(path, write_partial, crash)
    assert not os.path.exists(marker)
    assert not os.path.exists(path + durable.LOCK_SUFFIX)

    seen = []

    def write_base():
        seen.append(os.listdir(path) if os.path.isdir(path) else [])
        write_partial()

    assert index_compact.build_base_plus_delta(path, write_base, lambda: None)
    assert seen == [[]], "the crashed attempt's files survived the rebuild"
    assert open(marker).read() == "base+delta\n"
    assert sorted(os.listdir(tmp_path)) == ["idx"]


def test_failed_replace_keeps_the_previous_pointer(tmp_path, monkeypatch):
    link = str(tmp_path / "current")
    durable.repoint(link, "v1")

    def boom(src, dst):
        raise OSError("disk gone mid-repoint")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="mid-repoint"):
        durable.repoint(link, "v2")
    monkeypatch.undo()
    assert durable.read_pointer(link) == "v1"
    assert os.listdir(tmp_path) == ["current"], "tmp link left behind"


def test_racing_repoints_never_expose_a_bad_pointer(tmp_path):
    """Two writers repoint one link at the same pair of targets while a
    third thread reads it: writer-unique tmp names never collide, and
    the reader only ever sees a valid target."""
    link = str(tmp_path / "current")
    targets = ["v0", "v1"]
    durable.repoint(link, targets[0])
    reads = []

    def write(offset):
        for i in range(200):
            durable.repoint(link, targets[(i + offset) % 2])

    errors = _run_racing(
        [lambda: write(0), lambda: write(1)],
        lambda: reads.append(durable.read_pointer(link)),
    )
    assert errors == []
    assert reads and set(reads) <= set(targets)
    assert os.listdir(tmp_path) == ["current"]


def test_current_that_is_not_a_symlink_is_corrupt(tmp_path):
    assert current_version(str(tmp_path)) == (-1, 0)
    (tmp_path / "current").write_text("v3")
    with pytest.raises(CorruptMetadata, match=re.escape(str(tmp_path))):
        current_version(str(tmp_path))


def test_durable_is_the_only_publish_protocol():
    """Every ``json.dump``/``json.load`` and every ``.tmp`` name in the
    package lives in durable.py."""
    pkg = Path(durable.__file__).parent
    pattern = re.compile(r"json\.(dump|load)\(|\.tmp\b")
    hits = [
        f"{src.relative_to(pkg)}:{line.strip()}"
        for src in sorted(pkg.rglob("*.py"))
        if src.name != "durable.py"
        for line in src.read_text().splitlines()
        if pattern.search(line)
    ]
    assert hits == []


def _callers(pattern: re.Pattern) -> list[tuple[str, set[str]]]:
    """(module, names of the enclosing functions) for every line outside
    durable.py that matches ``pattern``."""
    pkg = Path(durable.__file__).parent
    out = []
    for src in sorted(pkg.rglob("*.py")):
        if src.name == "durable.py":
            continue
        text = src.read_text()
        funcs = [
            n for n in ast.walk(ast.parse(text))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for i, line in enumerate(text.splitlines(), 1):
            if pattern.search(line):
                names = {f.name for f in funcs if f.lineno <= i <= f.end_lineno}
                out.append((str(src.relative_to(pkg)), names))
    return out


#: The sections that take the writer lock themselves: compaction (also
#: called inside a gated build, where the lock is re-entered) and the
#: per-epoch ``foreachBatch`` callables, which mutate a standing dir
#: outside any build.
_LOCK_TAKERS = {
    "compact_index",
    "_zonemap_ingest_batch_fn",
    "_zorder_ingest_batch_fn",
    "_maintain_batch_fn",
    "_delete_batch_fn",
}


def test_durable_owns_the_lock_and_the_pointer():
    """Every other gated build goes through ``durable.build_once``, and
    every versioned pointer through ``repoint``/``read_pointer``: a
    hand-typed gate/lock/re-check sequence or a raw symlink is a
    copy of the protocol that can drift from it."""
    lock = _callers(re.compile(r"single_writer\("))
    assert [(m, n) for m, n in lock if not n & _LOCK_TAKERS] == []
    assert set().union(*(n for _, n in lock)) & _LOCK_TAKERS == _LOCK_TAKERS
    links = _callers(re.compile(r"os\.(symlink|readlink)\("))
    assert links == [("streaming/jobs.py", {"_stream_dir"})]
