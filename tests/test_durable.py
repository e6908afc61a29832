"""The durable-metadata primitive (``psd_project_spark/durable.py``):
fault injection on publish, corrupt reads, racing writers, and a
source scan that keeps it the package's only publish protocol. No
Spark session."""

import os
import re
import sys
import threading
from pathlib import Path

import pytest

from psd_project_spark import durable
from psd_project_spark.durable import CorruptMetadata


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
    errors, reads = [], []
    done = threading.Event()

    def write(doc):
        try:
            for _ in range(200):
                durable.publish(path, doc)
        except BaseException as e:  # recorded, asserted below
            errors.append(e)

    def read():
        try:
            while not done.is_set():
                reads.append(durable.read_json(path))
        except BaseException as e:  # recorded, asserted below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        reader = threading.Thread(target=read)
        writers = [threading.Thread(target=write, args=(d,)) for d in docs]
        reader.start()
        for w in writers:
            w.start()
        for w in writers:
            w.join(timeout=60)
        done.set()
        reader.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in writers + [reader])
    assert errors == []
    assert reads and all(r in docs for r in reads)
    assert os.listdir(tmp_path) == [".evicted.c.json"]


def test_durable_is_the_only_publish_protocol():
    """Every ``json.dump``/``json.load`` and every ``.tmp`` name in the
    package lives in durable.py, apart from the single-writer lock's
    pid tmp file (an ``os.link`` publish, not a replace)."""
    pkg = Path(durable.__file__).parent
    pattern = re.compile(r"json\.(dump|load)\(|\.tmp\b")
    hits = [
        f"{src.relative_to(pkg)}:{line.strip()}"
        for src in sorted(pkg.rglob("*.py"))
        if src.name != "durable.py"
        for line in src.read_text().splitlines()
        if pattern.search(line)
    ]
    assert hits == [
        'operators/index_compact.py:tmp = f"{self.lock}.{os.getpid()}.tmp"'
    ]
