"""Round-7 protocol fixes: atomic stale-lock break (ADVICE r06 #1),
live-writer-protected sibling pruning (ADVICE r06 #3), session-scoped
scratch directories (ADVICE r06 #2)."""

import os

import pytest


# --- single_writer._break_stale (ADVICE r06 #1: TOCTOU) ----------------------

def test_break_stale_removes_diagnosed_dead_lock(tmp_path):
    from psd_project_spark.durable import single_writer

    path = str(tmp_path / "idx")
    os.makedirs(path)
    lock = path + ".writer.pid"
    with open(lock, "w") as fh:
        fh.write("999999999")
    single_writer(path)._break_stale(999999999)
    assert not os.path.exists(lock)
    assert os.listdir(str(tmp_path)) == ["idx"]  # no victim debris


def test_break_stale_is_noop_when_already_broken(tmp_path):
    """The losing racer's rename hits FileNotFoundError and must return
    quietly (it then retries the link against the winner's new lock)."""
    from psd_project_spark.durable import single_writer

    path = str(tmp_path / "idx")
    os.makedirs(path)
    single_writer(path)._break_stale(999999999)  # no lock on disk
    assert os.listdir(str(tmp_path)) == ["idx"]


def test_break_stale_restores_reacquired_live_lock(tmp_path):
    """The exact ADVICE r06 #1 interleave: this process diagnosed a
    stale holder, but before its break another racer broke that holder
    and linked its own LIVE lock. The rename captures the live lock —
    content validation must RESTORE it byte-identical and raise,
    never leave the live writer lockless."""
    from psd_project_spark.durable import single_writer

    path = str(tmp_path / "idx")
    os.makedirs(path)
    lock = path + ".writer.pid"
    live = str(os.getppid())  # a live pid that isn't ours
    with open(lock, "w") as fh:
        fh.write(live)  # racer re-acquired after breaking pid 999999999
    with pytest.raises(RuntimeError, match="re-acquired while breaking"):
        single_writer(path)._break_stale(999999999)
    assert open(lock).read() == live  # live lock restored intact
    assert sorted(os.listdir(str(tmp_path))) == ["idx", "idx.writer.pid"]


def test_enter_still_breaks_stale_end_to_end(tmp_path):
    """The full acquisition path over a genuinely stale lock still
    acquires (the atomic break composes with the two-pass retry)."""
    from psd_project_spark.durable import single_writer

    path = str(tmp_path / "idx")
    os.makedirs(path)
    lock = path + ".writer.pid"
    with open(lock, "w") as fh:
        fh.write("999999999")
    with single_writer(path):
        assert open(lock).read() == str(os.getpid())
    assert not os.path.exists(lock)


# --- prune_stale_siblings live-writer protection (ADVICE r06 #3) -------------

def test_prune_skips_sibling_with_live_writer(tmp_path):
    from psd_project_spark.functions.caching import prune_siblings_of

    current = "minhash_index_4x256_aaaa0000bb"
    busy = "minhash_index_4x256_ccc111ddd2"
    dead = "minhash_index_4x256_eee333fff4"
    for d in (current, busy, dead):
        os.makedirs(str(tmp_path / d))
    with open(str(tmp_path / (busy + ".writer.pid")), "w") as fh:
        fh.write(str(os.getppid()))  # live concurrent builder
    with open(str(tmp_path / (dead + ".writer.pid")), "w") as fh:
        fh.write("999999999")  # crashed builder: tree reclaimable
    n = prune_siblings_of(str(tmp_path / current))
    # dead sibling + its lock pruned; live sibling + its lock kept
    assert n == 2
    assert sorted(os.listdir(str(tmp_path))) == sorted(
        [current, busy, busy + ".writer.pid"]
    )
    # after the live writer exits, the next prune reclaims its tree
    with open(str(tmp_path / (busy + ".writer.pid")), "w") as fh:
        fh.write("999999999")
    assert prune_siblings_of(str(tmp_path / current)) == 2
    assert os.listdir(str(tmp_path)) == [current]


def test_prune_protects_unreadable_lock_sibling(tmp_path):
    """An unreadable lock is mid-acquisition (the single_writer
    contention discipline): its tree must be protected, not pruned."""
    from psd_project_spark.functions.caching import prune_siblings_of

    current = "ann_index_8x4_aaaa0000bb"
    odd = "ann_index_8x4_ccc111ddd2"
    for d in (current, odd):
        os.makedirs(str(tmp_path / d))
    with open(str(tmp_path / (odd + ".writer.pid")), "w") as fh:
        fh.write("not-a-pid")
    assert prune_siblings_of(str(tmp_path / current)) == 0
    assert sorted(os.listdir(str(tmp_path))) == sorted(
        [current, odd, odd + ".writer.pid"]
    )


# --- scratch_dir (ADVICE r06 #2) ---------------------------------------------

def test_scratch_dir_reclaims_previous_invocation():
    from psd_project_spark.functions.caching import (
        _cleanup_scratch,
        scratch_dir,
    )

    a = scratch_dir("psd_test_scratch_")
    marker = os.path.join(a, "x")
    open(marker, "w").close()
    b = scratch_dir("psd_test_scratch_")
    assert a != b
    assert not os.path.exists(a)  # previous run's store reclaimed
    assert os.path.isdir(b)
    other = scratch_dir("psd_test_scratch2_")
    assert os.path.isdir(b)  # distinct prefixes coexist
    _cleanup_scratch()
    assert not os.path.exists(b) and not os.path.exists(other)
