"""Filesystem contract of the cross-process fixture stage
(suite.staging._shared_stage, VERDICT r8 item 6) — no Spark needed.

The properties the streaming/binaryFile queries rely on:

1. build-once: a published key is reused (build NOT called again),
   in-process and from a fresh process (marker probe);
2. atomic publish: readers never see a dir without ``_STAGED_OK`` —
   the marker is written before the rename, inside the tmp dir;
3. race-loser cleanup: when the final dir already exists, a concurrent
   builder's tmp dir is discarded and the winner's bytes are served;
4. reaper: dead builders' ``*.tmp_{pid}_*`` leftovers are removed,
   published dirs and LIVE builders' tmp dirs are kept.
"""

from __future__ import annotations

import os
import shutil

import uuid

from automated_batch_data_pipeline_nyc_spark.suite import staging

#: per-test-run key suffix: two concurrent pytest runs on one machine
#: must not race each other's fixtures in the shared (per-uid) root
_RUN = uuid.uuid4().hex[:8]


def _stage_root() -> str:
    return staging._stage_root()


def _clean(name: str) -> None:
    shutil.rmtree(os.path.join(_stage_root(), name), ignore_errors=True)
    staging._SHARED_STAGED.discard(os.path.join(_stage_root(), name))


def test_shared_stage_builds_once_and_reuses():
    name = f"unittest_stage_reuse_{_RUN}"
    _clean(name)
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data.txt"), "w") as fh:
            fh.write("payload")

    p1 = staging._shared_stage(name, build)
    assert os.path.exists(os.path.join(p1, "_STAGED_OK"))
    assert open(os.path.join(p1, "data.txt")).read() == "payload"
    # second call: in-process fast path, no rebuild
    p2 = staging._shared_stage(name, build)
    assert p2 == p1 and len(calls) == 1
    # fresh-process simulation: drop the in-process memo — the marker
    # probe must still skip the build
    staging._SHARED_STAGED.discard(p1)
    p3 = staging._shared_stage(name, build)
    assert p3 == p1 and len(calls) == 1
    _clean(name)


def test_shared_stage_race_loser_discards_and_serves_winner():
    """A concurrent process publishes the key between our marker probe
    and our rename: the loser's rename fails, its bytes are discarded,
    and the winner's complete dir is served."""
    name = f"unittest_stage_race_{_RUN}"
    _clean(name)
    final = os.path.join(_stage_root(), name)

    def loser(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data.txt"), "w") as fh:
            fh.write("loser")
        # ...meanwhile the CONCURRENT winner publishes the same key
        wtmp = f"{final}.tmp_winner"
        os.makedirs(wtmp, exist_ok=True)
        with open(os.path.join(wtmp, "data.txt"), "w") as fh:
            fh.write("winner")
        with open(os.path.join(wtmp, "_STAGED_OK"), "w"):
            pass
        os.rename(wtmp, final)

    got = staging._shared_stage(name, loser)
    assert got == final
    # winner's bytes served; loser's tmp discarded
    assert open(os.path.join(final, "data.txt")).read() == "winner"
    leftovers = [
        e for e in os.listdir(_stage_root()) if e.startswith(f"{name}.tmp_")
    ]
    assert leftovers == []
    _clean(name)


def test_shared_stage_rename_failure_without_winner_raises():
    """A rename failure with NO published winner is a real filesystem
    error — it must raise, not memoize a nonexistent path (r9
    self-review finding)."""
    import pytest

    name = f"unittest_stage_badrename_{_RUN}"
    _clean(name)
    final = os.path.join(_stage_root(), name)

    def build_blocking_rename(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data.txt"), "w") as fh:
            fh.write("x")
        # make the final path an EXISTING NON-EMPTY dir WITHOUT a
        # marker: rename fails (ENOTEMPTY) and no winner exists
        os.makedirs(final, exist_ok=True)
        with open(os.path.join(final, "junk.txt"), "w") as fh:
            fh.write("junk")

    with pytest.raises(OSError):
        staging._shared_stage(name, build_blocking_rename)
    assert final not in staging._SHARED_STAGED
    _clean(name)


def test_reap_scratch_sheds_dead_tmp_keeps_published_and_live():
    root = _stage_root()
    os.makedirs(root, exist_ok=True)
    published = os.path.join(root, f"unittest_reap_published_{_RUN}")
    _clean(f"unittest_reap_published_{_RUN}")
    os.makedirs(published, exist_ok=True)
    with open(os.path.join(published, "_STAGED_OK"), "w"):
        pass
    dead_tmp = os.path.join(root, f"unittest_reap_{_RUN}.tmp_999999999_abc123")
    live_tmp = os.path.join(root, f"unittest_reap_{_RUN}.tmp_{os.getpid()}_def456")
    os.makedirs(dead_tmp, exist_ok=True)
    os.makedirs(live_tmp, exist_ok=True)
    try:
        staging._reap_scratch()
        assert os.path.exists(published), "published dir must survive reap"
        assert not os.path.exists(dead_tmp), "dead builder tmp must be reaped"
        assert os.path.exists(live_tmp), "live builder tmp must survive"
    finally:
        shutil.rmtree(live_tmp, ignore_errors=True)
        shutil.rmtree(dead_tmp, ignore_errors=True)
        _clean(f"unittest_reap_published_{_RUN}")


def test_fixture_fingerprint_tracks_content_changes(tmp_path):
    """Regenerated fixtures at the SAME path must produce a different
    stage key (r9 self-review finding: path-keyed staging served bytes
    derived from old tables after a fixture regen)."""
    import time

    f = tmp_path / "events.parquet"
    f.write_bytes(b"v1-bytes")
    fp1 = staging._fixture_fingerprint(str(tmp_path))
    fp1_again = staging._fixture_fingerprint(str(tmp_path))
    assert fp1 == fp1_again  # stable while untouched
    # same size, newer mtime (regen with identical size still rebuilds)
    time.sleep(0.01)
    f.write_bytes(b"v2-BYTES")
    assert staging._fixture_fingerprint(str(tmp_path)) != fp1
    # non-parquet files don't participate
    (tmp_path / "notes.txt").write_text("ignored")
    fp3 = staging._fixture_fingerprint(str(tmp_path))
    (tmp_path / "notes.txt").write_text("still ignored, changed")
    assert staging._fixture_fingerprint(str(tmp_path)) == fp3


def test_fixture_fingerprint_raises_on_absent_fixture(tmp_path):
    """ADVICE r9: a missing root or a root with no parquet tables must
    RAISE, never mint a stable-looking path-only key for a fixture that
    isn't there."""
    import pytest

    with pytest.raises(OSError):
        staging._fixture_fingerprint(str(tmp_path / "does_not_exist"))
    (tmp_path / "readme.txt").write_text("no tables here")
    with pytest.raises(FileNotFoundError):
        staging._fixture_fingerprint(str(tmp_path))


def test_fixture_fingerprint_recurses_directory_tables(tmp_path):
    """ADVICE r9: a directory-valued parquet table (Spark-style
    part-file dir) must rotate the key when a part file is rewritten
    IN PLACE — the dir entry's own stat doesn't change, so only
    recursion catches it."""
    import time

    tdir = tmp_path / "events.parquet"
    tdir.mkdir()
    part = tdir / "part-00000.snappy.parquet"
    part.write_bytes(b"v1-part-bytes")
    fp1 = staging._fixture_fingerprint(str(tmp_path))
    assert fp1 == staging._fixture_fingerprint(str(tmp_path))
    time.sleep(0.01)
    part.write_bytes(b"v2-PART-bytes")  # same size, newer mtime
    os.utime(tdir, ns=(0, 0))  # freeze the DIR stat: only recursion can see it
    assert staging._fixture_fingerprint(str(tmp_path)) != fp1


def test_stage_root_ownership_is_verified(tmp_path, monkeypatch):
    """ADVICE r9 (medium): a pre-existing stage root that is not a
    private directory owned by us must be refused loudly — makedirs
    with exist_ok=True would otherwise adopt a hostile pre-created
    root in world-writable /tmp."""
    import pytest

    hostile = tmp_path / "stage_root"
    hostile.mkdir(mode=0o777)
    os.chmod(hostile, 0o777)  # mkdir honors umask; force the open mode
    monkeypatch.setattr(staging, "_stage_root", lambda: str(hostile))
    with pytest.raises(RuntimeError, match="refusing to trust"):
        staging._secure_stage_root()
    # tightening the mode back to private makes the same root acceptable
    os.chmod(hostile, 0o700)
    assert staging._secure_stage_root() == str(hostile)
    # a symlinked root is refused even when its target is private
    target = tmp_path / "elsewhere"
    target.mkdir(mode=0o700)
    link = tmp_path / "stage_link"
    link.symlink_to(target)
    monkeypatch.setattr(staging, "_stage_root", lambda: str(link))
    with pytest.raises(RuntimeError, match="refusing to trust"):
        staging._secure_stage_root()


def test_shared_stage_ignores_marker_in_unowned_dir(tmp_path, monkeypatch):
    """ADVICE r9: a published dir's ``_STAGED_OK`` marker is only
    trusted when we own the dir (exercised via the helper — inside a
    verified 0700 root an unowned dir cannot actually occur, which is
    the point of the root check)."""
    d = tmp_path / "pub"
    d.mkdir()
    (d / "_STAGED_OK").touch()
    assert staging._owned_published_dir(str(d)) is True
    assert staging._owned_published_dir(str(tmp_path / "missing")) is False
    f = tmp_path / "plainfile"
    f.write_text("not a dir")
    assert staging._owned_published_dir(str(f)) is False


def test_shared_stage_race_fallback_requires_owned_winner(monkeypatch):
    """The lost-race fallback only serves a marker-bearing winner WE
    own (r10 review finding): an unowned dir that blocks our rename
    must raise, never be memoized."""
    import pytest

    name = f"unittest_stage_unowned_{_RUN}"
    _clean(name)
    final = os.path.join(_stage_root(), name)

    def build_blocking(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data.txt"), "w") as fh:
            fh.write("mine")
        # a marker-bearing final dir appears... but pretend it isn't ours
        os.makedirs(final, exist_ok=True)
        with open(os.path.join(final, "_STAGED_OK"), "w"):
            pass
        with open(os.path.join(final, "junk.txt"), "w") as fh:
            fh.write("blocks rename")

    monkeypatch.setattr(staging, "_owned_published_dir", lambda p: False)
    with pytest.raises(OSError):
        staging._shared_stage(name, build_blocking)
    assert final not in staging._SHARED_STAGED
    _clean(name)
