"""artifacts.materialize: the one publish rule of every cached build.

A directory is complete iff it holds ``_BUILT``; a build runs in the
pid-private sibling ``<path>.tmp.<pid>`` and is published by one rename;
a collision keeps whichever complete dataset is at ``path``. These tests
inject the faults on plain files, no Spark needed."""

from __future__ import annotations

import os

import pytest

from lab_etl_batch_data_processing_pipeline__spark import artifacts


def _tree(d) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def _writer(payload: bytes, calls: list | None = None):
    def build(tmp: str) -> None:
        if calls is not None:
            calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0"), "wb") as fh:
            fh.write(payload)

    return build


def _siblings(path: str) -> list[str]:
    parent, base = os.path.split(path)
    return sorted(n for n in os.listdir(parent) if n.startswith(base + "."))


def test_failed_build_leaves_nothing_and_next_call_builds(tmp_path):
    path = str(tmp_path / "csv" / "sf0.01-1-2")

    def crash(tmp: str) -> None:
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-0"), "w").close()
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError, match="executor lost"):
        artifacts.materialize(path, crash)
    assert not os.path.exists(path)
    assert not os.path.exists(f"{path}.tmp.{os.getpid()}")

    assert artifacts.materialize(path, _writer(b"rows")) == path
    assert _tree(path) == {"part-0": b"rows", "_BUILT": b"ok\n"}
    assert _siblings(path) == []


def test_unmarked_legacy_dir_is_replaced(tmp_path):
    """A directory at ``path`` without ``_BUILT`` — a Spark ``_SUCCESS``
    write or a crashed build from before the one rule — is claimed and
    replaced, never trusted."""
    path = tmp_path / "orc" / "sf0.01-1-2"
    path.mkdir(parents=True)
    (path / "_SUCCESS").write_bytes(b"")
    (path / "part-old").write_bytes(b"stale")

    artifacts.materialize(str(path), _writer(b"fresh"))
    assert _tree(path) == {"part-0": b"fresh", "_BUILT": b"ok\n"}
    assert _siblings(str(path)) == []


def test_built_marker_means_build_is_never_called(tmp_path):
    path = tmp_path / "csvq" / "sf0.01-1-2"
    path.mkdir(parents=True)
    (path / "part-0").write_bytes(b"kept")
    (path / "_BUILT").write_bytes(b"")

    def never(tmp: str) -> None:
        raise AssertionError("build called over a complete dataset")

    assert artifacts.materialize(str(path), never) == str(path)
    assert _tree(path) == {"part-0": b"kept", "_BUILT": b""}


def _publish_racer(path: str) -> dict[str, bytes]:
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "wb") as fh:
        fh.write(b"racer's rows")
    with open(os.path.join(path, "_BUILT"), "w") as fh:
        fh.write("racer\n")
    return _tree(path)


def test_racer_published_during_build_is_kept(tmp_path):
    path = str(tmp_path / "upsert" / "sf0.01-1-2")
    racer = {}

    def build(tmp: str) -> None:
        _writer(b"our rows")(tmp)
        racer.update(_publish_racer(path))

    artifacts.materialize(path, build)
    assert _tree(path) == racer
    assert _siblings(path) == []


def test_racer_published_between_check_and_claim_is_restored(tmp_path, monkeypatch):
    """The claim-and-recheck step: our rename collides with an unmarked
    dir, and before we claim it a racer swaps in its complete dataset.
    The claim moves the racer's dataset; its marker is re-checked and it
    goes back in place instead of being deleted."""
    path = str(tmp_path / "curated" / "sf0.01-1-2")
    os.makedirs(path)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    claimed = f"{path}.stale.{os.getpid()}"
    real_rename = os.rename
    racer = {}

    def rename(src, dst):
        if src == path and dst == claimed and not racer:
            for n in os.listdir(path):
                os.remove(os.path.join(path, n))
            os.rmdir(path)
            racer.update(_publish_racer(path))
        real_rename(src, dst)

    monkeypatch.setattr(artifacts.os, "rename", rename)
    artifacts.materialize(path, _writer(b"our rows"))
    assert racer, "the claim step never ran"
    assert _tree(path) == racer
    assert _siblings(path) == []


def test_publish_sweeps_superseded_tags_of_the_same_sf_only(tmp_path):
    parent = tmp_path / "jsonl"
    path = str(parent / "sf0.01-2-2")
    for name in ("sf0.01-1-1", "sf0.1-1-1", f"sf0.01-2-2.tmp.{os.getppid()}"):
        (parent / name).mkdir(parents=True)

    artifacts.materialize(path, _writer(b"rows"))
    assert sorted(os.listdir(parent)) == [
        "sf0.01-2-2", f"sf0.01-2-2.tmp.{os.getppid()}", "sf0.1-1-1",
    ]
