"""Concurrency safety of the `.scratch` staging primitives (VERDICT r3
finding 1: two sessions sharing the pool could race a mid-rebuild
`rmtree` — `keyed_update_rewrite` hash-mismatched under a concurrent
pytest run).

These tests drive `ensure_staging` / `fresh_staging` with plain-file
builds (no Spark) so the atomicity contract itself is pinned:

- a reader never observes a partially-built pool (old-complete or
  new-complete only),
- concurrent builders of the same fingerprint build exactly once,
- a failed build leaves the previous staging intact.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil

import pytest

from kamiyo_hive_spark.sources.sinks import (
    ensure_staging,
    fresh_staging,
    staging_current,
)


@pytest.fixture()
def scratch(tmp_path):
    return str(tmp_path)


def _write_pool(tmp: str, tag: str, n_files: int = 4) -> None:
    os.makedirs(tmp)
    for i in range(n_files):
        with open(os.path.join(tmp, f"part-{i}.txt"), "w") as fh:
            fh.write(f"{tag}:{i}\n")
    open(os.path.join(tmp, "_SUCCESS"), "w").close()


def test_ensure_staging_builds_once_and_caches(scratch):
    source = os.path.join(scratch, "source.txt")
    with open(source, "w") as fh:
        fh.write("v1")
    out = os.path.join(scratch, "pool")
    calls = []

    def build(tmp):
        calls.append(tmp)
        _write_pool(tmp, "v1")

    assert ensure_staging(out, source, build) == out
    assert staging_current(out, source)
    ensure_staging(out, source, build)
    assert len(calls) == 1  # second call served from cache
    # regenerating the source invalidates
    with open(source, "w") as fh:
        fh.write("v2-different-size")
    ensure_staging(out, source, build)
    assert len(calls) == 2


def test_failed_build_preserves_previous_staging(scratch):
    source = os.path.join(scratch, "source.txt")
    with open(source, "w") as fh:
        fh.write("v1")
    out = os.path.join(scratch, "pool")
    ensure_staging(out, source, lambda tmp: _write_pool(tmp, "v1"))
    with open(source, "w") as fh:
        fh.write("v2-different-size")

    def bad_build(tmp):
        _write_pool(tmp, "half")
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError):
        ensure_staging(out, source, bad_build)
    # old pool still complete and readable; no tmp litter
    with open(os.path.join(out, "part-0.txt")) as fh:
        assert fh.read() == "v1:0\n"
    assert not [d for d in os.listdir(scratch) if ".tmp." in d]


def _hammer(args):
    """Worker: alternately rebuild (fresh_staging) and read the pool,
    asserting no observed snapshot is ever PARTIAL: every listing is a
    full file set and every file's contents are complete and
    well-formed. (Mixing two COMPLETE generations across separate
    `open()` calls is allowed — a path-based reader racing an atomic
    swap can resolve different generations per open, and the staged
    pools are deterministic builds of one source, so generations are
    logically identical. The old rmtree-in-place scheme, by contrast,
    exposed missing files and truncated pools — exactly what this
    hammer must catch.)"""
    root, worker_id, iters = args
    out = os.path.join(root, "pool")
    for it in range(iters):
        tag = f"w{worker_id}i{it}"
        fresh_staging(out, lambda tmp: _write_pool(tmp, tag))
        for _ in range(5):
            try:
                names = sorted(
                    f for f in os.listdir(out) if f.startswith("part-")
                )
                contents = []
                for f in names:
                    with open(os.path.join(out, f)) as fh:
                        contents.append((f, fh.read()))
            except FileNotFoundError:
                # pool (or a file) momentarily unresolvable mid-swap is
                # the one allowed transient — a visible retryable miss,
                # never silent wrong data
                continue
            if len(names) != 4:
                return f"partial listing: {names}"
            for f, c in contents:
                idx = f.split("-")[1].split(".")[0]
                if not c.endswith(f":{idx}\n") or ":" not in c:
                    return f"truncated/malformed file {f}: {c!r}"
    return None


def test_fresh_staging_concurrent_swap_never_partial(scratch):
    iters = 6
    with mp.Pool(4) as pool:
        failures = [
            r
            for r in pool.map(_hammer, [(scratch, w, iters) for w in range(4)])
            if r is not None
        ]
    assert failures == [], failures


def _concurrent_ensure(args):
    root, worker_id = args
    source = os.path.join(root, "source.txt")
    out = os.path.join(root, "pool")
    log = os.path.join(root, f"built_by_{worker_id}")

    def build(tmp):
        _write_pool(tmp, "gen")
        with open(log, "w") as fh:
            fh.write("1")

    ensure_staging(out, source, build)
    with open(os.path.join(out, "part-0.txt")) as fh:
        return fh.read()


def test_ensure_staging_concurrent_single_build(scratch):
    source = os.path.join(scratch, "source.txt")
    with open(source, "w") as fh:
        fh.write("v1")
    with mp.Pool(4) as pool:
        reads = pool.map(_concurrent_ensure, [(scratch, w) for w in range(4)])
    assert set(reads) == {"gen:0\n"}
    builders = [f for f in os.listdir(scratch) if f.startswith("built_by_")]
    assert len(builders) == 1, f"double build: {builders}"


def test_fresh_staging_cleans_tmp_on_failure(scratch):
    out = os.path.join(scratch, "pool")
    fresh_staging(out, lambda tmp: _write_pool(tmp, "ok"))

    def bad(tmp):
        _write_pool(tmp, "bad")
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        fresh_staging(out, bad)
    with open(os.path.join(out, "part-1.txt")) as fh:
        assert fh.read() == "ok:1\n"
    assert not [d for d in os.listdir(scratch) if ".tmp." in d]


def test_txlog_root_survives_copy_and_rename(spark, sf_dir, tmp_path):
    """Staged txlog tables are built in a temp dir and renamed into
    place (`ensure_staging` / `fresh_staging`), so the log's file list
    AND its deletion-vector rows must be root-relative: a copied and a
    renamed root read the same rows as the original, with the attached
    vector still in force."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table
    from kamiyo_hive_spark.sources.txlog import TxLog

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    build = str(tmp_path / "build")
    log = TxLog.init(build)
    log.append(orders, writer="base")
    log.delete_where_dv(spark, F.col("o_custkey") % 7 == 0)
    assert log.dv_state()  # non-vacuous: a vector is attached
    want = sorted(tuple(r) for r in log.read(spark).collect())
    assert 0 < len(want) < orders.count()  # the vector hides rows

    copied, moved = str(tmp_path / "copied"), str(tmp_path / "moved")
    shutil.copytree(build, copied)
    os.rename(build, moved)
    for root in (copied, moved):
        got = sorted(tuple(r) for r in TxLog(root).read(spark).collect())
        assert got == want, root
