"""Transaction-log protocol tests: the properties oracle parity can't
see — exactly-one winner per version slot, conflict detection on stale
rewrites, snapshot isolation while commits land, checkpoint-replay
equivalence, and multi-process contention.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import time

import pytest

from kamiyo_hive_spark.sources.txlog import (
    CHECKPOINT_EVERY,
    Commit,
    CommitConflict,
    TxLog,
)


def _touch(root: str, rel: str, payload: bytes = b"x") -> str:
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(payload)
    return rel


def test_version_slot_has_exactly_one_winner(tmp_path):
    root = str(tmp_path)
    log = TxLog.init(root)
    f0 = _touch(root, "data/a/part-0.parquet")
    log.commit("append", [f0])
    # Simulate a racer that grabbed version 1 between our version()
    # read and our O_EXCL create: pre-create the commit file AND make
    # the first version() read return the stale value, so the O_EXCL
    # open really hits FileExistsError and the retry loop runs.
    with open(log._commit_path(1), "w") as fh:
        json.dump(Commit(1, "append", ["data/b/p.parquet"]).__dict__, fh)
    real_version = log.version
    calls = {"n": 0}

    def stale_once():
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real_version()

    log.version = stale_once
    f2 = _touch(root, "data/c/part-0.parquet")
    won = log.commit("append", [f2], read_version=0)
    log.version = real_version
    assert won == 2  # lost slot 1 at the O_EXCL, retried, landed on 2
    assert log.snapshot_files() == sorted(
        ["data/a/part-0.parquet", "data/b/p.parquet", "data/c/part-0.parquet"]
    )


def test_stale_rewrite_conflicts_but_append_commutes(tmp_path):
    root = str(tmp_path)
    log = TxLog.init(root)
    base = _touch(root, "data/base/part-0.parquet")
    log.commit("append", [base])                       # v0
    log.commit("append", [_touch(root, "data/inc/part-0.parquet")])  # v1
    # A rewrite computed against v0 must be rejected...
    with pytest.raises(CommitConflict):
        log.commit("rewrite", adds=[], removes=[base], read_version=0)
    # ...while a blind append based on v0 sails through.
    v = log.commit(
        "append", [_touch(root, "data/late/part-0.parquet")], read_version=0
    )
    assert v == 2


def test_snapshot_isolation_and_time_travel(tmp_path):
    root = str(tmp_path)
    log = TxLog.init(root)
    a = _touch(root, "data/a/p.parquet")
    b = _touch(root, "data/b/p.parquet")
    log.commit("append", [a])                       # v0
    pinned = log.snapshot_files(0)
    log.commit("append", [b], read_version=0)       # v1
    log.commit("rewrite", adds=[], removes=[a], read_version=1)  # v2: delete a
    assert log.snapshot_files(0) == pinned == [a]   # time travel unchanged
    assert log.snapshot_files(1) == sorted([a, b])
    assert log.snapshot_files() == [b]


def test_data_paths_pass_only_exactly_referenced_dirs(tmp_path):
    """A stage dir is scanned as one path only when its non-hidden
    entries are exactly the requested files; otherwise the files are
    passed one by one, so a read never picks up an unrequested file."""
    root = str(tmp_path)
    log = TxLog.init(root)
    a = [_touch(root, f"data/a/part-{i}.parquet") for i in range(3)]
    _touch(root, "data/a/_SUCCESS")
    _touch(root, "data/a/.part-0.parquet.crc")
    b = [_touch(root, f"data/b/part-{i}.parquet") for i in range(2)]
    assert log._data_paths(a + b[:1]) == [
        os.path.join(root, "data/a"), os.path.join(root, b[0])
    ]
    assert log._data_paths(a[:2]) == [os.path.join(root, f) for f in a[:2]]


def test_checkpoint_replay_matches_full_replay(tmp_path):
    root = str(tmp_path)
    log = TxLog.init(root)
    live: set[str] = set()
    for i in range(2 * CHECKPOINT_EVERY + 3):
        f = _touch(root, f"data/{i}/p.parquet")
        if i % 3 == 2 and live:
            victim = sorted(live)[0]
            log.commit(
                "rewrite", adds=[f], removes=[victim], read_version=log.version()
            )
            live.discard(victim)
        else:
            log.commit("append", [f])
        live.add(f)
    cps = [n for n in os.listdir(log.logdir) if n.endswith(".checkpoint.json")]
    assert len(cps) >= 2  # checkpoints actually wrote
    assert log.snapshot_files() == sorted(live)
    # Force a full no-checkpoint replay and compare.
    for n in cps:
        os.unlink(os.path.join(log.logdir, n))
    assert log.snapshot_files() == sorted(live)


def _mp_appender(args) -> int:
    root, wid, n = args
    log = TxLog(root)
    for j in range(n):
        rel = _touch(root, f"data/w{wid}_{j}/p.parquet")
        log.commit("append", [rel], read_version=log.version(), writer=f"w{wid}")
    return wid


def test_multiprocess_append_contention(tmp_path):
    """8 OS processes x 3 appends each, all racing create-if-absent:
    the log must end contiguous with every file exactly once."""
    root = str(tmp_path)
    TxLog.init(root)
    with mp.get_context("spawn").Pool(8) as pool:
        pool.map(_mp_appender, [(root, w, 3) for w in range(8)])
    log = TxLog(root)
    assert log.version() == 23
    files = log.snapshot_files()
    assert len(files) == 24 and len(set(files)) == 24


def test_rewrite_where_retries_after_concurrent_append(spark, sf_dir, tmp_path):
    """End-to-end optimistic retry with real DataFrames: a rewrite
    whose first commit attempt collides with an append must recompute
    and delete matching rows from BOTH the base and the appended data."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table

    root = str(tmp_path)
    log = TxLog.init(root)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    log.append(o.filter(F.col("o_orderkey") % 2 == 0), writer="base")

    committed = {"racer_done": False}
    orig_commit = log.commit

    def racing_commit(op, adds, removes=None, **kw):
        # First rewrite attempt: sneak an append in ahead of it.
        if op == "rewrite" and not committed["racer_done"]:
            committed["racer_done"] = True
            log.append(o.filter(F.col("o_orderkey") % 2 == 1), writer="racer")
        return orig_commit(op, adds, removes, **kw)

    log.commit = racing_commit
    log.rewrite_where(
        spark,
        F.col("o_custkey") % 10 == 0,
        lambda rows: rows.filter(F.col("o_custkey") % 10 != 0),
        writer="rewriter",
    )
    log.commit = orig_commit

    got = log.read(spark).count()
    want = o.filter(F.col("o_custkey") % 10 != 0).count()
    assert got == want  # deleted from base AND the raced-in append
    assert log.version() == 2  # base, racer append, retried rewrite


def test_vacuum_keeps_retained_versions_and_gcs_the_rest(tmp_path):
    from kamiyo_hive_spark.sources.txlog import vacuum

    root = str(tmp_path)
    log = TxLog.init(root)
    a = _touch(root, "data/a/p.parquet")
    b = _touch(root, "data/b/p.parquet")
    c = _touch(root, "data/c/p.parquet")
    orphan = _touch(root, "data/crashed_writer/p.parquet")  # never committed
    log.commit("append", [a])                                 # v0
    log.commit("append", [b], read_version=0)                 # v1
    log.commit("rewrite", adds=[c], removes=[a], read_version=1)  # v2
    # retain v1..v2: a is still referenced by v1; only the orphan goes
    assert vacuum(log, retain_versions=2, retain_seconds=0.0) == 1
    assert not os.path.exists(os.path.join(root, orphan))
    assert os.path.exists(os.path.join(root, a))
    assert log.snapshot_files(1) == sorted([a, b])  # time travel intact
    # retain only v2: a ages out
    assert vacuum(log, retain_versions=1, retain_seconds=0.0) == 1
    assert not os.path.exists(os.path.join(root, a))
    assert log.snapshot_files() == sorted([b, c])


def test_vacuum_age_guard_spares_inflight_staged_files(tmp_path):
    """A writer stages data files BEFORE its commit references them;
    vacuum's modification-time guard must keep recent unreferenced
    files or that commit would publish dangling pointers."""
    from kamiyo_hive_spark.sources.txlog import vacuum

    root = str(tmp_path)
    log = TxLog.init(root)
    committed = _touch(root, "data/a/p.parquet")
    log.commit("append", [committed])                         # v0
    staged = _touch(root, "data/inflight/p.parquet")          # not yet committed
    old_orphan = _touch(root, "data/crashed/p.parquet")
    past = time.time() - 7200
    os.utime(os.path.join(root, old_orphan), (past, past))
    # default window (1h): fresh staged file survives, old orphan goes
    assert vacuum(log, retain_versions=1) == 1
    assert os.path.exists(os.path.join(root, staged))
    assert not os.path.exists(os.path.join(root, old_orphan))
    # the in-flight writer can still publish its commit safely
    log.commit("append", [staged], read_version=0)            # v1
    assert log.snapshot_files() == sorted([committed, staged])


def test_pruned_files_spec_name_is_not_a_substring_match(tmp_path):
    """Files written under 'o_year' must NOT be treated as written
    under spec 'year' (suffix collision): pruning on 'year' must keep
    them for the row-level filter — never a false negative."""
    root = str(tmp_path)
    log = TxLog.init(root)
    y = _touch(root, "data/year=1997/p.parquet")
    oy = _touch(root, "data/o_year=1998/p.parquet")
    plain = _touch(root, "data/plain/p.parquet")
    log.commit("append", [y, oy, plain])
    pruned = log.pruned_files("year", "1997")
    # y matches the predicate partition; oy is OTHER-spec (kept); plain kept
    assert sorted(pruned) == sorted([y, oy, plain])
    pruned_miss = log.pruned_files("year", "1996")
    # y is provably excluded; oy and plain still kept
    assert sorted(pruned_miss) == sorted([oy, plain])


def test_optimize_compacts_through_the_protocol(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table
    from kamiyo_hive_spark.sources.txlog import optimize, vacuum

    root = str(tmp_path)
    log = TxLog.init(root)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(6):
        log.append(o.filter(F.col("o_orderkey") % 6 == i), writer=f"w{i}")
    before = log.read(spark).count()
    n_files_before = len(log.snapshot_files())
    v = optimize(log, spark, target_files=2)
    assert v == 6
    files = log.snapshot_files()
    assert len(files) == 2 < n_files_before
    assert log.read(spark).count() == before          # pure re-layout
    vacuum(log, retain_versions=1, retain_seconds=0.0)
    assert log.read(spark).count() == before          # still readable
    # optimize on an already-compact table is a no-op (no new version)
    assert optimize(log, spark, target_files=2) == 6


def test_optimize_retries_after_concurrent_append(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table
    from kamiyo_hive_spark.sources.txlog import optimize

    root = str(tmp_path)
    log = TxLog.init(root)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(3):
        log.append(o.filter(F.col("o_orderkey") % 3 == i))
    raced = {"done": False}
    orig = log.commit

    def racing(op, adds, removes=None, **kw):
        if op == "rewrite" and not raced["done"]:
            raced["done"] = True
            log.append(o.limit(0), writer="racer")  # empty but real commit
        return orig(op, adds, removes, **kw)

    log.commit = racing
    v = optimize(log, spark, target_files=1)
    log.commit = orig
    # versions 0-2 = appends, 3 = racer, 4 = the retried rewrite
    assert raced["done"] and v == 4
    assert log.read(spark).count() == o.count()


def test_batch_sink_exactly_once_appends(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table
    from kamiyo_hive_spark.sources.txlog import TxLogBatchSink

    root = str(tmp_path)
    log = TxLog.init(root)
    sink = TxLogBatchSink(log, query_id="q1")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b0 = o.filter(F.col("o_orderkey") % 2 == 0)
    b1 = o.filter(F.col("o_orderkey") % 2 == 1)
    assert sink.write(b0, 0) is True
    assert sink.write(b1, 1) is True
    # crash-recovery replay of both batches: recognized, skipped
    assert sink.write(b0, 0) is False
    assert sink.write(b1, 1) is False
    assert log.version() == 1
    assert log.read(spark).count() == o.count()
    # empty batches commit nothing
    assert sink.write(o.limit(0), 2) is False
    assert log.version() == 1
    # a DIFFERENT query's sink is independent (per-query txn scope)
    sink2 = TxLogBatchSink(log, query_id="q2")
    assert sink2.write(b0.limit(5), 0) is True
    assert log.version() == 2


def test_read_changes_file_granular_diffs(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table
    from kamiyo_hive_spark.sources.txlog import read_changes

    root = str(tmp_path)
    log = TxLog.init(root)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    a = o.filter(F.col("o_orderkey") % 3 == 0)
    b = o.filter(F.col("o_orderkey") % 3 == 1)
    log.append(a, writer="A")  # v0
    log.append(b, writer="B")  # v1
    # v2: rewrite removes A's files entirely
    log.commit(
        "rewrite", adds=[], removes=log.snapshot_files(0),
        read_version=log.version(),
    )
    # v0 -> v1: only B inserted, nothing deleted
    c01 = read_changes(log, spark, 0, 1)
    assert c01.filter(F.col("_change_type") == "delete").count() == 0
    assert c01.filter(F.col("_change_type") == "insert").count() == b.count()
    # v1 -> v2: A deleted, nothing inserted
    c12 = read_changes(log, spark, 1, 2)
    assert c12.filter(F.col("_change_type") == "insert").count() == 0
    assert c12.filter(F.col("_change_type") == "delete").count() == a.count()
    # same-version range: no changes
    with pytest.raises(ValueError, match="no changes"):
        read_changes(log, spark, 1, 1)


def test_last_checkpoint_pointer_resolution(tmp_path):
    """version() and latest-snapshot reads resolve through the
    _last_checkpoint pointer (O(commits since checkpoint), not a full
    listing); a stale or missing pointer only lengthens the probe."""
    root = str(tmp_path)
    log = TxLog.init(root)
    live = []
    for i in range(2 * CHECKPOINT_EVERY + 5):
        f = _touch(root, f"data/{i}/p.parquet")
        log.commit("append", [f])
        live.append(f)
    n = 2 * CHECKPOINT_EVERY + 5
    assert log.version() == n - 1
    ptr = log._read_last_checkpoint()
    assert ptr == 2 * CHECKPOINT_EVERY - 1  # newest checkpoint
    assert log.snapshot_files() == sorted(live)
    # stale pointer: correctness unaffected, just a longer probe
    with open(log._last_checkpoint_path(), "w") as fh:
        fh.write(str(CHECKPOINT_EVERY - 1))
    assert log.version() == n - 1
    assert log.snapshot_files() == sorted(live)
    # missing pointer: listdir fallback
    os.unlink(log._last_checkpoint_path())
    assert log.version() == n - 1
    assert log.snapshot_files(CHECKPOINT_EVERY + 2) == sorted(
        live[: CHECKPOINT_EVERY + 3]
    )  # time travel still replays correctly


def test_schema_drift_rejected(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table

    root = str(tmp_path)
    log = TxLog.init(root)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    log.append(o.filter(F.col("o_orderkey") % 2 == 0))
    import json as _json

    assert log.table_schema() == _json.dumps(o.schema.jsonValue())
    # same schema: fine
    log.append(o.filter(F.col("o_orderkey") % 2 == 1))
    # drifted schema (missing column): rejected before any commit
    v_before = log.version()
    with pytest.raises(ValueError, match="schema mismatch"):
        log.append(o.select("o_orderkey"))
    assert log.version() == v_before
    # a rewrite whose transform drops a column is rejected too
    with pytest.raises(ValueError, match="schema mismatch"):
        log.rewrite_where(
            spark,
            F.col("o_orderkey") % 10 == 0,
            lambda rows: rows.select("o_orderkey"),
            max_attempts=1,
        )


def test_additive_schema_evolution(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table

    root = str(tmp_path)
    log = TxLog.init(root)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_old = o.filter(F.col("o_orderkey") % 2 == 0).count()
    log.append(o.filter(F.col("o_orderkey") % 2 == 0))
    evolved = o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "flag", (F.col("o_orderkey") % 4 == 1)
    )
    # without merge_schema: rejected; with it: accepted
    with pytest.raises(ValueError, match="schema mismatch"):
        log.append(evolved)
    log.append(evolved, merge_schema=True)
    got = log.read(spark)
    assert [f.name for f in got.schema.fields] == [
        "o_orderkey", "o_totalprice", "flag",
    ]
    # pre-evolution rows null-fill the new column
    assert got.filter(F.col("flag").isNull()).count() == n_old
    assert got.count() == o.count()
    # post-evolution appends must carry the evolved schema
    with pytest.raises(ValueError, match="schema mismatch"):
        log.append(o.limit(5))
    # non-additive evolution (retyping a column) stays rejected
    with pytest.raises(ValueError, match="unsafe schema evolution"):
        log.append(
            evolved.withColumn("o_totalprice", F.col("o_totalprice").cast("string")),
            merge_schema=True,
        )


def test_vacuum_tolerates_concurrent_unlink_race(tmp_path, monkeypatch):
    """ADVICE r6(c) regression: a second vacuum (or any GC) may unlink
    an orphan between our stat and our unlink — the unlink must be
    guarded by the same FileNotFoundError suppression as the stat, and
    the raced file must not be counted as deleted by US."""
    from kamiyo_hive_spark.sources import txlog as txlog_mod
    from kamiyo_hive_spark.sources.txlog import vacuum

    root = str(tmp_path)
    log = TxLog.init(root)
    committed = _touch(root, "data/a/p.parquet")
    log.commit("append", [committed])                         # v0
    raced = _touch(root, "data/raced/p.parquet")              # orphan
    mine = _touch(root, "data/mine/p.parquet")                # orphan

    real_unlink = os.unlink

    def racing_unlink(path, *a, **kw):
        if path.endswith(os.path.join("raced", "p.parquet")):
            real_unlink(path)  # the OTHER vacuum wins first...
            # ...and our own unlink of the now-missing file raises
        return real_unlink(path, *a, **kw)

    monkeypatch.setattr(txlog_mod.os, "unlink", racing_unlink)
    # must not raise, must count only the file WE deleted
    assert vacuum(log, retain_versions=1, retain_seconds=0.0) == 1
    assert not os.path.exists(os.path.join(root, raced))
    assert not os.path.exists(os.path.join(root, mine))
    assert os.path.exists(os.path.join(root, committed))


def _shards(spark, sf_dir):
    """orders slice + a shard layout expression for the merge tests."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return o, F.pmod(F.col("o_orderkey"), F.lit(4))


def test_merge_partitioned_upserts_by_key_and_prunes(spark, sf_dir, tmp_path):
    """merge_partitioned replaces matching-key rows, carries the rest of
    the touched partitions over, and never references (or rewrites) an
    untouched partition's files — the commit's removes are exactly the
    touched shards' files."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout=layout, spec="shard", writer="base")

    # delta: shard 1 only — existing keys get a new price, plus one
    # brand-new synthetic key routed to the same shard
    delta = (
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == 1)
        .limit(5)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    new_key = o.agg(F.max("o_orderkey")).collect()[0][0]
    new_key += 4 - (new_key % 4) + 1  # next key landing in shard 1
    extra = spark.createDataFrame(
        [(new_key, 1, 42.0)], schema=delta.schema
    )
    delta = delta.unionByName(extra)
    v = log.merge_partitioned(
        spark, delta, layout=layout, spec="shard", keys=["o_orderkey"],
        writer="merger",
    )
    assert v == 1

    m = log.history()[1]
    v0 = set(log.snapshot_files(0))
    assert set(m.removes) == {f for f in v0 if "shard=1" in f.split(os.sep)}
    assert m.adds and all("shard=1" in f.split(os.sep) for f in m.adds)

    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in log.read(spark).collect()
    }
    base = {r["o_orderkey"]: r["o_totalprice"] for r in o.collect()}
    want = dict(base)
    for r in delta.collect():
        want[r["o_orderkey"]] = r["o_totalprice"]
    assert got == want


def test_merge_partitioned_empty_delta_commits_nothing(spark, sf_dir, tmp_path):
    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout=layout, spec="shard")
    v = log.merge_partitioned(
        spark, o.filter("o_orderkey < 0"), layout=layout, spec="shard",
        keys=["o_orderkey"],
    )
    assert v == 0 and log.version() == 0


def test_merge_partitioned_refuses_nonuniform_spec(spark, sf_dir, tmp_path):
    """A snapshot file not path-encoded under the merge's spec may hold
    matching rows the partition replace would duplicate — refuse."""
    import pytest

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append(o.limit(10), writer="unpartitioned")
    with pytest.raises(ValueError, match="uniform"):
        log.merge_partitioned(
            spark, o.limit(3), layout=layout, spec="shard",
            keys=["o_orderkey"],
        )


def test_merge_partitioned_retries_after_concurrent_append(
    spark, sf_dir, tmp_path
):
    """A partitioned append racing ahead of the merge commit must force
    a recompute: rows the racer added to a TOUCHED shard are carried
    through the retried merge (key-replaced like any other existing
    row), not clobbered by the stale first attempt."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    evens = o.filter(F.col("o_orderkey") % 2 == 0)  # shards 0 and 2
    odds = o.filter(F.col("o_orderkey") % 2 == 1)   # shards 1 and 3
    log.append_partitioned(evens, layout=layout, spec="shard", writer="base")

    committed = {"racer_done": False}
    orig_commit = log.commit

    def racing_commit(op, adds, removes=None, **kw):
        if op == "rewrite" and not committed["racer_done"]:
            committed["racer_done"] = True
            log.append_partitioned(
                odds, layout=layout, spec="shard", writer="racer"
            )
        return orig_commit(op, adds, removes, **kw)

    log.commit = racing_commit
    # delta rewrites shard 1 keys (racer-added rows!) and shard 2 keys
    delta = (
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)).isin(1, 2))
        .limit(8)
        # keep the column NULLABLE (a bare lit is non-null and would
        # trip the schema guard — correctly)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey").isNotNull(), F.lit(-1.0)),
        )
    )
    log.merge_partitioned(
        spark, delta, layout=layout, spec="shard", keys=["o_orderkey"],
        writer="merger",
    )
    log.commit = orig_commit

    got = {
        r["o_orderkey"]: r["o_totalprice"] for r in log.read(spark).collect()
    }
    want = {r["o_orderkey"]: r["o_totalprice"] for r in o.collect()}
    for r in delta.collect():
        want[r["o_orderkey"]] = -1.0
    assert got == want
    assert log.version() == 2  # base, racer append, retried merge


def test_read_pruned_reads_only_matching_partitions(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout=layout, spec="shard")

    df = log.read_pruned(spark, "shard", [1, 3])
    want = o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)).isin(1, 3))
    assert sorted(r["o_orderkey"] for r in df.collect()) == sorted(
        r["o_orderkey"] for r in want.collect()
    )
    # file-list pruning, not row filtering: the scan opened only the
    # matching shards' files
    read = {f.replace("file://", "") for f in df.inputFiles()}
    assert read and all(
        "shard=1" in f.split(os.sep) or "shard=3" in f.split(os.sep)
        for f in read
    )
    # empty value set on a schema'd table -> empty frame, same schema
    empty = log.read_pruned(spark, "shard", [99])
    assert empty.count() == 0 and empty.columns == df.columns


def test_optimize_partitioned_compacts_within_partitions(spark, sf_dir, tmp_path):
    """Per-partition bin-packing: fragmented partitions collapse to one
    file each, the spec stays path-encoded (pruning still works), rows
    are identical, and a partition that was never fragmented is not
    touched — same files, same inodes, absent from the commit."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import optimize_partitioned

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    # shards 0-3 fragmented by 3 appends; shard 9 (synthetic) healthy
    for i in range(3):
        log.append_partitioned(
            o.filter(F.col("o_orderkey") % 3 == i), layout=layout,
            spec="shard", writer=f"ingest-{i}",
        )
    healthy = o.limit(5).withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000)
    log.append_partitioned(
        healthy, layout=F.lit(9), spec="shard", writer="healthy"
    )
    healthy_files = {
        f for f in log.snapshot_files() if "shard=9" in f.split(os.sep)
    }
    assert len(healthy_files) == 1

    v = optimize_partitioned(log, spark, "shard", target_files_per_partition=1)
    assert v == 4
    c = log.history()[v]
    assert not (set(c.removes) | set(c.adds)) & healthy_files
    by_shard: dict[str, int] = {}
    for f in log.snapshot_files():
        s = next(p.partition("=")[2] for p in f.split(os.sep)
                 if p.partition("=")[0] == "shard")
        by_shard[s] = by_shard.get(s, 0) + 1
    assert all(n == 1 for n in by_shard.values()), by_shard
    # pure re-layout: rows identical
    got = sorted(r["o_orderkey"] for r in log.read(spark).collect())
    want = sorted(
        [r["o_orderkey"] for r in o.collect()]
        + [r["o_orderkey"] for r in healthy.collect()]
    )
    assert got == want
    # pruning still works: shard=1 file set is exactly one file
    assert len(log.pruned_files("shard", "1")) == 1


def test_optimize_partitioned_noop_when_healthy(spark, sf_dir, tmp_path):
    from kamiyo_hive_spark.sources.txlog import optimize_partitioned

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout=layout, spec="shard")
    assert optimize_partitioned(log, spark, "shard") == 0
    assert log.version() == 0


def test_optimize_partitioned_refuses_nonspec_files(spark, sf_dir, tmp_path):
    import pytest

    from kamiyo_hive_spark.sources.txlog import optimize_partitioned

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o.limit(10))
    log.append(o.limit(10))
    with pytest.raises(ValueError, match="not written"):
        optimize_partitioned(log, spark, "shard")


def test_clone_is_zero_copy_and_diverges(spark, sf_dir, tmp_path):
    """Shallow clone: every clone-v0 data file is a hardlink of its
    source file (same inode), writes to the clone never touch the
    source (rows AND files), vacuum on the source cannot corrupt the
    clone (hardlinks own the bytes), and the partition spec survives
    so pruned reads work on the clone."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import vacuum

    src_root = str(tmp_path / "src")
    cl_root = str(tmp_path / "cl")
    os.makedirs(src_root)
    log = TxLog.init(src_root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout=layout, spec="shard", writer="base")

    cl = log.clone(cl_root)
    v0 = cl.snapshot_files(0)
    assert v0 == log.snapshot_files()
    for f in v0:
        assert (
            os.stat(os.path.join(cl_root, f)).st_ino
            == os.stat(os.path.join(src_root, f)).st_ino
        ), f
    # spec survives: pruning on the clone returns shard-scoped files
    pf = cl.pruned_files("shard", "2")
    assert pf and all("shard=2" in f.split(os.sep) for f in pf)

    # diverge: delete on the clone; source rows and files unchanged
    before = {f: os.stat(os.path.join(src_root, f)).st_mtime_ns
              for f in log.snapshot_files()}
    cl.rewrite_where(
        spark,
        F.col("o_orderkey") % 2 == 0,
        lambda rows: rows.filter(F.col("o_orderkey") % 2 != 0),
    )
    assert log.read(spark).count() == o.count()
    after = {f: os.stat(os.path.join(src_root, f)).st_mtime_ns
             for f in log.snapshot_files()}
    assert before == after
    assert cl.read(spark).count() == o.filter(F.col("o_orderkey") % 2 != 0).count()

    # vacuum the SOURCE with zero retention beyond latest: the clone's
    # kept hardlinks must still read (inode survives the unlink even
    # if the source ever dereferences those files)
    vacuum(log, retain_versions=1, retain_seconds=0.0)
    assert cl.read(spark, version=0).count() == o.count()


def test_clone_refuses_empty_snapshot(tmp_path):
    import pytest

    log = TxLog.init(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="empty"):
        log.clone(str(tmp_path / "c"))


# ---------------------------------------------------------------------------
# r9: partition-disjoint commit commutativity + path-escaping correctness
# ---------------------------------------------------------------------------


def test_rewrite_commutes_when_partition_disjoint(tmp_path):
    """The Delta-style relaxation (VERDICT r8 Next 1): a rewrite whose
    spec-encoded add/remove partitions are disjoint from every
    intervening commit's commits WITHOUT recompute; an overlapping one
    still conflicts; and an intervening commit with any non-spec file
    falls back to strict."""
    root = str(tmp_path)
    log = TxLog.init(root)
    s1 = _touch(root, "data/base/shard=1/p.parquet")
    s2 = _touch(root, "data/base/shard=2/p.parquet")
    s3 = _touch(root, "data/base/shard=3/p.parquet")
    log.commit("append", [s1, s2, s3], spec="shard")            # v0
    # intervening: a merge rewrote shard=2
    n2 = _touch(root, "data/m2/shard=2/p.parquet")
    log.commit("rewrite", [n2], [s2], read_version=0, spec="shard")  # v1
    # our rewrite of shard=1, computed against v0: disjoint -> commits
    n1 = _touch(root, "data/m1/shard=1/p.parquet")
    v = log.commit("rewrite", [n1], [s1], read_version=0, spec="shard")
    assert v == 2
    assert set(log.snapshot_files()) == {s3, n1, n2}
    # overlapping (shard=2, which v1 touched) -> still conflicts
    n2b = _touch(root, "data/m2b/shard=2/p.parquet")
    with pytest.raises(CommitConflict):
        log.commit("rewrite", [n2b], [n2], read_version=0, spec="shard")
    # intervening append WITHOUT spec-encoded files -> strict fallback
    plain = _touch(root, "data/plain/p.parquet")
    log.commit("append", [plain], read_version=log.version())   # v3
    n3 = _touch(root, "data/m3/shard=3/p.parquet")
    with pytest.raises(CommitConflict):
        log.commit("rewrite", [n3], [s3], read_version=1, spec="shard")


def _mp_disjoint_rewriter(args):
    """Spawned-process body: rewrite ONE shard, snapshot pinned at v0.
    Whichever process lands second has the other's commit intervening —
    partition-disjoint, so it must commit without CommitConflict."""
    root, shard = args
    log = TxLog(root)
    old = f"data/base/shard={shard}/p.parquet"
    new = _touch(root, f"data/w{shard}/shard={shard}/p.parquet")
    try:
        v = log.commit(
            "rewrite", [new], [old], read_version=0,
            writer=f"merger-{shard}", spec="shard",
        )
        return ("ok", shard, v)
    except CommitConflict as e:
        return ("conflict", shard, str(e))


def test_mp_disjoint_rewrites_both_commit(tmp_path):
    """Two OS processes rewrite DISJOINT shards concurrently from the
    same v0 snapshot: both must commit first-try (no CommitConflict,
    no recompute) — the throughput property the relaxation exists for.
    The final snapshot carries both replacements."""
    root = str(tmp_path)
    log = TxLog.init(root)
    files = [
        _touch(root, f"data/base/shard={s}/p.parquet") for s in (1, 2, 3)
    ]
    log.commit("append", files, spec="shard")  # v0
    with mp.get_context("spawn").Pool(2) as pool:
        results = pool.map(_mp_disjoint_rewriter, [(root, 1), (root, 2)])
    assert all(r[0] == "ok" for r in results), results
    assert sorted(r[2] for r in results) == [1, 2]
    assert set(log.snapshot_files()) == {
        "data/base/shard=3/p.parquet",
        "data/w1/shard=1/p.parquet",
        "data/w2/shard=2/p.parquet",
    }


def test_merge_partitioned_disjoint_append_commits_first_try(
    spark, sf_dir, tmp_path
):
    """End-to-end: an append into an UNTOUCHED shard racing ahead of the
    merge commit must NOT force a recompute — the merge commits on its
    first attempt (exactly one rewrite commit call) and both effects
    land."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    evens = o.filter(F.col("o_orderkey") % 2 == 0)   # shards 0 and 2
    log.append_partitioned(evens, layout=layout, spec="shard", writer="base")

    calls = {"rewrites": 0, "racer_done": False}
    orig_commit = log.commit

    def racing_commit(op, adds, removes=None, **kw):
        if op == "rewrite":
            calls["rewrites"] += 1
            if not calls["racer_done"]:
                calls["racer_done"] = True
                # racer appends shard 3 only — disjoint from the merge
                log.append_partitioned(
                    o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == 3),
                    layout=layout, spec="shard", writer="racer",
                )
        return orig_commit(op, adds, removes, **kw)

    log.commit = racing_commit
    delta = (
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == 2)
        .limit(5)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey").isNotNull(), F.lit(-1.0)),
        )
    )
    log.merge_partitioned(
        spark, delta, layout=layout, spec="shard", keys=["o_orderkey"],
        writer="merger",
    )
    log.commit = orig_commit
    assert calls["rewrites"] == 1  # no retry: the append commuted
    assert log.version() == 2      # base, racer append, merge
    got = {
        r["o_orderkey"]: r["o_totalprice"] for r in log.read(spark).collect()
    }
    want = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in o.filter(
            (F.col("o_orderkey") % 2 == 0)
            | (F.pmod(F.col("o_orderkey"), F.lit(4)) == 3)
        ).collect()
    }
    for r in delta.collect():
        want[r["o_orderkey"]] = -1.0
    assert got == want


def test_partition_value_escaping_roundtrip(spark, sf_dir, tmp_path):
    """Values Spark's writer escapes ('/', ':', '=', '%') must still
    prune, read, and merge correctly: the comparison escapes the VALUE
    with the writer's own rule instead of comparing str(value) to the
    path token (ADVICE r8 medium)."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import escape_path_name, unescape_path_name

    # pure-function sanity: roundtrip + the exact chars Hive escapes
    for v in ["a/b", "a:b", "x=y", "100%", "plain", "a b", "q?r", "1+1"]:
        assert unescape_path_name(escape_path_name(v)) == v
    assert escape_path_name("a/b") == "a%2Fb"
    assert escape_path_name("a b") == "a b"  # space is NOT escaped

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    rows = o.limit(20)
    layout = F.when(F.col("o_orderkey") % 2 == 0, F.lit("a/b:c")).otherwise(
        F.lit("plain")
    )
    log.append_partitioned(rows, layout=layout, spec="grp", writer="base")
    # the exotic value must have been escaped on disk by Spark itself
    assert any(
        "grp=a%2Fb%3Ac" in f.split(os.sep) for f in log.snapshot_files()
    )
    # point pruning and set pruning resolve the RAW value
    pf = log.pruned_files("grp", "a/b:c")
    assert pf and all("grp=a%2Fb%3Ac" in f.split(os.sep) for f in pf)
    matching, unprunable = log.pruned_file_sets("grp", ["a/b:c"])
    assert matching == pf and not unprunable
    got = log.read_pruned(spark, "grp", ["a/b:c"])
    want = rows.filter(F.col("o_orderkey") % 2 == 0)
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"] for r in want.collect()
    )
    # merge upserts INTO the exotic partition (removes resolved by
    # escaped comparison; a raw compare would find nothing to remove
    # and duplicate every key)
    delta = want.limit(3).withColumn(
        "o_totalprice", F.when(F.col("o_orderkey").isNotNull(), F.lit(-5.0))
    )
    log.merge_partitioned(
        spark, delta, layout=layout, spec="grp", keys=["o_orderkey"],
        writer="merger",
    )
    table_rows = {
        r["o_orderkey"]: r["o_totalprice"] for r in log.read(spark).collect()
    }
    assert len(table_rows) == 20  # no duplicates
    for r in delta.collect():
        assert table_rows[r["o_orderkey"]] == -5.0
    # NULL pruning values are a caller bug, loudly
    with pytest.raises(ValueError, match="NULL"):
        log.pruned_file_sets("grp", [None])


def test_optimize_partitioned_preserves_exotic_partition_dirs(
    spark, sf_dir, tmp_path
):
    """Compacting a partition whose value needs escaping must not
    re-encode the directory: the rewritten files land under the SAME
    on-disk token, rows identical, pruning still resolving the raw
    value (ADVICE r8 medium — the input_file_name URI double-encoding
    trap)."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import optimize_partitioned

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    layout = F.when(F.col("o_orderkey") % 2 == 0, F.lit("a/b c")).otherwise(
        F.lit("plain")
    )
    for i in range(3):  # fragment both partitions
        log.append_partitioned(
            o.filter(F.col("o_orderkey") % 3 == i).limit(10),
            layout=layout, spec="grp", writer=f"ingest-{i}",
        )
    before = sorted(r["o_orderkey"] for r in log.read(spark).collect())
    v = optimize_partitioned(log, spark, "grp", target_files_per_partition=1)
    assert v == 3
    files = log.snapshot_files()
    tokens = {
        p for f in files for p in f.split(os.sep) if p.startswith("grp=")
    }
    assert tokens == {"grp=a%2Fb c", "grp=plain"}, tokens
    by_tok: dict[str, int] = {}
    for f in files:
        t = next(p for p in f.split(os.sep) if p.startswith("grp="))
        by_tok[t] = by_tok.get(t, 0) + 1
    assert all(n == 1 for n in by_tok.values()), by_tok
    after = sorted(r["o_orderkey"] for r in log.read(spark).collect())
    assert after == before
    pf = log.pruned_files("grp", "a/b c")
    assert len(pf) == 1


def test_null_layout_rejected_on_write(spark, sf_dir, tmp_path):
    """A layout expression that yields NULL for any row must refuse the
    write (append and merge): Spark would encode it as
    __HIVE_DEFAULT_PARTITION__, which no pruning or merge comparison
    can match (ADVICE r8 medium)."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    nullable = F.when(F.col("o_orderkey") % 2 == 0, F.lit("even"))  # else NULL
    with pytest.raises(ValueError, match="NULL"):
        log.append_partitioned(
            o.limit(10), layout=nullable, spec="grp", writer="bad"
        )
    assert log.version() == -1  # nothing committed
    log.append_partitioned(
        o.limit(10), layout=F.lit("all"), spec="grp", writer="base"
    )
    with pytest.raises(ValueError, match="NULL"):
        log.merge_partitioned(
            spark, o.limit(4), layout=nullable, spec="grp",
            keys=["o_orderkey"],
        )
    assert log.version() == 0


def test_merge_partitioned_stray_layout_guard(spark, sf_dir, tmp_path):
    """A layout expression that DRIFTED since the table was written
    (carried-over rows recompute into partitions outside the touched
    set) must refuse the merge — rewriting them there would duplicate
    rows against those partitions' untouched files."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout=layout, spec="shard", writer="base")
    drifted = F.pmod(F.col("o_orderkey") + 1, F.lit(4))  # not the base layout
    delta = o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == 0).limit(3)
    # delta routes to shard 1 under the drifted layout; shard 1's
    # carried-over rows recompute to shard 2 — outside the touched set
    with pytest.raises(ValueError, match="not stable"):
        log.merge_partitioned(
            spark, delta, layout=drifted, spec="shard", keys=["o_orderkey"],
        )
    assert log.version() == 0


def test_merge_verify_unmoved_keys_refuses_moved_key(spark, sf_dir, tmp_path):
    """verify_unmoved_keys=True: a delta row whose key already lives in
    an UNTOUCHED partition (its layout value changed — e.g. an updated
    embedding moved SRP buckets) must refuse rather than silently
    duplicate the key (ADVICE r8 medium)."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout=layout, spec="shard", writer="base")
    # take a key from shard 1 and route its update to shard 2
    moved = (
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == 1)
        .limit(1)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey").isNotNull(), F.lit(0.0)),
        )
    )
    with pytest.raises(ValueError, match="UNTOUCHED"):
        log.merge_partitioned(
            spark, moved, layout=F.lit(2), spec="shard",
            keys=["o_orderkey"], verify_unmoved_keys=True,
        )
    assert log.version() == 0
    # a same-partition update passes the check
    ok = (
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == 1)
        .limit(1)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey").isNotNull(), F.lit(0.0)),
        )
    )
    v = log.merge_partitioned(
        spark, ok, layout=layout, spec="shard", keys=["o_orderkey"],
        verify_unmoved_keys=True,
    )
    assert v == 1


# ---------------------------------------------------------------------------
# r9: commit-time file statistics, data skipping, Z-ORDER
# ---------------------------------------------------------------------------


def test_file_stats_ride_commits_and_skip(spark, sf_dir, tmp_path):
    """Per-file [min,max] are captured from the parquet footers at
    append time (pure metadata) and drive file-list pruning: a range
    that provably misses a file's box drops it, an intersecting range
    keeps it, and a file written WITHOUT stats is always kept (never a
    false negative)."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    kmin, kmax = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    mid = (int(kmin) + int(kmax)) // 2
    lo_half = o.filter(F.col("o_orderkey") <= mid).coalesce(1)
    hi_half = o.filter(F.col("o_orderkey") > mid).coalesce(1)
    log.append(lo_half, writer="lo", stats_cols=("o_orderkey",))
    log.append(hi_half, writer="hi", stats_cols=("o_orderkey",))

    stats = log.file_stats()
    assert len(stats) == 2
    for st in stats.values():
        assert "o_orderkey" in st and st["o_orderkey"][0] <= st["o_orderkey"][1]

    total = log.snapshot_files()
    # a range wholly inside the low half prunes the high file
    pruned = log.stats_pruned_files("o_orderkey", int(kmin), mid)
    assert len(pruned) == 1 and pruned[0] in total
    # the pruned read returns exactly the row-filtered result
    got = log.read_stats_pruned(spark, "o_orderkey", int(kmin), mid).filter(
        F.col("o_orderkey").between(int(kmin), mid)
    )
    assert got.count() == lo_half.count()
    # unbounded side: hi=None keeps everything >= lo
    assert len(log.stats_pruned_files("o_orderkey", mid + 1, None)) == 1
    # a stats-less append is never pruned
    log.append(o.limit(5).coalesce(1), writer="nostats")
    assert len(log.stats_pruned_files("o_orderkey", int(kmin), mid)) == 2


def test_zorder_makes_both_columns_prunable(spark, sf_dir, tmp_path):
    """After orderkey-ranged ingest, custkey skipping is impossible
    (every file spans the domain); after zorder_optimize on
    (o_orderkey, o_custkey) a mid-range custkey predicate prunes files
    from the manifest alone, orderkey skipping still works, and the
    rewrite is a pure re-layout (row multiset identical)."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import zorder_optimize

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    kmin, kmax = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    span = int(kmax) - int(kmin) + 1
    for i in range(4):
        lo = int(kmin) + (span * i) // 4
        hi = int(kmin) + (span * (i + 1)) // 4
        log.append(
            o.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
            .coalesce(1),
            writer=f"r{i}",
            stats_cols=("o_orderkey", "o_custkey"),
        )
    before = sorted(
        tuple(r) for r in log.read(spark).select("o_orderkey", "o_custkey").collect()
    )
    cmax = int(o.agg(F.max("o_custkey")).collect()[0][0])
    clo, chi = (45 * cmax) // 100, (55 * cmax) // 100
    total = len(log.snapshot_files())
    assert len(log.stats_pruned_files("o_custkey", clo, chi)) == total

    v = zorder_optimize(log, spark, ("o_orderkey", "o_custkey"), target_files=16)
    assert v == 4
    total2 = len(log.snapshot_files())
    assert len(log.stats_pruned_files("o_custkey", clo, chi)) < total2
    assert len(
        log.stats_pruned_files("o_orderkey", None, int(kmin) + span // 4)
    ) < total2
    after = sorted(
        tuple(r) for r in log.read(spark).select("o_orderkey", "o_custkey").collect()
    )
    assert after == before
    # pruned read + row filter == direct filtered read
    got = log.read_stats_pruned(spark, "o_custkey", clo, chi).filter(
        F.col("o_custkey").between(clo, chi)
    )
    want = o.filter(F.col("o_custkey").between(clo, chi))
    assert got.count() == want.count()


def test_zorder_retries_after_concurrent_append(spark, sf_dir, tmp_path):
    """Z-order is a table-wide rewrite: a concurrent append always
    overlaps it, so the commit must conflict and the retry must absorb
    the appended rows into the reclustered layout."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import zorder_optimize

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    first = o.filter(F.col("o_orderkey") % 2 == 0)
    late = o.filter(F.col("o_orderkey") % 2 == 1)
    log.append(first.coalesce(1), writer="base", stats_cols=("o_orderkey",))

    raced = {"done": False}
    orig = log.commit

    def racing(op, adds, removes=None, **kw):
        if op == "rewrite" and not raced["done"]:
            raced["done"] = True
            log.append(late.coalesce(1), writer="racer",
                       stats_cols=("o_orderkey",))
        return orig(op, adds, removes, **kw)

    log.commit = racing
    zorder_optimize(log, spark, ("o_orderkey", "o_custkey"), target_files=4)
    log.commit = orig
    assert log.version() == 2  # base, racer, retried zorder
    assert log.read(spark).count() == o.count()


def test_restore_is_metadata_only_and_preserves_history(spark, sf_dir, tmp_path):
    """RESTORE re-references the target snapshot's files (same paths,
    same inodes — no data movement), the rolled-back version stays
    time-travelable, a no-op restore burns no version, and restoring
    to a vacuumed snapshot refuses."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import restore, vacuum

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o.filter(F.col("o_orderkey") % 2 == 0), writer="i0")  # v0
    log.append(o.filter(F.col("o_orderkey") % 2 == 1), writer="i1")  # v1
    v1_files = {f: os.stat(os.path.join(root, f)).st_ino
                for f in log.snapshot_files(1)}
    log.rewrite_where(
        spark,
        F.col("o_custkey") % 5 == 0,
        lambda rows: rows.filter(F.col("o_custkey") % 5 != 0),
        writer="bad",
    )  # v2
    assert restore(log, 1) == 3
    now = {f: os.stat(os.path.join(root, f)).st_ino
           for f in log.snapshot_files()}
    assert now == v1_files                       # zero copy, exact state
    assert log.read(spark).count() == o.count()  # rows fully back
    assert log.read(spark, version=2).count() < o.count()  # history alive
    # no-op restore: already at v1's state -> no new version
    assert restore(log, 1) == 3 and log.version() == 3
    # vacuum away v2's replacement files (only latest retained), then
    # restoring TO v2 must refuse: its files are gone
    vacuum(log, retain_versions=1, retain_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        restore(log, 2)


def test_restore_conflicts_with_intervening_commit(spark, sf_dir, tmp_path):
    """A restore computed against a stale head must recompute: the
    intervening append's rows survive the retried restore only if the
    retry re-derives its file delta from the new state — the strict
    conflict path (restore adds/removes are not spec-encoded here)."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import restore

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o.limit(50), writer="i0")                      # v0
    log.rewrite_where(
        spark, F.col("o_custkey") >= 0,
        lambda rows: rows.filter(F.col("o_custkey") < 0),
        writer="wipe",
    )                                                         # v1: empty
    raced = {"done": False}
    orig = log.commit

    def racing(op, adds, removes=None, **kw):
        if op == "rewrite" and not raced["done"]:
            raced["done"] = True
            log.append(o.limit(5), writer="racer")            # v2
        return orig(op, adds, removes, **kw)

    log.commit = racing
    restore(log, 0)                                           # retried -> v3
    log.commit = orig
    assert log.version() == 3
    # RESTORE means "exactly the target state": the racer's rows are
    # correctly absent from v3 — but its file must have been REMOVED
    # by the retried commit (derived from the post-append head), not
    # left dangling by a stale first attempt that never saw it
    assert log.read(spark).count() == 50
    assert "data" in log.history()[3].removes[0]
    racer_files = set(log.history()[2].adds)
    assert racer_files & set(log.history()[3].removes) == racer_files
    hist = [c.writer for c in log.history()]
    assert hist == ["i0", "wipe", "racer", "restore"]


# ---------------------------------------------------------------------------
# r9: deletion vectors (merge-on-read soft deletes)
# ---------------------------------------------------------------------------


def test_deletion_vectors_soft_delete_and_compose(spark, sf_dir, tmp_path):
    """delete_where_dv marks positions in a sidecar — no data file is
    added, removed, or rewritten (same inodes) — reads merge the DVs
    back in, a second DV on the same files composes, a no-match
    predicate commits nothing, and pruned reads refuse while DVs are
    active."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o.filter(F.col("o_orderkey") % 2 == 0), writer="i0")
    log.append(o.filter(F.col("o_orderkey") % 2 == 1), writer="i1")
    inodes = {f: os.stat(os.path.join(root, f)).st_ino
              for f in log.snapshot_files()}

    assert log.delete_where_dv(spark, F.col("o_custkey") % 7 == 0) == 2
    assert log.snapshot_files() == sorted(inodes)  # file set unchanged
    for f, ino in inodes.items():
        assert os.stat(os.path.join(root, f)).st_ino == ino
    c = log.history()[2]
    assert not c.adds and not c.removes and c.dvs
    want1 = o.filter(F.col("o_custkey") % 7 != 0)
    assert log.read(spark).count() == want1.count()

    # composition: second DV on the same files
    assert log.delete_where_dv(spark, F.col("o_orderkey") % 11 == 0) == 3
    want2 = want1.filter(F.col("o_orderkey") % 11 != 0)
    got = sorted(r["o_orderkey"] for r in log.read(spark).collect())
    assert got == sorted(r["o_orderkey"] for r in want2.collect())
    # time travel still sees the single-DV state
    assert log.read(spark, version=2).count() == want1.count()

    # no-match predicate: nothing committed
    assert log.delete_where_dv(spark, F.col("o_orderkey") < 0) == 3
    assert log.version() == 3

    # pruned reads MERGE the active vectors (r10 — previously refused):
    # this table has no commit stats, so every file is kept (never a
    # false negative) and the read must still hide the deleted rows
    pruned = log.read_stats_pruned(spark, "o_orderkey", None, None)
    assert pruned.count() == want2.count()


def test_dv_materialize_vacuum_and_clone(spark, sf_dir, tmp_path):
    """materialize_dvs folds the vectors into a rewrite (DV state
    empties, answer unchanged), vacuum keeps sidecars referenced while
    their snapshot is retained and collects them after, and a clone of
    a DV'd table carries the vectors (no resurrection)."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import materialize_dvs, vacuum

    root = str(tmp_path / "src")
    os.makedirs(root)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o, writer="i0")
    log.delete_where_dv(spark, F.col("o_custkey") % 5 == 0, writer="dv")
    want = o.filter(F.col("o_custkey") % 5 != 0)

    # clone BEFORE materializing: the clone must see the DV'd answer
    cl = log.clone(str(tmp_path / "cl"))
    assert cl.dv_state()
    assert cl.read(spark).count() == want.count()

    n_before = log.read(spark).count()
    v = materialize_dvs(log, spark)
    assert v == 2 and not log.dv_state()
    assert log.read(spark).count() == n_before == want.count()

    # retain v1 (DV snapshot): its sidecar must survive this vacuum
    dv_files = [d for dl in log.dv_state(1).values() for d in dl]
    assert dv_files
    vacuum(log, retain_versions=2, retain_seconds=0.0)
    assert all(os.path.exists(os.path.join(root, d)) for d in dv_files)
    assert log.read(spark, version=1).count() == want.count()
    # retain only the materialized head: sidecar + old data collected
    vacuum(log, retain_versions=1, retain_seconds=0.0)
    assert not any(os.path.exists(os.path.join(root, d)) for d in dv_files)
    # the clone is unharmed (hardlinks own their bytes)
    assert cl.read(spark).count() == want.count()


def test_dv_cdf_and_conflict(spark, sf_dir, tmp_path):
    """A DV attachment surfaces in the change feed as row-granular
    deletes (exactly the marked rows), and a DV delete racing an
    intervening commit recomputes — its positions were snapshot-
    derived."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import read_changes

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o.filter(F.col("o_orderkey") % 2 == 0), writer="i0")
    log.delete_where_dv(spark, F.col("o_custkey") % 9 == 0, writer="dv")
    ch = read_changes(log, spark, 0, 1)
    dels = ch.filter(F.col("_change_type") == "delete")
    want = o.filter((F.col("o_orderkey") % 2 == 0) & (F.col("o_custkey") % 9 == 0))
    assert sorted(r["o_orderkey"] for r in dels.collect()) == sorted(
        r["o_orderkey"] for r in want.collect()
    )
    assert ch.filter(F.col("_change_type") == "insert").count() == 0

    # conflict: an append lands between the DV's snapshot and commit
    raced = {"done": False}
    orig = log.commit

    def racing(op, adds, removes=None, **kw):
        if op == "rewrite" and not raced["done"]:
            raced["done"] = True
            log.append(o.filter(F.col("o_orderkey") % 2 == 1), writer="racer")
        return orig(op, adds, removes, **kw)

    log.commit = racing
    log.delete_where_dv(spark, F.col("o_custkey") % 4 == 0, writer="dv2")
    log.commit = orig
    assert log.version() == 3  # i0, dv, racer, retried dv2
    # the retried DV saw the racer's rows: odd-key matches are deleted too
    got = log.read(spark)
    assert got.filter(
        (F.col("o_custkey") % 4 == 0) & (F.col("o_custkey") % 9 != 0)
    ).count() == 0
    assert got.count() == o.filter(
        ~((F.col("o_custkey") % 9 == 0) & (F.col("o_orderkey") % 2 == 0))
        & (F.col("o_custkey") % 4 != 0)
    ).count()


def test_streaming_dv_deletes_protocol(spark, sf_dir):
    """The streaming GDPR pipeline: version history = 1 ingest + one
    batch-keyed DV commit per request batch, every delete commit a
    pure sidecar attachment (no file adds/removes anywhere), vectors
    from different batches composing in the final read, and DVs still
    ACTIVE (the registered query hashes the merge-on-read path; the
    in-protocol batch-0 replay assert runs inside the operator)."""
    import os

    from pyspark.sql import functions as F

    from kamiyo_hive_spark.catalog import table
    from kamiyo_hive_spark.sources import txlog as tx
    from kamiyo_hive_spark.sources.sinks import SCRATCH

    from kamiyo_hive_spark.plans.registry import load_registry

    reg = load_registry()
    out = reg["streaming_dv_deletes"].builder(spark, sf_dir)
    got = {r["o_orderstatus"]: r["n_rows"] for r in out.collect()}

    o = table(spark, sf_dir, "orders")
    want_df = o.filter(
        ~F.pmod(F.col("o_orderkey"), F.lit(1000)).isin(*tx.DV_STREAM_RESIDUES)
    )
    want = {
        r["o_orderstatus"]: r["n"]
        for r in want_df.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want

    log = tx.TxLog(
        os.path.join(SCRATCH, f"txlog_dv_stream_{os.path.basename(sf_dir)}")
    )
    hist = log.history()
    assert [c.writer for c in hist] == ["ingest"] + [
        f"{tx.DV_STREAM_WRITER}-b{i}"
        for i in range(len(tx.DV_STREAM_RESIDUES))
    ]
    assert all(not c.adds and not c.removes and c.dvs for c in hist[1:])
    assert log.dv_state()  # vectors stay active: merge-on-read hashed


def test_structural_rewrites_do_not_resurrect_dv_rows(spark, sf_dir, tmp_path):
    """VERDICT r9 wrong 1 (reproduced there): optimize / rewrite_where /
    zorder_optimize after delete_where_dv must NOT resurrect the
    soft-deleted rows — each rewrite removes the DV'd files (retiring
    the attachments), so its carried-over read has to merge the
    vectors first. The chain stacks a fresh DV before each rewrite so
    every path is exercised against ACTIVE vectors."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import optimize, zorder_optimize

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o.filter(F.col("o_orderkey") % 2 == 0), writer="i0")
    log.append(o.filter(F.col("o_orderkey") % 2 == 1), writer="i1")

    def erased(*mods):
        keep = o
        cond = None
        for m in mods:
            c = F.col("o_custkey") % m == 0
            cond = c if cond is None else (cond | c)
        return cond

    # compaction over an active DV: the GDPR nightly loop
    log.delete_where_dv(spark, F.col("o_custkey") % 7 == 0, writer="dv7")
    optimize(log, spark, target_files=1)
    got = log.read(spark)
    assert got.filter(erased(7)).count() == 0
    assert got.count() == o.filter(F.col("o_custkey") % 7 != 0).count()
    assert not log.dv_state()  # compaction materialized the vectors

    # copy-on-write rewrite over an active DV
    log.delete_where_dv(spark, F.col("o_custkey") % 11 == 0, writer="dv11")
    log.rewrite_where(
        spark,
        F.col("o_custkey") % 3 == 0,
        lambda rows: rows.filter(F.col("o_custkey") % 3 != 0),
        writer="rw",
    )
    got = log.read(spark)
    assert got.filter(erased(7, 11, 3)).count() == 0
    want = o.filter(
        (F.col("o_custkey") % 7 != 0)
        & (F.col("o_custkey") % 11 != 0)
        & (F.col("o_custkey") % 3 != 0)
    )
    assert got.count() == want.count()

    # Z-order recluster over an active DV
    log.delete_where_dv(spark, F.col("o_custkey") % 13 == 0, writer="dv13")
    zorder_optimize(
        log, spark, ("o_orderkey", "o_custkey"), target_files=4
    )
    got = log.read(spark)
    assert got.filter(erased(7, 11, 3, 13)).count() == 0
    assert got.count() == want.filter(F.col("o_custkey") % 13 != 0).count()
    assert not log.dv_state()


def test_partitioned_rewrites_do_not_resurrect_dv_rows(spark, sf_dir, tmp_path):
    """The partitioned twins of the resurrection repro:
    optimize_partitioned and merge_partitioned over active DVs. The
    merge only removes the TOUCHED shard's files, so attachments on
    untouched shards must stay in force after it commits."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import optimize_partitioned

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(
        o.filter(F.col("o_orderkey") % 2 == 0), layout, "shard", writer="i0"
    )
    log.append_partitioned(
        o.filter(F.col("o_orderkey") % 2 == 1), layout, "shard", writer="i1"
    )

    log.delete_where_dv(spark, F.col("o_custkey") % 7 == 0, writer="dv7")
    optimize_partitioned(log, spark, "shard", target_files_per_partition=1)
    got = log.read(spark)
    want1 = o.filter(F.col("o_custkey") % 7 != 0)
    assert got.filter(F.col("o_custkey") % 7 == 0).count() == 0
    assert got.count() == want1.count()
    # layout intact: one file per shard, spec still path-encoded
    per = {}
    for f in log.snapshot_files():
        tok = next(p for p in f.split(os.sep) if p.startswith("shard="))
        per[tok] = per.get(tok, 0) + 1
    assert per == {f"shard={i}": 1 for i in range(4)}

    # merge over an active DV: delta touches shard 1 only
    log.delete_where_dv(spark, F.col("o_custkey") % 11 == 0, writer="dv11")
    delta = (
        want1.filter(
            (F.pmod(F.col("o_orderkey"), F.lit(4)) == 1)
            & (F.col("o_custkey") % 11 != 0)
        )
        .limit(5)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    delta_keys = [r["o_orderkey"] for r in delta.collect()]
    log.merge_partitioned(
        spark, delta, layout=layout, spec="shard", keys=["o_orderkey"],
        writer="merger",
    )
    got = log.read(spark)
    assert got.filter(F.col("o_custkey") % 7 == 0).count() == 0
    assert got.filter(F.col("o_custkey") % 11 == 0).count() == 0
    want2 = want1.filter(F.col("o_custkey") % 11 != 0)
    assert got.count() == want2.count()
    doubled = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in got.filter(F.col("o_orderkey").isin(delta_keys)).collect()
    }
    assert doubled == {
        r["o_orderkey"]: r["o_totalprice"] for r in delta.collect()
    }
    # untouched shards' vectors stay ACTIVE (their files weren't removed)
    assert log.dv_state()
    assert all(
        "shard=1" not in f.split(os.sep) for f in log.dv_state()
    )


def test_dv_commit_conflicts_with_disjoint_rewrite(spark, sf_dir, tmp_path):
    """VERDICT r9 wrong 2 (reproduced there): a deletion-vector commit
    has adds=[] and removes=[], so the partition-disjoint relaxation
    used to treat it as commutable with ANY spec'd rewrite — a racing
    merge then replaced the DV'd files with rows read before (and
    without) the delete, silently dropping a commit that won first.
    Now the merge must hit CommitConflict, retry, and its recompute
    must see (and preserve) the delete."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout, "shard", writer="base")

    delta = (
        o.filter(
            (F.pmod(F.col("o_orderkey"), F.lit(4)) == 1)
            & (F.col("o_custkey") % 9 != 0)
        )
        .limit(5)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )

    raced = {"done": False}
    orig = log.commit

    def racing(op, adds, removes=None, **kw):
        if op == "rewrite" and adds and not raced["done"]:
            raced["done"] = True  # set BEFORE the delete recurses into commit
            log.delete_where_dv(
                spark, F.col("o_custkey") % 9 == 0, writer="gdpr-dv"
            )
        return orig(op, adds, removes, **kw)

    log.commit = racing
    log.merge_partitioned(
        spark, delta, layout=layout, spec="shard", keys=["o_orderkey"],
        writer="merger",
    )
    log.commit = orig

    assert [c.writer for c in log.history()] == ["base", "gdpr-dv", "merger"]
    got = log.read(spark)
    # the GDPR delete that committed FIRST survives the racing merge
    assert got.filter(F.col("o_custkey") % 9 == 0).count() == 0
    assert got.count() == o.filter(F.col("o_custkey") % 9 != 0).count()


def test_restore_across_dv_deletes(spark, sf_dir, tmp_path):
    """VERDICT r9 wrong 3 (reproduced there): restore() used to diff
    FILE sets only, so a DV-only delete made it report 'already at the
    target state' while the rows stayed hidden. Restore must compare
    and commit (files, dv_state): backward un-deletes, forward past
    the delete re-instates the vectors, and a restore across
    materialize_dvs re-attaches them to the re-added files."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import materialize_dvs, restore

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o, writer="i0")                                      # v0
    log.delete_where_dv(spark, F.col("o_custkey") % 5 == 0, writer="dv")  # v1
    want = o.filter(F.col("o_custkey") % 5 != 0)
    n_all, n_del = o.count(), want.count()
    assert log.read(spark).count() == n_del

    # unwind the delete: file sets are identical, only DV state differs
    v = restore(log, 0, writer="undo-dv")                           # v2
    assert v == 2
    assert not log.dv_state()
    assert log.read(spark).count() == n_all

    # restore FORWARD to the deleted state: vectors come back in force
    v = restore(log, 1, writer="redo-dv")                           # v3
    assert v == 3
    assert log.dv_state()
    assert log.read(spark).count() == n_del

    # idempotence: restoring to the state we're already in is a no-op
    assert restore(log, 3) == 3

    # materialize, then restore back across it: the re-added original
    # files carry the reinstated attachments
    v = materialize_dvs(log, spark)                                 # v4
    assert v == 4 and not log.dv_state()
    assert log.read(spark).count() == n_del
    v = restore(log, 3, writer="back-past-materialize")             # v5
    assert v == 5
    assert log.dv_state()
    assert log.read(spark).count() == n_del
    # and every earlier state is still time-travelable
    assert log.read(spark, version=2).count() == n_all
    assert log.read(spark, version=1).count() == n_del


def test_dv_on_partitioned_table_with_escapable_values(spark, sf_dir, tmp_path):
    """ADVICE r9 medium: DV keys are decoded from `_metadata.file_path`
    (a URI) — on partition dirs whose Hive-escaped names contain '%',
    ':', spaces, or '+', the URI layer encodes ON TOP of the on-disk
    escaping, and an undecoded prefix-strip stores keys that mismatch
    the manifest (dv_state's live-filter silently drops the delete).
    Exercises the delete, the read, CDF, and the exotic-token
    compaction path over the same table."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import (
        optimize_partitioned,
        read_changes,
    )

    cats = ["a:b", "sp ace", "pct%v", "plus+v"]
    rows = [(i, cats[i % 4], float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, cat string, val double")
    root = str(tmp_path)
    log = TxLog.init(root)
    # range split (NOT parity: parity would correlate with i%4 and
    # leave each partition single-file, making compaction a no-op)
    log.append_partitioned(
        df.filter(F.col("id") < 20), F.col("cat"), "catp", writer="i0"
    )
    log.append_partitioned(
        df.filter(F.col("id") >= 20), F.col("cat"), "catp", writer="i1"
    )

    log.delete_where_dv(spark, F.col("id") % 3 == 0, writer="dv")
    state = log.dv_state()
    assert state, "DV attachments were dropped by the live-filter"
    live = set(log.snapshot_files())
    assert set(state) <= live
    # the delete is ACTIVE on every partition, escapable or not
    got = sorted(r["id"] for r in log.read(spark).collect())
    assert got == [i for i in range(40) if i % 3 != 0]

    # CDF surfaces exactly the marked rows as deletes
    ch = read_changes(log, spark, 1, 2)
    dels = sorted(
        r["id"] for r in ch.filter(F.col("_change_type") == "delete").collect()
    )
    assert dels == [i for i in range(40) if i % 3 == 0]

    # partition-pruned read merges the vectors on an escapable token
    pr = sorted(
        r["id"] for r in log.read_pruned(spark, "catp", ["a:b"]).collect()
    )
    assert pr == [i for i in range(40) if i % 4 == 0 and i % 3 != 0]

    # exotic-token compaction merges the vectors instead of
    # resurrecting them, and reproduces the identical on-disk dirs
    dirs_before = {
        next(p for p in f.split(os.sep) if p.startswith("catp="))
        for f in log.snapshot_files()
    }
    optimize_partitioned(log, spark, "catp", target_files_per_partition=1)
    got = sorted(r["id"] for r in log.read(spark).collect())
    assert got == [i for i in range(40) if i % 3 != 0]
    dirs_after = {
        next(p for p in f.split(os.sep) if p.startswith("catp="))
        for f in log.snapshot_files()
    }
    assert dirs_after == dirs_before
    assert not log.dv_state()
    # values roundtrip through the read (decode matches the writer)
    assert sorted(
        {r["cat"] for r in log.read(spark).collect()}
    ) == sorted(cats)


def test_cdf_telescopes_across_dv_lifecycle(spark, sf_dir, tmp_path):
    """The change feed's telescoping property — replaying every
    version's feed onto the v0 state equals the final snapshot — must
    hold across the FULL deletion-vector lifecycle: DV delete,
    materialize, restore-back (vectors reinstated), a composing second
    DV, and compaction. Before read_changes was DV-aware, a signed
    consumer double-subtracted erased rows across materialize_dvs and
    resurrected them across a DV-reinstating restore."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import (
        materialize_dvs,
        optimize,
        read_changes,
        restore,
    )

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(o.filter(F.col("o_orderkey") % 2 == 0), writer="i0")   # v0
    log.append(o.filter(F.col("o_orderkey") % 2 == 1), writer="i1")   # v1
    log.delete_where_dv(spark, F.col("o_custkey") % 5 == 0, writer="dv5")  # v2
    materialize_dvs(log, spark)                                       # v3
    restore(log, 2, writer="back-to-dv")                              # v4
    log.delete_where_dv(spark, F.col("o_orderkey") % 7 == 0, writer="dv7")  # v5
    optimize(log, spark, target_files=1, writer="compact")            # v6

    def keys(df) -> set:
        return {r["o_orderkey"] for r in df.select("o_orderkey").collect()}

    state = keys(log.read(spark, version=0))
    erased5 = keys(o.filter(F.col("o_custkey") % 5 == 0))
    for v in range(1, log.version() + 1):
        ch = read_changes(log, spark, v - 1, v)
        ins = keys(ch.filter(F.col("_change_type") == "insert"))
        dels = keys(ch.filter(F.col("_change_type") == "delete"))
        state = (state - dels) | ins
        if v >= 2:
            # no erased key ever re-enters the consumer's state
            assert not (state & erased5), f"erased keys resurfaced at v{v}"
    assert state == keys(log.read(spark))
    # and the specific un-delete direction: restoring FROM the DV state
    # back to v1 surfaces the erased rows as 'insert'
    restore(log, 1, writer="unwind-everything")                       # v7
    ch = read_changes(log, spark, 6, 7)
    ins = keys(ch.filter(F.col("_change_type") == "insert"))
    dels = keys(ch.filter(F.col("_change_type") == "delete"))
    state = (state - dels) | ins
    assert state == keys(o)


def test_dv_state_checkpoint_replay_matches_full_replay(tmp_path):
    """dv_state resolves from the nearest checkpoint (r10: checkpoints
    carry the in-force DV map) — a streaming erasure pipeline mints one
    commit per batch, so every snapshot read would otherwise replay the
    whole erasure history. The checkpointed walk must equal the full
    replay at EVERY version, including after removals retire
    attachments and across pre-r10 checkpoints lacking the field."""
    root = str(tmp_path)
    log = TxLog.init(root)
    live: list[str] = []
    import random

    rng = random.Random(7)
    for i in range(2 * CHECKPOINT_EVERY + 5):
        if i % 4 == 3 and live:
            # DV attachment on a random live file (file-less commit)
            victim = rng.choice(live)
            dv = _touch(root, f"data/dv{i}/p.parquet")
            log.commit(
                "rewrite", adds=[], removes=[],
                read_version=log.version(), dvs={victim: [dv]},
            )
        elif i % 7 == 5 and live:
            # rewrite removes a file (retiring its attachments)
            victim = live.pop(0)
            f = _touch(root, f"data/{i}/p.parquet")
            log.commit(
                "rewrite", adds=[f], removes=[victim],
                read_version=log.version(),
            )
            live.append(f)
        else:
            f = _touch(root, f"data/{i}/p.parquet")
            log.commit("append", [f])
            live.append(f)
    assert any(
        n.endswith(".checkpoint.json") for n in os.listdir(log.logdir)
    )
    latest = log.version()
    with_cp = {v: log.dv_state(v) for v in range(latest + 1)}
    assert any(with_cp[latest].values()) or any(
        d for s in with_cp.values() for d in s.values()
    )  # the history genuinely carries attachments
    # force the full no-checkpoint replay and compare at every version
    for n in list(os.listdir(log.logdir)):
        if n.endswith(".checkpoint.json"):
            os.unlink(os.path.join(log.logdir, n))
    os.unlink(log._last_checkpoint_path())
    for v in range(latest + 1):
        assert log.dv_state(v) == with_cp[v], f"divergence at v{v}"


def test_dv_state_tolerates_pre_r10_checkpoints(tmp_path):
    """A checkpoint written before the dvs field existed must fall back
    to the full replay, never misread an empty DV map."""
    root = str(tmp_path)
    log = TxLog.init(root)
    f0 = _touch(root, "data/a/p.parquet")
    log.commit("append", [f0])
    dv = _touch(root, "data/dv/p.parquet")
    log.commit(
        "rewrite", adds=[], removes=[], read_version=0, dvs={f0: [dv]}
    )
    for i in range(CHECKPOINT_EVERY):
        log.commit("append", [_touch(root, f"data/{i}/p.parquet")])
    cps = [n for n in os.listdir(log.logdir) if n.endswith(".checkpoint.json")]
    assert cps
    # strip the dvs field, simulating a pre-r10 checkpoint
    for n in cps:
        p = os.path.join(log.logdir, n)
        d = json.load(open(p))
        d.pop("dvs", None)
        json.dump(d, open(p, "w"))
    assert log.dv_state() == {f0: [dv]}


def test_file_stats_survive_checkpoints_restore_and_clone(
    spark, sf_dir, tmp_path
):
    """file_stats resolves from checkpoints (r10) and must equal the
    full replay; a restore re-adding stats-carrying files reinstates
    their stats via its own commit payload, and a clone carries the
    source's stats — both keep data skipping alive across incident
    unwinds and table copies (the checkpointed map is CUMULATIVE, so
    even a stats-less re-add resolves; see
    test_checkpoint_stats_survive_remove_then_statless_readd)."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import optimize, restore

    root = str(tmp_path / "src")
    os.makedirs(root)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(
        o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1),
        writer="i0", stats_cols=("o_orderkey",),
    )
    log.append(
        o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1),
        writer="i1", stats_cols=("o_orderkey",),
    )
    # push past a checkpoint boundary with stats-less micro-appends
    tiny = o.limit(1).coalesce(1)
    for i in range(CHECKPOINT_EVERY):
        log.append(tiny, writer=f"tiny-{i}")
    assert any(
        n.endswith(".checkpoint.json") for n in os.listdir(log.logdir)
    )
    st_cp = log.file_stats()
    assert st_cp and all("o_orderkey" in s for s in st_cp.values())
    v_ingested = log.version()
    # checkpointed walk == full replay
    for n in list(os.listdir(log.logdir)):
        if n.endswith(".checkpoint.json"):
            os.unlink(os.path.join(log.logdir, n))
    os.unlink(log._last_checkpoint_path())
    assert log.file_stats() == st_cp

    # compaction preserves the stats discipline (r10): the replacement
    # file carries fresh footer stats for the in-use columns
    optimize(log, spark, target_files=1, writer="compact")
    st_opt = log.file_stats()
    assert st_opt and all("o_orderkey" in s for s in st_opt.values())
    assert not (set(st_opt) & set(st_cp))  # genuinely new files
    # restore re-adds the ingest files WITH their stats (payload)
    restore(log, v_ingested, writer="unwind")
    got = log.file_stats()
    assert {f: got[f] for f in st_cp} == st_cp
    c = log._read_commit(log.version())
    assert c.stats  # the payload is in the restore commit itself

    # clone carries the stats map into its v0 commit
    cl = log.clone(str(tmp_path / "cl"))
    cl_stats = cl.file_stats()
    assert {f: cl_stats[f] for f in st_cp} == st_cp


def test_materialize_preserves_partition_layout_and_collapse_guards(
    spark, sf_dir, tmp_path
):
    """materialize_dvs on a partitioned table must restage each victim
    under its own spec=token directory (flat restaging would break
    pruning and make every later layout-pure op refuse), and the
    layout-collapsing rewrites — plain optimize() and zorder_optimize —
    must refuse on a partition-encoded table instead of silently
    stripping the layout."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import (
        materialize_dvs,
        optimize,
        optimize_partitioned,
        zorder_optimize,
    )

    root = str(tmp_path / "a")
    os.makedirs(root)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    log.append_partitioned(o, layout, "shard", writer="base")
    log.delete_where_dv(spark, F.col("o_custkey") % 7 == 0, writer="dv")

    with _pytest.raises(ValueError, match="collapse"):
        optimize(log, spark, target_files=1)
    with _pytest.raises(ValueError, match="collapse"):
        zorder_optimize(log, spark, ("o_orderkey", "o_custkey"))

    dirs_before = {
        next(p for p in f.split(os.sep) if p.startswith("shard="))
        for f in log.snapshot_files()
    }
    materialize_dvs(log, spark)
    assert not log.dv_state()
    want = o.filter(F.col("o_custkey") % 7 != 0)
    assert log.read(spark).count() == want.count()
    live = log.snapshot_files()
    assert all(
        any(p.startswith("shard=") for p in f.split(os.sep)) for f in live
    )
    assert {
        next(p for p in f.split(os.sep) if p.startswith("shard="))
        for f in live
    } == dirs_before
    # layout purity holds: the partition-pure maintenance ops accept it
    optimize_partitioned(log, spark, "shard", target_files_per_partition=1)
    assert log.read(spark).count() == want.count()

    # exotic (escapable) tokens are copied verbatim through materialize
    root2 = str(tmp_path / "b")
    os.makedirs(root2)
    log2 = TxLog.init(root2)
    cats = ["a:b", "sp ace", "pct%v", "plus+v"]
    df = spark.createDataFrame(
        [(i, cats[i % 4], float(i)) for i in range(40)],
        "id long, cat string, val double",
    )
    log2.append_partitioned(df, F.col("cat"), "catp", writer="i0")
    log2.delete_where_dv(spark, F.col("id") % 3 == 0, writer="dv")
    dirs2 = {
        next(p for p in f.split(os.sep) if p.startswith("catp="))
        for f in log2.snapshot_files()
    }
    materialize_dvs(log2, spark)
    assert not log2.dv_state()
    assert sorted(r["id"] for r in log2.read(spark).collect()) == [
        i for i in range(40) if i % 3 != 0
    ]
    assert {
        next(p for p in f.split(os.sep) if p.startswith("catp="))
        for f in log2.snapshot_files()
    } == dirs2


def test_zorder_partitioned_preserves_layout_and_prunes(
    spark, sf_dir, tmp_path
):
    """zorder_optimize_partitioned reclusters WITHIN each partition:
    the spec=token dirs survive file-for-file, active deletion vectors
    are merged (not resurrected), both named columns become stats-
    prunable inside the layout, and the row set is byte-identical
    minus the soft deletes."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import zorder_optimize_partitioned

    root = str(tmp_path)
    log = TxLog.init(root)
    o, layout = _shards(spark, sf_dir)
    # two range-appends -> every shard fragmented, custkey unprunable
    kmin, kmax = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    mid = (int(kmin) + int(kmax)) // 2
    log.append_partitioned(
        o.filter(F.col("o_orderkey") <= mid), layout, "shard",
        writer="i0", stats_cols=("o_orderkey", "o_custkey"),
    )
    log.append_partitioned(
        o.filter(F.col("o_orderkey") > mid), layout, "shard",
        writer="i1", stats_cols=("o_orderkey", "o_custkey"),
    )
    log.delete_where_dv(spark, F.col("o_custkey") % 7 == 0, writer="dv")
    want = o.filter(F.col("o_custkey") % 7 != 0)

    cmax = int(o.agg(F.max("o_custkey")).collect()[0][0])
    clo, chi = (30 * cmax) // 100, (45 * cmax) // 100
    total_before = len(log.snapshot_files())
    assert len(log.stats_pruned_files("o_custkey", clo, chi)) == total_before

    dirs_before = {
        next(p for p in f.split(os.sep) if p.startswith("shard="))
        for f in log.snapshot_files()
    }
    v = zorder_optimize_partitioned(
        log, spark, "shard", ("o_orderkey", "o_custkey"),
        target_files_per_partition=8,
    )
    assert v == 3
    assert not log.dv_state()  # vectors merged + retired by the rewrite
    got = log.read(spark)
    assert got.filter(F.col("o_custkey") % 7 == 0).count() == 0
    assert got.count() == want.count()
    files = log.snapshot_files()
    assert {
        next(p for p in f.split(os.sep) if p.startswith("shard="))
        for f in files
    } == dirs_before
    total = len(files)
    assert len(log.stats_pruned_files("o_custkey", clo, chi)) < total
    assert len(
        log.stats_pruned_files(
            "o_orderkey", None, int(kmin) + (int(kmax) - int(kmin)) // 6
        )
    ) < total
    # the stats-pruned read still merges nothing (DVs retired) and
    # row-filters to the exact answer
    t = log.read_stats_pruned(spark, "o_custkey", clo, chi).filter(
        F.col("o_custkey").between(clo, chi)
    )
    assert t.count() == want.filter(
        F.col("o_custkey").between(clo, chi)
    ).count()


def test_rewrites_preserve_stats_discipline(spark, sf_dir, tmp_path):
    """A table whose manifest carries [min, max] stats must keep them
    through every structural rewrite: compaction, partitioned
    compaction, merge, DV materialization, and copy-on-write rewrites
    re-collect the in-use columns on their replacement files (footer
    metadata only) — otherwise one maintenance pass silently kills
    data skipping for the rewritten range."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import materialize_dvs, optimize

    root = str(tmp_path)
    log = TxLog.init(root)
    o, _ = _shards(spark, sf_dir)
    log.append(
        o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1),
        writer="i0", stats_cols=("o_orderkey",),
    )
    log.append(
        o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1),
        writer="i1", stats_cols=("o_orderkey",),
    )
    assert log.stats_cols_in_use() == ("o_orderkey",)

    # compaction keeps the discipline
    optimize(log, spark, target_files=1, writer="compact")
    st = log.file_stats()
    assert st and all("o_orderkey" in s for s in st.values())

    # DV materialize keeps it
    log.delete_where_dv(spark, F.col("o_custkey") % 5 == 0, writer="dv")
    materialize_dvs(log, spark)
    st = log.file_stats()
    assert st and all("o_orderkey" in s for s in st.values())

    # copy-on-write rewrite keeps it
    log.rewrite_where(
        spark,
        F.col("o_custkey") % 3 == 0,
        lambda rows: rows.filter(F.col("o_custkey") % 3 != 0),
        writer="rw",
    )
    st = log.file_stats()
    assert st and all("o_orderkey" in s for s in st.values())
    # and skipping still works end-to-end on the maintained table
    kmax = max(s["o_orderkey"][1] for s in st.values())
    assert len(log.stats_pruned_files("o_orderkey", kmax + 1, None)) == 0


def test_overlapping_dv_deletes_are_idempotent(spark, tmp_path):
    """`delete_where_dv` anti-joins the ACTIVE vectors before staging
    (r10 review find): an overlapping predicate (an idempotent GDPR
    re-run) must not re-mark already-deleted positions — a duplicate
    (file, pos) across sidecars survives `read_changes`' multiset
    position diff and emits a spurious row-granular 'delete' for a row
    whose visibility never changed, which a signed incremental
    consumer subtracts twice. A FULLY-covered re-run commits nothing
    at all (the documented 'matching no rows commits nothing'
    contract covers already-erased rows)."""
    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import read_changes

    root = str(tmp_path)
    log = TxLog.init(root)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, val double"
    )
    log.append(df, writer="i0")                                    # v0
    log.delete_where_dv(spark, F.col("id") % 2 == 0, writer="d1")  # v1
    # fully covered by d1: %4==0 ⊂ %2==0 → no commit minted
    v = log.delete_where_dv(spark, F.col("id") % 4 == 0, writer="d2")
    assert v == 1 and log.version() == 1
    # partial overlap: %3==0 newly deletes only the odd multiples
    log.delete_where_dv(spark, F.col("id") % 3 == 0, writer="d3")  # v2
    ch = read_changes(log, spark, 1, 2)
    dels = sorted(
        r["id"] for r in ch.filter(F.col("_change_type") == "delete").collect()
    )
    assert dels == [3, 9, 15]  # 0,6,12,18 were already invisible at v1
    assert log.read(spark, 1).count() == 10
    assert log.read(spark, 2).count() == 7
    # no duplicate (file, pos) across the in-force sidecars
    dv_paths = sorted(
        {os.path.join(root, d)
         for dl in log.dv_state().values()
         for d in dl}
    )
    dv = spark.read.parquet(*dv_paths)
    assert dv.count() == dv.select("file", "pos").distinct().count() == 13


def test_checkpoint_stats_survive_remove_then_statless_readd(tmp_path):
    """Checkpoints carry the CUMULATIVE stats map (r10 review find): a
    file removed before a checkpoint and re-added afterwards by a
    commit WITHOUT a stats payload must still resolve to its original
    stats, exactly as the full replay does — live-filtering at
    checkpoint time silently degraded skipping for that file."""
    root = str(tmp_path)
    log = TxLog.init(root)
    f = _touch(root, "data/a/p.parquet")
    log.commit("append", [f], stats={f: {"c": [1, 5]}})            # v0
    log.commit(
        "rewrite", adds=[], removes=[f], read_version=log.version()
    )                                                              # v1: f dead
    for i in range(CHECKPOINT_EVERY):
        log.commit("append", [_touch(root, f"data/{i}/p.parquet")])
    assert any(
        n.endswith(".checkpoint.json") for n in os.listdir(log.logdir)
    )
    # re-add the SAME path with no stats payload (the full-replay
    # contract: the v0 stats win because no later add re-statted it)
    log.commit("append", [f])
    got = log.file_stats()
    assert got.get(f) == {"c": [1, 5]}
    # checkpointed walk == full replay
    for n in list(os.listdir(log.logdir)):
        if n.endswith(".checkpoint.json"):
            os.unlink(os.path.join(log.logdir, n))
    os.unlink(log._last_checkpoint_path())
    log._cp_cache = {}
    assert log.file_stats() == got


def test_racing_dv_deletes_compose(spark, tmp_path):
    """Two DV deletes with OVERLAPPING predicates race: the loser's
    commit must conflict (a DV commit is never partition-disjoint —
    r10 `_conflicts` rule), and its retry must recompute against the
    winner's vectors (r10 idempotency rule), so the losing sidecar
    carries ONLY the genuinely-new positions. The composed visibility
    equals the sequential application."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    log = TxLog.init(root)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id long, val double"
    )
    log.append(df, writer="i0")                                    # v0

    raced = {"done": False, "dv_commits": 0}
    orig_commit = log.commit

    def racing_commit(op, adds, removes=None, **kw):
        if kw.get("dvs"):
            raced["dv_commits"] += 1
            if not raced["done"]:
                raced["done"] = True
                # the racer lands an overlapping delete FIRST through
                # an independent handle (a second writer process)
                TxLog(root).delete_where_dv(
                    spark, F.col("id") % 2 == 0, writer="racer"
                )
        return orig_commit(op, adds, removes, **kw)

    log.commit = racing_commit
    log.delete_where_dv(spark, F.col("id") % 3 == 0, writer="loser")
    log.commit = orig_commit

    # v1 = racer, v2 = loser's retried commit; first attempt conflicted
    assert log.version() == 2
    assert raced["dv_commits"] == 2  # attempt + retry (racer used its own handle)
    vis = sorted(r["id"] for r in log.read(spark).collect())
    assert vis == [i for i in range(30) if i % 2 and i % 3]
    # the loser's sidecar carries only the odd multiples of 3
    c2 = log._read_commit(2)
    assert c2.writer == "loser"
    dv_rel = sorted({d for dl in c2.dvs.values() for d in dl})
    import pyarrow.parquet as pq

    pos = pq.read_table(os.path.join(root, dv_rel[0]))
    import collections

    pairs = list(zip(pos.column("file").to_pylist(),
                     pos.column("pos").to_pylist()))
    assert len(pairs) == len(set(pairs)) == 5  # 3, 9, 15, 21, 27


def test_cdf_telescoping_random_histories(spark, tmp_path):
    """PROPERTY version of the telescoping pin: over RANDOM protocol
    histories (appends, overlapping DV deletes, materialization,
    compaction, restores to arbitrary earlier versions), replaying
    every version's change feed onto the v0 state must equal the final
    snapshot — the contract a signed incremental consumer stakes its
    correctness on. Seeded-random rather than hypothesis-driven: each
    history costs real Spark jobs, so a handful of deterministic seeds
    buys the shape coverage (example-based tests pin the known-bad
    compositions; this sweeps the unknown ones)."""
    import collections
    import random

    from pyspark.sql import functions as F

    from kamiyo_hive_spark.sources.txlog import (
        materialize_dvs,
        optimize,
        read_changes,
        restore,
    )

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        root = str(tmp_path / f"t{seed}")
        os.makedirs(root)
        log = TxLog.init(root)
        n0 = 40
        df = spark.range(n0).select(
            F.col("id").cast("long"), (F.col("id") * 1.5).alias("val")
        )
        log.append(df, writer="i0")                                # v0
        next_id = n0
        for _ in range(rng.randint(4, 6)):
            op = rng.choice(["append", "delete", "delete", "mat",
                             "opt", "restore"])
            if op == "append":
                inc = spark.range(next_id, next_id + 10).select(
                    F.col("id").cast("long"),
                    (F.col("id") * 1.5).alias("val"),
                )
                log.append(inc, writer="inc")
                next_id += 10
            elif op == "delete":
                k = rng.choice([3, 5, 7, 11])
                r = rng.randrange(k)
                log.delete_where_dv(
                    spark, F.col("id") % k == r, writer=f"dv{k}-{r}"
                )
            elif op == "mat":
                materialize_dvs(log, spark)
            elif op == "opt":
                try:
                    optimize(log, spark, target_files=2, writer="opt")
                except ValueError:
                    pass  # already compact enough
            else:
                tgt = rng.randrange(log.version() + 1)
                restore(log, tgt, writer="unwind")

        state = collections.Counter(
            r["id"] for r in log.read(spark, 0).collect()
        )
        for v in range(1, log.version() + 1):
            ch = read_changes(log, spark, v - 1, v).collect()
            for r in ch:
                if r["_change_type"] == "delete":
                    state[r["id"]] -= 1
                else:
                    state[r["id"]] += 1
        final = collections.Counter(
            r["id"] for r in log.read(spark).collect()
        )
        assert +state == final, f"telescoping broke for seed {seed}"
