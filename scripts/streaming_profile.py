#!/usr/bin/env python
"""Per-batch component table for the streaming queries.

Runs every bench query tagged ``streaming`` twice, in one session, and
prints one row per query with the micro-batch components a
``StreamingQueryListener`` reports, in milliseconds summed over the
query's micro-batches:

  latestOffset   source offset discovery
  walCommit      offset-log write (checkpoint)
  addBatch       the batch's plan execution into the sink
  commitOffsets  commit-log write (checkpoint)
  stateCommit    the state operators' ``commitTimeMs`` (state-store
                 delta/snapshot files), summed over operators and
                 their tasks, so it can exceed the batch's wall time
  trigger        ``triggerExecution``, the whole micro-batch

Two builders stage their stream's result once per testdata generation
(the ANN index merge and the deletion-vector delete stream) and skip
the stream when the staging is warm. The package's staging root
(``sources.sinks.SCRATCH``) is therefore pointed at a fresh temporary
directory for the run, so every query's stream runs.

Usage: ``python scripts/streaming_profile.py [--sf-dir DIR] [--out JSON]``
(default sf ``$SPARK_GRAFT_SF_DIR`` or ``~/testdata/sf0.1``). The
raw per-batch entries are written to ``--out``
(default ``.scratch/streaming_profile.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

COLUMNS = ("latestOffset", "walCommit", "addBatch", "commitOffsets")


def _listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchComponents(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.append(
                {
                    "run": str(p.runId),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                    "stateCommitMs": sum(s.commitTimeMs for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return BatchComponents()


def _row(name: str, batches: list[dict]) -> dict:
    row = {
        "query": name,
        "streams": len({b["run"] for b in batches}),
        "batches": len(batches),
        "rows": sum(b["rows"] for b in batches),
    }
    for c in COLUMNS + ("triggerExecution",):
        row[c] = sum(b["durationMs"].get(c, 0) for b in batches)
    row["stateCommit"] = sum(b["stateCommitMs"] for b in batches)
    return row


def _print_table(rows: list[dict]) -> None:
    cols = ("streams", "batches", "rows") + COLUMNS + ("stateCommit", "triggerExecution")
    heads = ("streams", "batches", "rows") + COLUMNS + ("stateCommit", "trigger")
    width = max(len(r["query"]) for r in rows)
    print(f"{'query':{width}s} " + " ".join(f"{h:>13s}" for h in heads))
    for r in rows:
        print(f"{r['query']:{width}s} " + " ".join(f"{r[c]:13d}" for c in cols))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1")
        ),
    )
    ap.add_argument(
        "--out", default=os.path.join(_ROOT, ".scratch", "streaming_profile.json")
    )
    args = ap.parse_args()

    from kamiyo_hive_spark.plans.registry import load_registry
    from kamiyo_hive_spark.session import get_spark
    from kamiyo_hive_spark.sources import sinks

    spark = get_spark(app_name="streaming-profile")
    staging = tempfile.mkdtemp(prefix="streaming_profile_staging_")
    sinks.SCRATCH = staging
    listener = _listener()
    spark.streams.addListener(listener)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    reg = load_registry()
    names = sorted(
        n for n, spec in reg.items() if "streaming" in spec.tags and spec.bench
    )

    def run(name: str) -> list[dict]:
        listener.batches = []
        reg[name].builder(spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        bus.waitUntilEmpty()
        return listener.batches

    try:
        # Python workers and the first streaming run's JIT are one-off
        # costs; pay them before the table, on a query that stages no
        # stream output.
        spark.range(100).mapInPandas(lambda it: it, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        run("streaming_dedup_keys")
        profile = {}
        for name in names:
            # A query's first run pays its own codegen and planning; the
            # table shows its second, warm run, unless that run started
            # no stream (a staged stream output is not rebuilt).
            first = run(name)
            profile[name] = run(name) or first
    finally:
        spark.streams.removeListener(listener)
        spark.stop()
        shutil.rmtree(staging, ignore_errors=True)

    rows = [_row(name, batches) for name, batches in profile.items()]
    total = _row("TOTAL", [b for batches in profile.values() for b in batches])
    _print_table(rows + [total])
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"rows": rows + [total], "batches": profile}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
