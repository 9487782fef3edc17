"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py          # static checks, no Spark
    python3 perfbench/selfcheck.py --run    # plus a run of every workload at sf0.001

Static checks:
- the four mixes partition every ``bench=True`` registry query: each is
  in exactly one mix by the rule in ``workloads.py``;
- every panel query is a benched query of its own mix;
- ``BENCHMARK.json`` names workloads among the mixes, each with a
  one-line ``why``, and its per-layer metrics are the ones the tracer
  reports.

With ``--run``, each workload of ``BENCHMARK.json`` runs at sf0.001 untraced and traced, and
the check asserts that every metric ``BENCHMARK.json`` names is printed
with its unit, that outputs are correct, that attribution loses no
more than ``CLIPPED_TOLERANCE_S`` of job and stage time per op
(``trace.clipped_s``), and that each layer is non-zero on the workload that exercises it and zero
on the workload that bypasses it (``LAYER_PREDICTIONS``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import workloads  # noqa: E402
from tracing import PER_LAYER  # noqa: E402

# Layer metric -> (workload that exercises it, workload that bypasses it).
LAYER_PREDICTIONS = {
    "registry.builder_jobs": ("table_ops", None),
    "catalyst.optimize_s": ("curation_kernels", None),
    "exec.stage_s": ("curation_kernels", None),
    "scan.files": ("table_ops", None),
    "op.agg_build_s": ("table_ops", None),
    "python.time_s": ("curation_kernels", "table_ops"),
    "stream.batches": ("streaming_replay", "curation_kernels"),
    "stream.wal_commit_s": ("streaming_replay", "table_ops"),
    "txlog.calls": ("table_ops", "streaming_replay"),
    "txlog.read_s": ("table_ops", "streaming_replay"),
    "legacy.calls": ("table_ops", "streaming_replay"),
}
# Job and stage times are whole milliseconds, so a record can start up to
# a millisecond before the span that caused it.
CLIPPED_TOLERANCE_S = 0.005


def static_checks() -> list[str]:
    sys.path.insert(0, str(ROOT))
    from kamiyo_hive_spark.plans.registry import load_registry

    errors: list[str] = []
    registry = load_registry()
    try:
        mixes = workloads.mixes(registry)
    except KeyError as e:
        return [str(e)]
    benched = sorted(n for n, s in registry.items() if s.bench)
    placed = sorted(n for names in mixes.values() for n in names)
    if placed != benched:
        errors.append("mixes do not partition the benched queries")
    for w in workloads.WORKLOADS:
        try:
            workloads.panel(w, registry)
        except KeyError as e:
            errors.append(str(e))
        print(f"{w}: mix {len(mixes[w])} queries, panel {len(workloads.PANELS[w])}")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if not set(names) <= set(workloads.WORKLOADS):
        errors.append(f"BENCHMARK.json workloads {names} are not all mixes")
    for w in spec["workloads"]:
        if not w.get("why") or "\n" in w["why"]:
            errors.append(f"workload {w['name']}: needs a one-line why")
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if layer != PER_LAYER:
        errors.append("BENCHMARK.json per_layer differs from tracing.PER_LAYER")
    return errors


def run_checks(sf_dir: str, seconds: float) -> list[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    errors: list[str] = []
    traced: dict[str, dict] = {}
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            cmd = [
                sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "1",
                "--seconds", str(seconds), "--trace", str(trace), "--sf-dir", sf_dir,
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{w} trace={trace}"
            if proc.returncode != 0:
                errors.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-500:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != expected[trace]:
                errors.append(f"{tag}: metrics/units differ from BENCHMARK.json")
            if not result["correct"] or result["failed"]:
                errors.append(f"{tag}: incorrect output, {result['failed']} failed")
            print(f"{tag}: ok={result['correct']} attempted={result['attempted']}")
            if trace:
                traced[w] = {k: v["value"] for k, v in result["metrics"].items()}
    for w, m in traced.items():
        if m["trace.clipped_s"] > CLIPPED_TOLERANCE_S:
            errors.append(f"{w}: attribution loses {m['trace.clipped_s']:.4f}s of job time per op")
    for metric, (hit, bypass) in LAYER_PREDICTIONS.items():
        if hit in traced and not traced[hit][metric] > 0:
            errors.append(f"{metric}: zero on {hit}, which exercises it")
        if bypass in traced and traced[bypass][metric] != 0:
            errors.append(f"{metric}: {traced[bypass][metric]} on {bypass}, which bypasses it")
    return errors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--run", action="store_true", help="also run every workload at sf0.001")
    ap.add_argument("--sf-dir", default=os.path.join(run.TESTDATA, "sf0.001"))
    ap.add_argument("--seconds", type=float, default=2.0)
    args = ap.parse_args()
    errors = static_checks()
    if args.run and not errors:
        errors += run_checks(args.sf_dir, args.seconds)
    for e in errors:
        print(f"FAIL {e}")
    print("selfcheck:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
