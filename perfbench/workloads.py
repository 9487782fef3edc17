"""The benchmark's four workloads: which registry queries each one owns.

Every ``bench=True`` registry query belongs to exactly one mix, decided
by a rule on the query itself rather than by a list of names, so a
newly registered query lands in a mix without editing this file:

1. a query tagged ``streaming`` belongs to ``streaming_replay``;
2. otherwise the module that defines its builder decides (``MODULES``).

A run does not time a whole mix: a run is sized to well under a minute,
set-up included, and the full mixes take 15-60 s per warm pass on four
cores. Each workload therefore times a fixed *panel* drawn from its mix
(``PANELS``). The panels were chosen by one rule from a traced sizing
pass over each whole mix at sf0.1 on ``local[4]``, run after two untimed
passes (per-op layer times, as ``--trace 1`` reports them):

- a query slower than the pass budget (3.5 s) cannot be in a panel;
- of the subsets whose sizing pass fills 75-100% of the budget, the
  panel is the one closest to the mix's queries under the budget,
  measured as the largest of these differences: the share of pass time
  in each layer (builder, Catalyst, driver and scheduling, stages,
  Python, streaming, TxLog, pre-txlog storage), the relative difference
  in Spark jobs per op and in the geometric-mean op latency. (Searched
  exhaustively for ``streaming_replay``, by local search from 200
  seeded starts for the larger mixes.)

Inside a run the panels' passes take 1.2-1.6x their sizing time: a run
has had less time to warm up.

The seed permutes the order of each pass; it never changes the panel,
so runs with different seeds time the same work.

``BENCHMARK.json`` lists three of the four workloads. ``sql_queries``
runs the same way but is left out of the measured set, which must fit a
fixed total time: every layer it exercises (Catalyst, scheduling, scans,
JVM operators) is exercised by the other three as well, while the
Python, streaming and pre-txlog storage layers each have only one
workload that exercises them.
"""

from __future__ import annotations

STREAMING_TAG = "streaming"

# Mix name -> the builder modules (last dotted component) it owns.
MODULES: dict[str, tuple[str, ...]] = {
    "sql_queries": (
        "aggregates", "analytics", "asof", "joins", "profiling",
        "relational", "scalars", "setops", "stateful", "timeseries",
        "tpch_extra", "windows", "warehouse",
    ),
    "curation_kernels": (
        "dedup", "similarity", "retrieval", "text", "corpus", "quality",
        "multimodal", "clustering", "sketches", "sampling", "merkle",
        "pipelines", "semistructured", "llm_pipeline",
    ),
    "table_ops": ("txlog", "layout", "maintenance", "sinks", "skipping"),
    "streaming_replay": (),
}

# The timed panel of each workload (see the module docstring; the
# shares quoted are of warm pass time, mix against panel).
PANELS: dict[str, tuple[str, ...]] = {
    # Not in BENCHMARK.json. builder 0.15/0.15, stages 0.59/0.59, driver
    # and scheduling 0.24/0.24, jobs/op 3.3/3.3.
    "sql_queries": (
        "anti_join_orphans", "banded_multiplier_weight",
        "calendar_window_sums", "cross_nation_volume",
        "disjunctive_predicates", "histogram_mean", "local_supplier_volume",
        "ohlc_hourly_candles", "rollup_hierarchy",
    ),
    # builder 0.41/0.40, stages 0.47/0.48, Python 0.14/0.13, driver and
    # scheduling 0.11/0.11, jobs/op 4.3/4.3.
    "curation_kernels": (
        "approx_distinct_dashboard", "benchmark_decontaminate", "knn_pq_adc",
        "mixture_sampling_plan", "multimodal_frame_sample",
        "multimodal_gif_frames", "observed_quality_gate",
    ),
    # builder 0.71/0.68, TxLog 0.10/0.06, pre-txlog storage 0.19/0.22,
    # stages 0.18/0.20, jobs/op 5.5/5.6.
    "table_ops": (
        "acid_change_data_feed", "acid_dv_maintenance",
        "acid_incremental_rollup", "acid_schema_evolution",
        "acid_shallow_clone", "acid_zorder_partitioned",
        "csv_ingest_roundtrip", "keyed_update_rewrite",
    ),
    # builder 0.93/0.89, streaming 0.74/0.81, jobs/op 6.5/6.0, against
    # the 15 queries under the budget. Over it are
    # streaming_commit_reveal_stateful (applyInPandasWithState, 12.9 s
    # warm; all of the mix's Python time) and streaming_interval_join
    # (3.7 s), together 39% of the mix's pass time: this panel has no
    # Python-state streaming.
    "streaming_replay": ("streaming_dedup_keys", "streaming_replay_then_live"),
}

# Set-up steps each workload needs after the session starts, in order;
# each runs only where the panel uses it. (No panel holds a query that
# needs the SQL warehouse or the IVF index, two set-up steps bench.py
# makes.)
WARMUPS: dict[str, tuple[str, ...]] = {
    "sql_queries": (),
    "curation_kernels": ("pyworkers",),
    "table_ops": (),
    "streaming_replay": ("stream",),
}

WORKLOADS = tuple(MODULES)


def mix_of(spec) -> str:
    """The mix a registry query belongs to; raises for an unknown module,
    so a query in a new module fails the partition self-check loudly
    instead of silently dropping out of every mix."""
    if STREAMING_TAG in spec.tags:
        return "streaming_replay"
    module = spec.builder.__module__.rsplit(".", 1)[-1]
    for mix, modules in MODULES.items():
        if module in modules:
            return mix
    raise KeyError(f"query {spec.name!r}: module {module!r} is in no mix")


def mixes(registry) -> dict[str, list[str]]:
    """Mix name -> sorted names of its ``bench=True`` queries."""
    out: dict[str, list[str]] = {w: [] for w in WORKLOADS}
    for name in sorted(registry):
        spec = registry[name]
        if spec.bench:
            out[mix_of(spec)].append(name)
    return out


def panel(workload: str, registry) -> list[str]:
    """The workload's timed panel, checked against the registry: every
    name must exist, be benched and belong to this workload's mix."""
    names = list(PANELS[workload])
    if not names:
        raise KeyError(f"panel {workload}: empty")
    for name in names:
        spec = registry.get(name)
        if spec is None or not spec.bench or mix_of(spec) != workload:
            raise KeyError(f"panel {workload}: {name!r} is not a benched query of this mix")
    return names
