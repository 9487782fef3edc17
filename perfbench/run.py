"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sql_queries --seed 1 --seconds 9 --trace 0

Run from the root of a checkout. The program under test is the checkout's
``kamiyo_hive_spark`` package, imported from source; the inputs are the
fixed scale-factor tables in ``~root/testdata/sf0.1`` (``--sf-dir``;
the self-check uses sf0.001). The seed permutes the order in which each pass
runs the workload's panel of registry queries (see ``workloads.py``).

One run, on ``local[$(nproc)]`` with one client thread (closed loop: the
next op starts when the previous one has finished):

1. put the run state under ``.perfbench/`` into its declared state
   (``state.py``);
2. set up: import, Spark session and the warm-ups this workload needs;
   ``setup_s`` is process start to the end of this step;
3. check every panel query once against its DuckDB oracle (untimed;
   the first of these is the run's first query, ``setup.first_query_s``);
4. timed passes, untraced, until ``--seconds`` have been measured;
5. with ``--trace 1``, the same timed passes again with tracing on,
   which give the per-layer metrics and ``trace.overhead``.

An op is one registry builder call plus a noop-sink action, the way
``bench.py`` times a query. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. Exit code 2 means the
checkout or the inputs are missing and nothing was measured.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as Python can see it

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import state  # noqa: E402
import workloads  # noqa: E402

# The scale-factor tables sit in the root user's home, where bench.py and
# the tests also read them; "~root" resolves it even without $HOME.
TESTDATA = os.path.expanduser("~root/testdata")
SF_DEFAULT = os.path.join(TESTDATA, "sf0.1")
# Pass times in a fresh JVM keep falling for ~25 s of repeated work (JIT).
# A run cannot afford that: the check pass is its only warm-up, so the
# timed passes start at the same point of the ramp in every run (on
# table_ops the first timed pass took 20-40% longer than the second).


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=SF_DEFAULT, help="scale-factor tables (default: %(default)s)")
    return ap.parse_args(argv)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


class Bench:
    """One run: the session, the panel and the timing loops."""

    def __init__(self, args, paths: state.Paths) -> None:
        self.args = args
        self.paths = paths
        self.setup: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0

    # ------------------------------------------------------------ set-up

    def _step(self, name: str, fn) -> None:
        t = time.perf_counter()
        fn()
        self.setup[f"setup.{name}_s"] = time.perf_counter() - t

    def start(self) -> None:
        t = time.perf_counter()
        state.reset(self.paths)
        self.setup["setup.staging_s"] = time.perf_counter() - t

        from kamiyo_hive_spark.plans.registry import load_registry
        from kamiyo_hive_spark.session import get_spark

        self.registry = load_registry()
        state.relocate_staging(self.paths.staging)
        self.panel = workloads.panel(self.args.workload, self.registry)
        self.cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            extra_conf=state.spark_conf(self.paths),
        )
        self.setup["setup.session_s"] = time.perf_counter() - T0
        self.sc = self.spark.sparkContext
        self.keep_rdds = set(self._persistent_rdds())

        from tracing import StatusReader, make_stream_listener

        self.status = StatusReader(self.spark)
        self.listener = make_stream_listener()
        self.spark.streams.addListener(self.listener)

        for warm in workloads.WARMUPS[self.args.workload]:
            self._step(warm, getattr(self, f"_warm_{warm}"))
        self.setup_s = time.perf_counter() - T0
        self.keep_rdds = set(self._persistent_rdds())

    def _warm_pyworkers(self) -> None:
        self._noop(self.spark.range(100).mapInPandas(lambda it: it, "id long"))

    def _warm_stream(self) -> None:
        self._noop(self.registry["streaming_dedup_keys"].builder(self.spark, self.args.sf_dir))

    # --------------------------------------------------------------- ops

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _persistent_rdds(self) -> dict:
        return dict(self.sc._jsc.getPersistentRDDs())

    def _unpersist_new(self) -> None:
        """bench.py's rule: free the blocks an op left cached, keeping
        the ones set-up made."""
        for rdd_id, jrdd in self._persistent_rdds().items():
            if rdd_id not in self.keep_rdds:
                jrdd.unpersist(False)

    def _order(self, rng: random.Random) -> list[str]:
        return rng.sample(self.panel, len(self.panel))

    def check(self) -> None:
        """Run every panel query once, outside any timed region, and
        compare its result with the DuckDB oracle at this scale factor
        through ``drive_common.compare_query`` (``toPandas()`` and
        ``frame_hash``; row count, columns and hash)."""
        import duckdb
        from drive_common import compare_query, duck_views

        con = duckdb.connect()
        try:
            duck_views(con, self.args.sf_dir)
            for name in self._order(random.Random(f"{self.args.seed}/check")):
                spec = self.registry[name]
                self.attempted += 1
                try:
                    t = time.perf_counter()
                    rec = compare_query(self.spark, con, spec.builder, spec.oracle, self.args.sf_dir)
                    self.setup.setdefault("setup.first_query_s", time.perf_counter() - t)
                except Exception as e:  # an op that raises is a failed op
                    self.failures.append(f"check {name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                finally:
                    self._unpersist_new()
                if not rec["pass"]:
                    bad = [k for k in ("rows_ok", "schema_ok", "hash_ok") if not rec.get(k, True)]
                    self.failures.append(f"check {name}: differs from the DuckDB oracle ({', '.join(bad)})")
        finally:
            con.close()

    def timed(self, tracer=None) -> dict:
        """Closed-loop passes over the panel until ``--seconds`` of
        measured time. Returns ``(query, latency)`` per completed op and
        the measured wall time; time spent reading trace records between
        ops is not measured."""
        from tracing import harvest, run_traced_op

        self.status.drain()
        phase = "traced" if tracer else "timed"
        self.listener.phase = phase
        rng = random.Random(f"{self.args.seed}/timed")
        latencies: list[tuple[str, float]] = []
        passes: list[float] = []
        paused = 0.0
        start = time.perf_counter()
        op_id = 0
        while True:
            pass_start = time.perf_counter() - paused
            for name in self._order(rng):
                spec = self.registry[name]
                self.attempted += 1
                try:
                    if tracer is None:
                        t = time.perf_counter()
                        self._noop(spec.builder(self.spark, self.args.sf_dir))
                        latencies.append((name, time.perf_counter() - t))
                    else:
                        latency = run_traced_op(tracer, self.spark, spec, self.args.sf_dir, op_id)
                        latencies.append((name, latency))
                except Exception as e:  # an op that raises is a failed op
                    self.failures.append(f"{phase} {name}: {type(e).__name__}: {str(e)[:200]}")
                finally:
                    self._unpersist_new()
                if tracer is not None:
                    t = time.perf_counter()
                    harvest(tracer, self.status, op_id)
                    paused += time.perf_counter() - t
                op_id += 1
            passes.append(time.perf_counter() - paused - pass_start)
            if time.perf_counter() - start - paused >= self.args.seconds:
                break
        wall = time.perf_counter() - start - paused
        self.status.drain()
        self.listener.phase = "done"
        return {"latencies": latencies, "wall": wall, "passes": passes}

    def stop(self) -> None:
        """Stop Spark, then end the JVM and wait for it: the gateway JVM
        exits when its stdin closes."""
        if not hasattr(self, "spark"):
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def query_latency(latencies) -> float:
    """Geometric mean over the panel's queries of each query's median
    op latency. A median pooled over all ops would fall in the gap
    between two queries' latencies whenever the panel has an even number
    of queries, and so follow the noisiest order statistics."""
    return math.exp(statistics.fmean(math.log(v) for v in medians(latencies).values()))


def medians(latencies) -> dict[str, float]:
    by_query: dict[str, list[float]] = {}
    for name, latency in latencies:
        by_query.setdefault(name, []).append(latency)
    return {name: statistics.median(v) for name, v in sorted(by_query.items())}


def end_to_end(bench: Bench, timed: dict) -> dict:
    lat = timed["latencies"]
    return {
        "latency_s": (query_latency(lat), "s"),
        "ops_per_s": (len(lat) / timed["wall"], "1/s"),
        "setup_s": (bench.setup_s, "s"),
        "live_mem_mb": (live_mem_mb(bench.spark), "MB"),
    }


GC_ROUNDS = 10


def live_mem_mb(spark) -> float:
    """Memory the driver holds after the timed passes: the JVM's heap in
    use once full collections stop freeing anything, plus its non-heap
    (metaspace, code cache), and the Python driver's peak RSS. Peak JVM
    RSS is reported per layer instead: it follows the collector's heap
    sizing and varied by 20-40% between runs."""
    import gc

    from tracing import vm_hwm_mb

    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Python first in each round: dropping py4j proxies releases the JVM
    # objects they pin. The context cleaner frees blocks, broadcasts and
    # shuffles asynchronously, in reaction to a collection, so it takes
    # a few rounds (up to four were seen, with a plateau on the way)
    # before the heap stops shrinking: stop at three equal readings.
    heaps: list[int] = []
    for _ in range(GC_ROUNDS):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.3)
        heaps.append(mx.getHeapMemoryUsage().getUsed())
        if len(heaps) >= 3 and max(heaps[-3:]) - min(heaps[-3:]) < 2**20:
            break
    return (heaps[-1] + mx.getNonHeapMemoryUsage().getUsed()) / 2**20 + vm_hwm_mb("self")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kamiyo_hive_spark" / "plans" / "registry.py").is_file():
        return fail(f"no kamiyo_hive_spark package under {ROOT}; run from a full checkout")
    if not (ROOT / "scripts" / "drive_common.py").is_file():
        return fail(f"no scripts/drive_common.py under {ROOT}")
    if not os.path.isfile(os.path.join(args.sf_dir, "lineitem.parquet")):
        return fail(f"no scale-factor tables in {args.sf_dir}")
    if args.seconds <= 0:
        return fail("--seconds must be positive")

    paths = state.prepare(ROOT)  # must precede the first pyspark import
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "scripts"))

    bench = Bench(args, paths)
    phases: dict[str, float] = {}
    try:
        bench.start()
        phases["setup"] = time.perf_counter() - T0
        bench.check()
        phases["check"] = time.perf_counter() - T0
        untraced = bench.timed()
        phases["timed"] = time.perf_counter() - T0
        if args.trace:
            from tracing import Tracer, install, layer_metrics

            tracer = Tracer()
            install(tracer, bench)
            traced = bench.timed(tracer)
            metrics = layer_metrics(bench, tracer, traced, untraced)
            phases["traced"] = time.perf_counter() - T0
        else:
            metrics = end_to_end(bench, untraced)
    finally:
        bench.stop()
    phases["stop"] = time.perf_counter() - T0

    print(
        f"perfbench {args.workload} seed={args.seed}: panel={len(bench.panel)} "
        f"timed ops={len(untraced['latencies'])} in {untraced['wall']:.2f}s "
        f"passes={[round(p, 2) for p in untraced['passes']]} "
        f"median latency by query={ {q: round(v, 3) for q, v in medians(untraced['latencies']).items()} } "
        f"setup={ {k: round(v, 2) for k, v in bench.setup.items()} } "
        f"phases ended at={ {k: round(v, 1) for k, v in phases.items()} }",
        file=sys.stderr,
    )
    for f in bench.failures:
        print(f"perfbench FAILED {f}", file=sys.stderr)
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
