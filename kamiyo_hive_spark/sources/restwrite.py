"""DataSourceV2 REST writer with the two-phase commit/abort protocol.

The write half of the S3/S4 connector story (sources/restds.py is the
read half): the reference publishes results back through its API
(kamiyo-hive `lib/hive-api.ts:217-260` mutation path); Spark's
equivalent contract is the DSv2 writer protocol — every task STAGES
its rows and returns a commit message, the driver COMMITS all stages
atomically only after every task succeeded, and ABORTS (discarding
stages) if any task failed. That protocol is exactly what makes a
distributed write exactly-once under task retries and job failure, so
this module implements it against a real in-process HTTP ingest
service and the tests prove the guarantees over the wire:

- happy path: every input row published exactly once, one atomic
  commit;
- injected task failure AFTER that task staged: job fails, the driver
  aborts, zero rows become visible — no torn writes;
- overwrite mode truncates at COMMIT time, not at write time, so a
  failed overwrite leaves the previous generation intact.

Scale posture: tasks stage independently (no coordination until the
driver's single commit RPC), stage payloads are per-partition, and the
server's commit is O(#stages) pointer moves — the same shape as a
cloud-warehouse staged multipart load. Classes are defined nested so
cloudpickle ships them BY VALUE to executor workers (see
restds._build_orders_rest_datasource for the failure this avoids).
"""

from __future__ import annotations

import json
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.functions.money import money_sum_col
from kamiyo_hive_spark.plans.registry import register


class IngestApiServer:
    """The remote ingest service: staged uploads, atomic publish.

    Endpoints:
      POST /stage   {"rows": [[...], ...]}        -> {"stage_id": ...}
      POST /commit  {"stages": [...], "overwrite": bool} -> {"ok": true}
                    (atomic under the server lock: all stages move to
                    published or none; unknown stage id -> 409, nothing
                    published)
      POST /abort   {"stages": [...]}             -> {"ok": true}
      GET  /published                             -> {"rows": [...],
                                                      "commits": N}

    Observables for the tests: `staged` (live staging area),
    `published`, `commits`, `aborts`, `stage_calls`.
    """

    def __init__(self, host: str = "127.0.0.1"):
        self.host = host
        self.port: int | None = None
        self.staged: dict[str, list] = {}
        self.published: list = []
        self.commits = 0
        self.aborts = 0
        self.stage_calls = 0
        self.batch_ids: set[int] = set()
        self.replayed_batches = 0
        self._lock = threading.Lock()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "IngestApiServer":
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path == "/published":
                    with server._lock:
                        self._reply(
                            200,
                            {"rows": server.published, "commits": server.commits},
                        )
                else:
                    self._reply(404, {})

            def do_POST(self):
                n = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(n)) if n else {}
                if self.path == "/stage":
                    sid = uuid.uuid4().hex
                    with server._lock:
                        server.stage_calls += 1
                        server.staged[sid] = req["rows"]
                    self._reply(200, {"stage_id": sid})
                elif self.path == "/commit":
                    with server._lock:
                        ids = req["stages"]
                        if any(s not in server.staged for s in ids):
                            self._reply(409, {"error": "unknown stage"})
                            return
                        if req.get("overwrite"):
                            server.published = []
                        for s in ids:
                            server.published.extend(server.staged.pop(s))
                        server.commits += 1
                    self._reply(200, {"ok": True})
                elif self.path == "/abort":
                    with server._lock:
                        for s in req["stages"]:
                            server.staged.pop(s, None)
                        server.aborts += 1
                    self._reply(200, {"ok": True})
                elif self.path == "/commit_batch":
                    # streaming epoch commit: IDEMPOTENT on batch_id —
                    # a replayed micro-batch (restart re-runs the last
                    # uncommitted epoch) discards its re-staged rows
                    # instead of double-publishing: exactly-once
                    with server._lock:
                        ids = req["stages"]
                        bid = int(req["batch_id"])
                        if any(s not in server.staged for s in ids):
                            self._reply(409, {"error": "unknown stage"})
                            return
                        if bid in server.batch_ids:
                            for s in ids:
                                server.staged.pop(s)
                            server.replayed_batches += 1
                        else:
                            server.batch_ids.add(bid)
                            for s in ids:
                                server.published.extend(server.staged.pop(s))
                            server.commits += 1
                    self._reply(200, {"ok": True})
                else:
                    self._reply(404, {})

        self._httpd = ThreadingHTTPServer((self.host, 0), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    @property
    def base_url(self) -> str:
        return f"http://{self.host}:{self.port}"

    def __exit__(self, *exc) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=2)


def _build_ingest_rest_datasource():
    """Nested definitions -> cloudpickle by-value shipping (the
    DataSource class and the per-task writer are pickled to executor
    workers, where `kamiyo_hive_spark` may not be importable)."""

    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    @dataclass
    class StageCommit(WriterCommitMessage):
        stage_id: str
        n_rows: int

    class _IngestRestWriter(DataSourceWriter):
        def __init__(self, options: dict, overwrite: bool):
            self.base_url = options["base_url"]
            self.overwrite = overwrite
            # fault injection for the abort-path test: this partition
            # raises AFTER staging (the torn-write window 2PC closes)
            self.fail_partition = int(options.get("fail_partition", "-1"))

        def _post(self, path: str, obj) -> dict:
            import json as _json
            import urllib.request as _rq

            req = _rq.Request(
                self.base_url + path,
                data=_json.dumps(obj).encode(),
                headers={"Content-Type": "application/json"},
            )
            with _rq.urlopen(req, timeout=60) as resp:
                return _json.loads(resp.read())

        # -- executor side ------------------------------------------
        def write(self, iterator):
            from pyspark import TaskContext

            rows = [list(r) for r in iterator]
            sid = self._post("/stage", {"rows": rows})["stage_id"]
            pid = TaskContext.get().partitionId()
            if pid == self.fail_partition:
                raise RuntimeError(
                    f"injected failure in partition {pid} after staging"
                )
            return StageCommit(stage_id=sid, n_rows=len(rows))

        # -- driver side --------------------------------------------
        def commit(self, messages):
            self._post(
                "/commit",
                {
                    "stages": [m.stage_id for m in messages],
                    "overwrite": self.overwrite,
                },
            )

        def abort(self, messages):
            self._post(
                "/abort",
                {"stages": [m.stage_id for m in messages if m is not None]},
            )

    from pyspark.sql.datasource import DataSourceStreamWriter

    class _IngestRestStreamWriter(DataSourceStreamWriter):
        """Per-micro-batch 2PC: tasks stage, the driver commits the
        epoch with its batchId — the service publishes idempotently on
        batch_id, so a replayed epoch (restart re-runs the last
        uncommitted micro-batch) can never double-publish. The same
        exactly-once contract as the txlog streaming sink
        (sources/txlog.py TxLogBatchSink), expressed through the DSv2
        streaming writer protocol instead of foreachBatch."""

        def __init__(self, options: dict):
            self.base_url = options["base_url"]

        _post = _IngestRestWriter._post

        def write(self, iterator):
            rows = [list(r) for r in iterator]
            sid = self._post("/stage", {"rows": rows})["stage_id"]
            return StageCommit(stage_id=sid, n_rows=len(rows))

        def commit(self, messages, batchId):  # noqa: N803 (Spark API name)
            self._post(
                "/commit_batch",
                {
                    "stages": [m.stage_id for m in messages],
                    "batch_id": int(batchId),
                },
            )

        def abort(self, messages, batchId):  # noqa: N803
            self._post(
                "/abort",
                {"stages": [m.stage_id for m in messages if m is not None]},
            )

    class IngestRestDataSource(DataSource):
        """`df.write.format("rest_ingest").option("base_url", ...)` —
        rows travel as JSON arrays (doubles in shortest repr: exact).
        Also usable as a streaming sink: `df.writeStream.format(
        "rest_ingest")` stages per task and commits per epoch."""

        @classmethod
        def name(cls) -> str:
            return "rest_ingest"

        def writer(self, schema, overwrite: bool) -> _IngestRestWriter:
            return _IngestRestWriter(self.options, overwrite)

        def streamWriter(self, schema, overwrite: bool):  # noqa: N802
            return _IngestRestStreamWriter(self.options)

    return IngestRestDataSource


IngestRestDataSource = _build_ingest_rest_datasource()


PRIORITY_STATUS = "O"


@register(
    "rest_writeback_roundtrip",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderstatus = '{PRIORITY_STATUS}'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("S3", "S4", "dsv2", "rest", "writer", "two-phase-commit"),
    # bench=False: wire/stub-bound (see rest_pushdown_scan)
    bench=False,
)
def rest_writeback_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 write half end-to-end: an aggregate is PUBLISHED through
    the DSv2 writer's stage→commit protocol to the remote ingest API
    (each task stages its partition, the driver commits atomically),
    then read back from the service's published state and checked
    against an oracle that recomputes from the raw table — a dropped
    stage, a double commit, or a lossy wire type is a hash mismatch.
    The read-back is a driver fetch because the published result is
    aggregate-sized; the WRITE path is the distributed surface."""
    from kamiyo_hive_spark.catalog import table

    agg = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == PRIORITY_STATUS)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum_col("o_totalprice").alias("total_price"),
        )
    )
    with IngestApiServer() as srv:
        spark.dataSource.register(IngestRestDataSource)
        (
            agg.write.format("rest_ingest")
            .option("base_url", srv.base_url)
            .mode("append")
            .save()
        )
        import urllib.request

        with urllib.request.urlopen(srv.base_url + "/published", timeout=30) as r:
            published = json.loads(r.read())["rows"]
    return spark.createDataFrame(
        [(p, int(n), float(t)) for p, n, t in published],
        "o_orderpriority string, n_orders bigint, total_price double",
    ).orderBy("o_orderpriority")


@register(
    "streaming_rest_sink_exactly_once",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S3", "ST5", "dsv2", "streaming", "sink", "exactly-once"),
    # bench=False: wire/stub-bound (see rest_pushdown_scan)
    bench=False,
)
def streaming_rest_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSv2 STREAMING sink end-to-end: the events stream (4 real
    micro-batches) is published to the remote ingest API through the
    per-epoch stage→commit protocol — each epoch commits under its
    batchId, which the service publishes idempotently, so restarts
    can't double-write (tests/test_restwrite.py replays an epoch and
    pins zero duplicate rows). The oracle recomputes the aggregate
    from the raw table: a dropped epoch, a double-published batch, or
    a lossy wire type is a hash mismatch."""
    from kamiyo_hive_spark.streaming.jobs import _events_stream, drain, streaming_run

    stream = _events_stream(spark, sf_dir).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    import tempfile

    with IngestApiServer() as srv:
        spark.dataSource.register(IngestRestDataSource)
        with streaming_run(stream, "append") as writer:
            drain(
                writer.format("rest_ingest")
                .option("base_url", srv.base_url)
                .option(
                    "checkpointLocation",
                    tempfile.mkdtemp(prefix="rest_sink_ckpt_"),
                )
                .start()
            )
        import urllib.request

        with urllib.request.urlopen(srv.base_url + "/published", timeout=30) as r:
            published = json.loads(r.read())["rows"]
    rows = spark.createDataFrame(
        [(int(e), int(t), int(u), et, float(v)) for e, t, u, et, v in published],
        "event_id bigint, ts_us bigint, user_id bigint, event_type string, value double",
    )
    return (
        rows.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            money_sum_col("value").alias("total_value"),
        )
        .orderBy("event_type")
    )
