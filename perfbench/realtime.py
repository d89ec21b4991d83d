"""``realtime_pipeline``: the ODS -> DWD/DIM real-time path with a fresh
warehouse read.

One client, closed loop. Each step:

1. POSTs a seeded batch of behavior-log events, one connection at a
   time, to ``sources.collector.LogCollector`` ``/applog`` and flushes;
2. appends one ``topic_db`` changelog file;
3. runs ``base_log_job`` (split and dirty queries), ``unique_visitor_job``,
   ``user_jump_job`` and ``start_dim_app`` together with ``availableNow``
   on persistent checkpoints until all finish;
4. runs ``Warehouse.register()`` and the ADS query and checks the answer.

The topologies are restarted every step because ``available_now=False``
does not start (see NOTES.md).
"""

from __future__ import annotations

import copy
import http.client
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from common import ProgressTotals, median, quantile
from gen import ADS_SQL, DIM_CONFIG, RealtimeInputs

EVENTS_PER_STEP = 1000
#: the untimed warm-up step is small: it pays the cold-start costs only
WARMUP_EVENTS = 200
WARMUP_STEPS = 1
#: timed steps whose inputs are made during set-up; more are made on demand
PREGENERATED_STEPS = 4


def _post_all(host: str, port: int, lines: list[bytes]) -> tuple[list[float], int]:
    lat, failed = [], 0
    for body in lines:
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection(host, port, timeout=30)
        try:
            conn.request("POST", "/applog", body=body, headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            resp.read()
            if resp.status != 200:
                failed += 1
        except OSError:
            failed += 1
        finally:
            conn.close()
        lat.append(time.perf_counter() - t0)
    return lat, failed


class RealtimeWorkload:
    def __init__(self, spark, root: str, seed: int, tracer):
        from flink_realtime_data_warehouse_spark.sources.collector import LogCollector
        from flink_realtime_data_warehouse_spark.warehouse import Warehouse

        self.spark, self.root, self.tracer = spark, root, tracer
        self.spool = os.path.join(root, "ods", "applog")
        self.cdc = os.path.join(root, "ods", "topic_db")
        self.cfg = os.path.join(root, "config", "table_process")
        self.ckpt = os.path.join(root, "checkpoints")
        os.makedirs(self.cdc)
        os.makedirs(self.cfg)
        self.inputs = RealtimeInputs(seed)
        self.wh = Warehouse(spark, os.path.join(root, "lake"))
        self.uv_path = os.path.join(self.wh.root, "uv")
        self.jump_path = os.path.join(self.wh.root, "user_jump")
        # roll only on flush(): one spool file per step
        self.collector = LogCollector(self.spool, roll_every=10**9)
        self.host, self.port = self.collector.start()
        self.next_step = 0
        self.step_inputs: list[tuple] = []
        self.answer_ok: dict[int, bool] = {}
        self.failures: list[str] = []
        self.reset_stats()

    def reset_stats(self) -> None:
        self.progress = ProgressTotals()
        self.post_lat: list[float] = []
        self.posts_failed = 0
        self.flush_ms: list[float] = []
        self.register_ms: list[float] = []
        self.ads_ms: list[float] = []
        self.events = 0

    # -- set-up ------------------------------------------------------------
    def generate(self) -> None:
        """The routing config, then pure-Python inputs and expected answers
        for the warm-up and the first timed steps."""
        names = ["source_table", "sink_table", "sink_columns", "sink_pk", "sink_extend"]
        schema = pa.schema([pa.field(n, pa.string(), nullable=(n != "source_table")) for n in names])
        table = pa.Table.from_pylist([dict(zip(names, row)) for row in DIM_CONFIG], schema=schema)
        pq.write_table(table, os.path.join(self.cfg, "part-0.parquet"))
        for _ in range(WARMUP_STEPS + PREGENERATED_STEPS):
            self._generate_one()

    def _generate_one(self) -> None:
        inp = self.inputs
        logs = inp.log_lines(WARMUP_EVENTS if inp.step < WARMUP_STEPS else EVENTS_PER_STEP)
        cdc = inp.changelog_lines()
        expect = {
            "ads": inp.expected_ads(),
            "counts": dict(inp.counts),
            "uv_rows": len(inp.uv_keys),
            "dims": copy.deepcopy(dict(inp.dims)),
        }
        self.step_inputs.append((logs, cdc, expect))
        inp.advance()

    def warm_up(self) -> None:
        for _ in range(WARMUP_STEPS):
            self.step()

    # -- one step ------------------------------------------------------------
    def step(self) -> tuple[int, float, int]:
        """Run the next step; returns (events, latency s, step index)."""
        from flink_realtime_data_warehouse_spark.sources.streams import read_jsonl_stream
        from flink_realtime_data_warehouse_spark.streaming.jobs import (
            base_log_job,
            parse_changelog_stream,
            unique_visitor_job,
            user_jump_job,
        )
        from flink_realtime_data_warehouse_spark.streaming.router import start_dim_app

        k = self.next_step
        self.next_step += 1
        while len(self.step_inputs) <= k:
            self._generate_one()
        logs, cdc, expect = self.step_inputs[k]
        tr, spark = self.tracer, self.spark
        t0 = time.perf_counter()
        with tr.span("collector.post"):
            lat, failed = _post_all(self.host, self.port, logs)
        self.post_lat.extend(lat)
        self.posts_failed += failed
        t = time.perf_counter()
        with tr.span("collector.flush"):
            self.collector.flush()
        self.flush_ms.append((time.perf_counter() - t) * 1000)
        tmp = os.path.join(self.cdc, f".step-{k:05d}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(cdc) + "\n")
        os.rename(tmp, os.path.join(self.cdc, f"step-{k:05d}.jsonl"))

        with tr.span("jobs.run", phase=True):
            starts = {}
            queries = {}
            starts["base_log"] = starts["dirty"] = time.perf_counter()
            queries["base_log"], queries["dirty"] = base_log_job(
                spark, read_jsonl_stream(spark, self.spool), self.wh.dwd_root, os.path.join(self.ckpt, "base_log")
            )
            starts["uv"] = time.perf_counter()
            queries["uv"] = unique_visitor_job(
                spark, read_jsonl_stream(spark, self.spool), self.uv_path, os.path.join(self.ckpt, "uv")
            )
            starts["user_jump"] = time.perf_counter()
            queries["user_jump"] = user_jump_job(
                spark, read_jsonl_stream(spark, self.spool), self.jump_path, os.path.join(self.ckpt, "user_jump")
            )
            starts["dim"] = time.perf_counter()
            queries["dim"] = start_dim_app(
                spark,
                parse_changelog_stream(read_jsonl_stream(spark, self.cdc)),
                self.cfg,
                self.wh.dim_store,
                os.path.join(self.ckpt, "dim"),
            )
            ends = await_all(queries)
            for name, q in queries.items():
                self.progress.add(name, q, ends[name] - starts[name])

        t = time.perf_counter()
        self.wh.register()
        t1 = time.perf_counter()
        with tr.span("warehouse.ads"):
            rows = self.wh.sql(ADS_SQL).collect()
        t_end = time.perf_counter()
        self.register_ms.append((t1 - t) * 1000)
        self.ads_ms.append((t_end - t1) * 1000)
        got = {(r["day"], r["page_id"], r["user_level"]): (r["pv"], r["uv"]) for r in rows}
        self.answer_ok[k] = got == expect["ads"] and failed == 0
        self.events += len(logs)
        return len(logs), t_end - t0, k

    def check(self, k: int) -> bool:
        """Step ``k``'s ADS answer matched and none of its POSTs failed."""
        if not self.answer_ok[k]:
            self.failures.append(f"step {k}: ADS answer differs or a POST failed")
        return self.answer_ok[k]

    # -- end-of-run checks ----------------------------------------------------
    def final_check(self) -> bool:
        """DWD and dirty-channel counts, UV rows and the last-writer DIM
        state after the last step, against the generator's expectations."""
        expect = self.step_inputs[self.next_step - 1][2]
        c = expect["counts"]
        want = {
            os.path.join(self.wh.dwd_root, f"dwd_traffic_{t}_log"): c.get(t, 0)
            for t in ("corrected", "page", "start", "display", "action", "err")
        }
        want[os.path.join(self.wh.dwd_root, "dirty_log")] = c.get("dirty", 0)
        want[self.uv_path] = expect["uv_rows"]
        ok = True
        for path, n in want.items():
            got = parquet_rows(path)
            if got != n:
                ok = False
                self.failures.append(f"{os.path.basename(path)}: {got} rows, expected {n}")
        for table, rows in expect["dims"].items():
            got = {r["id"]: r.asDict() for r in self.wh.dim_store.read(table).collect()}
            if got != rows:
                ok = False
                self.failures.append(f"{table}: DIM state differs from the last writer")
        return ok

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        m: dict[str, float] = {
            **self.progress.metrics(max(n_ops, 1)),
            "collector.post_p50_ms": quantile(self.post_lat, 0.5) * 1000,
            "collector.post_p99_ms": quantile(self.post_lat, 0.99) * 1000,
            "collector.posts_failed": self.posts_failed,
            "collector.flush_ms": median(self.flush_ms),
            "warehouse.register_ms": median(self.register_ms),
            "warehouse.ads_query_ms": median(self.ads_ms),
        }
        m["jobs.source_read_ratio"] = self.progress.input_rows.get("base_log", 0) / max(self.events, 1)
        return m


    def stop(self) -> None:
        self.collector.stop()


def parquet_rows(path: str) -> int:
    """Row count of a directory of parquet files, read from the footers."""
    n = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return n


def await_all(queries: dict) -> dict[str, float]:
    """Wait for every query on its own thread, so each end time is its own."""
    ends: dict[str, float] = {}
    errors: list[BaseException] = []

    def wait(name, q):
        try:
            q.awaitTermination()
        except BaseException as e:  # noqa: BLE001 - re-raised on the main thread
            errors.append(e)
        ends[name] = time.perf_counter()

    threads = [threading.Thread(target=wait, args=item) for item in queries.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return ends
