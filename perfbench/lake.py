"""``lake_ingest``: the exactly-once history-dedup ingest.

One client, closed loop. Each step publishes one seeded document drop
(atomic rename into the source directory) and runs
``start_history_dedup_ingest(near_dup_gate=True, bloom_prefilter=True,
compact_every=COMPACT_EVERY)`` on one persistent checkpoint until it
finishes. History grows with every step; every COMPACT_EVERY-th batch
also folds the stores.
"""

from __future__ import annotations

import os
import time

from common import ProgressTotals, median, tree_size
from gen import DocumentDrops

DOCS_PER_DROP = 2000
#: the untimed warm-up drop is larger than a timed one, so the timed
#: batch already reads a history several batches deep
WARMUP_DOCS = 5000
COMPACT_EVERY = 2
WARMUP_STEPS = 1
#: timed steps whose drops are made during set-up; more are made on demand
PREGENERATED_STEPS = 4


class LakeWorkload:
    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.root, self.tracer = spark, root, tracer
        self.src = os.path.join(root, "drops")
        self.out = os.path.join(root, "lake")
        self.ckpt = os.path.join(root, "checkpoints", "hist_ingest")
        os.makedirs(self.src)
        self.drops = DocumentDrops(seed)
        self.step_inputs: list[tuple[list[str], dict]] = []
        self.next_step = 0
        self.failures: list[str] = []
        self.reset_stats()

    def reset_stats(self) -> None:
        self.progress = ProgressTotals()
        self.step_ms = {"plain": [], "compacting": []}
        self.dropped = 0
        self.clean = self.dups = self.near = 0

    def generate(self) -> None:
        for k in range(WARMUP_STEPS + PREGENERATED_STEPS):
            self._generate_one(k)

    def _generate_one(self, k: int) -> None:
        self.step_inputs.append(self.drops.drop(WARMUP_DOCS if k < WARMUP_STEPS else DOCS_PER_DROP))

    def warm_up(self) -> None:
        for _ in range(WARMUP_STEPS):
            self.step()

    def step(self) -> tuple[int, float, int]:
        """Run the next step; returns (documents, latency s, step index)."""
        from flink_realtime_data_warehouse_spark.streaming.jobs import start_history_dedup_ingest

        k = self.next_step
        self.next_step += 1
        while len(self.step_inputs) <= k:
            self._generate_one(len(self.step_inputs))
        lines, meta = self.step_inputs[k]
        spark, tr = self.spark, self.tracer
        t0 = time.perf_counter()
        tmp = os.path.join(self.src, f".drop-{k:05d}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.src, f"drop-{k:05d}.jsonl"))
        with tr.span("jobs.run", phase=True):
            q = start_history_dedup_ingest(
                spark,
                spark.readStream.schema("doc_id bigint, text string").json(self.src),
                self.out,
                self.ckpt,
                near_dup_gate=True,
                bloom_prefilter=True,
                compact_every=COMPACT_EVERY,
            )
            q.awaitTermination()
        t_end = time.perf_counter()
        self.progress.add("hist_ingest", q, t_end - t0)
        kind = "compacting" if (k + 1) % COMPACT_EVERY == 0 else "plain"
        self.step_ms[kind].append((t_end - t0) * 1000)
        self.dropped += meta["docs"]
        return meta["docs"], t_end - t0, k

    def check(self, k: int) -> bool:
        """clean + dups equals step ``k``'s drop, and every planted
        re-crawl is a dup. Runs after the timed phase."""
        from pyspark.sql import functions as F

        spark = self.spark
        meta = self.step_inputs[k][1]
        lo, hi = meta["ids"]

        def in_drop(path):
            return spark.read.parquet(path).filter(F.col("doc_id").between(lo, hi))

        clean = in_drop(os.path.join(self.out, "clean")).count()
        dup_rows = [r[0] for r in in_drop(os.path.join(self.out, "dups")).select("doc_id").collect()]
        dup_ids = set(dup_rows)
        self.near += in_drop(os.path.join(self.out, "near_dups")).count()
        self.clean += clean
        self.dups += len(dup_rows)
        # a document written to dups twice breaks exactly-once
        ok = (
            len(dup_rows) == len(dup_ids)
            and clean + len(dup_rows) == meta["docs"]
            and set(meta["recrawl_ids"]) <= dup_ids
        )
        if not ok:
            self.failures.append(
                f"step {k}: clean {clean} + dups {len(dup_rows)} ({len(dup_ids)} distinct) "
                f"vs {meta['docs']} dropped, {len(set(meta['recrawl_ids']) - dup_ids)} re-crawls missed"
            )
        return ok

    def final_check(self) -> bool:
        return True  # every step is checked on its own

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        n = max(n_ops, 1)
        return {
            **self.progress.metrics(n),
            "dedup.clean_rows": self.clean / n,
            "dedup.dup_rows": self.dups / n,
            "dedup.near_dup_rows": self.near / n,
            "dedup.bloom_bytes": tree_size(os.path.join(self.out, "bloom"))[1],
            "dedup.step_ms_compacting": median(self.step_ms["compacting"]),
            "dedup.step_ms_plain": median(self.step_ms["plain"]),
            "jobs.source_read_ratio": self.progress.input_rows.get("hist_ingest", 0) / max(self.dropped, 1),
        }


    def stop(self) -> None:
        pass
