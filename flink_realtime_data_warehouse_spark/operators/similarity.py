"""Similarity search over an embedding column (array<float>).

Three paths:
- ``ann_cosine_topk`` — brute-force exact top-k: broadcast the query
  block against the corpus, per-partition partial top-k via window.
  Exact baseline; cost |Q| × |corpus|.
- ``ann_lsh_topk`` — random-hyperplane LSH bucketing: 100 TB scale
  path. Hyperplane weights are derived deterministically from md5, so
  results are reproducible run-to-run (no RNG state); buckets shrink
  the candidate set before exact re-scoring.
- ``ann_ivf_topk`` — IVF with a deterministic distributed k-means
  coarse quantizer; the data-adaptive sibling of LSH.

Driver-hashable correctness (round 3): the approximate paths register
``ann_lsh_topk_checked`` / ``ann_ivf_topk_checked`` — queries that
compute recall against the in-plan brute-force baseline and emit a
deterministic boolean verdict per query vector, with a trivial DuckDB
oracle. The approximation stays; hash-checkability arrives.

Index layout (round 3): one composite partition column
``pcode = tbl * 2^LSH_ROWS + bucket`` instead of (tbl, bucket) — the
probe's partition filter is a single ``pcode IN (...)`` over ≤ nq·L
values (round 2's ~100-clause OR over two columns plus a fresh
directory listing per probe made the probe slower than brute force at
sf0.1; flagged in VERDICT.md r2). The listed/pruned FileIndex is
reused across probes in a session via ``_INDEX_DF_CACHE``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_realtime_data_warehouse_spark.fanout import fanout
from flink_realtime_data_warehouse_spark.plans.registry import query
from flink_realtime_data_warehouse_spark.sources.tables import load_table

TOPK = 5
N_QUERIES = 10  #: queries() demo uses vec_id < N_QUERIES as the query block
LSH_TABLES = 10  #: independent hash tables (recall amplification)
LSH_ROWS = 5  #: hyperplanes per table (precision per bucket)
EMBED_DIM = 64
#: the DuckDB predicate equivalent of ``_load_emb``'s dirty-row guard —
#: every oracle over vector math must filter its embeddings CTE with
#: this so both engines exclude the same rows (round-5 hardening; the
#: dirty-embeddings parity tier pins the agreement). The clauses must
#: track Spark's ``aggregate(v,0,acc+x*x)`` NULL/NaN semantics exactly:
#: DuckDB's list_sum IGNORES NULL elements where Spark's fold
#: propagates them (hence the explicit no-NULL-element clause), and
#: NaN > 0 is TRUE in both engines (hence isfinite, mirroring Spark's
#: `sumsq < inf`, under which NaN compares false).
EMB_CLEAN_SQL = (
    f"embedding IS NOT NULL AND len(embedding) = {EMBED_DIM} "
    "AND len(list_filter(embedding, x -> x IS NULL)) = 0 "
    "AND isfinite(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) "
    "AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0"
)
#: minimum mean recall over the query block the checked queries demand;
#: LSH/IVF are deterministic (md5 hyperplanes / lowest-id k-means
#: seeds), so the verdict is a stable function of the data — thresholds
#: carry margin under the measured floor (LSH 0.50/0.50/0.62 at
#: sf0.001/0.01/0.1; IVF on the r8 two-level index 0.86/0.90/0.84,
#: vs 0.88/0.92/1.00 for the r7 flat quantizer; pinned in
#: tests/test_similarity_dedup.py)
LSH_MIN_MEAN_RECALL = 0.4
IVF_MIN_MEAN_RECALL = 0.7


_ANN_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {EMB_CLEAN_SQL}),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
              * sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cs
  FROM q JOIN e ON e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, round(cs, 3) AS cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY round(cs, 3) DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
WHERE rank <= {TOPK} ORDER BY query_id, rank
"""


_SCORED_SCHEMA = "query_id bigint, neighbor_id bigint, cos_sim double"


def _warehouse_root(spark: SparkSession) -> str:
    """Local filesystem path of spark.sql.warehouse.dir (ADVICE r2: no
    hardcoded /root/repo path — derive from the session's conf)."""
    uri = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(uri)
    return parsed.path if parsed.scheme in ("file", "") else uri


#: the demo query block (vec_id < N_QUERIES → 10 × 64 floats) per
#: (applicationId, sf_dir). Materializing it costs a full decode of the
#: embedding column (~0.4 s at sf0.1) and dominated EVERY ANN call's
#: steady state — brute and probes alike. O(1) memory in corpus size.
_QUERY_BLOCK_CACHE: dict[tuple[str, str], object] = {}


def _query_block(spark: SparkSession, emb: DataFrame, sf_dir: str):
    # the mtime stamp is the same invalidation the on-disk index stores
    # use (_auto_index_path): a same-path rewrite of embeddings.parquet
    # mid-session must re-collect the block, not serve the OLD query
    # vectors against the NEW corpus (round-5 review — the shingle
    # cache had the same bug class)
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    stamp = os.path.getmtime(src) if os.path.exists(src) else 0
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), stamp)
    pdf = _QUERY_BLOCK_CACHE.get(key)
    if pdf is None:
        while len(_QUERY_BLOCK_CACHE) >= 16:  # stale stamps evict FIFO
            _QUERY_BLOCK_CACHE.pop(next(iter(_QUERY_BLOCK_CACHE)))
        pdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
        _QUERY_BLOCK_CACHE[key] = pdf
    return pdf


def _score_against_queries(spark: SparkSession, emb: DataFrame, queries_pdf) -> DataFrame:
    """Stream the corpus through a NumPy block kernel scoring every row
    against the broadcast query block; emits (query_id, neighbor_id, cos)."""
    import numpy as np

    q_ids = queries_pdf["vec_id"].to_numpy()
    q_mat = np.stack(queries_pdf["v"].to_numpy())
    q_n = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_n))

    def _score(batches):
        import pandas as pd

        ids_q, qn = bc.value
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            block = np.stack(pdf["v"].to_numpy())
            block_n = block / np.linalg.norm(block, axis=1, keepdims=True)
            sims = np.round(block_n @ qn.T, 3)  # (batch, n_queries)
            rows_i, cols_j = np.nonzero(ids[:, None] != ids_q[None, :])
            yield pd.DataFrame(
                {
                    "query_id": ids_q[cols_j],
                    "neighbor_id": ids[rows_i],
                    "cos_sim": sims[rows_i, cols_j],
                }
            )

    return emb.mapInPandas(_score, schema=_SCORED_SCHEMA)


@query("ann_cosine_topk", oracle=_ANN_TOPK_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for a block of query vectors.

    The query block is broadcast as a normalized NumPy matrix; the
    corpus streams through an Arrow-batched matmul (payload vectors
    never shuffle — only (query, neighbor, score) triples do). Ranking
    is a window over query_id with rounded-score + neighbor_id
    tie-breaks, so results are fully deterministic.
    """
    emb = _load_emb(spark, sf_dir)
    queries_pdf = _query_block(spark, emb, sf_dir)
    if not len(queries_pdf):
        # empty corpus → empty query block → zero neighbors, not a
        # NumPy stack error (empty-table sweep, r3)
        return spark.createDataFrame([], _SCORED_SCHEMA + ", rank int")
    scored = _score_against_queries(spark, emb, queries_pdf)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .orderBy("query_id", "rank")
    )


def _hyperplanes(n_planes: int, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(plane:dim) — no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:8], 16) & 1 else -1.0)
        planes.append(row)
    return planes


def _make_bucket_matrix(n_tables: int, n_rows: int):
    """Build the bucket-id kernel as a standalone closure.

    Returned function is self-contained (no references to this module),
    so cloudpickle ships it BY VALUE to executors — the worker Python
    processes of a driver-created session cannot import this package.
    """

    def bucket_matrix(mat, planes):
        import numpy as np

        proj = mat @ planes.T > 0  # (n, L*ROWS) booleans
        weights = np.array([1 << i for i in range(n_rows)])
        return np.stack(
            [proj[:, t * n_rows : (t + 1) * n_rows] @ weights for t in range(n_tables)],
            axis=1,
        )

    return bucket_matrix


_bucket_matrix = _make_bucket_matrix(LSH_TABLES, LSH_ROWS)

#: listed-once index DataFrames, keyed by (applicationId, path).
#: Re-reading parquet re-lists every partition directory — at 320
#: partitions that listing dominated the round-2 probe. Reusing the
#: DataFrame reuses its FileIndex; ``append_ann_lsh_vectors`` /
#: ``append_ann_ivf_vectors`` invalidate the entry they touch.
_INDEX_DF_CACHE: dict[tuple[str, str], DataFrame] = {}


def _index_df(
    spark: SparkSession, path: str, via_format: bool = False
) -> DataFrame:
    key = (spark.sparkContext.applicationId, path)
    df = _INDEX_DF_CACHE.get(key)
    if df is None:
        if via_format:
            # streaming cells store: seam-managed (manifest-aware)
            from flink_realtime_data_warehouse_spark.streaming.table_format import (
                FORMAT,
            )

            df = FORMAT.read(spark, path)
        else:
            # batch-built write-once index tree: plain parquet
            df = spark.read.parquet(path)
        _INDEX_DF_CACHE[key] = df
    return df


def _invalidate_index_df(spark: SparkSession, path: str) -> None:
    _INDEX_DF_CACHE.pop((spark.sparkContext.applicationId, path), None)


def _lsh_bucketizer(planes, n_tables: int, n_rows: int):
    """mapInPandas kernel: (vec_id, v) batches → (pcode, vec_id, v) rows,
    one per hash table. Self-contained for cloudpickle by-value."""
    bucket_matrix = _make_bucket_matrix(n_tables, n_rows)
    width = 1 << n_rows

    def _bucketize(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            block = np.stack(pdf["v"].to_numpy())
            bb = bucket_matrix(block, planes)  # (n, L)
            n, n_tab = bb.shape
            pcode = (np.tile(np.arange(n_tab), n) * width + bb.reshape(-1)).astype(
                "int32"
            )
            # store float32: the source embeddings are float32, so the
            # round-trip is lossless, and the probe scans/transfers half
            # the bytes (the vector payload is duplicated L× — payload
            # width is the probe's dominant cost)
            v32 = pdf["v"].map(lambda a: np.asarray(a, dtype=np.float32)).to_numpy()
            yield pd.DataFrame(
                {
                    "pcode": pcode,
                    "vec_id": np.repeat(ids, n_tab),
                    "v": np.repeat(v32, n_tab),
                }
            )

    return _bucketize


def build_ann_lsh_index(spark: SparkSession, emb: DataFrame, location: str) -> None:
    """Materialize the multi-table LSH index: one corpus pass computes
    each vector's L bucket ids, then the exploded rows are written
    partitioned by the composite ``pcode = tbl * 2^LSH_ROWS + bucket``.

    Written once, probed many times — each probe prunes to the ≤ nq·L
    pcode partitions its query buckets name with ONE ``isin`` filter
    (round 2 partitioned by (tbl, bucket) and pruned with a ~100-clause
    OR; the probe was slower than brute force at sf0.1). Storage is L×
    the vector payload — the standard multi-table LSH trade (vectors
    are tiny relative to the documents they index).
    """
    import numpy as np

    planes = np.array(_hyperplanes(LSH_TABLES * LSH_ROWS))
    index = emb.mapInPandas(
        _lsh_bucketizer(planes, LSH_TABLES, LSH_ROWS),
        schema="pcode int, vec_id bigint, v array<float>",
    )
    # co-locate each bucket before writing: one file per pcode
    # partition instead of |tasks| × |buckets| small files
    (
        fanout(index, "pcode")
        .write.mode("overwrite")
        .partitionBy("pcode")
        .parquet(location)
    )
    _invalidate_index_df(spark, location)


def append_ann_lsh_vectors(spark: SparkSession, new_emb: DataFrame, location: str) -> None:
    """Incrementally add a (micro-)batch of vectors to an existing LSH
    index: bucketize only the new rows and APPEND their files into the
    pcode partition directories they land in. Existing files are never
    rewritten (VERDICT r2 item 6 — no full rebuild per append); the
    cached FileIndex for this location is invalidated so the next probe
    re-lists and sees the new files.
    """
    import numpy as np

    planes = np.array(_hyperplanes(LSH_TABLES * LSH_ROWS))
    delta = new_emb.mapInPandas(
        _lsh_bucketizer(planes, LSH_TABLES, LSH_ROWS),
        schema="pcode int, vec_id bigint, v array<float>",
    )
    (
        fanout(delta, "pcode")
        .write.mode("append")
        .partitionBy("pcode")
        .parquet(location)
    )
    _invalidate_index_df(spark, location)


def _gc_stale_indexes(root: str, prefix: str, keep: str) -> None:
    """Delete sibling ``{prefix}*`` index dirs except ``keep`` — stale
    mtime-stamped builds otherwise accumulate forever (5 were littering
    spark-warehouse/ by round 2)."""
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.startswith(prefix) and path != keep and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)


def _probe_partitioned_index(
    spark: SparkSession,
    pruned: DataFrame,
    part_col: str,
    part_to_q: dict[int, list[int]],
    q_ids,
    q_n,
    topk: int,
) -> DataFrame:
    """Shared probe tail for the LSH and IVF indexes, built for minimum
    stage count (the round-2 probe lost to brute force on FIXED
    overhead — broadcast-join stage + payload dedup shuffle + window
    shuffle — not on bytes; candidates are a few thousand rows).

    Candidate↔query pairing happens INSIDE the scoring kernel via a
    broadcast {partition value → probing query indexes} map (no join
    stage, no probe DataFrame): one matmul per Arrow batch against the
    whole query block, masked to the (row, query) pairs whose partition
    the query actually probed, cut to a LOCAL deduped top-k per query
    (map-side combine: ≤ |tasks|·nq·k triples ever leave the scan). The
    global merge happens on the driver over that bounded triple set —
    the takeOrdered pattern — replacing a shuffle + second Python stage
    that cost more than the scan itself. Scoring uses the same rounded
    NumPy matmul and (cos desc, neighbor asc) tie-break as the
    brute-force path, so reported similarities are bit-identical true
    cosines."""
    import numpy as np

    bc = spark.sparkContext.broadcast((q_ids, q_n, part_to_q))

    def _score_local_topk(batches):
        import numpy as _np
        import pandas as _pd

        ids_q, qn, p2q = bc.value
        nq = len(ids_q)
        mask_by_p = {}
        for p, qidx in p2q.items():
            m = _np.zeros(nq, dtype=bool)
            m[qidx] = True
            mask_by_p[p] = m
        no_queries = _np.zeros(nq, dtype=bool)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            # float64 matmul over the float32-stored payload: float→double
            # is exact, so sims are bit-identical to the brute-force path
            block = _np.stack(pdf["v"].to_numpy()).astype(_np.float64)
            block_n = block / _np.linalg.norm(block, axis=1, keepdims=True)
            sims = _np.round(block_n @ qn.T, 3)  # (n, nq)
            pvals = pdf[part_col].to_numpy()
            uniq, inv = _np.unique(pvals, return_inverse=True)
            mu = _np.stack([mask_by_p.get(int(p), no_queries) for p in uniq])
            valid = mu[inv] & (ids[:, None] != ids_q[None, :])  # (n, nq)
            out = []
            for j in range(nq):
                rows = _np.nonzero(valid[:, j])[0]
                if not len(rows):
                    continue
                # a vector can sit in several probed buckets of one
                # batch — dedup BEFORE the local top-k or duplicates
                # could crowd a distinct true neighbor out of the k slots
                cand_ids, first = _np.unique(ids[rows], return_index=True)
                cand_sims = sims[rows[first], j]
                keep = _np.lexsort((cand_ids, -cand_sims))[:topk]
                out.append(
                    _pd.DataFrame(
                        {
                            "query_id": int(ids_q[j]),
                            "neighbor_id": cand_ids[keep],
                            "cos_sim": cand_sims[keep],
                        }
                    )
                )
            if out:
                yield _pd.concat(out, ignore_index=True)

    scored = pruned.mapInPandas(_score_local_topk, schema=_SCORED_SCHEMA)
    # executor-side global merge (VERDICT r3 #5): each scan task emits
    # ≤ nq·topk triples, but the union of those grows with task/Arrow-
    # batch count at corpus scale, so merging on the driver would not
    # stay bounded. One shuffle on query_id (tiny — the triples, not
    # the corpus) + a JVM row_number window caps the result at exactly
    # ≤ nq × topk rows and keeps it distributed: no collect at all on
    # this path. Same (cos desc, neighbor asc) tie-break as the
    # brute-force kernel, so results stay bit-identical.
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ann_lsh_probe(
    spark: SparkSession, index_path: str, queries_pdf, topk: int = TOPK
) -> DataFrame:
    """Probe a materialized LSH index with a block of query vectors.

    The query block's buckets become (a) a single ``pcode IN (...)``
    partition filter — only the named partition directories are scanned
    — and (b) a broadcast {pcode → query indexes} map the scoring
    kernel pairs candidates with (no join stage). The index DataFrame
    (and its directory listing) is reused across probes within a
    session. Candidates are exact-re-scored (true cosines).
    """
    import numpy as np

    planes = np.array(_hyperplanes(LSH_TABLES * LSH_ROWS))
    q_ids = queries_pdf["vec_id"].to_numpy()
    q_mat = np.stack(queries_pdf["v"].to_numpy())
    q_n = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_buckets = _bucket_matrix(q_mat, planes)  # (nq, L)

    width = 1 << LSH_ROWS
    part_to_q: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for t in range(LSH_TABLES):
            part_to_q.setdefault(t * width + int(q_buckets[qi, t]), []).append(qi)
    pruned = _index_df(spark, index_path).filter(
        F.col("pcode").isin(sorted(part_to_q))
    )
    return _probe_partitioned_index(
        spark, pruned, "pcode", part_to_q, q_ids, q_n, topk
    )


IVF_NLIST = 16  #: coarse-quantizer cells
IVF_NPROBE = 4  #: cells scanned per query
IVF_LLOYD_ITERS = 2
#: floor on the two-level index's level-1 fanout: k₁ = max(⌈√k⌉, this)
#: capped at k. Keeps the parent cut fine enough for recall at small k
#: while leaving the driver-matrix bound O(√k) asymptotically (the
#: constant is absorbed once k > IVF_K1_MIN²).
IVF_K1_MIN = 8


def _assign_to_centroids(spark: SparkSession, centroids):
    """mapInPandas kernel: argmax-cosine cell per vector against a
    broadcast centroid matrix."""

    bc = spark.sparkContext.broadcast(centroids)

    def _assign(batches):
        import numpy as np
        import pandas as pd

        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            block = np.stack(pdf["v"].to_numpy())
            norms = np.linalg.norm(block, axis=1, keepdims=True)
            bn = block / np.where(norms > 0, norms, 1.0)
            cell = (bn @ c.T).argmax(axis=1)
            yield pd.DataFrame(
                {"cell": cell, "vec_id": pdf["vec_id"], "v": pdf["v"]}
            )

    return _assign


def _train_centroids(
    spark: SparkSession, emb: DataFrame, k: int, lloyd_iters: int
):
    """Deterministic distributed Lloyd over (vec_id, v): centroids seed
    from the ``k`` lowest vec_ids, assignment is a broadcast-centroid
    NumPy argmax per Arrow batch, the mean recompute an explode/avg
    aggregation. Only the (k × dim) centroid matrix reaches the
    driver — the caller chooses k's scaling rule (see
    ``two_level_cell_assignment`` for the sub-linear one)."""
    import numpy as np

    seed_rows = emb.orderBy("vec_id").limit(k).collect()
    if not seed_rows:
        raise ValueError("_train_centroids: empty embedding corpus")
    dim = len(seed_rows[0]["v"])
    cent = np.stack([r["v"] for r in seed_rows])
    cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    for _ in range(lloyd_iters):
        assigned = emb.mapInPandas(
            _assign_to_centroids(spark, cent),
            schema="cell int, vec_id bigint, v array<float>",
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new_cent = cent.copy()
        acc: dict[int, list[float]] = {}
        for r in means:
            acc.setdefault(r["cell"], [0.0] * dim)[r["pos"]] = r["m"]
        for cell_id, vec in acc.items():
            v = np.array(vec)
            n = np.linalg.norm(v)
            if n > 0:
                new_cent[cell_id] = v / n
        cent = new_cent
    return cent


#: per-task budget for a level-2 clustering input. The two-level rule's
#: per-task input is n/k₁ ≈ 64·√k vectors under the k = n/64 cell rule
#: (~128 MB at 10⁹ vectors × 64 dims) — comfortably inside this 1 GiB
#: default, which is a quarter of a 4 GB/thread executor. A corpus or
#: skew profile that pushes ONE level-1 cell past it must escalate to a
#: third level, and the guard below makes that a loud error instead of
#: an OOM-shaped task (VERDICT r7 item 5).
LEVEL2_TASK_BUDGET_BYTES = 1 << 30


def _cell1_over_budget(
    assigned1: DataFrame, budget_bytes: int
) -> tuple[list[tuple[int, int, int]], int]:
    """One map-combinable pass over (cell1): returns
    ``([(cell1, rows, dim)] for cells whose estimated in-task bytes
    (rows × (4·dim vector + ~24 B row overhead)) exceed the budget,
    max_cell1_id)`` — k₁ rows to the driver, nothing else."""
    stats = assigned1.groupBy("cell1").agg(
        F.count(F.lit(1)).alias("rows"),
        F.max(F.size("v")).alias("dim"),
    ).collect()
    over = sorted(
        (int(r["cell1"]), int(r["rows"]), int(r["dim"] or 0))
        for r in stats
        if r["dim"] is not None
        and r["rows"] * (r["dim"] * 4 + 24) > budget_bytes
    )
    max_id = max((int(r["cell1"]) for r in stats), default=-1)
    return over, max_id


def _split_over_budget_cells(
    spark: SparkSession,
    assigned1: DataFrame,
    cent1=None,
    budget_bytes: int | None = None,
    lloyd_iters: int = 2,
    max_rounds: int = 4,
):
    """THIRD quantizer level, applied recursively to over-budget
    level-1 cells ONLY (r8 verdict item 6 — this is the escalation the
    old guard raised for). A dominant level-1 cell (duplicated
    embeddings, a degenerate corpus) would hand one Arrow task the
    whole pile; instead of refusing, split that one cell the same way
    level 2 split level 1:

    - train s = ⌈cell_bytes / budget⌉ + 1 child centroids over JUST
      that cell's vectors with the distributed Lloyd loop (only the
      s × dim child matrix reaches the driver — the √k bound is
      unchanged: Σ extra centroids ≈ over_bytes / budget, data-bounded
      and zero on a healthy corpus);
    - child 0 inherits the parent's cell1 id (its centroid row is
      overwritten), children 1..s-1 get fresh ids appended — so the
      level-1 centroid list stays a dense id→row array and every
      downstream consumer (probe argmax, sub-centroid partitioning,
      packed cell ids) is unchanged;
    - repeat up to ``max_rounds``: a child can still exceed the budget
      and splits again. A pile k-means CANNOT separate (identical
      vectors: every trained child collapses onto one) falls back, on
      the last round, to a deterministic hash split
      (``pmod(xxhash64(vec_id), s)``) — balanced by construction. The
      trade is explicit: identical vectors then land in s sibling
      cells with identical centroids, so a probe may reach only one
      sibling (duplicates are interchangeable neighbors) and semdedup
      retains ≤ s representatives of the pile instead of 1 — bounded,
      and strictly better than the OOM-shaped task.

    Returns ``(assigned1, cent1)`` with every cell1 group inside the
    budget. ``budget_bytes`` defaults to the module's
    ``LEVEL2_TASK_BUDGET_BYTES`` at CALL time (late-bound so a
    deployment retunes it once, globally). Below the budget this is
    one aggregate pass and zero plan changes."""
    import numpy as np

    if budget_bytes is None:
        budget_bytes = LEVEL2_TASK_BUDGET_BYTES
    cents = None if cent1 is None else [np.asarray(r) for r in cent1]
    for rnd in range(max_rounds + 1):
        over, max_id = _cell1_over_budget(assigned1, budget_bytes)
        if not over:
            break
        if rnd == max_rounds:
            worst = max(r * (d * 4 + 24) for _c, r, d in over)
            raise RuntimeError(
                f"two-level quantizer: a level-1 cell still needs "
                f"~{worst >> 20} MiB in one task after {max_rounds} "
                f"third-level split rounds (budget "
                f"{budget_bytes >> 20} MiB) — the hash fallback "
                f"should have bounded this; check the corpus"
            )
        next_id = len(cents) if cents is not None else max_id + 1
        use_hash = rnd == max_rounds - 1
        for c, rows, dim in over:
            cell_bytes = rows * (dim * 4 + 24)
            s = int(min(rows, max(2, -(-cell_bytes // budget_bytes) + 1)))
            subset = assigned1.filter(F.col("cell1") == c).select(
                "vec_id", "v"
            )
            trained = not use_hash
            re = None
            if trained:
                child_cents = _train_centroids(
                    spark, subset, s, lloyd_iters
                )
                re = subset.mapInPandas(
                    _assign_to_centroids(spark, child_cents),
                    schema="cell int, vec_id bigint, v array<float>",
                )
                counts = [
                    int(r["c"])
                    for r in re.groupBy("cell")
                    .agg(F.count(F.lit(1)).alias("c"))
                    .collect()
                ]
                if max(counts) == rows:  # k-means could not separate
                    trained = False
            if not trained:
                # salt with the running next_id — a NONCE no earlier
                # split event can have used: an unsalted (or re-used-
                # salt) re-hash of a hash-split child is CONSTANT
                # whenever the two moduli share a factor (h%9==k ⇒
                # h%3==k%3) and the child would never make progress.
                # The parent id c is NOT a safe salt here: child 0
                # inherits c, so its eventual re-split would re-hash
                # with the SAME salt (ADVICE r9). next_id is still
                # deterministic (pure function of the sorted over-cell
                # sequence), so replayed builds stay byte-identical.
                re = subset.select(
                    F.pmod(F.xxhash64("vec_id", F.lit(int(next_id))), F.lit(s))
                    .cast("int")
                    .alias("cell"),
                    "vec_id",
                    "v",
                )
                if cents is not None:
                    # hash children share the parent's centroid: the
                    # pile is directionless for k-means, so any copy
                    # ranks the same for a probe
                    child_cents = np.stack([cents[c]] * s)
            remapped = re.select(
                F.when(F.col("cell") == 0, F.lit(c))
                .otherwise(F.col("cell") + F.lit(next_id - 1))
                .cast("int")
                .alias("cell1"),
                "vec_id",
                "v",
            )
            assigned1 = assigned1.filter(
                F.col("cell1") != c
            ).unionByName(remapped)
            if cents is not None:
                cents[c] = child_cents[0]
                cents.extend(child_cents[1:])
            next_id += s - 1
    return assigned1, (np.stack(cents) if cents is not None else None)


def two_level_cell_assignment(
    spark: SparkSession,
    emb: DataFrame,
    n_cells: int,
    lloyd_iters: int = IVF_LLOYD_ITERS,
    sub_iters: int = 4,
) -> DataFrame:
    """(vec_id, cell) trained-quantizer assignment whose DRIVER/BROADCAST
    footprint grows as √n_cells instead of n_cells — the scaling rule
    the flat single-level quantizer lacks (VERDICT r6 item 2).

    The semdedup measurement's k = n/64 rule keeps comparisons/vector
    flat but grows the single-level centroid matrix LINEARLY with the
    corpus: at 10⁹ vectors × 64 dims that is a ~4 GB driver matrix
    re-broadcast per Arrow batch. This operator keeps the same total
    cell budget hierarchically:

    - level 1: k₁ = ⌈√n_cells⌉ centroids trained with the distributed
      Lloyd loop — the ONLY matrix that ever reaches the driver or a
      broadcast (k₁ × dim = O(√n · dim) under k ∝ n);
    - level 2: each level-1 cell is locally k-means'd into
      k₂ = ⌈n_cells / k₁⌉ sub-cells INSIDE its own Arrow task
      (`applyInPandas` over cell1) — sub-centroids live only for the
      task's lifetime, deterministic seeding from the cell's lowest
      vec_ids, argmax-cosine iterations in one NumPy block.

    Final cell id = cell1 · k₂ + cell2, densely packed over the same
    budget, so downstream consumers (semdedup's within-cell dedup, an
    IVF write partitioned by cell) see the same flat cell population
    as the linear rule — measured in SCALING.json's quantizer family:
    comparisons/vector stays flat across the 100× corpus range while
    the driver matrix rows grow as √n. Per-task input is n/k₁ ≈ 64·√n
    vectors; ``_check_level2_task_budget`` enforces the ceiling at
    runtime (largest level-1 cell vs ``LEVEL2_TASK_BUDGET_BYTES``,
    ~128 MB at 10⁹ vectors under the k = n/64 rule) and raises with
    the add-a-third-level escalation instead of silently building an
    OOM-shaped task.
    """
    import math

    k1 = max(1, math.isqrt(max(n_cells - 1, 0)) + 1) if n_cells > 1 else 1
    k2 = max(1, -(-n_cells // k1))
    cent1 = _train_centroids(spark, emb, k1, lloyd_iters)
    assigned1 = emb.mapInPandas(
        _assign_to_centroids(spark, cent1),
        schema="cell int, vec_id bigint, v array<float>",
    ).withColumnRenamed("cell", "cell1")
    # third-level escalation: any over-budget level-1 cell is split
    # recursively (assignment-only caller: no centroid bookkeeping)
    assigned1, _ = _split_over_budget_cells(spark, assigned1)

    n_sub_iters = sub_iters
    k2_local = k2

    def _sub(key, pdf):
        import numpy as np
        import pandas as pd

        cell1 = int(key[0])
        order = pdf["vec_id"].to_numpy().argsort(kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        m = np.stack(pdf["v"].to_numpy())[order]
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        mn = m / np.where(norms > 0, norms, 1.0)
        kk = min(k2_local, len(ids))
        cent = mn[:kk].copy()
        sub = np.zeros(len(ids), dtype=np.int64)
        for _ in range(n_sub_iters):
            sub = (mn @ cent.T).argmax(axis=1)
            for c in range(kk):
                mask = sub == c
                if mask.any():
                    v = mn[mask].mean(axis=0)
                    nv = np.linalg.norm(v)
                    if nv > 0:
                        cent[c] = v / nv
        sub = (mn @ cent.T).argmax(axis=1)
        return pd.DataFrame(
            {"vec_id": ids, "cell": cell1 * k2_local + sub}
        )

    return assigned1.groupBy("cell1").applyInPandas(
        _sub, "vec_id bigint, cell bigint"
    )


def build_ann_ivf_index(
    spark: SparkSession,
    emb: DataFrame,
    location: str,
    n_list: int = IVF_NLIST,
    lloyd_iters: int = IVF_LLOYD_ITERS,
    two_level: bool = False,
    sub_iters: int = 4,
):
    """IVF index: k-means coarse quantizer → vectors partitioned by cell.

    Deterministic throughout (no RNG state): centroids initialize from
    the lowest vec_ids, then ``lloyd_iters`` rounds of distributed
    Lloyd — assignment is a broadcast-centroid NumPy argmax per Arrow
    batch; the mean recompute is an explode/avg aggregation. Vectors
    are written partitioned by cell so a probe scans ``nprobe``
    directories instead of the corpus.

    ``two_level=True`` composes the ⌈√k⌉ scaling rule INTO the index
    (VERDICT r7 item 1 — the rule existed in
    ``two_level_cell_assignment`` but the index still trained the flat
    linear-in-k quantizer): only k₁ = ⌈√n_list⌉ level-1 centroids are
    ever Lloyd-trained driver-side; each level-1 cell then k-means's
    its own k₂ = ⌈n_list/k₁⌉ sub-cells INSIDE its Arrow task, and the
    index is written partitioned by the packed cell id
    ``cell = cell1·k₂ + cell2`` — the exact same directory layout as
    the flat index, so every downstream reader is unchanged. The
    sub-centroids are persisted in the LAKE
    (``{location}/_subcentroids``, partitioned by cell1), never on the
    driver: a probe reads only the ≤ nq·nprobe level-1 partitions it
    selects, so probe-side driver memory is O(√k + nq·nprobe·k₂·dim)
    where the flat probe's is O(k·dim). At the shipped n_list=16 both
    forms are trivially cheap; at a k ∝ n deployment (10⁹ vectors,
    k = n/64) the flat quantizer's driver matrix is ~4 GB where the
    hierarchical one's is ~16 MB (SCALING.json → quantizer: measured
    driver-rows exponent 0.49 vs 1.00 flat).

    Returns the level-1 centroid matrix (persisted beside the index);
    ``_meta.json`` records the structure so probe/append pick the
    matching path.
    """
    import json as _json
    import math

    if not two_level:
        cent = _train_centroids(spark, emb, n_list, lloyd_iters)
        final = emb.mapInPandas(
            _assign_to_centroids(spark, cent),
            schema="cell int, vec_id bigint, v array<float>",
        )
        (
            fanout(final, "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(location)
        )
        with open(os.path.join(location, "_centroids.json"), "w") as f:
            _json.dump(cent.tolist(), f)
        with open(os.path.join(location, "_meta.json"), "w") as f:
            _json.dump({"two_level": False, "n_list": n_list}, f)
        _invalidate_index_df(spark, location)
        return cent

    from pyspark import StorageLevel

    # k₁ = max(⌈√k⌉, IVF_K1_MIN) capped at n_list: asymptotically the
    # √k driver bound is unchanged (the floor constant is absorbed once
    # k > IVF_K1_MIN²), but at small k the finer parent cut is what
    # keeps recall at flat-quantizer levels — a 4-way first cut over 16
    # cells measured 0.66-0.74 mean recall where 8×2 measures
    # 0.84-0.86 against flat's 0.88-0.90 (same nprobe scan budget).
    k1 = (
        min(n_list, max(math.isqrt(max(n_list - 1, 0)) + 1, IVF_K1_MIN))
        if n_list > 1
        else 1
    )
    k2 = max(1, -(-n_list // k1))
    cent1 = _train_centroids(spark, emb, k1, lloyd_iters)
    assigned1_base = emb.mapInPandas(
        _assign_to_centroids(spark, cent1),
        schema="cell int, vec_id bigint, v array<float>",
    ).withColumnRenamed("cell", "cell1").persist(StorageLevel.MEMORY_AND_DISK)
    # third-level escalation: split any over-budget level-1 cell and
    # extend the level-1 centroid array in lockstep (child 0 overwrites
    # the parent's row, the rest append) — the persisted json stays a
    # dense id→row array so probe/append read it unchanged
    assigned1, cent1 = _split_over_budget_cells(spark, assigned1_base, cent1)

    k2_local = k2
    n_sub_iters = sub_iters

    # self-contained kernel (workers in a driver-created session cannot
    # import this package — same constraint as every kernel here): one
    # grouped pass per level-1 cell trains its sub-centroids AND
    # assigns its vectors, emitting both row kinds in one schema
    def _sub_index(key, pdf):
        import numpy as np
        import pandas as pd

        cell1 = int(key[0])
        order = pdf["vec_id"].to_numpy().argsort(kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        m = np.stack(pdf["v"].to_numpy())[order]
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        mn = m / np.where(norms > 0, norms, 1.0)
        kk = min(k2_local, len(ids))
        cent = mn[:kk].copy()
        sub = np.zeros(len(ids), dtype=np.int64)
        for _ in range(n_sub_iters):
            sub = (mn @ cent.T).argmax(axis=1)
            for c in range(kk):
                mask = sub == c
                if mask.any():
                    v = mn[mask].mean(axis=0)
                    nv = np.linalg.norm(v)
                    if nv > 0:
                        cent[c] = v / nv
        sub = (mn @ cent.T).argmax(axis=1)
        assign = pd.DataFrame(
            {
                "kind": "v",
                "cell1": cell1,
                "vec_id": ids,
                "cell": cell1 * k2_local + sub,
                "v": list(m.astype(np.float32)),
            }
        )
        cents = pd.DataFrame(
            {
                "kind": "c",
                "cell1": cell1,
                "vec_id": np.arange(kk, dtype=np.int64),
                "cell": cell1 * k2_local + np.arange(kk),
                "v": list(cent.astype(np.float32)),
            }
        )
        return pd.concat([assign, cents], ignore_index=True)

    combined = assigned1.groupBy("cell1").applyInPandas(
        _sub_index,
        "kind string, cell1 int, vec_id bigint, cell int, v array<float>",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        (
            combined.filter(F.col("kind") == "v")
            .select("cell", "vec_id", "v")
            .transform(lambda d: fanout(d, "cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(location)
        )
        (
            combined.filter(F.col("kind") == "c")
            .select("cell1", "cell", "v")
            .write.mode("overwrite")
            .partitionBy("cell1")
            .parquet(os.path.join(location, "_subcentroids"))
        )
    finally:
        combined.unpersist()
        assigned1.unpersist()
    with open(os.path.join(location, "_centroids.json"), "w") as f:
        _json.dump(cent1.tolist(), f)
    with open(os.path.join(location, "_meta.json"), "w") as f:
        _json.dump(
            {"two_level": True, "n_list": n_list, "k1": k1, "k2": k2}, f
        )
    _invalidate_index_df(spark, location)
    return cent1


def ivf_assign_delta(
    spark: SparkSession, new_emb: DataFrame, location: str
) -> DataFrame:
    """(cell, vec_id, v) assignment of new vectors against an existing
    index's PERSISTED quantizer (no re-clustering) — the shared kernel
    of ``append_ann_ivf_vectors`` and the streaming embedding ingest
    (which writes the delta under its own replay-idempotent store
    instead of appending files directly).

    Two-level indexes assign hierarchically without ever collecting
    the full quantizer: level-1 argmax against the broadcast ⌈√k⌉
    matrix, then the new rows are unioned with the LAKE-resident
    sub-centroid rows of their level-1 cell and a grouped Arrow task
    argmaxes each cell's newcomers against its own sub-centroids —
    one shuffle on cell1, no k-sized broadcast anywhere."""
    import json as _json

    import numpy as np

    with open(os.path.join(location, "_centroids.json")) as f:
        cent = np.array(_json.load(f))
    meta = _index_meta(location)
    bc = spark.sparkContext.broadcast(cent)

    if not meta.get("two_level"):

        def _assign(batches):
            import pandas as pd

            c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                block = np.stack(pdf["v"].to_numpy())
                bn = block / np.linalg.norm(block, axis=1, keepdims=True)
                cell = (bn @ c.T).argmax(axis=1)
                yield pd.DataFrame({"cell": cell, "vec_id": pdf["vec_id"], "v": pdf["v"]})

        delta = new_emb.mapInPandas(
            _assign, schema="cell int, vec_id bigint, v array<float>"
        )
    else:

        def _assign1(batches):
            import pandas as pd

            c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                block = np.stack(pdf["v"].to_numpy())
                norms = np.linalg.norm(block, axis=1, keepdims=True)
                bn = block / np.where(norms > 0, norms, 1.0)
                cell1 = (bn @ c.T).argmax(axis=1)
                yield pd.DataFrame(
                    {
                        "kind": "v",
                        "cell1": cell1,
                        "vec_id": pdf["vec_id"],
                        "cell": -1,
                        "v": pdf["v"],
                    }
                )

        tagged_new = new_emb.mapInPandas(
            _assign1,
            schema="kind string, cell1 int, vec_id bigint, cell int, v array<float>",
        )
        subs = (
            spark.read.parquet(os.path.join(location, "_subcentroids"))
            .select(
                F.lit("c").alias("kind"),
                "cell1",
                F.lit(-1).cast("bigint").alias("vec_id"),
                "cell",
                "v",
            )
        )

        def _assign2(key, pdf):
            import numpy as np
            import pandas as pd

            is_c = pdf["kind"] == "c"
            cents = pdf[is_c].sort_values("cell")
            news = pdf[~is_c]
            if not len(news) or not len(cents):
                # "v" must be object-typed: an empty default-float64
                # column is not Arrow-convertible to list<float>
                # (latent until a cell1 group had sub-centroids but no
                # newcomers — caught by the r9 escalation tests)
                return pd.DataFrame(
                    {"cell": [], "vec_id": [], "v": []}
                ).astype({"cell": "int32", "vec_id": "int64", "v": "object"})
            cmat = np.stack(cents["v"].to_numpy()).astype(np.float64)
            block = np.stack(news["v"].to_numpy())
            norms = np.linalg.norm(block, axis=1, keepdims=True)
            bn = block / np.where(norms > 0, norms, 1.0)
            idx = (bn @ cmat.T).argmax(axis=1)
            return pd.DataFrame(
                {
                    "cell": cents["cell"].to_numpy()[idx],
                    "vec_id": news["vec_id"].to_numpy(),
                    "v": news["v"].to_numpy(),
                }
            )

        delta = tagged_new.unionByName(subs).groupBy("cell1").applyInPandas(
            _assign2, "cell int, vec_id bigint, v array<float>"
        )
    return delta


def append_ann_ivf_vectors(spark: SparkSession, new_emb: DataFrame, location: str) -> None:
    """Incrementally add vectors to an existing IVF index: assign the
    new rows against the persisted quantizer (``ivf_assign_delta``)
    and append their files into the cell partitions. Same
    partition-swap economics as the LSH append — existing files
    untouched. NOT replay-idempotent (a redelivered batch would
    double-append): streaming callers use the pbatch-partitioned delta
    store in streaming/jobs.py::start_embedding_ingest instead."""
    delta = ivf_assign_delta(spark, new_emb, location)
    (
        fanout(delta, "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(location)
    )
    _invalidate_index_df(spark, location)


def _index_meta(index_path: str) -> dict:
    """Structure stamp written by ``build_ann_ivf_index``; a pre-meta
    (r7 and earlier) index is flat by construction."""
    import json as _json

    meta_path = os.path.join(index_path, "_meta.json")
    if not os.path.exists(meta_path):
        return {"two_level": False}
    with open(meta_path) as f:
        return _json.load(f)


def ann_ivf_probe(
    spark: SparkSession,
    index_path: str,
    queries_pdf,
    nprobe: int = IVF_NPROBE,
    topk: int = TOPK,
) -> DataFrame:
    """Probe an IVF index: nearest ``nprobe`` cells per query become a
    single ``cell IN (...)`` partition filter + broadcast kernel-side
    pairing, then exact re-score — the same pruned-scan shape as the
    LSH probe, with data-adaptive cells instead of random hyperplanes.

    On a two-level index the cell selection itself is hierarchical, so
    the probe's driver memory never sees the full k×dim quantizer:
    rank level-1 centroids (⌈√k⌉ rows, from ``_centroids.json``), read
    ONLY the selected level-1 partitions of the lake-resident
    sub-centroid table (≤ nq·nprobe·k₂ rows collected — bounded by the
    query block and nprobe, independent of k), rank the packed cells,
    and prune the scan with the same ``cell IN (...)`` filter as the
    flat probe. Candidate-cell recall is guarded by probing nprobe
    level-1 cells (the true top-nprobe packed cells span at most
    nprobe parents) and verified end-to-end by
    ``ann_ivf_topk_checked``'s recall floor."""
    import json as _json

    import numpy as np

    with open(os.path.join(index_path, "_centroids.json")) as f:
        cent = np.array(_json.load(f))
    q_ids = queries_pdf["vec_id"].to_numpy()
    q_mat = np.stack(queries_pdf["v"].to_numpy())
    q_n = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    meta = _index_meta(index_path)

    part_to_q: dict[int, list[int]] = {}
    if not meta.get("two_level"):
        order = np.argsort(-(q_n @ cent.T), axis=1)[:, :nprobe]  # (nq, nprobe)
        for qi in range(len(q_ids)):
            for j in range(order.shape[1]):
                part_to_q.setdefault(int(order[qi, j]), []).append(qi)
    else:
        k1 = int(meta["k1"])
        p1 = min(k1, nprobe)
        order1 = np.argsort(-(q_n @ cent.T), axis=1)[:, :p1]  # (nq, p1)
        sel1 = sorted({int(c) for row in order1 for c in row})
        sub_rows = (
            spark.read.parquet(os.path.join(index_path, "_subcentroids"))
            .filter(F.col("cell1").isin(sel1))
            .collect()
        )
        by_cell1: dict[int, list] = {}
        for r in sub_rows:
            by_cell1.setdefault(int(r["cell1"]), []).append(
                (int(r["cell"]), r["v"])
            )
        for qi in range(len(q_ids)):
            cand_cells: list[int] = []
            cand_vecs: list = []
            for c1 in order1[qi]:
                for cell, v in sorted(by_cell1.get(int(c1), [])):
                    cand_cells.append(cell)
                    cand_vecs.append(v)
            if not cand_cells:
                continue
            sims = np.asarray(cand_vecs, dtype=np.float64) @ q_n[qi]
            for j in np.argsort(-sims, kind="stable")[:nprobe]:
                part_to_q.setdefault(cand_cells[int(j)], []).append(qi)
    # streaming layout (start_embedding_ingest): vectors live under a
    # swappable {index}/cells dir (compaction rename-swaps it whole,
    # so the quantizer artifacts and delta store beside it survive the
    # swap); batch-built indexes keep their cell dirs at the top level
    from flink_realtime_data_warehouse_spark.streaming.table_format import FORMAT

    cells_path = os.path.join(index_path, "cells")
    streaming_layout = FORMAT.exists(cells_path)
    vec_root = cells_path if streaming_layout else index_path
    pruned = _index_df(spark, vec_root, via_format=streaming_layout).filter(
        F.col("cell").isin(sorted(part_to_q))
    )
    # streaming delta tail (start_embedding_ingest): vectors ingested
    # since the last compaction live under {index}/_deltas partitioned
    # by pbatch — small by construction (compaction folds them into the
    # cell partitions on a cadence), so the cell filter on the tail is
    # a data-column predicate, not partition pruning. The vec_id
    # dedup makes the probe correct in the crash window where a folded
    # delta partition has not been cleared yet (a vector then exists
    # in both the main index and the tail).
    deltas_path = os.path.join(index_path, "_deltas")
    if FORMAT.exists(deltas_path):
        tail = (
            FORMAT.read(
                spark,
                deltas_path,
                "cell int, vec_id bigint, v array<float>, pbatch string",
            )
            .filter(F.col("cell").isin(sorted(part_to_q)))
            .select("cell", "vec_id", "v")
        )
        pruned = (
            pruned.select("cell", "vec_id", "v")
            .unionByName(tail)
            .dropDuplicates(["vec_id"])
        )
    return _probe_partitioned_index(
        spark, pruned, "cell", part_to_q, q_ids, q_n, topk
    )


def _hl_md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:8]


def _auto_index_path(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Deterministic per-dataset index location under the session's
    warehouse dir, stamped with the source file's mtime; stale stamps
    for the same (kind, warehouse) are garbage-collected on build."""
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    stamp = f"{kind}:{src}:{os.path.getmtime(src) if os.path.exists(src) else 0}"
    root = _warehouse_root(spark)
    return os.path.join(root, f"ann_{kind}_index_{_hl_md5(stamp)}")


def _load_emb(
    spark: SparkSession, sf_dir: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Embedding corpus with THE dirty-row guard (single source of
    truth — oracle twin: ``EMB_CLEAN_SQL``): NULL, wrong-dim, zero-norm,
    and non-finite vectors are definitionally not similarity
    candidates — a ragged row would crash the NumPy stack kernels
    (null-injection sweep, r3); a zero vector has no cosine:
    normalization turns it into a NaN row, and NaN's "largest double"
    comparison semantics would rank it above every real neighbor
    (round-5 review, found in the semantic-decontamination gate); a
    NaN/Inf element survives a plain ``sumsq > 0`` check in BOTH
    engines and then diverges at the threshold compare (NumPy NaN >=
    thr is False, SQL NaN >= thr is True) — the ``sumsq < inf`` clause
    drops it, because NaN and Inf both compare false against the
    infinity literal in Spark. The null/dim filter pushes to the
    parquet scan; on clean data the whole guard is a no-op.

    ``extra_cols`` carries additional embedding-table columns (e.g.
    ``label``) through the SAME single scan, so callers never reuse
    the guard via a corpus self-join."""
    sumsq = F.expr("aggregate(v, 0.0D, (acc, x) -> acc + x * x)")
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNotNull()
            & (F.size("embedding") == EMBED_DIM)
        )
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            *extra_cols,
        )
        # NULL-element vectors fold to a NULL sum and drop here too
        .filter((sumsq > 0.0) & (sumsq < F.lit(float("inf"))))
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH approximate top-k (the scale path), index-backed.

    Random-hyperplane LSH with L=10 independent tables of 5 sign bits:
    a neighbor is a candidate if it shares a bucket in ANY table
    (recall amplification — a single fine table collapses recall for
    mid-range cosines). The corpus is materialized once as a
    pcode-partitioned index; the probe prunes to the ≤ nq·L bucket
    partitions the query block names and exact-re-scores the
    candidates. Correctness gate: ``ann_lsh_topk_checked`` (recall
    verdict vs in-plan brute force); recall also pinned in
    tests/test_similarity_dedup.py. Benchmarked directly by bench.py.
    """
    emb = _load_emb(spark, sf_dir)
    queries_pdf = _query_block(spark, emb, sf_dir)
    if not len(queries_pdf):
        return spark.createDataFrame([], _SCORED_SCHEMA + ", rank int")
    index_path = _auto_index_path(spark, sf_dir, "lsh")
    if not os.path.isdir(index_path):
        _gc_stale_indexes(_warehouse_root(spark), "ann_lsh_index_", index_path)
        build_ann_lsh_index(spark, emb, index_path)
    return ann_lsh_probe(spark, index_path, queries_pdf)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: k-means cells as the coarse quantizer,
    nprobe-pruned partition scan, exact re-scoring. The data-adaptive
    sibling of ``ann_lsh_topk`` — better cell occupancy on clustered
    corpora, same pruned-scan plan shape. The registry path builds the
    TWO-LEVEL index (r8): only ⌈√n_list⌉ centroids ever reach the
    driver, sub-centroids live in the lake, and the probe selects
    packed cells hierarchically — the scaling rule measured in
    SCALING.json's quantizer family, now composed into the index this
    repo actually ships. Correctness gate: ``ann_ivf_topk_checked``."""
    emb = _load_emb(spark, sf_dir)
    queries_pdf = _query_block(spark, emb, sf_dir)
    if not len(queries_pdf):
        return spark.createDataFrame([], _SCORED_SCHEMA + ", rank int")
    index_path = _auto_index_path(spark, sf_dir, "ivf2")
    if not os.path.isdir(index_path):
        _gc_stale_indexes(_warehouse_root(spark), "ann_ivf2_index_", index_path)
        build_ann_ivf_index(spark, emb, index_path, two_level=True)
    return ann_ivf_probe(spark, index_path, queries_pdf)


def _recall_verdict(
    exact: DataFrame, approx: DataFrame, min_mean_recall: float
) -> DataFrame:
    """Mean recall of ``approx`` against ``exact`` top-k over the query
    block, as ONE deterministic verdict row: (n_queries, recall_ok).
    Both inputs carry (query_id, neighbor_id); the join is on those
    keys (broadcast-sized: nq × k rows each). The mean over the block
    is far more stable than per-query hits (a single sparse bucket
    does not flip the verdict), which is what makes the trivial
    all-true oracle safe."""
    hits = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    totals = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
    )
    return (
        totals.crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_queries",
            (F.col("n_hits") >= F.lit(min_mean_recall) * F.col("n_exact")).alias(
                "recall_ok"
            ),
        )
    )


_RECALL_CHECK_ORACLE = f"""
SELECT count(*)::BIGINT AS n_queries, true AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES} AND {EMB_CLEAN_SQL}
"""


@query("ann_lsh_topk_checked", oracle=_RECALL_CHECK_ORACLE)
def ann_lsh_topk_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable verdict for the LSH path (VERDICT r2 item 3):
    does the index probe recover ≥ LSH_MIN_MEAN_RECALL of the true
    top-k over the query block? LSH is deterministic (md5 hyperplanes),
    so the verdict is a stable function of the data and the trivial
    oracle (all-true) hash-matches iff recall holds."""
    exact = ann_cosine_topk(spark, sf_dir)
    approx = ann_lsh_topk(spark, sf_dir)
    return _recall_verdict(exact, approx, LSH_MIN_MEAN_RECALL)


@query("ann_ivf_topk_checked", oracle=_RECALL_CHECK_ORACLE)
def ann_ivf_topk_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable verdict for the IVF path — same construction as
    ``ann_lsh_topk_checked`` with the IVF probe and its threshold
    (nprobe/nlist = 4/16 scans ~25% of a near-uniform corpus; the
    data-adaptive cells push measured recall to 0.84-0.90 on the
    two-level index the registry path now builds)."""
    exact = ann_cosine_topk(spark, sf_dir)
    approx = ann_ivf_topk(spark, sf_dir)
    return _recall_verdict(exact, approx, IVF_MIN_MEAN_RECALL)


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive-training data construction)
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
  WHERE {EMB_CLEAN_SQL}),
q AS (
  SELECT vec_id AS query_id, v AS qv, label AS qlabel
  FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
         list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
              * sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cs
  FROM q JOIN e ON e.label <> q.qlabel),
ranked AS (
  SELECT query_id, neighbor_id, neighbor_label, round(cs, 3) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cs, 3) DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, neighbor_label, cos_sim, rank FROM ranked
WHERE rank <= {TOPK} ORDER BY query_id, rank
"""


@query("ann_hard_negatives", oracle=_HARDNEG_ORACLE)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-similar vectors carrying a DIFFERENT label — the
    negatives that actually teach an embedding model (easy negatives
    are already far away).

    Same scale shape as ``ann_cosine_topk``: the anchor block (ids +
    labels + normalized matrix) is broadcast, the corpus streams
    through one Arrow-batched matmul and the label-mismatch mask is
    applied in-kernel — only (anchor, negative, score) triples ever
    shuffle, never vectors. At index-backed scale the same mask drops
    into the LSH/IVF/PQ probes (filter on the shortlist before
    rescoring) — the operator is the brute-force exact form the
    recall-checked probes are graded against.
    """
    import numpy as np

    # the shared guard, one scan — extra_cols carries `label` through
    # without a corpus self-join; the label requirement stacks on top
    emb = _load_emb(spark, sf_dir, extra_cols=("label",)).filter(
        F.col("label").isNotNull()
    )
    anchors = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    schema = (
        "query_id bigint, neighbor_id bigint, neighbor_label int, cos_sim double"
    )
    if not len(anchors):
        return spark.createDataFrame([], schema + ", rank int")

    q_ids = anchors["vec_id"].to_numpy()
    q_labels = anchors["label"].to_numpy()
    q_mat = np.stack(anchors["v"].to_numpy())
    q_n = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_labels, q_n))

    def _score(batches):
        import numpy as np
        import pandas as pd

        ids_q, labels_q, qn = bc.value
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            block = np.stack(pdf["v"].to_numpy())
            block_n = block / np.linalg.norm(block, axis=1, keepdims=True)
            sims = np.round(block_n @ qn.T, 3)
            rows_i, cols_j = np.nonzero(labels[:, None] != labels_q[None, :])
            yield pd.DataFrame(
                {
                    "query_id": ids_q[cols_j],
                    "neighbor_id": ids[rows_i],
                    "neighbor_label": labels[rows_i],
                    "cos_sim": sims[rows_i, cols_j],
                }
            )

    scored = emb.mapInPandas(_score, schema=schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .orderBy("query_id", "rank")
    )
