"""Batch file-format ingestion into the lake: CSV and ORC readers with
schema enforcement and corrupt-record routing.

The reference's only ingress is JSON-over-Kafka (MyKafkaUtil.java:20-51
feeding fastjson parses); a warehouse that replaces it also inherits
every flat-file landing zone. These helpers are the non-streaming
siblings of ``sources/streams.py``: explicit schema (never inference —
a 100 TB landing dir must not pay a sampling pass, and silent type
drift must fail loudly), PERMISSIVE parse with the corrupt original
routed to a side column (the T2 dirty-side-output discipline from
``operators/parse.py``), and RFC-4180 quoting.

CSV fidelity corners, pinned EMPIRICALLY (tests/test_source_ingest.py):

- commas / embedded quotes: round-trip under RFC-4180 quoting;
- empty string vs NULL: preserved, but ONLY with ``quoteAll`` on the
  writer (an unquoted empty token reads as NULL — measured);
- embedded newlines: exact with ``multiline=True`` on the reader;
  the default ``False`` keeps files splittable (the 100 TB posture —
  multiLine forces one reader per file) but a quoted newline then
  SPLITS the row: the head truncates into a plausible good row and
  the tail lands in quarantine. ``write_csv_dir`` therefore refuses
  embedded newlines unless the caller opts into multiline reading;
- the NULL sentinel: Spark's reader applies ``nullValue`` to quoted
  and unquoted tokens alike (measured), so a literal field equal to
  the sentinel CANNOT round-trip — ``write_csv_dir`` fails loudly on
  collision instead of silently nulling data.

The ``source_*_roundtrip`` registry rows prove losslessness the hard
way: dump the documents table to the format, ingest it back, and
hash-match the ORIGINAL table under the DuckDB oracle — any quoting,
escaping, NULL-vs-empty, or type-width defect lands as a driver-visible
hash mismatch.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.plans.registry import query
from flink_realtime_data_warehouse_spark.sources.tables import load_table

#: NULL sentinel distinct from the empty string (CSV cannot natively
#: tell '' from NULL). Spark's reader nulls this token QUOTED OR NOT —
#: ``write_csv_dir`` refuses data containing it rather than corrupt.
CSV_NULL = "\\N"

_CSV_READ_OPTS = {
    "header": "true",
    "quote": '"',
    "escape": '"',  # RFC 4180: quotes escape by doubling
    "nullValue": CSV_NULL,
    "emptyValue": "",
}

_CSV_WRITE_OPTS = {
    "header": "true",
    "quote": '"',
    "escape": '"',
    "nullValue": CSV_NULL,
    # quoteAll: an UNQUOTED empty token reads back as NULL (measured);
    # quoting every value keeps ''-vs-NULL distinguishable
    "quoteAll": "true",
    # the writer TRIMS leading/trailing whitespace by default
    # (measured: '  x  ' lands as 'x') — fidelity demands it off
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}

DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

#: session-scoped temp-dir lifecycle (ADVICE r9): the staged parquet /
#: landing dirs and the streaming query rows' scratch roots (keyed by
#: row name) back LAZY DataFrames, so they cannot be deleted before
#: the caller consumes them — but a long-lived session replaying the
#: registry must not accumulate one orphan per invocation either.
#: Keep the most recent KEEP dirs per kind (the previous invocation may
#: still be draining in an interleaved runner), reap older ones on the
#: next call, and sweep whatever remains at interpreter exit.
#: ASSUMPTION (ADVICE r9): 2 is sized for the sequential runners this
#: repo ships (pytest, replay_registry, bench) — one in-flight
#: consumer plus one still-draining predecessor. A runner that
#: interleaves three or more invocations of the SAME kind would reap a
#: dir backing a still-unconsumed lazy DataFrame.
_TMP_KEEP = 2
_TMP_REGISTRY: dict[str, list[str]] = {}
_TMP_LOCK = threading.Lock()


def _reap_all_tmpdirs() -> None:
    with _TMP_LOCK:
        dirs = [d for v in _TMP_REGISTRY.values() for d in v]
        _TMP_REGISTRY.clear()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap_all_tmpdirs)


def _session_tmpdir(kind: str) -> str:
    """mkdtemp with bounded lifetime: at most ``_TMP_KEEP`` live dirs
    per kind; older ones are reaped here, the rest at exit."""
    path = tempfile.mkdtemp(prefix=f"frdw_{kind}_")
    with _TMP_LOCK:
        dirs = _TMP_REGISTRY.setdefault(kind, [])
        dirs.append(path)
        stale = dirs[: -_TMP_KEEP]
        del dirs[: -_TMP_KEEP]
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)
    return path


def write_csv_dir(
    df: DataFrame, path: str, multiline: bool = False
) -> None:
    """Write a CSV landing dir that ``ingest_csv_dir`` reads back
    losslessly — enforcing, with one cheap aggregate, the two corners
    Spark would otherwise corrupt SILENTLY: a string field equal to the
    NULL sentinel (reads back as NULL, quoted or not), and — unless the
    reader will run ``multiline=True`` — embedded newlines (a quoted
    newline under splittable reading truncates the row into a plausible
    prefix plus a quarantined tail). Refusing loudly beats shipping a
    corrupted lake."""
    str_cols = [c for c, t in df.dtypes if t == "string"]
    if str_cols:
        bad_sentinel = [
            F.sum(F.when(F.col(c) == CSV_NULL, 1).otherwise(0)).alias(c)
            for c in str_cols
        ]
        bad_newline = [
            # \r alone is also a record separator under splittable
            # reading (ADVICE r9): a quoted bare carriage return would
            # slip a contains("\n") check and still truncate the row
            F.sum(F.when(F.col(c).rlike("[\\r\\n]"), 1).otherwise(0)).alias(
                f"{c}__nl"
            )
            for c in str_cols
        ]
        counts = df.agg(*bad_sentinel, *bad_newline).collect()[0]
        hit = [c for c in str_cols if counts[c]]
        if hit:
            raise ValueError(
                f"columns {hit} contain the CSV NULL sentinel {CSV_NULL!r}; "
                "these values would silently read back as NULL — pre-escape "
                "them or pick a collision-free sentinel"
            )
        if not multiline:
            nl = [c for c in str_cols if counts[f"{c}__nl"]]
            if nl:
                raise ValueError(
                    f"columns {nl} contain embedded newlines (\\n or a bare "
                    "\\r); splittable (multiline=False) CSV reading would "
                    "truncate those rows — normalize newlines upstream or "
                    "pass multiline=True to BOTH write_csv_dir and "
                    "ingest_csv_dir"
                )
    df.write.options(**_CSV_WRITE_OPTS).mode("overwrite").csv(path)


def ingest_csv_dir(
    spark: SparkSession,
    path: str,
    schema: str,
    multiline: bool = False,
    staging: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Read a CSV landing dir under an explicit schema. Returns
    (good_rows, corrupt_rows) — corrupt rows carry the raw line in
    ``_corrupt_record`` for quarantine, good rows never silently
    absorb a malformed line (the PERMISSIVE-with-side-output posture;
    FAILFAST would abort a 100 TB job on one bad byte, DROPMALFORMED
    would hide it).

    The parse is STAGED to parquet (``staging`` dir, a temp dir by
    default) and both returns scan the staged table. That is the
    production bronze-layer shape — one CSV parse feeds every consumer
    instead of re-tokenizing per downstream plan — and it is also what
    makes the split legal: Spark refuses any plan over a raw CSV scan
    whose referenced columns prune to only ``_corrupt_record``
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN — a bare ``bad.count()`` does
    exactly that), prescribing cache-or-save; staging is the save."""
    df = (
        spark.read.options(**_CSV_READ_OPTS)
        .option("multiLine", str(multiline).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema + ", _corrupt_record string")
        .csv(path)
    )
    staged = staging or _session_tmpdir("csvstage")
    staged_path = os.path.join(staged, "parsed")
    df.write.mode("overwrite").parquet(staged_path)
    parsed = spark.read.schema(schema + ", _corrupt_record string").parquet(
        staged_path
    )
    good = parsed.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    bad = parsed.filter(F.col("_corrupt_record").isNotNull())
    return good, bad


def ingest_orc_dir(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read an ORC landing dir under an explicit schema (ORC is
    self-describing; the explicit schema still pins column order and
    types so writer drift fails loudly instead of reordering)."""
    return spark.read.schema(schema).orc(path)


_ROUNDTRIP_ORACLE = """
SELECT doc_id, text, lang, source, n_chars
FROM documents ORDER BY doc_id
"""


@query("source_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → ``write_csv_dir`` → ``ingest_csv_dir`` → hash-match
    the original table. Exercises the risky corners on real data:
    embedded punctuation under RFC-4180 quoting, NULL text/lang/source
    through the sentinel (the null-injected tier drives this with 10%
    NULLs), empty-vs-NULL under quoteAll, and bigint width; the
    silent-corruption corners (sentinel collision, newline truncation)
    are refused loudly by the writer and pinned in
    tests/test_source_ingest.py. The corrupt side output must stay
    empty on a clean round trip (a stray row lands as a hash-visible
    extra)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    land = _session_tmpdir("csvland")
    write_csv_dir(docs, os.path.join(land, "docs"))
    good, bad = ingest_csv_dir(spark, os.path.join(land, "docs"), DOCS_SCHEMA)
    # a corrupt row on a self-written file is a reader/writer bug —
    # surface it as a wrong row count, which the driver hash catches
    return good.unionByName(
        bad.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("_corrupt_record").alias("text"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("source"),
            F.lit(None).cast("bigint").alias("n_chars"),
        )
    ).orderBy("doc_id")


@query("source_orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → ORC landing dir → ``ingest_orc_dir`` → hash-match
    the original table (the columnar-format sibling of the CSV row;
    proves the lake can ingest ORC drops losslessly with types and
    NULLs intact)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    land = _session_tmpdir("orcland")
    docs.write.mode("overwrite").orc(os.path.join(land, "docs"))
    return ingest_orc_dir(
        spark, os.path.join(land, "docs"), DOCS_SCHEMA
    ).orderBy("doc_id")
