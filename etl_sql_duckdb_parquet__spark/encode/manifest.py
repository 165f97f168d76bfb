"""Checkpoint/lineage manifest — the engine's resumability layer.

Plays the role of the reference's SQLite run-history audit trail
(reference ``src/history.py:22-48``: per-run status, row counts, duration)
and its per-row audit columns (reference ``src/etl/ingest.py:53-58``),
reshaped for a distributed encode job: one append-only Parquet table with
one row per encoded partition::

    (run_id, snapshot_id, part_id, codec, n_docs, n_tokens,
     raw_bytes, comp_bytes, encode_s, checksum, status, finished_at)

Every store call reads the manifest (and, for lookups, the plan) ONCE on
the driver with an explicit schema — no footer-inference job — and makes
its metadata decisions in plain Python over those rows: snapshot choice,
winning run per partition, resume set, commit totals, maintenance guards.
Resume = the planned part ids minus those already committed ``ok`` for the
same input snapshot.  Spark has no built-in batch resume; this is ours.
"""

from __future__ import annotations

import datetime
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

MANIFEST_SCHEMA = (
    "run_id string, snapshot_id string, part_id int, codec string, "
    "n_docs long, n_tokens long, raw_bytes long, comp_bytes long, "
    "encode_s double, checksum long, "
    "n_distinct long, n_runs long, vmin long, vmax long, "
    "status string, finished_at timestamp"
)

MANIFEST_COLS = [f.split(" ")[0] for f in MANIFEST_SCHEMA.split(", ")]

PLAN_SCHEMA = (
    "run_id string, snapshot_id string, source string, offset int, salts int"
)


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def blobs_path(out_dir: str) -> str:
    return os.path.join(out_dir, "blobs")


def plan_path(out_dir: str) -> str:
    """The persisted doc→partition mapping (one row per source per run):
    ``part_id = offset + pmod(xxhash64(doc_id), salts)``."""
    return os.path.join(out_dir, "plan")


def read_parquet_or_none(
    spark: SparkSession, path: str, schema: str
) -> DataFrame | None:
    """``path`` read with an explicit schema (no footer-inference job), or
    ``None`` when the path does not exist.  Only ``PATH_NOT_FOUND`` means
    "absent": any other failure — a corrupt file included, which surfaces
    when the rows are collected — raises, so a damaged manifest can never
    read as an empty store (resume would re-encode everything, decode
    would report no manifest)."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if (e.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        return None


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return read_parquet_or_none(spark, manifest_path(out_dir), MANIFEST_SCHEMA)


def append_manifest(df: DataFrame, out_dir: str) -> None:
    df.select(*MANIFEST_COLS).write.mode("append").parquet(manifest_path(out_dir))


def write_rows_file(
    local_dir: str, schema: str, rows: list[dict], name: str
) -> None:
    """One parquet file ``name.parquet`` of metadata rows (missing fields →
    NULL), laid out from ``schema`` — the single source of truth, so
    driver-written files never diverge from Spark-written ones (mixed file
    schemas read back nondeterministically under mergeSchema=false).
    Written under a hidden name and renamed into place: readers never see
    a torn file, and a same-named file is replaced whole."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_types = {
        "string": pa.string(),
        "int": pa.int32(),
        "long": pa.int64(),
        "double": pa.float64(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }

    def column(name: str, typ: str):
        values = [r.get(name) for r in rows]
        if typ == "timestamp":  # collected timestamps are naive local times
            utc = datetime.timezone.utc
            values = [v and v.astimezone(utc) for v in values]
        return pa.array(values, pa_types[typ])

    fields = [f.rsplit(" ", 1) for f in schema.split(", ")]
    tbl = pa.table({col: column(col, typ) for col, typ in fields})
    os.makedirs(local_dir, exist_ok=True)
    tmp = os.path.join(local_dir, f".{name}.parquet.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(local_dir, f"{name}.parquet"))


def append_rows(
    spark: SparkSession, path: str, schema: str, rows: list[dict], name: str
) -> None:
    """Append metadata-sized rows (manifest or plan) under ``path``.

    Filesystem stores get a driver-side pyarrow write of one file named
    ``name`` (a Spark write job costs ~1 s of fixed overhead per call);
    remote URIs (s3a:// etc.) go through a Spark append of a part file."""
    if "://" not in path or path.startswith("file:"):
        local = path[len("file:"):] if path.startswith("file:") else path
        write_rows_file(local, schema, rows, name)
        return
    cols = [f.split(" ")[0] for f in schema.split(", ")]
    spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], schema
    ).coalesce(1).write.mode("append").parquet(path)


def append_running_marker(
    spark: SparkSession, out_dir: str, run_id: str, snapshot_id: str
) -> None:
    """One run-level ``status='running'`` manifest row, written BEFORE the
    encode starts moving data.

    Lets maintenance see runs that may still be writing blobs: a run_id
    with a running row and no ok rows is in-flight (or died — the marker
    alone can't tell, its timestamp is the run START), and
    :func:`maintenance.vacuum_store` refuses to reclaim blob directories
    while any such run exists (``force=True`` overrides and clears the
    marker).
    Every reader filters ``status == 'ok'``, so the marker is invisible to
    decode/resume.
    """
    row = {
        "run_id": run_id,
        "snapshot_id": snapshot_id,
        "part_id": -1,
        "status": "running",
        "finished_at": datetime.datetime.now(datetime.timezone.utc),
    }
    name = f"marker-{run_id}"
    append_rows(spark, manifest_path(out_dir), MANIFEST_SCHEMA, [row], name)
