"""Decode path: blobs → token table, bit-identical (the north-rule invariant).

Every call reads the manifest's rows once on the driver and picks, in plain
Python, the snapshot set and the latest successful run per partition (so
orphaned blob files from a crashed run can never leak into results); the
blob scan is then filtered to exactly those (run_id, part_id) pairs, and
every codec is reversed inside an Arrow-native ``mapInArrow``.  The token
lists are assembled ZERO-COPY with ``pa.ListArray.from_arrays(offsets,
values)`` — no per-document ``np.split``/pandas-object materialization.
Point lookups replay the persisted plan on the driver the same way.
Verification is a distributed join on doc_id with null-safe array
equality — no driver-side collection.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codecs import decode_int, decode_strings
from .encode_job import ENCODED_SCHEMA
from .manifest import (
    PLAN_SCHEMA,
    blobs_path,
    plan_path,
    read_manifest,
    read_parquet_or_none,
)

DECODED_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_COLUMN_TYPES = {
    "doc_id": ("string", pa.string()),
    "tokens": ("array<int>", pa.list_(pa.int32())),
    "n_tok": ("int", pa.int32()),
    "source": ("string", pa.string()),
}

# which blob column(s) each logical column needs — the projection
# pushdown map: a decode that skips `tokens` never reads (parquet column
# pruning) nor decompresses the token blobs, the bulk of the bytes
_BLOB_DEPS = {
    "doc_id": ("docids_blob",),
    "tokens": ("tokens_blob", "lengths_blob"),
    "n_tok": ("lengths_blob",),
    "source": ("sources_blob",),
}


def _make_decoder(columns: list[str]):
    def _decode_batches(iterator):
        for batch in iterator:
            blob_cols = {
                b: batch.column(b)
                for b in {d for c in columns for d in _BLOB_DEPS[c]}
            }
            for i in range(batch.num_rows):
                lengths = None
                if "lengths_blob" in blob_cols:
                    lengths = decode_int(blob_cols["lengths_blob"][i].as_py())
                arrays, n_docs = [], None
                for c in columns:
                    if c == "tokens":
                        values = decode_int(
                            blob_cols["tokens_blob"][i].as_py()
                        ).astype(np.int32)
                        # int32 offsets => plain ListArray (not LargeList);
                        # per-blob token counts are bounded by the ~2M-token
                        # partition plan AND enforced at encode time
                        # (_encode_blob_row raises past 2^31-1) — this
                        # check guards stores written by foreign tools
                        offsets64 = np.concatenate(([0], np.cumsum(lengths)))
                        if offsets64[-1] > 2**31 - 1:
                            raise ValueError(
                                f"blob holds {offsets64[-1]} tokens, beyond "
                                "the int32 Arrow list-offset range — "
                                "re-encode with a smaller target_tokens"
                            )
                        offsets = offsets64.astype(np.int32)
                        arr = pa.ListArray.from_arrays(
                            pa.array(offsets), pa.array(values)
                        )
                    elif c == "n_tok":
                        arr = pa.array(lengths.astype(np.int32))
                    elif c == "doc_id":
                        arr = pa.array(
                            decode_strings(blob_cols["docids_blob"][i].as_py()),
                            pa.string(),
                        )
                    else:  # source
                        arr = pa.array(
                            decode_strings(
                                blob_cols["sources_blob"][i].as_py()
                            ),
                            pa.string(),
                        )
                    arrays.append(arr)
                    n_docs = len(arr)
                if n_docs:
                    yield pa.RecordBatch.from_arrays(
                        arrays,
                        schema=pa.schema(
                            [(c, _COLUMN_TYPES[c][1]) for c in columns]
                        ),
                    )

    return _decode_batches


def _snapshot_rows(
    spark: SparkSession, out_dir: str, snapshots: str
) -> list:
    """The ok manifest rows of the selected snapshots — ONE driver-side
    manifest read.  THE snapshot-arg resolution, shared by every
    decode-side entry (blob winners and the lookup coverage check) so the
    coverage check can never validate a different snapshot set than the
    one the decode reads.  Validates the argument and, for an explicit
    ``snap_`` id, its existence — a typo'd id must raise here, not surface
    downstream as a misleading missing-plan or backfill error.
    """
    manifest = read_manifest(spark, out_dir)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    ok = [r for r in manifest.collect() if r["status"] == "ok"]
    if not ok:
        raise ValueError(
            f"manifest under {out_dir} has no status='ok' rows — "
            "nothing to decode (all runs failed or were aborted)"
        )
    if snapshots == "all":
        return ok
    if snapshots == "latest":
        snap = max(ok, key=lambda r: (r["finished_at"], r["run_id"]))
        snapshots = snap["snapshot_id"]
    elif not (isinstance(snapshots, str) and snapshots.startswith("snap_")):
        raise ValueError(
            "snapshots must be 'latest', 'all', or an explicit "
            f"'snap_...' id: {snapshots!r}"
        )
    rows = [r for r in ok if r["snapshot_id"] == snapshots]
    if not rows:
        raise ValueError(
            f"snapshot {snapshots!r} has no status='ok' manifest rows "
            f"under {out_dir}"
        )
    return rows


def _winners(rows: list) -> set[tuple[str, int]]:
    """``(run_id, part_id)`` of the latest ok run per (snapshot, part), so
    a resumed/re-run snapshot still dedupes exactly."""
    latest_last = sorted(rows, key=lambda r: (r["finished_at"], r["run_id"]))
    return set(
        {
            (r["snapshot_id"], r["part_id"]): (r["run_id"], r["part_id"])
            for r in latest_last
        }.values()
    )


def _blob_scan(
    spark: SparkSession, out_dir: str, pairs: set[tuple[str, int]]
) -> DataFrame:
    """The blob table filtered to exactly ``pairs`` — orphaned blob files
    from a crashed run can never leak into results.  Every conjunct is a
    flat IN list (run_id prunes directories, part_id prunes row groups,
    the pair key is exact); a per-run OR chain would nest one Catalyst
    level per run and overflow on stores with ~1,000 runs."""
    pair_key = F.concat_ws(":", "run_id", F.col("part_id").cast("string"))
    return (
        spark.read.schema(f"{ENCODED_SCHEMA}, run_id string")
        .parquet(blobs_path(out_dir))
        .filter(
            F.col("run_id").isin(sorted({r for r, _ in pairs}))
            & F.col("part_id").isin(sorted({p for _, p in pairs}))
            & pair_key.isin(sorted(f"{r}:{p}" for r, p in pairs))
        )
    )


def winning_blobs(
    spark: SparkSession, out_dir: str, snapshots: str = "latest"
) -> DataFrame:
    """Blob rows for the winning run per partition, manifest-gated.

    ``snapshots="latest"`` (default): only the most recently finished
    input snapshot is decoded — a store that saw the table re-encoded
    after an input change never mixes partitions across snapshots.
    ``snapshots="all"``: additive/append mode — every snapshot's winning
    partitions are unioned (each ingest batch encoded as its own snapshot
    concatenates, the Iceberg-append ingestion shape).  Note the snapshot
    id includes the encode plan parameters, so the SAME data re-encoded
    under different ``target_tokens``/``by_source`` counts as two
    snapshots here — use "latest" or an explicit id in that situation.
    ``snapshots="snap_..."``: decode exactly that snapshot id (as recorded
    in the manifest), pinning the choice independent of finish order.
    Within a snapshot, the winner per part_id is the latest OK run, so a
    resumed/re-run snapshot still dedupes exactly.
    """
    rows = _snapshot_rows(spark, out_dir, snapshots)
    return _blob_scan(spark, out_dir, _winners(rows))


def _decode_columns(columns: list[str] | None) -> tuple[list[str], list[str]]:
    """(logical columns, blob columns they need) — validated."""
    cols = list(_COLUMN_TYPES) if columns is None else list(columns)
    unknown = set(cols) - set(_COLUMN_TYPES)
    if unknown:
        raise ValueError(
            f"unknown decode columns {sorted(unknown)}; "
            f"available: {list(_COLUMN_TYPES)}"
        )
    return cols, list(dict.fromkeys(b for c in cols for b in _BLOB_DEPS[c]))


def _decode(
    spark: SparkSession,
    out_dir: str,
    rows: list,
    columns: list[str] | None,
    parts: list[int] | None = None,
) -> DataFrame:
    """Decode the winning blobs of ``rows`` (already-selected ok rows)."""
    cols, needed = _decode_columns(columns)
    pairs = _winners(rows)
    if parts is not None:
        wanted = {int(p) for p in parts}
        pairs = {(r, p) for r, p in pairs if p in wanted}
    schema = ", ".join(f"{c} {_COLUMN_TYPES[c][0]}" for c in cols)
    blobs = _blob_scan(spark, out_dir, pairs).select(*needed)
    return blobs.mapInArrow(_make_decoder(cols), schema)


def decode_token_table(
    spark: SparkSession,
    out_dir: str,
    snapshots: str = "latest",
    columns: list[str] | None = None,
    parts: list[int] | None = None,
) -> DataFrame:
    """Blobs + manifest → (doc_id, tokens, n_tok, source).

    ``columns`` selects a subset — projection pushdown through the blob
    format: each logical column lives in its own per-partition blob, so a
    metadata query (``columns=["doc_id", "n_tok"]``) neither reads (parquet
    column pruning) nor decompresses the token blobs, which are ~95% of
    the store's bytes.  The same reason column stores win the reference's
    CSV-vs-Parquet benchmark (``/root/reference/docs/benchmark_results.md``)
    applied to our own format.  ``parts`` restricts the decode to those
    part ids (partition pruning on the blob scan).
    """
    rows = _snapshot_rows(spark, out_dir, snapshots)
    return _decode(spark, out_dir, rows, columns, parts)


def _decoded_snapshot_ids(
    spark: SparkSession, out_dir: str, snapshots: str
) -> set[str]:
    """The ok snapshot ids a decode with this ``snapshots`` arg reads."""
    rows = _snapshot_rows(spark, out_dir, snapshots)
    return {r["snapshot_id"] for r in rows}


def _candidates(
    spark: SparkSession,
    out_dir: str,
    rows: list,
    doc_ids: list[str],
    source: str | None,
) -> list[int]:
    """Candidate part ids for ``doc_ids`` over the snapshots of ``rows``,
    from one driver-side plan read."""
    plan = read_parquet_or_none(spark, plan_path(out_dir), PLAN_SCHEMA)
    if plan is None:
        raise FileNotFoundError(
            f"no partition plan under {out_dir} — the store predates "
            "lookup support; re-encode with --no-resume (a resumed no-op "
            "run also backfills the plan), or decode fully and filter"
        )
    snaps = {r["snapshot_id"] for r in rows}
    plan = [p for p in plan.collect() if p["snapshot_id"] in snaps]
    uncovered = sorted(snaps - {p["snapshot_id"] for p in plan})
    if uncovered:
        raise FileNotFoundError(
            f"snapshot(s) {uncovered} under {out_dir} have no partition-"
            "plan rows (encoded before lookup support) — lookups against "
            "them would silently miss their docs; re-encode those inputs "
            "(a resumed no-op run backfills the plan), or decode fully "
            "and filter"
        )
    # Spark's own xxhash64, evaluated on the driver: an Arrow-backed local
    # relation's projection is folded without launching a job
    ids = pa.table({"doc_id": pa.array(list(map(str, doc_ids)), pa.string())})
    hashes = spark.createDataFrame(ids).select(F.xxhash64("doc_id")).collect()
    return sorted(
        {
            p["offset"] + h % p["salts"]  # Python % is pmod for salts > 0
            for p in plan
            # uniform plans carry source=NULL and match any doc
            if source is None or p["source"] in (source, None)
            for (h,) in hashes
        }
    )


def candidate_parts(
    spark: SparkSession,
    out_dir: str,
    doc_ids: list[str],
    source: str | None = None,
    snapshots: str = "all",
) -> list[int]:
    """Partitions that can contain the given doc ids, from the persisted
    plan: ``part_id = offset + pmod(xxhash64(doc_id), salts)`` — one
    candidate per (doc, source, plan) instead of the whole store.  Pass
    ``source`` when known (the common case — the caller knows which feed
    a doc came from): candidates collapse to exactly one per (doc, plan).

    ``snapshots`` names the snapshot set the lookup will decode (same
    semantics as :func:`decode_token_table`); the plan must COVER it —
    a store where an old snapshot predates plan support while newer
    encodes wrote plan rows would otherwise compute candidates from the
    newer plans only and silently miss docs living in the plan-less
    snapshot.  Coverage is validated against the manifest and a missing
    snapshot raises the same backfill error as a missing plan directory.
    """
    rows = _snapshot_rows(spark, out_dir, snapshots)
    return _candidates(spark, out_dir, rows, doc_ids, source)


def lookup_docs(
    spark: SparkSession,
    out_dir: str,
    doc_ids: list[str],
    snapshots: str = "latest",
    columns: list[str] | None = None,
    source: str | None = None,
    parts: list[int] | None = None,
) -> DataFrame:
    """Point lookup: decode ONLY the partitions that can contain the ids.

    The encode partitioning is a pure function of (source, doc_id) — the
    persisted plan replays it, so a k-id lookup against a store of P
    partitions decodes at most ``k × sources × snapshots`` partitions, not
    P (the hash-partitioned answer to what zone maps do for range-
    partitioned stores).  Candidate part ids across snapshots are unioned
    (a part id needed for one snapshot also selects the same id in
    others — superset, filtered by the doc-id IN filter below, so the
    result is exact).  Point lookups are by definition metadata-sized;
    for bulk id sets use a decode + join.
    ``source`` (when every requested id comes from that source) collapses
    candidates to one partition per (doc, plan).  ``parts`` lets a caller
    that already ran :func:`candidate_parts` skip recomputing them.
    """
    cols = columns
    if cols is not None and "doc_id" not in cols:
        cols = ["doc_id", *cols]
    rows = _snapshot_rows(spark, out_dir, snapshots)
    if parts is None:
        parts = _candidates(spark, out_dir, rows, doc_ids, source)
    decoded = _decode(spark, out_dir, rows, cols, parts)
    out = decoded.filter(F.col("doc_id").isin(list(map(str, doc_ids))))
    return out.select(*columns) if columns is not None else out


def verify_roundtrip(src: DataFrame, decoded: DataFrame) -> dict:
    """Distributed token-array equality check (north-rule invariant).

    Mirrors the reference's readback-fidelity check (its queries over
    written Parquet match golden outputs, ``docs/example_output.md``) but
    enforced exactly: every doc's token array must be bit-identical.
    """
    a = src.select(
        "doc_id",
        F.col("tokens").alias("_t_src"),
        F.col("source").alias("_s_src"),
    )
    b = decoded.select(
        "doc_id",
        F.col("tokens").alias("_t_dec"),
        F.col("source").alias("_s_dec"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    row = joined.agg(
        F.count("*").alias("n_union"),
        F.sum(
            F.when(
                F.col("_t_src").eqNullSafe(F.col("_t_dec"))
                & F.col("_s_src").eqNullSafe(F.col("_s_dec")),
                1,
            ).otherwise(0)
        ).alias("n_match"),
        F.sum(F.when(F.col("_t_src").isNull(), 1).otherwise(0)).alias("n_extra"),
        F.sum(F.when(F.col("_t_dec").isNull(), 1).otherwise(0)).alias("n_missing"),
    ).first()
    return {
        "n_union": row["n_union"],
        "n_match": row["n_match"],
        "n_extra_decoded": row["n_extra"],
        "n_missing_decoded": row["n_missing"],
        "ok": row["n_union"] == row["n_match"],
    }
