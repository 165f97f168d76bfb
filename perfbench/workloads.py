"""The two workloads: set-up, one closed-loop cycle, and the probes the
traced run adds.

One client, closed loop: the next call starts when the previous one has
finished and been checked.  Every cycle writes to a fresh store directory
and builds its DataFrames afresh, because re-executing one DataFrame
lineage in a session reuses its shuffle output.

Both workloads make the same four kinds of timed call, so every
end-to-end metric is measured on both: ``write`` (one
``encode_token_table``), ``read`` (one full decode consumed by a Spark
aggregate), ``lookup`` (one 3-id ``lookup_docs``, source unknown) and
``maint`` (one ``compact_store``).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_sql_duckdb_parquet__spark.codecs import (
    decode_int,
    decode_strings,
    encode_strings,
    select_int_codec,
)
from etl_sql_duckdb_parquet__spark.codecs.core import (
    encode_int_best_with_stats,
    zwrap_best,
)
from etl_sql_duckdb_parquet__spark.encode import (
    candidate_parts,
    compact_store,
    decode_token_table,
    encode_token_table,
    lookup_docs,
    read_manifest,
    synth_token_table,
    tokenize_documents,
    verify_roundtrip,
)
from etl_sql_duckdb_parquet__spark.encode.decode_job import winning_blobs
from etl_sql_duckdb_parquet__spark.encode.encode_job import input_stats

# bulk_synth input: ~6.3M tokens, 70% of docs in one source
BULK_DOCS = 24_000
# 8 partitions (2 per core): 5 salts for the hot source, 1 per other source
BULK_TARGET_TOKENS = 1_000_000
LOOKUP_IDS = 3
LOOKUP_POOL = 400  # lookups whose ids (and expected rows) set-up prepares
EPOCHS = 8
# epochs_compact input: a seeded replica of the sf0.1 documents table —
# 5,000 docs of 10-100 words drawn uniformly from a 30-word vocabulary,
# sources src0..src19 round-robin
DOC_COUNT = 5_000
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MICRO_REPEATS = 5


def dir_bytes(path: str) -> int:
    """Data-file bytes under ``path`` (hidden and ``_`` files excluded),
    counted the way ``bench.py`` counts store and reference sizes."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith(("_", "."))
        )
    return total


def data_files(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def consume(df) -> dict:
    """Run a full decode to completion inside the timed region: one Spark
    aggregate that reads every decoded column."""
    row = df.agg(
        F.count("doc_id").alias("docs"),
        F.sum(F.size("tokens")).alias("tokens"),
        F.sum("n_tok").alias("n_tok"),
        F.count("source").alias("sources"),
    ).first()
    return row.asDict()


@dataclass
class Ctx:
    """State of one measured phase (one Spark session)."""

    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    setup: dict = field(default_factory=dict)  # part -> seconds
    samples: dict = field(default_factory=dict)  # write/read/lookup/maint -> [s]
    phases: dict = field(default_factory=dict)  # per-call and per-cycle figures
    facts: dict = field(default_factory=dict)  # layer facts for the trace
    _dirs: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{name}-{self._dirs}")

    def sample(self, kind: str, wall: float) -> None:
        self.samples.setdefault(kind, []).append(wall)

    def phase(self, kind: str, value: float) -> None:
        self.phases.setdefault(kind, []).append(value)

    def fact(self, key: str, value) -> None:
        self.facts.setdefault(key, []).append(value)


def timed_setup(ctx: Ctx, part: str, fn):
    with ctx.tracer.span(f"setup.{part}") as s:
        out = fn()
    ctx.setup[part] = s.wall
    return out


def write_reference(ctx: Ctx, df) -> int:
    """ZSTD Parquet of the same table, written the way ``bench.py`` does."""
    ref = os.path.join(ctx.work, "reference")
    df.write.mode("overwrite").option("compression", "zstd").parquet(ref)
    return dir_bytes(ref)


def expected_rows(df, ids: list[str]) -> dict:
    rows = df.filter(F.col("doc_id").isin(ids)).collect()
    return {r.doc_id: (r.doc_id, tuple(r.tokens), r.n_tok, r.source) for r in rows}


def lookup_ok(rows, expected: dict, ids: list[str]) -> bool:
    got = sorted((r.doc_id, tuple(r.tokens), r.n_tok, r.source) for r in rows)
    return got == sorted(expected[i] for i in ids)


def ok_manifest(store: str) -> pa.Table:
    """The store's committed manifest rows, read in this process with pyarrow."""
    man = pq.read_table(os.path.join(store, "manifest"))
    return man.filter(pc.equal(man["status"], "ok"))


def store_facts(store: str) -> dict:
    """Codec mix and per-column bytes of a store's live blobs."""
    man = ok_manifest(store)
    used = man["codec"].to_pylist()
    mix: dict[str, int] = {}
    for c in used:
        mix[c.removesuffix("+z")] = mix.get(c.removesuffix("+z"), 0) + 1
    mix["zwrapped"] = sum(c.endswith("+z") for c in used)
    cols = ("tokens_blob", "lengths_blob", "docids_blob", "sources_blob")
    blobs = pq.read_table(os.path.join(store, "blobs"), columns=list(cols))
    return {
        "codecs": mix,
        "bytes": {
            c.split("_")[0]: int(pc.sum(pc.binary_length(blobs[c])).as_py() or 0)
            for c in cols
        },
        "tokens": int(pc.sum(man["n_tokens"]).as_py() or 0),
        "largest_part": man.sort_by([("n_tokens", "descending")])["part_id"][0].as_py(),
    }


def run_facts(store: str, run_id: str) -> dict:
    """What one encode run left in the store: summed kernel seconds from
    its manifest rows, and its blob file count."""
    man = ok_manifest(store)
    mine = man.filter(pc.equal(man["run_id"], run_id))
    return {
        "kernel_s": float(pc.sum(mine["encode_s"]).as_py() or 0.0),
        "files_written": data_files(os.path.join(store, "blobs", f"run_id={run_id}")),
    }


def codecs_micro(ctx: Ctx, store: str, part_id: int) -> None:
    """Warm, in-process, best-of-N calls of the public codec functions on
    one partition of the store, pulled into this process; each decode must
    return its input bit-identically."""
    tbl = decode_token_table(ctx.spark, store, parts=[part_id]).toArrow()
    values = tbl.column("tokens").combine_chunks().flatten().to_numpy().astype(np.int64)
    ids = tbl.column("doc_id").to_pylist()
    sources = tbl.column("source").to_pylist()

    def best(fn):
        out, best_s = None, float("inf")
        for _ in range(MICRO_REPEATS):
            t0 = time.perf_counter()
            out = fn()
            best_s = min(best_s, time.perf_counter() - t0)
        return out, best_s

    res = {"tokens": len(values)}
    _, res["select_s"] = best(lambda: select_int_codec(values))
    (raw, _stats), res["encode_int_s"] = best(lambda: encode_int_best_with_stats(values))
    tok_blob, res["zwrap_s"] = best(lambda: zwrap_best(raw))
    (id_blob, src_blob), res["encode_strings_s"] = best(
        lambda: (zwrap_best(encode_strings(ids)), zwrap_best(encode_strings(sources)))
    )
    dec, res["decode_int_s"] = best(lambda: decode_int(tok_blob))
    (dec_ids, dec_src), res["decode_strings_s"] = best(
        lambda: (decode_strings(id_blob), decode_strings(src_blob))
    )
    ctx.check(
        np.array_equal(dec, values) and dec.dtype == values.dtype,
        "codecs: decode_int is not bit-identical",
    )
    ctx.check(dec_ids == ids and dec_src == sources, "codecs: decode_strings differs")
    ctx.facts["codecs"] = res


class Workload:
    name = ""
    snapshots = "latest"  # what reads and lookups of this workload decode
    n_docs = 0

    def build_input(self, ctx: Ctx):
        """The cached input table; returns (df, total tokens)."""
        raise NotImplementedError

    def doc_id(self, i: int) -> str:
        raise NotImplementedError

    def cycle(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def setup(self, ctx: Ctx) -> None:
        self.df, self.tokens = timed_setup(ctx, "input", lambda: self.build_input(ctx))
        self.ref_bytes = timed_setup(ctx, "reference", lambda: write_reference(ctx, self.df))
        rng = np.random.default_rng(ctx.seed)
        drawn = rng.choice(self.n_docs, LOOKUP_POOL * LOOKUP_IDS, replace=False)
        self.pool = [
            [self.doc_id(i) for i in drawn[k : k + LOOKUP_IDS]]
            for k in range(0, len(drawn), LOOKUP_IDS)
        ]
        self.expected = timed_setup(
            ctx, "expected", lambda: expected_rows(self.df, [i for p in self.pool for i in p])
        )
        self.next_ids = 0
        self.last_store = None
        timed_setup(ctx, "warmup", lambda: self.warm_up(ctx))

    def warm_up(self, ctx: Ctx) -> None:
        """One untimed one-snapshot cycle over the full input: the first
        full-size encode, decode and lookup of a session run several
        times slower than later ones (JIT, Python worker start)."""
        self.one_snapshot_cycle(ctx)
        self.one_snapshot_size = self.size_vs_reference
        ctx.samples.clear()
        ctx.phases.clear()
        ctx.tracer.spans.clear()

    def take_ids(self) -> list[str]:
        ids = self.pool[self.next_ids % LOOKUP_POOL]
        self.next_ids += 1
        return ids

    def measure(self, ctx: Ctx) -> None:
        """Closed loop: whole cycles until ``seconds`` have passed, at least
        one.  A cycle that raises counts as a failed operation."""
        t_end = time.perf_counter() + ctx.seconds
        while True:
            try:
                self.cycle(ctx)
            except Exception:
                traceback.print_exc()
                ctx.check(False, f"{self.name} cycle raised")
            if time.perf_counter() >= t_end:
                return

    def keep(self, store: str) -> None:
        """Keep the latest store for the probes; drop the one before."""
        if self.last_store is not None:
            shutil.rmtree(self.last_store)
        self.last_store = store
        self.size_vs_reference = dir_bytes(os.path.join(store, "blobs")) / self.ref_bytes

    def write(self, ctx: Ctx, df, store: str, tokens: int, **kw) -> float:
        with ctx.tracer.span("encode") as s:
            st = encode_token_table(ctx.spark, df, store, **kw)
        # a resume no-op must not pass as a fast encode
        ctx.check(
            st["n_parts_skipped_resume"] == 0 and st["n_tokens"] == tokens,
            f"encode stats {st}",
        )
        if ctx.tracer.enabled:
            s.info.update(run_facts(store, st["run_id"]))
        ctx.sample("write", s.wall)
        ctx.phase("encode_tok_per_s", tokens / s.wall)
        return s.wall

    def read(self, ctx: Ctx, store: str) -> float:
        with ctx.tracer.span("decode") as s:
            row = consume(decode_token_table(ctx.spark, store, snapshots=self.snapshots))
        want = {"docs": self.n_docs, "tokens": self.tokens, "n_tok": self.tokens, "sources": self.n_docs}
        ctx.check(row == want, f"decode totals {row} != {want}")
        ctx.sample("read", s.wall)
        ctx.phase("decode_tok_per_s", self.tokens / s.wall)
        return s.wall

    def verify(self, ctx: Ctx, store: str, snapshots: str) -> None:
        with ctx.tracer.span("verify"):
            v = verify_roundtrip(
                self.df, decode_token_table(ctx.spark, store, snapshots=snapshots)
            )
        ctx.check(v["n_match"] == v["n_union"] == self.n_docs, f"round trip {v}")

    def lookup(self, ctx: Ctx, store: str) -> float:
        ids = self.take_ids()
        with ctx.tracer.span("lookup") as s:
            rows = lookup_docs(ctx.spark, store, ids, snapshots=self.snapshots).collect()
        ctx.check(lookup_ok(rows, self.expected, ids), f"lookup rows for {ids}")
        ctx.sample("lookup", s.wall)
        return s.wall

    def maintain(self, ctx: Ctx, store: str):
        with ctx.tracer.span("compact") as s:
            res = compact_store(ctx.spark, store)
        ctx.sample("maint", s.wall)
        return s, res

    def one_snapshot_cycle(self, ctx: Ctx, **encode_kw) -> None:
        """Encode the whole input as one snapshot into a fresh store, read
        it fully, look 3 ids up, run maintenance (a no-op on a
        one-snapshot store) and verify the round trip."""
        store = ctx.fresh_dir("store")
        wall = self.write(ctx, self.df, store, self.tokens, **encode_kw)
        wall += self.read(ctx, store)
        wall += self.lookup(ctx, store)
        span, res = self.maintain(ctx, store)
        ctx.check(res == {"compacted": False, "n_snapshots": 1}, f"maintenance {res}")
        self.verify(ctx, store, "latest")
        ctx.phase("ingest_s", ctx.samples["write"][-1])
        ctx.phase("cycle_s", wall + span.wall)
        self.keep(store)

    # -- traced run only ------------------------------------------------

    def probe_store(self, ctx: Ctx, store: str) -> None:
        """Metadata probes against a store as the workload reads it."""
        spark, tr = ctx.spark, ctx.tracer
        ids = self.take_ids()
        with tr.span("probe.resolve"):
            winning_blobs(spark, store, self.snapshots)
        with tr.span("probe.candidates"):
            parts = candidate_parts(spark, store, ids, snapshots=self.snapshots)
        ctx.fact("candidate_parts", len(parts))
        with tr.span("probe.lookup_decode"):
            rows = lookup_docs(
                spark, store, ids, snapshots=self.snapshots, parts=parts
            ).collect()
        ctx.check(lookup_ok(rows, self.expected, ids), "probe lookup rows")
        with tr.span("probe.manifest_read"):
            n = read_manifest(spark, store).count()
        ctx.fact("manifest_rows", n)
        ctx.fact("manifest_files", data_files(os.path.join(store, "manifest")))

    def probes(self, ctx: Ctx) -> None:
        """Layer probes after the loop: the stats pass, the store facts and
        the codec microbenchmark on the store's largest partition."""
        with ctx.tracer.span("probe.stats_pass"):
            input_stats(self.df)
        ctx.facts["one_snapshot_size"] = self.one_snapshot_size
        facts = store_facts(self.last_store)
        ctx.facts["store"] = facts
        codecs_micro(ctx, self.last_store, facts["largest_part"])


class BulkSynth(Workload):
    """One-snapshot cycles over the synthetic table, 8 partitions."""

    name = "bulk_synth"
    n_docs = BULK_DOCS

    def build_input(self, ctx: Ctx):
        df = synth_token_table(ctx.spark, BULK_DOCS, seed=ctx.seed).cache()
        return df, df.agg(F.sum("n_tok")).first()[0]

    def doc_id(self, i: int) -> str:
        return f"doc_{i:012d}"

    def one_snapshot_cycle(self, ctx: Ctx) -> None:
        super().one_snapshot_cycle(ctx, target_tokens=BULK_TARGET_TOKENS)

    cycle = one_snapshot_cycle

    def probes(self, ctx: Ctx) -> None:
        self.probe_store(ctx, self.last_store)
        super().probes(ctx)


def write_documents(path: str, seed: int) -> None:
    """The seeded replica of the sf0.1 ``documents.parquet``."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, DOC_COUNT)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    text = [" ".join(words[e - n : e]) for n, e in zip(lens, ends)]
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(DOC_COUNT, dtype=np.int64),
                "text": text,
                "source": [f"src{i % 20}" for i in range(DOC_COUNT)],
            }
        ),
        os.path.join(path, "documents.parquet"),
    )


class EpochsCompact(Workload):
    """Append 8 doc-id-hash epochs to one store, read every snapshot, look
    ids up across the snapshots, compact (merge + vacuum) and verify both
    the 8-snapshot and the compacted store."""

    name = "epochs_compact"
    snapshots = "all"
    n_docs = DOC_COUNT

    def build_input(self, ctx: Ctx):
        docs = os.path.join(ctx.work, "documents")
        write_documents(docs, ctx.seed)
        df = tokenize_documents(ctx.spark, docs).cache()
        self.epoch = F.pmod(F.xxhash64("doc_id"), F.lit(EPOCHS))
        self.epoch_tokens = dict(
            df.groupBy(self.epoch.alias("e")).agg(F.sum("n_tok")).collect()
        )
        return df, sum(self.epoch_tokens.values())

    def doc_id(self, i: int) -> str:
        return f"doc_{i:010d}"

    def cycle(self, ctx: Ctx) -> None:
        store = ctx.fresh_dir("epochs")
        ingest = sum(
            self.write(
                ctx,
                self.df.filter(self.epoch == e),
                store,
                self.epoch_tokens.get(e, 0),
                snapshot_salt=f"epoch{e}",
            )
            for e in range(EPOCHS)
        )
        wall = ingest + self.read(ctx, store)
        self.verify(ctx, store, "all")
        wall += self.lookup(ctx, store)
        blobs = os.path.join(store, "blobs")
        pre_bytes, files_before = dir_bytes(blobs), data_files(blobs)
        if ctx.tracer.enabled:
            self.probe_store(ctx, store)
        span, res = self.maintain(ctx, store)
        ctx.check(
            res.get("compacted") and res.get("n_snapshots_merged") == EPOCHS,
            f"compact result {res}",
        )
        self.verify(ctx, store, "latest")
        if ctx.tracer.enabled:
            span.info.update(
                bytes_rewritten=dir_bytes(
                    os.path.join(blobs, f"run_id={res['encode_run_id']}")
                ),
                bytes_reclaimed=res["vacuum"]["bytes_reclaimed"],
                files_before=files_before,
                files_after=data_files(blobs),
            )
        ctx.phase("ingest_s", ingest)
        ctx.phase("cycle_s", wall + span.wall)
        ctx.phase("size_pre_compact", pre_bytes / self.ref_bytes)
        self.keep(store)


WORKLOADS = {w.name: w for w in (BulkSynth, EpochsCompact)}
