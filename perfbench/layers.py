"""Per-layer metrics of a traced run.

Every workload reports every metric; a layer a workload does not
exercise reads 0.  Per-call metrics are medians over the calls of that
kind in the traced phase.  ``phase.*`` metrics come from the untraced
phase of the same run, and ``tracing.overhead_frac.<metric>`` compares
the two phases: how much worse the traced phase measured each
end-to-end metric.
"""

from __future__ import annotations

import math
import statistics

from tracing import EventLog

E2E = [
    ("setup_s", "s", "lower"),
    ("write_p50_s", "s", "lower"),
    ("read_p50_s", "s", "lower"),
    ("lookup_p50_s", "s", "lower"),
    ("maint_p50_s", "s", "lower"),
    ("size_vs_reference", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
# the timed-call kind behind each *_p50_s metric
E2E_SAMPLES = {"write_p50_s": "write", "read_p50_s": "read", "lookup_p50_s": "lookup", "maint_p50_s": "maint"}

_CODECS = ("plain", "for", "delta", "rle", "dict", "varint", "vardict", "forblock", "empty", "zwrapped")
_BLOB_COLUMNS = ("tokens", "lengths", "docids", "sources")

PER_LAYER = [
    ("setup.session_s", "s", "lower"),
    ("setup.input_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("setup.reference_s", "s", "lower"),
    ("setup.expected_s", "s", "lower"),
    *[(f"tracing.overhead_frac.{n}", "frac", "lower") for n, _u, _b in E2E],
    ("phase.encode_tok_per_s", "tok/s", "higher"),
    ("phase.decode_tok_per_s", "tok/s", "higher"),
    ("phase.ingest_s", "s", "lower"),
    ("phase.cycle_s", "s", "lower"),
    ("phase.lookup_samples", "count", "higher"),
    ("phase.lookup_max_s", "s", "lower"),
    ("encode_job.stats_pass_s", "s", "lower"),
    ("encode_job.spark_jobs", "count", "lower"),
    ("encode_job.driver_self_s", "s", "lower"),
    ("encode_job.stage_wall_s", "s", "lower"),
    ("encode_job.stage_task_s", "s", "lower"),
    ("encode_job.stage_jvm_cpu_s", "s", "lower"),
    ("encode_job.spill_bytes", "B", "lower"),
    ("encode_job.shuffle_write_bytes", "B", "lower"),
    ("encode_job.shuffle_read_bytes", "B", "lower"),
    ("encode_job.task_skew", "ratio", "lower"),
    ("encode_job.kernel_s", "s", "lower"),
    ("encode_job.unattributed_task_s", "s", "lower"),
    ("encode_job.files_written", "count", "lower"),
    ("codecs.select_s", "s", "lower"),
    ("codecs.encode_int_s", "s", "lower"),
    ("codecs.zwrap_s", "s", "lower"),
    ("codecs.encode_strings_s", "s", "lower"),
    ("codecs.decode_int_s", "s", "lower"),
    ("codecs.decode_strings_s", "s", "lower"),
    ("codecs.micro_tokens", "count", "higher"),
    *[(f"codecs.mix.{c}", "count", "higher") for c in _CODECS],
    *[(f"codecs.bytes.{c}", "B", "lower") for c in _BLOB_COLUMNS],
    ("codecs.bytes_per_token", "B/tok", "lower"),
    ("decode_job.resolve_s", "s", "lower"),
    ("decode_job.spark_jobs", "count", "lower"),
    ("decode_job.stage_wall_s", "s", "lower"),
    ("decode_job.stage_task_s", "s", "lower"),
    ("decode_job.task_waves", "count", "lower"),
    ("decode_job.verify_s", "s", "lower"),
    ("decode_job.candidate_s", "s", "lower"),
    ("decode_job.candidate_parts", "count", "lower"),
    ("decode_job.lookup_spark_jobs", "count", "lower"),
    ("decode_job.lookup_decode_s", "s", "lower"),
    ("manifest.read_s", "s", "lower"),
    ("manifest.files", "count", "lower"),
    ("manifest.rows", "count", "lower"),
    ("maintenance.spark_jobs", "count", "lower"),
    ("maintenance.driver_self_s", "s", "lower"),
    ("maintenance.bytes_rewritten", "B", "lower"),
    ("maintenance.bytes_reclaimed", "B", "higher"),
    ("maintenance.files_before", "count", "lower"),
    ("maintenance.files_after", "count", "lower"),
    ("store.size_vs_reference.pre_compact", "ratio", "lower"),
    ("store.size_vs_reference.one_snapshot", "ratio", "lower"),
]


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


def overhead(name: str, better: str, untraced: dict, traced: dict) -> float:
    a, b = untraced[name], traced[name]
    if a <= 0 or b <= 0:
        return 0.0
    return b / a - 1.0 if better == "lower" else a / b - 1.0


def per_layer(
    traced,
    untraced,
    log: EventLog,
    session_s: float,
    untraced_e2e: dict,
    traced_e2e: dict,
    cores: int,
) -> dict[str, float]:
    """``traced`` and ``untraced`` are the two phases' ``workloads.Ctx``;
    ``session_s`` is the traced phase's session start."""
    tracer, facts, setup = traced.tracer, traced.facts, traced.setup
    phases, samples = untraced.phases, untraced.samples
    m: dict[str, float] = {name: 0.0 for name, _u, _b in PER_LAYER}

    m["setup.session_s"] = session_s
    for part in ("input", "warmup", "reference", "expected"):
        m[f"setup.{part}_s"] = setup.get(part, 0.0)
    for name, _u, better in E2E:
        m[f"tracing.overhead_frac.{name}"] = overhead(
            name, better, untraced_e2e, traced_e2e
        )

    for k in ("encode_tok_per_s", "decode_tok_per_s", "ingest_s", "cycle_s"):
        m[f"phase.{k}"] = _median(phases.get(k, []))
    lookups = samples.get("lookup", [])
    m["phase.lookup_samples"] = float(len(lookups))
    m["phase.lookup_max_s"] = max(lookups, default=0.0)
    m["store.size_vs_reference.pre_compact"] = _median(
        phases.get("size_pre_compact", [])
    )
    m["store.size_vs_reference.one_snapshot"] = facts.get("one_snapshot_size", 0.0)

    def walls(kind):
        return _median(s.wall for s in tracer.of(kind))

    # encode_job: one call = one encode_token_table
    enc = tracer.of("encode")
    enc_stats = [log.call_stats(s) for s in enc]
    m["encode_job.stats_pass_s"] = walls("probe.stats_pass")
    for key in (
        "spark_jobs", "driver_self_s", "stage_wall_s", "stage_task_s",
        "stage_jvm_cpu_s", "spill_bytes", "shuffle_write_bytes",
        "shuffle_read_bytes", "task_skew",
    ):
        m[f"encode_job.{key}"] = _median(st[key] for st in enc_stats)
    m["encode_job.kernel_s"] = _median(s.info.get("kernel_s") for s in enc)
    m["encode_job.unattributed_task_s"] = _median(
        st["stage_task_s"] - s.info.get("kernel_s", 0.0)
        for s, st in zip(enc, enc_stats)
    )
    m["encode_job.files_written"] = _median(s.info.get("files_written") for s in enc)

    micro = facts.get("codecs", {})
    for key in (
        "select_s", "encode_int_s", "zwrap_s", "encode_strings_s",
        "decode_int_s", "decode_strings_s",
    ):
        m[f"codecs.{key}"] = micro.get(key, 0.0)
    m["codecs.micro_tokens"] = float(micro.get("tokens", 0))
    store = facts.get("store", {})
    for c in _CODECS:
        m[f"codecs.mix.{c}"] = float(store.get("codecs", {}).get(c, 0))
    nbytes = store.get("bytes", {})
    for c in _BLOB_COLUMNS:
        m[f"codecs.bytes.{c}"] = float(nbytes.get(c, 0))
    if store.get("tokens"):
        m["codecs.bytes_per_token"] = sum(nbytes.values()) / store["tokens"]

    dec = tracer.of("decode")
    dec_stats = [log.call_stats(s) for s in dec]
    m["decode_job.resolve_s"] = walls("probe.resolve")
    for key in ("spark_jobs", "stage_wall_s", "stage_task_s"):
        m[f"decode_job.{key}"] = _median(st[key] for st in dec_stats)
    m["decode_job.task_waves"] = _median(
        math.ceil(st["heaviest_stage_tasks"] / cores) for st in dec_stats
    )
    m["decode_job.verify_s"] = walls("verify")
    m["decode_job.candidate_s"] = walls("probe.candidates")
    m["decode_job.candidate_parts"] = _median(facts.get("candidate_parts", []))
    m["decode_job.lookup_spark_jobs"] = _median(
        len(log.jobs_of(s.group)) for s in tracer.of("lookup")
    )
    m["decode_job.lookup_decode_s"] = walls("probe.lookup_decode")

    m["manifest.read_s"] = walls("probe.manifest_read")
    m["manifest.files"] = _median(facts.get("manifest_files", []))
    m["manifest.rows"] = _median(facts.get("manifest_rows", []))

    comp = tracer.of("compact")
    comp_stats = [log.call_stats(s) for s in comp]
    m["maintenance.spark_jobs"] = _median(st["spark_jobs"] for st in comp_stats)
    m["maintenance.driver_self_s"] = _median(st["driver_self_s"] for st in comp_stats)
    for key in ("bytes_rewritten", "bytes_reclaimed", "files_before", "files_after"):
        m[f"maintenance.{key}"] = _median(s.info.get(key) for s in comp)
    return m
