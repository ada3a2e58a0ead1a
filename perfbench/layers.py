"""Per-layer metrics of a traced run: spans and event-log stages of each
traced pass, the chunk tables the passes produced, and the replay."""

from __future__ import annotations

import statistics

from perfbench.ledger import Stage, covered_seconds
from perfbench.metrics import PER_LAYER_NAMES

# span of the Spark action whose stages hold each side's Python stage
ENCODE_OP = {"repo_encode": "encode.collect", "lineitem_persist": "EncodeJob.run"}
DECODE_OP = {"repo_scan": "decode.collect"}


def _stage_metrics(prefix: str, side: str, stages: list[Stage]) -> dict[str, float]:
    """Stage and Python-bridge metrics of the stages of one action."""
    py = [s for s in stages if s.python]
    rest = [s for s in stages if not s.python]
    out = {
        f"engine.{prefix}.s": sum(s.seconds for s in py),
        f"engine.{prefix}.task_max_over_median": max((s.task_max_over_median() for s in py), default=0.0),
        f"engine.bridge.{side}.sent_mb": sum(s.acc("data sent to Python workers") for s in py) / 1e6,
        f"engine.bridge.{side}.returned_mb": sum(s.acc("data returned from Python workers") for s in py) / 1e6,
        f"engine.bridge.{side}.python_run_s": sum(s.acc("time to run Python workers") for s in py) / 1e3,
        f"engine.bridge.{side}.python_init_s": sum(s.acc("time to initialize Python workers") for s in py) / 1e3,
    }
    if side == "encode":
        out.update({
            "engine.encode_stage.cpu_s": sum(s.acc("internal.metrics.executorCpuTime") for s in py) / 1e9,
            "engine.encode_stage.gc_s": sum(s.acc("internal.metrics.jvmGCTime") for s in py) / 1e3,
            "engine.shuffle.write_mb": sum(s.acc("internal.metrics.shuffle.write.bytesWritten") for s in rest) / 1e6,
            "engine.shuffle.write_s": sum(s.acc("internal.metrics.shuffle.write.writeTime") for s in rest) / 1e9,
            "engine.shuffle.fetch_wait_s": sum(s.acc("internal.metrics.shuffle.read.fetchWaitTime") for s in py) / 1e3,
        })
    else:
        out["engine.decode_stage.tasks"] = float(sum(s.num_tasks for s in py))
    return out


def _chunk_metrics(summary) -> dict[str, float]:
    """codec_share (share of the column's chunks under its most used
    codec) and ratio per column, from the rows of a chunk table's
    ``size_report``."""
    cols: dict[str, list] = {}
    for r in summary:
        c = cols.setdefault(r["column"], [0, 0, 0, 0])
        c[0] = max(c[0], r["n_chunks"])
        c[1] += r["n_chunks"]
        c[2] += r["plain_bytes"]
        c[3] += r["encoded_bytes"]
    out = {}
    for col, (top, total, plain, encoded) in cols.items():
        out[f"chunk.codec_share.{col}"] = top / max(total, 1)
        out[f"chunk.ratio.{col}"] = plain / max(encoded, 1)
    return out


def _pass_metrics(wl, b, rec: dict, stages: list[Stage]) -> dict[str, float]:
    root = rec["span"]
    label = root.label
    mine = [s for s in stages if s.label and s.label.startswith(label + "/")]
    out: dict[str, float] = {}
    if wl.name in ENCODE_OP:
        op = f"{label}/{ENCODE_OP[wl.name]}"
        out.update(_stage_metrics("encode_stage", "encode", [s for s in mine if s.label == op]))
        # executorCpuTime covers the JVM task threads only; the encode
        # kernels run in the Python workers, measured around the action
        out["engine.encode_stage.cpu_s"] += sum(
            s.python_cpu_s for s in b.tracer.spans if s.label == op
        )
    if wl.name in DECODE_OP:
        op = f"{label}/{DECODE_OP[wl.name]}"
        out.update(_stage_metrics("decode_stage", "decode", [s for s in mine if s.label == op]))
    if "skew_sample_s" in rec:
        out["engine.skew_sample.s"] = rec["skew_sample_s"]
        out["engine.skew_sample.salt_buckets"] = float(rec["salt_buckets"])
    if "lineage" in rec:
        for key, value in rec["lineage"].items():
            out["lineage." + key.replace("_sec", "_s")] = value
        out["lineage.bytes_written_mb"] = rec["store_mb"]
        out["sink.write_s"] = rec["sink_s"]
        out["sink.files"] = float(rec["sink_files"])
        out["sink.bytes_mb"] = rec["sink_mb"]
    out.update(_chunk_metrics(rec["summary"]))
    out["jvm.jit_cpu_s"] = rec["jit_s"]
    children = [s for s in b.tracer.spans if s.start >= root.start and s.end <= root.end and s is not root]
    intervals = [(s.start, s.end) for s in children] + [(s.submitted, s.completed) for s in mine]
    wall = root.seconds
    out["trace.unaccounted_frac"] = 1 - covered_seconds(intervals, root.start, root.end) / wall
    return out


def layer_metrics(wl, b, passes: list[dict], stages: list[Stage], replayed: dict) -> dict[str, float]:
    """Every per-layer metric (0 where the workload does not use the
    layer): medians over the traced passes, plus set-up and replay."""
    values = {name: 0.0 for name in PER_LAYER_NAMES}
    per_pass = [_pass_metrics(wl, b, rec, stages) for rec in passes]
    for key in {k for m in per_pass for k in m}:
        values[key] = float(statistics.median(m[key] for m in per_pass if key in m))
    presample = [s.seconds for s in b.tracer.spans if s.name == "presample_codecs"]
    if presample:
        values["engine.presample.s"] = presample[-1]
    values.update(replayed)
    unknown = set(values) - set(PER_LAYER_NAMES)
    if unknown:
        raise KeyError(f"metrics not declared in perfbench/metrics.py: {sorted(unknown)}")
    return values
