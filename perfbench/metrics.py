"""Every metric the benchmark reports: name, unit, direction, and for the
per-layer metrics the end-to-end metric each one should move.

``BENCHMARK.json`` at the root of the repository is generated from this
file (``python3 perfbench/run.py --write-benchmark-json``) and a test
keeps the two equal.
"""

from __future__ import annotations

import json

RUN_SECONDS = 8

WORKLOADS = {
    "repo_encode": (
        "Zipf-skewed string-only repo table through encode_pipeline with salting: "
        "string kernels, selector, skew-sample job and keyed shuffle; no decode, lineage or sink"
    ),
    "repo_scan": (
        "the same table encoded once before measuring, then a full decode and a predicate-pruned decode: "
        "decode kernels, decode exchange and prune_chunks; no encode or selection"
    ),
    "lineitem_persist": (
        "narrow numeric lineitem-shaped table: fresh EncodeJob.run, a resume run and write_parquet_dir: "
        "integer kernels, lineage commit and Parquet writer; little string work"
    ),
}

# End-to-end metrics gated by the benchmark.  Every workload reports
# each of them, so they are defined per workload:
#   setup_s     median of seven set-ups timed after the warm-up passes
#               (input checksum and codec presampling; for repo_scan the
#               checksums and the summary of the chunk table it scans)
#   pass_s      wall time of the engine calls of one measured pass
#               (repo_encode: encode; repo_scan: full + pruned decode;
#                lineitem_persist: store write + resume + sink)
#   plain_mb_s  PLAIN MB / wall time of the workload's main operation
#               (encode_mb_s, decode_mb_s, store-write MB/s)
#   cpu_s       CPU seconds of the driver JVM and Python workers per pass
#               (the engine calls and the Spark jobs of their checks),
#               less the JVM's JIT compiler threads: after the warm-up
#               they still took 0.6-2.6 s of a 4-7 s pass, up to twice
#               as much in one pass as in the next; they are the
#               per-layer jvm.jit_cpu_s instead
#   ratio       PLAIN bytes / chunk bytes of the workload's chunk table
#   peak_rss_mb peak memory in use by the driver over the timed set-ups
#               and passes: the Python workers' summed resident memory
#               plus the JVM heap still live after a full collection at
#               the end of each pass (see sparkenv.MemPeak)
# On a small shared VM wall times and CPU seconds both move with the
# host's load (CPU steal, busy neighbours), so they get the widest bounds.
# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("plain_mb_s", "MB/s", "higher", 0.25),
    ("cpu_s", "s", "lower", 0.2),
    ("ratio", "x", "higher", 0.05),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

# The metrics each workload is named after, printed by every run with
# their units.  Several of them exist on one workload
# only, so they are not gated one by one; pass_s and plain_mb_s carry
# them (name, unit).
WORKLOAD_TABLE = {
    "repo_encode": [
        ("setup_s", "s"), ("encode_mb_s", "MB/s"), ("ratio", "x"),
        ("ops_failed_frac", "frac"), ("peak_rss_mb", "MB"),
    ],
    "repo_scan": [
        ("setup_s", "s"), ("decode_mb_s", "MB/s"), ("pruned_decode_s", "s"),
        ("ops_failed_frac", "frac"), ("peak_rss_mb", "MB"),
    ],
    "lineitem_persist": [
        ("setup_s", "s"), ("store_write_s", "s"), ("resume_s", "s"), ("sink_s", "s"),
        ("ratio", "x"), ("sink_ratio", "x"), ("ops_failed_frac", "frac"), ("peak_rss_mb", "MB"),
    ],
}

REPO_COLUMNS = ["repo", "path", "commit", "lang", "content"]
LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_shipdate", "l_extendedprice", "l_returnflag", "l_linestatus",
]
# chunk codecs whose kernels the selector can pick for these tables
CODECS = ["plain", "dict", "rle", "for", "delta", "fsst", "lined", "alpha"]

_ENC = "encode_mb_s (repo_encode), store_write_s (lineitem_persist)"
_DEC = "decode_mb_s (repo_scan)"


def _per_layer() -> list[tuple[str, str, str, str]]:
    """(name, unit, better, end-to-end metric it should move)."""
    rows = [
        ("engine.skew_sample.s", "s", "lower", "encode_mb_s (repo_encode)"),
        ("engine.skew_sample.salt_buckets", "count", "higher", "encode_mb_s (repo_encode)"),
        ("engine.presample.s", "s", "lower", "setup_s"),
        ("engine.encode_stage.s", "s", "lower", _ENC),
        ("engine.encode_stage.cpu_s", "s", "lower", _ENC),
        ("engine.encode_stage.gc_s", "s", "lower", _ENC),
        ("engine.encode_stage.task_max_over_median", "x", "lower", _ENC),
        ("engine.shuffle.write_mb", "MB", "lower", _ENC),
        ("engine.shuffle.write_s", "s", "lower", _ENC),
        ("engine.shuffle.fetch_wait_s", "s", "lower", _ENC),
        ("engine.decode_stage.s", "s", "lower", _DEC),
        ("engine.decode_stage.tasks", "count", "higher", _DEC),
        ("engine.decode_stage.task_max_over_median", "x", "lower", _DEC),
        ("engine.prune.chunks_kept_frac", "frac", "lower", "pruned_decode_s (repo_scan)"),
    ]
    for side, moves in (("encode", _ENC), ("decode", _DEC)):
        rows += [
            (f"engine.bridge.{side}.sent_mb", "MB", "lower", moves),
            (f"engine.bridge.{side}.returned_mb", "MB", "lower", moves),
            (f"engine.bridge.{side}.python_run_s", "s", "lower", moves),
            (f"engine.bridge.{side}.python_init_s", "s", "lower", moves),
        ]
    for col in REPO_COLUMNS + LINEITEM_COLUMNS:
        rows += [
            (f"levels.shred_ms.{col}", "ms", "lower", _ENC),
            (f"selector.select_ms.{col}", "ms", "lower", _ENC),
            (f"chunk.serialize_ms.{col}", "ms", "lower", _ENC),
            (f"chunk.decode_ms.{col}", "ms", "lower", _DEC),
            (f"stats.chunk_stats_ms.{col}", "ms", "lower", _ENC),
            (f"chunk.codec_share.{col}", "frac", "higher", "ratio"),
            (f"chunk.ratio.{col}", "x", "higher", "ratio"),
        ]
    for codec in CODECS:
        rows += [
            (f"kernels.{codec}.encode_mb_s", "MB/s", "higher", _ENC),
            (f"kernels.{codec}.decode_mb_s", "MB/s", "higher", _DEC),
        ]
    store, resume = "store_write_s (lineitem_persist)", "resume_s (lineitem_persist)"
    rows += [
        ("lineage.encode_and_stage_write_s", "s", "lower", store),
        ("lineage.lineage_derive_s", "s", "lower", store),
        ("lineage.lineage_commit_s", "s", "lower", store),
        ("lineage.publish_rename_s", "s", "lower", store),
        ("lineage.resume_scan_s", "s", "lower", resume),
        ("lineage.bytes_written_mb", "MB", "lower", store),
        ("sink.write_s", "s", "lower", "sink_s (lineitem_persist)"),
        ("sink.files", "count", "lower", "sink_s (lineitem_persist)"),
        ("sink.bytes_mb", "MB", "lower", "sink_ratio (lineitem_persist)"),
        ("parquet_writer.write_table_mb_s", "MB/s", "higher", "sink_s (lineitem_persist)"),
        ("jvm.jit_cpu_s", "s", "lower", "none: JIT compiler CPU per pass, left out of cpu_s"),
        ("trace.overhead_frac", "frac", "lower", "none: traced vs untraced pass_s"),
        ("trace.unaccounted_frac", "frac", "lower", "none: pass wall not covered by spans or stages"),
    ]
    return rows


PER_LAYER = _per_layer()
PER_LAYER_NAMES = [r[0] for r in PER_LAYER]


def benchmark_json() -> str:
    doc = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }
    return json.dumps(doc, indent=2) + "\n"
