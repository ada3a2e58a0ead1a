"""The three benchmark workloads and the per-run state they share.

Each workload writes its input once (``materialize``; for the scan
also the chunk table it reads), then has a set-up (``setup``: what must
happen before a pass can run, such as the input checksum the checks
need or codec presampling) and a measured pass made of calls into the
engine's public functions.  Every call and every Spark action runs
inside a span; every result is checked and counted in ``attempted`` /
``failed``.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import traceback

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from cpp_parquet_spark.engine import (
    decode_dataframe, encode_pipeline, presample_codecs, prune_chunks, size_report,
)
from cpp_parquet_spark.lineage import EncodeJob
from cpp_parquet_spark.sink import write_parquet_dir

from perfbench import inputs
from perfbench.ledger import Tracer
from perfbench.metrics import LINEITEM_COLUMNS, REPO_COLUMNS
from perfbench.sparkenv import jvm_pid, python_cpu_seconds

# rows per table: full runs, and the tiny smoke mode of the tests.  At
# local[4], 36k repo rows (~90 MB PLAIN) take ~1.6 s per encode pass and
# 120k lineitem rows ~2.5 s per persist pass, so a 10 s run holds 3-7
# measured passes and a run with its set-up stays near 40 s; a 325k-row
# repo table takes ~6 s per pass, too long for a median within a run.
ROWS = {"repo": 36_000, "lineitem": 120_000}
SMOKE_ROWS = {"repo": 3_000, "lineitem": 8_000}

# the pruned decode keeps one mid-popularity repo; every seed has it
PRUNE_REPO = "org7/repo107"


class OpFailed(Exception):
    """An engine call raised or its output failed a check."""


class Bench:
    """State of one benchmark run on one Spark session."""

    def __init__(self, spark, work: str, seed: int, smoke: bool, label_jobs: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rows = SMOKE_ROWS if smoke else ROWS
        self.k = spark.sparkContext.defaultParallelism
        self.tracer = Tracer(spark, label_jobs)
        self.jvm = jvm_pid()
        # ops whose span also records the CPU time of the Python workers
        self.python_cpu_ops: set[str] = set()
        self.attempted = 0
        self.failed = 0
        self.label = "setup"
        # passes started, for labels that stay unique over the run
        self.passes_run = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def span(self, name: str):
        return self.tracer.span(name, f"{self.label}/{name}")

    def op(self, name: str, fn, check=None):
        """Run one engine call (or action) in a span, then its check in a
        ``check.<name>`` span.  Returns (result, seconds of the call)."""
        self.attempted += 1
        try:
            with self.span(name) as sp:
                if name in self.python_cpu_ops:
                    cpu0 = python_cpu_seconds(self.jvm)
                    out = fn()
                    sp.python_cpu_s = python_cpu_seconds(self.jvm) - cpu0
                else:
                    out = fn()
            if check is not None:
                with self.span(f"check.{name}"):
                    problem = check(out)
                if problem:
                    raise OpFailed(f"{name}: {problem}")
        except Exception as exc:  # noqa: BLE001 - count it and abandon the pass
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(name) from exc
        return out, sp.seconds


def salt_buckets(chunks) -> int:
    """Salt buckets ``encode_pipeline`` chose for the skewed keys of this
    chunk table (0 when it salted none), read from the repartition in
    its plan: ``map(key, n, key, n, ...)`` of the keys and their counts."""
    plan = chunks._jdf.queryExecution().analyzed().toString()
    for line in plan.splitlines():
        if "RepartitionByExpression" in line:
            pairs = re.findall(r"map\(([^()]*)\)", line)
            return sum(int(n) for m in pairs for n in m.split(", ")[1::2])
    return 0


def row_total_problem(summary, columns: list[str], n: int) -> str | None:
    """Chunk-table row totals must equal the input row count per column.
    ``summary`` holds the rows of ``size_report`` of the chunk table."""
    totals = {c: 0 for c in columns}
    for r in summary:
        totals[r["column"]] = totals.get(r["column"], 0) + r["rows"]
    bad = {c: t for c, t in totals.items() if t != n}
    return f"chunk row totals {bad} != {n}" if bad else None


def plain_and_encoded(summary) -> tuple[int, int]:
    return sum(r["plain_bytes"] for r in summary), sum(r["encoded_bytes"] for r in summary)


class Workload:
    name = ""
    table = ""
    columns: list[str] = []

    def input_dir(self, b: Bench) -> str:
        return b.path(f"input_{self.name}")

    def materialize(self, b: Bench) -> None:
        gen = inputs.repo_table if self.table == "repo" else inputs.lineitem_table
        with b.span("materialize"):
            inputs.write_parts(gen(b.rows[self.table], b.seed), self.input_dir(b), b.k)

    def setup(self, b: Bench) -> None:
        self.df = b.spark.read.parquet(self.input_dir(b))
        with b.span("checksum"):
            self.expect = inputs.checksum(self.df, self.columns)
        self.n = self.expect[0]

    def checksum_problem(self, got, expect) -> str | None:
        return None if tuple(got) == tuple(expect) else f"checksum {got} != {expect}"


class RepoEncode(Workload):
    name, table, columns = "repo_encode", "repo", REPO_COLUMNS

    def setup(self, b: Bench) -> None:
        super().setup(b)
        self.hints, _ = b.op("presample_codecs", lambda: presample_codecs(self.df))

    def run_pass(self, b: Bench) -> dict:
        chunks, t_call = b.op(
            "encode_pipeline", lambda: encode_pipeline(self.df, codec_hints=self.hints)
        )
        summary, t_act = b.op(
            "encode.collect",
            lambda: size_report(chunks).collect(),
            lambda s: row_total_problem(s, self.columns, self.n),
        )
        plain, encoded = plain_and_encoded(summary)
        encode_s = t_call + t_act
        return {
            "pass_s": encode_s,
            "plain_mb_s": plain / 1e6 / encode_s,
            "ratio": plain / encoded,
            "encode_mb_s": plain / 1e6 / encode_s,
            "skew_sample_s": t_call,
            "salt_buckets": salt_buckets(chunks),
            "summary": summary,
        }


class RepoScan(Workload):
    name, table, columns = "repo_scan", "repo", REPO_COLUMNS

    def materialize(self, b: Bench) -> None:
        """The input, and once the chunk table every pass scans."""
        super().materialize(b)
        df = b.spark.read.parquet(self.input_dir(b))
        hints, _ = b.op("presample_codecs", lambda: presample_codecs(df))
        b.op(
            "encode_pipeline.write",
            lambda: encode_pipeline(df, codec_hints=hints).write.mode("overwrite").parquet(
                b.path("repo_chunks")
            ),
        )

    def setup(self, b: Bench) -> None:
        super().setup(b)
        self.chunks = b.spark.read.parquet(b.path("repo_chunks"))
        with b.span("size_report"):
            self.summary = size_report(self.chunks).collect()
        if row_total_problem(self.summary, self.columns, self.n):
            raise RuntimeError(row_total_problem(self.summary, self.columns, self.n))
        with b.span("checksum"):
            self.expect_pruned = inputs.checksum(
                self.df.filter(F.col("repo") == PRUNE_REPO), self.columns
            )
        self.plain, self.encoded = plain_and_encoded(self.summary)

    def pruned(self):
        return prune_chunks(self.chunks, self.df.schema, "repo", lower=PRUNE_REPO, upper=PRUNE_REPO)

    def run_pass(self, b: Bench) -> dict:
        schema = self.df.schema
        dec, t_call = b.op("decode_dataframe", lambda: decode_dataframe(self.chunks, schema))
        _, t_act = b.op(
            "decode.collect",
            lambda: inputs.checksum(dec, self.columns),
            lambda got: self.checksum_problem(got, self.expect),
        )
        kept, t_prune = b.op("prune_chunks", self.pruned)
        pdec, t_pcall = b.op("decode_dataframe.pruned", lambda: decode_dataframe(kept, schema))
        _, t_pact = b.op(
            "pruned_decode.collect",
            lambda: inputs.checksum(pdec.filter(F.col("repo") == PRUNE_REPO), self.columns),
            lambda got: self.checksum_problem(got, self.expect_pruned),
        )
        decode_s = t_call + t_act
        pruned_s = t_prune + t_pcall + t_pact
        return {
            "pass_s": decode_s + pruned_s,
            "plain_mb_s": self.plain / 1e6 / decode_s,
            "ratio": self.plain / self.encoded,
            "decode_mb_s": self.plain / 1e6 / decode_s,
            "pruned_decode_s": pruned_s,
            "summary": self.summary,
        }

    def kept_frac(self, b: Bench) -> float:
        """Share of (part_id, chunk_id) groups that survive pruning."""
        with b.span("prune.count"):
            kept = self.pruned().select("part_id", "chunk_id").distinct().count()
            total = self.chunks.select("part_id", "chunk_id").distinct().count()
        return kept / max(total, 1)


class LineitemPersist(Workload):
    name, table, columns = "lineitem_persist", "lineitem", LINEITEM_COLUMNS
    keys = ("l_returnflag", "l_linestatus")

    def store_summary(self, store: str) -> list[dict]:
        """``size_report`` of the committed store's chunk files, read
        with pyarrow so that the check adds no Spark job to the pass."""
        t = ds.dataset(os.path.join(store, "chunks"), format="parquet", partitioning="hive").to_table(
            columns=["column", "codec", "num_rows", "plain_bytes", "encoded_bytes"]
        )
        groups = t.group_by(["column", "codec"]).aggregate(
            [("num_rows", "count"), ("num_rows", "sum"), ("plain_bytes", "sum"), ("encoded_bytes", "sum")]
        )
        d = groups.to_pydict()
        return [
            {"column": c, "codec": k, "n_chunks": n, "rows": r, "plain_bytes": p, "encoded_bytes": e}
            for c, k, n, r, p, e in zip(d["column"], d["codec"], d["num_rows_count"], d["num_rows_sum"],
                                        d["plain_bytes_sum"], d["encoded_bytes_sum"])
        ]

    def run_pass(self, b: Bench) -> dict:
        store, sink = b.path("store"), b.path("sink")
        for d in (store, sink):
            shutil.rmtree(d, ignore_errors=True)
        job = EncodeJob(store, num_parts=2 * b.k, keys=self.keys)
        rec: dict = {}

        def store_check(res):
            rec["summary"] = self.store_summary(store)
            if res["committed_partitions"] < 1:
                return "fresh run committed no partition"
            return row_total_problem(rec["summary"], self.columns, self.n)

        fresh, t_store = b.op("EncodeJob.run", lambda: job.run(self.df), store_check)
        resume, t_resume = b.op(
            "EncodeJob.run.resume",
            lambda: EncodeJob(store, num_parts=2 * b.k, keys=self.keys).run(self.df),
            lambda res: res["committed_partitions"] and f"resume committed {res['committed_partitions']} parts",
        )
        manifest, t_sink = b.op(
            "write_parquet_dir",
            lambda: write_parquet_dir(self.df, sink),
            lambda _m: self.checksum_problem(
                inputs.checksum(b.spark.read.parquet(sink), self.columns), self.expect
            ),
        )
        plain, encoded = plain_and_encoded(rec["summary"])
        sink_bytes = sum(r["bytes"] for r in manifest)
        store_bytes = sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(store) for f in fs
        )
        return {
            "pass_s": t_store + t_resume + t_sink,
            "plain_mb_s": plain / 1e6 / t_store,
            "ratio": plain / encoded,
            "store_write_s": t_store,
            "resume_s": t_resume,
            "sink_s": t_sink,
            "sink_ratio": plain / sink_bytes,
            "summary": rec["summary"],
            "lineage": {**fresh["timings"], "resume_scan_sec": resume["timings"]["resume_scan_sec"]},
            "store_mb": store_bytes / 1e6,
            "sink_files": len(manifest),
            "sink_mb": sink_bytes / 1e6,
        }


WORKLOADS = {w.name: w for w in (RepoEncode, RepoScan, LineitemPersist)}
