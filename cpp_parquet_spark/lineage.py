"""Per-partition checkpoint / lineage with resume — emulated Iceberg.

North-rule component: "per-partition checkpoint/lineage records in an
Iceberg metadata table enabling resume after failure".  No Iceberg jars
exist in this sandbox (SURVEY.md §7), so the catalog is emulated as a
partitioned-parquet chunk store plus a lineage table whose rows match an
Iceberg snapshot/manifest row (snapshot_id, partition, file count,
record_count, bytes, status, attempt, committed_at, data files); the
engine touches it only through this module, so a real Iceberg catalog
could be dropped in behind the same calls.

Determinism is the key design point: the partition id is a *content
hash* — pmod(xxhash64(lang, repo, salt), num_parts) with salt the row
hash mod 64 — not a task id, so a resumed job re-derives exactly the
same partition → rows mapping and can skip the partitions its snapshot
already committed.

Commit protocol (Iceberg manifest semantics): data files are immutable
and uniquely named, and a snapshot exists once its lineage commit file
— which lists those files — is linked into ``lineage/`` (an ``os.link``
compare-and-swap).  Readers open exactly the listed files, so a writer
that crashed before its commit leaves only unlisted files that no reader
sees; cleanup of such leftovers is housekeeping, never correctness.  The
store is the union of all committed snapshots.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpp_parquet_spark.engine import DEFAULT_CHUNK_ROWS, decode_dataframe, encode_dataframe, row_hash

class ConcurrentCommitError(RuntimeError):
    """Raised when the snapshot-commit CAS loses to a concurrent writer
    (two EncodeJobs racing on the same base_dir + snapshot_id)."""


LINEAGE_SCHEMA = pa.schema(
    [
        ("snapshot_id", pa.string()),
        ("part_id", pa.int32()),
        ("chunk_count", pa.int64()),
        ("record_count", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("plain_bytes", pa.int64()),
        ("status", pa.string()),
        ("attempt", pa.int32()),
        ("committed_at", pa.string()),
        # the manifest: data files of this part, relative to chunks/
        ("files", pa.list_(pa.string())),
    ]
)


class EncodeJob:
    """A checkpointed encode job writing to ``base_dir``.

    Layout:
      base_dir/chunks/part_id=N/*.parquet   — encoded column chunks
      base_dir/lineage/*.parquet            — commit records (manifests)
    """

    def __init__(
        self,
        base_dir: str,
        num_parts: int = 64,
        keys: tuple[str, ...] = ("lang", "repo"),
        codec: str = "auto",
        chunk_rows: int = DEFAULT_CHUNK_ROWS,
        snapshot_id: str = "snap-0",
        stale_staging_sec: float = 3600.0,
    ) -> None:
        self.base_dir = base_dir
        self.chunks_dir = os.path.join(base_dir, "chunks")
        self.lineage_dir = os.path.join(base_dir, "lineage")
        self.num_parts = num_parts
        self.keys = keys
        self.codec = codec
        self.chunk_rows = chunk_rows
        self.snapshot_id = snapshot_id
        # minimum age before a staging dir, commit tmp or unlisted chunk
        # file is treated as a crash leftover rather than a live
        # concurrent writer's workspace (ADVICE r5: unconditional
        # cleanup deleted a live writer's staging mid-run)
        self.stale_staging_sec = stale_staging_sec

    # -------------------------------------------------- partition key

    def with_part(self, df: DataFrame) -> DataFrame:
        """Deterministic content-hash partition id, salted 64 ways by the
        row hash so a skewed key spreads over several parts.  Range
        bounds would balance better but are sampled, so a resumed run
        could not derive the same part ids again."""
        salt = F.pmod(row_hash(df, self.keys), F.lit(64))
        key = F.xxhash64(*[F.col(k) for k in self.keys], salt)
        return df.withColumn("_part", F.pmod(key, F.lit(self.num_parts)).cast("int"))

    # -------------------------------------------------- lineage access

    def lineage(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self.lineage_dir) or not os.listdir(self.lineage_dir):
            return None
        return spark.read.parquet(self.lineage_dir)

    def _catalog(self) -> list[dict]:
        """Every committed lineage row, read driver-side with pyarrow: a
        catalog read is a metadata operation, not a Spark job.  A commit
        without the ``files`` manifest predates the manifest layout and
        is refused instead of being read as an empty or partial store."""
        if not os.path.isdir(self.lineage_dir):
            return []
        rows: list[dict] = []
        for name in sorted(os.listdir(self.lineage_dir)):
            if name.startswith((".", "_")) or not name.endswith(".parquet"):
                continue
            tbl = pq.read_table(os.path.join(self.lineage_dir, name))
            if "files" not in tbl.column_names:
                raise ValueError(
                    f"chunk store {self.base_dir!r}: lineage commit {name} has no "
                    "'files' manifest column (written before manifest commits); "
                    "re-encode it into a new base_dir"
                )
            rows.extend(r for r in tbl.to_pylist() if r["status"] == "committed")
        return rows

    def _committed(self, catalog: list[dict]) -> set[int]:
        """Part ids this job's snapshot has committed."""
        return {r["part_id"] for r in catalog if r["snapshot_id"] == self.snapshot_id}

    def _clean_orphans(self, listed: set[str]) -> list[int]:
        """Resume-time housekeeping: drop staging dirs, commit tmps and
        chunk files that no commit lists.  Each is dropped only when
        older than ``stale_staging_sec`` — a fresh one may belong to a
        live concurrent writer.  Readers open only listed files, so this
        never changes what a reader sees.  Returns the part ids whose
        unlisted files were dropped."""
        now = time.time()

        def stale(root: str) -> bool:
            """Newest mtime anywhere under ``root`` is old — a live
            writer may not touch a staging dir's top level for the whole
            duration of a long task write."""
            try:
                newest = os.path.getmtime(root)
                for dirpath, _dirs, files in os.walk(root):
                    for entry in files:
                        newest = max(newest, os.path.getmtime(os.path.join(dirpath, entry)))
            except FileNotFoundError:  # pragma: no cover - racing writer/cleaner
                return False
            return now - newest > self.stale_staging_sec

        for name in os.listdir(self.base_dir) if os.path.isdir(self.base_dir) else []:
            path = os.path.join(self.base_dir, name)
            if name.startswith("staging-") and stale(path):
                shutil.rmtree(path, ignore_errors=True)
            elif name.startswith(".commit-") and name.endswith(".tmp") and stale(path):
                # the real commit file only ever appears atomically
                # (os.link), so an old tmp is garbage, never a half-commit
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(path)
        dropped = set()
        parts = os.listdir(self.chunks_dir) if os.path.isdir(self.chunks_dir) else []
        for part in parts:
            if not part.startswith("part_id="):
                continue
            for name in os.listdir(os.path.join(self.chunks_dir, part)):
                path = os.path.join(self.chunks_dir, part, name)
                if f"{part}/{name}" not in listed and stale(path):
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(path)
                    dropped.add(int(part.split("=", 1)[1]))
        return sorted(dropped)

    # -------------------------------------------------- run / resume

    def run(self, df: DataFrame, only_parts: list[int] | None = None) -> dict:
        """Encode the partitions of ``df`` this snapshot has not yet
        committed and commit them; idempotent — a second call is a
        no-op, a call after a partial failure finishes the remainder.

        ``only_parts`` restricts the run (used by tests to simulate an
        interrupted job).

        The returned dict carries a ``timings`` sub-dict splitting the
        commit into its phases (encode+stage write, lineage derivation,
        moving files into the store, lineage commit) so the write-side
        cost can be audited separately from encode compute.
        """
        spark = df.sparkSession
        timings: dict[str, float] = {}
        t0 = time.time()
        catalog = self._catalog()
        completed = self._committed(catalog)
        orphans = self._clean_orphans({f for r in catalog for f in r["files"]})
        attempt = max((r["attempt"] for r in catalog), default=0) + 1
        timings["resume_scan_sec"] = round(time.time() - t0, 3)

        pending = self.with_part(df)
        if completed:
            pending = pending.filter(~F.col("_part").isin(*completed))
        if only_parts is not None:
            pending = pending.filter(F.col("_part").isin(*only_parts))

        # Iceberg-style snapshot staging: write this attempt's chunks to
        # a staging dir and derive lineage rows by scanning *only* the
        # staged files (never the committed store — on a 10^12-file
        # store a full rescan per resume is the scaling bug).
        shuffled = pending.repartition(self.num_parts, F.col("_part")).sortWithinPartitions("_part")
        chunks = encode_dataframe(shuffled, codec=self.codec, chunk_rows=self.chunk_rows, part_col="_part")
        # per-process staging path: Spark's _temporary dir is shared per
        # output dir, so two racers (which read the same catalog and
        # compute the SAME attempt number) must not share one
        staging = os.path.join(
            self.base_dir, f"staging-{self.snapshot_id}-a{attempt}-p{os.getpid()}"
        )
        t0 = time.time()
        chunks.write.mode("overwrite").partitionBy("part_id").parquet(staging)
        timings["encode_and_stage_write_sec"] = round(time.time() - t0, 3)

        staged = {
            int(n.split("=", 1)[1]): n for n in os.listdir(staging) if n.startswith("part_id=")
        }
        if not staged:  # nothing pending: no-op resume
            shutil.rmtree(staging)
            return {
                "committed_partitions": 0,
                "skipped_partitions": len(completed),
                "orphans_cleaned": orphans,
                "attempt": attempt,
                "timings": timings,
            }
        t0 = time.time()
        derived = (
            spark.read.parquet(staging)
            .groupBy("part_id")
            .agg(
                F.count("*").alias("chunk_count"),
                # every column chunk of a (part, chunk) repeats num_rows,
                # so divide the sum by the column count for true records
                F.sum("num_rows").alias("record_count_x"),
                F.countDistinct("column").alias("n_cols"),
                F.sum("encoded_bytes").alias("encoded_bytes"),
                F.sum("plain_bytes").alias("plain_bytes"),
            )
            .collect()
        )
        timings["lineage_derive_sec"] = round(time.time() - t0, 3)

        # pre-placement recheck (optimistic concurrency, phase 1): if a
        # concurrent writer committed any of our staged partitions under
        # this snapshot while we were encoding, abort before placing a
        # single file.  The commit CAS below closes the remaining window
        # where both writers pass this check.
        overlap = sorted((self._committed(self._catalog()) - completed) & staged.keys())
        if overlap:
            shutil.rmtree(staging)
            raise ConcurrentCommitError(
                f"partitions {overlap} were committed by a concurrent "
                f"writer while this attempt was encoding; re-run to "
                "resume from the winner's lineage"
            )

        # place: move each staged data file into chunks/part_id=N/ under
        # a name unique to the whole store (snapshot/attempt token, part
        # id, then Spark's job-UUID file name — Spark gives one task's
        # file the same name in every part dir it writes), so a move
        # never collides with another file and chunks() can key files by
        # name.  Until the commit lists them the placed files are
        # invisible to readers.
        t0 = time.time()
        files: dict[int, list[str]] = {}
        for pid, part in staged.items():
            os.makedirs(os.path.join(self.chunks_dir, part), exist_ok=True)
            for name in sorted(os.listdir(os.path.join(staging, part))):
                if name.startswith((".", "_")):  # checksums, markers
                    continue
                token = f"{self.snapshot_id}-a{attempt}-{pid}"
                rel = f"{part}/part-{token}-{name.removeprefix('part-')}"
                dst = os.path.join(self.chunks_dir, rel)
                os.replace(os.path.join(staging, part, name), dst)
                # restart the staleness clock: the file's write time may
                # be long past, and until the commit lands it must not
                # look like a crash leftover to a concurrent cleaner
                os.utime(dst)
                files.setdefault(pid, []).append(rel)
        timings["publish_rename_sec"] = round(time.time() - t0, 3)

        # commit: the <= num_parts manifest rows are written driver-side
        # with pyarrow (a catalog commit is a metadata operation, not a
        # Spark job — routing it through createDataFrame+write cost
        # ~1.9 s of fixed overhead per commit), to a temp path on the
        # same filesystem, then os.link()ed into place.  link fails with
        # FileExistsError if another writer committed this (snapshot,
        # attempt) first, so the loser of a race raises instead of
        # clobbering, and a crash mid-write never leaves a truncated
        # commit file in lineage_dir.
        t0 = time.time()
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%S")
        tbl = pa.Table.from_pylist(
            [
                {
                    "snapshot_id": self.snapshot_id,
                    "part_id": r["part_id"],
                    "chunk_count": r["chunk_count"],
                    "record_count": r["record_count_x"] // r["n_cols"],
                    "encoded_bytes": r["encoded_bytes"],
                    "plain_bytes": r["plain_bytes"],
                    "status": "committed",
                    "attempt": attempt,
                    "committed_at": committed_at,
                    "files": files[r["part_id"]],
                }
                for r in derived
            ],
            schema=LINEAGE_SCHEMA,
        )
        os.makedirs(self.lineage_dir, exist_ok=True)
        tmp = os.path.join(
            self.base_dir, f".commit-{self.snapshot_id}-a{attempt}-p{os.getpid()}.tmp"
        )
        dst = os.path.join(self.lineage_dir, f"commit-{self.snapshot_id}-a{attempt}.parquet")
        pq.write_table(tbl, tmp)
        try:
            os.link(tmp, dst)
        except (FileExistsError, FileNotFoundError) as exc:
            # lost the race: take back every placed file, unseen
            for rel in (rel for rels in files.values() for rel in rels):
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(os.path.join(self.chunks_dir, rel))
            shutil.rmtree(staging, ignore_errors=True)
            if isinstance(exc, FileNotFoundError):  # pragma: no cover - cleaner race
                raise ConcurrentCommitError(
                    "commit tmp vanished before linking (a concurrent "
                    "cleaner treated it as stale); re-run to resume"
                ) from None
            raise ConcurrentCommitError(
                f"snapshot {self.snapshot_id!r} attempt {attempt} was "
                f"committed by a concurrent writer ({dst} exists); "
                "re-run to resume from the winner's lineage"
            ) from None
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
        timings["lineage_commit_sec"] = round(time.time() - t0, 3)
        shutil.rmtree(staging, ignore_errors=True)
        return {
            "committed_partitions": len(derived),
            "skipped_partitions": len(completed),
            "orphans_cleaned": orphans,
            "attempt": attempt,
            "timings": timings,
        }

    # -------------------------------------------------- read back

    def chunks(self, spark: SparkSession) -> DataFrame:
        """The committed store: exactly the files the lineage commits
        list (``basePath`` keeps ``part_id`` an int partition column).
        Files a writer placed but never committed stay invisible.

        Chunk ids restart at 0 in every file, so when several snapshots
        hold one part, the k-th file of a part has its chunk ids offset
        by ``k << 32`` to keep (part_id, chunk_id) a unique chunk-group
        key; a part with a single file reads unchanged.  Placed names
        are unique across the store, so the file name alone picks the
        offset."""
        rank: dict[str, int] = {}
        per_part: dict[int, int] = {}
        for r in self._catalog():
            for f in r["files"]:
                rank[f] = per_part.get(r["part_id"], 0)
                per_part[r["part_id"]] = rank[f] + 1
        if not rank:
            raise ValueError(f"chunk store {self.base_dir!r} has no committed snapshot")
        df = spark.read.option("basePath", self.chunks_dir).parquet(
            *[os.path.join(self.chunks_dir, f) for f in rank]
        )
        offsets = [(os.path.basename(f), k << 32) for f, k in rank.items() if k]
        if not offsets:
            return df
        offset = F.create_map(*[F.lit(x) for pair in offsets for x in pair])[
            F.col("_metadata.file_name")
        ]
        return df.withColumn("chunk_id", F.col("chunk_id") + F.coalesce(offset, F.lit(0)))

    def decode(self, spark: SparkSession, schema, predicate=None, num_partitions=None) -> DataFrame:
        """Decode the committed store; ``predicate=(column, lo, hi)``
        prunes chunks JVM-side before any payload reaches Python
        (the store's predicate-pushdown surface).  ``num_partitions``
        passes through to decode_dataframe's exchange sizing (default
        one task per core; each decode task streams one chunk group at
        a time, so task memory is bounded by chunk size, not partition
        size)."""
        return decode_dataframe(
            self.chunks(spark), schema, predicate=predicate, num_partitions=num_partitions
        )
