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
compare-and-swap).  Each encode task writes its part's chunk file
straight to its final, still unlisted path and returns the file's
manifest row; the driver commits those rows.  Readers open exactly the
listed files, so a writer that crashed before its commit leaves only
unlisted files that no reader sees; cleanup of such leftovers is
housekeeping, never correctness.  The store is the union of all
committed snapshots.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import time
import uuid
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from cpp_parquet_spark.engine import CHUNK_SCHEMA, DEFAULT_CHUNK_ROWS, decode_dataframe, encode_chunks, row_hash
from cpp_parquet_spark.schema_plan import plan_from_spark_schema

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

# what an encode task returns per chunk file it wrote: the file
# (relative to chunks/) and the part's lineage counters
FILE_ROWS = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("file", StringType(), False),
        StructField("chunk_count", LongType(), False),
        StructField("record_count", LongType(), False),
        StructField("encoded_bytes", LongType(), False),
        StructField("plain_bytes", LongType(), False),
    ]
)

# a chunk file holds CHUNK_SCHEMA minus part_id, which its directory names
_CHUNK_FILE_ARROW = to_arrow_schema(StructType([f for f in CHUNK_SCHEMA.fields if f.name != "part_id"]))


def _write_files(chunks: Iterator[pa.RecordBatch], chunks_dir: str, token: str) -> Iterator[pa.RecordBatch]:
    """Write one task's chunk batches (grouped by part, as
    ``encode_chunks`` emits them) to one new file per part,
    ``chunks_dir/part_id=N/<token>-N-<uuid>.parquet``, with one row group
    per chunk and ``part_id`` only in the directory name.  Yields the
    file's FILE_ROWS row once the file is closed."""
    for pid, group in itertools.groupby(chunks, key=lambda c: c.column("part_id")[0].as_py()):
        rel = f"part_id={pid}/{token}-{pid}-{uuid.uuid4().hex}.parquet"
        path = os.path.join(chunks_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        row = dict(part_id=pid, file=rel, chunk_count=0, record_count=0, encoded_bytes=0, plain_bytes=0)
        with pq.ParquetWriter(path, _CHUNK_FILE_ARROW) as writer:
            for chunk in group:
                writer.write_batch(chunk.drop_columns(["part_id"]))
                # chunk_count counts column-chunk rows, as the store holds them
                row["chunk_count"] += chunk.num_rows
                row["record_count"] += chunk.column("num_rows")[0].as_py()
                row["encoded_bytes"] += pc.sum(chunk.column("encoded_bytes")).as_py()
                row["plain_bytes"] += pc.sum(chunk.column("plain_bytes")).as_py()
        yield pa.RecordBatch.from_pylist([row], schema=to_arrow_schema(FILE_ROWS))


class EncodeJob:
    """A checkpointed encode job writing to ``base_dir``.

    Layout:
      base_dir/chunks/part_id=N/part-<snapshot>-a<attempt>-p<driver pid>-N-<uuid>.parquet
                                            — encoded column chunks: one file
                                              per part per attempt, one row
                                              group per chunk
      base_dir/lineage/*.parquet            — commit records (manifests)
    """

    # minimum age before a staging dir, commit tmp or group of unlisted
    # chunk files is treated as a crash leftover rather than a live
    # concurrent writer's workspace (ADVICE r5: unconditional cleanup
    # deleted a live writer's staging mid-run)
    stale_staging_sec = 3600.0

    def __init__(
        self,
        base_dir: str,
        num_parts: int = 64,
        keys: tuple[str, ...] = ("lang", "repo"),
        chunk_rows: int = DEFAULT_CHUNK_ROWS,
        snapshot_id: str = "snap-0",
    ) -> None:
        self.base_dir = base_dir
        self.chunks_dir = os.path.join(base_dir, "chunks")
        self.lineage_dir = os.path.join(base_dir, "lineage")
        self.num_parts = num_parts
        self.keys = keys
        self.chunk_rows = chunk_rows
        self.snapshot_id = snapshot_id

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
        """Resume-time housekeeping: drop staging dirs (left by writers
        that staged through Spark's partitioned write), commit tmps and
        chunk files that no commit lists.  Each is dropped only when
        older than ``stale_staging_sec`` — a fresh one may belong to a
        live concurrent writer.  Unlisted chunk files are judged per
        attempt token (the name before ``-<part>-<uuid>.parquet``) by the
        newest file of that attempt, so a live attempt's finished files
        survive while its other tasks are still writing.  Readers open
        only listed files, so this never changes what a reader sees.
        Returns the part ids whose unlisted files were dropped."""
        now = time.time()

        def stale(roots: list[str]) -> bool:
            """Newest mtime anywhere under ``roots`` is old — a live
            writer may not touch a staging dir's top level for the whole
            duration of a long task write."""
            try:
                newest = max(os.path.getmtime(root) for root in roots)
                for root in roots:
                    for dirpath, _dirs, files in os.walk(root):
                        for entry in files:
                            newest = max(newest, os.path.getmtime(os.path.join(dirpath, entry)))
            except FileNotFoundError:  # pragma: no cover - racing writer/cleaner
                return False
            return now - newest > self.stale_staging_sec

        for name in os.listdir(self.base_dir) if os.path.isdir(self.base_dir) else []:
            path = os.path.join(self.base_dir, name)
            if name.startswith("staging-") and stale([path]):
                shutil.rmtree(path, ignore_errors=True)
            elif name.startswith(".commit-") and name.endswith(".tmp") and stale([path]):
                # the real commit file only ever appears atomically
                # (os.link), so an old tmp is garbage, never a half-commit
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(path)
        attempts: dict[str, list[tuple[int, str]]] = {}
        parts = os.listdir(self.chunks_dir) if os.path.isdir(self.chunks_dir) else []
        for part in parts:
            if not part.startswith("part_id="):
                continue
            for name in os.listdir(os.path.join(self.chunks_dir, part)):
                if f"{part}/{name}" not in listed:
                    path = os.path.join(self.chunks_dir, part, name)
                    attempts.setdefault(name.rsplit("-", 2)[0], []).append((int(part.split("=", 1)[1]), path))
        dropped = set()
        for members in attempts.values():
            if stale([path for _, path in members]):
                for pid, path in members:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(path)
                    dropped.add(pid)
        return sorted(dropped)

    def _take_back(self, files: list[str]) -> None:
        """Unlink an aborted attempt's chunk files (relative to chunks/)."""
        for rel in files:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(os.path.join(self.chunks_dir, rel))

    # -------------------------------------------------- run / resume

    def run(self, df: DataFrame, only_parts: list[int] | None = None) -> dict:
        """Encode the partitions of ``df`` this snapshot has not yet
        committed and commit them; idempotent — a second call is a
        no-op, a call after a partial failure finishes the remainder.

        ``only_parts`` restricts the run (used by tests to simulate an
        interrupted job).

        The returned dict carries a ``timings`` sub-dict with the
        phases: ``resume_scan_sec`` (catalog read and orphan cleanup),
        ``encode_and_stage_write_sec`` (the one Spark action: every
        task encodes its parts and writes their chunk files) and
        ``lineage_commit_sec`` (overlap recheck, file check and the
        commit CAS), so the write-side cost can be audited separately
        from encode compute.
        """
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

        # the hash repartition puts each part in exactly one task and
        # the sort keeps it contiguous there, so a task writes one file
        # per part.  The token keeps names unique across the store: the
        # driver pid separates two racers, which read the same catalog
        # and so compute the same attempt number.
        shuffled = pending.repartition(self.num_parts, F.col("_part")).sortWithinPartitions("_part")
        plans = plan_from_spark_schema(df.schema)
        chunk_rows, chunks_dir = self.chunk_rows, self.chunks_dir
        token = f"part-{self.snapshot_id}-a{attempt}-p{os.getpid()}"

        def write_parts(batches):
            chunks = encode_chunks(batches, plans, chunk_rows, part_col="_part")
            return _write_files(chunks, chunks_dir, token)

        t0 = time.time()
        written = [r.asDict() for r in shuffled.mapInArrow(write_parts, FILE_ROWS).collect()]
        timings["encode_and_stage_write_sec"] = round(time.time() - t0, 3)
        if written:
            t0 = time.time()
            self._commit(written, completed, attempt)
            timings["lineage_commit_sec"] = round(time.time() - t0, 3)
        return {
            "committed_partitions": len(written),
            "skipped_partitions": len(completed),
            "orphans_cleaned": orphans,
            "attempt": attempt,
            "timings": timings,
        }

    def _commit(self, written: list[dict], completed: set[int], attempt: int) -> None:
        """Commit the attempt's file rows as one lineage commit, or take
        its files back and raise ConcurrentCommitError."""
        files = [r["file"] for r in written]
        # pre-commit recheck (optimistic concurrency, phase 1): if a
        # concurrent writer committed any of our partitions under this
        # snapshot while we were encoding, abort.  The commit CAS below
        # closes the remaining window where both writers pass this check.
        overlap = sorted((self._committed(self._catalog()) - completed) & {r["part_id"] for r in written})
        if overlap:
            self._take_back(files)
            raise ConcurrentCommitError(
                f"partitions {overlap} were committed by a concurrent "
                f"writer while this attempt was encoding; re-run to "
                "resume from the winner's lineage"
            )
        # restart the staleness clock: a file's write time may be long
        # past, and until the commit lands it must not look like a crash
        # leftover to a concurrent cleaner.  A file that is already gone
        # was taken by such a cleaner, so this attempt cannot commit.
        try:
            for rel in files:
                os.utime(os.path.join(self.chunks_dir, rel))
        except FileNotFoundError:
            self._take_back(files)
            raise ConcurrentCommitError(
                "a chunk file vanished before the commit (a concurrent "
                "cleaner treated it as stale); re-run to resume"
            ) from None

        # commit: the <= num_parts manifest rows are written driver-side
        # with pyarrow (a catalog commit is a metadata operation, not a
        # Spark job — routing it through createDataFrame+write cost
        # ~1.9 s of fixed overhead per commit), to a temp path on the
        # same filesystem, then os.link()ed into place.  link fails with
        # FileExistsError if another writer committed this (snapshot,
        # attempt) first, so the loser of a race raises instead of
        # clobbering, and a crash mid-write never leaves a truncated
        # commit file in lineage_dir.
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%S")
        tbl = pa.Table.from_pylist(
            [
                {
                    **r,
                    "snapshot_id": self.snapshot_id,
                    "status": "committed",
                    "attempt": attempt,
                    "committed_at": committed_at,
                    "files": [r["file"]],
                }
                for r in written
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
            # lost the race: take back every written file, unseen
            self._take_back(files)
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

    # -------------------------------------------------- read back

    def chunks(self, spark: SparkSession) -> DataFrame:
        """The committed store: exactly the files the lineage commits
        list (``basePath`` keeps ``part_id`` an int partition column).
        Files a writer wrote but never committed stay invisible.

        Chunk ids restart at 0 in every file, so when several snapshots
        hold one part, the k-th file of a part has its chunk ids offset
        by ``k << 32`` to keep (part_id, chunk_id) a unique chunk-group
        key; a part with a single file reads unchanged.  File names are
        unique across the store, so the file name alone picks the
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

    def decode(self, spark: SparkSession, schema, predicate=None) -> DataFrame:
        """Decode the committed store; ``predicate=(column, lo, hi)``
        prunes chunks JVM-side before any payload reaches Python
        (the store's predicate-pushdown surface).  Each decode task
        streams one chunk group at a time, so task memory is bounded by
        chunk size, not partition size."""
        return decode_dataframe(self.chunks(spark), schema, predicate=predicate)
