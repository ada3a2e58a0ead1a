"""``forget_zip_finders``: zipimport finders leave the import cache, and
imports from the same archive keep working.

PySpark calls ``importlib.invalidate_caches()`` before every task, which
on Python < 3.13 makes each cached zipimporter re-read its archive.
"""

import sys
import zipfile
import zipimport


def _zip_finders() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def test_forget_zip_finders_keeps_imports_working(tmp_path):
    from cpp_parquet_spark.session import forget_zip_finders

    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zfpkg/__init__.py", "")
        z.writestr("zfpkg/first.py", "VALUE = 1\n")
        z.writestr("zfpkg/second.py", "VALUE = 2\n")
    saved = list(sys.path)
    sys.path.insert(0, archive)
    try:
        from zfpkg import first

        assert first.VALUE == 1
        assert _zip_finders()
        forget_zip_finders()
        assert not _zip_finders()
        from zfpkg import second

        assert second.VALUE == 2
    finally:
        sys.path[:] = saved
        for name in [m for m in sys.modules if m.split(".")[0] == "zfpkg"]:
            del sys.modules[name]
        forget_zip_finders()


def test_engine_tasks_drop_zip_finders(spark):
    # the task is a closure so that it pickles by value: workers cannot
    # import this test module
    def task(batches):
        """Import from a zip this worker writes itself, then run the
        engine's encode task; report the zip finders left behind."""
        import os
        import sys
        import tempfile
        import zipfile
        import zipimport

        import pyarrow as pa

        from cpp_parquet_spark.engine import encode_chunks
        from cpp_parquet_spark.schema_plan import plan_from_schema

        def zip_finders():
            cache = sys.path_importer_cache
            return [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]

        batches = list(batches)
        plans = plan_from_schema(batches[0].schema)
        # a first pass does this worker's one-time imports, which may walk
        # zip entries on sys.path and cache finders for them
        for _ in encode_chunks(batches, plans, 1 << 16):
            pass
        tmp = tempfile.mkdtemp()
        archive = os.path.join(tmp, "zwpkg.zip")
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zwpkg/__init__.py", "")
            z.writestr("zwpkg/first.py", "VALUE = 1\n")
        saved = list(sys.path)
        sys.path.insert(0, archive)
        try:
            from zwpkg import first

            assert first.VALUE == 1
            before = len(zip_finders())
            for _ in encode_chunks(batches, plans, 1 << 16):
                pass
            after = zip_finders()
        finally:
            sys.path[:] = saved
            for name in [m for m in sys.modules if m.split(".")[0] == "zwpkg"]:
                del sys.modules[name]
            os.remove(archive)
            os.rmdir(tmp)
        yield pa.RecordBatch.from_pydict(
            {"before": [before], "after": [len(after)], "paths": [";".join(after)]}
        )

    df = spark.range(0, 4000, numPartitions=4).selectExpr("id", "cast(id % 5 as string) as s")
    rows = df.mapInArrow(task, "before long, after long, paths string").collect()
    assert len(rows) == 4
    assert all(r["before"] >= 1 for r in rows), rows
    assert all(r["after"] == 0 for r in rows), rows
