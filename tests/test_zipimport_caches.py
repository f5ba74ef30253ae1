"""The package's zipimporter fix: `importlib.invalidate_caches()` re-reads
a zip archive's central directory only when the archive changed on disk.
PySpark's worker calls it before every task, with pyspark.zip and the
Spark core jar on sys.path, so an unchanged archive must cost no read."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import docling_api_spark  # noqa: F401  (installs the fix)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipcache_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipcache_a", "zipcache_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    import zipcache_a

    assert zipcache_a.X == 1
    importlib.invalidate_caches()  # the importer's first read since creation

    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0

    # rewritten in place with one more module: the next invalidate re-reads
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipcache_a.py", "X = 1\n")
        z.writestr("zipcache_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    import zipcache_b

    assert zipcache_b.Y == 2
    assert reads.count(str(archive)) == 1

    # a deleted archive falls through to the stdlib: no error, nothing found
    archive.unlink()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[str(archive)].find_spec("zipcache_b") is None


def test_reused_worker_does_not_reread_archives(spark):
    """A task on a worker that already ran an engine function finds every
    archive on its sys.path unchanged: the invalidate that PySpark runs
    before each task reads no central directory. Without the fix such a
    task reads pyspark.zip and the Spark jar about 14 times."""
    from docling_api_spark.functions.formats import classify_format

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        assert classify_format(b"# x", "x.md")  # the package is imported here
        warm = getattr(sys, "_zipcache_probe_ran", False)
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        sys._zipcache_probe_ran = True
        for _ in batches:
            pass
        yield pd.DataFrame({"warm": [warm], "reads": [len(reads)]})

    # the worker pool may hand a run workers that have not run the probe
    # yet, so repeat until some task lands on a warmed one
    warm_reads: list[int] = []
    for _ in range(5):
        rows = spark.range(2, numPartitions=2).mapInPandas(
            probe, "warm boolean, reads int"
        ).collect()
        warm_reads += [r["reads"] for r in rows if r["warm"]]
        if warm_reads:
            break
    assert warm_reads, "no task ran on a reused worker"
    assert warm_reads == [0] * len(warm_reads)
