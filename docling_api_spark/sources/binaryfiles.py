"""Binary-file document source.

The Spark analog of the reference's multipart upload intake
(`upload_validation.py:67-98`): one row per file with
(path, modificationTime, length, content). The `length` column comes from
filesystem metadata, so size predicates evaluate BEFORE content I/O —
the built-in equivalent of the reference's fail-fast size pre-check
(`upload_validation.py:48-52`); Catalyst also prunes `content` entirely
for plans that never touch it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_documents(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Load documents as binary rows; `glob` filters filenames (e.g. '*.pdf')."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_documents_stream(
    spark: SparkSession, path: str, archive_dir: str, glob: str | None = None
) -> DataFrame:
    """Streaming variant: watches `path` for new files (the async job intake,
    reference route.py:104-110 — the landing directory replaces the broker).

    Like a broker that drops a consumed message, the landing directory
    empties as batches commit: Spark moves each committed batch's files
    under `archive_dir` (keeping their full source path below it), so a
    trigger lists the files in flight rather than every file ever landed.
    Spark refuses (the query fails as it starts) an `archive_dir` that
    could match `path`'s pattern at the depth the two paths share: one
    inside the landing directory or one of its ancestors. `<run>/landing`
    with `<run>/ckpt/landed` is fine."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", archive_dir)
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
