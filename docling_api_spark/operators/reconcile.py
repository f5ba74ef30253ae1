"""Snapshot reconciliation (table diff) operators.

A 100 TB corpus is rebuilt incrementally; every rebuild needs an audit of
what actually changed (rows added / removed / changed) without shipping
document bodies across the cluster. The pattern: hash each row down to a
fixed-width digest FIRST (narrow map-side projection), then reconcile the
two snapshots with a key-partitioned full outer join over (key, digest)
only. At 100 TB both snapshots would live in the same bucketed layout
(sources/bucketed.py) making the join zero-Exchange; here the join
shuffles two 24-byte-wide relations, never the text.

The "new" snapshot is derived deterministically from `documents` inside
the query (mod-97 partitions of doc_id: some rows changed, some removed,
some cloned under new ids) so the operator is self-contained and
oracle-checkable on the driver's fixed tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_api_spark.plans.registry import register
from docling_api_spark.tables import load_table

_SEP = ""  # unit separator: cannot appear in the generated text/lang/source


def _row_digest(*cols: str) -> F.Column:
    return F.md5(F.concat_ws(_SEP, *[F.col(c) for c in cols]))


@register(
    "q104_snapshot_diff",
    bench=True,
    tags=("reconcile", "diff", "hash"),
    oracle="""
        WITH old AS (
          SELECT doc_id, md5(concat_ws(chr(31), text, lang, source)) AS h
          FROM documents
        ),
        new_snap AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 97 = 3 THEN text || ' [rev2]' ELSE text END AS text,
                 lang, source
          FROM documents
          WHERE doc_id % 97 <> 5
          UNION ALL
          SELECT doc_id + 10000000 AS doc_id, text, lang, source
          FROM documents
          WHERE doc_id % 97 = 7
        ),
        new AS (
          SELECT doc_id, md5(concat_ws(chr(31), text, lang, source)) AS h
          FROM new_snap
        )
        SELECT
          COALESCE(o.doc_id, n.doc_id) AS doc_id,
          CASE WHEN o.doc_id IS NULL THEN 'added'
               WHEN n.doc_id IS NULL THEN 'removed'
               ELSE 'changed' END AS change_type
        FROM old o
        FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
    """,
)
def q104_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-hash reconciliation between two corpus snapshots.

    Emits (doc_id, change_type ∈ added|removed|changed); unchanged rows —
    the overwhelming majority in a real rebuild — are dropped before
    anything leaves the join. Digests are computed in the scan stage, so
    the full outer join shuffles (bigint, 32-char digest) pairs only —
    which is why the scan spread is opted OUT (spread_key=False): its
    exchange would move the full text where only digests may travel.
    """
    # spread_key=False: ×1.08 at local[4], ×1.20 at local[8] (SCALING.md "Knob sites")
    docs = load_table(spark, sf_dir, "documents", spread_key=False)

    old = docs.select("doc_id", _row_digest("text", "lang", "source").alias("h"))

    base = docs.where(F.col("doc_id") % 97 != 5).select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 3, F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
    )
    cloned = docs.where(F.col("doc_id") % 97 == 7).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "lang", "source"
    )
    new = base.unionByName(cloned).select(
        "doc_id", _row_digest("text", "lang", "source").alias("h")
    )

    joined = old.alias("o").join(
        new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer"
    )
    return joined.where(
        F.col("o.doc_id").isNull()
        | F.col("n.doc_id").isNull()
        | (F.col("o.h") != F.col("n.h"))
    ).select(
        F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    )
