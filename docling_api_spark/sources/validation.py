"""Upload-validation filters: per-file and batch size budgets, error routing.

Reference semantics (`upload_validation.py:20-98`) re-expressed as dataflow:
- per-file limit (default 100 MB): file > limit → rejected with a 413-shaped
  reason (F1);
- batch budget (default 500 MB): files are debited against the budget in a
  deterministic order; rows past the point of exhaustion are rejected (F2 —
  the sequential-debit behavior of `_read_document_with_limit`,
  upload_validation.py:54-63, expressed as a running-sum window);
- rejected rows are ROUTED, not dropped — errors surface to the caller
  (error-as-column, F9).

The size predicates read metadata columns only. An unbounded budget adds
one per-row expression. A per-batch budget adds a window partitioned by
batch. The global budget takes one of three paths:
- listing path: on an unmodified `binaryFile` scan (what `read_documents`
  returns) the driver already holds the file listing, and `length` is the
  listed file size. When the listed total fits the budget, so does every
  running sum, and validation runs no Spark job at all. The budget uses
  the sizes as listed when `read_documents` ran; landed uploads do not
  change after that, and the aggregate below reads the same listing's
  lengths, only at a later moment;
- aggregate path: any other input first sums the debits in one eager
  aggregate over the size column, a scan that never reads `content`. When
  the total fits the budget, validation stops there, with no window and
  no exchange;
- window path: only an over-budget input pays for the running-sum window,
  whose exchange carries every column of the input, content included.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from docling_api_spark.session import shuffle_partitions
from docling_api_spark.tables import literal_df

MAX_SIZE_PER_FILE_MB = 100
MAX_BATCH_SIZE_MB = 500

FILE_TOO_LARGE = "file_too_large"
BATCH_BUDGET_EXCEEDED = "batch_budget_exceeded"
UNSUPPORTED_FORMAT = "unsupported_format"


def mb_to_bytes(mb: int) -> int:
    return mb * 1024 * 1024


def with_size_validation(
    df: DataFrame,
    size_col: str = "length",
    order_col: str = "path",
    batch_col: Column | None = None,
    max_file_bytes: int = mb_to_bytes(MAX_SIZE_PER_FILE_MB),
    max_batch_bytes: int | None = mb_to_bytes(MAX_BATCH_SIZE_MB),
) -> DataFrame:
    """Add a `reject_reason` column (null = accepted).

    The batch budget is debited in `order_col` order within each batch
    (whole dataset if `batch_col` is None); a file whose cumulative size
    exceeds the budget — and every file after it — is rejected, matching the
    reference's read-loop debit (upload_validation.py:54-63). Oversized
    files are rejected outright and do not consume budget.

    Scale posture: the naive `partitionBy(lit(1))` running sum is a
    single-partition global window. Catalyst folds the constant into an
    empty partition spec and funnels the whole dataset, content included,
    through one task. Instead:
    - `max_batch_bytes=None` (unbounded budget): no running sum at all;
    - `batch_col` given: per-batch window (batches are bounded);
    - global budget, listing path: `df` is an unmodified `binaryFile`
      scan and `size_col` is `length`. Each debit is at most its file's
      listed length, so a listed total within the budget bounds every
      running sum; only `file_too_large` can fire, and no Spark job runs.
      At scale the listing is already on the driver, in the file index
      `read_documents` built, so the decision costs no cluster job there
      either;
    - global budget, aggregate path (any other input, or a listed total
      over budget): one eager aggregate sums the debits (only the size
      column is read). If the total is at most the budget, the plan
      gains no window, broadcast or exchange;
    - global budget, window path (total over budget): a two-pass
      distributed prefix sum. A column-pruned stats pass computes
      per-range partial sums, the driver folds them into per-range
      offsets (one tiny collect), and the main pass adds a
      *range-partitioned* window to the broadcast offset. No
      single-partition stage anywhere.
    """
    size = F.col(size_col)
    too_large = F.when(size > max_file_bytes, F.lit(FILE_TOO_LARGE))
    size_only = too_large.otherwise(F.lit(None).cast("string"))

    if max_batch_bytes is None:
        # Unbounded budget: the running sum can never trip, skip it.
        return df.withColumn("reject_reason", size_only)

    debit = F.when(size <= max_file_bytes, size).otherwise(F.lit(0))

    if batch_col is None:
        # Listing path: each debit is at most its file's listed length, so
        # the listed total bounds every prefix sum.
        total = _listed_bytes(df) if size_col == "length" else None
        if total is None or total > max_batch_bytes:
            # Aggregate path. Negative debits are clipped so that the total
            # bounds every prefix sum.
            total = df.select(F.sum(F.greatest(debit, F.lit(0)))).first()[0] or 0
        if total <= max_batch_bytes:
            return df.withColumn("reject_reason", size_only)
        df, running = _with_global_running_sum(df, debit, order_col)
    else:
        w = (
            W.partitionBy(batch_col)
            .orderBy(order_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        running = F.sum(debit).over(w)

    reason = (
        too_large.when(running > max_batch_bytes, F.lit(BATCH_BUDGET_EXCEEDED))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("reject_reason", reason).drop(
        "_sv_lows", "_sv_offs", "_sv_idx"
    )


def _listed_bytes(df: DataFrame) -> int | None:
    """Listed size of the files behind `df`, read on the driver with no
    Spark job, when `df` is an unmodified `binaryFile` scan; else None.

    An `InMemoryFileIndex`'s `sizeInBytes` is the sum of `getLen` over the
    files the scan reads (after `pathGlobFilter`), the same values the scan
    emits as `length`. Any operator over the scan (filter, projection,
    join) makes the analyzed plan's root something else, and any other
    index (a catalog's, sized from table statistics; a streaming sink's
    metadata log) returns None too.
    """
    jdf = getattr(df, "_jdf", None)  # None on a session with no JVM handle
    if jdf is None:
        return None
    plan = jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    relation = plan.relation()
    if relation.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    if relation.fileFormat().getClass().getSimpleName() != "BinaryFileFormat":
        return None
    index = relation.location()
    if index.getClass().getSimpleName() != "InMemoryFileIndex":
        return None
    return index.sizeInBytes()


def _with_global_running_sum(
    df: DataFrame, debit: Column, order_col: str
) -> tuple[DataFrame, Column]:
    """Distributed prefix sum of `debit` in global `order_col` order.
    Returns (df with helper columns `_sv_lows/_sv_offs/_sv_idx`, running).

    Pass 1 reads ONLY (order_col, debit inputs) — column pruning keeps it a
    metadata-cheap scan — range-partitions on order_col, and aggregates one
    (range_min, partial_sum) row per range. The driver folds those into
    cumulative offsets (tiny collect: one row per partition). Pass 2 buckets
    each row by the collected range minima (rows with equal order keys land
    in one range, so bucketing reproduces the stats pass exactly), runs the
    running sum as a window partitioned BY BUCKET — parallel, not global —
    and adds the bucket's offset.

    Bucket assignment is a BINARY SEARCH over the sorted range minima:
    the minima + offset arrays ride in as ONE broadcast row (the repo's
    scalar-broadcast idiom), and log2(ranges) chained projections halve the
    candidate index. O(log ranges) per row with the arrays appearing ONCE
    in the plan — the earlier O(ranges) higher-order filter embedded one
    literal per range in the per-row predicate (round-3 advice).
    """
    spark = df.sparkSession
    n = shuffle_partitions(spark)
    # Cap the range count: 256 ranges spread the window stage across 256
    # tasks while keeping the stats collect and broadcast row tiny; the
    # per-row cost is log2(256) = 8 probes regardless.
    n = max(2, min(n, 256))
    stats = (
        df.select(F.col(order_col).alias("_sv_o"), debit.alias("_sv_d"))
        .repartitionByRange(n, "_sv_o")
        .select("_sv_o", "_sv_d", F.spark_partition_id().alias("_sv_p"))
        .groupBy("_sv_p")
        .agg(F.min("_sv_o").alias("lo"), F.sum("_sv_d").alias("s"))
        .collect()
    )
    stats.sort(key=lambda r: r["_sv_p"])
    offsets: list[tuple] = []  # (range_min, debit total of all earlier ranges)
    cum = 0
    for r in stats:
        offsets.append((r["lo"], cum))
        cum += r["s"] or 0
    if len(offsets) <= 1:
        # Degenerate corpus (one non-empty range): plain per-bucket window.
        bucket: Column = F.lit(0)
        offset: Column = F.lit(0).cast("long")
    else:
        lows = [lo for lo, _ in offsets[1:]]
        offs = [int(off) for _, off in offsets]
        # pad minima to a power of two with NULLs: every element_at probe
        # stays in bounds (ANSI mode throws on overflow) and `NULL <= key`
        # is NULL, which `when` treats as "don't advance".
        pow2 = 1
        # pow2 - 1 is the largest index the probes reach; it must cover
        # len(lows), or the last range merges into the one before it
        while pow2 <= len(lows):
            pow2 *= 2
        padded = lows + [None] * (pow2 - len(lows))
        key_type = df.schema[order_col].dataType
        aux = literal_df(
            spark,
            [(padded, offs)],
            StructType(
                [
                    StructField("_sv_lows", ArrayType(key_type)),
                    StructField("_sv_offs", ArrayType(LongType())),
                ]
            ),
        )
        df = df.crossJoin(F.broadcast(aux)).withColumn("_sv_idx", F.lit(0))
        # invariant: _sv_idx = largest index such that lows[1.._sv_idx] are
        # all <= key (0 = none). Each projection is tiny; codegen fuses the
        # chain into one stage.
        step = pow2 // 2
        while step >= 1:
            cand = F.col("_sv_idx") + F.lit(step)
            df = df.withColumn(
                "_sv_idx",
                F.when(
                    F.element_at(F.col("_sv_lows"), cand) <= F.col(order_col),
                    cand,
                ).otherwise(F.col("_sv_idx")),
            )
            step //= 2
        bucket = F.col("_sv_idx")
        offset = F.element_at(F.col("_sv_offs"), bucket + 1)
    w = (
        W.partitionBy(bucket)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df, F.sum(debit).over(w) + offset


def with_format_validation(df: DataFrame, format_col: str = "format") -> DataFrame:
    """Reject rows whose classified format is null (F3: 400-shaped reason)."""
    reason = F.when(
        F.col("reject_reason").isNotNull(), F.col("reject_reason")
    ).when(F.col(format_col).isNull(), F.lit(UNSUPPORTED_FORMAT))
    return df.withColumn("reject_reason", reason)


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route rows: (accepted, rejected) — rejections are data, not exceptions."""
    return (
        df.filter(F.col("reject_reason").isNull()).drop("reject_reason"),
        df.filter(F.col("reject_reason").isNotNull()),
    )
