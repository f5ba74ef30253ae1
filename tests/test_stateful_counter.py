"""The q151 running counter (`streaming/stateful.py::running_counter_stream`):
end to end against the batch aggregate, and its per-batch state fold."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_fallback_counter_matches_batch(spark, sf_dir):
    """The registered q151 (applyInPandasWithState through the
    production parquet sink) must equal the batch aggregate."""
    from docling_api_spark.plans import all_queries
    from docling_api_spark.tables import load_table

    got = {
        (r.user_id, r.n_events, r.total_cents)
        for r in all_queries()["q151_stateful_counter"].fn(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.n_events, r.total_cents)
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
        .collect()
    }
    assert got == want


def test_fallback_group_fold_carries_state_across_batches():
    """_counter_group evolves (n, cents) across micro-batches — pinned
    with a fake GroupState, no streaming query."""
    import pandas as pd

    from docling_api_spark.streaming.stateful import _counter_group

    class FakeGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = FakeGroupState()
    out1 = list(_counter_group((7,), iter([pd.DataFrame({"cents": [100, 250]})]), st))
    out2 = list(_counter_group((7,), iter([pd.DataFrame({"cents": [50]})]), st))
    assert out1[0].iloc[0].to_dict() == {"user_id": 7, "n_events": 2, "total_cents": 350}
    assert out2[0].iloc[0].to_dict() == {"user_id": 7, "n_events": 3, "total_cents": 400}
