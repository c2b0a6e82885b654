"""A11 metrics analogue: accumulator counters on the Arrow index path."""

from __future__ import annotations

from sequila_native_spark import overlap_join
from sequila_native_spark.metrics import IntervalJoinMetrics


def test_index_join_metrics(spark, reads, targets):
    m = IntervalJoinMetrics(spark)
    out = overlap_join(reads, targets, on="contig", algorithm="index", metrics=m)
    n = out.count()
    stats = m.as_dict()
    assert n == 16
    assert stats["build_input_rows"] == 12
    assert stats["build_time_s"] > 0
    assert stats["probe_input_rows"] >= 10  # every probe row seen (≥ once)
    assert stats["probe_batches"] >= 1
    assert stats["output_rows"] >= 16  # ≥: Spark may recompute partitions
