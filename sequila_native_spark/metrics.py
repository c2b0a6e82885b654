"""Operator metrics — the A11 analogue.

The reference tracks build/probe metrics on its exec node
(``joins/utils.rs:441-495``: build_time, build_input_rows, build_mem_used,
join_time, input/output rows; logged at ``interval_join.rs:1157-1184``).
In Spark, every JVM-side operator (the ``binning``/``naive`` paths) already
surfaces row counts and timings in the SQL UI / ``df.explain`` metrics —
nothing to build. The Python probe of overlap_join's ``index`` path
(``mapInArrow``) is a black box to the UI, so it accepts an optional
:class:`IntervalJoinMetrics` whose named accumulators mirror the
reference's counters.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession


class IntervalJoinMetrics:
    """Named counters for one overlap_join ``index`` invocation.

    Accumulators aggregate across all probe tasks; read them after an action
    has materialized the join.

    COUNTING CONTRACT: probe-side counters tally PLAN-BRANCH executions.
    Outer joins evaluate the Python probe in two branches (output + pad,
    or output + id-checkpoint for how="full"), so probe_batches /
    probe_input_rows / output_rows read ~2x the logical counts there
    (reviewer, r7; see the _outer_overlap comment for why that is the
    right plan). Inner joins execute the probe once.
    """

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.build_input_rows = 0          # driver-side (build is collected)
        self.build_time_s = 0.0            # driver-side build or cache lookup
        self.probe_input_rows = sc.accumulator(0)
        self.probe_batches = sc.accumulator(0)
        self.output_rows = sc.accumulator(0)

    # driver-side helpers -------------------------------------------------
    def record_build(self, rows: int, started_at: float) -> None:
        self.build_input_rows = rows
        self.build_time_s = round(time.time() - started_at, 6)

    def as_dict(self) -> dict:
        return {
            "build_input_rows": self.build_input_rows,
            "build_time_s": self.build_time_s,
            "probe_input_rows": self.probe_input_rows.value,
            "probe_batches": self.probe_batches.value,
            "output_rows": self.output_rows.value,
        }
