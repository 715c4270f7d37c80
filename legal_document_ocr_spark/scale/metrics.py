"""Zero-extra-pass pipeline instrumentation via ``DataFrame.observe``.

SURVEY §6's per-stage counters made concrete: the reference's only
instrumentation is per-request log timestamps
(``app/utils/logger.py:21-23``); the rebuild attaches named
``Observation``s so row counts / sums / predicate tallies ride the SAME
job as the pipeline action. At 100 TB the alternative — a separate
``.count()`` per gauge — is a full second scan per metric; an observation
is free: it folds into the existing whole-stage-codegen pass and surfaces
driver-side after any action on the observed frame.

Stage *timing* lives in the per-layer ledger of
``perfbench/run.py --trace 1`` (Spark event-log task metrics and spans);
this module owns row-level lineage counters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed_counts(
    df: DataFrame, name: str, exprs: dict[str, Column]
) -> tuple[DataFrame, Observation]:
    """Attach a named Observation computing ``exprs`` (aggregate
    expressions keyed by metric name) to ``df``.

    Returns ``(observed_df, observation)``: run any action on
    ``observed_df`` (or a derivative), then read ``observation.get`` —
    a dict of metric name -> value, computed in the same job. The
    metrics see rows AT THIS POINT in the plan (before any downstream
    filter), which is exactly what lineage counters want: rows-in vs
    rows-kept without scanning twice.
    """
    obs = Observation(name)
    return df.observe(obs, *[e.alias(k) for k, e in exprs.items()]), obs
