"""dedup_compute — compute expensive kernels once per distinct payload.

The Spark-native rewrite of the reference's content-addressed pickle cache
(app/utils/cache_manager.py:24-37 keyed on sha256, probed per region at
app/services/ocr_process_service.py:72-79). At web scale this is the single
most important plan rewrite (SURVEY.md §2.4 J2): Common-Crawl corpora are
heavily duplicated, so the expensive UDF stages must run once per DISTINCT
html payload and the results joined back to every carrying row.

Plan shape (and why it scales):
- the dedup key is ``sha2(payload, 256)`` — computed JVM-side, no Python;
- ``dropDuplicates`` on the 64-char hash is a partial-aggregated shuffle on a
  short fixed-width key (map-side combine collapses duplicates before the
  exchange — the multi-MB payload crosses the wire once per distinct value,
  carried by the first() aggregate);
- the join-back is an equi-join on the same short key, hinted
  ``shuffle_hash`` so neither AQE nor the planner turns it into a broadcast
  of the computed side or a sort-merge (see the comment at the join).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KEY = "__content_key"


def dedup_compute(
    df: DataFrame,
    payload_col: str,
    compute: Callable[[DataFrame], DataFrame],
    *,
    keep_payload: bool = False,
) -> DataFrame:
    """Run ``compute`` once per distinct ``payload_col`` value, join back.

    ``compute`` receives a DataFrame of ``(__content_key, payload_col)`` with
    one row per distinct payload; it must return the input columns it wants to
    keep plus its result columns, preserving ``__content_key``. The returned
    DataFrame has every original row of ``df`` with the computed columns
    attached.

    ``keep_payload=False`` (default) drops the payload from the CARRIER side
    before the join-back: with multi-KB payloads the carrier rows would
    otherwise drag every original payload through the join exchange just to
    be dropped downstream — at web scale that is the single largest shuffle
    in the pipeline. The payload still reaches ``compute`` (once per distinct
    value, via the group-by); pass ``keep_payload=True`` only when the caller
    genuinely needs the raw payload on every output row.
    """
    keyed = df.withColumn(_KEY, F.sha2(F.col(payload_col), 256))
    distinct = (
        keyed.select(_KEY, payload_col)
        .groupBy(_KEY)
        .agg(F.first(payload_col).alias(payload_col))
    )
    computed = compute(distinct).drop(payload_col)
    carrier = keyed if keep_payload else keyed.drop(payload_col)
    # shuffle-hash join, explicitly: the computed side carries full extraction
    # results (easily 100s of GB at corpus scale) — a planner-chosen broadcast
    # would funnel it through the driver (measured: 4 executors scaled at 0.26
    # until disabled), and sort-merge pays a needless sort on random 64-char
    # keys. Shuffle-hash is the right strategy at every scale where dedup
    # itself is worth running.
    return carrier.join(computed.hint("shuffle_hash"), _KEY, "left").drop(_KEY)
