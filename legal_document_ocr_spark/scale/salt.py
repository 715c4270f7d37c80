"""Salted repartitioning on domain/size buckets (north_rule skew handling).

The reference's skew analogue: one huge page with many regions serializes a
whole request (app/services/ocr_service.py:107-148 loops pages serially). At
web scale the skew axes are (a) hot domains — one host contributing millions
of near-identical pages — and (b) payload size — a few multi-MB pages pinning
a partition. AQE's skew-join splitting only fixes JOIN skew; compute skew in
the pandas-UDF stages must be pre-salted (SURVEY.md §4 "custom work" 2).

All keys are JVM-side expressions (regexp host extraction, width_bucket on
byte length, xxhash64 salt) — no Python in the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SALT_BUCKETS, SIZE_BUCKET_EDGES

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow input before compute-heavy stages.

    A small parquet file scans as ONE partition (row-group granularity), which
    serializes every downstream expression/UDF on one core. At 100 TB inputs
    arrive with thousands of partitions and this is a no-op; below the
    session's default parallelism it inserts one round-robin exchange so the
    heavy stage actually uses the cluster.

    The partition probe is not free: ``df.rdd`` prepares the physical plan,
    and with AQE an input that contains an exchange (a join, an aggregate)
    runs that input's shuffle stages as Spark jobs just to learn the final
    partition count. Place it on scans, not behind a shuffle.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def with_skew_keys(df: DataFrame, url_col: str = "url", payload_col: str = "html") -> DataFrame:
    """Attach (domain, size_bucket, salt) partitioning keys."""
    return (
        df.withColumn("domain", F.regexp_extract(F.col(url_col), _HOST_RE, 1))
        .withColumn(
            "size_bucket",
            F.width_bucket(
                F.length(F.col(payload_col)),
                F.lit(0),
                F.lit(SIZE_BUCKET_EDGES[-1]),
                F.lit(len(SIZE_BUCKET_EDGES)),
            ),
        )
        .withColumn(
            "salt", F.pmod(F.xxhash64(F.col(url_col)), F.lit(SALT_BUCKETS))
        )
    )


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    url_col: str = "url",
    payload_col: str = "html",
) -> DataFrame:
    """Repartition on (domain, size_bucket, salt) ahead of heavy UDF stages.

    The salt spreads a hot domain over SALT_BUCKETS partitions while keeping
    same-domain/similar-size pages co-located enough for downstream
    per-domain aggregation to be cheap; size bucketing keeps multi-MB pages
    from piling into one task's Arrow batches.
    """
    keyed = with_skew_keys(df, url_col, payload_col)
    cols = [F.col("domain"), F.col("size_bucket"), F.col("salt")]
    if num_partitions:
        return keyed.repartition(num_partitions, *cols)
    return keyed.repartition(*cols)


def salted_group_counts(
    df: DataFrame,
    group_col: str = "source",
    *,
    salt_buckets: int = 16,
    id_col: str = "doc_id",
    value_col: str = "n_chars",
) -> DataFrame:
    """Two-phase SALTED aggregation: phase 1 aggregates on
    (group, salt) — a hot group fans out over ``salt_buckets`` reducers
    instead of hammering one — and phase 2 merges the per-salt partials
    on the now-bounded (groups × salts) table. Algebraically identical
    to a direct groupBy (counts and sums are mergeable); the oracle IS
    the direct groupBy, putting the skew machinery itself under the
    correctness gate.

    The salt is a deterministic md5 hash of the row id (never rand() —
    resume/retry must re-salt identically). n_salt_parts reports how
    many reducers each group actually spread over.

    Output: (group, n_docs, sum_value, n_salt_parts) ordered by group.
    """
    salt = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % salt_buckets
    )
    phase1 = (
        df.select(
            F.col(group_col).alias("g"),
            salt.alias("_salt"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("g", "_salt")
        .agg(
            F.count("*").cast("long").alias("pn"),
            F.sum("v").cast("long").alias("pv"),
        )
    )
    return (
        phase1.groupBy("g")
        .agg(
            F.sum("pn").cast("long").alias("n_docs"),
            F.sum("pv").cast("long").alias("sum_value"),
            F.count("*").cast("long").alias("n_salt_parts"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_docs",
            "sum_value",
            "n_salt_parts",
        )
        .orderBy(group_col)
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key_col: str,
    salt_src_col: str,
    *,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-safe equi-join — THE canonical salting move for a join whose
    key distribution is hot (one host/key holding a corpus-scale share
    puts its entire partition in one task): the fact side gains a
    deterministic salt in [0, n_salt) from the portable md5 of a
    per-row column, the dim side is replicated n_salt× by an in-row
    explode, and the join runs on (key, salt) — the hot key's rows now
    spread across n_salt tasks. Row-identical to the plain join (what
    the parity oracle states), because every fact row meets exactly the
    one dim replica carrying its salt.

    Complements ``salted_group_counts`` (the AGGREGATION face of the
    same technique) and AQE's skew-join splitting — which only fires on
    sort-merge paths with size statistics; pre-salting is the plan-
    stable answer when the skew is known (BASELINE.md skew harness
    measures 4.6× on exactly this shape).

    Scale note: dim replication costs n_salt× the dim exchange — right
    when dim is the (much) smaller side but too big or too mutable to
    broadcast (1e8-host metadata); the join itself is pinned
    shuffle_hash so the planner can never broadcast the replicated side
    by accident.
    """
    salt = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(salt_src_col).cast("string")), 1, 7),
            16,
            10,
        ).cast("long"),
        F.lit(n_salt),
    )
    fact_s = fact.withColumn("_sj_salt", salt)
    dim_r = dim.withColumn(
        "_sj_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<long>")),
    )
    return fact_s.join(
        dim_r.hint("shuffle_hash"), [key_col, "_sj_salt"]
    ).drop("_sj_salt")
