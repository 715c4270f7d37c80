"""Structured Streaming surface — incremental arrival as a stream.

The reference's nearest streaming concept is incremental HTTP upload arrival
(app/api/v1/endpoints/documents.py:16 — request/response batch, SURVEY.md
§2.12). The rebuild's streaming variant treats the pages/events table as an
append-only source:

- ``stream_windowed_counts`` — watermarked tumbling-window aggregation over
  the events table read as a file stream; event-time windows + late-data
  bound via ``withWatermark``. Run with ``availableNow`` it drains the
  current table exactly once and its result equals the batch
  ``relational.windowed_event_counts`` (that equivalence is the oracle).
- ``stream_extraction`` — the extraction pipeline inside ``foreachBatch``:
  every micro-batch runs the SAME batch stages (stages.run_extraction) and
  appends through the checkpoint store, so exactly-once comes from the sink's
  manifest commit, not from the streaming engine. This is the Iceberg
  incremental-scan pattern from SURVEY.md §2.12 with parquet standing in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import PAGES_SCHEMA
from ..stages import run_extraction, valid_pages

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def _as_stream_dir(spark: SparkSession, path: str) -> str:
    """Spark's file stream source requires a DIRECTORY; the driver testdata is
    one parquet file per table. Stage single files into a session-temp dir
    (hardlink when possible — no data copy) exactly once per path."""
    import os
    import tempfile

    if os.path.isdir(path):
        return path
    staged = os.path.join(
        tempfile.gettempdir(),
        "ldos-stream",
        path.strip("/").replace("/", "_"),
    )
    target = os.path.join(staged, os.path.basename(path))
    if not os.path.exists(target):
        os.makedirs(staged, exist_ok=True)
        try:
            os.link(path, target)
        except OSError:
            import shutil

            shutil.copyfile(path, target)
    return staged


def stream_windowed_counts(
    spark: SparkSession,
    events_dir: str,
    *,
    bucket_seconds: int = 300,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming tumbling-window counts per event_type (returns a streaming DF).

    Uses ``F.window`` (event-time) + watermark; output mode append-safe. The
    window start is projected to epoch seconds so results compare exactly with
    the batch/oracle formulation (floor(epoch/bucket)*bucket).
    ``max_files_per_trigger`` splits the drain into multiple micro-batches
    (one file each) so out-of-order files exercise real watermark semantics —
    the late-data tests pin drop/emit behavior with it.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(_as_stream_dir(spark, events_dir))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", f"{bucket_seconds} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_table(
    spark: SparkSession,
    streaming_df: DataFrame,
    table_name: str,
    *,
    output_mode: str = "complete",
) -> None:
    """Drain a streaming DF into an in-memory table with availableNow
    (exactly the rows present at start — the batch-equivalence harness).
    ``complete`` fits aggregations; stateless projections need ``append``."""
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, "
    "first_event bigint, last_event bigint"
)
SESSION_STATE_SCHEMA = (
    "last_ts bigint, session_id bigint, n_events bigint, "
    "first_event bigint, last_event bigint"
)
_SESSION_COLS = ["user_id", "session_id", "n_events", "first_event", "last_event"]

# reserved user id for the watermark-advancing sentinel event (emit_final):
# never emitted, never collides with real (non-negative) user ids
SENTINEL_USER = -1


def _stage_with_sentinel(
    spark: SparkSession, path: str, gap_seconds: int, margin_seconds: int = 3600
) -> str:
    """Stage the events file(s) plus ONE sentinel event for SENTINEL_USER at
    max(ts) + gap + margin into a fresh stream dir.

    The sentinel is the end-of-stream watermark driver: once it is processed
    the watermark exceeds every open session's (last_ts + gap), so every
    user's EventTimeTimeout fires and the open tails are emitted. In a live
    deployment the same role is played by the ever-advancing event time;
    availableNow drains need the explicit nudge.
    """
    import os
    import tempfile

    staged = tempfile.mkdtemp(prefix="ldos-sessions-")
    src_files = (
        [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        if os.path.isdir(path)
        else [path]
    )
    for f in src_files:
        target = os.path.join(staged, os.path.basename(f))
        try:
            os.link(f, target)
        except OSError:
            import shutil

            shutil.copyfile(f, target)
    max_ts = spark.read.parquet(path).agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(-1, max_ts, SENTINEL_USER, "sentinel", 0.0, "{}")],
        EVENTS_SCHEMA,
    ).select(
        "event_id",
        (F.col("ts") + F.expr(f"INTERVAL {gap_seconds + margin_seconds} SECONDS")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    tmp_out = os.path.join(staged, "_sentinel_tmp")
    sentinel.coalesce(1).write.parquet(tmp_out)
    part = next(
        f for f in os.listdir(tmp_out) if f.endswith(".parquet")
    )
    os.rename(
        os.path.join(tmp_out, part), os.path.join(staged, "zz-sentinel.parquet")
    )
    import shutil

    shutil.rmtree(tmp_out)
    return staged


def stream_sessionize(
    spark: SparkSession,
    events_dir: str,
    gap_seconds: int = 1800,
    *,
    emit_final: bool = True,
):
    """Custom stateful streaming operator: per-user gap sessionization via
    ``applyInPandasWithState`` (SURVEY.md §2.12 — the stateful analogue of
    the batch gaps-and-islands in relational.sessionize_events).

    State per user = the OPEN session (last event time, running counters).
    A session CLOSES — and is emitted — when a later event arrives more than
    ``gap_seconds`` after the previous one.

    ``emit_final=True`` (default) additionally emits each user's final open
    session through a real event-time timeout: the stream carries a sentinel
    event (see ``_stage_with_sentinel``) whose event time pushes the
    watermark past every open session's deadline; the timed-out state handler
    emits the tail and clears state. Streamed output then equals the batch
    sessionization EXACTLY (oracle: _SQL_SESSIONIZE_EVENTS). ``emit_final=False``
    keeps the pure closed-sessions semantics (batch minus open tails —
    pinned by tests/test_streaming.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def sessionize_user(key, pdfs, state: GroupState):
        (user_id,) = key
        if emit_final and state.hasTimedOut:
            last_ts, session_id, n, first_e, last_e = state.get
            state.remove()
            if user_id != SENTINEL_USER and n:
                yield pd.DataFrame(
                    [(user_id, session_id, n, first_e, last_e)],
                    columns=_SESSION_COLS,
                )
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        secs = rows["ts"].astype("int64") // 1_000_000_000  # floor epoch s
        if state.exists:
            last_ts, session_id, n, first_e, last_e = state.get
        else:
            last_ts, session_id, n, first_e, last_e = None, 0, 0, None, None
        out = []
        for ts, eid in zip(secs.tolist(), rows["event_id"].tolist()):
            if last_ts is None or ts - last_ts >= gap_seconds:
                if n and user_id != SENTINEL_USER:
                    out.append((user_id, session_id, n, first_e, last_e))
                session_id += 1
                n, first_e, last_e = 0, eid, eid
            n += 1
            first_e = min(first_e, eid)
            last_e = max(last_e, eid)
            last_ts = ts
        state.update((last_ts, session_id, n, first_e, last_e))
        if emit_final:
            # deadline = the moment this session can no longer be extended;
            # fires once the (sentinel-driven) watermark passes it
            state.setTimeoutTimestamp((last_ts + gap_seconds) * 1000)
        if out:
            yield pd.DataFrame(out, columns=_SESSION_COLS)

    if emit_final:
        src = _stage_with_sentinel(spark, events_dir, gap_seconds)
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        src = _as_stream_dir(spark, events_dir)
        timeout = GroupStateTimeout.NoTimeout
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    if emit_final:
        stream = stream.withWatermark("ts", "0 seconds")
    return stream.groupBy("user_id").applyInPandasWithState(
        sessionize_user,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        timeout,
    )


DOCUMENTS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def stream_dedup_hashes(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming exact dedup: first-seen content hashes only, via stateful
    ``dropDuplicates`` on the sha2 key (the streaming face of the
    dedup-before-compute rewrite — state = the set of hashes seen so far; in
    production bounded by ``withWatermark`` + dropDuplicatesWithinWatermark).
    Projected to the hash alone so the emitted SET is deterministic
    (which duplicate arrives first is not)."""
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
        _as_stream_dir(spark, docs_dir)
    )
    return (
        stream.select(F.sha2(F.col("text"), 256).alias("content_hash"))
        .dropDuplicates(["content_hash"])
    )


def stream_incremental_dedup(
    spark: SparkSession, docs_dir: str, corpus_df
) -> DataFrame:
    """Streaming continuous-ingest dedup — the live face of
    ``dedup.incremental_dedup``: arriving micro-batches are (1) first-seen
    deduped WITHIN the stream (stateful dropDuplicates on the hash) and
    (2) anti-joined against the STATIC accumulated-corpus hash set, so only
    genuinely-new content is admitted. Stream-static joins need no state
    for the static side — at production scale the corpus hash table is a
    hash-bucketed table and the anti join prunes to matching buckets.
    Emitted set == batch ``incremental_dedup`` on the same inputs.
    """
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
        _as_stream_dir(spark, docs_dir)
    )
    arriving = stream.select(
        F.sha2(F.col("text"), 256).alias("content_hash")
    ).dropDuplicates(["content_hash"])
    seen = corpus_df.select(F.sha2(F.col("text"), 256).alias("content_hash"))
    return arriving.join(seen, "content_hash", "left_anti")


def stream_extraction(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_store,
    *,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> "object":
    """Run the batch extraction pipeline over a pages file-stream.

    foreachBatch -> stages.run_extraction -> checkpoint_store.commit: each
    micro-batch is one manifest commit, so a crash between batches loses
    nothing and re-processing is prevented by the store's anti-join. Returns
    the StreamingQuery (caller awaits/stops).

    ``checkpoint_dir`` enables RESTART: Spark's offset log marks a batch
    done only after process_batch returns, so a query killed mid-batch
    replays exactly that batch on the next ``stream_extraction`` call over
    the same dir — and the store's url anti-join makes the replay
    exactly-once even if the crash landed after the manifest commit.
    Two layers, two failure windows covered (crash before commit: offset
    log replays; crash after commit: anti-join no-ops). Exercised by
    tests/test_streaming.py::test_stream_extraction_restart_after_midrun_crash.
    """
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pages_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        import uuid

        # input validation, then the resume filter (url anti-join, no UDF),
        # persisted so each of its partitions is computed once: the
        # emptiness test caches what it reads and the extraction reads the
        # cache (plus any partition the test did not reach) instead of
        # re-running the source scan and the anti-join. Invalid pages never
        # commit, so validating first keeps them from making an
        # otherwise-committed batch look pending. An empty batch returns
        # before any commit, so re-streaming an already-committed directory
        # is a no-op instead of an empty or colliding commit. Run ids are
        # unique per micro-batch attempt (batch numbering restarts across
        # queries).
        pending = checkpoint_store.filter_pending(valid_pages(batch_df)).persist()
        try:
            if pending.isEmpty():
                return
            checkpoint_store.commit(
                run_extraction(pending),
                run_id=f"stream-{batch_id:04d}-{uuid.uuid4().hex[:8]}",
            )
        finally:
            pending.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_quality_flags(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming quality ANNOTATION: arriving documents gain keep/drop
    flags (Gopher-lite word-count + mean-word-length gates and a symbol-
    ratio gate) computed by pure codegen expressions per micro-batch —
    stateless, so the streaming plan is exactly the batch plan behind a
    file source; the oracle is the identical batch SQL. The live face of
    the rule-gate stage in curation_pipeline.
    Output: (doc_id, n_tokens, mean_tok_len_micro, keep).
    """
    from ..operators.textops import ws_tokens

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
        _as_stream_dir(spark, docs_dir)
    )
    toks = ws_tokens(F.lower(F.col("text")))
    n = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_micro = F.when(
        n > 0, F.floor(total_len * 1000000 / n)
    ).otherwise(F.lit(0)).cast("long")
    keep = (
        (n >= 5)
        & (mean_micro >= 2_000_000)
        & (mean_micro <= 12_000_000)
    ).cast("int")
    return stream.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        mean_micro.alias("mean_tok_len_micro"),
        keep.alias("keep"),
    )


def stream_enrich(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
    *,
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    payload_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static enrichment join (returns a streaming DF): each
    arriving event is joined to a STATIC dimension table — the canonical
    slowly-changing-dimension enrichment (label every event with its
    user's segment / every fetched page with its host's trust tier).
    Structured Streaming re-evaluates the static side's plan per
    micro-batch, so a dim refreshed at rest is picked up on the next
    trigger without restarting the query — the property this op exists
    to exercise (the 7th streaming surface: stateless stream-static
    JOIN, vs the map/agg/state ops already covered).

    Stateless — no watermark, no state store; append output mode; the
    drained table is row-for-row the batch left join (oracle-exact).

    Scale shape: the dim side is explicitly broadcast (dimension tables
    are bounded BY DEFINITION — this is the legitimate broadcast, unlike
    the corpus-sized computed frames the dedup family pins
    shuffle_hash), so the event stream never shuffles: each micro-batch
    is a map-side hash probe.

    Output: (event_id, user_id, event_type, segment) with unmatched
    keys labeled 'unknown' (left join).
    """
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _as_stream_dir(spark, events_dir)
    )
    d = dim.select(
        F.col(dim_key).cast("long").alias(key_col),
        F.col(payload_col).alias("segment"),
    )
    return stream.join(F.broadcast(d), key_col, "left").select(
        "event_id",
        F.col(key_col).cast("long").alias(key_col),
        "event_type",
        F.coalesce("segment", F.lit("unknown")).alias("segment"),
    )


def stream_stream_attribution(
    spark: SparkSession,
    events_dir: str,
    *,
    impression_type: str = "view",
    conversion_type: str = "purchase",
    attribution_window_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-STREAM inner join (the 8th streaming surface): attribute
    each conversion to the impressions the same user saw in the
    preceding attribution window — the canonical two-stream join every
    event pipeline runs (click/impression, fetch/render, search/click).
    Unlike the stream-static enrich, BOTH sides arrive continuously, so
    the join keeps per-side state; the watermarks bound that state (an
    impression older than window + watermark can never match a future
    conversion and is evicted) — without them a 100 TB event stream's
    join state grows forever.

    Determinism: inner join + availableNow drain emits exactly the
    batch join's rows (watermarks affect only state retention and
    late-data handling, not the matched set), so the oracle is the
    batch time-range join verbatim; the lag is an epoch difference
    (timezone-free).

    Output: (user_id, imp_id, conv_id, lag_sec).
    """
    base = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _as_stream_dir(spark, events_dir)
    )
    imp = base.where(F.col("event_type") == impression_type).select(
        F.col("user_id").alias("imp_user"),
        F.col("event_id").alias("imp_id"),
        F.col("ts").alias("imp_ts"),
    ).withWatermark("imp_ts", watermark)
    conv = base.where(F.col("event_type") == conversion_type).select(
        F.col("user_id").alias("conv_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
    ).withWatermark("conv_ts", watermark)
    joined = imp.join(
        conv,
        F.expr(
            f"""imp_user = conv_user
            AND conv_ts > imp_ts
            AND conv_ts <= imp_ts + interval {attribution_window_minutes}
            minutes"""
        ),
    )
    return joined.select(
        F.col("imp_user").cast("long").alias("user_id"),
        F.col("imp_id").cast("long").alias("imp_id"),
        F.col("conv_id").cast("long").alias("conv_id"),
        (F.col("conv_ts").cast("long") - F.col("imp_ts").cast("long"))
        .cast("long")
        .alias("lag_sec"),
    )


def stream_minhash_state(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming sketch maintenance — the 9th streaming surface: per-source
    MinHash signatures kept continuously up to date as documents arrive,
    via a streaming min/count AGGREGATE (min and count are both mergeable,
    so the state store holds exactly one row per group and every
    micro-batch folds in map-side-combined partials — the live face of
    ``dedup.merge_minhash_states``; same algebra, state store instead of a
    full-outer join).

    Because min is order/batching-independent, the availableNow drain in
    ``complete`` mode is BIT-FOR-BIT the batch ``grouped_minhash_state``
    over the same rows — which is what the oracle states, proving the
    streaming fold exact.

    Output: (source, n_rows, mh_0..mh_7), one row per source.
    """
    from ..operators.dedup import MINHASH_COEFFS, MINHASH_P, base_hash28

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
        _as_stream_dir(spark, docs_dir)
    )
    p = F.lit(MINHASH_P).cast("long")
    h = base_hash28(F.col("text"))
    aggs = [F.count("*").cast("long").alias("n_rows")] + [
        F.min((F.lit(a).cast("long") * h + F.lit(b).cast("long")) % p)
        .cast("long")
        .alias(f"mh_{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:8])
    ]
    return stream.groupBy("source").agg(*aggs)


def stream_dedup_watermark(spark: SparkSession, events_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup — the production form of
    ``stream_dedup_hashes``: ``dropDuplicatesWithinWatermark`` keeps a
    key in the state store only until the watermark passes it, so dedup
    state is O(keys per watermark window) instead of O(all keys ever) —
    the property that lets a continuous ingest run for months. Plain
    ``dropDuplicates`` (the 4th surface) answers exact global dedup;
    this answers bounded-state dedup with a declared staleness window.

    Projected to the key columns so the emitted SET is deterministic
    (which duplicate event arrives first is not); with an availableNow
    drain every row is within the watermark, so the set equals the
    batch DISTINCT — which is what the oracle states.

    Output: distinct (user_id, event_type) pairs.
    """
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _as_stream_dir(spark, events_dir)
    )
    return (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select(F.col("user_id").cast("long").alias("user_id"), "event_type")
    )


def stream_sniff_census(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming declared-vs-sniffed Content-Type census — the live
    face of the batch ``content_type_mismatch`` query: arriving
    payloads reduce to an 8-byte hex prefix per micro-batch (pure
    codegen, payload bytes never reach the aggregation state) and the
    running (declared, sniffed) counts maintain themselves in the
    complete-mode aggregate. Drained availableNow the census equals
    the batch census bit-for-bit (the oracle)."""
    from ..operators.multimodal import (
        content_type_census,
        synth_typed_payloads,
    )

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
        _as_stream_dir(spark, docs_dir)
    )
    return content_type_census(synth_typed_payloads(stream))


def stream_hll_registers(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming HLL register maintenance — the 12th streaming surface:
    the per-register max rank of the user-id hash kept continuously up
    to date as events arrive (max is mergeable and batching-
    independent, so the state store holds at most m = 256 rows and the
    availableNow drain in ``complete`` mode is BIT-FOR-BIT the batch
    register table — what the oracle states). Feed the drained table to
    the ``hll_distinct`` estimate for a live distinct-users gauge.

    Output: (reg, mx), one row per occupied register.
    """
    p = 8
    m = 1 << p
    rank_cap = 60 - p + 1
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _as_stream_dir(spark, events_dir)
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("decimal(20,0)")
        .cast("long")
    )
    w = F.floor(h / m).cast("long")
    rank = F.when(w > 0, F.lit(rank_cap) - F.length(F.bin(w))).otherwise(
        F.lit(rank_cap)
    )
    return (
        stream.select((h % m).alias("reg"), rank.alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").cast("long").alias("mx"))
    )


def stream_cms_registers(
    spark: SparkSession,
    events_dir: str,
    *,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Streaming Count-Min register maintenance — the 13th streaming
    surface: the (depth x width) CMS counter table over the user-id
    stream kept continuously up to date. Counter increments are sums —
    mergeable and batching-independent — so the state store holds at most
    depth*width rows no matter the stream length, and the availableNow
    drain in ``complete`` mode is BIT-FOR-BIT the batch sketch (what the
    oracle states). Point any term at the drained table with the
    ``cms_counts`` min-over-rows probe for a live frequency gauge.

    Hash layout is shared verbatim with ``dedup.cms_term_counts``:
    slot_d(x) = 28-bit md5 prefix of ``'d|x'`` mod width.

    Output: (d, slot, cnt), one row per occupied register.
    """
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _as_stream_dir(spark, events_dir)
    )
    item = F.col("user_id").cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("d"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{d}|"), item)), 1, 7
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("slot"),
            )
            for d in range(depth)
        ]
    )
    return (
        stream.select(F.explode(cells).alias("c"))
        .select("c.d", "c.slot")
        .groupBy("d", "slot")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def stream_media_decode(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming multimodal decode — the 14th streaming surface and the
    first BINARY one: image payloads arriving on the stream decode
    through the SAME Arrow kernel as the batch ``image_decode`` stage
    (codecs.decode_png via operators.multimodal._image_decode), emitting
    per-image (width, height, mode, px_sum, error) rows in append mode.
    The decode is stateless, so the availableNow drain is row-for-row
    the batch decode of the same payloads — which is what the oracle
    states in closed form. Per-record error isolation carries over
    unchanged: a corrupt payload error-flags its own output row, it
    cannot fail the micro-batch.

    Streaming nuance vs the batch stage: ``ensure_parallelism`` probes
    ``df.rdd`` (illegal on a streaming plan), so the kernel maps over
    the source's own partitioning — at scale a file-stream source
    arrives pre-partitioned by file, the batch concern doesn't apply.

    Output: (doc_id, width, height, mode, px_sum, error).
    """
    from ..operators.multimodal import IMAGE_DECODE_SCHEMA, _image_decode

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
        _as_stream_dir(spark, docs_dir)
    )

    def _synth(batches):
        import pandas as pd

        from ..codecs import encode_png

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 7 + 2, d % 5 + 2
                px = bytes(
                    (d + 3 * x + 5 * y) % 256
                    for y in range(h)
                    for x in range(w)
                )
                payloads.append(encode_png(w, h, px, 0))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = stream.select("doc_id").mapInPandas(
        _synth, "doc_id long, payload binary"
    )
    return payloads.mapInPandas(_image_decode, IMAGE_DECODE_SCHEMA)


def stream_session_window(
    spark: SparkSession,
    events_dir: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming built-in ``session_window`` aggregation (15th surface):
    the merging sessionizer under event time + watermark — state is one
    open window per (user, session), merged as late-but-in-watermark
    events arrive, evicted once the watermark passes the window end.
    The batch twin (``q_session_window_agg``) shares the projection, so
    an availableNow drain must reproduce the batch result row-for-row.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(_as_stream_dir(spark, events_dir))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("start_sec"),
            "n_events",
            "value_cents",
        )
    )


def stream_quantile_sketch(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming distribution-sketch maintenance — the 16th streaming
    surface: the exact bounded-domain quantile sketch of
    ``relational.quantile_sketch`` ((group, value) -> count) kept
    continuously up to date over arriving documents. Counts are sums —
    mergeable and batching-independent — so the state store holds at
    most |group x value-domain| rows regardless of stream length, and
    the availableNow drain in ``complete`` mode is BIT-FOR-BIT the
    batch sketch; reading exact quantiles off the drained table
    (``quantiles_from_sketch``) therefore answers the same numbers the
    batch path does — which is what the oracle states directly as exact
    quantile SQL over the corpus.

    Output: (grp, val, cnt), one row per occupied sketch cell.
    """
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(
        _as_stream_dir(spark, docs_dir)
    )
    return stream.groupBy(
        F.col("source").alias("grp"), F.col("n_chars").alias("val")
    ).agg(F.count("*").cast("long").alias("cnt"))
