"""Structured Streaming ingest.

The reference is batch-only (CLI); the Spark-native engine adds an
incremental path for a continuously-growing source table:

- `stream_sources`      : readStream over a parquet directory of source
                          files -> the same Arrow-batched parse ->
                          append-mode parsed sink (exactly-once via the
                          streaming checkpoint; the batch pipeline's
                          lineage/resume remains the batch equivalent).
- `stream_event_counts` : watermarked tumbling-window aggregation over an
                          event stream (late data handled by watermark) —
                          the streaming twin of the `events_hourly` batch
                          query.

Both run with `trigger(availableNow=True)` in tests (process everything
then stop), and unbounded in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .parse import parse_sources
from .schemas import SOURCE_SCHEMA
from .sinks import has_data


def stream_sources(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Incrementally parse BEL source files as they land in `src_dir`.

    Returns the StreamingQuery.  The parse UDF is identical to the batch
    path — mapInPandas works unchanged on streaming DataFrames because the
    operation is stateless per row.
    """
    stream = (
        spark.readStream.schema(SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(src_dir)
    )
    parsed = parse_sources(stream)
    writer = (
        parsed.writeStream
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_user_sessions(
    events_stream: DataFrame,
    gap: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator (`applyInPandasWithState`): per-user
    sessionization with a `gap`-second inactivity split — the streaming
    twin of the batch `user_sessions` window query.

    Per user, an open session lives in the state store as (start, last,
    n).  A session is emitted when a later event splits it (gap exceeded)
    or when the event-time watermark passes last+gap (timeout flush).
    Timestamps are emitted as epoch seconds so the output is directly
    SQL-comparable.  Exactly the semantics a plain window query computes
    in batch, minus each user's final still-open session.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("user_id bigint, session_start bigint, "
                  "session_end bigint, n_events bigint")
    state_schema = "start bigint, last bigint, n bigint"

    def fn(key, pdfs, state):
        user_id = key[0]
        closed = []
        if state.hasTimedOut:
            if state.exists:
                s, last, n = state.get
                closed.append((user_id, s, last, n))
            state.remove()
        else:
            ts: list[int] = []
            for pdf in pdfs:
                ts.extend(int(t) // 10**9
                          for t in pdf["ts"].astype("int64"))
            ts.sort()
            if state.exists:
                s, last, n = state.get
            else:
                s = last = None
                n = 0
            for t in ts:
                if s is None:
                    s = last = t
                    n = 1
                elif t - last > gap:
                    closed.append((user_id, s, last, n))
                    s = last = t
                    n = 1
                else:
                    # a LATE cross-batch event (within the watermark) may
                    # carry t < last or even t < s; the session bounds
                    # must only ever widen — `last = t` would move the
                    # end backwards and mis-split on the next event
                    last = max(last, t)
                    s = min(s, t)
                    n += 1
            if s is not None:
                state.update((s, last, n))
                # flush the open session once the watermark passes its gap
                state.setTimeoutTimestamp(
                    max((last + gap) * 1000,
                        state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end",
                         "n_events"])

    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout)
    )


def stream_dedup_documents(
    docs_stream: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: the streaming twin of `ops.dedup.exact_dedup`
    for continuously-arriving documents.

    Rows whose content sha256 was already seen within the watermark horizon
    are dropped (`dropDuplicatesWithinWatermark`), so re-uploads and
    crawler revisits never reach the expensive downstream operators.  State
    is one sha + timestamp per distinct document and is evicted once the
    event-time watermark passes — bounded state regardless of stream
    length, which is what makes this viable on an unbounded 100 TB feed."""
    return (
        docs_stream
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .withColumn("text_sha", F.sha2(F.col(text_col), 256))
        .dropDuplicatesWithinWatermark(["text_sha"])
    )


def stream_minhash_candidates(
    docs_stream: DataFrame,
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming NEAR-dup candidate generator: the streaming twin of the
    batch `ops.dedup.minhash_lsh_pairs` band join.

    Per row (stateless, row-local — no streaming groupBy aggregation, so
    only ONE stateful operator exists in the query): the MinHash
    signature via the Column HOF form and the `bands` band hashes,
    byte-identical to the batch operator's (same xxhash64 permutation
    seeds, same concat_ws band string).  Each (band_idx, band_hash)
    bucket then runs first-writer-wins registry state
    (`applyInPandasWithState`): within a micro-batch ties break by
    (event time, then id); across micro-batches the earlier-ARRIVED
    batch owns the bucket — the standard streaming registry semantics,
    since append mode cannot retract ownership already emitted when
    late data turns up (same trade `stream_graph_upsert` documents).
    Every later doc inside the watermark horizon emits a hit row
    (doc_id, band_idx, band_hash, first_doc_id).  A doc is a near-dup
    CANDIDATE iff it emits >= 1 hit — exactly the batch LSH contract
    (banding bounds candidates; exact verification joins text
    downstream).  Bucket state is one (id, ts) pair, evicted once the
    event-time watermark passes — bounded state on an unbounded feed."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .ops.dedup import minhash_signature
    from .ops.text import with_shingles

    assert k % bands == 0
    rows = k // bands
    base = (
        docs_stream
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .transform(lambda d: with_shingles(d, text_col, "sh", shingle_n))
        .filter(F.size("sh") > 0)
        .withColumn("_sig", minhash_signature(F.col("sh"), k))
        .select(
            F.col(id_col).alias("doc_id"), F.col(ts_col).alias("ts"),
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.xxhash64(F.concat_ws(",", *[
                        F.col("_sig")[j].cast("string")
                        for j in range(b * rows, (b + 1) * rows)
                    ])).alias("band_hash"),
                )
                for b in range(bands)
            ])).alias("band"))
        .select("doc_id", "ts", "band.band_idx", "band.band_hash")
    )

    out_schema = ("doc_id bigint, band_idx int, band_hash bigint, "
                  "first_doc_id bigint")
    state_schema = "first_id bigint, first_ts bigint, last_ts bigint"

    def fn(key, pdfs, state):
        band_idx, band_hash = int(key[0]), int(key[1])
        if state.hasTimedOut:
            state.remove()
            return
        rows_in = []
        for pdf in pdfs:
            for did, t in zip(pdf["doc_id"].astype("int64"),
                              pdf["ts"].astype("int64")):
                rows_in.append((int(t) // 10**9, int(did)))
        rows_in.sort()
        if state.exists:
            first_id, first_ts, last_ts = state.get
        else:
            first_ts, first_id = rows_in[0]
            last_ts = first_ts
        hits = []
        for t, did in rows_in:
            if did != first_id:
                hits.append((did, band_idx, band_hash, first_id))
            last_ts = max(last_ts, t)
        state.update((first_id, first_ts, last_ts))
        state.setTimeoutTimestamp(
            max(last_ts * 1000 + 1, state.getCurrentWatermarkMs() + 1))
        if hits:
            yield pd.DataFrame(
                hits, columns=["doc_id", "band_idx", "band_hash",
                               "first_doc_id"])

    return (
        base.groupBy("band_idx", "band_hash")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout)
    )


def stream_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "rts",
    interval: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each right-stream row
    joins left-stream rows with the same `key` whose timestamp satisfies
    left_ts <= right_ts <= left_ts + `interval` seconds (attribution-style
    semantics: a click joins the view that preceded it within the window).

    Both sides carry event-time watermarks and the join predicate bounds
    the two event times against each other, which is exactly what lets
    Spark evict join state: a left row can be dropped once the right
    watermark passes left_ts + interval, so state stays proportional to
    the window, not the stream — the requirement for running unbounded
    at 100 TB/day.  Without the time-range conjunct the state store would
    grow forever; this function makes the bounded form the only
    expressible one.

    `left_ts` and `right_ts` must be distinct column names (the joined
    row carries both).
    """
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must differ so the joined "
                         "row can carry both event times")
    l = (left_stream
         .withColumn(left_ts, F.col(left_ts).cast("timestamp"))
         .withWatermark(left_ts, watermark))
    r = (right_stream
         .withColumn(right_ts, F.col(right_ts).cast("timestamp"))
         .withWatermark(right_ts, watermark))
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {interval} SECONDS"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def stream_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked tumbling-window counts per event_type over a streaming
    events DataFrame (ts, event_type, value).  Watermarks require a
    session-zoned timestamp, so TIMESTAMP_NTZ inputs are cast."""
    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "sum_value")
    )


# ---------------------------------------------------------------------------
# incremental KG construction (foreachBatch upsert)
# ---------------------------------------------------------------------------

def _merge_edges(old: DataFrame, new: DataFrame) -> DataFrame:
    """Associative edge merge: document sets union, statement counts sum,
    payload first-writer-wins (the same contract as the batch two-phase
    aggregation in graph.materialize_edges).

    First-writer is enforced with a generation ordinal + min_by, not a
    bare F.first over the union: F.first in a groupBy is
    order-nondeterministic in Spark, so when an edge_id recurs across
    batches with different optional citation/evidence extras the payload
    could flip between the accumulated value and the new batch's (and
    between foreachBatch retries).  min_by(gen) deterministically keeps
    the earliest-committed payload."""
    payload = [c for c in old.columns
               if c not in ("edge_id", "document_ids", "n_statements")]
    return (
        old.withColumn("_gen", F.lit(0))
        .unionByName(new.withColumn("_gen", F.lit(1)))
        .groupBy("edge_id")
        .agg(*[F.min_by(c, "_gen").alias(c) for c in payload],
             F.array_sort(F.array_distinct(
                 F.flatten(F.collect_list("document_ids"))))
             .alias("document_ids"),
             F.sum("n_statements").alias("n_statements"))
        .select(*old.columns)
    )


def _merge_nodes(old: DataFrame, new: DataFrame) -> DataFrame:
    """Associative node merge: occurrence counts sum; has_modifiers is an
    OR across batches and pure = base_pure & ~has_modifiers, so max/min
    reproduce the one-shot aggregation exactly.  Payload first-writer-wins
    via generation ordinal + min_by (see _merge_edges)."""
    payload = [c for c in old.columns
               if c not in ("node_id", "n_occurrences", "has_modifiers",
                            "pure")]
    return (
        old.withColumn("_gen", F.lit(0))
        .unionByName(new.withColumn("_gen", F.lit(1)))
        .groupBy("node_id")
        .agg(*[F.min_by(c, "_gen").alias(c) for c in payload],
             F.max("has_modifiers").alias("has_modifiers"),
             F.min("pure").alias("pure"),
             F.sum("n_occurrences").alias("n_occurrences"))
        .select(*old.columns)
    )


def stream_graph_upsert(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 16,
):
    """Incremental KG construction: BEL source files land in `src_dir`,
    each micro-batch runs the SAME parse -> materialize DataFrame algebra
    as the batch pipeline, and the resulting node/edge tables are MERGED
    into the accumulated graph (foreachBatch).

    Both merges are associative folds of the batch pipeline's own
    aggregations (doc-set union / count sum), so draining the stream
    yields byte-identical edge_id/document_ids/n_statements and
    node_id/n_occurrences to a one-shot batch materialize over the same
    corpus — the invariant the pytest twin asserts.

    Idempotence: a lineage table of processed file_shas is anti-joined
    against every batch, so Structured Streaming's at-least-once
    foreachBatch retries never double-count a fully-committed batch.
    The parquet fallback writes tables THEN lineage — a crash between the
    two re-merges one batch's counts on retry; the Iceberg MERGE sink
    (sinks.write_table) closes that window transactionally at scale.
    Parquet overwrite-while-read is broken with an eager localCheckpoint.
    """
    from . import graph as G
    from . import parse as P

    edges_path = f"{out_dir}/edges"
    nodes_path = f"{out_dir}/nodes"
    lineage_path = f"{out_dir}/lineage"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.withColumn(
            "file_sha", F.sha2(F.col("content"), 256))
        # duplicate-content files WITHIN a batch collapse here (same
        # convention as run_pipeline's dedup_source); the lineage
        # anti-join below only covers duplicates ACROSS batches, so
        # without this the accumulated counts would depend on micro-batch
        # boundaries and break the equals-one-shot-batch invariant
        batch_df = batch_df.dropDuplicates(["file_sha"])
        if has_data(spark, lineage_path):
            seen = spark.read.parquet(lineage_path)
            batch_df = batch_df.join(seen, "file_sha", "left_anti")
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        parsed = P.parse_sources(batch_df).filter("ok")
        new_edges = G.materialize_edges(P.statements_table(parsed))
        new_nodes = G.materialize_nodes(P.nodes_table(parsed))
        # gate each merge on ITS OWN path: a crash between the edges and
        # nodes writes below leaves edges present but nodes absent, and a
        # single edges-gated check would then throw PATH_NOT_FOUND on
        # every foreachBatch retry — bricking the stream permanently
        if has_data(spark, edges_path):
            new_edges = _merge_edges(spark.read.parquet(edges_path),
                                     new_edges)
        if has_data(spark, nodes_path):
            new_nodes = _merge_nodes(spark.read.parquet(nodes_path),
                                     new_nodes)
        new_edges.localCheckpoint(eager=True) \
            .write.mode("overwrite").parquet(edges_path)
        new_nodes.localCheckpoint(eager=True) \
            .write.mode("overwrite").parquet(nodes_path)
        batch_df.select("file_sha").distinct() \
            .write.mode("append").parquet(lineage_path)

    stream = (
        spark.readStream.schema(SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
