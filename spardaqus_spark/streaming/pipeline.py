"""Streaming ingest path (SURVEY.md §2.8).

Spardaqus's analyze service consumed a Kafka stream (SURVEY.md App. C);
this rebuild runs the batch pipeline's scoring kernel
(``stages.score_scrub``) unchanged inside Structured Streaming.
In-sandbox the source is a file/rate stream (no kafka jar — App. A); in
production the same code points at ``readStream.format("kafka")`` via
one config key.

Two shapes:

1. ``scrub_stream`` — continuous per-file pipeline: the fused batch
   kernel reused inside ``foreachBatch`` (no cross-batch dedup).
   foreachBatch alone is only AT-LEAST-once (a retry after the write
   lands but before the offset commit re-runs the batch), so the sink is
   made IDEMPOTENT: output is partitioned by ``batch_id`` with dynamic
   partition overwrite — the retried batch replaces exactly its own
   partition. checkpointLocation (offset tracking) + idempotent sink =
   exactly-once end-to-end.
2. windowed quality telemetry — tumbling/sliding/session aggregates of
   rule-hit counts past the watermark, append mode.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..config import PipelineConfig, default_config
from ..operators import stages

if TYPE_CHECKING:
    from pyspark.sql import DataFrame
    from pyspark.sql.streaming import StreamingQuery


def score_micro_batch(batch_df: "DataFrame", batch_id: int, cfg: PipelineConfig,
                      out_dir: str) -> None:
    """The foreachBatch body: the batch pipeline's one scoring kernel
    (``stages.score_scrub``: score + verdict + scrub of kept rows) over
    the micro-batch, then the rule-kept rows to the sink.

    Idempotent sink: dynamic partition overwrite on ``batch_id`` — a
    Structured Streaming retry of the same micro-batch overwrites its own
    partition instead of appending duplicates (the at-least-once ->
    exactly-once upgrade; ADVICE r01).

    Lineage parity with the batch path (VERDICT r02 #4): per-stage lineage
    rows land per micro-batch at ``<out_dir>_lineage``, batch_id-
    partitioned with the same dynamic overwrite, so a retried batch
    replaces its own lineage rows too — the streaming ledger stays
    duplicate-free under at-least-once delivery."""
    from pyspark.sql import functions as F

    from ..pipeline import committed_counts
    from ..plans import lineage as lin

    # the batch pipeline's fused kernel; the stream does no cross-batch
    # dedup, so no row is a dup loser and keep == rule_keep
    scored = stages.score_scrub(
        stages.with_sha(batch_df).withColumn("dup_loser", F.lit(False)), cfg
    )
    # the scored frame feeds two consumers (ledger aggregate + data sink);
    # persist so the pandas scoring stage runs once per batch
    scored = scored.persist()
    try:
        (
            scored.filter(F.col("keep"))
            .drop("dup_loser", "keep")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        ledger = lin.ledger(scored, by=())
    finally:
        scored.unpersist()
    # sink-observed write stage, same as the batch path: read back this
    # batch's partition dir when it kept rows (zero kept rows write no dir).
    # A failed read fails the batch; foreachBatch retries it idempotently.
    spark = batch_df.sparkSession
    n_committed = committed_counts(
        spark, out_dir, "batch_id",
        [batch_id] if any(r["n_keep"] for r in ledger) else [],
    ).get(int(batch_id), 0)
    (
        spark.createDataFrame(
            lin.stream_rows(ledger, int(batch_id), n_committed),
            lin.STREAM_LINEAGE_SCHEMA,
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{out_dir.rstrip('/')}_lineage")
    )


def scrub_stream(
    files_stream: "DataFrame",
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
) -> "StreamingQuery":
    """files-shaped stream -> scrubbed parquet, exactly-once."""
    cfg = cfg or default_config()
    return (
        files_stream.writeStream.foreachBatch(
            lambda df, bid: score_micro_batch(df, bid, cfg, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _with_event_time(df: "DataFrame") -> "DataFrame":
    """Watermarks require TIMESTAMP (with zone); parquet streams may carry
    TIMESTAMP_NTZ — normalize once here."""
    from pyspark.sql import functions as F

    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(events_stream: "DataFrame") -> "DataFrame":
    """Tumbling 10-min counts past a 10-min watermark (append-safe)."""
    from pyspark.sql import functions as F

    return (
        _with_event_time(events_stream).withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_event_counts(events_stream: "DataFrame") -> "DataFrame":
    """Session windows (5-min gap) past the watermark."""
    from pyspark.sql import functions as F

    return (
        _with_event_time(events_stream).withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(events_stream: "DataFrame") -> "DataFrame":
    """Stateful exact-dedup within the watermark horizon — the streaming
    form of the batch dedup_exact stage."""
    return _with_event_time(events_stream).withWatermark(
        "ts", "10 minutes"
    ).dropDuplicatesWithinWatermark(["event_id"])


def stateful_user_totals(events_stream: "DataFrame") -> "DataFrame":
    """Custom stateful operator via ``applyInPandasWithState`` (§2.8 /
    task brief): per-user running (event count, value sum) maintained in
    explicit GroupState ACROSS micro-batches — the shape any bespoke
    streaming accumulator (per-repo quality counters, drift trackers)
    takes when the built-in windowed aggs can't express it. Emits the
    updated running total for every user seen in the batch (update mode);
    state is two scalars per key, so memory is O(distinct users), never
    O(events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(tot, 4)],
            }
        )

    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            "user_id bigint, n_events bigint, total_value double",
            "n bigint, total double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def minhash_candidate_stream(
    docs_stream: "DataFrame", state_ttl_ms: int | None = None
) -> "DataFrame":
    """Streaming near-dup candidate detection (r4): the batch MinHash-LSH
    path lifted into Structured Streaming — the op an ingestion pipeline
    needs to flag near-dups AT ARRIVAL instead of in a nightly batch.

    Why this became possible in r4: signatures are a STATELESS narrow map
    (queries_ml.minhash_signatures, the zero-shuffle kernel) so they run
    unchanged on a stream; the r1-r3 shingle-explode + groupBy(doc_id)
    form would have needed a full state-store aggregation just to build
    sigs. The stateful part is band bucketing: GroupState per
    (band, band_hash) bucket holds the (doc_id, sig) members seen so far;
    each arrival emits est_jaccard>=0.5 candidate pairs against existing
    members (and earlier arrivals in the same batch), then joins the
    bucket. Append mode: each pair emission is new output.

    Contracts: a pair colliding in multiple bands emits once per
    colliding band — downstream consumers run the same dropDuplicates
    the batch path runs (the idempotent-consumer convention). State per
    bucket is O(members x N_HASHES) longs.

    r6 (VERDICT r05 #3, opt guide §5 — bound per-key state): the
    production TTL bound is now CODE, not prose. ``state_ttl_ms`` set ->
    ProcessingTimeTimeout: every batch that touches a bucket, a
    redelivery-only one included, re-arms its idle timer; a bucket
    that no batch touches for the TTL window is dropped whole
    (members can no longer pair with it — the same horizon argument as
    dedup_stream's watermark: near-dups arrive close together in
    ingestion time, so an idle bucket's members have left the match
    window). Default ``None`` keeps the exact r5 NoTimeout behavior —
    the finite-corpus tests and the batch-parity pin replay without a
    clock in the loop; expiry is covered by its own tests
    (tests/test_streaming.py::test_minhash_stream_state_ttl_expires,
    ::test_minhash_stream_ttl_rearmed_by_redelivery)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..queries_ml import N_HASHES, band_frame, minhash_signatures

    # identical signature + banding construction as the batch candidate
    # path — band_frame is THE single banding definition, so batch and
    # stream can never bucket differently
    bands = band_frame(
        minhash_signatures(docs_stream.select("doc_id", "text"))
    )

    def rearm(state):
        # GroupState's contract: a processing-time timeout holds only if
        # each invocation of the group sets it. The early exits below
        # re-arm too, so a redelivery-only batch never leaves a bucket
        # without a timer, whatever the runtime does with an untouched one
        if state_ttl_ms is not None and state.exists:
            state.setTimeoutDuration(int(state_ttl_ms))

    def fn(key, pdfs, state):
        # TTL expiry: a bucket idle past state_ttl_ms arrives here with
        # hasTimedOut and no rows — drop its state entirely
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        # state layout: parallel id list + flattened sig longs (nested
        # array<array<..>> state round-trips awkwardly through the state
        # UnsafeRow; flat + N_HASHES stride is unambiguous)
        if state.exists:
            ids, flat = state.get
            old_ids = np.asarray(ids, dtype=np.int64)
            M = np.asarray(flat, dtype=np.int64).reshape(-1, N_HASHES)
        else:
            old_ids = np.empty(0, dtype=np.int64)
            M = np.empty((0, N_HASHES), dtype=np.int64)
        id_chunks, sig_chunks = [], []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            id_chunks.append(pdf["doc_id"].to_numpy(dtype=np.int64))
            sig_chunks.append(np.array(pdf["sig"].tolist(), dtype=np.int64))
        if not id_chunks:
            rearm(state)
            return
        new_ids = np.concatenate(id_chunks)
        S_new = np.vstack(sig_chunks)
        # at-least-once sources redeliver: a doc_id already stored in the
        # bucket (or seen earlier in this batch) must be a no-op — same
        # convention as dedup_stream — else every replay grows state AND
        # re-emits the doc's pairs once per redelivery (ADVICE r04)
        first = np.zeros(len(new_ids), dtype=bool)
        first[np.unique(new_ids, return_index=True)[1]] = True
        fresh = first & ~np.isin(new_ids, old_ids)
        if not fresh.any():
            rearm(state)
            return
        new_ids = new_ids[fresh]
        S_new = S_new[fresh]
        # vectorized pairing (no per-row Python — the kernel lint rule):
        # every (existing-or-earlier, new) pair's est = lane-agreement mean
        aid = np.concatenate([old_ids, new_ids])
        A = np.vstack([M, S_new])
        n_old = len(old_ids)
        E = (A[:, None, :] == S_new[None, :, :]).mean(axis=2)
        gi = np.arange(len(aid))[:, None]
        gj = n_old + np.arange(len(new_ids))[None, :]
        # gi < gj alone excludes self-pairs: the fresh-filter above makes
        # old_ids and new_ids disjoint and new_ids unique
        keep = (gi < gj) & (E >= 0.5)
        ii, jj = np.nonzero(keep)
        state.update((aid.tolist(), A.ravel().tolist()))
        rearm(state)
        if len(ii):
            yield pd.DataFrame(
                {
                    "d1": np.minimum(aid[ii], new_ids[jj]),
                    "d2": np.maximum(aid[ii], new_ids[jj]),
                    # np.round is safe here (unlike the matmul cosine
                    # path): est is always k/16 and 10^4/16 = 625 is an
                    # integer, so every value is EXACT at 4 decimals —
                    # no HALF_EVEN/HALF_UP midpoint can occur
                    "est_jaccard": np.round(E[ii, jj], 4),
                }
            )

    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return bands.groupBy("band", "bh").applyInPandasWithState(
        fn,
        "d1 bigint, d2 bigint, est_jaccard double",
        "ids array<bigint>, sigs array<bigint>",
        "append",
        timeout,
    )


def sliding_event_counts(events_stream: "DataFrame") -> "DataFrame":
    """Sliding 10-min window, 5-min slide, past the watermark (§2.8)."""
    from pyspark.sql import functions as F

    return (
        _with_event_time(events_stream)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
