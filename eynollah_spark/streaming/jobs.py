"""Structured Streaming surface.

The reference is strictly batch (one page per ``run()``,
eynollah.py:2300-2567) and the north rule's "resumable from
checkpoint" maps to batch manifests, so streaming is an *extension*
surface of this engine, not a parity requirement: the event table is
stream-shaped (event_id, ts, user_id, event_type, value, props) and a
training-data pipeline ingests continuously, so the canonical
streaming shapes are provided:

- watermarked event-time window aggregation (late data bounded)
- custom stateful sessionization via ``applyInPandasWithState`` —
  the streaming twin of the batch lag/cumsum sessionizer in
  operators/relational.py (same 30-min gap rule)
- streaming extraction: the SAME batch kernel applied per micro-batch
  through ``foreachBatch`` (kernel is stateless per turn, the
  conversation ids are stamped within each micro-batch's
  conversations) —
  checkpointed, exactly-once per sink commit.
- in-flight curation twins: exact dedup (stream-stream and
  cross-snapshot stream-static), MinHash near-dup vs a static index,
  stateless quality gating, and rolling-context SFT pair assembly
  (``stream_sft_pairs`` — batch-parity asserted in tests).

All sources are file streams (parquet dirs), so tests drive them with
``Trigger.AvailableNow`` against the driver testdata with no external
services.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

SESSION_GAP_S = 1800
# dormant per-user seq state is kept this long after a session closes,
# then garbage-collected (the user restarts at seq 1 afterwards) —
# bounds streaming state by ACTIVE users within the horizon, not by
# the all-time distinct-user count
SESSION_GC_HORIZON_S = 30 * 86400


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over an events parquet directory."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )


def stream_minute_rollup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked event-time tumbling-window aggregation: late rows
    beyond the watermark are dropped deterministically; state is
    bounded by (window span x types)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", IntegerType()),
        StructField("n_events", IntegerType()),
        StructField("session_value", DoubleType()),
    ]
)
_SESSION_STATE = StructType(
    [
        StructField("session_seq", IntegerType()),
        StructField("n_events", IntegerType()),
        StructField("value_sum", DoubleType()),
        StructField("last_ts", LongType()),
    ]
)


def _session_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user stateful sessionizer: closes a session when the gap to
    the next event exceeds SESSION_GAP_S, or on state timeout."""
    (user_id,) = key
    if state.hasTimedOut:
        seq, n, vs, last = state.get
        if n == 0 and last is None:
            # the GC timeout fired on an already-dormant state: no
            # session to close — drop the state entirely, bounding
            # state by users active within SESSION_GC_HORIZON_S. The
            # user restarts at seq 1 after the horizon (the accepted
            # seq-continuity tradeoff; continuity within the horizon
            # is preserved by the dormant record below).
            state.remove()
            return
        # Keep the NEXT session's seq in a dormant record instead of
        # remove(): a removed state would restart the user at seq 1
        # and re-emit already-used (user_id, session_seq) keys. A long
        # GC timeout is re-armed so the dormant record itself is
        # eventually collected (see above).
        state.update((seq + 1, 0, 0.0, None))
        state.setTimeoutDuration(SESSION_GC_HORIZON_S * 1000)
        if n > 0:
            yield pd.DataFrame(
                {"user_id": [user_id], "session_seq": [seq], "n_events": [n],
                 "session_value": [round(vs, 6)]}
            )
        return
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    # seq starts at 1 — key-compatible with the batch sessionizer
    # (operators/relational.py events_sessionize, 1-based session_seq)
    seq, n, vs, last = state.get if state.exists else (1, 0, 0.0, None)
    out = {"user_id": [], "session_seq": [], "n_events": [], "session_value": []}
    for ts, val in zip(rows["ts"], rows["value"]):
        t = int(ts.timestamp())
        if last is not None and t - last > SESSION_GAP_S:
            out["user_id"].append(user_id)
            out["session_seq"].append(seq)
            out["n_events"].append(n)
            out["session_value"].append(round(vs, 6))
            seq, n, vs = seq + 1, 0, 0.0
        elif last is None:
            pass  # first event of a (re)opened session; seq already set
        n += 1
        vs += float(val)
        last = t
    state.update((seq, n, vs, last))
    state.setTimeoutDuration(SESSION_GAP_S * 1000)
    if out["user_id"]:
        yield pd.DataFrame(out)


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Streaming gap-sessionization with per-key state + processing
    timeout — emits each session when its gap closes it."""
    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_dedup_docs(
    docs: DataFrame, watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Streaming exact dedup — the in-flight twin of
    operators/dedup.dedup_exact for a continuously-ingesting training
    pipeline: documents whose md5(text) was already seen within the
    watermark horizon are dropped. ``dropDuplicatesWithinWatermark``
    bounds the dedup state by event time (an unbounded global
    dropDuplicates would grow state forever at 10^12-doc scale)."""
    hashed = docs.withColumn("text_hash", F.md5(F.col("text")))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def stream_near_dup_docs(
    docs: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    k: int = 3,
    num_hashes: int = 16,
    band_hashes: int = 4,
) -> DataFrame:
    """Streaming NEAR-dup triage: documents whose leading MinHash band
    (the first ``band_hashes`` of ``num_hashes`` permutations) matches
    an earlier doc within the watermark horizon are dropped.

    The signature is computed per ROW (``minhash_signature_col`` —
    byte-identical to the batch groupBy signatures, zero shuffle), so
    it composes with ``dropDuplicatesWithinWatermark`` and state stays
    bounded by event time. A single band is deliberately aggressive:
    it catches high-Jaccard near-dups with probability ~j^band_hashes
    and can drop moderately-similar pairs — this is the in-flight
    TRIAGE pass; the exact batch pipeline (minhash_lsh_pairs with
    candidate verification) remains the authority. The full signature
    rides along in ``sig`` for downstream batch verification."""
    from eynollah_spark.operators.dedup import minhash_signature_col

    sig = minhash_signature_col(F.col("text"), k=k, num_hashes=num_hashes)
    band = F.md5(
        F.concat_ws(
            ",",
            F.transform(F.slice(sig, 1, band_hashes), lambda h: h.cast("string")),
        )
    )
    hashed = docs.withColumn("sig", sig).withColumn("band_sig", band)
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["band_sig"]
    )


def stream_incremental_dedup(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Streaming cross-snapshot dedup: in-flight documents whose
    md5(text) already exists in the STATIC index snapshot are dropped
    — the streaming twin of ``operators/dedup.incremental_dedup``'s
    exact gate, as a stream-static LEFT ANTI join (supported join type
    for stream x static in Structured Streaming; the static side is
    re-read per micro-batch, so a snapshot refresh is picked up
    without restarting the query).

    Scale posture: the static side reduces to DISTINCT hashes before
    the join; with a production index this is the persisted hash table
    (or its Bloom front, ``bloom_index``) rather than a re-scan. The
    join is stateless — no streaming state at all, unlike the
    watermark-bounded within-stream dedup of ``stream_dedup_docs``;
    compose both for "new vs index AND new vs new" semantics.
    """
    idx = index_docs.select(F.md5(F.col(text_col)).alias("text_hash")).distinct()
    return new_docs.withColumn("text_hash", F.md5(F.col(text_col))).join(
        idx, "text_hash", "left_anti"
    )


def stream_extract_spans(
    spark: SparkSession,
    transcripts_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
):
    """Streaming extraction: file-source transcript stream ->
    foreachBatch(full batch pipeline) -> parquet, with a streaming
    checkpoint.

    ID CONTRACT (load-bearing — do not join by bare ids): the kernel
    is per-turn stateless, so per-turn spans (text, char offsets,
    region types) are byte-equal to the batch pipeline however the
    stream is split. But the conversation ids are stamped per
    micro-batch, so ``reading_order`` / ``region_id`` / ``line_id``
    restart per batch
    and are unique only within ``(_batch_id, conv_id)`` — which is why
    the sink stamps ``_batch_id`` into the output schema. A
    conversation split across micro-batches gets batch-local ids;
    joining streamed spans to batch-job spans must key on
    (conv_id, turn_idx, span_idx), never on region/line ids.
    Continuous global order is the batch job's domain — streaming here
    is the ingest/triage surface. Asserted by
    tests/test_streaming.py::test_stream_extract_spans_batch_local_ids.

    The sink is idempotent per batch_id: each micro-batch overwrites
    its own ``_batch_id=`` partition (dynamic partition overwrite), so
    a batch retried after a partial write replaces, not duplicates —
    exactly-once at the sink given foreachBatch's at-least-once
    redelivery."""
    from eynollah_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
    from eynollah_spark.operators.extract import extract_spans

    src = (
        spark.readStream.schema(schema or TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(transcripts_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            extract_spans(batch_df)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_filter(docs: DataFrame, buckets: int = 1 << 16) -> DataFrame:
    """Streaming quality gate: the hashed linear classifier
    (operators/text_analysis.hashed_classifier_scores) applied
    in-flight — per-ROW logit via the same md5-derived bucket weights,
    computed as a pure column expression (no stream-static join
    needed: the weight of a bucket is a deterministic function of the
    bucket id, so the whole gate is stateless and composes with any
    downstream watermarked operator). Keeps documents whose mean
    bucket weight is positive; tokenless documents are dropped.

    Batch-parity: for every doc with tokens, the kept set equals
    hashed_classifier_scores(...).filter('keep') — asserted in
    tests/test_streaming.py."""
    from eynollah_spark.operators.dedup import _h64

    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: F.length(t) > 0
    )
    # weight(tok) inlined: the classifier's broadcast dim is a
    # deterministic function bucket -> weight, so streaming evaluates
    # it row-locally
    wsum = F.aggregate(
        F.transform(
            toks,
            lambda t: (
                _h64(F.concat(F.lit("w:"), (_h64(t) % buckets).cast("string")))
                % 2001
            )
            - 1000,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + w,
    )
    n = F.size(toks)
    return docs.filter((n > 0) & (wsum > 0))


# ---------------------------------------------------------------------------
# streaming SFT pair assembly (the in-flight twin of
# operators/text_analysis.sft_pairs)
# ---------------------------------------------------------------------------

SFT_STREAM_CONTEXT_TURNS = 8
# per-conversation context state is dropped this long after the last
# turn — bounds state by conversations ACTIVE within the horizon
CONV_GC_HORIZON_S = 86400

# how many of the most recently processed turn_idx values are
# remembered per conversation to tell a micro-batch REPLAY (same idx
# seen before -> skip silently, exactly-once output) apart from a
# genuinely LATE out-of-order turn (idx <= last but never seen ->
# ordering-contract violation, counted in n_dropped_ooo)
SFT_REPLAY_HORIZON = 256

_SFT_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("prompt", StringType()),
        StructField("response", StringType()),
        StructField("n_context_turns", IntegerType()),
        StructField("n_dropped_ooo", IntegerType()),
    ]
)
_SFT_STATE = StructType(
    [
        StructField("ctx", ArrayType(StringType())),
        StructField("last_idx", IntegerType()),
        StructField("seen", ArrayType(IntegerType())),
        StructField("n_ooo", IntegerType()),
    ]
)


def _sft_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-conversation rolling context: keeps the last K rendered
    turns; each arriving assistant turn emits one (prompt, response)
    pair against the buffer as it stood BEFORE the turn — byte-equal
    to the batch sft_pairs frame semantics when turns arrive in
    order (and, like the whole module, assumes non-null text — the
    extraction output guarantees it).

    An arriving idx <= last_idx is never emitted, but the two causes
    are distinguished (ADVICE r3): an idx in the recent ``seen`` set
    is a micro-batch REPLAY (expected under at-least-once delivery,
    skipped silently); an unseen one is a LATE out-of-order turn — a
    violation of the module's in-order contract — counted per
    conversation in state and surfaced as ``n_dropped_ooo`` on every
    subsequently emitted pair, so monitoring sees contract violations
    instead of silent prompt divergence. ``seen`` is bounded to the
    last SFT_REPLAY_HORIZON idxs; an idx older than the horizon
    counts as late (conservative: flags, never hides)."""
    (conv_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    rows = pd.concat(list(pdfs)).sort_values("turn_idx")
    ctx, last_idx, seen, n_ooo = (
        state.get if state.exists else ([], -1, [], 0)
    )
    ctx = list(ctx)
    seen = list(seen)
    seen_set = set(seen)
    k = SFT_STREAM_CONTEXT_TURNS
    out = {"conv_id": [], "turn_idx": [], "prompt": [], "response": [],
           "n_context_turns": [], "n_dropped_ooo": []}
    for idx, role, text in zip(rows["turn_idx"], rows["role"], rows["text"]):
        idx = int(idx)
        if idx <= last_idx:
            if idx not in seen_set:
                n_ooo += 1
            continue
        if role == "assistant":
            window = ctx[-k:]
            out["conv_id"].append(conv_id)
            out["turn_idx"].append(idx)
            out["prompt"].append("\n\n".join(window))
            out["response"].append(text)
            out["n_context_turns"].append(len(window))
            out["n_dropped_ooo"].append(n_ooo)
        ctx.append(f"{role}: {text}")
        if len(ctx) > k:
            ctx = ctx[-k:]
        seen.append(idx)
        seen_set.add(idx)
        if len(seen) > SFT_REPLAY_HORIZON:
            seen = seen[-SFT_REPLAY_HORIZON:]
        last_idx = idx
    state.update((ctx, last_idx, seen, n_ooo))
    state.setTimeoutDuration(CONV_GC_HORIZON_S * 1000)
    if out["conv_id"]:
        yield pd.DataFrame(out)


def stream_sft_pairs(turns: DataFrame) -> DataFrame:
    """Streaming (prompt, response) assembly over a turn stream: state
    per conversation is K rendered turns + one index — constant-size
    regardless of conversation length, GC'd after CONV_GC_HORIZON_S
    of silence. Output matches batch sft_pairs(max_context_turns=K)
    on in-order input (asserted in tests/test_streaming.py)."""
    return turns.groupBy("conv_id").applyInPandasWithState(
        _sft_fn,
        outputStructType=_SFT_OUT,
        stateStructType=_SFT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
