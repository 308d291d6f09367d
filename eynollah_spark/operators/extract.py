"""The Spark extraction pipeline.

Physical shape of ``extract_spans`` (see SURVEY.md §3 "Spark lifecycle
of the graft"):

    scan (parquet/iceberg, column-pruned to conv_id,turn_idx,role,text)
      -> Exchange, partition = pmod(xxhash64(conv_id), n_buckets) mod P
                                   # the ONLY shuffle, over TURN rows
      -> sortWithinPartitions(conv_id, turn_idx)
      -> mapInPandas(layout kernel + id stamps)
      -> project: region_id / line_id by format_string
      -> sink

The exchange key is the sink's conversation bucket
(``io.sinks.conv_bucket``), passed through as the partition id
(``repartitionById``) rather than hashed again, so every partition
holds the same number of buckets: a conversation's turns arrive whole
and in order in one partition, and every sink bucket is written by
exactly one task (one file per bucket). The kernel iterator stamps the
conversation-level ids of SPEC §10 as it emits, with counters carried
across the Arrow batches of a partition: ``reading_order`` is the
conversation's running span count, the region number the dense rank
of (turn_idx, region_seq), the line number the row number within the
region. No window runs. This is the reference's multiprocessing
fan-out with index bookkeeping (eynollah.py:812-909), except order is
restored by keys, never by arrival order.

Partition count P = min(n_buckets, defaultParallelism), with no knob
of its own. The stage after the exchange is the CPU-bound kernel, so
the count is explicit and AQE cannot coalesce it; partitions beyond
the bucket count would stay empty, and partitions beyond the cores
only add task overhead (on a 4-core host the whole sink job took
1.51 s with 4 partitions, 1.94 s with 8).

Scale notes (100 TB / 10^12 turns):
- on a cluster defaultParallelism is the total executor core count,
  so the kernel stage is one wave of P tasks; the sink's bucket count
  must grow with the cluster (n_buckets >= cores) or P stops below
  the core count. Each task holds input/P turn bytes: the sort in
  front of the kernel is Spark's external sort (spills, no driver
  involvement) and the Arrow batch size bounds the Python worker.
  The exchange moves turn rows, ~1/9 as many rows as spans.
- a 10^6-turn conversation lands in one kernel task.
  ``extract_spans_salted`` spreads it. Each turn gets a salt,
  pmod(xxhash64(conv_id, turn_idx), salt_buckets), and the turns
  exchange into min(salt_buckets, defaultParallelism) explicit
  partitions, partition = salt mod count, so every partition holds an
  equal share of every conversation. The kernel runs there; then the
  spans exchange on the bucket, sort by (conv_id, turn_idx, span_idx)
  and go through a stamp-only pass that stamps the same ids. Two
  exchanges, no window; only the linear stamp pass still sees the
  whole conversation in one task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    DoubleType,
    BooleanType,
)

from eynollah_spark.config import DEFAULT_CONFIG, ExtractConfig
from eynollah_spark.io.sinks import N_BUCKETS, conv_bucket

KERNEL_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("span_idx", IntegerType()),
        StructField("region_type", StringType()),
        StructField("region_seq", IntegerType()),
        StructField("char_start", IntegerType()),
        StructField("char_end", IntegerType()),
        StructField("text", StringType()),
    ]
)

SPAN_SCHEMA = StructType(
    KERNEL_OUT_SCHEMA.fields
    + [
        StructField("reading_order", IntegerType()),
        StructField("region_id", StringType()),
        StructField("line_id", StringType()),
    ]
)

# the kernel's output with the id numbers of SPEC §10, before _with_ids
_STAMP_COLUMNS = ("reading_order", "_region_num", "_line_num")
_STAMPED_SCHEMA = StructType(
    KERNEL_OUT_SCHEMA.fields + [StructField(c, IntegerType()) for c in _STAMP_COLUMNS]
)

PAGE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("n_lines", IntegerType()),
        StructField("n_spans", IntegerType()),
        StructField("n_regions", IntegerType()),
        StructField("max_columns", IntegerType()),
        StructField("slope", DoubleType()),
        StructField("is_deskewed", BooleanType()),
        StructField("agreement_ratio", DoubleType()),
        StructField("used_binarized", BooleanType()),
        StructField("was_enhanced", BooleanType()),
    ]
)


# Executor-side lazy model cache: the broadcast is deserialized once per
# executor process, not once per task (north_rule: "model weights ...
# broadcast once per executor"; replaces the reference's per-stage
# session create/teardown, eynollah.py:513-520).
_MODEL_CACHE: dict = {}


def _bc_key(bc_cfg):
    """Stable cache key for a broadcast config, resolved on the DRIVER
    (the worker-side Broadcast object has no id): the JVM broadcast id
    is unique per broadcast for the app's lifetime. id(bc) would be
    unsafe — CPython reuses addresses after GC, which could serve a
    stale model for a different config on a long-lived executor."""
    if bc_cfg is None:
        return None
    try:
        return ("bc", int(bc_cfg._jbroadcast.id()))
    except Exception:  # non-JVM stub (tests) — fall back to the object
        return ("obj", id(bc_cfg), getattr(bc_cfg, "id", None))


def _stamp(conv, turn, rseq, carry):
    """SPEC §10 conversation ids for n > 0 spans in (conv_id, turn_idx,
    span_idx) order, each turn complete: conv / turn / rseq are their
    conv_id, turn key and region_seq. ``carry`` = [conv_id, next
    reading_order, regions numbered] of the conversation stamped last,
    continued if the first span belongs to it and updated in place.
    Returns int32 (reading_order, region number, line number)."""
    n = len(rseq)
    pos = np.arange(n, dtype=np.int64)
    new_conv = np.ones(n, dtype=bool)
    new_conv[1:] = conv[1:] != conv[:-1]
    new_turn = new_conv.copy()
    new_turn[1:] |= turn[1:] != turn[:-1]
    seg = np.cumsum(new_conv) - 1
    first = np.flatnonzero(new_conv)
    base_o = np.zeros(len(first), dtype=np.int64)
    base_r = np.zeros(len(first), dtype=np.int64)
    if conv[0] == carry[0]:
        base_o[0], base_r[0] = carry[1], carry[2]
    order = pos - first[seg] + base_o[seg]

    # regions: groups of (turn, region_seq) in that order; spans keep
    # their order within a group, so a region_seq that steps back
    # within a turn joins its earlier group
    tnum = np.cumsum(new_turn)
    o = None
    if ((rseq[1:] < rseq[:-1]) & ~new_turn[1:]).any():
        o = np.lexsort((rseq, tnum))
        tnum, rseq = tnum[o], rseq[o]
    gstart = np.ones(n, dtype=bool)
    gstart[1:] = (tnum[1:] != tnum[:-1]) | (rseq[1:] != rseq[:-1])
    gnum = np.cumsum(gstart)
    region = gnum - gnum[first[seg]] + 1 + base_r[seg]
    line = pos - np.maximum.accumulate(np.where(gstart, pos, 0)) + 1
    carry[:] = [conv[-1], int(order[-1]) + 1, int(region[-1])]
    if o is not None:
        region[o], line[o] = region.copy(), line.copy()
    return order.astype(np.int32), region.astype(np.int32), line.astype(np.int32)


def _stamp_parts(pdf, parts, carry) -> None:
    """Stamp the kernel's frames for one batch of turns sorted by
    (conv_id, turn_idx), in place."""
    if not parts:
        return
    page = np.concatenate([pg for pg, _f in parts])
    rseq = np.concatenate([f["region_seq"].to_numpy() for _pg, f in parts])
    o = np.argsort(page, kind="stable") if len(parts) > 1 else None
    if o is not None:
        page, rseq = page[o], rseq[o]
    stamps = _stamp(pdf["conv_id"].to_numpy()[page], page, rseq, carry)
    if o is not None:
        for a in stamps:
            a[o] = a.copy()
    at = 0
    for _pg, f in parts:
        for c, a in zip(_STAMP_COLUMNS, stamps):
            f[c] = a[at : at + len(f)]
        at += len(f)


def _stamp_frame(pdf, carry) -> pd.DataFrame:
    """Stamp a span frame sorted by (conv_id, turn_idx, span_idx)."""
    stamps = _stamp(
        pdf["conv_id"].to_numpy(),
        pdf["turn_idx"].to_numpy(),
        pdf["region_seq"].to_numpy(),
        carry,
    )
    return pdf.assign(**dict(zip(_STAMP_COLUMNS, stamps)))


def _model(key, bc_cfg):
    from eynollah_spark.kernel.textpage import LineModel

    model = _MODEL_CACHE.get(key)
    if model is None:
        model = LineModel(bc_cfg.value if bc_cfg is not None else DEFAULT_CONFIG)
        _MODEL_CACHE[key] = model
    return model


def _kernel_iter(bc_cfg, metrics=None, stamp=False):
    """The layout kernel over Arrow batches of turns. With ``stamp`` the
    partition's turns must arrive sorted by (conv_id, turn_idx): the
    frames then carry the conversation id stamps, counted on across
    batches."""
    key = _bc_key(bc_cfg)  # captured in the task closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eynollah_spark.kernel.textpage import analyze_turns_parts

        model = _model(key, bc_cfg)
        carry = [None, 0, 0]
        for pdf in batches:
            # the column-free and column-page frames yield separately
            # (no pandas concat/consolidation)
            parts = analyze_turns_parts(pdf, model)
            if metrics is not None:
                metrics["turns_in"].add(len(pdf))
                metrics["bytes_parsed"].add(int(pdf["text"].str.len().fillna(0).sum()))
                metrics["spans_emitted"].add(sum(len(f) for _pg, f in parts))
            if stamp:
                _stamp_parts(pdf, parts, carry)
            for _pg, f in parts:
                yield f

    return run


def _stamp_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stamp-only pass over span batches sorted by (conv_id, turn_idx,
    span_idx). A turn may straddle two batches, so each batch's last
    turn is held back and stamped with the next batch."""
    carry = [None, 0, 0]
    held = None
    for pdf in batches:
        if held is not None:
            pdf = pd.concat([held, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        conv = pdf["conv_id"].to_numpy()
        turn = pdf["turn_idx"].to_numpy()
        opens = np.flatnonzero((conv[1:] != conv[:-1]) | (turn[1:] != turn[:-1]))
        cut = int(opens[-1]) + 1 if len(opens) else 0
        held = pdf.iloc[cut:]
        if cut:
            yield _stamp_frame(pdf.iloc[:cut], carry)
    if held is not None and len(held):
        yield _stamp_frame(held, carry)


def _diag_iter(bc_cfg):
    key = _bc_key(bc_cfg)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eynollah_spark.kernel.textpage import page_diags_batch

        model = _model(key, bc_cfg)
        for pdf in batches:
            yield page_diags_batch(pdf, model)

    return run


def _kernel(turns: DataFrame, cfg: ExtractConfig, metrics, stamp: bool) -> DataFrame:
    bc = turns.sparkSession.sparkContext.broadcast(cfg)
    pruned = turns.select("conv_id", "turn_idx", "role", "text")
    schema = _STAMPED_SCHEMA if stamp else KERNEL_OUT_SCHEMA
    return pruned.mapInPandas(_kernel_iter(bc, metrics, stamp), schema=schema)


def raw_spans(
    turns: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, metrics=None
) -> DataFrame:
    """Narrow kernel stage only: per-turn spans without conversation-
    level ids. Column-prunes its input explicitly so the parquet scan
    reads exactly 4 columns."""
    return _kernel(turns, cfg, metrics, stamp=False)


def _partitions(spark, n_buckets: int) -> int:
    return max(1, min(n_buckets, spark.sparkContext.defaultParallelism))


def _with_ids(stamped: DataFrame) -> DataFrame:
    """The narrow projection from stamped numbers to SPAN_SCHEMA."""
    return stamped.select(
        *KERNEL_OUT_SCHEMA.fieldNames(),
        "reading_order",
        F.format_string("region_%04d", "_region_num").alias("region_id"),
        F.format_string("region_%04d_line_%04d", "_region_num", "_line_num").alias(
            "line_id"
        ),
    )


def extract_spans(
    turns: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    metrics=None,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Full pipeline: turns -> ordered, id-stamped spans, partitioned
    by the sink's ``n_buckets`` conversation buckets."""
    ordered = turns.repartitionById(
        _partitions(turns.sparkSession, n_buckets), conv_bucket(n_buckets)
    ).sortWithinPartitions("conv_id", "turn_idx")
    return _with_ids(_kernel(ordered, cfg, metrics, stamp=True))


def extract_spans_salted(
    turns: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    salt_buckets: int = 16,
    metrics=None,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Skew-hardened variant (north_rule: 'skewed conversations ...
    salted and repartitioned explicitly').

    The kernel runs after an explicitly numbered turn exchange keyed
    on a (conv_id, turn_idx) salt, so one multi-million-turn
    conversation spreads over up to ``salt_buckets`` tasks instead of
    one. The spans then exchange on the sink bucket, sort by
    (conv_id, turn_idx, span_idx) and take the same id stamps in a
    stamp-only pass. Output is identical to extract_spans (the
    invariance test asserts it).
    """
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets)).cast("int")
    salted = turns.repartitionById(_partitions(turns.sparkSession, salt_buckets), salt)
    return _stamp_spans(raw_spans(salted, cfg, metrics), n_buckets)


def _stamp_spans(spans: DataFrame, n_buckets: int) -> DataFrame:
    """Kernel spans -> SPAN_SCHEMA: exchange on the sink bucket, sort
    by (conv_id, turn_idx, span_idx), stamp-only pass."""
    ordered = spans.repartitionById(
        _partitions(spans.sparkSession, n_buckets), conv_bucket(n_buckets)
    ).sortWithinPartitions("conv_id", "turn_idx", "span_idx")
    return _with_ids(ordered.mapInPandas(_stamp_iter, schema=_STAMPED_SCHEMA))


def probe_turn_metadata(turns: DataFrame, density_min: float = 30.0) -> DataFrame:
    """S2: the check_dpi / metadata-probe analog
    (reference utils/pil_cv2.py:17-34 + the enhancement gate of
    eynollah.py:381-450): probe each page's metadata BEFORE the kernel
    — line count, char count, ink density (chars per line, the DPI
    analog), defaulted tool/ts columns — and flag low-density pages
    for the enhancement pre-pass, exactly like pages under
    DPI_THRESHOLD=298 (eynollah.py:80) get run_enhancement.

    Pure Catalyst column expressions; narrow (no shuffle)."""
    n_lines = F.size(F.split(F.col("text"), "\n"))
    n_chars = F.length("text")
    density = F.round(n_chars / n_lines, 6)
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        n_lines.cast("int").alias("n_lines"),
        n_chars.cast("int").alias("n_chars"),
        density.alias("density"),
        (density < density_min).alias("needs_enhancement"),
        F.coalesce(F.col("tool"), F.lit("none")).alias("tool_name"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


def analyze_pages(turns: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-page diagnostics table (SPEC §11): line/span/region counts,
    detected column count, deskew slope, ensemble agreement."""
    spark = turns.sparkSession
    bc = spark.sparkContext.broadcast(cfg)
    pruned = turns.select("conv_id", "turn_idx", "role", "text")
    return pruned.mapInPandas(_diag_iter(bc), schema=PAGE_SCHEMA)
