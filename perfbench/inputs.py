"""Seeded input corpora for the benchmark workloads.

The corpus content comes from the program's own deterministic
generator (``eynollah_spark.fixtures.transcripts``): every turn is a
pure function of ``(seed, conv_ord, turn_idx)``.  The benchmark only
chooses the shape (how many conversations, the skewed giant, the file
layout) and hands Spark nothing but parquet files.

Generation is pure Python (a few hundred microseconds per turn), so it
is spread over a small spawn pool before any Spark process starts: the
session that ``setup_s`` times must start cold.
"""

from __future__ import annotations

import multiprocessing
from multiprocessing import resource_tracker
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
SPAN_COLUMNS = [
    "conv_id", "turn_idx", "span_idx", "region_type", "region_seq",
    "char_start", "char_end", "text", "reading_order", "region_id", "line_id",
]
_INT_COLUMNS = ["turn_idx", "span_idx", "region_seq", "char_start", "char_end", "reading_order"]

# turns generated per pool task; a giant conversation is cut into
# several tasks so it does not serialize generation on one worker
_CHUNK_TURNS = 1000
# conversations whose spans are compared row by row with the oracle
ORACLE_SAMPLE = 5


@dataclass(frozen=True)
class Shape:
    """Corpus shape of one workload: conversations of the generator's
    ``CorpusSpec`` (ordinals 0, 1, ...) until they hold ``turns`` turns,
    so the job size barely depends on the seed; then, if
    ``giant_turns`` > 0, one more conversation of exactly that many."""

    turns: int
    skew_every: int
    skew_mult: int
    giant_turns: int = 0


# extract_scattered: the generator's default long-conversation mix
# (every 50th conversation x40), ~700 conversations.
# extract_skewed: ~630 plain conversations plus one 10 000-turn giant
# (~95k span rows in one window partition).
SHAPES = {
    "extract_scattered": Shape(turns=12_000, skew_every=50, skew_mult=40),
    "extract_skewed": Shape(turns=6_000, skew_every=0, skew_mult=1, giant_turns=10_000),
}
TINY_SHAPES = {
    "extract_scattered": Shape(turns=700, skew_every=25, skew_mult=10),
    "extract_skewed": Shape(turns=500, skew_every=0, skew_mult=1, giant_turns=400),
}


def _gen_items(args) -> pd.DataFrame:
    from eynollah_spark.fixtures.transcripts import conv_id_for, gen_turn

    spec, items = args
    rows = []
    for conv_ord, t0, t1 in items:
        cid = conv_id_for(conv_ord)
        for t in range(t0, t1):
            rows.append((cid, t, *gen_turn(conv_ord, t, spec)))
    return pd.DataFrame(rows, columns=COLUMNS)


def generate(shape: Shape, seed: int, workers: int) -> tuple[pd.DataFrame, str | None]:
    """All turns of the workload's corpus, sorted by (conv_id, turn_idx),
    and the conv_id of the giant conversation (None without one)."""
    from eynollah_spark.fixtures.transcripts import CorpusSpec, conv_id_for, n_turns_for

    spec = CorpusSpec(seed=seed, skew_every=shape.skew_every, skew_mult=shape.skew_mult)
    sizes, total = [], 0
    while total < shape.turns:
        sizes.append((len(sizes), n_turns_for(len(sizes), spec)))
        total += sizes[-1][1]
    giant = None
    if shape.giant_turns:
        giant = conv_id_for(len(sizes))
        sizes.append((len(sizes), shape.giant_turns))
    items = [
        (c, a, min(n, a + _CHUNK_TURNS)) for c, n in sizes for a in range(0, n, _CHUNK_TURNS)
    ]
    n_tasks = workers * 4
    tasks = [(spec, items[i::n_tasks]) for i in range(n_tasks)]
    pool = multiprocessing.get_context("spawn").Pool(workers)
    try:
        parts = pool.map(_gen_items, tasks)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
        del pool
        # the spawn context's semaphore tracker is a process of its own
        resource_tracker._resource_tracker._stop()
    df = pd.concat(parts, ignore_index=True)
    return df.sort_values(["conv_id", "turn_idx"], ignore_index=True), giant


def write_layout(turns: pd.DataFrame, out_dir: str, n_files: int, seed: int) -> dict:
    """Row-shuffle the corpus into ``n_files`` equal parquet files, the
    way a real table scan scatters each conversation over many tasks.
    Returns the layout record published with every result."""
    os.makedirs(out_dir)
    perm = np.random.default_rng(seed).permutation(len(turns))
    shuffled = turns.iloc[perm].reset_index(drop=True)
    file_of = np.empty(len(turns), dtype=np.int64)
    bounds = np.linspace(0, len(turns), n_files + 1).astype(int)
    rows_per_file = []
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(
            pa.Table.from_pandas(shuffled.iloc[lo:hi], preserve_index=False),
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        file_of[lo:hi] = i
        rows_per_file.append(int(hi - lo))
    spread = pd.Series(file_of).groupby(shuffled["conv_id"].to_numpy()).nunique()
    return {
        "files": n_files,
        "rows_per_file": rows_per_file,
        "turns": int(len(turns)),
        "conversations": int(turns["conv_id"].nunique()),
        "mean_files_per_conversation": float(spread.mean()),
    }


def oracle_sample(turns: pd.DataFrame, seed: int, exclude: str | None) -> list[str]:
    """Seed-derived conversations to check row by row (the giant one is
    left to the digest checks: its oracle alone would take seconds)."""
    ids = sorted(set(turns["conv_id"]) - {exclude})
    rng = np.random.default_rng(seed + 1)
    return sorted(rng.choice(ids, size=min(ORACLE_SAMPLE, len(ids)), replace=False).tolist())


def golden_spans(turns: pd.DataFrame, conv_ids: list[str]) -> pd.DataFrame:
    """Expected span rows of ``conv_ids``: the single-node oracle
    (``analyze_turn_naive``) plus the conversation-level id semantics
    (dense reading order, region and line counters)."""
    from eynollah_spark.oracle.reference import analyze_turn_naive

    rows = []
    part = turns[turns["conv_id"].isin(conv_ids)]
    for conv_id, grp in part.groupby("conv_id", sort=True):
        order = region_num = line_num = 0
        last_region = None
        for row in grp.sort_values("turn_idx").itertuples(index=False):
            for s in analyze_turn_naive(row.text, row.role):
                if (row.turn_idx, s.region_seq) != last_region:
                    region_num += 1
                    line_num = 0
                    last_region = (row.turn_idx, s.region_seq)
                line_num += 1
                rows.append((
                    conv_id, row.turn_idx, s.span_idx, s.region_type, s.region_seq,
                    s.char_start, s.char_end, s.text, order,
                    "region_%04d" % region_num,
                    "region_%04d_line_%04d" % (region_num, line_num),
                ))
                order += 1
    return normalize(pd.DataFrame(rows, columns=SPAN_COLUMNS))


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf[SPAN_COLUMNS]
        .sort_values(["conv_id", "turn_idx", "span_idx"])
        .reset_index(drop=True)
        .astype({c: "int64" for c in _INT_COLUMNS})
    )
