"""The traced run: per-layer numbers for one workload.

Each layer is timed as a prefix job over the same input, written with
Spark's ``noop`` sink so every column is materialized:

    scan      spark.read.parquet + the 4-column prune
    arrow     + an identity mapInPandas (the Arrow round trip alone)
    kernel    operators.extract.raw_spans
    exchange  the workload's extract_spans / extract_spans_salted
    sink      the whole job into io.sinks.BucketedSpanSink

A layer's self time is its prefix minus the one before it, median over
``REPS`` chains.  Counters come from Spark's status store, read per job.
Every span is a child of the run's span; the spans are written once, at
the end.  On extract_scattered the curation tail of jobs/curate_job.py
runs over the committed spans and the whole job is re-timed at
``local[1]`` for the scaling figure; on extract_skewed those layers do
not run and report 0.
"""

from __future__ import annotations

import time

import probes

REPS = 3
SCALING_GATE = 0.8  # north-star: >= 0.8 efficiency from N to 4N cores
SCALING_RUNS = 2
CURATION_REPS = 2
QUALITY_MIN = 0.5  # jobs/curate_job.py defaults
NEAR_DUP_T = 0.5

_TURN_COLUMNS = ["conv_id", "turn_idx", "role", "text"]

# layers that run on extract_scattered only
OFF_PATH = [
    ("reassemble.s", "s"), ("quality.s", "s"), ("dedup_exact.s", "s"),
    ("minhash_lsh.s", "s"), ("minhash_lsh.pairs", "count"), ("curate.docs_in", "count"),
    ("curate.docs_out", "count"), ("curate.shuffle_write_bytes", "B"),
    ("scaling.turns_per_s_1core", "turns/s"), ("scaling.eff", "ratio"),
    ("scaling.gate_pass", "bool"),
]


def _identity(batches):
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefixes(b):
    from eynollah_spark.operators.extract import raw_spans

    def scan():
        return b.turns_df().select(*_TURN_COLUMNS)

    schema = "conv_id string, turn_idx int, role string, text string"
    return [
        ("scan", scan),
        ("arrow", lambda: scan().mapInPandas(_identity, schema=schema)),
        ("kernel", lambda: raw_spans(b.turns_df())),
        ("exchange", lambda: b.extract()(b.turns_df())),
    ]


def _measured(b, tracer, name: str, fn):
    """Run ``fn`` inside a span that records its Spark counters."""
    with tracer.span(name) as attrs:
        with probes.job_stats(b.spark, attrs):
            result = fn()
    b.count(attrs)
    return attrs, result


def _final_stage(stats: dict) -> dict:
    done = [s for s in stats["stages"] if s["tasks_ok"]]
    return max(done, key=lambda s: s["stage_id"])


def _kernel_1core(b) -> float:
    """Turns/s of the kernel alone: analyze_turns_frames on pandas
    batches of the Arrow batch size, on the driver, no Spark."""
    import pyarrow.parquet as pq

    from eynollah_spark.config import DEFAULT_CONFIG
    from eynollah_spark.kernel.textpage import LineModel, analyze_turns_frames

    batch = int(b.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    table = pq.read_table(b.input_dir, columns=_TURN_COLUMNS)
    frames = [t.to_pandas() for t in table.to_batches(max_chunksize=batch)]
    model = LineModel(DEFAULT_CONFIG)
    t0 = time.perf_counter()
    spans = sum(len(f) for pdf in frames for f in analyze_turns_frames(pdf, model))
    wall = time.perf_counter() - t0
    if spans != b.n_spans:
        b.correct = False
        b.failures.append(f"direct kernel: {spans} spans != {b.n_spans}")
    return table.num_rows / wall


def _curation(b, tracer) -> dict:
    """The tail of jobs/curate_job.py over the committed spans: reassembly,
    quality gate, exact dedup, MinHash-LSH near-dup removal.  Each stage
    is persisted as it is timed, as the job persists its reassembled
    docs, so a stage's job computes that stage alone and the row counts
    read the cache.  The first pass warms the curation code; the last
    one is reported."""
    import pyspark.sql.functions as F

    from eynollah_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
    from eynollah_spark.operators.text_analysis import quality_features

    def reassemble(_):
        return (
            b.read_sink()
            .filter(F.col("region_type").isin("text", "header"))
            .groupBy("conv_id")
            .agg(
                F.count(F.lit(1)).alias("n_spans"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("reading_order", "text"))),
                        lambda s: s.getField("text"),
                    ),
                    "\n",
                ).alias("text"),
            )
            .withColumn("doc_id", F.xxhash64("conv_id"))
        )

    def quality(st):
        return (
            quality_features(st["reassemble"])
            .filter(F.col("quality_score") >= QUALITY_MIN)
            .select("doc_id", "conv_id", "n_spans", "text", "quality_score")
        )

    def exact(st):
        return dedup_exact(st["quality"])

    def near(st):
        return minhash_lsh_pairs(st["dedup_exact"], threshold=NEAR_DUP_T)

    def survivors(st):
        e, n = st["dedup_exact"], st["near"].select("doc_b")
        return e.join(n, e.doc_id == n.doc_b, "left_anti")

    layers = [
        ("reassemble", [("reassemble", reassemble)]),
        ("quality", [("quality", quality)]),
        ("dedup_exact", [("dedup_exact", exact)]),
        ("minhash_lsh", [("near", near), ("survivors", survivors)]),
    ]
    with tracer.span("curation"):
        for rep in range(CURATION_REPS):
            st, walls = {}, {}
            with tracer.span("curation.pass", rep=rep) as attrs:
                for layer, steps in layers:
                    def run(steps=steps):
                        for name, make in steps:
                            st[name] = make(st).persist()
                            _noop(st[name])
                    walls[layer], _ = _measured(b, tracer, layer, run)
                counts = {"docs_in": st["reassemble"].count(), "pairs": st["near"].count(),
                          "docs_out": st["survivors"].count()}
                attrs.update(counts)
            for df in st.values():
                df.unpersist()
    return {
        **{f"{layer}.s": (walls[layer]["wall_s"], "s") for layer, _ in layers},
        "minhash_lsh.pairs": (counts["pairs"], "count"),
        "curate.docs_in": (counts["docs_in"], "count"),
        "curate.docs_out": (counts["docs_out"], "count"),
        "curate.shuffle_write_bytes": (
            sum(w["shuffle_write_bytes"] for w in walls.values()), "B"),
    }


def _scaling(b, tracer, turns_per_s_n: float) -> dict:
    """The whole job again at local[1]; efficiency against local[nproc]."""
    with tracer.span("scaling", cores=1):
        b.stop()
        b.start(1)
        b.fresh_sink()
        b.run_job()  # warm-up at the new core count
        walls = []
        for i in range(SCALING_RUNS):
            wall, ok = b.timed_job(f"scaling run {i}")
            if ok:
                walls.append(wall)
    one = b.n_turns / probes.median(walls) if walls else 0.0
    eff = turns_per_s_n / (b.nproc * one) if one else 0.0
    return {
        "scaling.turns_per_s_1core": (one, "turns/s"),
        "scaling.eff": (eff, "ratio"),
        "scaling.gate_pass": (int(eff >= SCALING_GATE), "bool"),
    }


def traced(b, excluded_s: float) -> dict:
    from eynollah_spark.operators.extract import extract_spans

    tracer = probes.Tracer(f"{b.args.workload}-seed{b.args.seed}")
    with tracer.span("run", workload=b.args.workload, seed=b.args.seed):
        with tracer.span("setup"):
            b.setup(1, excluded_s)
        with tracer.span("reference"):
            b.reference()
        b.check("warm-up", b.committed)

        untraced, chains = [], []
        for rep in range(REPS):
            wall, _ = b.timed_job(f"untraced run {rep}")
            untraced.append(wall)
            with tracer.span("chain", rep=rep):
                chain = {}
                for name, make in _prefixes(b):
                    chain[name], _ = _measured(b, tracer, name, lambda make=make: _noop(make()))
                b.fresh_sink()
                chain["sink"], committed = _measured(b, tracer, "sink", b.run_job)
            b.check(f"traced run {rep}", committed)
            chains.append(chain)

        def self_s(layer, before=None):
            return probes.median([
                c[layer]["wall_s"] - (c[before]["wall_s"] if before else 0.0) for c in chains
            ])

        last = chains[-1]
        exch = last["exchange"]
        tasks = probes.task_seconds(b.spark, _final_stage(exch))
        p50, tmax = probes.median(tasks), max(tasks)
        sink_bytes, sink_files = probes.tree_bytes(b.sink_dir)
        scan_bytes, _ = probes.tree_bytes(b.input_dir)
        full = [c["sink"] for c in chains]
        metrics = {
            "session.start_s": (b.session_s, "s"),
            "scan.s": (self_s("scan"), "s"),
            "scan.rows": (last["scan"]["input_rows"], "count"),
            "scan.bytes": (scan_bytes, "B"),
            "arrow.s": (self_s("arrow", "scan"), "s"),
            "kernel.s": (self_s("kernel", "arrow"), "s"),
            "kernel.spans_out": (b.n_spans, "count"),
            "exchange.s": (self_s("exchange", "kernel"), "s"),
            "exchange.shuffle_write_bytes": (exch["shuffle_write_bytes"], "B"),
            "exchange.shuffle_read_bytes": (exch["shuffle_read_bytes"], "B"),
            "exchange.spill_bytes": (exch["spill_bytes"], "B"),
            "exchange.task_p50_s": (p50, "s"),
            "exchange.task_max_s": (tmax, "s"),
            "exchange.task_skew": (tmax / p50 if p50 else 0.0, "ratio"),
            "sink.s": (self_s("sink", "exchange"), "s"),
            "sink.bytes_written": (sink_bytes, "B"),
            "sink.files_written": (sink_files, "count"),
            "sink.buckets_committed": (len(committed), "count"),
            "sink.write_amp": (sink_bytes / scan_bytes if scan_bytes else 0.0, "ratio"),
            "spark.tasks": (last["sink"]["tasks_attempted"], "count"),
            "spark.tasks_failed": (last["sink"]["tasks_failed"], "count"),
            "spark.executor_run_s": (probes.median([s["executor_run_s"] for s in full]), "s"),
            "spark.jvm_gc_s": (probes.median([s["jvm_gc_s"] for s in full]), "s"),
            "spark.cpu_busy_ratio": (probes.median(
                [s["executor_run_s"] / (s["wall_s"] * b.nproc) for s in full]), "ratio"),
            "trace.overhead_s": (
                probes.median([s["wall_s"] for s in full]) - probes.median(untraced), "s"),
        }

        # what DataFrame.count() runs, kept as a frame to read its plan
        counted = extract_spans(b.turns_df()).groupBy().count()
        with tracer.span("legacy.count") as attrs:
            t0 = time.perf_counter()
            counted.collect()
            attrs["wall_s"] = time.perf_counter() - t0
        metrics["legacy.count_s"] = (attrs["wall_s"], "s")
        metrics["legacy.count_plan_exchanges"] = (probes.hash_exchanges(counted), "count")

        with tracer.span("kernel.direct"):
            metrics["kernel.turns_per_s_1core"] = (_kernel_1core(b), "turns/s")

        if b.args.workload == "extract_scattered":
            metrics.update(_curation(b, tracer))
            metrics.update(_scaling(b, tracer, b.n_turns / probes.median(untraced)))
        else:
            for name, unit in OFF_PATH:
                metrics[name] = (0, unit)
    metrics["fail_ratio"] = (b.failed / max(b.attempted, 1), "ratio")
    tracer.write(b.trace_path, b.metadata())
    return metrics
