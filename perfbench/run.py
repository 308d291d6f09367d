#!/usr/bin/env python3
"""Whole-job extraction benchmark for eynollah_spark.

    python3 perfbench/run.py --workload extract_scattered --seed 1 \
        --seconds 10 --trace 0 [--tiny]

Run from the repository root.  Each run generates its corpus from
``--seed``, writes it as row-shuffled parquet, and times the job that
``jobs/extract_job.py`` runs: ``spark.read.parquet`` -> ``extract_spans``
(``extract_spans_salted`` on the skewed workload) -> ``BucketedSpanSink``
commit.  Every committed output is read back and checked.  The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it carries the run metadata.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced layer split instead (see layers.py) and writes its spans under
``.perfbench-work/traces/``.  See README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")

WORKLOADS = ("extract_scattered", "extract_skewed")
N_BUCKETS = 16  # BucketedSpanSink buckets
SETUP_SAMPLES = 3  # set-ups per untraced run; setup_s is their median
MIN_TIMED_RUNS = 3
# untimed whole jobs between set-up and the timed runs: each set-up ends
# with fresh Python workers and the JVM still compiling, so job times
# keep falling for a few jobs after it (longest on the skewed workload,
# whose straggler task runs its hot code once per job)
WARM_RUNS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="~50-conversation corpora, for the self-check")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result lines."""
    print(f"perfbench {time.perf_counter() - T_START:7.1f}s  {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark run: the inputs, the live Spark session, the
    correctness checker and the operation counts."""

    def __init__(self, args):
        self.args = args
        self.nproc = cores()
        self.dir = os.path.join(WORK, args.workload)
        self.input_dir = os.path.join(self.dir, "input")
        self.sink_dir = os.path.join(self.dir, "sink")
        self.tmp_dir = os.path.join(self.dir, "tmp")
        self.trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        self.conf = {
            "spark.local.dir": os.path.join(self.dir, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            # The heap starts at its maximum, touched up front: how far G1
            # grows a heap varies run to run and showed as +-15% of peak
            # RSS.  No hsperfdata file in /tmp; temp files in the checkout.
            "spark.driver.extraJavaOptions": (
                "-XX:InitialRAMPercentage=100 -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.tmp_dir}"
            ),
            "spark.hadoop.hadoop.tmp.dir": self.tmp_dir,
        }
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.failures: list[str] = []
        self.ref_digest: str | None = None
        self.n_spans = 0
        self.steal = self.cpu = 0  # host jiffies over the timed jobs

    # --- inputs (not part of set-up) ---------------------------------------
    def make_inputs(self) -> float:
        import inputs

        t0 = time.perf_counter()
        shapes = inputs.TINY_SHAPES if self.args.tiny else inputs.SHAPES
        self.shape = shapes[self.args.workload]
        turns, giant = inputs.generate(self.shape, self.args.seed, workers=self.nproc)
        self.turns = turns
        self.n_turns = len(turns)
        self.layout = inputs.write_layout(turns, self.input_dir, 2 * self.nproc, self.args.seed)
        self.sample_ids = inputs.oracle_sample(turns, self.args.seed, giant)
        self.golden = inputs.golden_spans(turns, self.sample_ids)
        return time.perf_counter() - t0

    # --- session ------------------------------------------------------------
    def start(self, n_cores: int) -> float:
        from eynollah_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n_cores}]",
            shuffle_partitions=2 * self.nproc,
            extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM gateway, and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    # --- the job ------------------------------------------------------------
    def extract(self):
        from eynollah_spark.operators import extract

        if self.args.workload == "extract_skewed":
            return extract.extract_spans_salted
        return extract.extract_spans

    def turns_df(self):
        return self.spark.read.parquet(self.input_dir)

    def run_job(self) -> list[int]:
        """The whole extraction job, as jobs/extract_job.py runs it.
        The caller empties the sink directory first."""
        from eynollah_spark.io.sinks import BucketedSpanSink

        sink = BucketedSpanSink(self.sink_dir, n_buckets=N_BUCKETS)
        return sink.write(self.extract()(self.turns_df()))

    def read_sink(self):
        from eynollah_spark.io.sinks import BucketedSpanSink

        return BucketedSpanSink(self.sink_dir, n_buckets=N_BUCKETS).read(self.spark)

    def fresh_sink(self) -> None:
        shutil.rmtree(self.sink_dir, ignore_errors=True)

    # --- correctness --------------------------------------------------------
    def reference(self) -> None:
        """On the skewed workload, the digest of the unsalted
        ``extract_spans`` output, straight from the DataFrame (no sink):
        every salted commit must match it, the partition-invariance
        check.  Elsewhere the first committed output, once it has passed
        the oracle sample, is the reference."""
        import inputs
        import probes
        from eynollah_spark.operators.extract import extract_spans

        if self.args.workload == "extract_skewed":
            self.ref_digest = probes.digest(extract_spans(self.turns_df()), inputs.SPAN_COLUMNS)

    def check(self, what: str, committed: list[int]) -> bool:
        """Read the committed sink back and compare it with the reference
        digest and, row by row, with the oracle on the sampled
        conversations.  A failure is recorded, never raised."""
        import pandas as pd
        import pyspark.sql.functions as F

        import inputs
        import probes

        try:
            if sorted(committed) != list(range(N_BUCKETS)):
                raise AssertionError(f"committed buckets {sorted(committed)}")
            spans = self.read_sink()
            got = probes.digest(spans, inputs.SPAN_COLUMNS)
            if self.ref_digest not in (None, got):
                raise AssertionError(f"digest {got} != reference {self.ref_digest}")
            sample = spans.filter(F.col("conv_id").isin(self.sample_ids)).toPandas()
            pd.testing.assert_frame_equal(inputs.normalize(sample), self.golden)
            self.ref_digest = got
            self.n_spans = probes.digest_rows(got)
            return True
        except AssertionError as exc:
            self.correct = False
            self.failures.append(f"{what}: {str(exc)[:300]}")
            return False

    def count(self, stats: dict, runs: int = 0, runs_failed: int = 0) -> None:
        """Add one measured job's Spark tasks (and the run itself) to the
        operation counts behind ``attempted``/``failed``."""
        self.attempted += stats.get("tasks_attempted", 0) + runs
        self.failed += stats.get("tasks_failed", 0) + runs_failed

    def timed_job(self, what: str) -> tuple[float, bool]:
        """One timed whole-job run plus its (untimed) check."""
        import probes

        self.fresh_sink()
        stats: dict = {}
        committed: list[int] = []
        steal0, total0 = probes.host_cpu()
        try:
            with probes.job_stats(self.spark, stats):
                committed = self.run_job()
            ok = self.check(what, committed)
        except Exception:  # a failed run is counted, the benchmark goes on
            traceback.print_exc(file=sys.stderr)
            self.correct = False
            self.failures.append(f"{what}: raised")
            stats.setdefault("wall_s", 0.0)
            ok = False
        steal1, total1 = probes.host_cpu()
        self.count(stats, runs=1, runs_failed=0 if ok else 1)
        self.steal += steal1 - steal0
        self.cpu += total1 - total0
        log(f"{what}: {stats['wall_s']:.3f}s ok={ok} executor {stats.get('executor_run_s', 0):.2f}s "
            f"gc {stats.get('jvm_gc_s', 0):.2f}s steal {(steal1 - steal0) / max(total1 - total0, 1):.1%} "
            f"rss { {k: v >> 20 for k, v in probes.TreeRss.by_name(probes.TreeRss.tree()).items()} }")
        return stats["wall_s"], ok

    # --- set-up -------------------------------------------------------------
    def setup(self, samples: int, excluded_s: float) -> list[float]:
        """Set up ``samples`` times: session start, Python worker spawn,
        broadcast and model load, and the untimed warm-up job.  The first
        sample runs from process start (less input generation); the
        others restart the session in the same JVM."""
        out = []
        for i in range(samples):
            t0 = time.perf_counter()
            if i:
                self.stop()
            self.session_s = self.start(self.nproc)
            self.fresh_sink()
            self.committed = self.run_job()
            now = time.perf_counter()
            out.append(now - T_START - excluded_s if i == 0 else now - t0)
            log(f"setup {i}: {out[-1]:.3f}s (session {self.session_s:.3f}s)")
        return out

    def metadata(self) -> dict:
        import pyarrow
        import pyspark

        src = hashlib.sha256()
        pkg = os.path.join(ROOT, "eynollah_spark")
        for dirpath, dirs, names in sorted(os.walk(pkg)):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(dirpath, n), "rb") as fh:
                        src.update(fh.read())
        commit = None
        if os.path.exists(os.path.join(ROOT, ".git")):  # an export has no history
            try:
                commit = subprocess.run(
                    ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                    text=True, timeout=10,
                ).stdout.strip() or None
            except (OSError, subprocess.SubprocessError):
                pass
        cpu = None
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    cpu = line.split(":", 1)[1].strip()
                    break
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "tiny": self.args.tiny,
            "nproc": self.nproc,
            "cpu_model": cpu,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "git_commit": commit,
            "source_sha256": src.hexdigest(),
            "spark_conf": {
                "master": f"local[{self.nproc}]",
                "spark.sql.shuffle.partitions": str(2 * self.nproc),
                **self.conf,
            },
            "sink_buckets": N_BUCKETS,
            "shape": vars(self.shape),
            "layout": {**self.layout, "spans": self.n_spans},
            "oracle_sample": self.sample_ids,
            "host_steal_share": self.steal / max(self.cpu, 1),
            "failures": self.failures,
        }


def untraced(b: Bench, excluded_s: float) -> dict:
    import probes

    setups = b.setup(SETUP_SAMPLES, excluded_s)
    b.reference()
    b.check("warm-up", b.committed)
    for _ in range(WARM_RUNS):
        b.fresh_sink()
        b.run_job()
    walls: list[float] = []
    spent = 0.0
    runs = 0
    while (spent < b.args.seconds or len(walls) < MIN_TIMED_RUNS) and runs < 100:
        wall, ok = b.timed_job(f"timed run {runs}")
        runs += 1
        spent += wall
        if ok:
            walls.append(wall)
    return {
        "turns_per_s": (b.n_turns / probes.median(walls) if walls else 0.0, "turns/s"),
        "setup_s": (probes.median(setups), "s"),
        "success_ratio": (1.0 - b.failed / max(b.attempted, 1), "ratio"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import eynollah_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    # Python workers import the package (and the benchmark's own
    # functions) from the checkout, and every temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    b = Bench(args)
    shutil.rmtree(b.dir, ignore_errors=True)
    os.makedirs(b.tmp_dir)
    os.environ["TMPDIR"] = b.tmp_dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    excluded_s = b.make_inputs()
    log(f"inputs: {b.n_turns} turns in {excluded_s:.1f}s")

    import probes

    try:
        with probes.TreeRss() as rss:
            if args.trace:
                import layers

                metrics = layers.traced(b, excluded_s)
            else:
                metrics = untraced(b, excluded_s)
    finally:
        b.shutdown()
    if not args.trace:
        metrics["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    print(json.dumps({"meta": {**b.metadata(), "peak_rss_mb_by_process": rss.peak_by_process}}))
    print(json.dumps({
        "correct": b.correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
