"""Correction benchmark: one workload per run, seeded inputs, checked output.

    python3 perfbench/run.py --workload unique_turns --seed 1 --seconds 6 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (see perfbench/README.md for every name).

A run generates (or reuses) the seed's inputs, sets the Spark session up
three times (session start, input footers, warm-up job on a corpus
disjoint from the timed one), repeats the timed job for ``--seconds``,
then checks one full output against ``oracle.spec``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from memo_fraktur_ocr_code_spark.oracle.spec import correct_corpus  # noqa: E402
from memo_fraktur_ocr_code_spark.plans.checkpoint import (  # noqa: E402
    read_stage,
    run_stage_checkpointed,
)
from memo_fraktur_ocr_code_spark.plans.pipeline import (  # noqa: E402
    correct_pipeline,
)
from memo_fraktur_ocr_code_spark.session import get_spark  # noqa: E402
from perfbench import workloads  # noqa: E402

WORKLOADS = tuple(workloads.SIZES)
SETUPS = 3
STAGE = "corrected_turns"
# jobs/run_correction.py's arguments to run_stage_checkpointed
N_BUCKETS = 1024
# one conversation in SAMPLE_MOD (by hash), plus the whale, is compared
# byte for byte with the single-node oracle on every run
SAMPLE_MOD = 32


def log(msg: str) -> None:
    """Progress goes to stderr; stdout carries only the result line."""
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def cores() -> int:
    """Spark task slots: one core is left to the JVM and the driver."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def session(run_dir: str, event_log: str | None = None):
    k = cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # get_spark's own shuffle-partition rule, applied to k cores
    spark = get_spark(
        master=f"local[{k}]",
        app_name="perfbench",
        shuffle_partitions=max(k, 8),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    log("session stopped")
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- memory probes (/proc; psutil is not available) --------------------


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among the Python workers below the session's JVM."""
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    kids = _children()
    todo, peak = list(kids.get(proc.pid, [])), 0.0
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd:
            peak = max(peak, vm_hwm_mb(pid))
    return peak


# -- the workload's operation ------------------------------------------


class Corpus:
    """One generated corpus, opened in a session (its footers are read
    when the DataFrames are created)."""

    def __init__(self, spark, path: str, lexicon):
        self.path = path
        self.base_path = os.path.join(path, "base")
        self.base = spark.read.parquet(self.base_path)
        self.alt = spark.read.parquet(os.path.join(path, "alt"))
        self.lexicon = lexicon


def run_op(spark, workload: str, corpus: Corpus, out_dir: str, tag=None,
           resume: bool = True):
    """The timed job.  unique/replicated: correct_pipeline with its
    defaults, materialized as bench.py does.  resumable_whale: the
    jobs/run_correction.py path -- skew-routed pipeline, checkpointed
    write, then (with ``resume``) a resume call that must find every
    bucket complete.

    Returns (wall seconds, facts): facts holds the row count, the two
    checkpoint summaries and the per-phase wall times.  ``tag`` names
    the Spark job groups of each phase, for the traced run."""
    sc = spark.sparkContext
    facts: dict = {}

    def phase(name):
        if tag is not None:
            sc.setJobGroup(f"{tag}:{name}", name)

    t0 = time.perf_counter()
    phase("call")
    if workload == "resumable_whale":
        out = correct_pipeline(
            spark, corpus.base, corpus.alt, corpus.lexicon,
            fused="auto", long_conv_threshold=workloads.WHALE_THRESHOLD,
        )
        facts["call_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        phase("ckpt1")
        first = run_stage_checkpointed(
            spark, out, out_dir, STAGE, n_buckets=N_BUCKETS,
            input_fingerprint=corpus.base_path,
        )
        t2 = time.perf_counter()
        facts.update(first=first, run_stage_s=t2 - t1)
        if resume:
            phase("ckpt2")
            facts["resume"] = run_stage_checkpointed(
                spark, out, out_dir, STAGE, n_buckets=N_BUCKETS,
                input_fingerprint=corpus.base_path,
            )
            facts["resume_s"] = time.perf_counter() - t2
    else:
        out = correct_pipeline(spark, corpus.base, corpus.alt, corpus.lexicon)
        facts["call_s"] = time.perf_counter() - t0
        phase("mat")
        row = out.agg(
            F.count("*").alias("n"),
            F.sum(F.length("corrected_text")).alias("chars"),
        ).collect()[0]
        facts["rows"] = row["n"]
    wall = time.perf_counter() - t0
    if tag is not None:
        sc.setJobGroup("bench:other", "other")
    facts["df"] = out
    return wall, facts


def op_failures(workload: str, facts: dict, n_turns: int) -> int:
    """1 when a timed job's own result is wrong: a row count other than
    the input's, or a resume call that recomputed a bucket."""
    if workload == "resumable_whale":
        first, resume = facts["first"], facts["resume"]
        ok = (
            resume["buckets_skipped"] == first["buckets_completed"]
            and resume["buckets_completed"] == first["buckets_completed"]
        )
        return 0 if ok else 1
    return 0 if facts["rows"] == n_turns else 1


# -- output check ------------------------------------------------------


def sampled(conv_id: str, seed: int) -> bool:
    if conv_id.endswith("whale"):
        return True
    h = hashlib.md5(f"{seed}:{conv_id}".encode()).digest()
    return int.from_bytes(h[:4], "big") % SAMPLE_MOD == 0


def check_output(pdf, corpus: Corpus, seed: int):
    """(attempted, failed, output bytes) for one full output: every
    input turn must have exactly one row, and the sampled conversations
    must equal the oracle's bytes.  A row whose key is not an input key
    is one more failure."""
    keys = pq.read_table(corpus.base_path, columns=["conv_id", "turn_idx"])
    in_keys = list(
        zip(keys["conv_id"].to_pylist(), keys["turn_idx"].to_pylist())
    )
    got: dict = {}
    for c, t, txt in zip(
        pdf["conv_id"].tolist(),
        pdf["turn_idx"].tolist(),
        pdf["corrected_text"].tolist(),
    ):
        got.setdefault((c, int(t)), []).append(txt)
    sample = {c for c, _t in in_keys if sampled(c, seed)}
    base_rows, alt_rows = workloads.read_rows(corpus.path, sample)
    expected = {
        (r["conv_id"], r["turn_idx"]): r["corrected_text"]
        for r in correct_corpus(base_rows, alt_rows, corpus.lexicon)
    }
    failed = 0
    for key in in_keys:
        rows = got.pop(key, [])
        if len(rows) != 1 or (key in expected and rows[0] != expected[key]):
            failed += 1
    failed += sum(len(v) for v in got.values())  # rows for unknown keys
    out_bytes = sum(
        len(t.encode()) for t in pdf["corrected_text"].tolist() if t
    )
    return len(in_keys) + sum(len(v) for v in got.values()), failed, out_bytes


# -- the run -----------------------------------------------------------


def generate(workload: str, seed: int) -> None:
    """Make the seed's inputs in a child process (so its memory never
    shows in the driver's peak), unless cached."""
    subprocess.run(
        [sys.executable, "-m", "perfbench.workloads", WORK, workload,
         str(seed)],
        cwd=ROOT, check=True,
    )


def timed_loop(spark, workload, corpus, run_dir, seconds, n_turns, tag=None,
               on_first=None):
    """Repeat the timed job until ``seconds`` have passed (at least
    once).  Returns (walls, per-repeat facts, failed repeats)."""
    walls, facts, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    while True:
        i = len(walls)
        out_dir = os.path.join(run_dir, "out", f"{tag or 'rep'}-{i}")
        # frees the previous job's index before this job builds its own,
        # so the driver's peak does not depend on when gc last ran
        gc.collect()
        wall, f = run_op(
            spark, workload, corpus, out_dir,
            tag=None if tag is None else f"{tag}-{i}",
        )
        walls.append(wall)
        f["out_dir"] = out_dir
        failed += op_failures(workload, f, n_turns)
        if i == 0 and on_first is not None:
            on_first()
        if facts:
            # only the last repeat's plan is looked at again
            facts[-1].pop("df")
        facts.append(f)
        if time.perf_counter() >= t_end:
            return walls, facts, failed


def full_output(spark, workload, corpus, last):
    """The output checked on every run: the resumed stage as read back
    for resumable_whale, one more pipeline run for the others."""
    if workload == "resumable_whale":
        return read_stage(spark, last["out_dir"], STAGE).toPandas()
    return correct_pipeline(
        spark, corpus.base, corpus.alt, corpus.lexicon
    ).toPandas()


def traced_run(wl, seed, set_up, run_dir, seconds, n_turns, untraced_tps):
    """The per-layer run: a second session with the event log on runs
    the timed job for ``seconds`` under job groups, then the output is
    checked, the log parsed and the kernels replayed in the driver.
    Returns (attempted, failed, metrics)."""
    from memo_fraktur_ocr_code_spark.operators.wordcorrect import (
        broadcast_lexicon,
    )
    from perfbench import layers

    SparkContext._active_spark_context.stop()
    log_dir = os.path.join(run_dir, "eventlog")
    spark, corpus = set_up(event_log=log_dir)
    walls, facts, op_failed = timed_loop(
        spark, wl, corpus, run_dir, seconds, n_turns, tag="rep"
    )
    last = facts[-1]
    m: dict = layers.plan_counts(last["df"])
    t0 = time.perf_counter()
    bcs = broadcast_lexicon(spark, corpus.lexicon)
    m["wordcorrect.broadcast_lexicon.s"] = time.perf_counter() - t0
    for bc in bcs:
        bc.destroy()
    pdf = full_output(spark, wl, corpus, last)
    attempted, failed, out_bytes = check_output(pdf, corpus, seed)
    whale = wl == "resumable_whale"
    files, disk = (
        layers.disk_stats(last["out_dir"], STAGE) if whale else (0, 0)
    )
    spark.stop()  # flushes the event log

    def med(key):
        return statistics.median(f[key] for f in facts) if whale else 0.0

    per_rep = layers.event_metrics(
        log_dir, [f"rep-{i}" for i in range(len(walls))]
    )
    for key in per_rep[0]:
        m[key] = statistics.median(r[key] for r in per_rep)
    m["pipeline.call.s"] = statistics.median(f["call_s"] for f in facts)
    m["checkpoint.run_stage.s"] = med("run_stage_s")
    m["checkpoint.write_ms"] = (
        statistics.median(f["first"]["wall_ms"] for f in facts)
        if whale
        else 0.0
    )
    m["checkpoint.files_written"] = files
    m["checkpoint.bytes_per_output_byte"] = disk / out_bytes if whale else 0.0
    m["checkpoint.resume_noop.s"] = med("resume_s")
    traced_tps = statistics.median(n_turns / w for w in walls)
    m["trace.overhead_ratio"] = untraced_tps / traced_tps
    m.update(layers.replay(*workloads.read_rows(corpus.path), corpus.lexicon))
    return (
        attempted + len(walls),
        failed + op_failed,
        {k: (v, _unit(k)) for k, v in m.items()},
    )


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith(("ratio", "skew", "bytes_per_output_byte")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl, seed = args.workload, args.seed

    t_gen = time.perf_counter()
    generate(wl, seed)
    gen_s = time.perf_counter() - t_gen
    log(f"inputs ready ({gen_s:.1f} s)")
    timed_dir = workloads.corpus_dir(WORK, wl, seed, warmup=False)
    warm_dir = workloads.corpus_dir(WORK, wl, seed, warmup=True)
    lexicon = workloads.load_lexicon(timed_dir)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # keep every temporary file inside the checkout: Spark's local dirs,
    # Python's and the JVM's temp dirs, and no JVM perf-data file in /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    warmups = iter(range(SETUPS + 1))

    def set_up(event_log=None):
        spark = session(run_dir, event_log)
        corpus = Corpus(spark, timed_dir, lexicon)
        warm = Corpus(spark, warm_dir, lexicon)
        out_dir = os.path.join(run_dir, "out", f"warm-{next(warmups)}")
        gc.collect()
        # the warm-up skips the resume call: the first call already runs
        # run_stage_checkpointed, and the resume would add ~1.7 s to each
        # of the three set-ups
        run_op(spark, wl, warm, out_dir, resume=False)
        return spark, corpus

    try:
        n_turns = pq.ParquetDataset(os.path.join(timed_dir, "base")).read(
            columns=["turn_idx"]
        ).num_rows
        setups = []
        for i in range(1 if args.trace else SETUPS):
            if i:
                SparkContext._active_spark_context.stop()
                log("session stopped")
            t0 = time.perf_counter()
            spark, corpus = set_up()
            t1 = time.perf_counter()
            # the first set-up counts from process start, less generation
            setups.append(t1 - T_START - gen_s if i == 0 else t1 - t0)
            log(f"set-up {i + 1}: {setups[-1]:.2f} s")

        probes = {}

        def probe():
            probes["driver"] = vm_hwm_mb(os.getpid())
            probes["worker"] = worker_peak_rss_mb()

        walls, facts, op_failed = timed_loop(
            spark, wl, corpus, run_dir, args.seconds, n_turns,
            on_first=None if args.trace else probe,
        )
        tps = statistics.median(n_turns / w for w in walls)
        log(f"timed jobs: {', '.join(f'{w:.2f}' for w in walls)} s")

        if args.trace:
            attempted, failed, metrics = traced_run(
                wl, seed, set_up, run_dir, args.seconds, n_turns, tps
            )
        else:
            pdf = full_output(spark, wl, corpus, facts[-1])
            log("output collected")
            attempted, failed, _bytes = check_output(pdf, corpus, seed)
            log(f"output checked: {failed} of {attempted} turns failed")
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "turns_per_s": (tps, "turns/s"),
                "exact_match_rate": (
                    (attempted - failed) / attempted, "ratio"
                ),
                "worker_peak_rss_mb": (probes["worker"], "MB"),
                "driver_peak_rss_mb": (probes["driver"], "MB"),
            }
        attempted += len(walls)
        failed += op_failed
    finally:
        shutdown_jvm()
        log("JVM stopped")
        # run_dir is left in place: on a disk mounted with online discard,
        # deleting a whale run's ~1k fresh files took 5 to 12 s

    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
