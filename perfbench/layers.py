"""Per-layer measurements for the traced run, all taken from outside the
package: the Spark event log of the traced session, the physical plan of
the DataFrame ``correct_pipeline`` returns, the checkpoint directory on
disk, and a single-threaded driver replay of the kernels that times each
call into ``functions.textspec``, ``functions.alignment`` and
``functions.symspell``.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import re
import statistics
import time

from memo_fraktur_ocr_code_spark.functions.alignment import alt_ocr_correct
from memo_fraktur_ocr_code_spark.functions.symspell import (
    SymSpellIndex,
    word_correct_text,
)
from memo_fraktur_ocr_code_spark.functions.textspec import (
    assemble_turns,
    correct_easy,
)

_PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython")
_NODE_NAME = re.compile(r"^[\s:+\-|]*(\w+)")


def plan_counts(df) -> dict[str, int]:
    """Exchanges (shuffle and broadcast), Python-kernel nodes and file
    scans in the physical plan of ``df`` (AQE's initial plan: the
    DataFrame is planned, not run)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = [m.group(1) for m in map(_NODE_NAME.match, plan.splitlines()) if m]
    return {
        "pipeline.plan.exchanges": sum(n.endswith("Exchange") for n in names),
        "pipeline.plan.python_nodes": sum(
            bool(_PYTHON_NODE.search(n)) for n in names
        ),
        "pipeline.plan.scans": sum(n in ("FileScan", "BatchScan") for n in names),
    }


def _events(log_dir: str):
    """Every event of the (non-rolling, uncompressed) logs in ``log_dir``."""
    for path in sorted(glob.glob(os.path.join(log_dir, "[!.]*"))):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def event_metrics(log_dir: str, tags: list[str]) -> list[dict]:
    """Per timed repeat (job-group prefix ``tag:``), the Spark jobs,
    tasks and task metrics of its stages.  A stage runs a kernel when one
    of its RDD scopes is a Python node; it is a scan stage when it reads
    input files and runs no kernel."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    stage_python: dict[int, bool] = {}
    tasks: dict[int, list[dict]] = {}
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            job_group[e["Job ID"]] = group
            for s in e["Stage IDs"]:
                stage_group.setdefault(s, group)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            scopes = [
                json.loads(r["Scope"])["name"]
                for r in info.get("RDD Info", [])
                if "Scope" in r
            ]
            stage_python[info["Stage ID"]] = any(
                _PYTHON_NODE.search(s) for s in scopes
            )
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if m:
                tasks.setdefault(e["Stage ID"], []).append(m)
    out = []
    for tag in tags:
        mine = [s for s, g in stage_group.items() if g.startswith(tag + ":")]
        every = [m for s in mine for m in tasks.get(s, [])]
        kernel = {s: tasks.get(s, []) for s in mine if stage_python.get(s)}
        scan = [
            m
            for s in mine
            if not stage_python.get(s)
            for m in tasks.get(s, [])
            if m["Input Metrics"]["Bytes Read"] > 0
        ]
        shuffle_read = sum(
            m["Shuffle Read Metrics"]["Remote Bytes Read"]
            + m["Shuffle Read Metrics"]["Local Bytes Read"]
            for m in every
        )
        busiest = max(
            kernel.values(),
            key=lambda ts: sum(m["Executor Run Time"] for m in ts),
            default=[],
        )
        run_ms = [m["Executor Run Time"] for m in busiest]
        out.append(
            {
                "pipeline.jobs": sum(
                    g.startswith(tag + ":") for g in job_group.values()
                ),
                "pipeline.tasks": len(every),
                "pipeline.shuffle_write_mb": sum(
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    for m in every
                )
                / 1e6,
                "pipeline.shuffle_read_mb": shuffle_read / 1e6,
                "pipeline.scan_stage.run_s": sum(
                    m["Executor Run Time"] for m in scan
                )
                / 1e3,
                "pipeline.gc_s": sum(m["JVM GC Time"] for m in every) / 1e3,
                "pipeline.kernel_stage.run_s": sum(
                    m["Executor Run Time"] for ts in kernel.values() for m in ts
                )
                / 1e3,
                "pipeline.kernel_stage.task_skew": (
                    max(run_ms) / max(statistics.median(run_ms), 1)
                    if run_ms
                    else 0.0
                ),
                "checkpoint.jobs": sum(
                    g.startswith((tag + ":ckpt1", tag + ":ckpt2"))
                    for g in job_group.values()
                ),
            }
        )
    return out


def disk_stats(out_dir: str, stage: str) -> tuple[int, int]:
    """(data files of ``stage``, bytes of every file under ``out_dir``)."""
    files = total = 0
    for d, _dirs, names in os.walk(out_dir):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            if n.endswith(".parquet") and f"{os.sep}{stage}{os.sep}" in (
                d + os.sep
            ):
                files += 1
    return files, total


class _CountingMemo(dict):
    """The suggestion memo handed to ``word_correct_text``: counts the
    membership tests it answers, and how many of them hit."""

    def __init__(self):
        super().__init__()
        self.lookups = self.hits = 0

    def __contains__(self, key):
        found = dict.__contains__(self, key)
        self.lookups += 1
        self.hits += found
        return found


def replay(base_rows, alt_rows, lexicon) -> dict[str, float]:
    """Run the kernels once over the workload in ``oracle.spec`` order
    (conversations sorted, turns by (turn_idx, ts)) on one thread, timing
    every call.  One suggestion memo spans the whole workload, so its hit
    ratio bounds the per-partition memo's from above."""
    clock = time.perf_counter
    t = clock()
    index = SymSpellIndex.from_pairs(lexicon)
    build_s = clock() - t
    blob = pickle.dumps(index, pickle.HIGHEST_PROTOCOL)
    t = clock()
    pickle.loads(blob)
    unpickle_s = clock() - t
    guard = frozenset(tok for tok, _c in lexicon[:600])

    by_conv: dict = {}
    for r in base_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    alt_by_conv: dict = {}
    for r in alt_rows:
        alt_by_conv.setdefault(r["conv_id"], {})[r["turn_idx"]] = r["text"]

    s = dict(asm=0.0, easy=0.0, alt=0.0, sym=0.0)
    n = dict(asm=0, easy=0, alt=0, alt_changed=0, sym=0)
    easy_in, alt_in = set(), set()
    memo = _CountingMemo()
    for conv_id in sorted(by_conv):
        turns = sorted(by_conv[conv_id], key=lambda r: (r["turn_idx"], r["ts"]))
        amap = alt_by_conv.get(conv_id, {})
        t = clock()
        texts = assemble_turns([r["text"] for r in turns])
        alts = assemble_turns([amap.get(r["turn_idx"], "") for r in turns])
        s["asm"] += clock() - t
        n["asm"] += 2
        easy = []
        for x in texts:
            t = clock()
            easy.append(correct_easy(x))
            s["easy"] += clock() - t
            easy_in.add(x)
        n["easy"] += len(texts)
        hard = []
        for x, a in zip(easy, alts):
            if not x:
                hard.append(x)
                continue
            t = clock()
            y = alt_ocr_correct(x, a, guard)
            s["alt"] += clock() - t
            n["alt"] += 1
            n["alt_changed"] += y != x
            alt_in.add((x, a))
            hard.append(y)
        for x in hard:
            t = clock()
            word_correct_text(x, index, memo)
            s["sym"] += clock() - t
        n["sym"] += len(hard)
    return {
        "textspec.assemble_turns.s": s["asm"],
        "textspec.assemble_turns.calls": n["asm"],
        "textspec.correct_easy.s": s["easy"],
        "textspec.correct_easy.distinct_ratio": len(easy_in) / max(n["easy"], 1),
        "alignment.alt_ocr_correct.s": s["alt"],
        "alignment.alt_ocr_correct.calls": n["alt"],
        "alignment.alt_ocr_correct.changed_ratio": n["alt_changed"]
        / max(n["alt"], 1),
        "alignment.alt_ocr_correct.distinct_ratio": len(alt_in)
        / max(n["alt"], 1),
        "symspell.index_build.s": build_s,
        "symspell.index.pickle_mb": len(blob) / 1e6,
        "symspell.index.unpickle_s": unpickle_s,
        "symspell.word_correct_text.s": s["sym"],
        "symspell.word_correct_text.calls": n["sym"],
        "symspell.suggest_memo.hit_ratio": memo.hits / max(memo.lookups, 1),
    }
