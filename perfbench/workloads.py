"""Seeded inputs for the correction benchmark.

Each workload is a pair of parquet tables (``base``: conv_id, turn_idx,
role, text, tool, ts; ``alt``: conv_id, turn_idx, text) plus a lexicon of
``(token, count)`` pairs, built from the ``sources.fixtures`` helpers.
``make_fixture`` names its conversations ``conv0000...`` and has no seed,
and every text hash is keyed on the conversation id, so the generator
below runs the same per-conversation recipe under seed-prefixed ids: the
same seed gives the same bytes, another seed other texts.

Generated inputs are cached per (workload, seed) under the work
directory; generation is never part of a measurement.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from memo_fraktur_ocr_code_spark.sources.fixtures import (
    _EPOCH,
    NOISE_LINE_TOKENS,
    ROLES,
    TOOLS,
    _corrupt_alt,
    _corrupt_base,
    _h,
    _turn_count,
    _word,
)

# Conversations, turns_per_conv (make_fixture's knob: every 7th
# conversation is 8x longer) and replicas per workload:
# unique_turns ~16k distinct turns; replicated_turns ~4k distinct turns
# x 40 = ~165k turns; resumable_whale ~4.1k turns in 64 longer
# conversations plus a 2,048-turn whale.  Few, long conversations keep
# the 1024-bucket checkpointed write at tens of files per job rather
# than thousands of near-empty ones, which on a shared disk made its
# time follow other tenants' I/O.
SIZES = {
    "unique_turns": dict(n_convs=2048, turns_per_conv=4, replicas=1),
    "replicated_turns": dict(n_convs=512, turns_per_conv=4, replicas=40),
    "resumable_whale": dict(n_convs=64, turns_per_conv=32, replicas=1),
}
# The whale is routed by correct_pipeline(fused="auto") to the staged
# plan: it must be longer than the threshold, and every other
# conversation (at most 8 x turns_per_conv turns) must stay below it.
WHALE_THRESHOLD = 512
WHALE_TURNS = 2048
ZIPF_TOKENS = 50_000
INPUT_FILES = 12

_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo ga ge gi go ha he hi ho ja "
    "je jo ka ke ki ko la le li lo lu ma me mi mo na ne ni no pa pe pi po "
    "ra re ri ro ru sa se si so su ta te ti to tu va ve vi vo æ ø aa "
    "bæ dø fæ gø hæ kø læ mø næ pø ræ sø tæ vø sk st sp tr br dr gr kr "
    "en er et el es ar an or"
).split()


def _conversation(conv_id: str, ci: int, n_turns: int, freq: dict):
    """One conversation by the ``make_fixture`` recipe (same noise
    families, same hashes), under ``conv_id``."""
    lines_per_turn, words_per_line = 3, 6
    base_rows, alt_rows = [], []
    carry = ""
    for t in range(n_turns):
        base_lines: list[str] = []
        alt_lines: list[str] = []
        n_lines = max(1, lines_per_turn + (_h("nl", conv_id, t) % 3) - 1)
        for li in range(n_lines):
            n_words = max(
                2, words_per_line + (_h("nw", conv_id, t, li) % 5) - 2
            )
            clean = [_word(conv_id, t, li, wi) for wi in range(n_words)]
            if _h("canon", conv_id, t, li) % 23 == 0:
                clean[0] = "tyske"
            for w in clean:
                lw = w.lower()
                freq[lw] = freq.get(lw, 0) + 1
            base = [
                _corrupt_base(w, _h("nz", conv_id, t, li, wi))
                for wi, w in enumerate(clean)
            ]
            alt = [
                _corrupt_alt(w, _h("az", conv_id, t, li, wi))
                for wi, w in enumerate(clean)
            ]
            if _h("noise", conv_id, t, li) % 9 == 0:
                nz = NOISE_LINE_TOKENS[
                    _h("nzch", conv_id, t, li) % len(NOISE_LINE_TOKENS)
                ]
                base.append(nz)
                alt.append(nz)
            base_line = " ".join(base)
            alt_line = " ".join(alt)
            if (
                li < n_lines - 1
                and _h("hyph", conv_id, t, li) % 6 == 0
                and len(base[-1]) > 4
            ):
                head, tail = base_line.rsplit(" ", 1)
                cut = len(tail) // 2
                if cut >= 2:
                    base_lines += [f"{head} {tail[:cut]}-", tail[cut:]]
                    alt_lines += [alt_line, ""]
                    continue
            base_lines.append(base_line)
            alt_lines.append(alt_line)
        if carry:
            base_lines[0] = f"{carry}{base_lines[0]}"
            carry = ""
        if _h("blank", conv_id, t) % 5 == 0:
            base_lines.insert(min(1, len(base_lines)), "   " if t % 2 else "")
        if _h("pgnum", conv_id, t) % 4 == 0:
            base_lines.insert(0, f" {t % 200} ")
        if t < n_turns - 1 and _h("xhyph", conv_id, t) % 7 == 0:
            last = base_lines[-1].rsplit(" ", 1)
            if len(last) == 2 and len(last[1]) > 4:
                cut = len(last[1]) // 2
                if cut >= 2:
                    base_lines[-1] = f"{last[0]} {last[1][:cut]}-"
                    carry = last[1][cut:] + " "
        base_rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": ROLES[t % 3],
                "text": "\n".join(base_lines),
                "tool": TOOLS[_h("tool", conv_id, t) % len(TOOLS)],
                "ts": _EPOCH
                + _dt.timedelta(
                    days=ci, seconds=t * 60 + _h("ts", conv_id, t) % 50
                ),
            }
        )
        alt_rows.append(
            {"conv_id": conv_id, "turn_idx": t, "text": "\n".join(alt_lines)}
        )
    return base_rows, alt_rows


def _corpus(prefix: str, n_convs: int, per_conv: int, whale_turns: int):
    base, alt, freq = [], [], {}
    for ci in range(n_convs):
        b, a = _conversation(
            f"{prefix}c{ci:05d}", ci, _turn_count(ci, per_conv), freq
        )
        base += b
        alt += a
    if whale_turns:
        b, a = _conversation(f"{prefix}whale", n_convs, whale_turns, freq)
        base += b
        alt += a
    return base, alt, freq


def fixture_lexicon(freq: dict) -> list[tuple[str, int]]:
    """The ``make_fixture`` lexicon: clean-word counts x 10, descending,
    token ascending on ties."""
    return [
        (t, c * 10)
        for t, c in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    ]


def zipf_lexicon(fixture: list[tuple[str, int]]):
    """A ``ZIPF_TOKENS``-token lexicon with counts ~ 1/rank that holds the
    fixture vocabulary at evenly spread ranks among the first few hundred,
    so the top-600 guard set mixes both and every fixture word stays a
    dictionary word.

    The synthetic tokens are the same for every corpus seed.  Drawn per
    seed, the SymSpell index of some seeds crossed a dict-resize size and
    the driver's peak read ~465 MB instead of ~400 MB."""
    rng = random.Random(0)
    synth: list[str] = []
    seen = {t for t, _c in fixture}
    while len(synth) < ZIPF_TOKENS - len(fixture):
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            synth.append(w)
    order = [t for t, _c in fixture]
    tokens: list[str] = []
    while synth or order:
        if order and len(tokens) % 3 == 1:
            tokens.append(order.pop(0))
        else:
            tokens.append(synth.pop() if synth else order.pop(0))
    top = 10_000_000
    pairs = [(t, max(1, top // (r + 1))) for r, t in enumerate(tokens)]
    return sorted(pairs, key=lambda kv: (-kv[1], kv[0]))


def _replicate(rows: list[dict], replicas: int) -> list[dict]:
    if replicas == 1:
        return rows
    return [
        {**r, "conv_id": f"{r['conv_id']}r{k:03d}"}
        for k in range(replicas)
        for r in rows
    ]


def build(workload: str, seed: int, warmup: bool = False):
    """(base rows, alt rows, lexicon) for one workload and seed.  The
    warm-up corpus uses another id prefix, so none of its texts occur in
    the timed corpus; it has no lexicon of its own (the run corrects it
    with the timed corpus's lexicon)."""
    size = SIZES[workload]
    prefix = f"s{seed}{'w' if warmup else 't'}"
    n, per_conv = size["n_convs"], size["turns_per_conv"]
    whale = WHALE_TURNS if workload == "resumable_whale" else 0
    if warmup:
        if whale:
            # as many conversations as the timed corpus, so the
            # checkpointed write opens as many bucket files (this warmed
            # the first timed job more than fewer, longer conversations
            # did), but short ones; and a whale just over the threshold,
            # so the routed plan is the same
            per_conv, whale = 1, WHALE_THRESHOLD + 1
        else:
            # 1/16 of the conversations, replicated like the timed corpus:
            # with only the distinct turns, the first timed
            # replicated_turns job ran ~8 % slower than the second, with
            # them ~3 %
            n = n // 16
    base, alt, freq = _corpus(prefix, n, per_conv, whale)
    base = _replicate(base, size["replicas"])
    alt = _replicate(alt, size["replicas"])
    if warmup:
        return base, alt, None
    lexicon = fixture_lexicon(freq)
    if workload == "unique_turns":
        lexicon = zipf_lexicon(lexicon)
        texts = [r["text"] for r in base]
        if len(set(texts)) != len(texts):
            raise ValueError(f"seed {seed}: unique_turns repeats a text")
    return base, alt, lexicon


_BASE_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
_ALT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("text", pa.string()),
    ]
)


def _write_table(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    cols = {
        f.name: [r[f.name] for r in rows] for f in schema
    }
    if "ts" in cols:
        cols["ts"] = [t.replace(tzinfo=_dt.timezone.utc) for t in cols["ts"]]
    table = pa.table(cols, schema=schema)
    step = -(-len(rows) // INPUT_FILES)
    for i in range(INPUT_FILES):
        name = f"{path}/part-{i:02d}.parquet"
        pq.write_table(table.slice(i * step, step), name)
        # on disk before the run times anything: a write-back of these
        # pages would otherwise land inside a timed job
        with open(name, "rb") as f:
            os.fsync(f.fileno())


def corpus_dir(work: str, workload: str, seed: int, warmup: bool) -> str:
    # keyed on this file's bytes too, so a changed recipe never reads a
    # corpus cached by an older one
    with open(__file__, "rb") as f:
        recipe = hashlib.md5(f.read()).hexdigest()[:8]
    tag = "warmup" if warmup else "timed"
    return os.path.join(work, "inputs", f"{workload}-{seed}-{tag}-{recipe}")


def materialize(work: str, workload: str, seed: int, warmup: bool = False):
    """Write one corpus as parquet under ``work`` unless it is cached;
    returns its directory (``base/``, ``alt/`` and, for a timed corpus,
    ``lexicon.json``)."""
    out = corpus_dir(work, workload, seed, warmup)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)  # a generation cut short
    base, alt, lexicon = build(workload, seed, warmup)
    _write_table(base, _BASE_SCHEMA, os.path.join(out, "base"))
    _write_table(alt, _ALT_SCHEMA, os.path.join(out, "alt"))
    if lexicon is not None:
        with open(os.path.join(out, "lexicon.json"), "w") as f:
            json.dump(lexicon, f)
            f.flush()
            os.fsync(f.fileno())
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def load_lexicon(corpus_dir: str) -> list[tuple[str, int]]:
    with open(os.path.join(corpus_dir, "lexicon.json")) as f:
        return [(t, int(c)) for t, c in json.load(f)]


def read_rows(corpus_dir: str, conv_ids: set[str] | None = None):
    """(base rows, alt rows) as dicts, optionally for some conversations
    only: the oracle's input."""

    def rows(name):
        table = pq.read_table(os.path.join(corpus_dir, name))
        if conv_ids is not None:
            mask = pc.is_in(
                table["conv_id"], value_set=pa.array(sorted(conv_ids))
            )
            table = table.filter(mask)
        return table.to_pylist()

    return rows("base"), rows("alt")


if __name__ == "__main__":
    # python3 -m perfbench.workloads WORK_DIR WORKLOAD SEED
    # writes the timed and the warm-up corpus of one workload and seed
    work_dir, name, seed_arg = sys.argv[1:4]
    for w in (False, True):
        materialize(work_dir, name, int(seed_arg), warmup=w)
