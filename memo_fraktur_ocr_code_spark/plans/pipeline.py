"""End-to-end per-turn correction pipeline (the flagship plan).

Composition mirrors the reference pipeline order
(run_eval_pipeline.py:54-64): assemble → correct_easy → correct_hard →
sym_wordcorrect, stated once per conversation in :func:`correct_turns`.
The physical plans only differ in how a conversation's rows reach that
kernel: the default walks conv_id-sorted partitions after exactly one
shuffle; the per-turn staged operators remain as the skew router's
branch for pathologically long conversations.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from memo_fraktur_ocr_code_spark.functions.alignment import alt_ocr_correct
from memo_fraktur_ocr_code_spark.functions.symspell import (
    build_conv_delta,
    conv_freqlist,
    word_correct_text,
)
from memo_fraktur_ocr_code_spark.functions.textspec import (
    assemble_turns,
    correct_easy,
)
from memo_fraktur_ocr_code_spark.operators.assembly import (
    assemble_transcripts,
)
from memo_fraktur_ocr_code_spark.operators.hardcorrect import correct_hard
from memo_fraktur_ocr_code_spark.operators.normalize import correct_easy_col
from memo_fraktur_ocr_code_spark.operators.wordcorrect import (
    broadcast_lexicon,
    sym_wordcorrect,
)

_OUT_SCHEMA = "conv_id string, turn_idx int, corrected_text string"


def correct_turns(
    texts: list,
    alts: list | None,
    do_easy: bool,
    guard: frozenset | None,
    index,
    bigrams: dict | None,
    augment: tuple | None,
    memos: tuple,
) -> list[str]:
    """One conversation's turns (already in stable (turn_idx, ts) order)
    through assemble → correct_easy → correct_hard (when ``alts`` is not
    None: the alt channel projected onto the same turns) → SymSpell
    (when ``index`` is not None).  Non-string turn texts read as empty.
    Returns per-turn corrected text, same arity as ``texts`` — the
    composition ``oracle.spec.correct_conversation`` states
    independently.

    ``memos`` = ``(easy, alt, suggestion)`` dicts, pure-function caches
    the caller scopes (the partition walk keeps them per partition, so
    replicated turns skip recomputation; they cannot change bytes).  In
    augment mode suggestions depend on this conversation's own
    augmented dictionary, so the suggestion cache is conversation-scoped
    here and ``memos[2]`` is not used."""
    easy_memo, alt_memo, sug_memo = memos
    texts = assemble_turns([t if isinstance(t, str) else "" for t in texts])
    if do_easy:
        out = []
        for t in texts:
            v = easy_memo.get(t)
            if v is None:
                v = easy_memo[t] = correct_easy(t)
            out.append(v)
        texts = out
    if alts is not None:
        alts = assemble_turns(
            [a if isinstance(a, str) else "" for a in alts]
        )
        out = []
        for t, a in zip(texts, alts):
            if t:
                v = alt_memo.get((t, a))
                if v is None:
                    v = alt_memo[(t, a)] = alt_ocr_correct(t, a, guard)
                t = v
            out.append(t)
        texts = out
    if index is not None:
        overlay = None
        if augment is not None:
            overlay = build_conv_delta(
                index.words, conv_freqlist(texts), *augment,
                base_top50=index.top50_sum,
            )
            sug_memo = {}
        texts = [
            word_correct_text(t, index, sug_memo, bigrams, overlay)
            for t in texts
        ]
    return texts


def correct_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    lexicon_pairs,
    do_easy: bool = True,
    do_hard: bool = True,
    do_sym: bool = True,
    fused: bool | str = True,
    num_partitions: int | None = None,
    bigram_pairs: dict | None = None,
    long_conv_threshold: int = 1_000_000,
    augment_per_conv: bool | tuple = False,
) -> DataFrame:
    """Returns (conv_id, turn_idx, corrected_text), one row per input turn,
    byte-equal to ``oracle.spec.correct_corpus`` under the stable
    (turn_idx, ts) ordering.

    Every plan runs each conversation through :func:`correct_turns`;
    they differ only in how a conversation's rows reach it.  The
    lexicon broadcasts (SymSpell index, top-600 guard set, bigram
    table) are built once here, and only when a stage reads them.

    * ``fused=True`` (default): ONE shuffle — both channels union into a
      hash repartition by conv_id, sorted within partitions, and a single
      ``mapInPandas`` kernel walks whole partitions carrying the trailing
      (possibly batch-split) conversation between Arrow batches.  Per-batch
      kernel overhead instead of per-group — the plan for the 100 TB run.
    * ``fused='cogroup'``: one cogrouped Arrow kernel per conv (2 shuffles,
      per-group dispatch).  Slower on short conversations, but over
      conv_id-bucketed tables both shuffles are elided (zero Exchange).
    * ``fused='auto'``: skew router — conversations longer than
      ``long_conv_threshold`` turns take the staged plan (per-turn
      operators: Catalyst regexp chain for easy, an equi-join for the
      alt channel, separate kernels — its expensive correct_hard/sym
      stages rebalance freely), the rest take the partition-walk plan;
      the outputs union.  This removes the one straggler mode of the
      fused plans (a single 10^8-turn conversation pinning one task)
      without giving up their per-batch kernel economics for the short
      tail.  Pathological conversations are few by definition, so the
      long-id list is collected to the driver.

    Any other ``fused`` value raises ``ValueError``.  Extreme
    conversation-length skew: the fused plans process each conversation
    inside one task (assembly's cross-turn dehyphenation is
    order-dependent) — use ``fused='auto'`` when the conv length
    distribution has a heavy tail.  ``augment_per_conv`` needs a
    conversation-grouped sym stage, so it refuses ``fused='auto'``.
    """
    if not (fused is True or fused in ("cogroup", "auto")):
        raise ValueError(
            f"fused must be True, 'cogroup' or 'auto', not {fused!r}"
        )
    augment = None
    if augment_per_conv:
        if fused == "auto":
            raise ValueError(
                "augment_per_conv requires a conv-grouped plan"
                " (fused=True or 'cogroup')"
            )
        if bigram_pairs is not None:
            raise ValueError(
                "augment_per_conv and bigram_pairs are separate rerank"
                " modes; enable one"
            )
        augment = (
            augment_per_conv
            if isinstance(augment_per_conv, tuple)
            else (2, 250)
        )
    if not do_hard:
        alt_transcripts = None
    # each broadcast is None unless a stage reads it: only sym reads the
    # index and bigrams, only correct_hard the guard set, so the
    # do_easy-only configuration builds no SymSpell index at all
    use_alt = alt_transcripts is not None
    bc_index = bc_guard = bc_bigrams = None
    if do_sym or use_alt:
        bc_index, bc_guard = broadcast_lexicon(spark, lexicon_pairs)
    if do_sym and bigram_pairs is not None:
        bc_bigrams = spark.sparkContext.broadcast(dict(bigram_pairs))
    # correct_turns' argument order
    bcs = (bc_guard if use_alt else None, bc_index if do_sym else None,
           bc_bigrams)
    if fused == "auto":
        return _correct_pipeline_skew_routed(
            spark, transcripts, alt_transcripts, do_easy, bcs,
            num_partitions, long_conv_threshold,
        )
    if fused == "cogroup":
        return _correct_pipeline_fused(
            transcripts, alt_transcripts, do_easy, bcs, augment
        )
    return _correct_pipeline_partition(
        spark, transcripts, alt_transcripts, do_easy, bcs,
        num_partitions, augment,
    )


def _deref(bcs: tuple) -> tuple:
    """Executor-side values of ``bcs``; an unbuilt broadcast stays None."""
    return tuple(None if b is None else b.value for b in bcs)


def _correct_pipeline_staged(
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    do_easy: bool,
    bcs: tuple,
) -> DataFrame:
    """Per-turn staged operators — the skew router's whale branch."""
    bc_guard, bc_index, bc_bigrams = bcs
    df = assemble_transcripts(transcripts)
    if do_easy:
        df = df.withColumn("text", correct_easy_col("text"))
    if alt_transcripts is not None:
        # Project the alt channel onto the BASE turn grid BEFORE
        # assembly (oracle spec.py:105-112, matching both fused plans):
        # alt-only turns are dropped, base turns missing from alt get an
        # empty slot — blocking cross-turn hyphen merges exactly where
        # the oracle blocks them — and slots inherit the base row's ts
        # so assembly walks both channels in the identical stable order.
        # Assembling alt over its OWN grid diverges byte-wise whenever
        # the grids differ (ADVICE r3).  Duplicate (conv_id, turn_idx)
        # alt rows collapse deterministically via max(text); duplicate
        # alt keys are outside the channel contract.
        alt_one = alt_transcripts.groupBy("conv_id", "turn_idx").agg(
            F.max("text").alias("_alt_text")
        )
        has_ts = "ts" in transcripts.columns
        grid = transcripts.select(
            "conv_id", "turn_idx", *(["ts"] if has_ts else [])
        )
        alt_proj = grid.join(
            alt_one, ["conv_id", "turn_idx"], "left"
        ).select(
            "conv_id",
            "turn_idx",
            *(["ts"] if has_ts else []),
            F.coalesce("_alt_text", F.lit("")).alias("text"),
        )
        alt = assemble_transcripts(alt_proj)
        df = correct_hard(df, alt, bc_guard)
    if bc_index is not None:
        df = sym_wordcorrect(df, bc_index, bc_bigrams)
    return df.select(
        "conv_id", "turn_idx", F.col("text").alias("corrected_text")
    )


def _correct_pipeline_skew_routed(
    spark: SparkSession,
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    do_easy: bool,
    bcs: tuple,
    num_partitions: int | None,
    long_conv_threshold: int,
) -> DataFrame:
    """Route each conversation whole to the plan that handles its length:
    byte-equality is preserved because both plans are byte-equal per
    conversation and no conversation is split across plans.

    The whale-id list is computed ONCE, eagerly, on the driver
    (pathological conversations are few by definition — that premise is
    what makes the router correct at all): the previous lazy
    ``long_ids`` DataFrame was re-aggregated from scratch by each of
    the four branch joins (ADVICE r3).  Literal ``isin`` filters also
    let the scans prune instead of building four broadcast joins."""
    long_list = [
        r["conv_id"]
        for r in transcripts.groupBy("conv_id")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > long_conv_threshold)
        .select("conv_id")
        .collect()
    ]
    if not long_list:
        # no whales: the partition walk handles everything — skip the
        # staged branch entirely
        return _correct_pipeline_partition(
            spark, transcripts, alt_transcripts, do_easy, bcs,
            num_partitions,
        )
    # NULL-safe routing (ADVICE r3): a bare ``isin`` evaluates to NULL for
    # NULL conv_id rows, and ``where`` drops NULL — so NULL-key rows would
    # silently vanish from BOTH branches; worse, a None inside long_list
    # makes ``~isin([..., None])`` NULL for every non-member, dropping the
    # entire short corpus.  Split the membership test into a non-NULL
    # literal list plus an explicit isNull clause, and coalesce so the
    # predicate is two-valued.
    non_null_long = [x for x in long_list if x is not None]
    is_long = (
        F.coalesce(F.col("conv_id").isin(non_null_long), F.lit(False))
        if non_null_long
        else F.lit(False)
    )
    if len(non_null_long) != len(long_list):  # the NULL-key group is a whale
        is_long = is_long | F.col("conv_id").isNull()
    t_short = transcripts.where(~is_long)
    t_long = transcripts.where(is_long)
    a_short = a_long = None
    if alt_transcripts is not None:
        a_short = alt_transcripts.where(~is_long)
        a_long = alt_transcripts.where(is_long)
    short_out = _correct_pipeline_partition(
        spark, t_short, a_short, do_easy, bcs, num_partitions
    )
    long_out = _correct_pipeline_staged(t_long, a_long, do_easy, bcs)
    return short_out.unionByName(long_out)


def _correct_pipeline_fused(
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    do_easy: bool,
    bcs: tuple,
    augment: tuple | None,
) -> DataFrame:
    # computed here, not in the kernel: a closure over alt_transcripts
    # would pickle the DataFrame into the UDF
    use_alt = alt_transcripts is not None

    def kernel(base_pdf: pd.DataFrame, alt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(base_pdf) == 0:  # conv present only in the alt channel
            return pd.DataFrame(
                {"conv_id": [], "turn_idx": [], "corrected_text": []}
            )
        order_cols = (
            ["turn_idx", "ts"] if "ts" in base_pdf.columns else ["turn_idx"]
        )
        base_pdf = base_pdf.sort_values(order_cols, kind="mergesort")
        alts = None
        if use_alt:
            amap = dict(zip(alt_pdf["turn_idx"], alt_pdf["text"]))
            alts = [amap.get(ti) for ti in base_pdf["turn_idx"]]
        texts = correct_turns(
            base_pdf["text"].tolist(), alts, do_easy, *_deref(bcs),
            augment, ({}, {}, {}),
        )
        return pd.DataFrame(
            {
                "conv_id": base_pdf["conv_id"].to_numpy(),
                "turn_idx": base_pdf["turn_idx"].to_numpy(),
                "corrected_text": texts,
            }
        )

    cols = ["conv_id", "turn_idx", "text"] + (
        ["ts"] if "ts" in transcripts.columns else []
    )
    base = transcripts.select(*cols)
    if use_alt:
        alt = alt_transcripts.select("conv_id", "turn_idx", "text")
    else:
        alt = base.limit(0).select("conv_id", "turn_idx", "text")
    return (
        base.groupBy("conv_id")
        .cogroup(alt.groupBy("conv_id"))
        .applyInPandas(kernel, schema=_OUT_SCHEMA)
    )


def _correct_pipeline_partition(
    spark: SparkSession,
    transcripts: DataFrame,
    alt_transcripts: DataFrame | None,
    do_easy: bool,
    bcs: tuple,
    num_partitions: int | None = None,
    augment: tuple | None = None,
) -> DataFrame:
    """Single-shuffle plan: union both channels, hash-repartition by
    conv_id, sort within partitions, process whole partitions in one
    Arrow kernel.

    A conversation can straddle consecutive Arrow batches of the same
    partition; the kernel carries the trailing conversation's rows to the
    next batch and flushes at end-of-partition — bounded state (one conv),
    no correctness compromise.  At 10^12 turns this is the scalable shape:
    shuffle size = inputs once, kernel overhead amortized over full
    2k-row batches, no per-group pandas construction.
    """
    use_alt = alt_transcripts is not None
    has_ts = "ts" in transcripts.columns
    base = transcripts.select(
        "conv_id",
        "turn_idx",
        F.col("text"),
        F.lit(0).alias("side"),
        *([F.col("ts")] if has_ts else []),
    )
    u = base
    if use_alt:
        # the ts contract is "orderable", not "timestamp" — fill the alt
        # side with a typed NULL of whatever type the base carries, so
        # the union also holds for e.g. bigint epoch columns
        alt_ts = (
            [F.lit(None).cast(transcripts.schema["ts"].dataType).alias("ts")]
            if has_ts
            else []
        )
        u = base.unionByName(
            alt_transcripts.select(
                "conv_id", "turn_idx", F.col("text"),
                F.lit(1).alias("side"), *alt_ts,
            )
        )
    sort_cols = ["conv_id", "side", "turn_idx"] + (["ts"] if has_ts else [])
    # Explicit partition count: the kernel stage is CPU-bound per row, so
    # AQE's byte-based partition coalescing (64 MB advisory) would collapse
    # it to a handful of tasks and serialize the Python work.  An explicit
    # repartition(n, col) pins reducer parallelism to ~4 waves per core
    # (or the caller's ``num_partitions`` — benchmarks pin it constant
    # across parallelism levels so both levels do identical physical work).
    n_part = num_partitions or spark.sparkContext.defaultParallelism * 4
    d = u.repartition(n_part, "conv_id").sortWithinPartitions(*sort_cols)
    if has_ts:
        # ts orders duplicate turn_idx rows within the partition sort; the
        # kernel itself never reads it — drop it before the Arrow transfer
        # (narrow projection, intra-partition order preserved).
        d = d.select("conv_id", "turn_idx", "text", "side")

    def process(pdf: pd.DataFrame, ctx: tuple) -> pd.DataFrame:
        conv_out, turn_out, text_out = [], [], []
        convs = pdf["conv_id"].to_numpy()
        sides = pdf["side"].to_numpy()
        turn_idx = pdf["turn_idx"].to_numpy()
        texts_in = pdf["text"].tolist()
        n = len(convs)
        start = 0
        while start < n:
            end = start
            cid = convs[start]
            while end < n and convs[end] == cid:
                end += 1
            base_ti, base_tx, alt_map = [], [], {}
            for k in range(start, end):
                if sides[k] == 0:
                    base_ti.append(turn_idx[k])
                    base_tx.append(texts_in[k])
                else:
                    alt_map[turn_idx[k]] = texts_in[k]
            start = end
            if not base_ti:
                continue
            alts = [alt_map.get(ti) for ti in base_ti] if use_alt else None
            conv_out.extend([cid] * len(base_ti))
            turn_out.extend(base_ti)
            text_out.extend(correct_turns(base_tx, alts, do_easy, *ctx))
        return pd.DataFrame(
            {
                "conv_id": conv_out,
                "turn_idx": pd.array(turn_out, dtype="int32"),
                "corrected_text": text_out,
            }
        )

    def kernel(batches):
        # broadcast deref + memos once per partition, not per Arrow
        # batch: every memo is a pure-function cache (deterministic), so
        # partition scope only raises its hit rate — replicated or
        # duplicated corpora repeat whole turns within a partition, and
        # the (text, alt) alignment is the kernel's dominant term.
        ctx = (*_deref(bcs), augment, ({}, {}, {}))
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                carry = None
                continue
            last = pdf["conv_id"].iloc[-1]
            boundary = (pdf["conv_id"] == last).idxmax()
            done = pdf.iloc[:boundary]
            carry = pdf.iloc[boundary:]
            if len(done):
                yield process(done, ctx)
        if carry is not None and len(carry):
            yield process(carry, ctx)

    return d.mapInPandas(kernel, schema=_OUT_SCHEMA)
