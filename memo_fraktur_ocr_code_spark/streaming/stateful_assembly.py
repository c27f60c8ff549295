"""Custom stateful streaming operator: cross-micro-batch conversation
assembly + correction via ``applyInPandasWithState``.

The batch pipeline needs a conversation's full turn list for cross-turn
dehyphenation; in streaming, turns of one conversation arrive across
micro-batches.  This operator keeps per-conversation state (the turns seen
so far), re-assembles + corrects on every update, and emits the
conversation's current per-turn corrected text tagged with a monotone
``version`` (= turns in state), so downstream consumers keep the
max-version row per (conv_id, turn_idx).

State is bounded by conversation length (the same bound the batch kernels
carry); eviction policy for abandoned conversations would be a processing
-time timeout (``GroupStateTimeout.ProcessingTimeTimeout``) — kept off in
tests for determinism."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from memo_fraktur_ocr_code_spark.operators.wordcorrect import (
    broadcast_lexicon,
)
from memo_fraktur_ocr_code_spark.plans.pipeline import correct_turns

OUT_SCHEMA = (
    "conv_id string, turn_idx int, corrected_text string, version int"
)
STATE_SCHEMA = "turn_idxs array<int>, texts array<string>"


def stateful_assemble_correct(
    spark: SparkSession,
    stream_df: DataFrame,
    lexicon_pairs,
    do_sym: bool = True,
) -> DataFrame:
    """``stream_df``: streaming (conv_id, turn_idx, text).  Returns a
    streaming DataFrame in update semantics (one emission per conversation
    per trigger that touched it)."""
    bc_index = broadcast_lexicon(spark, lexicon_pairs)[0] if do_sym else None

    def fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.exists:
            turn_idxs, texts = state.get
            turn_idxs = list(turn_idxs)
            texts = list(texts)
        else:
            turn_idxs, texts = [], []
        for pdf in pdfs:
            for ti, tx in zip(pdf["turn_idx"], pdf["text"]):
                ti = int(ti)
                if ti in turn_idxs:  # idempotent upsert per turn
                    texts[turn_idxs.index(ti)] = tx
                else:
                    turn_idxs.append(ti)
                    texts.append(tx if isinstance(tx, str) else "")
        order = sorted(range(len(turn_idxs)), key=lambda i: turn_idxs[i])
        turn_idxs = [turn_idxs[i] for i in order]
        texts = [texts[i] for i in order]
        state.update((turn_idxs, texts))

        corrected = correct_turns(
            texts, None, True, None,
            bc_index.value if do_sym else None, None, None, ({}, {}, {}),
        )
        version = len(turn_idxs)
        yield pd.DataFrame(
            {
                "conv_id": [conv_id] * len(turn_idxs),
                "turn_idx": pd.array(turn_idxs, dtype="int32"),
                "corrected_text": corrected,
                "version": pd.array([version] * len(turn_idxs), dtype="int32"),
            }
        )

    return (
        stream_df.groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
