"""Per-turn byte-equality: Spark pipeline vs single-node oracle.

The correctness contract from BASELINE.json: per-turn corrected text must
byte-equal the reference-shaped sequential implementation under the stable
(turn_idx, ts) turn ordering — for every turn, including empty /
noise-only / hyphen-donating turns and long (skewed) conversations.
"""

from __future__ import annotations

import pytest

from memo_fraktur_ocr_code_spark.oracle.spec import correct_corpus
from memo_fraktur_ocr_code_spark.plans.pipeline import (
    correct_pipeline,
    correct_turns,
)
from memo_fraktur_ocr_code_spark.sources.fixtures import make_fixture


def _to_dfs(spark, transcripts, alt_rows):
    tdf = spark.createDataFrame(
        transcripts,
        schema="conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    adf = spark.createDataFrame(
        alt_rows, schema="conv_id string, turn_idx int, text string"
    )
    return tdf, adf


# The three physical plans.  The staged per-turn plan is the skew
# router's whale branch; threshold 0 sends every conversation down it.
PLANS = {
    "partition": {"fused": True},
    "cogroup": {"fused": "cogroup"},
    "staged": {"fused": "auto", "long_conv_threshold": 0},
}


def _compare(spark, transcripts, alt_rows, lexicon, plan=PLANS["partition"],
             **flags):
    tdf, adf = _to_dfs(spark, transcripts, alt_rows)
    got = {
        (r.conv_id, r.turn_idx): r.corrected_text
        for r in correct_pipeline(
            spark, tdf, adf if flags.get("do_hard", True) else None,
            lexicon, **plan, **flags
        ).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): r["corrected_text"]
        for r in correct_corpus(
            transcripts,
            alt_rows if flags.get("do_hard", True) else None,
            lexicon,
            **flags,
        )
    }
    assert set(got) == set(want)
    mismatches = {
        k: (got[k], want[k]) for k in want if got[k] != want[k]
    }
    assert not mismatches, f"{len(mismatches)} turns differ: " + str(
        list(mismatches.items())[:3]
    )
    assert len(got) == len(transcripts)


@pytest.mark.parametrize("plan", list(PLANS))
@pytest.mark.parametrize(
    "flags",
    [
        {"do_easy": True, "do_hard": False, "do_sym": False},
        {"do_easy": True, "do_hard": False, "do_sym": True},
        {"do_easy": True, "do_hard": True, "do_sym": True},
    ],
    ids=["easy", "easy+sym", "full"],
)
def test_pipeline_byte_equality(spark, flags, plan):
    transcripts, alt_rows, lexicon = make_fixture(n_convs=9)
    _compare(spark, transcripts, alt_rows, lexicon, PLANS[plan], **flags)


def test_mismatched_alt_grid_byte_equality(spark):
    """The alt channel's turn grid can differ from the base grid (turns
    missing from alt, alt-only turns).  The oracle projects alt onto
    the BASE grid before assembly (spec.py:105-112); every physical
    plan must do the same — the staged plan once assembled alt over its
    own grid, letting an alt-only turn donate a hyphen continuation the
    oracle never sees (ADVICE r3)."""
    import datetime as dt

    transcripts, alt_rows, lexicon = make_fixture(n_convs=4)
    ts0 = dt.datetime(2024, 1, 1)
    # Crafted conv: the base token 'lob' triggers the o→ø char transfer
    # ONLY if the alt channel's 'l-' merges with the alt-only
    # continuation 'øb' — i.e. only if alt is assembled over its own
    # grid instead of the base grid.  An un-projected plan corrects
    # 'lob'→'løb'; the oracle leaves 'lob'.
    transcripts = transcripts + [
        {
            "conv_id": "convGRID", "turn_idx": 0, "role": "user",
            "text": "abc lob", "tool": "none", "ts": ts0,
        },
        {
            "conv_id": "convGRID", "turn_idx": 1, "role": "assistant",
            "text": "noget andet", "tool": "none",
            "ts": ts0 + dt.timedelta(minutes=1),
        },
    ]
    alt_rows = alt_rows + [
        {"conv_id": "convGRID", "turn_idx": 0, "text": "abc l-"},
        # missing turn 1 (base turn without an alt slot) and a
        # genuinely alt-only turn far beyond the base grid
        {"conv_id": "convGRID", "turn_idx": 100, "text": "øb resten"},
    ]
    # also drop one fixture conv's last alt turn (missing-slot case on
    # organic data)
    drop = ("conv0000", max(
        r["turn_idx"] for r in alt_rows if r["conv_id"] == "conv0000"
    ))
    alt_rows = [
        r for r in alt_rows
        if (r["conv_id"], r["turn_idx"]) != drop
    ]
    for plan in PLANS.values():
        _compare(spark, transcripts, alt_rows, lexicon, plan)


def test_nontimestamp_ts_column_all_plans(spark):
    """The stable-order contract needs ts to be ORDERABLE, not a
    timestamp: bigint epoch-seconds must work in every plan (the
    partition plan once hardcoded a timestamp cast for the alt filler
    and died at analysis time on union; ADVICE r3)."""
    transcripts, alt_rows, lexicon = make_fixture(n_convs=3)
    epoch = [
        dict(r, ts=int(r["ts"].timestamp())) for r in transcripts
    ]
    tdf = spark.createDataFrame(
        epoch,
        schema="conv_id string, turn_idx int, role string, text string,"
        " tool string, ts bigint",
    )
    adf = spark.createDataFrame(
        alt_rows, schema="conv_id string, turn_idx int, text string"
    )
    outs = {}
    for plan, kw in PLANS.items():
        outs[plan] = sorted(
            map(
                tuple,
                correct_pipeline(spark, tdf, adf, lexicon, **kw).collect(),
            )
        )
    assert outs["partition"] == outs["cogroup"] == outs["staged"]
    assert len(outs["partition"]) == len(transcripts)


def test_pipeline_row_count_and_schema(spark):
    transcripts, alt_rows, lexicon = make_fixture(n_convs=4)
    tdf, adf = _to_dfs(spark, transcripts, alt_rows)
    out = correct_pipeline(spark, tdf, adf, lexicon)
    assert [f.name for f in out.schema.fields] == [
        "conv_id",
        "turn_idx",
        "corrected_text",
    ]
    assert out.count() == len(transcripts)


def test_pipeline_handles_pathological_skew(spark):
    """One conversation 100× longer than the rest (power-law skew): the
    partition-walk kernel must carry it across many Arrow batches and
    still byte-equal the oracle."""
    transcripts, alt_rows, lexicon = make_fixture(n_convs=4)
    giant = [
        {
            "conv_id": "giant",
            "turn_idx": t,
            "role": "user",
            "text": f"tyste mand paa gœrden linje {t}\nog sœ en til-",
            "tool": None,
            "ts": transcripts[0]["ts"],
        }
        for t in range(800)
    ]
    alt_giant = [
        {"conv_id": "giant", "turn_idx": t, "text": f"tyske mand paa garden linje {t}\nog sa en til-"}
        for t in range(800)
    ]
    _compare(
        spark,
        transcripts + giant,
        alt_rows + alt_giant,
        lexicon,
        do_easy=True,
        do_hard=True,
        do_sym=True,
    )


@pytest.mark.parametrize("plan", list(PLANS))
def test_bigram_rerank_mode_equality(spark, plan):
    """Bigram-context reranking mode: Spark output byte-equals the oracle
    in all three physical plans, and the context actually changes at
    least one correction vs plain TOP mode."""
    transcripts, alt_rows, lexicon = make_fixture(n_convs=4)
    # deterministic bigram table derived from the lexicon's top tokens
    toks = [t for t, _c in lexicon[:20]]
    bigrams = {
        (toks[i], toks[(i + 1) % len(toks)]): 5 + i
        for i in range(len(toks))
    }
    _compare(
        spark, transcripts, alt_rows, lexicon,
        PLANS[plan], bigram_pairs=bigrams,
    )


def test_bigram_context_flips_a_correction(spark):
    """A crafted lexicon where TOP and bigram-context winners differ."""
    from memo_fraktur_ocr_code_spark.oracle.spec import correct_conversation
    from memo_fraktur_ocr_code_spark.functions.symspell import SymSpellIndex

    lex = [("hus", 100), ("hud", 10), ("gammel", 50)]
    idx = SymSpellIndex.from_pairs(lex)
    plain = correct_conversation(
        ["gammel hux"], None, idx, frozenset(), do_hard=False
    )
    ctx = correct_conversation(
        ["gammel hux"], None, idx, frozenset(), do_hard=False,
        bigram_counts={("gammel", "hud"): 9},
    )
    assert plain == ["gammel hus"]  # TOP: highest count wins
    assert ctx == ["gammel hud"]  # context flips to the supported bigram


def test_bigram_rerank_sees_candidates_beyond_top5(spark):
    """The rerank contract is the FULL candidate set: a context-backed
    candidate sorting 7th by (distance, count) must still win (the old
    top-5 prune silently disabled context exactly in crowded cases —
    ADVICE r3)."""
    from memo_fraktur_ocr_code_spark.functions.symspell import (
        SymSpellIndex,
        get_word_suggestion,
    )

    lex = [("i", 500)] + [
        (t, c)
        for t, c in zip(
            ["hus", "hua", "hub", "huc", "hud", "hue", "huf"],
            [70, 65, 60, 55, 50, 45, 40],
        )
    ]
    idx = SymSpellIndex.from_pairs(lex)
    got = get_word_suggestion(
        "hux",
        idx,
        bigram_counts={("i", "huf"): 3},
        prev_token="i",
    )
    assert got == "huf"  # rank 7 by TOP order, but the context pick


def test_easy_only_mode_needs_no_lexicon(spark):
    """The do_easy-only configuration must not build or broadcast the
    SymSpell deletion index (ADVICE r3); passing lexicon_pairs=None
    proves no code path touches it in any plan."""
    transcripts, _alt, _lex = make_fixture(n_convs=3)
    tdf, _ = _to_dfs(spark, transcripts, [])
    for kw in PLANS.values():
        out = correct_pipeline(
            spark, tdf, None, None, do_hard=False, do_sym=False, **kw
        )
        assert out.count() == len(transcripts)


def test_skew_routed_auto_plan_equality(spark):
    """fused='auto': long conversations route to the staged plan, short
    ones to the partition plan — union output still byte-equals the
    oracle for every turn."""
    transcripts, alt_rows, lexicon = make_fixture(n_convs=5)
    # threshold below the max conv length so the router actually splits
    from collections import Counter

    lens = Counter(r["conv_id"] for r in transcripts)
    thr = sorted(lens.values())[len(lens) // 2]  # median → both routes hit
    assert min(lens.values()) <= thr < max(lens.values())
    _compare(
        spark, transcripts, alt_rows, lexicon,
        {"fused": "auto", "long_conv_threshold": thr},
    )


@pytest.mark.parametrize(
    "null_is_whale", [False, True], ids=["null-short", "null-whale"]
)
def test_skew_router_null_conv_id_not_dropped(spark, null_is_whale):
    """NULL conv_id rows must survive fused='auto' routing in BOTH
    regimes (ADVICE r3): a bare ``isin`` evaluates to NULL for NULL
    keys, so ``where`` dropped them from both branches; and when the
    NULL-key group itself was a whale, ``~isin([..., None])`` was NULL
    for every non-member, dropping the entire short corpus."""
    import datetime as dt

    ts0 = dt.datetime(2024, 1, 1)

    def turn(cid, i, text):
        return {
            "conv_id": cid, "turn_idx": i, "role": "user", "text": text,
            "tool": "none", "ts": ts0 + dt.timedelta(minutes=i),
        }

    n_null = 6 if null_is_whale else 2
    transcripts = (
        [turn("convA", i, f"hej verden {i}") for i in range(3)]
        + [turn(None, i, f"noget tekst {i}") for i in range(n_null)]
    )
    tdf = spark.createDataFrame(
        transcripts,
        schema="conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    thr = 4  # convA (3) is short; NULL group is a whale iff n_null > 4
    want = {
        (r.conv_id, r.turn_idx): r.corrected_text
        for r in correct_pipeline(
            spark, tdf, None, None, do_hard=False, do_sym=False,
            fused=True,
        ).collect()
    }
    got = {
        (r.conv_id, r.turn_idx): r.corrected_text
        for r in correct_pipeline(
            spark, tdf, None, None, do_hard=False, do_sym=False,
            fused="auto", long_conv_threshold=thr,
        ).collect()
    }
    assert len(want) == len(transcripts)
    assert got == want  # nothing dropped from either branch, bytes equal


@pytest.mark.parametrize("plan", ["partition", "cogroup"])
def test_per_conv_augmentation_equality(spark, plan):
    """Per-conversation dictionary augmentation (correct_ocr.py:210-229
    production mode): Spark output byte-equals the oracle in both
    conv-grouped plans."""
    transcripts, alt_rows, lexicon = make_fixture(n_convs=4)
    _compare(
        spark, transcripts, alt_rows, lexicon,
        PLANS[plan], augment_per_conv=(2, 250),
    )


def test_per_conv_augmentation_rescues_conv_word(spark):
    """A token frequent within its own conversation joins that conv's
    dictionary and survives correction; the same token in a conversation
    where it is rare still gets corrected to the global lexicon entry."""
    from memo_fraktur_ocr_code_spark.oracle.spec import correct_conversation
    from memo_fraktur_ocr_code_spark.functions.symspell import SymSpellIndex

    lex = [("hus", 100), ("dag", 90), ("mur", 80)]
    idx = SymSpellIndex.from_pairs(lex)
    base = dict(lex)
    # 'hux' appears 3 times in this conv -> augmented in ([2,250] clamp)
    texts_freq = ["hux dag", "hux mur", "hux dag"]
    got = correct_conversation(
        texts_freq, None, idx, frozenset(), do_hard=False,
        augment=(2, 250),
    )
    assert all(t.startswith("hux") for t in got), got
    # same token appearing once stays below lower=2 -> corrected to 'hus'
    got_rare = correct_conversation(
        ["hux dag"], None, idx, frozenset(), do_hard=False,
        augment=(2, 250),
    )
    assert got_rare == ["hus dag"]


def test_correct_turns_shared_memos_match_fresh():
    """Memos shared across conversations (the partition walk keeps them
    per partition) give the same bytes as fresh memos per conversation,
    and both equal the oracle's independent composition."""
    from memo_fraktur_ocr_code_spark.functions.symspell import SymSpellIndex
    from memo_fraktur_ocr_code_spark.oracle.spec import correct_conversation

    lex = [("hus", 100), ("dag", 90), ("mur", 80), ("mand", 70)]
    idx = SymSpellIndex.from_pairs(lex)
    guard = frozenset(t for t, _c in lex)
    convs = [
        (["hux dag", "tyste mand", "mur til-", "bage hux"],
         ["hus dag", "tyske mand", "mur til-", "bage hus"]),
        (["tyste mand", "hux dag", None, "daq mvr"],
         ["tyske mand", "hus dag", "", "dag mur"]),
    ]
    shared = ({}, {}, {})
    for texts, alts in convs:
        args = (texts, alts, True, guard, idx, None, None)
        got_shared = correct_turns(*args, shared)
        got_fresh = correct_turns(*args, ({}, {}, {}))
        want = correct_conversation(
            [t or "" for t in texts], alts, idx, guard
        )
        assert got_shared == got_fresh == want
    assert all(shared)  # every cache was actually populated and reused


@pytest.mark.parametrize("order", ["freq-first", "rare-first"])
def test_correct_turns_augment_suggestions_are_conv_scoped(order):
    """In augment mode a token frequent in one conversation is kept
    there and corrected in a conversation where it is rare — even when
    both calls share one memo tuple, in either order."""
    from memo_fraktur_ocr_code_spark.functions.symspell import SymSpellIndex

    lex = [("hus", 100), ("dag", 90), ("mur", 80)]
    idx = SymSpellIndex.from_pairs(lex)
    freq = ["hux dag", "hux mur", "hux dag"]
    rare = ["hux dag"]
    convs = [freq, rare] if order == "freq-first" else [rare, freq]
    memos = ({}, {}, {})
    out = {
        id(texts): correct_turns(
            texts, None, True, None, idx, None, (2, 250), memos
        )
        for texts in convs
    }
    assert all(t.startswith("hux") for t in out[id(freq)]), out[id(freq)]
    assert out[id(rare)] == ["hus dag"]


def test_fused_rejects_unknown_plan(spark):
    transcripts, alt_rows, lexicon = make_fixture(n_convs=2)
    tdf, adf = _to_dfs(spark, transcripts, alt_rows)
    for fused in (False, "staged", None):
        with pytest.raises(ValueError, match="fused must be"):
            correct_pipeline(spark, tdf, adf, lexicon, fused=fused)


def test_augment_mode_guards(spark):
    transcripts, alt_rows, lexicon = make_fixture(n_convs=2)
    tdf, adf = _to_dfs(spark, transcripts, alt_rows)
    with pytest.raises(ValueError, match="conv-grouped"):
        correct_pipeline(
            spark, tdf, adf, lexicon, fused="auto", augment_per_conv=True
        )
    with pytest.raises(ValueError, match="rerank"):
        correct_pipeline(
            spark, tdf, adf, lexicon, augment_per_conv=True,
            bigram_pairs={("a", "b"): 1},
        )
