"""Unit tests for the pure spec kernels (no Spark).

Cases lifted from the reference's embedded fixtures and README work log
(align_ocr.py:384-398; README.md:232-234)."""

from __future__ import annotations

import pytest

from memo_fraktur_ocr_code_spark.functions.alignment import (
    align_b_to_a,
    alt_ocr_correct,
    token_align,
)
from memo_fraktur_ocr_code_spark.functions.levtools import (
    cer_from_ratio,
    cer_of_pair,
    get_difftype,
    get_op_str,
    indel_ratio,
    levenshtein,
    osa_distance,
)
from memo_fraktur_ocr_code_spark.functions.symspell import (
    SymSpellIndex,
    get_word_suggestion,
    word_correct_text,
)
from memo_fraktur_ocr_code_spark.functions.textspec import (
    PAGEBREAK,
    assemble_turns,
    clean_page_lines,
    correct_easy,
    fix_hyphens,
    tokenize,
)


def test_tokenize_pads_punctuation():
    assert tokenize('„Hr. Etatsraad Helmer, Candidatus"') == [
        "„", "Hr", ".", "Etatsraad", "Helmer", ",", "Candidatus", '"',
    ]
    assert tokenize("") == []
    assert tokenize("  a  b ") == ["a", "b"]


def test_correct_easy_ordered_chain():
    # œ-family → æ (correct_ocr.py:39-43)
    assert correct_easy("grœæsrige") == "græsrige"
    assert correct_easy("trœnge") == "trænge"
    assert correct_easy("tæœt") == "tæt"
    assert correct_easy("Lœevtag") == "Lævtag"  # œe→æ before œ→æ
    # ſ→s and ,& → , & (ocr.py:34)
    assert correct_easy("Huſet,&co") == "Huset, &co"


def test_fix_hyphens_merges_across_strings():
    out = fix_hyphens(["den gamle Mu-", "ren stod fast"])
    assert out == ["den gamle Muren", "stod fast"]
    # soft hyphen also merges
    out2 = fix_hyphens(["Stil\xad", "linger her"])
    assert out2[0] == "Stillinger"
    # pilcrow round-trip
    out3 = fix_hyphens(["a ¶ b", "c"])
    assert out3 == ["a ¶ b", "c"]


def test_clean_page_lines():
    assert clean_page_lines(" 12 \nreal line\n   \nmore") == "real line\nmore"
    # page-number heuristic only applies to line 0
    assert clean_page_lines("text\n 12 x\n ab ") == "text\n 12 x\n ab "


def test_assemble_turns_rejects_pagebreak_marker_in_turn():
    """A turn carrying the internal pagebreak marker would split into an
    extra part and shift every later turn's output: an explicit error,
    not an ``assert`` that vanishes under ``python -O``."""
    with pytest.raises(ValueError, match="pagebreak marker count"):
        assemble_turns(["abc", f"def {PAGEBREAK} ghi", "jkl"])


def test_assemble_turns_cross_turn_hyphen():
    turns = ["4\nden gamle Mu-", "ren stod fast\nved Aaen"]
    out = assemble_turns(turns)
    assert out == ["den gamle Muren", "stod fast\nved Aaen"]
    # arity always preserved, empty turns survive
    out = assemble_turns(["", "abc", "   "])
    assert len(out) == 3


def test_levenshtein_and_ratio():
    assert levenshtein("tyste", "tyske") == 1
    assert levenshtein("", "abc") == 3
    assert indel_ratio("abc", "abc") == 1.0
    # Levenshtein.ratio semantics: subst costs 2
    assert indel_ratio("ab", "ac") == 0.5
    assert osa_distance("ab", "ba", 2) == 1  # transposition
    assert osa_distance("abcdef", "x", 2) == 3  # cutoff → max+1


def test_indel_bitparallel_matches_dp_twin():
    """indel_distance's Allison-Dix bit-parallel core (r7) must equal
    the classic LCS-row DP it replaced, value-for-value, across random
    inputs (multi-byte chars included), boundary shapes, and the
    near-match shapes the prefix/suffix strip targets."""
    import random

    from memo_fraktur_ocr_code_spark.functions.levtools import indel_distance
    from tests.test_properties import _indel_naive

    rng = random.Random(20260822)
    alpha = "abæſ¶◇☐ xyz"
    for _ in range(4000):
        a = "".join(
            rng.choice(alpha) for _ in range(rng.randrange(0, 40))
        )
        b = "".join(
            rng.choice(alpha) for _ in range(rng.randrange(0, 40))
        )
        assert indel_distance(a, b) == _indel_naive(a, b), (a, b)
    # long asymmetric pair exercises the shorter-side-masked swap
    a = "".join(rng.choice(alpha) for _ in range(700))
    b = "".join(rng.choice(alpha) for _ in range(90))
    assert indel_distance(a, b) == _indel_naive(a, b)
    for a, b in [
        ("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
        ("prefixXsuffix", "prefixYsuffix"), ("aaaa", "aa"),
    ]:
        assert indel_distance(a, b) == _indel_naive(a, b)


def test_cer_defs_distinct():
    assert cer_of_pair(1, "tyske") == 20.0
    assert cer_of_pair(0, "x") == 0.0
    # reference-parity quirk (align_ocr.py:33-38): empty gold → CER 0
    # even with nonzero edits — pinned so the deviation-from-intuition
    # is documented, not silent
    assert cer_of_pair(5, "") == 0.0
    assert cer_from_ratio(0.8) == 0.2


def test_difftype_and_opstr():
    assert get_difftype("tyste", "tyske") == "lev_1"
    assert get_difftype("a_b", "ab") == "same_chars"
    assert get_difftype("x", "x") == "match"
    assert get_op_str("tyste", "tyske") == "t=k"
    assert get_op_str("abc", "abcd") == "•=d"


def test_align_b_to_a_rebuckets():
    a = ("den", "gamle", "Mur", "stod")
    b = ("den", "gam", "le", "Mur", "stod")
    aligned = align_b_to_a(a, b)
    assert len(aligned) == len(a)
    assert aligned[0] == "den"
    # canonical 1:N split join
    corr, orig = token_align(("Etatsraad",), ("E", "ta", "tsraad"))
    assert corr == ("Etatsraad",)
    assert orig == ("E☐ta☐tsraad",)


def test_symspell_lookup_and_guards():
    lex = [("tyske", 100), ("største", 80), ("hus", 60), ("huset", 50)]
    idx = SymSpellIndex.from_pairs(lex)
    assert idx.lookup_top("tyste") == "tyske"
    assert idx.lookup_top("tyske") == "tyske"
    assert idx.lookup_top("xyzzyq") is None
    # casing transfer
    assert get_word_suggestion("Tyste", idx) == "Tyske"
    # noise passes through as None
    assert get_word_suggestion("——", idx) is None
    # punctuation kept
    assert get_word_suggestion("-", idx) == "-"


def test_word_correct_text_whitespace_spec():
    lex = [("tyske", 100), ("mand", 50)]
    idx = SymSpellIndex.from_pairs(lex)
    # single-space reassembly is part of the spec
    assert word_correct_text("tyste   mand\nx", idx) == "tyske mand\nx"
    # 1-char tokens never corrected
    assert word_correct_text("a", idx) == "a"


def test_alt_ocr_correct_canonical_cases():
    """README.md:232-234 canonical hard-correction pairs."""
    mf = frozenset()
    # tyste + alt tyske → tyske (t→k at index 3)
    assert alt_ocr_correct("tyste", "tyske", mf) == "tyske"
    # storste + alt største → ordered replacement o→ø
    out = alt_ocr_correct("storste", "største", mf)
    assert out == "største"
    # guard: token in most_frequent is never corrected
    assert alt_ocr_correct("tyste", "tyske", frozenset(["tyste"])) == "tyste"
    # newlines survive the pilcrow round-trip
    out = alt_ocr_correct("tyste\nmand", "tyske\nmand", mf)
    assert out == "tyske\nmand"


def test_false_positive_cancellation_and_pagebreak_guard():
    """J7 (correct_ocr.py:361-369) + the PAGEBREAK guard (:371-372)."""
    lex = [("sig", 100), ("mand", 50)]
    idx = SymSpellIndex.from_pairs(lex)
    # 'sie' → lookup suggests 'sig' (distance 1), cancelled by the FP list
    assert idx.lookup_top("sie") == "sig"
    assert get_word_suggestion("sie", idx) == "sie"
    assert get_word_suggestion("Sie", idx) == "Sie"
    # a word containing the pagebreak marker is never corrected
    pb = "___PAGEBREAK___"
    assert get_word_suggestion(pb, idx) == pb
    assert word_correct_text(f"sie mand {pb}", idx) == f"sie mand {pb}"


def test_bigram_context_reranking():
    """Candidate generation + bigram-context reranking: context flips the
    winner only when the bigram table supports an alternative; with no
    context it reduces to the TOP lookup."""
    from memo_fraktur_ocr_code_spark.functions.symspell import (
        SymSpellIndex,
        bigram_rerank,
        lookup_candidates,
    )

    lex = [("hus", 100), ("hul", 90), ("hud", 80)]
    idx = SymSpellIndex.from_pairs(lex)
    cands = lookup_candidates(idx, "hux")
    # all three are distance 1; TOP order = count desc then term
    assert [t for _d, _c, t in cands] == ["hus", "hul", "hud"]
    # no context → TOP winner
    assert bigram_rerank(None, cands, {}) == "hus"
    # context bigram flips to the supported candidate
    bg = {("gammelt", "hud"): 7, ("gammelt", "hus"): 2}
    assert bigram_rerank("Gammelt", cands, bg) == "hud"
    # tie on bigram hits → TOP order decides
    bg2 = {("gammelt", "hud"): 3, ("gammelt", "hus"): 3}
    assert bigram_rerank("Gammelt", cands, bg2) == "hus"
    # exact dictionary word is its own 0-distance candidate first
    assert lookup_candidates(idx, "hus")[0] == (0, -100, "hus")


def test_bigram_mode_never_rewrites_exact_dictionary_words():
    """ADVICE r2 (medium): an in-dictionary token must survive bigram
    reranking unchanged — context may only choose among corrections of a
    MISSPELLED token, never rewrite a valid one ('hus' after 'gammel'
    stays 'hus' even when ('gammel','hud') dominates the bigram table)."""
    from memo_fraktur_ocr_code_spark.functions.symspell import (
        SymSpellIndex,
        get_word_suggestion,
        word_correct_text,
    )

    idx = SymSpellIndex.from_pairs([("hus", 100), ("hud", 80), ("gammel", 50)])
    bg = {("gammel", "hud"): 99, ("gammel", "hus"): 0}
    assert get_word_suggestion("hus", idx, None, bg, "gammel") == "hus"
    # casing preserved through the short-circuit
    assert get_word_suggestion("Hus", idx, None, bg, "gammel") == "Hus"
    # misspelled token: context still reranks
    assert get_word_suggestion("hux", idx, None, bg, "gammel") == "hud"
    # end-to-end through the line kernel
    assert (
        word_correct_text("gammel hus", idx, None, bg) == "gammel hus"
    )
