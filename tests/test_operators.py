"""Operator-level Spark tests: annotation, aggregates, dedup, similarity,
text stats, multimodal plumbing."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from memo_fraktur_ocr_code_spark.functions.levtools import indel_ratio
from memo_fraktur_ocr_code_spark.operators import aggregates as agg
from memo_fraktur_ocr_code_spark.operators.annotate import (
    add_in_freqlist,
    add_sentence_idx,
    annotate_pair_measures,
    tokens_table,
)
from memo_fraktur_ocr_code_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from memo_fraktur_ocr_code_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
)
from memo_fraktur_ocr_code_spark.operators.pq import _l2sq
from memo_fraktur_ocr_code_spark.operators.similarity import (
    _dot,
    _norm,
    cosine_topk,
    srp_lsh_topk,
)
from memo_fraktur_ocr_code_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    token_counts,
)


def _turns(spark):
    rows = [
        ("c1", 0, "den gamle Mur\nstod fast, ved Aaen"),
        ("c1", 1, "tyste mand"),
        ("c2", 0, "en linje"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    )


def test_tokens_table_enumeration(spark):
    out = tokens_table(_turns(spark)).collect()
    by_key = {
        (r.conv_id, r.turn_idx, r.word_idx): r for r in out
    }
    r = by_key[("c1", 0, 4)]
    assert (r.line_idx, r.word_on_line, r.token) == (2, 1, "stod")
    # punctuation split as its own token
    toks = [r.token for r in out if r.conv_id == "c1" and r.turn_idx == 0]
    assert "," in toks
    # conversation-global enumeration is monotone over turns
    conv_idx = [
        (r.turn_idx, r.conv_word_idx)
        for r in sorted(out, key=lambda r: r.conv_word_idx)
        if r.conv_id == "c1"
    ]
    # actual monotonicity: walking conv_word_idx ascending, turn_idx
    # must never decrease (the single max-in-last-turn check let
    # interleaved enumerations through)
    assert [t for t, _ in conv_idx] == sorted(t for t, _ in conv_idx)
    assert conv_idx[-1][0] == 1


def test_annotate_pair_measures(spark):
    df = spark.createDataFrame(
        [("tyske", "tyste"), ("hus", "hus"), ("a_b", "ab"), (None, "x")],
        "token string, ocrtok string",
    )
    out = {r.token: r for r in annotate_pair_measures(df).collect()}
    assert out["tyske"].leven == 1
    assert out["tyske"].levcat == "lev_1"
    assert out["tyske"].ratio == round(indel_ratio("tyske", "tyste"), 2)
    assert out["hus"].levcat == "match" and out["hus"].cer == 0.0
    assert out["a_b"].levcat == "same_chars"
    assert out[None].leven is None  # NULL propagation, no 'NA' strings


def test_add_in_freqlist_and_sentences(spark):
    toks = tokens_table(_turns(spark))
    bc = spark.sparkContext.broadcast(frozenset(["den", "mur", "stod"]))
    flagged = add_in_freqlist(toks, bc)
    vals = {
        (r.conv_id, r.turn_idx, r.word_idx): r.infreq
        for r in flagged.collect()
    }
    assert vals[("c1", 0, 1)] == 1  # den
    assert vals[("c1", 0, 2)] == 0  # gamle
    sent = add_sentence_idx(
        toks.withColumn(
            "sent_word_num",
            F.when(F.col("word_on_line") == 1, 1).otherwise(2),
        )
    )
    s = {
        (r.conv_id, r.turn_idx, r.word_idx): r.sent_idx
        for r in sent.collect()
    }
    assert s[("c1", 0, 1)] == 1
    assert s[("c1", 0, 4)] == 2  # new line → new sentence marker


def test_aggregates_freqlist_and_overlay(spark):
    toks = tokens_table(_turns(spark))
    fl = agg.unigram_freqlist(toks)
    rows = fl.collect()
    assert rows[0].freq >= rows[-1].freq
    assert "," not in {r.token for r in rows}
    base = spark.createDataFrame(
        [("a", 10), ("b", 5)], "token string, freq bigint"
    )
    new = spark.createDataFrame(
        [("b", 99), ("c", 1)], "token string, freq bigint"
    )
    merged = {r.token: r.freq for r in agg.dict_overlay(base, new).collect()}
    assert merged == {"a": 10, "b": 99, "c": 1}


def test_augmented_dictionary_scaling(spark):
    base = spark.createDataFrame(
        [("a", 100), ("b", 50)], "token string, freq bigint"
    )
    corpus = spark.createDataFrame(
        [("c", 3), ("d", 30000)], "token string, freq bigint"
    )
    out = {
        r.token: r.freq
        for r in agg.augmented_dictionary(base, corpus, 2, 10000).collect()
    }
    # ratio from top-50 sums BEFORE clamping (correct_ocr.py:274-277):
    # 150/30003; d outside [2,10000] → dropped; c → ceil(3*150/30003) = 1
    assert out == {"a": 100, "b": 50, "c": 1}


def test_confusion_and_prf(spark):
    df = spark.createDataFrame(
        [
            ("x", "y", "x"),   # TruePos
            ("x", "y", "y"),   # FalseNegMiss
            ("x", "y", "z"),   # FalseNegWrong
            ("x", "x", "q"),   # FalsePos
            ("x", "x", "x"),   # TrueNeg
        ],
        "token string, base_ocrtok string, corr_ocrtok string",
    )
    cat = agg.confusion_categories(df)
    counts = {r.finecategory for r in cat.collect()}
    assert counts == {
        "TruePos", "FalseNegMiss", "FalseNegWrong", "FalsePos", "TrueNeg"
    }
    prf = agg.precision_recall_f1(cat).collect()[0]
    assert prf.tp == 1 and prf.fp == 1 and prf.fn == 2
    assert math.isclose(prf.precision, 0.5)
    assert math.isclose(prf.recall, 1 / 3)


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, "the quick brown fox jumps over a lazy dog"),  # near dup
        (3, "completely different words entirely here now yes"),
        (4, "og det var en stor dag i det gamle hus ikke sandt"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark):
    out = {r.doc_id: r.n_dups for r in exact_dedup(_docs(spark)).collect()}
    assert out[0] == 2 and 1 not in out


def test_ngram_jaccard(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), threshold=0.9).collect()
    assert ("0-1") == f"{pairs[0].id_a}-{pairs[0].id_b}"
    assert pairs[0].jaccard == 1.0


def test_minhash_lsh_agrees_with_jaccard(spark):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            _docs(spark), threshold=0.9, num_hashes=32, bands=8
        ).collect()
    }
    assert (0, 1) in got  # exact dup always found
    assert (0, 3) not in got and (0, 4) not in got


def test_simhash_pairs(spark):
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(_docs(spark), max_hamming=3).collect()
    }
    assert got[(0, 1)] == 0
    assert (0, 3) not in got


def test_minhash_exact_verify_matches_plain_jaccard(spark):
    """verify='exact' must reproduce the from-scratch inverted-index
    Jaccard join (candidate recall is 1 for exact dups)."""
    got = {
        (r.id_a, r.id_b): (r.inter, r.size_a, r.size_b)
        for r in minhash_lsh_pairs(
            _docs(spark), threshold=0.9, num_hashes=32, bands=16,
            verify="exact",
        ).collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.9).collect()
    }
    assert set(got) == want
    inter, sa, sb = got[(0, 1)]
    assert inter == sa == sb  # identical shingle sets


def test_cap_shingle_df_prunes_hot_shingle(spark):
    """A shingle present in every doc is dropped at max_df=2; rare
    shingles survive, and near-dup pairs on rare shingles still meet."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        cap_shingle_df,
        shingle_table,
    )

    rows = [
        (0, "zzz abcdefgh"),
        (1, "zzz abcdefgh"),
        (2, "zzz qrstuvwx"),
        (3, "zzz mnoplkji"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = shingle_table(docs, n=3)
    capped = cap_shingle_df(sh, max_df=2)
    left = {r.shingle for r in capped.select("shingle").distinct().collect()}
    assert "zzz" not in left  # hot shingle (df=4) pruned
    assert "abc" in left  # rare shingle (df=2) kept
    # the capped inverted-index join still finds the 0-1 near-dup pair
    pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.9, max_df=2
        ).collect()
    }
    assert (0, 1) in pairs and (2, 3) not in pairs


def test_filter_discarded_gate(spark):
    from memo_fraktur_ocr_code_spark.operators.filters import (
        filter_discarded,
    )

    data = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)], "conv_id string, x int"
    )
    meta = spark.createDataFrame(
        [
            ("a", True, False),
            ("b", False, True),
            ("c", False, False),
            ("e", True, True),  # flagged but absent from data
        ],
        "name string, discard boolean, quarantine boolean",
    )
    kept = sorted(
        r.conv_id for r in filter_discarded(data, meta).collect()
    )
    assert kept == ["c", "d"]  # d has no metadata row → kept


def _embs(spark):
    rows = []
    for i in range(20):
        base = [1.0 if d == i % 4 else 0.0 for d in range(8)]
        rows.append((i, [v + 0.01 * i for v in base]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_topk_self_nearest(spark):
    emb = _embs(spark)
    out = cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=3)
    rows = out.collect()
    assert rows[0].neighbor_id == 0 and rows[0].rank == 1
    # next neighbors share the same dominant dimension (id % 4 == 0)
    assert all(r.neighbor_id % 4 == 0 for r in rows)


def test_srp_lsh_subset_of_exact_space(spark):
    emb = _embs(spark)
    q = emb.where(F.col("vec_id") == 0)
    out = sorted(
        srp_lsh_topk(emb, q, dim=8, k=3, bits=4).collect(),
        key=lambda r: r.rank,
    )
    assert len(out) >= 1
    assert out[0].rank == 1
    assert out[0].neighbor_id == 0  # identical vector shares every bucket
    # the property in the name: ANN results are a SUBSET of the exact
    # brute-force ranking's candidate space, in consistent score order
    exact = {
        r.neighbor_id: r.rank
        for r in cosine_topk(emb, q, k=emb.count()).collect()
    }
    assert all(r.neighbor_id in exact for r in out)
    exact_order = [exact[r.neighbor_id] for r in out]
    assert exact_order == sorted(exact_order)


def test_textstats(spark):
    d = spark.createDataFrame(
        [(0, "the quick fox is here"), (1, "og det var en stor dag i det")],
        "doc_id bigint, text string",
    )
    li = {r.doc_id: r.lang_pred for r in lang_id(d).collect()}
    assert li[0] == "en" and li[1] == "da"
    q = {r.doc_id: r for r in quality_score(d).collect()}
    assert q[0].n_tokens == 5 and q[0].n_digit == 0
    tc = {r.doc_id: r for r in token_counts(d).collect()}
    assert tc[0].ws_tokens == 5 and tc[0].bpe_tokens == 5
    fp = {r.doc_id: r.fp_md5 for r in fingerprint(d).collect()}
    assert len(fp[0]) == 32 and fp[0] != fp[1]


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"abc"), 2, 2, 0, "raw"),
            (2, "audio", bytearray(b"xyz"), 0, 0, 2500, "pcm"),
        ],
        "media_id bigint, kind string, payload binary, width int, "
        "height int, duration_ms int, codec string",
    )
    feats = {r.media_id: r for r in extract_features(media, dim=4).collect()}
    assert len(feats[1].feat) == 4 and feats[1].note == "stub"
    # determinism
    feats2 = {r.media_id: r for r in extract_features(media, dim=4).collect()}
    assert feats[1].feat == feats2[1].feat
    frames = frame_sample_plan(media, every_ms=1000).collect()
    ts = sorted(r.frame_ts_ms for r in frames if r.media_id == 2)
    assert ts == [0, 1000, 2000]
    # resize keeps MEDIA_SCHEMA, updates dims, re-derives payload
    from memo_fraktur_ocr_code_spark.operators.multimodal import resize_media

    resized = {r.media_id: r for r in resize_media(media, 8, 8).collect()}
    assert (resized[1].width, resized[1].height) == (8, 8)
    assert resized[1].payload != bytes(b"abc")  # stub re-digest
    assert resized[1].codec == "raw"  # metadata passthrough
    again = {r.media_id: r for r in resize_media(media, 8, 8).collect()}
    assert resized[1].payload == again[1].payload  # deterministic
    # composable: features over resized media still flow
    f = extract_features(resize_media(media, 8, 8), dim=4).collect()
    assert len(f) == 2


def test_embedding_cosine_dups_exact_and_lsh(spark):
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        embedding_cosine_dups,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [0.0, 0.0, 1.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_dups(emb, threshold=0.95).collect()
    }
    assert exact == {(0, 1)}
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_dups(
            emb, threshold=0.95, dim=4, bits=2
        ).collect()
    }
    # LSH candidates are a subset; identical-direction vectors share buckets
    assert lsh <= exact and (0, 1) in lsh


def test_asof_join_latest_row_wins_wholesale(spark):
    """Multi-column payload must come from ONE right row — the latest —
    even when that row has NULL fields: independent per-column carries
    built franken-rows mixing fields across right rows and resurrected
    values a NULL should shadow (ADVICE r3)."""
    import datetime as dt

    from memo_fraktur_ocr_code_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, "k", t0 + dt.timedelta(minutes=3))],
        "event_id bigint, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k", t0 + dt.timedelta(minutes=1), 1, 2),
            ("k", t0 + dt.timedelta(minutes=2), None, 3),
        ],
        "user_id string, ts timestamp, a bigint, b bigint",
    )
    row = asof_join(
        left, right, "user_id", "ts", "ts", ["a", "b"]
    ).collect()[0]
    # the latest right row is (NULL, 3): its NULL shadows the older a=1
    assert row.asof_a is None and row.asof_b == 3


def test_asof_join(spark):
    import datetime as dt

    from memo_fraktur_ocr_code_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, "u1", ts(10)), (2, "u1", ts(30)), (3, "u2", ts(5))],
        "event_id bigint, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", ts(8), 100), ("u1", ts(30), 200), ("u2", ts(9), 300)],
        "user_id string, ts timestamp, click_id bigint",
    )
    out = {
        r.event_id: r.asof_click_id
        for r in asof_join(
            left, right, "user_id", "ts", "ts", ["click_id"]
        ).collect()
    }
    assert out[1] == 100       # latest click before ts(10) is ts(8)
    assert out[2] == 200       # exactly-equal timestamp matches (<=)
    assert out[3] is None      # u2 has no click before ts(5)


def test_range_join_binned(spark):
    import datetime as dt

    from memo_fraktur_ocr_code_spark.operators.asof import range_join_binned

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    points = spark.createDataFrame(
        [("u1", ts(5), 1), ("u1", ts(65), 2), ("u1", ts(200), 3)],
        "user_id string, ts timestamp, click_id bigint",
    )
    intervals = spark.createDataFrame(
        [("u1", ts(0), ts(70), 10)],
        "user_id string, win_start timestamp, win_end timestamp,"
        " interval_id bigint",
    )
    out = range_join_binned(
        points, intervals, "user_id", "ts", "win_start", "win_end",
        bin_seconds=600,
    ).collect()
    got = {r.click_id for r in out}
    assert got == {1, 2}  # interval spans multiple bins; outside excluded


def test_ivf_topk_and_rolling_fingerprint(spark):
    from memo_fraktur_ocr_code_spark.operators.similarity import ivf_topk
    from memo_fraktur_ocr_code_spark.operators.textstats import (
        rolling_fingerprint,
    )

    emb = _embs(spark)
    out = ivf_topk(
        emb, emb.where(F.col("vec_id") == 0), k=3, n_lists=4, n_probe=2
    ).collect()
    assert out[0].neighbor_id == 0 and out[0].rank == 1

    d = spark.createDataFrame(
        [(0, "abc"), (1, "abd"), (2, "abc")], "doc_id bigint, text string"
    )
    fp = {r.doc_id: r.fp_roll for r in rolling_fingerprint(d).collect()}
    assert fp[0] == fp[2] and fp[0] != fp[1]
    # h('abc') = ((97*31)+98)*31+99 mod p
    assert fp[0] == ((97 * 31 + 98) * 31 + 99) % ((1 << 31) - 1)


def test_repetition_stats_gopher_filters(spark):
    """Hand-computed Gopher repetition measures on a planted document."""
    from memo_fraktur_ocr_code_spark.operators.textstats import (
        repetition_stats,
    )

    doc = "aa bb\naa bb\ncc dd ee"
    df = spark.createDataFrame([(1, doc)], "doc_id bigint, text string")
    r = repetition_stats(df).collect()[0]
    # 3 lines, 2 distinct -> 1/3 duplicated
    assert r.dup_line_bp == 3333
    # 5 of 18 line chars sit in the duplicate occurrence
    assert r.dup_line_char_bp == 2777
    # top 2-gram "aa bb" covers 2*5 of 20 text chars
    assert r.top2gram_char_bp == 5000
    # degenerate doc: single token, no lines duplicated, no 2-grams
    r2 = repetition_stats(
        spark.createDataFrame([(2, "solo")], "doc_id bigint, text string")
    ).collect()[0]
    assert (r2.dup_line_bp, r2.dup_line_char_bp, r2.top2gram_char_bp) == (
        0, 0, 0,
    )


def test_repetition_top2gram_ranks_by_count_not_coverage(spark):
    """Gopher §A1.1 says the MOST FREQUENT 2-gram (ADVICE r2): a longer
    but rarer gram must not outrank a shorter more-frequent one."""
    from memo_fraktur_ocr_code_spark.operators.textstats import (
        repetition_stats,
    )

    # "x y" appears twice (covered 2*3=6); "longword1 longword2" once
    # (covered 19) — cnt-ranking picks "x y", coverage-ranking would not
    doc = "x y x y longword1 longword2"
    r = repetition_stats(
        spark.createDataFrame([(1, doc)], "doc_id bigint, text string")
    ).collect()[0]
    assert r.top2gram_char_bp == 6 * 10000 // len(doc)


def test_minhash_prefilter_preserves_output_and_subset_bound(spark):
    """VERDICT r2 item 6 + ADVICE r2: the signature-estimate pre-filter
    must not change the verified output on the fixture, and the LSH
    output is a SUBSET of the from-scratch exact-Jaccard join (equality
    holds up to the documented recall bounds)."""
    with_pf = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            _docs(spark), threshold=0.9, num_hashes=32, bands=16,
            verify="exact", prefilter_margin=0.3,
        ).collect()
    }
    no_pf = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            _docs(spark), threshold=0.9, num_hashes=32, bands=16,
            verify="exact", prefilter_margin=None,
        ).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.9).collect()
    }
    assert with_pf == no_pf
    assert with_pf <= full  # never a false positive
    assert (0, 1) in with_pf  # exact dups always survive


def test_srp_multiband_recall_at_least_single_band(spark):
    """VERDICT r2 item 5: banding ORs candidates across bands, so
    multi-band recall vs the exact top-k is >= the single-bucket recall
    of the same total signature, and both contain the identical vector."""
    emb = _embs(spark)
    q = emb.where(F.col("vec_id") < 4)
    corpus = emb
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(corpus, q, k=3).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in srp_lsh_topk(corpus, q, dim=8, k=3, bits=8, bands=1).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in srp_lsh_topk(corpus, q, dim=8, k=3, bits=8, bands=4).collect()
    }
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi >= recall_single
    # every query finds itself (identical vector matches every band)
    for i in range(4):
        assert (i, i) in multi


def test_srp_signature_arrow_equals_catalyst_fold(spark):
    """The Arrow signature twin must reproduce the Catalyst fold BIT FOR
    BIT (same float64 operation order) — the DuckDB oracle mirrors the
    fold, so any drift here silently breaks every SRP oracle row.
    Checked on real fixture embeddings at the registry shape (64 dim,
    24 bits) and on a small synthetic shape."""
    import os

    from memo_fraktur_ocr_code_spark.operators.similarity import (
        _as_double_array,
        _srp_signature,
        _srp_signature_arrow,
    )

    emb = _embs(spark)
    both = emb.select(
        _srp_signature(_as_double_array("embedding"), 8, 8).alias("c"),
        _srp_signature_arrow(8, 8)(
            _as_double_array("embedding")
        ).alias("a"),
    )
    assert both.where(F.col("c") != F.col("a")).count() == 0
    # degenerate rows (code-review r4): NULL embedding folds to sig 0
    # in Catalyst (every `when` misses) and a NaN component SETS its
    # bits (Spark NaN > anything); the Arrow twin must agree on both
    degen = spark.createDataFrame(
        [
            (1, [float("nan"), 1.0]),
            (2, None),
            (3, [0.5, -0.5]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = degen.orderBy("vec_id").select(
        _srp_signature(_as_double_array("embedding"), 2, 4).alias("c"),
        _srp_signature_arrow(2, 4)(
            _as_double_array("embedding")
        ).alias("a"),
    ).collect()
    assert [(r.c, r.a) for r in rows] == [(15, 15), (0, 0), (6, 6)]
    sf = "/root/testdata/sf0.001"
    if os.path.isdir(sf):
        full = spark.read.parquet(f"{sf}/embeddings.parquet")
        both = full.select(
            _srp_signature(_as_double_array("embedding"), 64, 24).alias(
                "c"
            ),
            _srp_signature_arrow(64, 24)(
                _as_double_array("embedding")
            ).alias("a"),
        )
        assert both.where(F.col("c") != F.col("a")).count() == 0


def _argmax_assign_catalyst(points, cents, id_name):
    """Nearest-centroid assignment ``(id, vv, list_id)`` as ONE
    map-side-combined ``max(struct)`` aggregation (r5): every scored
    row of a point sits in its own input partition after the broadcast
    cross join, so the partial aggregation completes the argmax before
    the exchange and the shuffle moves exactly one reduced row per
    point — a ``row_number`` window here would shuffle AND sort the
    full corpus × n_lists expansion (the 100 TB scale-killer class).

    Tie-break is the historical window's verbatim: highest ``c_sim``,
    then highest ``-list_id`` = SMALLEST (numeric) list id.  ``vv``
    rides as a trailing struct field the comparison never reaches,
    because ``(c_sim, -list_id)`` is already a total order (list ids
    are unique).  NaN ``c_sim`` (zero-norm vector) wins the max — the
    same placement as the window's ``DESC`` ordering and the DuckDB
    oracle's, so cross-engine parity holds even on pathological
    inputs."""
    scored = points.crossJoin(F.broadcast(cents)).select(
        F.col(id_name),
        F.struct(
            (
                _dot(F.col("vv"), F.col("cv"))
                / (_norm(F.col("vv")) * _norm(F.col("cv")))
            ).alias("c_sim"),
            (-F.col("list_id")).alias("_neg_list"),
            F.col("vv").alias("vv"),
        ).alias("_s"),
    )
    return (
        scored.groupBy(id_name)
        .agg(F.max("_s").alias("_b"))
        .select(
            F.col(id_name),
            F.col("_b.vv").alias("vv"),
            (-F.col("_b._neg_list")).alias("list_id"),
        )
    )

def test_argmax_assign_arrow_equals_catalyst(spark):
    """The r7 Arrow argmax kernel must reproduce the Catalyst
    ``max(struct(c_sim, -list_id))`` path BIT FOR BIT — assignments AND
    c_sim values — on real fixture embeddings and on degenerate rows
    (NULL vector → smallest list_id with NULL c_sim; zero-norm vector →
    NaN c_sim wins the max; NaN component propagates)."""
    import os

    from memo_fraktur_ocr_code_spark.operators.similarity import (
        _argmax_assign_kernel,
        _as_double_array,
    )

    def both_ways(vecs, cents):
        cat = {
            r["id"]: r["list_id"]
            for r in _argmax_assign_catalyst(
                vecs.select(
                    F.col("vec_id").alias("id"),
                    _as_double_array("embedding").alias("vv"),
                ),
                cents,
                "id",
            ).collect()
        }
        kern = _argmax_assign_kernel(
            cents.select("list_id", "cv").collect()
        )
        arr = {
            r["id"]: (r["a"]["list_id"], r["a"]["c_sim"])
            for r in vecs.select(
                F.col("vec_id").alias("id"),
                kern(_as_double_array("embedding")).alias("a"),
            ).collect()
        }
        return cat, arr

    emb = _embs(spark)
    cents = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("list_id"),
        _as_double_array("embedding").alias("cv"),
    )
    cat, arr = both_ways(emb, cents)
    assert {k: v[0] for k, v in arr.items()} == cat
    # degenerate rows: NULL vector and NaN component.  (A zero-norm
    # vector is NOT comparable: under Spark 4 ANSI the Catalyst twin
    # raises DIVIDE_BY_ZERO on the 0.0 divisor, while the kernel
    # yields NaN — the kernel strictly extends the domain.)
    degen = spark.createDataFrame(
        [
            (100, None),
            (102, [float("nan")] + [0.0] * 7),
            (103, [1.0] + [0.0] * 7),
        ],
        "vec_id bigint, embedding array<double>",
    )
    cat, arr = both_ways(degen, cents)
    assert {k: v[0] for k, v in arr.items()} == cat
    # NULL vector carries NULL c_sim through the kernel too
    assert arr[100][1] is None
    sf = "/root/testdata/sf0.001"
    if os.path.isdir(sf):
        full = spark.read.parquet(f"{sf}/embeddings.parquet")
        cents64 = full.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("list_id"),
            _as_double_array("embedding").alias("cv"),
        )
        cat, arr = both_ways(full, cents64)
        assert {k: v[0] for k, v in arr.items()} == cat


def test_pair_dot_arrow_equals_catalyst_fold(spark):
    """The r7 Arrow pair-dot must equal the Catalyst ``_dot`` fold BIT
    FOR BIT on every fixture pair (the oracle mirrors the fold); a NULL
    side returns NULL like the fold."""
    from memo_fraktur_ocr_code_spark.operators.similarity import (
        _as_double_array,
        _pair_dot,
    )

    emb = _embs(spark).select(
        "vec_id", _as_double_array("embedding").alias("v")
    )
    a = emb.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    pairs = a.crossJoin(b)
    bad = pairs.select(
        _dot(F.col("va"), F.col("vb")).alias("c"),
        _pair_dot(F.col("va"), F.col("vb")).alias("p"),
    ).where(~F.col("c").eqNullSafe(F.col("p")))
    assert bad.count() == 0
    degen = spark.createDataFrame(
        [(None, [1.0, 2.0]), ([1.0, 2.0], None), ([1.5, -2.0], [2.0, 4.0])],
        "va array<double>, vb array<double>",
    )
    rows = degen.select(
        _dot(F.col("va"), F.col("vb")).alias("c"),
        _pair_dot(F.col("va"), F.col("vb")).alias("p"),
    ).collect()
    for r in rows:
        assert r.c == r.p or (r.c is None and r.p is None)


def _assign_codes_catalyst(subs, codebook):
    """Nearest-centroid code per (id, sub): broadcast the ``m × ks``
    codebook, score every (subvector, centroid) pair, and fold the
    argmin with ONE map-side-combined ``max(struct)`` aggregation —
    the partial aggregation finishes the argmin before the exchange,
    so exactly one reduced row per (vector, subspace) shuffles.
    The engine-portable SPEC for :func:`_assign_codes`' Arrow kernel
    (and the shape the DuckDB oracle mirrors).

    Tie-break: lowest distance, then lowest code (``max`` of
    ``(-dist, -code)``) — mirrored by the oracle's
    ``ORDER BY dist ASC, code ASC`` row_number."""
    scored = subs.join(F.broadcast(codebook), "sub").select(
        "id",
        "sub",
        F.struct(
            (-_l2sq(F.col("sv"), F.col("cv"))).alias("nd"),
            (-F.col("code")).alias("nc"),
            F.col("sv").alias("sv"),
        ).alias("_s"),
    )
    return (
        scored.groupBy("id", "sub")
        .agg(F.max("_s").alias("_b"))
        .select(
            "id",
            "sub",
            (-F.col("_b.nc")).alias("code"),
            F.col("_b.sv").alias("sv"),
        )
    )


def test_assign_codes_arrow_equals_catalyst(spark):
    """The r7 Arrow PQ argmin kernel must reproduce the Catalyst
    ``max(struct(-dist, -code))`` assignment exactly on fixture
    subvectors, including the smallest-code tie-break and NULL
    subvector fall-through."""
    from memo_fraktur_ocr_code_spark.operators.pq import (
        _assign_codes,
        _subvectors,
    )
    from memo_fraktur_ocr_code_spark.operators.similarity import (
        _as_double_array,
    )

    v = _embs(spark).select(
        F.col("vec_id").alias("id"),
        _as_double_array("embedding").alias("vv"),
    )
    subs = _subvectors(v, 4, 2)
    cb = _subvectors(v.orderBy("id").limit(3), 4, 2).select(
        "sub", F.col("id").alias("code"), F.col("sv").alias("cv")
    ).localCheckpoint(eager=True)
    cat = {
        (r["id"], r["sub"]): r["code"]
        for r in _assign_codes_catalyst(subs, cb).collect()
    }
    arr = {
        (r["id"], r["sub"]): r["code"]
        for r in _assign_codes(subs, cb).collect()
    }
    assert arr == cat
    # NULL subvector → smallest code (the struct max falls to -code)
    nulls = spark.createDataFrame(
        [(99, 0, None), (99, 1, None)],
        "id bigint, sub int, sv array<double>",
    )
    got = {
        (r["id"], r["sub"]): r["code"]
        for r in _assign_codes(nulls, cb).collect()
    }
    want = {
        (r["id"], r["sub"]): r["code"]
        for r in _assign_codes_catalyst(nulls, cb).collect()
    }
    assert got == want


def test_srp_hamming_prune_preserves_output(spark):
    """r4 claw-back: the full-signature hamming pre-prune must (a) be a
    provable no-op at threshold >= bits - band_bits (a band match
    guarantees that many agreeing bits), and (b) preserve the registry
    configuration's output at its shipped threshold on real fixture
    embeddings — the minhash-prefilter contract."""
    emb = _embs(spark)
    q = emb.where(F.col("vec_id") < 4)

    def run(**kw):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in srp_lsh_topk(
                emb, q, dim=8, k=3, bits=8, bands=4, **kw
            ).collect()
        )

    base = run()
    assert run(hamming_max=8 - 2) == base  # bits - band_bits: provable
    # a tight prune on near-uniform vectors DOES change output (this is
    # why the registry query ships with the prune OFF: a threshold sweep
    # found no preserving threshold <= 14 of 24 bits on the synthetic
    # fixture embeddings) — pin that the knob actually prunes
    assert run(hamming_max=0) != base


def test_embedding_cosine_dups_multiband(spark):
    """bands>1 on the dedup SRP path: multi-band candidates are a
    superset of single-band, still subset of exact, duplicates collapse."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        embedding_cosine_dups,
    )

    emb = _embs(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_dups(emb, threshold=0.9).collect()
    }
    single = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_dups(
            emb, threshold=0.9, dim=8, bits=8, bands=1
        ).collect()
    }
    multi_rows = embedding_cosine_dups(
        emb, threshold=0.9, dim=8, bits=8, bands=4
    ).collect()
    multi = {(r.id_a, r.id_b) for r in multi_rows}
    assert single <= multi <= exact
    assert len(multi_rows) == len(multi)  # band duplicates collapsed


def test_connected_components_clusters_chained_dups(spark):
    """pairs → components: chained near-dups (A~B, B~C, A!~C) land in ONE
    cluster with the smallest id canonical; singletons keep themselves."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a bigint, id_b bigint"
    )
    verts = spark.createDataFrame([(i,) for i in range(8)], "id bigint")
    got = {
        r.id: r.cluster_id
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
    # longer chain exercises multi-round convergence (diameter 4)
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a bigint, id_b bigint"
    )
    got2 = {
        r.id: r.cluster_id for r in connected_components(chain).collect()
    }
    assert set(got2.values()) == {1}


def test_kmeans_centroids_deterministic_fixed_point(spark):
    """Trained IVF codebook: engine-portable determinism — identical
    across runs, every component an exact 1e-6 fixed-point multiple,
    and an empty list keeps its previous centroid."""
    from memo_fraktur_ocr_code_spark.operators.similarity import (
        kmeans_centroids,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [-1.0, 0.05, 0.0]),
        (10, [0.9, 0.1, 0.0]),
        (11, [0.95, -0.05, 0.0]),
        (12, [0.88, 0.12, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    a = {
        r.list_id: list(r.cv)
        for r in kmeans_centroids(df, dim=3, n_lists=2, iters=2).collect()
    }
    b = {
        r.list_id: list(r.cv)
        for r in kmeans_centroids(df, dim=3, n_lists=2, iters=2).collect()
    }
    assert a == b  # deterministic across runs
    assert set(a) == {0, 1}  # init ids double as list ids
    for cv in a.values():
        for x in cv:
            assert abs(x * 1e6 - round(x * 1e6)) < 1e-9  # exact 1e-6 grid
    # every corpus vector points roughly at +x except vec 1: list 0
    # attracts the mass, list 1 keeps exactly its own member
    assert a[1] == [-1.0, 0.05, 0.0]
    # list 0's centroid moved to the floor-quantized mean of its members
    members = [rows[0][1], rows[2][1], rows[3][1], rows[4][1]]
    import math

    want0 = [
        math.floor(
            sum(math.floor(m[d] * 1e6) for m in members) / len(members)
        )
        / 1e6
        for d in range(3)
    ]
    assert a[0] == want0


def test_connected_components_nonconvergence_is_loud(spark):
    """Exhausting max_iter with the edge set still contracting must
    raise, never return partially-contracted (cluster-splitting) labels;
    checkpoint storage is released as rounds supersede each other."""
    import pytest as _pytest

    from memo_fraktur_ocr_code_spark.operators.dedup import (
        connected_components,
    )

    # a 256-node chain cannot reach one star in a single pair-round
    # (small_graph_edges=0 pins the distributed star path — the driver
    # fast path would solve any small graph without iterating)
    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], "id_a bigint, id_b bigint"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            long_chain, max_iter=1, check_every=1, small_graph_edges=0
        )
    # a converging run leaves at most the returned labels + epsilon
    # persisted (superseded rounds are released eagerly, not GC-deferred)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a bigint, id_b bigint"
    )
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    connected_components(chain, small_graph_edges=0).count()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after - before <= 2


def test_connected_components_deep_chain_logarithmic_rounds(spark):
    """Diameter-heavy graph (VERDICT r3): a 10^3-node chain — diameter
    999, which label propagation needed ~999 rounds for — must converge
    within the logarithmic budget of the large-star/small-star rounds
    and label every node with the component minimum."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        connected_components,
    )

    n = 1000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    # ~log2(1000) ≈ 10 pair-rounds; 16 is a hard logarithmic budget and
    # two orders of magnitude below the diameter
    # (small_graph_edges=0 pins the star path under test)
    labels = connected_components(
        chain, max_iter=16, small_graph_edges=0
    ).collect()
    assert len(labels) == n
    assert {r.cluster_id for r in labels} == {0}


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Randomized (seeded) graphs: the distributed min-label propagation
    must equal a plain union-find computed driver-side."""
    import random

    from memo_fraktur_ocr_code_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(25 + trial * 10)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        for v in range(n):
            r = find(v)
            want[v] = min(u for u in range(n) if find(u) == r)
        edf = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        vdf = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
        # both execution paths must equal the reference union-find:
        # small_graph_edges=0 pins the distributed star rounds, the
        # large threshold pins the r7 driver fast path
        for thresh in (0, 1_000_000):
            got = {
                r.id: r.cluster_id
                for r in connected_components(
                    edf, vertices=vdf, small_graph_edges=thresh
                ).collect()
            }
            assert got == want, f"trial {trial} thresh {thresh}"


def test_connected_components_pair_round_budget_is_exact(spark):
    """max_iter is a hard budget: when the inner span loop exhausts it,
    the cadence pair is SKIPPED and convergence is checked between the
    last two in-budget states — previously up to max_iter+1 pair-rounds
    ran and the error message undercounted the work (ADVICE r4).

    A triangle star-ifies in exactly one pair-round, but detecting the
    fixed point takes a second (comparison) pair: max_iter=1 must now
    raise (only one pair may run; initial vs after-1 differ), while
    max_iter=2 converges."""
    import pytest as _pytest

    from memo_fraktur_ocr_code_spark.operators.dedup import (
        connected_components,
    )

    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "id_a bigint, id_b bigint"
    )
    # small_graph_edges=0 pins the star path whose budget is under test
    with _pytest.raises(RuntimeError, match="did not converge in 1"):
        connected_components(
            tri, max_iter=1, check_every=4, small_graph_edges=0
        )
    labels = {
        r.id: r.cluster_id
        for r in connected_components(
            tri, max_iter=2, check_every=4, small_graph_edges=0
        ).collect()
    }
    assert labels == {0: 0, 1: 0, 2: 0}


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


_LONG_A = (
    "the quick brown fox jumps over the lazy dog while the spark "
    "executor shuffles partitions across the cluster network fabric "
    "and the catalyst optimizer prunes every unused column away"
)
_LONG_B = (
    "completely different content about iceberg table formats and "
    "manifest files tracking snapshots for atomic commits across "
    "petabyte scale object storage with hidden partitioning"
)
_LONG_C = (
    "training data curation requires deduplication quality filtering "
    "language identification and careful benchmark decontamination "
    "before any tokens ever reach the model optimizer loop"
)
_LONG_D = (
    "streaming watermarks bound the state store while late events "
    "get folded into their windows until the watermark passes and "
    "the aggregate finally emits downstream to the sink"
)


def test_incremental_minhash_dedup_two_delta_growth(spark):
    """The delta-LSH merge-on-read story across TWO deltas: batch docs
    near-dup of the established corpus drop via the index join; a
    batch-internal near-dup is dominated by its smaller sibling; the
    kept docs' band rows are appended (merge_band_delta) and the NEXT
    delta's near-dup of a previously-kept doc drops through the updated
    index — no established signature ever recomputed."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_band_table,
        merge_band_delta,
    )

    kw = dict(n=12, num_hashes=32, bands=16, threshold=0.7)
    near_a = _LONG_A.replace("lazy dog", "lazy cat")
    near_c = _LONG_C.replace("careful", "casual")
    near_c2 = _LONG_C.replace("quality", "qualitee")

    existing = _mk_docs(spark, [(0, _LONG_A), (1, _LONG_B)])
    idx = lsh_band_table(existing, **{k: kw[k] for k in ("n", "num_hashes", "bands")})

    batch1 = _mk_docs(
        spark, [(10, near_a), (11, _LONG_C), (12, near_c)]
    )
    v1 = {
        r.doc_id: (r.n_existing_dups, r.n_batch_prior_dups, r.keep)
        for r in incremental_minhash_dedup(
            existing, idx, batch1, **kw
        ).collect()
    }
    assert v1[10][0] >= 1 and v1[10][2] == 0  # dup of existing 0
    assert v1[11] == (0, 0, 1)  # novel -> kept
    assert v1[12][1] >= 1 and v1[12][2] == 0  # dominated by 11

    # append kept band rows; existing corpus grows by the kept docs
    bands1 = lsh_band_table(
        batch1, **{k: kw[k] for k in ("n", "num_hashes", "bands")}
    )
    kept1 = _mk_docs(spark, [(11, _LONG_C)]).select(
        F.col("doc_id").alias("id")
    )
    idx2 = merge_band_delta(idx, bands1, kept1)
    existing2 = existing.unionByName(_mk_docs(spark, [(11, _LONG_C)]))

    batch2 = _mk_docs(spark, [(20, near_c2), (21, _LONG_D)])
    v2 = {
        r.doc_id: (r.n_existing_dups, r.n_batch_prior_dups, r.keep)
        for r in incremental_minhash_dedup(
            existing2, idx2, batch2, **kw
        ).collect()
    }
    # 20 matches doc 11 ONLY through the appended delta band rows
    assert v2[20][0] >= 1 and v2[20][2] == 0
    assert v2[21] == (0, 0, 1)


def test_band_index_candidate_join_is_shuffle_free_over_buckets(
    spark, tmp_path
):
    """The production layout contract: with the established index AND
    the batch band rows persisted as (band, bucket)-bucketed tables,
    the candidate equi-join satisfies both sides' distribution straight
    off the scan — zero Exchange in the join plan."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        lsh_band_table,
    )

    existing = _mk_docs(spark, [(0, _LONG_A), (1, _LONG_B)])
    batch = _mk_docs(spark, [(10, _LONG_C), (11, _LONG_D)])
    kw = dict(n=12, num_hashes=32, bands=16)
    spark.sql("DROP TABLE IF EXISTS t_band_idx")
    spark.sql("DROP TABLE IF EXISTS t_band_batch")
    try:
        for tbl, df in (
            ("t_band_idx", lsh_band_table(existing, **kw)),
            ("t_band_batch", lsh_band_table(batch, **kw)),
        ):
            (
                df.write.format("parquet")
                .mode("overwrite")
                .bucketBy(8, "band", "bucket")
                .sortBy("band", "bucket")
                .option("path", str(tmp_path / tbl))
                .saveAsTable(tbl)
            )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_band_batch").join(
                spark.table("t_band_idx"), ["band", "bucket"]
            )
            plan = (
                joined._jdf.queryExecution().executedPlan().toString()
            )
            assert "Exchange hashpartitioning" not in plan, plan
            # sanity: same join over plain (bucket-spec-less) reads DOES
            # shuffle — the elision comes from the layout, not the data
            raw = spark.read.parquet(str(tmp_path / "t_band_batch")).join(
                spark.read.parquet(str(tmp_path / "t_band_idx")),
                ["band", "bucket"],
            )
            raw_plan = (
                raw._jdf.queryExecution().executedPlan().toString()
            )
            assert "Exchange hashpartitioning" in raw_plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_band_idx")
        spark.sql("DROP TABLE IF EXISTS t_band_batch")


def test_substring_span_stats_edges(spark):
    """Constructed corpus pinning every substring_span_stats contract:
    overlapping windows merge (repeated 6-token run with span_len=4 →
    3 windows, 6 covered tokens), the canonical occurrence is exempt,
    internal same-doc repetition counts, and NULL/short docs survive
    with zeros (keep-everything)."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        substring_span_stats,
    )

    para = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (1, "intro one two three " + para),          # canonical owner
        (2, "other words entirely " + para),          # 3 dup windows
        (3, para + " tail " + para),                  # 2nd copy internal dup
        (4, "too short"),                             # < span_len tokens
        (5, None),                                    # NULL text
        (6, ""),                                      # empty text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in substring_span_stats(df, span_len=4).collect()
    }
    assert len(out) == 6
    # doc 1 holds the lexicographically smallest occurrence: 0 dups
    assert out[1]["n_dup_spans"] == 0 and out[1]["dup_tokens"] == 0
    # doc 2: windows at 3 consecutive starts merge to the 6-token run
    assert out[2]["n_dup_spans"] == 3
    assert out[2]["dup_tokens"] == 6
    assert out[2]["dup_bp"] == (10000 * 6) // out[2]["n_tokens"]
    # doc 3: its FIRST para copy also duplicates doc 1's canonical, and
    # the second copy duplicates again — 6 dup windows, two merged runs
    assert out[3]["n_dup_spans"] == 6
    assert out[3]["dup_tokens"] == 12
    # degenerate docs: present, all-zero
    for d in (4, 5, 6):
        assert out[d]["n_dup_spans"] == 0
        assert out[d]["dup_tokens"] == 0
        assert out[d]["dup_bp"] == 0
    assert out[5]["n_tokens"] == 0 and out[6]["n_tokens"] == 0


def test_substring_span_stats_stride(spark):
    """stride=span_len gives disjoint windows: a doc that fully repeats
    another is still fully covered, and the span table shrinks by the
    stride factor (scale knob)."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        substring_span_stats,
    )

    text = "a b c d e f g h"  # 8 tokens, two disjoint 4-windows
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in substring_span_stats(df, span_len=4, stride=4).collect()
    }
    assert out[1]["n_dup_spans"] == 0
    assert out[2]["n_dup_spans"] == 2
    assert out[2]["dup_tokens"] == 8
    assert out[2]["dup_bp"] == 10000


def test_pq_train_encode_adc(spark):
    """PQ on a corpus of ks exact prototypes (components are multiples
    of 1/8 — exact in binary AND under 1e-6 floor quantization):
    training must converge each subspace codebook onto the prototype
    subvectors, every copy must encode to its prototype's codes, and an
    ADC query equal to a prototype must return its copies at integer
    distance 0 ahead of everything else."""
    from memo_fraktur_ocr_code_spark.operators import pq

    dim, m = 8, 2
    protos = {
        10: [0.0] * 4 + [1.0] * 4,
        11: [0.5] * 4 + [0.25] * 4,
        12: [1.0] * 4 + [0.0] * 4,
        13: [0.25] * 4 + [0.75] * 4,
    }
    rows = [(vid, vec) for vid, vec in protos.items()]
    # three extra exact copies of prototype 11 under new ids
    rows += [(20 + i, protos[11]) for i in range(3)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cb = pq.pq_train(corpus, dim=dim, m=m, ks=4, iters=2)
    cb_rows = {(r["sub"], r["code"]): r["cv"] for r in cb.collect()}
    assert len(cb_rows) == 8  # m * ks
    # seeds are the 4 smallest ids = the prototypes themselves; means of
    # identical members reproduce them exactly
    for vid, vec in protos.items():
        assert cb_rows[(0, vid)] == vec[:4]
        assert cb_rows[(1, vid)] == vec[4:]
    codes = pq.pq_encode(corpus, cb, dim=dim, m=m)
    by_id = {
        (r["id"], r["sub"]): r["code"] for r in codes.collect()
    }
    for i in range(3):  # every copy carries prototype 11's codes
        assert by_id[(20 + i, 0)] == by_id[(11, 0)]
        assert by_id[(20 + i, 1)] == by_id[(11, 1)]
    queries = spark.createDataFrame(
        [(1, protos[11])], "vec_id long, embedding array<double>"
    )
    top = pq.pq_adc_topk(
        queries, cb, codes, dim=dim, m=m, k=4
    ).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in top] == [11, 20, 21, 22]
    assert all(r["dist_u"] == 0 for r in top)


def test_ivfpq_full_probe_equals_exhaustive_adc(spark):
    """With n_probe = n_lists, IVF-PQ search must return EXACTLY the
    exhaustive ADC answer (same neighbors, same integer distances, same
    ranks) — the probe restriction is the only approximation IVF adds
    on top of PQ, so widening it to every list must cancel it.  Also
    pins that a restricted probe returns a subset of the exhaustive
    candidates per query."""
    import random

    from memo_fraktur_ocr_code_spark.operators import pq

    rng = random.Random(7)
    dim, m, ks, n_lists = 8, 2, 4, 4
    # components are multiples of 1/8: exact in binary and under the
    # 1e-6 floor quantization both engines of the repo use
    rows = [
        (vid, [rng.randrange(0, 9) / 8.0 for _ in range(dim)])
        for vid in range(10, 40)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(1, rows[3][1]), (2, rows[17][1])],
        "vec_id long, embedding array<double>",
    )
    cents, cb, lists = pq.ivfpq_index(
        corpus, dim=dim, m=m, ks=ks, n_lists=n_lists,
        coarse_iters=2, pq_iters=2,
    )
    codes = lists.select("id", "sub", "code")
    exhaustive = pq.pq_adc_topk(
        queries, cb, codes, dim=dim, m=m, k=5
    )
    full_probe = pq.ivfpq_topk(
        queries, cents, cb, lists, dim=dim, m=m, k=5, n_probe=n_lists
    )
    key = lambda r: (r["query_id"], r["rank"])
    exp = sorted((r.asDict() for r in exhaustive.collect()), key=key)
    got = sorted((r.asDict() for r in full_probe.collect()), key=key)
    assert got == exp and len(got) == 10
    # narrow probe: still k rows per query, every hit drawn from the
    # exhaustive candidate pool at a distance >= the exhaustive rank-1
    narrow = pq.ivfpq_topk(
        queries, cents, cb, lists, dim=dim, m=m, k=5, n_probe=1
    ).collect()
    assert len(narrow) == 10
    best = {r["query_id"]: r["dist_u"] for r in exp if r["rank"] == 1}
    for r in narrow:
        assert r["dist_u"] >= best[r["query_id"]]


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup — cluster-then-dedup, r5 session 2)
# ---------------------------------------------------------------------------


def _semdedup(spark, vecs, cents, thr=950000):
    from memo_fraktur_ocr_code_spark.operators.dedup import semantic_dedup

    v = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    c = spark.createDataFrame(cents, "list_id long, cv array<double>")
    return {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup(v, c, threshold_e6=thr).collect()
    }


def test_semantic_dedup_keeps_least_prototypical(spark):
    """Two vectors close to each other in cluster 0: the one MORE
    similar to the centroid loses (the paper keeps the least
    prototypical member); a lone cluster-1 vector is untouched."""
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    vecs = [
        (10, [1.0, 0.0, 0.0]),      # prototypical in c0 (c_sim = 1)
        (11, [0.9, 0.1, 0.0]),      # near-dup of 10, lower c_sim
        (12, [0.0, 1.0, 0.0]),      # alone in c1
    ]
    out = _semdedup(spark, vecs, cents)
    assert out[10]["list_id"] == 0 and out[11]["list_id"] == 0
    assert out[12] == {"vec_id": 12, "list_id": 1, "c_sim_e6": 1000000,
                       "n_close": 0, "keep": 1}
    assert (out[10]["n_close"], out[11]["n_close"]) == (1, 1)
    assert out[10]["keep"] == 0      # higher c_sim -> loser
    assert out[11]["keep"] == 1


def test_semantic_dedup_chain_and_tie(spark):
    """A~B and B~C but A!~C: pairwise dominance removes every pair
    loser (keeps only the least-prototypical end of the chain); exact
    duplicates tie on c_sim_e6 and eliminate the LARGER id."""
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.9, 0.3, 0.0, 0.0]
    c = [0.7, 0.55, 0.0, 0.0]
    out = _semdedup(spark, [(1, a), (2, b), (3, c)], cents, thr=940000)
    # cos(a,b)=0.9487.. >= .94, cos(b,c)=0.9575.. >= .94, cos(a,c)=0.786
    assert (out[1]["n_close"], out[2]["n_close"], out[3]["n_close"]) \
        == (1, 2, 1)
    # losers: pair(1,2) -> 1 (higher c_sim); pair(2,3) -> 2
    assert (out[1]["keep"], out[2]["keep"], out[3]["keep"]) == (0, 0, 1)
    # exact duplicates: same c_sim_e6, larger id loses
    out2 = _semdedup(spark, [(5, a), (4, a)], cents)
    assert out2[4]["keep"] == 1 and out2[5]["keep"] == 0


def test_semantic_dedup_cluster_boundary_blindness(spark):
    """Near-identical vectors assigned to DIFFERENT clusters are never
    compared — the documented SemDeDup trade (recall bounded by the
    clustering), pinned so a future 'fix' doesn't silently change
    semantics."""
    cents = [(0, [1.0, 0.0]), (1, [1.0, 0.05])]
    # both vectors near the c0/c1 boundary, one on each side
    out = _semdedup(spark, [(1, [1.0, 0.02]), (2, [1.0, 0.03])], cents,
                    thr=900000)
    assert out[1]["list_id"] != out[2]["list_id"]
    assert out[1]["keep"] == 1 and out[2]["keep"] == 1
    assert out[1]["n_close"] == 0 and out[2]["n_close"] == 0


# ---------------------------------------------------------------------------
# BPE tokenizer training (r5 session 2)
# ---------------------------------------------------------------------------


def test_bpe_train_hand_computed(spark):
    """Sennrich-style corpus with hand-checkable counts: 5x 'low',
    2x 'newer', ... — the first merges must be the highest-count
    pairs under the (count DESC, left, right) total order."""
    from memo_fraktur_ocr_code_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [(1, "low low low low low newer newer new")],
        "doc_id long, text string",
    )
    merges = bpe_train(df, n_merges=3)
    # pair counts round 1: (l,o)=5, (o,w)=5, (w,</w>)=6, (n,e)=3,
    # (e,w)=3, (w,e)=2, (e,r)=2, (r,</w>)=2 -> best (w,</w>)
    assert merges[0] == (0, "w", "</w>", "w</w>", 6)
    # round 2: (o,w</w>)=5, (l,o)=5 tie at 5 -> left asc: (l,o)
    assert merges[1] == (1, "l", "o", "lo", 5)
    # round 3: (lo,w</w>)=5
    assert merges[2] == (2, "lo", "w</w>", "low</w>", 5)


def test_bpe_overlap_greedy_left_first(spark):
    """'aaaa' with merge (a,a): greedy left-to-right gives aa+aa, and
    the pair count includes overlapping occurrences (reference
    get_stats counts every adjacent index)."""
    from memo_fraktur_ocr_code_spark.operators.bpe import (
        bpe_encode_words,
        bpe_train,
    )

    df = spark.createDataFrame([(1, "aaaa aaaa aaaa")],
                               "doc_id long, text string")
    merges = bpe_train(df, n_merges=2)
    assert merges[0][:4] == (0, "a", "a", "aa") and merges[0][4] == 9
    # round 2 on [aa,aa,</w>]: (aa,aa)=3 ties (aa,</w>)=3 and
    # '</w>' < 'aa' in byte order -> merge (aa,</w>)
    assert merges[1][:4] == (1, "aa", "</w>", "aa</w>")
    w = spark.createDataFrame([("aaaa",), ("aaa",)], "word string")
    enc = {r["word"]: r["bpe_syms"]
           for r in bpe_encode_words(w, merges).collect()}
    assert enc["aaaa"] == ["aa", "aa</w>"]
    assert enc["aaa"] == ["aa", "a", "</w>"]


def test_bpe_encoder_matches_trainer_folds(spark):
    """The Arrow encoder (Python loop) must equal a chained Catalyst
    _merge_fold application of the same merges — two independent
    implementations of the greedy pass."""
    from pyspark.sql import functions as F

    from memo_fraktur_ocr_code_spark.operators.bpe import (
        _merge_fold,
        bpe_encode_words,
        bpe_train,
        word_counts,
    )

    df = spark.createDataFrame(
        [(1, "abab banana cabal aa bb abba banana abab")],
        "doc_id long, text string",
    )
    merges = bpe_train(df, n_merges=5)
    vocab = word_counts(df).select("word")
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit("</w>")))
    for _, left, right, _, _ in merges:
        syms = _merge_fold(syms, left, right)
    catalyst = {r["word"]: r["s"]
                for r in vocab.select("word", syms.alias("s")).collect()}
    arrow = {r["word"]: r["bpe_syms"]
             for r in bpe_encode_words(vocab, merges).collect()}
    assert catalyst == arrow and len(catalyst) == 6


def test_bpe_empty_corpus_raises(spark):
    import pytest as _pytest

    from memo_fraktur_ocr_code_spark.operators.bpe import bpe_train

    df = spark.createDataFrame([(1, ""), (2, None)],
                               "doc_id long, text string")
    with _pytest.raises(ValueError):
        bpe_train(df, n_merges=2)


def test_bpe_doc_token_counts(spark):
    """Counts are per-OCCURRENCE sums of the per-word encoded lengths;
    empty/NULL docs stay at (0, 0); corpus total equals the trainer's
    weighted final symbol table (conservation invariant)."""
    from pyspark.sql import functions as F

    from memo_fraktur_ocr_code_spark.operators.bpe import (
        _merge_fold,
        bpe_doc_token_counts,
        bpe_train,
        word_counts,
    )

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    merges = bpe_train(df, n_merges=2)
    out = {r["id"]: (r["n_words"], r["bpe_tokens"])
           for r in bpe_doc_token_counts(df, merges).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[3] == (0, 0) and out[4] == (0, 0)
    # conservation: sum over docs == sum over vocab of wc * len(final)
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit("</w>")))
    for _, left, right, _, _ in merges:
        syms = _merge_fold(syms, left, right)
    expect_total = (
        word_counts(df)
        .select((F.col("wc") * F.size(syms)).alias("t"))
        .agg(F.sum("t"))
        .collect()[0][0]
    )
    assert sum(v[1] for v in out.values()) == expect_total
    # per-word arithmetic: doc2 = one 'low'; doc1 = 2x'low' + 'lower'
    low_len = out[2][1]
    assert out[1][0] == 3 and out[2][0] == 1
    assert out[1][1] > 2 * low_len  # 'lower' adds at least one symbol


def test_operator_caches_release_deterministically(spark):
    """Cache hygiene (VERDICT r5): every cache() a dedup-family operator
    takes is enrolled in the module registry and released by ONE call,
    so long-running jobs don't accrete executor storage round over
    round.  The CacheManager must be empty again after release."""
    from memo_fraktur_ocr_code_spark.operators import dedup

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    dedup._OPERATOR_CACHES.clear()
    assert cm.isEmpty()

    docs = _docs(spark)
    dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    dedup.minhash_lsh_pairs(
        docs, n=3, threshold=0.7, num_hashes=32, bands=16
    ).collect()
    dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    assert not cm.isEmpty()  # the shared intermediates really cached
    assert len(dedup._OPERATOR_CACHES) >= 4

    dedup.release_operator_caches()
    assert dedup._OPERATOR_CACHES == []
    assert cm.isEmpty()
    # idempotent
    dedup.release_operator_caches()
    assert cm.isEmpty()


def test_remove_duplicate_spans_excises_noncanonical_only(spark):
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        remove_duplicate_spans,
        substring_span_stats,
    )

    para = (
        "one two three four five six seven eight nine ten eleven twelve"
    )
    rows = [
        (0, "Unique Text starts here " + para),
        (1, "other words lead in " + para + " and a tail follows on"),
        (2, "short doc"),
        (3, None),
        (4, "Another    Spaced\tdoc with CAPS kept and no repeats"),
        (5, "second copy carrier text " + para + " trailing words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(df, span_len=8).collect()
    }
    # keep-everything: every input doc has exactly one output row
    assert set(out) == {0, 1, 2, 3, 4, 5}
    # the canonical occurrence (smallest (id, pos)) SURVIVES…
    assert para in out[0].clean_text
    # …and every later verbatim copy is excised exactly once, leaving
    # the surrounding text intact
    assert out[1].clean_text == "other words lead in and a tail follows on"
    assert out[5].clean_text == (
        "second copy carrier text trailing words here"
    )
    assert out[1].n_removed_tokens == 12
    assert out[5].n_removed_tokens == 12
    # corpus-wide: the repeated paragraph now appears exactly once
    n_survivors = sum(
        1 for r in out.values() if para in (r.clean_text or "")
    )
    assert n_survivors == 1
    # untouched docs: collapsed whitespace, casing preserved, zero audit
    assert out[4].clean_text == (
        "Another Spaced doc with CAPS kept and no repeats"
    )
    assert out[4].n_removed_tokens == 0
    assert out[3].clean_text == "" and out[3].n_removed_tokens == 0
    # audited invariant: n_removed_tokens == the stats pass's dup_tokens
    st = {
        r.doc_id: r.dup_tokens
        for r in substring_span_stats(df, span_len=8).collect()
    }
    assert {k: v.n_removed_tokens for k, v in out.items()} == st


def test_remove_duplicate_spans_merges_overlapping_windows(spark):
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    # 12-token repeat = 5 overlapping 8-token windows; coverage must
    # merge to ONE 12-token interval, not 5 * 8 removals — and a repeat
    # ADJACENT to itself (24 tokens of coverage) folds into one interval
    rep = "a b c d e f g h i j k l"
    rows = [
        (0, "seed copy " + rep),
        (1, rep + " " + rep),  # two adjacent copies, both non-canonical
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(df, span_len=8).collect()
    }
    assert out[0].n_removed_tokens == 0
    # doc 1: all 24 tokens are covered by repeats of doc 0's canonical
    assert out[1].n_removed_tokens == 24
    assert out[1].clean_text == ""


def _clustered_vectors(spark, n_clusters=4, per_cluster=10):
    # 4 well-separated blocks in 64-d: cluster c has mass 10.0 on its
    # own 16-dim block plus a small deterministic jitter everywhere
    rows = []
    for c in range(n_clusters):
        for j in range(per_cluster):
            v = [
                (10.0 if (d // 16) == c else 0.0)
                + 0.01 * ((c * per_cluster + j + d) % 7)
                for d in range(64)
            ]
            rows.append((c * 100 + j, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_pq_adc_recall_floor_on_clustered_data(spark):
    """ANN quality floor (VERDICT r5 #8): on data with real cluster
    structure, PQ ADC at 16 bits/vector must retrieve every query's
    top-3 from its OWN cluster — recall 1.0.  (The uniform-random
    embeddings table is the data-limited case; tools/sweep_pq.py
    documents that separately.)"""
    from memo_fraktur_ocr_code_spark.operators import pq

    corpus = _clustered_vectors(spark)
    queries = corpus.where("vec_id % 100 = 0")
    cb = pq.pq_train(corpus, dim=64, m=8, ks=4, iters=2)
    codes = pq.pq_encode(corpus, cb, dim=64, m=8)
    top = pq.pq_adc_topk(queries, cb, codes, dim=64, m=8, k=3).collect()
    assert len(top) == 4 * 3
    for r in top:
        assert r.neighbor_id // 100 == r.query_id // 100, r


def test_ivfpq_recall_floor_on_clustered_data(spark):
    """Same floor for the IVF-PQ composition at n_probe=1: the trained
    coarse quantizer must route each query to its own cluster's list
    and ADC must keep the top-3 inside it."""
    from memo_fraktur_ocr_code_spark.operators import pq

    corpus = _clustered_vectors(spark)
    queries = corpus.where("vec_id % 100 = 0")
    cents, cb, lists = pq.ivfpq_index(
        corpus, dim=64, m=8, ks=4, n_lists=4,
        coarse_iters=2, pq_iters=2,
    )
    top = pq.ivfpq_topk(
        queries, cents, cb, lists, dim=64, m=8, k=3, n_probe=1
    ).collect()
    assert len(top) == 4 * 3
    for r in top:
        assert r.neighbor_id // 100 == r.query_id // 100, r
