"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: broadcast the (small)
  query set, JVM-side dot products via ``F.zip_with``/``F.aggregate``
  (no Python in the loop), window-ranked top-k per query.
* LSH-bucketed (random hyperplane / SRP) variant — the scale path: each
  vector hashed to a b-bit signature by fixed pseudo-random hyperplanes;
  candidates come from a bucket equi-join, then exact re-rank.  At 10^9+
  vectors the bucket join shuffles candidates only.
* IVF-style variant — coarse k-means-free quantization by top hyperplane
  signs, same bucket-join skeleton (probe = nearest buckets).

Determinism: hyperplane components derive from xxhash64(seed, dim, bit) —
no RNG state, identical across executors and runs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double_array(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _pair_dot_arrow():
    """Arrow-vectorized twin of :func:`_dot` for PAIR tables (two array
    columns per row) — bit-for-bit equal to the Catalyst fold.

    The fold is ``acc = acc + a[d] * b[d]`` in ascending ``d`` starting
    from 0.0; the twin performs the IDENTICAL float64 op sequence per
    row, vectorized ACROSS rows with numpy (one multiply, one add per
    step — the ``_srp_signature_arrow`` recipe, r4).  The Catalyst fold
    was the dominant per-row cost of every pair-scoring plan (candidate
    re-rank, SemDeDup close pairs, decontamination verify): ~0.03 ms/
    pair at dim=64 adds up to seconds at 10^5 candidate pairs, where
    the batched numpy loop is ~100× cheaper.

    A NULL array on either side returns NULL (the fold's result);
    rows are assumed dimension-uniform (the module-wide embedding
    contract — the oracle indexes 1..dim).  Element-level NULLs are
    outside the tested envelope, as with ``_srp_signature_arrow``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pdot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ra, rb = a.to_numpy(), b.to_numpy()
        ok = np.array(
            [x is not None and y is not None for x, y in zip(ra, rb)]
        )
        out = np.full(len(ra), np.nan)
        if ok.any():
            ma = np.stack(ra[ok]).astype(np.float64)
            mb = np.stack(rb[ok]).astype(np.float64)
            acc = np.zeros(ma.shape[0], dtype=np.float64)
            for d in range(ma.shape[1]):
                acc = acc + ma[:, d] * mb[:, d]
            out[ok] = acc
        return pd.Series(out)

    return pdot


#: module-level singleton — one UDF registration per process
_PAIR_DOT = None


def _pair_dot(a, b) -> F.Column:
    """``_dot`` for pair tables, routed through the Arrow twin."""
    global _PAIR_DOT
    if _PAIR_DOT is None:
        _PAIR_DOT = _pair_dot_arrow()
    return _PAIR_DOT(a, b)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_dp: int = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, neighbor_id, rank).

    The query side is broadcast (small dim table); the corpus side streams
    — a broadcast nested-loop that Catalyst pipelines without a shuffle.
    Scores are quantized to ``quantize_dp`` decimals before ranking with a
    deterministic (score desc, id asc) tie-break."""
    # norms are per-row folds computed BEFORE the pair expansion and the
    # dot runs through the Arrow pair kernel (r7, guide §4.2) — the same
    # fold sequences as the inline expressions, so scores are
    # bit-identical; the per-pair work drops from three interpreted
    # dim-wide folds to one numpy-batched dot
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double_array(vec_col).alias("qv"),
    ).withColumn("nq", _norm(F.col("qv")))
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_array(vec_col).alias("vv"),
    ).withColumn("nv", _norm(F.col("vv")))
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(
            _pair_dot(F.col("qv"), F.col("vv"))
            / (F.col("nq") * F.col("nv")),
            quantize_dp,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def _hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes from md5(seed, b, d) — computed once
    on the driver, shipped as literals; no per-row hashing."""
    import hashlib

    planes = []
    for b in range(bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{b}:{d}".encode()).digest()
            v = int.from_bytes(h[:4], "big") % 2001 - 1000
            row.append(v / 1000.0)
        planes.append(row)
    return planes


def _srp_signature(vec_col, dim: int, bits: int, seed: int = 7) -> F.Column:
    """Signed-random-projection signature: bit b = sign(<v, h_b>).

    All ``bits`` dot products run in ONE aggregate fold over the vector's
    dimensions with an array accumulator — a constant-size expression
    tree instead of ``bits`` separate fold expressions (the naive form
    blew up codegen and ran ~3× slower at bits=24).  Per-bit addition
    order is unchanged (sequential in d), so signatures stay bit-for-bit
    equal to the DuckDB oracle's per-plane left folds."""
    planes = _hyperplanes(dim, bits, seed)
    # transpose: planes_t[d][b] = plane b, component d
    planes_t = [[planes[b][d] for b in range(bits)] for d in range(dim)]
    dots = F.aggregate(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        F.array_repeat(F.lit(0.0), bits),
        lambda acc, d: F.zip_with(
            acc,
            F.element_at(F.lit(planes_t), (d + 1).cast("int")),
            lambda a, p: a + F.element_at(vec_col, (d + 1).cast("int")) * p,
        ),
    )
    bit_values = F.lit([1 << b for b in range(bits)]).cast("array<bigint>")
    return F.aggregate(
        F.zip_with(
            dots,
            bit_values,
            lambda dot, bv: F.when(dot > 0, bv).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def _srp_signature_arrow(dim: int, bits: int, seed: int = 7):
    """Arrow-vectorized twin of ``_srp_signature`` — bit-for-bit equal.

    The Catalyst fold is the engine-portable SPEC (the DuckDB oracle
    mirrors its per-plane left folds), but as an interpreted expression
    it costs ~4 ms/row at dim=64/bits=24 — the dominant term of
    srp_lsh_topk (r4 profile: 8.2 s of an 11 s run just for corpus
    signatures).  This twin performs the IDENTICAL float64 operation
    sequence — ``acc[b] += v[d] * p[d][b]`` in ascending d, one multiply
    then one add per step, so every intermediate rounding matches the
    fold and the signatures are equal bit for bit (asserted over fixture
    embeddings in tests/test_operators.py) — vectorized ACROSS ROWS with
    numpy in an Arrow batch.  float32 → float64 widening is exact, same
    as the Catalyst cast."""
    from pyspark.sql.functions import pandas_udf

    planes = _hyperplanes(dim, bits, seed)
    # plane_t[d][b] = plane b, component d — ascending-d accumulation
    plane_t = np.array(planes, dtype=np.float64).T.copy()
    weights = np.left_shift(
        np.int64(1), np.arange(bits, dtype=np.int64)
    )

    @pandas_udf("bigint")
    def sig(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="int64")
        raw = vec.to_numpy()
        # Catalyst parity on degenerate rows (verified live): a NULL
        # embedding folds to signature 0 (every `when(dot > 0)` misses),
        # and a NaN component makes its dots NaN, which Spark's `>`
        # treats as greater-than-anything → bit SET (numpy's NaN > 0 is
        # False, so isnan must be OR'd in explicitly).
        nonnull = np.array([v is not None for v in raw])
        out = np.zeros(len(raw), dtype=np.int64)
        if nonnull.any():
            m = np.stack(raw[nonnull]).astype(np.float64)
            acc = np.zeros((m.shape[0], bits), dtype=np.float64)
            for d in range(dim):
                acc += m[:, d : d + 1] * plane_t[d]
            out[nonnull] = (
                ((acc > 0) | np.isnan(acc)) * weights
            ).sum(axis=1)
        return pd.Series(out)

    return sig


def _band_keys(sig_col, bands: int, band_bits: int) -> F.Column:
    """array of per-band bucket keys: band b = bits [b*band_bits,
    (b+1)*band_bits) of the signature."""
    mask = (1 << band_bits) - 1
    return F.array(
        *[
            F.shiftright(sig_col, b * band_bits).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )


def srp_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 12,
    bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hamming_max: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: SRP band-bucket equi-join → exact re-rank
    of candidates only.

    With ``bands > 1`` the ``bits``-bit signature is split into ``bands``
    bands of ``bits // bands`` bits each, and a corpus vector is a
    candidate when ANY band matches (minhash-style OR-of-ANDs, VERDICT r2
    item 5) — for per-bit agreement p the candidate recall is
    ``1 - (1 - p^band_bits)^bands`` instead of the single-bucket
    ``p^bits``.  The band explode is pipelined row amplification on the
    corpus scan (never a shuffle); the broadcast query side keeps the
    candidate join shuffle-free.  Duplicate (query, neighbor) hits from
    multiple bands are collapsed by a ``distinct`` BEFORE the ranking
    window; scoring happens map-side before that dedup shuffle — a
    deliberate trade: the expected band-duplication factor for random
    collisions is ≈1.2 (near-neighbors hit several bands but are few),
    so recomputing a duplicate's dot product costs less than shuffling
    dim-sized vector arrays through a pre-scoring dedup.  At ``bands=1``
    no duplicates can exist and the distinct is skipped.  The exact
    re-rank keeps returned ranks truthful.

    Norms and signatures are computed ONCE PER ROW before the band
    explode (r4 claw-back): the per-candidate-pair work is a single
    dot-product fold instead of three (dot + both norms), and the
    ``bits``-bit signature fold runs once instead of once per band —
    identical operation order, so scores stay bit-for-bit equal.

    ``hamming_max`` (opt-in, default None = exact parity with the plain
    band join): drop candidate pairs whose full-signature hamming
    distance exceeds the threshold BEFORE the exact dot product — one
    xor+popcount per pair versus a dim-wide fold.  A band match already
    guarantees hamming ≤ bits - band_bits, so any threshold ≥ that is a
    provable no-op; useful thresholds below it are an empirical
    candidate-recall trade exactly like minhash's ``prefilter_margin``
    (tests pin output preservation at the registry's setting; expected
    hamming for per-bit agreement p is bits·(1-p), e.g. ≈3.4 of 24 at
    cos≈0.9 vs ≈12 for random pairs — the prune removes mostly random
    band collisions)."""
    assert bits % bands == 0, "bits must split evenly into bands"
    band_bits = bits // bands
    sig_fn = _srp_signature_arrow(dim, bits)
    v = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double_array(vec_col).alias("vv"),
        )
        .withColumn("nv", _norm(F.col("vv")))
        .withColumn("vsig", sig_fn(F.col("vv")))
        .select(
            "neighbor_id",
            "vv",
            "nv",
            "vsig",
            F.posexplode(
                _band_keys(F.col("vsig"), bands, band_bits)
            ).alias("band", "key"),
        )
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double_array(vec_col).alias("qv"),
        )
        .withColumn("nq", _norm(F.col("qv")))
        .withColumn("qsig", sig_fn(F.col("qv")))
        .select(
            "query_id",
            "qv",
            "nq",
            "qsig",
            F.posexplode(
                _band_keys(F.col("qsig"), bands, band_bits)
            ).alias("band", "key"),
        )
    )
    cand = v.join(F.broadcast(q), ["band", "key"])
    if hamming_max is not None:
        cand = cand.where(
            F.bit_count(F.col("vsig").bitwiseXOR(F.col("qsig")))
            <= hamming_max
        )
    cand = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _pair_dot(F.col("qv"), F.col("vv"))
            / (F.col("nq") * F.col("nv")),
            6,
        ).alias("score"),
    )
    if bands > 1:
        # collapse multi-band duplicates: score is deterministic per pair
        cand = cand.distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def kmeans_centroids(
    vectors: DataFrame,
    dim: int,
    n_lists: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic distributed Lloyd iterations → (list_id, cv): the
    trained coarse codebook for :func:`ivf_topk`'s ``centroids``
    parameter (upgrading its k-means-free min-id pick).

    Engine-portable determinism is the design constraint — centroid
    components must come out bit-identical on Spark and the DuckDB
    oracle, so per-list means avoid float-sum order entirely: each
    component is quantized to a 1e-6 fixed-point BIGINT (``floor(x*1e6)``),
    summed exactly (integer addition is associative — partition order
    can't change the result), floor-divided by the member count with an
    explicit two's-complement-safe formula (Spark ``DIV`` truncates
    toward zero while DuckDB ``//`` floors — both are bypassed), and
    rescaled; the resulting doubles are exact multiples of 1e-6.

    Scale shape per iteration: one broadcast-argmax assignment over the
    corpus (no corpus shuffle — ``n_lists`` centroids broadcast) + one
    aggregation keyed by ``(list_id, dimension)`` over the posexploded
    quantized components — map-side partial sums collapse each
    partition to ``n_lists × dim`` rows before the shuffle, and the
    narrow single-column sum stays inside whole-stage codegen (the
    alternative, ``dim`` separate aggregate columns, blows Janino's
    64 KB method limit at dim=64 and drops the whole stage to
    interpreted mode).  A list that attracts no members keeps its
    previous centroid (deterministic empty-cluster rule).  Init = the
    ``n_lists`` smallest-id vectors (window-free TakeOrdered), whose
    ids double as stable list ids."""
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        _release_local_checkpoint,
    )

    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_array(vec_col).alias("vv"),
    )
    cents = (
        v.orderBy("neighbor_id")
        .limit(n_lists)
        .select(
            F.col("neighbor_id").alias("list_id"), F.col("vv").alias("cv")
        )
    )
    # Per-iteration materialization of the (tiny, n_lists-row) codebook
    # (r7, guide §2.4/§3.3): composed lazily, iteration i's plan embeds
    # a full re-evaluation of iterations 1..i-1 — and every DOWNSTREAM
    # consumer (cluster_assign, semantic_dedup, ivf/ivfpq) re-evaluates
    # the whole chain again per reference, which is how semantic_dedup's
    # r6 plan reached 256 Exchanges / 182 parquet scans.  An eager
    # localCheckpoint after each Lloyd round runs each round's corpus
    # aggregation EXACTLY ONCE and truncates the lineage to an
    # n_lists-row LogicalRDD; centroid values are unchanged (same jobs,
    # same deterministic arithmetic — materialization only).
    cents = cents.localCheckpoint(eager=True)
    prev_ck = cents
    for _ in range(iters):
        # argmax via map-side-combined aggregation, not a corpus-keyed
        # row_number window (r5 — see _argmax_assign)
        assigned = _argmax_assign(v, cents, "neighbor_id")
        comp = (
            assigned.select(
                "list_id",
                F.posexplode(
                    F.expr(
                        "transform(vv,"
                        " x -> CAST(floor(x * 1000000) AS BIGINT))"
                    )
                ).alias("d", "qv"),
            )
            .groupBy("list_id", "d")
            .agg(F.count("*").alias("n"), F.sum("qv").alias("s"))
            # exact integer floor division in PURE integer arithmetic:
            # (s - pmod) is an exact multiple of n, so DIV's
            # truncate-toward-zero equals floor, and no double ever
            # touches the quotient — a `/`-then-cast detour loses
            # exactness once |s| exceeds 2^53 (10^9-member lists at 1e6
            # quantization; ADVICE r3).  Spark DIV and DuckDB // share
            # truncation semantics, so the oracle mirrors this verbatim.
            .select(
                "list_id",
                "d",
                (
                    F.expr("(s - ((s % n) + n) % n) DIV n")
                    / F.lit(1000000.0)
                ).alias("m"),
            )
        )
        trained = comp.groupBy("list_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda st: st["m"],
            ).alias("new_cv")
        )
        cents = (
            cents.join(trained, "list_id", "left")
            .select(
                "list_id",
                F.coalesce("new_cv", "cv").alias("cv"),
            )
            .localCheckpoint(eager=True)
        )
        _release_local_checkpoint(prev_ck)
        prev_ck = cents
    return cents


def _argmax_assign_kernel(cents_rows):
    """Arrow-vectorized nearest-centroid scorer — the bit-for-bit twin
    of the Catalyst ``max(struct(c_sim, -list_id))`` argmax over a
    broadcast codebook (the ``_argmax_assign_catalyst`` twin in
    tests/test_operators.py).

    ``cents_rows``: the collected ``(list_id, cv)`` codebook — a
    BOUNDED driver action by the broadcast-argmax premise (n_lists
    rows; the same class as the BPE per-round argmax collect).

    Parity construction (the ``_srp_signature_arrow`` recipe):

    * per-centroid norms are folded driver-side in ascending component
      order with plain Python floats — the identical op sequence as
      ``_norm``;
    * per-row dots/norms run ``acc = acc + x * y`` ascending-d,
      vectorized across rows (one multiply, one add per step);
    * ``c_sim = dot / (norm_v * norm_c)`` — denominator multiplied
      first, then one division, exactly as the Catalyst expression;
    * argmax scans centroids in ascending ``list_id`` order and takes
      the FIRST maximum — the ``(c_sim DESC, list_id ASC)`` tie-break;
      NaN c_sim (zero-norm vector) is treated as greater than
      everything, matching Spark's struct-max ordering;
    * a NULL vector row assigns to the smallest ``list_id`` with NULL
      ``c_sim`` (every c_sim NULL → the struct max falls through to
      the ``-list_id`` field), matching the Catalyst path.

    Equality with the Catalyst twin is pinned by
    tests/test_operators.py over fixture embeddings."""
    from pyspark.sql.functions import pandas_udf

    lids = sorted(int(r["list_id"]) for r in cents_rows)
    by_lid = {int(r["list_id"]): list(r["cv"]) for r in cents_rows}
    cvs = [by_lid[lid] for lid in lids]
    ncs = []
    for cv in cvs:
        acc = 0.0
        for x in cv:
            acc = acc + x * x
        ncs.append(math.sqrt(acc))
    C = np.array(cvs, dtype=np.float64)  # k × dim, ascending list_id
    NC = np.array(ncs, dtype=np.float64)
    LID = np.array(lids, dtype=np.int64)

    @pandas_udf("struct<list_id:bigint,c_sim:double>")
    def assign(vec: pd.Series) -> pd.DataFrame:
        n = len(vec)
        if n == 0:
            return pd.DataFrame(
                {"list_id": pd.array([], dtype="int64"), "c_sim": []}
            )
        raw = vec.to_numpy()
        ok = np.array([v is not None for v in raw])
        out_lid = np.full(n, LID[0], dtype=np.int64)
        out_sim = np.full(n, np.nan)
        if ok.any():
            M = np.stack(raw[ok]).astype(np.float64)
            nv = np.zeros(M.shape[0], dtype=np.float64)
            for d in range(M.shape[1]):
                nv = nv + M[:, d] * M[:, d]
            nv = np.sqrt(nv)
            acc = np.zeros((M.shape[0], C.shape[0]), dtype=np.float64)
            for d in range(M.shape[1]):
                acc = acc + M[:, d : d + 1] * C[:, d]
            sim = acc / (nv[:, None] * NC[None, :])
            key = np.where(np.isnan(sim), np.inf, sim)
            idx = np.argmax(key, axis=1)  # first max → smallest list_id
            out_lid[ok] = LID[idx]
            out_sim[ok] = sim[np.arange(M.shape[0]), idx]
        return pd.DataFrame({"list_id": out_lid, "c_sim": out_sim})

    return assign


def _argmax_assign(
    points: DataFrame, cents: DataFrame, id_name: str
) -> DataFrame:
    """Nearest-centroid assignment ``(id, vv, list_id)`` through the
    Arrow kernel: the codebook is collected (bounded, n_lists rows) and
    the argmax becomes a ZERO-SHUFFLE Arrow projection — replacing the
    broadcast cross join + struct-max aggregation, whose interpreted
    per-(point, centroid) cosine folds were the dominant per-row cost
    of every Lloyd round (r7, guide §4.2).  Values and tie-breaks are
    bit-identical to the ``_argmax_assign_catalyst`` twin in
    tests/test_operators.py."""
    assign = _argmax_assign_kernel(cents.select("list_id", "cv").collect())
    return points.select(
        F.col(id_name), "vv", assign(F.col("vv"))["list_id"].alias("list_id")
    )


def cluster_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, list_id, c_sim): nearest-centroid assignment of every vector
    to a trained codebook — the corpus-bucketing step for semantic-mix
    curation (assign each document embedding to its k-means list, then
    sample/weight per list), exposed first-class (VERDICT r4 item 6)
    instead of living only inside :func:`ivf_topk` /
    :func:`kmeans_centroids`, whose argmax this mirrors exactly (same
    similarity, same ``(c_sim DESC, list_id)`` tie-break).

    Scale: the codebook broadcasts (n_lists × dim doubles) and the
    argmax is a ``max(struct(c_sim, -list_id))`` AGGREGATION, not a
    row_number window (code-review r5): all n_lists scored rows of a
    vector sit in its own input partition, so the map-side partial
    aggregation completes the argmax before the exchange and the
    shuffle moves exactly one reduced row per vector — a window would
    shuffle and sort the full corpus × n_lists expansion.  The struct
    max is the window's tie-break verbatim: highest c_sim first, then
    highest ``-list_id`` = SMALLEST list id."""
    v = vectors.select(
        F.col(id_col).alias("_cid"),
        _as_double_array(vec_col).alias("vv"),
    )
    # Arrow-kernel argmax (r7, guide §4.2): the codebook collect is
    # bounded (n_lists rows) and the assignment becomes a zero-shuffle
    # Arrow projection — bit-identical values and tie-breaks to the
    # broadcast cross join + struct-max aggregation it replaces
    # (pinned against _argmax_assign_catalyst in tests/test_operators.py).
    assign = _argmax_assign_kernel(
        centroids.select("list_id", "cv").collect()
    )
    best = v.withColumn("_a", assign(F.col("vv")))
    return best.select(
        F.col("_cid").alias(id_col),
        F.col("_a.list_id").alias("list_id"),
        F.col("_a.c_sim").alias("c_sim"),
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse quantization into ``n_lists`` inverted lists,
    query probes its ``n_probe`` nearest lists, exact re-rank inside.

    Default centroids are chosen deterministically (the ``n_lists``
    corpus vectors with the smallest ids — a k-means-free coarse
    codebook); pass ``centroids`` (a ``(list_id, cv)`` frame, e.g. from
    :func:`kmeans_centroids`) for a trained codebook — the plan shape is
    identical.  The default pick is a distributed TakeOrdered
    (``orderBy + limit``), never a global ``row_number`` window — an
    unpartitioned window would funnel the whole corpus through one task
    (VERDICT r2 item 2).  The centroid's own id doubles as its list id:
    list ids only need to be stable, not dense, and id order is
    isomorphic to a dense 0..n-1 numbering so probe tie-breaks are
    unchanged.  Corpus assignment is a broadcast argmax; candidate
    retrieval is an equi-join on list id — shuffle scales with probed
    candidates, not |corpus|."""
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_array(vec_col).alias("vv"),
    )
    if centroids is not None:
        cents = centroids.select("list_id", "cv")
    else:
        cents = (
            v.orderBy("neighbor_id")
            .limit(n_lists)
            .select(
                F.col("neighbor_id").alias("list_id"),
                F.col("vv").alias("cv"),
            )
        )
    def _sim(a, b):
        return _dot(a, b) / (_norm(a) * _norm(b))

    # corpus → nearest centroid: the Arrow argmax kernel (zero-shuffle
    # projection, r7 — see _argmax_assign).  The QUERY probes below keep
    # their window: queries are the small broadcast side and n_probe > 1
    # needs a real top-n rank.  Corpus norms are folded per row BEFORE
    # the candidate join so the re-rank pays one Arrow dot per pair.
    assigned = _argmax_assign(v, cents, "neighbor_id").select(
        "neighbor_id", "vv", "list_id"
    ).withColumn("nv", _norm(F.col("vv")))
    # queries → n_probe nearest centroids
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double_array(vec_col).alias("qv"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_sim"), "list_id"
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "qv", "list_id",
            _sim(F.col("qv"), F.col("cv")).alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(probe_w))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "qv", "list_id")
    )
    cand = assigned.join(F.broadcast(probes), "list_id").select(
        "query_id",
        "neighbor_id",
        F.round(_sim(F.col("qv"), F.col("vv")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def decontaminate_embeddings(
    corpus: DataFrame,
    bench: DataFrame,
    dim: int,
    tau_e6: int = 999000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "brute",
    bits: int = 24,
    bands: int = 6,
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag corpus vectors
    whose cosine against ANY benchmark/eval vector reaches
    ``tau_e6 / 1e6`` — the semantic complement of the 13-gram text
    decontamination in ``curation.decontaminate`` (n-gram overlap
    misses paraphrases and re-encodings; embedding similarity catches
    them).  Output: ``(id_col, n_hits, contaminated)`` for EVERY corpus
    vector, ``n_hits`` = number of bench vectors at or above the
    threshold on the 6-dp-quantized score (quantized exactly like
    ``cosine_topk``, so both engines compare the same value).

    ``method='brute'``: corpus × broadcast(bench) nested loop — the
    exact baseline the DuckDB oracle mirrors; cost is |corpus|·|bench|
    dot products, fine while the bench set is small.

    ``method='srp'``: the scale path — both sides SRP-banded
    (signatures via the Arrow twin, byte-equal to the Catalyst fold);
    candidates come from a band equi-join against the broadcast bench
    band table, exact verify only on candidates, so per-corpus-row cost
    is ~bands hash probes instead of |bench| dot products.  For
    EXACT OR SCALED copies the band join has GUARANTEED recall:
    ``sign(w . a*v) = sign(w . v)`` for any a > 0, so a copy's
    signature — hence every band — is identical and the pair always
    surfaces (the planted-contamination shape; near-copies at cos≈0.999
    carry the usual ``1-(1-p^band_bits)^bands`` candidate recall).
    Duplicate band hits are collapsed AFTER the (rare) threshold
    filter, so the distinct shuffles contamination hits, not
    candidates.

    Scale shape: bench is broadcast in both methods — bounded by the
    eval-suite size the way the DSIR bucket table is bounded by
    ``n_buckets`` (embedding decks are 10^4-10^6 rows; if a bench set
    ever outgrew the broadcast ceiling the band join composes with a
    shuffle join by dropping the hint).  The corpus side streams off
    the scan either way; the per-id rollup aggregates hits only."""
    c = corpus.select(
        F.col(id_col).alias("id"), _as_double_array(vec_col).alias("cv")
    ).withColumn("nc", _norm(F.col("cv")))
    b = bench.select(
        F.col(id_col).alias("bench_id"),
        _as_double_array(vec_col).alias("bv"),
    ).withColumn("nb", _norm(F.col("bv")))
    score = F.round(
        _pair_dot(F.col("cv"), F.col("bv"))
        / (F.col("nc") * F.col("nb")),
        6,
    )
    tau = F.lit(int(tau_e6)) / F.lit(1000000.0)
    if method == "brute":
        hits = (
            c.crossJoin(F.broadcast(b))
            .select("id", "bench_id", score.alias("score"))
            .where(F.col("score") >= tau)
            .select("id", "bench_id")
        )
    elif method == "srp":
        assert bits % bands == 0, "bits must split evenly into bands"
        band_bits = bits // bands
        sig_fn = _srp_signature_arrow(dim, bits)
        cs = c.withColumn("csig", sig_fn(F.col("cv"))).select(
            "id",
            "cv",
            "nc",
            F.posexplode(
                _band_keys(F.col("csig"), bands, band_bits)
            ).alias("band", "key"),
        )
        bs = b.withColumn("bsig", sig_fn(F.col("bv"))).select(
            "bench_id",
            "bv",
            "nb",
            F.posexplode(
                _band_keys(F.col("bsig"), bands, band_bits)
            ).alias("band", "key"),
        )
        hits = (
            cs.join(F.broadcast(bs), ["band", "key"])
            .select("id", "bench_id", score.alias("score"))
            .where(F.col("score") >= tau)
            .select("id", "bench_id")
            .distinct()  # collapse multi-band duplicates (hits only)
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    n_hits = hits.groupBy("id").agg(F.count("*").alias("n_hits"))
    return (
        c.select("id")
        .join(n_hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_hits", F.lit(0).cast("bigint")).alias(
                "n_hits"
            ),
            (F.coalesce("n_hits", F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )
