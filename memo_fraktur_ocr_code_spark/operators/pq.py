"""Product quantization (PQ) for embedding columns — Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search" (TPAMI), the standard
compressed-domain ANN representation (IVF-PQ is the FAISS default at
billion scale).

The vector space splits into ``m`` contiguous subspaces of ``dim/m``
components; each subspace gets its own tiny codebook (``ks`` centroids,
trained by the same deterministic exact-fixed-point Lloyd used by
``similarity.kmeans_centroids``); a vector is stored as ``m`` small
codes.  At ``dim=64`` float32 → ``m=4`` byte-ish codes that is a ~64×
memory cut — the difference between spilling a 100 TB embedding corpus
and holding its coded form in executor memory for full-scan ADC.

Search uses asymmetric distance computation (ADC): the query stays
uncompressed, a per-query lookup table of query-subvector ↔ centroid
distances is built against the ``m × ks`` codebook (tiny, broadcast),
and each corpus vector's distance is the sum of ``m`` table entries —
no original vectors are ever read at query time.

Engine-portable determinism (the repo-wide oracle contract):

* centroid training reuses the floor-quantize → associative integer
  sum → explicit integer floor-division recipe (components come out
  exact multiples of 1e-6 on both engines);
* per-subspace squared-L2 is a left fold in component order — the
  DuckDB twin (``list_reduce`` over ``list_transform``) performs the
  identical float64 op sequence;
* ADC partial distances are floor-quantized to integer micro-units
  BEFORE summing (``dist_u``), so the cross-code sum is associative and
  immune to aggregation order — a raw double sum over shuffled rows
  would be nondeterministic run-to-run, let alone cross-engine.

Scale shape: training and encoding are broadcast cross joins against a
``m × ks`` codebook folded by ONE map-side-combined ``max(struct)``
argmin per ``(vector, subspace)`` (see ``similarity._argmax_assign`` —
no corpus-keyed window anywhere); ADC is a broadcast LUT join + an
integer sum keyed ``(query, vector)``; the final top-k is a two-phase
per-partition/global aggregation, never a corpus-sized sort window.

Reference parity note: the reference engine has no ANN operator — this
extends the training-data-pipeline surface mandated by the graft brief
(similarity search over the ``embeddings`` table), sibling to
``similarity.ivf_topk``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memo_fraktur_ocr_code_spark.operators.similarity import (
    _as_double_array,
)

_Q = 1_000_000


def _l2sq(a, b) -> F.Column:
    """Squared L2 distance as a component-order left fold — the exact
    op-sequence twin of the oracle's ``list_reduce(list_transform(...))``
    (leading ``0.0 +`` is a float no-op, so the folds agree bit for
    bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvectors(v: DataFrame, m: int, d_sub: int) -> DataFrame:
    """(id, vv) → long form (id, sub, sv): contiguous subvector per
    subspace, generated JVM-side."""
    return v.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" s -> struct(s AS sub,"
                f" slice(vv, s * {d_sub} + 1, {d_sub}) AS sv))"
            )
        ).alias("e"),
    ).select("id", F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv"))


def _assign_codes_kernel(cb_rows):
    """Arrow-vectorized nearest-code scorer — the bit-for-bit twin of
    the Catalyst ``max(struct(-dist, -code))`` argmin over a broadcast
    codebook (the ``_assign_codes_catalyst`` twin in
    tests/test_operators.py), built exactly like
    ``similarity._argmax_assign_kernel``:

    * squared-L2 runs ``acc = acc + (x - y) * (x - y)`` ascending-d —
      the :func:`_l2sq` fold's op sequence, vectorized across rows;
    * argmin scans codes in ascending order and takes the FIRST
      minimum (``dist ASC, code ASC``); NaN distance is treated as
      smaller than everything (``-NaN`` wins the struct max);
    * a NULL subvector row assigns the smallest code (every ``nd``
      NULL → the struct max falls through to ``-code``).

    ``cb_rows`` is the collected ``m × ks``-row codebook — a bounded
    driver action.  Equality with the Catalyst twin is test-pinned."""
    from pyspark.sql.functions import pandas_udf

    per_sub = {}
    for s in sorted({int(r["sub"]) for r in cb_rows}):
        rows = sorted(
            (r for r in cb_rows if int(r["sub"]) == s),
            key=lambda r: int(r["code"]),
        )
        per_sub[s] = (
            np.array([int(r["code"]) for r in rows], dtype=np.int64),
            np.array([list(r["cv"]) for r in rows], dtype=np.float64),
        )

    @pandas_udf("bigint")
    def code_of(sub: pd.Series, sv: pd.Series) -> pd.Series:
        n = len(sub)
        if n == 0:
            return pd.Series([], dtype="int64")
        subs_np = sub.to_numpy()
        raw = sv.to_numpy()
        out = np.zeros(n, dtype=np.int64)
        for s, (codes, C) in per_sub.items():
            m = subs_np == s
            if not m.any():
                continue
            out[m] = codes[0]  # NULL rows fall through to smallest code
            ok = m & np.array([v is not None for v in raw])
            if not ok.any():
                continue
            M = np.stack(raw[ok]).astype(np.float64)
            acc = np.zeros((M.shape[0], C.shape[0]), dtype=np.float64)
            for d in range(M.shape[1]):
                diff = M[:, d : d + 1] - C[:, d]
                acc = acc + diff * diff
            key = np.where(np.isnan(acc), -np.inf, acc)
            idx = np.argmin(key, axis=1)  # first min → smallest code
            out[ok] = codes[idx]
        return pd.Series(out)

    return code_of


def _assign_codes(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-centroid code per (id, sub) through the Arrow kernel
    (r7, guide §4.2): the ``m × ks`` codebook is collected (bounded)
    and the argmin becomes a ZERO-SHUFFLE Arrow projection — replacing
    the broadcast join + struct-max aggregation, whose interpreted
    per-(subvector, centroid) L2 folds dominated training and encoding.
    Codes and tie-breaks are bit-identical to
    the ``_assign_codes_catalyst`` twin in tests/test_operators.py."""
    kernel = _assign_codes_kernel(
        codebook.select("sub", "code", "cv").collect()
    )
    return subs.select(
        "id",
        "sub",
        kernel(F.col("sub"), F.col("sv")).alias("code"),
        "sv",
    )


def pq_train(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    ks: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train per-subspace codebooks → ``(sub, code, cv)``.

    Init mirrors ``kmeans_centroids``: the ``ks`` smallest-id vectors
    seed every subspace (their ids double as stable code labels — PQ
    codes are labels, not required to be dense 0..ks-1; a production
    writer would dictionary-encode them to ⌈log2 ks⌉ bits at sink
    time).  Each Lloyd round = one broadcast argmin assignment + one
    aggregation keyed ``(sub, code, component)`` over floor-quantized
    components (exact integer means, empty codes keep their previous
    centroid)."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    from memo_fraktur_ocr_code_spark.operators.dedup import (
        _release_local_checkpoint,
    )

    d_sub = dim // m
    v = vectors.select(
        F.col(id_col).alias("id"), _as_double_array(vec_col).alias("vv")
    )
    subs = _subvectors(v, m, d_sub)
    codebook = _subvectors(v.orderBy("id").limit(ks), m, d_sub).select(
        "sub", F.col("id").alias("code"), F.col("sv").alias("cv")
    )
    # Per-round materialization of the (m × ks)-row codebook (r7): the
    # same lazy-Lloyd plan explosion kmeans_centroids had — each round's
    # plan embedded a re-evaluation of all prior rounds, multiplied per
    # downstream consumer (encode + ADC LUT).  Values unchanged; see
    # kmeans_centroids for the full rationale.
    codebook = codebook.localCheckpoint(eager=True)
    prev_ck = codebook
    for _ in range(iters):
        assigned = _assign_codes(subs, codebook)
        comp = (
            assigned.select(
                "sub",
                "code",
                F.posexplode(
                    F.expr(
                        "transform(sv,"
                        f" x -> CAST(floor(x * {_Q}) AS BIGINT))"
                    )
                ).alias("d", "qv"),
            )
            .groupBy("sub", "code", "d")
            .agg(F.count("*").alias("n"), F.sum("qv").alias("s"))
            # pure-integer floor division (see kmeans_centroids: DIV
            # truncates, but s - pmod(s, n) is an exact multiple of n)
            .select(
                "sub",
                "code",
                "d",
                (
                    F.expr("(s - ((s % n) + n) % n) DIV n")
                    / F.lit(float(_Q))
                ).alias("mv"),
            )
        )
        trained = comp.groupBy("sub", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "mv"))),
                lambda st: st["mv"],
            ).alias("new_cv")
        )
        codebook = (
            codebook.join(trained, ["sub", "code"], "left")
            .select("sub", "code", F.coalesce("new_cv", "cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
        _release_local_checkpoint(prev_ck)
        prev_ck = codebook
    return codebook


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress vectors → long-form codes ``(id, sub, code)`` — the
    compact representation ADC searches over (and the layout a
    columnar sink stores: ``m`` small ints per vector, original floats
    dropped)."""
    assert dim % m == 0
    v = vectors.select(
        F.col(id_col).alias("id"), _as_double_array(vec_col).alias("vv")
    )
    return _assign_codes(_subvectors(v, m, dim // m), codebook).select(
        "id", "sub", "code"
    )


def pq_adc_topk(
    queries: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes →
    ``(query_id, rank, neighbor_id, dist_u)``.

    ``dist_u`` is the ADC distance in integer micro-units: each of the
    ``m`` query↔centroid partial distances is floor-quantized BEFORE
    the cross-subspace sum, so the aggregation is associative-exact
    (shuffle order can't change it) and the value is engine-portable.

    Plan: LUT = queries × codebook (both tiny → broadcast); codes join
    LUT on ``(sub, code)`` (1:q fan-out, linear); integer sum keyed
    ``(query, vector)`` with map-side partial aggregation; then
    TWO-PHASE top-k — per-input-partition ``array_sort(collect_list)``
    slice, re-grouped once per query over ≤ partitions × k survivors —
    because a ``row_number`` window partitioned by query would sort the
    ENTIRE corpus inside each query's partition (the 100 TB
    scale-killer this repo's plan guards exist to catch).  Ties break
    on ``(dist_u, neighbor_id)`` — a total order, so the result is
    partitioning-independent."""
    assert dim % m == 0
    d_sub = dim // m
    q = queries.select(
        F.col(id_col).alias("qid"), _as_double_array(vec_col).alias("vv")
    )
    lut = (
        _subvectors(q.withColumnRenamed("qid", "id"), m, d_sub)
        .withColumnRenamed("id", "qid")
        .join(F.broadcast(codebook), "sub")
        .select(
            "qid",
            "sub",
            "code",
            F.floor(_l2sq(F.col("sv"), F.col("cv")) * _Q)
            .cast("long")
            .alias("pd_u"),
        )
    )
    dist = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("pd_u").alias("dist_u"))
    )
    return _two_phase_topk(dist, k)


def _two_phase_topk(dist: DataFrame, k: int) -> DataFrame:
    """(qid, id, dist_u) → per-query top-k as TWO aggregations (per
    input partition, then per query over ≤ partitions × k survivors) —
    never a ``row_number`` window that would sort a query's ENTIRE
    candidate set in one task.  Ties break on ``(dist_u, id)``, a total
    order, so the result is partitioning-independent."""
    part_top = (
        dist.withColumn("pt", F.spark_partition_id())
        .groupBy("qid", "pt")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("dist_u", "id"))),
                1,
                k,
            ).alias("top")
        )
        .select("qid", F.explode("top").alias("t"))
    )
    final = part_top.groupBy("qid").agg(
        F.slice(F.array_sort(F.collect_list("t")), 1, k).alias("top")
    )
    return final.select(
        F.col("qid").alias("query_id"),
        F.posexplode("top").alias("r", "t"),
    ).select(
        "query_id",
        (F.col("r") + 1).cast("long").alias("rank"),
        F.col("t.id").alias("neighbor_id"),
        F.col("t.dist_u").alias("dist_u"),
    )


def ivfpq_index(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    ks: int = 4,
    n_lists: int = 8,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVF-PQ index triple ``(coarse_centroids, codebook,
    lists)`` — the FAISS ``IndexIVFPQ`` decomposition (Jégou et al.
    2011 §V) at Spark scale: a trained coarse quantizer routes vectors
    into ``n_lists`` inverted lists, and each list stores its members'
    PQ codes, not their vectors.

    ``lists`` is the materialization that matters at 100 TB:
    ``(list_id, id, sub, code)`` — the corpus compressed ~64× and
    PRE-CLUSTERED by coarse list, so a query touches only its probed
    lists' rows.  The corpus-sized join of codes to coarse assignments
    happens HERE, once, at index-build/ingest time (zero-shuffle over
    id-bucketed tables); query time never shuffles the corpus.

    PQ trains on the raw vectors, not per-list residuals (FAISS's
    ``by_residual=false`` mode): residual encoding couples every code
    to its list's centroid, which would weld the two training loops
    together and break the shared single-codebook oracle — the
    documented accuracy trade-off, not an oversight."""
    from memo_fraktur_ocr_code_spark.operators.similarity import (
        cluster_assign,
        kmeans_centroids,
    )

    cents = kmeans_centroids(
        vectors, dim=dim, n_lists=n_lists, iters=coarse_iters,
        id_col=id_col, vec_col=vec_col,
    )
    asg = cluster_assign(
        vectors, cents, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("id"), "list_id")
    cb = pq_train(
        vectors, dim=dim, m=m, ks=ks, iters=pq_iters,
        id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(
        vectors, cb, dim=dim, m=m, id_col=id_col, vec_col=vec_col
    )
    lists = codes.join(asg, "id").select("list_id", "id", "sub", "code")
    return cents, cb, lists


def ivfpq_topk(
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    lists: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search over an :func:`ivfpq_index` →
    ``(query_id, rank, neighbor_id, dist_u)``.

    Each query probes its ``n_probe`` nearest coarse lists (cosine,
    ``(c_sim DESC, list_id)`` tie-break — the repo's coarse-quantizer
    convention shared with :func:`similarity.ivf_topk`), then ADC
    re-ranks ONLY the probed lists' PQ codes; ``dist_u`` is the same
    integer micro-unit ADC distance as :func:`pq_adc_topk`, so with
    ``n_probe = n_lists`` the result is exactly the exhaustive ADC
    answer (test-pinned).

    Plan: probe table = query batch × ``n_probe`` rows → BROADCAST
    against ``lists`` (the batch-ANN contract: queries are the small
    side; the corpus-sized ``lists`` never shuffles and, pre-partitioned
    by ``list_id``, never moves at all); LUT broadcast-joins on
    ``(qid, sub, code)``; ONE ``(query, vector)``-keyed integer sum
    with map-side combine; then the shared two-phase top-k."""
    from memo_fraktur_ocr_code_spark.operators.similarity import (
        _dot,
        _norm,
    )
    from pyspark.sql import Window

    assert dim % m == 0
    d_sub = dim // m
    q = queries.select(
        F.col(id_col).alias("qid"), _as_double_array(vec_col).alias("vv")
    )
    probe_w = Window.partitionBy("qid").orderBy(
        F.desc("c_sim"), "list_id"
    )
    probes = (
        q.crossJoin(F.broadcast(centroids.select("list_id", "cv")))
        .select(
            "qid",
            "list_id",
            (
                _dot(F.col("vv"), F.col("cv"))
                / (_norm(F.col("vv")) * _norm(F.col("cv")))
            ).alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= int(n_probe))
        .select("qid", "list_id")
    )
    lut = (
        _subvectors(q.withColumnRenamed("qid", "id"), m, d_sub)
        .withColumnRenamed("id", "qid")
        .join(F.broadcast(codebook), "sub")
        .select(
            "qid",
            "sub",
            "code",
            F.floor(_l2sq(F.col("sv"), F.col("cv")) * _Q)
            .cast("long")
            .alias("pd_u"),
        )
    )
    dist = (
        lists.join(F.broadcast(probes), "list_id")
        .join(F.broadcast(lut), ["qid", "sub", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("pd_u").alias("dist_u"))
    )
    return _two_phase_topk(dist, k)
