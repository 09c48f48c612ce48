"""Similarity search over embedding columns (SURVEY §2.12 X3).

Four tiers, all DataFrame-native:
  * brute-force cosine top-k — the exact baseline; one scan, one top-k
    (TakeOrderedAndProject), no shuffle of the full table;
  * sign-LSH bucketed near-dup / search — candidates from an equi-join
    on deterministic hyperplane-sign buckets;
  * IVF (inverted file) — k-means coarse centroids (pyspark.ml), search
    probes the closest n_probe cells: at 100 TB the partition-pruned scan
    reads only probed cells when the table is written partitioned by
    ``cell_id``;
  * PQ / IVF-PQ (product quantization, Jegou et al. TPAMI 2011) —
    m-byte codes per vector (driver-sample codebooks, vectorized Arrow
    encode) scored by built-in ADC; composed with IVF routing it is the
    representation that fits a 10^11-vector index in cluster memory.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nagios_custom_etl_spark import fsio
from nagios_custom_etl_spark.functions.vector import (
    as_double_array,
    cosine,
    random_projection_signs,
)

# ---------------------------------------------------------------------------
# brute-force cosine top-k against one query vector
# ---------------------------------------------------------------------------


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector.

    The query is a literal array (broadcast by value into the plan); the
    result uses TakeOrderedAndProject — per-partition heaps, no global
    sort. Ties break by id for determinism.
    """
    q = F.lit(query_vec).cast("array<double>")
    sim = cosine(vec_col, q).alias("cos_sim")
    return (
        df.select(F.col(id_col), sim)
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_filtered(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    pred,
    k: int = 10,
    assigned: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
    n_probe: int = 4,
    selectivity: float | None = None,
    pre_threshold: float = 0.05,
) -> tuple[DataFrame, str]:
    """FILTERED vector search: top-k by cosine among the rows satisfying
    a metadata predicate ``pred`` — the retrieval shape every RAG/search
    stack needs ("nearest docs WHERE lang='en' AND quality > t"). Two
    strategies, picked by predicate selectivity (the classic vector-DB
    decision), returned alongside the result:

    * ``prefilter`` (selective predicate, or no index supplied): filter
      first, EXACT brute-force top-k over the survivors. At 100 TB a
      0.1 %-selective predicate leaves ~10^8 rows — one pruned scan +
      TakeOrdered heap, no index needed, exact by construction. The
      filter reaches the parquet scan (Catalyst pushdown), composing
      with partition/stats pruning when the predicate column is a
      partition or stats column.
    * ``probe`` (unselective predicate over an IVF index): probe the
      ``n_probe`` nearest cells and apply the predicate IN the probed
      scan — pred evaluates before the top-k truncation, so no
      expanded-k dance is needed and recall degrades exactly like
      unfiltered IVF (cells, not candidates, are what is approximated;
      probing all cells recovers the exact filtered answer, pinned in
      tests).

    ``selectivity`` should come from table stats at scale (a metadata
    NDV/count estimate); when None it is measured with one bounded
    count — fine interactively, wasteful inside a serving loop. The
    probe path's ``assigned`` must CARRY the predicate columns
    (ivf_build keeps only id/vector/cell_id — join the metadata back on
    the id, or persist the index with the metadata columns, the x52
    persisted-index shape)."""
    import math

    if selectivity is None:
        total = df.count()
        selectivity = df.filter(pred).count() / max(total, 1)
    if assigned is None or centroids is None or selectivity <= pre_threshold:
        return (
            cosine_topk(df.filter(pred), vec_col, id_col, query_vec, k),
            "prefilter",
        )

    def _cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    probe = sorted(
        range(len(centroids)), key=lambda c: -_cos(centroids[c], query_vec)
    )[:n_probe]
    q = F.lit(query_vec).cast("array<double>")
    out = (
        assigned.filter(F.col("cell_id").isin(probe))
        .filter(pred)
        .select(F.col(id_col), cosine(vec_col, q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )
    return out, "probe"


def cosine_topk_join(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    q_vec_col: str,
    q_id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors for EVERY query row (small query side).

    broadcast(queries) × vectors → per-query window top-k. Query side
    must fit in a broadcast (the usual ANN serving shape); for
    query-side ≈ table-side use the LSH/IVF paths instead.
    """
    from pyspark.sql.window import Window as W

    v = vectors.select(F.col(id_col).alias("nbr_id"), as_double_array(vec_col).alias("_v"))
    q = queries.select(F.col(q_id_col).alias("query_id"), as_double_array(q_vec_col).alias("_q"))
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id", "nbr_id", cosine(F.col("_v"), F.col("_q")).alias("cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("nbr_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# sign-LSH bucketed near-duplicate pairs (embedding-cosine near-dup, X1/X3)
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Pairs with cosine >= threshold, candidates via sign-LSH buckets.

    n_tables independent 8-plane sign buckets; a pair collides in table t
    with probability (1 - theta/pi)^n_planes — multiple tables recover
    recall. Exact cosine verifies candidates.
    """
    base = df.select(F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v"))
    bucketed = base.select(
        "_id",
        "_v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table_id"),
                        random_projection_signs(F.col("_v"), n_planes, seed + t, dim).alias(
                            "bucket"
                        ),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("b"),
    ).select("_id", "_v", "b.table_id", "b.bucket")
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._v").alias("_va"),
            F.col("b._v").alias("_vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


# ---------------------------------------------------------------------------
# IVF — inverted-file ANN index
# ---------------------------------------------------------------------------


# (session, assigned, centroids) per (session, input-plan, k, seed) —
# see ivf_build's index-memo note
_IVF_MEMO: dict = {}


def ivf_build(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int = 16, seed: int = 42
) -> tuple[DataFrame, list[list[float]]]:
    """Assign each vector to its nearest of n_cells k-means centroids.

    Returns (assigned df with cell_id, centroids). At scale the assigned
    table is written ``partitionBy("cell_id")`` so searches prune cells
    at the file-listing level.

    The featurized input is cached (k-means re-scans it every Lloyd
    iteration — pyspark.ml warns when it isn't), and the assignment is
    cached too: an index is built once and probed many times, so every
    search re-running ``model.transform`` would repay the build cost per
    query. maxIter=10 bounds the fit; coarse-quantizer centroids move
    negligibly after a few iterations and the verify path (exact cosine
    within probed cells) is unaffected by cell-boundary jitter.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from nagios_custom_etl_spark.catalog import _session_alive, cache_once

    # purge dead-session index entries (same lifecycle rule as
    # catalog._CACHE_MEMO — see _session_alive)
    for k in [k for k, v in _IVF_MEMO.items() if not _session_alive(v[0])]:
        _IVF_MEMO.pop(k, None)
    feats = cache_once(
        df.select(
            F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_arr")
        ).withColumn("features", array_to_vector("_arr"))
    )
    # index memo: an IVF index is built once and probed many times — a
    # second build over the same input/params (e.g. the recall gate after
    # the search query) must not re-run Lloyd iterations. Keyed by plan
    # semantics + params, scoped to the session like cache_once.
    try:
        memo_key = (id(df.sparkSession), feats.semanticHash(), n_cells, seed)
    except Exception:  # noqa: BLE001 — analysis failure: skip memoization
        memo_key = None
    hit = _IVF_MEMO.get(memo_key) if memo_key else None
    if hit is not None and hit[0] is df.sparkSession:
        return hit[1], hit[2]
    # random init, not k-means||: the parallel init spends 2+ extra full
    # passes refining seeds that 10 Lloyd iterations re-fit anyway — for a
    # COARSE quantizer (cells, not clusters-as-answers) random seeding is
    # the standard choice (cf. faiss) and 3× cheaper to build
    km = KMeans(
        k=n_cells,
        seed=seed,
        maxIter=10,
        initMode="random",
        featuresCol="features",
        predictionCol="cell_id",
    )
    model = km.fit(feats)
    assigned = cache_once(
        model.transform(feats).select(
            F.col("_id").alias(id_col), F.col("_arr").alias(vec_col), "cell_id"
        )
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    if memo_key:
        _IVF_MEMO[memo_key] = (df.sparkSession, assigned, centroids)
    return assigned, centroids


def cosine_topk_join_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    q_vec_col: str,
    q_id_col: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Top-k neighbors for EVERY query row WITHOUT broadcasting the query
    side — the scale path ``cosine_topk_join`` documents as its bound
    (VERDICT r3 gap 4).

    Plan shape: the index side is IVF-assigned once (``ivf_build``); the
    CENTROID table (n_cells rows) is the only broadcast — each query row
    ranks centroids map-side and keeps its ``n_probe`` nearest cells, then
    an equi-join on ``cell_id`` meets queries with exactly the index rows
    in probed cells (never query × table), and a per-query window keeps
    the top k by exact cosine. Both shuffles key on bounded, data-defined
    keys: cell_id (size n_cells — at 100 TB pick n_cells ≈ √N per the
    standard IVF sizing, thousands of keys, and let AQE split hot cells)
    and query_id (uniform). Probing all cells (n_probe = n_cells) makes
    the result exactly the brute-force join — the parity test's lever.
    Ties break by neighbor id, matching ``cosine_topk_join``.
    """
    assigned, centroids = ivf_build(vectors, vec_col, id_col, n_cells, seed)
    return cosine_topk_join_ivf_index(
        assigned, centroids, queries, vec_col, id_col, q_vec_col, q_id_col,
        k=k, n_probe=n_probe,
    )


def cosine_topk_join_ivf_index(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    q_vec_col: str,
    q_id_col: str,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """``cosine_topk_join_ivf`` against an ALREADY-BUILT index — the
    serve-from-disk path (VERDICT r5 task 1): a persisted index loaded by
    ``ann_load_index`` goes straight into the routed join with zero
    KMeans fits, which is what a serving restart over a 10^11-vector
    index requires (the rebuild is the system's most expensive job)."""
    from pyspark.sql.window import Window as W

    q = queries.select(
        F.col(q_id_col).alias("query_id"), as_double_array(q_vec_col).alias("_q")
    )
    # centroids are driver-side literals: probe selection is a pure
    # map-side projection — an array of (neg_sim, cell_id) structs per
    # query row, sort_array (ascending on neg_sim == descending on sim,
    # cell_id tiebreak), slice n_probe, explode. No broadcast join, no
    # window shuffle; the only shuffles in the whole plan are the
    # cell_id equi-join and the final per-query top-k window.
    cent_sims = F.array(
        *[
            F.struct(
                (-cosine(F.col("_q"), F.lit(c).cast("array<double>"))).alias(
                    "_neg_sim"
                ),
                F.lit(i).cast("int").alias("cell_id"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    probes = q.select(
        "query_id",
        "_q",
        F.explode(F.slice(F.sort_array(cent_sims), 1, n_probe)).alias("_p"),
    ).select("query_id", "_q", F.col("_p.cell_id").alias("cell_id"))
    idx = assigned.select(
        F.col(id_col).alias("nbr_id"), as_double_array(vec_col).alias("_v"), "cell_id"
    )
    scored = probes.join(idx, "cell_id").select(
        "query_id", "nbr_id", cosine(F.col("_v"), F.col("_q")).alias("cos_sim")
    )
    topk_w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(topk_w))
        .filter(F.col("rank") <= k)
    )


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe the n_probe nearest cells, exact cosine within them.

    Driver picks probe cells from the (tiny) centroid list; the scan
    filter ``cell_id IN (...)`` partition-prunes when the index table is
    partitioned by cell_id.
    """
    import math

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    probe = sorted(range(len(centroids)), key=lambda c: -cos(centroids[c], query_vec))[:n_probe]
    q = F.lit(query_vec).cast("array<double>")
    return (
        assigned.filter(F.col("cell_id").isin(probe))
        .select(F.col(id_col), cosine(vec_col, q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# PQ — product quantization (Jegou, Douze, Schmid, TPAMI 2011): the
# billion-scale ANN representation. m subspace codebooks of ks codewords
# compress a d-dim float vector to m small ints (64-dim float64 -> 8
# bytes at m=8: 64x), which is what lets an index for 10^11 vectors fit
# in cluster RAM/SSD at 100 TB corpus scale. Searches score codes with
# ADC (asymmetric distance computation): a per-query LUT of
# query-subvector -> codeword distances, approx_dist = sum of m lookups.
# ---------------------------------------------------------------------------


def _lloyd(x, k: int, iters: int = 12, seed: int = 42):
    """Driver-side Lloyd k-means (numpy). Codebooks train on a bounded
    sample — constant driver work at any corpus scale (how FAISS trains
    PQ codebooks too); only ENCODING is distributed."""
    import numpy as np

    rng = np.random.RandomState(seed)
    # init from DISTINCT rows: duplicate-heavy samples (exact-dup mass is
    # common in real corpora) would otherwise seed collided centers and
    # merge clusters that the data separates cleanly
    init = []
    seen = set()
    for i in rng.permutation(len(x)):
        key = x[i].tobytes()
        if key not in seen:
            seen.add(key)
            init.append(x[i])
        if len(init) == k:
            break
    cents = np.array(init)
    if len(cents) < k:  # fewer distinct rows than codewords: pad with jitter
        pad = cents[rng.choice(len(cents), size=k - len(cents))]
        cents = np.vstack([cents, pad + rng.normal(0, 1e-6, pad.shape)])
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        code = d2.argmin(1)
        for j in range(k):
            mask = code == j
            if mask.any():
                cents[j] = x[mask].mean(0)
    return cents


# trained codebooks per (session, input-plan, m, ks, seed, sample_rows) —
# same build-once/probe-many lifecycle rule as _IVF_MEMO
_PQ_MEMO: dict = {}


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    ks: int = 16,
    seed: int = 42,
    sample_rows: int = 4096,
) -> list:
    """Train m per-subspace codebooks of ks centroids on a DETERMINISTIC
    hash-ordered sample (orderBy xxhash64(id) + limit — a bounded
    TakeOrdered heap, same sample regardless of layout). Vectors are
    L2-normalized first so PQ's L2 ranking is cosine ranking.
    Session-memoized like the IVF index: codebooks are trained once and
    reused by every encode/search over the same input.
    Returns codebooks[m][ks][d/m]."""
    import numpy as np

    from nagios_custom_etl_spark.catalog import _session_alive
    from nagios_custom_etl_spark.functions.vector import l2_normalize

    for k in [k for k, v in _PQ_MEMO.items() if not _session_alive(v[0])]:
        _PQ_MEMO.pop(k, None)
    sample = (
        df.select(F.col(id_col).alias("_id"), l2_normalize(vec_col).alias("_v"))
        .orderBy(F.xxhash64("_id"), F.col("_id"))
        .limit(sample_rows)
    )
    try:
        memo_key = (id(df.sparkSession), sample.semanticHash(), m, ks, seed)
    except Exception:  # noqa: BLE001 — analysis failure: skip memoization
        memo_key = None
    hit = _PQ_MEMO.get(memo_key) if memo_key else None
    if hit is not None and hit[0] is df.sparkSession:
        return hit[1]
    rows = sample.collect()
    x = np.array([r["_v"] for r in rows], dtype=np.float64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    codebooks = [
        _lloyd(x[:, j * dsub : (j + 1) * dsub], ks, seed=seed + j).tolist()
        for j in range(m)
    ]
    if memo_key:
        _PQ_MEMO[memo_key] = (df.sparkSession, codebooks)
    return codebooks


# encoded code tables per (session, input-plan, codebook-bytes): two
# searches over the same index must not re-run the encode pass — each
# pq_encode call creates a fresh UDF instance, so cache_once's semantic
# plan matching alone cannot deduplicate them
_PQ_ENCODE_MEMO: dict = {}


def pq_encode(df: DataFrame, vec_col: str, id_col: str, codebooks: list) -> DataFrame:
    """Distributed PQ encoding — the hot path — as a vectorized Arrow
    pandas UDF: one numpy argmin over (batch x ks x d/m) per subspace,
    never per-row Python. Output codes are m small ints per vector (the
    64x-compressed index representation). Session-memoized + cached:
    an index is encoded once and probed many times."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from nagios_custom_etl_spark.catalog import _session_alive, cache_once
    from nagios_custom_etl_spark.functions.vector import l2_normalize

    cb = [np.array(c, dtype=np.float64) for c in codebooks]
    m = len(cb)
    dsub = cb[0].shape[1]

    for k in [k for k, v in _PQ_ENCODE_MEMO.items() if not _session_alive(v[0])]:
        _PQ_ENCODE_MEMO.pop(k, None)
    base = df.select(F.col(id_col), l2_normalize(vec_col).alias("_nv"))
    try:
        memo_key = (
            id(df.sparkSession),
            base.semanticHash(),
            b"".join(c.tobytes() for c in cb),
        )
    except Exception:  # noqa: BLE001 — analysis failure: skip memoization
        memo_key = None
    hit = _PQ_ENCODE_MEMO.get(memo_key) if memo_key else None
    if hit is not None and hit[0] is df.sparkSession:
        return hit[1]

    def _encode(vs):
        x = np.stack(vs.to_numpy())
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            xj = x[:, j * dsub : (j + 1) * dsub]
            d2 = ((xj[:, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf's signature inference rejects — attach real objects
    _encode.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    encode = pandas_udf(_encode, "array<int>")

    out = cache_once(
        df.select(F.col(id_col), encode(l2_normalize(vec_col)).alias("pq_codes"))
    )
    if memo_key:
        _PQ_ENCODE_MEMO[memo_key] = (df.sparkSession, out)
    return out


def _double_sql(v: float) -> str:
    """Exact SQL DOUBLE literal: repr round-trips the value; an exponent
    marker forces DOUBLE parsing (ANSI reads bare decimals as DECIMAL).
    Non-finite values (a NaN/Inf query vector or codebook) would render
    unparseable SQL — fail with a diagnosable error instead."""
    import math

    f = float(v)
    if not math.isfinite(f):
        raise ValueError(
            f"non-finite ADC LUT value {f!r}: query vector or codebook "
            "contains NaN/Inf — clean the embeddings before searching"
        )
    s = repr(f)
    return s if ("e" in s or "E" in s) else s + "E0"


def pq_topk(
    codes: DataFrame,
    codebooks: list,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    codes_col: str = "pq_codes",
) -> DataFrame:
    """ADC top-k over PQ codes, pure built-ins: per-subspace LUTs
    (ks floats each) are computed driver-side and embedded as m small
    literal arrays; approx squared-L2 = a STATIC sum of m element_at
    lookups — a flat codegen expression over the compressed codes, no
    float vectors read at all. (The previous zip_with + aggregate HOF
    over one m*ks literal measured ~6x slower steady-state: per-element
    lambda eval of a large literal defeats whole-stage codegen — the
    project-notes HOF trap.) TakeOrderedAndProject keeps per-partition heaps
    of k. On normalized vectors L2 order == cosine order, so ranks are
    comparable to the exact cosine paths."""
    import math

    import numpy as np

    # the ADC expression below is generated SQL text: an absent codes
    # column would otherwise surface as an opaque parse/analysis error
    # deep in the expression (ADVICE r5) — validate up front
    if codes_col not in codes.columns:
        raise ValueError(
            f"codes column {codes_col!r} not in codes DataFrame "
            f"(columns: {codes.columns}) — pass codes_col="
        )
    codes_ref = f"`{codes_col.replace('`', '``')}`"
    cb = [np.array(c, dtype=np.float64) for c in codebooks]
    m = len(cb)
    dsub = cb[0].shape[1]
    nrm = math.sqrt(sum(v * v for v in query_vec)) or 1.0
    q = np.array([v / nrm for v in query_vec], dtype=np.float64)
    # the m*ks LUT floats go in as ONE parsed SQL expression, not m
    # F.lit(list) calls: per-element py4j conversion dominated per-query
    # latency (~0.8 s build per probe at m=16, ks=64 vs ~0.25 s parsed).
    # repr() round-trips doubles exactly; the E0 suffix forces the SQL
    # parser to read them as DOUBLE (bare decimals would parse DECIMAL
    # under ANSI). Left-assoc '+' keeps the old fold's accumulation
    # order, so distances are bit-identical to the HOF formulation.
    terms = []
    for j in range(m):
        lut = ((cb[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(1)
        arr = "array(" + ",".join(_double_sql(v) for v in lut) + ")"
        terms.append(f"element_at({arr}, {codes_ref}[{j}] + 1)")
    dist = F.expr(" + ".join(terms))
    # NULL pq_codes would yield a NULL distance and Spark's ascending
    # default is NULLS FIRST — a null row would outrank every real
    # neighbor (ADVICE r4). Unreachable via pq_encode, but the function
    # accepts any codes DataFrame: drop nulls explicitly.
    return (
        codes.filter(F.col(codes_col).isNotNull())
        .select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy(F.asc_nulls_last("adc_dist"), F.col(id_col))
        .limit(k)
    )


def ivf_pq_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    codes: DataFrame,
    codebooks: list,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ: coarse cell routing + ADC over compressed codes — the
    full FAISS serving shape. Probe cells are picked driver-side from the
    tiny centroid list (partition-pruned I/O when the index is written
    partitioned by cell_id); within probed cells the scan reads ONLY the
    m-byte codes, scored by the broadcast LUT. Per-query cost is
    (n_probe / n_cells) x codes-bytes — at 100 TB that is megabytes, not
    the corpus."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    probe = sorted(range(len(centroids)), key=lambda c: -cos(centroids[c], query_vec))[
        :n_probe
    ]
    routed = codes.join(
        assigned.select(F.col(id_col), "cell_id").filter(F.col("cell_id").isin(probe)),
        id_col,
        "left_semi",
    )
    return pq_topk(routed, codebooks, id_col, query_vec, k=k)


# ---------------------------------------------------------------------------
# Index persistence — write once, serve from disk (VERDICT r5 task 1).
# The in-memory memos (_IVF_MEMO/_PQ_MEMO/_PQ_ENCODE_MEMO) are session-
# scoped by design: a serving RESTART would re-train codebooks and
# re-encode the corpus, and at 10^11 vectors that rebuild is the most
# expensive job in the system. The durable form is the standard layout:
# one assigned-rows table written ``partitionBy("cell_id")`` (searches
# prune probed cells at the file-listing level) plus a kilobyte JSON
# sidecar holding centroids + PQ codebooks (the only driver-side state).
# ---------------------------------------------------------------------------

ANN_INDEX_FORMAT = 1
_ANN_META_FILE = "_ann_index_meta.json"
_ANN_DATA_DIR = "data"


def _ann_data_path(path: str, meta: dict) -> str:
    """The PRIMARY data directory: 'data' for a freshly written index,
    'data-r<seq>' after a full retrain published a replacement. The
    sidecar points at exactly one; superseded directories stay on disk
    so a reader holding the old meta keeps serving its version (readers
    of a retrained index never see a half-replaced table)."""
    return f"{path}/{meta.get('data_dir', _ANN_DATA_DIR)}"


def _ann_cell_owners(meta: dict) -> dict[int, str]:
    """cell_id -> owning PATCH dir, for cells a per-cell retrain
    (:func:`ann_retrain_cells`) has re-homed. Cells absent from the map
    live in the primary dir. The sidecar's ``patches`` list is kept
    non-overlapping by the retrain publish (a re-patched cell is removed
    from its previous entry), so this is a plain union."""
    owners: dict[int, str] = {}
    for p in meta.get("patches", []) or []:
        for c in p["cells"]:
            owners[int(c)] = p["dir"]
    return owners


def _ann_plan_table(spark, path: str, meta: dict) -> DataFrame:
    """Plan the index table across the primary dir and any patch dirs:
    the primary contributes every cell NOT re-homed by a patch; each
    patch dir contributes exactly the cells it currently owns. The
    ``cell_id`` filters sit on the partition column, so each leg's scan
    lists/reads only its own directories — the union is over O(patches)
    legs, bounded by full-retrain/GC cadence."""
    primary = spark.read.parquet(_ann_data_path(path, meta))
    owners = _ann_cell_owners(meta)
    if not owners:
        return primary
    df = primary.filter(~F.col("cell_id").isin(sorted(owners)))
    by_dir: dict[str, list[int]] = {}
    for c, d in owners.items():
        by_dir.setdefault(d, []).append(c)
    for d, cells in sorted(by_dir.items()):
        df = df.unionByName(
            spark.read.parquet(f"{path}/{d}").filter(
                F.col("cell_id").isin(sorted(cells))
            )
        )
    return df


def _assigned_d2(vec_col: str, centroids: list) -> "F.Column":
    """Squared L2 distance of each row's vector to ITS OWN assigned
    centroid (cell_id indexes the broadcast centroid literal array) —
    the per-row residual whose mean is the drift statistic."""
    cent = F.element_at(
        F.array(*[F.lit(c).cast("array<double>") for c in centroids]),
        F.col("cell_id") + 1,
    )
    return F.aggregate(
        F.zip_with(as_double_array(vec_col), cent, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _drift_stats(data: DataFrame, vec_col: str | None, centroids: list) -> dict:
    """Per-cell counts (+ per-cell and corpus mean assigned-centroid
    residual when vectors are stored) in ONE bounded aggregate — n_cells
    output rows, manifest-sized metadata like the per-file stats. ``cell_d2``
    (recorded since the per-cell retrain landed) is what lets
    :func:`ann_cell_drift` rank individual cells and
    :func:`ann_retrain_cells` update the baseline for ONLY the cells it
    re-fit — older sidecars without it still serve the corpus-level
    report."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    if vec_col is not None:
        aggs.append(F.avg(_assigned_d2(vec_col, centroids)).alias("_d2"))
    rows = data.groupBy("cell_id").agg(*aggs).collect()  # bounded: n_cells
    counts = {str(int(r["cell_id"])): int(r["_n"]) for r in rows}
    total = sum(counts.values())
    mean_d2 = None
    out = {"cell_counts": counts, "mean_d2": mean_d2}
    if vec_col is not None:
        out["cell_d2"] = {str(int(r["cell_id"])): float(r["_d2"]) for r in rows}
        if total:
            out["mean_d2"] = float(sum(r["_d2"] * r["_n"] for r in rows) / total)
    return out


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem API — works
    for any scheme the cluster can reach (hdfs://, s3a://, file:/), not
    just the driver's local disk. (Shared impl: fsio.py.)"""
    fsio.write_text(spark, path, text)


def _fs_delete(spark, path: str) -> None:
    """Recursively delete a path through the Hadoop FileSystem API."""
    fsio.delete(spark, path, recursive=True)


def _fs_read_text(spark, path: str) -> str:
    return fsio.read_text(spark, path)


@dataclass
class AnnIndex:
    """A loaded (or just-built) servable ANN index.

    ``table`` is one DataFrame with the id, the cell assignment, and —
    depending on what was written — the float vector column (exact
    re-rank within probed cells) and/or the PQ codes column (ADC over
    the compressed representation). Centroids and codebooks are the
    kilobyte driver-side sidecar. All search methods route through the
    ``cell_id`` filter, which partition-prunes the scan because the
    table is written partitioned by cell_id."""

    table: DataFrame
    centroids: list
    id_col: str
    vec_col: str | None = None
    codebooks: list | None = None
    #: metadata columns persisted WITH the cell-partitioned rows
    #: (ann_write_index meta_cols= opt-in) — what filtered search
    #: evaluates its predicate against inside probed cells
    meta_cols: list | None = None

    def _probe_cells(self, query_vec: list[float], n_probe: int) -> list[int]:
        import math

        def cos(a, b) -> float:
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb) if na and nb else 0.0

        order = sorted(
            range(len(self.centroids)), key=lambda c: -cos(self.centroids[c], query_vec)
        )
        return order[:n_probe]

    def routed(self, query_vec: list[float], n_probe: int) -> DataFrame:
        """Rows of the probed cells only — `cell_id IN (...)` on the
        partition column, so the scan lists/reads only probed
        directories ((n_probe/n_cells) of the index bytes)."""
        return self.table.filter(
            F.col("cell_id").isin(self._probe_cells(query_vec, n_probe))
        )

    def pq_search(self, query_vec: list[float], k: int = 10, n_probe: int = 4) -> DataFrame:
        """IVF-PQ ADC top-k from the persisted representation: probed
        cells' m-byte codes scored by the broadcast LUT — zero fits,
        zero encode passes."""
        if self.codebooks is None:
            raise ValueError("index was written without PQ codes/codebooks")
        return pq_topk(
            self.routed(query_vec, n_probe).select(F.col(self.id_col), "pq_codes"),
            self.codebooks,
            self.id_col,
            query_vec,
            k=k,
        )

    def exact_search(self, query_vec: list[float], k: int = 10, n_probe: int = 4) -> DataFrame:
        """Exact cosine within probed cells (needs stored vectors)."""
        if self.vec_col is None:
            raise ValueError("index was written without float vectors")
        q = F.lit(query_vec).cast("array<double>")
        return (
            self.routed(query_vec, n_probe)
            .select(F.col(self.id_col), cosine(self.vec_col, q).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.col(self.id_col))
            .limit(k)
        )

    def _check_meta(self, what: str) -> None:
        if not self.meta_cols:
            raise ValueError(
                f"{what} needs an index written with meta_cols= (the "
                "predicate columns must be persisted with the "
                "cell-partitioned rows; re-write or rebuild the index "
                "with ann_write_index(..., meta_cols=[...]))"
            )

    def filtered_pq_search(
        self, query_vec: list[float], pred, k: int = 10, n_probe: int = 4
    ) -> DataFrame:
        """FILTERED ADC top-k from the persisted codes (r13 verdict
        task 4 — x146's probe strategy reaching the x52/x53 index): the
        predicate evaluates against the stored metadata columns INSIDE
        the probed cells, BEFORE the top-k truncation, then the
        survivors' m-byte codes score through the broadcast LUT — so a
        codes-only (no float payload) index serves the RAG shape
        'nearest k WHERE lang = en' at n_probe/n_cells scan cost, and
        recall degrades exactly like unfiltered IVF (cells are what is
        approximated; probing all cells recovers the exact filtered
        answer — pinned by the x49c planted-lossless oracle)."""
        if self.codebooks is None:
            raise ValueError("index was written without PQ codes/codebooks")
        self._check_meta("filtered_pq_search")
        return pq_topk(
            self.routed(query_vec, n_probe)
            .filter(pred)
            .select(F.col(self.id_col), "pq_codes"),
            self.codebooks,
            self.id_col,
            query_vec,
            k=k,
        )

    def filtered_exact_search(
        self, query_vec: list[float], pred, k: int = 10, n_probe: int = 4
    ) -> DataFrame:
        """Exact-cosine filtered top-k within probed cells (needs stored
        float vectors + meta_cols) — the re-rank-capable twin of
        :meth:`filtered_pq_search`; with n_probe = n_cells it IS the
        exact filtered answer."""
        if self.vec_col is None:
            raise ValueError("index was written without float vectors")
        self._check_meta("filtered_exact_search")
        q = F.lit(query_vec).cast("array<double>")
        return (
            self.routed(query_vec, n_probe)
            .filter(pred)
            .select(F.col(self.id_col), cosine(self.vec_col, q).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.col(self.id_col))
            .limit(k)
        )

    def range_search(
        self, query_vec: list[float], min_cosine: float, n_probe: int = 4
    ) -> DataFrame:
        """ALL rows with cosine >= min_cosine within probed cells — the
        FAISS range_search shape (dedup/decontamination wants 'everything
        this similar', not top-k). No limit, no global sort: a filter
        over the pruned scan, so the result can be arbitrarily large and
        stays distributed."""
        if self.vec_col is None:
            raise ValueError("index was written without float vectors")
        q = F.lit(query_vec).cast("array<double>")
        return self.routed(query_vec, n_probe).select(
            F.col(self.id_col), cosine(self.vec_col, q).alias("cos_sim")
        ).filter(F.col("cos_sim") >= min_cosine)

    def topk_join(
        self, queries: DataFrame, q_vec_col: str, q_id_col: str,
        k: int = 10, n_probe: int = 4,
    ) -> DataFrame:
        """Per-query-ROW serving (the streaming micro-batch shape) from
        the persisted index — no broadcast of the query side, no fits."""
        if self.vec_col is None:
            raise ValueError("index was written without float vectors")
        return cosine_topk_join_ivf_index(
            self.table.select(F.col(self.id_col), F.col(self.vec_col), "cell_id"),
            self.centroids,
            queries,
            self.vec_col,
            self.id_col,
            q_vec_col,
            q_id_col,
            k=k,
            n_probe=n_probe,
        )


def ann_write_index(
    path: str,
    assigned: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str | None = None,
    codes: DataFrame | None = None,
    codebooks: list | None = None,
    meta_cols: list[str] | None = None,
) -> None:
    """Persist an IVF / IVF-PQ index: the assigned rows as parquet
    ``partitionBy("cell_id")`` under ``path/data`` plus a JSON sidecar
    (centroids, codebooks, column names, format version) at
    ``path/_ann_index_meta.json``.

    ``vec_col=None`` writes a codes-only index — the 10^11-vector
    representation, m bytes/vector with no float payload; passing both
    keeps exact re-rank possible at n_probe cost. The write repartitions
    by cell_id first so each cell directory gets file-sized output
    instead of one sliver per upstream task (at 100 TB, target ~128 MiB
    files per cell like compact_parquet).

    ``meta_cols`` (r13 verdict task 4) persists metadata columns WITH
    the cell-partitioned rows — what :meth:`AnnIndex.filtered_pq_search`
    / :meth:`AnnIndex.filtered_exact_search` evaluate their predicate
    against inside probed cells; a codes-only index then serves
    filtered queries with zero join-back to the corpus. Bytes cost:
    the metadata columns per row (keep them to the filterable few —
    lang, quality, date — not the document body)."""
    import json

    spark = assigned.sparkSession
    for c in meta_cols or ():
        if c not in assigned.columns:
            raise ValueError(f"meta_cols column {c!r} not in assigned rows")
    cols = [F.col(id_col)]
    if vec_col is not None:
        # canonical stored element type is double (ivf_build's
        # convention): normalizing here keeps later appends from mixing
        # float/double parquet physical types within one index
        cols.append(as_double_array(vec_col).alias(vec_col))
    cols.extend(F.col(c) for c in meta_cols or ())
    data = assigned.select(*cols, "cell_id")
    if codes is not None:
        if codebooks is None:
            raise ValueError("codes given without codebooks — the sidecar would be unservable")
        data = data.join(codes.select(F.col(id_col), "pq_codes"), id_col)
    n_cells = len(centroids)
    (
        data.repartition(n_cells, "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{path}/{_ANN_DATA_DIR}")
    )
    meta = {
        "format": ANN_INDEX_FORMAT,
        "id_col": id_col,
        "vec_col": vec_col,
        "meta_cols": list(meta_cols) if meta_cols else None,
        "n_cells": n_cells,
        "centroids": centroids,
        "codebooks": codebooks,
        # build-time distribution fingerprint (per-cell counts + mean
        # assigned-centroid residual): what ann_drift_report compares
        # the live index against to decide the quantizers have decayed
        "drift_baseline": _drift_stats(data, vec_col, centroids),
    }
    # the sidecar is written LAST: a crash mid-write leaves no meta file,
    # so ann_load_index refuses the partial index (commit marker)
    _fs_write_text(spark, f"{path}/{_ANN_META_FILE}", json.dumps(meta))


def ann_assign_cells(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> "F.Column":
    """Nearest-centroid cell assignment as a pure expression: an array of
    (squared-L2 distance, cell_id) structs over the centroid literals,
    sort_array, take the head — the same argmin KMeans.transform computes
    (lowest cell_id wins exact ties, matching argmin-first; parity with
    the fitted model is test-pinned). Per-row cost is n_cells × d
    codegen'd arithmetic; no model object, no fit — exactly what an
    incremental-ingest job has after loading a persisted index."""
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        as_double_array(vec_col),
                        F.lit(c).cast("array<double>"),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("_d2"),
                F.lit(i).cast("int").alias("cell_id"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.sort_array(dists)[0]["cell_id"]


def ann_append_to_index(
    spark, path: str, new_vectors: DataFrame, vec_col: str | None = None
) -> None:
    """Incremental index maintenance — the `add` half of the serving
    lifecycle: route NEW vectors into an existing persisted index
    WITHOUT refitting anything. Cells come from ``ann_assign_cells``
    over the stored centroids; codes (when the index carries PQ) come
    from ``pq_encode`` with the stored codebooks (encode-only — no
    Lloyd); files append into the existing cell_id partitions. The
    sidecar is untouched: quantizers are frozen by design — incremental
    adds reuse them, and re-training is a separate full-rebuild
    maintenance job (the FAISS model). Caller owns id uniqueness (the
    st14 ingest gate is the dedup front door)."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    if meta.get("format") != ANN_INDEX_FORMAT:
        raise ValueError(f"unsupported ANN index format {meta.get('format')!r} at {path}")
    id_col, stored_vec = meta["id_col"], meta.get("vec_col")
    centroids, codebooks = meta["centroids"], meta.get("codebooks")
    # a codes-only index stores no vector column, but routing/encoding the
    # NEW rows still needs their vectors: vec_col names them (defaults to
    # the index's stored vector column when it has one)
    src_vec = vec_col or stored_vec
    if src_vec is None:
        raise ValueError(
            "codes-only index: pass vec_col= naming the vector column of "
            "new_vectors (needed to route and encode the new rows)"
        )
    if src_vec not in new_vectors.columns:
        raise ValueError(
            f"new_vectors must carry the vector column {src_vec!r} "
            f"(columns: {new_vectors.columns})"
        )
    cols = [F.col(id_col)]
    if stored_vec is not None:
        # match the index's canonical double element type regardless of
        # the arrival batch's (often float) vector type
        cols.append(as_double_array(src_vec).alias(stored_vec))
    # an index persisted with metadata columns requires every arrival
    # batch to carry them — a NULL-backfilled row would silently drop
    # out of filtered searches, which is worse than an error
    for c in meta.get("meta_cols") or ():
        if c not in new_vectors.columns:
            raise ValueError(
                f"index stores meta column {c!r}: new_vectors must carry it"
            )
        cols.append(F.col(c))
    data = new_vectors.select(
        *cols, ann_assign_cells(new_vectors, src_vec, centroids).alias("cell_id")
    )
    if codebooks is not None:
        codes = pq_encode(new_vectors, src_vec, id_col, codebooks)
        data = data.join(codes.select(F.col(id_col), "pq_codes"), id_col)
    owners = _ann_cell_owners(meta)
    if owners:
        # per-cell-retrained index: a cell's rows live in exactly ONE
        # dir, so new rows for a re-homed cell must append THERE. The
        # batch's distinct cells are a bounded collect (<= n_cells);
        # only dirs that actually receive rows are written.
        data = data.localCheckpoint()  # route once, write many legs
        batch_cells = {r["cell_id"] for r in data.select("cell_id").distinct().collect()}
        by_dir: dict[str, list[int]] = {}
        for c in batch_cells:
            if int(c) in owners:
                by_dir.setdefault(owners[int(c)], []).append(int(c))
        for d, cells in sorted(by_dir.items()):
            (
                data.filter(F.col("cell_id").isin(sorted(cells)))
                .repartition(len(cells), "cell_id")
                .write.mode("append")
                .partitionBy("cell_id")
                .parquet(f"{path}/{d}")
            )
        data = data.filter(~F.col("cell_id").isin(sorted(owners)))
    (
        data.repartition(len(centroids), "cell_id")
        .write.mode("append")
        .partitionBy("cell_id")
        .parquet(_ann_data_path(path, meta))
    )
    _ann_bump_mutation_seq(spark, path)


def ann_index_mutation_seq(spark, path: str) -> int:
    """Monotonic mutation counter from the index sidecar (0 for an index
    that has never been appended to / deleted from). A serving process
    polls THIS — one kilobyte JSON read — instead of re-listing or
    re-analyzing the data directory, and re-loads the index only when
    the counter moves (st18 exercises the loop)."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    return int(meta.get("mutation_seq", 0))


def _ann_bump_mutation_seq(spark, path: str) -> int:
    """Advance the sidecar's mutation counter after an append/delete.
    Quantizers (centroids/codebooks) are still frozen — only the
    counter field changes. The rewrite is last, after the data files
    land, so a reader that sees the new counter sees the new rows; on
    an object store the production form is a conditional put."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    meta["mutation_seq"] = int(meta.get("mutation_seq", 0)) + 1
    _fs_write_text(spark, f"{path}/{_ANN_META_FILE}", json.dumps(meta))
    return meta["mutation_seq"]


def ann_delete_from_index(spark, path: str, ids: DataFrame) -> None:
    """Delete rows from a persisted index by id — the third lifecycle
    operation after write and append. Affected CELLS are discovered with
    one bounded metadata join (distinct cell_ids of matching rows — at
    most n_cells values), then ONLY those cell partitions are rewritten
    (anti-join out the ids, dynamic partition overwrite); untouched
    cells' files are never read or written. ``ids`` is a DataFrame so a
    100 TB-scale deletion list joins distributed — never a driver-side
    IN-list of data size."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    idx = ann_load_index(spark, path)
    id_col = idx.id_col
    key = F.col(id_col) if id_col in ids.columns else F.col(ids.columns[0]).alias(id_col)
    del_ids = ids.select(key).distinct()
    # bounded collect: distinct cell ids touched (≤ n_cells values)
    touched = [
        r["cell_id"]
        for r in idx.table.join(del_ids, id_col, "left_semi")
        .select("cell_id")
        .distinct()
        .collect()
    ]
    if not touched:
        return
    keep = idx.table.filter(F.col("cell_id").isin(touched)).join(
        del_ids, id_col, "left_anti"
    )
    # materialize before overwriting the files the plan reads from (the
    # incremental_rollup_sink pattern)
    keep = keep.localCheckpoint()
    # dynamic overwrite only replaces partitions PRESENT in the output: a
    # cell whose rows are ALL deleted emits nothing and its directory
    # would silently survive — find fully-emptied cells (bounded: one row
    # per touched cell) and drop their directories explicitly
    surviving = {
        int(r["cell_id"]) for r in keep.select("cell_id").distinct().collect()
    }
    # per-cell-retrained index: each touched cell is rewritten inside the
    # dir that OWNS it (primary or a patch dir)
    owners = _ann_cell_owners(meta)
    by_dir: dict[str, list[int]] = {}
    for c in touched:
        d = owners.get(int(c), meta.get("data_dir", _ANN_DATA_DIR))
        by_dir.setdefault(d, []).append(int(c))
    for d, cells in sorted(by_dir.items()):
        alive = [c for c in cells if c in surviving]
        if alive:
            (
                keep.filter(F.col("cell_id").isin(alive))
                .repartition(len(alive), "cell_id")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("cell_id")
                .parquet(f"{path}/{d}")
            )
        for cell in cells:
            if cell not in surviving:
                _fs_delete(spark, f"{path}/{d}/cell_id={cell}")
    _ann_bump_mutation_seq(spark, path)


def ann_compact_index(spark, path: str, max_files_per_cell: int = 4) -> list[int]:
    """OPTIMIZE for the index: appends leave one file per (append, cell)
    and a long-lived index accumulates slivers that poison probe-time
    listing. Rewrites ONLY cells whose file count exceeds
    ``max_files_per_cell`` (one task per rewritten cell, dynamic
    partition overwrite — untouched cells keep their files). File counts
    come from a distributed input_file_name() pass, so no driver-side
    directory walking of a remote store. Returns the rewritten cell ids.
    Answers must be layout-invariant (oracle-checked by x56)."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    idx = ann_load_index(spark, path)
    counts = (
        idx.table.select("cell_id", F.input_file_name().alias("_f"))
        .distinct()
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_files"))
    )
    # bounded collect: one row per cell
    hot = [
        int(r["cell_id"])
        for r in counts.filter(F.col("n_files") > max_files_per_cell).collect()
    ]
    if not hot:
        return []
    rewrite = idx.table.filter(F.col("cell_id").isin(hot)).localCheckpoint()
    # per-cell-retrained index: each hot cell is rewritten inside the dir
    # that OWNS it (primary or a patch dir)
    owners = _ann_cell_owners(meta)
    by_dir: dict[str, list[int]] = {}
    for c in hot:
        by_dir.setdefault(owners.get(c, meta.get("data_dir", _ANN_DATA_DIR)), []).append(c)
    for d, cells in sorted(by_dir.items()):
        (
            rewrite.filter(F.col("cell_id").isin(sorted(cells)))
            .repartition(len(cells), "cell_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell_id")
            .parquet(f"{path}/{d}")
        )
    return sorted(hot)


def ann_drift_report(
    spark,
    path: str,
    residual_threshold: float = 1.5,
    skew_threshold: float = 3.0,
) -> dict:
    """Has the appended distribution outgrown the FROZEN quantizers?
    Compares the live index against the build-time fingerprint the
    sidecar records (per-cell counts + mean assigned-centroid residual)
    — one bounded n_cells aggregate, no search, no refit:

    * ``residual_ratio`` = mean residual now / at build. Appends drawn
      from the build distribution keep it ~1; a drifted cluster lands
      far from every centroid and inflates it.
    * ``skew_ratio`` = cell-count skew now / at build (skew = max cell
      count x n_cells / total). Drift concentrates: the drifted mass
      all routes to whichever centroid is least wrong.

    ``drifted`` is True when either ratio crosses its threshold — the
    signal to schedule :func:`ann_retrain_index` (recall decays with
    residual: vectors far from their centroid are exactly the ones
    probing misroutes). Counts-only (codes-only index): residual is
    None and only skew can trip."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    base = meta.get("drift_baseline")
    if not base:
        raise ValueError(
            f"index at {path} predates drift baselines; retrain (or rewrite) "
            "to record one"
        )
    idx = ann_load_index(spark, path)
    now = _drift_stats(idx.table, idx.vec_col, idx.centroids)
    n_cells = int(meta["n_cells"])

    def skew(counts: dict) -> float:
        total = sum(counts.values())
        return (max(counts.values()) * n_cells / total) if total else 1.0

    skew_b, skew_n = skew(base["cell_counts"]), skew(now["cell_counts"])
    residual_ratio = None
    if base.get("mean_d2") and now.get("mean_d2") is not None:
        residual_ratio = now["mean_d2"] / base["mean_d2"]
    skew_ratio = skew_n / skew_b if skew_b else 1.0
    return {
        "n_build": sum(base["cell_counts"].values()),
        "n_now": sum(now["cell_counts"].values()),
        "mean_d2_build": base.get("mean_d2"),
        "mean_d2_now": now.get("mean_d2"),
        "residual_ratio": residual_ratio,
        "skew_build": skew_b,
        "skew_now": skew_n,
        "skew_ratio": skew_ratio,
        "drifted": bool(
            (residual_ratio is not None and residual_ratio > residual_threshold)
            or skew_ratio > skew_threshold
        ),
    }


def ann_retrain_index(
    spark, path: str, seed: int = 101, n_cells: int | None = None
) -> int:
    """Re-fit the quantizers and republish — the maintenance job x54's
    frozen-quantizer contract defers to (FAISS's train-again model):
    re-run the coarse k-means over the CURRENT rows (the appended
    distribution now shapes the cells), re-train codebooks at the same
    (m, ks) when the index carries PQ, re-encode every row, and write
    the result to a FRESH ``data-r<seq>`` directory. The sidecar
    rewrite is the publish point: it flips centroids/codebooks/data_dir
    and bumps ``mutation_seq`` in one file replace, so a poller (st18's
    reload loop) picks the retrained index up exactly like any other
    mutation, while a reader still holding the previous meta keeps
    serving the superseded directory — old versions stay readable (the
    superseded dir is garbage a later cleanup reclaims; same caveat as
    snapshot vacuum). A new drift baseline is recorded, so
    :func:`ann_drift_report` measures the NEXT drift from here.

    Needs stored float vectors (codes cannot re-route or re-encode
    themselves) — codes-only indexes refuse; keep a vector-bearing
    archive to retrain from, exactly FAISS's constraint. Returns the
    new mutation_seq."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    if meta.get("format") != ANN_INDEX_FORMAT:
        raise ValueError(f"unsupported ANN index format {meta.get('format')!r} at {path}")
    vec_col, id_col = meta.get("vec_col"), meta["id_col"]
    if vec_col is None:
        raise ValueError(
            "codes-only index: PQ codes cannot re-route or re-encode "
            "themselves — retrain needs the stored float vectors"
        )
    idx = ann_load_index(spark, path)
    # pin the rows before re-fitting: the rewrite targets a FRESH
    # directory, so reads of the old files stay valid during the build
    vecs = idx.table.select(F.col(id_col), F.col(vec_col))
    # re-sizing is part of re-training: n_cells ~ sqrt(N) drifts with N
    # (FAISS retrains into a larger nlist as the corpus grows)
    n_cells = int(meta["n_cells"]) if n_cells is None else int(n_cells)
    assigned, centroids = ivf_build(vecs, vec_col, id_col, n_cells, seed)
    data = assigned.select(F.col(id_col), as_double_array(vec_col).alias(vec_col), "cell_id")
    codebooks = None
    if meta.get("codebooks") is not None:
        m, ks = len(meta["codebooks"]), len(meta["codebooks"][0])
        codebooks = pq_train(vecs, vec_col, id_col, m=m, ks=ks, seed=seed)
        codes = pq_encode(vecs, vec_col, id_col, codebooks)
        data = data.join(codes.select(F.col(id_col), "pq_codes"), id_col)
    new_seq = int(meta.get("mutation_seq", 0)) + 1
    new_dir = f"data-r{new_seq}"
    (
        data.repartition(n_cells, "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{path}/{new_dir}")
    )
    meta.update(
        {
            "n_cells": n_cells,
            "centroids": centroids,
            "codebooks": codebooks,
            "data_dir": new_dir,
            "mutation_seq": new_seq,
            "drift_baseline": _drift_stats(data, vec_col, centroids),
        }
    )
    # a FULL retrain re-homes every cell into the fresh dir: any per-cell
    # patch dirs are superseded (ann_gc_index reclaims them)
    meta.pop("patches", None)
    _fs_write_text(spark, f"{path}/{_ANN_META_FILE}", json.dumps(meta))
    return new_seq


def ann_cell_drift(spark, path: str, residual_threshold: float = 1.5) -> dict:
    """Per-CELL drift report — the targeting half of
    :func:`ann_retrain_cells`: for every cell, the mean assigned-centroid
    residual NOW vs the per-cell baseline the sidecar records
    (``drift_baseline.cell_d2``, written at index build / retrain since
    the per-cell machinery landed). One bounded n_cells aggregate.
    Returns ``{"cells": {cid: {n_build, n_now, d2_build, d2_now,
    ratio}}, "drifted_cells": [...]}`` — cells whose ratio crosses the
    threshold are the retrain candidates: drift concentrates (appended
    mass routes to whichever centroids are least wrong), so usually a
    handful of cells carry all of it."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    base = meta.get("drift_baseline") or {}
    if not base.get("cell_d2"):
        raise ValueError(
            f"index at {path} has no per-cell drift baseline; run a full "
            "ann_retrain_index (or rewrite) to record one"
        )
    idx = ann_load_index(spark, path)
    if idx.vec_col is None:
        raise ValueError("codes-only index: per-cell residuals need stored vectors")
    now = _drift_stats(idx.table, idx.vec_col, idx.centroids)
    cells: dict[str, dict] = {}
    for cid in sorted(set(base["cell_d2"]) | set(now.get("cell_d2", {})), key=int):
        b, nw = base["cell_d2"].get(cid), now.get("cell_d2", {}).get(cid)
        ratio = (nw / b) if (b and nw is not None) else None
        cells[cid] = {
            "n_build": base.get("cell_counts", {}).get(cid, 0),
            "n_now": now["cell_counts"].get(cid, 0),
            "d2_build": b,
            "d2_now": nw,
            "ratio": ratio,
        }
    drifted = sorted(
        int(c)
        for c, v in cells.items()
        if v["ratio"] is not None and v["ratio"] > residual_threshold
    )
    return {"cells": cells, "drifted_cells": drifted}


def ann_retrain_cells(
    spark, path: str, cells: list[int] | None = None,
    residual_threshold: float = 1.5, seed: int = 101,
) -> int | None:
    """PER-CELL retrain — the big-index refinement of
    :func:`ann_retrain_index` (r10 verdict task 4): at 10^11 vectors you
    retrain the DRIFTED cells, not the index. The named cells' rows
    (default: :func:`ann_cell_drift`'s crossers) are re-split by a local
    k-means into the SAME number of cells, the new sub-centroids replace
    those cell ids' entries in the sidecar, and the re-routed rows land
    in a fresh ``data-p<seq>`` PATCH dir that takes ownership of exactly
    those cells — every untouched cell's files stay byte-identical in
    their current dir, and the compute is O(drifted-cell rows), never
    O(N). PQ codes are CARRIED, not re-encoded: codes depend only on the
    (unchanged, global) codebooks, so only the routing changes.

    The sidecar rewrite is the one-file publish point, exactly like the
    full retrain: centroids for the retrained cells, the patch list
    (kept non-overlapping — a re-patched cell leaves its previous
    entry), a refreshed per-cell drift baseline for ONLY the retrained
    cells (untouched cells keep measuring from their original fit), and
    the mutation_seq bump st18's poller watches. Readers holding the
    old meta keep serving the old routing; :func:`ann_gc_index` keeps
    every dir the patch list references and reclaims superseded ones.
    Codes-only indexes refuse (FAISS's constraint: codes cannot
    re-route themselves). Returns the new mutation_seq, or None when no
    cell needs retraining."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    if meta.get("format") != ANN_INDEX_FORMAT:
        raise ValueError(f"unsupported ANN index format {meta.get('format')!r} at {path}")
    if meta.get("vec_col") is None:
        raise ValueError(
            "codes-only index: PQ codes cannot re-route themselves — "
            "per-cell retrain needs the stored float vectors"
        )
    base = meta.get("drift_baseline") or {}
    if not base.get("cell_d2"):
        raise ValueError(
            f"index at {path} has no per-cell drift baseline; run a full "
            "ann_retrain_index first to record one"
        )
    if cells is None:
        cells = ann_cell_drift(spark, path, residual_threshold)["drifted_cells"]
    cells = sorted({int(c) for c in cells})
    if not cells:
        return None
    n_cells = int(meta["n_cells"])
    bad = [c for c in cells if c < 0 or c >= n_cells]
    if bad:
        raise ValueError(f"cell ids {bad} outside [0, {n_cells})")
    idx = ann_load_index(spark, path)
    sub = idx.table.filter(F.col("cell_id").isin(cells))
    vecs = sub.select(F.col(idx.id_col), F.col(idx.vec_col))
    dim = len(meta["centroids"][0])
    local_cents = None
    if len(cells) > 1:
        local_cents = ivf_build(
            vecs, idx.vec_col, idx.id_col, n_cells=len(cells), seed=seed
        )
        # Spark's random-init KMeans DE-DUPLICATES its sampled init
        # points, so duplicate-heavy cells can yield FEWER than k
        # centers (r11 verdict: k=2 over 2 distinct repeated points →
        # 1 center). A short result here would misalign the
        # local-cell → cells[i] remap below; fall back to the
        # deterministic closed-form path instead of crashing.
        if len(local_cents[1]) < len(cells):
            local_cents = None
    if local_cents is not None:
        assigned, local_cents = local_cents
        # local cell i of the re-split becomes global cell cells[i]
        remap = F.element_at(
            F.array(*[F.lit(c) for c in cells]), F.col("cell_id") + 1
        ).cast("int")
        data = assigned.select(
            F.col(idx.id_col),
            as_double_array(idx.vec_col).alias(idx.vec_col),
            remap.alias("cell_id"),
        )
        if idx.codebooks is not None:
            data = data.join(sub.select(F.col(idx.id_col), "pq_codes"), idx.id_col)
        new_cents = {c: list(local_cents[i]) for i, c in enumerate(cells)}
    else:
        # Closed-form per-cell re-centering: each drifted cell keeps its
        # current assignment and its centroid moves to the mean of its
        # rows (Lloyd's fixpoint for k=1, applied independently per
        # cell). Deterministic and duplicate-proof — the k=1 path and
        # the kmeans-collapse fallback both land here.
        mean_rows = (
            sub.groupBy("cell_id")
            .agg(*[F.avg(F.col(idx.vec_col)[i]).alias(f"_m{i}") for i in range(dim)])
            .collect()  # bounded: one row per retrained cell
        )
        new_cents = {
            int(r["cell_id"]): [float(r[f"_m{i}"]) for i in range(dim)]
            for r in mean_rows
        }
        missing = [c for c in cells if c not in new_cents]
        if missing:
            raise ValueError(f"cells {missing} have no rows to retrain on")
        keep = [F.col(idx.id_col), as_double_array(idx.vec_col).alias(idx.vec_col)]
        if idx.codebooks is not None:
            keep.append(F.col("pq_codes"))
        data = sub.select(*keep, F.col("cell_id").cast("int").alias("cell_id"))
    new_seq = int(meta.get("mutation_seq", 0)) + 1
    new_dir = f"data-p{new_seq}"
    (
        data.repartition(len(cells), "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{path}/{new_dir}")
    )
    centroids = [list(c) for c in meta["centroids"]]
    for c in cells:
        centroids[c] = new_cents[c]
    fresh = _drift_stats(data, idx.vec_col, centroids)
    counts = dict(base.get("cell_counts", {}))
    d2 = dict(base["cell_d2"])
    for c in cells:
        k = str(c)
        counts.pop(k, None)
        d2.pop(k, None)
        if k in fresh["cell_counts"]:
            counts[k] = fresh["cell_counts"][k]
            d2[k] = fresh["cell_d2"][k]
    total = sum(counts.values())
    mean = (
        float(sum(d2[k] * counts[k] for k in d2) / total) if total and d2 else None
    )
    patches = []
    for p in meta.get("patches", []) or []:
        left = [int(c) for c in p["cells"] if int(c) not in set(cells)]
        if left:
            patches.append({"dir": p["dir"], "cells": left})
    patches.append({"dir": new_dir, "cells": cells})
    meta.update(
        {
            "centroids": centroids,
            "patches": patches,
            "mutation_seq": new_seq,
            "drift_baseline": {
                "cell_counts": counts,
                "cell_d2": d2,
                "mean_d2": mean,
            },
        }
    )
    # the one-file publish: a reader sees the new routing, the new patch
    # ownership, and the bumped mutation_seq together or not at all
    _fs_write_text(spark, f"{path}/{_ANN_META_FILE}", json.dumps(meta))
    return new_seq


def ann_consolidate_index(spark, path: str) -> int | None:
    """Fold the accumulated per-cell retrain patches (r11 verdict task
    7) into ONE patch dir: repeated :func:`ann_retrain_cells` runs leave
    a ``data-p<seq>`` dir per retrain and the read plan pays one union
    leg per outstanding patch — this maintenance job rewrites ONLY the
    patched cells' rows (read straight from their owning dirs, the
    primary is never touched) into a single consolidated dir, flips the
    sidecar's patch list to the one entry, and leaves the superseded
    dirs for :func:`ann_gc_index`. Routing, centroids, PQ codes and the
    drift baseline are all content-invariant — this is layout
    maintenance, the index serves identically before and after (the
    ANN analog of x129's bin-packing). Returns the new mutation_seq,
    or None with fewer than two outstanding patches (nothing to fold)."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    if meta.get("format") != ANN_INDEX_FORMAT:
        raise ValueError(f"unsupported ANN index format {meta.get('format')!r} at {path}")
    patches = meta.get("patches") or []
    if len(patches) < 2:
        return None
    df = None
    all_cells: set[int] = set()
    for p in patches:
        cells = sorted(int(c) for c in p["cells"])
        all_cells.update(cells)
        leg = spark.read.parquet(f"{path}/{p['dir']}").filter(
            F.col("cell_id").isin(cells)
        )
        df = leg if df is None else df.unionByName(leg)
    new_seq = int(meta.get("mutation_seq", 0)) + 1
    new_dir = f"data-p{new_seq}"
    (
        df.repartition(max(1, len(all_cells)), "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{path}/{new_dir}")
    )
    meta.update(
        {
            "patches": [{"dir": new_dir, "cells": sorted(all_cells)}],
            "mutation_seq": new_seq,
        }
    )
    # one-file publish, exactly like retrain: readers holding the old
    # meta keep serving the old patch dirs until GC
    _fs_write_text(spark, f"{path}/{_ANN_META_FILE}", json.dumps(meta))
    return new_seq


def ann_gc_index(spark, path: str) -> list[str]:
    """Reclaim data directories SUPERSEDED by a retrain (the sidecar
    points elsewhere): every reader that loads from the current meta
    never touches them, so this is safe once no long-lived reader still
    holds a pre-retrain AnnIndex — a caller-scheduled maintenance job
    with exactly snapshot vacuum's contract (retention must exceed
    reader lifetime). Never deletes the current data dir. Returns the
    deleted directory names."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    keep = {meta.get("data_dir", _ANN_DATA_DIR)}
    keep.update(p["dir"] for p in meta.get("patches", []) or [])
    deleted = []
    for n in fsio.list_names(spark, path):
        if n in keep:
            continue
        if n == _ANN_DATA_DIR or n.startswith("data-r") or n.startswith("data-p"):
            _fs_delete(spark, f"{path}/{n}")
            deleted.append(n)
    return sorted(deleted)


def ann_load_index(spark, path: str) -> AnnIndex:
    """Load a persisted index with ZERO refits and zero encode passes:
    one JSON sidecar read + one parquet analysis. The returned index
    serves immediately — the whole point is that a serving restart costs
    a file open, not the most expensive job in the system."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    if meta.get("format") != ANN_INDEX_FORMAT:
        raise ValueError(
            f"unsupported ANN index format {meta.get('format')!r} at {path} "
            f"(this build reads format {ANN_INDEX_FORMAT})"
        )
    table = _ann_plan_table(spark, path, meta)
    return AnnIndex(
        table=table,
        centroids=meta["centroids"],
        id_col=meta["id_col"],
        vec_col=meta.get("vec_col"),
        codebooks=meta.get("codebooks"),
        meta_cols=meta.get("meta_cols"),
    )


def ann_selectivity_from_stats(
    spark, root: str, col: str, lo, hi, version: int | None = None
) -> float:
    """Range-predicate selectivity estimate for ``col BETWEEN lo AND hi``
    over a SNAPSHOT-TABLE corpus, from its manifest stats alone — ZERO
    Spark jobs, zero file opens (r13 verdict task 4, closing x146's
    two-full-count fallback inside serving loops): every writer records
    per-file ``__rows`` and [min, max] for its stats columns, so the
    estimate is the rows-weighted sum of per-file overlap fractions
    under the classic assumed-uniform-within-range model (the estimator
    every cost-based optimizer uses for range predicates). Numeric
    bounds interpolate; non-numeric or missing bounds count their file
    FULLY — an upper-bound lean, which errs toward the probe strategy
    (approximate-but-cheap) rather than understating and silently
    brute-forcing an unselective predicate. Pass the result as
    ``cosine_topk_filtered(selectivity=...)`` — the strategy pick then
    costs one kilobyte-scale metadata read per query instead of two
    corpus scans."""
    from nagios_custom_etl_spark.operators import snapshots as S

    v = S.latest_version(spark, root) if version is None else version
    m = S._read_manifest(spark, root, v)
    stats = m.get("stats", {})
    total = 0
    matched = 0.0
    for f in m["files"]:
        s = stats.get(f, {})
        rows = s.get("__rows")
        if rows is None:
            raise ValueError(
                f"file {f!r} has no recorded row count; re-commit (compact) "
                "to record stats before estimating from the manifest"
            )
        rows = int(rows)
        if rows == 0:
            continue
        total += rows
        ent = s.get(col)
        if not ent or ent[0] is None or ent[1] is None:
            matched += rows  # unknown bounds: count fully (upper bound)
            continue
        mn, mx = ent
        try:
            fmn, fmx, flo, fhi = float(mn), float(mx), float(lo), float(hi)
        except (TypeError, ValueError):
            # non-numeric column: overlap check only, no interpolation
            matched += rows if not (mx < lo or mn > hi) else 0.0
            continue
        if fmx < flo or fmn > fhi:
            continue
        if all(float(x).is_integer() for x in (fmn, fmx, flo, fhi)):
            # discrete (integer) uniformity: inclusive unit widths — a
            # point predicate lo == hi gets 1/(mx-mn+1), not the zero
            # width the continuous form would assign
            ol = min(fhi, fmx) - max(flo, fmn) + 1.0
            span = fmx - fmn + 1.0
        else:
            ol = min(fhi, fmx) - max(flo, fmn)
            span = fmx - fmn
        if span <= 0:
            matched += rows  # point file inside the range
        else:
            matched += rows * min(1.0, max(0.0, ol / span))
    return matched / total if total else 0.0


def ann_sync_from_changes(
    spark, path: str, table_root: str, vec_col: str | None = None
) -> int:
    """Keep a persisted ANN index FOLLOWING a mutating snapshot-table
    corpus through the table's CHANGE DATA FEED — the index-maintenance
    loop every RAG stack runs (Databricks' vector-sync shape): consume
    ``read_changes`` over ``(synced_version, latest]``, net each id to
    its FINAL transition in the range (an insert later deleted nets to
    nothing; an update nets to its last post-image), then apply as
    delete-all-touched-ids + append-final-rows against the index and
    record the new high-water version in the sidecar.

    Cost is O(transitions) — never a corpus rescan or an index rebuild:
    deletes rewrite only the touched cells, appends route through the
    frozen quantizers. CRASH-SAFE/idempotent by construction: the
    high-water mark advances only after both legs land, and a replayed
    range first deletes every touched id (including rows a crashed
    attempt already appended) before re-appending — the same
    delete-covers-duplicates algebra st14's ingest uses. Refusals ride
    read_changes' own: an unrecorded row-mutating version or a vacuumed
    range fails loudly instead of desyncing the index. Returns the new
    synced version."""
    import json

    from pyspark.sql import Window

    from nagios_custom_etl_spark.operators import snapshots as S

    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    if meta.get("format") != ANN_INDEX_FORMAT:
        raise ValueError(f"unsupported ANN index format at {path}")
    since = int(meta.get("synced_version", 0))
    latest = S.latest_version(spark, table_root)
    if latest <= since:
        return since
    id_col = meta["id_col"]
    feed = S.read_changes(spark, table_root, since, latest)
    # net per id: the LAST transition wins; within one version a
    # post-image outranks its pre-image (an update's final state)
    is_add = F.col("_change_type").isin("insert", "update_postimage")
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_commit_version"), F.desc(is_add.cast("int"))
    )
    final = (
        feed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    final = final.localCheckpoint()  # the delete leg rewrites files the
    # feed legs may plan from; pin the rows first (the index-delete
    # pattern ann_delete_from_index itself uses)
    touched_ids = final.select(id_col).distinct()
    ann_delete_from_index(spark, path, touched_ids)
    adds = final.filter(is_add)
    if not adds.isEmpty():
        # codes-only indexes need the TABLE's vector column named (the
        # ann_append_to_index contract); vector indexes default to the
        # stored column name
        ann_append_to_index(
            spark, path, adds, vec_col=vec_col or meta.get("vec_col")
        )
    # re-read: the delete/append legs bumped the sidecar's mutation seq
    meta = json.loads(_fs_read_text(spark, f"{path}/{_ANN_META_FILE}"))
    meta["synced_version"] = int(latest)
    _fs_write_text(spark, f"{path}/{_ANN_META_FILE}", json.dumps(meta))
    return int(latest)
