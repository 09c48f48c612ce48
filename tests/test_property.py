"""Property-based tests (hypothesis): the scalar layer's semantics pinned
against pure-Python reference implementations on randomized inputs.
Each property generates a batch of examples and runs ONE Spark job over
the whole batch (per-example Spark roundtrips would be seconds each)."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

from nagios_custom_etl_spark.functions.scalar import canonical_row_hash, numeric_normalize
from nagios_custom_etl_spark.functions.text import tokens


def ref_numeric_normalize(s: str) -> float | None:
    """The reference's convert_to_int semantics (extract.py:53-61):
    float(); NaN -> None; ValueError -> None; f'{v:.2f}' re-parse."""
    try:
        v = float(s)
    except ValueError:
        return None
    if math.isnan(v):
        return None
    return float(f"{v:.2f}")


finite_floats = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)
numeric_strings = st.one_of(
    finite_floats.map(repr),
    st.just("NaN"),
    st.text(alphabet="abcxyz-., ", min_size=0, max_size=8),
)


@settings(max_examples=20, deadline=None)
@given(st.lists(numeric_strings, min_size=1, max_size=50))
def test_numeric_normalize_matches_reference(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, s string")
    got = {
        r["i"]: r["out"]
        for r in df.select("i", numeric_normalize("s").alias("out")).collect()
    }
    for i, v in enumerate(values):
        expected = ref_numeric_normalize(v)
        if expected is None:
            assert got[i] is None, f"{v!r}: expected null, got {got[i]}"
        else:
            assert got[i] == expected, f"{v!r}: {got[i]} != {expected}"


def test_numeric_normalize_rounds_the_binary_value_on_ties(spark):
    """Decimal ties at the third place: the double's exact value decides
    (2.675 is 2.67499..., 549755813888.285 is ...28503...), an exact binary
    tie (0.125) goes half-even, and huge or infinite values pass through."""
    values = [
        "2.675", "-2.675", "1.005", "0.015", "-0.005", "-0.001", "0.125",
        "0.375", "549755813888.285", "1234567.125", "12", "0.1", "1e300",
        "-1e300", "1e-300", "9007199254740993.5", "inf", "-inf", "NaN", "x",
    ]
    df = spark.createDataFrame(list(enumerate(values)), "i long, s string")
    got = dict(df.select("i", numeric_normalize("s")).collect())
    assert [got[i] for i in range(len(values))] == [
        ref_numeric_normalize(v) for v in values
    ]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet=" abçñ中\t", min_size=0, max_size=30), min_size=1, max_size=30))
def test_tokens_match_python_split(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["toks"] for r in df.select("i", tokens("t").alias("toks")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == t.split(), f"{t!r}: {got[i]} != {t.split()}"


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-(2**31), 2**31), st.text(min_size=0, max_size=20)),
        min_size=1,
        max_size=20,
    )
)
def test_canonical_row_hash_matches_python_sha256(spark, rows):
    import hashlib

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "i long, a long, b string"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select("i", canonical_row_hash("a", "b").alias("h")).collect()
    }
    for i, (a, b) in enumerate(rows):
        expected = hashlib.sha256(f"{a}|{b}".encode()).hexdigest()
        assert got[i] == expected


def ref_shingle_jaccard(texts: list[str], n: int = 3, threshold: float = 0.3):
    """Pure-Python reference for ngram_jaccard_pairs."""
    def shingles(t: str) -> set:
        toks = t.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = [shingles(t) for t in texts]
    out = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = len(sets[i] & sets[j])
            if inter == 0:
                continue
            jac = inter / (len(sets[i]) + len(sets[j]) - inter)
            if jac >= threshold:
                out[(i, j)] = jac
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta zero one two".split()), min_size=1, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_matches_python_reference(spark, texts):
    from nagios_custom_etl_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 0.3, 3).collect()
    }
    expected = ref_shingle_jaccard(texts, 3, 0.3)
    assert got.keys() == expected.keys()
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


@settings(max_examples=3, deadline=None)
@given(st.integers(min_value=2, max_value=12), st.randoms(use_true_random=False))
def test_connected_components_long_chain(spark, chain_len, rng):
    """Adversarial-diameter guard for the documented O(diameter) claim:
    a path graph of ``chain_len`` edges over shuffled node labels needs
    up to ``chain_len`` min-label propagation rounds; with
    ``max_iterations >= diameter`` every node must converge to the
    component minimum."""
    from nagios_custom_etl_spark.operators.dedup import connected_components

    nodes = list(range(100, 100 + chain_len + 1))
    rng.shuffle(nodes)  # min label lands at a random chain position
    edges = [(nodes[i], nodes[i + 1]) for i in range(chain_len)]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs, max_iterations=chain_len + 1).collect()
    }
    assert got == {n: min(nodes) for n in nodes}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=120
    )
)
def test_global_row_ids_match_sorted_enumerate(spark, keys):
    """global_row_ids numbering over (key asc, uid asc) must equal plain
    Python sorted+enumerate on any key multiset (ties broken by the
    unique id), at any partition count."""
    from nagios_custom_etl_spark.operators.ids import global_row_ids

    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "uid long, k long").repartition(7)
    got = {
        r["uid"]: r["row_id"]
        for r in global_row_ids(df, ["k", "uid"], num_partitions=5).collect()
    }
    expected = {
        uid: n for n, (k, uid) in enumerate(sorted((k, uid) for uid, k in rows))
    }
    assert got == expected


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=1, max_value=12),
)
def test_resize_bmp_dims_formula_any_shape(w, h, fill, max_dim):
    """Pure-Python property: for ANY source dims/fill/max_dim the resize
    output re-decodes with exactly the integer-arithmetic target dims,
    and a no-op resize is byte-identical."""
    from nagios_custom_etl_spark.operators.multimodal import (
        _decode_bmp,
        _encode_bmp,
        _resize_bmp,
    )

    src = _encode_bmp(w, h, fill)
    out = _resize_bmp(src, max_dim)
    m = max(w, h)
    if m <= max_dim:
        assert out == src
        return
    nw, nh = max(1, w * max_dim // m), max(1, h * max_dim // m)
    ow, oh, checksum = _decode_bmp(out)
    assert (ow, oh) == (nw, nh)
    # constant-fill source => every sampled pixel byte is `fill`,
    # zero row padding => checksum is exactly fill*3*nw*nh
    assert checksum == fill * 3 * nw * nh


def ref_morton(vals: list[int], bits: int) -> int:
    z = 0
    n = len(vals)
    for i, v in enumerate(vals):
        v &= (1 << bits) - 1
        for b in range(bits):
            z |= ((v >> b) & 1) << (b * n + i)
    return z


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2**20), st.integers(0, 2**20)),
        min_size=1,
        max_size=40,
    ),
    st.integers(1, 12),
)
def test_zorder_key_matches_python_morton(spark, pairs, bits):
    """zorder_key's static bit expression equals the pure-Python Morton
    interleave for any widths/bit budgets (values wider than `bits` are
    masked identically)."""
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.operators.maintenance import zorder_key

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i long, a long, b long"
    )
    got = {
        r["i"]: r["z"]
        for r in df.select(
            "i", zorder_key([F.col("a"), F.col("b")], bits=bits).alias("z")
        ).collect()
    }
    for i, (a, b) in enumerate(pairs):
        assert got[i] == ref_morton([a, b], bits), (a, b, bits)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=60),
    st.lists(st.tuples(st.integers(0, 5), st.text("xyz", min_size=1, max_size=3)),
             min_size=1, max_size=8),
)
def test_salted_join_equals_plain_join_property(spark, big_rows, small_rows):
    """salted_join must be semantics-preserving for ANY data, including
    duplicate keys on both sides (row multiplicity must match the plain
    join exactly) and keys present on only one side."""
    from nagios_custom_etl_spark.operators.joins import salted_join

    big = spark.createDataFrame(big_rows, "k long, v long")
    small = spark.createDataFrame(small_rows, "k long, s string")
    plain = sorted(map(tuple, big.join(small, "k").collect()))
    salted = sorted(map(tuple, salted_join(big, small, "k", salt_buckets=4).collect()))
    assert salted == plain
