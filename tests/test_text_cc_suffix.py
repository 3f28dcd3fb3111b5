"""Text kernels, connected components, and suffix-array LCS."""

import duckdb
import numpy as np
from pyspark.sql import functions as F

from go_lsh_spark.functions import text as T
from go_lsh_spark.operators.connected_components import connected_components
from go_lsh_spark.operators.suffix import (
    longest_common_substring,
    suffix_array,
)


# -- text kernels -----------------------------------------------------------


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcde",), ("ab",), ("",)], "t string")
    got = df.select(T.char_shingles("t", 3).alias("s")).collect()
    assert got[0].s == ["abc", "bcd", "cde"]
    assert got[1].s == []
    assert got[2].s == []


def test_md5_int64_matches_duckdb(spark):
    texts = ["hello", "world", "", "the quick brown fox"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.h for r in df.select(T.md5_int64("t").alias("h")).collect()]
    exp = [
        duckdb.sql(
            f"select CAST(('0x'||substring(md5('{t}'),1,15)) AS BIGINT)"
        ).fetchone()[0]
        for t in texts
    ]
    assert got == exp


def test_minhash_jaccard_estimate(spark):
    a = "the quick brown fox jumps over the lazy dog " * 3
    b = "the quick brown fox jumps over the lazy cat " * 3
    c = "zxqwv jkmnp aeiou bcdfg hjklz qwert yuiop asdfg"
    df = spark.createDataFrame([(a, b), (a, c), (a, a)], "x string, y string")
    sig = lambda col: T.minhash_signature(col, 5, 128)  # noqa: E731
    got = df.select(
        T.jaccard_estimate(sig("x"), sig("y")).alias("j")
    ).collect()
    ja_ab, ja_ac, ja_aa = (r.j for r in got)

    def true_jac(x, y, k=5):
        sx = {x[i : i + k] for i in range(len(x) - k + 1)}
        sy = {y[i : i + k] for i in range(len(y) - k + 1)}
        return len(sx & sy) / len(sx | sy)

    assert abs(ja_ab - true_jac(a, b)) < 0.12
    assert ja_ac < 0.1
    assert ja_aa == 1.0


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat",), ("hello, world! 123",), ("",)], "t string"
    )
    rows = df.select(
        T.token_count("t").alias("n"),
        T.bpe_ish_token_count("t").alias("bpe"),
        T.quality_score("t").alias("q"),
        T.lang_id("t").alias("lang"),
        T.stopword_ratio("t").alias("sw"),
    ).collect()
    assert rows[0].n == 6
    assert rows[0].lang == "en"  # 'the' x2, 'on' are stopwords
    assert rows[0].sw == 0.5
    assert rows[1].bpe == 5  # hello , world ! 123
    assert rows[2].n == 0 and rows[2].q <= 0.34
    for r in rows:
        assert 0.0 <= r.q <= 1.0


def test_fingerprints(spark):
    df = spark.createDataFrame([("abcdefghij" * 5,), ("abcdefghij" * 5,)], "t string")
    rows = df.select(
        T.doc_fingerprint("t").alias("fp"),
        T.winnowing_fingerprints("t").alias("w"),
    ).collect()
    assert rows[0].fp == rows[1].fp
    assert rows[0].w == rows[1].w and len(rows[0].w) > 0


def test_token_simhash_similar_texts_close(spark):
    a = "the quick brown fox jumps over the lazy dog and runs far away today"
    b = a.replace("dog", "cat")
    c = "completely different words appear within this unrelated sentence example here now"
    df = spark.createDataFrame([(a,), (b,), (c,)], "t string")
    udf = T.make_token_simhash_udf()
    sa_, sb_, sc_ = (r.s for r in df.select(udf(F.col("t")).alias("s")).collect())
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(sa_, sb_) < ham(sa_, sc_)
    assert ham(sa_, sb_) <= 16


# -- connected components ---------------------------------------------------


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _cc_oracle(edges):
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    return {n: uf.find(n) for n in uf.p}


def _run_cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df)
    return {r.node: r.component for r in got.collect()}


def test_cc_chain(spark):
    edges = [(i, i + 1) for i in range(20)]
    got = _run_cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 21


def test_cc_random_vs_union_find(spark):
    rng = np.random.default_rng(9)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, size=(80, 2)) if a != b]
    got = _run_cc(spark, edges)
    exp_roots = _cc_oracle(edges)
    # same partition: two nodes share a pipeline component iff same oracle root
    nodes = list(exp_roots)
    for i in range(0, len(nodes), 3):
        for j in range(1, len(nodes), 5):
            a, b = nodes[i], nodes[j]
            assert (got[a] == got[b]) == (exp_roots[a] == exp_roots[b]), (a, b)
    # component representative is the min node id
    for n, c in got.items():
        assert c == exp_roots[n]


def test_cc_driver_matches_distributed(spark):
    """Driver union-find path emits the exact (node, component) mapping the
    distributed star algorithm does, on seeded random graphs, including the
    min-id root convention and edge-less-node exclusion."""
    from go_lsh_spark.operators.connected_components import (
        connected_components_auto,
    )

    rng = np.random.default_rng(17)
    for size, hi in ((40, 30), (200, 90)):
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, hi, size=(size, 2))
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        dist = {r.node: r.component for r in connected_components(df).collect()}
        # a cap above the edge count takes the driver path and returns its
        # rows; a cap of 0 forces the distributed fallback (rows None)
        drv_df, drv_rows = connected_components_auto(df, driver_max_edges=10_000)
        assert drv_rows is not None
        assert dict(drv_rows) == dist
        assert {r.node: r.component for r in drv_df.collect()} == dist
        dist_df, dist_rows = connected_components_auto(df, driver_max_edges=0)
        assert dist_rows is None
        assert {r.node: r.component for r in dist_df.collect()} == dist


def test_cc_driver_string_ids_and_empty(spark):
    from go_lsh_spark.operators.connected_components import (
        connected_components_auto,
    )

    df = spark.createDataFrame(
        [("clip_b", "clip_c"), ("clip_a", "clip_b"), ("x", "y")],
        "src string, dst string",
    )
    out, rows = connected_components_auto(df, driver_max_edges=10)
    assert rows is not None
    got = {r.node: r.component for r in out.collect()}
    assert got["clip_a"] == got["clip_b"] == got["clip_c"] == "clip_a"
    assert got["x"] == got["y"] == "x"
    empty = spark.createDataFrame([], "src string, dst string")
    out, rows = connected_components_auto(empty, driver_max_edges=10)
    assert rows == []
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "component"]


def test_cc_string_ids(spark):
    df = spark.createDataFrame(
        [("clip_b", "clip_c"), ("clip_a", "clip_b"), ("x", "y")],
        "src string, dst string",
    )
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got["clip_a"] == got["clip_b"] == got["clip_c"] == "clip_a"
    assert got["x"] == got["y"] == "x"


# -- suffix array -----------------------------------------------------------


def test_suffix_array_matches_sorted_suffixes():
    rng = np.random.default_rng(4)
    for _ in range(10):
        s = "".join(rng.choice(list("abc"), size=rng.integers(1, 40)))
        arr = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int64)
        sa = suffix_array(arr)
        expected = sorted(range(len(s)), key=lambda i: s[i:])
        assert sa.tolist() == expected, s


def _lcs_dp(a, b):
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def test_lcs_matches_dp():
    rng = np.random.default_rng(5)
    for _ in range(15):
        a = "".join(rng.choice(list("abcd"), size=rng.integers(0, 60)))
        b = "".join(rng.choice(list("abcd"), size=rng.integers(0, 60)))
        assert longest_common_substring(a, b) == _lcs_dp(a, b), (a, b)


def test_lcs_known():
    assert longest_common_substring("hello world", "world peace") == 5
    assert longest_common_substring("abc", "xyz") == 0
    assert longest_common_substring("", "abc") == 0


def test_token_simhash_vectorized_matches_per_row_reference(spark):
    """The batched unique-token kernel must equal the straightforward
    per-row/per-token definition (the pre-vectorization semantics)."""
    import hashlib

    import numpy as np

    texts = [
        "the quick brown fox", "", "a a a b", "one",
        "repeat repeat repeat repeat mix", "x y z " * 30,
    ]

    def slow(text, bits=64):
        votes = np.zeros(bits, dtype=np.int64)
        for tok in text.split():
            h = int.from_bytes(hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big")
            for j in range(bits):
                votes[j] += 1 if (h >> (bits - 1 - j)) & 1 else -1
        sig = 0
        for j in range(bits):
            if votes[j] > 0:
                sig |= 1 << (bits - 1 - j)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    from pyspark.sql import functions as F

    udf = T.make_token_simhash_udf()
    got = [r.s for r in df.select(udf(F.col("t")).alias("s")).collect()]
    assert got == [slow(t) for t in texts]
