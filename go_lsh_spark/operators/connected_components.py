"""Iterative connected components: alternating large-star / small-star.

BASELINE.json mandates iterative DataFrame connected components for cluster
assignment (the reference has no clustering -- its Search returns per-query
neighbors; dedup needs transitive closure over the verified-pair graph).

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14) -- alternate large-star (attach larger neighbors to the local
minimum) and small-star (attach smaller neighbors to the minimum) until the
edge set is a fixed point; converges in O(log n) rounds and every round is
one groupBy + one join, all JVM-side.

Scale notes: each round is a shuffle on node id; `localCheckpoint()` per
round truncates the lineage chain (SURVEY.md §7.3 hard part 6) so plans
don't grow; convergence is detected with a count + order-independent
checksum instead of a full sort-compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set, canonical (small, large) order, no self-loops."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent and overflow-free under ANSI mode
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _large_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    bidir = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = bidir.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )
    # emit (v, m) for larger neighbors v; m <= u < v, so canonical order is
    # (a=m, b=v) -- small-star relies on a < b
    out = (
        bidir.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("m").alias("a"), F.col("b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    return out.dropDuplicates(["a", "b"]) if dedup else out


def _small_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    # direct every edge large -> small: node u sees neighbors N(u) all < u
    directed = edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    joined = directed.join(mins, "u")
    to_min = joined.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("x"), F.col("m")
    )
    self_edge = mins.select(F.col("u").alias("x"), F.col("m"))
    out = (
        to_min.union(self_edge)
        .select(
            F.least("x", "m").alias("a"), F.greatest("x", "m").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
    )
    return out.dropDuplicates(["a", "b"]) if dedup else out


def _driver_cc_pairs(rows) -> list:
    """Union-find over canonical (a, b) edge rows -> [(node, component)]."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller so the root is
            # always the component minimum (the distributed contract)
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(n, find(n)) for n in parent]


def connected_components_auto(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    driver_max_edges: int = 200_000,
    max_iterations: int = 20,
):
    """Size-dispatched connected components -> (assignments_df, rows).

    Collects at most `driver_max_edges`+1 canonical edges. If the limit is
    not hit, union-find runs on the driver over the collected rows (the
    whole small case costs ONE job; the distributed star algorithm costs
    ~10 driver jobs even on a 100-edge graph) and `rows` is the list of
    (node, component) tuples, so callers can answer "did anything merge?"
    or build a broadcast mapping without another Spark action. Otherwise
    the distributed star rounds run and `rows` is None. 200k string-id
    edges collect to ~20MB, far under driver memory; above the cap the
    distributed path is the only scale-safe choice. Same contract either
    way: component = min node id, edge-less nodes not emitted."""
    canon = _canon(edges, src, dst)
    rows = canon.limit(driver_max_edges + 1).collect()
    if len(rows) <= driver_max_edges:
        node_type = edges.schema[src].dataType
        out = _driver_cc_pairs(rows)
        schema = StructType(
            [
                StructField("node", node_type, False),
                StructField("component", node_type, False),
            ]
        )
        return edges.sparkSession.createDataFrame(out, schema), out
    return (
        connected_components(canon, "a", "b", max_iterations=max_iterations),
        None,
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """edges(src, dst) -> assignments(node, component) where component is the
    minimum node id in each connected component. Nodes without edges are not
    emitted (union the full vertex set downstream)."""
    # lazy localCheckpoint: the checkpoint materializes INSIDE the checksum
    # action, so each round costs exactly one driver job (an eager
    # checkpoint would run its own job first -- 2x the serial round
    # latency, an r1 scaling-gate finding). Two star rounds per checkpoint
    # + checksum for the same reason; a fixed point stays fixed across the
    # doubled round, so convergence detection is unaffected.
    cur = _canon(edges, src, dst).localCheckpoint(eager=False)
    prev_sig = _checksum(cur)
    for _ in range((max_iterations + 1) // 2):
        # dedup ONCE per double-round (before the checkpoint + checksum),
        # not inside every star: the stars are correct under duplicate
        # edges (groupBy-min is idempotent, each input edge maps to one
        # output edge, so volume stays bounded within a round) and each
        # skipped dropDuplicates removes a shuffle stage -- measured ~15%
        # off the CC wall. The final dedup keeps the checksum exact.
        cur = _small_star(_large_star(cur, dedup=False), dedup=False)
        cur = _small_star(
            _large_star(cur, dedup=False), dedup=True
        ).localCheckpoint(eager=False)
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixed point: every edge is (member, root) with root = component min
    members = cur.select(F.col("b").alias("node"), F.col("a").alias("component"))
    # a node may still appear with several roots if max_iterations hit early;
    # keep the min to stay deterministic
    members = members.groupBy("node").agg(F.min("component").alias("component"))
    roots = members.select(F.col("component")).distinct().select(
        F.col("component").alias("node"), F.col("component")
    )
    return members.union(roots).dropDuplicates(["node"])
