"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "clips_per_sec": ..., "n_clips": ...}

The headline metric is the BASELINE.json one: clips/sec end-to-end dedup
throughput on the deterministic synthetic audio+transcript corpus, plus the
per-operator query timings over the driver's parquet tables.

Scaling evidence (N vs 4N cores) is produced by tools/scaling_bench.py which
runs the same dedup pipeline at local[2] and local[8] in separate JVMs
(interleaved best-of runs) and writes BENCH/BASELINE.md.

Protocol (r3 verdict #5): every number is BEST OF 3 with the raw `runs`
arrays recorded per query, matching scaling_bench's protocol -- on this
shared host single runs of the 2k-clip pipeline spread 13.6..16.3s across
sessions (+-10%), wider than most round-over-round deltas, so a best-of-1
headline consumed a verdict cycle on noise in r3.

r3 `audio_dedup_e2e` regression post-mortem (13.56s -> 14.97s, r3 verdict
#2), measured by interleaved best-of-3 A/B at n_clips=2000 on local[32]:
  * timed-action change (bare count -> fingerprint aggregate): 14.02s vs
    14.29s -- ~0.3s, the price of real equality evidence; kept.
  * candidate-sizing restructure (exception-sets vs single sizes join),
    isolated by swapping ONLY candidate_pairs inside the r3 pipeline:
    10.68s vs 10.08s best-of-3, identical result fingerprints -- ~0.6s at
    2k clips (the restructure is a 500k-scale win: ~35% off the candidate
    stage there at 32 cores). Re-measured at 4 cores with every join left
    to AQE, the exception-sets plan was no faster at 500k either, so
    candidate_pairs keeps the single sizes join as its one plan.
  * remainder (~0.5s): host noise, now bounded by the best-of-3 protocol.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_CLIPS_BENCH = int(os.environ.get("BENCH_N_CLIPS", "2000"))

# ---- host-burn gating (r4 verdict #1) --------------------------------------
# BENCH_r04.json shipped a 2x headline "regression" that was actually a
# co-tenant storm window (all three ann_lsh runs 29-41s vs ~3.4s steady
# state) -- best-of-3 cannot save a window where every run is degraded. The
# scaling gate (tools/scaling_bench.py) already refuses such windows by
# measuring a pure-python multiprocessing burn first; this is the same
# protocol for the headline bench: measure the burn, compare against the
# calibrated healthy-window throughput, and RETRY the window until it is
# healthy (or run out of retries, in which case the degradation is recorded
# in the output JSON so the artifact can never silently misreport a code
# regression again).
#
# Calibration: the same burn kernel measured 9.81 units/s at 8 procs in the
# healthy window that produced the committed r4 scaling gate
# (BENCH/BASELINE.md: burn 2.34 -> 9.81 units/s, 2->8 efficiency 1.046).
BURN_REF_UNITS_PER_SEC = 9.8
BURN_PROCS = 8
BURN_MIN_EFF = float(os.environ.get("BENCH_BURN_MIN", "0.85"))
BURN_MAX_TRIES = int(os.environ.get("BENCH_BURN_TRIES", "5"))
BURN_RETRY_SECS = int(os.environ.get("BENCH_BURN_RETRY_SECS", "60"))


def _burn_task(_):
    x = 0
    for i in range(12_000_000):
        x += i * i % 7
    return x


def measure_host_burn(procs: int = BURN_PROCS) -> float:
    """Units/s of the scaling_bench burn kernel at `procs` workers (~10s).
    Healthy windows measure ~BURN_REF_UNITS_PER_SEC at 8 procs on this VM;
    co-tenant storms cut it to a fraction -- and cut every Spark timing in
    the same session by a similar factor."""
    t0 = time.time()
    with mp.Pool(procs) as p:
        p.map(_burn_task, range(procs * 4))
    return procs * 4 / (time.time() - t0)


def wait_for_healthy_window() -> dict:
    """Measure the host burn; below BURN_MIN_EFF of the calibrated healthy
    throughput, sleep and re-measure up to BURN_MAX_TRIES times. Returns the
    record to embed in the bench JSON (the artifact of record must carry the
    evidence either way)."""
    attempts = []
    for i in range(BURN_MAX_TRIES):
        units = measure_host_burn()
        eff = units / BURN_REF_UNITS_PER_SEC
        attempts.append(round(eff, 3))
        if eff >= BURN_MIN_EFF:
            break
        if i < BURN_MAX_TRIES - 1:
            print(
                f"host burn {eff:.3f} < {BURN_MIN_EFF} (storm window); "
                f"retrying in {BURN_RETRY_SECS}s",
                file=sys.stderr,
            )
            time.sleep(BURN_RETRY_SECS)
    return {
        "host_burn_efficiency": attempts[-1],
        "host_burn_attempts": attempts,
        "degraded_window": attempts[-1] < BURN_MIN_EFF,
    }


def run_dedup(spark, n_clips: int, corpus_dir: str | None = None) -> tuple[float, int]:
    """End-to-end dedup: parquet clips table -> features -> signatures ->
    buckets -> pairs -> verify -> connected components -> clusters.count().

    The corpus is synthesized ON THE EXECUTORS (sources.synth.
    synth_clips_distributed) and written to parquet OUTSIDE the timed
    section -- the timed pipeline reads the table from storage, the
    north-rule input shape (an Iceberg clips table, not a driver-cached
    DataFrame; a >heap binary cache also evicts and silently recomputes).
    """
    from pyspark.sql import functions as F

    from go_lsh_spark.config import DedupConfig
    from go_lsh_spark.operators.dedup import dedup_pipeline
    from go_lsh_spark.sources.synth import SYNTH_VERSION, synth_clips_distributed

    seed = 42
    # cache key folds in the synth kernel version + seed: a kernel change or
    # reseed can never silently reuse a stale corpus (ADVICE r2)
    path = corpus_dir or os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"bench_clips_{n_clips}_s{seed}_v{SYNTH_VERSION}",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        clips, _ = synth_clips_distributed(
            spark, n_clips=n_clips, seed=seed, partitions=max(n_clips // 256, 16)
        )
        clips.write.mode("overwrite").parquet(path)
    clips = spark.read.parquet(path)
    t0 = time.time()
    result = dedup_pipeline(spark, clips, DedupConfig())
    # one action materializes the pipeline AND fingerprints the result:
    # distinct clusters + order-independent assignment checksum (the real
    # equality evidence; a bare count() is one row per clip by construction)
    row = result.clusters.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.bit_xor(F.xxhash64("clip_id", "cluster_id")).alias("checksum"),
    ).collect()[0]
    for df in (result.signatures, result.buckets, result.pairs, result.verified):
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001
            pass
    return time.time() - t0, {
        "n_rows": row["n_rows"],
        "n_clusters": row["n_clusters"],
        "checksum": row["checksum"],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # gate on a healthy host window BEFORE any timing (r4 verdict #1)
    burn = wait_for_healthy_window()
    print(f"host burn: {burn}", file=sys.stderr)

    from go_lsh_spark.session import build_session

    spark = build_session(
        app_name="go-lsh-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from go_lsh_spark.entry_queries import QUERIES

    headline = [
        "simhash_buckets",
        "bucket_join_pairs",
        "pearson_scores",
        "topk_cosine",
        "ann_lsh",
        "ann_ivf",
        "ann_recall",
        "ann_recall_ivf",
        "minhash_signatures",
        "ngram_jaccard_pairs",
        "exact_dedup",
        "token_counts",
        "token_simhash",
        "simhash_neardup_pairs",
        "cosine_neardup_pairs",
        "winnowing_fingerprints",
        "row_index_pruning",
    ]
    # best-of-3 per query with raw runs recorded: the first execution pays
    # JVM/codegen warmup and any co-tenant noise spike; the min is the
    # steady-state number and the spread is on the record (same min-time
    # protocol as tools/scaling_bench.py)
    n_runs = int(os.environ.get("BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in headline:
        fn = QUERIES[name][0]
        rs = []
        for _ in range(n_runs):
            t0 = time.time()
            fn(spark, sf_dir).count()
            rs.append(round(time.time() - t0, 3))
        runs[name] = rs
        timings[name] = min(rs)

    dedup_runs, fps = [], set()
    for _ in range(n_runs):
        secs, fp = run_dedup(spark, N_CLIPS_BENCH)
        dedup_runs.append(round(secs, 3))
        fps.add(tuple(sorted(fp.items())))
    assert len(fps) == 1, f"dedup result fingerprint unstable across runs: {fps}"
    fp1 = dict(next(iter(fps)))
    dedup_secs = min(dedup_runs)
    runs["audio_dedup_e2e"] = dedup_runs
    timings["audio_dedup_e2e"] = dedup_secs

    # re-measure AFTER the timed loop: a storm that starts mid-bench is
    # invisible to the pre-gate; pre+post burn bracket the whole window
    burn_post = measure_host_burn()
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                **burn,
                "host_burn_efficiency_post": round(
                    burn_post / BURN_REF_UNITS_PER_SEC, 3
                ),
                "queries": timings,
                "runs": runs,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n_clips": N_CLIPS_BENCH,
                "clips_per_sec": round(N_CLIPS_BENCH / dedup_secs, 1),
                "cpus": int(cpus),
                "dedup_fingerprint": fp1,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
