"""The benchmark's workloads. Each one is a class with the same shape:

  setup()             build the inputs (timed, repeated; the median is setup_s)
  MIN_OPS             operations a run measures at least
  op(i)               one operation through the program's public API;
                      returns its wall time and whether its result was right
  traced_op(i, tracer)  the same calls the program makes for one operation,
                      each under a span of `tracer`: `plan` around
                      the call that builds the program's result (with any
                      action the program runs inside it), `result` around
                      the actions that consume it. No span adds an action
                      the operation does not have.
  finish()            correctness checks that need more than one operation

Every operation's result is checked; a wrong operation is recorded in
`self.report` with its reason and counted in `failed`, and so is every
failed check. A check that cannot run is recorded as skipped, with why.

  span     batch_dedup (operators.dedup)          search (operators.search)
  plan     dedup_pipeline, which counts the       search, which collects the
           cached signatures (WAV decode,         max_lag row-range prefilter's
           features, SimHash/MinHash/winnow in    min/max
           one mapInArrow crossing) and collects
           the connected-components edges
           (buckets, pairs, verify) for its
           driver union-find
  result   the clusters checksum (the clusters    the scores collect (hash,
           join)                                  candidate join, Pearson,
                                                  threshold, top-k) and the
                                                  NumScored count

StreamProbe measures the streaming layer (streaming.ingest) once per trace
run: the same dedup operators, run per microbatch of a small stream.
"""

from __future__ import annotations

import json
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F


class Report:
    """Everything a run wants to explain about itself: checks passed,
    checks skipped (with reasons) and failed operations (with reasons)."""

    def __init__(self):
        self.checks: list[dict] = []
        self.skipped: list[dict] = []
        self.failures: list[dict] = []

    def check(self, name: str, ok: bool, detail) -> bool:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        return bool(ok)

    def skip(self, name: str, reason: str) -> None:
        self.skipped.append({"check": name, "reason": reason})

    def fail(self, op: str, reason: str) -> None:
        self.failures.append({"op": op, "reason": reason})


def _fingerprint(df, key: str, value: str) -> tuple[int, int, int]:
    """Rows, distinct values and an order-independent xxhash64 checksum of
    both output columns -- one action that consumes every column, so
    Catalyst cannot prune what the operation computed."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(value).alias("d"),
        F.bit_xor(F.xxhash64(key, value)).alias("x"),
    ).collect()[0]
    return int(r["n"]), int(r["d"]), int(r["x"])


class BatchDedup:
    """Batch near-duplicate detection: the in-memory dedup_pipeline over a
    synthetic audio+transcript clips table read from parquet."""

    name = "batch_dedup"
    N_CLIPS = 300
    # most of the spread is between runs (host speed, the seed's corpus),
    # not between a run's pipelines, so one measured pipeline per run
    MIN_OPS = 1
    item = "clips"
    # (cluster rows, clusters, checksum) of the default seed, recorded when
    # the benchmark was defined: a later change that moves it changed results
    GOLDEN = {42: (300, 74, -4349676932079656023)}

    def __init__(self, spark, seed: int, work, report: Report):
        from go_lsh_spark.config import DedupConfig  # noqa: PLC0415
        from go_lsh_spark.hyperplanes import PlaneSet  # noqa: PLC0415

        self.spark, self.seed, self.report = spark, seed, report
        self.path = str(work / f"clips_{self.N_CLIPS}_s{seed}")
        self.cfg = DedupConfig()
        self.planes = PlaneSet(self.cfg.lsh_config())
        self.expected = None
        self.verified_pairs = None
        self.items_per_op = self.N_CLIPS

    def setup(self) -> None:
        from go_lsh_spark.sources.synth import synth_clips_distributed  # noqa: PLC0415

        clips, _ = synth_clips_distributed(
            self.spark, n_clips=self.N_CLIPS, seed=self.seed,
            partitions=2 * self.spark.sparkContext.defaultParallelism,
        )
        clips.write.mode("overwrite").parquet(self.path)

    def _check(self, label: str, fp: tuple[int, int, int]) -> bool:
        if fp[0] != self.N_CLIPS:
            self.report.fail(label, f"{fp[0]} cluster rows for {self.N_CLIPS} clips")
            return False
        if self.expected is None:
            self.expected = fp
            if self.seed in self.GOLDEN:
                self.report.check("golden_fingerprint", fp == self.GOLDEN[self.seed],
                                  {"got": fp, "golden": self.GOLDEN[self.seed]})
        elif fp != self.expected:
            self.report.fail(label, f"fingerprint {fp} != first rep {self.expected}")
            return False
        return True

    def _pipeline(self, span):
        from go_lsh_spark.operators.dedup import dedup_pipeline  # noqa: PLC0415

        with span("plan"):
            res = dedup_pipeline(self.spark, self.spark.read.parquet(self.path), self.cfg)
        with span("result"):
            fp = _fingerprint(res.clusters, "clip_id", "cluster_id")
        return res, fp

    def _done(self, label: str, res, fp) -> bool:
        """Check one pipeline's result and free its caches (untimed)."""
        if self.verified_pairs is None:
            self.verified_pairs = self._audio_pairs(res.verified)
        for df in (res.signatures, res.buckets, res.pairs, res.verified):
            df.unpersist()
        return self._check(label, fp)

    def op(self, i: int) -> tuple[float, bool]:
        t0 = time.perf_counter()
        res, fp = self._pipeline(lambda name: nullcontext())
        wall = time.perf_counter() - t0
        return wall, self._done(f"pipeline[{i}]", res, fp)

    def traced_op(self, i: int, tracer) -> tuple[float, bool]:
        tid = f"dedup{i}"
        t0 = time.perf_counter()
        with tracer.span("op", tid) as sp:
            res, fp = self._pipeline(lambda name: tracer.span(name, tid))
        wall = time.perf_counter() - t0
        # both tables are cached and were fully read by the pipeline
        sp.attrs.update(candidates=res.pairs.count(), passed=res.verified.count())
        return wall, self._done(f"traced_pipeline[{i}]", res, fp)

    def _audio_pairs(self, verified) -> set[tuple[str, str]]:
        rows = verified.filter(
            F.col("audio_ok") & (F.col("hamming") <= self.cfg.max_hamming)
        ).select("clip_id_a", "clip_id_b").collect()
        return {tuple(sorted((r[0], r[1]))) for r in rows}

    def finish(self) -> None:
        """Dup-pair recall against the reference-semantics oracle: pairs
        sharing an LSH bucket under the same planes whose Pearson passes
        the POS threshold (the tests/test_dedup.py gate)."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        from go_lsh_spark.functions.audio import decode_clip, envelope_features  # noqa: PLC0415
        from go_lsh_spark.oracle import lsh_candidate_pairs_oracle, pearson  # noqa: PLC0415

        self.report.skip(
            "pinned_fingerprint",
            "the fingerprint pinned in ROADMAP (5800351907179008869, 487 clusters) is for "
            f"2000 clips at seed 42; this workload runs {self.N_CLIPS} clips, so it checks "
            "rep-to-rep equality and, at seed 42, its own golden fingerprint instead",
        )
        if self.seed not in self.GOLDEN:
            self.report.skip("golden_fingerprint", f"no golden fingerprint for seed {self.seed}")
        if self.verified_pairs is None:
            self.report.skip("recall", "no pipeline completed")
            return
        tbl = pq.read_table(self.path, columns=["clip_id", "bytes", "codec"]).to_pydict()
        order = np.argsort(tbl["clip_id"])
        ids = [tbl["clip_id"][k] for k in order]
        feats = np.array([
            envelope_features(decode_clip(tbl["bytes"][k], tbl["codec"][k]), self.cfg.feature_dim)
            for k in order
        ])
        bucket_pairs = lsh_candidate_pairs_oracle(
            self.cfg.lsh_config(), self.planes, np.arange(len(ids)), feats,
            center=self.cfg.center_features,
        )
        expected = set()
        for a, b in bucket_pairs:
            s = pearson(feats[a], feats[b])
            if not np.isnan(s) and s >= self.cfg.threshold:
                expected.add(tuple(sorted((ids[a], ids[b]))))
        if not expected:
            self.report.check("recall", False, "oracle found no dup pairs")
            return
        recall = 1.0 - len(expected - self.verified_pairs) / len(expected)
        self.report.check(
            "recall", recall >= 0.99,
            {"recall": recall, "oracle_pairs": len(expected), "fingerprint": self.expected},
        )


class SearchClosedLoop:
    """The reference API: SparkLSH.index over the five waveform families,
    then one client calling SparkLSH.search back to back. Family queries
    (theta 0.65, POS, num_to_return >= family size) alternate with random
    queries under the default options."""

    name = "search_closed_loop"
    N_DOCS = 500
    VEC_LEN = 60
    # odd, so the warm-up query (i = -1) is a family query like the first
    # measured one; a family and a random query alternate from there
    N_QUERIES = 63
    # a run measures one query of each kind
    MIN_OPS = 2
    item = "queries"

    def __init__(self, spark, seed: int, work, report: Report):
        from go_lsh_spark.config import SIGN_FILTER_POS, LSHConfig, SearchOptions  # noqa: PLC0415
        from go_lsh_spark.sources.synth import FAMILIES, family_envelope  # noqa: PLC0415

        self.spark, self.seed, self.report = spark, seed, report
        self.cfg = LSHConfig(vector_length=self.VEC_LEN)  # H=8, T=128
        self.items_per_op = 1
        rng = np.random.default_rng(seed)
        self.vecs = np.array([
            family_envelope(FAMILIES[i % len(FAMILIES)], self.VEC_LEN) + rng.uniform(0, 1, self.VEC_LEN)
            for i in range(self.N_DOCS)
        ])
        qrng = np.random.default_rng([seed, 1])
        self.queries = []
        for k in range(self.N_QUERIES):
            if k % 2 == 0:
                # start at risingstep: the bare spike shape passes theta 0.65
                # for no doc, and a run may measure only the first family query
                vec = family_envelope(FAMILIES[(k // 2 + 1) % len(FAMILIES)], self.VEC_LEN)
                opts = SearchOptions(num_to_return=self.N_DOCS, threshold=0.65, sign_filter=SIGN_FILTER_POS)
            else:
                vec = qrng.uniform(-1, 1, self.VEC_LEN)
                opts = SearchOptions()
            self.queries.append((k % 2 == 0, [float(x) for x in vec], opts))
        self.engine = None
        self.oracle = None

    def setup(self) -> None:
        from go_lsh_spark.engine import SparkLSH  # noqa: PLC0415

        if self.engine is not None:
            self.engine.buckets.unpersist()
            self.engine.forward.unpersist()
        docs = self.spark.createDataFrame(
            [(i, 0, [float(x) for x in v]) for i, v in enumerate(self.vecs)],
            "uid long, index long, vector array<double>",
        )
        self.engine = SparkLSH(self.spark, self.cfg).index(docs)
        # count() on the cached tables builds every column of both caches
        self.engine.buckets.count()
        self.engine.forward.count()

    def _oracle(self):
        if self.oracle is None:
            from go_lsh_spark.oracle import OracleLSH  # noqa: PLC0415

            self.oracle = OracleLSH(self.cfg, self.engine.planes)
            for uid, v in enumerate(self.vecs):
                self.oracle.index(uid, 0, v)
        return self.oracle

    def _check(self, label: str, k: int, scores: list, num_scored: int) -> bool:
        family, vec, opts = self.queries[k]
        want, want_scored = self._oracle().search(vec, 0, opts)
        got = {(u, ix): s for u, ix, s in scores}
        exp = {(s.uid, s.index): s.score for s in want}
        if num_scored != want_scored:
            self.report.fail(label, f"NumScored {num_scored} != oracle {want_scored}")
            return False
        if got.keys() != exp.keys() or any(abs(got[key] - exp[key]) > 1e-9 for key in exp):
            self.report.fail(label, f"{len(got)} results differ from oracle's {len(exp)}")
            return False
        if family:
            q = np.asarray(vec) - np.mean(vec)
            vc = self.vecs - self.vecs.mean(axis=1, keepdims=True)
            corr = (vc @ q) / (np.linalg.norm(vc, axis=1) * np.linalg.norm(q))
            brute = int(np.sum(corr >= opts.threshold))
            if brute != len(got):
                self.report.fail(label, f"{len(got)} family results != brute-force count {brute}")
                return False
        return True

    def op(self, i: int) -> tuple[float, bool]:
        k = i % self.N_QUERIES
        _, vec, opts = self.queries[k]
        t0 = time.perf_counter()
        scores, num_scored = self.engine.search(vec, 0, opts)
        wall = time.perf_counter() - t0
        return wall, self._check(f"search[{i}]", k, scores, num_scored)

    def traced_op(self, i: int, tracer) -> tuple[float, bool]:
        """The body of engine.SparkLSH.search, with a span around the call
        into operators.search and one around the two actions it runs."""
        from go_lsh_spark.operators import search as S  # noqa: PLC0415

        k = i % self.N_QUERIES
        _, vec, opts = self.queries[k]
        eng, tid = self.engine, f"search{i}"
        t0 = time.perf_counter()
        with tracer.span("op", tid) as sp:
            q = self.spark.createDataFrame(
                [(0, 0, [float(x) for x in vec])], "query_id long, index long, vector array<double>")
            opts = opts.validate()
            with tracer.span("plan", tid):
                res = S.search(q, eng.buckets, eng.forward, eng.cfg, eng.planes, opts)
            with tracer.span("result", tid):
                rows = res.scores.orderBy("rank").collect()
                num_scored = res.candidates.count()
        wall = time.perf_counter() - t0
        sp.attrs.update(candidates=num_scored, passed=len(rows))
        scores = [(r["uid"], r["index"], r["score"]) for r in rows]
        return wall, self._check(f"traced_search[{i}]", k, scores, num_scored)

    def finish(self) -> None:
        pass


def _dir_stats(path: Path) -> tuple[int, int]:
    """Regular files under path, and their bytes."""
    files = [f for f in path.rglob("*") if f.is_file()]
    return len(files), sum(f.stat().st_size for f in files)


class StreamProbe:
    """The streaming layer: a small synthetic corpus, one parquet file per
    microbatch, drained through streaming.ingest.start_incremental_dedup
    and then reconciled. The second microbatch pairs against the state the
    first one wrote. The reconciled clusters must equal the batch
    pipeline's clusters on the same clips (checked outside the timings)."""

    FILES = 2
    CLIPS_PER_FILE = 25
    TIMEOUT_S = 80

    def __init__(self, spark, seed: int, work: Path, report: Report):
        self.spark, self.seed, self.work, self.report = spark, seed, work, report

    def run(self, tracer) -> dict:
        """Per-layer metrics of the stream; {} if it failed (recorded)."""
        try:
            return self._run(tracer)
        except Exception:  # noqa: BLE001 -- a failed probe is counted, not fatal
            self.report.fail("stream_probe", traceback.format_exc(limit=3))
            return {}

    def _run(self, tracer) -> dict:
        from go_lsh_spark.config import DedupConfig  # noqa: PLC0415
        from go_lsh_spark.operators.dedup import dedup_pipeline  # noqa: PLC0415
        from go_lsh_spark.sources.synth import synth_clips_distributed  # noqa: PLC0415
        from go_lsh_spark.streaming.ingest import (  # noqa: PLC0415
            BATCH_METRICS, read_clip_stream, read_clusters, reconcile, start_incremental_dedup,
        )

        spark, cfg = self.spark, DedupConfig()
        src, out, ck = (self.work / f"stream_{p}" for p in ("src", "out", "ck"))
        clips, _ = synth_clips_distributed(
            spark, n_clips=self.FILES * self.CLIPS_PER_FILE, seed=self.seed, partitions=self.FILES)
        clips.write.mode("overwrite").parquet(str(src))
        n_files = len(list(src.glob("*.parquet")))
        if n_files != self.FILES:
            self.report.fail("stream_probe", f"{n_files} input files, not {self.FILES}")

        start = time.time()
        q = start_incremental_dedup(read_clip_stream(spark, str(src), max_files=1), cfg, str(out), str(ck))
        try:
            finished = q.awaitTermination(self.TIMEOUT_S)
        finally:
            if q.isActive:
                q.stop()
        end = time.time()
        if not finished:
            self.report.fail("stream_probe", f"stream not drained in {self.TIMEOUT_S} s")
            return {}
        if q.exception() is not None:
            self.report.fail("stream_probe", str(q.exception()))
            return {}
        drain = tracer.job_counters(tracer.jobs_in_window(start, end), start, end)
        batch_s = [p["batchDuration"] / 1e3 for p in q.recentProgress if p["numInputRows"] > 0]
        with open(out / BATCH_METRICS) as f:
            records = [r for r in map(json.loads, f) if "wall_secs" in r]

        t0 = time.perf_counter()
        reconcile(spark, str(out), cfg)
        reconcile_s = time.perf_counter() - t0
        state_files, state_bytes = _dir_stats(out)
        _, input_bytes = _dir_stats(src)

        got = _fingerprint(read_clusters(spark, str(out)), "clip_id", "cluster_id")
        res = dedup_pipeline(spark, spark.read.parquet(str(src)), cfg)
        want = _fingerprint(res.clusters, "clip_id", "cluster_id")
        for df in (res.signatures, res.buckets, res.pairs, res.verified):
            df.unpersist()
        self.report.check("stream_equals_batch", got == want and len(records) == self.FILES,
                          {"stream": got, "batch": want, "batches": len(records)})

        phase = lambda k: float(np.median([r["phase_secs"][k] for r in records]))  # noqa: E731
        return {
            "stream.batch_s": float(np.median(batch_s)),
            "stream.sink_writes_s": phase("sink_writes"),
            "stream.winnow_df_s": phase("winnow_df"),
            "stream.pair_gen_s": phase("pair_gen"),
            "stream.verify_clusters_s": phase("verify+clusters"),
            "stream.touched_kparts": float(np.median([r["touched_kparts"] for r in records])),
            "stream.touched_sparts": float(np.median([r["touched_sparts"] for r in records])),
            "stream.jobs": drain["jobs"],
            "stream.cpu_s": drain["cpu_s"],
            "stream.driver_gap_s": drain["driver_gap_s"],
            "stream.reconcile_s": reconcile_s,
            "stream.state_files": state_files,
            "stream.state_amp": state_bytes / input_bytes,
        }


WORKLOADS = {w.name: w for w in (BatchDedup, SearchClosedLoop)}
