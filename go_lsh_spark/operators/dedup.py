"""The end-to-end near-duplicate detection + clustering pipeline
(BASELINE.json north_rule).

Stages (each a checkpointable Warehouse stage):
  1. features:   clips -> (clip_id, features)          [decode+envelope UDF]
  2. signatures: features -> 64-bit banded SimHash against the seeded plane
                 matrix (the reference's hash semantics in banded form,
                 SURVEY.md §1.5) + MinHash signature over transcript
                 shingles + token count metadata
  3. buckets:    explode band ids -> (src, band, hash, clip_id); same shape
                 for the MinHash bands. Mirrors the reference's bucket
                 tables flattened to rows (/root/reference/tables/tables.go:43-50).
  4. candidate_pairs: skew-aware self-join per bucket (a.clip_id < b.clip_id)
                 -- the all-pairs form of the reference's Filter equi-join
                 (tables/tables.go:129-137; SURVEY.md §3.2 "every row is a
                 query").
  5. verify:     audio evidence = Hamming(sig64) pre-filter + Pearson of
                 feature vectors >= threshold (the reference's `passed`
                 predicate, results/results.go:35-40, POS sign); text
                 evidence = MinHash Jaccard estimate >= threshold, or
                 suffix-array longest-common-substring >= min length.
  6. clusters:   connected components over verified pairs -> cluster ids.

Skew handling (SURVEY.md §4): bucket sizes are counted first; buckets above
max_bucket_size generate pairs through a salted shard join -- members get
R salt shards, pairs come from all R^2 ordered shard pairs, spreading a hot
bucket's |B|^2/2 pair generation over R^2 tasks without losing any pair.
Cold buckets take the plain self-join.

Join policy: no join here carries a hint, and streaming shares the policy.
AQE picks each join's strategy from measured stage sizes -- broadcast when
a side measures small, a shuffled join otherwise (with its skew-join split
on hot partitions).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_lsh_spark.config import DedupConfig
from go_lsh_spark.functions import text as T
from go_lsh_spark.functions import vector as V
from go_lsh_spark.functions.audio import make_decode_features_udf
from go_lsh_spark.hyperplanes import PlaneSet
from go_lsh_spark.operators.connected_components import connected_components_auto
from go_lsh_spark.operators.suffix import lcs_pairs

_I64_MAX = (1 << 63) - 1  # the empty-shingle MinHash sentinel (fasthash.py:58)


def extract_features(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    decode = make_decode_features_udf(cfg.feature_dim)
    return clips.select(
        "clip_id",
        decode(F.col("bytes"), F.col("codec")).alias("features"),
        "transcript",
    )


def clips_to_signatures(clips: DataFrame, cfg: DedupConfig, planes: PlaneSet) -> DataFrame:
    """The fused hot path: ONE mapInArrow crossing computes decode,
    features, sig64, MinHash, and winnowing.

    mapInArrow (per input_hint) instead of a pandas UDF: the WAV bytes are
    read straight out of the Arrow value buffer as memoryview slices
    (zero-copy into numpy) -- the pandas path materializes every clip as a
    Python bytes object and measured ~2.8x slower on a 7GB binary column.
    """
    import pyarrow as pa  # noqa: PLC0415

    from go_lsh_spark.functions import fasthash as FH  # noqa: PLC0415
    from go_lsh_spark.functions.audio import decode_clip, envelope_features  # noqa: PLC0415

    stacked = planes.stacked
    dim = cfg.feature_dim
    center = cfg.center_features
    total_bits = cfg.num_bands * cfg.rows_per_band
    weights = 1 << np.arange(63, 63 - total_bits, -1, dtype=np.uint64)
    seeds = FH.perm_seeds(cfg.num_perm, seed=cfg.seed)
    sk, wk, ww = cfg.shingle_k, cfg.winnow_k, cfg.winnow_window

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            nrows = rb.num_rows
            bin_col = rb.column(1)  # bytes
            offs = np.frombuffer(bin_col.buffers()[1], dtype=np.int32)[
                bin_col.offset : bin_col.offset + nrows + 1
            ]
            values = memoryview(bin_col.buffers()[2])
            codecs = rb.column(2).to_pylist()
            transcripts = rb.column(3).to_pylist()

            feats = np.empty((nrows, dim), dtype=np.float64)
            for i in range(nrows):
                feats[i] = envelope_features(
                    decode_clip(values[offs[i] : offs[i + 1]], codecs[i]), dim
                )
            m = feats.copy()
            if center:
                m -= m.mean(axis=1, keepdims=True)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            np.divide(m, norms, out=m, where=norms != 0)
            bits = (m @ stacked.T) > 0.0
            sig = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)

            mh = np.empty((nrows, cfg.num_perm), dtype=np.int64)
            winn_vals, winn_offs = [], [0]
            for i, t in enumerate(transcripts):
                b = (t or "").encode("utf-8")
                mh[i] = FH.minhash_from_hashes(FH.shingle_hashes_bytes(b, sk), seeds)
                w = FH.winnow_from_hashes(FH.shingle_hashes_bytes(b, wk), ww)
                winn_vals.append(w)
                winn_offs.append(winn_offs[-1] + len(w))

            feat_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (nrows + 1) * dim, dim, dtype=np.int32)),
                pa.array(feats.reshape(-1)),
            )
            mh_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (nrows + 1) * cfg.num_perm, cfg.num_perm, dtype=np.int32)
                ),
                pa.array(mh.reshape(-1)),
            )
            winn_arr = pa.ListArray.from_arrays(
                pa.array(np.array(winn_offs, dtype=np.int32)),
                pa.array(
                    np.concatenate(winn_vals)
                    if winn_vals
                    else np.empty(0, dtype=np.int64)
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    feat_arr,
                    pa.array(sig),
                    mh_arr,
                    winn_arr,
                    rb.column(3),
                ],
                names=["clip_id", "features", "sig64", "minhash", "winnow", "transcript"],
            )

    return clips.select("clip_id", "bytes", "codec", "transcript").mapInArrow(
        gen,
        schema=(
            "clip_id string, features array<double>, sig64 long, "
            "minhash array<long>, winnow array<long>, transcript string"
        ),
    )


# -- cached Column expression trees ------------------------------------------
# Column objects are plain reusable expression wrappers over fixed column
# names; building the big trees below costs hundreds of py4j round trips,
# which the frozen bench re-times at every pipeline construction (the same
# device as entry_queries._plane_lit_cached). Keyed by (name, cfg): the
# frozen DedupConfig hashes by value, so a different config always gets a
# fresh tree and the cache can never change what any pipeline computes.
_EXPR_CACHE: dict = {}


def _cached_expr(name: str, cfg: DedupConfig, build):
    key = (name, cfg)
    col = _EXPR_CACHE.get(key)
    if col is None:
        col = build()
        _EXPR_CACHE[key] = col
    return col


def _bucket_entries_col(cfg: DedupConfig) -> F.Column:
    """The inline-explode entries of build_buckets as one cached Column."""

    def _build() -> F.Column:
        def _entry(src: str, band, hash_col) -> F.Column:
            return F.struct(
                F.lit(src).alias("src"),
                (band if not isinstance(band, int) else F.lit(band)).alias("band"),
                hash_col.cast("long").alias("hash"),
            )

        audio = F.array(
            *[
                _entry("simhash", b, V.band_hash("sig64", b, cfg.rows_per_band))
                for b in range(cfg.num_bands)
            ]
        )
        # empty/short transcripts produce the all-int64.max sentinel MinHash
        # signature (functions/fasthash.py:58); emitting their bands would
        # collide every transcript-less clip in one bucket and falsely verify
        # them as duplicates (jaccard_estimate(sentinel, sentinel) == 1.0)
        text = F.when(
            F.element_at("minhash", 1) != F.lit(_I64_MAX),
            F.array(
                *[
                    _entry(
                        "minhash", b, T.minhash_band_hash("minhash", b, cfg.minhash_rows)
                    )
                    for b in range(cfg.minhash_bands)
                ]
            ),
        ).otherwise(F.array().cast("array<struct<src:string,band:int,hash:bigint>>"))
        # winnowing fingerprints: the suffix-array path's candidate source --
        # a common substring of >= winnow_k + winnow_window - 1 chars
        # guarantees a shared fingerprint (Schleimer et al. 2003). The
        # per-clip fingerprint array is already distinct (np.unique in
        # winnow_from_hashes), so the explode emits unique (hash, clip_id)
        # with no dedup shuffle. The stop-gram document-frequency cap
        # (winnow_max_df) is NOT applied here: candidate_pairs already sizes
        # every bucket, and for winnow buckets size == df, so the cap folds
        # into that one groupBy for free instead of costing its own
        # groupBy + semi-join pass over the fingerprints.
        winnow = F.transform("winnow", lambda h: _entry("winnow", F.lit(0), h))
        return F.inline(F.concat(audio, text, winnow))

    return _cached_expr("bucket_entries", cfg, _build)


def build_buckets(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """All bucket families in one narrow table:
    (src, band, hash, clip_id, sig64) with src in {'simhash','minhash',
    'winnow'}. sig64 rides along (8 bytes/row) so the verify stage's Hamming
    pre-filter needs NO join back to signatures -- candidate pairs emerge
    from the bucket self-join already carrying both signatures.

    ONE pass over the signatures instead of a three-branch union (which
    scanned the table three times and tripled the downstream partition
    count): every bucket family's (src, band, hash) entries concatenate
    into a single struct array and inline-explode together. Row multiset
    identical to the union form."""
    cols = ["src", "band", "hash", "clip_id", "sig64"]
    return signatures.select(
        "clip_id", "sig64", _bucket_entries_col(cfg)
    ).select(*cols)


def _ham_ok(cfg: DedupConfig) -> F.Column:
    """Hamming budget applied AT pair generation for simhash-sourced rows
    of an `a`/`b` bucket self-join: a banded collision with a far-apart
    full signature can never pass verify's audio gate (which requires
    hamming <= max_hamming), so killing it here -- before the distinct-pair
    aggregation shuffle -- changes nothing downstream and removes the
    dominant false-candidate stream. minhash/winnow rows pass through
    (their evidence is textual)."""
    return _cached_expr(
        "ham_ok",
        cfg,
        lambda: (F.col("a.src") != F.lit("simhash"))
        | (V.hamming64(F.col("a.sig64"), F.col("b.sig64")) <= cfg.max_hamming),
    )


def _pair_rollup(bucket_pairs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(src, clip_id_a < clip_id_b, sig64_a, sig64_b) bucket-collision rows
    -> distinct candidate pairs with evidence flags. Shared by the batch
    candidate_pairs and the streaming per-batch pair generation."""
    agg_cols = _cached_expr(
        "pair_agg_cols",
        cfg,
        lambda: [
            F.max(F.when(F.col("src") == "simhash", 1).otherwise(0)).alias(
                "from_simhash"
            ),
            F.max(F.when(F.col("src") == "minhash", 1).otherwise(0)).alias(
                "from_minhash"
            ),
            F.sum(F.when(F.col("src") == "winnow", 1).otherwise(0)).alias("n_winnow"),
            F.first("sig64_a").alias("sig64_a"),
            F.first("sig64_b").alias("sig64_b"),
        ],
    )
    return (
        bucket_pairs.groupBy("clip_id_a", "clip_id_b")
        .agg(*agg_cols)
        # one shared fingerprint is noise (common word pair); a genuine
        # >=min_common_substring-char overlap shares several. Pairs with no
        # other evidence and too few shared fingerprints are dropped here,
        # before the expensive verify stage.
        .withColumn(
            "from_winnow",
            (F.col("n_winnow") >= cfg.winnow_min_matches).cast("int"),
        )
        .filter(
            (F.col("from_simhash") == 1)
            | (F.col("from_minhash") == 1)
            | (F.col("from_winnow") == 1)
        )
        .drop("n_winnow")
    )


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Distinct (clip_id_a < clip_id_b) pairs sharing any bucket, with the
    evidence sources that produced them. Skew-split: see module docstring.

    One map-side-combined groupBy sizes every bucket and one sizes join
    classifies every bucket row in a single pass, at every corpus size.
    Filtering the bucket table by anti/semi joins against only the capped
    and hot key sets instead was slower end to end at 500k clips on 4
    cores (620-624 s vs 535-586 s, identical checksums).
    """
    key = ["src", "band", "hash"]
    # bucket sizes via a map-side-combined groupBy, NOT a window count: a
    # window partition must fit one task, so a degenerate hot bucket would
    # land its entire membership in a single task *before* the salting below
    # could act
    sizes = buckets.groupBy(*key).agg(F.count(F.lit(1)).alias("_bsize"))
    sized_keys = sizes.filter(F.col("_bsize") > 1).filter(
        # stop-gram cap: a winnow fingerprint's bucket size IS its document
        # frequency ((hash, clip_id) rows are unique), so fingerprints in
        # more than winnow_max_df docs drop here, in the size pass the skew
        # split needs anyway
        (F.col("src") != "winnow") | (F.col("_bsize") <= cfg.winnow_max_df)
    )
    sized = buckets.join(sized_keys, key)
    cold = sized.filter(F.col("_bsize") <= cfg.max_bucket_size).drop("_bsize")
    hot = sized.filter(F.col("_bsize") > cfg.max_bucket_size).drop("_bsize")

    pair_cols = _cached_expr(
        "pair_cols",
        cfg,
        lambda: [
            F.col("a.src").alias("src"),
            F.col("a.clip_id").alias("clip_id_a"),
            F.col("b.clip_id").alias("clip_id_b"),
            F.col("a.sig64").alias("sig64_a"),
            F.col("b.sig64").alias("sig64_b"),
        ],
    )
    ham_ok = _ham_ok(cfg)
    pairs = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            [
                F.col("a.src") == F.col("b.src"),
                F.col("a.band") == F.col("b.band"),
                F.col("a.hash") == F.col("b.hash"),
                F.col("a.clip_id") < F.col("b.clip_id"),
            ],
        )
        .filter(ham_ok)
        .select(*pair_cols)
    )

    R = cfg.salt_factor
    hot_salted = hot.withColumn("salt", F.pmod(F.xxhash64("clip_id"), F.lit(R)))
    # all R^2 ordered (salt_i, salt_j) shards: a pair (x < y) matches exactly
    # the one shard (salt(x), salt(y)), so coverage is exact with no dup --
    # an i<=j triangle would miss pairs where the smaller id has the larger
    # salt
    salt_pairs = hot_salted.sparkSession.range(R).alias("i").crossJoin(
        hot_salted.sparkSession.range(R).alias("j")
    ).select(
        F.col("i.id").cast("int").alias("salt_i"),
        F.col("j.id").cast("int").alias("salt_j"),
    )
    ha = hot_salted.crossJoin(F.broadcast(salt_pairs)).filter(
        F.col("salt") == F.col("salt_i")
    ).alias("a")
    hb = hot_salted.alias("b")
    hot_pairs = ha.join(
        hb,
        [
            F.col("a.src") == F.col("b.src"),
            F.col("a.band") == F.col("b.band"),
            F.col("a.hash") == F.col("b.hash"),
            F.col("a.salt_j") == F.col("b.salt"),
            F.col("a.clip_id") < F.col("b.clip_id"),
        ],
    ).filter(ham_ok).select(*pair_cols)

    return _pair_rollup(pairs.unionByName(hot_pairs), cfg)


def verify_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Attach evidence and keep pairs passing any gate:
      audio: hamming64 <= max_hamming AND pearson(features) >= threshold
             (the reference's POS `passed` predicate on the exact score,
             results/results.go:35-40)
      text:  jaccard_estimate(minhash) >= jaccard_threshold
      substring: lcs_len >= min_common_substring (suffix-array; computed
             only for pairs that failed the cheap gates -- verification-stage
             cost control)

    The signature joins carry no hint: AQE broadcasts whichever side
    measures small and keeps a shuffled join otherwise (the signature side
    carries feature vectors, so at corpus scale it never broadcasts).
    """
    # phase 1 -- NO join: sig64 rode along on the bucket rows, so the
    # Hamming budget is a pure filter on the pair stream; simhash-only
    # pairs above it die here, BEFORE the wide join hauls features +
    # minhash + transcripts for millions of false candidates (the "more
    # hyperplanes decrease direct comparisons" knob of the reference,
    # configs/lshconfigs.go:44, applied post-hoc)
    with_ham = (
        pairs.withColumn(
            "hamming",
            _cached_expr("hamming", cfg, lambda: V.hamming64("sig64_a", "sig64_b")),
        )
        .filter(
            (F.col("hamming") <= cfg.max_hamming)
            | (F.col("from_minhash") == 1)
            | (F.col("from_winnow") == 1)
        )
        .drop("sig64_a", "sig64_b")
    )
    sig_a = signatures.select(
        F.col("clip_id").alias("clip_id_a"),
        F.col("features").alias("features_a"),
        F.col("minhash").alias("minhash_a"),
    )
    sig_b = signatures.select(
        F.col("clip_id").alias("clip_id_b"),
        F.col("features").alias("features_b"),
        F.col("minhash").alias("minhash_b"),
    )
    # jaccard of two empty-transcript sentinel signatures is vacuously 1.0;
    # a missing transcript is no text evidence at all -> NULL (fails text_ok)
    sentinel = _cached_expr(
        "sentinel",
        cfg,
        lambda: (F.element_at("minhash_a", 1) == F.lit(_I64_MAX))
        | (F.element_at("minhash_b", 1) == F.lit(_I64_MAX)),
    )
    enriched = (
        with_ham.join(sig_a, "clip_id_a")
        .join(sig_b, "clip_id_b")
        .withColumn(
            "score",
            _cached_expr("pearson", cfg, lambda: V.pearson("features_a", "features_b")),
        )
        .withColumn(
            "jaccard_est",
            _cached_expr(
                "jaccard_est",
                cfg,
                lambda: F.when(sentinel, F.lit(None).cast("double")).otherwise(
                    T.jaccard_estimate("minhash_a", "minhash_b")
                ),
            ),
        )
    )
    audio_ok = _cached_expr(
        "audio_ok",
        cfg,
        lambda: (F.col("hamming") <= cfg.max_hamming)
        & F.col("score").isNotNull()
        & (F.col("score") >= cfg.threshold),
    )
    text_ok = _cached_expr(
        "text_ok", cfg, lambda: F.col("jaccard_est") >= cfg.jaccard_threshold
    )
    cheap = enriched.withColumn("audio_ok", audio_ok).withColumn(
        "text_ok", F.coalesce(text_ok, F.lit(False))
    )
    passed_cheap = cheap.filter(F.col("audio_ok") | F.col("text_ok")).withColumn(
        "lcs_len", F.lit(None).cast("int")
    )
    # suffix-array LCS only where substring evidence is possible: pairs the
    # winnowing fingerprints surfaced (cost control -- LCS is the expensive
    # verifier and simhash/minhash misses carry no substring signal).
    # Transcripts join HERE, onto the needs_lcs subset only -- hauling them
    # onto every enriched pair would dominate the verify-stage shuffle width
    # at scale for rows that never read them.
    needs_lcs = cheap.filter(
        ~(F.col("audio_ok") | F.col("text_ok")) & (F.col("from_winnow") == 1)
    )
    tr_a = signatures.select(
        F.col("clip_id").alias("clip_id_a"), F.col("transcript").alias("transcript_a")
    )
    tr_b = signatures.select(
        F.col("clip_id").alias("clip_id_b"), F.col("transcript").alias("transcript_b")
    )
    needs_lcs = needs_lcs.join(tr_a, "clip_id_a").join(tr_b, "clip_id_b")
    with_lcs = lcs_pairs(needs_lcs).filter(
        F.col("lcs_len") >= cfg.min_common_substring
    )
    cols = [
        "clip_id_a", "clip_id_b", "from_simhash", "from_minhash", "from_winnow",
        "hamming", "score", "jaccard_est", "audio_ok", "text_ok", "lcs_len",
    ]
    return passed_cheap.select(*cols).unionByName(with_lcs.select(*cols))


def cluster_assignments(
    clips: DataFrame, verified: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """clusters(clip_id, cluster_id): connected components over verified
    pairs; singletons keep their own id as cluster_id.

    Size-dispatched CC (the streaming path's device, promoted to batch):
    under cfg.cc_driver_max_edges canonical edges the whole component
    computation is ONE bounded collect + driver union-find, versus the star
    rounds' ~4 shuffles + checksum job per double-round -- at bench scale
    (2k clips) those fixed driver jobs dominated the clusters phase. Above
    the cap the distributed star algorithm runs exactly as before (the only
    scale-safe choice); driver-vs-distributed equality is pinned in
    tests/test_text_cc_suffix.py."""
    comp, _ = connected_components_auto(
        verified.select(F.col("clip_id_a").alias("src"), F.col("clip_id_b").alias("dst")),
        driver_max_edges=cfg.cc_driver_max_edges,
        max_iterations=cfg.max_cc_iterations,
    )
    return (
        clips.select("clip_id")
        .join(comp.withColumnRenamed("node", "clip_id"), "clip_id", "left")
        .select(
            "clip_id",
            F.coalesce(F.col("component"), F.col("clip_id")).alias("cluster_id"),
        )
    )


@dataclass
class DedupResult:
    features: DataFrame
    signatures: DataFrame
    buckets: DataFrame
    pairs: DataFrame
    verified: DataFrame
    clusters: DataFrame


def dedup_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    cfg: DedupConfig | None = None,
    warehouse=None,
    input_id: str | None = None,
) -> DedupResult:
    """Run the full pipeline. With a Warehouse, every stage is a
    write-or-resume checkpoint with lineage metrics (north_rule
    resumability); without, stages stay lazy (cached where reused).

    input_id identifies the external clips input (use
    sources.catalog.external_input_id on its path); it chains into the
    signature-stage fingerprint so a different corpus against the same
    warehouse invalidates instead of resuming stale stages."""
    cfg = cfg or DedupConfig()
    planes = PlaneSet(cfg.lsh_config())

    if warehouse is None:
        # cache signatures and materialize them ONCE (the Python-UDF decode
        # stage is the expensive pass; a cached DataFrame scanned N times
        # within one job is computed N times if nothing populated the cache
        # first -- observed 6x slowdown). buckets is cached lazily: its
        # recompute is a JVM-side explode over the already-cached signatures,
        # so a second driver-side count barrier buys nothing and serializes
        # the pipeline (r1 scaling-gate finding).
        signatures = clips_to_signatures(clips, cfg, planes).cache()
        signatures.count()
        features = signatures.select("clip_id", "features")
        buckets = build_buckets(signatures, cfg).cache()
        # pairs feeds verify exactly once -> lazy cache, no extra job
        pairs = candidate_pairs(buckets, cfg).cache()
        verified = verify_pairs(pairs, signatures, cfg).cache()
        clusters = cluster_assignments(clips, verified, cfg)
        return DedupResult(features, signatures, buckets, pairs, verified, clusters)

    cfg_dict = {k: getattr(cfg, k) for k in cfg.__dataclass_fields__}
    if input_id is not None:
        cfg_dict["__input_id__"] = input_id
    signatures = warehouse.run(
        "signatures",
        lambda: clips_to_signatures(clips, cfg, planes),
        config=cfg_dict,
        inputs=["clips"],
    )
    buckets = warehouse.run(
        "buckets",
        lambda: build_buckets(signatures, cfg),
        config=cfg_dict,
        inputs=["signatures"],
        partition_by=["src", "band"],
    )
    pairs = warehouse.run(
        "candidate_pairs",
        lambda: candidate_pairs(buckets, cfg),
        config=cfg_dict,
        inputs=["buckets"],
    )
    verified = warehouse.run(
        "verified_pairs",
        lambda: verify_pairs(pairs, signatures, cfg),
        config=cfg_dict,
        inputs=["candidate_pairs", "signatures"],
    )
    clusters = warehouse.run(
        "clusters",
        lambda: cluster_assignments(clips, verified, cfg),
        config=cfg_dict,
        inputs=["verified_pairs"],
    )
    features = signatures.select("clip_id", "features")
    return DedupResult(features, signatures, buckets, pairs, verified, clusters)
