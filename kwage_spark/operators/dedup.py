"""Near-duplicate detection over document tables — the training-data-
pipeline dedup family, built on the same shingle/hash kernels as the
sketches.

  * exact dedup          -> hash-groupBy (in queries.py, SQL-checked)
  * n-gram Jaccard       -> relational form (in queries.py, SQL-checked)
  * MinHash + LSH        -> minhash_signatures / lsh_candidates here
  * SimHash              -> simhash_signatures / simhash_near_duplicates
  * embedding cosine     -> embedding_near_duplicates (random hyperplanes)

Scale notes: every pairwise step is banded/bucketed FIRST (shuffle on the
band key), so candidate generation is O(n) rows exploded by a constant
(bands / chunks / probes) and the quadratic blow-up is confined to within-
bucket self-joins — the standard LSH contract. Verification re-ranks only
candidate pairs.
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..kernels.murmur3 import murmur3_32_multiseed
from .caching import persist_tracked
from .util import ensure_parallelism

logger = logging.getLogger(__name__)

MINHASH_SEED_BASE = 0x1000  # disjoint from bloom (0..4) and cms (0x100..)
SIMHASH_SEED = 0x2000
HYPERPLANE_SEED = 0x3000

#: default per-bucket membership cap for the LSH self-joins — bounds any
#: within-bucket candidate blow-up at cap*(cap-1)/2 pairs per bucket
DEFAULT_MAX_BUCKET = 1024


def _cap_hot_buckets(keyed: DataFrame, bucket_cols: list[str], id_col: str,
                     cap: int | None, op_name: str,
                     audit: bool = False) -> DataFrame:
    """Bound degenerate LSH buckets before a within-bucket self-join.

    One hot bucket — boilerplate docs sharing a zero chunk, near-constant
    embeddings collapsing to one sign pattern — reintroduces exactly the
    O(b²) pair blow-up the bucketing exists to prevent. Rows ranked past
    ``cap`` (deterministic rank by ``id_col``, so runs are reproducible)
    are dropped from the bucket (≙ the reference's per-pair result cap,
    `SriRachA/search_by_kmer.cpp:86-90`). Pairs among a hot bucket's
    first ``cap`` members are still found; callers needing full recall on
    a pathological corpus pass ``max_bucket=None``.

    ``audit=True`` logs the drop via ONE bounded aggregate row (bucket
    count / rows dropped / worst bucket) — never a per-bucket collect,
    which on a pathological corpus could pull millions of rows to the
    driver. It is opt-in because the aggregate is an extra eager job
    over the keyed table per operator call, at construction time; the
    capping itself is lazy and deterministic either way.

    The rank window partitions BY BUCKET — thousands of parallel
    partitions, never a single-partition window; a hot bucket costs one
    task O(bucket·log bucket), not O(bucket²).
    """
    if cap is None:
        return keyed
    w = W.partitionBy(*bucket_cols).orderBy(id_col)
    ranked = keyed.withColumn("_brank", F.row_number().over(w))
    if audit:
        stats = (ranked.filter(F.col("_brank") > cap)
                 .groupBy(*bucket_cols)
                 .agg(F.count(F.lit(1)).alias("n_dropped"))
                 .agg(F.count(F.lit(1)).alias("n_buckets"),
                      F.sum("n_dropped").alias("n_rows"),
                      F.max("n_dropped").alias("worst"))
                 .collect()[0])  # exactly one row regardless of corpus
        if stats["n_buckets"]:
            logger.warning(
                "%s: capped %d hot LSH bucket(s) at %d members — dropped "
                "%d rows total (worst bucket dropped %d); pass "
                "max_bucket=None to disable", op_name, stats["n_buckets"],
                cap, stats["n_rows"], stats["worst"])
    return ranked.filter(F.col("_brank") <= cap).drop("_brank")


# ------------------------------------------------------------------ minhash
def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       k: int = 5, num_perm: int = 64) -> DataFrame:
    """(id, sig array<bigint>) — sig[i] = min over k-grams of murmur(gram, seed_i).

    No per-document Python loop in the hash path: one FUSED
    sliding-window + per-seed-min call per Arrow batch over the
    concatenated document bytes (`_native.sliding_ranges_minhash`) — the
    (n_windows x num_perm) hash matrix is never materialized, block
    mixing is shared across overlapping windows, and memory traffic is
    O(bytes), not O(windows x perms x 4). Without the native library the
    same call runs its batched numpy path. Both are byte-identical to the
    per-document reference (pytest-pinned); microbench in
    BENCH/BASELINE.md.
    """
    seeds = (MINHASH_SEED_BASE + np.arange(num_perm)).astype(np.uint32)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import _native
        for pdf in batches:
            raw = [t.encode("utf-8", "surrogatepass")
                   for t in pdf[text_col]]
            lens = np.fromiter((len(b) for b in raw), dtype=np.int64,
                               count=len(raw))
            keep = np.nonzero(lens >= k)[0]
            if keep.size == 0:
                continue
            buf = np.frombuffer(b"".join(raw[i] for i in keep),
                                dtype=np.uint8)
            klens = lens[keep]
            starts = np.zeros(keep.size, dtype=np.int64)
            np.cumsum(klens[:-1], out=starts[1:])
            sigs = _native.sliding_ranges_minhash(buf, starts, klens, k,
                                                  seeds)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[keep],
                 "sig": sigs.astype(np.int64).tolist()})

    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        gen, schema=f"{id_col} long, sig array<bigint>")


def band_keys(sigs: DataFrame, id_col: str, bands: int, r: int) -> DataFrame:
    """(id, band, bkey) band rows — deliberately WITHOUT the signature
    column: the LSH candidate self-join shuffles these rows xbands x2, so
    carrying the full num_perm-element sig through that shuffle would
    multiply its volume ~2xbands. Signatures rejoin once per candidate
    pair for verification (see minhash_lsh_pairs)."""
    band_cols = F.explode(F.expr(
        f"transform(sequence(0, {bands - 1}),"
        f" b -> struct(b AS band, hash(slice(sig, b * {r} + 1, {r})) AS bkey))"
    )).alias("bb")
    return sigs.select(id_col, band_cols).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      k: int = 5, num_perm: int = 64, bands: int = 16,
                      threshold: float = 0.7,
                      max_bucket: int | None = DEFAULT_MAX_BUCKET,
                      bucket_audit: bool = False) -> DataFrame:
    """Candidate pairs via banding, verified by signature-Jaccard >= threshold.

    rows_per_band = num_perm // bands; the usual S-curve gives candidate
    recall ~1 at J >= (1/bands)^(1/rows_per_band).
    Output: (id_a, id_b, sig_jaccard) with id_a < id_b.

    The internal signature cache is registered with
    ``operators.caching``; call ``release_caches()`` after materializing.
    """
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    r = num_perm // bands
    # persisted (tracked): the plan reads sigs three times (banding + both
    # rejoin sides); without a cache the murmur corpus pass re-runs x3
    sigs = persist_tracked(minhash_signatures(df, id_col, text_col, k,
                                              num_perm))

    banded = _cap_hot_buckets(band_keys(sigs, id_col, bands, r),
                              ["band", "bkey"], id_col, max_bucket,
                              "minhash_lsh_pairs", audit=bucket_audit)

    a = banded.alias("a")
    b = banded.alias("b")
    cand_ids = (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bkey") == F.col("b.bkey"))
                       & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))

    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    cand = cand_ids.join(sa, "id_a").join(sb, "id_b")

    sig_j = (F.size(F.expr(
        "filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)"))
        / F.lit(num_perm))
    return (cand.withColumn("sig_jaccard", sig_j)
            .filter(F.col("sig_jaccard") >= threshold)
            .select("id_a", "id_b", F.round("sig_jaccard", 5).alias("sig_jaccard")))


# ------------------------------------------------------------------ simhash
_SIMHASH_SEEDS = np.asarray([SIMHASH_SEED, SIMHASH_SEED + 1],
                            dtype=np.uint32)


def _hash_tokens_64(tokens: list[bytes]) -> np.ndarray:
    """64-bit murmur of each byte string AT ITS EXACT LENGTH, batched by
    grouping equal-length tokens into one matrix per distinct length
    (token lengths cluster tightly, so this is a handful of kernel calls
    per Arrow batch instead of one padded call per document).

    Exact-length hashing matters for correctness, not just speed: the
    kernel hashes the full matrix width, so the old per-document padding
    (pad to that doc's longest token) made the SAME token hash
    DIFFERENTLY in two docs whose longest tokens differ — near-identical
    docs diverged to random hamming distance when one dropped its
    longest token. A token's hash is now document-independent.
    """
    out = np.empty(len(tokens), dtype=np.uint64)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64,
                       count=len(tokens))
    for L in np.unique(lens):
        idx = np.nonzero(lens == L)[0]
        if L == 0:
            arr = np.zeros((idx.size, 0), dtype=np.uint8)
        else:
            arr = np.frombuffer(b"".join(tokens[i] for i in idx),
                                dtype=np.uint8).reshape(idx.size, L)
        h2 = murmur3_32_multiseed(arr, _SIMHASH_SEEDS)
        out[idx] = ((h2[:, 0].astype(np.uint64) << np.uint64(32))
                    | h2[:, 1].astype(np.uint64))
    return out


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens: sum of +/-1 per bit weighted
    by token count, sign -> bit. (id, simhash bigint).

    One batched hashing pass per Arrow batch (all documents' distinct
    tokens concatenated, grouped by byte length — see _hash_tokens_64),
    then a per-document segmented reduction; no per-document Python loop
    in the hash path. Weighted bit sums use the identity
    Σw·(2b−1) = 2·Σw·b − Σw over uint8-unpacked bits, halving the
    temp-matrix traffic vs the ±1 int64 expansion (microbenched in
    BENCH/BASELINE.md)."""
    from collections import Counter

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            tokens: list[bytes] = []
            weights: list[np.ndarray] = []
            starts: list[int] = []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                counts = Counter(text.split())
                if not counts:
                    continue
                starts.append(len(tokens))
                tokens.extend(t.encode("utf-8", "surrogatepass")
                              for t in counts)
                weights.append(np.fromiter(counts.values(), dtype=np.int32,
                                           count=len(counts)))
                ids.append(rid)
            if not ids:
                continue
            h64 = _hash_tokens_64(tokens)                     # (n_tok,)
            starts_a = np.asarray(starts)
            w = np.concatenate(weights)
            # bit j of each hash, LSB-first: little-endian byte view +
            # bitorder='little' — (n_tok, 64) uint8
            bb = np.unpackbits(h64.view(np.uint8).reshape(-1, 8),
                               axis=1, bitorder="little")
            seg = np.add.reduceat(bb.astype(np.int32) * w[:, None],
                                  starts_a, axis=0)
            tot = np.add.reduceat(w, starts_a)
            sums = 2 * seg - tot[:, None]                     # (n_doc, 64)
            sig_bits = sums > 0
            packed = np.packbits(sig_bits[:, ::-1], axis=1)
            sigs = np.ascontiguousarray(packed).view(">u8").ravel()
            yield pd.DataFrame({id_col: ids,
                                "simhash": sigs.astype(np.int64)})

    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        gen, schema=f"{id_col} long, simhash bigint")


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 3,
                            max_bucket: int | None = DEFAULT_MAX_BUCKET,
                            bucket_audit: bool = False) -> DataFrame:
    """Pairs within Hamming distance d via the chunk trick: split 64 bits
    into d+1 chunks — any pair with distance <= d matches exactly on at
    least one chunk (pigeonhole). Bucket-join on (chunk_idx, chunk_value),
    verify with bit_count(xor). Hot (chunk, value) buckets are capped at
    ``max_bucket`` members (logged; see _cap_hot_buckets); the chunk-row
    cache is registered with ``operators.caching``."""
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    sigs = simhash_signatures(df, id_col, text_col)
    chunks = F.explode(F.expr(
        f"transform(sequence(0, {n_chunks - 1}),"
        f" c -> struct(c AS ci, shiftright(simhash, c * {width})"
        f" & {(1 << width) - 1} AS cv))")).alias("ch")
    keyed = sigs.select(id_col, "simhash", chunks).select(
        id_col, "simhash", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"))
    if max_bucket is not None:
        # persisted (tracked): the within-bucket self-join reads keyed on
        # BOTH sides — without a cache the simhash UDF pass runs twice
        keyed = _cap_hot_buckets(persist_tracked(keyed), ["ci", "cv"],
                                 id_col, max_bucket,
                                 "simhash_near_duplicates",
                                 audit=bucket_audit)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (a.join(b, (F.col("a.ci") == F.col("b.ci")) & (F.col("a.cv") == F.col("b.cv"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.simhash").alias("sh_b"))
            .dropDuplicates(["id_a", "id_b"]))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ------------------------------------------------------- embedding near-dup
def embedding_near_duplicates(df: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95,
                              n_planes: int = 12,
                              max_bucket: int | None = DEFAULT_MAX_BUCKET,
                              bucket_audit: bool = False) -> DataFrame:
    """Cosine near-dup via random-hyperplane LSH + exact re-rank.

    Seeded Gaussian hyperplanes (deterministic); sign pattern -> bucket;
    within-bucket pairs re-ranked by exact cosine (built-in zip_with /
    aggregate, JVM-side). Hot buckets (e.g. near-constant embeddings
    collapsing to one sign pattern) are capped at ``max_bucket`` members
    (logged); the bucketed-row cache is registered with
    ``operators.caching``.

    The hyperplanes are a pure function of (HYPERPLANE_SEED, dim), so
    they are generated EXECUTOR-side from each Arrow batch's vector
    length — no eager ``.first()`` dimension probe at construction (the
    r4-flagged extra pre-action job) and no driver broadcast; an empty
    input simply yields an empty result through the same plan.
    """
    @F.pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        mat = np.stack(vecs.to_numpy())            # (n, dim)
        rng = np.random.default_rng(HYPERPLANE_SEED)
        p = rng.standard_normal((n_planes, mat.shape[1]))
        signs = (mat @ p.T) > 0                     # (n, n_planes)
        return pd.Series((signs * (1 << np.arange(p.shape[0]))).sum(axis=1)
                         .astype(np.int64))

    keyed = df.select(id_col, vec_col).withColumn("bucket", bucket_of(F.col(vec_col)))
    if max_bucket is not None:
        # persisted (tracked): the self-join reads keyed on both sides —
        # the cache keeps the bucket UDF pass to one run
        keyed = _cap_hot_buckets(persist_tracked(keyed), ["bucket"],
                                 id_col, max_bucket,
                                 "embedding_near_duplicates",
                                 audit=bucket_audit)
    a, b = keyed.alias("a"), keyed.alias("b")
    dot = F.expr(f"aggregate(zip_with(a.{vec_col}, b.{vec_col},"
                 " (x, y) -> cast(x as double) * cast(y as double)),"
                 " cast(0.0 as double), (acc, v) -> acc + v)")

    def nrm(side: str):
        return F.expr(f"sqrt(aggregate({side}.{vec_col}, cast(0.0 as double),"
                      " (acc, x) -> acc + cast(x as double) * cast(x as double)))")

    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .withColumn("cosine", dot / (nrm("a") * nrm("b")))
            .filter(F.col("cosine") >= threshold)
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.round("cosine", 5).alias("cosine")))


# ------------------------------------------- duplicate n-gram coverage
def duplicate_ngram_coverage(df: DataFrame, id_col: str, text_col: str,
                             k: int = 20) -> DataFrame:
    """Per-document duplicated-text fraction: the share of a document's
    DISTINCT k-grams that also occur in at least one OTHER document —
    the curation signal behind substring-level dedup decisions ("this
    doc is 80% boilerplate seen elsewhere") popularized by corpus-dedup
    studies; long k (default 20 chars) makes incidental overlap rare, so
    the score isolates genuinely copied spans.

    Fully relational (no UDF, no sketch): two-level relational shingle
    (queries.shingle_rel) → per-(gram) aggregate carrying BOTH the
    distinct-doc count and each doc's membership in one shuffle (the
    (doc, gram) distinct), then a per-doc mean over its distinct grams.
    Shuffle volume is O(distinct (doc, gram) pairs); the gram-frequency
    side aggregates map-side first. Exactly SQL-expressible — value-
    checked against a DuckDB oracle in
    tests/test_pipeline_ops.py::test_duplicate_ngram_coverage_oracle.
    (Not on the driver registry: the 50-slot scorecard window is full —
    49 oracle-backed + the pinned flagship; see tests/test_registration.)

    Returns (id, n_grams, n_dup_grams, dup_coverage ∈ [0, 1]).
    """
    from ..queries import shingle_rel

    doc_grams = (shingle_rel(df, [id_col], text_col, k)
                 .select(id_col, "gram").distinct())
    # per-gram distinct-doc count; small relative to the pair table
    gram_docs = (doc_grams.groupBy("gram")
                 .agg(F.count(F.lit(1)).alias("_ndocs")))
    joined = doc_grams.join(gram_docs, "gram")
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                 F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0))
                 .cast("long").alias("n_dup_grams"))
            .withColumn("dup_coverage",
                        F.round(F.col("n_dup_grams") / F.col("n_grams"), 5)))
