"""Containment search — the reference's flagship read path (`kwage`,
SURVEY §3.1) as a broadcast + partition-parallel scan.

KWAGE transposes filters to bit-slices so one k-mer probe is one disk seek
(`build_db.cpp:224-231`). In Spark the same algebra runs the other way
round (SURVEY §4.2): sketches stay filter-major rows; the query's small
hash matrix is broadcast; every partition gathers + ANDs + popcounts its
own filters locally. No shuffle at query time, embarrassingly parallel,
exactly like the OpenMP loop over DB files (`kwage.cpp:76-96`).

Semantics replicated exactly:
  * query k-grams deduped before probing (Q1, `kwage.cpp:362-366`)
  * per-k-gram membership = AND over seeds (Q3, `kwage.cpp:409-423`)
  * threshold = int(t * n_unique) float->int TRUNCATION, match iff
    count >= threshold (Q5, `kwage.cpp:388,497`)
  * zero-k-gram query produces no rows (F10, `kwage.cpp:366-371`)
  * results sorted descending by num_kmers_found (Q8, `output.h:27-32`)
"""

from __future__ import annotations

import struct
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import KIND_BLOOM, SketchConfig
from ..kernels import _native
from ..kernels.bloom import _HDR, _MAGIC as _BLOOM_MAGIC
from ..kernels.shingle import unique_query_hashes

RESULT_SCHEMA_TAIL = ("query_id long, num_kmers long, num_kmers_found long, "
                      "percent_kmers_found double")


def prepare_queries(queries: Sequence[tuple[int, str]], cfg: SketchConfig
                    ) -> list[tuple[int, np.ndarray]]:
    """Driver-side digest of query snippets -> unique hash matrices (Q1)."""
    return [(int(qid), unique_query_hashes(snippet, cfg.k, cfg.bloom.seeds))
            for qid, snippet in queries]


def _scan_core(sketches: DataFrame, queries: Sequence[tuple[int, str]],
               cfg: SketchConfig, threshold: float):
    """The one containment scan both result shapes share.

    Driver half: digest and mask the queries, broadcast them once.
    Returns (bloom_rows, bq, scan): ``bq.value`` is (qids, num_kmers,
    thresholds, flat bit indices, per-query offsets), and ``scan`` is the
    executor half — it stacks each pandas batch's filters into a
    (rows, m/8) byte matrix after checking every row's header, then
    yields (batch, row_offset, (rows, nq) int32 count matrix) chunks from
    ``_native.scan_count_chunks`` (≙ the reference's per-filter count
    loop, kwage.cpp:409-423). CRC is not re-verified here, matching the
    reference's read path, which checksums at build/merge time only.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    # broadcast pre-masked bit indices, not raw hashes: executors do zero
    # per-query prep (≙ broadcasting the query's slice-index set, Q2).
    # The flat/offset form feeds the scan kernel in ONE call per row
    # chunk across ALL queries.
    mask = np.uint32(cfg.bloom.m - 1)
    prepared = prepare_queries(queries, cfg)
    qids = np.asarray([q for q, _ in prepared], dtype=np.int64)
    nuniq = np.asarray([h.shape[0] for _, h in prepared], dtype=np.int64)
    # int(threshold * n) truncation per query (kwage.cpp:388)
    thr = (threshold * nuniq).astype(np.int64)
    flat_idx = (np.concatenate([(h.astype(np.uint32) & mask).ravel()
                                for _, h in prepared])
                if prepared else np.empty(0, dtype=np.uint32))
    qoff = np.concatenate(([0], np.cumsum([h.size for _, h in prepared]))
                          ).astype(np.int64)
    bq = sketches.sparkSession.sparkContext.broadcast(
        (qids, nuniq, thr, flat_idx, qoff))
    hdr_size = _HDR.size  # BloomState header prefix before raw bits
    n_bytes = cfg.bloom.n_bytes
    want = (cfg.bloom.log2_m, cfg.bloom.num_hash)

    def scan(batches: Iterator[pd.DataFrame]
             ) -> Iterator[tuple[pd.DataFrame, int, np.ndarray]]:
        flat_q, qoff_q = bq.value[3:]
        if qoff_q.shape[0] < 2:
            return
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            B = np.empty((n, n_bytes), dtype=np.uint8)
            for i, s in enumerate(pdf["state"].to_numpy()):
                # validate each row's serialized header (12 cheap bytes)
                # BEFORE the fixed-offset bit read: a state written with a
                # different (log2_m, num_hash) would otherwise be scanned
                # with the wrong mask / truncated bits and return silently
                # wrong counts (heterogeneous stores must fold() first)
                # plain format string: struct.Struct objects don't pickle
                magic, _ver, l2m, nh = struct.unpack_from("<IBBB", s, 0)
                if magic != _BLOOM_MAGIC or (l2m, nh) != want:
                    raise ValueError(
                        f"containment scan: state header (magic=0x"
                        f"{magic:08x}, log2_m={l2m}, num_hash={nh}) does "
                        f"not match the search config (magic=0x"
                        f"{_BLOOM_MAGIC:08x}, log2_m={want[0]}, "
                        f"num_hash={want[1]}); fold() the store or search "
                        "with the matching SketchConfig")
                B[i] = np.frombuffer(s, dtype=np.uint8, count=n_bytes,
                                     offset=hdr_size)
            for r0, fm in _native.scan_count_chunks(B, flat_q, qoff_q,
                                                    want[1]):
                yield pdf, r0, fm

    return sketches.filter(F.col("kind") == KIND_BLOOM), bq, scan


def containment_search(sketches: DataFrame, queries: Sequence[tuple[int, str]],
                       cfg: SketchConfig, threshold: float = 1.0,
                       emit_all: bool = False) -> DataFrame:
    """sketches(bloom rows) x queries -> match DataFrame.

    Output: group_cols…, query_id, num_kmers, num_kmers_found,
    percent_kmers_found — the reference's CSV/JSON result shape
    (`output.h:35-59`), sorted per Q8.
    """
    bloom_rows, bq, scan = _scan_core(sketches, queries, cfg, threshold)
    gcols = list(cfg.group_cols)
    has_meta = "meta" in sketches.columns  # FilterInfo passthrough (S11)
    schema = ", ".join(f"{c} string" for c in gcols)
    if has_meta:
        schema += ", sample_metadata map<string,string>"
    schema += ", " + RESULT_SCHEMA_TAIL

    def match_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Emission is vectorized across queries — one frame per count
        # chunk, not one per (query, chunk): with thousands of queries
        # the per-frame pandas overhead otherwise dwarfs the kernel.
        qids, nuniq, thr = bq.value[:3]
        valid = nuniq > 0  # n_unique == 0 queries are silently invalid (F10)
        for pdf, r0, fm in scan(batches):
            ok = (np.ones_like(fm, dtype=bool) if emit_all
                  else fm >= thr[None, :]) & valid[None, :]
            rsel, qsel = np.nonzero(ok)
            if rsel.size == 0:
                continue
            rows_sel = rsel + r0
            f = {c: pdf[c].to_numpy()[rows_sel] for c in gcols}
            if has_meta:
                f["sample_metadata"] = pdf["meta"].to_numpy()[rows_sel]
            f["query_id"] = qids[qsel]
            f["num_kmers"] = nuniq[qsel]
            f["num_kmers_found"] = fm[rsel, qsel].astype(np.int64)
            f["percent_kmers_found"] = (100.0 * f["num_kmers_found"]
                                        / f["num_kmers"])
            yield pd.DataFrame(f)

    res = bloom_rows.mapInPandas(match_rows, schema=schema)
    # Q8/Q9: ascending query id, descending hit count within a query
    return res.orderBy("query_id", F.desc("num_kmers_found"), *gcols)


def containment_counts(sketches: DataFrame,
                       queries: Sequence[tuple[int, str]],
                       cfg: SketchConfig,
                       threshold: float = 1.0) -> DataFrame:
    """Per-query MATCH COUNTS (Q10 result-merge analog): how many groups
    contain ≥ threshold of each query's k-grams.

    Same scan as containment_search, but each partition keeps one running
    total per query and emits one row per query — the result traffic is
    O(n_queries x n_partitions) rows regardless of how many groups match,
    which is the right shape when queries are broad (a per-group emit
    would ship millions of match rows nobody reads).
    Output: query_id, num_kmers, n_matches.
    """
    bloom_rows, bq, scan = _scan_core(sketches, queries, cfg, threshold)

    def partition_totals(batches: Iterator[pd.DataFrame]
                         ) -> Iterator[pd.DataFrame]:
        qids, nuniq, thr = bq.value[:3]
        valid = nuniq > 0
        totals = np.zeros(qids.shape[0], dtype=np.int64)
        for _pdf, _r0, fm in scan(batches):
            totals += ((fm >= thr[None, :]) & valid[None, :]).sum(axis=0)
        yield pd.DataFrame({"query_id": qids, "num_kmers": nuniq,
                            "n_matches": totals})

    partials = bloom_rows.mapInPandas(
        partition_totals, schema="query_id long, num_kmers long, n_matches long")
    return (partials.groupBy("query_id", "num_kmers")
            .agg(F.sum("n_matches").alias("n_matches"))
            .filter(F.col("num_kmers") > 0)  # F10: no row for empty queries
            .orderBy("query_id"))


def exact_containment(files: DataFrame, queries: Sequence[tuple[int, str]],
                      cfg: SketchConfig) -> DataFrame:
    """Exact verifier ≙ SriRachA set-intersection oracle (Q11,
    `SriRachA/search_by_kmer.cpp:84-133`): true fraction of the query's
    unique k-grams present in each group's k-gram set, via pure
    DataFrame ops (sequence/substring shingling + explode + semi-count).
    """
    k = cfg.k
    gcols = list(cfg.group_cols)
    qdf = files.sparkSession.createDataFrame(
        [(int(q), s) for q, s in queries], "query_id long, snippet string")
    qgrams = (qdf
              .select("query_id", F.explode(F.expr(
                  f"transform(sequence(1, greatest(length(snippet) - {k - 1}, 0)),"
                  f" i -> substring(snippet, i, {k}))")).alias("gram"))
              .distinct())
    totals = qgrams.groupBy("query_id").agg(F.count("*").alias("num_kmers"))
    # broadcast-join the (tiny) query gram set BEFORE aggregating: only
    # corpus grams that appear in some query survive to the shuffle, not
    # the full corpus k-gram set (same algebra, ~corpus-sized saving).
    # countDistinct replaces the old distinct()+count() pair — ONE
    # shuffle with map-side partial distinct instead of two full-row
    # exchanges (the dedup work happens before rows leave the mapper).
    # Shingling via the two-level segment slide (queries.shingle_rel):
    # one-level substring slides are O(len²) per doc — Spark's substring
    # rescans from byte 0 for every window position.
    from ..queries import shingle_rel
    grams = (shingle_rel(files, gcols, cfg.content_col, k)
             .join(F.broadcast(qgrams), "gram"))
    hits = (grams
            .groupBy(*gcols, "query_id")
            .agg(F.countDistinct("gram").alias("num_kmers_found")))
    return (hits.join(F.broadcast(totals), "query_id")
            .withColumn("exact_fraction",
                        F.col("num_kmers_found") / F.col("num_kmers")))
