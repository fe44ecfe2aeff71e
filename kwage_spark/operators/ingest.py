"""Sketch ingest — the reference's maestro/worker build path (SURVEY §3.2)
re-expressed as a cost-based Spark aggregation.

Two physical strategies, both producing identical states (the merge is
associative + commutative, so the result is partitioning-invariant):

Both modes are Arrow-native (mapInArrow): a group's rows become
(start, len) ranges into the Arrow string column's data buffer, fed to
the sliding-hash kernel in one call — no Python string objects, no
pandas materialization, on the hot path.

  combine="partial"  (map-side combine, tree-merge)
      stage 1: mapInArrow builds a PARTIAL state per (group × partition);
               raw ``content`` never crosses the network.
      stage 2: groupBy(group, kind).applyInPandas merges the binary states.
      Shuffle volume ≈ min(n_groups × n_partitions, n_rows) × state_size.
      Wins when groups are FEW and LARGE (the KWAGE regime: one filter per
      SRA accession with millions of reads; `bloom.h:118-128` anticipates
      exactly this MPI-reduce-style tree-merge).

  combine="raw"  (group-partitioned single pass)
      hash-repartition rows by group key, then one pass per partition
      accumulating a single state per group across Arrow batches (bounded
      memory: states, not raw rows — unlike a plain applyInPandas which
      would materialize a whole mega-group in pandas).
      Shuffle volume = the raw content, once — the cost of any grouped agg.
      Wins when groups are MANY and SMALL, where partial states would
      exceed the raw data (e.g. 10^9 (repo,lang) groups of a few files).

  combine="auto" (default) estimates both volumes with one narrow
      stats aggregation (group keys + content length only — on a real
      deployment use table/column statistics instead of the extra scan)
      and picks the cheaper plan. This mirrors Spark's own partial-agg
      skip heuristic, applied to user-space aggregates.

Skew: in partial mode a mega-group combines wherever its rows sit (no hot
partition); in raw mode a mega-group hashes to one partition — use
build_sketches_salted for that layout, which splits groups into salted
subgroups and re-merges (A4/A5 algebra).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import (KIND_BLOOM, KIND_CMS, KIND_HLL, KIND_KLL,
                      KIND_KMV, KIND_TDIGEST, SketchConfig)
from ..kernels.bloom import BloomParams, BloomState
from ..kernels.cms import CMSState
from ..kernels.hll import HLLState
from ..kernels.kll import KLLState
from ..kernels.kmv import KMVState
from ..kernels.tdigest import TDigestState
from ..kernels import _native
from .merge import merge_grouped_states


def _new_states(cfg: SketchConfig) -> dict[str, object]:
    states: dict[str, object] = {}
    if KIND_BLOOM in cfg.kinds:
        states[KIND_BLOOM] = BloomState(cfg.bloom)
    if KIND_HLL in cfg.kinds:
        states[KIND_HLL] = HLLState(cfg.hll_p)
    if KIND_CMS in cfg.kinds:
        states[KIND_CMS] = CMSState(cfg.cms_log2_w, cfg.cms_depth)
    if KIND_KLL in cfg.kinds:
        states[KIND_KLL] = KLLState(cfg.kll_k)
    if KIND_TDIGEST in cfg.kinds:
        states[KIND_TDIGEST] = TDigestState(cfg.tdigest_delta)
    if KIND_KMV in cfg.kinds:
        states[KIND_KMV] = KMVState(cfg.kmv_k)
    return states


def _hash_lanes(cfg: SketchConfig) -> int:
    """Seed lanes the hash-sketches share (one murmur pass per row):
    Bloom uses lanes 0..num_hash-1 (seed h = h, `hash.cpp:252-254`),
    CMS row r uses lane r, HLL's 64-bit hash composes lanes 0 and 1."""
    lanes = 0
    if KIND_BLOOM in cfg.kinds:
        lanes = max(lanes, cfg.bloom.num_hash)
    if KIND_CMS in cfg.kinds:
        lanes = max(lanes, cfg.cms_depth)
    if KIND_HLL in cfg.kinds:
        lanes = max(lanes, 2)
    if KIND_KMV in cfg.kinds:
        lanes = max(lanes, 2)  # composes lanes 0,1 like HLL
    return lanes


def _feed_hashes(states: dict[str, object], cfg: SketchConfig,
                 H: np.ndarray) -> None:
    """Push a shared (n, lanes) uint32 hash matrix into the hash sketches."""
    if KIND_BLOOM in states:
        states[KIND_BLOOM].add_hashes(H[:, : cfg.bloom.num_hash])
    if KIND_HLL in states:
        states[KIND_HLL].add_hash_lanes(H)
    if KIND_CMS in states:
        states[KIND_CMS].add_hashes(H)
    if KIND_KMV in states:
        states[KIND_KMV].add_hash_lanes(H)


def _feed_group_ranges(states: dict[str, object], cfg: SketchConfig,
                       buf: np.ndarray, starts: np.ndarray,
                       lens: np.ndarray, sizes: np.ndarray) -> int:
    """Arrow-native group feed: rows are (start, len) ranges into the
    string column's shared data buffer — no Python string objects exist
    anywhere on this path."""
    lanes = _hash_lanes(cfg)
    n_kgrams = int(np.maximum(lens - cfg.k + 1, 0).sum())
    if lanes and n_kgrams:
        seeds = np.arange(lanes, dtype=np.uint32)
        H = _native.sliding_ranges_multiseed(buf, starts, lens, cfg.k, seeds)
        _feed_hashes(states, cfg, H)
    if KIND_KLL in states:
        states[KIND_KLL].add_values(sizes.astype(np.float64))
    if KIND_TDIGEST in states:
        states[KIND_TDIGEST].add_values(sizes.astype(np.float64))
    return n_kgrams


def _content_buf(batch, cfg: SketchConfig):
    """Content column's raw data buffer as uint8, or None for a 0-row
    batch; an all-empty/all-null column (None data buffer) yields an empty
    array so offset math still works."""
    if batch.num_rows == 0:
        return None
    dbuf = batch.column(
        batch.schema.get_field_index(cfg.content_col)).buffers()[2]
    return (np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None
            else np.empty(0, dtype=np.uint8))


def _arrow_groups(batch, cfg: SketchConfig):
    """Yield (key_tuple, starts, lens, sizes, n_rows) for each group in a
    pyarrow.RecordBatch, touching only Arrow buffers + numpy.

    Group discovery: dictionary-encode the concatenated group key, then a
    stable argsort of the code array gives contiguous index runs per
    group (the per-batch equivalent of a sort-based aggregate)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    if n == 0:
        return
    content = batch.column(batch.schema.get_field_index(cfg.content_col))
    if pa.types.is_large_string(content.type):
        odt = np.int64
    else:
        odt = np.int32
    off_buf, data_buf = content.buffers()[1], content.buffers()[2]
    offs = np.frombuffer(off_buf, dtype=odt)[content.offset:content.offset + n + 1]
    # all-empty / all-null string columns carry a None data buffer
    buf = (np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None
           else np.empty(0, dtype=np.uint8))
    starts_all = offs[:-1].astype(np.int64)
    lens_all = np.diff(offs).astype(np.int64)

    if cfg.size_col is not None:
        sizes_all = batch.column(
            batch.schema.get_field_index(cfg.size_col)).to_numpy(
                zero_copy_only=False).astype(np.float64)
    else:
        sizes_all = lens_all.astype(np.float64)

    # null group keys are keyed as "" (dictionary indices with nulls would
    # otherwise convert to float/NaN and break argsort/int below)
    gcols = [pc.fill_null(
                 batch.column(batch.schema.get_field_index(c))
                 .cast(pa.string()), "")
             for c in cfg.group_cols]
    key_arr = (gcols[0] if len(gcols) == 1 else
               pc.binary_join_element_wise(*gcols, "\x00"))
    codes_arr = pc.dictionary_encode(key_arr)
    codes = codes_arr.indices.to_numpy(zero_copy_only=False)
    dictionary = codes_arr.dictionary.to_pylist()
    mcols = {c: batch.column(batch.schema.get_field_index(c))
                  .cast(pa.string())
             for c in cfg.meta_cols}

    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    bounds = np.flatnonzero(np.diff(sorted_codes)) + 1
    run_starts = np.concatenate(([0], bounds))
    run_ends = np.concatenate((bounds, [n]))
    for rs, re in zip(run_starts.tolist(), run_ends.tolist()):
        ix = order[rs:re]
        key = dictionary[int(sorted_codes[rs])]
        key_tuple = tuple(key.split("\x00")) if len(cfg.group_cols) > 1 else (key,)
        if mcols:
            i0 = int(ix[0])  # first-row-wins metadata (FilterInfo analog)
            meta = {c: (a[i0].as_py() or "") for c, a in mcols.items()}
        else:
            meta = None
        yield (key_tuple, starts_all[ix], lens_all[ix], sizes_all[ix],
               re - rs, meta)


def _arrow_gen_partials(cfg: SketchConfig):
    """mapInArrow generator: per batch, group rows into (start, len)
    ranges over the string column's data buffer and feed the kernels
    directly — zero Python string objects. Yields incrementally: with
    many tiny groups a batch can hold thousands of groups at ~100 KB of
    state each; 256 rows bounds worker memory. Extra columns (e.g. a
    salt used only for partitioning) are ignored."""
    gcols = list(cfg.group_cols)

    def gen_partials(batches):
        rows = []
        for batch in batches:
            buf = _content_buf(batch, cfg)
            if buf is None:
                continue
            for key, starts, lens, sizes, n_rows, meta in _arrow_groups(batch, cfg):
                states = _new_states(cfg)
                n_kgrams = _feed_group_ranges(states, cfg, buf,
                                              starts, lens, sizes)
                for kind, st in states.items():
                    row = dict(zip(gcols, key))
                    row.update(kind=kind, state=st.to_bytes(),
                               n_rows=n_rows, n_kgrams=n_kgrams)
                    if meta is not None:
                        row["meta"] = meta
                    rows.append(row)
                if len(rows) >= 256:
                    yield _states_record_batch(rows, cfg)
                    rows = []
        if rows:
            yield _states_record_batch(rows, cfg)

    return gen_partials


def _states_record_batch(rows: list[dict], cfg: SketchConfig):
    import pyarrow as pa
    cols: dict[str, list] = {c: [] for c in cfg.group_cols}
    cols.update(kind=[], state=[], n_rows=[], n_kgrams=[])
    if cfg.meta_cols:
        cols["meta"] = []
    for r in rows:
        for c in cols:
            cols[c].append(r[c])
    arrays = [pa.array(cols[c], type=pa.string()) for c in cfg.group_cols]
    arrays += [pa.array(cols["kind"], type=pa.string()),
               pa.array(cols["state"], type=pa.binary()),
               pa.array(cols["n_rows"], type=pa.int64()),
               pa.array(cols["n_kgrams"], type=pa.int64())]
    names = list(cfg.group_cols) + ["kind", "state", "n_rows", "n_kgrams"]
    if cfg.meta_cols:
        arrays.append(pa.array([list(m.items()) for m in cols["meta"]],
                               type=pa.map_(pa.string(), pa.string())))
        names.append("meta")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def state_bytes_per_group(cfg: SketchConfig) -> int:
    """Serialized size of one group's full state set (for plan costing)."""
    total = 0
    if KIND_BLOOM in cfg.kinds:
        total += cfg.bloom.n_bytes + 24
    if KIND_HLL in cfg.kinds:
        total += (1 << cfg.hll_p) + 20
    if KIND_CMS in cfg.kinds:
        total += cfg.cms_depth * (1 << cfg.cms_log2_w) * 8 + 24
    if KIND_KLL in cfg.kinds:
        total += cfg.kll_k * 8 * 3 + 24
    if KIND_TDIGEST in cfg.kinds:
        total += cfg.tdigest_delta * 16 * 2 + 24
    if KIND_KMV in cfg.kinds:
        total += cfg.kmv_k * 8 + 16
    return total


def sketch_schema(cfg: SketchConfig) -> str:
    keys = ", ".join(f"{c} string" for c in cfg.group_cols)
    base = f"{keys}, kind string, state binary, n_rows long, n_kgrams long"
    if cfg.meta_cols:
        base += ", meta map<string,string>"
    return base


def _select_inputs(df: DataFrame, cfg: SketchConfig) -> DataFrame:
    cols = list(cfg.group_cols) + [cfg.content_col]
    if cfg.size_col:
        cols.append(cfg.size_col)
    cols += [c for c in cfg.meta_cols if c not in cols]
    return df.select(*cols)


# target bytes of raw content per shuffle partition in "raw" mode: small
# enough that a reducer's Arrow batches + states fit executor memory with
# room to spare, large enough to amortize task overhead
RAW_PARTITION_BYTES = 64 << 20


def _footer_scan_stats(src: DataFrame, cfg: SketchConfig
                       ) -> tuple[int, int, int, int, list[str]] | None:
    """(n_rows, content_bytes, group_col_compressed_bytes, n_row_groups,
    local_paths) straight from the parquet FOOTERS,
    driver-side, zero Spark jobs (guide §1/§6: don't re-scan data for
    statistics the storage layer already keeps). Only valid when ``src``
    is a pure column-pruned scan — any Filter/Join/agg between the
    relation and us would make footer totals overcount, so walk the
    optimized plan and accept Project chains over a single relation
    only; non-local or non-parquet sources return None and the caller
    falls back to the Spark aggregation. content_bytes is the content
    column's total_uncompressed_size — data + offsets, a few % above
    sum(length(content)), which is well inside the cost model's margin
    (the compare is against states ~25x away at the break-even point).
    """
    try:
        node = src._jdf.queryExecution().optimizedPlan()
        while node.nodeName() == "Project" and node.children().size() == 1:
            node = node.children().apply(0)
        if node.nodeName() != "LogicalRelation":
            return None
        files = list(src.inputFiles())
        if not files or not all(f.endswith(".parquet") for f in files):
            return None
        import pyarrow.parquet as pq
        n_rows = 0
        content_bytes = 0
        group_bytes = 0
        n_row_groups = 0
        paths = []
        for uri in files:
            if uri.startswith("file:"):
                path = "/" + uri.split(":", 1)[1].lstrip("/")
            elif "://" in uri or ":" in uri.split("/", 1)[0]:
                return None  # remote FS — footers not OS-addressable
            else:
                path = uri
            paths.append(path)
            pf = pq.ParquetFile(path)
            md = pf.metadata
            try:
                ci = pf.schema_arrow.get_field_index(cfg.content_col)
                gix = [pf.schema_arrow.get_field_index(c)
                       for c in cfg.group_cols]
            except Exception:  # noqa: BLE001
                return None
            if ci < 0 or any(i < 0 for i in gix):
                return None
            n_rows += md.num_rows
            n_row_groups += md.num_row_groups
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                content_bytes += rg.column(ci).total_uncompressed_size
                for i in gix:
                    group_bytes += rg.column(i).total_compressed_size
        return n_rows, content_bytes, group_bytes, n_row_groups, paths
    except Exception:  # noqa: BLE001 — any plan/IO surprise: use the scan
        return None


#: ceiling on COMPRESSED group-column bytes the driver may read itself for
#: the auto-mode cost stats; beyond it the narrow Spark aggregation runs
#: (whose fixed job cost is noise at that corpus size anyway)
GROUP_STATS_DRIVER_BUDGET = 32 << 20


def _driver_group_stats(paths: list[str], cfg: SketchConfig,
                        n_input_parts: int, target_parallelism: int
                        ) -> tuple[int, int] | None:
    """(n_groups, n_span_effective) computed from the group columns ONLY,
    driver-side — bounded by GROUP_STATS_DRIVER_BUDGET at the call site.

    n_span_effective models what build_sketches will actually do: a thin
    input is widened to ``target_parallelism`` round-robin partitions
    before the partial pass, so a group with r rows emits ~min(r, P)
    partial states; an already-wide input emits ~one state per (row
    group x resident group). The old Spark-side estimate measured the
    PRE-widen layout and under-costed partial mode by the widen factor
    (measured: a boundary corpus flip-flopped modes run to run on
    approx_count_distinct noise)."""
    try:
        import collections
        import pyarrow.parquet as pq
        counts: collections.Counter = collections.Counter()
        span = 0
        widen = n_input_parts < target_parallelism
        for path in paths:
            pf = pq.ParquetFile(path)
            for g in range(pf.metadata.num_row_groups):
                tbl = pf.read_row_group(g, columns=list(cfg.group_cols))
                cols = [tbl.column(c).to_pylist() for c in cfg.group_cols]
                keys = list(zip(*cols)) if len(cols) > 1 else cols[0]
                rg_counts = collections.Counter(keys)
                span += len(rg_counts)
                counts.update(rg_counts)
        if widen:
            p = max(target_parallelism, 1)
            span = sum(min(r, p) for r in counts.values())
        return max(len(counts), 1), max(span, 1)
    except Exception:  # noqa: BLE001
        return None


def corpus_stats(src: DataFrame, cfg: SketchConfig,
                 target_parallelism: int | None = None
                 ) -> tuple[int, int, int, int]:
    """(n_rows, n_groups≈, content_bytes, n_span_groups≈). n_span_groups
    counts distinct (input-partition, group) pairs — the number of
    partial states map-side combine would emit (widen-aware, see
    _driver_group_stats). On a table clustered/bucketed by the group key
    it approaches n_groups; on a round-robin layout it approaches
    n_groups x n_partitions. On a real deployment read these from
    table/column statistics instead.

    r6 (guide §1/§6): when the input is a pure local parquet scan,
    n_rows/content_bytes come from the FOOTERS and the group-key stats
    from a driver-side read of the (dictionary-compressed) group columns
    under GROUP_STATS_DRIVER_BUDGET — zero Spark jobs for the common
    case (the old full stats scan decoded the whole content column just
    for length() and cost ~0.4 s of a ~1.0 s sf1.0 build). Over budget
    or non-scan inputs fall back to one narrow Spark aggregation."""
    if target_parallelism is None:
        target_parallelism = src.sparkSession.sparkContext.defaultParallelism
    footer = _footer_scan_stats(src, cfg)
    if footer is not None:
        n_rows, content_bytes, group_bytes, n_row_groups, paths = footer
        if group_bytes <= GROUP_STATS_DRIVER_BUDGET:
            gs = _driver_group_stats(paths, cfg, n_row_groups,
                                     target_parallelism)
            if gs is not None:
                return n_rows, gs[0], content_bytes, gs[1]
        # footer totals stand; only the group distincts need a (narrow,
        # content-column-free) Spark aggregation
        proj = src.select(
            F.concat_ws("\x00", *cfg.group_cols).alias("_gkey"),
            F.concat_ws("\x00", F.spark_partition_id().cast("string"),
                        *cfg.group_cols).alias("_pkey"))
        stats = proj.agg(
            F.approx_count_distinct("_gkey").alias("n_groups"),
            F.approx_count_distinct("_pkey").alias("n_span")).first()
        return (n_rows, max(stats["n_groups"] or 1, 1), content_bytes,
                _widened_span(src, max(stats["n_groups"] or 1, 1),
                              max(stats["n_span"] or 1, 1), n_rows,
                              target_parallelism))
    # project the (non-deterministic) partition id BEFORE aggregating —
    # Spark forbids it inside an aggregate expression
    proj = src.select(
        F.concat_ws("\x00", *cfg.group_cols).alias("_gkey"),
        F.length(cfg.content_col).alias("_clen"),
        F.concat_ws("\x00", F.spark_partition_id().cast("string"),
                    *cfg.group_cols).alias("_pkey"))
    stats = proj.agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("_gkey").alias("n_groups"),
        F.sum("_clen").alias("content_bytes"),
        F.approx_count_distinct("_pkey").alias("n_span")).first()
    n_rows = stats["n_rows"] or 0
    n_groups = max(stats["n_groups"] or 1, 1)
    return (n_rows, n_groups, stats["content_bytes"] or 0,
            _widened_span(src, n_groups, max(stats["n_span"] or 1, 1),
                          n_rows, target_parallelism))


def _widened_span(src: DataFrame, n_groups: int, n_span: int, n_rows: int,
                  target_parallelism: int) -> int:
    """Adjust a measured pre-widen n_span for the repartition the partial
    build applies to thin inputs: after widening, each group spans up to
    ``target_parallelism`` partitions, so cost partial mode against
    min(n_groups x P, n_rows), never the single-partition measurement
    (which under-costs partial by the widen factor)."""
    try:
        if src.rdd.getNumPartitions() >= target_parallelism:
            return n_span
    except Exception:  # noqa: BLE001
        return n_span
    return max(n_span, min(n_groups * max(target_parallelism, 1), n_rows))


def raw_shuffle_partitions(content_bytes: int, floor: int) -> int:
    """Shuffle width for raw mode, sized by DATA VOLUME, not cores: a
    fixed spark.sql.shuffle.partitions makes reducer blocks grow linearly
    with the corpus until netty direct memory blows — partition count must
    scale with bytes (≈64 MB each), bounded below by the session default."""
    return max(floor, min(int(content_bytes // RAW_PARTITION_BYTES) + 1, 16384))


def choose_combine(src: DataFrame, cfg: SketchConfig,
                   n_partitions: int,
                   stats: tuple | None = None) -> str:
    """Cost-based strategy pick: compare estimated shuffle volumes.

    partial shuffles one state set per (input partition x group) actually
    co-resident — measured, not worst-cased, so a table clustered by the
    group key (the recommended layout, ≙ Iceberg bucketing on repo) gets
    map-side combine even when groups are small. raw shuffles the
    content exactly once."""
    st = stats or corpus_stats(src, cfg)
    n_rows, _n_groups, content_bytes = st[0], st[1], st[2]
    n_span = st[3] if len(st) > 3 else _n_groups * n_partitions
    partial_bytes = min(n_span, n_rows) * state_bytes_per_group(cfg)
    return "partial" if partial_bytes < content_bytes else "raw"


def build_sketches(df: DataFrame, cfg: SketchConfig,
                   combine: str = "auto",
                   repartition: int | None = None) -> DataFrame:
    """df(source_files) -> DataFrame[group_cols…, kind, state, n_rows, n_kgrams].

    Column-prunes to exactly the needed inputs before any UDF so the
    parquet scan reads only group keys + content (+ size_col).
    """
    src = _select_inputs(df, cfg)
    spark = df.sparkSession
    n_shuffle = int(repartition or spark.conf.get("spark.sql.shuffle.partitions"))
    stats = None
    if combine == "auto":
        stats = corpus_stats(src, cfg)
        combine = choose_combine(src, cfg, n_shuffle, stats)
    gcols = list(cfg.group_cols)
    schema = sketch_schema(cfg)

    if combine == "partial":
        if repartition:
            src = src.repartition(repartition)
        else:
            # partial mode inherits the INPUT partitioning — a thin input
            # (single-file table, one row group) would serialize all the
            # hashing on one task. Widen to the session parallelism; a
            # no-op at real scale (guide §2.5 unsplittable-input fix).
            # Partitioning-invariance of the merge keeps results
            # byte-identical (tested).
            from .util import ensure_parallelism
            src = ensure_parallelism(src)
        partials = src.mapInArrow(_arrow_gen_partials(cfg), schema=schema)
        return merge_grouped_states(partials, gcols)

    if combine != "raw":
        raise ValueError(f"unknown combine mode {combine!r}")

    if repartition is None:
        # scale the shuffle width with content volume (one narrow stats
        # scan unless the caller already supplied partitioning)
        if stats is None:
            stats = corpus_stats(src, cfg)
        n_shuffle = raw_shuffle_partitions(stats[2], n_shuffle)
    keyed = src.repartition(n_shuffle, *gcols)

    def per_partition(batches):
        # accumulate ONE state set per group across Arrow batches: memory
        # is bounded by (groups-in-partition × state size), never raw rows
        acc: dict[tuple, tuple[dict, int, int, dict | None]] = {}
        for batch in batches:
            buf = _content_buf(batch, cfg)
            if buf is None:
                continue
            for key, starts, lens, sizes, n_rows, meta in _arrow_groups(batch, cfg):
                entry = acc.get(key)
                if entry is None:
                    entry = (_new_states(cfg), 0, 0, meta)
                n_kgrams = _feed_group_ranges(entry[0], cfg, buf,
                                              starts, lens, sizes)
                acc[key] = (entry[0], entry[1] + n_rows,
                            entry[2] + n_kgrams, entry[3])
        rows = []
        for key, (states, n_rows, n_kgrams, meta) in acc.items():
            for kind, st in states.items():
                row = dict(zip(gcols, key))
                row.update(kind=kind, state=st.to_bytes(),
                           n_rows=n_rows, n_kgrams=n_kgrams)
                if meta is not None:
                    row["meta"] = meta
                rows.append(row)
                if len(rows) >= 256:
                    yield _states_record_batch(rows, cfg)
                    rows = []
        if rows:
            yield _states_record_batch(rows, cfg)

    return keyed.mapInArrow(per_partition, schema=schema)


def build_sketches_salted(df: DataFrame, cfg: SketchConfig,
                          salt_buckets: int = 8,
                          partitions: int | None = None) -> DataFrame:
    """Explicitly salted two-stage aggregation for skewed raw-mode layouts.

    A mega-group is split into (group, salt) subgroups — each built
    independently on its own partition — then the salt is dropped and the
    subgroup states merge (legal because the merge is associative +
    commutative, A5; ≙ KWAGE's size-aware packing concern A12).
    """
    src = _select_inputs(df, cfg)
    n_shuffle = int(partitions or
                    src.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    salted = src.withColumn(
        "_salt", (F.crc32(F.col(cfg.content_col)) % salt_buckets).cast("int"))
    stage1_in = salted.repartition(n_shuffle, *cfg.group_cols, "_salt")
    gcols = list(cfg.group_cols)
    schema = sketch_schema(cfg)
    # the salt exists only to spread the shuffle; the Arrow partials
    # generator groups by cfg.group_cols and ignores the extra column,
    # so subgroup states merge back in the same grouped-reduce stage
    partials = stage1_in.mapInArrow(_arrow_gen_partials(cfg), schema=schema)
    return merge_grouped_states(partials, gcols)


def config_for_corpus(src: DataFrame, base: SketchConfig,
                      p_target: float = 0.25,
                      stats: tuple | None = None) -> SketchConfig:
    """Size the Bloom filter from corpus statistics (≙ `optimal_bloom_param`,
    `bloom.cpp:10-68`, wired to the ingest stats scan instead of a per-SRA
    count): pick the smallest power-of-two m whose published FP bound meets
    ``p_target`` at the ESTIMATED per-group k-gram count.

    One size for the whole table (not per-group adaptive) so states stay
    merge-compatible without fold()s — SURVEY §7.3; skewed mega-groups
    exceed the average, so the estimate uses 4x the mean as headroom
    (cheap: doubling m costs one log2 step).
    """
    st = stats or corpus_stats(_select_inputs(df=src, cfg=base), base)
    n_rows, n_groups, content_bytes = st[0], st[1], st[2]
    if n_rows == 0:
        return base
    total_kgrams = max(content_bytes - n_rows * (base.k - 1), n_rows)
    per_group = max(1, total_kgrams // n_groups)
    params = BloomParams.optimal(per_group * 4, p_target=p_target, k=base.k)
    import dataclasses
    return dataclasses.replace(base, bloom=params)


def sketch_metrics(sketches: DataFrame) -> DataFrame:
    """Ingest accounting ≙ running totals A14 (`maestro_main.cpp:956-983`)."""
    return (sketches
            .groupBy("kind")
            .agg(F.count("*").alias("n_groups"),
                 F.sum("n_rows").alias("n_rows"),
                 F.sum("n_kgrams").alias("n_kgrams"),
                 F.sum(F.length("state")).alias("state_bytes")))
