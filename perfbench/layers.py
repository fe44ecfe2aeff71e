"""Per-layer probes for traced runs.

Each probe times calls into one module's public functions from here;
nothing inside ``kwage_spark`` is instrumented. Probes run after the
timed phases, in the same warm session, on the workload's own corpus,
store and queries.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from harness import tag
from stats import data_files, percentile
from workloads import BUCKETS, GROUP_COL, Runner

APPEND_ROUNDS = 3
BATCH_REPS = 2  # batches timed by the search probe, all tagged "probe:batch"


def _timed(fn, reps: int) -> float:
    """Median seconds of ``reps`` calls of ``fn``."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def hot_buckets(store: str) -> list[int]:
    """Buckets holding more than one data file (what compaction rewrites)."""
    per = Counter(os.path.basename(os.path.dirname(f)).split("=", 1)[1]
                  for f in data_files(store))
    return sorted(int(b) for b, n in per.items() if n > 1)


def compact_useful_share(store: str) -> float:
    """Of the rows compaction will rewrite (all rows of hot buckets), the
    share whose (group, kind) key has a duplicate to merge."""
    hot = {f"_bucket={b}" for b in hot_buckets(store)}
    rows = []
    for f in data_files(store):
        if os.path.basename(os.path.dirname(f)) in hot:
            rows.extend((r["repo"], r["lang"], r["kind"])
                        for r in pq.read_table(
                            f, columns=["repo", "lang", "kind"]).to_pylist())
    if not rows:
        return 0.0
    counts = Counter(rows)
    return sum(1 for r in rows if counts[r] > 1) / len(rows)


def _store_states(store: str, kind: str) -> list[bytes]:
    out = []
    for f in data_files(store):
        t = pq.read_table(f, columns=["kind", "state"]).to_pydict()
        out.extend(s for k, s in zip(t["kind"], t["state"]) if k == kind)
    return out


def _files_opened(df) -> int:
    """``numFiles`` of the file scan in an executed plan: the files the
    read actually opened after partition pruning."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    return sum(int(leaves.apply(i).metrics().apply("numFiles").value())
               for i in range(leaves.size())
               if leaves.apply(i).metrics().contains("numFiles"))


def kernels(r: Runner, record: dict) -> dict:
    """Driver-side, single-thread kernel rates on the workload's bytes.
    The scan kernel's seconds per batch go to ``record["scan_kernel_s"]``
    (see ``scan_share``). Unlike the library, which transposes a batch's
    states in row chunks, this transposes the whole store at once."""
    import pyarrow as pa
    from kwage_spark.kernels import _native
    from kwage_spark.kernels.bloom import BloomState
    from kwage_spark.kernels.registry import merge_state_blobs
    from kwage_spark.operators.search import prepare_queries
    cfg = r.cfg

    col = pq.read_table(os.path.join(r.dir, "corpus"),
                        columns=["content"]).column("content")
    col = col.cast(pa.large_string()).combine_chunks()
    offs = np.frombuffer(col.buffers()[1], dtype=np.int64)[
        col.offset:col.offset + len(col) + 1]
    buf = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    starts, lens = offs[:-1].copy(), np.diff(offs)
    seeds = np.arange(max(cfg.bloom.num_hash, 2), dtype=np.uint32)
    hash_s = _timed(lambda: _native.sliding_ranges_multiseed(
        buf, starts, lens, cfg.k, seeds), 3)

    blooms = _store_states(r.store, "bloom")
    B = np.stack([BloomState.from_bytes(s).bits for s in blooms])
    mask = np.uint32(cfg.bloom.m - 1)
    masked = [h.astype(np.uint32) & mask
              for _q, h in prepare_queries(r.batch_queries, cfg)]
    flat = np.concatenate([m.ravel() for m in masked])
    qoff = np.concatenate(([0], np.cumsum([m.size for m in masked]))
                          ).astype(np.int64)
    scan_s = _timed(lambda: _native.bloom_scan_count_sliced(
        _native.transpose_bits(B), B.shape[0], flat, qoff,
        cfg.bloom.num_hash), 3)

    hlls = _store_states(r.store, "hll")
    merge_s = _timed(lambda: (merge_state_blobs(blooms),
                              merge_state_blobs(hlls)), 3)
    scans = B.shape[0] * len(masked)
    record["scan_kernel_s"] = scan_s
    return {"kernels.hash_mb_per_s": int(lens.sum()) / hash_s / 1e6,
            "kernels.scan_mscans_per_s": scans / scan_s / 1e6,
            "kernels.merge_states_per_s": (len(blooms) + len(hlls)) / merge_s}


def scan_share(record: dict, events: dict[str, dict]) -> float:
    """One-thread scan-kernel seconds over the executor run seconds of one
    probe batch, summed over its tasks: both count single-thread work, so
    the ratio is the kernel's share of the batch's work."""
    return record["scan_kernel_s"] / (
        events["probe:batch"]["run_s"] / BATCH_REPS)


def chosen_mode(r: Runner) -> str:
    """The combine mode build_sketches' auto plan picks for the corpus."""
    from kwage_spark.operators.ingest import choose_combine, corpus_stats
    cfg = r.cfg
    n_shuffle = int(r.spark.conf.get("spark.sql.shuffle.partitions"))
    src = r.corpus_df().select(*cfg.group_cols, cfg.content_col)
    return choose_combine(src, cfg, n_shuffle, corpus_stats(src, cfg))


def ingest(r: Runner, record: dict) -> dict:
    from kwage_spark.operators.ingest import build_sketches, sketch_metrics
    from kwage_spark.sources.store import read_sketch_store, write_sketch_store
    spark, cfg = r.spark, r.cfg
    tag(spark, "probe:ingest")
    mode = []
    out = {"ingest.plan_s": _timed(lambda: mode.append(chosen_mode(r)), 3),
           "ingest.mode_partial": int(mode[-1] == "partial"),
           "ingest.build_s": _timed(
               lambda: build_sketches(r.corpus_df(), cfg).write
               .format("noop").mode("overwrite").save(), 2)}
    sk = build_sketches(r.corpus_df(), cfg).localCheckpoint(eager=True)
    path = os.path.join(r.work, "stores", "probe-write")
    out["store.write_s"] = _timed(lambda: write_sketch_store(
        sk, path, GROUP_COL, buckets=BUCKETS, mode="overwrite"), 2)
    sk.unpersist()
    m = sketch_metrics(read_sketch_store(spark, r.store)).collect()
    record["sketch_metrics"] = [row.asDict() for row in m]
    return out


def search(r: Runner) -> dict:
    from pyspark.sql import functions as F
    from kwage_spark.operators.search import (containment_counts,
                                              containment_search,
                                              prepare_queries)
    from kwage_spark.sources.store import read_sketch_group, read_sketch_store
    spark, cfg, store = r.spark, r.cfg, r.store
    tag(spark, "probe:search")
    lookups = r.meta["lookups"][:3]
    prep = []
    for q in r.meta["lookups"]:
        t0 = time.perf_counter()
        prepare_queries([(0, q["snippet"])], cfg)
        prep.append(time.perf_counter() - t0)

    read_ms, opened, point_ms = [], [], []
    for q in lookups:
        g = read_sketch_group(spark, store, GROUP_COL, q["repo"],
                              buckets=BUCKETS)
        t0 = time.perf_counter()
        g.collect()
        read_ms.append((time.perf_counter() - t0) * 1e3)
        opened.append(_files_opened(g))
        g = g.cache()
        g.count()
        t0 = time.perf_counter()
        containment_search(g, [(0, q["snippet"])], cfg).collect()
        point_ms.append((time.perf_counter() - t0) * 1e3)
        g.unpersist()

    bloom = read_sketch_store(spark, store).filter(
        F.col("kind") == "bloom").cache()
    bloom.count()
    tag(spark, "probe:batch")
    batch_s = _timed(lambda: containment_counts(
        bloom, r.batch_queries, cfg).collect(), BATCH_REPS)
    bloom.unpersist()
    return {"search.prepare_ms": statistics.median(prep) * 1e3,
            "search.point_ms_p50": percentile(point_ms, 50),
            "search.batch_s": batch_s,
            "store.read_group_ms_p50": percentile(read_ms, 50),
            "store.files_read_share":
                statistics.mean(opened) / len(data_files(store))}


def append_rounds(r: Runner) -> list[dict]:
    """APPEND_ROUNDS build + append + compact rounds on the (compacted)
    serving store, each with the share of rewritten rows that had a
    duplicate to merge, measured between the append and the compaction."""
    r.compact(r.store)
    expected = {g: list(v) for g, v in r.meta["counts"].items()}
    s, rounds = r.samples, []
    for i in range(APPEND_ROUNDS):
        ok, spans, info, share = r.append_round(
            f"append:{i}", r.store, r.meta["increments"][i], expected,
            compact_useful_share)
        if "compact_s" in spans:
            s["append_s"].append(spans["build_append_s"] + spans["compact_s"])
            s["append_write_s"].append(spans["build_append_s"])
            s["append_compact_s"].append(spans["compact_s"])
        rounds.append({"ok": ok, **spans, **(info or {}),
                       "useful_share": share})
    return rounds


def merge(r: Runner) -> dict:
    """merge_grouped_states on the cached hot-bucket rows after one more
    append: the rows a compaction re-merges. Runs last: it leaves the
    store uncompacted."""
    from pyspark.sql import functions as F
    from kwage_spark.operators.ingest import build_sketches
    from kwage_spark.operators.merge import merge_grouped_states
    from kwage_spark.sources.store import BUCKET_COL, write_sketch_store
    spark, store = r.spark, r.store
    tag(spark, "probe:merge")
    inc = r.meta["increments"][-1]
    write_sketch_store(build_sketches(spark.read.parquet(
        os.path.join(r.dir, inc["path"])), r.cfg), store, GROUP_COL,
        buckets=BUCKETS, mode="append")
    rows = spark.read.parquet(store).filter(
        F.col(BUCKET_COL).isin(hot_buckets(store))).cache()
    rows.count()
    merge_s = _timed(lambda: merge_grouped_states(
        rows, [*r.cfg.group_cols, BUCKET_COL]).write.format("noop")
        .mode("overwrite").save(), 1)
    rows.unpersist()
    return {"merge.grouped_s": merge_s}
