"""Workload shapes and the timed, checked operations run against the
library's public API.

One closed-loop client issues every operation and waits for its result.
Each operation is timed end to end from this file and then checked
against exact expectations computed from the generated corpus.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, replace

import pyarrow.parquet as pq

from corpus import Shape
from harness import tag
from stats import cpu_jiffies, data_files, steal_share

GROUP_COL = "repo"
BUCKETS = 16


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    # Bloom size; every other sketch parameter is the library default
    bloom_log2_m: int


# why each workload exists is recorded in BENCHMARK.json and README.md
WORKLOADS = {w.name: w for w in (
    Workload(
        "few_big_groups",
        Shape(n_files=8000, files_per_repo=400, mega_factor=4,
              tokens_per_file=200, inc_existing=2, inc_new=2, inc_files=40,
              rounds=3),
        # the default 2^16 bits saturate on the mega repo's (repo, lang)
        # groups (~0.6 M k-grams each) and absent queries then match; at
        # 2^19 a 1024-query batch still expects ~0.5 false matches, at
        # 2^20 ~1e-13
        20),
    Workload(
        "many_small_groups",
        Shape(n_files=8000, files_per_repo=10, mega_factor=4,
              tokens_per_file=200, inc_existing=2, inc_new=2, inc_files=5,
              rounds=3),
        16),
)}


K = 8  # k-gram width in bytes, the library default


def sketch_config(wl: Workload):
    """Bloom + HLL per (repo, lang) group, with the library's default
    Bloom parameters except the filter size."""
    from kwage_spark.config import SketchConfig
    bloom = replace(SketchConfig().bloom, log2_m=wl.bloom_log2_m)
    assert bloom.k == K
    return SketchConfig(kinds=("bloom", "hll"), bloom=bloom)


def read_store_meta(path: str) -> list[dict]:
    """(repo, lang, kind, n_rows, n_kgrams) of every store row, read with
    pyarrow straight from the data files (no state bytes, no Spark)."""
    rows = []
    for f in data_files(path):
        t = pq.read_table(f, columns=["repo", "lang", "kind", "n_rows",
                                      "n_kgrams"])
        rows.extend(t.to_pylist())
    return rows


def check_store(path: str, expected: dict[str, list[int]],
                kinds: tuple[str, ...]) -> list[str]:
    """Every (group, kind) appears once, and each group's n_rows and
    n_kgrams equal the exact counts over the corpus."""
    errs = []
    seen: dict[tuple, tuple[int, int]] = {}
    for r in read_store_meta(path):
        key = (f"{r['repo']}\x00{r['lang']}", r["kind"])
        if key in seen:
            errs.append(f"duplicate row for {key!r}")
        seen[key] = (r["n_rows"], r["n_kgrams"])
    for kind in kinds:
        got = {g: v for (g, kd), v in seen.items() if kd == kind}
        if set(got) != set(expected):
            errs.append(f"{kind}: {len(got)} groups stored, "
                        f"{len(expected)} expected")
        for g, (n_rows, n_kgrams) in expected.items():
            if g in got and got[g] != (n_rows, n_kgrams):
                errs.append(f"{kind} {g!r}: (n_rows, n_kgrams)={got[g]} "
                            f"expected {(n_rows, n_kgrams)}")
    return errs


class Runner:
    """Runs and checks operations for one workload in one session."""

    def __init__(self, spark, wl: Workload, corpus_dir: str, meta: dict,
                 work: str):
        self.spark = spark
        self.dir = corpus_dir
        self.meta = meta
        self.work = work
        self.store = os.path.join(work, "stores", "serving")
        self.cfg = sketch_config(wl)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.lookup_groups = 0
        self.lookup_matches = 0
        self.batch_queries = [(i, q["snippet"])
                              for i, q in enumerate(meta["batch"])]

    # -- bookkeeping --------------------------------------------------
    def _run(self, name: str, fn, check=None):
        """Attempt one operation; it fails if it raises or its check
        reports errors. Returns (ok, result, wall seconds). ``ops`` keeps
        each call's wall time and the host's steal share over it (see
        stats.steal_share), which flags calls timed on a contended host."""
        self.attempted += 1
        tag(self.spark, name)
        c0, t0 = cpu_jiffies(), time.perf_counter()
        try:
            res = fn()
        except Exception:  # noqa: BLE001 — a failed op is a result
            res = None
            errs = [traceback.format_exc(limit=3)]
        else:
            errs = None
        wall = time.perf_counter() - t0
        self.ops.append({"op": name, "wall_s": wall,
                         "steal": steal_share(c0, cpu_jiffies())})
        if errs is None:
            errs = check(res) if check else []
        if errs:
            self.failed += 1
            self.failures.extend(f"{name}: {e}" for e in errs[:5])
        return not errs, res, wall

    def corpus_df(self):
        return self.spark.read.parquet(os.path.join(self.dir, "corpus"))

    # -- operations ---------------------------------------------------
    def build_store(self, path: str):
        from kwage_spark.operators.ingest import build_sketches
        from kwage_spark.sources.store import write_sketch_store
        sk = build_sketches(self.corpus_df(), self.cfg)
        write_sketch_store(sk, path, GROUP_COL, buckets=BUCKETS,
                           mode="overwrite")

    def ingest(self, name: str, path: str):
        expected = self.meta["counts"]
        return self._run(name, lambda: self.build_store(path),
                         lambda _r: check_store(path, expected,
                                                self.cfg.kinds))

    def lookup(self, name: str, store: str, q: dict, qid: int = 0):
        from kwage_spark.operators.search import containment_search
        from kwage_spark.sources.store import read_sketch_group

        def fn():
            g = read_sketch_group(self.spark, store, GROUP_COL, q["repo"],
                                  buckets=BUCKETS)
            return containment_search(g, [(qid, q["snippet"])],
                                      self.cfg).collect()

        def check(rows):
            hit = [r for r in rows if r["repo"] == q["repo"]
                   and r["lang"] == q["lang"]]
            if not hit or hit[0]["num_kmers"] == 0 or \
                    hit[0]["num_kmers_found"] != hit[0]["num_kmers"]:
                return [f"{q['kind']} query missed its source group "
                        f"{q['repo']}/{q['lang']}"]
            return []

        ok, rows, dt = self._run(name, fn, check)
        if rows is not None:
            self.lookup_matches += len(rows)
            self.lookup_groups += len(
                {k for k in self.meta["counts"]
                 if k.split("\x00")[0] == q["repo"]})
        return ok, rows, dt

    def batch(self, name: str, store: str):
        from kwage_spark.operators.search import containment_counts
        from kwage_spark.sources.store import read_sketch_store
        qs = self.meta["batch"]

        def fn():
            return containment_counts(read_sketch_store(self.spark, store),
                                      self.batch_queries, self.cfg).collect()

        def check(rows):
            got = {r["query_id"]: r["n_matches"] for r in rows}
            errs = []
            for i, q in enumerate(qs):
                n = got.get(i, 0)
                if q["kind"] == "absent" and n != 0:
                    errs.append(f"absent query {i} matched {n} groups")
                elif q["kind"] != "absent" and n < 1:
                    errs.append(f"{q['kind']} query {i} matched nothing")
            return errs

        return self._run(name, fn, check)

    def append_round(self, name: str, store: str, inc: dict,
                     expected: dict, between=None):
        """Build an increment, append it and compact the touched buckets.
        ``between(store)`` runs untimed after the append, before the
        compaction. Returns (ok, spans, compact_info)."""
        from kwage_spark.operators.ingest import build_sketches
        from kwage_spark.sources.store import (compact_sketch_store,
                                               write_sketch_store)
        for g, (n_rows, n_kgrams) in inc["counts"].items():
            old = expected.get(g, [0, 0])
            expected[g] = [old[0] + n_rows, old[1] + n_kgrams]
        spans = {}

        def fn():
            t0 = time.perf_counter()
            sk = build_sketches(self.spark.read.parquet(
                os.path.join(self.dir, inc["path"])), self.cfg)
            write_sketch_store(sk, store, GROUP_COL, buckets=BUCKETS,
                               mode="append")
            t1 = time.perf_counter()
            spans["build_append_s"] = t1 - t0
            extra = between(store) if between else None
            t2 = time.perf_counter()
            info = compact_sketch_store(self.spark, store,
                                        group_cols=["repo", "lang"])
            spans["compact_s"] = time.perf_counter() - t2
            spans["untimed_s"] = t2 - t1
            return info, extra

        ok, res, _dt = self._run(
            name, fn, lambda _r: check_store(store, expected, self.cfg.kinds))
        if res is None:
            return ok, spans, None, None
        return ok, spans, res[0], res[1]

    def compact(self, store: str) -> dict:
        from kwage_spark.sources.store import compact_sketch_store
        tag(self.spark, "maintenance")
        return compact_sketch_store(self.spark, store,
                                    group_cols=["repo", "lang"])

    # -- the warm-up every set-up cycle runs ---------------------------
    def warm_up(self) -> None:
        """Build the serving store, then warm lookups and the batch on it.
        Repeated builds in one session speed up for about six calls (11,
        2.7, 2.3, 2.6, 2.2, 2.0 s, then 1.8-2.0 s on few_big_groups); the
        warm-up runs four, which the run budget affords."""
        shutil.rmtree(self.store, ignore_errors=True)
        for _ in range(4):
            self.ingest("warm:ingest", self.store)
        for q in self.meta["lookups"][-2:]:
            self.lookup("warm:lookup", self.store, q)
        for _ in range(2):
            self.batch("warm:batch", self.store)
