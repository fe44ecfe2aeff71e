"""Sketch-store benchmark: ingest, pruned lookups, batch scans and appends.

    python3 perfbench/run.py --workload few_big_groups --seed 1 \
        --seconds 22 --trace 0

Run from the root of a checkout. It generates (or reuses) the seeded
corpus under ``.perfbench/``, sets up a Spark session and warms it on the
workload's own operations, runs timed rounds for about ``--seconds``,
checks every result, and prints a run record followed by one JSON line
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

# compiled bytecode would land beside the installed packages, outside
# the checkout; the run writes nothing there
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIN_ROUNDS = 3
LOOKUPS_PER_ROUND = 2
BATCHES_PER_ROUND = 2


def parse_args(argv):
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(runner, seconds: float) -> None:
    """Closed-loop rounds on the serving store built during set-up: one
    ingest (to a scratch store), LOOKUPS_PER_ROUND lookups and
    BATCHES_PER_ROUND batches per round. Rounds continue while the next
    one is expected to end within ``seconds``, and at least MIN_ROUNDS
    run. Interleaving spreads a slow spell of the host over every metric
    instead of one phase."""
    meta, s = runner.meta, runner.samples
    scratch = os.path.join(runner.work, "stores", "ingest")
    t0 = time.perf_counter()
    i = j = 0
    # go on while i + 1 rounds at the mean pace so far fit in ``seconds``
    while i < MIN_ROUNDS or (time.perf_counter() - t0) / i * (i + 1) \
            <= seconds:
        _ok, _r, dt = runner.ingest(f"ingest:{i}", scratch)
        s["ingest_s"].append(dt)
        for _ in range(LOOKUPS_PER_ROUND):
            q = meta["lookups"][j % len(meta["lookups"])]
            _ok, _r, dt = runner.lookup(f"lookup:{j}", runner.store, q, j)
            s["lookup_ms"].append(dt * 1e3)
            j += 1
        for b in range(BATCHES_PER_ROUND):
            _ok, _r, dt = runner.batch(f"batch:{i}.{b}", runner.store)
            s["batch_s"].append(dt)
        i += 1


def end_to_end(runner, meta, record, setup, peak_rss) -> dict:
    s = runner.samples
    med = statistics.median
    n_groups = len(meta["counts"])
    return {
        "setup_s": setup["start_s"] + setup["warm_s"],
        "ingest_mb_per_s": meta["content_bytes"] / 1e6 / med(s["ingest_s"]),
        "store_bytes_per_content_byte":
            record["store_bytes"] / meta["content_bytes"],
        "lookup_ms_p50": med(s["lookup_ms"]),
        "batch_scans_per_s":
            med([n_groups * len(meta["batch"]) / t for t in s["batch_s"]]),
        "peak_rss_mb": peak_rss / 1e6,
    }


def per_layer(runner, record, e2e, setup, probes, events) -> dict:
    from layers import scan_share
    from stats import percentile
    s = runner.samples
    med = statistics.median
    rounds = [r for r in record["append_rounds"] if "files_before" in r]
    sm = record.get("sketch_metrics", [])

    def ev(prefix):
        return [v for k, v in events.items() if k.split(":")[0] == prefix]

    lookups, builds = ev("lookup"), ev("ingest")
    out = {
        "session.start_s": setup["start_s"],
        "session.warm_s": setup["warm_s"],
        **probes,
        "kernels.scan_share_of_batch": scan_share(record, events),
        "ingest.state_rows": sum(r["n_groups"] for r in sm),
        "ingest.kgrams":
            sum(r["n_kgrams"] for r in sm if r["kind"] == "bloom"),
        "ingest.state_bytes": sum(r["state_bytes"] for r in sm),
        "store.bytes": record["store_bytes"],
        "append_s_p50": med(s["append_s"]),
        "store.append_s": med(s["append_write_s"]),
        "store.compact_s": med(s["append_compact_s"]),
        "store.compact_files_before": med(r["files_before"] for r in rounds),
        "store.compact_files_after": med(r["files_after"] for r in rounds),
        "store.compact_useful_share": med(r["useful_share"] for r in rounds),
        "search.groups_per_lookup":
            runner.lookup_groups / max(len(s["lookup_ms"]), 1),
        "search.match_share":
            runner.lookup_matches / max(runner.lookup_groups, 1),
        "spark.jobs_per_lookup": statistics.mean(o["jobs"] for o in lookups),
        "spark.tasks_per_lookup": statistics.mean(o["tasks"] for o in lookups),
        "spark.executor_run_s": med(o["run_s"] for o in builds),
        "spark.executor_cpu_s": med(o["cpu_s"] for o in builds),
        "spark.gc_s": med(o["gc_s"] for o in builds),
        "spark.shuffle_write_mb":
            med(o["shuffle_write_bytes"] for o in builds) / 1e6,
        "lookup_ms_p90": percentile(s["lookup_ms"], 90),
    }
    out.update({f"traced.{k}": v for k, v in e2e.items()
                if k in ("lookup_ms_p50", "ingest_mb_per_s",
                         "batch_scans_per_s")})
    return out


def _overhead(workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end values, when an untraced run of
    the same workload and seed left its record in this checkout."""
    path = os.path.join(WORK, "records", f"{workload}-{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        untraced = json.load(f)["metrics"]
    return {k: traced[k] - untraced[k] for k in traced if k in untraced}


def main(argv=None) -> int:
    t_main = time.perf_counter()
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kwage_spark", "__init__.py")):
        print(f"perfbench: no kwage_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    import harness
    harness.prepare_env(ROOT, WORK, bool(args.trace))
    sys.path.insert(0, ROOT)

    import corpus
    import layers
    from stats import PeakRss, cpu_jiffies, dir_bytes, steal_share, summary
    from workloads import K, WORKLOADS, Runner
    wl = WORKLOADS[args.workload]
    record = {"workload": wl.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "nproc": harness.nproc(), "loadavg_start": os.getloadavg()}

    # untimed: the native kernel's one-time compile (cached under WORK)
    # and corpus generation stay out of every timed number
    t0 = time.perf_counter()
    from kwage_spark.kernels import _native
    record["native_prepare_s"] = time.perf_counter() - t0
    record["have_native"] = _native.HAVE_NATIVE
    if not _native.HAVE_NATIVE:
        print("perfbench: numpy fallback kernels; do not compare with "
              "native runs", file=sys.stderr)
    cdir, meta, record["corpus"] = corpus.load(
        os.path.join(WORK, "corpus"), wl.shape, args.seed, wl.name, K)
    evdir = os.path.join(WORK, "eventlog")

    import pyarrow
    import pyspark
    record.update(spark_version=pyspark.__version__,
                  pyarrow_version=pyarrow.__version__,
                  content_bytes=meta["content_bytes"],
                  n_files=meta["n_files"], n_groups=len(meta["counts"]))

    # one set-up per run: a repeated one costs ~10 s the run budget lacks
    spark = None
    try:
        with PeakRss() as rss:
            c0, t0 = cpu_jiffies(), time.perf_counter()
            spark = harness.start_session()
            t1 = time.perf_counter()
            warm = Runner(spark, wl, cdir, meta, WORK)
            warm.warm_up()
            c2, t2 = cpu_jiffies(), time.perf_counter()
            setup = {"start_s": t1 - t0, "warm_s": t2 - t1,
                     "steal": steal_share(c0, c2),
                     "attempted": warm.attempted, "failed": warm.failed,
                     "failures": warm.failures[:5], "ops": warm.ops}
            record["bloom"] = str(warm.cfg.bloom)
            record["store_bytes"] = dir_bytes(warm.store, data_only=True)
            runner = Runner(spark, wl, cdir, meta, WORK)
            t_measure = time.perf_counter()
            measure(runner, args.seconds)
            record["measure_s"] = time.perf_counter() - t_measure
            record["chosen_ingest_mode"] = layers.chosen_mode(runner)
            probes = {}
            if args.trace:
                probes.update(layers.ingest(runner, record))
                probes.update(layers.search(runner))
                probes.update(layers.kernels(runner, record))
                record["append_rounds"] = layers.append_rounds(runner)
                probes.update(layers.merge(runner))
            t_stop = time.perf_counter()
            spark.stop()
    finally:
        harness.shutdown_jvm()
    record["teardown_s"] = time.perf_counter() - t_stop

    e2e = end_to_end(runner, meta, record, setup, rss.peak)
    attempted = runner.attempted + setup["attempted"]
    failed = runner.failed + setup["failed"]
    record.update(
        setup=setup, loadavg_end=os.getloadavg(),
        samples={k: summary(v) for k, v in runner.samples.items()},
        rss_samples=rss.samples, error_rate=failed / max(attempted, 1),
        rss_at_peak_mb=[(n, b / 1e6) for n, b in rss.at_peak],
        failures=runner.failures[:20])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        events = harness.parse_event_logs(evdir)
        metrics = per_layer(runner, record, e2e, setup, probes, events)
        record["tracing_overhead"] = _overhead(wl.name, args.seed, e2e)
    else:
        metrics = e2e
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        print("perfbench: metrics differ from BENCHMARK.json: "
              f"{sorted(set(units) ^ set(metrics))}", file=sys.stderr)
        return 3
    record["total_s"] = time.perf_counter() - t_main
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{wl.name}-{args.seed}-"
                           f"trace{args.trace}.json"), "w") as f:
        json.dump({"record": record, "metrics": metrics,
                   "samples": runner.samples, "ops": runner.ops}, f,
                  indent=1)
    print(json.dumps(record, indent=1, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
