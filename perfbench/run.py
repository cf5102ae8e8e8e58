"""Repository benchmark: caller-visible search latency and streaming-ingest
throughput, with per-layer Spark-job traces.

    python3 perfbench/run.py --workload search_mix --seed 1 --trace 0

Runs one workload (``perfbench/workloads.py``) through the public API on
a local Spark session pinned to at most 4 cores, checks every answer, and
prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics (a traced run; spans are written to ``.perfbench_out/``).  The
line before it is a ``perfbench_detail`` record: settings, host CPU
steal/sys shares, sizes, check and error counts, the results digest.
Exits non-zero when any check fails or any operation raised.

``--smoke`` runs every workload and check on small corpora with tracing
on, plus the checkers' self-test, and prints a summary (about two minutes
on a 4-core host: the first index build of a fresh JVM alone takes ~20 s).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)  # run as a script from the checkout root

from perfbench import checks, selftest  # noqa: E402
from perfbench.mix import CLASSES  # noqa: E402
from perfbench.spans import QUERY_LAYERS, Tracer  # noqa: E402
from perfbench.workloads import (WORKLOADS, Run, input_bytes,  # noqa: E402
                                 is_agg, quantile, table_bytes)

TMP = os.path.join(ROOT, ".perfbench_tmp")
OUT = os.path.join(ROOT, ".perfbench_out")

SIZES = {
    "search_mix": {"turns": 3000, "commits": 3, "commit_segments": 2,
                   "compact_to": 3, "cycle_s": 15},
    "ingest_stream": {"base": 500, "batch": 500, "batch_s": 5},
}
SMOKE_SIZES = {
    "search_mix": {"turns": 600, "commits": 3, "commit_segments": 2,
                   "compact_to": 3, "cycle_s": 15},
    "ingest_stream": {"base": 200, "batch": 200, "batch_s": 5},
}


def host_settings() -> dict:
    cores = min(4, len(os.sched_getaffinity(0)))  # N <= nproc
    return {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(TMP, "spark-local"),
        # no JVM temp files or perf-data files outside the checkout
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(TMP, 'jvm')}",
        "spark.executorEnv.PYTHONPATH": ROOT,
    }


def start_spark(settings: dict):
    # Python workers import the engine: the checkout goes on their path;
    # every temporary file stays inside the checkout
    for d in (TMP, os.path.join(TMP, "jvm"), settings["spark.local.dir"]):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = TMP
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    for k, v in settings.items():
        b = b.master(v) if k == "spark.master" else b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python worker daemons) to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def cpu_sample() -> list[float] | None:
    try:
        with open("/proc/stat") as fh:
            return [float(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def cpu_shares(before, after) -> dict | None:
    """Steal and system shares of all CPU time between two samples."""
    if not before or not after:
        return None
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    if total <= 0:
        return None
    return {"steal_pct": round(100 * d[7] / total, 2),
            "sys_pct": round(100 * d[2] / total, 2)}


def reset_peak_rss() -> None:
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ---------------------------------------------------------------- metrics
def end_to_end(run, res: dict) -> dict:
    lat = [w for _, w, _, _ in run.reads]
    w = run.writes

    # a failed run still reports (as not correct): empty samples give 0
    def median(xs) -> float:
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def rate(kind: str) -> float:
        """Median over the calls of turns / wall: one slow call of a
        run's few does not move it."""
        return median(e["turns"] / wall for wall, _, e in w.get(kind, []))

    stored = sum(res["table_bytes"].values())
    return {
        "setup_s": (res["setup_s"], "s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "fresh_query_p50_s": (median(run.fresh), "s"),
        "ingest_turns_per_s": (rate("operators.build.add_df"), "turns/s"),
        "percolate_turns_per_s": (rate("operators.percolate"), "turns/s"),
        "merge_s": (median(c[0] for c in w.get("operators.merge", [])), "s"),
        "stored_bytes_per_input_byte": (stored / res["input_bytes"],
                                        "ratio"),
        "driver_peak_rss_mb": (res["rss_mb"], "MB"),
    }


def per_layer(run, res: dict, tracer) -> dict:
    out: dict[str, tuple[float, str]] = {}
    traced = [(c, wall, root) for c, wall, t, root in run.reads if t]
    untraced = [(c, wall) for c, wall, t, _ in run.reads if not t]
    n = max(1, len(traced))
    sums: dict[str, dict] = {}
    per_cls: dict[str, list] = {}
    all_tot = []
    for cls, _, root in traced:
        tot = {"jobs": 0, "stages": 0, "tasks": 0}
        for layer, acc in tracer.request_breakdown(root).items():
            s = sums.setdefault(layer, {"s": 0.0, "jobs": 0, "tasks": 0})
            for k in s:
                s[k] += acc[k]
            for k in tot:
                tot[k] += acc[k]
        per_cls.setdefault(cls, []).append(tot)
        all_tot.append(tot)
    # search_mix's set-up fresh request counts for its class only
    for cls, _, t, root in run.fresh_reads:
        if t:
            per_cls.setdefault(cls, []).append(tracer.request_totals(root))

    def layer(name: str, key: str) -> float:
        return sums.get(name, {}).get(key, 0) / n

    L = QUERY_LAYERS
    out["plans.ast.parse_s"] = (layer(L["parse"], "s"), "s")
    for short in ("rewrite", "searcher"):
        out[f"catalog.{short}_s"] = (layer(L[short], "s"), "s")
        out[f"catalog.{short}_jobs"] = (layer(L[short], "jobs"), "count")
    for short in ("lookup", "topk", "retrieve", "candidates", "aggs",
                  "facets", "count"):
        out[f"operators.search.{short}_s"] = (layer(L[short], "s"), "s")
    for short in ("lookup", "topk", "retrieve", "aggs"):
        out[f"operators.search.{short}_jobs"] = (layer(L[short], "jobs"),
                                                 "count")
    out["operators.search.topk_tasks"] = (layer(L["topk"], "tasks"), "count")
    out["catalog.self_s"] = (layer("catalog.self", "s"), "s")
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}_per_op"] = (
            sum(t[k] for t in all_tot) / n, "count")
        for cls in ["fresh"] + CLASSES + ["agg_composite_page1"]:
            ts = per_cls.get(cls, [])
            out[f"spark.{k}_per_op.{cls}"] = (
                sum(t[k] for t in ts) / len(ts) if ts else 0.0, "count")
    out["workload.repeat_term_frac"] = (
        sum(run.repeat) / max(1, len(run.repeat)), "ratio")
    tok = sum(t for t, _ in run.tokens)
    out["analyzer.tokens_per_s"] = (
        tok / sum(s for _, s in run.tokens) if run.tokens else 0.0,
        "tokens/s")

    def writes(kind: str):
        return run.writes.get(kind, [])

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def jobs(calls, key: str = "jobs") -> float:
        return mean(tracer.request_totals(c[1])[key] for c in calls)

    b = writes("operators.build.add_df")
    out["operators.build.add_df_s"] = (mean(c[0] for c in b), "s")
    out["operators.build.jobs"] = (jobs(b), "count")
    out["operators.build.tasks"] = (jobs(b, "tasks"), "count")
    for ph in ("docid_assign", "postings_write", "termdict_write",
               "doclens_write", "docs_write", "stats_collect"):
        out[f"operators.build.phase.{ph}_s"] = (
            mean(c[2]["phases"].get(ph, 0.0) for c in b), "s")
    p = writes("operators.percolate")
    out["operators.percolate.s"] = (mean(c[0] for c in p), "s")
    out["operators.percolate.jobs"] = (jobs(p), "count")
    m = writes("operators.merge")
    out["operators.merge.compact_s"] = (mean(c[0] for c in m), "s")
    out["operators.merge.jobs"] = (jobs(m), "count")
    out["operators.merge.bytes_rewritten"] = (
        mean(c[2].get("bytes", 0) for c in m), "B")
    for t in ("postings", "termdict", "doclens", "docs"):
        out[f"sources.tableio.bytes.{t}"] = (
            res["table_bytes"].get(t, 0) / res["input_bytes"], "ratio")
    tr = [w for _, w, _ in traced]
    un = [w for _, w in untraced]
    p50_t, p50_u = quantile(tr, 0.5), quantile(un, 0.5)
    out["trace.latency_p50_s"] = (p50_t, "s")
    out["trace.overhead_s"] = (p50_t - p50_u, "s")
    out["latency.hits_p50_s"] = (quantile(
        [w for c, w in untraced if not is_agg(c)], 0.5), "s")
    out["latency.aggs_p50_s"] = (quantile(
        [w for c, w in untraced if is_agg(c)], 0.5), "s")
    return out


def analyzer_rate(run) -> None:
    """analyzer.tokens_per_s: the driver-side analyzer over the text of
    every measured add_df batch (after the timed phase).  The stemmer's
    memo starts empty, as in a fresh Python worker; the oracle check has
    filled it by now."""
    from sonar_tantivy_spark.analyzer import tokenize_batch
    from sonar_tantivy_spark.functions.porter2 import stem

    stem.cache_clear()
    for _, _, e in run.writes.get("operators.build.add_df", []):
        t0 = time.perf_counter()
        n = sum(len(toks) for toks in tokenize_batch(list(e["texts"])))
        run.tokens.append((n, time.perf_counter() - t0))


# ------------------------------------------------------------------- main
def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 sizes: dict):
    """One workload on a fresh catalog; returns (result, run, tracer)."""
    from sonar_tantivy_spark import IndexCatalog

    tracer = Tracer(spark)
    if trace:
        tracer.install()
    run = Run(tracer, trace)
    base = tempfile.mkdtemp(prefix=f"{name}-", dir=TMP)
    timed: dict = {}

    def setup_done() -> None:
        reset_peak_rss()
        timed["cpu0"] = cpu_sample()

    try:
        cat = IndexCatalog(spark, base)
        res = WORKLOADS[name](run, spark, cat, seed, seconds, sizes,
                              setup_done)
        res["rss_mb"] = peak_rss_mb()
        res["host"] = cpu_shares(timed.get("cpu0"), cpu_sample())
        # live segments' parquet bytes per table, before the catalog goes
        res["table_bytes"] = table_bytes(
            res["idx"].storage.manifest()["segments"])
        res["input_bytes"] = input_bytes(res["pdf"])
        run.verify(res["idx"])
        if trace:
            analyzer_rate(run)
        return res, run, tracer
    finally:
        tracer.uninstall()
        shutil.rmtree(base, ignore_errors=True)


def detail(name: str, res: dict, run, settings: dict) -> dict:
    return {
        "workload": name,
        "settings": settings,
        "host": res.get("host"),
        "session_s": res.get("session_s"),
        "timed_s": res.get("timed_s"),
        "cycles": res.get("cycles"),
        "batches": res.get("batches"),
        "setup_walls_s": res.get("setup_walls_s"),
        "reads": len(run.reads),
        "op_walls_s": {k: [round(c[0], 3) for c in v]
                       for k, v in run.writes.items()},
        "read_walls_s": [round(w, 3) for _, w, _, _ in run.reads],
        "ops_attempted": run.attempted,
        "ops_failed": run.failed,
        "ops_failed_frac": run.failed / max(1, run.attempted),
        "errors": dict(run.errors),
        "checks_passed": run.chk.passed,
        "check_failures": run.chk.failures[:20],
        "results_digest": run.digest.hexdigest(),
        "digest_responses": run.digest.n,
        "score_decimals": checks.SCORE_DECIMALS,
    }


def declared_metrics() -> tuple[list[str], list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="search_mix")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    if args.smoke:
        return smoke(args.seed)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    e2e_names, layer_names = declared_metrics()
    settings = host_settings()
    spark = start_spark(settings)
    try:
        session_s = time.perf_counter() - t_start
        res, run, tracer = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            SIZES[args.workload])
        res["session_s"] = session_s
        res["setup_s"] += session_s
        if args.trace:
            metrics = per_layer(run, res, tracer)
            names = layer_names
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(
                OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(run, res)
            names = e2e_names
        info = detail(args.workload, res, run, settings)
    finally:
        stop_spark(spark)
    missing = set(names) ^ set(metrics)
    if missing:
        raise SystemExit(f"metrics differ from BENCHMARK.json: "
                         f"{sorted(missing)}")
    correct = not run.chk.failures and run.failed == 0
    print(json.dumps({"perfbench_detail": info}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k][0]), "unit": metrics[k][1]}
                    for k in names},
    }))
    return 0 if correct else 1



def smoke(seed: int) -> int:
    """Every workload and every check on a few thousand turns, traced, in
    one session, plus the checkers' self-test; prints a summary."""
    t0 = time.perf_counter()
    problems = selftest.checker_selftest()
    e2e_names, layer_names = declared_metrics()
    spark = start_spark(host_settings())
    summary = {}
    try:
        for name in WORKLOADS:
            res, run, tracer = run_workload(spark, name, seed, 1.0, True,
                                            SMOKE_SIZES[name])
            e2e = end_to_end(run, res)
            layers = per_layer(run, res, tracer)
            if set(e2e) != set(e2e_names) or set(layers) != set(layer_names):
                problems.append(f"{name}: metric names differ from "
                                "BENCHMARK.json")
            problems += [f"{name}: {f}" for f in run.chk.failures]
            problems += [f"{name}: op failed {k} x{v}"
                         for k, v in run.errors.items()]
            summary[name] = {"reads": len(run.reads),
                             "checks_passed": run.chk.passed,
                             "digest": run.digest.hexdigest(),
                             "spans": len(tracer.spans)}
    finally:
        stop_spark(spark)
    print(json.dumps({"smoke": summary, "problems": problems,
                      "wall_s": round(time.perf_counter() - t0, 1)}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
