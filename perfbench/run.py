"""Benchmark of the spark-vectorsearch engine.

    python3 perfbench/run.py --workload search_session --seed 1 --seconds 15 --trace 0

Workloads: ``search_session`` (served read-only search sessions after a
bulk upload, see serving.py) and ``batch_registry`` (registry entries
after the shared builds, see batch.py). ``--workload all`` runs both in
one process. Run from the repository root; every file the run writes
stays under ``.bench_work/`` there and is removed at exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``
and the per-layer metrics with ``--trace 1``. The lines before it list
every metric of the run by name with its unit, the host and Spark
sizing, and (traced) the self time of each layer.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("search_session", "batch_registry")

# metric name -> unit; emitted for every workload (BENCHMARK.json)
END_TO_END = {"setup_s": "s", "op_geomean_ms": "ms", "ops_per_s": "1/s"}
PER_LAYER = {
    "self_pct.client": "%",
    "self_pct.service": "%",
    "self_pct.api": "%",
    "self_pct.store": "%",
    "self_pct.plans": "%",
    "self_pct.queries": "%",
    "trace.overhead_pct": "%",
    "api.embed_query_pct": "%",
    "api.probe_scan_pct": "%",
    "api.hydrate_pct": "%",
    "api.cache_load_pct": "%",
    "api.id_alloc_pct": "%",
    "store.read_pct": "%",
    "store.commit_pct": "%",
    "queries.construct_pct": "%",
    "queries.execute_pct": "%",
    "api.lists_probed_per_search": "count",
    "api.rows_scored_per_result": "count",
    "api.cache_lookups_per_op": "count",
    "api.cache_hit_ratio": "ratio",
    "store.dirs_per_read": "count",
    "store.commits_per_upload": "count",
    "store.bytes_written_per_doc_byte": "ratio",
    "sources.embed_requests_per_op": "count",
    "sources.texts_per_embed_request": "count",
    "service.response_bytes_per_op": "bytes",
    "plans.ivf_lists": "count",
    "plans.ivf_max_list_rows": "count",
    "driver.py4j_calls_per_op": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_ms_per_op": "ms",
    "spark.scheduler_delay_ms_per_op": "ms",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.failed_tasks": "count",
    "spark.persisted_frames": "count",
    "spark.job_floor_ms": "ms",
}


class Context:
    def __init__(self, args, work, spark, tracer, groups):
        self.args, self.work, self.spark, self.tracer, self.groups = args, work, spark, tracer, groups


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and a handful of requests (the smoke test's configuration)")
    p.add_argument("--spans-out", help="write the traced run's spans to this JSON file")
    return p.parse_args(argv)


# -- host sizing ---------------------------------------------------------------------
def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap_mb() -> int:
    """A quarter of physical memory, between 1 and 4 GiB: the engine's
    own default (24 GiB) does not fit a small host."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return int(max(1024, min(4096, phys // 4)))


def cpu_score() -> float:
    """Single-thread md5 iterations per ms over ~0.3 s (host speed)."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 0.3:
        hashlib.md5(str(n).encode()).digest()
        n += 1
    return n / ((time.perf_counter() - t0) * 1000.0)


def prepare_env(work: str, trace: bool) -> dict:
    """Size Spark to the host and keep every file it writes under ``work``.
    Must run before pyspark starts the JVM."""
    cpus, heap = host_cpus(), driver_heap_mb()
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    submit = []
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap}m",
        # Python workers import the engine package by name
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's too: no /tmp perf files
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_heap_mb": heap, "events": events}


# -- statistics ------------------------------------------------------------------------
def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else float("nan")


def tail(xs):
    """(percentile, value): the highest percentile with at least ten
    samples above it, or (None, None) while that percentile is still
    below the median (fewer than 20 samples)."""
    xs = sorted(xs)
    if len(xs) < 20:
        return None, None
    return 100.0 * (len(xs) - 10) / len(xs), xs[len(xs) - 11]


# -- metrics -----------------------------------------------------------------------------
def serving_report(rep: dict) -> tuple[dict, dict]:
    """(end-to-end metrics, named report values) of search_session."""
    ops = rep["ops"]
    untraced = [o for o in ops if not o["traced"]]
    # latencies of answered requests; a wrong answer is counted in
    # failed, not dropped from the timing
    search = [o["ms"] for o in untraced if o["route"] == "/api/search" and o["status"] == 200]
    elapsed = rep["window_end"] - rep["window_start"]
    pct, tail_ms = tail(search)
    n_docs = len(rep["ids"])
    # closed loop without think time: throughput = clients / mean latency,
    # which does not depend on where the window cut in-flight requests
    e2e = {
        "setup_s": rep["setup_s"],
        "op_geomean_ms": geomean(search),
        "ops_per_s": rep["clients"] * len(untraced) / (sum(o["ms"] for o in untraced) / 1e3),
    }
    named = {
        "search_p50_ms": (median(search), "ms"),
        "search_tail_ms": (tail_ms, "ms", f"p{pct:.0f}" if pct else "n<20", len(search)),
        "search_qps": (sum(1 for o in ops if o["route"] == "/api/search") / elapsed, "1/s"),
        "search_recall_at_10": (rep["recall_at_10"], "ratio"),
        "search_batch_p50_ms": (median([o["ms"] for o in untraced if o["route"] == "/api/search_batch"]), "ms"),
        "upload_ms": (rep["setup_s"] * 1e3, "ms", f"{n_docs} documents in one request"),
        "ingest_docs_per_s": (n_docs / rep["setup_s"], "1/s"),
        "store_bytes_per_doc_byte": (rep["store_bytes"] / rep["payload_bytes"], "ratio"),
        "ivf_lists": (len(rep["lists"]), "count"),
        "requests": (len(ops), "count", f"{rep['clients']} closed-loop clients, {elapsed:.1f} s"),
    }
    return e2e, named


def entry_medians(entries: list[dict], key: str = "ms") -> dict[str, float]:
    """Per-entry median of ``key`` over the calls that did not fail."""
    by_name: dict[str, list[float]] = {}
    for e in entries:
        if "error" not in e:
            by_name.setdefault(e["name"], []).append(e[key])
    return {n: median(v) for n, v in sorted(by_name.items())}


def batch_report(rep: dict) -> tuple[dict, dict]:
    import batch

    untraced = [e for e in rep["entries"] if not e["traced"]]
    med = entry_medians(untraced)
    # one pass at every entry's median time
    total = sum(med.values()) / 1e3
    e2e = {
        "setup_s": rep["setup_s"],
        "op_geomean_ms": geomean(list(med.values())),
        # closed loop: every client completes one such pass per total
        "ops_per_s": rep["clients"] * len(med) / total if total else float("nan"),
    }
    named = {
        "batch_builds_s": (sum(rep["builds"].values()), "s", f"{len(rep['builds'])} shared builds"),
        "check_pass_s": (rep["check_s"], "s", f"first call of {len(rep['checks'])} entries"),
        "batch_queries_s": (total, "s", f"{len(med)} entries at sf{rep['sf']}, sum of per-entry medians"),
        "calls": (len(rep["entries"]), "count",
                  f"{rep['clients']} closed-loop clients, {rep['window_s']:.1f} s in {rep['slices']} slices"),
        "entry_p50_ms": (median(list(med.values())), "ms"),
    }
    for name, ms in med.items():
        named[f"entry.{name}_ms"] = (ms, "ms", "median of calls")
    for key in ("construct_ms", "execute_ms"):
        for name, ms in entry_medians(untraced, key).items():
            if name in batch.GAP_LIST:
                # the gap-list entries' wall split: lazy plan construction
                # (py4j Column building, analysis) vs toPandas execution
                named[f"entry.{name}.{key}"] = (ms, "ms", "median of calls")
    for c in rep["checks"]:
        if "error" in c:
            continue
        named[f"check.{c['name']}_ms"] = (c["ms"], "ms", "first call")
        if c["name"] in batch.CHECK_ONLY:
            named[f"check.{c['name']}.construct_ms"] = (c["construct_ms"], "ms", "first call")
            named[f"check.{c['name']}.execute_ms"] = (c["execute_ms"], "ms", "first call")
    for name, s in rep["builds"].items():
        named[f"build.{name}_s"] = (s, "s")
    return e2e, named


def layer_metrics(workload: str, rep: dict, tracer, event_groups: dict, floor_ms: float,
                  persisted: int) -> tuple[dict, dict]:
    """(per-layer metrics, named report values) of a traced run."""
    import spans as S

    st = S.self_times(tracer.spans)
    by_rid = S.trees(tracer.spans)
    if workload == "search_session":
        op_rids = [o["rid"] for o in rep["ops"] if o["traced"]]
        traced_ms = [o["ms"] for o in rep["ops"] if o["traced"] and o["route"] == "/api/search"]
        plain_ms = [o["ms"] for o in rep["ops"] if not o["traced"] and o["route"] == "/api/search"]
        overhead = (median(traced_ms) / median(plain_ms) - 1.0) * 100.0 if traced_ms and plain_ms else 0.0
    else:
        traced = [e for e in rep["entries"] if e["traced"] and "error" not in e]
        op_rids = [e["rid"] for e in traced]
        plain = entry_medians([e for e in rep["entries"] if not e["traced"]])
        with_trace = {n: ms for n, ms in entry_medians(traced).items() if n in plain}
        base = sum(plain[n] for n in with_trace)
        overhead = (sum(with_trace.values()) / base - 1.0) * 100.0 if base else 0.0
    all_spans = tracer.spans
    by_id = {s["id"]: s for s in all_spans}
    op_spans = [s for r in op_rids for s in by_rid.get(r, [])]
    op_wall = sum(s["end"] - s["start"] for s in op_spans if s["parent"] is None)
    n_ops = max(1, len(op_rids))
    upload_rids = {s["rid"] for s in all_spans if s["name"] == "service.upload"}
    upload_spans = [s for s in all_spans if s["rid"] in upload_rids]
    upload_wall = sum(s["end"] - s["start"] for s in upload_spans if s["parent"] is None)

    def busy_s(names, spans):
        """Wall of the named spans, nested repeats counted once."""
        total = 0.0
        for s in spans:
            if s["name"] not in names:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["name"] not in names:
                p = by_id.get(p["parent"])
            if p is None:
                total += s["end"] - s["start"]
        return total

    def share(names, spans=op_spans, base=op_wall):
        return 100.0 * busy_s(names, spans) / base if base else 0.0

    def attr_sum(key, spans):
        return sum(s["attrs"].get(key, 0) for s in spans)

    layer_self = {}
    for s in op_spans:
        layer = s["name"].split(".", 1)[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + st[s["id"]]
    search_rids = {s["rid"] for s in op_spans if s["name"] in ("service.search", "service.search_batch")}
    search_spans = [s for s in op_spans if s["rid"] in search_rids]
    ops = rep.get("ops", [])
    results = sum(o["results"] for o in ops if o["rid"] in search_rids)
    reads = [s for s in op_spans if s["name"] == "store.read"]
    if workload == "search_session":
        route_spans = [s for s in op_spans if s["name"].startswith("service.") and "jobs" in s["attrs"]]
        jobs, stages, tasks = (attr_sum(k, route_spans) for k in ("jobs", "stages", "tasks"))
        embed = rep["embed_window"]
    else:
        traced = [e for e in rep["entries"] if e["traced"] and "error" not in e]
        jobs, stages, tasks = (sum(e[k] for e in traced) for k in ("jobs", "stages", "tasks"))
        embed = {"requests": 0, "texts": 0, "busy_s": 0.0}
    ev = {k: sum(event_groups.get(r, {}).get(k, 0.0) for r in op_rids)
          for k in ("executor_run_ms", "scheduler_delay_ms", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "failed_tasks")}
    lists = list(rep.get("lists", {}).values())
    lookups = attr_sum("cache_lookups", op_spans)
    layer_spans = {
        "api.embed_query": ({"api.embed_query"}, op_spans, op_wall),
        "api.probe_scan": ({"api.probe_plan", "api.probe_scan"}, op_spans, op_wall),
        "api.hydrate": ({"api.hydrate_plan", "api.hydrate"}, op_spans, op_wall),
        "api.cache_load": ({"api.cache_load"}, op_spans, op_wall),
        "store.read": ({"store.read"}, op_spans, op_wall),
        "queries.construct": ({"queries.construct"}, op_spans, op_wall),
        "queries.execute": ({"queries.execute"}, op_spans, op_wall),
        # the upload's own steps, as shares of the upload's wall
        "api.id_alloc": ({"api.id_alloc"}, upload_spans, upload_wall),
        "store.commit": ({"store.commit"}, upload_spans, upload_wall),
    }
    m = {f"{k}_pct": share(*v) for k, v in layer_spans.items()}
    m.update({
        "trace.overhead_pct": overhead,
        "api.lists_probed_per_search": attr_sum("lists_probed", search_spans) / max(1, len(search_rids)),
        "api.rows_scored_per_result": attr_sum("rows_scored", search_spans) / max(1, results),
        "api.cache_lookups_per_op": lookups / n_ops,
        "api.cache_hit_ratio": attr_sum("cache_hits", op_spans) / lookups if lookups else 0.0,
        "store.dirs_per_read": attr_sum("dirs", reads) / len(reads) if reads else 0.0,
        "store.commits_per_upload": (
            sum(1 for s in upload_spans if s["name"] == "store.commit") / len(upload_rids) if upload_rids else 0.0),
        "store.bytes_written_per_doc_byte": (
            attr_sum("bytes", [s for s in upload_spans if s["name"] == "store.write"]) / rep["payload_bytes"]
            if upload_rids else 0.0),
        "sources.embed_requests_per_op": embed["requests"] / len(ops) if ops else 0.0,
        "sources.texts_per_embed_request": embed["texts"] / embed["requests"] if embed["requests"] else 0.0,
        "service.response_bytes_per_op": (
            sum(o["bytes"] for o in ops if o["traced"]) / n_ops if workload == "search_session" else 0.0),
        "plans.ivf_lists": float(len(lists)),
        "plans.ivf_max_list_rows": float(max(lists) if lists else 0),
        "driver.py4j_calls_per_op": attr_sum("py4j", op_spans) / n_ops,
        "spark.jobs_per_op": jobs / n_ops,
        "spark.stages_per_op": stages / n_ops,
        "spark.tasks_per_op": tasks / n_ops,
        "spark.executor_run_ms_per_op": ev["executor_run_ms"] / n_ops,
        "spark.scheduler_delay_ms_per_op": ev["scheduler_delay_ms"] / n_ops,
        "spark.shuffle_read_bytes_per_op": ev["shuffle_read_bytes"] / n_ops,
        "spark.shuffle_write_bytes_per_op": ev["shuffle_write_bytes"] / n_ops,
        "spark.spill_bytes_per_op": ev["spill_bytes"] / n_ops,
        "spark.failed_tasks": ev["failed_tasks"],
        "spark.persisted_frames": float(persisted),
        "spark.job_floor_ms": floor_ms,
    })
    for layer in ("client", "service", "api", "store", "plans", "queries"):
        m[f"self_pct.{layer}"] = 100.0 * layer_self.get(layer, 0.0) / op_wall if op_wall else 0.0
    named = {f"self_ms_per_op.{k}": (v * 1e3 / n_ops, "ms") for k, v in sorted(layer_self.items())}
    for k, (names, spans, _base) in layer_spans.items():
        named[f"{k}_ms"] = (1e3 * busy_s(names, spans), "ms", "upload" if spans is upload_spans else "traced ops")
    named["service.lock_wait_ms"] = (1e3 * busy_s({"service.lock_wait"}, all_spans), "ms", "all traced requests")
    named["api.centroid_load_ms"] = (1e3 * sum(
        s["end"] - s["start"] for s in all_spans
        if s["name"] == "api.cache_load" and s["attrs"].get("kind") == "centroids"), "ms", "all traced requests")
    named["plans.ivf_build_ms"] = (1e3 * busy_s({"plans.ivf_build"}, all_spans), "ms")
    named["sources.embed_provider_ms"] = (embed["busy_s"] * 1e3, "ms", "fake endpoint service time, window")
    named["api.cache_lookups"] = (lookups, "count")
    named["driver.py4j_calls"] = (tracer.counters.get("py4j_calls", 0.0), "count", "whole run")
    named["traced_ops"] = (len(op_rids), "count")
    return m, named


def stop_jvm(gateway) -> None:
    """End the Spark JVM and wait for it: the launcher exits when its
    stdin closes."""
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _num(v):
    """A metric value for the JSON line: a float, or null when nothing
    was measured (no successful operation of that kind)."""
    v = float(v)
    return v if math.isfinite(v) else None


# -- orchestration -----------------------------------------------------------------------
def run_workload(name: str, ctx: Context) -> dict:
    if name == "search_session":
        import serving

        return serving.run(ctx)
    import batch

    return batch.run(ctx)


def attempted_failed(name: str, rep: dict) -> tuple[int, int]:
    if name == "search_session":
        # + the upload, the store check and the five warm-up requests
        attempted = len(rep["ops"]) + 1 + 1 + 5
    else:
        attempted = len(rep["entries"]) + len(rep["checks"]) + len(rep["builds"])
    return attempted, len(rep["failures"])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "go_vectorsearch_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _main(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def _main(args, work: str) -> int:
    if args.spans_out:
        args.spans_out = os.path.abspath(args.spans_out)
    sizing = prepare_env(work, bool(args.trace))
    sys.path[:0] = [HERE, ROOT]
    os.chdir(work)
    score0 = cpu_score()
    import spans as S
    from go_vectorsearch_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    groups = S.JobGroups(spark.sparkContext)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    span_ids = itertools.count(1)
    reports, tracers, floors, persisted = {}, {}, {}, {}
    try:
        for name in names:
            tracer = tracers[name] = S.Tracer(span_ids)
            tracer.enabled = bool(args.trace)
            undo = []
            if args.trace:
                import probes as P

                undo = [S.count_py4j_calls(spark.sparkContext, tracer), P.PlanProbes(tracer).uninstall]
            try:
                reports[name] = run_workload(name, Context(args, work, spark, tracer, groups))
            finally:
                for fn in undo:
                    fn()
            floors[name] = S.job_floor_ms(spark)
            persisted[name] = len(spark.sparkContext._jsc.getPersistentRDDs())
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        stop_jvm(gateway)
    event_groups = S.event_log_metrics(sizing["events"]) if args.trace else {}
    score1 = cpu_score()

    host = {
        "cpus": (sizing["cpus"], "count"), "driver_heap_mb": (sizing["driver_heap_mb"], "MiB"),
        "cpu_score_before": (score0, "md5/ms"), "cpu_score_after": (score1, "md5/ms"),
        "job_floor_ms": (median(list(floors.values())), "ms"), "spark_session_s": (session_s, "s"),
    }
    for k, (v, unit) in host.items():
        print(f"host {k} = {v:.4g} {unit}")
    attempted = failed = 0
    out_metrics: dict[str, dict] = {}
    for name, rep in reports.items():
        a, f = attempted_failed(name, rep)
        attempted, failed = attempted + a, failed + f
        e2e, named = serving_report(rep) if name == "search_session" else batch_report(rep)
        named["error_rate"] = (f / a, "ratio", f"{f} of {a} operations failed or wrong")
        if args.trace:
            m, extra = layer_metrics(name, rep, tracers[name], event_groups, floors[name], persisted[name])
            named.update(extra)
            out = {k: {"value": _num(m[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            out = {k: {"value": _num(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        for k, u in END_TO_END.items():
            print(f"{name} {k} = {e2e[k]:.6g} {u}")
        for k, v in named.items():
            val = "n/a" if v[0] is None else f"{v[0]:.6g}"
            print(f"{name} {k} = {val} {v[1]}" + (" (" + ", ".join(map(str, v[2:])) + ")" if len(v) > 2 else ""))
        for why in rep["failures"][:20]:
            print(f"{name} FAILED {why}")
        if args.trace:
            for k, u in PER_LAYER.items():
                print(f"{name} layer {k} = {m[k]:.6g} {u}")
        if len(names) == 1:
            out_metrics = out
        else:
            out_metrics.update({f"{name}.{k}": v for k, v in out.items()})
    if args.trace and args.spans_out:
        with open(args.spans_out, "w") as f:
            json.dump({"spans": [s for t in tracers.values() for s in t.spans]}, f)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
