#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 graftbench/run.py --workload serve --seed 1 --seconds 30 --trace 0

Builds the engine and the driver from source (graftbench/build.py), writes
the seeded inputs (graftbench/gen.py) under .bench_work/, runs the JVM
driver (graftbench/src) on them, checks the outputs, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones; a
traced run also writes seeded catalog tables (graftbench/catalog.py) and
runs one `SparkEntry.queries` entry of each query module on them.
The full record of the run (every operation, span and check, plus a host
stamp) goes to .bench_work/records/. See graftbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import catalog  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170

# Inputs per workload: corpus docs, serve queries (two rounds of the five
# classes), reingest batches and rewritten docs per batch.
INPUTS = {
    "serve": dict(n_docs=48, n_queries=10, batches=1, per_batch=2),
    "ingest": dict(n_docs=48, n_queries=10, batches=4, per_batch=2),
}

# Single serves (the cold one, the median one) go to the raw record only:
# between runs on a 4-core host they spread by 13-29%, wider than any
# bound the benchmark may set; a whole unit of serves spreads less.
END_TO_END = {
    "setup_s": "s",
    "unit_s": "s",
    "heap_live_mb": "MB",
}

# Per-layer statistics reported for each span; a span's counts are its own
# Spark work (jobs, stages, tasks, bytes), `ms` is its median self time.
SPAN_STATS = {
    "api.self_query": ["ms"],
    "search.floor_fresh": ["ms", "jobs", "tasks"],
    "search.lex_open": ["ms"],
    "search.lex_df": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes"],
    "search.lex_score": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes"],
    "search.dense_open": ["ms", "jobs", "tasks", "read_bytes"],
    "search.dense_walk": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes"],
    "search.fuse": ["ms"],
    "cli.serve": ["ms", "jobs", "stages", "tasks", "read_bytes", "shuffle_bytes"],
    "cli.fresh_serve": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes"],
    "cli.reingest": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes", "write_bytes"],
    "ingest.documents": ["ms", "jobs", "tasks", "write_bytes"],
    # each reads the same ingest result with one task per core
    "ingest.concepts": ["ms", "jobs", "write_bytes"],
    "ingest.fragments": ["ms", "jobs", "write_bytes"],
    "ingest.parents": ["ms", "jobs", "write_bytes"],
    "embedding.embeddings": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes",
                             "write_bytes"],
    "search.lex_build": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes",
                         "write_bytes"],
    "search.hnsw_build": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes",
                          "write_bytes"],
    "search.floor_calibrate": ["ms", "jobs", "tasks", "read_bytes", "shuffle_bytes"],
}
# The traced run's catalog step: one span per query module.
SPAN_STATS.update({"queries." + m: ["ms", "jobs", "shuffle_bytes"] for m, _ in catalog.PICKS})
STAT_UNITS = {"ms": "ms", "jobs": "count", "stages": "count", "tasks": "count",
              "read_bytes": "bytes", "shuffle_bytes": "bytes", "write_bytes": "bytes"}
EXTRA_LAYER = {
    **{"cli.serve.jobs.%s" % c: "count" for c in gen.CLASSES},
    "search.lex_score.bounded_share": "ratio",
    "search.lex_score.bounded_base": "count",
    "search.fuse.fused_share": "ratio",
    "search.fuse.fused_base": "count",
    "cli.reingest.write_amp": "ratio",
    "trace.overhead_ms": "ms",
}


def per_layer_units():
    out = {}
    for span, sts in SPAN_STATS.items():
        for st in sts:
            out["%s.%s" % (span, st)] = STAT_UNITS[st]
    out.update(EXTRA_LAYER)
    return out


def fail(msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(1)


def ms(op):
    return (op["endNs"] - op["startNs"]) / 1e6


def end_to_end(workload, record, ops):
    """The end-to-end metrics of an untraced run. A failed operation has no
    latency: it is left out here and counted in `failed`."""
    ops = [o for o in ops if not o["failed"]]
    if workload == "serve":
        cold = [o for o in ops if o["kind"] == "cold"]
        warm = [o for o in ops if o["kind"] == "warm"]
        units = [warm[i:i + 5] for i in range(0, len(warm), 5)]
    else:
        warm = [o for o in ops if o["kind"] == "fresh"]
        cold = warm[:1]
        reingests = [o for o in ops if o["kind"] == "reingest"]
        units = list(zip(reingests, warm))
    if not cold or not warm:
        fail("run recorded no serves")
    tail = stats.tail_percentile(len(warm))
    record["serves"] = {
        "cold_ms": ms(cold[0]),
        "p50_ms": statistics.median(ms(o) for o in warm),
        "cpu_p50_ms": statistics.median(o["cpuNs"] / 1e6 for o in warm),
        "samples": len(warm),
        "tail_percentile": tail,
        "tail_ms": tail and stats.percentile([ms(o) for o in warm], tail),
    }
    return {
        "setup_s": record["setup_s"],
        "unit_s": statistics.median((u[-1]["endNs"] - u[0]["startNs"]) / 1e9 for u in units),
        "heap_live_mb": record["heap_live_mb"],
    }


def per_layer(record, ops):
    """The per-layer metrics of a traced run."""
    named = stats.by_name(record["spans"])
    missing = [s for s in SPAN_STATS if s not in named]
    if missing:
        fail("traced run has no span " + ", ".join(missing))
    out = {}
    for span, sts in SPAN_STATS.items():
        for st in sts:
            out["%s.%s" % (span, st)] = stats.median_of(named[span], st)
    for c in gen.CLASSES:
        mine = [s for s in named["cli.serve"] if s["req"].split(":")[0] == c]
        if not mine:
            fail("traced run served no %s query" % c)
        out["cli.serve.jobs.%s" % c] = stats.median_of(mine, "jobs")
    routes = record["routes"]
    scored = [r for r in routes if r["lexRoute"] != "empty"]
    out["search.lex_score.bounded_share"] = (
        sum(r["lexRoute"] == "bounded" for r in scored) / len(scored) if scored else 0.0)
    out["search.lex_score.bounded_base"] = len(scored)
    out["search.fuse.fused_share"] = sum(r["fused"] for r in routes) / len(routes)
    out["search.fuse.fused_base"] = len(routes)
    written = sum(s["write_bytes"] for s in named["cli.reingest"])
    out["cli.reingest.write_amp"] = written / sum(record["reingest_bytes"])
    out["trace.overhead_ms"] = trace_overhead_ms(named["cli.serve"], ops)
    record["catalog_queries"] = [
        dict(query=s["req"], module=s["name"].split(".", 1)[1], ms=s["ms"],
             **{k: s[k] for k in ("jobs", "stages", "tasks", "read_bytes",
                                  "shuffle_bytes", "write_bytes")})
        for name, sps in named.items() if name.startswith("queries.") for s in sps]
    return out


def trace_overhead_ms(serve_spans, ops):
    """Traced minus untraced serve time of the same query, over the classes
    served both ways in one run (the median of the per-class differences)."""
    diffs = []
    for c in sorted({o["cls"] for o in ops if o["kind"] == "untraced"}):
        traced = [(s["end"] - s["start"]) / 1e6 for s in serve_spans
                  if s["req"].split(":")[0] == c]
        untraced = [ms(o) for o in ops if o["kind"] == "untraced" and o["cls"] == c]
        if traced:
            diffs.append(statistics.median(traced) - statistics.median(untraced))
    if not diffs:
        fail("traced run served no query both traced and untraced")
    return statistics.median(diffs)


def run_jvm(workload, work, seconds, trace, log_path):
    """Run the driver; returns (exit code, peak RSS in MB)."""
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"] + host.ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            "-Dspark.local.dir=" + os.path.join(work, "spark-tmp"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", build.classpath(), "graft.bench.Main",
            workload, str(seconds), str(trace)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(host.nproc()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024.0
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                return -9, 0.0
            time.sleep(0.2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    stamp_start = host.stamp(ROOT)
    source_stamp = build.build(sys.stderr)
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    gen.write(work, a.seed, a.workload, **INPUTS[a.workload])
    if a.trace:
        catalog.write(os.path.join(work, "catalog"), a.seed)
    log_path = os.path.join(WORK, "%s-jvm.log" % a.workload)
    code, rss_mb = run_jvm(a.workload, work, a.seconds, a.trace, log_path)
    if code != 0:
        fail("driver exited with %d; see %s" % (code, log_path))
    with open(os.path.join(work, "result.json")) as f:
        record = json.load(f)

    ops = record["ops"]
    wrong = [o["wrong"] for o in ops if o["wrong"] and not o["failed"]]
    wrong += ["%s: %s" % (k, v["detail"]) for k, v in record["checks"].items() if not v["ok"]]
    if a.trace:
        metrics = per_layer(record, ops)
        units = per_layer_units()
    else:
        metrics = end_to_end(a.workload, record, ops)
        units = END_TO_END
    result = {
        "correct": not wrong,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if o["failed"]),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    record.update(seed=a.seed, seconds=a.seconds, trace=a.trace, wrong=wrong,
                  source_stamp=source_stamp, peak_rss_mb=rss_mb, host_start=stamp_start,
                  host_end=host.stamp(), result=result)
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)),
              "w") as f:
        json.dump(record, f)
    for o in ops:
        if o["failed"]:
            print("graftbench: FAILED %s %s: %s" % (o["kind"], o["cls"], o["wrong"]),
                  file=sys.stderr)
    for w in wrong:
        print("graftbench: WRONG " + w, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
