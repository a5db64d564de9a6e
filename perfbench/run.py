#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt; later runs reuse that build while the
sources are unchanged. The harness JVM runs the workload on a local
session with one core per CPU, then this script checks the outputs and
prints, as the last line of standard output, one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics, or
with --trace 1 the per-layer metrics. The line before it is the run's
detail: the stamp (seed, CPUs, load, heap, versions), every end-to-end
metric, sample counts, tail latencies and check results. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("batch_pipeline", "cdc_serve")
HEAP = "2g"
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "corpus")

QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
           "q18_large_volume", "op_cogroup", "op_reduce", "op_flatmap",
           "dedup_minhash", "text_seg_dedup", "q_bm25_topk")
FAMILIES = ("digest", "minhash", "term", "ivf")

# name -> unit; the order BENCHMARK.json lists them in
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "cycle_s": "s",
              "peak_heap_mb": "MB"}


def per_layer_units():
    """Every per-layer metric, name -> unit."""
    units = {"wall_s": "s", "jobs": "count", "tasks": "count", "driver_s": "s",
             "cpu_s": "s", "gc_s": "s", "rows_read": "rows",
             "shuffle_mb": "MB", "written_mb": "MB"}
    out = {}

    def span(name, counters):
        for c in counters:
            out[f"{name}.{c}"] = units[c]

    out["setup.session_s"] = "s"
    out["setup.build_s"] = "s"
    out["setup.warmup_s"] = "s"
    span("batch.pass", stats.COUNTERS)
    out["batch.plan_s"] = "s"
    for q in QUERIES:
        out[f"q.{q}.wall_s"] = "s"
    for f in FAMILIES:
        span(f"ingest.{f}", stats.COUNTERS + ("written_mb",))
    span("probe", stats.COUNTERS)
    out["probe.read_frac"] = "ratio"
    span("stream", stats.COUNTERS + ("written_mb",))
    out["stream.batch_s"] = "s"
    for f in FAMILIES:
        out[f"index.{f}.disk_mb"] = "MB"
    out["index.files"] = "count"
    out["index.versions_on_disk"] = "count"
    out["index.space_amp"] = "ratio"
    return out


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies():
    """(steal, total) CPU time of the machine from /proc/stat. Steal is
    time a virtual CPU waited for the host: other tenants' load."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:9]]
    return xs[7], sum(xs)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")] + \
        [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in d.split(os.sep) and "project" + os.sep + "project" not in d
            for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the harness classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=BUILD_TIMEOUT_S)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}), see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    record = os.path.join(work, "record.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JVM_OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA, "--work", work,
           "--out", record, "--launched-ms", repr(time.time() * 1000)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=log,
                               stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"the workload did not finish within {timeout:.0f} s")
    if p.returncode != 0 or not os.path.exists(record):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the workload JVM exited with {p.returncode}")
    with open(record) as f:
        return json.load(f)


def measured(rec, items):
    lo, hi = rec["values"]["measure_start_ms"], rec["values"]["measure_end_ms"]
    return [x for x in items if lo <= x["start"] <= hi]


def end_to_end(rec):
    v = rec["values"]
    ops = rec["ops"]
    kinds = sorted({o["kind"] for o in ops})
    lat = {k: [(o["end"] - o["start"]) / 1000 for o in ops if o["kind"] == k]
           for k in kinds}
    return {
        "setup_s": v["session_s"] + v["build_s"],
        "op_p50_s": stats.geomean([stats.median(x) for x in lat.values()]),
        "cycle_s": stats.median(rec["samples"]["cycle_ms"]) / 1000,
        "peak_heap_mb": v["live_heap_mb"],
    }, lat


def per_layer(rec):
    """Per-layer metrics from the traced run's spans and jobs. A span the
    workload never opens reads 0."""
    spans = measured(rec, rec["spans"])
    jobs = rec["jobs"]
    v = rec["values"]
    out = {name: 0.0 for name in per_layer_units()}

    def med(name, counter):
        xs = [stats.span_counters(s, jobs)[counter] for s in spans if s["name"] == name]
        return stats.median(xs) if xs else 0.0

    for name in out:
        head, _, counter = name.rpartition(".")
        if counter in stats.COUNTERS or counter == "written_mb":
            out[name] = med(head, counter)
    out["setup.session_s"] = v["session_s"]
    out["setup.build_s"] = sum(s["end"] - s["start"] for s in rec["spans"]
                               if s["name"] == "build") / 1000
    out["setup.warmup_s"] = v["build_s"] - out["setup.build_s"]
    passes = [s for s in spans if s["name"] == "batch.pass"]
    if passes:
        plan = [sum(s["end"] - s["start"] for s in spans if s["name"] == "batch.plan"
                    and p["start"] <= s["start"] <= p["end"]) / 1000 for p in passes]
        out["batch.plan_s"] = stats.median(plan)
    if "live_rows" in v:
        out["probe.read_frac"] = out["probe.rows_read"] / v["live_rows"]
    starts = rec["samples"].get("stream_batch_start_ms", [])
    batch_ms = [d for b, d in zip(starts, rec["samples"].get("stream_batch_ms", []))
                if b >= v["measure_start_ms"]]
    if batch_ms:
        out["stream.batch_s"] = stats.median(batch_ms) / 1000
    for k in list(out):
        if k.startswith("index.") and k in v:
            out[k] = v[k]
    return out


def checks(args, rec, work):
    """(failed op count, details) from the output checks."""
    v = rec["values"]
    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    detail = {"failed_ops": failed}
    if args.workload == "batch_pipeline":
        import oracle
        sql = {k[len("oracle."):]: s for k, s in rec["notes"].items()
               if k.startswith("oracle.")}
        res = oracle.check(DATA, os.path.join(work, "results"), sql)
        bad = {q: why for q, why in res.items() if why}
        missing = [q for q in QUERIES if q not in sql]
        for q in missing:
            bad[q] = "no oracle SQL"
        detail["oracle_checked"] = len(res)
        detail["oracle_failed"] = bad
        # every execution of a query reproduced the first result's hash,
        # so a wrong first result makes all of them wrong
        failed += sum(1 for o in ops if o["ok"] and o["kind"][2:] in bad)
    else:
        for k in ("failed_probe_checks", "failed_view_checks"):
            detail[k] = v[k]
            failed += int(v[k])
        detail["checked_probes"] = v["checked_probes"]
    return failed, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: run from the root of a full checkout")
    if not os.path.isdir(DATA):
        fail(f"no base corpus at {DATA}")
    cp = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = loadavg()
    steal0, total0 = cpu_jiffies()
    try:
        rec = run_jvm(cp, args, work, RUN_TIMEOUT_S)
        steal1, total1 = cpu_jiffies()
        failed, detail = checks(args, rec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e, lat = end_to_end(rec)
    v = rec["values"]
    attempted = len(rec["ops"])
    stamp = {"workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace,
             "nproc": len(os.sched_getaffinity(0)), "cores": int(rec["notes"]["cores"]),
             "loadavg_before": load_before, "loadavg_after": loadavg(),
             "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
             "heap": HEAP, "max_heap_mb": int(rec["notes"]["max_heap_mb"]),
             "spark": rec["notes"]["spark_version"], "jdk": rec["notes"]["java_version"]}
    info = {"stamp": stamp,
            "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()},
            "fail_frac": stats.fail_frac(attempted, failed),
            "ops": {k: {"n": len(x), "p50_s": stats.median(x),
                        "tail": stats.tail(x)} for k, x in lat.items()},
            "cycles": len(rec["samples"]["cycle_ms"]),
            "phases_s": {"session": v["session_s"], "setup": v["build_s"],
                         "measure": (v["measure_end_ms"] - v["measure_start_ms"]) / 1000,
                         "finish": v["finish_s"]},
            "checks": detail}
    if args.trace:
        layer = per_layer(rec)
        info["min_attributed_job_share"] = stats.attributed_share(
            rec["ops"], rec["spans"], rec["jobs"])
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = info["end_to_end"]
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
