#!/usr/bin/env python3
"""spark-graft benchmark: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine and
the harness from source with sbt (perfbench/build.sbt) and writes the fixed
sf0.1 dataset (perfbench/gen_fixture.py); both are cached under
.bench_build/ and rebuilt when their sources change. Every run then generates
its seeded inputs (perfbench/inputs.py), starts one JVM on the compiled
classes (no sbt in the timed path), checks the outputs and prints, as the
last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics from a traced run (spans, Spark and Structured Streaming listener
figures) and, for batch_relational and stream_score, a local[1] reference
run for spark.scaling. The line before the last holds the workload's own
named metrics, tail percentiles, host stamp and check details.
PERFBENCH.md lists the metrics and which per-layer figure should move which
end-to-end one.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import inputs  # noqa: E402

WORKLOADS = ["batch_relational", "batch_dedup", "stream_score", "stream_ingest"]
SCALING = {"batch_relational", "stream_score"}
# JVM heap; stream_ingest thrashed the collector at 4g
HEAP = {"stream_ingest": "8g"}
# The batch workloads run with HotSpot's C1 tier only. With the default C2
# tier the passes kept getting faster for a minute and more (Spark's planner
# code, run a few times per query, is slow to reach C2), and how far one
# JVM's warm-up had got decided a run's figures. C1 compiles it within the
# warm pass; its code cache is raised from the 48 MB of a C1-only JVM, which
# filled mid-run and slowed the queries down again.
JIT = {w: ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
       for w in ("batch_relational", "batch_dedup")}
# a run (after the build) ends within this many seconds, or fails
RUN_LIMIT_S = 165
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 needs these when it is not started by spark-submit (the
# root build.sbt passes the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        if os.path.isfile(p):
            files = [p]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when their sources changed;
    return the runtime classpath."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src")]
    missing = [p for p in srcs if not os.path.exists(p)]
    if missing:
        fail(f"not a source checkout, missing: {', '.join(missing)}")
    key = tree_hash(srcs)
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        b = json.load(open(stamp))
        if b["hash"] == key and all(os.path.exists(p) for p in b["classpath"].split(":")):
            return b["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"], cwd=HERE, stdout=subprocess.PIPE,
                stderr=lf, stdin=subprocess.DEVNULL, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed, see {log}")
    json.dump({"hash": key, "classpath": lines[-1].strip()}, open(stamp, "w"))
    return lines[-1].strip()


def fixture():
    """The fixed sf0.1 dataset, written once per generator version."""
    gen = os.path.join(HERE, "gen_fixture.py")
    d = os.path.join(BUILD, "fixture-" + tree_hash([gen])[:16])
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp], check=True, timeout=300)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def run_jvm(cp, args, log, deadline):
    """Start the harness JVM and wait for it, at most until `deadline`
    (time.time()); returns (result, launch time)."""
    out = os.path.join(args["work"], "result.json")
    tmp = os.path.join(args["work"], "tmp")
    # temporary files (native libraries Spark unpacks) stay in the run's
    # directory, and no JVM performance-data file is written outside it
    cmd = ["java", f"-Xmx{HEAP.get(args['workload'], '4g')}",
           *JIT.get(args["workload"], []),
           f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    cmd += ["--out", out]
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=args["work"],
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc is None:
        fail(f"harness did not finish within the run limit of {RUN_LIMIT_S} s", 1)
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        fail(f"harness exited with {rc}:\n{tail}", 1)
    return json.load(open(out)), t0


def batch_checks(workload, res):
    """Batch keys against the row counts and digests recorded from the seed
    commit; keys whose output depends on float summation order are checked
    by row count only. Returns the failing keys."""
    exp = json.load(open(os.path.join(HERE, "expected.json")))["batch"]
    rows_only = set(exp["rows_only"])
    bad = []
    for k, got in res["checks"].items():
        want = exp["keys"].get(k)
        if want is None or "error" in got or got["rows"] != want["rows"] or (
                k not in rows_only and got["digest"] != want["digest"]):
            bad.append(k)
    return bad


def ingest_checks(seed, res):
    """Kept-id digest and funnel totals, where recorded for this seed."""
    exp = json.load(open(os.path.join(HERE, "expected.json")))["stream_ingest"]
    want = exp.get(str(seed))
    c = res["checks"]
    if want is None:
        return []
    bad = []
    if c["kept_digest"] != want["kept_digest"]:
        bad.append("kept_digest")
    for k, v in want["funnel"].items():
        if c["funnel"].get(k) != v:
            bad.append(f"funnel.{k}")
    return bad


def end_to_end(workload, res, setup_s):
    """(contract metrics, named per-workload metrics, tail details)."""
    e = res["e2e"]
    if workload.startswith("batch"):
        named = {"pass_s": (e["pass_s"], "s"), "query_p50_s": (e["query_p50_s"], "s"),
                 "query_tail_s": (e["query_tail_s"], "s"),
                 "query_geomean_s": (e["query_geomean_s"], "s")}
        tail = {"query_tail_s": {"percentile": e["query_tail_pct"],
                                 "samples": e["query_samples"]}}
        # a pass holds few queries of unlike keys, so their median jumps
        # between keys; the geometric mean over keys is the steady summary
        latency = e["query_geomean_s"] * 1e3
        # queries run per second of query latency over the timed passes
        thr = e["queries_per_s"]
    elif workload == "stream_score":
        capacity = e["burst_events"] / e["burst_drain_s"] if e["burst_drain_s"] > 0 else 0.0
        named = {"event_latency_p50_ms": (e["event_latency_p50_ms"], "ms"),
                 "event_latency_tail_ms": (e["event_latency_tail_ms"], "ms"),
                 "sustained_events_per_s": (e["sustained_events_per_s"], "1/s"),
                 "burst_events_per_s": (capacity, "1/s")}
        tail = {"event_latency_tail_ms": {"percentile": e["event_latency_tail_pct"],
                                          "samples": e["event_latency_samples"]}}
        latency = e["event_latency_p50_ms"]
        # the ladder's highest passing rung only moves in whole rungs, and a
        # slow spell of the host drops it to a lower one; the bursts' median
        # drain rate is the continuous measure of the same capacity
        thr = capacity
    else:
        named = {"ingest_batch_p50_s": (e["ingest_batch_p50_s"], "s"),
                 "ingest_batch_tail_s": (e["ingest_batch_tail_s"], "s"),
                 "docs_per_s": (e["docs_per_s"], "1/s")}
        tail = {"ingest_batch_tail_s": {"percentile": e["ingest_batch_tail_pct"],
                                        "samples": e["ingest_batch_samples"]}}
        latency = e["ingest_batch_p50_s"] * 1e3
        thr = e["docs_per_s"]
    failed_ratio = res["failed"] / max(res["attempted"], 1)
    named.update({"setup_s": (setup_s, "s"), "peak_rss_mb": (res["peak_rss_mb"], "MB"),
                  "failed_ratio": (failed_ratio, "ratio")})
    generic = {"setup_s": setup_s, "latency_ms": latency, "throughput_per_s": thr}
    return generic, named, tail


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec))
    cp = build()
    fx = fixture()
    deadline = time.time() + RUN_LIMIT_S
    cores = os.cpu_count() or 1
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        def launch(tag, traced, n_cores, scaling=False):
            d = os.path.join(run_dir, tag)
            g0 = time.perf_counter()
            inputs.write(os.path.join(d, "inputs"), a.workload, a.seed, a.seconds,
                         fx, traced=traced, scaling=scaling)
            gen_s = time.perf_counter() - g0
            res, t0 = run_jvm(cp, {
                "workload": a.workload, "inputs": os.path.join(d, "inputs"),
                "fixture": fx, "work": os.path.join(d, "work"),
                "seconds": a.seconds, "trace": int(traced), "cores": n_cores},
                os.path.join(d, "jvm.log"), deadline)
            # set-up: input generation, JVM start to a ready session (less the
            # host calibration), the median workload set-up, the warm pass
            boot_s = res["session_ready_ms"] / 1e3 - t0 - res["calib_s"]
            parts = {"inputs_s": gen_s, "boot_s": boot_s,
                     "workload_setup_s": statistics.median(res["workload_setup_s"]),
                     "warm_s": res["warm_s"]}
            res["setup_parts"] = parts
            return res, sum(parts.values())

        res, setup_s = launch("main", a.trace == 1, cores)
        bad = []
        if a.workload.startswith("batch"):
            bad = batch_checks(a.workload, res)
        elif a.workload == "stream_ingest":
            bad = ingest_checks(a.seed, res)
        res["failed"] += len(bad)
        res["attempted"] = max(res["attempted"], 1)
        generic, named, tail = end_to_end(a.workload, res, setup_s)

        if a.trace:
            layer = dict(res["layer"])
            if a.workload in SCALING:
                ref, _ = launch("local1", False, 1, scaling=True)
                if a.workload.startswith("batch"):
                    ref_bad = batch_checks(a.workload, ref)
                    bad += [f"local1:{k}" for k in ref_bad]
                    res["failed"] += len(ref_bad)
                if a.workload == "stream_score":
                    layer["spark.scaling"] = ref["e2e"]["burst_drain_s"] / res["e2e"]["burst_drain_s"]
                else:
                    layer["spark.scaling"] = ref["e2e"]["pass_s"] / res["e2e"]["pass_s"]
            spans = os.path.join(run_dir, "main", "work", "spans.jsonl")
            if os.path.exists(spans):
                keep = os.path.join(BUILD, "spans")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(spans, os.path.join(keep, f"{a.workload}-{a.seed}.jsonl"))
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                                   "unit": m["unit"]} for m in spec["per_layer"]}
        else:
            layer = {}
            metrics = {m["name"]: {"value": float(generic[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}

        correct = res["failed"] == 0
        detail = {"workload": a.workload, "seed": a.seed, "host": res["host"],
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
                  "tails": tail, "setup_parts": res["setup_parts"],
                  "failed_checks": bad, "checks": res["checks"],
                  "extra": {k: v for k, v in res["e2e"].items() if k not in named},
                  "layer_extra": {k: v for k, v in layer.items()
                                  if k not in {m["name"] for m in spec["per_layer"]}}}
        print(json.dumps(detail, sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
