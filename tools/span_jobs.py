#!/usr/bin/env python3
"""Print the Spark jobs and stages of each query or micro-batch in a traced perfbench run.

A traced run (`perfbench/run.py --trace 1`) keeps its spans in
`.bench_build/spans/<workload>-<seed>.jsonl`. Each `query` span (attr `key`)
has a `query.build` child (DataFrame construction, where eager probes and
persists run) and a `query.exec` child (the noop write); Spark jobs and their
stages hang under whichever of the two was open when the job was submitted.
In a streaming run (stream_ingest, stream_score) each traced micro-batch is a
`stream.batch` span (attrs `batch`, `rows`) whose `stream.addBatch` child
holds the jobs the batch body ran, directly or under a `sink.write` child;
`--batches` prints those.

    python3 tools/span_jobs.py batch_dedup 11               # every query
    python3 tools/span_jobs.py batch_dedup 11 --key q113_pack
    python3 tools/span_jobs.py batch_dedup 11 --summary     # per-key medians
    python3 tools/span_jobs.py path/to/spans.jsonl --summary
    python3 tools/span_jobs.py stream_ingest 1 --batches    # every batch
    python3 tools/span_jobs.py stream_score 1 --batches --summary

Offsets are milliseconds from the start of the query (or addBatch) span; durations are
milliseconds; `tasks` is the stage's task count.
"""
import argparse
import json
import os
import signal
import statistics
import sys
from collections import defaultdict

PHASES = ("query.build", "query.exec")


def load(path):
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    for v in kids.values():
        v.sort(key=lambda s: s["start_us"])
    return spans, kids


def phase_jobs(query, kids):
    """{phase: [(job span, [stage spans])]} for one query span."""
    out = {p: [] for p in PHASES}
    for ph in kids[query["id"]]:
        if ph["name"] in out:
            out[ph["name"]] = [(j, kids[j["id"]]) for j in kids[ph["id"]]
                               if j["name"] == "spark.job"]
    return out


def batch_jobs(add, kids):
    """[(job span, [stage spans])] at any depth under one addBatch span."""
    out, todo = [], [add]
    while todo:
        for k in kids[todo.pop()["id"]]:
            if k["name"] == "spark.job":
                out.append((k, kids[k["id"]]))
            elif k["name"] != "spark.stage":
                todo.append(k)
    return sorted(out, key=lambda js: js[0]["start_us"])


def ms(us):
    return us / 1000.0


def print_jobs(js, t0):
    for j, stages in js:
        print(f"    job {j['attrs'].get('job', '?'):>5}  "
              f"+{ms(j['start_us'] - t0):7.0f}  "
              f"{ms(j['end_us'] - j['start_us']):6.0f} ms")
        for s in stages:
            print(f"      stage {s['attrs'].get('stage', '?'):>5}  "
                  f"+{ms(s['start_us'] - t0):7.0f}  "
                  f"{ms(s['end_us'] - s['start_us']):6.0f} ms  "
                  f"{s['attrs'].get('tasks', '?')} tasks")


def show_batches(spans, kids, summary):
    by_id = {s["id"]: s for s in spans}
    adds = sorted((s for s in spans if s["name"] == "stream.addBatch"),
                  key=lambda s: s["start_us"])
    if not adds:
        sys.exit("no stream.addBatch spans (not a traced streaming run?)")
    jobs, stages = [], []
    for add in adds:
        b = by_id.get(add["parent"], {}).get("attrs", {})
        js = batch_jobs(add, kids)
        jobs.append(len(js))
        stages.append(sum(len(st) for _, st in js))
        if summary:
            continue
        print(f"batch {b.get('batch', '?')}  {b.get('rows', '?')} rows  "
              f"addBatch {ms(add['end_us'] - add['start_us']):.0f} ms: "
              f"{jobs[-1]} jobs, {stages[-1]} stages")
        print_jobs(js, add["start_us"])
    print(f"batches {len(adds)}  jobs/batch median {statistics.median(jobs):g} "
          f"(min {min(jobs)}, max {max(jobs)})  stages/batch median "
          f"{statistics.median(stages):g}")


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet when piped to head
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", help="workload name, or a spans .jsonl path")
    ap.add_argument("seed", nargs="?", help="seed of the traced run")
    ap.add_argument("--key", help="only this query key")
    ap.add_argument("--summary", action="store_true",
                    help="per-key median jobs/stages per phase only")
    ap.add_argument("--batches", action="store_true",
                    help="jobs/stages under each stream.addBatch span")
    a = ap.parse_args()
    path = a.workload if a.seed is None else os.path.join(
        ".bench_build", "spans", f"{a.workload}-{a.seed}.jsonl")
    if not os.path.exists(path):
        sys.exit(f"no spans at {path} (run perfbench/run.py with --trace 1)")
    spans, kids = load(path)
    if a.batches:
        show_batches(spans, kids, a.summary)
        return
    queries = [q for q in spans if q["name"] == "query" and
               (a.key is None or q["attrs"].get("key") == a.key)]
    counts = defaultdict(lambda: defaultdict(list))
    for q in sorted(queries, key=lambda q: q["start_us"]):
        key = q["attrs"].get("key", "?")
        jobs = phase_jobs(q, kids)
        for p in PHASES:
            counts[key][p + ".jobs"].append(len(jobs[p]))
            counts[key][p + ".stages"].append(
                sum(len(st) for _, st in jobs[p]))
        if a.summary:
            continue
        print(f"{key}  {ms(q['end_us'] - q['start_us']):.0f} ms")
        for p in PHASES:
            js = jobs[p]
            print(f"  {p}: {len(js)} jobs, "
                  f"{sum(len(st) for _, st in js)} stages")
            print_jobs(js, q["start_us"])
    cols = [p + "." + c for p in PHASES for c in ("jobs", "stages")]
    print("key".ljust(24) + "queries  " +
          "  ".join(c.replace("query.", "") for c in cols) + "  (medians)")
    for key in sorted(counts):
        c = counts[key]
        print(key.ljust(24) + f"{len(c[cols[0]]):>7}  " + "  ".join(
            f"{statistics.median(c[k]):>{len(k) - 6}g}" for k in cols))


if __name__ == "__main__":
    main()
