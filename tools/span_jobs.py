#!/usr/bin/env python3
"""Print the Spark jobs and stages of each batch query in a traced perfbench run.

A traced run (`perfbench/run.py --trace 1`) keeps its spans in
`.bench_build/spans/<workload>-<seed>.jsonl`. Each `query` span (attr `key`)
has a `query.build` child (DataFrame construction, where eager probes and
persists run) and a `query.exec` child (the noop write); Spark jobs and their
stages hang under whichever of the two was open when the job was submitted.

    python3 tools/span_jobs.py batch_dedup 11               # every query
    python3 tools/span_jobs.py batch_dedup 11 --key q113_pack
    python3 tools/span_jobs.py batch_dedup 11 --summary     # per-key medians
    python3 tools/span_jobs.py path/to/spans.jsonl --summary

Offsets are milliseconds from the start of the query span; durations are
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
    return [s for s in spans if s["name"] == "query"], kids


def phase_jobs(query, kids):
    """{phase: [(job span, [stage spans])]} for one query span."""
    out = {p: [] for p in PHASES}
    for ph in kids[query["id"]]:
        if ph["name"] in out:
            out[ph["name"]] = [(j, kids[j["id"]]) for j in kids[ph["id"]]
                               if j["name"] == "spark.job"]
    return out


def ms(us):
    return us / 1000.0


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet when piped to head
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", help="workload name, or a spans .jsonl path")
    ap.add_argument("seed", nargs="?", help="seed of the traced run")
    ap.add_argument("--key", help="only this query key")
    ap.add_argument("--summary", action="store_true",
                    help="per-key median jobs/stages per phase only")
    a = ap.parse_args()
    path = a.workload if a.seed is None else os.path.join(
        ".bench_build", "spans", f"{a.workload}-{a.seed}.jsonl")
    if not os.path.exists(path):
        sys.exit(f"no spans at {path} (run perfbench/run.py with --trace 1)")
    queries, kids = load(path)
    queries = [q for q in queries
               if a.key is None or q["attrs"].get("key") == a.key]
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
            for j, stages in js:
                print(f"    job {j['attrs'].get('job', '?'):>5}  "
                      f"+{ms(j['start_us'] - q['start_us']):7.0f}  "
                      f"{ms(j['end_us'] - j['start_us']):6.0f} ms")
                for s in stages:
                    print(f"      stage {s['attrs'].get('stage', '?'):>5}  "
                          f"+{ms(s['start_us'] - q['start_us']):7.0f}  "
                          f"{ms(s['end_us'] - s['start_us']):6.0f} ms  "
                          f"{s['attrs'].get('tasks', '?')} tasks")
    cols = [p + "." + c for p in PHASES for c in ("jobs", "stages")]
    print("key".ljust(24) + "queries  " +
          "  ".join(c.replace("query.", "") for c in cols) + "  (medians)")
    for key in sorted(counts):
        c = counts[key]
        print(key.ljust(24) + f"{len(c[cols[0]]):>7}  " + "  ".join(
            f"{statistics.median(c[k]):>{len(k) - 6}g}" for k in cols))


if __name__ == "__main__":
    main()
