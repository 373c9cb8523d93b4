"""Seeded workload inputs. The same seed gives byte-identical files.

batch_*       keys.txt     one comma-separated pass per line, each a seeded
                           shuffle of the keys; the first passes warm up
stream_score  events.tsv   phase, scheduled offset (us), FlowSchema JSON
              phases.tsv   phase, rate (events/s), start and end offset (us)
stream_ingest docs.tsv     batch, id, kind, text (kind: fresh, exact, near,
                           short, offtopic)
"""
import os
import random

import pyarrow.parquet as pq

# Batch key subsets: each sized so one pass takes a few seconds on four
# cores. batch_relational is scan/shuffle/aggregate work with almost no
# driver-side build; batch_dedup is dominated by driver-side build (eager
# count/collect, persistEager barriers) and banded self-joins.
KEYS = {
    "batch_relational": [
        "q01_pricing_summary", "q03_agg_global", "q04_join_nation_revenue",
        "q05_join_lineitem_orders", "q06_semi_join", "q08_topk_orders",
        "q14_histogram", "q18_json_extract"],
    "batch_dedup": [
        "q113_pack", "ann_lsh", "q73_incremental_dedup"],
}
PASSES = 200

# stream_score: a fixed-rate ladder as (phase, events/s, share of the run's
# seconds). The warm phase runs at a high rate (the JIT warms with volume);
# the nominal rung, where latency is read, is the longest and runs last, so
# it sees the warmest JIT. The harness drains the stream before it. The
# nominal rung holds most of the run: its p50 is the contract latency, and a
# slow spell of a shared host moves the median of a long phase less.
WARM = ("warm", 4000.0, 5.0)
RUNGS = [("rung2", 2000.0, 0.1), ("rung4", 4000.0, 0.1),
         ("rung8", 8000.0, 0.1), ("nominal", 1000.0, 0.7)]
NOMINAL_RATE = 1000.0
ANOMALY_SHARE = 0.05
# bursts sent at once, each after the one before has drained; the median
# of their drain rates is the scorer's capacity
BURSTS = 7
BURST_EVENTS = 20000
FEATURES = ["flow_duration", "total_fwd_packets", "flow_bytes_s",
            "packet_length_mean"]

# stream_ingest: documents per micro-batch and the share of each kind.
BATCH_DOCS = 200
INGEST_BATCHES = 3
SETTLED_DOCS = 1000
MIN_WORDS = 20
SHARES = [("exact", 0.08), ("near", 0.08), ("short", 0.08), ("offtopic", 0.08)]


def _iso(off_us):
    s, us = divmod(off_us, 1_000_000)
    m, s = divmod(s, 60)
    h, m = divmod(m, 60)
    return f"2026-01-01T{h:02d}:{m:02d}:{s:02d}.{us:06d}Z"


def _event(rng, i, off_us):
    anomaly = rng.random() < ANOMALY_SHARE
    if anomaly:
        vals = [rng.uniform(5.0, 50.0) for _ in FEATURES]
        label = rng.choice(["DoS Hulk", "PortScan", "DDoS", "Bot"])
    else:
        vals = [rng.gauss(0.0, 0.3) for _ in FEATURES]
        label = "BENIGN"
    feats = ",".join(f'"{k}":{v:.6f}' for k, v in zip(FEATURES, vals))
    return (f'{{"event_id":"e{i}","event_type":"network_flow",'
            f'"timestamp":"{_iso(off_us)}","flow_id":"f{rng.randrange(10**6)}",'
            f'{feats},"label":"{label}"}}')


def stream_phases(seconds, traced, scaling):
    """(name, rate, start_us, end_us) for one run."""
    out, at = [], 0
    def add(name, rate, dur_s):
        nonlocal at
        out.append((name, rate, at, at + int(dur_s * 1e6)))
        at += int(dur_s * 1e6)
    add(*WARM)
    if not scaling:
        for name, rate, share in RUNGS:
            if traced and name == "nominal":
                # untraced phases on both sides, for the tracing overhead
                add("untracedA", NOMINAL_RATE, seconds * share / 2)
                add(name, rate, seconds * share)
                add("untracedB", NOMINAL_RATE, seconds * share / 2)
            else:
                add(name, rate, seconds * share)
    # bursts sent at once, after the rest has drained: their drain rate is
    # the scorer's capacity, and their drain time the scaling reference
    for b in range(BURSTS):
        at += 2_000_000 if b == 0 else 500_000
        out.append((f"burst{b + 1}", float(BURST_EVENTS), at, at + 1))
    return out


def write_stream_score(out, seed, seconds, traced=False, scaling=False):
    rng = random.Random(seed)
    phases = stream_phases(seconds, traced, scaling)
    n = 0
    with open(os.path.join(out, "events.tsv"), "w") as ev:
        for name, rate, start, end in phases:
            if name.startswith("burst"):
                offs = [start] * BURST_EVENTS
            else:
                offs, t = [], float(start)
                while True:
                    # jittered arrivals: exponential gaps at the phase rate
                    t += rng.expovariate(rate) * 1e6
                    if t >= end:
                        break
                    offs.append(int(t))
            for off in offs:
                ev.write(f"{name}\t{off}\t{_event(rng, n, off)}\n")
                n += 1
    with open(os.path.join(out, "phases.tsv"), "w") as ph:
        for name, rate, start, end in phases:
            ph.write(f"{name}\t{rate}\t{start}\t{end}\n")


def write_batch(out, seed, workload):
    rng = random.Random(seed)
    keys = list(KEYS[workload])
    with open(os.path.join(out, "keys.txt"), "w") as f:
        for _ in range(PASSES):
            rng.shuffle(keys)
            f.write(",".join(keys) + "\n")


def write_stream_ingest(out, seed, fixture):
    rng = random.Random(seed)
    t = pq.read_table(os.path.join(fixture, "documents.parquet"),
                      columns=["doc_id", "text"]).to_pydict()
    settled = [x for i, x in zip(t["doc_id"], t["text"]) if i < SETTLED_DOCS]
    fresh = [x for i, x in zip(t["doc_id"], t["text"]) if i >= SETTLED_DOCS]
    long_settled = [x for x in settled if len(x.split()) >= 2 * MIN_WORDS]
    vocab = sorted({w for x in settled for w in x.split()})
    rng.shuffle(fresh)
    nid, nf = 10_000_000, 0
    with open(os.path.join(out, "docs.tsv"), "w") as f:
        for b in range(INGEST_BATCHES):
            for _ in range(BATCH_DOCS):
                u, kind = rng.random(), "fresh"
                for k, share in SHARES:
                    if u < share:
                        kind = k
                        break
                    u -= share
                if kind == "exact":
                    text = rng.choice(long_settled)
                elif kind == "near":
                    # one token replaced: a near-copy of a settled document
                    w = rng.choice(long_settled).split()
                    j = rng.randrange(len(w))
                    w[j] = rng.choice([v for v in vocab if v != w[j]])
                    text = " ".join(w)
                else:
                    text = fresh[nf % len(fresh)]
                    nf += 1
                    if kind == "short":
                        text = " ".join(text.split()[:rng.randrange(3, MIN_WORDS)])
                    elif kind == "offtopic":
                        # words reversed (stopwords kept): passes the
                        # rules, scores below zero under the DSIR weights
                        text = " ".join(w if w in ("the", "a") else w[::-1]
                                        for w in text.split())
                f.write(f"{b}\t{nid}\t{kind}\t{text}\n")
                nid += 1


def write(out, workload, seed, seconds, fixture, traced=False, scaling=False):
    os.makedirs(out, exist_ok=True)
    if workload in KEYS:
        write_batch(out, seed, workload)
    elif workload == "stream_score":
        write_stream_score(out, seed, seconds, traced, scaling)
    elif workload == "stream_ingest":
        write_stream_ingest(out, seed, fixture)
    else:
        raise ValueError(f"unknown workload {workload}")
