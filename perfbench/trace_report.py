#!/usr/bin/env python3
"""Per-layer report of one traced benchmark run.

    python3 perfbench/trace_report.py .bench_build/perfbench/traces/<workload>-<seed>.jsonl

The spans file holds one JSON object per span (name, start, end, parent,
run id, and the Spark counters of the jobs submitted inside it) and a last
line with the untraced and traced job walls. The report prints:

  * self time per span name: the span's duration minus the part of it
    its child spans cover, summed over all spans of that name, with the
    Spark counters summed alongside;
  * for a crawl, one line per round: the round's wall time inside
    CrawlJob.run, the time of each layer call replayed on that round's
    input as a share of that wall, and the unattributed rest;
  * the tracing overhead: traced job wall minus untraced job wall.
"""

import collections
import json
import sys


def self_time(span, children):
    """Duration minus the union of the children's intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start_s"]):
        s, e = max(c["start_s"], span["start_s"]), min(c["end_s"], span["end_s"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span["end_s"] - span["start_s"] - covered


def main(path):
    spans, summary = [], {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if "name" in rec:
                spans.append(rec)
            else:
                summary = rec
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    run = summary.get("run", "?")
    print(f"== trace report: {run} ({len(spans)} spans)")
    agg = collections.OrderedDict()
    for s in spans:
        a = agg.setdefault(s["name"], collections.Counter())
        a["n"] += 1
        a["self_s"] += self_time(s, kids[s["id"]])
        a["total_s"] += s["end_s"] - s["start_s"]
        for k in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
            a[k] += s[k]
        a["peak_task_mem_mb"] = max(a["peak_task_mem_mb"], s["peak_task_mem_mb"])
    print(f"{'span':22s} {'n':>4s} {'self s':>9s} {'total s':>9s} {'jobs':>6s} {'tasks':>7s}"
          f" {'shuffle MB':>10s} {'spill MB':>9s} {'peak task MB':>12s}")
    for name, a in sorted(agg.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:22s} {a['n']:4d} {a['self_s']:9.3f} {a['total_s']:9.3f} {a['jobs']:6d}"
              f" {a['tasks']:7d} {a['shuffle_write_bytes'] / 2**20:10.2f}"
              f" {a['spill_bytes'] / 2**20:9.2f} {a['peak_task_mem_mb']:12.1f}")

    rounds = [s for s in spans if s["name"] == "crawl.round"]
    replays = {s["attrs"].get("round"): s for s in spans if s["name"] == "crawl.replay"}
    if rounds:
        print("-- crawl rounds: CrawlJob.run wall, and each replayed layer call as a share of it")
        for r in rounds:
            k = r["attrs"].get("round")
            wall = r["end_s"] - r["start_s"]
            layers = [(c["name"], c["end_s"] - c["start_s"]) for c in kids[replays[k]["id"]]] if k in replays else []
            layers.sort(key=lambda x: -x[1])
            rest = wall - sum(t for _, t in layers)
            parts = ", ".join(f"{n} {t:.2f}s ({t / wall:.0%})" for n, t in layers)
            print(f"round {k:>3}: wall {wall:6.2f}s jobs {r['jobs']:3d} idle {r['idle_frac']:.0%} | {parts}"
                  f" | unattributed {rest:.2f}s ({rest / wall:.0%})")
        shares = collections.Counter()
        total = sum(r["end_s"] - r["start_s"] for r in rounds)
        for rep in replays.values():
            for c in kids[rep["id"]]:
                shares[c["name"]] += c["end_s"] - c["start_s"]
        top = ", ".join(f"{n} {t / total:.0%}" for n, t in shares.most_common())
        print(f"round wall {total:.2f}s over {len(rounds)} rounds; replayed layers as a share of it: {top}")

    if summary:
        over = summary["traced_s"] - summary["untraced_s"]
        print(f"-- tracing overhead: traced job {summary['traced_s']:.2f}s - untraced job"
              f" {summary['untraced_s']:.2f}s = {over:.2f}s")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
