#!/usr/bin/env python3
"""Per-op-kind medians of a perfbench trace file.

    python3 tools/trace_summary.py .bench_out/lake_query-seed1-trace.json

For every op kind of the timed run it prints the op count and the medians
of the op wall, of each traced layer span inside the op (sql.parse,
sql.plan, sql.exec, ops.exec, vt.changeFeed: summed per op, ops without
that span left out), of the Spark jobs the op ran and of their wall (the
union of the jobs' intervals). A streaming trace (tick_stream) also gets
the Spark jobs of every (query, batch) of the run; stream.batch.jobs
averages those of the batches inside the timed window.
"""
import json
import statistics
import sys
from collections import defaultdict

LAYERS = ("sql.parse", "sql.plan", "sql.exec", "ops.exec", "vt.changeFeed")


def covered_ms(intervals):
    """Wall time covered by the union of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def median(xs):
    return statistics.median(xs) if xs else None


def fmt(x):
    return "-" if x is None else f"{x:.1f}"


def summarize(trace):
    ops = {o["id"]: o for o in trace["ops"]}
    span_ms = defaultdict(float)  # (op, layer) -> summed ms
    for s in trace["spans"]:
        if s["op"] in ops and s["name"] in LAYERS:
            span_ms[(s["op"], s["name"])] += s["end"] - s["start"]
    jobs = defaultdict(list)
    for j in trace["jobs"]:
        if j.get("group") in ops and j.get("end") is not None:
            jobs[j["group"]].append((j["start"], j["end"]))
    kinds = defaultdict(list)
    for o in ops.values():
        kinds[o["kind"]].append(o)
    cols = ["kind", "ops", "op"] + list(LAYERS) + ["jobs", "job_wall"]
    rows = []
    for kind, os_ in sorted(kinds.items()):
        ids = [o["id"] for o in os_]
        row = [kind, str(len(os_)),
               fmt(median([o["end"] - o["start"] for o in os_]))]
        for layer in LAYERS:
            row.append(fmt(median([span_ms[(i, layer)] for i in ids
                                   if (i, layer) in span_ms])))
        row.append(fmt(median([len(jobs[i]) for i in ids])))
        row.append(fmt(median([covered_ms(jobs[i]) for i in ids])))
        rows.append(row)
    widths = [max(len(r[c]) for r in rows + [cols]) for c in range(len(cols))]
    out = ["  ".join(h.rjust(w) for h, w in zip(cols, widths))]
    out += ["  ".join(v.rjust(w) for v, w in zip(r, widths)) for r in rows]
    per_batch = defaultdict(int)
    for j in trace["jobs"]:
        if j.get("batch"):
            per_batch[(j.get("query"), j["batch"])] += 1
    if per_batch:
        out.append("")
        out.append("jobs per (query, batch):")
        out += [f"  {q} batch {b}: {n}"
                for (q, b), n in sorted(per_batch.items(),
                                        key=lambda kv: (str(kv[0][0]),
                                                        int(kv[0][1])))]
    return "\n".join(out)


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    with open(argv[1]) as f:
        print(summarize(json.load(f)))


if __name__ == "__main__":
    main(sys.argv)
