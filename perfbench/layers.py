"""Per-layer metrics of a traced run, computed from the harness's spans,
Spark job records, counts noted at span boundaries and streaming progress.

Every traced run reports every metric; a layer the workload does not
exercise in its timed phase reads 0.
"""
import os
import re
from collections import defaultdict

import stats

SLOTS = 4  # local[4]
_VERSIONED = re.compile(r"^(?:gen|\.?_[a-z]+\.)(\d+)")


def _median(xs):
    return stats.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _files_by_version(root):
    """{version: (files, bytes)} of a versioned table root: data files under
    gen<v>/ and the sidecars, manifest and marker named for v."""
    out = defaultdict(lambda: [0, 0])
    if not os.path.isdir(root):
        return out
    for top in os.listdir(root):
        m = _VERSIONED.match(top)
        if not m:
            continue
        v = int(m.group(1))
        path = os.path.join(root, top)
        paths = ([path] if os.path.isfile(path) else
                 [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs])
        for p in paths:
            out[v][0] += 1
            out[v][1] += os.path.getsize(p)
    return out


def _commit_metrics(rec, notes, jobs_by_group, ops):
    # commits outside the timed ops (lake_query's fixture loads) either
    # succeed or fail the run
    commits = [s for s in rec["spans"] if s["name"] == "vt.commit"]
    ok = [s for s in commits if ops.get(s["op"], {"ok": True})["ok"]]
    bad = [s for s in commits if not ops.get(s["op"], {"ok": True})["ok"]]

    def jobs(s):
        return jobs_by_group.get(s["op"], [])

    def job_ms(s):
        return stats.covered([(j["start"], j["end"]) for j in jobs(s)],
                             s["start"], s["end"])

    files = defaultdict(lambda: [0, 0])
    for root in rec["table_roots"]:
        for v, (n, b) in _files_by_version(root).items():
            files[v][0] += n
            files[v][1] += b
    versions = [int(notes[(s["op"], "version")]) for s in ok
                if (s["op"], "version") in notes]
    solo = rec["extra"].get("solo_ms", [])
    return {
        "vt.commit.wall_ms": (_median([s["end"] - s["start"] for s in ok]), "ms"),
        "vt.commit.driver_ms": (_median([
            stats.self_time(s["start"], s["end"],
                            [(j["start"], j["end"]) for j in jobs(s)])
            for s in ok]), "ms"),
        "vt.commit.job_ms": (_median([job_ms(s) for s in ok]), "ms"),
        "vt.commit.jobs": (_mean([len(jobs(s)) for s in ok]), "count"),
        "vt.commit.stages": (_mean([sum(j["stages"] for j in jobs(s)) for s in ok]),
                             "count"),
        "vt.commit.tasks": (_mean([sum(j["tasks"] for j in jobs(s)) for s in ok]),
                            "count"),
        "vt.commit.task_wait_ms": (_mean([sum(j["wait_ms"] for j in jobs(s))
                                          for s in ok]), "ms"),
        "vt.commit.fs_ops": (_mean([notes.get((s["op"], "fs_ops"), 0.0)
                                    for s in ok]), "count"),
        "vt.commit.fs_bytes_read": (_mean([notes.get((s["op"], "fs_bytes_read"), 0.0)
                                           for s in ok]), "B"),
        "vt.commit.bytes_written": (_mean([files[v][1] for v in versions]), "B"),
        "vt.commit.files_written": (_mean([files[v][0] for v in versions]), "count"),
        "vt.commit.failed": (float(len(bad)), "count"),
        "vt.commit.fail_ms": (_median([s["end"] - s["start"] for s in bad]), "ms"),
        "vt.commit.solo_ms": (_median(solo), "ms"),
    }


def _sql_metrics(rec, notes, spans_by_name, jobs_by_group):
    def med(name):
        return _median([s["end"] - s["start"] for s in spans_by_name[name]])

    q_ops = sorted({op for (op, n) in notes if n == "queries"})
    queries = sum(notes[(op, "queries")] for op in q_ops)
    rows_out = sum(notes[(op, "rows_out")] for op in q_ops)
    in_records = sum(j["input_records"] for op in q_ops
                     for j in jobs_by_group.get(op, []))
    return {
        "sql.parse_ms": (med("sql.parse"), "ms"),
        "sql.plan_ms": (med("sql.plan"), "ms"),
        "sql.exec_ms": (med("sql.exec"), "ms"),
        "sql.jobs": (_mean([len(jobs_by_group.get(op, [])) / notes[(op, "queries")]
                            for op in q_ops]), "count"),
        "sql.stages": (_mean([sum(j["stages"] for j in jobs_by_group.get(op, []))
                              / notes[(op, "queries")] for op in q_ops]), "count"),
        "sql.exchanges": (queries and sum(notes[(op, "exchanges")] for op in q_ops)
                          / queries, "count"),
        "scan.files_read": (_mean([notes[(op, "files_read")] for op in q_ops]),
                            "count"),
        "scan.files_read_frac": (_mean([
            notes[(op, "files_read")] / (notes[(op, "table_files")] or 1)
            for op in q_ops]), "frac"),
        "scan.bytes_read": (_mean([sum(j["input_bytes"]
                                       for j in jobs_by_group.get(op, []))
                                   for op in q_ops]), "B"),
        "scan.rows_per_row_out": (in_records / rows_out if rows_out else 0.0,
                                  "ratio"),
    }


def _ops_metrics(rec, spans_by_name, jobs_by_group):
    analytic = sorted({s["op"] for s in spans_by_name["ops.exec"]})
    return {
        "ops.exec_ms": (_median([s["end"] - s["start"]
                                 for s in spans_by_name["ops.exec"]]), "ms"),
        "ops.shuffle_bytes": (_mean([sum(j["shuffle_write_bytes"]
                                         for j in jobs_by_group.get(op, []))
                                     for op in analytic]), "B"),
        "ops.spill_bytes": (float(sum(j["spill_bytes"] for op in analytic
                                      for j in jobs_by_group.get(op, []))), "B"),
    }


def _stream_metrics(rec):
    rounds = rec["extra"].get("rounds", [])
    batches = [b for r in rounds for b in r["batches"]]

    def dur(k):
        return _median([b["duration_ms"].get(k, 0) for b in batches])

    per_batch = defaultdict(list)
    for j in rec["jobs"]:
        if j["batch"] and rec["timed_start_ms"] <= j["start"] <= rec["timed_end_ms"]:
            per_batch[(j["query"], j["batch"])].append(j)
    return {
        "stream.trigger_ms": (dur("triggerExecution"), "ms"),
        "stream.addBatch_ms": (dur("addBatch"), "ms"),
        "stream.queryPlanning_ms": (dur("queryPlanning"), "ms"),
        "stream.walCommit_ms": (dur("walCommit"), "ms"),
        "stream.commitOffsets_ms": (dur("commitOffsets"), "ms"),
        "stream.latestOffset_ms": (dur("latestOffset"), "ms"),
        "stream.state.commit_ms": (_median([b["state_commit_ms"] for b in batches]),
                                   "ms"),
        "stream.state.rows_total": (_median([b["state_rows_total"] for b in batches]),
                                    "count"),
        "stream.state.memory_mb": (_median([b["state_memory_bytes"] for b in batches])
                                   / 2 ** 20, "MB"),
        "stream.state.stores": (_median([b["state_stores"] for b in batches]),
                                "count"),
        "stream.state.rows_dropped": (float(sum(b["rows_dropped"] for b in batches)),
                                      "count"),
        "stream.batch.jobs": (_mean([len(js) for js in per_batch.values()]), "count"),
        "stream.batch.tasks": (_mean([sum(j["tasks"] for j in js)
                                      for js in per_batch.values()]), "count"),
        "stream.sink.versions": (float(rec["extra"].get("sink_versions", 0)),
                                 "count"),
    }


def _substrate_metrics(rec):
    t0, t1 = rec["timed_start_ms"], rec["timed_end_ms"]
    timed = [j for j in rec["jobs"] if t0 <= j["start"] <= t1]
    tasks = sum(j["tasks"] for j in timed)
    return {
        "spark.task_busy_frac": (sum(j["task_ms"] for j in timed)
                                 / ((t1 - t0) * SLOTS), "frac"),
        "spark.task_wait_ms": (sum(j["wait_ms"] for j in timed) / tasks
                               if tasks else 0.0, "ms"),
        "spark.gc_ms": (rec["gc_ms"], "ms"),
        "fs.global_ops": (float(rec["fs_global"]["ops"]), "count"),
        "fs.global_bytes_read": (float(rec["fs_global"]["bytes_read"]), "B"),
    }


def per_layer(rec):
    """{metric: (value, unit)} for every per-layer metric.

    Spans and notes count when they belong to a timed op or to the fixture
    build (lake_query's loads, which its vt.commit metrics report); the
    untimed warm-up between the two is left out."""
    timed = {o["id"] for o in rec["ops"]}
    setup = {s["op"] for s in rec["spans"] if s["end"] <= rec["setup_end_ms"]}
    kept = timed | setup
    rec = dict(rec, jobs=[j for j in rec["jobs"] if j["end"] is not None],
               spans=[s for s in rec["spans"] if s["op"] in kept],
               notes=[n for n in rec["notes"] if n["op"] in kept])
    notes = {(n["op"], n["name"]): n["value"] for n in rec["notes"]}
    ops = {o["id"]: o for o in rec["ops"]}
    jobs_by_group = defaultdict(list)
    for j in rec["jobs"]:
        if j["group"]:
            jobs_by_group[j["group"]].append(j)
    spans_by_name = defaultdict(list)
    for s in rec["spans"]:
        spans_by_name[s["name"]].append(s)
    out = {}
    out.update(_commit_metrics(rec, notes, jobs_by_group, ops))
    out.update(_sql_metrics(rec, notes, spans_by_name, jobs_by_group))
    out.update(_ops_metrics(rec, spans_by_name, jobs_by_group))
    out.update(_stream_metrics(rec))
    out.update(_substrate_metrics(rec))
    return out


def trace_file(rec, e2e):
    """The span file of a traced run: spans with self time, jobs, counts,
    per-op-kind commit breakdown and the run's end-to-end metrics (to set
    against an untraced run of the same seed for the tracing overhead)."""
    kids = defaultdict(list)
    for s in rec["spans"]:
        kids[s["parent"]].append((s["start"], s["end"]))
    spans = [dict(s, self_ms=stats.self_time(s["start"], s["end"], kids[s["id"]]))
             for s in rec["spans"]]
    kinds = defaultdict(list)
    for o in rec["ops"]:
        kinds[o["kind"]].append(o)
    by_kind = {k: {"attempted": len(os_), "failed": sum(1 for o in os_ if not o["ok"]),
                   "failures": sorted({o["err"] for o in os_ if not o["ok"]}),
                   "p50_ms": _median([o["end"] - o["start"] for o in os_ if o["ok"]])}
               for k, os_ in kinds.items()}
    return {"end_to_end": {k: v for k, (v, _) in e2e.items()},
            "by_kind": by_kind, "spans": spans, "jobs": rec["jobs"],
            "notes": rec["notes"], "ops": rec["ops"], "extra": rec["extra"],
            "fs_global": rec["fs_global"]}
