#!/usr/bin/env python3
"""Names the Spark jobs of one run from its event log.

Jobs are grouped by SQL execution (`spark.sql.execution.root.id`; a job
outside any SQL execution is its own group). Each group is named by its
first `graft.` stack frame (else `perfbench.`) and the `pb-` span tag its
jobs carry, and printed with its start offset from the application start,
its wall, its job count and its tasks run.

With `--batches`, the groups that are streaming micro-batches (a root
execution holding two or more child executions: `foreachBatch` runs the log
write and the query) are printed one line each, then the medians over the
batches after the first `--skip`. The write is the child whose plan inserts
into files (else the first child); the query is the last other child:

  write_s  wall of the write
  gap_s    from the end of the write to the start of the query (negative
           when the two overlap)
  query_s  wall of the query execution
  pre_s    from the query's start to its first job's submission
  busy_s   time in the query with at least one job running
  jobs     jobs of the whole micro-batch, the write included
  waves    runs of overlapping jobs in the query, one after another
  tasks    tasks of the query's last stage (where the kernel runs)
  moved    1 if the query's final plan has an `InMemoryTableScan` under an
           `Exchange` or a `BroadcastExchange` (a cached frame moved), else 0

Enable the log with the JVM system properties `spark.eventLog.enabled=true`,
`spark.eventLog.compress=false` and `spark.eventLog.dir=file:///some/dir`.

  python3 tools/eventlog_jobs.py /some/dir/eventlog_v2_local-123
  python3 tools/eventlog_jobs.py /some/dir/eventlog_v2_local-123 --batches --skip 3
"""
import argparse
import json
import os
import statistics
import sys

EXCHANGES = ("Exchange", "BroadcastExchange", "ReusedExchange")


def read_events(path):
    """Events of a log file, or of the `events_*` files of a log directory
    (rolled files in index order)."""
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        names.sort(key=lambda n: int(n.split("_")[1]) if n.split("_")[1].isdigit() else 0)
        files = [os.path.join(path, n) for n in names]
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def frame_name(details):
    lines = [ln.strip() for ln in (details or "").split("\n")]
    for prefix in ("graft.", "perfbench."):
        for ln in lines:
            if ln.startswith(prefix):
                return ln
    return "?"


def span_tag(tags):
    for t in tags:
        if t.startswith("pb-"):
            return t
    return ""


def cache_moved(plan):
    """True when some InMemoryTableScan sits under an exchange."""
    def walk(node, under):
        name = node.get("nodeName", "")
        if name == "InMemoryTableScan":
            return under
        under = under or name in EXCHANGES
        return any(walk(c, under) for c in node.get("children", []))
    return plan is not None and walk(plan, False)


def waves(intervals):
    """(number of runs of overlapping intervals, their union's length); a
    job submitted when the previous one ends starts a new run."""
    runs, busy, end = 0, 0, None
    start = None
    for s, e in sorted(intervals):
        if end is None or s >= end:
            if end is not None:
                busy += end - start
            runs, start, end = runs + 1, s, e
        else:
            end = max(end, e)
    if end is not None:
        busy += end - start
    return runs, busy


def load(path):
    app_start = None
    execs = {}   # id -> dict(root, start, end, details, tags, plan)
    jobs = {}    # id -> dict(root, exec, submit, end, tags, details, stages)
    stage_tasks = {}
    for e in read_events(path):
        ev = e.get("Event", "")
        if ev == "SparkListenerApplicationStart":
            app_start = e.get("Timestamp")
        elif ev.endswith("SQLExecutionStart"):
            execs[e["executionId"]] = dict(
                root=e.get("rootExecutionId", e["executionId"]), start=e["time"], end=None,
                details=e.get("details", ""), tags=e.get("jobTags") or [], plan=None,
                write="InsertIntoHadoopFsRelationCommand" in e.get("physicalPlanDescription", ""))
        elif ev.endswith("SQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["plan"] = e.get("sparkPlanInfo")
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = e.get("Stage Infos") or []
            root = props.get("spark.sql.execution.root.id")
            ex = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = dict(
                root=int(root) if root is not None else None,
                exec=int(ex) if ex is not None else None,
                submit=e["Submission Time"], end=None,
                tags=[t for t in props.get("spark.job.tags", "").split(",") if t],
                details=stages[-1].get("Details", "") if stages else "",
                stages=[s["Stage ID"] for s in stages])
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            stage_tasks[e["Stage ID"]] = stage_tasks.get(e["Stage ID"], 0) + 1
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
        j["tasks"] = sum(stage_tasks.get(s, 0) for s in j["stages"])
        ran = [s for s in j["stages"] if s in stage_tasks]
        j["last_tasks"] = stage_tasks[max(ran)] if ran else 0
    if app_start is None:
        app_start = min([j["submit"] for j in jobs.values()] +
                        [x["start"] for x in execs.values()] or [0])
    return app_start, execs, jobs


def groups(execs, jobs):
    """[(key, executions, jobs)] in start order; key = root execution id or
    ('job', id)."""
    out = {}
    for xid, x in execs.items():
        out.setdefault(x["root"], ([], []))[0].append(xid)
    for jid, j in jobs.items():
        key = j["root"] if j["root"] is not None else ("job", jid)
        out.setdefault(key, ([], []))[1].append(jid)

    def start(item):
        xs, js = item[1]
        return min([execs[x]["start"] for x in xs] + [jobs[j]["submit"] for j in js])
    return [(k, sorted(xs), sorted(js)) for k, (xs, js) in sorted(out.items(), key=start)]


def describe(key, xs, js, execs, jobs):
    details = [execs[x]["details"] for x in xs] + [jobs[j]["details"] for j in js]
    name = next((n for n in map(frame_name, details) if n != "?"), "?")
    tags = [t for x in xs for t in execs[x]["tags"]] + [t for j in js for t in jobs[j]["tags"]]
    start = min([execs[x]["start"] for x in xs] + [jobs[j]["submit"] for j in js])
    end = max([execs[x]["end"] or execs[x]["start"] for x in xs] + [jobs[j]["end"] for j in js])
    return dict(name=name, tag=span_tag(tags), start=start, wall=(end - start) / 1000.0,
                jobs=len(js), tasks=sum(jobs[j]["tasks"] for j in js))


def batch_rows(execs, jobs):
    rows = []
    for key, xs, js in groups(execs, jobs):
        children = sorted((x for x in xs if x != key and execs[x]["end"] is not None),
                          key=lambda x: execs[x]["start"])
        if isinstance(key, tuple) or len(children) < 2:
            continue
        # the append is the child that writes files (else the first); the
        # query, the last other child to start
        wid = next((x for x in children if execs[x]["write"]), children[0])
        qid = [x for x in children if x != wid][-1]
        write, query = execs[wid], execs[qid]
        qjobs = [jobs[j] for j in js if jobs[j]["exec"] == qid]
        n_waves, busy = waves([(j["submit"], j["end"]) for j in qjobs])
        first = min((j["submit"] for j in qjobs), default=query["end"])
        last = max(qjobs, key=lambda j: j["submit"], default=None)
        rows.append(dict(
            root=key,
            write_s=(write["end"] - write["start"]) / 1000.0,
            gap_s=(query["start"] - write["end"]) / 1000.0,
            query_s=(query["end"] - query["start"]) / 1000.0,
            pre_s=(first - query["start"]) / 1000.0,
            busy_s=busy / 1000.0,
            jobs=len(js), waves=n_waves,
            tasks=last["last_tasks"] if last else 0,
            moved=int(cache_moved(query["plan"]))))
    return rows


COLUMNS = ("write_s", "gap_s", "query_s", "pre_s", "busy_s", "jobs", "waves", "tasks", "moved")


def fmt(v, seconds):
    return f"{v:.3f}" if seconds else f"{v:g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("eventlog", help="an event log file or eventlog_v2_* directory")
    ap.add_argument("--batches", action="store_true",
                    help="per-micro-batch lines and their medians")
    ap.add_argument("--skip", type=int, default=0,
                    help="leading micro-batches left out of the medians")
    args = ap.parse_args(argv)
    app_start, execs, jobs = load(args.eventlog)
    if not args.batches:
        print(f"{'offset_s':>9} {'wall_s':>7} {'jobs':>4} {'tasks':>5}  tag  name")
        for key, xs, js in groups(execs, jobs):
            d = describe(key, xs, js, execs, jobs)
            print(f"{(d['start'] - app_start) / 1000.0:9.3f} {d['wall']:7.3f} {d['jobs']:4d} "
                  f"{d['tasks']:5d}  {d['tag'] or '-'}  {d['name']}")
        return 0
    rows = batch_rows(execs, jobs)
    print("batch root " + " ".join(f"{c:>7}" for c in COLUMNS))
    for i, r in enumerate(rows):
        print(f"{i:5d} {r['root']:4d} " + " ".join(f"{fmt(r[c], c.endswith('_s')):>7}" for c in COLUMNS))
    steady = rows[args.skip:]
    if not steady:
        print("no micro-batch after the skipped ones")
        return 1
    med = {c: statistics.median(r[c] for r in steady) for c in COLUMNS}
    print(f"median over {len(steady)} micro-batches (skipped {min(args.skip, len(rows))}): " +
          " ".join(f"{c}={fmt(med[c], c.endswith('_s'))}" for c in COLUMNS))
    print(f"micro-batches whose final plan moves a cached frame: "
          f"{sum(r['moved'] for r in steady)}/{len(steady)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
