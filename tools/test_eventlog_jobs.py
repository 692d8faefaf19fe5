#!/usr/bin/env python3
"""Tests for eventlog_jobs.py on a small synthetic Spark event log.

Run from the repo root:  python3 tools/test_eventlog_jobs.py
Exit 0 = every rule behaves.
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import eventlog_jobs as ej  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."
SERVE = ("org.apache.spark.sql.classic.DataStreamWriter.start(DataStreamWriter.scala:137)\n"
         "graft.serve.RecsTable$.streamSeenServe(RecsTable.scala:167)\n"
         "perfbench.Refresh.prepare(Workloads.scala:276)")


def node(name, *children):
    return {"nodeName": name, "simpleString": name, "children": list(children),
            "metadata": {}, "metrics": []}


def exec_start(xid, root, t, details=SERVE, tags=("pb-stream",), writes=False):
    plan = "== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (4)" if writes else ""
    return {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": xid,
            "rootExecutionId": root, "description": "", "details": details,
            "physicalPlanDescription": plan, "sparkPlanInfo": node("X"), "time": t,
            "modifiedConfigs": {}, "jobTags": list(tags), "jobGroupId": None}


def exec_end(xid, t):
    return {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": xid, "time": t,
            "errorMessage": ""}


def final_plan(xid, plan):
    return {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": xid,
            "physicalPlanDescription": "", "sparkPlanInfo": plan}


def job(jid, root, xid, submit, end, stages, tags="pb-stream", details=""):
    """`stages` = [(stage id, tasks run or None when skipped)]."""
    props = {"spark.job.tags": tags}
    if root is not None:
        props.update({"spark.sql.execution.root.id": str(root),
                      "spark.sql.execution.id": str(xid)})
    events = [{"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
               "Stage Infos": [{"Stage ID": s, "Stage Name": "s", "Number of Tasks": n or 1,
                                "Details": details} for s, n in stages],
               "Stage IDs": [s for s, _ in stages], "Properties": props}]
    for s, n in stages:
        events += [{"Event": "SparkListenerTaskEnd", "Stage ID": s}] * (n or 0)
    events.append({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end,
                   "Job Result": {"Result": "JobSucceeded"}})
    return events


def micro_batch(root, t0, jobs, plan, first_job_id, first_stage_id):
    """A foreachBatch micro-batch: root execution, a one-job log write, then
    a query whose jobs run back to back (`jobs` of them, 100 ms each, after
    a 40 ms pre-job gap). The write ends at t0 + 100, the query starts at
    t0 + 150."""
    ev = [exec_start(root, root, t0), exec_start(root + 1, root, t0 + 10, writes=True)]
    ev += job(first_job_id, root, root + 1, t0 + 20, t0 + 90, [(first_stage_id, 1)])
    ev += [exec_end(root + 1, t0 + 100), exec_start(root + 2, root, t0 + 150)]
    t = t0 + 190
    for i in range(jobs):
        last = i == jobs - 1
        ev += job(first_job_id + 1 + i, root, root + 2, t, t + 100,
                  [(first_stage_id + 1 + i, 4 if last else 2)])
        t += 100
    ev += [final_plan(root + 2, plan), exec_end(root + 2, t + 10), exec_end(root, t + 20)]
    return ev


IN_PLACE = node("AdaptiveSparkPlan", node("ShuffledHashJoin",
    node("ShuffleQueryStage", node("Exchange", node("Union"))),
    node("TableCacheQueryStage", node("InMemoryTableScan",
        node("AdaptiveSparkPlan", node("Exchange"))))))
MOVED = node("AdaptiveSparkPlan", node("BroadcastHashJoin",
    node("Scan"),
    node("BroadcastQueryStage", node("BroadcastExchange", node("InMemoryTableScan")))))


def synthetic_log():
    ev = [{"Event": "SparkListenerApplicationStart", "App Name": "t", "Timestamp": 1000}]
    # a job outside any SQL execution (a setup read), then one SQL
    # execution of two jobs
    ev += job(0, None, None, 1500, 1600, [(0, 3)], tags="",
              details="graft.Tables$.load(Tables.scala:30)")
    ev += [exec_start(1, 1, 2000, details="perfbench.Refresh.setup(Workloads.scala:241)",
                      tags=("pb-setup-0",))]
    ev += job(1, 1, 1, 2010, 2100, [(1, 2)], tags="pb-setup-0")
    ev += job(2, 1, 1, 2100, 2200, [(2, 2), (3, None)], tags="pb-setup-0")
    ev += [exec_end(1, 2250)]
    ev += micro_batch(10, 3000, 3, MOVED, 3, 4)
    ev += micro_batch(20, 4000, 2, IN_PLACE, 7, 8)
    ev += micro_batch(30, 5000, 2, IN_PLACE, 10, 11)
    return ev


class EventLogJobs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        cls.logdir = os.path.join(cls.dir.name, "eventlog_v2_local-1")
        os.mkdir(cls.logdir)
        events = synthetic_log()
        half = len(events) // 2
        # a rolled log: two files, read in index order
        for i, part in ((1, events[:half]), (2, events[half:])):
            with open(os.path.join(cls.logdir, f"events_{i}_local-1"), "w") as f:
                f.write("\n".join(json.dumps(e) for e in part) + "\n")

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def run_tool(self, *args):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = ej.main([self.logdir, *args])
        return code, out.getvalue().splitlines()

    def test_groups_by_root_execution_with_name_and_tag(self):
        app_start, execs, jobs = ej.load(self.logdir)
        self.assertEqual(app_start, 1000)
        groups = ej.groups(execs, jobs)
        self.assertEqual([k for k, _, _ in groups], [("job", 0), 1, 10, 20, 30])
        d = ej.describe(*groups[1], execs, jobs)
        self.assertEqual((d["name"], d["tag"], d["jobs"], d["tasks"]),
                         ("perfbench.Refresh.setup(Workloads.scala:241)", "pb-setup-0", 2, 4))
        self.assertAlmostEqual(d["wall"], 0.25)
        outside = ej.describe(*groups[0], execs, jobs)
        self.assertEqual((outside["name"], outside["tag"], outside["jobs"]),
                         ("graft.Tables$.load(Tables.scala:30)", "", 1))
        batch = ej.describe(*groups[2], execs, jobs)
        self.assertEqual((batch["name"], batch["tag"], batch["jobs"]),
                         ("graft.serve.RecsTable$.streamSeenServe(RecsTable.scala:167)",
                          "pb-stream", 4))

    def test_group_lines(self):
        code, lines = self.run_tool()
        self.assertEqual(code, 0)
        self.assertEqual(len(lines), 6)
        self.assertEqual(lines[2].split(), ["1.000", "0.250", "2", "4", "pb-setup-0",
                                            "perfbench.Refresh.setup(Workloads.scala:241)"])

    def test_batch_rows(self):
        _, execs, jobs = ej.load(self.logdir)
        rows = ej.batch_rows(execs, jobs)
        self.assertEqual([r["root"] for r in rows], [10, 20, 30])
        first = rows[0]
        self.assertAlmostEqual(first["write_s"], 0.09)
        self.assertAlmostEqual(first["gap_s"], 0.05)
        self.assertAlmostEqual(first["pre_s"], 0.04)
        self.assertAlmostEqual(first["busy_s"], 0.3)
        self.assertAlmostEqual(first["query_s"], 0.35)
        # back-to-back jobs touch but do not overlap: each is its own wave
        self.assertEqual((first["jobs"], first["waves"], first["tasks"], first["moved"]),
                         (4, 3, 4, 1))
        self.assertEqual([(r["jobs"], r["moved"]) for r in rows[1:]], [(3, 0), (3, 0)])

    def test_medians_skip_leading_batches(self):
        code, lines = self.run_tool("--batches", "--skip", "1")
        self.assertEqual(code, 0)
        self.assertIn("median over 2 micro-batches (skipped 1)", lines[-2])
        self.assertIn("jobs=3 waves=2 tasks=4 moved=0", lines[-2])
        self.assertEqual(lines[-1], "micro-batches whose final plan moves a cached frame: 0/2")
        _, lines = self.run_tool("--batches")
        self.assertIn("jobs=3 ", lines[-2])
        self.assertEqual(lines[-1], "micro-batches whose final plan moves a cached frame: 1/3")

    def test_an_append_started_after_the_query_is_still_the_write(self):
        ev = [exec_start(1, 1, 0), exec_start(3, 1, 5), exec_start(2, 1, 8, writes=True)]
        ev += job(0, 1, 3, 30, 130, [(0, 4)])
        ev += job(1, 1, 2, 20, 90, [(1, 1)])
        ev += [exec_end(2, 100), exec_end(3, 140), exec_end(1, 150)]
        path = os.path.join(self.dir.name, "overlap.log")
        with open(path, "w") as f:
            f.write("\n".join(json.dumps(e) for e in ev) + "\n")
        rows = ej.batch_rows(*ej.load(path)[1:])
        self.assertEqual(len(rows), 1)
        r = rows[0]
        self.assertAlmostEqual(r["write_s"], 0.092)
        self.assertAlmostEqual(r["gap_s"], -0.095)
        self.assertAlmostEqual(r["query_s"], 0.135)
        self.assertAlmostEqual(r["pre_s"], 0.025)
        self.assertEqual((r["jobs"], r["waves"], r["tasks"]), (2, 1, 4))

    def test_overlapping_jobs_are_one_wave(self):
        self.assertEqual(ej.waves([(0, 10), (5, 20), (30, 40)]), (2, 30))
        self.assertEqual(ej.waves([]), (0, 0))

    def test_cached_scan_under_exchange(self):
        self.assertTrue(ej.cache_moved(MOVED))
        self.assertFalse(ej.cache_moved(IN_PLACE))
        self.assertFalse(ej.cache_moved(None))


if __name__ == "__main__":
    unittest.main()
