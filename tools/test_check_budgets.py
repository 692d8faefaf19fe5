#!/usr/bin/env python3
"""Tests for check_budgets.py on synthetic source trees: a budget-named
literal outside Budgets.scala fails the lint, whether it is a parameter
default or a gate hidden in a `val`; Budgets.scala itself, a val that
reads a gate, a named argument, a large non-budget default and the listed
non-gate literals pass.

Run from the repo root:  python3 tools/test_check_budgets.py
Exit 0 = every case behaves; exit 1 = the lint regressed.
"""
import os
import subprocess
import sys
import tempfile

LINT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_budgets.py")


def run_case(name, files, expect_exit, expect_substr=None):
    with tempfile.TemporaryDirectory() as root:
        for rel, text in files.items():
            path = os.path.join(root, "src", "main", "scala", "graft", rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(text)
        p = subprocess.run([sys.executable, LINT, root], capture_output=True, text=True)
        out = p.stdout + p.stderr
        ok = p.returncode == expect_exit and (expect_substr is None or expect_substr in out)
        print(f"{'ok  ' if ok else 'FAIL'} {name}: exit {p.returncode} (want {expect_exit})")
        if not ok:
            print("  " + out.replace("\n", "\n  "))
        return ok


CLEAN = {
    "operators/Budgets.scala":
        "final case class Budgets(walkEdges: Long = 16000000L, knnMinQueries: Int = 1024)\n",
    "graph/Walks.scala":
        "object Walks {\n"
        "  def walks(edges: Long, trainEndUs: Long = 946684800000000L): Long = {\n"
        "    val maxEdges = Budgets.get.walkEdges\n"
        "    if (edges <= maxEdges) serve(edges, minFusedUsers = 1L) else edges\n"
        "  }\n"
        "}\n",
    "Bench.scala":
        "object Bench {\n"
        "  val qBudget = 880\n"
        "  val floorBudget = 300\n"
        "}\n",
}

PARAM_HIT = dict(CLEAN)
PARAM_HIT["graph/Triangles.scala"] = (
    "object Triangles {\n"
    "  def perNode(edges: Long,\n"
    "      edgeLimit: Long = 8000000L): Long = edges\n"
    "}\n")

VAL_HIT = dict(CLEAN)
VAL_HIT["graph/Triangles.scala"] = (
    "object Triangles {\n"
    "  private val maxEdges = 8000000L\n"
    "  def perNode(edges: Long): Long = if (edges <= maxEdges) edges else 0L\n"
    "}\n")


def main():
    results = [
        run_case("miss: Budgets.scala, gate reads, named args, non-gates", CLEAN, 0, "ok:"),
        run_case("hit: a budget-named parameter default", PARAM_HIT, 1,
                 "graph/Triangles.scala:3:"),
        run_case("hit: a gate hidden in a val", VAL_HIT, 1,
                 "graph/Triangles.scala:2:"),
    ]
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
