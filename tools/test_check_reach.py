#!/usr/bin/env python3
"""Tests for check_reach.py on synthetic source trees: a public def that
only a spec calls, or that main names only in a comment, fails the lint;
a name SURVEY's capability table gives as where a row lives, a name
another main file calls (a `//` inside a string literal is no comment), a
private def and a KEEP name pass.

Run from the repo root:  python3 tools/test_check_reach.py
Exit 0 = every case behaves; exit 1 = the lint regressed.
"""
import os
import subprocess
import sys
import tempfile

LINT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_reach.py")

SURVEY = (
    "## 8. Coverage status\n\n"
    "| Row | Where | Verified |\n"
    "|---|---|---|\n"
    "| S11 JSON sink | `RecsTable.writeJson` | spec RecsTableSpec |\n"
    "\nProse after the table: `Sinks.writeCsv` is not a capability row.\n")


def run_case(name, files, expect_exit, expect_substr=None):
    with tempfile.TemporaryDirectory() as root:
        for rel, text in files.items():
            path = os.path.join(root, rel)
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


MAIN = "src/main/scala/graft/"

CLEAN = {
    "SURVEY.md": SURVEY,
    MAIN + "serve/RecsTable.scala":
        "object RecsTable {\n"
        "  def assemble(n: Int): Int = Sinks.rows(n)\n"
        "  def writeJson(path: String): Unit = ()\n"
        "  private def helper(n: Int): Int = n\n"
        "}\n",
    MAIN + "serve/Sinks.scala":
        "/** Pair with [[Sinks.compact]] on the log's cadence. */\n"
        "object Sinks {\n"
        "  def rows(n: Int): Int = n\n"
        "  def compact(dir: String): Unit = ()\n"
        "}\n",
    MAIN + "Verify.scala":
        "object Verify {\n"
        "  def main(args: Array[String]): Unit = {\n"
        "    RecsTable.assemble(1); val log = \"s3://bucket/log\"; Sinks.compact(log)\n"
        "  }\n"
        "}\n",
    MAIN + "Explain.scala":
        "object Explain {\n"
        "  def main(args: Array[String]): Unit = Verify.main(args)\n"
        "}\n",
    "perfbench/src/main/scala/perfbench/Main.scala":
        "object Main { def go(): Unit = Verify.main(Array.empty) }\n",
}

SPEC_ONLY_HIT = dict(CLEAN)
SPEC_ONLY_HIT[MAIN + "serve/Sinks.scala"] = CLEAN[MAIN + "serve/Sinks.scala"].replace(
    "  def compact(dir: String): Unit = ()\n",
    "  def compact(dir: String): Unit = ()\n"
    "  def writeCsv(path: String): Unit = ()\n")
SPEC_ONLY_HIT["src/test/scala/graft/serve/SinksSpec.scala"] = (
    "class SinksSpec { Sinks.writeCsv(\"out\") }\n")

COMMENT_ONLY_HIT = dict(CLEAN)
COMMENT_ONLY_HIT[MAIN + "Verify.scala"] = CLEAN[MAIN + "Verify.scala"].replace(
    "Sinks.compact(log)", "/* Sinks.compact(log) */ // Sinks.compact")

CASES = [
    ("clean tree: called, table-named, private and KEEP names pass",
     CLEAN, 0, "ok:"),
    ("a def main names only in comments is a hit",
     COMMENT_ONLY_HIT, 1, "src/main/scala/graft/serve/Sinks.scala:4: compact"),
    ("a def only its spec calls is a hit (prose outside the table does not exempt it)",
     SPEC_ONLY_HIT, 1, "src/main/scala/graft/serve/Sinks.scala:5: writeCsv"),
]


def main():
    results = [run_case(*c) for c in CASES]
    # the capability-table name is the only thing keeping writeJson: drop the
    # row and the same tree fails on it, so the pass above is the table's doing
    no_row = dict(CLEAN)
    no_row["SURVEY.md"] = SURVEY.replace("`RecsTable.writeJson`", "n/a")
    results.append(run_case("without its table row, writeJson is a hit",
                            no_row, 1, "writeJson"))
    if not all(results):
        print(f"{results.count(False)} case(s) failed")
        return 1
    print(f"all {len(results)} cases pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
