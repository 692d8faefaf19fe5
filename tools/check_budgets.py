#!/usr/bin/env python3
"""Regime-gate lint: every budget lives in graft.operators.Budgets.

Fails when a budget-shaped name in src/main (outside Budgets.scala) is
bound to a numeric literal, as a parameter default (`edgeLimit: Long =
8000000L`) or as a `val`/`var` (`val maxEdges = 16000000L`). Budget-shaped
names are the ones the engine's gates went by: `*Limit`, `*Budget`,
`maxEdges`, `maxNodes`, `maxModelRows`, `minFused*`, `autoSwitchDistinct`,
`embedParts`. Such a binding is a regime gate held outside Budgets; add
it to Budgets instead. Reading a gate (`val maxEdges = Budgets.get.walkEdges`)
and passing a named argument (`minFusedUsers = 1`) are not bindings of a
literal and pass.

NOT_GATES lists the budget-named literals that bound something other than
a plan choice; each entry says what it bounds.

Usage (from the repo root, or pass the root):
    python3 tools/check_budgets.py [repo_root]
Exit 0 = clean; exit 1 = hits, one `path:line: text` per hit.
"""
import os
import re
import sys

NAME = (r"(?:\w*Limit|\w*Budget|maxEdges|maxNodes|maxModelRows|minFused\w*"
        r"|[aA]utoSwitchDistinct|embedParts)")
TYPE = r"(?::\s*[\w\[\]]+\s*)"
BINDING = re.compile(
    rf"(?:\b(?:val|var)\s+({NAME})\b\s*{TYPE}?|(?<![\w.])({NAME})\s*{TYPE})"
    r"=\s*[-+]?\d")
EXEMPT = "Budgets.scala"
NOT_GATES = {
    # character budgets of the one stdout JSON line Bench prints
    ("src/main/scala/graft/Bench.scala", "qBudget"),
    ("src/main/scala/graft/Bench.scala", "floorBudget"),
}


def hits(root):
    out = []
    main = os.path.join(root, "src", "main")
    for d, _, files in os.walk(main):
        for name in sorted(files):
            if not name.endswith(".scala") or name == EXEMPT:
                continue
            path = os.path.join(d, name)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                for n, line in enumerate(f, 1):
                    names = {m.group(1) or m.group(2) for m in BINDING.finditer(line)}
                    if any((rel, v) not in NOT_GATES for v in names):
                        out.append(f"{rel}:{n}: {line.strip()}")
    return out


def main(argv):
    root = argv[1] if len(argv) > 1 else "."
    found = hits(root)
    for h in found:
        print(h)
    if found:
        print(f"{len(found)} budget literal(s) outside {EXEMPT}: "
              "move them to graft.operators.Budgets", file=sys.stderr)
        return 1
    print(f"ok: no budget literals outside {EXEMPT}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
