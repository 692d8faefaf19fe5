#!/usr/bin/env python3
"""Reach lint: every public name in src/main is reached by other main code.

Fails on a public `object`, `class` or `def` declared at the top level of
a src/main Scala file or directly in a top-level template (an object's or
a class's members), whose name occurs in src/main and perfbench/src only
at its own declaration. Such a name is reached by its own specs or by
nothing: no query, `Verify`, `Bench` or perfbench calls it. Delete it
with the spec cases that test only it, or move it into the spec that uses
it as a reference form.

An occurrence is any whole-word match in the source text with its `//`
and `/* */` comments stripped (string literals kept), so a doc comment
that names an operator does not keep it. Private, protected and
`override` declarations are skipped: the first two are not public, the
last is reached through its supertype.

Exempt are the names SURVEY.md's reference-capability table gives as
where a row lives (rows S1-F14 and 2.9-2.11, the backticked spans of
each row), and the names in KEEP below, each with the reason it stays.

Usage (from the repo root, or pass the root):
    python3 tools/check_reach.py [repo_root]
Exit 0 = clean; exit 1 = hits, one `path:line: name` per hit.
"""
import os
import re
import sys

KEEP = {
    # entry points, run by name rather than called
    "Bench": "driver entry point (`runMain graft.Bench`)",
    "Verify": "driver entry point (`runMain graft.Verify`)",
    "Explain": "README entry point (`runMain graft.Explain`)",
    # spark.ml Params accessors: the Estimator/Model API callers set by name
    "getInputCols": "spark.ml Params getter (CategorifyEstimator)",
    "setDictDir": "spark.ml Params setter (CategorifyEstimator)",
    "setFillValue": "spark.ml Params setter (FillMissing)",
    "getInputCol": "spark.ml Params getter (ZScoreEstimator)",
    # capability-table rows whose members the table does not spell out
    "addTags": "SURVEY F6: the AddMetadata tags",
    "selectByTag": "SURVEY F6: select_by_tag",
    "recommendDecoded": "SURVEY F9/J5: ALS recs decoded to natural keys",
    "stubEncoder": "SURVEY F14: the stand-in for the external encoder",
    "writeBucketed": "SURVEY S7: the bucketed parquet sink",
    "readBucketed": "SURVEY S7: the bucketed parquet source",
    # named outside the capability table: SURVEY's extension list or ROADMAP
    "sessionize": "SURVEY 2.10: the streaming sessionizer whose merge "
                  "semantics sessionizeBatch (q28) replays; EventStreamSpec "
                  "checks batch against streaming",
    "streamRefresh": "ROADMAP direction 4 step 3: the co-occurrence streaming "
                     "refresh that gets the per-query history treatment",
    "semiJoin": "SURVEY 8 extensions: the semi half of the Bloom-prefiltered "
                "exact anti/semi join (BloomPrefilterSpec exactness cases)",
    "accepted": "SURVEY 8: Quality mirrors the reference's dbt schema tests; "
                "accepted_values is one of them (schema.yml:8-18)",
    "quarantine": "SURVEY 8: the dbt-test split of failing rows that Jsonl's "
                  "PERMISSIVE reader pairs with",
    "upsert": "SURVEY 8 incremental maintenance: type-1 MERGE, replayed by "
              "DuckDB in ScdSpec",
    "fitResidual": "SURVEY 8 IVFADC: the textbook residual form IvfPqSpec "
                   "checks beside the raw-code index",
    "indexResidual": "SURVEY 8 IVFADC: residual-form index (see fitResidual)",
    "topKResidual": "SURVEY 8 IVFADC: residual-form search (see fitResidual)",
}

DECL = re.compile(
    r"^( {0,2})((?:(?:final|sealed|abstract|case|implicit|override|lazy"
    r"|private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)"
    r"(object|class|def)\s+([A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")
TABLE_ROW = re.compile(r"^\| (?:[SPJAWOUF]\d+|§2\.(?:9|10|11))\b")


CHAR_LITERAL = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")


def strip_comments(text):
    """`text` with its `//` and (nested) `/* */` comments blanked out.

    String and char literals are copied as they are, so a `//` inside a
    string is not a comment; newlines survive, so line numbers hold."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
        elif text.startswith("/*", i):
            depth, j = 0, i
            while j < n:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                    if depth == 0:
                        break
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", text[i:j]))
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(text[i:j])
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(text[i:j])
        elif CHAR_LITERAL.match(text, i):
            j = CHAR_LITERAL.match(text, i).end()
            out.append(text[i:j])
        else:
            j = i + 1
            out.append(text[i])
        i = j
    return "".join(out)


def scala_files(root, sub):
    for d, _, files in os.walk(os.path.join(root, sub)):
        for name in sorted(files):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def table_names(root):
    """Identifiers in the backticked spans of SURVEY.md's capability table."""
    path = os.path.join(root, "SURVEY.md")
    if not os.path.exists(path):
        return set()
    names = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            if TABLE_ROW.match(line):
                for span in re.findall(r"`([^`]*)`", line):
                    names.update(IDENT.findall(span))
    return names


def hits(root):
    counts, decls = {}, []
    for sub in ("src/main", "perfbench/src"):
        for path in scala_files(root, sub):
            with open(path, encoding="utf-8") as f:
                text = strip_comments(f.read())
            for tok in IDENT.findall(text):
                counts[tok] = counts.get(tok, 0) + 1
            if sub != "src/main":
                continue
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            for n, line in enumerate(text.split("\n"), 1):
                m = DECL.match(line)
                if m and not re.search(r"\b(?:private|protected|override)\b", m.group(2)):
                    decls.append((rel, n, m.group(4)))
    exempt = table_names(root) | set(KEEP)
    return [f"{rel}:{n}: {name}" for rel, n, name in decls
            if counts.get(name, 0) <= 1 and name not in exempt]


def main(argv):
    root = argv[1] if len(argv) > 1 else "."
    found = hits(root)
    for h in found:
        print(h)
    if found:
        print(f"{len(found)} public name(s) in src/main reached by no other main "
              "code: delete them, move them into the spec that uses them, or "
              "give them a KEEP reason", file=sys.stderr)
        return 1
    print("ok: every public name in src/main is reached")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
