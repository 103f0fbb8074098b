#!/usr/bin/env python3
"""Compare two PLANS.md dumps section by section, ignoring run-local ids.

Usage: tools/plans_diff.py OLD NEW

Each file is split on its `## <query>` headers. Before comparing, every
section is normalized so that two dumps of the same plans compare equal
across JVM runs:
  - expression ids (`#123`);
  - `plan_id=123`;
  - lambda class addresses (`Lambda$12/0x0000...@1a2b3c`) and the
    identity hashes of anonymous objects (`Reducers$$anon$1@47935bc5`);
  - fresh lambda-variable suffixes (`x_12`, `y_13`);
  - catalog-table locations: an absolute one under `spark-warehouse/`
    names the checkout directory (and is truncated at a length that
    depends on it); `graft.Inspect plans` prints `[<warehouse>/<table>]`
    instead. Both become `[<warehouse>]`; the table itself stays visible
    in the `FileScan` name;
  - fixture-file locations: an absolute one (`[file:/.../sf0.1/x.parquet]`)
    names the fixture directory; `graft.Inspect plans` prints
    `[<sf>/x.parquet]` instead. Both become `[<sf>/x.parquet]`.

Prints a unified diff for each section that differs, plus sections present
in only one file, and a summary line. Exits 1 if any section differs.
"""
import difflib
import re
import sys

_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-fA-F]+@[0-9a-fA-F]+"), "Lambda$N"),
    (re.compile(r"\$\$Lambda/0x[0-9a-fA-F]+@[0-9a-fA-F]+"), "$$Lambda"),
    (re.compile(r"(\$anon\$\d+)@[0-9a-fA-F]+"), r"\1@H"),
    (re.compile(r"\b([a-z])_\d+\b"), r"\1_N"),
    (re.compile(r"\[file:\S*?/spark-warehouse/[^\]]*?(?:\]|\.\.\.)"), "[<warehouse>]"),
    (re.compile(r"\[<warehouse>/[^\]]*\]"), "[<warehouse>]"),
    (re.compile(r"\[file:[^\]]*/([^/\]]+\.parquet)\]"), r"[<sf>/\1]"),
]


def normalize(text):
    for pattern, repl in _NORMALIZE:
        text = pattern.sub(repl, text)
    return text


def sections(path):
    """{header: normalized body lines}, in file order."""
    out, name, body = {}, None, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                if name is not None:
                    out[name] = body
                name, body = line[3:].strip(), []
            elif name is not None:
                body.append(normalize(line))
    if name is not None:
        out[name] = body
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    old, new = sections(argv[1]), sections(argv[2])
    differing = 0
    for name in sorted(set(old) | set(new)):
        if name not in old or name not in new:
            differing += 1
            print(f"## {name}: only in {argv[1] if name in old else argv[2]}")
            continue
        if old[name] != new[name]:
            differing += 1
            print(f"## {name}")
            sys.stdout.writelines(difflib.unified_diff(
                old[name], new[name], f"{argv[1]}#{name}", f"{argv[2]}#{name}"))
    total = len(set(old) | set(new))
    print(f"{differing} of {total} sections differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
