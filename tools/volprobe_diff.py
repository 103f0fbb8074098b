#!/usr/bin/env python3
"""Compare two graft.VolumeProbe artifacts entry by entry.

Usage: tools/volprobe_diff.py A.json B.json

For every entry (the artifact's "queries" object) it compares:
  - the entry sets of the two artifacts, and `all_pass`;
  - each entry's key set;
  - every `gate_*` flag and `pass`;
  - every integer count field.
Timing context (`wall_*`, `cpu_*`) and the ratio fields (`*_ratio`,
`result_growth`) are skipped: wall and CPU move with the host, and a
ratio follows from the counts it divides.

Prints each difference and a summary line. Exits 1 if there is any.
"""
import json
import sys

_SKIPPED_PREFIXES = ("wall_", "cpu_")
_SKIPPED_FIELDS = ("result_growth",)


def _skipped(key):
    return (key.startswith(_SKIPPED_PREFIXES) or key.endswith("_ratio")
            or key in _SKIPPED_FIELDS)


def _compared(key, value):
    """A gate flag, `pass`, or an integer count."""
    if key.startswith("gate_") or key == "pass":
        return True
    return isinstance(value, int) and not isinstance(value, bool)


def diff(a, b):
    """The differences between artifacts `a` and `b`, one line each."""
    out = []
    qa, qb = a.get("queries", {}), b.get("queries", {})
    for name in sorted(set(qa) - set(qb)):
        out.append(f"{name}: only in A")
    for name in sorted(set(qb) - set(qa)):
        out.append(f"{name}: only in B")
    if a.get("all_pass") != b.get("all_pass"):
        out.append(f"all_pass: {a.get('all_pass')} != {b.get('all_pass')}")
    for name in sorted(set(qa) & set(qb)):
        ea, eb = qa[name], qb[name]
        for key in sorted(set(ea) - set(eb)):
            out.append(f"{name}.{key}: only in A")
        for key in sorted(set(eb) - set(ea)):
            out.append(f"{name}.{key}: only in B")
        for key in sorted(set(ea) & set(eb)):
            va, vb = ea[key], eb[key]
            if _skipped(key) or not (_compared(key, va) or _compared(key, vb)):
                continue
            if va != vb:
                out.append(f"{name}.{key}: {va} != {vb}")
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    with open(argv[1], encoding="utf-8") as f:
        a = json.load(f)
    with open(argv[2], encoding="utf-8") as f:
        b = json.load(f)
    lines = diff(a, b)
    for line in lines:
        print(line)
    entries = set(a.get("queries", {})) | set(b.get("queries", {}))
    differing = {line.split(".")[0].split(":")[0] for line in lines} & entries
    print(f"{len(lines)} differences in {len(differing)} of {len(entries)} entries")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
