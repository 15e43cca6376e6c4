"""Compare two perfbench result records, like for like.

Usage::

    python3 perfbench/compare.py BASE.json NEW.json

The records are the ``result-*.json`` files a run writes under
``perfbench/.work/out/``.  The pair is refused (exit status 3) when the
workloads, the core counts or the inputs differ: a 4-core time divided
by a 32-core time, or a time on other data, says nothing about a change.
Otherwise each end-to-end metric is printed with its ratio, flagged when
it is worse than the bound ``BENCHMARK.json`` sets for it.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def mismatches(base: dict, new: dict) -> list[str]:
    out = []
    for what, get in (
        ("workload", lambda r: r["workload"]),
        ("nproc", lambda r: r["host"]["nproc"]),
        ("SPARK_GRAFT_CPUS", lambda r: r["host"]["spark_graft_cpus"]),
        ("inputs", lambda r: r["detail"].get("inputs")),
    ):
        if get(base) != get(new):
            out.append(f"{what} differs: {get(base)!r} vs {get(new)!r}")
    return out


def compare(base: dict, new: dict, spec: dict) -> list[str]:
    lines = []
    for m in spec["end_to_end"]:
        name = m["name"]
        b, n = base["end_to_end"][name], new["end_to_end"][name]
        ratio = n / b
        worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
        flag = "  WORSE THAN BOUND" if worse > m["bound"] else ""
        lines.append(f"{name:16s} {b:12.4f} -> {n:12.4f} {m['unit']:7s} x{ratio:.3f}{flag}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = mismatches(base, new)
    if bad:
        print("refused: not like for like\n  " + "\n  ".join(bad), file=sys.stderr)
        return 3
    print("\n".join(compare(base, new, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
