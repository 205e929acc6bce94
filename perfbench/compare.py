#!/usr/bin/env python3
"""Compare two benchmark records.

    python3 perfbench/compare.py BASE.json NEW.json

Records are the files ``run.py`` writes under ``.perfbench_out/``.
Records taken on hosts with a different CPU count are not comparable
(per-op fixed costs scale with the core count): the comparison is
refused with exit code 2.  Otherwise prints, per metric, both values
and NEW/BASE.
"""

from __future__ import annotations

import json
import sys


def compare(base: dict, new: dict) -> list[str]:
    if base["host"]["cpus"] != new["host"]["cpus"]:
        raise ValueError(
            f"records are from hosts with {base['host']['cpus']} and {new['host']['cpus']} cpus; not comparable"
        )
    if (base["workload"], base["trace"]) != (new["workload"], new["trace"]):
        raise ValueError("records are of different workloads or trace modes")
    lines = []
    for name, b in base["metrics"].items():
        n = new["metrics"].get(name)
        if n is None:
            continue
        ratio = n["value"] / b["value"] if b["value"] else float("nan")
        lines.append(f"{name:48s} {b['value']:14.6g} {n['value']:14.6g} {ratio:8.3f} {b['unit']}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    try:
        lines = compare(base, new)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    print(f"{'metric':48s} {'base':>14s} {'new':>14s} {'new/base':>8s}")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
