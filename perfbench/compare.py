"""Compare the metrics of two run records written by ``run.py``
(``.perfbench_work/results/<workload>-s<seed>-t<trace>.json``):

    python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit 2) when the records come from different workloads, tracing
modes or core counts: a number recorded on ``local[32]`` says nothing about
one recorded on ``local[4]``.
"""

from __future__ import annotations

import json
import sys


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (_load(p) for p in argv)
    for key, a, b in (
        ("workload", base["workload"], new["workload"]),
        ("trace", base["trace"], new["trace"]),
        ("host.cpus", base["host"]["cpus"], new["host"]["cpus"]),
    ):
        if a != b:
            print(f"refusing to compare: {key} {a} != {b}", file=sys.stderr)
            return 2
    for name, m in base["metrics"].items():
        b, n = m["value"], new["metrics"].get(name, {}).get("value")
        ratio = f"{n / b:.3f}x" if n is not None and b else "-"
        print(f"{name:48s} {b:14.4f} {n if n is not None else float('nan'):14.4f} {ratio} [{m['unit']}]")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
