"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the full-result lines ``run.py`` prints (``{"result":
...}``, the line before the last); other lines are skipped. Prints, per
workload and metric, both medians and the change as a share of the base
median. Exits 2 without comparing when the exec stamps differ on core
count, master, default parallelism or driver heap, or the results on the
input directory or on tracing.
"""

from __future__ import annotations

import json
import sys

from stats import ExecMismatch, compare_results


def load(path: str) -> list[dict]:
    out = []
    with open(path) as fh:
        for line in fh:
            try:
                doc = json.loads(line)
            except ValueError:
                continue
            if isinstance(doc, dict) and "result" in doc:
                out.append(doc["result"])
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        table = compare_results(load(argv[0]), load(argv[1]))
    except ExecMismatch as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 2
    for wl, rows in table.items():
        for metric, r in rows.items():
            change = "n/a" if r["change"] is None else f"{100 * r['change']:+.1f}%"
            print(f"{wl:24s} {metric:36s} {r['base']:14.4f} {r['new']:14.4f} {change}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
