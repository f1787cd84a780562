"""Gate-coverage report: which registry entries have driver evidence,
from the CORRECTNESS_r*.json history — the window-planning tool for
rotating never-checked gates into the driver's first-50 slots.

Usage: PYTHONPATH=. python tools/gate_coverage.py
"""

from __future__ import annotations

import glob
import json


def main() -> None:
    import __spark_entry__ as e

    names = list(e.queries())
    history: dict[str, dict[str, str]] = {}
    for f in sorted(glob.glob("CORRECTNESS_r*.json")):
        rnd = f.split("CORRECTNESS_")[1].split(".")[0]
        for name, row in json.load(open(f)).items():
            if row.get("hash_match"):
                st = "green"
            elif row.get("err"):
                st = "err"
            elif row.get("rows_match"):
                st = "rows"
            else:
                st = "FAIL"
            history.setdefault(name, {})[rnd] = st

    ever_green = {n for n, h in history.items() if "green" in h.values()}
    never = [n for n in names if n not in history]
    in_window = set(names[:50])
    print(f"registry: {len(names)} gates, each with a value oracle")
    print(f"ever driver-hash-green: {len(ever_green)}")
    print(f"never driver-checked:   {len(never)} "
          f"({sum(1 for n in never if n in in_window)} in the current "
          "first-50 window)")
    stale = [n for n in names if history.get(n) and n not in ever_green]
    if stale:
        print("checked but never green:")
        for n in stale:
            print(f"  {n}: {history[n]}")
    print("\nnever-checked, OUTSIDE the current window (rotation "
          "candidates for the next round):")
    for n in never:
        if n not in in_window:
            print(f"  {n}")


if __name__ == "__main__":
    main()
