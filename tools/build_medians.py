#!/usr/bin/env python3
"""Build a BENCH_MEDIANS_*.json artifact from bench pass artifacts.

Usage: python3 tools/build_medians.py out.json pass1.json pass2.json ...
Each pass file is Bench's one-line JSON (target/bench.json). The output
matches the r16 medians artifact shape: per-query {median, min, max} over
the passes' min-of-2 numbers, plus the pass totals. The scale factor and
Spark master come from the passes themselves; passes that disagree on
either (or lack it) are refused with a non-zero exit naming the field.
"""
import json
import statistics
import sys


def common(runs: list, field: str) -> str:
    """The one value every pass records for `field`; exits otherwise."""
    values = {r.get(field) for r in runs}
    if len(values) != 1 or None in values:
        sys.exit(f"build_medians: passes disagree on '{field}': "
                 f"{sorted(map(str, values))}")
    return values.pop()


def main() -> None:
    out, *passes = sys.argv[1:]
    runs = [json.load(open(p)) for p in passes]
    sf = common(runs, "sf")
    master = common(runs, "master")
    names = sorted(runs[0]["queries"])
    queries = {}
    for n in names:
        vals = [r["queries"][n] for r in runs]
        queries[n] = {
            "median": round(statistics.median(vals), 3),
            "min": round(min(vals), 3),
            "max": round(max(vals), 3),
        }
    doc = {
        "note": f"{len(runs)} interleaved passes over {sf} on {master}; "
                "per-query stats over Bench's min-of-2 numbers",
        "sf": sf,
        "master": master,
        "passes": len(runs),
        "failed": sorted({f for r in runs for f in r["failed"]}),
        "totals": [round(r["value"], 2) for r in runs],
        "queries": queries,
    }
    json.dump(doc, open(out, "w"), indent=1, sort_keys=False)
    print("totals:", doc["totals"])


if __name__ == "__main__":
    main()
