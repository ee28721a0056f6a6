#!/usr/bin/env python3
"""Write expected.json from the outputs that benchmark runs observed.

    python3 perfbench/record_expected.py perfbench/.work/last/*/outputs-seed*.json

Each run.py invocation leaves .work/last/<workload>/outputs-seed<N>.json
with every query's row count and fingerprint, one entry per pass. A
query whose hash agrees across all observations is checked by hash; one
whose row count agrees but whose hash varies is listed in `rows_only`
and checked by row count; a query whose row count varies, or that threw,
is an error and nothing is written. Record only from runs of code whose
outputs passed the DuckDB oracle (README.md, "Expected outputs").
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def merge(observations):
    seen = {}
    for o in observations:
        if o.get("error"):
            raise ValueError("%s threw: %s" % (o["name"], o["error"]))
        seen.setdefault(o["name"], set()).add((o["rows"], o["hash"]))
    queries, rows_only = {}, []
    for name, vals in sorted(seen.items()):
        rows = {r for r, _ in vals}
        if len(rows) != 1:
            raise ValueError("%s row count varies: %s" % (name, sorted(rows)))
        queries[name] = {"rows": rows.pop()}
        if len(vals) > 1:
            rows_only.append(name)
        else:
            queries[name]["hash"] = vals.pop()[1]
    return {"queries": queries, "rows_only": rows_only}


def main(paths):
    obs = []
    for p in paths:
        with open(p) as fh:
            obs.extend(json.load(fh))
    out = merge(obs)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("%d queries, %d checked by row count only: %s"
          % (len(out["queries"]), len(out["rows_only"]),
             ", ".join(out["rows_only"]) or "none"))


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except ValueError as e:
        sys.exit("record_expected: %s" % e)
