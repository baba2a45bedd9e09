"""Median and quartile spread of benchmark records, per comparable group.

    python3 perfbench/spread.py [records ...]
    python3 perfbench/spread.py --save perfbench/measured/NAME.jsonl records ...

A record is a ``perfbench/records/*.json`` file written by ``run.py``, or
one line of a ``.jsonl`` summary (the default is every record there plus
every summary under ``perfbench/measured/``). Records are grouped by
workload, trace flag, cpus, inputs, engine source and run length, so records
of another core count are never compared. For each metric it prints the
median, the quartiles (``statistics.quantiles`` with n=4) and the spread:
(Q3 - Q1) / median, the figure BENCHMARK.json's bounds are checked against.

``--save`` writes the given records as one summary line each (everything
but the spans and the per-check details), for committing next to the
figures quoted in README.md.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GROUP_BY = ("workload", "trace", "cpus", "inputs", "source_sha", "seconds")


def load(paths: list[str]) -> list[dict]:
    if not paths:
        paths = sorted(glob.glob(os.path.join(HERE, "records", "*.json")))
        paths += sorted(glob.glob(os.path.join(HERE, "measured", "*.jsonl")))
    records = []
    for path in paths:
        with open(path) as f:
            if path.endswith(".jsonl"):
                records.extend(json.loads(line) for line in f if line.strip())
            else:
                records.append(json.load(f))
    return records


def summary(record: dict) -> dict:
    out = {k: v for k, v in record.items() if k not in ("spans", "checks")}
    out["checks_failed"] = [c["check"] for c in record.get("checks", []) if not c["ok"]]
    return out


def main(argv: list[str]) -> int:
    if argv[:1] == ["--save"]:
        with open(argv[1], "w") as f:
            for r in load(argv[2:]):
                f.write(json.dumps(summary(r)) + "\n")
        return 0
    groups: dict[str, list[dict]] = {}
    for r in load(argv):
        groups.setdefault(json.dumps([r.get(k) for k in GROUP_BY]), []).append(r)
    for key, recs in groups.items():
        steal = [r["steal_pct"] for r in recs if "steal_pct" in r]
        print(f"{dict(zip(GROUP_BY, json.loads(key)))}  runs={len(recs)}"
              + (f"  CPU stolen {min(steal):.1f}-{max(steal):.1f}%" if steal else ""))
        metrics = recs[0]["per_layer"] if recs[0]["trace"] else recs[0]["end_to_end"]
        for name in metrics:
            vals = [r["per_layer" if r["trace"] else "end_to_end"].get(name) for r in recs]
            vals = [v for v in vals if v is not None]
            med = statistics.median(vals)
            if len(vals) < 2:
                print(f"  {name:32s} median {med:.6g}")
                continue
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {name:32s} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
