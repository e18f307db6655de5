#!/usr/bin/env python3
"""Compare two sets of benchmark result files, per workload and metric.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Each side is a list of result files (or directories of them) written
by ``run.py``. For every workload and every end-to-end metric of
BENCHMARK.json it prints both medians, the relative change, the base
side's run-to-run spread (quartile distance over median) and a
verdict against the metric's bound:

- ``worse``      the new median is worse than the base by more than the bound;
- ``unresolved`` the spread on either side is wider than the bound, and
                 not every new run beats every base run;
- ``better`` / ``same`` otherwise.

Per-layer metrics (traced runs) are listed with medians and change, no
verdict. Runs of one workload with the same seed must agree on every
query's content fingerprint; a difference is printed as a defect. When
a side holds both traced and untraced runs of a workload, the tracing
overhead (traced ``traced.cycle_s`` minus untraced ``cycle_s``) is
printed too, and so is the CPU time the hypervisor took from the VM
during the timed regions (``host_steal_s``): a side with high steal
was slowed by its host, not by the program.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _load(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        files += (sorted(glob.glob(os.path.join(p, "*.json")))
                  if os.path.isdir(p) else [p])
    out = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


def spread(values: list[float]) -> float:
    """Quartile distance over the median (0 for fewer than 2 runs)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def _values(runs, workload, trace, name):
    return [r["metrics"][name]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace
            and name in r["metrics"]]


def verdict(base: list[float], new: list[float], better: str,
            bound: float) -> str:
    mb, mn = statistics.median(base), statistics.median(new)
    sign = 1 if better == "lower" else -1
    change = sign * (mn - mb) / mb if mb else 0.0   # >0 means worse
    all_better = (max(new) < min(base) if better == "lower"
                  else min(new) > max(base))
    if max(spread(base), spread(new)) > bound and not all_better:
        return "unresolved"
    if change > bound:
        return "worse"
    return "better" if change < -bound else "same"


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    base, new = _load(argv[:i]), _load(argv[i + 1:])
    with open("BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    worse = 0
    for wl in workloads:
        print(f"== {wl}")
        for m in spec["end_to_end"]:
            b, n = (_values(s, wl, 0, m["name"]) for s in (base, new))
            if not b or not n:
                continue
            v = verdict(b, n, m["better"], m["bound"])
            worse += v == "worse"
            mb, mn = statistics.median(b), statistics.median(n)
            print(f"  {m['name']:<14} {mb:12.4f} -> {mn:12.4f} {m['unit']:<5}"
                  f" {100 * (mn - mb) / mb:+7.2f}%  spread {100 * spread(b):5.1f}%"
                  f"/{100 * spread(n):5.1f}%  bound {100 * m['bound']:4.1f}%"
                  f"  n={len(b)}/{len(n)}  {v}")
        for m in spec["per_layer"]:
            b, n = (_values(s, wl, 1, m["name"]) for s in (base, new))
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            if mb == mn == 0:
                continue
            ch = f"{100 * (mn - mb) / mb:+7.2f}%" if mb else "    new"
            print(f"  {m['name']:<28} {mb:14.4f} -> {mn:14.4f} "
                  f"{m['unit']:<5} {ch}")
        for label, runs in (("base", base), ("new", new)):
            steal = [r["host_steal_s"] for r in runs
                     if r["workload"] == wl and r["trace"] == 0]
            if steal:
                print(f"  host steal ({label}): median "
                      f"{statistics.median(steal):.1f} s, max "
                      f"{max(steal):.1f} s per timed region")
            traced = _values(runs, wl, 1, "traced.cycle_s")
            plain = _values(runs, wl, 0, "cycle_s")
            if traced and plain:
                over = statistics.median(traced) - statistics.median(plain)
                print(f"  tracing overhead ({label}): {over:+.3f} s per cycle"
                      f" ({100 * over / statistics.median(plain):+.1f}%)")
    worse += _fingerprint_defects(base + new)
    return 1 if worse else 0


def _fingerprint_defects(runs: list[dict]) -> int:
    """Runs of one workload and seed must produce the same per-query
    content fingerprints; a difference is a defect of the program."""
    seen: dict[tuple, dict] = {}
    bad = 0
    for r in runs:
        for q, fp in r.get("fingerprints", {}).items():
            key = (r["workload"], r["seed"], q)
            first = seen.setdefault(key, {"fp": fp, "when": r["when"]})
            if first["fp"] != fp:
                bad += 1
                print(f"DEFECT {r['workload']} seed {r['seed']} {q}: "
                      f"fingerprint {first['fp']} ({first['when']}) vs {fp} "
                      f"({r['when']})")
    return bad


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
