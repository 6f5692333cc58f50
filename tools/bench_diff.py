#!/usr/bin/env python3
"""Diff two Bench JSON outputs (or driver BENCH_r*.json files).

Usage: python3 tools/bench_diff.py OLD.json NEW.json [--threshold 1.25]

Accepts either the raw one-line {"metric": ...} JSON or the driver's
wrapper ({"tail": "...[info] {json}..."}). Prints per-query deltas worse
than the threshold ratio and the total change — the regression gate to
run after perf work. When both sides carry a "spread" object (measurement
protocol 6: warm min and max per query), a query is SLOWER only if its new
min is also above its old max, so run-to-run noise inside the spread is
not reported. A compact summary line (a driver wrapper from protocol 4 on)
has no per-query map; only its total is compared.
"""
import json
import re
import sys


def load(path):
    with open(path) as f:
        doc = json.load(f)
    if "queries" in doc:
        return doc
    # driver wrapper: the bench line is embedded in the sbt tail
    tail = doc.get("tail", "")
    m = re.findall(r'\{"metric".*?"sf":[^}]*\}', tail)
    if m:
        line = json.loads(m[-1])
        line.setdefault("queries", {})
        return line
    # tail may be TRUNCATED mid-JSON (the driver keeps only the last N
    # bytes): reconstruct the per-query map from whole name:value pairs
    # (the cut-off first entry is unrecoverable and dropped)
    pairs = re.findall(r'"(q_\w+)":([0-9.]+)', tail)
    if not pairs:
        raise SystemExit(f"{path}: no bench JSON found")
    qs = {k: float(v) for k, v in pairs}
    return {"metric": "total", "value": sum(qs.values()), "queries": qs,
            "truncated": True}


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thr = 1.25
    for a in sys.argv[1:]:
        if a.startswith("--threshold"):
            thr = float(a.split("=", 1)[1] if "=" in a else sys.argv[sys.argv.index(a) + 1])
    old, new = load(args[0]), load(args[1])
    oq, nq = old["queries"], new["queries"]
    print(f"total: {old['value']:.1f}s -> {new['value']:.1f}s "
          f"({new['value'] / old['value']:.2f}x), "
          f"{len(oq)} -> {len(nq)} queries")
    if oq and nq:
        for name in sorted(set(nq) - set(oq)):
            print(f"  NEW     {name}: {nq[name]:.2f}s")
        for name in sorted(set(oq) - set(nq)):
            print(f"  REMOVED {name} (was {oq[name]:.2f}s)")
    so, sn = old.get("spread", {}), new.get("spread", {})
    regressions = []
    for name in sorted(set(oq) & set(nq)):
        ratio = nq[name] / oq[name] if oq[name] > 0 else float("inf")
        if ratio < thr or nq[name] - oq[name] <= 0.25:
            continue
        # a new warm min inside the old warm spread is run-to-run noise
        if name in so and name in sn and sn[name]["min"] <= so[name]["max"]:
            continue
        regressions.append((ratio, name))
    for ratio, name in sorted(regressions, reverse=True):
        print(f"  SLOWER  {name}: {oq[name]:.2f}s -> {nq[name]:.2f}s ({ratio:.2f}x)")
    if not regressions:
        print(f"  no per-query regression >= {thr}x")
    # warmup attribution (r9 verdict item 2): the shared-derivation
    # warmup is ~a quarter of the graded total — diff its composition
    # the same way (older sidecars lack the map; report what exists)
    ow, nw = old.get("warmup", {}), new.get("warmup", {})
    if ow or nw:
        ot = old.get("warmup_sec", sum(ow.values()))
        nt = new.get("warmup_sec", sum(nw.values()))
        print(f"warmup: {ot:.1f}s -> {nt:.1f}s"
              + (f" ({nt / ot:.2f}x)" if ot else ""))
        for name in sorted(set(nw) - set(ow)):
            print(f"  NEW     warmup/{name}: {nw[name]:.2f}s")
        for name in sorted(set(ow) - set(nw)):
            print(f"  REMOVED warmup/{name} (was {ow[name]:.2f}s)")
        wregs = []
        for name in sorted(set(ow) & set(nw)):
            ratio = nw[name] / ow[name] if ow[name] > 0 else float("inf")
            if ratio >= thr and nw[name] - ow[name] > 0.25:
                wregs.append((ratio, name))
        for ratio, name in sorted(wregs, reverse=True):
            print(f"  SLOWER  warmup/{name}: {ow[name]:.2f}s -> "
                  f"{nw[name]:.2f}s ({ratio:.2f}x)")
        if not wregs:
            print(f"  no warmup regression >= {thr}x")


if __name__ == "__main__":
    main()
