#!/usr/bin/env python3
"""Compare two benchmark result sets, workload by workload.

    python3 e2ebench/compare.py OLD_RESULTS NEW_RESULTS

A result set is a directory laid out like e2ebench/target/results:
one subdirectory per workload holding seed<N>-trace<0|1>.json records
and seed<N>.trace.jsonl span traces. Copy the directory away after
running the benchmark on one commit, run it on the other, then compare.

For every end-to-end metric (untraced runs) it prints each side's
median, quartiles and sample count and the ratio of the medians. Then
the per-layer metrics of the traced runs, the tracing overhead (traced
minus untraced pass_s), and the per-span self-time and job deltas from
the traces, largest first, so the layer that moved a number shows.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

# reported by every untraced run beside the end-to-end metrics
EXTRAS = ["lloyd_rows_per_s", "write_op_s", "serve_s", "serve_tail_s", "error_rate"]


def summary(xs):
    xs = sorted(xs)
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0], xs[0], xs[0], 1
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, len(xs)


def load(root):
    """workload -> {"e2e": {metric: [values]}, "layer": {...}, "spans": {name: ([self], [jobs])}}"""
    out = {}
    for wdir in sorted(p for p in Path(root).iterdir() if p.is_dir()):
        e2e, layer = defaultdict(list), defaultdict(list)
        spans = defaultdict(lambda: ([], []))
        for f in sorted(wdir.glob("seed*-trace*.json")):
            rec = json.loads(f.read_text())
            target = layer if rec["trace"] == 1 else e2e
            for k, v in rec["metrics"].items():
                target[k].append(v)
            if rec["trace"] == 0:
                for k in EXTRAS:
                    if k in rec["extra"]:
                        e2e[k].append(rec["extra"][k])
        for f in sorted(wdir.glob("seed*.trace.jsonl")):
            per_pass = defaultdict(lambda: [0.0, 0])
            for line in f.read_text().splitlines():
                s = json.loads(line)
                if s["phase"] in ("measure", "aside") and s["name"] != "pass":
                    acc = per_pass[(s["pass"], s["name"])]
                    acc[0] += s["self_s"]
                    acc[1] += s["jobs"]
            for (_, name), (self_s, jobs) in per_pass.items():
                spans[name][0].append(self_s)
                spans[name][1].append(jobs)
        out[wdir.name] = {"e2e": e2e, "layer": layer, "spans": spans}
    return out


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def table(title, old, new):
    print(f"  {title}")
    print(f"    {'metric':34} {'old median [q1, q3] n':>30} {'new median [q1, q3] n':>30} {'new/old':>8}")
    for k in sorted(set(old) | set(new)):
        a, b = summary(old.get(k, [])), summary(new.get(k, []))
        if k != "error_rate" and not (a and a[0]) and not (b and b[0]):
            continue  # a layer or metric this workload does not use
        def cell(s):
            return "-" if s is None else f"{s[0]:.4g} [{s[1]:.4g}, {s[2]:.4g}] {s[3]}"
        ratio = b[0] / a[0] if a and b and a[0] else None
        print(f"    {k:34} {cell(a):>30} {cell(b):>30} {fmt(ratio):>8}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(old) | set(new)):
        o, n = old.get(w), new.get(w)
        print(f"== {w}")
        if not o or not n:
            print("  present on one side only")
            continue
        table("end to end (untraced runs)", o["e2e"], n["e2e"])
        table("per layer (traced runs)", o["layer"], n["layer"])
        for side, r in (("old", o), ("new", n)):
            traced, plain = r["layer"].get("trace.pass_s"), r["e2e"].get("pass_s")
            if traced and plain:
                print(f"  tracing overhead ({side}): traced pass_s {statistics.median(traced):.4g} s"
                      f" - untraced {statistics.median(plain):.4g} s ="
                      f" {statistics.median(traced) - statistics.median(plain):+.4g} s")
        print("  span self time per pass and jobs per pass (medians), largest change first")
        rows = []
        for name in set(o["spans"]) | set(n["spans"]):
            os_, oj = o["spans"].get(name, ([], []))
            ns, nj = n["spans"].get(name, ([], []))
            a = statistics.median(os_) if os_ else 0.0
            b = statistics.median(ns) if ns else 0.0
            ja = statistics.median(oj) if oj else 0
            jb = statistics.median(nj) if nj else 0
            rows.append((abs(b - a), name, a, b, ja, jb))
        for _, name, a, b, ja, jb in sorted(rows, reverse=True):
            print(f"    {name:34} self {a:8.4f} -> {b:8.4f} s ({b - a:+.4f})   jobs {ja:g} -> {jb:g}")


if __name__ == "__main__":
    main()
