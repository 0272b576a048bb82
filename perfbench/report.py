#!/usr/bin/env python3
"""Print, compare and trace-reduce benchmark results.

    python3 perfbench/report.py show [RESULTS_DIR]
        every metric by name with its unit, per workload (median over the
        result files of that workload), with sample counts, failures,
        provenance and the tracing overhead (traced vs untraced mean
        request latency)
    python3 perfbench/report.py compare BASE_DIR NEW_DIR
        per workload: end-to-end deltas, with each metric's bound from
        BENCHMARK.json, beside the per-layer deltas
    python3 perfbench/report.py trace TRACE.jsonl
        self time per span name (duration minus the time its child spans
        cover), Spark jobs per phase, and per op whether construct + plan +
        execute add up to the op's wall

RESULTS_DIR defaults to .bench_build/results (written by perfbench/run.py).
"""
import collections
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(results_dir):
    """{(workload, trace): [result, ...]}"""
    out = collections.defaultdict(list)
    for p in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        out[(r["workload"], r["trace"])].append(r)
    return out


def medians(runs, section):
    vals = collections.defaultdict(list)
    units = {}
    for r in runs:
        for name, m in r[section].items():
            vals[name].append(m["value"])
            units[name] = m["unit"]
    return {n: (statistics.median(v), units[n], len(v)) for n, v in vals.items()}


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def show(results_dir):
    runs = load(results_dir)
    for workload in sorted({w for w, _ in runs}):
        untraced, traced = runs.get((workload, 0), []), runs.get((workload, 1), [])
        print(f"== {workload}")
        if untraced or traced:
            r = (untraced or traced)[0]
            prov = r["provenance"]
            print(f"   why: {prov['why']}")
            print(f"   cpus {prov['cpus']}, {prov['jvm']}, Spark {prov['spark']}, "
                  f"heap {prov['heap_max_mb']:.0f} MB, commit {prov['commit'][:20]}")
        for label, rs in (("untraced", untraced), ("traced", traced)):
            if not rs:
                continue
            att = sum(r["attempted"] for r in rs)
            fail = sum(r["failed"] for r in rs)
            samples = [r["samples"] for r in rs]
            print(f"   {label}: {len(rs)} runs (seeds "
                  f"{','.join(str(r['seed']) for r in rs)}), {fail}/{att} "
                  f"operations failed, {min(samples)}-{max(samples)} "
                  f"samples per run")
            for r in rs:
                for f in r["failures"][:3]:
                    print(f"     failure (seed {r['seed']}): {f}")
        if untraced:
            print("   end to end (median over untraced runs):")
            for n, (v, u, k) in sorted(medians(untraced, "end_to_end").items()):
                print(f"     {n:40s} {v:14.6g} {u}")
        if traced:
            print("   per layer (median over traced runs):")
            for n, (v, u, k) in sorted(medians(traced, "per_layer").items()):
                print(f"     {n:40s} {v:14.6g} {u}")
        if untraced and traced:
            # mean request latency is 1 / throughput_per_s
            a = 1 / medians(untraced, "end_to_end")["throughput_per_s"][0]
            b = 1 / medians(traced, "end_to_end")["throughput_per_s"][0]
            print(f"   tracing overhead: mean request {a:.4g} s untraced, "
                  f"{b:.4g} s traced ({(b / a - 1) * 100:+.1f}%)")


def compare(base_dir, new_dir):
    spec = bench_spec()
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["per_layer"]}
    better.update({m["name"]: m["better"] for m in spec["end_to_end"]})
    a, b = load(base_dir), load(new_dir)

    def delta(x, y):
        return (y - x) / x * 100 if x else float("nan")

    for workload in sorted({w for w, _ in a} & {w for w, _ in b}):
        print(f"== {workload}")
        ea = medians(a.get((workload, 0), []), "end_to_end")
        eb = medians(b.get((workload, 0), []), "end_to_end")
        la = medians(a.get((workload, 1), []), "per_layer")
        lb = medians(b.get((workload, 1), []), "per_layer")
        rows = []
        for n in sorted(set(ea) & set(eb) & set(bounds)):
            d = delta(ea[n][0], eb[n][0])
            worse = d if better[n] == "lower" else -d
            flag = ("REGRESSION" if worse > bounds[n]["bound"] * 100 else "")
            rows.append((f"e2e {n}", ea[n][0], eb[n][0], d, ea[n][1],
                         f"bound {bounds[n]['bound'] * 100:.0f}% {flag}"))
        for n in sorted(set(la) & set(lb)):
            if la[n][0] == 0 and lb[n][0] == 0:
                continue
            rows.append((f"layer {n}", la[n][0], lb[n][0],
                         delta(la[n][0], lb[n][0]), la[n][1], ""))
        for name, x, y, d, unit, note in rows:
            print(f"   {name:46s} {x:12.5g} -> {y:12.5g} {d:+8.1f}% {unit:12s} {note}")


def trace(path):
    spans = []
    with open(path) as f:
        for line in f:
            spans.append(json.loads(line))
    children = collections.defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)

    def covered(s):
        ivs = sorted((max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"]))
                     for c in children[s["id"]])
        total, end = 0.0, s["start_s"]
        for lo, hi in ivs:
            lo = max(lo, end)
            if hi > lo:
                total += hi - lo
                end = hi
        return total

    agg = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        dur = s["end_s"] - s["start_s"]
        a = agg[s["name"]]
        a[0] += 1
        a[1] += dur
        a[2] += dur - covered(s)
    print(f"{'span':16s} {'count':>7s} {'total_s':>10s} {'self_s':>10s}")
    for name, (n, tot, self_t) in sorted(agg.items()):
        print(f"{name:16s} {n:7d} {tot:10.3f} {self_t:10.3f}")
    by_id = {s["id"]: s for s in spans}
    jobs = collections.Counter(by_id[s["parent"]]["name"] for s in spans
                               if s["name"] == "job" and s["parent"] in by_id)
    print("spark jobs per phase:", dict(jobs))
    ops = [s for s in spans if s["parent"] == 0 and s["id"] == s["op"]]
    gaps = []
    for op in ops:
        phases = [c for c in children[op["id"]] if c["name"] != "job"]
        if phases:
            gaps.append((op["end_s"] - op["start_s"]) -
                        sum(c["end_s"] - c["start_s"] for c in phases))
    if gaps:
        print(f"op wall minus (construct + plan + execute) over {len(gaps)} ops: "
              f"median {statistics.median(gaps) * 1e3:.3f} ms, "
              f"max {max(gaps) * 1e3:.3f} ms")


def main():
    if len(sys.argv) < 2 or sys.argv[1] not in ("show", "compare", "trace"):
        print(__doc__)
        sys.exit(2)
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "show":
        show(args[0] if args else ".bench_build/results")
    elif cmd == "compare":
        compare(*args[:2])
    else:
        trace(args[0])


if __name__ == "__main__":
    main()
