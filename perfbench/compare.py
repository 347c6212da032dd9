"""Records sets of benchmark runs and compares them.

  python3 perfbench/compare.py record --out runs.jsonl --workloads catalog,graph_write
                                      --seeds 1-10 [--seconds S] [--trace 0]
      runs perfbench/run.py once per workload and seed (S defaults to
      run_seconds of BENCHMARK.json), appending one line
      {"workload", "seed", "wall_s", "result"} per run to the file

  python3 perfbench/compare.py spread runs.jsonl
      per workload x metric: median, quartiles, and the spread (q3 - q1) as
      a share of the median against a third of the metric's bound

  python3 perfbench/compare.py diff base.jsonl head.jsonl
      per workload x metric: each side's median and quartiles, the ratio
      head/base with its base, and "moved" only when the medians differ by
      more than either side's own spread and the quartile ranges do not
      overlap; anything else is within the same-code noise

Quartiles are Python's statistics.quantiles(values, n=4).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    runs = []
    with open(path) as fh:
        for line in fh:
            if line.strip():
                runs.append(json.loads(line))
    return runs


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        s = json.load(fh)
    return {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}


def table(runs):
    """{(workload, metric): [values]} over successful, correct runs."""
    out = {}
    for r in runs:
        res = r["result"]
        if not res.get("correct") or res.get("failed"):
            print(f"skipping {r['workload']} seed {r['seed']}: "
                  f"correct={res.get('correct')} failed={res.get('failed')}", file=sys.stderr)
            continue
        for name, m in res["metrics"].items():
            out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def record(args):
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    for w in args.workloads.split(","):
        for s in seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(args.seconds),
                                "--trace", str(args.trace)],
                               stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            line = {"workload": w, "seed": s, "wall_s": round(time.time() - t0, 1),
                    "result": json.loads(p.stdout.strip().splitlines()[-1])}
            with open(args.out, "a") as fh:
                fh.write(json.dumps(line) + "\n")
            print(f"{w} seed {s}: {line['wall_s']} s", file=sys.stderr)


def spread(args):
    meta = spec()
    worst = 0.0
    for (w, name), xs in sorted(table(load(args.runs)).items()):
        q1, med, q3 = quartiles(xs)
        share = (q3 - q1) / med if med else float("inf")
        bound = meta.get(name, {}).get("bound")
        flag = ""
        if bound is not None:
            flag = "ok" if share <= bound / 3 else ("within bound" if share <= bound else "TOO WIDE")
            if name != "setup_s":
                worst = max(worst, share / bound)
        print(f"{w:12s} {name:26s} n={len(xs):2d} median={med:12.4f} "
              f"q1={q1:12.4f} q3={q3:12.4f} spread={share:6.3f} {flag}")
    print(f"widest spread, as a share of its bound: {worst:.2f}")


def diff(args):
    meta = spec()
    base, head = table(load(args.base)), table(load(args.head))
    for key in sorted(set(base) & set(head)):
        w, name = key
        b1, bm, b3 = quartiles(base[key])
        h1, hm, h3 = quartiles(head[key])
        ratio = hm / bm if bm else float("inf")
        noise = max(b3 - b1, h3 - h1)
        moved = abs(hm - bm) > noise and (h1 > b3 or h3 < b1)
        verdict = "same"
        if moved:
            better = meta.get(name, {}).get("better", "lower")
            verdict = "moved: " + ("better" if (hm < bm) == (better == "lower") else "worse")
        print(f"{w:12s} {name:26s} base {bm:11.4f} [{b1:.4f}, {b3:.4f}] n={len(base[key])}  "
              f"head {hm:11.4f} [{h1:.4f}, {h3:.4f}] n={len(head[key])}  "
              f"ratio {ratio:6.3f} (base {bm:.4f})  {verdict}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", required=True, help="a seed or a range, e.g. 1-10")
    r.add_argument("--seconds", type=float, default=None)
    r.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("spread")
    s.add_argument("runs")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("head")
    args = ap.parse_args()
    if args.cmd == "record" and args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]
    {"record": record, "spread": spread, "diff": diff}[args.cmd](args)


if __name__ == "__main__":
    main()
