"""Collect run sets and compare them.

    # run the benchmark over seeds; with two checkouts, alternate which runs first
    python3 perfbench/compare.py collect --out A.jsonl [--root DIR] \\
        [--other-root DIR --other-out B.jsonl] [--workloads a,b] [--seeds 1-10] [--trace 0|1]

    # spread of each end-to-end metric: IQR / median against the bound
    python3 perfbench/compare.py spread A.jsonl

    # parent vs change, one row per (workload, metric)
    python3 perfbench/compare.py compare PARENT.jsonl CHANGE.jsonl

A run set is JSON lines {"workload", "seed", "trace", "exit", "wall_s", "result"}.
The compare rule: seed i of the parent pairs
with seed i of the change (runs pair in seed order when the seed sets
differ); the change is "better" when it wins at least 9/10 of the pairs
and the medians differ by more than the parent's IQR;
"worse" when its median is worse than the parent's by more than the
metric's bound; "unresolved" when either side's IQR / median exceeds the
bound (unless every change run beats every parent run); else "same".
Traced runs add per-layer self-time deltas and the tracing overhead.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(spec: str) -> list:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(root: Path, workload: str, seed: int, trace: int) -> dict:
    t0 = time.time()
    done = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
                           "--trace", str(trace)],
                          cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        result = json.loads(done.stdout.strip().split("\n")[-1])
    except (ValueError, IndexError):
        result = None
    return {"workload": workload, "seed": seed, "trace": trace, "exit": done.returncode,
            "wall_s": round(time.time() - t0, 2), "result": result}


def collect(a) -> int:
    sides = [(Path(a.root), Path(a.out))]
    if a.other_root:
        sides.append((Path(a.other_root), Path(a.other_out)))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in BENCH["workloads"]]
    bad = 0
    for i, seed in enumerate(seeds(a.seeds)):
        for w in workloads:
            for root, out in (sides if i % 2 == 0 else sides[::-1]):
                rec = run_once(root, w, seed, a.trace)
                bad += rec["exit"] != 0
                with open(out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                ok = rec["result"] is not None and rec["result"]["correct"]
                print(f"{root.name} {w} seed={seed} trace={a.trace} exit={rec['exit']} "
                      f"wall={rec['wall_s']}s correct={ok}", flush=True)
    return 1 if bad else 0


def load(path: str, trace: int) -> dict:
    """{workload: {metric: {seed: value}}} from the runs with the given trace flag."""
    out = {}
    for line in Path(path).read_text().splitlines():
        rec = json.loads(line)
        if rec["trace"] != trace or not rec["result"]:
            continue
        for m, v in rec["result"]["metrics"].items():
            out.setdefault(rec["workload"], {}).setdefault(m, {})[rec["seed"]] = v["value"]
    return out


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(a) -> int:
    runs = load(a.runset, 0)
    worst = 0
    print(f"{'workload':14} {'metric':12} {'n':>3} {'median':>12} {'iqr/median':>10} {'bound':>6}")
    for w, metrics in sorted(runs.items()):
        for m in BENCH["end_to_end"]:
            xs = list(metrics.get(m["name"], {}).values())
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / med if med else float("inf")
            flag = "" if rel <= m["bound"] / 3 else (" >bound/3" if rel <= m["bound"] else " >BOUND")
            if m["name"] != "setup_s" and rel > m["bound"]:
                worst += 1
            print(f"{w:14} {m['name']:12} {len(xs):3} {med:12.5g} {rel:10.4f} {m['bound']:6}{flag}")
    return 1 if worst else 0


def worse(better: str, change: float, parent: float) -> bool:
    return change > parent if better == "lower" else change < parent


def compare(a) -> int:
    parent, change = load(a.parent, 0), load(a.change, 0)
    print(f"{'workload':14} {'metric':12} {'parent median [q1,q3]':>30} {'change median [q1,q3]':>30} "
          f"{'wins':>6} verdict")
    for w in sorted(set(parent) & set(change)):
        for m in BENCH["end_to_end"]:
            p, c = parent[w].get(m["name"], {}), change[w].get(m["name"], {})
            if not p or not c:
                continue
            if set(p) != set(c):
                # different seeds (e.g. two sets of the same code): pair in seed order
                p = dict(enumerate(v for _, v in sorted(p.items())))
                c = dict(enumerate(v for _, v in sorted(c.items())))
            paired = sorted(set(p) & set(c))
            pq, cq = quartiles(list(p.values())), quartiles(list(c.values()))
            wins = sum(worse(m["better"], p[s], c[s]) for s in paired)
            p_rel = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
            c_rel = (cq[2] - cq[0]) / cq[1] if cq[1] else float("inf")
            all_better = all(worse(m["better"], pv, cv) for pv in p.values() for cv in c.values())
            if max(p_rel, c_rel) > m["bound"] and not all_better:
                verdict = "unresolved"
            elif wins >= 0.9 * len(paired) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                verdict = "better"
            elif worse(m["better"], cq[1], pq[1] * (1 + m["bound"]) if m["better"] == "lower"
                       else pq[1] * (1 - m["bound"])):
                verdict = "worse"
            else:
                verdict = "same"
            print(f"{w:14} {m['name']:12} {pq[1]:12.5g} [{pq[0]:.4g},{pq[2]:.4g}]".ljust(60)
                  + f" {cq[1]:12.5g} [{cq[0]:.4g},{cq[2]:.4g}]".ljust(31)
                  + f" {wins:2}/{len(paired):<3} {verdict}")
    tp, tc = load(a.parent, 1), load(a.change, 1)
    if tp and tc:
        print("\nper-layer self time per op (traced runs, medians)")
        for w in sorted(set(tp) & set(tc)):
            for m in sorted(k for k in tp[w] if k.startswith("self.")):
                pv = statistics.median(tp[w][m].values())
                cv = statistics.median(tc[w].get(m, {0: 0.0}).values())
                print(f"{w:14} {m:18} {pv:12.1f} -> {cv:12.1f} ms  ({cv - pv:+.1f})")
    for label, untraced, traced in (("parent", parent, tp), ("change", change, tc)):
        for w in sorted(set(untraced) & set(traced)):
            u = statistics.median(untraced[w]["op_p50_ms"].values())
            t = statistics.median(traced[w]["trace.op_ms"].values())
            print(f"tracing overhead {label} {w}: traced op {t:.1f} ms vs untraced {u:.1f} ms "
                  f"({(t / u - 1) * 100:+.1f}%)")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--root", default=str(HERE.parent))
    c.add_argument("--other-root")
    c.add_argument("--other-out")
    c.add_argument("--workloads")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, default=0, choices=(0, 1))
    s = sub.add_parser("spread")
    s.add_argument("runset")
    p = sub.add_parser("compare")
    p.add_argument("parent")
    p.add_argument("change")
    a = ap.parse_args()
    if a.cmd == "collect" and bool(a.other_root) != bool(a.other_out):
        ap.error("--other-root and --other-out go together")
    return {"collect": collect, "spread": spread, "compare": compare}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
