"""Self-test of the benchmark at tiny size (no timing claims).

    python3 perfbench/selftest.py

1. The seeded generator gives byte-identical inputs for a seed and other
   inputs for another seed; each checker reports corrupted results
   (dropped row, wrong rank, stale key version, ...) as failures.
2. Every workload, untraced and traced, runs clean and prints every metric
   named in BENCHMARK.json with its unit; end-to-end values are non-zero.
3. In a traced ann_serve run, the self times of each batch's spans add up
   to the batch's root span wall time.
4. In a directory holding only BENCHMARK.json and perfbench/, the command
   fails without printing a result.
Exits 1 if any of these fails.
"""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
failures = []


def expect(name: str, ok: bool, detail: str = "") -> None:
    print(("PASS " if ok else "FAIL ") + name + (f": {detail}" if detail and not ok else ""))
    if not ok:
        failures.append(name)


def run_tiny(classes: Path, out: Path, workload: str, trace: int):
    work = out / "selftest" / f"{workload}-t{trace}"
    done = run.jvm(ROOT, classes, work, "graftbench.Main",
                   ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
                    "--work", str(work), "--tiny", "1"])
    if done is None:
        return None, "", work
    try:
        return json.loads(done.stdout.strip().split("\n")[-1]), done.stdout, work
    except ValueError:
        return None, done.stdout, work


def span_accounting(spans_file: Path) -> tuple:
    spans = [json.loads(line) for line in spans_file.read_text().splitlines()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def self_sum(s):
        return s["self_ms"] + sum(self_sum(c) for c in kids.get(s["id"], []))

    roots = [s for s in spans if s["name"] == "serve.batch"]
    worst = max((abs(self_sum(s) - (s["end_ms"] - s["start_ms"])) for s in roots), default=None)
    return len(roots), worst


def main() -> int:
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = build.build(ROOT, out)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    done = run.jvm(ROOT, classes, out / "selftest" / "unit", "graftbench.SelfTest",
                   [str(out / "selftest" / "unit")])
    print(done.stdout if done else "self-test JVM overran")
    expect("generator and checker self-test", done is not None and done.returncode == 0)

    for workload in run.WORKLOADS:
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            result, stdout, work = run_tiny(classes, out, workload, trace)
            tag = f"{workload} trace={trace}"
            expect(f"{tag}: result line", result is not None, stdout[-500:])
            if result is None:
                continue
            expect(f"{tag}: every check passed",
                   result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                   json.dumps({k: result[k] for k in ("correct", "attempted", "failed")}))
            metrics = result["metrics"]
            names = [m["name"] for m in wanted]
            expect(f"{tag}: metric names match BENCHMARK.json", list(metrics) == names,
                   str(set(names) ^ set(metrics)))
            expect(f"{tag}: units match BENCHMARK.json",
                   all(metrics.get(m["name"], {}).get("unit") == m["unit"] for m in wanted))
            printed = [line.split() for line in stdout.splitlines()]
            expect(f"{tag}: every metric printed with its unit",
                   all([m["name"], m["unit"]] == [p[0], p[-1]] for m in wanted
                       for p in printed if p and p[0] == m["name"])
                   and all(any(p and p[0] == m["name"] for p in printed) for m in wanted))
            if trace == 0:
                expect(f"{tag}: end-to-end values are non-zero",
                       all(isinstance(v["value"], float) and v["value"] > 0 for v in metrics.values()))
            elif workload == "ann_serve":
                n, worst = span_accounting(work / "spans.jsonl")
                expect(f"{tag}: batch self times account for the root span",
                       n > 0 and worst is not None and worst < 1.0, f"{n} batches, worst gap {worst} ms")

    bare = out / "selftest" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    done = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ann_serve",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=180)
    expect("bare directory: non-zero exit and no result",
           done.returncode != 0 and '"metrics"' not in done.stdout, done.stdout[-300:])
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed" + (": " + ", ".join(failures) if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
