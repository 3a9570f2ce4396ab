"""graft benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark driver from source (perfbench/build.py),
then runs one workload in a fresh JVM on local[<cores>] from a single
client thread. The JVM generates the inputs from the seed, runs the
closed loop for --seconds, checks every answer, and prints one JSON
result as the last line of stdout. Everything it writes stays under the
build directory ($CARGO_TARGET_DIR, default .bench_build).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ann_serve", "ann_lifecycle", "corpus_dedup")
# A run must end within 180 s; leave room for JVM teardown.
RUN_TIMEOUT_S = 170


def jvm(root: Path, classes: Path, work: Path, main: str, args: list):
    """Run `main` in a fresh JVM with stderr to <work>/jvm.log; returns the
    completed process, or None when it overran the run time limit."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    opens = [x for p in build.JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", *opens,
           "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", main, *args]
    with open(work / "jvm.log", "w") as log:
        try:
            return subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                                  text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {RUN_TIMEOUT_S} s; see {work / 'jvm.log'}", file=sys.stderr)
            return None


def launch(root: Path, out: Path, classes: Path, workload: str, seed: int,
           seconds: float, trace: int, tiny: bool = False) -> int:
    work = out / "runs" / f"{workload}-s{seed}-t{trace}"
    done = jvm(root, classes, work, "graftbench.Main",
               ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--work", str(work)] + (["--tiny", "1"] if tiny else []))
    if done is None:
        return 3
    lines = done.stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        sys.stderr.write(done.stdout[-2000:])
        print(f"no result line (exit {done.returncode}); see {work / 'jvm.log'}", file=sys.stderr)
        return done.returncode or 1
    sys.stdout.write(done.stdout)
    if done.returncode != 0:
        for line in (work / "jvm.log").read_text().splitlines():
            if line.startswith("check failed"):
                print(line, file=sys.stderr)
    return done.returncode


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    root = Path(__file__).resolve().parent.parent
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    try:
        classes = build.build(root, out)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    return launch(root, out, classes, a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    sys.exit(main())
