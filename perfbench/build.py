"""Build file of the benchmark package: compiles graft's main sources and
the benchmark driver (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into <build dir>/classes. A stamp over every
source file skips the compile when nothing changed."""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and no JAVA_HOME")
    return found


def spark_jars() -> Path:
    """Spark's jars directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler under {jars}")
    return jars


def sources(root: Path) -> list:
    main = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not main.is_dir():
        raise BuildError(f"graft sources not found under {main}")
    return sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build(root: Path, out: Path) -> Path:
    """Compile if needed; returns the classes directory."""
    srcs = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for p in srcs:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    classes = out / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    staging = out / "classes.new"
    tmp = out / "tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    tmp.mkdir(parents=True, exist_ok=True)
    args = out / "scalac.args"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", cp, f"@{args}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    (staging / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    return classes


if __name__ == "__main__":
    here = Path(__file__).resolve().parent.parent
    try:
        print(build(here, here / os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
