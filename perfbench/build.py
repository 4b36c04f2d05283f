#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's main sources and the
harness in perfbench/jvm with the Scala compiler that ships in Spark's
jars directory (build.sbt's unmanagedBase), and copies the main
resources, into
.bench_build/classes-<hash of the inputs>.

A build whose sources are unchanged is reused. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """The jar directory build.sbt names as its unmanaged base."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    jars = Path(m.group(1))
    found = sorted(jars.glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in found):
        raise RuntimeError(f"no Spark jars with a Scala compiler in {jars}")
    return found


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise RuntimeError(f"no Scala sources under {root}/src/main/scala")
    return main + sorted((root / "perfbench" / "jvm").glob("*.scala"))


def resources(root):
    base = root / "src" / "main" / "resources"
    return sorted(f for f in base.rglob("*") if f.is_file())


def build(root):
    """Compile if needed; return the classes directory."""
    root = Path(root).resolve()
    srcs = sources(root)
    res = resources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    out = root / BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    args = tmp / "scalac.args"
    args.write_text("\n".join(str(f) for f in srcs))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{args}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    args.unlink()
    base = root / "src" / "main" / "resources"
    for f in res:  # e.g. the graft-jdbc DataSourceRegister service file
        dest = tmp / f.relative_to(base)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    (tmp / ".complete").touch()
    for old in (root / BUILD_DIR).glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
