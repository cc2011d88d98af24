"""Builds the engine and the benchmark harness from source with the Scala
compiler that ships in Spark's jars, the same jars the engine's build.sbt
compiles against.

Outputs land under `.bench_build/perfbench/` (or `$CARGO_TARGET_DIR` when
set) and are keyed by a digest of their sources, so an unchanged tree
builds once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(repo):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the engine's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(repo, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def build_root(repo):
    return os.path.join(repo, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(jars, files, classpath, out, log):
    tmp = os.path.join(os.path.dirname(out), "tmp-" + os.path.basename(out))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    with open(log, "w") as fh:
        rc = subprocess.call(cmd + files, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: compile failed (log: {log})")
    prefix = os.path.basename(out).split("-")[0] + "-"
    for stale in glob.glob(os.path.join(os.path.dirname(out), prefix + "*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.rename(tmp, out)


def build(repo):
    """Compile the engine (src/main/scala) and the harness; returns the
    runtime classpath."""
    main_src = _sources(os.path.join(repo, "src", "main", "scala"))
    if not main_src:
        raise SystemExit(f"perfbench: no engine sources under {repo}/src/main/scala")
    jars = spark_jars(repo)
    root = build_root(repo)
    os.makedirs(root, exist_ok=True)
    main_out = os.path.join(root, "main-" + _digest(main_src))
    if not os.path.isdir(main_out):
        print(f"perfbench: compiling {len(main_src)} engine sources", file=sys.stderr)
        _compile(jars, main_src, None, main_out, os.path.join(root, "compile-main.log"))
    harness_src = _sources(os.path.join(HERE, "scala"))
    harness_out = os.path.join(root, "harness-" + _digest(harness_src, main_out))
    if not os.path.isdir(harness_out):
        _compile(jars, harness_src, main_out, harness_out,
                 os.path.join(root, "compile-harness.log"))
    return os.pathsep.join([harness_out, main_out,
                            os.path.join(repo, "src", "main", "resources"),
                            os.path.join(jars, "*")])
