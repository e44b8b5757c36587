#!/usr/bin/env python3
"""The benchmark's build: compiles graft's main sources together with the
benchmark's own into .bench_build/perfbench/classes.

    python3 perfbench/build.py        # builds if needed, prints the classpath

It uses only a JDK and a Spark distribution: the Scala compiler is the one
the distribution ships in jars/, and the distribution's jars are the whole
compile and runtime classpath. No build tool and no dependency resolution is
involved, so the build never reaches for a repository. A build is kept while
no source file changes.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM = ROOT / "src" / "main" / "scala"
SOURCES = [PROGRAM, HERE / "src" / "main" / "scala"]
RESOURCES = HERE / "src" / "main" / "resources"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "build.json"
BUILD_TIMEOUT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _spark_home(env):
    home = env.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit", path=env.get("PATH"))
        home = str(Path(submit).resolve().parent.parent) if submit else None
    return home if home and (Path(home) / "jars").is_dir() else None


def _login_env():
    """The environment a login shell sets up: a toolchain installed for
    login shells keeps its SPARK_HOME, JAVA_HOME and PATH there."""
    try:
        out = subprocess.run(["bash", "-lc", "env -0"], stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=30).stdout
    except (OSError, subprocess.TimeoutExpired):
        return {}
    return dict(kv.split("=", 1) for kv in out.decode(errors="replace").split("\0") if "=" in kv)


def toolchain():
    """(environment, Spark jars dir, java executable).

    Takes the calling environment, and falls back to a login shell's when
    the calling one names no Spark distribution."""
    env = dict(os.environ)
    if _spark_home(env) is None:
        login = _login_env()
        env = dict(login, **{k: v for k, v in env.items() if k != "PATH"})
        env["PATH"] = os.pathsep.join(p for p in (login.get("PATH"), os.environ.get("PATH")) if p)
        if _spark_home(env) is None:
            raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
        log("took SPARK_HOME, JAVA_HOME and PATH from the login shell's environment")
    home = _spark_home(env)
    java = Path(env["JAVA_HOME"]) / "bin" / "java" if env.get("JAVA_HOME") else None
    java = str(java) if java and java.is_file() else shutil.which("java", path=env.get("PATH"))
    if not java:
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return env, Path(home) / "jars", java


def sources():
    return sorted(f for d in SOURCES for f in d.rglob("*.scala"))


def source_digest(jars):
    h = hashlib.sha256(str(jars).encode())
    for f in sources() + sorted(p for p in RESOURCES.rglob("*") if p.is_file()) + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([str(CLASSES), str(RESOURCES), str(jars / "*")])


def build(env, jars, java):
    """Compiles once per source state; returns the runtime classpath."""
    if not (PROGRAM / "graft" / "pipeline" / "Extract.scala").is_file():
        raise SystemExit(f"perfbench: graft's sources are not at {PROGRAM}; run from a full checkout")
    digest = source_digest(jars)
    if STAMP.is_file() and CLASSES.is_dir() and json.loads(STAMP.read_text()).get("digest") == digest:
        return classpath(jars)
    log("building (scalac) ...")
    t0 = time.monotonic()
    fresh = OUT / "classes.new"
    tmp = OUT / "build-tmp"
    for d in (fresh, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(f) for f in sources()) + "\n")
    proc = subprocess.run(
        [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", str(jars / "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(fresh), f"@{args}"],
        env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
        shutil.rmtree(fresh, ignore_errors=True)
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    fresh.rename(CLASSES)
    STAMP.write_text(json.dumps({"digest": digest}))
    log(f"built in {time.monotonic() - t0:.0f} s")
    return classpath(jars)


if __name__ == "__main__":
    print(build(*toolchain()))
