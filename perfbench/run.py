#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Workloads, their op lists and the per-layer
metric map live in perfbench/workloads.json; expected result digests in
perfbench/digests.tsv. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics; everything else goes
to standard error.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
BUILD = HERE / ".build"
RUNS = HERE / ".run"
TRACES = HERE / ".trace"
HARNESS = HERE / "harness"
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: program sources, build files and
    the harness sources."""
    h = hashlib.sha256()
    roots = [REPO / "src" / "main", REPO / "build.sbt", REPO / "project" / "build.properties",
             HARNESS / "src" / "main", HARNESS / "build.sbt",
             HARNESS / "project" / "build.properties"]
    for root in roots:
        files = sorted(p for p in root.rglob("*") if p.is_file()) if root.is_dir() else [root]
        for p in files:
            h.update(str(p.relative_to(REPO)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = source_stamp()
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["TMPDIR"] = str(tmp)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=700)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [line for line in proc.stdout.splitlines() if line.strip()][-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build printed no classpath")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}; "
                         f"known: {', '.join(spec['workloads'])}")
    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"perfbench: no graft sources under {REPO}; "
                         "run from the root of a full checkout")
    w = spec["workloads"][a.workload]
    data = HERE / "data" / spec["data"]
    if not data.is_dir():
        raise SystemExit(f"perfbench: input data {data} missing")

    cp = build()
    run_dir = RUNS / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    # Everything the run keeps lives under root (stored_mb measures it);
    # shuffle and spill scratch goes to a sibling dir.
    root, local = run_dir / "root", run_dir / "local"
    for d in (root / "tmp", root / "warehouse", local):
        d.mkdir(parents=True, exist_ok=True)
    spans = TRACES / f"{a.workload}-seed{a.seed}.json" if a.trace else ""
    cmd = (["java"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # A fixed heap, so heap resizing does not vary from run to run.
           + [f"-Xms{spec['heap']}", f"-Xmx{spec['heap']}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={root / 'tmp'}", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--ops", ",".join(w["ops"]),
              "--setup-builds", ",".join(w.get("setup_builds", [])),
              "--checks", ",".join(f"{b}={q}" for b, q in w.get("checks", {}).items()),
              "--permute", "true" if w["permute"] else "false",
              "--data", str(data), "--root", str(root),
              "--digests", str(HERE / "digests.tsv"), "--spans", str(spans),
              "--nproc", str(spec["nproc"]), "--warmup", str(w["warmup_passes"]),
              "--pass-seconds", str(w["pass_s"]),
              "--deadline", str(RUN_TIMEOUT_S - 50)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local), TMPDIR=str(root / "tmp"))
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    # The harness runs in its own session, so a signal to this process does
    # not reach it: stop it here, on every way out.
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    group = "per_layer" if a.trace else "end_to_end"
    names = {m["name"] for m in json.loads((REPO / "BENCHMARK.json").read_text())[group]}
    missing = names - set(result["metrics"])
    if missing:
        raise SystemExit(f"perfbench: result lacks {sorted(missing)}")
    result["metrics"] = {k: v for k, v in result["metrics"].items() if k in names}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
