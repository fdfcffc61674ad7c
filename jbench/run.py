#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 jbench/run.py --workload journal|curation --seed N --seconds S --trace 0|1
    python3 jbench/run.py --workload W --seed N --seconds S --trace 0 --repeat 10

The first run in a checkout builds the engine and the benchmark from
source with sbt (offline, all state under .bench_build/). Each run then
starts one JVM, which prints a detail line and, last, the result line
{"correct", "attempted", "failed", "metrics"}. With --repeat N the
workload runs N times on seeds N, N+1, ... and the median and quartiles
of every metric are printed instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "jbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"jbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every input of the build: both build definitions and every
    file under the engine's and the benchmark's sources, resources too."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath_fingerprint(cp):
    """Digest of the size and mtime of every file on the classpath, and of
    the jars beside each jar on it. The engine compiles into the
    repository's own target directory, which other sbt runs also write:
    a change there, or a jar added to the unmanaged jar directory, makes
    the saved classpath stale."""
    h = hashlib.sha256()
    jar_dirs = set()
    for entry in cp.split(os.pathsep):
        if os.path.isdir(entry):
            for d, dirs, files in os.walk(entry):
                dirs.sort()
                for f in sorted(files):
                    st = os.stat(os.path.join(d, f))
                    h.update(f"{os.path.relpath(os.path.join(d, f), entry)}:{st.st_size}:{st.st_mtime_ns}".encode())
        elif os.path.isfile(entry):
            st = os.stat(entry)
            h.update(f"{entry}:{st.st_size}:{st.st_mtime_ns}".encode())
            jar_dirs.add(os.path.dirname(entry))
        else:
            h.update(f"{entry}:missing".encode())
    for d in sorted(jar_dirs):
        h.update(("\n".join([d] + sorted(x for x in os.listdir(d) if x.endswith(".jar")))).encode())
    return h.hexdigest()


def on_term(signum, _frame):
    """SIGTERM/SIGINT: stop the running child's process group, then exit."""
    for p in list(CHILDREN):
        try:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)


CHILDREN = set()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives the call."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.add(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    finally:
        CHILDREN.discard(p)
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def build():
    """Builds engine + benchmark unless the sources and the built classes
    are those of the last build; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala/graft)")
    os.makedirs(OUT, exist_ok=True)
    stamp_file = os.path.join(OUT, "classpath.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    digest = sources_digest()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f, open(cp_file) as c:
            stamp, cp = f.read().split(), c.read().strip()
        if stamp == [digest, classpath_fingerprint(cp)]:
            return cp
    sbt_state = os.path.join(ROOT, ".bench_build", "sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={sbt_state}", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd.append("export jbench/Runtime/fullClasspath")
    t0 = time.time()
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write((out or "")[-6000:])
        fail(f"build failed (exit {code})", 3)
    cp = out.strip().splitlines()[-1].strip()
    if "spark-core" not in cp:
        sys.stderr.write(out[-4000:])
        fail("build printed no runtime classpath", 3)
    print(f"jbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(f"{digest}\n{classpath_fingerprint(cp)}\n")
    return cp


def run_once(cp, workload, seed, seconds, trace):
    """One JVM run; returns (exit code, stdout lines)."""
    work = os.path.join(OUT, "work", f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(OUT, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "jbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work", work]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                              stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"{workload} run exceeded {RUN_TIMEOUT_S} s", 4)
    return code, (out or "").splitlines()


def repeat(cp, args):
    """Runs the workload on args.repeat seeds and prints, per metric, the
    median, quartiles and interquartile spread as a share of the median."""
    values = {}
    units = {}
    for i in range(args.repeat):
        t0 = time.time()
        code, lines = run_once(cp, args.workload, args.seed + i, args.seconds, args.trace)
        wall = time.time() - t0
        if code != 0 or not lines:
            fail(f"seed {args.seed + i} failed (exit {code})", 5)
        res = json.loads(lines[-1])
        ctx = json.loads(lines[-2]).get("context", {}) if len(lines) > 1 else {}
        print(f"seed {args.seed + i}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            + f" [load={ctx.get('loadavg_at_start')} canary={ctx.get('cpu_canary_s', 0):.3f}"
            + f" steal={ctx.get('cpu_steal_share', 0):.3f} wall={wall:.1f}s]",
            file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    summary = {}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        summary[k] = {"median": med, "q1": q1, "q3": q3, "unit": units[k],
                      "spread": (q3 - q1) / med if med else None, "n": len(xs)}
    print(json.dumps({"workload": args.workload, "seeds": [args.seed, args.seed + args.repeat - 1],
                      "metrics": summary}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["journal", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--repeat", type=int, default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    cp = build()
    if args.repeat:
        repeat(cp, args)
        return
    code, lines = run_once(cp, args.workload, args.seed, args.seconds, args.trace)
    if code != 0 or not lines:
        fail(f"{args.workload} run failed (exit {code})", 4)
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
