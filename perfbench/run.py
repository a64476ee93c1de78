#!/usr/bin/env python3
"""Seeded benchmark of the graft engine: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace 0

Run it from the repository root. The first run builds the engine and the
benchmark from source with sbt (the engine through its own build file);
later runs reuse the build while no source file has changed.

Each run prints a report (every end-to-end figure by name and unit, plus
host facts) and, as the last line of stdout, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end metrics of BENCHMARK.json; with `--trace 1` they are its
per-layer metrics, from a traced run. The full record of a run, and with
`--trace 1` its spans, are written under perfbench/results/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["medallion", "iterative_ops"]
# a run must end within 180 s, or 900 s when it builds first
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# engine's own build file uses for forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it, so no process outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(logf):
    """Compiles the engine and the benchmark; returns the runtime classpath."""
    target = os.path.join(BENCH, "target")
    stamp_f = os.path.join(target, "perfbench-stamp.txt")
    cp_f = os.path.join(target, "perfbench-classpath.txt")
    digest = source_digest()
    if os.path.isfile(stamp_f) and os.path.isfile(cp_f):
        with open(stamp_f) as f:
            if f.read().strip() == digest:
                with open(cp_f) as g:
                    return g.read().strip(), digest
    log("building the engine and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    out_f = os.path.join(BENCH, "results", "build.out")
    with open(out_f, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                         cwd=BENCH, env=env, stdout=out, stderr=logf,
                         stdin=subprocess.DEVNULL)
    with open(out_f) as f:
        text = f.read()
    logf.write(text)
    if rc != 0:
        raise RuntimeError(f"sbt build failed (exit {rc}); see {out_f}")
    lines = [l.strip() for l in text.splitlines()
             if l.strip() and not l.startswith("[")]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    cp = lines[-1]
    os.makedirs(target, exist_ok=True)
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(digest)
    return cp, digest


def cpu_times():
    """The host's CPU time counters (user ... steal), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def host_facts():
    facts = {"nproc": len(os.sched_getaffinity(0)),
             "loadavg_start": list(os.getloadavg())}
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    facts["git_commit"] = commit
    return facts


def run_one(spec, workload, seed, seconds, trace):
    results = os.path.join(BENCH, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{workload}-seed{seed}-trace{trace}"
    facts = host_facts()
    cpu0 = cpu_times()
    with open(os.path.join(results, name + ".log"), "w") as logf:
        cp, digest = build(logf)
        facts["source_digest"] = digest
        work = os.path.join(BENCH, "work", f"{name}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(results, name + ".jvm.json")
        if os.path.exists(out):
            os.remove(out)
        # a fixed heap size keeps heap resizing out of the timings
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"] +
               [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", cp, "perfbench.Main", "--workload", workload,
                "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--dir", work, "--out", out,
                "--spans", os.path.join(results, name + ".spans.jsonl")])
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
        try:
            rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=logf,
                             stderr=logf, stdin=subprocess.DEVNULL)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        raise RuntimeError(f"{name}: timed out after {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.isfile(out):
        raise RuntimeError(f"{name}: the benchmark JVM exited {rc}; see results/{name}.log")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    facts["loadavg_end"] = list(os.getloadavg())
    # the share of CPU time the hypervisor gave to other guests during the
    # run: a slow run on a shared host shows here
    cpu1 = cpu_times()
    if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
        facts["cpu_steal_share"] = (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0))
    res["host"] = facts

    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["per_layer"] if trace else res["end_to_end"]
    metrics = {}
    for m in want:
        v = got.get(m["name"])
        if not isinstance(v, (int, float)) or v != v:
            raise RuntimeError(f"{name}: metric {m['name']} missing or not a number")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    res["contract"] = {"correct": bool(res["correct"]),
                       "attempted": int(res["attempted"]),
                       "failed": int(res["failed"]), "metrics": metrics}
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    return res


def report(res, units):
    """Human-readable lines: every end-to-end figure with its unit."""
    w = res["workload"]
    lines = [f"== {w} seed={res['seed']} trace={int(res['trace'])} "
             f"correct={res['correct']} attempted={res['attempted']} "
             f"failed={res['failed']} failed_ops_ratio={res['failed_ops_ratio']}"]
    for k, v in res["end_to_end"].items():
        lines.append(f"  {k} = {v} ({units[k]})")
    for k, v in res["report"].items():
        lines.append(f"  {w}.{k} = {json.dumps(v)}")
    h = res["host"]
    lines.append(f"  host: nproc={h['nproc']} loadavg {h['loadavg_start']} -> "
                 f"{h['loadavg_end']} steal={h.get('cpu_steal_share')} "
                 f"java={res['java_version']} "
                 f"spark={res['spark_version']} commit={h['git_commit']} "
                 f"source={h['source_digest'][:12]}")
    for f in res["failures"]:
        lines.append(f"  FAILED: {f}")
    return "\n".join(lines)


def main():
    # a terminated benchmark still stops its JVM or sbt (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec_f = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) and
            os.path.isfile(spec_f)):
        log("the engine's sources are not here: run from a checkout of the "
            "repository")
        return 2
    with open(spec_f) as f:
        spec = json.load(f)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    if any(n not in WORKLOADS for n in names):
        log(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)} or all")
        return 2
    try:
        runs = [run_one(spec, n, a.seed, a.seconds, a.trace) for n in names]
    except RuntimeError as e:
        log(str(e))
        return 1
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for r in runs:
        print(report(r, units), flush=True)
    if len(runs) == 1:
        print(json.dumps(runs[0]["contract"]), flush=True)
    else:
        c = [r["contract"] for r in runs]
        print(json.dumps({"correct": all(x["correct"] for x in c),
                          "attempted": sum(x["attempted"] for x in c),
                          "failed": sum(x["failed"] for x in c),
                          "metrics": {r["workload"]: r["contract"]["metrics"]
                                      for r in runs}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
