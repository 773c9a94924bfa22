#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --repeat <N>

Run it from the root of the repository. The first run builds the program
together with the harness (sbt, offline) into .bench_build/perfbench; the
inputs of each workload and seed are generated once (gen.py) and cached
there too. Every run is a fresh JVM with a fixed heap.

--trace 0 prints the end-to-end metrics; --trace 1 runs the workload once
untraced and once traced and prints the per-layer metrics plus the tracing
overhead (traced minus untraced) of every end-to-end metric. --repeat N
runs N seeds from --seed on and prints each end-to-end metric's median and
quartile spread next to its bound in BENCHMARK.json.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("nna-dashboard", "nna-tail", "store-serve")
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return "n/a"


def fingerprint():
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for fn in sorted(files):
                p = os.path.join(d, fn)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for fn in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, fn), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program's sources with the harness; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and open(cp_file + ".src").read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the local caches, as the repository's own build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
                           f"-Dsbt.repository.config={repos}")
    log("building the program and the harness (sbt)")
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = [ln for ln in out.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(cp_file + ".src", "w") as f:
        f.write(fp)
    if os.path.exists(os.path.join(BUILD, "classes.jsa")):
        os.remove(os.path.join(BUILD, "classes.jsa"))
    return lines[-1].strip()


def inputs(workload, seed):
    """Generated inputs of a workload and seed, made once and cached."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen = hashlib.sha1(f.read()).hexdigest()[:10]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{gen}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), d],
                       check=True, stdin=subprocess.DEVNULL)
        open(os.path.join(d, ".done"), "w").close()
        log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f}s")
    return d


def jvm_flags(work):
    """Fixed heap; no hsperfdata file, and temp files (native libraries the
    JVM unpacks) in the run's own work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def class_archive(cp):
    """The JVM's archive of the classes a session loads at start-up,
    written once per build by a short training run (ClassWarm)."""
    jsa = os.path.join(BUILD, "classes.jsa")
    if not os.path.exists(jsa):
        tmp = os.path.join(BUILD, "classwarm")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["java"] + jvm_flags(tmp) + [f"-XX:ArchiveClassesAtExit={jsa}", "-cp", cp,
                        "graft.perfbench.ClassWarm", os.path.join(tmp, "spark-local")],
                       stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=300)
        shutil.rmtree(tmp, ignore_errors=True)
    return jsa


def run_jvm(cp, workload, seed, seconds, trace, deadline):
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java"] + jvm_flags(work) + [
        f"-XX:SharedArchiveFile={class_archive(cp)}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        "-cp", cp, "graft.perfbench.Main", workload, inputs(workload, seed), work,
        str(seconds), str(trace), str(seed)]
    log(f"loadavg at start: {loadavg()}")
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{workload}: the run did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    log(f"loadavg at end: {loadavg()}; the JVM ran {time.time() - t0:.1f}s")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload}: the run ended with code {proc.returncode} and no result")
    return json.loads(lines[-1])


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--repeat", type=int, default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("the program's sources (src/main/scala) are not here: "
                         "run from the root of a checkout of the repository")
    cp = build()  # only the first run in a checkout builds
    deadline = time.time() + 170
    if a.repeat:
        return repeat(cp, a)
    if not a.trace:
        res = run_jvm(cp, a.workload, a.seed, a.seconds, 0, deadline)
    else:
        plain = run_jvm(cp, a.workload, a.seed, a.seconds, 0, deadline)
        res = run_jvm(cp, a.workload, a.seed, a.seconds, 1, deadline)
        e2e = {m["name"] for m in spec()["end_to_end"]}
        traced = {k: v for k, v in res["metrics"].items() if k not in e2e}
        for k in sorted(e2e):
            if k in plain["metrics"] and k in res["metrics"]:
                traced[f"overhead.{k}"] = {"value": res["metrics"][k]["value"] -
                                           plain["metrics"][k]["value"],
                                           "unit": plain["metrics"][k]["unit"]}
        # a layer the workload does not run did no work: it reads 0
        for m in spec()["per_layer"]:
            if m["name"] not in traced:
                traced[m["name"]] = {"value": 0, "unit": m["unit"]}
        res["metrics"] = {m["name"]: traced[m["name"]] for m in spec()["per_layer"]}
        res["correct"] = res["correct"] and plain["correct"]
    print(json.dumps(res))


def repeat(cp, a):
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    runs = []
    for i in range(a.repeat):
        t0 = time.time()
        r = run_jvm(cp, a.workload, a.seed + i, a.seconds, 0, time.time() + 170)
        runs.append(r)
        print(f"seed {a.seed + i} ({time.time() - t0:.0f}s): " + ", ".join(
            f"{k} {v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    print(f"{a.workload}: {a.repeat} runs, seeds {a.seed}..{a.seed + a.repeat - 1}")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"  {name:16s} median {med:12.4f}  spread {(q3 - q1) / med:7.3f}  bound {bound}")
    shares = {(r["failed"], r["attempted"]) for r in runs}
    print(f"  failed/attempted: {sorted(shares)}  correct: {all(r['correct'] for r in runs)}")


if __name__ == "__main__":
    main()
