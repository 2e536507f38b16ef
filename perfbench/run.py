#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload vspace-zipf6 --seed 1 --seconds 4 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (perfbench/build.sbt compiles against the main build);
later runs reuse the build while no source file changes. Inputs are
generated from the seed once per (workload, seed) and cached under
perfbench/.work/inputs. The program then runs in the workload's ROUNDS
fresh JVMs on local[nproc], one after the other. Each round times its
set-up, one cold job and warm jobs for its share of --seconds; set-up-only
JVMs add set-up samples up to SETUP_SAMPLES. With --trace 1 a single round
runs, and it adds one traced job.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).
Everything else the run measured (box fingerprint, canaries, every job's
numbers, the span file) is printed above it and kept in
perfbench/.work/last/<workload>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Fresh JVMs per untraced run; first_run_s and the peaks are medians over
# them, and wall_s is the median of all their warm jobs. A round costs a
# cold job: vspace's is ~12 s, datapipe's ~14 s quiet and ~21 s in a slow
# window, where a second datapipe round would push a run to ~85 s and the
# benchmark's runs past their time budget.
ROUNDS = {"vspace-zipf6": 2, "datapipe-dense": 1}
# Fewest warm jobs per untraced run, spread over its rounds.
MIN_WARM = 2
# Set-up samples per untraced run (rounds plus set-up-only JVMs); setup_s
# is their median.
SETUP_SAMPLES = 2
# Heap and collector of every benchmark JVM. The young generation is fixed
# (no adaptive sizing) so the after-GC heap a job leaves does not depend on
# how the collector resized itself in earlier jobs.
JVM_OPTS = ["-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
# Seconds any one JVM may take before the run is abandoned.
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these outside spark-submit (the main build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Which workload exercises which layer; a per-layer metric of a layer the
# workload never runs is reported as 0 (no work done there).
LAYER_WORKLOADS = {
    "sources.": "vspace-zipf6", "corpus.": "vspace-zipf6",
    "vocabulary.": "vspace-zipf6", "stats.": "vspace-zipf6",
    "sinks.": "vspace-zipf6", "pipeline.": "vspace-zipf6",
    "spark.vocabulary.": "vspace-zipf6", "spark.corpus.": "vspace-zipf6",
    "spark.stats.": "vspace-zipf6",
    "datapipe.": "datapipe-dense", "near.": "datapipe-dense",
    "decontam.": "datapipe-dense",
    "spark.prep.": "datapipe-dense", "spark.near.": "datapipe-dense",
    "spark.post.": "datapipe-dense",
    "queries.": "datapipe-dense", "spark.queries.": "datapipe-dense",
}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    stamp = source_stamp()
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(out, exist_ok=True)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    # resolve from the local caches only; use the user's sbt repositories
    # file when the environment does not already point sbt at one
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.perf_counter()
    log("building the program and the benchmark with sbt")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        try:
            p = subprocess.run(
                [sbt, "-batch", "-no-colors", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    lf_path = os.path.join(out, "sbt.log")
    with open(lf_path, "a") as lf:
        lf.write(p.stdout)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if os.pathsep in ln and "perfbench" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        fail(f"build failed (see {lf_path})")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.perf_counter() - t0:.1f} s")
    return cp


def jvm_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    return env


def run_jvm(cp, args, log_path):
    """One benchmark JVM; returns its result JSON."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if java is None:
        fail("java not found")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    result = args["result"]
    if os.path.exists(result):
        os.remove(result)
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    argv = [java, *opens, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "perfbench.Main"]
    for k, v in args.items():
        argv += [f"--{k}", str(v)]
    with open(log_path, "a") as lf:
        argv += ["--launched-ns", str(time.time_ns())]
        p = subprocess.Popen(argv, cwd=ROOT, env=jvm_env(), stdout=lf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM timed out (log: {log_path})")
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {rc} (log: {log_path})")
    with open(result) as f:
        return json.load(f)


def prepare_inputs(workload, seed):
    if workload not in gen.GENERATORS:
        fail(f"unknown workload {workload}")
    # keyed by the generator's source too, so an edited generator never
    # reuses inputs an older one wrote
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, "inputs", f"{workload}-{seed}-{version}")
    meta = gen.generate(workload, seed, out)
    return out, meta


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def layer_metrics(names, workload, measured):
    out = {}
    for n in names:
        owner = next((w for p, w in LAYER_WORKLOADS.items() if n.startswith(p)), None)
        if n in measured:
            out[n] = measured[n]
        elif owner is not None and owner != workload:
            out[n] = 0.0
        else:
            fail(f"per-layer metric {n} was not measured on {workload}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    with open(bench_path) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")

    cp = build()
    inputs, meta = prepare_inputs(a.workload, a.seed)
    log(f"inputs {inputs}: {json.dumps(meta)}")

    last = os.path.join(WORK, "last", a.workload)
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    run_dir = os.path.join(WORK, "run", a.workload)
    jvm_log = os.path.join(last, "jvm.log")

    def jvm(n, **extra):
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        args = {"workload": a.workload, "inputs": inputs, "work": run_dir,
                "result": os.path.join(last, f"result-{n}.json"), "seed": a.seed,
                **extra}
        try:
            return run_jvm(cp, args, jvm_log)
        finally:
            spans = os.path.join(run_dir, "spans.json")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(last, "spans.json"))
            shutil.rmtree(run_dir, ignore_errors=True)

    rounds = 1 if a.trace else ROUNDS[a.workload]
    cpu0 = cpu_times()
    setups = [jvm(f"setup{n}", mode="setup")["setup_s"]
              for n in range(0 if a.trace else SETUP_SAMPLES - rounds)]
    # the traced run takes its per-layer numbers from one warm job
    min_warm = 1 if a.trace else -(-MIN_WARM // rounds)
    results = []
    for n in range(rounds):
        t0 = time.perf_counter()
        results.append(jvm(n, mode="run", seconds=a.seconds / rounds, trace=a.trace,
                           **{"min-warm": min_warm}))
        results[-1]["jvm_s"] = time.perf_counter() - t0
    cpu1 = cpu_times()
    setups += [r["setup_s"] for r in results]
    res = results[-1]
    # CPU time the hypervisor gave to other guests while the rounds ran: a
    # run in a window of co-tenant load shows it here
    steal = None
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])

    jobs = [dict(j, tag=f"r{n}/{j['tag']}") for n, r in enumerate(results) for j in r["jobs"]]
    # every job of the run must agree on the signature keys it shares with
    # the first: output fingerprints, and on datapipe every stage count
    signed = [j for j in jobs if j["error"] is None and j["signature"]]
    for j in signed[1:]:
        ref = signed[0]["signature"]
        diff = sorted(k for k in set(ref) & set(j["signature"]) if ref[k] != j["signature"][k])
        if diff:
            j["ok"] = False
            j["check"] = "; ".join(filter(None, [j["check"], "differs from job "
                                   f"{signed[0]['tag']} in {', '.join(diff)}"]))
    warm = [j for j in jobs if "/warm" in j["tag"] and j["error"] is None]
    colds = [j for j in jobs if j["tag"].endswith("/cold")]
    failed = sum(1 for j in jobs if not j["ok"])
    for j in jobs:
        status = "ok" if j["ok"] else f"FAILED: {j['error'] or j['check']}"
        log(f"job {j['tag']}: {j['wall_s']:.3f} s, disk peak "
            f"{j['disk_peak_bytes'] / 1e6:.1f} MB, heap peak "
            f"{j['heap_peak_bytes'] / 1e6:.1f} MB, {status}")
    for n, r in enumerate(results):
        log(f"round {n}: JVM {r['jvm_s']:.1f} s, set-up {r['setup_s']:.3f} s, canary before "
            f"{json.dumps(r['canary_pre'])} after {json.dumps(r['canary_post'])}")
    log(f"set-up samples {setups}")
    log(f"box {json.dumps(dict(res['box'], cpu_steal_share=steal))}")
    with open(os.path.join(last, "run.json"), "w") as f:
        json.dump({"jobs": jobs, "cpu_steal_share": steal}, f)

    def peak(key):
        # each round's peak over its untraced jobs, median over the rounds
        return statistics.median(
            max(j[key] for j in r["jobs"] if j["tag"] != "traced") for r in results) / 1e6

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    e2e = {}
    if warm and all(j["error"] is None for j in colds):
        wall = statistics.median(j["wall_s"] for j in warm)
        e2e = {
            "wall_s": wall,
            "text_gb_per_h": res["text_bytes"] / 1e9 / (wall / 3600.0),
            "setup_s": statistics.median(setups),
            "first_run_s": statistics.median(j["wall_s"] for j in colds),
            "disk_peak_mb": peak("disk_peak_bytes"),
            "heap_peak_mb": peak("heap_peak_bytes"),
        }
    log(f"jobs: {len(jobs)} in {rounds} rounds, of them {len(warm)} warm; "
        "wall_s is the median of the warm jobs")
    log(f"error_rate = {failed / len(jobs):.4f} ({failed} of {len(jobs)} jobs failed)")
    for k, v in e2e.items():
        log(f"{k} = {v:.6g} {units.get(k, '')}")

    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        metrics = layer_metrics(names, a.workload, res.get("layers", {}))
        for k, v in metrics.items():
            log(f"{k} = {v:.6g} {units[k]}")
        log(f"spans: {os.path.join(last, 'spans.json')}")
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        if set(names) - set(e2e):
            fail("a cold job or every warm job threw")
        metrics = {n: e2e[n] for n in names}

    summary = {"correct": failed == 0, "attempted": len(jobs), "failed": failed,
               "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    with open(os.path.join(last, "summary.json"), "w") as f:
        json.dump(summary, f)
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
