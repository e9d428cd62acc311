"""Lakehouse benchmark: one workload, one seed, one closed-loop run.

    python3 lakebench/run.py --workload etl_batches --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness from source into .bench_build/ (sbt, offline); later runs reuse
that build while the sources are unchanged. Inputs are generated from the
seed under .bench_run/, the JVM runs the workload, and the last line of
standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end figures; with --trace 1 they
are the per-layer figures of a traced run, whose spans and job records
are kept in .bench_run/results/. See lakebench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group and make sure the whole group
    is gone when it returns, whatever happened."""
    return wait(subprocess.Popen(cmd, start_new_session=True, **kw), timeout)


def wait(p, timeout):
    try:
        p.wait(timeout=timeout)
    except BaseException:
        stop(p)
        raise
    stop(p)
    return p.returncode


def stop(p):
    """Kill what is left of the child's process group and reap the child."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def build():
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}; "
             "run from the root of a repository checkout")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"))
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
        rc = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                       timeout=600, cwd=HERE, env=env, stdout=log,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp, "w") as f:
        f.write(digest)


def cpu_ticks():
    """(all, stolen) CPU ticks since boot, summed over CPUs: time the
    hypervisor gave to other guests counts as stolen."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def java_cmd(args, heap):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap}", f"-Djava.io.tmpdir={args['lake']}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{CLASSES}:{SPARK_JARS}/*", "lakebench.Main"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


def run_once(workload, seed, seconds, trace, perturb=False):
    """Generate, run the JVM, return its result dict (None on a crash)."""
    build()
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(RUNS, tag)
    shutil.rmtree(work, ignore_errors=True)
    inp, lake = os.path.join(work, "input"), os.path.join(work, "lake")
    os.makedirs(os.path.join(lake, "tmp"))
    results = os.path.join(RUNS, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{workload}-s{seed}-t{trace}.json")
    for f in (out, out + ".trace.json"):
        if os.path.exists(f):
            os.remove(f)
    args = {"workload": workload, "input": inp, "lake": lake,
            "seconds": seconds, "trace": trace, "out": out,
            "perturb": int(perturb)}
    ticks0 = cpu_ticks()
    try:
        # the JVM starts while the inputs are generated; it waits for
        # the manifest, which the generator writes last
        jvm = subprocess.Popen(java_cmd(args, "3g"), start_new_session=True,
                               cwd=work, stdout=sys.stderr,
                               stderr=subprocess.STDOUT)
        try:
            g0 = time.time()
            gen.generate(workload, seed, inp)
            if trace and workload == "etl_batches":
                # the docs inputs of the index side phase (see README)
                gen.generate("dedup_ann_ingest", seed, os.path.join(inp, "side"))
            gen_s = time.time() - g0
        except BaseException:
            stop(jvm)
            raise
        rc = wait(jvm, 150)
        jvm_s = time.time() - g0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        return None
    with open(out) as f:
        res = json.load(f)
    res["info"]["generate_s"] = gen_s
    res["info"]["jvm_s"] = jvm_s
    ticks1 = cpu_ticks()
    res["info"]["host"]["steal_share"] = \
        (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=gen.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0,
                    help="corrupt one expected value: the run must then fail")
    a = ap.parse_args()
    t0 = time.time()
    res = run_once(a.workload, a.seed, a.seconds, a.trace, a.perturb)
    if res is None:
        fail("the benchmark JVM failed; see the output above")
    info = res["info"]
    host = info["host"]
    print(f"host: nproc={host['nproc']} load_avg {host['before']['load_avg']:.2f}"
          f" -> {host['after']['load_avg']:.2f}, cpu probe "
          f"{host['before']['probe_s']:.3f} -> {host['after']['probe_s']:.3f} s, "
          f"CPU time stolen by the hypervisor {host['steal_share']:.1%}")
    print(f"timed batches={info['timed_batches']} after "
          f"{info['batches'] - info['timed_batches']} warm-up"
          f"{' (capped by --seconds)' if info['capped'] else ''}, "
          f"write tail = p{info['write_tail_pct']:.1f} of n={info['write_n']}, "
          f"read tail = p{info['read_tail_pct']:.1f} of n={info['read_n']}")
    print("phases (s): " + ", ".join(f"{k}={info[k]:.1f}" for k in (
        "generate_s", "session_s", "setup_run_s", "warmup_s", "loop_s",
        "check_s", "main_s", "jvm_s")) + f", wall={time.time() - t0:.1f}")
    for p in info["problems"] + info["errors"]:
        print(f"problem: {p}")
    if a.trace:
        report_overhead(a.workload, a.seed, res)
    key = "per_layer" if a.trace else "end_to_end"
    metrics = res[key]
    declared = declared_metrics(a.workload, key)
    if declared is not None:
        metrics = {k: metrics[k] for k in declared}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    # a check that found a mismatch, or a failed operation, fails the run
    return 0 if res["correct"] else 1


def declared_metrics(workload, key):
    """The metric names BENCHMARK.json lists for this mode, or None when
    the workload is not one of its workloads (all figures are printed)."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return [m["name"] for m in spec[key]]


def report_overhead(workload, seed, traced):
    """Traced minus untraced end-to-end figures, when an untraced run of
    the same workload and seed has left its result in this checkout."""
    plain = os.path.join(RUNS, "results", f"{workload}-s{seed}-t0.json")
    if not os.path.exists(plain):
        print("tracing overhead: no untraced run of this seed in this checkout")
        return
    with open(plain) as f:
        base = json.load(f)["end_to_end"]
    diff = {k: round(v["value"] - base[k]["value"], 6)
            for k, v in traced["end_to_end"].items()}
    print("tracing overhead (traced - untraced): " + json.dumps(diff))


if __name__ == "__main__":
    sys.exit(main())
