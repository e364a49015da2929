"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the engine and the harness from the checkout's sources (once; later
runs reuse the build while no source changed), generates the workload's
inputs from the seed, runs one JVM that times the passes, checks the
outputs against independent references, and prints one JSON line as the
last line of stdout.  See perfbench/README.md for the metrics.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = list(gen.GENERATORS)
JVM_TIMEOUT_S = 150
SETUP_REPS = 3
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if "target" not in d.split(os.sep)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt and cache the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine sources (build.sbt, src/main/scala) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the engine")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {r.returncode}), log in {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def tree_hash(d):
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def calibrate():
    """A fixed CPU micro-benchmark: median of 5 timings of hashing 16 MiB."""
    buf = bytes(range(256)) * 4096
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(16):
            hashlib.sha256(buf).digest()
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def cpu_ticks():
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tail(values):
    """The highest percentile with at least 10 samples beyond it, and its
    rank.  Below 21 samples there is none above the median, so this is the
    slowest sample, labelled percentile 100."""
    s = sorted(values)
    n = len(s)
    if n < 21:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def run(args):
    if not os.path.isfile(SPEC):
        fail("BENCHMARK.json is missing")
    with open(SPEC) as fh:
        spec = json.load(fh)
    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    load_before = os.getloadavg()[0]
    steal_before = cpu_ticks()
    calib_ms = calibrate()

    # set-up, part 1: input generation, repeated; rep 2 must match rep 1
    gen_times, hashes = [], []
    for rep in range(SETUP_REPS):
        d = inputs if rep == 0 else os.path.join(work, f"gen-{rep}")
        t0 = time.perf_counter()
        manifest = gen.generate(args.workload, args.seed, d)
        gen_times.append(time.perf_counter() - t0)
        hashes.append(tree_hash(d))
        if rep:
            shutil.rmtree(d)

    # one core is left to the driver's JIT compiler and GC threads, which
    # would otherwise compete with the tasks for it
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--inputs", inputs,
            "--out", out, "--rows", str(manifest["rows"]), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores)]
    # SPARK_LOCAL_DIRS would override the session's spark.local.dir, which
    # keeps Spark's scratch files inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    # few malloc arenas: the native memory in peak_rss_mb then depends less
    # on which threads happened to allocate
    env["MALLOC_ARENA_MAX"] = "2"
    log = os.path.join(work, "jvm.log")
    t_jvm = time.perf_counter()
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the JVM run exceeded {JVM_TIMEOUT_S} s, log in {log}")
    t_jvm = time.perf_counter() - t_jvm
    res_file = os.path.join(out, "result.json")
    if r.returncode != 0 or not os.path.isfile(res_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"the JVM run failed (exit {r.returncode}), log in {log}")
    with open(res_file) as fh:
        res = json.load(fh)
    load_after = os.getloadavg()[0]
    steal_after = cpu_ticks()
    steal_pct = 100.0 * (steal_after[0] - steal_before[0]) / \
        max(1, steal_after[1] - steal_before[1])

    checks = [dict(c) for c in res["checks"]]
    checks.append({"name": "gen.deterministic", "ok": len(set(hashes)) == 1,
                   "detail": f"{SETUP_REPS} generations from seed {args.seed}"})
    extra = {}
    t_ref = time.perf_counter()
    if res["failed"] == 0:
        if args.workload in ("fame_keyed_batch", "fame_wide_script"):
            checks += check.fame_reference(manifest, inputs, out)
        elif args.workload == "corpus_pipeline":
            found, more = check.corpus_truth(manifest, out)
            checks += found
            extra.update(more)
    layers = res.get("layers", {})
    if args.trace and args.workload in ("fame_keyed_batch", "fame_wide_script") and layers:
        share = layers.get("trace.layer_sum_share", 0.0)
        checks.append({"name": "trace.layers_sum_to_pass", "ok": 0.9 <= share <= 1.1,
                       "detail": f"parse+schedule+build+catalyst+exec.action = "
                                 f"{share:.3f} of the pass wall time"})

    print(f"perfbench: generation {sum(gen_times):.1f} s, JVM {t_jvm:.1f} s, "
          f"reference checks {time.perf_counter() - t_ref:.1f} s", file=sys.stderr)
    known = [c for c in checks if c["name"].startswith("known_defect.")]
    own = [c for c in checks if not c["name"].startswith("known_defect.")]
    for c in checks:
        state = "ok" if c["ok"] else ("FAIL (known defect)" if c in known else "FAIL")
        print(f"check {c['name']}: {state} - {c['detail']}", file=sys.stderr)
    for e in res["errors"]:
        print(f"error {e}", file=sys.stderr)
    checks_failed = sum(not c["ok"] for c in checks)

    passes = res["passes_s"]
    units = res["units_ms"]
    pass_s = statistics.median(passes) if passes else 0.0
    rows_per_s = manifest["rows"] / pass_s if passes else 0.0
    end_to_end = {
        "setup_s": statistics.median(gen_times) + res["session_s"] + res["stage_s"],
        "pass_s": pass_s,
        "cold_pass_s": res["cold_pass_s"],
        "batch_p50_ms": statistics.median(units) if units else 0.0,
        "rows_per_s": rows_per_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        untraced = res["untraced_passes_s"]
        tail_ms, tail_pct = tail(res["all_units_ms"])
        # a layer a workload does not exercise did no work in it: 0
        metrics = dict(layers)
        metrics.update(extra)
        metrics.update({
            "pass.samples": len(passes),
            "batch_tail_ms": tail_ms,
            "batch.tail_pct": tail_pct,
            "batch.samples": len(res["all_units_ms"]),
            "memory.native_mb": res["native_mb"],
            "memory.live_heap_mb": res["live_heap_mb"],
            "trace.overhead_s": pass_s - statistics.median(untraced)
            if untraced and passes else 0.0,
            "failed_share": failed / attempted,
            "checks_failed": checks_failed,
            "machine.calib_ms": calib_ms,
            "machine.load_avg": load_before,
            "machine.load_avg_end": load_after,
            "machine.steal_pct": steal_pct,
        })
        printed = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        printed = {m["name"]: {"value": float(end_to_end[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": all(c["ok"] for c in own) and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": printed}))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    run(p.parse_args())


if __name__ == "__main__":
    main()
