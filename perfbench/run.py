#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 4 --trace 0

Builds the engine and the harness from source (once per source tree; sbt,
offline), generates the workload's inputs from the seed (once per workload
and seed), runs the harness JVM on `local[<cores>]`, checks every output
against DuckDB, and prints each metric by name with its unit. The last line
of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} - the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.

Workloads: etl_ref, curation, stream (see BENCHMARK.json), and tpch, which
runs the same way but is not one of the benchmark's workloads.
Everything the run writes stays under perfbench/.work/.
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
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import verify  # noqa: E402

WORKLOADS = ("tpch", "curation", "stream", "etl_ref")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# What spark-submit would add on JDK 17 (the engine's build.sbt uses the same list).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

E2E = [("setup_s", "s"), ("first_job_s", "s"), ("job_s", "s"), ("op_s_p50", "s"),
       ("op_s_p90", "s"), ("rows_per_s", "1/s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """The harness classpath, compiling the engine and the harness if the
    sources changed since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("engine sources not found next to perfbench/ (need src/main/scala and build.sbt)")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "build", "classpath.txt")
    stamp_file = os.path.join(WORK, "build", "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built engine and harness in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1]


def run_jvm(cp, workload, data_dir, out_dir, seconds, trace, cpus):
    """Run the harness; returns its peak resident memory in MB."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    # The heap is touched at launch: otherwise its first-touch page faults land
    # in the cold pass, and peak_rss_mb depends on which regions G1 happened
    # to use rather than on the program.
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.PerfBench",
           "--workload", workload, "--data", data_dir, "--out", out_dir,
           "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
           "--as-of", gen.AS_OF]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        cmd += ["--start-ms", str(int(time.time() * 1000))]
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        deadline = time.time() + JVM_TIMEOUT_S
        pid = 0
        try:
            while time.time() < deadline:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                time.sleep(0.05)
        finally:
            # Timed out, or this process is being stopped: stop the JVM too.
            if not pid:
                os.killpg(proc.pid, signal.SIGKILL)
                _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"harness exited with {proc.returncode}")
    return usage.ru_maxrss / 1024.0


def end_to_end(result, input_rows, peak_rss_mb):
    passes = [p for p in result["passes"] if not p["traced"]]
    job = lambda p: sum(o["total_s"] for o in p["ops"])
    warm = [p for p in passes[1:] if not p["settle"]]
    # Each operation at its median warm latency; the percentiles are taken
    # over the operations. Pooling every sample instead puts the median at
    # the edge between two operations' clusters, where it jumps with one
    # sample.
    op_times = sorted(layers.median([o["total_s"] for p in warm for o in p["ops"]
                                     if o["name"] == name])
                      for name in {o["name"] for o in passes[0]["ops"]})
    deciles = statistics.quantiles(op_times, n=10, method="inclusive") \
        if len(op_times) > 1 else op_times * 9
    job_s = layers.median([job(p) for p in warm])
    return {
        "setup_s": result["setup"]["total_s"],
        "first_job_s": job(passes[0]),
        "job_s": job_s,
        "op_s_p50": layers.median(op_times),
        "op_s_p90": deciles[8],
        "rows_per_s": input_rows / job_s if job_s else 0.0,
        "cpu_s": layers.median([sum(o["cpu_s"] for o in p["ops"]) for p in warm]),
        "peak_rss_mb": peak_rss_mb,
    }


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    t0 = time.time()
    cp = build()
    t_build = time.time()
    data_dir = os.path.join(WORK, "inputs", f"{a.workload}-{a.seed}")
    gen.generate(a.workload, a.seed, data_dir)
    t_gen = time.time()

    out_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    peak_rss_mb = run_jvm(cp, a.workload, data_dir, out_dir, a.seconds, a.trace, a.cpus)
    with open(os.path.join(out_dir, "result.json")) as f:
        result = json.load(f)
    stats = gen.table_stats(data_dir)
    input_rows = sum(stats[t][0] for t in result["tables"])
    t_jvm = time.time()
    attempted, failed, problems = verify.check_run(a.workload, data_dir, out_dir, result)
    print(f"perfbench: build {t_build - t0:.1f} s, inputs {t_gen - t_build:.1f} s, "
          f"harness {t_jvm - t_gen:.1f} s, check {time.time() - t_jvm:.1f} s", file=sys.stderr)
    for name, msg in sorted(problems.items()):
        print(f"[FAIL] {name}: {msg}")
    for d in ("tmp", "sink", "dump"):
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)

    if a.trace:
        values = layers.per_layer(result, os.path.join(out_dir, "spans.json"), a.cpus)
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in layers.PER_LAYER}
    else:
        values = end_to_end(result, input_rows, peak_rss_mb)
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E}
    print(f"workload {a.workload}  seed {a.seed}  input rows {input_rows}  "
          f"passes {len(result['passes'])}  cpus {a.cpus}")
    for k, m in metrics.items():
        print(f"  {k:36s} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'fail_frac':36s} {failed / attempted:>16.6g} ({failed} of {attempted} operations)")
    print(f"  correct: {failed == 0}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
