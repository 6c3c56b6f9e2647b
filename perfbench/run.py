#!/usr/bin/env python3
"""graft benchmark: runs one workload in one Spark JVM and prints one JSON
result line last on stdout.

    python3 perfbench/run.py --workload conflate|queries --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --prune-report

Run from anywhere; everything is built and written under .bench_build/ at
the repository root. With --trace 1 the spans of the traced pass are also
written to .bench_build/traces/<workload>-seed<N>.json. The line before the
result records the host (nproc, MemTotal, steal%). Exit code 0 means every
output check passed.
"""
import argparse
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
sys.dont_write_bytecode = True  # nothing but .bench_build is written in the checkout
import build  # noqa: E402

# a run must end within 180 s; the JVM also stops starting passes at 140 s
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise SystemExit("no MemTotal in /proc/meminfo")


def heap_mb(mem_kb):
    """A quarter of MemTotal, between 1.5 and 6 GiB: heap plus the run's
    on-disk scratch stays far below what the host has. The heap is pinned
    and pre-touched, so runs do not differ in when the heap grows."""
    return max(1536, min(6144, mem_kb // 1024 // 4))


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_pct(before, after):
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def run_jvm(cmd, env, limit_s):
    """Run the JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit(f"run: JVM exceeded {limit_s:.0f} s and was killed")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["conflate", "queries"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests")
    ap.add_argument("--prune-report", action="store_true",
                    help="list the queries whose count() plan is a bare scan")
    ap.add_argument("--extra", default="",
                    help='extra Main arguments as one string, e.g. "--mix all --record"')
    a = ap.parse_args(argv)
    tool = ("SelfTest" if a.selftest else "PruneReport" if a.prune_report else None)
    if not tool and not a.workload:
        ap.error("--workload is required")

    t0 = time.time()
    cp = build.build(ROOT)
    built_s = time.time() - t0
    mem_kb = mem_total_kb()
    nproc = len(os.sched_getaffinity(0))
    name = tool or f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "local"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ, GRAFT_AUX_DIR=os.path.join(run_dir, "aux"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    # every file the JVM writes, temp files included, stays in the run dir
    jvm = ["java", f"-Xmx{heap_mb(mem_kb)}m", f"-Xms{heap_mb(mem_kb)}m", "-XX:+AlwaysPreTouch",
           "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jvm += ["-cp", cp]
    if tool:
        cmd = jvm + [f"graftbench.{tool}", "--conf", HERE, "--run-dir", run_dir,
                     "--cpus", str(nproc)]
    else:
        cmd = jvm + ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--conf", HERE, "--run-dir", run_dir, "--cpus", str(nproc),
                     "--trace-out", os.path.join(ROOT, ".bench_build", "traces",
                                                 f"{a.workload}-seed{a.seed}.json")] + a.extra.split()
    s0 = cpu_times()
    try:
        limit = 1800 if tool or a.extra else RUN_LIMIT_S - (time.time() - t0) + built_s
        code, out = run_jvm(cmd, env, limit)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if tool or a.extra:
        print(out, end="")
        return code
    if not lines:
        raise SystemExit(f"run: the JVM printed no result (exit code {code})")
    result = json.loads(lines[-1])
    want = metric_names(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        raise SystemExit("run: metrics do not match BENCHMARK.json: "
                         f"missing {sorted(set(want) - set(result['metrics']))}, "
                         f"extra {sorted(set(result['metrics']) - set(want))}")
    host = {"nproc": nproc, "mem_total_kb": mem_kb, "heap_mb": heap_mb(mem_kb),
            "steal_pct": round(steal_pct(s0, cpu_times()), 3), "build_s": round(built_s, 3)}
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
