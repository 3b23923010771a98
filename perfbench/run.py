"""graft end-to-end benchmark.

    python3 perfbench/run.py --workload <extract_batch|curate_stream|corpus_dedup>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --pin <lo>..<hi>

Run from the root of a checkout. Builds the program and the benchmark from
source (perfbench/build.py), runs one workload in one JVM at
local[<cores>], and prints the workload's headline metrics, the full
run record, and as the last line the result:
{"correct", "attempted", "failed", "metrics"} - end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # a run writes only under .bench_build/
import build  # noqa: E402

# The JVM is sized by the benchmark, not by build.sbt's 20g default:
# the host has 16 GB and the workloads fit in a few.
HEAP = "3g"
# Fixed generation sizes: adaptive resizing moves the heap layout from
# run to run, which shows as spread in every time. The heap is touched
# up front, so peak RSS is the fixed heap plus what grows off-heap
# (heap pressure shows as GC time and spill instead).
GC = ["-XX:+UseParallelGC", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# BENCHMARK.json's workloads must end within 180 s (900 s when the run
# also builds). curate_stream is not among them: a batch costs ~10 s of
# fixed per-job overhead on 4 cores, so a steady run of it takes minutes
# (its layers are traced inside corpus_dedup's traced run instead).
DECLARED = ("extract_batch", "corpus_dedup")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880


def commit_id(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src:" + digest[:16]


def jvm(classes, main, args, work, deadline):
    """Run one benchmark JVM; return its stdout, or None if it failed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + GC + ["-Xss8m",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), main] + args)
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(1)))
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        kill()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return None
    except BaseException:
        kill()
        raise
    if p.returncode != 0:
        print(f"perfbench: JVM exited with {p.returncode}", file=sys.stderr)
        return None
    return out


def show(rec):
    """Human-readable lines: the headline metrics with sample counts."""
    print(f"# {rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} "
          f"attempted={rec['attempted']} failed={rec['failed']} pinned={rec['pinned']}")
    for k, v in rec["named"].items():
        extra = "".join(f" {q}={v[q]:.4g}" for q in ("q1", "q3") if q in v)
        print(f"#   {k} = {v['value']:.6g} {v['unit']} (n={v['samples']}{extra})")
    print(f"#   wall_spread={rec['wall_spread']:.4f} cpu_spread={rec['cpu_spread']:.4f} "
          f"steal_frac={rec['host']['steal_frac']:.4f} loadavg={rec['host']['loadavg_start']}")
    for f in rec["failures"]:
        print(f"#   FAILED: {f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin")
    a = ap.parse_args()
    if not (a.selftest or a.pin or a.workload):
        ap.error("one of --workload, --selftest, --pin is required")

    had_build = os.path.exists(os.path.join(build.build_dir(), "stamp"))
    classes, digest = build.build()
    limit = RUN_LIMIT_S if had_build else BUILD_LIMIT_S
    if a.workload and a.workload not in DECLARED:
        limit += 600 + a.seconds
    deadline = T_START + limit
    work = os.path.join(build.build_dir(), "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            out = jvm(classes, "perfbench.SelfTest", ["--root", build.ROOT, "--work", work],
                      work, time.monotonic() + 600)
            sys.stdout.write(out or "")
            return 0 if out is not None else 1
        if a.pin:
            out = jvm(classes, "perfbench.Main",
                      ["--pin", a.pin, "--root", build.ROOT, "--work", work],
                      work, time.monotonic() + 7200)
            return 0 if out is not None else 1
        out = jvm(classes, "perfbench.Main",
                  ["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--root", build.ROOT, "--work", work, "--commit", commit_id(digest)],
                  work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        return 1
    recs = [l for l in out.splitlines() if l.startswith("PERFBENCH_RECORD ")]
    if not recs:
        print("perfbench: no record from the JVM", file=sys.stderr)
        return 1
    rec = json.loads(recs[-1][len("PERFBENCH_RECORD "):])
    show(rec)
    print("record: " + json.dumps(rec, sort_keys=True))
    metrics = rec["layers"] if a.trace else rec["metrics"]
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
