#!/usr/bin/env python3
"""The repository benchmark. One run: build (if the sources changed),
generate the seeded inputs, run one workload in a single local JVM,
check its output against the DuckDB oracle, and print one JSON result
line. See perfbench/README.md for the workloads and metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest_full --seed 1 --seconds 20 --trace 0
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_full", "ingest_cycle")
DEADLINE_S = 170  # the whole run, build excluded
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb():
    """A quarter of the box's memory, between 2 and 8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2048, min(8192, kb // 4096))


def clean_env():
    """The process environment minus every engine code-path knob, so the
    benchmark always measures the defaults.
    """
    return {k: v for k, v in os.environ.items()
            if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}


def run_jvm(classes, args, work, deadline):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([build.java(), f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-XX:ActiveProcessorCount={cores()}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graft.perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, out,
              str(int(time.time() * 1000))])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=clean_env(), cwd=work)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        raise RuntimeError(f"stopped by signal {signum}")
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("the JVM ran past the deadline")
    if rc != 0:
        raise RuntimeError(f"the JVM exited {rc}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(build.BUILD_DIR, "work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        raw = run_jvm(classes, args, work, deadline)
        t1 = time.time()
        if raw["expected_digest"]:
            ok, msg = oracle.check(raw["tables_dir"], raw["verify_output"],
                                   raw["oracle_sql"], os.path.join(work, "tmp"))
        else:
            ok, msg = False, "the operation to verify failed"
        print(f"[perfbench] jvm {t1 - t0:.1f} s, oracle {time.time() - t1:.1f} s:"
              f" {'OK' if ok else 'FAIL'} {msg}", file=sys.stderr)
        expected = raw["expected_digest"]
        attempted, failed = stats.account(raw["ops"], expected, ok)
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            values = stats.per_layer(raw, names)
            traced_ok = raw["traced"].get("digest", expected) == expected
            ok = ok and traced_ok
            if not traced_ok:
                print("[perfbench] traced digest differs from the untraced one",
                      file=sys.stderr)
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = stats.end_to_end(raw, expected)
        metrics = {n: {"value": values[n], "unit": units[n]} for n in units}
        artifact = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cores": raw["cores"], "heap_max_mb": raw["heap_max_mb"],
            "calibration": raw["calibration"], "inputs": raw["inputs"],
            "oracle": msg, "correct": ok and failed == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics,
            "session_s": raw["session_s"], "setup_reps_s": raw["setup_reps_s"],
            "ops": raw["ops"],
        }
        for k in ("reorgs", "cycle_stream", "traced"):
            if k in raw:
                artifact[k] = raw[k]
        if args.workload == "ingest_cycle":
            artifact["cycle_summary"] = stats.cycle_summary(raw)
        results = os.path.join(build.BUILD_DIR, "results")
        os.makedirs(results, exist_ok=True)
        name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
        with open(os.path.join(results, name), "w") as f:
            json.dump(artifact, f, indent=1)
        print(json.dumps({"correct": ok and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        sys.exit(1)
