#!/usr/bin/env python3
"""graft benchmark: season and catalog workloads in one command.

Usage (from the repository root):
  python3 perfbench/run.py --workload season|catalog|all
      [--seed N] [--seconds S] [--trace 0|1] [--out result.json]
  python3 perfbench/run.py --workload catalog --selfcheck

Builds the library and the harness with sbt (cached in .bench_build/
until a source changes), makes the workload's inputs from the seed,
runs one JVM in local[nproc] with one client in a closed loop for
--seconds, checks every op's output and prints each metric with its
unit. The last stdout line is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1). --selfcheck corrupts the first op's
output and exits 0 only if verification reports it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
DEFAULT_SEED = 1
WORKLOADS = ("season", "catalog")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

END_TO_END = {
    "setup_s": "s", "first_op_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "throughput": "1/s", "ok_ratio": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "trace.overhead_ratio": "ratio",
    "setup.cold_s": "s",
    "setup.session_s": "s",
    "setup.artifact_s.fs_table": "s",
    "setup.artifact_s.mv_base": "s",
    "engine.plan_ms": "ms", "engine.codegen_ms": "ms",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.cpu_s": "s", "engine.slot_idle_ratio": "ratio",
    "engine.shuffle_write_mb": "MB", "engine.spill_mb": "MB", "engine.task_skew": "ratio",
    "cache.leaked_rdds": "count", "cache.leaked_plans": "count",
    "loops.rounds": "count", "loops.round_s_p50": "s", "loops.jobs_per_round": "count",
    "io.scan_s": "s", "io.reject_sweep_s": "s", "io.sink_s": "s", "io.bytes_written_mb": "MB",
    "pipelines.assemble_s": "s", "pipelines.maxparams_s": "s", "pipelines.report_s": "s",
    "pipelines.kernel_passes": "count",
    "kernel.self_s": "s", "kernel.play_us_p50": "us", "kernel.play_us_p99": "us",
    "kernel.feasible_ratio": "ratio",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def _inputs():
    """Every file the build reads: the library, its build, the harness."""
    paths = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(REPO, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(top):
            paths += [os.path.join(top, f) for f in os.listdir(top)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    return sorted(p for p in paths if os.path.isfile(p))


def build(deadline):
    """Compile with sbt; cache the runtime classpath, and the catalog's
    expected fingerprints from its DuckDB twins (derived once, untimed)."""
    h = hashlib.sha256()
    for p in _inputs():
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    oracle_file = os.path.join(BUILD, "oracle_sql.json")
    expected_file = os.path.join(BUILD, "expected.json")
    if os.path.exists(stamp_file) and os.path.exists(expected_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), expected_file
    os.makedirs(BUILD, exist_ok=True)
    log("[perfbench] building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(["sbt", "-batch", "-error", "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                         text=True, timeout=max(10, deadline - time.time()))
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        log(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    subprocess.run(java_cmd(cp, os.path.join(BUILD, "tmp")) + ["--dump-oracle", oracle_file],
                   check=True, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                   timeout=max(10, deadline - time.time()))
    sys.path.insert(0, HERE)
    import oracle
    with open(oracle_file) as f:
        expected = oracle.expected(DATA, json.load(f))
    with open(expected_file, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, expected_file


def heap():
    """The tier-1 rule: half the host's memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def java_cmd(cp, tmp):
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + [
        # a fixed heap and a fixed young generation: with G1 growing the
        # heap and sizing the young generation adaptively, peak RSS
        # followed GC timing, not the program
        "-Xms" + heap(), "-Xmx" + heap(), "-XX:NewSize=1g", "-XX:MaxNewSize=1g",
        "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"), "-cp", cp, "graft.perfbench.Harness"])


def run_workload(workload, args, trace, cp, expected_file, deadline):
    root = os.path.join(BUILD, "run-%d-%s" % (os.getpid(), workload))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        conf = dict(workload=workload, seed=args.seed, default_seed=DEFAULT_SEED,
                    seconds=args.seconds, trace=trace, corrupt=args.selfcheck,
                    cpus=os.cpu_count() or 1, root=root, data=DATA,
                    season_in=os.path.join(root, "season_in"),
                    result=os.path.join(root, "result.json"), manifest={}, expected={})
        with open(os.path.join(HERE, "pinned.json")) as f:
            conf["pinned"] = json.load(f)
        if workload == "season":
            sys.path.insert(0, HERE)
            import gen_season
            m = gen_season.generate(conf["season_in"], seed=args.seed)
            conf["manifest"] = {k: v for k, v in m.items() if isinstance(v, int)}
        elif workload == "catalog":
            with open(expected_file) as f:
                conf["expected"] = json.load(f)
        with open(os.path.join(root, "config.json"), "w") as f:
            json.dump(conf, f)
        env = dict(os.environ)
        for k, d in (("SPARK_GRAFT_IVF_DIR", "ivf"), ("SPARK_GRAFT_DEDUP_DIR", "dedup"),
                     ("SPARK_GRAFT_MV_DIR", "mv"), ("SPARK_GRAFT_SNAP_DIR", "snap"),
                     ("SPARK_GRAFT_VOCAB_DIR", "vocab"), ("SPARK_LOCAL_DIRS", "local")):
            env[k] = os.path.join(root, d)
        log("[perfbench] %s: seed %d, %ss, trace %d" % (workload, args.seed, args.seconds, trace))
        proc = subprocess.Popen(java_cmd(cp, os.path.join(root, "tmp")) +
                                ["--config", os.path.join(root, "config.json")],
                                cwd=root, env=env, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] %s: time limit exceeded" % workload)
        if proc.returncode != 0 or not os.path.exists(conf["result"]):
            raise SystemExit("[perfbench] %s: harness exited with %d" % (workload, proc.returncode))
        with open(conf["result"]) as f:
            return json.load(f)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def report(workload, res, trace):
    for msg in res["failures"]:
        log("[perfbench] %s FAILED %s" % (workload, msg))
    if trace:
        metrics = {k: {"value": res["per_layer"].get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["metrics"][k]["value"], "unit": u}
                   for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print("%-8s %-36s %14.6f %s" % (workload, k, m["value"], m["unit"]))
    if not trace:
        print("%-8s %-36s %s" % (workload, "op_tail_s is", res["tail"]))
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write the full result, for compare.py")
    ap.add_argument("--selfcheck", action="store_true",
                    help="corrupt the first op's output; exit 0 only if it is caught")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        log("[perfbench] the graft sources are not next to perfbench/; nothing to build")
        return 2
    start = time.time()
    cp, expected_file = build(start + BUILD_LIMIT_S)
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    results, metrics, attempted, failed = {}, {}, 0, 0
    for w in workloads:
        res = run_workload(w, args, args.trace, cp, expected_file, time.time() + RUN_LIMIT_S)
        results[w] = res
        attempted += res["attempted"]
        failed += res["failed"]
        m = report(w, res, args.trace)
        metrics.update(m if len(workloads) == 1 else {w + "." + k: v for k, v in m.items()})
    if args.out:
        with open(args.out, "w") as f:
            json.dump(dict(seed=args.seed, seconds=args.seconds, trace=args.trace,
                           results=results), f, indent=1, sort_keys=True)
    if args.selfcheck:
        caught = failed > 0
        log("[perfbench] selfcheck: corrupted output %s" % ("caught" if caught else "NOT caught"))
        return 0 if caught else 1
    print(json.dumps(dict(correct=failed == 0, attempted=attempted, failed=failed,
                          metrics=metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
