#!/usr/bin/env python3
"""Platform-path and curation benchmark: the one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark driver from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse that build while the sources are unchanged.

Each run:
  1. generates the workload's input from --seed, SETUPS times into separate
     directories, and checks the copies are byte-identical; generates the
     same shape at gen.SMALL_SCALE (the small input);
  2. starts one driver JVM (local[nproc], one client thread, closed loop) with
     java.io.tmpdir and spark.local.dir inside a per-run directory;
  3. the JVM brings the session up, synthesizes the media fixtures, runs one
     warm-up pass over the small input, then either times full passes back
     to back for --seconds (--trace 0) or measures every layer as cumulative
     prefixes and the fixed cost over the small input (--trace 1);
  4. every pass's report rows are checked against a DuckDB replica built from
     the library's oracle SQL over the same generated input;
  5. the per-run directory is deleted.

stdout: a human-readable metric table, one JSON record line (environment,
per-report digests, tracing overhead), and last one JSON result line with the
keys correct, attempted, failed and metrics.
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
sys.path.insert(0, HERE)

import gen      # noqa: E402
import verify   # noqa: E402

SETUPS = 3            # input generations per run; setup_s takes their median
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

WORKLOADS = ("platform", "curation")

LAYERS = (
    "clean", "concat",
    "qaqc.world_record", "qaqc.negative_values", "qaqc.spikes", "qaqc.straight_streaks",
    "kernels.butterworth", "kernels.gauss_gap",
    "merge.hourly", "merge.derive",
    "sources.nc_write", "sources.zarr_read", "sources.zarr_write",
    "text.annotate",
    "dedup.minhash_pairs", "dedup.components", "dedup.hamming_pairs",
    "multimodal.decode",
)
LAYER_FIELDS = (("wall_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"),
                ("spill_mb", "MB"), ("exchanges", "count"), ("rows_out", "rows"))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp(root: str) -> str:
    """Hash of every input of the build, so a changed source triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root: str, build_dir: str) -> str:
    """Compile with sbt if the sources changed; return the runtime classpath."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    print("perfbench: building (log: %s)" % os.path.relpath(log, root), file=sys.stderr)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(build_dir, "tmp")   # sbt's socket and scratch files
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "-Djava.io.tmpdir=" + tmp, "-J-XX:-UsePerfData",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, stdin=subprocess.DEVNULL,
            text=True, env=env, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "sbt-target" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        fail("build failed; see " + log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def dir_digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit(root: str) -> str:
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 and p.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def layer_metrics(res: dict) -> dict:
    """The 124 per-layer metrics from the JVM's traced output."""
    self_spans, counts = res["self_spans"], res["counts"]
    m = {}
    for layer in LAYERS:
        spans = [s for k, s in self_spans.items() if k.split("/", 1)[1] == layer]
        for field, unit in LAYER_FIELDS:
            v = sum(s[field] for s in spans) if spans else 0
            m["%s.%s" % (layer, field)] = (v, unit)
    for stage in ("world_record", "negative_values", "spikes", "straight_streaks"):
        m["qaqc.%s.flagged" % stage] = (counts.get("qaqc.%s.flagged" % stage, 0), "rows")
    m["kernels.gauss_gap.flagged"] = (counts.get("kernels.gauss_gap.flagged", 0), "rows")
    for layer in ("dedup.minhash_pairs", "dedup.hamming_pairs"):
        cand = counts.get(layer + ".candidates", 0)
        m[layer + ".yield"] = (counts.get(layer + ".kept", 0) / cand if cand else 0, "ratio")
    for layer in ("sources.nc_write", "sources.zarr_read", "sources.zarr_write"):
        m[layer + ".files"] = (counts.get(layer + ".files", 0), "count")
        m[layer + ".bytes"] = (counts.get(layer + ".bytes", 0), "bytes")
    m["multimodal.decode.declined"] = (counts.get("multimodal.decode.declined", 0), "count")
    m["jvm.gc_s"] = (res["jvm_gc_s"], "s")
    m["jvm.peak_heap_mb"] = (res["jvm_peak_heap_mb"], "MB")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    # `calibration` (not a benchmark workload) has layers of known cost, for
    # the self-tests
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("calibration",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no library sources under ./src/main/scala/graft; run from a checkout root")
    build_dir = os.path.join(root, ".bench_build")
    classpath = build(root, build_dir)

    # a terminated run still removes its directory (and subprocess.run kills the JVM)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(build_dir, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return measure(args, root, build_dir, run_dir, classpath)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, root, build_dir, run_dir, classpath) -> int:
    t_start = time.monotonic()
    # 1. inputs: SETUPS seeded copies, each timed, all byte-identical
    data_dirs, gen_s, digests = [], [], set()
    for i in range(SETUPS):
        d = os.path.join(run_dir, "data-%d" % i)
        t0 = time.perf_counter()
        rows_in = gen.generate(args.workload, args.seed, d)
        gen_s.append(time.perf_counter() - t0)
        data_dirs.append(d)
        digests.add(dir_digest(d))
    inputs_identical = len(digests) == 1
    small_dir = os.path.join(run_dir, "data-small")
    gen.generate(args.workload, args.seed, small_dir, gen.SMALL_SCALE)

    # 2-3. the driver JVM
    out_json = os.path.join(run_dir, "result.json")
    cmd = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-Xmn1g", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"), "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.PerfBench", args.workload, str(args.trace),
              str(args.seconds), out_json, run_dir, data_dirs[-1], small_dir])
    budget = RUN_TIMEOUT_S - (time.monotonic() - t_start)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=budget)
        except subprocess.TimeoutExpired:
            fail("driver JVM exceeded %.0f s" % budget, 3)
    if p.returncode != 0 or not os.path.exists(out_json):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("driver JVM failed (exit %d)" % p.returncode, 3)
    with open(out_json) as f:
        res = json.load(f)

    # 4. output check: every warm-up and timed pass against the replica
    t0 = time.perf_counter()
    check = verify.Checker(data_dirs[-1], res["oracles"], os.path.join(run_dir, "duckdb"))
    small = verify.Checker(small_dir, res["oracles"], os.path.join(run_dir, "duckdb"),
                           allow_empty=True)
    warm_ok = all(small.pass_ok(w["outputs"]) for w in res["warmups"])
    passes = res["passes"]
    failed = sum(0 if check.pass_ok(ps["outputs"]) else 1 for ps in passes)
    if args.trace:
        fixed = res["fixed_cost_passes"]
        failed += sum(0 if small.pass_ok(ps["outputs"]) else 1 for ps in fixed)
        passes = passes + fixed
    correct = inputs_identical and warm_ok and failed == 0
    check_s = time.perf_counter() - t0

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "rows_in": rows_in, "nproc": os.cpu_count(), "jvm_heap": JVM_HEAP,
        "git_commit": git_commit(root), "source_stamp": source_stamp(root)[:16],
        "env": res["env"], "inputs_identical": inputs_identical,
        "report_digests": check.expected,
        "mismatches": (check.mismatches + [dict(m, input="small") for m in small.mismatches])[:5],
        "passes": len(passes), "pass_wall_s": [ps["wall_s"] for ps in passes],
        "check_s": check_s, "run_s": time.monotonic() - t_start,
    }
    if args.trace:
        metrics = layer_metrics(res)
        full = statistics.median(res["untraced_pass_s"])
        record["tracing_overhead_s"] = statistics.median(res["traced_pass_s"]) - full
        record["fixed_cost_s"] = statistics.median(ps["wall_s"] for ps in res["fixed_cost_passes"])
        record["data_share"] = 1 - record["fixed_cost_s"] / full
        trace = dict(record, prefix_spans=res["prefix_spans"], self_spans=res["self_spans"],
                     counts=res["counts"], oracles=res["oracles"],
                     untraced_pass_s=res["untraced_pass_s"],
                     traced_pass_s=res["traced_pass_s"],
                     self_sum_tolerance=verify.SELF_SUM_TOLERANCE)
        os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
        trace_path = os.path.join(build_dir, "traces",
                                  "%s-seed%d.json" % (args.workload, args.seed))
        with open(trace_path, "w") as f:
            json.dump(trace, f, indent=1, sort_keys=True)
        record["trace_file"] = os.path.relpath(trace_path, root)
    else:
        walls = [ps["wall_s"] for ps in passes]
        cpus = [ps["cpu_s"] for ps in passes]
        metrics = {
            "rows_per_s": (statistics.median(rows_in / w for w in walls), "rows/s"),
            "cpu_s_per_mrow": (statistics.median(c / rows_in * 1e6 for c in cpus), "s/Mrow"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
            "setup_s": (statistics.median(gen_s) + res["session_s"] + res["fixtures_s"]
                        + res["warmup_s"], "s"),
        }
        record["setup_parts_s"] = {"generate": gen_s, "session": res["session_s"],
                                   "fixtures": res["fixtures_s"], "warmup": res["warmup_s"]}

    for name, (v, unit) in metrics.items():
        print("%-34s %16.6g %s" % (name, v, unit))
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": len(passes), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
