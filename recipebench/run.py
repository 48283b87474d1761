"""Recipe benchmark: one workload, one seed, one run.

    python3 recipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark from source (build.py); every run then generates its
inputs from the seed (gen.py), drives the program on a local[4] Spark
session in a JVM of its own (scala/recipebench), checks the outputs
(checks.py), removes its working directory, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("nrt_upsert", "stac_search", "curation_pass")
# A run must end within 180 s; the JVM gets until 155 s, the checks and
# the clean-up the rest. A run that builds first may take 900 s: the
# build is bounded by its own timeouts (build.BUILD_LIMIT_S), and the
# JVM's 155 s count from the end of the build.
JVM_LIMIT_S = 155
JVM_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:TieredStopAtLevel=1",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# name -> (unit, better); BENCHMARK.json holds the same lists
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "work_per_s": "1/s",
    "cpu_ms_per_op": "ms",
}
PER_LAYER = [
    ("ingest.source_rows", "count"), ("ingest.source_s", "s"),
    ("assembly.items_out", "count"), ("assembly.quarantined", "count"),
    ("assembly.s", "s"),
    ("store.write_s", "s"), ("store.upsert_s", "s"),
    ("store.files_written", "count"), ("store.bytes_written", "bytes"),
    ("store.bytes_per_item", "bytes"), ("store.leaves_rewritten", "count"),
    ("store.rows_rewritten_per_upserted", "ratio"),
    ("store.shuffle_write_bytes", "bytes"),
    ("query.plan_ms", "ms"), ("query.exec_ms", "ms"),
    ("query.files_read", "count"), ("query.rows_scanned_per_returned", "ratio"),
    ("query.pruned_share", "ratio"),
    ("cql2.compile_ms", "ms"),
    ("fc.page_ms", "ms"), ("fc.response_bytes", "bytes"),
    ("server.overhead_ms", "ms"), ("server.p95_ms", "ms"), ("live.read_ms", "ms"),
    ("spark.jobs_per_request", "count"), ("spark.tasks_per_request", "count"),
    ("spark.scheduler_delay_ms", "ms"),
] + [(f"op.{q}_s", "s") for q in gen.CURATION_QIDS] + [
    ("op.memo_builds", "count"), ("op.shuffle_bytes", "bytes"),
    ("op.spill_bytes", "bytes"),
    ("jvm.gc_ms", "ms"), ("jvm.peak_rss_mb", "MB"),
]


def cpu_ticks():
    """(steal, total) jiffies of the machine, or None off Linux. Steal is
    time the hypervisor ran something else on this machine's vCPUs."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


TICKS_AT_START = cpu_ticks()


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def make_spec(workload, seed, work):
    if workload == "nrt_upsert":
        return gen.nrt_upsert(seed)
    if workload == "stac_search":
        return gen.stac_search(seed)
    return gen.curation_inputs(seed, work), {}


def run_jvm(jvm, args, work, deadline):
    """Run the JVM half; stop it (and anything it started) by the deadline."""
    log = open(work / "jvm.log", "w")
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(
        ["java", f"-Djava.io.tmpdir={work / 'tmp'}"] + jvm + ["recipebench.Main"] + args,
        stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    return code


def work_units(workload, result, spec):
    """Units of work the timed operations completed, in all."""
    if workload == "nrt_upsert":                    # delta rows of batches 1..n
        reingest = gen.SIZES["nrt_upsert"]["reingest"]
        return sum(gen.DAY_SLOTS + reingest
                   + len(gen.insitu_items(*b["late"], categories=[b["category"]]))
                   for b in spec["batches"][1:1 + len(result["op_ms"])])
    return result["attempted"] - result["failed"]   # requests, or qids


def end_to_end(workload, result, spec, setup_s):
    ops = result["op_ms"]
    # the search clients overlap, so their rate is over the loop's wall time
    busy_s = result["wall_s"] if workload == "stac_search" else sum(ops) / 1000
    values = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(ops),
        "work_per_s": work_units(workload, result, spec) / busy_s,
        "cpu_ms_per_op": result["op_cpu_ms"] / len(ops),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(result):
    layers = dict(result.get("layers", {}))
    layers["jvm.gc_ms"] = result["jvm"]["gc_ms"]
    layers["jvm.peak_rss_mb"] = result["jvm"]["peak_rss_mb"]
    return {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER}


def main():
    args = parse_args()
    root = Path.cwd()
    try:
        jvm, build_s = build.ensure(root, JVM_OPTS)
    except build.BuildError as e:
        print(f"recipebench: {e}", file=sys.stderr)
        return 2
    if build_s > 1:
        print(f"recipebench: this run built the benchmark first, in {build_s:.1f} s",
              file=sys.stderr)
    work = root / ".recipebench" / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    try:
        spec, oracle = make_spec(args.workload, args.seed, work)
        spec_path = work / "spec.json"
        spec_path.write_text(json.dumps(spec))
        code = run_jvm(jvm, [
            "--workload", args.workload, "--spec", str(spec_path),
            "--out", str(work), "--trace", str(args.trace),
            "--seconds", str(args.seconds)], work, T_START + build_s + JVM_LIMIT_S)
        if code != 0 or not (work / "result.json").exists():
            tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
            print(f"recipebench: JVM exited with {code}\n{tail}", file=sys.stderr)
            return 1
        result = json.loads((work / "result.json").read_text())
        setup_s = result["setup_end_ms"] / 1000 - T_START - build_s
        import checks
        t_check = time.time()
        problems = checks.verify(args.workload, work, result, args.seed, spec, oracle)
        print(f"recipebench: {len(result['op_ms'])} operations timed, median "
              f"{statistics.median(result['op_ms']):.1f} ms; the JVM exited "
              f"{t_check - result['written_ms'] / 1000:.1f} s after writing its result; "
              f"checks took {time.time() - t_check:.1f} s", file=sys.stderr)
        print("recipebench: op_ms " + json.dumps([round(x) for x in result["op_ms"]]),
              file=sys.stderr)
        if "qid_ms" in result:
            print("recipebench: qid_ms " + json.dumps(
                {q: [round(x) for x in ms] for q, ms in result["qid_ms"].items()}), file=sys.stderr)
        ticks = cpu_ticks()
        if ticks and TICKS_AT_START:
            steal, total = (a - b for a, b in zip(ticks, TICKS_AT_START))
            print(f"recipebench: vCPU steal during the run {100 * steal / max(1, total):.1f}%",
                  file=sys.stderr)
        for p in problems:
            print(f"recipebench: CHECK FAILED {p}", file=sys.stderr)
        for e in result.get("errors", []):
            print(f"recipebench: operation failed: {e}", file=sys.stderr)
        if problems or result.get("errors"):
            log = (work / "jvm.log").read_text(errors="replace")
            print("recipebench: JVM log, last errors:\n" + "\n".join(
                [l for l in log.splitlines() if "ERROR" in l or "Exception" in l][-40:]),
                file=sys.stderr)
        if args.trace:
            print("recipebench: spans " + json.dumps(result["spans"]), file=sys.stderr)
        metrics = (per_layer(result) if args.trace
                   else end_to_end(args.workload, result, spec, setup_s))
        # an operation that threw is counted in `failed` too; any error
        # left over (a failed warm-up request, say) makes the run wrong
        correct = not problems and not result.get("errors")
        print(json.dumps({"correct": correct, "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
