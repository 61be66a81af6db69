"""Layer-split benchmark of the streamsqlspark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 \
        [--fixed "key=value key=value ..."]...

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed, runs one JVM (perfbench/scala) that
measures the workload, checks the outputs, and prints one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The fixed settings are passed with --fixed (BENCHMARK.json's command).
See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing next to the sources
import build  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["stream_rules", "stream_state", "batch"]
JVM_TIMEOUT_S = 170
SETTINGS = {"master", "shuffle_partitions", "heap", "sf", "keys", "zipf", "chunk_rows",
            "warm_chunks", "warm_passes", "min_passes", "default_seed"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def parse(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fixed", action="append", default=[])
    a = ap.parse_args(argv)
    fixed = {}
    for group in a.fixed:
        for kv in group.split():
            k, _, v = kv.partition("=")
            fixed[k] = v
    unknown = set(fixed) - SETTINGS - {k for k in fixed if k.startswith(("rate_", "closed_chunks_"))}
    if unknown:
        ap.error(f"unknown fixed settings {sorted(unknown)}")
    if a.seed is None:
        a.seed = int(fixed["default_seed"])
    return a, fixed


def run_jvm(root, classes, args, fixed, run_dir, data_dir):
    jars = build.spark_jars()
    scratch = run_dir / "tmp"
    scratch.mkdir(parents=True, exist_ok=True)
    settings = {k: v for k, v in fixed.items() if k not in ("heap", "sf", "default_seed")}
    settings["checkpoint"] = str(run_dir / "ckpt")  # local disk, inside the build directory
    cmd = ["java", f"-Xmx{fixed['heap']}", f"-Xms{fixed['heap']}", "-Xss8m",
           f"-Djava.io.tmpdir={scratch}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(data_dir), "--out", str(run_dir / "out"), "--scratch", str(scratch)]
    for k, v in settings.items():
        cmd += [f"--{k}", v]
    log = open(run_dir / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        log.close()
    if code != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
        raise SystemExit(f"JVM exited with {code}")
    return json.loads((run_dir / "out" / "raw.json").read_text())


def oracle_failures(root, data_dir, out_dir):
    """Runs tools/check_oracle.py (unchanged) over the written results and
    returns {query: reason} for every query it reports as failing."""
    proc = subprocess.run([sys.executable, str(root / "tools" / "check_oracle.py"),
                           str(data_dir), str(out_dir)],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=170)
    fails = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"FAIL (\S+): (.*)", line)
        if m:
            fails[m.group(1)] = m.group(2)
    if proc.returncode != 0 or not re.search(r"\d+/\d+ match", proc.stdout):
        raise SystemExit("oracle check did not run:\n" + proc.stdout[-3000:])
    return fails


def count_ops(raw, workload, oracle_fails):
    """(attempted, failed, reasons). An operation is one query execution
    (batch) or one fed chunk of a timed phase (streams)."""
    reasons = list(raw["failures"]) + [f"{q}: oracle {r}" for q, r in oracle_fails.items()]
    attempted = failed = 0
    for part in raw["parts"].values():
        if workload in metrics.STREAM_QUERIES:
            for q in part["queries"]:
                n = sum(1 for c in q["chunks"] if c["phase"] in ("closed", "open"))
                attempted += n
                failed += 0 if q["ok"] else n
        else:
            bad = {r.split(":")[0] for r in raw["failures"]} | set(oracle_fails)
            for p in part["passes"]:
                for op in p["ops"]:
                    attempted += 1
                    failed += 0 if (op["ok"] and op["q"] not in bad) else 1
    return attempted, failed, reasons


def main(argv):
    args, fixed = parse(argv)
    root = Path.cwd()
    for need in ("src/main/scala", "tools/check_oracle.py"):
        if not (root / need).exists():
            raise SystemExit(f"{need} not found: run from the root of a full checkout")
    t0 = time.time()
    classes = build.build(root)
    t_build = time.time()
    bdir = build.build_dir(root)
    run_dir = bdir / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        data_dir = run_dir / "no-data"
        if args.workload == "batch":
            sf = float(fixed["sf"])
            data_dir = gen_tables.write(bdir / "data" / f"sf{sf}-seed{args.seed}", sf, args.seed)
        t_gen = time.time()
        raw = run_jvm(root, classes, args, fixed, run_dir, data_dir)
        t_jvm = time.time()
        oracle = {}
        if args.workload == "batch":
            oracle = oracle_failures(root, data_dir, run_dir / "out" / "oracle")
        sys.stderr.write(f"[perfbench] wall s: build {t_build - t0:.1f} inputs {t_gen - t_build:.1f} "
                         f"jvm {t_jvm - t_gen:.1f} oracle {time.time() - t_jvm:.1f}\n")
        attempted, failed, reasons = count_ops(raw, args.workload, oracle)
        for r in reasons:
            sys.stderr.write(f"[perfbench] failure: {r}\n")
        invalid = []
        if args.workload in metrics.STREAM_QUERIES:
            invalid = metrics.open_loop_problems(raw["parts"]["untraced"], int(fixed["chunk_rows"]))
        for r in invalid:
            sys.stderr.write(f"[perfbench] latencies invalid: {r}\n")
        if args.trace:
            values = metrics.layers(raw, args.workload)
            units = metrics.per_layer_units()
            sys.stderr.write(f"[perfbench] spans: {metrics.span_self_times(raw['parts']['traced'])}\n")
        else:
            values, n = metrics.e2e(raw, args.workload)
            units = metrics.E2E_UNITS
            sys.stderr.write(f"[perfbench] latency samples={n} "
                             f"(p95 has ten beyond it: {metrics.supports(n, 95)}) "
                             f"failed_frac={failed / attempted:.6f} "
                             f"{metrics.breakdown(raw, args.workload)}\n")
        result = {"correct": failed == 0 and not reasons and not invalid, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
        (bdir / "last").mkdir(exist_ok=True)
        (bdir / "last" / f"{args.workload}.raw.json").write_text(json.dumps(raw))
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
