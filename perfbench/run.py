#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, run from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--smoke] [--fixture DIR]

Workloads (see perfbench/README.md): etl_backfill, olap_headline.
The command builds graft and the JVM harness from source
(perfbench/build.py), generates the workload's inputs from the seed, runs
setup and measured passes in one JVM on local[<nproc>], checks the outputs
(the daily backfill against the generator's own answers, the queries against
their DuckDB oracle SQL through scripts/oracle_check.py), and prints one JSON
line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 its
per-layer metrics. Everything a run writes lives under .bench_run/ and is
removed at exit; a detail record of each run is kept in .bench_out/.
--smoke runs a seconds-long variant (sf0.001 tables, 2 days) for the
benchmark's own tests; --fixture reads the query tables from DIR instead of
generating them. The exit code is 0 only when every check passed.
"""
import argparse
import json
import os
import re
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixture  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

WORKLOADS = ("etl_backfill", "olap_headline")
# fixture scale of the query workload: sf0.01-sized tables (60k lineitem)
FIXTURE_SF = {False: 0.01, True: 0.001}
RUN_LIMIT_S = 170
# the JVM writes each query's result twice for the oracle check: the cold
# first call of setup as <name>, the warm second call as <name>~warm
RESULTS = ("", "~warm")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--fixture", metavar="DIR",
                   help="olap_headline only: read the query tables from DIR instead of "
                        "generating them, to compare the generated tables with another fixture")
    return p.parse_args(argv)


def table_rows(path: str) -> int:
    """Rows of a parquet file or directory."""
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def oracle_check(data_dir: str, verify_dir: str):
    """Run scripts/oracle_check.py; return ({query: passed}, its output)."""
    r = subprocess.run([sys.executable, os.path.join("scripts", "oracle_check.py"),
                        data_dir, verify_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=120)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):?( |$)", line)
        if m:
            verdicts[m.group(2)] = m.group(1) == "PASS"
    return verdicts, r.stdout


def cpu_ticks():
    """(steal, busy, total) CPU ticks of the machine from /proc/stat, or
    None off Linux. With the JVM's own CPU time they give the share of time
    the host withheld from the machine and the share other processes used,
    kept in the detail record to explain slow runs."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:3]) + sum(f[5:7]), sum(f[:8])
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(args, root, classes, jars, run_dir, data_dir, input_rows, deadline):
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    work = os.path.join(run_dir, "work")
    for d in (tmp, local, work):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cores = os.cpu_count() or 1
    # the JVM options of `sbt run`, then this run's own scratch directories
    cmd = ["java"] + build.java_options(root)
    cmd += [f"-Xlog:gc:file={os.path.join(run_dir, 'gc.log')}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--data", data_dir, "--work", work, "--out", out,
            "--input-rows", str(input_rows)]
    if args.smoke:
        cmd.append("--smoke")
    env = dict(os.environ)
    # the run pins its own session settings and scratch directories
    for k in ("SPARK_GRAFT_CONF", "SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS"):
        env.pop(k, None)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: JVM exceeded the run's time limit")
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    with open(out) as fh:
        res = json.load(fh)
    pauses = 0.0
    with open(os.path.join(run_dir, "gc.log")) as fh:
        for line in fh:
            m = re.search(r"Pause.* (\d+\.\d+)ms$", line.strip())
            if m:
                pauses += float(m.group(1)) / 1e3
    res["info"]["gc_pause_s"] = pauses
    return res, work


def main(argv) -> int:
    args = parse_args(argv)
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(root, "scripts", "oracle_check.py")) or \
            not os.path.exists(spec_path):
        log("run from the root of a graft checkout (src/, scripts/, BENCHMARK.json)")
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    classes = build.build(root)
    deadline = max(deadline, time.monotonic() + 150)  # a first run also builds
    jars = build.spark_jars(root)

    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        input_rows = 0
        gen_s = 0.0
        if args.workload != "etl_backfill" and args.fixture:
            data_dir = os.path.abspath(args.fixture)
            input_rows = sum(table_rows(os.path.join(data_dir, f"{t}.parquet"))
                             for t in fixture.TABLES)
        elif args.workload != "etl_backfill":
            g0 = time.monotonic()
            input_rows = fixture.generate(data_dir, args.seed, FIXTURE_SF[args.smoke])
            gen_s = time.monotonic() - g0
        t0, r0 = cpu_ticks(), resource.getrusage(resource.RUSAGE_CHILDREN)
        res, work = run_jvm(args, root, classes, jars, run_dir, data_dir, input_rows, deadline)
        t1, r1 = cpu_ticks(), resource.getrusage(resource.RUSAGE_CHILDREN)
        if t0 and t1 and t1[2] > t0[2]:
            hz = os.sysconf("SC_CLK_TCK")
            total = t1[2] - t0[2]
            jvm = (r1.ru_utime + r1.ru_stime - r0.ru_utime - r0.ru_stime) * hz
            res["info"]["cpu_steal_share"] = (t1[0] - t0[0]) / total
            res["info"]["cpu_other_share"] = max(0.0, (t1[1] - t0[1] - jvm) / total)

        attempted, failed = res["attempted"], res["failed"]
        errors = list(res["errors"])
        oracle, result_rows = {}, {}
        if args.workload != "etl_backfill":
            verdicts, text = oracle_check(data_dir, os.path.join(work, "verify"))
            for q in res["info"]["queries"]:
                for r in RESULTS:
                    attempted += 1
                    ok = verdicts.get(q + r, False)
                    oracle[q + r] = ok
                    if not ok:
                        failed += 1
                        errors.append(f"oracle mismatch: {q + r}")
                if oracle[q]:
                    result_rows[q] = table_rows(os.path.join(work, "verify", f"{q}.parquet"))
            if not all(oracle.values()):
                log(text)

        kind = "per_layer" if args.trace else "end_to_end"
        values = res["layer"] if args.trace else res["e2e"]
        metrics = {}
        for m in spec[kind]:
            v = values.get(m["name"])
            if v is None:
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        correct = failed == 0
        detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "smoke": args.smoke, "cores": os.cpu_count(),
                  "fixture": args.fixture, "fixture_gen_s": gen_s, "fixture_rows": input_rows,
                  "oracle": oracle, "result_rows": result_rows,
                  "errors": errors, "end_to_end": res["e2e"], "per_layer": res["layer"],
                  "info": res["info"], "fail_ratio": failed / max(attempted, 1),
                  "wall_clock_s": time.monotonic() - t_start}
        out_dir = os.path.join(root, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-s{args.seed}-t{args.trace}" + ("-fixture" if args.fixture else "")
        with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
            json.dump(detail, fh, indent=1)
        spans = os.path.join(work, "spans.jsonl")
        if args.trace and os.path.exists(spans):
            shutil.copy(spans, os.path.join(out_dir, stem + ".spans.jsonl"))
        for e in errors:
            log(f"failure: {e}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
