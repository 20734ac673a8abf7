#!/usr/bin/env python3
"""Pipeline benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from a checkout of the repo. The first run builds the engine and the
benchmark's JVM side from source (see build.py); every run then

1. generates the workload's inputs from the seed (gen.py, cached per
   seed and factor) and its DuckDB oracle results (oracle.py);
2. with --trace 0, starts three fresh JVMs one after another, each one
   set-up sample (fresh JVM to session ready plus one trivial job). The
   last `forks` of them (workloads.json) are measuring JVMs, the others
   exit once set up. A measuring JVM runs a cold pass and steady passes
   for --seconds (closed loop, one client, fixed query order);
3. with --trace 1, starts one measuring JVM: a cold pass, a warm-up
   pass, then untraced and traced passes alternate, then each input
   table is scanned through its loader;
4. checks every result: digests equal across passes, JVMs and runs of
   the seed, oracle digests equal to the engine's;
5. prints a readable report, then one JSON line: the end-to-end metrics
   with --trace 0, the per-layer metrics with --trace 1.

It exits 1 when any check fails and 2 when it cannot run at all. Inputs,
builds, oracle results, digests and the run records with their spans (the
trace artifact) live under .bench_build/perfbench/ in the checkout. The
only inputs besides the arguments are the sf0.1 source fixture and the
core count (all cores this process may use).
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import spans  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
# fresh JVMs per untraced run, each one set-up sample
SETUP_JVMS = 3
# all JVMs of one run together, so the run ends well within 180 s
JVM_BUDGET_S = 150

with open(os.path.join(HERE, "workloads.json")) as f:
    WORKLOADS = json.load(f)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fixture():
    """The sf0.1 fixture directory: the default of the repo's Bench main."""
    try:
        with open(os.path.join(ROOT, "src/main/scala/graft/Bench.scala")) as f:
            m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("source fixture not found (Bench.scala's SPARK_GRAFT_SF_DIR default)")
    return m.group(1)


def jvm_env(cores):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_GRAFT_CPUS"] = str(cores)
    return env


def launch(cmd, env, log, deadline):
    """Run a JVM, killed at `deadline` (perf_counter seconds); returns
    seconds from launch until it printed READY."""
    t0 = time.perf_counter()
    ready = None
    killed = threading.Event()
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, env=env,
                             text=True, cwd=ROOT)

        def kill():
            killed.set()
            p.kill()
        timer = threading.Timer(max(0.0, deadline - t0), kill)
        timer.start()
        try:
            for line in p.stdout:
                if ready is None and line.strip() == "PERFBENCH_READY":
                    ready = time.perf_counter() - t0
            rc = p.wait()
        finally:
            timer.cancel()
    if killed.is_set():
        fail(f"JVMs ran past {JVM_BUDGET_S} s; see {log}")
    if rc != 0 or ready is None:
        fail(f"JVM exited with {rc}; see {log}")
    return ready


def write_json(path, obj):
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS.get(a.workload) or fail(f"unknown workload {a.workload}")
    forks = 1 if a.trace else wl["forks"]
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    except (OSError, ValueError, KeyError):
        fail("no BENCHMARK.json with metric declarations at the checkout root")
    units = {m["name"]: m["unit"] for m in declared}
    cores = len(os.sched_getaffinity(0))
    for d in ("data", "oracle", "digests", "logs", "runs", "tmp"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    run_tag = f"{a.workload}_s{a.seed}"
    log = os.path.join(STATE, "logs", f"{run_tag}.log")
    open(log, "w").close()

    try:
        jars, classes, fixtures = build.ensure(
            ROOT, STATE, os.path.join(STATE, "logs", "build.log"))
    except build.BuildError as e:
        fail(str(e))
    src = source_fixture()
    data = gen.ensure(src, os.path.join(STATE, "data"), wl["factor"], a.seed,
                      gen.max_query_id(ROOT))
    # oracle results and reference digests belong to one input set and build
    tag = f"{a.workload}_{os.path.basename(data)}_{os.path.basename(classes)}"
    with open(os.path.join(classes, "oracles.json")) as f:
        all_sqls = json.load(f)
    sqls = {q: all_sqls[q] for q in wl["queries"] if q in all_sqls}
    oracle_dir, oracle_errors = oracle.ensure(
        sqls, data, os.path.join(STATE, "oracle"), tag)

    tmp = os.path.join(STATE, "tmp", f"{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    # the engine finds its file fixtures under java.io.tmpdir: copies of
    # the ones the oracle read, so both read the same bytes
    shutil.copytree(fixtures, tmp)
    props = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}/local",
             f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
             f"-Dspark.graft.stream.scratchDir={tmp}"]
    env = jvm_env(cores)
    outs = [os.path.join(STATE, "runs", f"{run_tag}_t{a.trace}_f{i}.json")
            for i in range(forks)]
    deadline = time.perf_counter() + JVM_BUDGET_S
    try:
        setup = []
        if not a.trace:
            for _ in range(SETUP_JVMS - forks):
                setup.append(launch(build.java_cmd(jars, classes, "perfbench.Main",
                                                   "setup", props=props),
                                    env, log, deadline))
        for out in outs:
            setup.append(launch(build.java_cmd(
                jars, classes, "perfbench.Main", "run", f"data={data}",
                f"queries={','.join(wl['queries'])}", f"seconds={a.seconds}",
                f"trace={a.trace}",
                f"oracle={oracle_dir}", f"tables={','.join(wl['inputs'])}",
                f"out={out}", props=props), env, log, deadline))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    records = []
    for out in outs:
        with open(out) as f:
            records.append(json.load(f))

    ref_path = os.path.join(STATE, "digests", f"{tag}.json")
    reference = {}
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            reference = json.load(f)
    attempted, failed, problems, digests = report.account(
        records, reference, sqls, oracle_errors)
    if failed == 0 and not reference:
        write_json(ref_path, digests)

    input_rows = sum(pq.ParquetFile(os.path.join(data, f"{t}.parquet"))
                     .metadata.num_rows for t in wl["inputs"])
    if a.trace:
        metrics = spans.layer_metrics(records[0])
    else:
        metrics = report.end_to_end(records, setup, input_rows)

    print(f"workload {a.workload}: seed {a.seed}, factor {wl['factor']}, "
          f"{cores} cores, {len(wl['queries'])} queries, "
          f"input rows {input_rows}")
    for i, r in enumerate(records):
        print(f"JVM {i + 1}/{forks} passes "
              + " ".join(f"{p['kind']}={p['wall_s']:.3f}s" for p in r["passes"]))
    if not a.trace:
        print(f"setup samples: {' '.join(f'{s:.3f}' for s in setup)} s")
        for line in report.detail_lines(records):
            print(line)
    if set(metrics) != set(units):
        fail(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    for name in sorted(metrics):
        print(f"{name}: {metrics[name]:.6g} {units[name]}")
    print(f"fail_ratio: {failed / attempted:.6g} ratio ({failed}/{attempted})")
    for p in problems:
        print(f"FAIL {p}")
    print("run records with spans: "
          + " ".join(os.path.relpath(out, ROOT) for out in outs))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
