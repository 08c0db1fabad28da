"""Entry point of the benchmark.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 3 --trace 0

builds the engine and the harness from source (build.py), writes the
seeded inputs (gen.py), runs the workload in one JVM on local[<cores>]
with one client thread in a closed loop (src/Harness.scala), checks every
output, and prints a report followed by one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Workloads (why each exists is in BENCHMARK.json):
  registry_mix        one query from each family of the frozen query
                      registry (gen.registry_sample) on the sf0.01 tables
                      copied to data/; the sample runs untimed once, then
                      timed passes repeat for --seconds, at least one whole
                      pass. A query's time is the median of its timed runs.
  street_build        build -> save -> load -> 1,000-edge update + re-save ->
                      GeoPackage export -> import, on a seeded street grid,
                      whole cycles for --seconds and at least two, after one
                      untimed small cycle.
  street_interactive  lookups, spatial queries and routing on a stored
                      package, in whole blocks of a fixed mix, for --seconds
                      and at least one block, after one untimed block.

With --trace 0 the metrics are the end-to-end ones (metrics.END_TO_END),
from untraced runs; every workload reports all of them. The
report lines before the JSON give each workload's own figures (fail_frac,
throughput per phase, latency percentiles by operation class).
With --trace 1 every unit runs both untraced and traced, the metrics are
the per-layer ones of layers.json, which also names the end-to-end metric
and workload each of them should move, and the spans and per-span Spark
counts are kept in <build dir>/traces/<workload>-<seed>.json.

--record re-runs the whole registry and rewrites the expected values.
--inject-failure corrupts one expected output, to show that a wrong
answer is counted as failed.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("registry_mix", "street_build", "street_interactive")
DATASET = "sf0.01"
EXPECTED = os.path.join(HERE, "expected", f"registry_{DATASET}.tsv")
# set-ups per run: Spark session starts, or package loads for street_interactive
SETUP_REPS = {"registry_mix": 5, "street_build": 5, "street_interactive": 3}
WARM_GRID = (8, 6)
RUN_LIMIT_S = 170
HEAP = "3g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def registry_dir():
    """The registry's frozen tables, a copy of the engine's sf0.01 test data."""
    return os.path.join(HERE, "data", DATASET)


def read_expected():
    with open(EXPECTED) as fh:
        return [line.rstrip("\n").split("\t") for line in fh if not line.startswith("#")]


def write_plan(path, settings, rows):
    with open(path, "w") as fh:
        for k, v in settings.items():
            fh.write(f"set\t{k}\t{v}\n")
        for r in rows:
            fh.write("\t".join(str(x) for x in r) + "\n")


def street_inputs(street, seed, prefix, work, settings):
    """Writes one network's files, adds its settings, returns its update rows."""
    base, reimport = street.write(work, prefix)
    settings.update({prefix + "base": base, prefix + "reimport": reimport,
                     prefix + "fid_offset": street.edges, prefix + "edges": street.edges,
                     prefix + "nodes": street.nodes,
                     prefix + "resurfaced": 2 * len(street.reimport)})
    return [(prefix + "upd",) + e for e in street.update_batch(seed)]


def plan_for(args, work, cores, queries=None):
    """Writes the run's plan; `queries` overrides the registry sample."""
    if args.workload == "registry_mix" and queries is None:
        queries = gen.registry_sample(args.seed, read_expected())
    settings = {"workload": args.workload, "cores": cores, "trace": args.trace,
                "seconds": args.seconds, "work": work, "setup_reps": SETUP_REPS[args.workload]}
    rows = []
    if args.workload == "registry_mix":
        settings["data"] = registry_dir()
        rows = [("q",) + q for q in queries]
        if args.inject_failure:
            rows[0] = rows[0][:3] + (int(rows[0][3]) + 1,) + rows[0][4:]
    else:
        street = (gen.Street(args.seed) if args.workload == "street_build"
                  else gen.Street(args.seed, *gen.CITY_GRID))
        settings["update_weight"] = gen.UPDATE_WEIGHT
        rows += street_inputs(street, args.seed, "", work, settings)
        if args.workload == "street_build":
            warm = gen.Street(args.seed, WARM_GRID[0], WARM_GRID[1])
            rows += street_inputs(warm, args.seed, "warm_", work, settings)
            if args.inject_failure:
                settings["edges"] += 1
        else:
            ops = gen.interactive_ops(street, args.seed, blocks=200)
            if args.inject_failure:
                i = next(i for i, o in enumerate(ops) if o[0] == "successors")
                ops[i] = ops[i][:-1] + ["99"]
            rows += [["op"] + o for o in ops]
            settings["block"] = gen.BLOCK_OPS
            rows += [["warm"] + o for o in gen.interactive_ops(street, args.seed + 1, blocks=1)]
    write_plan(os.path.join(work, "plan.tsv"), settings, rows)


def run_harness(classpath, work, deadline):
    # C1 only: a run lasts under a minute, too short for C2 to pay back its
    # compile threads, which otherwise take about a third of the cores at
    # random times and make the timings spread. A fixed heap keeps the
    # collector from resizing it at different points in different runs.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            os.path.join(work, "plan.tsv"), os.path.join(work, "result.json")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "harness.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    log.close()
    if code != 0:
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"run: harness exited with {code}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def record(classpath, args, cores):
    """Rewrites the expected registry values: every query's output, and its
    median time as the benchmark measures it, from fresh JVMs that each run
    one sample-sized chunk of the registry in a fixed shuffled order."""
    names = sorted(r[0] for r in read_expected())
    random.Random(0).shuffle(names)
    size = len(gen.registry_sample(0, read_expected()))
    rows = []
    for k in range(0, len(names), size):
        chunk = [(n, gen.family(n), "-", "-", "-") for n in names[k:k + size]]

        def one_chunk(work):
            plan_for(args, work, cores, chunk)
            return run_harness(classpath, work, time.time() + RUN_LIMIT_S)
        result = in_workdir(args, one_chunk)
        units = metrics.timed(result["units"])
        for u in units:
            if not u["note"]:
                sys.exit(f"run: {u['kind']} failed while recording: {u['err']}")
        notes = {u["kind"]: u["note"] for u in units}
        for name, s in metrics.per_query(units).items():
            rows.append("\t".join([name, notes[name], "%.4f" % s]))
        print(f"recorded {len(rows)} of {len(names)}", flush=True)
    with open(EXPECTED, "w") as fh:
        fh.write("# name\trows\txor64\tsum64\tref_s (timed pass, %d cores)\n" % cores)
        fh.write("\n".join(sorted(rows)) + "\n")


def in_workdir(args, body):
    """Runs body(work) in a fresh work directory that is removed afterwards."""
    work = os.path.join(build.build_dir(), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return body(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--inject-failure", action="store_true")
    args = ap.parse_args()
    classpath = build.build()
    cores = len(os.sched_getaffinity(0))
    if args.record:
        record(classpath, args, cores)
        return
    deadline = time.time() + RUN_LIMIT_S

    def one_run(work):
        plan_for(args, work, cores)
        return run_harness(classpath, work, deadline)
    result = in_workdir(args, one_run)
    if args.trace == 1:
        traces = os.path.join(build.build_dir(), "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(result, fh)
    out = metrics.summarize(result, args.trace == 1)
    if args.trace == 0:
        for line in metrics.report_lines(result, out):
            print(line)
    print(json.dumps(out["final"]))


if __name__ == "__main__":
    main()
