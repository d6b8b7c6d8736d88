#!/usr/bin/env python3
"""jinxspark benchmark: builds the program from source, runs one workload and
prints every metric by name with its unit, then one JSON result line.

    python3 perfbench/run.py --workload validate_compiled --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. `--workload all` runs every workload in
turn. With `--trace 0` it reports the end-to-end metrics of BENCHMARK.json;
with `--trace 1` a traced run reports its per-layer metrics (see
perfbench/README.md for the metric definitions and what each workload is for).

Each run forks JVM legs one at a time: seeded inputs are generated (once
per input variant) in a leg of their own, a leg without Spark times the
Jinx.validate call loops, then LEGS identical measuring legs run, each a
fresh JVM with its own SparkSession at local[4]. A
traced run instead traces the workload at local[4] and adds one short leg
per other workload and one for validate_compiled at local[1], so every
per-layer metric is measured. Every pass is checked against an oracle; a
wrong or failed pass counts in `failed`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import lib  # noqa: E402
import oracles  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("validate_compiled", "validate_rowcore", "quality_run", "curate_queries")
# This box: 4 cores, 15 GB of RAM shared with others. One JVM runs at a time.
CORES = 4
HEAP = "3g"
YOUNG = "1g"
LEG_TIMEOUT_S = 170
# Legs per untraced run. Each is a fresh JVM, so setup_s is a median of this
# many set-ups, and the timings pool passes from JVMs whose JIT differs.
LEGS = 2
SWEEP_SEED = 0
# Input variants a seed picks from, as perfbench.Workloads.variant does.
VARIANTS = 4
# Rounds (sweeps over the draft-7 suite) each call loop of an untraced run
# makes untimed, then timed; about 2 s each on a 4-core box.
CALL_WARM_ROUNDS = 150
CALL_ROUNDS = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BenchError(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars


def build():
    """Compile the program and the harness with scalac, unless the sources
    are unchanged since the last build. Returns the JVM classpath and
    whether it built."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise BenchError("no program sources under src/main/scala: run from a checkout root")
    harness = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    digest = hashlib.sha256()
    for f in program + harness:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"), jars])
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp, False
    # cached inputs come from the program's own generator (DocTable.fromBase)
    shutil.rmtree(os.path.join(BUILD, "data"), ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(program + harness))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("build failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, True


def harness(cp, name, args, deadline):
    """Run perfbench.Harness in a JVM of its own, logging to `name`.log."""
    work = os.path.join(BUILD, "work")
    log = os.path.join(BUILD, "out", name + ".log")
    for d in (os.path.dirname(log), os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC", "-Xss4m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness",
            "--data", os.path.join(BUILD, "data"), "--work", work, "--repo", ROOT] + args)
    timeout = max(1.0, min(LEG_TIMEOUT_S, deadline - time.time()))
    t0 = time.time()
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{name} timed out; log: {log}")
    print(f"{name}: {time.time() - t0:.1f} s", file=sys.stderr)
    if r.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"{name} failed (exit {r.returncode}):\n{tail}")


def generate(cp, workloads, seeds, deadline):
    """Make sure the inputs of every seed's variant exist; generating them
    is not timed, and each variant gets a JVM of its own."""
    for variant in sorted({seed % VARIANTS for seed in seeds}):
        if not all(os.path.exists(os.path.join(BUILD, "data", f"{w}-v{variant}", ".complete"))
                   for w in workloads):
            harness(cp, f"gen-v{variant}", ["--gen-only", "1", "--workload", ",".join(workloads),
                                             "--seed", str(variant)], deadline)


def leg(cp, workload, cores, seed, seconds, min_passes, trace, deadline, tag="leg"):
    """Fork one JVM leg and return what it measured, one result per workload
    of the comma-separated `workload`."""
    name = f"{workload.replace(',', '+')}-c{cores}-s{seed}-t{int(trace)}-{tag}"
    out = os.path.join(BUILD, "out", name + ".json")
    if os.path.exists(out):
        os.remove(out)
    harness(cp, name, [
        "--gen-only", "0", "--workload", workload, "--cores", str(cores), "--seed", str(seed),
        "--seconds", f"{seconds:.3f}", "--min-passes", str(min_passes),
        "--trace", "1" if trace else "0", "--calls", "0", "--out", out], deadline)
    with open(out) as fh:
        return json.load(fh)


def calls_leg(cp, workload, seed, warm, rounds, deadline):
    """Fork a JVM that only runs the Jinx.validate call loops, one per core:
    `warm` untimed rounds each, then `rounds` timed rounds each."""
    name = f"calls-c{CORES}-s{seed}-w{warm}-r{rounds}"
    out = os.path.join(BUILD, "out", name + ".json")
    if os.path.exists(out):
        os.remove(out)
    harness(cp, name, [
        "--gen-only", "0", "--workload", workload, "--cores", str(CORES), "--seed", str(seed),
        "--calls", "1", "--call-warm", str(warm), "--call-rounds", str(rounds),
        "--out", out], deadline)
    with open(out) as fh:
        return json.load(fh)


def expected_summary(res):
    """The oracle for each pass of a leg, and the leg's once-per-run checks."""
    w, ref = res["workload"], res["reference"]
    checks = {}
    if w == "validate_compiled":
        checks["span sequence unchanged"] = ref["span_mismatches"] == 0 or ref["span_mismatches"]
        return oracles.verdicts(ref["base"], ref["sql_with"]), checks
    if w == "validate_rowcore":
        checks["jsonl verdicts equal compiled"] = ref["verdict_mismatches"] == 0 or ref["verdict_mismatches"]
        checks["malformed lines are parse violations"] = (
            ref["bad_parse_lines"] == 0 and ref["malformed"] > 0) or ref["bad_parse_lines"]
        return ref["expected"], checks
    if w == "quality_run":
        return oracles.quality(ref["base"], ref["sql_with"]), checks
    with open(os.path.join(HERE, "curate_fingerprints.json")) as fh:
        recorded = json.load(fh)
    variant = str(res["passes"][0]["summary"].get("variant"))
    if variant not in recorded:
        raise BenchError(f"no recorded fingerprints for curate variant {variant}")
    return {"fingerprints": recorded[variant]}, checks


def check(legs, calls):
    """Tally every leg's passes against its workload's oracle, and the
    draft-7 suite verdicts of the call loops."""
    attempted, failed, reasons = lib.tally(
        [], {}, {"draft7 suite verdicts": calls["wrong"] == 0 or f"{calls['wrong']} wrong"})
    for res in legs:
        expected, checks = expected_summary(res)
        a, f, r = lib.tally(res["passes"], expected, checks)
        attempted += a
        failed += f
        reasons += [f"{res['workload']} local[{res['cores']}] {x}" for x in r]
    return attempted, failed, reasons


def timed_passes(res):
    """The passes a leg's timings come from: the later half of its warm
    passes. The cold pass and the earlier warm passes still carry JIT
    warm-up, which is part of setup_s."""
    warm = res["passes"][1:]
    return warm[len(warm) // 2:]


def end_to_end(legs, loops):
    """Metrics of a run made of identical legs and a call-loop leg: setup_s
    is the median of the legs' set-ups; timings pool their timed passes."""
    timed = [p for r in legs for p in timed_passes(r)]
    try:
        calls = lib.call_latency(loops["round_p50_us"], loops["round_p99_us"],
                                 loops["round_ref_us"], loops["samples"])
    except ValueError as e:
        raise BenchError(str(e))
    docs = legs[0]["docs"]
    return {
        "setup_s": statistics.median(r["setup_s"] for r in legs),
        "docs_per_s": statistics.median(docs / p["s"] for p in timed),
        "pass_s": statistics.median(p["s"] for p in timed),
        "call_us_p50": calls["p50"],
        "call_us_p99": calls["p99"],
        "peak_task_mem_mb": max(p["window"]["peak_task_mem_mb"] for p in timed),
    }, {"call_rounds": calls["rounds"], "call_samples": calls["samples"],
        "call_unscaled_us_p50": calls["raw_p50"], "call_unscaled_us_p99": calls["raw_p99"],
        "timed_passes": len(timed)}


def per_layer(main, others):
    """Layer metrics: each leg's own, then the traced workload's Spark
    counters, planning phases, self times and tracing overhead."""
    m = {}
    for res in others + [main]:
        m.update(res["layers"])
        for name, s in lib.self_time_by_name(res["spans"]).items():
            m[f"self.{name}_s"] = s
    warm = timed_passes(main)
    med = lambda k: statistics.median(p["window"][k] for p in warm)
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"plan.{k}"] = med(k)
    m["plan.object_nodes"] = med("object_nodes")
    for k in ("jobs", "stages", "tasks", "task_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "gc_s"):
        m[f"spark.{k}"] = med(k)
    on = [p["s"] for p in warm if p["traced"]]
    off = [p["s"] for p in warm if not p["traced"]]
    split = [r["layers"] for r in [main] + others if r["workload"] == "validate_compiled"]
    full = {k: v for r in split for k, v in r.items() if k.startswith("ValidationJob.full_docs_per_s_")}
    m["ValidationJob.scaling_1_to_4"] = (full[f"ValidationJob.full_docs_per_s_{CORES}"] /
                                         full["ValidationJob.full_docs_per_s_1"] / CORES)
    m["trace.overhead_share"] = statistics.median(on) / statistics.median(off) - 1.0
    m["trace.spans"] = len(main["spans"])
    return m


def run_workload(cp, spec, workload, seed, seconds, trace, deadline):
    """Run one workload; returns (metrics, attempted, failed, notes)."""
    if not trace:
        generate(cp, [workload], [seed], deadline)
        calls = calls_leg(cp, workload, seed, CALL_WARM_ROUNDS, CALL_ROUNDS, deadline)
        legs = [leg(cp, workload, CORES, seed, seconds / LEGS, 4, False, deadline, f"leg{i}")[0]
                for i in range(LEGS)]
        metrics, notes = end_to_end(legs, calls)
        names = [x["name"] for x in spec["end_to_end"]]
    else:
        # the other workloads' legs only add their layers' numbers: they run
        # one traced pass each on a fixed input variant, generated once
        sweep = [w for w in WORKLOADS if w != workload]
        generate(cp, [workload], [seed], deadline)
        generate(cp, sweep, [SWEEP_SEED], deadline)
        # untimed: the call loops only give the draft-7 suite verdicts here
        calls = calls_leg(cp, workload, seed, 0, 0, deadline)
        main = leg(cp, workload, CORES, seed, 0.4 * seconds, 5, True, deadline)[0]
        split_seed = seed if workload == "validate_compiled" else SWEEP_SEED
        others = leg(cp, "validate_compiled", 1, split_seed, 0, 1, True, deadline)
        others += leg(cp, ",".join(sweep), CORES, SWEEP_SEED, 0, 1, True, deadline)
        legs = [main] + others
        metrics, notes = per_layer(main, others), {}
        names = [x["name"] for x in spec["per_layer"]]
    missing = sorted(set(names) - set(metrics))
    if missing:
        raise BenchError(f"metrics not measured: {missing}")
    attempted, failed, reasons = check(legs, calls)
    notes["env"] = legs[0]["env"]
    notes["reasons"] = reasons
    return {n: metrics[n] for n in names}, attempted, failed, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
        cp, built = build()
        # a run that had to build may take longer: it also generates the
        # inputs of every variant of the benchmark's workloads, so that later
        # runs measure without generating first
        deadline = t0 + (880 if built else 175)
        if built:
            generate(cp, [w["name"] for w in spec["workloads"]], range(VARIANTS), deadline)
        workloads = WORKLOADS if a.workload == "all" else (a.workload,)
        out, attempted, failed = {}, 0, 0
        for w in workloads:
            metrics, att, fail, notes = run_workload(cp, spec, w, a.seed, a.seconds, bool(a.trace),
                                                     deadline if a.workload != "all" else time.time() + 600)
            attempted += att
            failed += fail
            env = notes.pop("env")
            print(f"# {w} seed={a.seed} nproc={env['nproc']} heap_mb={env['heap_mb']} "
                  f"spark={env['spark']} jdk={env['jdk']} young={YOUNG} cores={CORES}")
            for r in notes.pop("reasons"):
                print(f"# WRONG {r}")
            print(f"# {w} attempted={att} failed={fail} fail_share={fail / att:.4f} "
                  + " ".join(f"{k}={v}" for k, v in notes.items()))
            for name, value in metrics.items():
                print(f"{w:18s} {name:42s} {value:14.6g} {units[name]}")
                out[name if len(workloads) == 1 else f"{w}.{name}"] = {"value": value, "unit": units[name]}
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
