#!/usr/bin/env python3
"""Hosted end-to-end benchmark of the ingestion host.

    python3 hostbench/run.py --workload cdc_backfill --seed 1 --seconds 5 --trace 0

Builds the engine plus the benchmark's JVM half from the checkout's sources
(once per source tree), generates the workload's seeded inputs, runs the
hosted program on them in one JVM (`hostbench.Main`), checks the outputs
against the generator's planted truth and prints every metric by name with
its unit. The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. `--workload all` runs every workload
on the seed. See README.md.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from hb import checks, gen, layers  # noqa: E402
from hb.stats import median, tail  # noqa: E402

RUN_LIMIT_S = 165      # one run, build excluded
BUILD_LIMIT_S = 850
SETUP_REPS = 3

# Workload shapes; README.md says why each exists. Every timed repetition
# drains the whole backlog, one file per trigger. BENCHMARK.json lists the
# first two: corpus_build runs by name, but one of its runs costs more than
# a benchmark run's share of time.
WORKLOADS = {
    "cdc_backfill": dict(kind="cdm", files=30, rows_per_file=2000,
                         warm_files=1, warm_rows=2000),
    "decision_stream": dict(kind="dedup-decision", files=2, docs_per_file=200,
                            warm_files=1, warm_docs=30, coarse_k=16),
    "corpus_build": dict(kind="corpus-build", docs=1200, warm_docs=300),
}

# Wall-clock speed of the box drifts by more than the regression bounds
# within minutes (CPU steal and neighbours' load), so every timing is
# reported at a reference speed: scaled by the reference / the run's own
# probe figure, the median round of a fixed Spark-only job mix timed in
# rounds before and after the timed passes (`Main.probe`) — wall time for
# wall timings, process CPU time for CPU timings. The references are about
# one round's figures on the 4-core box the bounds were taken on; raw
# figures are printed beside scaled ones.
PROBE_REF = {"wall_s": 0.7, "cpu_s": 2.0}
# (probe figure, exponent) scaling each timing; rates scale inversely. Over
# ten-seed sets on both workloads the hosted passes slowed by about the
# probe's slowdown to the power 0.7 (a log-log fit), and that exponent gave
# the smallest spreads; set-up followed the probe one to one.
SCALED = {"cold_start_s": ("wall_s", 1), "setup_s": ("wall_s", 1), "rows_per_s": ("wall_s", -0.7),
          "trigger_p50_ms": ("wall_s", 0.7), "trigger_tail_ms": ("wall_s", 0.7),
          "cpu_ms_per_row": ("cpu_s", 0.7)}

# Reported, not gated: cold_start_s because JVM class loading and JIT track
# the probe poorly (its ten-run spread stayed at 0.22-0.29 after scaling);
# heap_peak_mb because after-GC occupancy includes garbage that G1 has not
# reclaimed yet, so its maximum follows G1's heap sizing (five-seed spread
# 0.28 on decision_stream). heap_retained_mb is the gated memory figure.
REPORTED = {"cold_start_s": "s", "heap_peak_mb": "MB"}
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "trigger_p50_ms": "ms",
    "trigger_tail_ms": "ms",
    "cpu_ms_per_row": "ms",
    "heap_retained_mb": "MB",
    "out_bytes_ratio": "ratio",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print("hostbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source tree (the digest covers every main source)."""
    stamp = os.path.join(HERE, "target", "hostbench-build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(HERE, "target", "hostbench-build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out (log: %s)" % log, 3)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (log: %s)" % log, 3)
    with open(stamp, "w") as f:
        f.write(digest)


# ------------------------------------------------------------- workloads

def prepare(name, seed, inp):
    """Generate the inputs; return (job inputs, truth, input rows, input
    bytes). Spec/env values carry `{out}`, bound per pass by the JVM."""
    w = WORKLOADS[name]
    out = "{out}"
    if name == "cdc_backfill":
        truth, nbytes = gen.gen_cdm(os.path.join(inp, "timed"), seed, w["files"], w["rows_per_file"])
        gen.gen_cdm(os.path.join(inp, "warm"), seed + 7919, w["warm_files"], w["warm_rows"])
        gen.gen_cdm(os.path.join(inp, "resetup"), seed, 0, 0)

        def spec(which):
            return {"rootPath": os.path.join(inp, which), "entityName": gen.CDM_ENTITY,
                    "maxFilesPerTrigger": 1, "sinkPath": out + "/sink",
                    "checkpointPath": out + "/ckpt", "stopAfterBackfill": True}
        inputs = {k: spec(k) for k in ("warm", "resetup", "timed")}
        return inputs, truth, sum(truth.values()), nbytes
    if name == "decision_stream":
        truth, nbytes = gen.gen_decision(os.path.join(inp, "timed"), seed,
                                         w["files"], w["docs_per_file"], w["coarse_k"])
        gen.gen_decision(os.path.join(inp, "warm"), seed + 7919, w["warm_files"], w["warm_docs"],
                         w["coarse_k"])
        gen.gen_decision(os.path.join(inp, "resetup"), seed, 0, 0, w["coarse_k"])

        def spec(which):
            return {"sourcePath": os.path.join(inp, which, "docs"),
                    "schemaDdl": "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>",
                    "embeddingColumn": "embedding",
                    "quantizerIndexPath": os.path.join(inp, which, "quantizer"),
                    "storePath": out + "/store", "clusterPath": out + "/clusters",
                    "checkpointPath": out + "/ckpt", "maxFilesPerTrigger": 1,
                    "stopAfterBackfill": True}
        inputs = {k: spec(k) for k in ("warm", "resetup", "timed")}
        return inputs, truth, len(truth), nbytes
    truth, nbytes = gen.gen_corpus(os.path.join(inp, "timed"), seed, w["docs"])
    gen.gen_corpus(os.path.join(inp, "warm"), seed + 7919, w["warm_docs"])

    def env(which):
        return {"CORPUS_BUILD_DOCS_PATH": os.path.join(inp, which, "documents"),
                "CORPUS_BUILD_EMBEDDINGS_PATH": os.path.join(inp, which, "embeddings"),
                "CORPUS_BUILD_OUTPUT_PATH": out, "CORPUS_BUILD_QUALITY": "classifier"}
    # a batch build has no empty feed: its set-up repeats the warm-up build
    inputs = {"warm": env("warm"), "resetup": env("warm"), "timed": env("timed")}
    return inputs, truth, len(truth), nbytes


def data_triggers(trigs):
    return [t for t in trigs if t["rows"] > 0]


def du(path):
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += os.path.getsize(os.path.join(d, f))
    return n


def check(name, out, truth):
    if name == "cdc_backfill":
        return checks.check_cdc(os.path.join(out, "sink"), truth)
    if name == "decision_stream":
        exp = os.path.join(out, "export")
        return checks.check_decisions(
            checks.read_tsv(os.path.join(exp, "decisions.tsv"), (int, str, int)),
            checks.read_tsv(os.path.join(exp, "components.tsv"), (int, int)), truth)
    return checks.check_corpus(out, truth, bench_max_id=gen.BENCH_MAX_ID)


def same_outputs(name, a, b):
    if name == "cdc_backfill":
        return checks.same_cdc(os.path.join(a, "sink"), os.path.join(b, "sink"))
    if name == "decision_stream":
        return checks.same_files(os.path.join(a, "export"), os.path.join(b, "export"),
                                 ("decisions.tsv", "components.tsv"))
    return checks.same_corpus(a, b)


def output_bytes(name, out):
    """Bytes left under the sink / store / output roots."""
    if name == "cdc_backfill":
        return du(os.path.join(out, "sink"))
    if name == "decision_stream":
        return du(os.path.join(out, "store")) + du(os.path.join(out, "clusters"))
    return sum(du(os.path.join(out, d)) for d in ("ledger", "corpus", "manifest", "input_manifest"))


def run_jvm(job, work, deadline):
    job_path = os.path.join(work, "job.json")
    res_path = os.path.join(work, "result.json")
    with open(job_path, "w") as f:
        json.dump(job, f)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set", 2)
    cp = os.path.join(HERE, "target", "scala-2.13", "classes") + os.pathsep + \
        os.path.join(spark_home, "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss32m", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "hostbench.Main", job_path, res_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(res_path):
        sys.stderr.write(open(log).read()[-6000:])
        fail("benchmark JVM %s" % ("timed out" if code is None else "exited %s" % code), 4)
    with open(res_path) as f:
        return json.load(f)


def run_workload(name, seed, seconds, trace):
    t_start = time.time()
    w = WORKLOADS[name]
    streaming = w["kind"] != "corpus-build"
    work = os.path.join(ROOT, ".bench_build", "hostbench", "%s-s%d-%d" % (name, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs, truth, in_rows, in_bytes = prepare(name, seed, os.path.join(work, "input"))
    job = dict(inputs, workload=name, kind=w["kind"], work=os.path.join(work, "runs"),
               cores=os.cpu_count() or 1, seconds=seconds, trace=bool(trace),
               # a traced run reports no set-up time
               setup_reps=0 if trace else SETUP_REPS)
    res = run_jvm(job, work, t_start + RUN_LIMIT_S)
    reps = res["reps"]

    def ops(r):
        """Operations of one pass: data triggers, or build phases."""
        return len(data_triggers(r["triggers"])) if streaming else len(r["phases"])

    errs = []
    for i, r in enumerate(reps):
        if r["exit"] != 0:
            errs.append("timed repetition %d exited %d" % (i, r["exit"]))
        if streaming and ops(r) != w["files"]:
            errs.append("repetition %d ran %d data triggers, expected %d" % (i, ops(r), w["files"]))
        if streaming and sum(t["rows"] for t in r["triggers"]) != in_rows:
            errs.append("repetition %d read %d rows, expected %d"
                        % (i, sum(t["rows"] for t in r["triggers"]), in_rows))
    errs += check(name, reps[0]["out"], truth)
    attempted = sum(ops(r) for r in reps)

    def latencies(r):
        if streaming:
            return [t["duration_ms"]["triggerExecution"] for t in data_triggers(r["triggers"])]
        return [p["ms"] for p in r["phases"]]
    lat = [x for r in reps for x in latencies(r)]
    # the tail is taken within each repetition, so its percentile is fixed
    # by the workload's shape, not by how many repetitions fit the run
    tails = [tail(latencies(r)) for r in reps]
    tail_p = tails[0][1]
    raw = {
        "cold_start_s": res["cold_start_s"],
        "setup_s": median(res["setup_s"]) if res["setup_s"] else 0.0,
        "rows_per_s": median([in_rows / r["wall_s"] for r in reps]),
        "trigger_p50_ms": median(lat),
        "trigger_tail_ms": median([t for t, _ in tails]),
        "cpu_ms_per_row": median([r["cpu_s"] * 1000.0 / in_rows for r in reps]),
        "heap_peak_mb": median([r["heap_peak_bytes"] / 2.0 ** 20 for r in reps]),
        "heap_retained_mb": median([r["heap_retained_bytes"] / 2.0 ** 20 for r in reps]),
        "out_bytes_ratio": output_bytes(name, reps[0]["out"]) / in_bytes,
    }
    probe = ({k: median([p[k] for p in res["probe"]]) for k in PROBE_REF}
             if res["probe"] else dict(PROBE_REF))  # traced runs skip the probe
    scale = {k: PROBE_REF[k] / v for k, v in probe.items()}
    metrics = {k: v * (scale[SCALED[k][0]] ** SCALED[k][1] if k in SCALED else 1.0)
               for k, v in raw.items()}

    per_layer = None
    if trace:
        tr = res["traced"]
        attempted += ops(tr)
        if tr["exit"] != 0:
            errs.append("traced run exited %d" % tr["exit"])
        else:
            errs += same_outputs(name, reps[0]["out"], tr["out"])
        verdicts = None
        if name == "decision_stream":
            verdicts = checks.verdict_counts(checks.read_tsv(
                os.path.join(tr["out"], "export", "decisions.tsv"), (int, str, int)))
        sink_stats = None
        if name == "cdc_backfill":
            data = os.path.join(tr["out"], "sink", "data")
            sink_stats = (sum(len(f) for _, _, f in os.walk(data)), du(data))
        per_layer = layers.compute(tr, [r["wall_s"] for r in reps], res["cores"], in_bytes,
                                   in_rows, data_triggers(tr.get("triggers", [])),
                                   verdicts, sink_stats)
        spans_out = os.path.join(ROOT, ".bench_build", "hostbench", "spans",
                                 "%s-s%d.jsonl" % (name, seed))
        layers.write_span_file(spans_out, tr)
        print("# %s traced run %s, spans in %s" % (name, tr["run_id"], spans_out))
        print("# %-34s %6s %12s %12s" % ("span", "calls", "total_ms", "self_ms"))
        for n, calls, tot, slf in layers.self_time_table(tr):
            print("# %-34s %6d %12.1f %12.1f" % (n, calls, tot, slf))

    failed = attempted if errs else 0
    for e in errs:
        print("CHECK FAILED [%s]: %s" % (name, e), file=sys.stderr)
    print("# %s seed=%d reps=%d operations=%d failed_ratio=%.4f trigger_tail=p%.1f %s"
          % (name, seed, len(reps), attempted, failed / max(1, attempted), tail_p,
             "probe wall/cpu %.3f/%.3f s, scale %.3f/%.3f"
             % (probe["wall_s"], probe["cpu_s"], scale["wall_s"], scale["cpu_s"])
             if res["probe"] else "unscaled (no probe in a traced run)"))
    print("# %-16s %14s %14s" % ("metric", "value", "raw"))
    for k, unit in dict(END_TO_END, **REPORTED).items():
        print("%-18s %14.4f %14.4f %s" % (k, metrics[k], raw[k], unit))
    if per_layer:
        for k, v in per_layer.items():
            print("%-42s %16.4f %s" % (k, v, layers.unit(k)))
    shutil.rmtree(work, ignore_errors=True)
    if trace:
        shown = {k: {"value": v, "unit": layers.unit(k)} for k, v in per_layer.items()}
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not errs, "attempted": max(1, attempted), "failed": failed,
            "metrics": shown}


def main():
    ap = argparse.ArgumentParser(description="Hosted end-to-end benchmark (see README.md).")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under %s" % os.path.join(ROOT, "src", "main", "scala"), 2)
    build()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {n: run_workload(n, a.seed, a.seconds, a.trace) for n in names}
    if len(names) == 1:
        out = results[names[0]]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {"%s.%s" % (n, k): v for n, r in results.items()
                           for k, v in r["metrics"].items()}}
    print(json.dumps(out, sort_keys=True))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
