#!/usr/bin/env python3
"""Benchmark of the graft library: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
harness (perfbench/build.py). A run generates the workload's inputs from
the seed, starts one JVM on Spark local[nproc], sets the workload up,
warms it up, measures a closed loop for `--seconds`, checks every result,
and prints each metric with its unit and sample count, then - as the last
line - one JSON object {correct, attempted, failed, metrics}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, from spans and a Spark listener. Details, per-layer files
and spans go to .bench_out/<workload>/. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ["mare_pipe", "query_deck", "index_serve"]
JVM_TIMEOUT_S = 150
# a fixed heap and young generation keep the peak RSS from following GC
# sizing decisions
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
SERVE_CACHE_BUDGET = 256 << 20  # the bloom and zone serve-cache defaults
LOOP_CAPS = {"cc_rows": 131072, "bpe_words": 131072, "pagerank_edges": 4096}

END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("op_p50_ms", "ms"),
              ("ops_per_s", "1/s")]
# per-layer metrics every traced run reports; a layer the workload does
# not call reports 0
PER_LAYER = [
    ("spark.jobs", "count/op"), ("spark.pool_jobs", "count/op"),
    ("spark.stages", "count/op"), ("spark.tasks", "count/op"),
    ("spark.executor_run_s", "s/op"), ("spark.executor_cpu_s", "s/op"),
    ("spark.shuffle_write_bytes", "B/op"), ("spark.spill_bytes", "B/op"),
    ("spark.driver_gap_s", "s/op"), ("layer.self_s", "s/op"),
    ("trace.overhead_pct", "%"),
    ("operators.command_runs", "count/op"),
    ("sources.lookup_jobs", "count/op"), ("sources.lookup_files_read", "count/op"),
    ("sources.lookup_prune_ratio", "ratio"), ("sources.agg_jobs", "count/op"),
    ("sources.agg_files_scanned", "count/op"), ("sources.admit_jobs", "count/op"),
    ("sources.compaction_bytes_rewritten", "B"), ("sources.write_amp", "ratio"),
    ("sources.store_files", "count"), ("sources.refresh_jobs", "count/op"),
]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    """90th percentile; needs 10 samples."""
    return statistics.quantiles(xs, n=10)[8] if len(xs) >= 10 else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def run_jvm(classpath, workload, data, work, out, seconds, trace, jvm_opts=()):
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    out.mkdir(parents=True, exist_ok=True)
    for f in ("result.json", "spans.jsonl"):
        (out / f).unlink(missing_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-XX:-UsePerfData", *JVM_HEAP, *jvm_opts, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", "--workload", workload,
           "--data", str(data), "--work", str(work), "--out", str(out),
           "--seconds", str(seconds), "--trace", str(trace), "--t0", repr(time.time())]
    env = dict(os.environ, TMPDIR=str(work / "tmp"))
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM did not finish within {JVM_TIMEOUT_S} s; see {out / 'jvm.log'}")
    if code != 0 or not (out / "result.json").exists():
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"JVM exited with {code}; log tail:\n{tail}")
    return json.loads((out / "result.json").read_text())


def class_archive(classpath, build, gen):
    """JVM options that map the build's class-data archive, made first if
    missing. One short mare_pipe run on seed 0 records the classes it
    loads - the JDK's, Spark's and the program's - and later runs map them
    instead of loading and verifying each, which takes a few seconds off
    the JVM and session start. If that run fails, no archive is made and
    classes load as usual."""
    jsa = build.archive().resolve()
    if not jsa.exists():
        root = Path(".bench_run") / "train"
        shutil.rmtree(root, ignore_errors=True)
        try:
            gen.generate("mare_pipe", 0, str(root / "data"))
            run_jvm(classpath, "mare_pipe", (root / "data").resolve(), (root / "work").resolve(),
                    (Path(".bench_out") / "train").resolve(), 0, 0,
                    [f"-XX:ArchiveClassesAtExit={jsa}"])
        except SystemExit:
            jsa.unlink(missing_ok=True)
            sys.stderr.write("perfbench: no class-data archive; classes load as usual\n")
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else []


def deck_inputs(tables):
    """Which side of each driver-loop cap the deck's inputs fall."""
    import duckdb
    con = duckdb.connect()
    t = lambda n: f"'{tables}/{n}.parquet'"
    cc = con.sql(f"SELECT count(*) FROM {t('documents')}").fetchone()[0]
    words = con.sql(
        "SELECT count(DISTINCT w) FROM (SELECT unnest(regexp_split_to_array("
        f"lower(text), '\\s+')) AS w FROM {t('documents')}) WHERE length(w) > 0"
    ).fetchone()[0]
    edges = con.sql(
        "SELECT count(*) FROM (SELECT DISTINCT src, event_type FROM (SELECT "
        "event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, "
        f"event_id) AS src FROM {t('events')}) WHERE src IS NOT NULL)").fetchone()[0]
    con.close()
    got = {"cc_rows": cc, "bpe_words": words, "pagerank_edges": edges}
    return {k: {"input": v, "cap": LOOP_CAPS[k],
                "path": "driver" if v <= LOOP_CAPS[k] else "distributed"}
            for k, v in got.items()}


def details(workload, res, sizes, gen_s):
    """Every named metric of the workload: (name, value, unit, samples)."""
    ops = res["ops"]
    loop_s = res["measure_s"]
    reps = res["setup_reps_s"]
    setup = gen_s + res["session_s"] + median(reps) + res["warm_s"]
    out = [("setup_s", setup, "s", len(reps)),
           ("peak_rss_mb", res["peak_rss_mb"], "MB", 1),
           ("error_rate", res["failed"] / max(res["attempted"], 1), "ratio", res["attempted"])]
    lat = lambda k: ops.get(k, [])
    if workload == "mare_pipe":
        jobs = lat("pipe_job")
        mb = res["counters"].get("corpus_bytes", sizes["bytes"]) / 1e6
        out += [("pipe_mb_per_s", mb * len(jobs) / loop_s, "MB/s", len(jobs)),
                ("pipe_job_p50_ms", median(jobs), "ms", len(jobs))]
        headline, n_head = median(jobs), len(jobs)
        n_ops = n_head
    elif workload == "query_deck":
        per_q = {q: median(v) for q, v in ops.items() if q != "deck_pass"}
        passes = lat("deck_pass")
        out += [("deck_pass_p50_s", median(passes) / 1e3, "s", len(passes)),
                ("deck_query_geomean_s", geomean(list(per_q.values())) / 1e3, "s",
                 min((len(v) for q, v in ops.items() if q != "deck_pass"), default=0))]
        out += [(f"query.{q}_s", v / 1e3, "s", len(ops[q])) for q, v in per_q.items()]
        headline = geomean(list(per_q.values()))
        n_ops = sum(len(v) for q, v in ops.items() if q != "deck_pass")
        n_head = n_ops
    else:
        loop = {k: v for k, v in ops.items() if not k.startswith("setup.")}
        n_ops = sum(len(v) for v in loop.values())
        c = res["counters"]
        admits = lat("setup.admit")
        for k in ("lookup", "range_agg"):
            out += [(f"{k}_p50_ms", median(lat(k)), "ms", len(lat(k))),
                    (f"{k}_p90_ms", p90(lat(k)), "ms", len(lat(k)))]
        out += [("serve_ops_per_s", n_ops / loop_s, "1/s", n_ops),
                ("batch_lookup_p50_ms", median(lat("batch_lookup")), "ms", len(lat("batch_lookup"))),
                ("range_lookup_p50_ms", median(lat("range_lookup")), "ms", len(lat("range_lookup"))),
                ("refresh_lookup_ms", median(lat("setup.refresh_lookup")), "ms",
                 len(lat("setup.refresh_lookup"))),
                ("admit_p50_ms", median(admits), "ms", len(admits)),
                ("admit_p90_ms", p90(admits), "ms", len(admits)),
                ("ingest_rows_per_s", sizes["rows"] * len(admits) / sizes["batches"]
                 / (sum(admits) / 1e3) if admits else float("nan"), "rows/s", len(admits)),
                ("maintain_p50_ms", median(lat("setup.maintain")), "ms", len(lat("setup.maintain"))),
                ("bytes_per_user_byte", c["store_bytes"] / c["plain_bytes"], "ratio", 1)]
        headline, n_head = median(lat("lookup")), len(lat("lookup"))
    out += [("op_p50_ms", headline, "ms", n_head), ("ops_per_s", n_ops / loop_s, "1/s", n_ops)]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    sys.path.insert(0, str(HERE))
    import build
    import gen
    classpath = build.build()
    jvm_opts = class_archive(classpath, build, gen)

    root = Path(".bench_run") / a.workload
    shutil.rmtree(root, ignore_errors=True)
    data, work = root / "data", root / "work"
    out = Path(".bench_out") / a.workload / ("traced" if a.trace else "plain")
    try:
        t0 = time.time()
        sizes = gen.generate(a.workload, a.seed, str(data))
        gen_s = time.time() - t0
        res = run_jvm(classpath, a.workload, data.resolve(), work.resolve(),
                      out.resolve(), a.seconds, a.trace, jvm_opts)
        inputs = {"sizes": sizes}
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if a.workload == "query_deck":
            import oracle
            deck = json.loads((out / "deck" / "queries.json").read_text())
            problems = oracle.check(out / "deck", data / "tables", deck)
            broken = json.loads((out / "deck" / "broken.json").read_text())
            for q, msg in problems.items():
                failures.append(f"{q}: {msg}")
                # every execution of a query whose result is wrong failed;
                # those of a query that threw were counted by the JVM
                if q not in broken:
                    failed += max(len(res["ops"].get(q, [])), 1)
            inputs["driver_loop_caps"] = deck_inputs(data / "tables")
            inputs["oracle_failures"] = problems
        if a.workload == "index_serve":
            c = res["counters"]
            inputs["serve_cache"] = {
                store: {"stats_bytes": c[f"{store}_stats_bytes"], "budget": SERVE_CACHE_BUDGET,
                        "fits": c[f"{store}_stats_bytes"] <= SERVE_CACHE_BUDGET}
                for store in ("bloom", "zone")}
    finally:
        shutil.rmtree(root, ignore_errors=True)

    res["attempted"], res["failed"] = attempted, failed
    named = details(a.workload, res, sizes, gen_s)
    layers = res["layers"]
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cpus": res["cpus"], "inputs": inputs,
              "metrics": {n: {"value": v, "unit": u, "samples": k} for n, v, u, k in named},
              "layers": layers, "failures": failures[:50],
              "setup": {"gen_s": gen_s, "session_s": res["session_s"],
                        "reps_s": res["setup_reps_s"], "warm_s": res["warm_s"]}}
    (out / "metrics.json").write_text(json.dumps(record, indent=1) + "\n")
    if a.trace:
        (out / "layers.json").write_text(json.dumps(layers, indent=1) + "\n")

    for n, v, u, k in named:
        print(f"{a.workload} {n} = {v:.6g} {u} (n={k})")
    for n in sorted(layers):
        print(f"{a.workload} {n} = {layers[n]['value']:.6g} {layers[n]['unit']} [traced]")
    for f in failures[:10]:
        print(f"{a.workload} FAILED: {f}")
    by_name = {n: (v, u) for n, v, u, _ in named}
    if a.trace:
        metrics = {n: {"value": layers.get(n, {"value": 0.0})["value"], "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": by_name[n][0], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}, allow_nan=False))


if __name__ == "__main__":
    main()
