#!/usr/bin/env python3
"""Benchmark of the graft MapReduce engine: one closed-loop client on a
local[4] Spark session, over the sf0.1 corpus vendored in perfbench/data.

Usage (from the repository root):

    python3 perfbench/run.py --workload mr_batch --seed 1 --seconds 10 --trace 0

The engine and the harness are compiled into .bench_build/classes on the
first run (perfbench/build.sh), and again whenever a source changes.

A run sets up the engine several times, makes one untimed pass in the
workload's own key order that warms the JVM and builds standing artifacts,
then makes timed passes over the keys for --seconds, each in an order
drawn from --seed. Every query's output is checked outside the timed
window: the oracled keys against their DuckDB SQL oracle
(SparkEntry.oracleSql), the others with their SelfChecks entry. A failed
or wrong-output query counts as failed.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones: the CPU time
the process spends per query and the set-up time. With --trace 1 they are
the per-layer ones, from listeners that the harness adds to every second
timed pass; the wall-clock query rate and latency are among them, taken
from the untraced passes, because on a shared host the hypervisor's CPU
steal moves them from run to run by more than any bound worth gating on.
The line before the result carries the seed, the key orders, the per-key
latencies and CPU times and the output-check verdicts. Traced runs also
write their spans to .bench_build/traces/ as JSON lines.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"

# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    "mr_batch": [
        "w1_word_count", "w2_char_count", "w3_peak_concurrent", "w4_suspect_sets",
        "mr_word_count", "pipe_word_count", "pipe_argv_word_count",
        "q1_pricing_summary", "q5_region_revenue", "q_skew_join",
    ],
    "index_serve_ingest": [
        "text_bm25_served", "text_bm25_served_maxscore", "sim_ivf_topk_served",
        "decontaminate_bloom_served", "stream_ivf_ingest",
    ],
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CORES = 4
SETUPS = 5
JVM_TIMEOUT_S = 160
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, or None without engine sources."""
    sources = sorted((ROOT / "src" / "main").rglob("*.scala"))
    if not sources:
        return None
    h = hashlib.sha256()
    for f in sources + sorted((BENCH / "harness").glob("*.scala")) + [BENCH / "build.sh"]:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def spark_jars():
    """Spark's jar directory: under $SPARK_HOME, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def build():
    digest = source_digest()
    if digest is None:
        fail("no engine sources under src/main")
    stamp = CLASSES / "digest"
    if stamp.is_file() and stamp.read_text() == digest:
        return
    r = subprocess.run(["bash", str(BENCH / "build.sh"), str(CLASSES), str(spark_jars())],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    stamp.write_text(digest)


def steal_s():
    """CPU time the hypervisor took from this machine so far (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(args, keys, data, work, spans):
    jars = spark_jars()
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", *opens,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{jars}/*:{CLASSES / 'main'}:{CLASSES / 'harness'}",
           "graft.perfbench.Harness",
           f"data={data}", f"keys={','.join(keys)}", f"seed={args.seed}",
           f"seconds={args.seconds}", f"trace={args.trace}", f"setups={SETUPS}",
           f"cores={CORES}", f"work={work}", f"spans={spans}"]
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S, cwd=work)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_TIMEOUT_S} s")
    if r.returncode != 0 or not (work / "result.json").is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness exited with {r.returncode}")
    return json.loads((work / "result.json").read_text())


def canon(rows):
    """Rows as comparable tuples; floats by repr, so equal means bit-equal."""
    def cell(v):
        if isinstance(v, float):
            return ("f", repr(v))
        if isinstance(v, list):
            return ("l", json.dumps([str(x) for x in v]))
        return (type(v).__name__[:1], str(v))
    return [tuple(cell(v) for v in row) for row in rows]


def oracle_mismatches(data, out_dir, oracle, tmp):
    """Keys whose parquet output differs from their DuckDB oracle, with why."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for key, sql in sorted(oracle.items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{key}/*.parquet')")
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
            exp = con.execute(sql)
            exp_cols = [d[0] for d in exp.description]
            exp_rows = exp.fetchall()
        except Exception as e:  # a missing output or a failing oracle
            bad[key] = str(e)[:200]
            continue
        if sorted(got_cols) != sorted(exp_cols):
            bad[key] = f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
            continue
        cols = sorted(got_cols)
        g = canon([[r[got_cols.index(c)] for c in cols] for r in got_rows])
        e = canon([[r[exp_cols.index(c)] for c in cols] for r in exp_rows])
        if g != e and sorted(g) != sorted(e):
            bad[key] = f"{len(g)} rows differ from the oracle's {len(e)}"
    return bad


def median_of(xs):
    return statistics.median(xs) if xs else 0.0


def key_medians(samples, keys, field):
    """Each key's median of field(sample) over its samples: every key
    weighs the same however many passes a run makes."""
    return {k: median_of([field(s) for s in samples if s["key"] == k]) for k in keys}


def latency_s(sample):
    return sample["construct_s"] + sample["exec_s"]


def wall_metrics(samples, keys):
    p50 = key_medians(samples, keys, latency_s)
    return {
        # one pass made of every key's median latency
        "queries_per_s": len(keys) / sum(p50.values()),
        # the geometric mean over keys, so that no single key decides the
        # figure as a median over a handful of unlike keys would
        "latency_p50_geomean_s": math.exp(statistics.fmean(math.log(v) for v in p50.values())),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default="sf0.1", help="corpus under perfbench/data")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    data = BENCH / "data" / args.data
    if not all((data / f"{t}.parquet").is_file() for t in TABLES):
        fail(f"corpus {data} is incomplete")
    build()
    keys = WORKLOADS[args.workload]
    # runs are sequential: whatever is under work/ was left by a killed run
    shutil.rmtree(BUILD / "work", ignore_errors=True)
    work = BUILD / "work" / args.workload
    spans = BUILD / "traces" / f"{args.workload}-{args.data}-seed{args.seed}.jsonl"
    try:
        steal0 = steal_s()
        res = run_jvm(args, keys, data, work, spans)
        steal = steal_s() - steal0
        wrong = oracle_mismatches(data, work / "out", res["oracle_sql"], work / "tmp")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for key, chk in res["self_checks"].items():
        if not chk["pass"]:
            wrong[key] = chk["detail"]
    for key in keys:
        if key not in res["oracle_sql"] and key not in res["self_checks"]:
            wrong[key] = "no oracle and no self-check"
    warmup_errors = [e for e in res["errors"] if e["pass"] == 0]

    samples = res["samples"]
    failed = sum(1 for s in samples if not s["ok"] or s["key"] in wrong)
    passes = res["passes"]
    by_key = {k: [latency_s(s) for s in samples if s["key"] == k] for k in keys}
    key_p50 = key_medians(samples, keys, latency_s)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "data": args.data,
        "order": res["order"], "setup_s": res["setup_s"], "warmup_s": res["warmup_s"],
        "warmup_key_s": res["warmup_key_s"], "self_checks_s": res["self_checks_s"],
        "steal_s": steal, "pass_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "pass_jit_s": [p["jit_s"] for p in passes],
        "latency_samples": len(samples), "latency_s": by_key,
        "cpu_s": {k: [s["cpu_s"] for s in samples if s["key"] == k] for k in keys},
        "per_key": {f"query.{k}.p50_s": v for k, v in key_p50.items()},
        "wrong_output": wrong, "errors": res["errors"][:20],
    }))

    if args.trace:
        traced = [p["wall_s"] for p in passes if p["traced"]]
        plain = [p["wall_s"] for p in passes if not p["traced"]]
        traced_passes = {p["pass"] for p in passes if p["traced"]}
        metrics = dict(res["layers"])
        metrics.update(wall_metrics([s for s in samples if s["pass"] not in traced_passes], keys))
        metrics.update({
            "trace.overhead_share": median_of(traced) / median_of(plain) - 1,
            "latency.samples": len(samples),
            "failed_share": failed / len(samples),
            "warmup_s": res["warmup_s"],
            "jvm.heap_peak_mb": res["jvm.heap_peak_mb"],
            "peak_rss_mb": res["peak_rss_mb"],
        })
    else:
        metrics = {
            "setup_s": median_of(res["setup_s"]),
            # CPU time of the whole process (driver, tasks, JIT, GC) while
            # a query ran, each key's median, then the mean over keys: the
            # hypervisor's steal, which sets most of the wall-clock spread
            # on a shared host, moves it far less than it moves wall time
            "cpu_s_per_query": statistics.fmean(
                key_medians(samples, keys, lambda s: s["cpu_s"]).values()),
        }
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = declared["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": not wrong and not warmup_errors and failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }))


if __name__ == "__main__":
    main()
