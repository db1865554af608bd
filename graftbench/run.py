#!/usr/bin/env python3
"""The graft benchmark: one command, two workloads, end to end and per layer.

    python3 graftbench/run.py --workload curation|stream \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the library and the benchmark
(`build.py`, skipped when nothing changed), generates the workload's inputs
from the seed (`gen.py`; the stream feed is generated inside the JVM),
runs one JVM at `local[nproc]` that measures for `--seconds`, checks every
output (batch: each query's result against its DuckDB oracle from
`SparkEntry.oracleSql`; stream: events accounted for, final state, rejects),
and prints, as the last line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. The line before it is the run's
record (seed, inputs, host, master, load). See README.md for every metric.

Everything it writes goes under `.bench_build/graftbench` in the checkout;
every process it starts has exited when it returns.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
WORKLOADS = ("curation", "stream")

# Inputs: documents and embeddings rows, and the share of exact twins; then
# the boilerplate block: documents, and the distinct texts they copy.
DOCS, VECS, TWIN_SHARE = 600, 300, 0.4
BOILER_DOCS, BOILER_TEXTS = 1100, 100
# Stream feed, events per second, and the burst that measures the drain.
LOW_RATE, HIGH_RATE, BURST = 1000, 20000, 100000
JVM_HEAP = "2g"


def jvm_timeout(seconds):
    """Seconds the JVM may run before it is killed: far above any plausible
    run (about 50 s at --seconds 8), so a slow run is reported, not cut."""
    return 600 + 20 * seconds


END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"),
    ("lat_p50_ms.low", "ms"), ("lat_p99_ms.low", "ms"),
    ("lat_p50_ms.high", "ms"), ("lat_p99_ms.high", "ms"),
    ("sustained_eps", "1/s"), ("peak_rss_mb", "MB"),
]

# The fixed query set: sample the corpus (`queries.Relational`), then dedup
# and cluster it (`ops`). Sized so that a run, set-up included, stays under
# 60 s on a 4-core host (see README.md).
CURATION = ["q42_stratified_sample", "d4_ngram_jaccard", "d13_span_scrub",
            "s7_kmeans_assign"]

PER_LAYER = [
    ("queries.build_s", "s"), ("ops.build_s", "s"), ("ops.build_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("sources.scan_s", "s"), ("sources.scan_bytes", "bytes"),
    ("sources.scan_rows", "rows"), ("sources.scan_tasks", "count"),
    ("exec.jobs", "count"), ("exec.tasks", "count"), ("exec.run_s", "s"),
    ("exec.cpu_s", "s"), ("exec.idle_share", "ratio"), ("exec.gc_s", "s"),
    ("exec.spill_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.write_s", "s"), ("shuffle.fetch_wait_s", "s"), ("shuffle.skew", "ratio"),
] + [(f"query.{q}_s", "s") for q in CURATION] + [
    ("stream.batches", "count"), ("stream.batch_ms", "ms"), ("stream.plan_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.log_commit_ms", "ms"),
    ("stream.state_rows", "rows"), ("stream.state_mem_mb", "MB"),
    ("stream.state_commit_ms", "ms"), ("stream.state_update_ms", "ms"),
    ("stream.state_compaction_ms", "ms"),
    ("stream.ingest_rejects", "rows"), ("stream.enrich_misses", "rows"),
    ("stream.out_rows", "rows"), ("stream.backlog_rows", "rows"),
    ("stream.source_lag_ms", "ms"), ("generator.late_ms", "ms"),
    ("self.queries_s", "s"), ("self.ops_s", "s"), ("self.catalyst_s", "s"),
    ("self.sink_s", "s"), ("self.sql_s", "s"), ("self.exec_s", "s"), ("self.cache_s", "s"),
    ("self.stream.addBatch_s", "s"), ("self.stream.queryPlanning_s", "s"),
    ("self.stream.walCommit_s", "s"), ("self.stream.commitOffsets_s", "s"),
    ("trace.coverage_min", "ratio"), ("trace.overhead_share", "ratio"),
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def host():
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {"nproc": os.cpu_count(), "mem_total_mb": mem["MemTotal"] // 1024,
            "mem_available_mb": mem["MemAvailable"] // 1024,
            "load": list(os.getloadavg())}


def run_jvm(cp, args, work, timeout):
    """One JVM in its own process group; the group is killed and reaped if
    it outlives `timeout`, so nothing it started can survive this call."""
    # A fixed, pre-touched heap: peak RSS then moves with off-heap and
    # native memory (RocksDB, Netty, code cache), not with GC timing.
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
           ] + build.ADD_OPENS + ["-cp", cp, "graftbench.Main"] + args
    env = dict(os.environ, TMPDIR=f"{work}/tmp", SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            try:  # anything left in the group (there should be nothing)
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    with open(os.path.join(work, "jvm.log")) as fh:
        jvm_log = fh.read()
    if code != 0:
        sys.stderr.write(jvm_log[-4000:])
        raise SystemExit(f"benchmark JVM exited with {code}")
    sys.stderr.writelines(line + "\n" for line in jvm_log.splitlines()
                          if line.startswith("[graftbench]"))
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def check_batch(data, work, res):
    """Each query's dumped result against its DuckDB oracle, by the rule of
    tools/check.py (columns by sorted name, rows as a multiset, floats to 9
    digits). Returns the names that fail."""
    os.environ.setdefault("GRAFT_DUCKDB_MEM_RETRY", "2GB")
    os.environ.setdefault("GRAFT_DUCKDB_SPILL", "0")
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repository's correctness gate
    bad = []
    for name in res["queries"]:
        sql = res["oracle"].get(name)
        files = os.path.join(work, "out", name, "*.parquet")
        if sql is None or name in res["dump_failed"]:
            bad.append(name)
            continue
        con = check.connect(data, mem="2GB")
        try:
            con.execute(f"SET temp_directory='{work}/tmp/duckdb'")
            exp = con.execute(sql).df()
            got = con.execute(f"SELECT * FROM read_parquet('{files}')").df()
        finally:
            con.close()
        ok, detail = check.big_compare(got, exp)
        if not ok:
            log(f"{name}: output differs from its oracle: {detail}")
            bad.append(name)
    return bad


def terminate(signum, frame):
    # Turn SIGTERM/SIGHUP into an exception, so run_jvm kills and reaps the
    # JVM's process group on the way out.
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGHUP, terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    setup_start = time.time()  # the build is not part of set-up

    base = os.path.join(ROOT, ".bench_build", "graftbench")
    work = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "data"):
        os.makedirs(os.path.join(work, d))
    data = os.path.join(work, "data")
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host_before": host()}
    try:
        if a.workload == "curation":
            record["inputs"], record["paths"] = gen.curation(
                data, a.seed, DOCS, VECS, TWIN_SHARE, BOILER_DOCS, BOILER_TEXTS)
            record["twin_share"] = TWIN_SHARE
        else:
            record["rates"] = {"low": LOW_RATE, "high": HIGH_RATE, "burst": BURST}
        params = {"curation": CURATION, "stream": [LOW_RATE, HIGH_RATE, BURST]}[a.workload]
        res = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                           data, work, ",".join(map(str, params))], work,
                      jvm_timeout(a.seconds))
        metrics = res["metrics"]
        if a.workload == "stream":
            attempted, failed = res["attempted"], res["failed_events"]
        else:
            per_query = res["attempted"] // len(res["queries"])
            wrong = check_batch(data, work, res)
            attempted = res["attempted"]
            # A query whose result is wrong failed every time it ran.
            failed = sum(res["failed"].values()) + per_query * len(
                [q for q in wrong if q not in res["failed"]])
        if a.trace:
            wanted = PER_LAYER
        else:
            metrics["setup_s"] = res["first_timed_ms"] / 1e3 - setup_start
            metrics["peak_rss_mb"] = res["peak_rss_mb"]
            wanted = END_TO_END
        missing = [k for k, _ in END_TO_END if not a.trace and metrics.get(k) is None]
        if missing:
            raise SystemExit(f"end-to-end metrics not measured: {missing}")
        # A layer the workload does not use reads 0.
        out = {k: {"value": float(metrics.get(k) or 0.0), "unit": u} for k, u in wanted}
        record.update(master=res["master"], samples=res["samples"],
                      host_after=host(), peak_rss_mb=res["peak_rss_mb"])
        results = os.path.join(base, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, "runs.jsonl"), "a") as fh:
            fh.write(json.dumps({"record": record, "metrics": metrics}) + "\n")
        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(results, f"spans-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}))


if __name__ == "__main__":
    main()
