#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. Inputs are generated from the seed
(cached under perfbench/.work per workload and seed). The JVM runs at
local[nproc], makes max(3, round(seconds / 4)) measured passes after one
unmeasured warm-up pass, and prints `@bench` records; this script checks the
outputs and prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics (zero where the layer does not run on the
workload), and the traced spans are written under perfbench/.work/traces.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")

DEDUP = "doc_minhash_lsh doc_dedup_eval emb_cosine_dups".split()

WORKLOADS = {
    # driver-bound: eager caches and checkpoints inside build
    "llm-dedup": dict(kind="batch", queries=DEDUP, sf=0.01, tables=["documents", "embeddings"]),
    # the reference job: state store, per-batch overhead, JSON serde
    "stream-cep": dict(
        kind="stream", events=20000, files=10, per_trigger=2,
        # open loop: offered rate (events/s), planted attacks, events per file
        rate=1000, attacks=400, per_file=100),
}

E2E = {"setup_s": "s", "pass_s": "s", "cpu_s": "s",
       "peak_heap_mb": "MB", "rows_per_s": "1/s", "latency_ms_p50": "ms",
       "latency_ms_p95": "ms"}

PER_LAYER = {
    "session.start_s": "s", "session.register_s": "s",
    "sources.load_s": "s", "sources.files_read": "count", "sources.bytes_read": "bytes",
    "sources.rows_read": "count", "sources.scan_s": "s", "sources.filter_keep": "ratio",
    "plans.analysis_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.exchanges": "count", "plans.broadcast_joins": "count",
    "plans.sort_merge_joins": "count",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.build_cpu_s": "s",
    "operators.exec_s": "s", "operators.jobs": "count", "operators.cache_blocks": "count",
    "operators.cache_mb": "MB", "operators.cache_reads": "ratio",
    "functions.graft_word_shingles_ns_row": "ns/row",
    "functions.graft_minhash_sig_ns_row": "ns/row",
    "functions.graft_simhash64_ns_row": "ns/row",
    "functions.graft_rolling_hash_ns_row": "ns/row",
    "functions.graft_cep_fold_ns_row": "ns/row",
    "spark.core_util": "ratio", "spark.sched_delay_s": "s", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.skew": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_fetch_wait_s": "s", "spark.broadcast_mb": "MB",
    "spark.broadcast_build_s": "s", "spark.spill_mb": "MB", "spark.peak_exec_mem_mb": "MB",
    "spark.gc_s": "s",
    "streaming.batches": "count", "streaming.batch_ms_p50": "ms", "streaming.batch_ms_p95": "ms",
    "streaming.add_batch_ms": "ms", "streaming.plan_ms": "ms", "streaming.offsets_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms", "streaming.state_update_ms": "ms",
    "streaming.late_drops": "count", "streaming.parse_s": "s", "streaming.fold_s": "s",
    "streaming.gen_late_ms": "ms", "streaming.backlog_end_files": "count",
    "streaming.events_per_s_1core": "1/s",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.spans": "count",
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(TARGET, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building (sbt compile) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    for old in glob.glob(os.path.join(TARGET, "classpath-*.txt")):
        os.remove(old)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


# ---------------------------------------------------------------- inputs

def batch_inputs(name, w, seed):
    """Generate (or reuse) the seeded tables; returns (dir, rows per table)."""
    import inputs
    d = os.path.join(WORK, "inputs", f"{name}-{seed}")
    meta = os.path.join(d, "rows.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return d, json.load(fh)
    # keep the cache small: drop this workload's other seeds
    for old in glob.glob(os.path.join(WORK, "inputs", f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    t0 = time.time()
    rows = inputs.write(inputs.relabel(inputs.tables(seed, w["sf"]), seed), d, seed)
    with open(meta, "w") as fh:
        json.dump(rows, fh)
    log(f"generated {name} inputs for seed {seed} in {time.time() - t0:.1f} s")
    return d, rows


# ---------------------------------------------------------------- JVM

def run_jvm(cp, mode, args, log_path, on_record=None):
    """Start the JVM; return (setup_s, records). setup_s runs from process
    start until the session reports ready. `on_record` sees each record as
    it arrives.
    """
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: a full GC (the live-heap reading) must not shrink it
    # under the passes that follow
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", mode] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    records, setup = [], None
    with open(log_path, "w") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=WORK, env=env)
        timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                if not line.startswith("@bench "):
                    continue
                rec = json.loads(line[len("@bench "):])
                if rec.get("event") == "ready" and setup is None:
                    setup = time.perf_counter() - t0
                records.append(rec)
                if on_record:
                    on_record(rec)
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"JVM exited with {rc} (log: {log_path})", 3)
    return setup, records


def event(records, name):
    for r in records:
        if r.get("event") == name:
            return r
    return {}


# ---------------------------------------------------------------- checks

class OracleCheck:
    """Each query's draw against its DuckDB oracle over the identical input:
    same columns (sorted by name), same rows (sorted), values exact. The
    oracles run in a thread as soon as the JVM's timed passes are over,
    alongside its (unmeasured) check draw.
    """

    def __init__(self, in_dir, tables, out_dir, start_on):
        self.in_dir, self.tables, self.out_dir = in_dir, tables, out_dir
        self.start_on = start_on  # the record that ends the measured part
        self.sql, self.expected, self.thread = {}, {}, None

    def on_record(self, rec):
        if rec.get("event") == "oracles":
            self.sql = rec["sql"]
        elif rec.get("event") == self.start_on:
            self.thread = threading.Thread(target=self._oracles)
            self.thread.start()

    def _oracles(self):
        import duckdb
        con = duckdb.connect()
        con.sql("SET threads TO 2")
        for t in self.tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.in_dir}/{t}.parquet/*.parquet')")
        for name, sql in self.sql.items():
            try:
                self.expected[name] = con.sql(sql).df()
            except Exception as e:  # an oracle error fails the query
                self.expected[name] = e
        con.close()

    def failures(self):
        import duckdb
        import pandas as pd
        if self.thread:
            self.thread.join()
        failures = []
        for name in sorted(self.sql):
            files = glob.glob(os.path.join(self.out_dir, name, "*.parquet"))
            try:
                o = self.expected.get(name)
                if isinstance(o, Exception) or o is None:
                    raise AssertionError(f"oracle: {o}")
                if not files:
                    raise AssertionError("no output")
                s = duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df()
                s = s.reindex(sorted(s.columns), axis=1)
                o = o.reindex(sorted(o.columns), axis=1)
                assert list(s.columns) == list(o.columns), \
                    f"columns {list(s.columns)} != {list(o.columns)}"
                assert len(s) == len(o), f"rows {len(s)} != {len(o)}"
                s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
                o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
                pd.testing.assert_frame_equal(s, o, check_dtype=True, check_exact=True)
            except Exception as e:  # a mismatch is a failure
                failures.append(name)
                first = str(e).splitlines()[0][:300] if str(e) else type(e).__name__
                log(f"check {name}: {first}")
        return failures


# ---------------------------------------------------------------- main

def diagnostics(ready, layers):
    try:
        commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    return {"calib_s": layers.get("calib_s"), "nproc": os.cpu_count(),
            "loadavg": list(os.getloadavg()), "java": ready.get("java"),
            "spark": ready.get("spark"), "commit": commit or "unknown"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = WORKLOADS[a.workload]
    cp = classpath()
    sys.path.insert(0, HERE)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{'trace' if a.trace else 'e2e'}"
    spans = os.path.join(WORK, "traces", f"{tag}.json")
    common = ["--work", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--spans", spans]
    if w["kind"] == "batch":
        in_dir, rows = batch_inputs(a.workload, w, a.seed)
        out_dir = os.path.join(run_dir, "out")
        check = OracleCheck(in_dir, w["tables"], out_dir, "layers" if a.trace else "e2e")
        setup, recs = run_jvm(cp, "batch", common + [
            "--dir", in_dir, "--queries", ",".join(w["queries"]), "--out", out_dir,
            "--tables", ",".join(w["tables"])],
            os.path.join(WORK, "logs", f"{tag}.log"), check.on_record)
        e2e = dict(event(recs, "e2e"), peak_heap_mb=event(recs, "check_draw").get("peak_heap_mb"))
        bad = set(check.failures()) | set(event(recs, "check_draw").get("failed_queries", []))
        bad |= set(w["queries"]) - set(check.sql)  # a query without an oracle is unchecked
        attempted = e2e["attempted"] + len(w["queries"])  # passes, then one check each
        failed = e2e["failed"] + len(bad)
        rows_in = sum(rows.values())
    else:
        setup, recs = run_jvm(cp, "stream", common + [
            "--seed", str(a.seed), "--events", str(w["events"]), "--files", str(w["files"]),
            "--per-trigger", str(w["per_trigger"]), "--rate", str(w["rate"]),
            "--attacks", str(w["attacks"]), "--per-file", str(w["per_file"])],
            os.path.join(WORK, "logs", f"{tag}.log"))
        e2e = event(recs, "e2e")
        chk = event(recs, "check")
        attempted, failed, rows_in = chk["attempted"], chk["failed"], e2e["events"]
    ready, traced = event(recs, "ready"), event(recs, "layers")
    if setup is None or not e2e or (a.trace and not traced):
        fail("the JVM did not report its results", 3)
    if a.trace and w["kind"] == "batch":  # stream-cep counts its traced drains in "check"
        attempted += traced["attempted"]
        failed += traced["failed"]

    diag = diagnostics(ready, traced)
    diag.update(workload=a.workload, seed=a.seed, fail_ratio=failed / attempted,
                warm_passes=e2e.get("warm_passes"), passes=e2e.get("passes"),
                latency_samples=e2e.get("latency_samples"), setup_steps={
                    k: ready.get(k) for k in ("session.start_s", "session.register_s",
                                              "session.warmup_s")})
    print("diagnostics " + json.dumps(diag), flush=True)

    if a.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update({k: v for k, v in traced["layers"].items()
                       if k in PER_LAYER and v is not None})
        layers["session.start_s"] = ready.get("session.start_s", 0.0)
        layers["session.register_s"] = ready.get("session.register_s", 0.0)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        print("layers " + json.dumps({k: round(v["value"], 6) for k, v in metrics.items()}))
    else:
        values = {"setup_s": setup, "rows_per_s": rows_in / e2e["pass_s"]}
        values.update({k: e2e[k] for k in E2E if k in e2e})
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
