#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one after another

Run from the repository root. The first run in a checkout builds the engine
from `src/` together with the harness, generates the fixed corpus and
prebuilds the engine's stores (all under `.bench_build/`, untimed). Each
run then launches one engine JVM, drives the workload's seeded ops as a
closed loop with one client for `--seconds`, checks every output against
DuckDB, and prints each metric by name with its unit. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
With `--trace 1` the metrics are the per-layer ones instead.
"""
import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb import corpus, oracle, stats, workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# ops generated per second of run: above any rate the engine reaches, so a
# run never drains its pool
POOL_RATE = {"lookup": 40, "analytic": 20, "serve": 40, "ingest": 8, "store": 12}
# warm-up ops: the first, slowest statements of a fresh JVM, and one of
# each serving tier so no store is first touched inside the timed window
WARMUP_OPS = {"lookup": 8, "analytic": len(workloads.ANALYTIC_CYCLE),
              "serve": len(workloads.SERVE_CYCLE), "ingest": 8,
              "store": len(workloads.STORE_SERVE_CYCLE) * (workloads.STORE_BATCHES_PER_REQUEST + 1)}
STAMPED_PATHS = ["src", "build.sbt", "project", "scripts", "perfbench"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(sub))) if sub else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("Spark not found: set SPARK_HOME")
    return home


def call(cmd, timeout, **kw):
    """Run to completion; on timeout the process is killed and reaped."""
    p = subprocess.Popen(cmd, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        p.kill()
        p.wait()
        raise


class Checkout:
    """The benchmark's per-checkout state under the build directory."""

    def __init__(self, root):
        self.root = root
        self.build = os.path.join(root, ".bench_build")
        self.classes = os.path.join(self.build, "classes")
        self.corpus = os.path.join(self.build, "corpus")
        self.cache = os.path.join(self.build, "graft-cache")
        self.prepared = os.path.join(self.cache, "prepare.json")
        self.spark_home = spark_jars()

    def env(self):
        e = dict(os.environ)
        e.update(GRAFT_CACHE=self.cache, SPARK_GRAFT_CPUS=str(nproc()),
                 SPARK_LOCAL_DIRS=os.path.join(self.build, "spark-local"),
                 SPARK_HOME=self.spark_home)
        return e

    def java(self, *args):
        opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
        return ["java", *opens, "-Xmx3g", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Dspark.sql.warehouse.dir={os.path.join(self.build, 'warehouse')}",
                "-cp", f"{self.classes}:{self.spark_home}/jars/*", "perfbench.Harness", *args]

    def prepare(self):
        """Build, generate the corpus, prebuild the stores: once per build."""
        if not os.path.isdir(os.path.join(self.root, "src", "main", "scala")):
            raise BenchError("no engine sources under src/main/scala: run from the repository root")
        os.makedirs(self.build, exist_ok=True)
        with open(os.path.join(self.build, "prepare.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            rc = call(["make", "-s", "-C", os.path.join(HERE, "harness"),
                       f"SRC={os.path.join(self.root, 'src', 'main', 'scala')}",
                       f"OUT={self.classes}"], 900, env=self.env(), stdout=sys.stderr)
            if rc != 0:
                raise BenchError(f"build failed (exit {rc})")
            if not os.path.isdir(self.corpus):
                corpus.generate(self.corpus)
            built = os.path.join(self.classes, ".built")
            marker = os.path.join(self.cache, "PREPARED")
            stamp = str(os.stat(built).st_mtime_ns)
            if not (os.path.exists(marker) and open(marker).read() == stamp):
                shutil.rmtree(self.cache, ignore_errors=True)
                os.makedirs(self.cache)
                with open(os.path.join(self.build, "prepare.log"), "w") as err:
                    rc = call(self.java("--mode", "prepare", "--corpus", self.corpus,
                                        "--out", self.prepared), 900,
                              env=self.env(), stdout=err, stderr=err)
                if rc != 0:
                    raise BenchError(f"store prebuild failed (exit {rc}), see .bench_build/prepare.log")
                with open(marker, "w") as f:
                    f.write(stamp)


def cpu_times():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t[:8])


def stamp(root, workload, seed, trace):
    def git(*a):
        try:
            return subprocess.run(["git", *a], cwd=root, capture_output=True, text=True,
                                  timeout=30).stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            return ""
    commit = git("rev-parse", "--short=12", "HEAD") if os.path.isdir(os.path.join(root, ".git")) else ""
    dirty = bool(git("status", "--porcelain", "--", *STAMPED_PATHS)) if commit else None
    return {"commit": commit or "none", "dirty": dirty,
            "nproc": nproc(), "workload": workload, "seed": seed, "trace": trace}


def rows_out(op, res):
    if op["kind"] == "serve":
        return len(res.get("rows", []))
    out = res.get("out", "")
    if op["tpl"] == "parse":
        return 1
    if out.startswith("{"):
        return sum(1 for r in json.loads(out)["result"] if "_key" in r)
    return len([line for line in out.split("\n") if line]) if out else 0


def annotate(ops, results):
    """Output size of each op, the base of the per-layer ratios."""
    byid = {op["id"]: op for op in ops}
    for r in results:
        op = byid[r["id"]]
        if op["kind"] in ("stmt", "serve"):
            r["rows_out"] = rows_out(op, r)
            r["out_bytes"] = len(r.get("out", json.dumps(r.get("rows", []))).encode())
        if op["kind"] == "serve":
            r["asked"] = op["k"] * op.get("batch", 1)


def check(orc, ops, results, summary):
    """Check every timed op against the oracle: (id, op, reason) per failure."""
    byid = {op["id"]: op for op in ops}
    served = [r for r in results if r["ok"] and byid[r["id"]]["kind"] == "serve"]
    with ThreadPoolExecutor(nproc()) as pool:
        serve_why = dict(zip((r["id"] for r in served), pool.map(orc.check_serve, served)))
    failures = []
    for r in results:
        op = byid[r["id"]]
        why = r.get("error") if not r["ok"] else None
        if why is None and op["kind"] == "stmt":
            why = orc.check_statement(op, r["out"])
        elif why is None and op["kind"] == "serve":
            why = serve_why[r["id"]]
        if why:
            failures.append((r["id"], op.get("text") or json.dumps(op), why))
    done = [byid[r["id"]] for r in results if byid[r["id"]]["kind"] == "ingest"]
    if done:
        expected = orc.ingest_expected([op["path"] for op in done])
        readback = {k: tuple(v) for k, v in summary.get("readback", {}).items()}
        bad = oracle.check_readback(readback, expected)
        for op in done:
            hit = bad & set(op["keys"])
            if hit and not any(f[0] == op["id"] for f in failures):
                failures.append((op["id"], op["path"], f"read-back differs for keys {sorted(hit)[:5]}"))
    return failures


def end_to_end(results, summary, setup_s, ops):
    walls = [r["wall_ns"] / 1e6 for r in results]
    m = {"setup_s": (setup_s, "s"), "op_p50_ms": (stats.percentile(walls, 50), "ms"),
         "ops_per_s": (len(results) / summary["loop_s"], "1/s")}
    extra = {"rss_peak_mb": (summary["rss_peak_mb"], "MB")}
    try:
        extra["op_p90_ms"] = (stats.percentile(walls, 90), "ms")
    except stats.TooFewSamples as e:
        extra["op_p90_ms"] = (f"refused: {e}", "ms")
    byid = {op["id"]: op for op in ops}
    tsv = sum(byid[r["id"]].get("bytes", 0) for r in results)
    if tsv:
        rows = sum(v[0] for v in summary["readback"].values())
        extra["ingest_rows_per_s"] = (rows / (summary["loop_s"] + summary["readback_s"]), "rows/s")
        extra["space_amp"] = (summary["live_bytes"] / tsv, "ratio")
        extra["write_amp"] = (summary["bytes_written"] / tsv, "ratio")
    return m, extra


def run_workload(co, orc, workload, seed, seconds, trace):
    """One engine run. A traced run first makes the untraced run of the
    same ops, the base of the tracing overhead; both runs' ops are checked."""
    untraced = run_workload(co, orc, workload, seed, seconds, 0) if trace else None
    run_dir = os.path.join(co.build, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        vecs = None
        if workload in ("serve", "store"):
            emb = pq.read_table(os.path.join(co.corpus, "embeddings.parquet"))
            vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        n = int(seconds * POOL_RATE[workload]) + 20
        ops = workloads.generate(workload, seed, n, run_dir, vecs)
        warm = workloads.generate(workload, seed, WARMUP_OPS[workload], run_dir, vecs, warmup=True)
        ops_path = os.path.join(run_dir, "ops.jsonl")
        with open(ops_path, "w") as f:
            for op in warm + ops:
                f.write(json.dumps(op) + "\n")
        out_path = os.path.join(run_dir, "results.jsonl")
        trace_path = os.path.join(run_dir, "trace.jsonl")
        load0 = os.getloadavg()[0]
        cpu0 = cpu_times()
        launched = time.time()
        with open(os.path.join(run_dir, "engine.log"), "w") as err:
            rc = call(co.java("--mode", "run", "--corpus", co.corpus,
                              "--work", run_dir, "--ops", ops_path, "--seconds", str(seconds),
                              "--trace", str(trace), "--out", out_path, "--trace_out", trace_path),
                      seconds + 170, env=co.env(), stdout=err, stderr=err)
        load1 = os.getloadavg()[0]
        cpu1 = cpu_times()
        if rc != 0:
            with open(os.path.join(run_dir, "engine.log")) as f:
                log("".join(f.readlines()[-30:]))
            raise BenchError(f"engine run failed (exit {rc})")
        with open(out_path) as f:
            summary = json.loads(f.readline())
            results = [json.loads(line) for line in f]
        if not results:
            raise BenchError("no op completed within the run")
        if summary["ops_left"] == 0:
            log(f"warning: {workload} drained its pool of {n} ops before the deadline")
        setup_s = summary["first_op_epoch_ms"] / 1000.0 - launched
        log(f"set-up {setup_s:.1f} s: session {summary['session_ready_epoch_ms'] / 1000 - launched:.1f} s, "
            f"open {summary['open_ms'] / 1000:.1f} s, "
            f"warm-up {(summary['first_op_epoch_ms'] - summary['warmup_epoch_ms']) / 1000:.1f} s")
        failures = check(orc, ops, results, summary)
        # the share of CPU time the hypervisor took from this machine during
        # the engine run: a slow run with a high share was slowed by its host
        steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        st = dict(stamp(co.root, workload, seed, trace), load1_before=load0, load1_after=load1,
                  cpu_steal_frac=round(steal, 4),
                  java=summary["java_version"], spark=summary["spark_version"],
                  cores=summary["cores"])
        if trace:
            with open(trace_path) as f:
                records = [json.loads(line) for line in f]
            with open(co.prepared) as f:
                summary.update(json.load(f))
            annotate(ops, results)
            layers = stats.layer_metrics(results, records, summary, summary["cores"],
                                         untraced["metrics"]["ops_per_s"][0])
            metrics = {k: (v, stats.UNITS[k]) for k, v in layers.items()}
            extra = {}
            if layers["trace.uncovered_frac"] > stats.SELF_TIME_TOLERANCE:
                extra["TRACE_CHECK_FAILED"] = (
                    f"uncovered_frac above {stats.SELF_TIME_TOLERANCE}", "")
                log(f"warning: layer self-times leave {layers['trace.uncovered_frac']:.3f} "
                    f"of op wall uncovered (tolerance {stats.SELF_TIME_TOLERANCE})")
        else:
            metrics, extra = end_to_end(results, summary, setup_s, ops)
        if untraced:
            extra["untraced_ops_per_s"] = untraced["metrics"]["ops_per_s"]
            failures += untraced["failures"]
        tpl = {op["id"]: op["tpl"] for op in ops}
        return {"stamp": st, "metrics": metrics, "extra": extra,
                "attempted": len(results) + (untraced["attempted"] if untraced else 0),
                "failures": failures,
                "ops": [(r["id"], tpl[r["id"]], r["wall_ns"] / 1e6) for r in results]}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)




def report(workload, res):
    print(f"== {workload}  stamp {json.dumps(res['stamp'], sort_keys=True)}")
    for name, (v, unit) in list(res["metrics"].items()) + list(res["extra"].items()):
        print(f"{workload}.{name} = {v if isinstance(v, str) else round(v, 6)} {unit}")
    n, f = res["attempted"], len(res["failures"])
    print(f"{workload}.fail_frac = {f / n:.6f} ratio  ({f} of {n} ops wrong or errored)")
    for op_id, what, why in res["failures"][:20]:
        print(f"{workload}.FAILED op {op_id}: {what}  -- {why}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=workloads.WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    try:
        co = Checkout(os.getcwd())
        co.prepare()
        orc = oracle.Oracle(co.corpus)
        names = workloads.WORKLOADS if args.workload == "all" else (args.workload,)
        out = {}
        for w in names:
            out[w] = run_workload(co, orc, w, args.seed, args.seconds, args.trace)
            report(w, out[w])
    except BenchError as e:
        log(f"benchmark error: {e}")
        return 2
    attempted = sum(r["attempted"] for r in out.values())
    failed = sum(len(r["failures"]) for r in out.values())
    single = len(out) == 1
    metrics = {(k if single else f"{w}.{k}"): {"value": v, "unit": u}
               for w, r in out.items() for k, (v, u) in r["metrics"].items()}
    results_dir = os.path.join(co.build, "results")
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(out, f, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
