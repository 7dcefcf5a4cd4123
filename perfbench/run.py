#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run.

    python3 perfbench/run.py --workload stream_curated|query_mix \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source (sbt, offline) on first
use, makes the run's inputs from the seed, runs the harness in a fresh
JVM, checks the outputs, and prints a report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see README.md).
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

HEAP = "-Xmx3g"
DEADLINE_S = 170
# query_mix reads one fixed corpus; its seed orders the queries. A fixed
# corpus keeps the DuckDB oracle answers cacheable: computing them takes
# about 30 s, which only the first run in a checkout pays.
QUERY_DATA_SEED = 42


def _sources():
    """Files whose change requires a rebuild."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build():
    """Compile the program and the harness; return (classpath, jvm options)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala) are missing")
    h = hashlib.sha256()
    for p in _sources():
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "sources.sha256")
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true"
                           + ("" if "-Xmx" in opts else " -Xmx2g")).strip()
        log = os.path.join(HERE, "target", "build.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        with open(log, "w") as out:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit("perfbench: build failed")
        with open(stamp_file, "w") as out:
            out.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


class _CachedAnswers:
    """A DuckDB connection whose query answers are kept on disk, keyed by
    the SQL text and the input files' bytes."""

    def __init__(self, con, data_dir, cache_dir):
        self.con, self.cache_dir = con, cache_dir
        h = hashlib.sha256(duckdb_version().encode())
        for f in sorted(os.listdir(data_dir)):
            h.update(f.encode() + open(os.path.join(data_dir, f), "rb").read())
        self.data_key = h.hexdigest()

    def execute(self, sql):
        return self.con.execute(sql)

    def sql(self, sql):
        import pandas as pd
        key = hashlib.sha256((self.data_key + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if not os.path.exists(path):
            os.makedirs(self.cache_dir, exist_ok=True)
            self.con.sql(sql).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        df = pd.read_pickle(path)
        return type("Answer", (), {"df": lambda _self: df})()


def duckdb_version():
    import duckdb
    return duckdb.__version__


def oracle_checks(data_dir, results_dir):
    """Compare each query result with its DuckDB oracle answer through
    the repository's own comparison (tools/check_oracle.py), with the
    answers cached per input and SQL text."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    cache = os.path.join(HERE, ".cache", "oracle")
    mod.duckdb = type("CachedDuckDB", (), {"connect": staticmethod(
        lambda: _CachedAnswers(duckdb.connect(), data_dir, cache))})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(data_dir, results_dir)
    verdict = {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(" ")[0].split(".")[0].rstrip(":")
        if word in ("PASS", "FAIL", "SKIP") and name in metrics.QUERIES:
            verdict[name] = (word == "PASS" and verdict.get(name, True), line)
    return [{"name": f"oracle {q}", "ok": verdict.get(q, (False, ""))[0],
             "detail": verdict.get(q, (False, "no result"))[1]} for q in metrics.QUERIES]


def result_rows(results_dir):
    """Rows of each query result written by the run (parquet footers)."""
    import pyarrow.parquet as pq
    out = {}
    for q in metrics.QUERIES:
        d = os.path.join(results_dir, q)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")] if os.path.isdir(d) else []
        out[q] = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for f in files)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath, jvm_opts = build()
    t_begin = time.time()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        extra = []
        if a.workload == "query_mix":
            import gen_tables
            gen_tables.write(QUERY_DATA_SEED, os.path.join(work, "data"))
            extra = ["--data", os.path.join(work, "data")]
        record = os.path.join(work, "record.json")
        # a traced run counts filesystem operations through Hadoop's
        # pluggable `file` scheme
        fs = ["-Dspark.hadoop.fs.file.impl=graft.perfbench.CountingLocalFs"] if a.trace else []
        # -XX:-UsePerfData: no hsperfdata file outside the work directory
        cmd = (["java", *jvm_opts, *fs, HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
                "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--out", record] + extra)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   SPARK_GRAFT_CPUS=str(os.cpu_count()))
        launch = time.time()
        budget = DEADLINE_S - (launch - t_begin)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=budget)
            except subprocess.TimeoutExpired:
                r = None
        if r is None or r.returncode != 0 or not os.path.exists(record):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
            raise SystemExit(f"perfbench: the {a.workload} run failed")
        t_exit = time.time()
        rec = json.load(open(record))
        checks, rows = [], {}
        if a.workload == "query_mix":
            results = os.path.join(work, "results")
            checks = oracle_checks(os.path.join(work, "data"), results)
            rows = result_rows(results)
        result, report = metrics.summarize(rec, launch, a.trace == 1, checks, rows)
        report.append(f"jvm process {t_exit - launch:.1f} s, of which "
                      f"{t_exit - rec['facts']['window_end_epoch_s']:.1f} s after the window")
        if a.trace:
            self_s = metrics.self_times(rec["spans"])
            trace_dir = os.path.join(HERE, ".traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as out:
                json.dump([dict(s, self_s=self_s[s["id"]]) for s in rec["spans"]], out)
            report.append(f"{len(rec['spans'])} spans written to perfbench/.traces/")
        print(f"== perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
        for line in report:
            print(line)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
