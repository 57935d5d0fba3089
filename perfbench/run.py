#!/usr/bin/env python3
"""Journey benchmark for the IOC engine.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(offline) and caches the classpath under .bench_build/; later runs start the
JVM directly. Workloads, metrics and the predicted layer effects are
described in perfbench/README.md. The last line of standard output is the
result object {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

WORKLOADS = ("email_batch", "tweet_live", "store_queries")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(root, "perfbench/src/main/**/*"), recursive=True)
                   + [os.path.join(root, "perfbench/build.sbt"),
                      os.path.join(root, "perfbench/project/build.properties"),
                      os.path.join(root, "perfbench/jvm.options")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, digest):
    """Compile once per source digest; returns the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                               cwd=os.path.join(root, "perfbench"), env=sbt_env(),
                               stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e} (log: {log})")
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as f:
        f.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.reset_index(drop=True)


class Oracle(threading.Thread):
    """Runs every query's DuckDB twin (`store_queries`) while the benchmark
    JVM sets up for the first time. The JVM writes the corpus and
    `oracle_sql.json` before its first Spark session, and waits for
    `oracle.done` before its second set-up, so this work shares the CPU
    only with the cold first set-up, which is never the `setup_s` median."""

    def __init__(self, work):
        super().__init__(daemon=True)
        self.verify = os.path.join(work, "verify")
        self.corpus = os.path.join(work, "corpus")
        self.stop = threading.Event()
        self.want, self.error = {}, None

    def run(self):
        spec = os.path.join(self.verify, "oracle_sql.json")
        try:
            while not os.path.exists(spec):
                if self.stop.wait(0.1):
                    raise RuntimeError("the JVM exited before writing oracle_sql.json")
            import duckdb
            con = duckdb.connect()
            con.sql("SET threads=2")
            for t in ("documents", "events", "part"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.corpus, t)}.parquet'")
            with open(spec) as f:
                oracle = json.load(f)
            for name, sql in sorted(oracle.items()):
                try:
                    self.want[name] = canon(con.sql(sql).df())
                except Exception as e:  # a broken oracle is a mismatch, never a skip
                    self.want[name] = e
        except Exception as e:
            self.error = e
        finally:
            os.makedirs(self.verify, exist_ok=True)
            open(os.path.join(self.verify, "oracle.done"), "w").close()

    def compare(self):
        """Compare each query's Spark output with its twin. Returns
        (compared, failures)."""
        import duckdb
        if self.error is not None:
            return 1, [f"oracle check did not run: {self.error}"]
        bad = []
        for name, want in sorted(self.want.items()):
            # part files in partition order, which is the result's row order
            files = sorted(glob.glob(os.path.join(self.verify, name, "*.parquet")))
            try:
                if isinstance(want, Exception):
                    raise want
                if not files:
                    raise RuntimeError("no Spark output")
                got = canon(duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df())
                if list(got.columns) != list(want.columns):
                    raise RuntimeError(f"columns {list(got.columns)} vs {list(want.columns)}")
                if len(got) != len(want):
                    raise RuntimeError(f"rows {len(got)} vs {len(want)}")
                if not got.equals(want):
                    raise RuntimeError("values differ")
            except Exception as e:  # any failure is a mismatch, never a skip
                bad.append(f"oracle {name}: {e}")
        return len(self.want), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("engine sources not found: run from the root of a checkout")
    if not os.path.exists(os.path.join(root, "perfbench/build.sbt")):
        fail("perfbench/build.sbt not found: run from the root of a checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    digest = source_digest(root)
    cp = build(root, digest)
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(base, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(os.path.join(root, "perfbench/jvm.options")) as f:
        jvm_options = f.read().split()
    # a fixed heap: a heap that grows during the run pays extra GC in its
    # first seconds, which showed as drift in tweet_live freshness
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false"] + jvm_options
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    oracle = Oracle(work) if a.workload == "store_queries" else None
    if oracle:
        oracle.start()
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=RUN_TIMEOUT_S)
        lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if r.returncode != 0 or not lines:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"benchmark JVM failed with code {r.returncode} (log: {log})", 3)
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        if oracle:
            oracle.stop.set()
            oracle.join()
            compared, bad = oracle.compare()
            res["attempted"] += compared
            res["failed"] += len(bad)
            res["failures"] += bad
            res["correct"] = res["correct"] and not bad
            res["info"]["oracle_compared"] = compared
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM timed out after {RUN_TIMEOUT_S} s (log: {log})", 3)
    finally:
        if oracle:
            oracle.stop.set()
            oracle.join()
        shutil.rmtree(work, ignore_errors=True)

    ctx = res["context"]
    ctx["source_digest"] = digest
    try:
        ctx["git_commit"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                                           capture_output=True).stdout.strip() or "unknown"
    except OSError:
        ctx["git_commit"] = "unknown"
    print("context " + json.dumps(ctx, sort_keys=True))
    if ctx.get("host_steal_pct", 0) >= 10:
        print(f"WARNING: host steal {ctx['host_steal_pct']:.1f}% during this run; "
              "its timings are contended")
    for k, v in res["info"].items():
        if isinstance(v, list):
            v = " ".join(f"{x:.0f}" for x in v)
        print(f"  {k:<28} {v}")
    ratio = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"  {'failed_ratio':<28} {ratio} ({res['failed']} of {res['attempted']})")
    for m in res["failures"]:
        print(f"  FAIL {m}")
    for k, v in res["metrics"].items():
        print(f"  {k:<28} {v['value']} {v['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
