#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload in one JVM, check every
collected result, print the metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload relational|curation|lakehouse \
      --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --regen      # rewrite perfbench/expected/

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end metrics
of untraced passes; --trace 1 reports the per-layer metrics of one traced
pass. The lines above it give the seed, the op order of every pass, the
failed ops with their errors and the sample counts. NOTES.md explains
the workloads and the metrics.
"""
import argparse
import gzip
import hashlib
import importlib.util
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected")
# the sf0.1 tables, where graft.Bench also reads them
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 170  # a JVM still running this long after it started is killed
WORKLOADS = ("relational", "curation", "lakehouse")
ORACLE_LIMIT_S = 120
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the fixture roots graft's lakehouse and sink queries write under /tmp
PROGRAM_TMP_PREFIX = "graft_"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in a process group of its own and waits for it; whatever
    happens (timeout, this script stopped), the whole group is killed and
    reaped before returning. Returns the exit code, or "timeout"."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return "timeout"
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def load_check():
    """scripts/check.py, the oracle gate, supplies the cell tolerance."""
    path = os.path.join(ROOT, "scripts", "check.py")
    if not os.path.isfile(path):
        fail(f"missing {path}: run from the root of a full checkout")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------- build

def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's own build
    (build.sbt at the root) compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else ""


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala")
    if not os.path.isdir(spark_jars()):
        fail(f"no Spark jars at {spark_jars()}")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, SPARK_HOME=os.path.dirname(spark_jars()),
               COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       840, cwd=HERE, env=env, stdout=log,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}), see {WORK}/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)


# ------------------------------------------------------------------ run

def program_tmp_entries():
    out = set()
    for top in os.listdir("/tmp"):
        p = os.path.join("/tmp", top)
        if top.startswith(PROGRAM_TMP_PREFIX) and os.path.isdir(p):
            out.add(p)
            out.update(os.path.join(p, c) for c in os.listdir(p))
    return out


def run_jvm(workload, seed, seconds, trace, deadline):
    shutil.rmtree(WORK + "/run", ignore_errors=True)
    work = os.path.join(WORK, "run")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        # the parallel collector has no concurrent threads to compete with
        # the task threads for the cores; it measured faster and steadier
        "-Xmx3g", "-XX:+UseParallelGC",
        "-Duser.timezone=UTC", "-Duser.language=en",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
        "perfbench.PerfBench", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--sf", SF_DIR,
        "--work", work, "--cores", str(cores)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_HOME", None)  # a plain JVM, not spark-submit
    before = program_tmp_entries()
    try:
        with open(os.path.join(WORK, "jvm.log"), "w") as log:
            rc = run_group(cmd, max(1.0, deadline - time.time()), env=env,
                           stdout=log, stderr=subprocess.STDOUT)
    finally:
        for p in sorted(program_tmp_entries() - before, key=len, reverse=True):
            shutil.rmtree(p, ignore_errors=True)
    if rc != 0:
        fail(f"JVM exit {rc}, see {WORK}/jvm.log")
    with open(os.path.join(work, "run.json")) as fh:
        return json.load(fh), work


# ---------------------------------------------------------------- check

def encode(v):
    """A DuckDB value in the encoding of perfbench.Canon."""
    import datetime
    import decimal
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [encode(x) for x in v]
    if isinstance(v, dict):
        return [encode(x) for x in v.values()]
    return str(v)


def file_digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def read_dump(path):
    with open(path) as fh:
        cols = json.loads(fh.readline())["columns"]
        return cols, [json.loads(line) for line in fh]


def ordered(check, cols, rows):
    import pandas as pd
    df = pd.DataFrame(rows, columns=cols, dtype=object)
    try:
        return check.canon(df)
    except TypeError:  # mixed or nested cells: order by rendered row
        df = df[sorted(df.columns)]
        key = [json.dumps(r) for r in df.itertuples(index=False, name=None)]
        return df.iloc[sorted(range(len(key)), key=key.__getitem__)] \
            .reset_index(drop=True)


def compare(check, got, exp):
    """None when `got` matches `exp` under check.py's rules (columns by
    name, rows in canonical order, floats to check.cmp_cell's tolerance),
    else the first difference."""
    (gc, gr), (ec, er) = got, exp
    if sorted(gc) != sorted(ec):
        return f"SCHEMA-MISMATCH got={sorted(gc)} exp={sorted(ec)}"
    if len(gr) != len(er):
        return f"ROWCOUNT-MISMATCH got={len(gr)} exp={len(er)}"
    g, e = ordered(check, gc, gr), ordered(check, ec, er)
    for c in g.columns:
        a, b = g[c].tolist(), e[c].tolist()
        if a == b:
            continue
        for i, (x, y) in enumerate(zip(a, b)):
            if x != y and not check.cmp_cell(x, y):
                return f"VALUE-MISMATCH row {i} column {c}: got {x!r} expected {y!r}"
    return None


def load_expected(op):
    path = os.path.join(EXPECTED, op + ".json.gz")
    if not os.path.isfile(path):
        return None
    with gzip.open(path, "rt") as fh:
        return json.load(fh)


def check_results(check, run, work):
    """op -> {result id -> error or None} for every distinct result."""
    verdict = {}
    for s in run["samples"]:
        if not s["ok"]:
            continue
        per = verdict.setdefault(s["op"], {})
        if s["result"] in per:
            continue
        exp = load_expected(s["op"])
        if exp is None:
            per[s["result"]] = "no expected result stored"
            continue
        path = os.path.join(work, "results", f"{s['op']}.{s['result']}.json")
        if file_digest(path) == exp["tree_digest"]:
            per[s["result"]] = None  # the very result that passed at --regen
            continue
        per[s["result"]] = compare(check, read_dump(path),
                                   (exp["columns"], exp["rows"]))
    return verdict


# -------------------------------------------------------------- metrics

def quantile(values, p):
    """The Harrell-Davis estimate of the p-quantile: a weighted mean of
    all order statistics, with Beta((n+1)p, (n+1)(1-p)) weights. The
    samples pool ops of different speeds, and a single order statistic
    jumps between them from run to run; the weighted mean does not."""
    v, n = sorted(values), len(values)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 64  # midpoint rule per order statistic; a, b >= 1 here
    total = weight_sum = 0.0
    for i, x in enumerate(v):
        w = 0.0
        for k in range(steps):
            t = (i + (k + 0.5) / steps) / n
            w += math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t)
                          - log_norm)
        total += w * x
        weight_sum += w
    return total / weight_sum


def tail(values):
    """(value, percentile, n): the highest percentile with at least ten
    samples above it. Below 20 samples that percentile is under the
    median, and the median stands in: the maximum of a few samples is
    mostly noise."""
    n = len(values)
    p = (n - 10) / n if n >= 20 else 0.5
    return quantile(values, p), 100.0 * p, n


def report(run, verdict, trace):
    samples = run["samples"]
    errors = {}
    for s in samples:
        err = s["error"] if not s["ok"] else verdict[s["op"]][s["result"]]
        s["failed"] = err is not None
        if err is not None:
            errors.setdefault(s["op"], err)
    failed_ops = set(errors)
    attempted = len(samples)
    failed = sum(s["failed"] for s in samples)

    print(f"workload {run['workload']}  seed {run['seed']}  cores {run['cores']}  "
          f"input {run['input']}")
    warmup = run["warmup"]
    for i, order in enumerate(run["orders"]):
        label = " (warm-up)" if i < warmup else " (traced)" if trace and i == len(run["orders"]) - 1 else ""
        print(f"pass {i}{label} order: {' '.join(order)}")
    for op, err in sorted(errors.items()):
        print(f"FAILED {op}: {err}")

    last = max(s["pass"] for s in samples)
    untraced = [s for s in samples
                if s["pass"] >= warmup and not (trace and s["pass"] == last)
                and s["op"] not in failed_ops]

    if not trace:
        # the median pass: every op at its median over the untraced passes
        per_op = {}
        for s in untraced:
            per_op.setdefault(s["op"], []).append(s["wall_s"])
        metrics = {"pass_s": (sum(statistics.median(v) for v in per_op.values()), "s")}
        for kind, write in (("read_s", False), ("write_s", True)):
            xs = [s["wall_s"] for s in untraced if s["write"] == write]
            if not xs:
                fail(f"no {kind} samples")
            t, pct, n = tail(xs)
            p50 = quantile(xs, 0.5)
            print(f"{kind}: n={n} p50={p50:.4f} "
                  f"tail=p{pct:.1f} ({t:.4f} s)")
            metrics[f"{kind}.p50"] = (p50, "s")
            metrics[f"{kind}.tail"] = (t, "s")
        metrics["ok_frac"] = (1.0 - failed / attempted, "frac")
        metrics["setup_s"] = (run["setup_s"], "s")
        metrics["driver_heap_peak_mb"] = (run["heap_peak_mb"], "MB")
        print(f"timed passes: {last + 1 - warmup}  attempted {attempted}  failed {failed}")
    else:
        units = {"_s": "s", "bytes": "B", "ns_per_row": "ns", "share": "frac",
                 "util": "frac", "per_result_row": "rows/row"}
        metrics = {}
        for k, v in run["layers"].items():
            unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
            metrics[k] = (v, unit)
        traced = sum(s["wall_s"] for s in samples if s["pass"] == last)
        before = sum(s["wall_s"] for s in samples if s["pass"] == last - 1)
        metrics["trace.overhead_s"] = (traced - before, "s")
        metrics["failed_frac"] = (failed / attempted, "frac")
        print(f"untraced pass {before:.4f} s, traced pass {traced:.4f} s")
        for k in sorted(k for k in metrics if k.startswith("self.")):
            print(f"self time {k[5:-2]}: {metrics[k][0]:.4f} s")
        print(f"spans: {os.path.join(WORK, 'run', 'spans.json')}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u}
                       for k, (v, u) in sorted(metrics.items())}}
    print(json.dumps(out))


# ---------------------------------------------------------------- regen

def regen(check):
    """Rewrites expected/<op>.json.gz for every op from a one-pass run:
    the DuckDB oracle's answer where its SQL computes the result at this
    input scale (it matches this tree's), else this tree's result."""
    import duckdb
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    shutil.rmtree(EXPECTED, ignore_errors=True)
    os.makedirs(EXPECTED)
    for w in WORKLOADS:
        run, work = run_jvm(w, 1, 0, 0, time.time() + 900)
        with open(os.path.join(work, "oracle_sql.json")) as fh:
            oracle = json.load(fh)
        for s in run["samples"]:
            if s["pass"] != 0:
                continue
            op = s["op"]
            if not s["ok"]:
                fail(f"{op} failed: {s['error']}")
            dump = os.path.join(work, "results", f"{op}.{s['result']}.json")
            tree = read_dump(dump)
            source, note, body = "tree", "no oracle SQL", tree
            if op in oracle:
                timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
                timer.start()
                try:
                    rel = con.sql(oracle[op])
                    o = (rel.columns,
                         [[encode(v) for v in r] for r in rel.fetchall()])
                except duckdb.InterruptException:
                    o = None
                    note = f"oracle SQL ran over {ORACLE_LIMIT_S} s at this scale"
                finally:
                    timer.cancel()
                diff = o and compare(check, tree, o)
                if o and diff is None:
                    source, note, body = "oracle", "", o
                elif o:
                    note = "oracle differs at this scale: " + diff
            doc = json.dumps({"op": op, "source": source, "note": note,
                              "tree_digest": file_digest(dump),
                              "columns": body[0], "rows": body[1]})
            # mtime=0: the same results give the same bytes
            with gzip.GzipFile(os.path.join(EXPECTED, op + ".json.gz"), "wb",
                               compresslevel=9, mtime=0) as fh:
                fh.write(doc.encode())
            print(f"{op}: {source} {note}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regen", action="store_true")
    a = ap.parse_args()
    # a stopped run still kills its children (run_group's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    check = load_check()
    build()
    if a.regen:
        return regen(check)
    if a.workload is None:
        fail("--workload is required")
    if not os.path.isdir(SF_DIR):
        fail(f"missing input tables {SF_DIR}")
    run, work = run_jvm(a.workload, a.seed, a.seconds, a.trace,
                        time.time() + RUN_LIMIT_S)
    report(run, check_results(check, run, work), a.trace == 1)


if __name__ == "__main__":
    main()
