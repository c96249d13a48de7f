#!/usr/bin/env python3
"""graft benchmark: reactive ingest through the TCP facade, and a pipeline
query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ivm_ingest|pipeline_mix> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run compiles the program (src/main/scala) together with the
benchmark (perfbench/src) into $CARGO_TARGET_DIR (default .bench_build);
later runs reuse the build while the sources are unchanged. The program runs
on Spark's local[N] with SPARK_GRAFT_CPUS = nproc.

The last stdout line is one JSON object with exactly the keys correct,
attempted, failed and metrics: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. The line before it is {"meta": {...}}: host,
nproc, SPARK_GRAFT_CPUS, driver heap, JVM, git commit or source hash, seed,
and the op-log digest. Every run's full record is also kept under
<build>/perfbench/results/.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("ivm_ingest", "pipeline_mix")
JVM_TIMEOUT_S = 165
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
PIPELINE_TABLES = ("region nation customer supplier part orders lineitem "
                   "events documents embeddings").split()


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def scala_files(*dirs):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        die("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("java not found: set JAVA_HOME or put java on PATH")
    return exe


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(d):
        d = os.path.join(ROOT, d)
    return os.path.join(d, "perfbench")


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(java, jars):
    """Compile program + benchmark with scalac (from the Spark distribution's
    scala-compiler jar); cached by a digest of every source file."""
    if not os.path.isdir(PROGRAM_SRC):
        die(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    files = scala_files(PROGRAM_SRC, BENCH_SRC)
    digest = source_digest(files + [os.path.abspath(__file__)])
    broot = build_root()
    classes = os.path.join(broot, f"classes-{digest[:16]}")
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, digest
    os.makedirs(broot, exist_ok=True)
    for old in os.listdir(broot):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(broot, old), ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(broot, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    print(f"[perfbench] compiling {len(files)} sources", flush=True)
    r = subprocess.run([java, "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        die("compilation failed", 3)
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", flush=True)
    jar = os.path.join(classes, "app.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(classes):
            for n in names:
                if n.endswith(".class"):
                    path = os.path.join(base, n)
                    z.write(path, os.path.relpath(path, classes))
    # Class-data-sharing archive from one self-test run: later runs map the
    # loaded classes instead of parsing and verifying Spark's jars again.
    # Best effort — without it the runs are only slower to start.
    work = os.path.join(broot, "cds-train")
    _, code = run_jvm(java, jars, jar, ["--selftest"], work, want_result=False, quiet=True,
                      extra=[f"-XX:ArchiveClassesAtExit={os.path.join(classes, 'app.jsa')}"])
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print("[perfbench] class-data-sharing archive not built; continuing without it", flush=True)
        if os.path.exists(os.path.join(classes, "app.jsa")):
            os.remove(os.path.join(classes, "app.jsa"))
    open(os.path.join(classes, ".ok"), "w").close()
    print(f"[perfbench] built in {time.time() - t0:.1f} s", flush=True)
    return classes, digest


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(java, jars, jar, jvm_args, work, want_result=True, quiet=False, extra=()):
    """Run graftbench.Main; forward its log lines; return (result, code)."""
    for d in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-Xlog:disable", *extra,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={work}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    jsa = os.path.join(os.path.dirname(jar), "app.jsa")
    if not extra and os.path.exists(jsa):
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    cmd += ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "graftbench.Main"] + jvm_args
    log_path = os.path.join(work, "jvm.log")
    result = None
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work,
                             env=env, start_new_session=True)
        deadline = time.time() + JVM_TIMEOUT_S
        try:
            import selectors
            sel = selectors.DefaultSelector()
            sel.register(p.stdout, selectors.EVENT_READ)
            while True:
                left = deadline - time.time()
                if left <= 0:
                    raise subprocess.TimeoutExpired(cmd, JVM_TIMEOUT_S)
                if not sel.select(timeout=min(left, 1.0)):
                    if p.poll() is not None:
                        break
                    continue
                line = p.stdout.readline()
                if not line:
                    break
                if line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                elif not quiet:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            # a result already printed stands even if shutdown then hung
            return result, (0 if result is not None else "timeout")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if not quiet and (p.returncode != 0 or (want_result and result is None)):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
    return result, p.returncode


# ── pipeline content check: Spark's results vs the DuckDB oracle ────────

def canon(v):
    """Type-tagged, bit-exact value (same rules as scripts/local_check.py)."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", v.hex())
    if isinstance(v, int):
        return ("i", v)
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def fingerprint(cols, rows):
    """(row count, order-independent digest) of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted((tuple(canon(r[i]) for i in order) for r in rows),
                        key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    h = hashlib.sha256(repr(([cols[i] for i in order], canon_rows)).encode())
    return len(canon_rows), h.hexdigest()[:16]


def oracle_check(data_dir, check_dir, tables=PIPELINE_TABLES):
    """Per query: row count + content fingerprint of Spark's result against
    the same of its SparkEntry.oracleSql query run by DuckDB over the same
    seeded tables. Returns (attempted, failed)."""
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    failed = 0
    for name in sorted(oracle):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')")
            g = fingerprint([d[0] for d in got.description], got.fetchall())
            exp = con.execute(oracle[name])
            e = fingerprint([d[0] for d in exp.description], exp.fetchall())
        except Exception as ex:  # an unreadable result or oracle error fails the query
            print(f"[perfbench] check FAIL {name}: {ex}")
            failed += 1
            continue
        ok = g == e
        failed += 0 if ok else 1
        print(f"[perfbench] check {'PASS' if ok else 'FAIL'} {name}: spark rows={g[0]} fp={g[1]}"
              f" oracle rows={e[0]} fp={e[1]}")
    return len(oracle), failed


def selftest_oracle(work):
    """oracle_check passes a result equal to its oracle and counts one with
    a changed value as a failed query."""
    import duckdb
    data, check = os.path.join(work, "data"), os.path.join(work, "check")
    for d in (data, os.path.join(check, "q_ok"), os.path.join(check, "q_bad")):
        os.makedirs(d, exist_ok=True)
    con = duckdb.connect()
    rows = "SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE), (2, 'b', 1.5::DOUBLE)) v(k, s, x)"
    con.execute(f"COPY ({rows}) TO '{data}/region.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY ({rows}) TO '{check}/q_ok/part-0.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT k, s, CASE WHEN k = 2 THEN 1.25::DOUBLE ELSE x END AS x FROM ({rows})) "
                f"TO '{check}/q_bad/part-0.parquet' (FORMAT PARQUET)")
    with open(os.path.join(check, "oracle_sql.json"), "w") as fh:
        json.dump({"q_ok": "SELECT * FROM region", "q_bad": "SELECT * FROM region"}, fh)
    got = oracle_check(data, check, tables=("region",))
    ok = got == (2, 1)
    print(f"[selftest] {'ok  ' if ok else 'FAIL'} oracle check counts a result with one changed value"
          f" (attempted, failed) = {got}")
    return ok


def selftest(java, jars, jar):
    # the fingerprint must separate a corrupted result from the original
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    cols = ["k", "s", "x"]
    ok = fingerprint(cols, rows) == fingerprint(cols, list(reversed(rows)))
    ok &= fingerprint(cols, rows) != fingerprint(cols, [(1, "a", 0.5), (2, "b", 1.25)])
    ok &= fingerprint(cols, rows) != fingerprint(cols, rows[:1])
    print(f"[selftest] {'ok  ' if ok else 'FAIL'} content fingerprint is order-free and sees a changed value")
    work = os.path.join(build_root(), f"selftest-{os.getpid()}")
    try:
        ok &= selftest_oracle(os.path.join(work, "oracle"))
        _, code = run_jvm(java, jars, jar, ["--selftest"], work, want_result=False)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok and code == 0 else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (datasets, results, JVM log)")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    java, jars = java_bin(), spark_jars()
    classes, digest = build(java, jars)
    jar = os.path.join(classes, "app.jar")
    if a.selftest:
        sys.exit(selftest(java, jars, jar))

    broot = build_root()
    work = os.path.join(broot, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(broot, "results")
    os.makedirs(results, exist_ok=True)
    try:
        res, code = run_jvm(java, jars, jar,
                            ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                             str(a.seconds), "--trace", str(a.trace), "--work", work], work)
        if res is None or code != 0:
            die(f"benchmark JVM failed ({code})", 1)
        meta = res.pop("meta")
        if a.workload == "pipeline_mix":
            att, bad = oracle_check(os.path.join(work, meta["data_dir"]),
                                    os.path.join(work, meta["check_dir"]))
            res["attempted"] += att
            res["failed"] += bad
            res["correct"] = res["correct"] and bad == 0
        for f in os.listdir(work):
            if f.startswith("spans-"):
                shutil.copy(os.path.join(work, f), os.path.join(results, f))
    finally:
        if a.keep:
            print(f"[perfbench] kept {os.path.relpath(work, ROOT)}")
        else:
            shutil.rmtree(work, ignore_errors=True)

    meta.update({
        "host": platform.node(), "machine": platform.machine(), "nproc": nproc(),
        "SPARK_GRAFT_CPUS": nproc(), "driver_heap": HEAP,
        "git_commit": git_commit(), "source_sha256": digest,
        "error_rate": res["failed"] / res["attempted"],
    })
    out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump({"meta": meta, **out}, fh, indent=1)
    print(json.dumps({"meta": meta}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
