#!/usr/bin/env python3
"""The repo benchmark: one named workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --make-digests

Run from the repository root. The first run builds the benchmark (an sbt
build in this directory that compiles against the program's sources) and
caches the classpath; later runs start the JVM directly. The JVM runs the
workload and writes its timings; this script then checks every output
against a computation made apart from the program (DuckDB), stamps the
host's contention, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 1` attaches the per-layer listeners and prints the per-layer
metrics instead; the spans go to perfbench/.work/<workload>-<seed>/trace.json.

`--make-digests` recomputes the expected output of every batch query from
scratch (oracle SQL in DuckDB over perfbench/data) into digests.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")
DIGESTS = os.path.join(HERE, "digests.json")
TABLES = ["events", "documents", "embeddings"]
# rows of each table the warm-up pass reads (the head of the file)
WARM_ROWS = {"events": 10000, "documents": 500, "embeddings": 400}

WORKLOADS = ["batch-mr", "batch-curation", "stream"]
RUN_LIMIT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def source_files():
    """Every file the benchmark's build reads, for the build stamp."""
    picks = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            picks += [os.path.join(d, f) for f in sorted(files)]
    return picks


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compile the benchmark if its sources changed; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not "
             "next to perfbench/; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    cache = os.path.join(WORK, "classpath.json")
    want = stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if got.get("stamp") == want:
            return got["classpath"]
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            timeout=900)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cache, "w") as f:
        json.dump({"stamp": want, "classpath": cp}, f)
    return cp


# ---- inputs ----------------------------------------------------------------

def file_sha(p):
    with open(p, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def warm_tables():
    """The head of each input table, for the warm-up pass (built once)."""
    warm = os.path.join(WORK, "warm")
    done = os.path.join(warm, "done")
    if os.path.exists(done):
        return warm
    import pyarrow.parquet as pq
    os.makedirs(warm, exist_ok=True)
    for t in TABLES:
        tab = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        pq.write_table(tab.slice(0, WARM_ROWS[t]),
                       os.path.join(warm, f"{t}.parquet"))
    open(done, "w").close()
    return warm


# ---- host contention -------------------------------------------------------

def host_sample():
    s = {"nproc": len(os.sched_getaffinity(0))}
    try:
        s["load1"] = float(open("/proc/loadavg").read().split()[0])
    except OSError:
        s["load1"] = os.getloadavg()[0]
    try:
        cpu = open("/proc/stat").readline().split()
        s["steal_ticks"] = int(cpu[8]) if len(cpu) > 8 else 0
        s["total_ticks"] = sum(int(x) for x in cpu[1:])
    except OSError:
        s["steal_ticks"] = s["total_ticks"] = 0
    return s


def contention(start, end):
    ticks = max(1, end["total_ticks"] - start["total_ticks"])
    return {"nproc": start["nproc"], "load1_start": start["load1"],
            "load1_end": end["load1"],
            "steal_ticks_start": start["steal_ticks"],
            "steal_ticks_end": end["steal_ticks"],
            "steal_share": (end["steal_ticks"] - start["steal_ticks"]) / ticks}


# ---- checks ----------------------------------------------------------------

def canon(v):
    """One value as tools/check_correctness.py compares it: floats at full
    precision (repr), NULL and NaN spelled out."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def digest_rows(columns, rows):
    """(row count, sha256) of a result: columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in canon_rows:
        h.update(json.dumps(r).encode() + b"\n")
    return len(canon_rows), h.hexdigest()


def digest_relation(rel):
    return digest_rows(list(rel.columns), rel.fetchall())


def input_hashes():
    return {t: file_sha(os.path.join(DATA, f"{t}.parquet")) for t in TABLES}


def digest_key(oracle_sql, inputs):
    h = hashlib.sha256(oracle_sql.encode())
    for t in sorted(inputs):
        h.update(f"\0{t}={inputs[t]}".encode())
    return h.hexdigest()


def duck_with_tables():
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(DATA, t + '.parquet')}'")
    return con


def check_batch(check):
    """Every written result against its stored oracle digest. A digest whose
    key (oracle text + input files) no longer matches is stale: refuse."""
    import duckdb
    stored = json.load(open(DIGESTS))["queries"] if os.path.exists(DIGESTS) else {}
    inputs = input_hashes()
    problems = []
    for out in check["outputs"]:
        q = out["query"]
        want = stored.get(q)
        key = digest_key(check["oracle_sql"][q], inputs)
        if want is None or want["key"] != key:
            problems.append(f"{q}: stored digest is missing or stale "
                            "(run.py --make-digests recomputes it)")
            continue
        rel = duckdb.sql(f"SELECT * FROM '{out['path']}/*.parquet'")
        n, d = digest_relation(rel)
        if (n, d) != (want["rows"], want["digest"]):
            problems.append(f"{q} round {out['round']}: {n} rows, digest "
                            f"differs from the oracle's ({want['rows']} rows)")
    return problems


def stream_oracle(events_csv, oracle_sql):
    import duckdb
    con = duckdb.connect()
    path = events_csv.replace("'", "''")
    con.execute(
        "CREATE VIEW events AS SELECT event_id, make_timestamp(ts_us) AS ts, "
        f"user_id, event_type FROM read_csv('{path}', header = true, columns = "
        "{'event_id': 'BIGINT', 'ts_us': 'BIGINT', 'user_id': 'BIGINT', "
        "'event_type': 'VARCHAR'})")
    return sorted(con.sql(f"SELECT user_id, a_id, b_id FROM ({oracle_sql})")
                  .fetchall())


def read_matches(path):
    with open(path) as f:
        next(f)
        return sorted(tuple(int(x) for x in line.split(",")) for line in f)


def check_stream(check):
    want = stream_oracle(check["events"], check["oracle_sql"])
    got = read_matches(check["matches"])
    if got == want:
        return []
    gs, ws = set(got), set(want)
    return [f"main plan: {len(got)} matches, oracle {len(want)}; "
            f"{len(ws - gs)} missing, {len(gs - ws)} unexpected"
            + ("" if len(gs) == len(got) else "; duplicates present")]


# ---- commands --------------------------------------------------------------

def java_cmd(cp, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed set of JIT compiler threads, so the traced run's JIT CPU
    # (jvm.jit_cpu_ms) is not lost with a thread that ends
    return [java, *opens, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main", "--work", work, *args]


def run_jvm(cmd, work, budget):
    log = os.path.join(work, "jvm.log")
    # Spark's scratch space stays in the run's work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=err,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            fail(f"the JVM ran past {budget:.0f} s; see {log}", 3)
        finally:
            if p.poll() is None:  # timed out or interrupted: never leave it
                p.kill()
                p.wait()
    if code != 0:
        tail = open(log).read().splitlines()[-15:]
        fail(f"the JVM exited with {code}; see {log}\n" + "\n".join(tail), 3)


def make_digests():
    cp = classpath()
    work = os.path.join(WORK, "digests")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_jvm(java_cmd(cp, work, ["--mode", "oracles"]), work, 600)
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    inputs = input_hashes()
    con = duck_with_tables()
    queries = {}
    for q in sorted(oracles):
        t0 = time.time()
        n, d = digest_relation(con.sql(oracles[q]))
        queries[q] = {"key": digest_key(oracles[q], inputs), "rows": n,
                      "digest": d, "oracle_sql": oracles[q]}
        print(f"{q}: {n} rows in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(DIGESTS, "w") as f:
        json.dump({"inputs": inputs, "queries": queries}, f, indent=1,
                  sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


def run(a):
    host0 = host_sample()
    cp = classpath()
    warm = warm_tables()
    t_start = time.time()  # after any build: the run itself must be short
    work = os.path.join(WORK, f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--warm", warm]
    if a.inject_late:
        args += ["--inject-late", "1"]
    if a.cpus:
        args += ["--cpus", str(a.cpus)]
    run_jvm(java_cmd(cp, work, args), work, RUN_LIMIT_S - (time.time() - t_start))
    res = json.load(open(os.path.join(work, "result.json")))
    check = res["check"]
    wrong = check_batch(check) if check["kind"] == "batch" else check_stream(check)
    host1 = host_sample()
    for p in res["errors"] + wrong:
        print(f"perfbench: {p}", file=sys.stderr)
    # what a reader needs to judge the run: host contention, run shape, and
    # the wall-clock figures, which this host's CPU steal makes too noisy to
    # carry a bound (see README.md)
    print("contention " + json.dumps(contention(host0, host1)))
    print("run " + json.dumps({
        "workload": a.workload, "seed": a.seed, "cpus": res["cpus"],
        "rounds": check["rounds"], **res["end_to_end"],
        "elapsed_s": round(time.time() - t_start, 3)}))
    # print exactly the metrics BENCHMARK.json declares, with its units
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        values, kind = res["layers"], "per_layer"
    else:
        values = dict(res["end_to_end"], setup_s=res["setup_s"])
        kind = "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared[kind]}
    # the output directories are large; keep only what explains the run
    for d in ("out", "ckpt", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": not wrong, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-digests", action="store_true")
    ap.add_argument("--cpus", type=int,
                    help="run local[N] instead of one slot per core")
    ap.add_argument("--inject-late", action="store_true",
                    help="checker self-test: put one event behind the "
                         "watermark (stream); the check must fail")
    a = ap.parse_args()
    # a termination request unwinds normally, so child processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.make_digests:
        make_digests()
    elif a.workload:
        run(a)
    else:
        ap.error("--workload or --make-digests is required")


if __name__ == "__main__":
    main()
