#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

It compiles the engine (src/main/scala) and the benchmark program
(perfbench/src) with the Scala compiler that ships with Spark, makes the
seeded inputs, runs one JVM at local[nproc] and prints, as its last stdout
line, one JSON object with the keys correct, attempted, failed and metrics.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Everything it writes goes under .bench_build/ (or $CARGO_TARGET_DIR when
that names a relative directory).

Workloads (BENCHMARK.json lists the first two):
  catalog     7 graft.Bench catalog rows plus graft.Bench's north-rule
              PageRank on the sf0.001 catalog tables (perfbench/data),
              rewritten per seed in a seeded row and file order; each row's
              output is checked against the DuckDB oracle
              (SparkEntry.oracleSql), the PageRank against a reference.
  web_links   PageSynth pages -> link extraction -> dictionary -> PageRank
              to 1e-6 -> connected components -> shaping -> TSV sink;
              checked against the generator's edge list and single-process
              PageRank and union-find references.
  clusty_cli  graft.Main (single, set-cover, cd-hit, leiden) on a distances
              TSV with planted clusters; checked against the plant. About
              140 s per run, too slow for the ~60 s a run gets, so it is
              not in BENCHMARK.json and is run by hand.

Extra options: --passes N (fixed number of timed passes instead of
--seconds), --corrupt 1 (damage one written result before the checks; the
run must then report a failed operation), --self-test (runs the corruption
self-test for every workload and exits 0 only if every corruption is caught).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("catalog", "web_links", "clusty_cli")
# seconds the benchmark JVM may take; clusty_cli, run by hand, needs about 140
JVM_TIMEOUT = {"catalog": 170, "web_links": 170, "clusty_cli": 600}
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"]
CATALOG_FILES = 4
HEAP = "4g"
END_TO_END = [("wall_s", "s"), ("setup_s", "s"), ("pr_edges_per_s", "edges/s"),
              ("peak_storage_mb", "MB")]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if os.path.isabs(d) or ".." in d.split(os.sep):
        d = ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail(f"no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build(out):
    """Compile engine + benchmark once per source content."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "classes.sha256")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    jars = spark_jars()
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", jars, "-d", classes] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        fail("compile failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s")
    return classes


def java_cmd(classes, work, main, args):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-cp", classes + os.pathsep + spark_jars(), main] + args)


def run_jvm(cmd, timeout):
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("benchmark JVM timed out")
    if p.returncode != 0:
        sys.stderr.write(out[-5000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    return out


# --- catalog oracle ---------------------------------------------------------

def canon(df):
    """tools/check_oracle.py's canonicalization: columns by name, floats
    rounded to 6 places, rows sorted, sha256 of the row list."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in df.itertuples(index=False)]
    rows.sort(key=lambda t: tuple(str(x) for x in t))
    return [len(rows), cols, hashlib.sha256(repr(rows).encode()).hexdigest()[:16]]


def catalog_inputs(work, seed):
    """The catalog tables with the same rows in a seeded row order, split
    over CATALOG_FILES files per table (the seed picks which rows land in
    which file; the file count is fixed so that it does not vary the task
    count between seeds)."""
    import numpy as np
    import pyarrow.parquet as pq
    d = os.path.join(work, "catalog", f"seed={seed}")
    rng = np.random.RandomState(seed)
    n_files = CATALOG_FILES
    sizes = {}
    for t in CATALOG_TABLES:
        tab = pq.read_table(os.path.join(HERE, "data", "catalog", f"{t}.parquet"))
        tab = tab.take(rng.permutation(tab.num_rows))
        out = os.path.join(d, f"{t}.parquet")
        subprocess.run(["rm", "-rf", out], check=True)
        os.makedirs(out)
        step = -(-tab.num_rows // n_files)
        for k in range(n_files):
            pq.write_table(tab.slice(k * step, step), os.path.join(out, f"part-{k:05d}.parquet"))
        sizes[f"rows.{t}"] = tab.num_rows
    sizes["files_per_table"] = n_files
    return d, sizes


def catalog_oracle(classes, work):
    """Oracle (rows, columns, hash) per catalog row, computed once per
    (base tables, oracle SQL) and cached: the seeded inputs hold the same
    rows, so the answers do not depend on the seed."""
    import duckdb
    stamp = open(os.path.join(os.path.dirname(classes), "classes.sha256")).read()
    sql_path = os.path.join(work, f"oracle_sql-{stamp[:16]}.json")
    if not os.path.exists(sql_path):
        run_jvm(java_cmd(classes, work, "perfbench.OracleSql", [sql_path]), 120)
    sql = json.load(open(sql_path))
    data = os.path.join(HERE, "data", "catalog")
    h = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        h.update(open(f, "rb").read())
    cache = os.path.join(work, f"oracle-{h.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        return json.load(open(cache))
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in CATALOG_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    want = {name: canon(con.sql(q).df()) for name, q in sorted(sql.items())}
    with open(cache, "w") as fh:
        json.dump(want, fh)
    return want


def catalog_check(result, oracle, check, corrupt):
    """Compare the check pass's written rows with the oracle; a mismatch
    fails that row's check-pass op and (via the fingerprints the JVM
    compared) every timed op of the row."""
    import duckdb
    con = duckdb.connect()
    bad = {}
    for name, want in oracle.items():
        part = os.path.join(check, name, "*.parquet")
        if not glob.glob(part):
            bad[name] = "no output"
            continue
        df = con.sql(f"SELECT * FROM '{part}'").df()  # every part file
        if corrupt and "op." + name == CORRUPTED["catalog"] and len(df):
            df = df.iloc[1:]  # self-test: drop one row of the result
        got = canon(df)
        if got != want:
            bad[name] = f"oracle mismatch: spark {got} duckdb {want}"
    for p in result["passes"]:
        for o in p["ops"]:
            q = o["name"][3:]
            if q in bad and o["ok"]:
                o["ok"], o["note"] = False, bad[q]


# --- result -----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def summarize(res):
    passes = res["passes"]
    # The first undisturbed timed pass; a disturbed one only when every pass
    # was. Later passes are further into the JIT warm-up, and how many fit
    # in --seconds depends on the machine's speed, so they are not reported.
    timed = ([p for p in passes if p["kind"] == "timed"] or
             [p for p in passes if p["kind"] == "disturbed"])[:1]
    ops = [o for p in passes for o in p["ops"]]
    failed = sum(1 for o in ops if not o["ok"])
    walls = [p["wall_s"] for p in timed]
    pr = [sum(r["edges"] * r["supersteps"] for r in p["pr"]) / sum(r["s"] for r in p["pr"])
          for p in timed if p["pr"]]
    values = {
        "wall_s": (median(walls), len(walls)),
        "setup_s": (res["setup_s"], 1),
        "failed_ops_frac": (failed / len(ops), len(ops)),
        "pr_edges_per_s": (median(pr), len(pr)),
        "peak_storage_mb": (res["peak_storage_mb"],
                            sum(p["kind"] in ("timed", "disturbed") for p in passes)),
    }
    return ops, failed, values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--passes", type=int)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if not a.workload:
        ap.error("--workload is required")

    out = build_dir()
    sources()
    spark_jars()
    os.makedirs(out, exist_ok=True)
    classes = build(out)
    work = os.path.join(out, "work")
    os.makedirs(work, exist_ok=True)
    oracle, extra = None, []
    sizes = {}
    if a.workload == "catalog":
        oracle = catalog_oracle(classes, work)
        cat_dir, sizes = catalog_inputs(work, a.seed)
        extra = ["--catalog", cat_dir]

    res_path = os.path.join(work, f"result-{a.workload}-{a.seed}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", res_path,
            "--corrupt", str(a.corrupt)] + extra
    if a.passes:
        args += ["--passes", str(a.passes)]
    run_jvm(java_cmd(classes, work, "perfbench.Bench", args), JVM_TIMEOUT[a.workload])
    res = json.load(open(res_path))
    if oracle is not None:
        catalog_check(res, oracle, os.path.join(work, "catalog", f"check-{a.seed}"), a.corrupt)
    for d in (f"seed={a.seed}", f"check-{a.seed}", f"out-{a.seed}"):
        subprocess.run(["rm", "-rf", os.path.join(work, a.workload, d)], check=True)

    ops, failed, values = summarize(res)
    env = res["env"]
    env["commit"] = commit_id()
    env["steal_s"] = sum(p["steal_s"] for p in res["passes"])  # timed passes
    print(json.dumps({"workload": a.workload, "seed": a.seed, "env": env,
                      "inputs": {**sizes, **res["inputs"]}, "session_s": res["session_s"],
                      "warm_s": res["warm_s"], "prepare_s": res["prepare_s"],
                      "pass_wall_s": [p["wall_s"] for p in res["passes"]],
                      "op_s": {o["name"]: [q["s"] for p in res["passes"] for q in p["ops"]
                                           if q["name"] == o["name"]]
                               for o in res["passes"][0]["ops"]},
                      "failed_ops": [f'{o["name"]}: {o["note"]}' for o in ops if not o["ok"]]}))
    units = dict(END_TO_END + [("failed_ops_frac", "ratio")])
    for k, (v, n) in values.items():
        print(f"{a.workload:11s} {k:16s} {v:14.6g} {units[k]:8s} n={n}")
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
        for k, m in metrics.items():
            print(f"{a.workload:11s} {k:28s} {m['value']:14.6g} {m['unit']}")
    else:
        metrics = {k: {"value": values[k][0], "unit": u} for k, u in END_TO_END
                   if values[k][1]}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith((".s", "_s", "_s_mean")):
        return "s"
    if name.endswith("skew") or name.endswith("per_candidate"):
        return "ratio"
    if name.endswith(".bytes"):
        return "bytes"
    return "count"


def commit_id():
    """Content id of the engine sources (the checkout is not a git repo)."""
    h = hashlib.sha256()
    for f in sources():
        h.update(open(f, "rb").read())
    return h.hexdigest()[:12]


# the operation each workload's --corrupt damages (catalog: the first oracle
# row's check-pass output; the others: a file the first timed pass wrote)
CORRUPTED = {"catalog": "op.q_cc", "web_links": "graph.cc", "clusty_cli": "op.cli_single"}


def self_test():
    """Each workload, once with a damaged result: the check must reject it
    and the failure must show as a failed operation."""
    ok = True
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", "7", "--passes", "1", "--corrupt", "1"],
                           stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines() if r.returncode == 0 else []
        detail = next((json.loads(x) for x in lines if x.startswith('{"workload"')), None)
        last = json.loads(lines[-1]) if lines else None
        caught = (last is not None and not last["correct"] and
                  any(f.startswith(CORRUPTED[w] + ":") for f in detail["failed_ops"]))
        print(f"self-test {w}: corrupted {CORRUPTED[w]} "
              f"{'rejected' if caught else 'NOT rejected'}"
              + (f"; failed ops: {detail['failed_ops']}" if detail else " (run failed)"))
        ok &= caught
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
