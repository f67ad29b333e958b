#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against graft on Spark local[N].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the program and the benchmark client from source (once per source
state, into .bench_build/), generates the workload's inputs from the seed,
runs the client JVM, checks every op's output, and prints one JSON line:
with --trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics of a traced run. Everything it writes stays under
.bench_build/ in the checkout it runs from.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
WORKLOADS = ["efo1_exact", "ranked_iterative_ingest"]
# Scale factor of each workload's generated tables (TPC-H ratios). Ranking,
# training and the graph loops cost entities x edges per op, so they run on
# the smaller KG.
SCALE = {"efo1_exact": 0.002, "ranked_iterative_ingest": 0.0002}
SETUP_REPS = 3
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".properties"))]
    return sorted(files)


def spark_home():
    """The Spark installation the program runs on ($SPARK_HOME)."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")
    return home


def build():
    """Compiles the program and the client unless the sources are unchanged
    since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the program's sources (src/main/scala) "
                         "are missing; run from a checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark client")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (see {BUILD}/build.log)")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def data_dir(sf, seed):
    """Generated tables for (scale, seed, generator); made once per
    checkout."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}-{version}")
    meta = os.path.join(d, "anchors.json")
    if not os.path.exists(meta):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        anchors = gen.make_tables(tmp, sf, seed)
        with open(os.path.join(tmp, "anchors.json"), "w") as fh:
            json.dump(anchors, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta) as fh:
        return d, json.load(fh)


def slice_plan(workload, seed, seconds, sf):
    d, anchors = data_dir(sf, seed)
    p = gen.plan(workload, seed, anchors, sf)
    return dict(workload=workload, seconds=seconds, data=d, **p)


def run_jvm(plan, run_dir):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "graft.perfbench.Bench",
            plan_path, out_path]
    with open(os.path.join(run_dir, "client.log"), "w") as err:
        rc = subprocess.run(cmd, cwd=run_dir, stdout=err,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: client exited with {rc} "
                         f"(see {run_dir}/client.log)")
    with open(out_path) as fh:
        return json.load(fh)


def mix64(x):
    m = (1 << 64) - 1
    z = (x + 0x9E3779B97F4A7C15) & m
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & m
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & m
    return z ^ (z >> 31)


def answer_hash(ids):
    """Same function as the client's Hash.ofLongs, as a signed 64-bit int."""
    h = sum(mix64(i & ((1 << 64) - 1)) for i in ids) & ((1 << 64) - 1)
    return h - (1 << 64) if h >= 1 << 63 else h


def oracle_check(result, data):
    """Exact answer sets against the SQL the program's OracleSql emits for the
    same formulas, run by DuckDB over the same parquet files. Returns
    {key: (count, hash)}."""
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "supplier", "nation", "region", "part", "orders",
              "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    con.execute("CREATE TABLE edges AS " + result["oracle"]["edges_cte"]
                + "SELECT * FROM edges")
    out = {}
    for key, sql in result["oracle"]["sql"].items():
        ids = [r[0] for r in con.execute(sql).fetchall()]
        out[key] = (len(ids), answer_hash(ids))
    con.close()
    return out


def failures(sl, data):
    """{op id: reason} for each failed or wrong-answer timed op."""
    expect = oracle_check(sl, data) if sl["workload"] == "efo1_exact" else {}
    bad = {}
    for op in sl["ops"]:
        err = op["err"]
        if err is None and op["key"]:
            n, h = expect[op["key"]]
            if (n, h) != (op["n"], int(op["h"])):
                err = f"{op['key']}: {op['n']} answers, oracle has {n}"
        if err is not None:
            bad[op["op"]] = f"op {op['op']} ({op['kind']}): {err}"
    return bad


def end_to_end(sl):
    ms = [op["ms"] for op in sl["ops"] if op["err"] is None]
    setup = statistics.median(sl["setup_s"]) + sl["warm_s"]
    return {
        "setup_s": (setup, "s"),
        "op_p50_ms": (stats.median_hd(ms), "ms"),
        "ops_per_s": (len(ms) / sl["wall_s"], "1/s"),
        "cached_mb_end": (sl["cached_mb_end"], "MB"),
    }


def tail_note(sl):
    """The highest of p90/p75 with ten ops beyond it, for the log."""
    ms = [op["ms"] for op in sl["ops"] if op["err"] is None]
    for q in (0.9, 0.75):
        try:
            return f"p{q * 100:g}={stats.tail(ms, q):.1f} ms of {len(ms)} ops"
        except ValueError:
            pass
    return f"{len(ms)} ops: too few for a tail with ten beyond it"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float,
                    help="scale factor for every workload (smoke tests)")
    args = ap.parse_args()

    build()
    cpus = os.cpu_count() or 1
    if args.trace:
        # One traced session covers every workload, the named one first, so
        # each traced run measures every layer.
        names = [args.workload] + [w for w in WORKLOADS if w != args.workload]
        reps = 1
    else:
        names = [args.workload]
        reps = SETUP_REPS
    slices = [slice_plan(w, args.seed, args.seconds / len(names),
                         args.scale or SCALE[w]) for w in names]
    if args.trace:
        # Per-layer figures are per call; one warm-up pass is enough for them.
        for sl in slices:
            sl["warm"] = sl["warm"][:sl["round_len"]]
    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-"
                           f"{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    result = run_jvm(dict(cpus=cpus, setup_reps=reps, trace=args.trace,
                          slices=slices), run_dir)

    # Warm-up ops are checked too, so they count as attempted.
    attempted, bad = 0, {}
    for sl, planned in zip(result["slices"], slices):
        attempted += len(sl["ops"]) + len(sl["warm_ms"])
        bad.update({("warm", sl["workload"], k): f"warm-up {w}"
                    for k, w in enumerate(sl["warm_failures"])})
        bad.update(failures(sl, planned["data"]))

    if args.trace:
        ops = sum(len(sl["ops"]) for sl in result["slices"])
        codegen = sum(sl["codegen_compiles"] * sl["codegen_mean_ms"]
                      for sl in result["slices"]) / max(1, ops)
        metrics = stats.layer_metrics(result["spans"], result["jobs"], codegen)
        rows = stats.op_accounting(result["spans"], [
            op for sl in result["slices"] for op in sl["ops"]])
        log(f"span accounting over {len(rows)} ops: largest gap "
            f"{max(r['gap_ms'] for r in rows):.4f} ms, largest share outside "
            f"every layer {max(r['client_ms'] / r['wall_ms'] for r in rows):.2%}")
        for r in stats.unaccounted(rows):
            bad.setdefault(r["op"], f"op {r['op']}: its spans explain "
                           f"{r['wall_ms'] - r['gap_ms']:.1f} of "
                           f"{r['wall_ms']:.1f} ms")
        for sl in result["slices"]:
            e2e = end_to_end(sl)
            log(f"traced {sl['workload']}: " + ", ".join(
                f"{k}={v:.4g}" for k, (v, _) in e2e.items()))
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump({"spans": result["spans"], "jobs": result["jobs"]}, fh)
    else:
        metrics = end_to_end(result["slices"][0])
        log(f"{args.workload}: {tail_note(result['slices'][0])}")
        if not bad:
            shutil.rmtree(run_dir)
    for b in list(bad.values())[:20]:
        log(f"FAILED {b}")
    line = {"correct": not bad, "attempted": attempted,
            "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
