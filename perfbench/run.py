#!/usr/bin/env python3
"""Benchmark for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per checkout), starts
one JVM that sets up a Spark session and runs the workload in a closed
loop for the given seconds, checks every result (registry entries against
the DuckDB oracle, PageRank against a plain power iteration), prints every
metric by name with its unit, and ends with one JSON line. With --trace 0
that line carries the end-to-end metrics, with --trace 1 the per-layer
ones. Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
SF = "sf0.01"
DATA = os.path.join(HERE, "data", SF)
PAGERANK_K = 300
# workload name on the command line -> name inside the measuring process
WORKLOADS = {f"pagerank_k{PAGERANK_K}": "pagerank", f"registry_{SF}": "registry"}
# one-shot records for the notes, not benchmark workloads: no time limit
ONE_SHOT = {f"graphx_k{PAGERANK_K}": "graphx"}
HEAP = "4g"
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")
JVM_TIMEOUT_S = 165
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("op_p50_s", "s"),
              ("op_p90_s", "s")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles engine and harness with sbt; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    # Class-data sharing: one priming process that touches every workload's
    # code dumps the classes it loaded; every measured process then maps
    # them instead of parsing hundreds of jars, the first one included.
    prime = os.path.join(WORK, "prime")
    shutil.rmtree(prime, ignore_errors=True)
    os.makedirs(prime)
    run_jvm(classpath, ["prime", "0", "0", "0", DATA, prime,
                        os.path.join(prime, "result.json"), str(PAGERANK_K)],
            os.path.join(prime, "jvm.log"), timeout=600,
            extra=[f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, args, log_path, timeout, extra=()):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: with C2 the pass times keep falling for over a minute as it
    # compiles Spark's driver code (6.4 s -> 3.7 s on query_mix), so runs
    # this short would measure how far the JIT had got. C1 reaches its
    # steady state within the warm-up pass.
    cmd = ["java", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={tmp}", "-Dio.netty.tryReflectionSetAccessible=true"]
    cmd += list(extra) or [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"measuring process exceeded {timeout}s; log in {log_path}")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"measuring process exited with {code}")


def canonical(df):
    cols = sorted(df.columns)
    return cols, df[cols].sort_values(cols).reset_index(drop=True)


def same_values(a, b):
    """Exact comparison, as tools/check_oracle.py makes it."""
    for c in a.columns:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    return False
            elif str(x) != str(y):
                return False
    return True


def oracle_check(names, sql_by_name, dumps):
    """Compares each dumped registry result with DuckDB's answer to the
    entry's oracle SQL over the same tables. Returns {name: error}."""
    import duckdb
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA}/{t}.parquet')")
    errors = {}
    for name in names:
        sql = sql_by_name.get(name)
        if sql is None:
            errors[name] = "no oracle SQL"
            continue
        key = hashlib.sha256((DATA + sql).encode()).hexdigest()[:16]
        cached = os.path.join(cache, f"{name}-{key}.parquet")
        try:
            if not os.path.exists(cached):
                con.execute(f"COPY ({sql}) TO '{cached}.tmp' (FORMAT parquet)")
                os.replace(f"{cached}.tmp", cached)
            want = con.execute(
                f"SELECT * FROM read_parquet('{cached}')").df()
            got = con.execute(
                f"SELECT * FROM read_parquet('{dumps}/{name}/*.parquet')").df()
        except Exception as e:  # noqa: BLE001 - any load error fails the entry
            errors[name] = f"load/exec error: {e}"
            continue
        gc, g = canonical(got)
        wc, wd = canonical(want)
        if gc != wc:
            errors[name] = f"columns {gc} vs oracle {wc}"
        elif len(g) != len(wd):
            errors[name] = f"{len(g)} rows vs oracle {len(wd)}"
        elif not same_values(g, wd):
            errors[name] = "values differ from the oracle"
    return errors


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, p):
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 20:
        return None
    p = math.floor(100 * (1 - 10 / n))
    return p, percentile(xs, p)


def summarize(rec, oracle_errors):
    runs = rec["runs"]
    ops = rec["ops"]
    failed = set()
    for f in rec["failures"]:
        failed.add((f["run"], f["name"]))
    for o in ops:
        key = (o["run"], o["name"])
        if (not o["ok"] or o["name"] in oracle_errors or key in failed
                or (o["run"], "*") in failed):
            failed.add(key)
    attempted = len(ops)
    n_failed = sum(1 for o in ops if (o["run"], o["name"]) in failed)
    plain = [r for r in runs if not r["traced"]]
    traced = [r for r in runs if r["traced"]]
    plain_ops = [o["call_s"] + o["materialize_s"] for o in ops
                 if not runs[o["run"]]["traced"]]
    setup = rec["setup"]

    e2e = {
        "setup_s": setup["setup_s"],
        "run_s": median([r["wall_s"] for r in plain]),
        "op_p50_s": percentile(plain_ops, 50),
        "op_p90_s": percentile(plain_ops, 90),
    }
    samples = {"run_s": [r["wall_s"] for r in plain],
               "op_p50_s": plain_ops, "op_p90_s": plain_ops}

    layer = {}
    if traced:
        def per_run(fn):
            return median([fn(r) for r in traced])

        def c(name):
            return per_run(lambda r: r["counters"][name])

        def op_sum(fields, prefix=""):
            def f(r):
                return sum(o[k] for o in ops for k in fields
                           if o["run"] == r["index"] and o["name"].startswith(prefix))
            return per_run(f)

        def per_round(x):
            iters = traced[0]["extra"]["iterations"]
            return x / iters if iters else 0.0

        plan = per_run(lambda r: r["counters"]["plan.analysis_s"]
                       + r["counters"]["plan.optimization_s"]
                       + r["counters"]["plan.planning_s"])
        both = ["call_s", "materialize_s"]
        layer = {
            "session.start_s": setup["session.start_s"],
            "session.warmup_s": setup["session.warmup_s"],
            "sources.input_bytes": c("sources.input_bytes"),
            "sources.input_records": c("sources.input_records"),
            "sources.output_bytes": c("sources.output_bytes"),
            "sources.output_records": c("sources.output_records"),
            "sources.files_written": per_run(lambda r: r["extra"]["files_written"]),
            "sources.build_s": per_run(lambda r: r["extra"]["build_s"]),
            "sources.read_s": per_run(lambda r: r["extra"]["read_s"]),
            "queries.call_s": op_sum(["call_s"]),
            "queries.materialize_s": op_sum(["materialize_s"]),
            "graph.standard_s": op_sum(both, "pagerank.standard"),
            "graph.compat_s": op_sum(both, "pagerank.compat"),
            "graph.jobs_per_pass": per_round(c("exec.jobs")),
            "graph.plan_s_per_pass": per_round(plan),
            "plan.analysis_s": c("plan.analysis_s"),
            "plan.optimization_s": c("plan.optimization_s"),
            "plan.planning_s": c("plan.planning_s"),
            "plan.actions": c("plan.actions"),
            "exec.jobs": c("exec.jobs"),
            "exec.stages": c("exec.stages"),
            "exec.tasks": c("exec.tasks"),
            "exec.task_run_s": c("exec.task_run_s"),
            "exec.task_cpu_s": c("exec.task_cpu_s"),
            "exec.gc_s": c("exec.gc_s"),
            "exec.busy_frac": per_run(lambda r: r["counters"]["exec.task_run_s"]
                                      / (r["wall_s"] * r["extra"]["cores"])),
            "exec.driver_gap_s": per_run(lambda r: r["wall_s"]
                                         - r["counters"]["exec.job_busy_s"]),
            "shuffle.write_bytes": c("shuffle.write_bytes"),
            "shuffle.read_bytes": c("shuffle.read_bytes"),
            "shuffle.fetch_wait_s": c("shuffle.fetch_wait_s"),
            "spill.memory_bytes": c("spill.memory_bytes"),
            "spill.disk_bytes": c("spill.disk_bytes"),
            "cache.peak_mb": c("cache.peak_mb"),
            "jvm.peak_rss_mb": rec["peak_rss_mb"],
            "stream.batches": c("stream.batches"),
            "stream.batch_s": c("stream.batch_s"),
            "stream.add_batch_s": c("stream.add_batch_s"),
            "stream.query_planning_s": c("stream.query_planning_s"),
            "stream.get_batch_s": c("stream.get_batch_s"),
            "stream.latest_offset_s": c("stream.latest_offset_s"),
            "stream.wal_commit_s": c("stream.wal_commit_s"),
            "stream.commit_offsets_s": c("stream.commit_offsets_s"),
            "stream.state_commit_s": c("stream.state_commit_s"),
            "stream.state_rows": c("stream.state_rows"),
            "stream.outside_s": per_run(lambda r: r["extra"]["stream_op_s"]
                                        - r["counters"]["stream.batch_s"]),
            "trace.overhead_s": median([r["wall_s"] for r in traced])
            - median([r["wall_s"] for r in plain]),
        }
    return attempted, n_failed, e2e, samples, layer


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + sorted(ONE_SHOT) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if args.workload == "all":
        # every benchmark workload in turn, each in a process of its own
        codes = [subprocess.call([sys.executable, __file__, "--workload", w,
                                  "--seed", str(args.seed), "--seconds",
                                  str(args.seconds), "--trace", str(args.trace)])
                 for w in WORKLOADS]
        sys.exit(max(codes))

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout ({need} is missing)")
    if not os.path.exists(os.path.join(DATA, "lineitem.parquet")):
        fail(f"input tables missing under {DATA}")
    os.makedirs(WORK, exist_ok=True)
    classpath = build(root)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    one_shot = args.workload in ONE_SHOT
    k = args.workload.rsplit("_k", 1)[1] if "_k" in args.workload else PAGERANK_K
    run_jvm(classpath, [{**WORKLOADS, **ONE_SHOT}[args.workload], str(args.seed),
                        str(args.seconds), str(args.trace), DATA, run_dir, out,
                        str(k)], os.path.join(run_dir, "jvm.log"),
            timeout=None if one_shot else JVM_TIMEOUT_S)
    with open(out) as f:
        rec = json.load(f)

    oracle_errors = oracle_check(rec["dumps"], rec["oracle_sql"],
                                 os.path.join(run_dir, "dumps"))
    attempted, n_failed, e2e, samples, layer = summarize(rec, oracle_errors)
    correct = (n_failed == 0 and rec["self_check"] == "ok"
               and not oracle_errors and not rec["failures"])

    host = rec["host"]
    loaded = max(host["loadavg_start"][:1] + host["loadavg_end"][:1]) > host["nproc"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(rec['runs'])} runs, {attempted} operations")
    print(f"host: nproc {host['nproc']}, -Xmx {host['xmx_mb']} MB, Spark "
          f"{host['spark']}, loadavg {host['loadavg_start']} -> "
          f"{host['loadavg_end']}{'  LOADED' if loaded else ''}")
    print(f"self-check: {rec['self_check']}")
    for f in rec["failures"]:
        print(f"FAILED run {f['run']} {f['name']}: {f['why']}")
    for name, err in sorted(oracle_errors.items()):
        print(f"FAILED oracle {name}: {err}")
    units = dict(END_TO_END)
    for name, value in e2e.items():
        xs = samples.get(name, [])
        t = tail(xs)
        extra = f"  n={len(xs)}" if xs else ""
        if t and name in ("op_p50_s", "op_p90_s"):
            extra += f"  p{t[0]}={t[1]:.4f}"
        print(f"  {name:<28} {value:>14.4f} {units[name]}{extra}")
    print(f"  {'fail_frac':<28} {n_failed / attempted:>14.4f} ratio  "
          f"({n_failed} of {attempted})")
    layer_units = load_units()
    for name, value in layer.items():
        print(f"  {name:<28} {value:>14.4f} {layer_units.get(name, '')}")

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))


def load_units():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    main()
