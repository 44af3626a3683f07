#!/usr/bin/env python3
"""The graft benchmark: one closed-loop client per workload.

    python3 graftbench/run.py --workload interactive|batch|frames \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
runner from source with sbt (graftbench/build.sbt) and stages the
inputs; later runs reuse both while the sources are unchanged. The
last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`). Every result is checked against DuckDB; any mismatch
or failed op makes `correct` false and the exit code 1.
See graftbench/README.md for the workloads and the metric definitions.
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
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import inputs  # noqa: E402

# The 9 bench-flagged registry queries plus the two gated lookup-join
# paths graft.Bench does not run.
INTERACTIVE = ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
               "q6_revenue_delta", "q18_big_orders", "q19_disjunctive",
               "fp1_digest_stretch", "dd2_minhash_lsh", "ss1b_cosine_topk_indexed",
               "q7_volume_shipping", "q10_returned_items"]
# The TPC-H subset of that set, over the offset-key replica.
BATCH = ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
         "q6_revenue_delta", "q7_volume_shipping", "q10_returned_items",
         "q18_big_orders", "q19_disjunctive"]
REPLICA_COPIES = 6
FRAME_ROWS = 200_000
TOY_FRAME_ROWS = 3_000

# Merges per warm pass, per workload. Writes are the subject of `frames`;
# the query workloads hold one merge per pass so that every workload
# reports every end-to-end metric.
WRITES_PER_PASS = {"interactive": 1, "batch": 1, "frames": 2}
HEAP = "4g"
JVM_TIMEOUT_S = 170
LAYERS = ["sources", "build", "plan", "exec", "deliver", "floor", "maintain", "bench"]
FAMILIES = ["filter", "cast", "like", "join", "setop", "distinct", "groupagg",
            "groupapply", "arrow"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    files = [root / "build.sbt", HERE / "build.sbt"]
    for d in [root / "project", root / "src" / "main", HERE / "project", HERE / "src"]:
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        if p.exists():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, work):
    """Compile the engine and the runner; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file, stamp_file = work / "classpath.txt", work / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), 0.0
    log("building engine and runner with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, time.time() - t0


def java(cp, work, config, timeout=JVM_TIMEOUT_S):
    cfg = work / f"config-{os.getpid()}.json"
    cfg.write_text(json.dumps(config))
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           "-Dio.netty.tryReflectionSetAccessible=true", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-cp", cp, "graftbench.Main", str(cfg)]
    logf = work / f"jvm-{os.getpid()}.log"
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"runner timed out after {timeout}s (log: {logf})")
    cfg.unlink()
    if rc != 0:
        tail = logf.read_text().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"runner exited with {rc} (log: {logf})")
    logf.unlink()


# ----------------------------------------------------------------- inputs

def prepare(root, work, cp, workload, seed, toy):
    """Stage and generate the workload's inputs and their references.
    Returns (runner config, references, input record)."""
    data = work / "data"
    scale = "0.001" if toy else "0.1"
    sf = data / f"sf{scale}"
    inputs.stage_tables(inputs.find_sf_dir(root, scale), sf)
    tag = f"{workload}-toy" if toy else workload
    conf = {"sf_dir": str(sf), "frames_dir": "", "write_dir": "", "queries": [],
            "micro_batches": inputs.MICRO_BATCHES, "tables": []}
    refs = {}
    t0 = time.time()
    if workload in ("interactive", "batch"):
        queries = INTERACTIVE if workload == "interactive" else BATCH
        tdir = sf
        if workload == "batch":
            tdir = data / f"sf{scale}x{REPLICA_COPIES}"
            inputs.build_replica(sf, tdir, REPLICA_COPIES)
        tables = inputs.ALL_TABLES if workload == "interactive" else inputs.TPCH
        conf.update(sf_dir=str(tdir), queries=queries, tables=tables)
        oracle = oracle_sql(cp, work, queries)
        wdir = data / f"{tag}-writes"
        cache = work / f"refs-{tag}.json"
        key = inputs.fingerprint(oracle, str(tdir), *(p.read_text() for p in sorted(HERE.glob("*.py"))))
        cached = json.loads(cache.read_text()) if cache.exists() else {}
        if cached.get("key") == key:
            refs = cached["refs"]
        else:
            con = inputs.connect(tdir, tables)
            refs = {"reads": {q: inputs.digest_sql(con, oracle[q].rstrip().rstrip(";"))
                              for q in queries}}
            shutil.rmtree(wdir, ignore_errors=True)
            inputs.make_write_stream(
                con, "SELECT l_suppkey AS k, CAST(l_quantity AS BIGINT) AS q, "
                     "l_orderkey * 9 + l_linenumber AS _rn FROM lineitem",
                "SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS grp FROM supplier", wdir)
            refs["partials"], refs["batch_rows"] = inputs.write_partials(wdir)
            refs["table_rows"] = inputs.table_rows(tdir, tables)
            cache.write_text(json.dumps({"key": key, "refs": refs}))
        conf["write_dir"] = str(wdir)
        rec = {"tables": refs["table_rows"], "dir_bytes": dir_bytes(tdir, tables)}
    else:
        fdir = data / f"{tag}-{os.getpid()}"
        shutil.rmtree(fdir, ignore_errors=True)
        inputs.make_frames(seed, TOY_FRAME_ROWS if toy else FRAME_ROWS, fdir)
        con = inputs.connect(fdir, ["f", "g", "d"])
        refs = {"reads": {n: inputs.digest_sql(con, sql) for n, sql in inputs.frame_sql().items()}}
        wdir = fdir / "writes"
        inputs.make_write_stream(
            con, "SELECT k, g AS q, file_row_number AS _rn "
                 f"FROM read_parquet('{fdir}/f.parquet', file_row_number=true)",
            "SELECT k, CAST(a AS BIGINT) AS grp FROM d", wdir)
        refs["partials"], refs["batch_rows"] = inputs.write_partials(wdir)
        refs["table_rows"] = inputs.table_rows(fdir, ["f", "g", "d"])
        conf.update(frames_dir=str(fdir), write_dir=str(wdir))
        rec = {"tables": refs["table_rows"], "dir_bytes": dir_bytes(fdir, ["f", "g", "d"])}
    rec["generate_s"] = round(time.time() - t0, 3)
    refs["partials"] = {int(k): v for k, v in refs["partials"].items()}
    refs["batch_rows"] = {int(k): v for k, v in refs["batch_rows"].items()}
    return conf, refs, rec


def dir_bytes(d, tables):
    return sum(Path(d, f"{t}.parquet").stat().st_size for t in tables)


def oracle_sql(cp, work, queries):
    """The registry's oracle SQL, dumped once per build."""
    out = work / "oracle.json"
    stamp = (work / "build.stamp").read_text()
    if out.exists():
        got = json.loads(out.read_text())
        if got.get("stamp") == stamp and set(queries) <= set(got["sql"]):
            return got["sql"]
    tmp = work / "oracle-dump.json"
    java(cp, work, {"mode": "oracle", "queries": INTERACTIVE, "out": str(tmp)})
    sql = json.loads(tmp.read_text())
    out.write_text(json.dumps({"stamp": stamp, "sql": sql}))
    return sql


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta(p(n+1), (1-p)(n+1))
    weighted average of all order statistics. Over a few values with
    gaps between them (one per op) a single order statistic jumps from
    one op's latency to the next; the weighted average moves smoothly."""
    if not xs:
        return 0.0
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = 200_000
    t = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf /= cdf[-1]
    edges = cdf[np.round(np.arange(n + 1) / n * grid).astype(int)]
    return float(np.dot(np.diff(edges), x))


def warm_by_op(out):
    """The warm untraced wall times of each op (reads by name, writes as
    `merge`)."""
    by = {}
    for o in out["ops"]:
        if not o["cold"] and not o["traced"]:
            by.setdefault(o["op"], []).append(o["wall_s"])
    return by


def check(out, refs):
    """Count attempted and failed ops; a failure is a throw or a digest
    that differs from the reference. Returns (attempted, failed, errors)."""
    attempted = failed = 0
    errors = {}
    for op in out["ops"]:
        attempted += 1
        if op["error"]:
            why = op["error"]
        elif op["kind"] == "write":
            want = inputs.view_digest(refs["partials"], op["merged"])
            why = None if inputs.same_digest(json.loads(op["digest"]), want) else "mismatch"
        else:
            want = refs["reads"][op["op"]]
            why = None if inputs.same_digest(json.loads(op["digest"]), want) else "mismatch"
        if why:
            failed += 1
            errors.setdefault(f'{op["op"]}: {why}', 0)
            errors[f'{op["op"]}: {why}'] += 1
    return attempted, failed, errors


def input_rows_per_pass(out, refs):
    """Input rows one pass reads: the rows of every input table or frame
    each read op scans, as the runner found them in the warm-up plans."""
    rows = refs["table_rows"]
    return sum(rows.get(t, 0) for ts in out["scanned"].values() for t in ts)


def end_to_end(out, refs):
    passes = out["passes"]
    by_op = warm_by_op(out)
    writes = by_op.pop("merge", [])
    # each read op weighs the same: its median warm latency is one value
    # of the distribution, however many passes the run held
    op_p50 = [median(v) for v in by_op.values()]
    # a traced run's warm passes time every op untraced too; its cold
    # pass is traced only
    cold_pass = [p["read_s"] for p in passes if p["cold"] and not p["traced"]]
    warm_pass = [p["read_s"] for p in passes if not p["cold"]]
    m = {
        "setup_s": (out["setup"]["setup"], "s"),
        "read_p50_s": (hd_quantile(op_p50, 0.5), "s"),
        "read_p90_s": (hd_quantile(op_p50, 0.9), "s"),
        "cold_pass_s": (median(cold_pass), "s"),
        "rows_per_s": (input_rows_per_pass(out, refs) / median(warm_pass)
                       if warm_pass else 0.0, "rows/s"),
        "write_p50_s": (hd_quantile(writes, 0.5), "s"),
        "write_p90_s": (hd_quantile(writes, 0.9), "s"),
        "storage_peak_mb": (out["storage_peak_mb"], "MB"),
    }
    samples = {"warm_reads": sum(map(len, by_op.values())), "writes": len(writes),
               "input_rows_per_pass": input_rows_per_pass(out, refs),
               "cold_passes": len(cold_pass), "warm_passes": len(warm_pass)}
    return m, samples


def per_layer(out, refs, cpus):
    """Per-layer metrics from the traced phase. Time and count metrics are
    per warm pass (median over traced warm passes) unless named per merge;
    `build.jobs_cold` and `build.storage_mb` are per cold pass."""
    ops = [o for o in out["ops"] if o["traced"]]
    # the runner records traced ops and their traces in the same order
    for o, t in zip(ops, out["traces"]):
        o["trace"] = t
    by_pass = {}
    for o in ops:
        by_pass.setdefault((o["pass"], o["cold"]), []).append(o)
    warm = [v for (p, c), v in by_pass.items() if not c]
    cold = [v for (p, c), v in by_pass.items() if c]

    def per_pass(group, f):
        """Median over passes of f summed over each pass's reads."""
        return median([sum(f(o) for o in pass_ops if o["kind"] == "read") for pass_ops in group])

    L = lambda name: (lambda o: o["trace"]["layers"].get(name, 0.0) / 1000.0)  # noqa: E731
    T = lambda key, scale=1.0: (lambda o: o["trace"][key] * scale)  # noqa: E731
    mb = 1.0 / (1 << 20)
    m = {}
    m["sources.load_s"] = (out["setup"]["sources"], "s")
    m["sources.scan_mb"] = (per_pass(warm, T("input_b", mb)), "MB")
    m["sources.scan_rows"] = (per_pass(warm, T("input_rows")), "count")
    m["build.s"] = (per_pass(warm, L("build")), "s")
    m["build.jobs_cold"] = (per_pass(cold, T("build_jobs")), "count")
    m["build.jobs_warm"] = (per_pass(warm, T("build_jobs")), "count")
    m["build.storage_mb"] = (per_pass(cold, lambda o: max(0.0, o["trace"]["storage_delta_mb"])), "MB")
    for ph in ["analysis", "optimization", "planning"]:
        m[f"plan.{ph}_s"] = (per_pass(warm, lambda o, ph=ph: o["trace"]["plan"].get(ph, 0.0) / 1000.0), "s")
    m["plan.exchanges"] = (per_pass(warm, T("exchanges")), "count")
    exec_s = per_pass(warm, L("exec"))
    run_s = per_pass(warm, T("task_run_ms", 1e-3))
    m["exec.s"] = (exec_s, "s")
    m["exec.jobs"] = (per_pass(warm, T("jobs")), "count")
    m["exec.stages"] = (per_pass(warm, T("stages")), "count")
    m["exec.tasks"] = (per_pass(warm, T("tasks")), "count")
    m["exec.task_run_s"] = (run_s, "s")
    m["exec.task_cpu_s"] = (per_pass(warm, T("task_cpu_ms", 1e-3)), "s")
    m["exec.sched_delay_s"] = (per_pass(warm, T("sched_delay_ms", 1e-3)), "s")
    m["exec.util"] = (run_s / (exec_s * cpus) if exec_s else 0.0, "ratio")
    m["exec.shuffle_write_mb"] = (per_pass(warm, T("shuffle_write_b", mb)), "MB")
    m["exec.shuffle_read_mb"] = (per_pass(warm, T("shuffle_read_b", mb)), "MB")
    m["exec.spill_mb"] = (per_pass(warm, T("spill_b", mb)), "MB")
    m["exec.failed_tasks"] = (per_pass(warm, T("failed_tasks")), "count")
    m["deliver.s"] = (per_pass(warm, L("deliver")), "s")
    m["deliver.rows"] = (per_pass(warm, lambda o: o["rows"]), "count")
    m["deliver.mb"] = (per_pass(warm, T("result_b", mb)), "MB")
    m["floor.s"] = (per_pass(warm, L("floor")), "s")
    wall = per_pass(warm, lambda o: o["wall_s"])
    m["exec.share"] = (exec_s / wall if wall else 0.0, "ratio")
    for fam in FAMILIES:
        m[f"frame.{fam}_s"] = (per_pass(warm, lambda o, fam=fam: o["wall_s"] if o.get("family") == fam else 0.0), "s")
    merges = [o for o in ops if o["kind"] == "write"]
    m["maintain.merge_s"] = (median([o["wall_s"] for o in merges]), "s")
    m["maintain.merge_jobs"] = (median([o["trace"]["jobs"] for o in merges]), "count")
    m["maintain.delta_rows"] = (median([refs["batch_rows"][o["batch"]] for o in merges]), "count")
    m["maintain.view_s"] = (median([o["view_s"] for o in merges]), "s")
    m["maintain.state_mb"] = (median([o["trace"]["storage_delta_mb"] for o in merges]), "MB")
    tp = [p for p in out["passes"] if p["traced"] and not p["cold"]]
    m["cache.storage_mb"] = (median([p["storage_mb"] for p in tp]), "MB")
    m["cache.persisted_rdds"] = (median([p["persisted_rdds"] for p in tp]), "count")
    gc = []
    for pass_ops in warm:
        g = [o["trace"]["gc_s"] for o in pass_ops]
        gc.append(max(g) - min(g))
    m["jvm.gc_s"] = (median(gc), "s")
    m["jvm.heap_used_mb"] = (out["heap_peak_mb"], "MB")
    m["trace.overhead_s"] = (median([p["traced_read_s"] - p["read_s"] for p in tp]), "s")
    misses = []
    for o in ops:
        t = o["trace"]
        total = sum(t["layers"].values())
        if t["wall_ms"] > 0 and abs(total - t["wall_ms"]) > 0.1 * t["wall_ms"]:
            misses.append(o["op"])
    m["trace.layer_sum_misses"] = (len(misses), "count")
    shares = {}
    warm_ops = [o for v in warm for o in v if o["kind"] == "read"]
    tot = sum(o["trace"]["wall_ms"] for o in warm_ops)
    for layer in LAYERS:
        shares[layer] = round(sum(o["trace"]["layers"].get(layer, 0.0) for o in warm_ops) / tot, 4) if tot else 0.0
    return m, {"layer_share_of_warm_read_wall": shares, "layer_sum_misses": sorted(set(misses))}


# ------------------------------------------------------------------- main

def cpu_times():
    """The host's cumulative CPU times (user ... steal), or None."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    except (OSError, ValueError):
        return None


def host_record(out, cpus, seed, workload, root, cpu0, cpu1):
    mem = 0
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    except OSError:
        pass
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = dict(out["host"])
    h.update({"nproc": cpus, "mem_total_mb": mem, "git_commit": commit,
              "source_stamp": (HERE / ".work" / "build.stamp").read_text()[:16],
              "seed": seed, "workload": workload})
    # the share of CPU time the hypervisor gave to other guests while the
    # runner ran: a slow run on a shared host shows here
    if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
        h["cpu_steal_frac"] = round((cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0)), 4)
    return h


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WRITES_PER_PASS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true",
                    help="self-test only: sf0.001 tables and tiny frames")
    ap.add_argument("--inject-wrong", default="",
                    help="self-test only: drop one result row of this op")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "build.sbt").exists() or not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the repository root: build.sbt and src/main/scala/graft are required")
    work = HERE / ".work"
    work.mkdir(exist_ok=True)
    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))

    cp, build_s = build(root, work)
    conf, refs, rec = prepare(root, work, cp, args.workload, args.seed, args.toy)
    local = work / f"spark-local-{os.getpid()}"
    shutil.rmtree(local, ignore_errors=True)
    local.mkdir()
    out_file = work / f"out-{os.getpid()}.json"
    conf.update({"mode": "run", "workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "trace": bool(args.trace), "cpus": cpus,
                 "writes_per_pass": WRITES_PER_PASS[args.workload], "out": str(out_file),
                 "inject_wrong": args.inject_wrong, "local_dir": str(local)})
    cpu0 = cpu_times()
    java(cp, work, conf)
    cpu1 = cpu_times()
    out = json.loads(out_file.read_text())
    out_file.unlink()
    shutil.rmtree(local, ignore_errors=True)
    if conf["frames_dir"]:
        shutil.rmtree(conf["frames_dir"], ignore_errors=True)

    # each merge's digest is checked against the fold of the batches
    # merged so far, in the order the runner merged them
    merged = [out["setup_batch"]]
    for op in out["ops"]:
        if op["kind"] == "write":
            merged.append(op["batch"])
            op["merged"] = list(merged)
    attempted, failed, errors = check(out, refs)

    e2e, samples = end_to_end(out, refs)
    diag = {"diagnostics": True, "host": host_record(out, cpus, args.seed, args.workload, root, cpu0, cpu1),
            "run": {"seconds": args.seconds, "trace": args.trace, "heap": HEAP,
                    "writes_per_pass": WRITES_PER_PASS[args.workload],
                    "build_s": round(build_s, 3)},
            "inputs": rec, "samples": samples,
            "setup": out["setup"], "op_p50_s": {k: round(median(v), 4) for k, v in sorted(warm_by_op(out).items())},
            "passes": [{k: round(p[k], 3) if isinstance(p[k], float) else p[k]
                        for k in ("cold", "traced", "read_s", "traced_read_s", "wall_s")}
                       for p in out["passes"]],
            "fail_frac": failed / attempted if attempted else 0.0,
            "errors": errors, "end_to_end": {k: v[0] for k, v in e2e.items()}}
    if args.trace:
        metrics, extra = per_layer(out, refs, cpus)
        diag.update(extra)
        trace_file = work / f"trace-{args.workload}-{args.seed}.json"
        trace_file.write_text(json.dumps({"ops": [o for o in out["ops"] if o["traced"]]}, indent=1))
        diag["trace_file"] = str(trace_file.relative_to(root))
    else:
        metrics = e2e
    print(json.dumps(diag), flush=True)
    correct = failed == 0
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
