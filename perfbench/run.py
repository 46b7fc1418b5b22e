#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline) into `target/` and `perfbench/target/`;
later runs reuse the build while the sources are unchanged. Inputs are
generated from `--seed` under `.bench_build/`, the benchmark JVM runs one
workload for a number of rounds set by `--seconds` (not by the program's
speed), every answer is checked, and the last line of stdout is one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the per-layer ones. The full record of
the run (stamp, samples, per-query and per-span detail) is kept in
`.bench_build/results/` for `perfbench/compare.py`.
"""
import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("medallion_daily", "star_queries", "lakehouse_upserts")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# A fixed heap and young generation under the throughput collector: the
# resident set then grows only with what the program retains, so
# rss_peak_mb repeats from run to run instead of following the adaptive
# heap sizing of the default collector.
# -UsePerfData: the JVM would otherwise write its counters outside the
# checkout.
JVM_FLAGS = ["-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn384m",
             "-XX:-UsePerfData"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("build.sbt", "project", "src", "perfbench"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if not env.get("SBT_OPTS") and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build(src_hash):
    """Compiles the engine and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(proc, BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [ln.strip() for ln in f]
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        die(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(src_hash)
    return cps[-1]


def wait_or_kill(proc, timeout):
    """Waits for a child started in its own session; on timeout, or when
    this process is told to stop, kills the child's whole group and
    reaps it."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def stop_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def norm(df):
    """Answer normalisation of scripts/selfcheck.py: columns sorted by
    name, then rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_check(result, data_dir, perturb):
    """Compares each dumped answer with its DuckDB oracle; returns
    {query: reason} for the answers that differ."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    oracles = result["artifacts"].get("oracle_sql", {})
    bad = {}
    for a in result["artifacts"].get("answers", []):
        q = a["query"]
        try:
            got = norm(con.sql(f"SELECT * FROM '{a['path']}/*.parquet'").df())
            exp = norm(con.sql(oracles[q]).df())
            if perturb == "oracle_value" and len(exp) and len(bad) == 0:
                exp.iloc[0, 0] = None
            if list(got.columns) != list(exp.columns):
                bad[q] = f"columns {list(got.columns)} vs {list(exp.columns)}"
            elif len(got) != len(exp):
                bad[q] = f"{len(got)} rows vs {len(exp)}"
            elif any(got[c].dtype.kind != exp[c].dtype.kind for c in got.columns):
                bad[q] = "column kinds differ"
            else:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
        except AssertionError as e:
            bad[q] = str(e).splitlines()[-1] if str(e) else "values differ"
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[q] = f"oracle error: {e}"
    return bad


def layer_table(per_layer):
    cols = ("self_s", "jobs", "tasks", "slot_util", "driver_only_s",
            "shuffle_bytes", "spill_bytes", "output_bytes")
    spans = sorted({k.rsplit(".", 1)[0] for k in per_layer if k.endswith(".self_s")})
    rows = [s for s in spans if per_layer.get(f"{s}.self_s", 0) > 0]
    lines = ["span (per op)".ljust(22) + "".join(c.rjust(14) for c in cols)]
    for s in rows:
        lines.append(s.ljust(22) + "".join(
            f"{per_layer[f'{s}.{c}']:14.4g}" for c in cols))
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", default="",
                    help="checker self-test: star_hash, oracle_value, lake_shadow or scd2_expiry")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_on_sigterm)

    for need in ("build.sbt", os.path.join("src", "main"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the root of a checkout of the engine: {need} is missing")
    if shutil.which("java") is None:
        die("java is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    src_hash = source_hash()
    classpath = build(src_hash)

    cores = max(1, min(4, os.cpu_count() or 1))
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_id)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    results_dir = os.path.join(BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    out_json = os.path.join(results_dir, run_id + ".json")
    try:
        sizes = {}
        if a.workload != "medallion_daily":
            sys.path.insert(0, HERE)
            import gen
            sizes = gen.write_star(data, a.seed)
        cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--data", data, "--out", out_json,
                  "--cores", str(cores), "--perturb", a.perturb])
        log = os.path.join(work, "jvm.log")
        cpu0 = resource.getrusage(resource.RUSAGE_CHILDREN)
        t0 = time.time()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            rc = wait_or_kill(proc, JVM_TIMEOUT_S)
        cpu1 = resource.getrusage(resource.RUSAGE_CHILDREN)
        jvm = {"wall_s": time.time() - t0,
               "cpu_s": cpu1.ru_utime + cpu1.ru_stime - cpu0.ru_utime - cpu0.ru_stime}
        if rc != 0 or not os.path.exists(out_json):
            with open(log) as f:
                tail = f.read()[-3000:]
            die(f"benchmark JVM failed (rc={rc}):\n{tail}", 1)
        with open(out_json) as f:
            res = json.load(f)

        attempted, failed, wrong = res["attempted"], res["failed"], res["wrong"]
        if a.workload == "star_queries":
            # every timed op of a query whose answer fails its oracle
            # returned that wrong answer
            bad = oracle_check(res, data, a.perturb)
            for op in res["ops"]:
                if op[0] in bad and op[3]:
                    op[3] = False
                    failed += 1
                    wrong += 1
            res["oracle_mismatches"] = bad
        ok_secs = [op[1] for op in res["ops"] if op[3]]
        if not ok_secs:
            die("no timed op succeeded", 1)
        res.update(attempted=attempted, failed=failed, wrong=wrong,
                   failed_ratio=failed / max(1, attempted), jvm=jvm,
                   end_to_end=end_to_end(res, ok_secs),
                   op_p50_s=statistics.median(ok_secs),
                   op_p90_s=statistics.quantiles(ok_secs, n=10)[-1]
                   if len(ok_secs) > 1 else ok_secs[0])
        n_ok = len(ok_secs)
        res["samples"] = {"op": len(res["ops"]), "op_ok": n_ok,
                          "traced": sum(1 for op in res["ops"] if op[2])}
        res["stamp"] = {
            "seed": a.seed, "workload": a.workload, "seconds": a.seconds,
            "inputs": {**res.get("inputs", {}), **{f"star.{k}": v for k, v in sizes.items()}},
            "cores": cores, "heap_limit": HEAP, "heap_max_mb": res.get("heap_max_mb"),
            "git_commit": git_commit(), "source_hash": src_hash,
            "samples": res["samples"],
            # successful timed ops above each reported percentile
            "samples_beyond": {"op_p50_s": n_ok // 2, "op_p90_s": n_ok // 10},
            "spark_version": res.get("spark_version")}
        if a.trace:
            metrics = {k: {"value": v if v is not None else 0.0, "unit": unit_of(k)}
                       for k, v in res["per_layer"].items()}
            print(layer_table(res["per_layer"]))
            pl = res["per_layer"]
            print(f"top-level spans cover >= {pl['trace.span_coverage_min']:.3f} of each traced op; "
                  f"traced/untraced wall time of the same ops = {pl['trace.overhead_ratio']:.4f} "
                  f"({res['samples']['traced']} traced, "
                  f"{res['samples']['op'] - res['samples']['traced']} untraced ops); "
                  f"spans in {os.path.relpath(res['trace_file'], ROOT)}")
        else:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["end_to_end"].items()}
        # the record names files relative to the checkout, not where it sits
        with open(out_json, "w") as f:
            f.write(json.dumps(res, indent=1).replace(ROOT + os.sep, ""))
        print("stamp " + json.dumps(res["stamp"], sort_keys=True).replace(ROOT + os.sep, ""))
        if res.get("failures") or res.get("oracle_mismatches"):
            print("failures " + json.dumps({"ops": res.get("failures", [])[:5],
                                            "oracle": res.get("oracle_mismatches", {})}))
        print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(res, ok_secs):
    """The end-to-end metrics of BENCHMARK.json. Timings cover only the
    ops that succeeded: a failed op is counted in `failed`, not timed."""
    return {
        "setup_s": res["session_start_s"] + res["workload_setup_s"],
        "op_geomean_s": math.exp(sum(math.log(x) for x in ok_secs) / len(ok_secs)),
        "ops_per_s": len(ok_secs) / res["measured_s"],
        "rss_peak_mb": res["rss_peak_mb"]}


def unit_of(name):
    tail = name.rsplit(".", 1)[-1]
    if name.endswith("_mb"):
        return "MB"
    if name == "ops_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if tail.endswith("_bytes") or tail == "bytes_rewritten":
        return "bytes"
    if tail in ("slot_util", "landed_ratio", "write_amp", "space_amp", "overhead_ratio",
                "span_coverage_min", "rows_scanned_per_row"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
