#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from the
checkout's sources together with the benchmark harness (perfbench/src)
with sbt, once per source state, against the jars of the Spark
distribution in $SPARK_HOME (or the one whose spark-submit is on PATH),
then runs the harness on a local[nproc] Spark session. Workload parameters and the map of which
end-to-end metric each per-layer metric should move are in
perfbench/workloads.json; the metric names and units are those of
BENCHMARK.json. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes its spans to
.perfbench_out/trace-<workload>-<seed>.json. Everything the run builds
or writes stays inside the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

T0 = time.monotonic()
# a run must end within 180 s, or 900 s when it also builds
RUN_S, BUILD_RUN_S, BUILD_S = 170, 890, 700
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def die(msg, code=1):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in base.rglob("*") if p.is_file()]
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The jars of $SPARK_HOME, else of the first spark-submit on PATH
    that sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d or ".") / "spark-submit"
        if submit.is_file():
            homes.append(str(submit.resolve().parent.parent))
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    die("no Spark distribution found: set SPARK_HOME")


def build():
    """Compiles program + harness with sbt unless this source state was
    built already; returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file, cp_file = BUILD / "stamp.txt", BUILD / "classpath.txt"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark harness with sbt")
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dperfbench.sparkJars={spark_jars()}", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=BUILD_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("sbt build timed out")
    sys.stderr.write("\n".join(l for l in out.splitlines() if ".jar" not in l) + "\n")
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"sbt build failed (exit {p.returncode})")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def run_harness(classpath, args, params, run_dir):
    cpus = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dderby.system.home={run_dir}",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", str(run_dir), "--cpus", str(cpus),
        "--data-dir", str(BENCH / "data" / "sf0.01"),
    ]
    for k, v in params.items():
        cmd += [f"--{k}", str(v)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT")}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    started = time.monotonic()
    try:
        proc.wait(timeout=min(RUN_S, BUILD_RUN_S - (started - T0)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("benchmark JVM timed out")
    if proc.returncode != 0:
        die(f"benchmark JVM exited with {proc.returncode}")
    return json.loads((run_dir / "result.json").read_text())


def oracle_check(entries):
    """Checks each query's verified parquet output against its DuckDB
    twin over the same tables; returns the queries that do not match."""
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for p in sorted((BENCH / "data" / "sf0.01").glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    bad = []
    for e in entries:
        q = e["query"]
        try:
            if not e["sql"]:
                raise ValueError("no oracle SQL")
            files = sorted(glob.glob(os.path.join(e["dir"], "*.parquet")))
            if not files:
                raise ValueError("no verified output")
            sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            ddf = con.sql(e["sql"]).df()
            ddf = ddf.reindex(sorted(ddf.columns), axis=1)
            sdf = sdf.reindex(sorted(sdf.columns), axis=1)
            if list(ddf.columns) != list(sdf.columns):
                raise ValueError(f"columns {list(ddf.columns)} != {list(sdf.columns)}")
            if len(ddf) != len(sdf):
                raise ValueError(f"rows duckdb={len(ddf)} spark={len(sdf)}")
            ddf = ddf.sort_values(list(ddf.columns)).reset_index(drop=True)
            sdf = sdf.sort_values(list(sdf.columns)).reset_index(drop=True)
            for c in ddf.columns:
                dv, sv = ddf[c], sdf[c]
                if dv.dtype.kind == "f" or sv.dtype.kind == "f":
                    d = np.asarray(dv, dtype=float)
                    s = np.asarray(sv, dtype=float)
                    same = (d == s) | (np.isnan(d) & np.isnan(s))
                else:
                    same = (dv.astype(str) == sv.astype(str)).to_numpy()
                if not same.all():
                    raise ValueError(f"column {c}: {int((~same).sum())} values differ")
        except Exception as ex:  # any failure is a mismatch
            log(f"oracle {q}: {ex}")
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no program sources under {ROOT / 'src/main/scala'}", 2)
    spec = json.loads((BENCH / "workloads.json").read_text())
    contract = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in spec["workloads"]:
        die(f"unknown workload {args.workload}", 2)
    params = dict(spec["workloads"][args.workload]["params"])
    if "queries" in params:
        params["queries"] = ",".join(f"{f}:{q}" for f, qs in params["queries"].items()
                                     for q in qs)
    measured_on = {m: g["measured_on"] for g in spec["per_layer"] for m in g["metrics"]}

    classpath = build()
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        res = run_harness(classpath, args, params, run_dir)
        failed, correct = res["failed"], res["correct"]
        for e in res["errors"]:
            log(f"check failed: {e}")
        log("benchmark JVM finished")
        if res["oracle"]:
            bad = oracle_check(res["oracle"])
            log("oracle checks finished")
            failed += sum(e["passed"] for e in res["oracle"] if e["query"] in bad)
            correct = correct and not bad
        if args.trace:
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            shutil.copy(run_dir / "trace.json",
                        out / f"trace-{args.workload}-{args.seed}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {}
    if args.trace:
        measured = res["per_layer"]
        for m in contract["per_layer"]:
            if args.workload in measured_on[m["name"]]:
                if m["name"] not in measured:
                    die(f"per-layer metric {m['name']} was not measured")
                v = measured[m["name"]]
            else:
                v = 0.0  # the workload makes no call into this layer
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in contract["end_to_end"]:
            if m["name"] not in res["end_to_end"]:
                die(f"end-to-end metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": res["end_to_end"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
