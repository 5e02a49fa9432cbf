#!/usr/bin/env python3
"""The repository's benchmark: three workloads, one closed-loop client, one
JVM at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, builds the program from
source if needed, runs `graft.perfbench.Main` (set-up, untimed output
check, timed window; with `--trace 1` a traced window between two
untraced half windows), checks
outputs, and prints one summary line and then, as the last line, the JSON
result: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. See README.md in this directory for the workloads and the
metric definitions.
"""
import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Input sizes per workload (see README.md for why). The jigsaw_export
# frame size is `ExportWorkload.FrameW/FrameH`.
SIZES = {
    "queries": {"sf": 0.02, "docs": 1000, "vecs": 500},
    "jigsaw_export": {"images": 25, "w": 480, "h": 360},
    "ingest": {"docs": 10000, "recrawl": 0.1},
}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def make_inputs(workload, seed, work):
    s = SIZES[workload]
    if workload == "queries":
        gen.tables(os.path.join(work, "tables"), s["sf"], seed, s["docs"], s["vecs"])
    elif workload == "jigsaw_export":
        tags = gen.camvid(os.path.join(work, "corpus"), seed, s["images"], s["w"], s["h"])
        with open(os.path.join(work, "corpus_tags.json"), "w") as f:
            json.dump(tags, f)
    else:
        gen.ingest_docs(os.path.join(work, "ingest.parquet"), seed, s["docs"], s["recrawl"])


def run_jvm(classes, workload, seed, seconds, trace, work):
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}/derby",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"),
            "graft.perfbench.Main", workload, str(seed), str(seconds), str(trace),
            work]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def cpu_ticks():
    """The host's cumulative CPU ticks from /proc/stat (empty where there
    is none): (steal, total)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f)


def oracle_mismatches(work):
    """Queries whose checked output differs from the DuckDB oracle over the
    same generated tables (the comparison `tools/check_oracle.py` makes),
    or whose no-oracle output is unreadable."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    import duckdb
    import pandas as pd
    tables, check = os.path.join(work, "tables"), os.path.join(work, "check")
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(check, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = {}
    for name in sorted(os.listdir(check)):
        path = os.path.join(check, name)
        if not os.path.isdir(path):
            continue
        try:
            spark_df = co.canon(pd.read_parquet(path))
        except Exception as e:  # noqa: BLE001 — any read error fails the query
            bad[name] = f"unreadable: {e}"
            continue
        if name not in oracles:
            continue
        duck_df = co.canon(con.execute(oracles[name]).fetchdf())
        if list(spark_df.columns) != list(duck_df.columns) or len(spark_df) != len(duck_df):
            bad[name] = f"shape {spark_df.shape} vs {duck_df.shape}"
            continue
        try:
            pd.testing.assert_frame_equal(spark_df, duck_df, check_dtype=False,
                                          check_exact=False, rtol=0, atol=1e-6)
        except AssertionError as e:
            bad[name] = str(e).splitlines()[-1][:200]
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        make_inputs(a.workload, a.seed, work)
        gen_s = time.time() - t0
        ticks0 = cpu_ticks()
        res = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, work)
        ticks1 = cpu_ticks()
        if res["parity_failures"]:
            raise SystemExit("perfbench: timed plan differs from the Verify plan: "
                             + "; ".join(res["parity_failures"]))
        failed_by = dict(res["failed_by_name"])
        if a.workload == "queries":
            for name, why in oracle_mismatches(work).items():
                sys.stderr.write(f"[perfbench] wrong output {name}: {why}\n")
                failed_by[name] = res["ops_by_name"].get(name, 0)
        failed = sum(failed_by.values())
        # keep the run's full record (per-op times) and, traced, its spans
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        run_id = f"{a.workload}-{a.seed}-t{a.trace}"
        shutil.copy(os.path.join(work, "result.json"),
                    os.path.join(out, f"{run_id}-result.json"))
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out, f"{run_id}-spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = res["e2e"]
    summary = {
        "workload": a.workload, "seed": a.seed, "ops": len(res["op_seconds"]),
        "attempted": res["attempted"], "items": res["items"], "failed_frac": failed / max(1, res["attempted"]),
        "op_tail_percentile": res["tail_percentile"], "input_gen_s": round(gen_s, 3),
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # a shared host's contention, which moves every timing of the run
        "steal_frac": (round((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 4)
                       if ticks0 and ticks1 else None),
        "setup_cycles_s": res["setup_cycles_s"], "warmup_s": res["warmup_s"],
        "window_s": res["window_s"],
        **({"self_ms_by_layer": res["self_ms_by_layer"]} if a.trace else {}),
        **{k: f'{v["value"]:.6g} {v["unit"]}' for k, v in e2e.items()}}
    print("summary " + json.dumps(summary))
    metrics = res["per_layer"] if a.trace else e2e
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
