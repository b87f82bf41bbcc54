#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <daily_dag|curation> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source (see
build.py), generates the workload's inputs from the seed (gen.py), runs the
benchmark JVM for a closed loop of ``--seconds`` seconds, checks the outputs,
and prints one JSON object as the last line of standard output. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they are
the per-layer ones plus the tracing overhead. See README.md in this directory.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import numpy as np  # noqa: E402

import build  # noqa: E402
import gen  # noqa: E402

LIMIT_S = 170          # the whole run, JVM included, stays under this
SYNC_WAIT_S = 10
JVM_HEAP = "3g"
DAILY_TICKERS = 98     # + SPY, VOO appended by BarsIO.tickerList = 100
DAILY_DAYS = 6         # distinct days for the day-DAG loop; later ones repeat
NULL_TICKER_ROWS = 40  # added to the sample day in the check
SETUPS = 3             # cold set-ups per untraced run: the benchmark JVM + 2 more
# Queries whose DuckDB oracle is too slow to run inside a benchmark run (over
# two minutes even on 500-row tables): checked only for identical outputs
# across repetitions.
ORACLE_SKIP = {"tok_encode"}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def gen_daily(work, rng, m):
    syms, names = gen.tickers(DAILY_TICKERS)
    gen.write_ticker_csv(f"{work}/tickers.csv", syms)
    days = gen.trading_days(DAILY_DAYS)
    rows = 0
    for d, day_rows in gen.gen_days(rng, names, days):
        rows += gen.write_chunks(f"{work}/chunks/{d}", d, day_rows, rng)
    gen.write_null_tickers(f"{work}/null_tickers.parquet", days[0], NULL_TICKER_ROWS, rng)
    m.update(tickers_csv=f"{work}/tickers.csv", chunks=f"{work}/chunks",
             days=",".join(map(str, days)), null_tickers=f"{work}/null_tickers.parquet")
    return rows


def gen_curation(work, rng, m):
    n = gen.write_curation(f"{work}/tables", rng)
    m.update(tables=f"{work}/tables",
             **{f"rows.{t}": str(v) for t, v in n.items()})
    return sum(n.values())


GENERATORS = {"daily_dag": gen_daily, "curation": gen_curation}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist"):
        return repr(v.tolist())
    return repr(v)


def _rows(con, sql):
    df = con.execute(sql).df()
    cols = sorted(df.columns)
    return cols, sorted(tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False))


def check_curation(work, steps):
    """Outputs are identical across timed steps, and the first step's outputs
    equal the DuckDB oracle (the comparison tools/oracle_check.py makes)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{work}/tmp'")
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/tables/{t}.parquet')")
    oracle = json.load(open(f"{work}/oracle_sql.json"))
    errs = []

    def out(d, q):
        return _rows(con, f"SELECT * FROM read_parquet('{d}/{q}/*.parquet')")

    for q, sql in sorted(oracle.items()):
        t0 = time.time()
        got = [out(f"{work}/cur/out-{k}", q) for k in steps]
        if not got[0][1]:
            errs.append(f"{q}: empty output")
        if len(got) < 2 or any(g != got[0] for g in got[1:]):
            errs.append(f"{q}: outputs differ between repetitions")
        if q in ORACLE_SKIP:
            log(f"checked {q} across steps only: {len(got[0][1])} rows")
            continue
        exp = _rows(con, sql)
        if exp[0] != got[0][0]:
            errs.append(f"{q}: columns {got[0][0]} vs oracle {exp[0]}")
        elif exp[1] != got[0][1]:
            bad = sum(1 for a, b in zip(exp[1], got[0][1]) if a != b)
            errs.append(f"{q}: {bad}/{len(exp[1])} rows differ from the oracle "
                        f"({len(got[0][1])} vs {len(exp[1])} rows)")
        log(f"checked {q}: {len(got[0][1])} rows in {time.time() - t0:.1f}s")
    return errs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, jars = build.build()
    log(f"build ready in {time.time() - start:.1f}s")

    work = os.path.join(build.OUT, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    proc = None
    try:
        t0 = time.time()
        m = {"work": work}
        rows = GENERATORS[a.workload](work, np.random.default_rng(a.seed), m)
        with open(f"{work}/manifest.properties", "w") as f:
            for k, v in m.items():
                f.write(f"{k}={v}\n")
        # write the inputs back before the loop is timed; on a congested disk
        # give up waiting after SYNC_WAIT_S
        sync = threading.Thread(target=os.sync, daemon=True)
        sync.start()
        sync.join(SYNC_WAIT_S)
        log(f"generated {a.workload} inputs ({rows} rows) in {time.time() - t0:.1f}s")

        result = f"{work}/result.json"
        opens = [o for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                             "java.net", "java.nio", "java.util", "java.util.concurrent",
                             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                             "sun.security.action", "sun.util.calendar")
                 for o in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
               ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
                "--workload", a.workload, "--manifest", f"{work}/manifest.properties",
                "--seconds", str(a.seconds), "--trace", str(a.trace)])
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        proc = subprocess.Popen(cmd + ["--result", result],
                                stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env)
        rc = proc.wait(timeout=max(10, LIMIT_S - (time.time() - start)))
        proc = None
        if rc != 0 or not os.path.exists(result):
            log(f"benchmark JVM exited with {rc}")
            return 1
        res = json.load(open(result))
        if not a.trace:
            # set-up is timed from JVM start, so each further sample is a
            # fresh JVM that only sets up; the figure is their median
            setups = [res["metrics"]["setup_s"]["value"]]
            for i in range(SETUPS - 1):
                one = f"{work}/setup-{i}.json"
                proc = subprocess.Popen(cmd + ["--result", one, "--setup-only", "1"],
                                        stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env)
                rc = proc.wait(timeout=max(10, LIMIT_S - (time.time() - start)))
                proc = None
                if rc != 0 or not os.path.exists(one):
                    log(f"set-up JVM exited with {rc}")
                    return 1
                setups.append(json.load(open(one))["setup_s"])
            log("set-ups: " + " ".join(f"{t:.3f}" for t in setups) + " s")
            res["metrics"]["setup_s"]["value"] = float(np.median(setups))
        if a.workload == "curation":
            errs = check_curation(work, res["steps"])
            for e in errs:
                log("CHECK FAILED:", e)
            res["correct"] = res["correct"] and not errs
        out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
        log(f"run finished in {time.time() - start:.1f}s")
        print(json.dumps(out))
        return 0
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
