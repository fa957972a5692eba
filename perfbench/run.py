#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The launcher builds
the harness (perfbench/build.sbt, which compiles the library's sources
with it) when the sources changed, generates the seeded inputs, runs
the workload in one JVM against a local[4] Spark session, checks every
output (DuckDB oracle, last-writer-wins replay, recall floors) and
prints one record line per run followed by the final result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Everything it writes goes under
.perfbench/ in the checkout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["batch", "ingest"]
# The scale factor of the generated tables.
SF = 0.02
# A fixed 384 MB young generation and an old generation that starts
# small and is not pre-touched: resident memory grows with what the
# workload keeps alive, not with how far adaptive sizing grew the heap.
JVM_FLAGS = ["-Xms512m", "-Xmx3g", "-Xmn384m", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy"]
# Seconds a run may take after the build: the JVM bounds its own waits
# (perfbench.Main.Deadline, 140 s) and is killed only if it hangs past
# what is left of this once CHECK_RESERVE_S is kept for the checks.
RUN_LIMIT_S = 170
CHECK_RESERVE_S = 10
# Quality floors for the rows-only ANN ops (recall@10 over 50 queries
# against the exact top-10 on unit-norm random 64-d vectors).
RECALL_FLOOR = {"ivf": 0.5, "ivfpq": 0.3}
LAYERS = ["core", "ops", "dedup", "sim", "text", "tables", "sql", "streaming"]
TAIL_PCTS = [50, 75, 90, 95, 99, 99.9]
# The end-to-end metrics gated by BENCHMARK.json. The record line also
# carries the op latencies, the ingest latencies and space, and the
# failure ratio: see perfbench/README.md for why they are not gated.
END_TO_END = ["setup_s", "run_s", "peak_rss_mb"]
INGEST_CHECKS = ["changes", "table", "rollup", "stream", "drain"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---- build -----------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with the library when the sources changed and
    return the runtime classpath. sbt prefixes its output lines with
    `[info] `; the classpath is the last line naming the classes dir."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources next to perfbench/: run from a full checkout")
    os.makedirs(STATE, exist_ok=True)
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the harness")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=800)
    lines = [ln[len("[info] "):] if ln.startswith("[info] ") else ln
             for ln in p.stdout.splitlines()]
    cps = [ln.strip() for ln in lines if "scala-2.13" + os.sep + "classes" in ln
           and os.pathsep in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1]


# ---- inputs and oracle -----------------------------------------------

def inputs(workload, seed):
    sys.path.insert(0, HERE)
    import gen
    d = os.path.join(STATE, "data", f"sf{SF}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, SF)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    return d


def oracle(con, data, name, sql):
    """DuckDB's answer for one query's oracle SQL, cached per input."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(data, "oracle", f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = con.sql(sql).fetchdf()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def cells(df):
    return [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in r) for r in df.itertuples(index=False)]


def same_frame(got, want):
    """None when equal in column names, dtypes, row order and values."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    got, want = got[gc], want[wc]
    gd, wd = list(map(str, got.dtypes)), list(map(str, want.dtypes))
    if gd != wd:
        return f"dtypes {list(zip(gc, gd, wd))}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    g, w = cells(got), cells(want)
    if g != w:
        i = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
        return f"row {i}: {g[i]} vs {w[i]}"
    return None


def duck(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    return con


def spark_out(con, d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def check_closed(res, data):
    """Map op name -> failure message for every op whose output is wrong."""
    bad = dict(res.get("check_errors", {}))
    con = duck(data)
    for name, sql in res["oracle_sql"].items():
        if name in bad:
            continue
        got = spark_out(con, os.path.join(res["check_dir"], name))
        if got is None:
            bad[name] = "no output"
            continue
        msg = same_frame(got, oracle(con, data, name, sql))
        if msg:
            bad[name] = msg
    rec = res.get("recall")
    if rec:
        for k, floor in RECALL_FLOOR.items():
            if rec[k] < floor:
                bad[f"recall_{k}"] = f"recall@10 {rec[k]:.3f} < floor {floor}"
    return bad


def check_ingest(res):
    """Failure messages of the ingest checks: the final table against a
    last-writer-wins replay (highest seq per event_id) of the base events
    and the change files, and every emitted rollup row against the
    hourly aggregate of the change files."""
    ing = res["ingest"]
    con = duck(ing["events_dir"])
    changes = os.path.join(ing["changes_dir"], "*.json")
    con.execute(
        "CREATE VIEW changes AS SELECT * FROM read_json("
        f"'{changes}', format='newline_delimited', columns={{"
        "'event_id': 'BIGINT', 'seq': 'BIGINT', 'ts_us': 'BIGINT', "
        "'user_id': 'BIGINT', 'event_type': 'VARCHAR', 'value': 'DOUBLE', "
        "'due_us': 'BIGINT'})")
    bad = {}
    n = con.sql("SELECT count(*) FROM changes").fetchone()[0]
    if n != ing["rows"]:
        bad["changes"] = f"{n} change rows on disk, generator wrote {ing['rows']}"
    want = con.sql("""
        SELECT event_id, seq, epoch_us(ts) AS ts_us, user_id, event_type, value
        FROM (
          SELECT event_id, -1 AS seq, ts, user_id, event_type, value FROM events
          UNION ALL
          SELECT event_id, seq, make_timestamp(ts_us), user_id, event_type, value
          FROM changes)
        QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY seq DESC) = 1
        ORDER BY event_id""").fetchall()
    tfiles = sorted(glob.glob(os.path.join(ing["table_dir"], "*.parquet")))
    got = con.sql(f"""SELECT event_id, seq, epoch_us(ts) AS ts_us, user_id,
        event_type, value FROM read_parquet({tfiles!r}) ORDER BY event_id""").fetchall()
    if got != want:
        diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                    min(len(got), len(want)))
        bad["table"] = (f"final table differs from the replay at row {diff} "
                        f"({len(got)} vs {len(want)} rows)")
    rfiles = sorted(glob.glob(os.path.join(ing["rollup_dir"], "*.parquet")))
    if not rfiles:
        bad["rollup"] = "the rollup emitted nothing"
    else:
        emitted = con.sql(f"""SELECT epoch_us(hour) AS h, event_type, n, sv
            FROM read_parquet({rfiles!r}) ORDER BY 1, 2""").fetchall()
        truth = {(h, t): (n, sv) for h, t, n, sv in con.sql("""
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, make_timestamp(ts_us))),
                   event_type, count(*),
                   CAST(sum(CAST(value AS DECIMAL(18, 4))) AS DOUBLE)
            FROM changes GROUP BY ALL""").fetchall()}
        keys = [(h, t) for h, t, _, _ in emitted]
        wrong = [r for r in emitted if truth.get((r[0], r[1])) != (r[2], r[3])]
        if len(set(keys)) != len(keys) or wrong:
            bad["rollup"] = (f"{len(wrong)} of {len(emitted)} emitted rollup rows "
                             f"disagree, {len(keys) - len(set(keys))} repeated")
    return bad


# ---- metrics -----------------------------------------------------------

def tail(values):
    """(percentile, value): the highest of TAIL_PCTS with at least ten
    samples beyond it; the median when there are fewer than 20."""
    n = len(values)
    p = max([q for q in TAIL_PCTS if n * (1 - q / 100) >= 10], default=50)
    return p, quantile(values, p / 100)


def quantile(values, q):
    s = sorted(values)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def weighted_quantile(pairs, q):
    """Quantile of values given as (value, weight) pairs."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total == 0:
        return 0.0
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def weighted_tail(pairs):
    n = sum(w for _, w in pairs)
    p = max([q for q in TAIL_PCTS if n * (1 - q / 100) >= 10], default=50)
    return p, weighted_quantile(pairs, p / 100)


def end_to_end(res, workload):
    """The end-to-end metrics of the untraced phase, and the sample
    counts and tail percentiles behind them."""
    phase = res["untraced"]
    samples = phase["samples"]
    times = [s["s"] for s in samples if not s["error"]] or [s["s"] for s in samples]
    p, tv = tail(times)
    m = {"setup_s": (statistics.median(res["setup_s"]), "s"),
         "run_s": (phase["run_s"] if workload == "ingest"
                   else statistics.median(phase["passes"]), "s"),
         "op_p50_s": (statistics.median(times), "s"),
         "op_tail_s": (tv, "s"),
         "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    counts = {"setup_samples": len(res["setup_s"]), "op_samples": len(times),
              "op_tail_pct": p}
    if workload == "ingest":
        lat = [tuple(x) for x in phase["event_latency"]]
        commits = [c["s"] for c in phase["commits"]]
        ep, ev = weighted_tail(lat)
        cp, cv = tail(commits)
        m.update({"event_p50_s": (weighted_quantile(lat, 0.5), "s"),
                  "event_tail_s": (ev, "s"),
                  "commit_p50_s": (statistics.median(commits), "s"),
                  "commit_tail_s": (cv, "s"),
                  "space_amp": (phase["space_amp"], "ratio")})
        counts.update({"event_samples": sum(w for _, w in lat), "event_tail_pct": ep,
                       "commit_samples": len(commits), "commit_tail_pct": cp})
    else:
        counts["passes"] = len(phase["passes"])
    return m, counts


def account(res, bad, workload):
    """(attempted, failed, messages) over every measured phase: an op that
    threw or whose output check failed counts as failed."""
    phases = [res[k] for k in ("untraced", "traced", "untraced_after") if k in res]
    samples = [s for ph in phases for s in ph["samples"]]
    errors = dict(bad)
    errors.update({f"{s['op']}#{i}": s["error"] for i, s in enumerate(samples)
                   if s["error"]})
    if workload == "ingest":
        # the whole-run checks: change files, final table, rollup, and
        # that no stream failed and every phase drained
        commits = [c for ph in phases for c in ph["commits"]]
        failures = res["warm_failures"] + [f for ph in phases for f in ph["failures"]]
        if failures:
            errors["stream"] = "; ".join(failures)
        if not all(ph["drained"] for ph in phases):
            errors["drain"] = "rows left unmerged at the end of a phase"
        failed_checks = len([k for k in errors if k in INGEST_CHECKS])
        attempted = len(samples) + len(commits) + len(INGEST_CHECKS)
        failed = (sum(1 for s in samples if s["error"])
                  + sum(1 for c in commits if not c["ok"]) + failed_checks)
    else:
        recall_bad = any(k.startswith("recall") for k in bad)
        attempted = len(samples)
        failed = sum(1 for s in samples if s["error"] or s["op"] in bad
                     or (recall_bad and s["layer"] == "sim"))
    return attempted, failed, errors


def per_layer(res, phase, workload, failed, attempted):
    lay = phase["layers"]
    m = {}
    for layer in LAYERS:
        for k, unit in (("ops", "count"), ("plan_s", "s"), ("exec_s", "s"),
                        ("self_s", "s"), ("jobs", "count"),
                        ("driver_gap_s", "s")):
            m[f"{layer}.{k}"] = (lay[f"{layer}.{k}"], unit)
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("driver_gap_s", "s"),
                    ("executor_cpu_s", "s"), ("core_util", "ratio"),
                    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                    ("task_skew", "ratio"), ("gc_s", "s")):
        m[f"spark.{k}"] = (lay[f"spark.{k}"], unit)
    m["spark.storage_bytes_end"] = (phase["storage_bytes_end"], "bytes")
    st = phase.get("streaming", {})
    for k in ("ops", "plan_s", "exec_s", "self_s"):
        if k in st:
            m[f"streaming.{k}"] = (st[k], m[f"streaming.{k}"][1])
    pr = phase.get("pruned", [])
    opt = phase.get("optimizes", [])
    m["tables.commit_jobs"] = (lay["tables.commit_jobs"], "count")
    m["tables.write_amp"] = (phase.get("write_amp", 0.0), "ratio")
    m["tables.files_live"] = (phase.get("files_live", 0), "count")
    m["tables.files_read_ratio"] = (
        sum(r for r, _ in pr) / max(1, sum(t for _, t in pr)), "ratio")
    m["tables.optimize_s"] = (sum(o["s"] for o in opt), "s")
    m["tables.optimize_bytes_rewritten"] = (sum(o["bytes"] for o in opt), "bytes")
    m["streaming.batches"] = (st.get("batches", 0), "count")
    m["streaming.batch_s"] = (statistics.median(st["batch_s"]) if st.get("batch_s") else 0.0, "s")
    m["streaming.rows_per_s"] = (
        statistics.median(st["rows_per_s"]) if st.get("rows_per_s") else 0.0, "1/s")
    m["streaming.backlog_rows"] = (phase.get("backlog_rows", 0), "count")
    m["streaming.state_bytes"] = (st.get("state_bytes", 0), "bytes")
    m["streaming.generator_late_s"] = (max(phase.get("generator_late_s", [0.0])), "s")
    rec = res.get("recall", {})
    m["sim.recall_at_k"] = (min(rec["ivf"], rec["ivfpq"]) if rec else 0.0, "ratio")
    m["fail_ratio"] = (failed / attempted, "ratio")
    def run_s(ph):
        return ph["run_s"] if workload == "ingest" else statistics.median(ph["passes"])
    base = (run_s(res["untraced"]) + run_s(res["untraced_after"])) / 2
    m["trace.overhead"] = (run_s(phase) / base, "ratio")
    return m


# ---- main ------------------------------------------------------------

def run_jvm(cp, workload, data, out, seconds, trace, seed, timeout):
    """The workload JVM's result, or None when it outlived `timeout`."""
    cmd = ["java"] + JVM_FLAGS
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--data", data,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--seed", str(seed)]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=out,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the workload JVM failed (exit {rc})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    load = os.getloadavg()[0]
    t0 = time.time()
    cp = build()
    t1 = time.time()
    data = inputs(a.workload, a.seed)
    t2 = time.time()
    out = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    timeout = RUN_LIMIT_S - CHECK_RESERVE_S - (time.time() - t1)
    res = run_jvm(cp, a.workload, data, out, a.seconds, a.trace, a.seed, timeout)
    t3 = time.time()
    if res is None:
        # a hung run is a failed run, not a missing one
        log(f"FAIL the workload JVM did not finish within {timeout:.0f}s")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return

    if a.workload == "ingest":
        bad = check_ingest(res)
    else:
        bad = check_closed(res, data)
    t4 = time.time()
    log(f"build {t1 - t0:.1f}s, inputs {t2 - t1:.1f}s, jvm {t3 - t2:.1f}s, "
        f"checks {t4 - t3:.1f}s")
    attempted, failed, errors = account(res, bad, a.workload)
    for k, v in errors.items():
        log(f"FAIL {k}: {v}")

    e2e, counts = end_to_end(res, a.workload)
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "loadavg_start": load, "cpus": res["cpus"],
        "sf": SF, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted, **counts,
        "recall": res.get("recall"),
        "phase_s": {"build": t1 - t0, "inputs": t2 - t1, "jvm": t3 - t2,
                    "checks": t4 - t3},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}
    if a.trace:
        layers = per_layer(res, res["traced"], a.workload, failed, attempted)
        record["per_layer"] = {k: {"value": v, "unit": u}
                               for k, (v, u) in layers.items()}
        shown = record["per_layer"]
    else:
        shown = {k: record["metrics"][k] for k in END_TO_END}
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": shown}))
    if failed == 0:  # keep the small files: result, record and spans
        for d in glob.glob(os.path.join(out, "*", "")):
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
