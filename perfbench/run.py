#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Builds the program and the harness on first use (sbt, offline), makes the
workload's inputs from the seed, runs the closed loop in one JVM with
local[N] Spark (N <= cpus), checks the outputs, and prints the metrics.
The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The full result (every metric, the
environment stamp, the checks) is written to
.bench_build/results/<workload>-s<seed>-t<trace>.json.
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

import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_daily", "analytics_mix", "table_dml")
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"
# Set-ups per run (median reported). An ETL or DML set-up costs 10-25 s,
# more than the benchmark's time budget has room to repeat; see README.md.
SETUP_REPS = {"etl_daily": 1, "analytics_mix": 3, "table_dml": 1}
ETL_WINDOW = 6                      # generated days next to the two fixture days: 8 in all
ETL_MIN_TICKS = 3                   # timed ticks per run, after one untimed warm-up tick
ETL_READ_DAYS = 4                   # newest days of the window read after each tick
ETL_FIXTURES = ["2021_03_05", "2021_03_06"]
ETL_STARTDATE = "2021-03-01 00:00:00"
JVM_TIMEOUT_S = 170
SOURCE_STAMP = None  # hash of the program and harness sources, set by build()
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    """The host's aggregate CPU counters (user, nice, system, idle, iowait,
    irq, softirq, steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _sources():
    pats = ["src/main/**/*", "build.sbt", "project/*.properties", "project/*.sbt",
            "perfbench/src/**/*", "perfbench/build.sbt", "perfbench/project/*.properties"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compile the program and the harness; return the runtime classpath.
    Rebuilds only when a source or build file changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources next to the benchmark (src/main/scala/graft)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    global SOURCE_STAMP
    SOURCE_STAMP = stamp
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    home = os.path.expanduser("~")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.forcestart=false"]
    repos = os.path.join(home, ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building program and harness (sbt, first run only)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ----------------------------------------------------------------- inputs

def _atomic_dir(path, make):
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    os.replace(tmp, path)
    return path


def tpch_dir():
    return _atomic_dir(os.path.join(BUILD, "inputs", f"tpch-v{gen.VERSION}-{gen.TPCH_SEED}"),
                       gen.write_tpch)


def etl_inputs(seed, days):
    d = os.path.join(BUILD, "inputs", f"epg-v{gen.VERSION}-s{seed}-d{days}")

    def make(tmp):
        os.makedirs(tmp)
        for i in range(days):
            with open(os.path.join(tmp, f"epg_{gen.epg_day_key(i)}.csv"), "w") as f:
                f.write(gen.epg_day(seed, i))
    return _atomic_dir(d, make)


def dml_inputs(seed, blocks, tpch):
    d = os.path.join(BUILD, "inputs", f"dml-v{gen.VERSION}-s{seed}-b{blocks}")

    def make(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "oplog.jsonl"), "w") as f:
            f.write(gen.dml_oplog_text(seed, blocks, gen.lineitem_arrays(tpch), analytics_pool()))
    return os.path.join(_atomic_dir(d, make), "oplog.jsonl")


def analytics_pool():
    with open(os.path.join(HERE, "pool.json")) as f:
        return json.load(f)


def analytics_cycles(seed, pool, n):
    """`n` seeded orders of the whole pool."""
    import numpy as np
    names = sorted(pool)
    return [[names[i] for i in np.random.Generator(np.random.PCG64([seed, 4, c])).permutation(len(names))]
            for c in range(n)]


# ----------------------------------------------------------------- checks

def canon_digest(con, parquet_glob):
    """check.py's canonical form (columns by name, values rendered, rows
    sorted), hashed."""
    import math
    rel = con.sql(f"SELECT * FROM '{parquet_glob}'")
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rel.fetchall():
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            else:
                vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return hashlib.sha256((",".join(sorted(cols)) + "\n" + "\n".join(out)).encode()).hexdigest()


def check_etl(res, work, seed):
    """The final store against the generated days and q102's state, and
    each timed read against the generated rows of the day it read."""
    import duckdb
    con = duckdb.connect()
    checks, dump = [], os.path.join(work, "dump")
    with open(os.path.join(HERE, "expected", "q102.json")) as f:
        q102 = json.load(f)
    days = res["extra"]["days_imported"]
    want_keys = {tuple(r) for r in q102["recordings"]}
    want_rows = set()
    for i, key in enumerate(days):
        assert key == gen.epg_day_key(i)
        want_rows.update(gen.epg_german_keys(gen.epg_day(seed, i)))
    want_keys.update((pk, rk) for pk, rk, _ in want_rows)
    got = con.sql(f"SELECT PartitionKey, RowKey, titel FROM '{dump}/recordings/*.parquet'").fetchall()
    got_keys = {(pk, rk) for pk, rk, _ in got}
    checks.append({"name": "recordings_hold_every_german_row_once",
                   "ok": len(got) == len(got_keys) and got_keys == want_keys
                   and want_rows <= set(got),
                   "detail": f"{len(got)} rows ({len(got_keys)} keys) vs {len(want_keys)} expected"})
    got_q = sorted(tuple(r) for r in con.sql(
        f"SELECT tbl, PartitionKey, RowKey, digest FROM '{dump}/q102/*.parquet'").fetchall())
    want_q = sorted(tuple(r) for r in q102["top"] + q102["torrents"])
    checks.append({"name": "top_and_torrents_equal_q102", "ok": got_q == want_q,
                   "detail": f"{len(got_q)} rows vs {len(want_q)}"})
    # after timed tick j (imported day ETL_WINDOW + 1 + j; the warm-up
    # tick imported day ETL_WINDOW) come the reads of the newest
    # ETL_READ_DAYS days, each "day|rows|total duration" of its German rows
    want = []
    for j in range(res["extra"]["ticks"]):
        for i in range(ETL_WINDOW + 2 + j - ETL_READ_DAYS, ETL_WINDOW + 2 + j):
            text = gen.epg_day(seed, i)
            dauer = {l.split(";")[0]: int(l.split(";")[3]) for l in text.splitlines()[1:]}
            german = gen.epg_german_keys(text)
            want.append(f"{gen.epg_day_key(i)}|{len(german)}|"
                        f"{sum(dauer[rk] for _, rk, _ in german)}")
    reads = [i for i, op in enumerate(res["ops"]) if op["kind"] == "read"]
    wrong = {i for i, w in zip(reads, want) if res["ops"][i]["ok"] and res["ops"][i]["result"] != w}
    if len(reads) != len(want):
        wrong.update(reads)
    checks.append({"name": "reads_equal_generated_day", "ok": not wrong, "per_op": True,
                   "detail": f"{len(wrong)} wrong reads"})
    return checks, wrong


def check_analytics(ops, work, digests):
    """Check every registry query the run executed against its oracle: each
    operation's row count, and, with `digests`, the digest of the result the
    run dumped for each query; a missing dump fails the digest check. Each
    operation of a query whose result differs is wrong."""
    import duckdb
    con = duckdb.connect()
    with open(os.path.join(HERE, "oracle_digests.json")) as f:
        oracle = json.load(f)
    checks, bad = [], set()
    for name in sorted({op["query"] for op in ops if op["query"]}) if digests else []:
        dump = os.path.join(work, "dump", name)
        try:
            got = canon_digest(con, os.path.join(dump, "*.parquet"))
        except Exception as e:  # a missing or unreadable result is a wrong result
            got = f"error: {e}"
        ok = got == oracle["digests"].get(name)
        if not ok:
            bad.add(name)
        checks.append({"name": f"digest:{name}", "ok": ok, "per_op": True,
                       "detail": "" if ok else got[:80]})
    wrong = {i for i, op in enumerate(ops) if op["query"] in bad or
             (op["query"] and op["ok"] and op["result"] != str(oracle["rows"][op["query"]]))}
    checks.append({"name": "query_row_counts_equal_oracle", "ok": not wrong, "per_op": True,
                   "detail": f"{len(wrong)} wrong queries"})
    return checks, wrong


def _render(rows):
    return ";".join(sorted("|".join("null" if v is None else str(v) for v in r) for r in rows))


def check_dml(res, work, tpch, oplog, traced):
    """Replay the executed statements on a plain DuckDB table and compare
    every checked read, the final table and the view."""
    import duckdb
    con = duckdb.connect()
    cols = ", ".join(f"{c} {t}" for c, t in zip(gen.LI_COLS, gen.LI_TYPES))
    con.execute(f"CREATE TABLE li ({cols}, PRIMARY KEY (l_orderkey, l_linenumber))")
    con.execute(f"INSERT INTO li SELECT *, strftime(l_shipdate, '%Y-%m') "
                f"FROM '{tpch}/lineitem.parquet'")
    rollup = ("SELECT ship_month, l_returnflag, sum(l_quantity) AS qty, count(*) AS n, "
              "max(l_suppkey) AS maxsupp FROM li GROUP BY ship_month, l_returnflag")
    view = con.sql(rollup).fetchall()
    with open(oplog) as f:
        log_ops = [json.loads(l) for l in f]
    ops = res["ops"]
    wrong, checks, changed = set(), [], 0
    for i, op in enumerate(ops):
        entry = log_ops[i]
        kind = entry["kind"]
        if kind in gen.DML_WRITES:
            changed += con.execute(entry["ref"]).fetchone()[0]
        elif kind in ("point", "range"):
            want = _render(con.sql(entry["ref"]).fetchall())
            if op["ok"] and op["result"] != want:
                wrong.add(i)
        elif kind == "refresh":
            view = con.sql(rollup).fetchall()
    c, wrong_q = check_analytics(ops, work, digests=traced)
    checks += c
    wrong |= wrong_q
    dump = os.path.join(work, "dump")
    t = f"'{dump}/table/*.parquet'"
    sel = ", ".join(gen.LI_COLS)
    diff = con.sql(f"SELECT count(*) FROM ((SELECT {sel} FROM li EXCEPT ALL SELECT {sel} FROM {t}) "
                   f"UNION ALL (SELECT {sel} FROM {t} EXCEPT ALL SELECT {sel} FROM li))").fetchone()[0]
    checks.append({"name": "table_equals_reference_replay", "ok": diff == 0,
                   "detail": f"{diff} differing rows"})
    got_view = sorted(tuple(r) for r in con.sql(
        f"SELECT ship_month, l_returnflag, qty, n, maxsupp FROM '{dump}/mview/*.parquet'").fetchall())
    checks.append({"name": "mview_equals_reference_rollup", "ok": got_view == sorted(view),
                   "detail": f"{len(got_view)} vs {len(view)} groups"})
    checks.append({"name": "checked_reads_equal_reference", "ok": not wrong, "per_op": True,
                   "detail": f"{len(wrong)} wrong reads"})
    live_rows = con.sql("SELECT count(*) FROM li").fetchone()[0]
    return checks, wrong, changed, live_rows


# ---------------------------------------------------------------- metrics

def summarize(ops):
    xs = [op["s"] for op in ops]
    p50 = stats.percentile(xs, 50)
    tv, tp, tb = stats.tail(xs)
    return p50, tv, tp, tb


def amplification(fs, changed_rows, live_rows):
    """write_amp: bytes written under the table roots per byte of changed
    rows (changed rows times the live bytes per live row); space_amp:
    on-disk bytes under the roots per live data byte."""
    row_bytes = fs["bytes_live"] / max(1, live_rows)
    return {"write_amp": (fs["bytes_written"] / max(1.0, changed_rows * row_bytes), "ratio"),
            "space_amp": (fs["bytes_on_disk"] / max(1.0, fs["bytes_live"]), "ratio")}


# The operations behind each latency group. The op_* metrics cover every
# operation of table_dml and analytics_mix but only etl_daily's ticks,
# whose reads are far shorter.
GROUPS = {
    "etl_daily": {"op": ("tick",), "write": ("tick",), "read": ("read",)},
    "analytics_mix": {"op": ("analytics",)},
    "table_dml": {"op": None, "write": gen.DML_WRITES, "read": gen.DML_READS,
                  "refresh": ("refresh",), "query": ("analytics",)},
}
# The groups whose tails are reported. etl_daily's write tail is its op
# tail, and a run's dozen reads leave a maximum that is noise.
TAILS = {"etl_daily": ("op",), "analytics_mix": ("op",), "table_dml": ("op", "write", "read")}


def end_to_end(res, workload, fail_frac, amp):
    ops = res["ops"]
    m = {"setup_s": (stats.percentile(res["setup_s"], 50), "s"),
         "rss_peak_mb": (res["rss_peak_mb"], "MB"),
         "fail_frac": (fail_frac, "share")}
    for g, kinds in GROUPS[workload].items():
        sel = [op for op in ops if kinds is None or op["kind"] in kinds]
        if not sel:
            continue
        p50, tv, tp, tb = summarize(sel)
        m[f"{g}_p50_s"] = (p50, "s")
        if g in TAILS[workload]:
            m[f"{g}_tail_s"] = (tv, "s")
            m[f"{g}_tail_pct"] = (tp, "pct")
            m[f"{g}_tail_samples_beyond"] = (tb, "count")
        if g == "op":
            m["ops_per_s"] = (len(sel) / sum(op["s"] for op in sel), "1/s")
    alias = {"etl_daily": "tick", "analytics_mix": "query"}.get(workload)
    if alias:
        for k in ("p50_s", "tail_s", "tail_pct"):
            m[f"{alias}_{k}"] = m[f"op_{k}"]
    m.update(amp)
    return m


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    t_start = time.time()
    cp = build()
    t_inputs = time.time()  # the first run's build has a time limit of its own
    tpch = tpch_dir()

    job = {"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
           "cores": CORES, "setup_reps": 1 if a.trace else SETUP_REPS[a.workload],
           "hard_stop_s": max(6 * a.seconds, 60.0)}
    inputs = {}
    if a.workload == "etl_daily":
        days = ETL_WINDOW + 1 + max(ETL_MIN_TICKS, int(a.seconds / 2)) + 2
        epg = etl_inputs(a.seed, days)
        job["etl"] = {"epg_dir": epg, "days": [gen.epg_day_key(i) for i in range(days)],
                      "window": ETL_WINDOW, "fixtures": ETL_FIXTURES, "startdate": ETL_STARTDATE,
                      "min_ticks": ETL_MIN_TICKS, "read_days": ETL_READ_DAYS}
        inputs = {"epg_rows_per_day": gen.EPG_ROWS_PER_DAY, "generated_days": days,
                  "window_days": ETL_WINDOW + len(ETL_FIXTURES)}
    elif a.workload == "analytics_mix":
        pool = analytics_pool()
        job["analytics"] = {"sf_dir": tpch, "cycles": analytics_cycles(a.seed, pool, 20),
                            "registry_of": pool}
        inputs = {"pool_queries": len(pool), "tables": "sf0.1", "lineitem_rows": 600_000}
    else:
        blocks = int(a.seconds / 4) + 4
        oplog = dml_inputs(a.seed, blocks, tpch)
        job["dml"] = {"lineitem": os.path.join(tpch, "lineitem.parquet"), "oplog": oplog,
                      "sf_dir": tpch}
        inputs = {"lineitem_rows": 600_000, "oplog_blocks": blocks,
                  "ops_per_block": len(gen.DML_WRITES + gen.DML_READS + gen.DML_MAINTENANCE)
                  + len(set(analytics_pool().values()))}

    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    job["work"] = work
    job_path, res_path = os.path.join(work, "job.json"), os.path.join(work, "result.json")
    with open(job_path, "w") as f:
        json.dump(job, f)
    # No -Xms: the heap grows with what the workload holds, so the
    # resident peak follows the program rather than the heap setting. The
    # serial collector grows the heap by its occupancy after a collection,
    # where G1 also weighs pause times, which follow the host's load: on a
    # shared 4-cpu host G1's resident peak ranged up to 1.6x between runs
    # of one workload, the serial collector's up to 1.3x.
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "run", job_path, res_path]
    t_jvm = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S - (t_jvm - t_inputs))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness timed out; see {work}/jvm.log")
    jvm_s = time.time() - t_jvm
    if not os.path.exists(res_path):
        fail(f"harness exited {p.returncode} without a result; see {work}/jvm.log")
    with open(res_path) as f:
        res = json.load(f)
    if not res["ops"]:
        fail(f"no operation ran; see {work}/jvm.log")

    checks = list(res["checks"])
    amp = {}
    if a.workload == "etl_daily":
        c, wrong = check_etl(res, work, a.seed)
        # a timed tick changes the German rows of the day it imports
        timed_days = range(ETL_WINDOW + 1, ETL_WINDOW + 1 + res["extra"]["ticks"])
        changed = sum(len(gen.epg_german_keys(gen.epg_day(a.seed, i))) for i in timed_days)
        amp = amplification(res["extra"], changed, res["extra"]["live_rows"])
    elif a.workload == "analytics_mix":
        c, wrong = check_analytics(res["ops"], work, digests=True)
    else:
        c, wrong, changed, live_rows = check_dml(res, work, tpch, oplog, bool(a.trace))
        amp = amplification(res["extra"], changed, live_rows)
    checks += c
    failed_checks = [x for x in checks if not x["ok"]]
    for x in failed_checks:
        log(f"check failed: {x['name']} {x['detail']}")
    ops = res["ops"]
    frac = stats.fail_frac(ops, wrong)
    # failed operations, plus each failed check of state that no single
    # operation owns (per-operation checks are already in `wrong`)
    failed = round(frac * len(ops)) + sum(1 for x in failed_checks if not x.get("per_op"))
    e2e = end_to_end(res, a.workload, frac, amp)

    layers = {}
    if a.trace:
        names = [m["name"] for m in benchmark_spec()["per_layer"]]
        layers = {n: 0.0 for n in names}
        layers.update({k: v for k, v in res["layers"].items() if k in layers})
        if res["traced_ops"]:
            traced = stats.percentile([o["s"] for o in res["traced_ops"]], 50)
            layers["trace.overhead_frac"] = traced / e2e["op_p50_s"][0] - 1.0
        missing = set(res["layers"]) - set(names)
        if missing:
            log(f"layer numbers not in BENCHMARK.json: {sorted(missing)}")

    env = dict(res["env"])
    env.update(seed=a.seed, cpus=len(os.sched_getaffinity(0)), load1_start=load_start,
               load1_end=os.getloadavg()[0], steal_share=steal_share(cpu_start, cpu_times()),
               inputs=inputs, commit=git_commit(),
               source_stamp=SOURCE_STAMP)
    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "per_layer": layers, "checks": checks, "env": env,
            "attempted": len(ops), "failed": failed, "extra": res["extra"],
            "samples": {"setup_s": res["setup_s"], "op_s": [o["s"] for o in ops],
                        "traced_op_s": [o["s"] for o in res["traced_ops"]]},
            "wall_s": time.time() - t_start, "jvm_s": jvm_s}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out_path = os.path.join(BUILD, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
    spans = os.path.join(work, "trace", "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, out_path[:-5] + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    for k, v in full["end_to_end"].items():
        print(f"{a.workload} {k} {v['value']:.6g} {v['unit']}")
    print(f"{a.workload} env {json.dumps(env, sort_keys=True)}")
    if a.trace:
        units = {m["name"]: m["unit"] for m in benchmark_spec()["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        # analytics_mix has no writes and no table roots, so it reports
        # only the bounded metrics it has
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": e2e[m["name"]][1]}
                   for m in benchmark_spec()["end_to_end"] if m["name"] in e2e}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
