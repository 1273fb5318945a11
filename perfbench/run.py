#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload hostgroup_pipeline --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. It compiles `src/main/scala` and the
benchmark's own Scala driver against `$SPARK_HOME/jars` (once per source
change, into `$CARGO_TARGET_DIR` or `.bench_build`), generates the
workload's inputs from the seed, runs one JVM, checks the outputs against
the DuckDB oracle and prints one JSON summary as the last stdout line.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. The workloads and metrics are described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
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

WORKLOADS = ("hostgroup_pipeline", "hostgroup_stream")
JVM_TIMEOUT_S = 170
# the module opens Spark needs on JDK 17, as in build.sbt
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("set SPARK_HOME to a Spark 4 installation")
    return jars


def build(root, out):
    """Compile the library and perfbench.Main; skipped when the sources
    are unchanged since the last build."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not sources:
        fail("no src/main/scala here: run from the repository root")
    sources += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    digest = hashlib.sha256()
    for p in sources:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    jars = spark_jars()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-cp", os.path.join(jars, "*"), "@" + argfile],
        capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        fail("compile failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    print(f"built {len(sources)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


# ---- run --------------------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(root, classes, args, run_dir):
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                          os.path.join(spark_jars(), "*")])
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run_dir}", f"-Dspark.local.dir={run_dir}/local",
            "-Dderby.system.home=" + run_dir]
           + opens + ["-cp", cp, "perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               cwd=run_dir, timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    records = os.path.join(run_dir, "records.jsonl")
    if code != 0 or not os.path.exists(records):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {code}")
    with open(records) as f:
        return [json.loads(line) for line in f]


# ---- correctness ------------------------------------------------------

def load_check(root):
    """scripts/check.py holds the dtype-strict, bit-exact compare rules."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_batch(root, data_dir, run_dir, oracle_sql):
    """Keys whose Spark result differs from the oracle's."""
    check = load_check(root)
    con = duck(data_dir)
    wrong = {}
    for key, sql in sorted(oracle_sql.items()):
        try:
            exp = con.execute(sql).fetchdf()
            got = con.execute("SELECT * FROM read_parquet("
                              f"'{run_dir}/results/{key}/*.parquet')").fetchdf()
            if sorted(exp.columns) != sorted(got.columns):
                reason = f"columns {sorted(exp.columns)} vs {sorted(got.columns)}"
            elif len(exp) != len(got):
                reason = f"rows {len(exp)} vs {len(got)}"
            else:
                cols = sorted(exp.columns)
                reason = check.strict_diff(exp[cols], got[cols])
        except Exception as e:  # an unreadable result is a wrong result
            reason = f"{type(e).__name__}: {e}"
        if reason:
            wrong[key] = reason
    return wrong


STREAM_ORACLE = """
WITH r AS (
  SELECT *, 167772160 + (CAST(split_part(host, '.', 2) AS BIGINT) << 16)
              + (CAST(split_part(host, '.', 3) AS BIGINT) << 8) AS net_num,
         epoch_us(ts) // {win_us} AS w
  FROM stream WHERE batch < {fed}),
a AS (
  SELECT w, net_num,
    CAST(floor({avg_bits}) AS BIGINT) AS bits_incoming,
    CAST(floor({avg_flows}) AS BIGINT) AS flows_incoming,
    CAST(floor({avg_packets}) AS BIGINT) AS packets_incoming
  FROM r GROUP BY w, net_num),
th AS (
  SELECT w, net_num,
    packets_incoming * 2 AS pps,
    CAST(floor((bits_incoming * 3) / 1048576) AS BIGINT) AS mbps,
    flows_incoming + 200 AS flows
  FROM a)
SELECT w, ((net_num >> 24) & 255) || '_' || ((net_num >> 16) & 255) || '_'
    || ((net_num >> 8) & 255) || '_0' AS name,
  CASE WHEN pps > 0 THEN pps END, CASE WHEN mbps > 0 THEN mbps END,
  CASE WHEN flows > 0 THEN flows END
FROM th
WHERE (w + 1) * {win_us} <= (SELECT max(epoch_us(ts)) FROM stream WHERE batch < {fed})
ORDER BY w, name
"""


def _avg(x):
    # twin of Baseline.aggFor("avg"): exact decimal sum, one division
    return f"(CAST(round(sum(CAST(({x}) AS DECIMAL(28,10))), 6) AS DOUBLE) / count({x}))"


def check_stream(data_dir, stream_rec):
    """Number of finalised windows whose reconciliation differs from a
    DuckDB recomputation over the rows that were fed."""
    con = duck(data_dir)
    sql = STREAM_ORACLE.format(
        win_us=stream_rec["window_seconds"] * 1_000_000,
        fed=stream_rec["fed_batches"], avg_bits=_avg("value * 1048576"),
        avg_flows=_avg("value / 10"), avg_packets=_avg("value"))
    expected = {}
    for w, name, pps, mbps, flows in con.execute(sql).fetchall():
        expected.setdefault(w, []).append(("create", name, pps, mbps, flows))
    windows = [sorted(expected[w]) for w in sorted(expected)]
    plans = sorted(stream_rec["actions"], key=lambda a: a["batch"])
    got = []
    for p in plans:
        rows = [tuple(r[1:]) for r in p["rows"]]
        removes = [r for r in rows if r[0] == "remove"]
        creates = sorted(r for r in rows if r[0] == "create")
        ok_removes = [r[:2] for r in removes] == [("remove", "stale_group")]
        got.append(creates if ok_removes else None)
    wrong = sum(1 for i in range(max(len(windows), len(got)))
                if i >= len(windows) or i >= len(got) or windows[i] != got[i])
    return wrong, len(windows)


# ---- metrics ----------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


class Trace:
    """The run's records as a span tree plus the listener's counters."""

    def __init__(self, records):
        self.records = records
        self.spans = [r for r in records if r["t"] == "span"]
        by = lambda n: [s for s in self.spans if s["name"] == n]  # noqa: E731
        self.setup = by("setup")[0]
        self.passes = sorted(by("pass"), key=lambda s: s["pass"])
        self.queries = [s for s in self.spans if s["name"].startswith("query:")]
        self.batches = by("batch")
        self.jobs = {r["id"]: dict(r) for r in records if r["t"] == "job"}
        for r in records:
            if r["t"] == "job_end" and r["id"] in self.jobs:
                self.jobs[r["id"]].update(end=r["end"], ok=r["ok"])
        self.stages = {r["id"]: r for r in records if r["t"] == "stage"}
        self.tasks = [r for r in records if r["t"] == "task"]
        self.plans = [r for r in records if r["t"] == "plan"]
        self.progress = sorted((r for r in records if r["t"] == "progress"),
                               key=lambda r: r["batch"])
        self.end = next(r for r in records if r["t"] == "end")
        self.stream = next((r for r in records if r["t"] == "stream"), None)

    def children(self, parent_id, name=None):
        return [s for s in self.spans if s["parent"] == parent_id
                and (name is None or s["name"] == name)]

    def ops(self, p):
        """The timed operations of a pass: queries, or stream batches."""
        return [s for s in self.spans if s["parent"] == p["id"]
                and (s["name"].startswith("query:") or s["name"] == "batch")]

    def warm(self, traced=None):
        return [p for p in self.passes[1:]
                if traced is None or p["traced"] == traced]


def end_to_end(tr, attempted, failed):
    warm = tr.warm(traced=False)
    ops_ms = [s["end"] - s["start"] for p in warm for s in tr.ops(p)]
    # a fixed rank, so a commit that fits more operations into a run
    # reads the same percentile
    p75 = stats.percentile(ops_ms, 75)
    metrics = {
        "setup_s": (tr.setup["end"] - tr.setup["start"]) / 1000,
        "cold_pass_s": (tr.passes[0]["end"] - tr.passes[0]["start"]) / 1000,
        "pass_s": median([p["end"] - p["start"] for p in warm]) / 1000,
        "op_p50_ms": stats.percentile(ops_ms, 50),
        "op_p75_ms": p75,
        "ok_frac": (attempted - failed) / attempted,
    }
    info = {"warm_passes": len(warm), "ops": len(ops_ms),
            "ops_beyond_p75": sum(1 for x in ops_ms if x > p75),
            "pass_s_q1_q3": quartiles([(p["end"] - p["start"]) / 1000 for p in warm])}
    return metrics, info


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0], xs[0]] if xs else []
    q = statistics.quantiles(xs, n=4)
    return [round(q[0], 4), round(q[2], 4)]


def span_tree(tr):
    """Every span of the run with its parent: the benchmark's own spans,
    jobs under the query or trigger that ran them, stages under jobs,
    tasks under stages, and stream triggers with their phases."""
    tree = {}
    for s in tr.spans:
        tree[s["id"]] = {"name": s["name"], "parent": s["parent"],
                         "start": s["start"], "end": s["end"]}
    by_group = {q["group"]: q for q in tr.queries}
    trigger_of = {}
    for p in tr.progress:
        if p["start"] is None:
            continue
        end = p["start"] + p["durations"].get("triggerExecution", 0)
        batch = next((b for b in tr.batches
                      if b["start"] <= p["start"] <= b["end"]), None)
        tid = ("trigger", p["batch"])
        tree[tid] = {"name": "trigger", "parent": batch["id"] if batch else None,
                     "start": p["start"], "end": end}
        t = p["start"]
        # phases laid end to end in execution order; jobs run in addBatch
        for phase in ("latestOffset", "queryPlanning", "addBatch", "walCommit",
                      "commitOffsets"):
            d = p["durations"].get(phase, 0)
            tree[("phase", p["batch"], phase)] = {
                "name": "phase:" + phase, "parent": tid, "start": t, "end": t + d}
            t += d
        trigger_of[str(p["batch"])] = ("phase", p["batch"], "addBatch")
    stage_job = {}
    for j in tr.jobs.values():
        if "end" not in j:
            continue
        parent = None
        q = by_group.get(j["group"])
        if q is not None:
            kids = [s for s in tr.spans if s["parent"] == q["id"]]
            parent = next((k["id"] for k in kids
                           if k["start"] <= j["start"] <= k["end"]), q["id"])
        elif j.get("batch") is not None:
            parent = trigger_of.get(j["batch"])
        tree[("job", j["id"])] = {"name": "job", "parent": parent,
                                  "start": j["start"], "end": j["end"]}
        for sid in j["stages"]:
            stage_job.setdefault(sid, j["id"])
    for sid, st in tr.stages.items():
        if st["start"] is None or st["end"] is None:
            continue
        tree[("stage", sid)] = {"name": "stage", "parent": ("job", stage_job.get(sid)),
                                "start": st["start"], "end": st["end"]}
    for i, t in enumerate(tr.tasks):
        tree[("task", i)] = {"name": "task", "parent": ("stage", t["stage"]),
                             "start": t["start"], "end": t["end"]}
    return tree


def within(tree, sid, root):
    """Whether span sid lies under span root."""
    seen = 0
    while sid is not None and seen < 64:
        if sid == root:
            return True
        sid = tree.get(sid, {}).get("parent")
        seen += 1
    return False


def per_layer(tr, cores, fn_costs):
    traced = tr.warm(traced=True)
    untraced = tr.warm(traced=False)
    tree = span_tree(tr)
    layer = lambda s: s["name"].split(":")[0]  # noqa: E731

    per_pass, self_per_pass = [], []
    for p in traced:
        pid = p["id"]
        lo, hi = p["start"], p["end"]
        self_s = stats.self_time_by_layer(
            {sid: s for sid, s in tree.items() if within(tree, sid, pid)}, layer)
        self_per_pass.append(self_s)
        jobs = [j for j in tr.jobs.values()
                if "end" in j and within(tree, ("job", j["id"]), pid)]
        stage_ids = {sid for j in jobs for sid in j["stages"] if sid in tr.stages}
        tasks = [t for t in tr.tasks if t["stage"] in stage_ids]
        ops = tr.ops(p)
        builds = [s for s in tr.spans if s["name"] == "build"
                  and any(s["parent"] == q["id"] for q in ops)]
        build_jobs = [j for j in jobs if any(
            b["start"] <= j["start"] <= b["end"] for b in builds)]
        plans = [pl for pl in tr.plans if "analysis" in pl["phases"]
                 and any(q["start"] <= pl["phases"]["analysis"][0] <= q["end"]
                         for q in ops)]
        busy = [(t["start"], t["end"]) for t in tasks]
        idle = sum(stats.idle_time(q["start"], q["end"], busy) for q in ops)
        triggers = [x for x in tr.progress if x["start"] is not None
                    and lo <= x["start"] <= hi]
        row = {
            "queries.build_s": sum(b["end"] - b["start"] for b in builds) / 1000,
            "queries.build_jobs": len(build_jobs),
            "executor.jobs": len(jobs),
            "executor.idle_s": idle / 1000,
            "executor.tasks_per_stage": len(tasks) / max(1, len(stage_ids)),
            "executor.core_util": sum(t["end"] - t["start"] for t in tasks)
            / (cores * (hi - lo)),
            "executor.task_run_s": sum(t["run_ms"] for t in tasks) / 1000,
            "executor.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "executor.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "executor.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "executor.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "executor.spill_bytes": sum(t["spill"] for t in tasks),
            "executor.failed_tasks": sum(1 for t in tasks if not t["ok"]),
            "sources.input_rows": sum(t["input_rows"] for t in tasks),
            "sources.input_bytes": sum(t["input_bytes"] for t in tasks),
        }
        for ph in ("analysis", "optimization", "planning"):
            row[f"driver.{ph}_s"] = sum(
                pl["phases"][ph][1] - pl["phases"][ph][0]
                for pl in plans if ph in pl["phases"]) / 1000
        row["driver.analysis_s"] += sum(q.get("build_analysis_ms", 0) for q in ops) / 1000
        for name in ("build", "execute", "batch", "trigger", "job", "stage"):
            row[f"self.{name}_s"] = self_s.get(name, 0) / 1000
        if triggers:
            d = lambda k: median([x["durations"].get(k, 0) for x in triggers])  # noqa
            row.update({
                "streaming.trigger_ms": d("triggerExecution"),
                "streaming.add_batch_ms": d("addBatch"),
                "streaming.query_planning_ms": d("queryPlanning"),
                "streaming.wal_commit_ms": d("walCommit"),
                "streaming.commit_offsets_ms": d("commitOffsets"),
                "streaming.state_commit_ms": median(
                    [x["state_commit_ms"] for x in triggers]),
                "streaming.state_rows": median([x["state_rows"] for x in triggers]),
                "streaming.state_memory_bytes": median(
                    [x["state_memory"] for x in triggers]),
                "streaming.watermark_lag_s": median(
                    [(x["max_event"] - x["watermark"]) / 1000 for x in triggers
                     if x["max_event"] is not None and x["watermark"] is not None]),
                "streaming.data_trigger_frac": sum(1 for x in triggers if x["rows"] > 0)
                / len(triggers),
            })
        per_pass.append(row)

    names = sorted({k for row in per_pass for k in row})
    out = {k: median([row.get(k, 0) for row in per_pass]) for k in names}
    for k in STREAM_LAYER:
        out.setdefault(k, 0.0)

    setup_phase = lambda n: sum(  # noqa: E731
        c["end"] - c["start"] for c in tr.children(tr.setup["id"], n)) / 1000
    out["setup.session_s"] = setup_phase("session")
    out["setup.warmup_s"] = setup_phase("warmup")
    out["sources.table_load_s"] = setup_phase("table_load")
    out["memory.peak_rss_mb"] = tr.end["peak_rss_kb"] / 1024
    out["driver.codegen_compiles"] = tr.passes[0]["codegen_compiles"]
    out["driver.warm_codegen_compiles"] = median(
        [p["codegen_compiles"] for p in tr.warm()])
    out.update(fn_costs)

    if tr.stream:
        t_ms = [s["end"] - s["start"] for p in traced for s in tr.ops(p)]
        u_ms = [s["end"] - s["start"] for p in untraced for s in tr.ops(p)]
    else:
        t_ms = [p["end"] - p["start"] for p in traced]
        u_ms = [p["end"] - p["start"] for p in untraced]
    out["trace.overhead_frac"] = (median(t_ms) - median(u_ms)) / median(u_ms)
    layers = sorted({k for d in self_per_pass for k in d})
    return out, {k: round(median([d.get(k, 0) for d in self_per_pass]) / 1000, 4)
                 for k in layers}


STREAM_LAYER = ("streaming.trigger_ms", "streaming.add_batch_ms",
                "streaming.query_planning_ms", "streaming.wal_commit_ms",
                "streaming.commit_offsets_ms", "streaming.state_commit_ms",
                "streaming.state_rows", "streaming.state_memory_bytes",
                "streaming.watermark_lag_s", "streaming.data_trigger_frac")


# ---- main -------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no src/main/scala here: run from the repository root")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(out, "perfbench")
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)

    data_dir = os.path.join(out, "data", f"{a.workload}-{a.seed}")
    for old in glob.glob(os.path.join(out, "data", "*")):
        if old != data_dir:
            shutil.rmtree(old, ignore_errors=True)
    gen.generate(a.workload, a.seed, data_dir)
    run_dir = os.path.join(out, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = {"workload": a.workload, "data": data_dir, "out": run_dir,
            "seconds": a.seconds, "trace": a.trace, "seed": a.seed,
            "cores": cores(), "window_batches": gen.WINDOW_BATCHES,
            "window_seconds": gen.WINDOW_BATCHES * gen.BATCH_SECONDS}
    tr = Trace(run_jvm(root, classes, args, run_dir))

    if tr.stream:
        wrong, windows = check_stream(data_dir, tr.stream)
        executions = [("batch", s["ok"]) for s in tr.batches]
        attempted, failed = stats.failures(executions, set())
        failed = min(attempted, failed + wrong)
        check_note = f"{windows - wrong}/{windows} finalised windows match"
        correct = wrong == 0 and windows > 0 and failed == 0
    else:
        oracle = next(r for r in tr.records if r["t"] == "oracle")["sql"]
        wrong = check_batch(root, data_dir, run_dir, oracle)
        executions = [(q["key"], q["ok"]) for q in tr.queries]
        attempted, failed = stats.failures(executions, set(wrong))
        check_note = f"{len(oracle) - len(wrong)}/{len(oracle)} keys match the oracle"
        for k, why in wrong.items():
            print(f"WRONG {k}: {why}", file=sys.stderr)
        correct = not wrong and failed == 0

    if a.trace:
        fn_costs = {f"functions.{r['name']}_ns_per_row": r["ns_per_row"]
                    for r in tr.records if r["t"] == "function"}
        values, self_by_layer = per_layer(tr, cores(), fn_costs)
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump({"self_s_median_traced_pass": self_by_layer,
                       "spans": [dict(v, id=str(k), parent=str(v["parent"]))
                                 for k, v in span_tree(tr).items()]}, f)
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        print(f"self time per layer, median traced pass (s): {json.dumps(self_by_layer)}")
    else:
        values, info = end_to_end(tr, attempted, failed)
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        print(f"samples: {json.dumps(info)}")
    missing = [n for n in names if n not in values]
    if missing:
        fail(f"metrics not produced: {missing}")
    for n in names:
        print(f"{n} = {values[n]:.6g} {units[n]}")
    print(f"correctness: {check_note}; {failed} of {attempted} operations failed")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))


if __name__ == "__main__":
    main()
