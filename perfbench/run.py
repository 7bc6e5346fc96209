#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, two workloads.

    python3 perfbench/run.py --workload curation_udf --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source (first run only), generates
the input tables, runs the workload in a closed loop (one client, one
operation at a time, engine at local[nproc]) and checks every operation's
output once, outside the timed region. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Any thrown operation,
wrong result or codegen fallback makes the command exit nonzero.

See perfbench/README.md for the workloads and how to read the traced run.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd

import benchlib

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HEAP = "3g"

# Each workload is a fixed subset sized so that every run (JVM start and
# set-up, a cold pass and the warm passes) stays under a minute; see
# README.md for why each query is in. `pass_s` and `cold_s` are the nominal
# warm and cold pass times (4 cores, at the commit that introduced the
# benchmark): a run makes the fewest warm passes whose nominal time covers
# --seconds, so every commit measured with the same settings does the same
# work, and the hang guard allows several times the nominal run.
WORKLOADS = {
    # the five with the largest share of executor CPU in function code
    # (fn_share.py) whose warm times fit the pass budget
    "curation_udf": {"sf": 0.1, "pass_s": 3.2, "cold_s": 15.0, "queries": [
        "pipe_bpe_tokenize", "fn_histogram_map", "ev_custom_sessionize", "dd_decontaminate",
        "dd_url_canonical"]},
    # the write statements run after each of the stream's micro-batches
    "ingest_write": {"sf": 0.01, "pass_s": 13.0, "cold_s": 30.0, "stream_files": 2, "queries": [
        "wr_ctas_insert", "wr_partitioned_prune", "wr_orc_roundtrip",
        "wr_csv_json_roundtrip", "wr_delete_rewrite"]},
}

# a stuck run is killed after HANG_FACTOR x its nominal time plus the
# allowance for JVM start and set-up; slow code still reports its metrics
HANG_FACTOR = 5
HANG_BASE_S = 120

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def source_key():
    h = hashlib.sha256()
    files = sorted(glob.glob(str(ROOT / "src/main/**/*"), recursive=True) +
                   glob.glob(str(BENCH / "src/**/*.scala"), recursive=True) +
                   [str(BENCH / "build.sbt"), str(BENCH / "project/build.properties")])
    for f in files:
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline) once per source state;
    returns the runtime classpath."""
    out = BENCH / ".build"
    key = source_key()
    if (out / "key").exists() and (out / "key").read_text() == key:
        return (out / "classpath.txt").read_text().strip()
    # offline, and keep sbt's scratch files (server socket, temp files,
    # JVM perf counters) inside the checkout
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=str(tmp))
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Dsbt.offline=true -Dsbt.server.autostart=false"
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, capture_output=True, text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    lines = [l for l in proc.stdout.splitlines() if "target" in l and ":" in l
             and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    (out / "classpath.txt").write_text(lines[-1])
    (out / "key").write_text(key)
    return lines[-1]


def data_dir(sf):
    d = BENCH / ".data" / f"sf{sf}"
    if not (d / "_done").exists():
        import gen
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, sf)
        (d / "_done").write_text("")
    return d


def write_stream_files(data, run, seed, n_files):
    """Seeded replay files. The last one also carries an event of user -1
    40000 days past the data, beyond the harness's 30000-day lateness: it
    moves the watermark past every real session, so the no-data batch that
    follows closes them all."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pq.read_table(data / "events.parquet")
    events = table.to_pandas()
    files = benchlib.split_stream(events, seed, n_files)
    sentinel = pd.DataFrame({
        "event_id": [-1], "ts": [events["ts"].max() + pd.Timedelta(days=40000)],
        "user_id": [-1], "event_type": ["sentinel"], "value": [0.0], "props": ["{}"]})
    files[-1] = pd.concat([files[-1], sentinel], ignore_index=True)
    d = run / "stream_in"
    d.mkdir()
    for i, f in enumerate(files):
        pq.write_table(pa.Table.from_pandas(f, schema=table.schema, preserve_index=False),
                       d / f"{i:03d}.parquet")
    return d


def run_harness(args, wl, data, run, cp, passes, deadline, jvm_opts=()):
    order = run / "order.txt"
    order.write_text("\n".join(",".join(map(str, o)) for o in
                               benchlib.pass_orders(len(wl["queries"]), args.seed, 512)))
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
           if "JAVA_HOME" in os.environ else "java",
           f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run / 'tmp'}", *jvm_opts,
           "-cp", cp, "perfbench.Harness",
           "--passes", str(passes), "--trace", str(args.trace),
           "--data", str(data), "--run", str(run),
           "--queries", ",".join(wl["queries"]), "--order", str(order)]
    if "stream_files" in wl:
        cmd += ["--stream", str(write_stream_files(data, run, args.seed, wl["stream_files"]))]
    (run / "tmp").mkdir()
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=str(run / "local"))
    with open(run / "harness.out", "w") as out, open(run / "harness.err", "w") as err:
        proc = subprocess.Popen(cmd, cwd=run, env=env, stdout=out, stderr=err)
        try:
            proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness hung past the time limit (log: {run / 'harness.err'})", 1)
    if proc.returncode != 0 or not (run / "result.json").exists():
        sys.stderr.write((run / "harness.err").read_text()[-3000:])
        fail(f"harness exited with {proc.returncode}", 1)
    return json.loads((run / "result.json").read_text())


# ── output checks ─────────────────────────────────────────────────────────

def read_parquet_dir(d):
    parts = sorted(glob.glob(f"{d}/*.parquet"))
    if not parts:
        return None
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def compare(oracle, spark, canon, values_equal):
    """The oracle checker's rule: same columns, rows and values after
    canonicalisation; int-width-only dtype drift is tolerated."""
    o, s = canon(oracle), canon(spark)
    if list(o.columns) != list(s.columns):
        return f"columns oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"rowcount oracle={len(o)} spark={len(s)}"
    ints = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"}
    serious = [(c, str(a), str(b)) for c, a, b in zip(o.columns, o.dtypes, s.dtypes)
               if str(a) != str(b) and not (str(a) in ints and str(b) in ints)]
    if serious and len(o):
        return f"dtypes {serious}"
    for col in o.columns:
        for i, (x, y) in enumerate(zip(o[col].tolist(), s[col].tolist())):
            if not values_equal(x, y):
                return f"col={col} row={i} oracle={x!r} spark={y!r}"
    return None


SESSION_TWIN = """
WITH e AS (SELECT DISTINCT event_id, user_id, ts, value FROM events),
m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {gap_ms} THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM g GROUP BY user_id, sid
"""


def check_outputs(res, data, outputs, sf):
    """Returns {name: problem} for every output that is missing or wrong,
    and the fingerprint of every output checked against a pin. A deliberate
    re-pin copies those from the artifact into fingerprints.json."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import TABLES, canon, values_equal
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    pins = json.loads((BENCH / "fingerprints.json").read_text())
    problems, fingerprints = {}, {}
    names = list(res["queries"])
    if (outputs / "stream_sessions").exists() or any(
            o["name"].startswith("stream_batch") for o in res["ops"]):
        names.append("stream_sessions")
    for name in names:
        got = read_parquet_dir(outputs / name)
        if got is None:
            problems[name] = "no output"
            continue
        if name == "stream_sessions":
            got["total_value"] = got["total_value"].round(4)
            twin = con.execute(SESSION_TWIN.format(gap_ms=30 * 60000)).fetchdf()
            p = compare(twin, got, canon, values_equal)
            if p:
                problems[name] = f"batch twin: {p}"
                continue
        elif name in res["oracle_sql"]:
            p = compare(con.execute(res["oracle_sql"][name]).fetchdf(), got, canon, values_equal)
            if p:
                problems[name] = f"oracle: {p}"
            continue
        key = f"sf{sf}/{name}"
        fp = fingerprints[key] = benchlib.fingerprint(got, canon)
        if pins.get(key) != fp:
            problems[name] = f"fingerprint {fp} differs from the pinned {pins.get(key)}"
    return problems, fingerprints


# ── metrics ───────────────────────────────────────────────────────────────

def end_to_end(res, timed, failed):
    cold = [p for p in res["passes"] if p["cold"]]
    warm = [p for p in res["passes"] if not p["cold"] and not p["traced"]]
    warm_ops = [o for o in timed if o["pass"] in {p["pass"] for p in warm}]
    lat = [o["ms"] / 1e3 for o in warm_ops]
    return {
        "setup_s": res["setup"]["to_ready_s"],
        "first_pass_s": cold[0]["wall_s"],
        "pass_s": statistics.median([p["wall_s"] for p in warm]),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": benchlib.percentile(lat, 90),
        "heap_live_peak_mb": res["heap_live_peak_mb"],
    }, {"error_rate": failed / max(1, len(timed)), "warm_samples": len(lat)}


def declared_metrics():
    """Metric names and units as BENCHMARK.json declares them, end-to-end
    then per-layer; the run must report exactly these."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [{m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")]


def reported(values, units, kind):
    if set(values) != set(units):
        fail(f"{kind} metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


# counters summed per warm pass (the rest are maxima, ratios or derived)
SUMMED = ["operators.eager_jobs", "codegen.compiles", "codegen.compile_ms",
          "exec.tasks", "exec.task_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.sched_wait_ms",
          "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb",
          "exec.failed_tasks", "exec.stages", "op.scan_rows", "op.broadcast_build_ms",
          "op.broadcast_mb", "op.sort_ms", "op.agg_build_ms", "op.agg_sort_fallbacks",
          "write.files", "write.mb", "write.rows", "write.task_commit_ms",
          "write.job_commit_ms", "streaming.batches", "streaming.batch_ms",
          "streaming.add_batch_ms", "streaming.commit_ms"]
PHASES = {"analysis": "plans.analysis_ms", "optimization": "plans.optimizer_ms",
          "planning": "plans.physical_ms"}


def spans_of(t, op_id):
    """Span records of one traced operation: root, build, planning phases,
    jobs and stages (a stage's parent is the job whose interval holds it)."""
    root = {"id": f"{op_id}", "trace": op_id, "name": "op:" + t["name"],
            "start": t["start"], "end": t["end"], "parent": None}
    out = [root, {"id": f"{op_id}/build", "trace": op_id, "name": "operators.build",
                  "start": t["build"][0], "end": t["build"][1], "parent": root["id"]}]
    for i, (n, s, e) in enumerate(t["phases"]):
        parent = f"{op_id}/build" if t["build"][0] <= s <= t["build"][1] else root["id"]
        out.append({"id": f"{op_id}/plan{i}", "trace": op_id, "name": f"plans.{n}",
                    "start": s, "end": e, "parent": parent})
    for jid, s, e in t["jobs"]:
        out.append({"id": f"{op_id}/job{jid}", "trace": op_id, "name": "exec.job",
                    "start": s, "end": e, "parent": root["id"]})
    for sid, s, e, n in t["stages"]:
        job = next((f"{op_id}/job{j}" for j, js, je in t["jobs"] if js <= s <= je), root["id"])
        out.append({"id": f"{op_id}/stage{sid}", "trace": op_id, "name": "exec.stage",
                    "start": s, "end": e, "parent": job, "tasks": n})
    return out


def per_layer(res, run):
    traced_passes = sorted({p["pass"] for p in res["passes"] if p["traced"] and not p["cold"]})
    n = max(1, len(traced_passes))
    warm = [t for t in res["traces"] if t["pass"] in traced_passes]
    cold = [t for t in res["traces"] if t["pass"] == 0]
    m = collections.defaultdict(float)
    spans, rules, acc_err = [], {}, 0.0
    for t in res["traces"]:
        spans += spans_of(t, f"p{t['pass']}-{t['name']}")
    for t in warm:
        c = t["counters"]
        for k in SUMMED:
            m[k] += c.get(k, 0.0) / n
        for k in ("exec.peak_exec_mem_mb", "streaming.state_rows", "streaming.state_mb"):
            m[k] = max(m[k], c.get(k, 0.0))
        a = benchlib.account(t["start"], t["end"], t["build"],
                             [(s, e) for _, s, e in t["phases"]],
                             [(s, e) for _, s, e in t["jobs"]])
        m["operators.build_ms"] += a["build_self_ms"] / n
        m["exec.job_union_ms"] += a["jobs_union_ms"] / n
        m["exec.driver_gap_ms"] += a["driver_gap_ms"] / n
        plans = 0.0
        for name, s, e in t["phases"]:
            if name in PHASES:
                m[PHASES[name]] += (e - s) / n
            plans += e - s
        m["exec.jobs"] += len(t["jobs"]) / n
        m["op.result_rows"] += t["result_rows"] / n
        total = a["build_self_ms"] + plans + a["jobs_union_ms"] + a["driver_gap_ms"]
        if a["wall_ms"] > 0:
            acc_err = max(acc_err, abs(total - a["wall_ms"]) / a["wall_ms"])
        for r, (ns, inv, eff) in t["rules"].items():
            x = rules.setdefault(r, [0, 0, 0])
            x[0] += ns
            x[1] += inv
            x[2] += eff
    skews = [t["stage_skew"] for t in warm if t["stage_skew"] > 0]
    m["exec.stage_skew"] = statistics.median(skews) if skews else 0.0
    tasks = sum(t["counters"].get("exec.tasks", 0.0) for t in warm)
    empty = sum(t["counters"].get("exec.empty_tasks", 0.0) for t in warm)
    m["exec.empty_task_frac"] = empty / tasks if tasks else 0.0
    walls = {p["pass"]: p["wall_s"] for p in res["passes"]}
    traced_wall_ms = sum(walls[p] for p in traced_passes) * 1e3
    cpus = res["config"]["cores"]
    m["exec.busy_frac"] = (sum(t["counters"].get("exec.task_ms", 0.0) for t in warm)
                           / (traced_wall_ms * cpus) if traced_wall_ms else 0.0)
    m["op.rows_examined_per_result"] = (m["op.scan_rows"] / m["op.result_rows"]
                                        if m["op.result_rows"] else 0.0)
    batch_s = m["streaming.batch_ms"] / 1e3
    rows = sum(t["counters"].get("streaming.input_rows", 0.0) for t in warm) / n
    m["streaming.rows_per_s"] = rows / batch_s if batch_s else 0.0
    top = sorted(rules.items(), key=lambda kv: -kv[1][0])
    m["plans.top_rule_ms"] = top[0][1][0] / 1e6 / n if top else 0.0
    inv = sum(x[1] for _, x in top)
    m["plans.rule_effective_ratio"] = sum(x[2] for _, x in top) / inv if inv else 0.0
    m["codegen.first_pass_compiles"] = sum(t["counters"].get("codegen.compiles", 0) for t in cold)
    m["codegen.first_pass_compile_ms"] = sum(t["counters"].get("codegen.compile_ms", 0) for t in cold)
    m["codegen.fallbacks"] = float(res["codegen_fallbacks"])
    m["session.build_s"] = res["setup"]["build_s"]
    m["session.register_s"] = res["setup"]["register_s"]
    # each traced pass against the untraced pass after it: the warm-up
    # trend makes the pass before it slower, the one after it faster, so
    # this errs towards overstating the overhead
    pairs = [walls[p] / walls[p + 1] for p in traced_passes if p + 1 in walls]
    m["trace.overhead"] = statistics.median(pairs) - 1 if pairs else 0.0
    m["trace.account_err"] = acc_err
    m["trace.ops"] = float(len(warm))
    (run / "spans.json").write_text(json.dumps(spans))
    top3 = [{"rule": r.rsplit(".", 1)[-1], "ms": x[0] / 1e6 / n} for r, x in top[:3]]
    return dict(m), top3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / "src/main/scala/graft").is_dir():
        fail(f"engine sources not found under {ROOT}")
    e2e_units, layer_units = declared_metrics()
    wl = WORKLOADS[args.workload]
    cp = build()
    data = data_dir(wl["sf"])
    passes = benchlib.warm_passes(wl["pass_s"], args.seconds, args.trace)
    deadline = time.monotonic() + HANG_BASE_S + HANG_FACTOR * (wl["cold_s"] + passes * wl["pass_s"])
    run = BENCH / ".run" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    res = run_harness(args, wl, data, run, cp, passes, deadline)

    problems, fingerprints = check_outputs(res, data, run / "outputs", wl["sf"])
    timed = res["ops"]
    problems.update({o["name"]: o["error"] for o in timed if not o["ok"]})
    stream_bad = "stream_sessions" in problems

    def bad(o):
        return (not o["ok"] or o["name"] in problems
                or (stream_bad and o["name"].startswith("stream_batch")))
    failed = sum(1 for o in timed if bad(o))
    metrics, extra = end_to_end(res, timed, failed)
    per_query = {}
    for o in timed:
        if o["pass"] >= 1:
            per_query.setdefault(o["name"], []).append(o["ms"])
    artifact = {
        "config": dict(res["config"], workload=args.workload, seed=args.seed,
                       seconds=args.seconds, scale_factor=wl["sf"], heap=HEAP),
        "end_to_end": metrics, **extra,
        "passes": res["passes"],
        "query_median_ms": {k: statistics.median(v) for k, v in sorted(per_query.items())},
        "problems": problems,
        "fingerprints": fingerprints,
        "errors": sorted({f"{o['name']}: {o['error']}" for o in res["ops"] if not o["ok"]}),
    }
    if args.trace:
        layers, top3 = per_layer(res, run)
        artifact.update(per_layer=layers, top_rules=top3)
        out = reported(layers, layer_units, "per-layer")
    else:
        out = reported(metrics, e2e_units, "end-to-end")
    (run / "artifact.json").write_text(json.dumps(artifact, indent=1))
    shutil.rmtree(run / "outputs", ignore_errors=True)
    shutil.rmtree(run / "tmp", ignore_errors=True)
    shutil.rmtree(run / "local", ignore_errors=True)

    cfg = artifact["config"]
    print(f"workload {args.workload}: seed {args.seed}, sf {wl['sf']}, "
          f"{cfg['cores']} cores ({cfg['master']}), heap {HEAP}, Spark {cfg['spark_version']}, "
          f"{extra['warm_samples']} warm samples, artifact {run / 'artifact.json'}")
    for k, v in metrics.items():
        print(f"  {k:<20} {v:.4f} {e2e_units[k]}")
    print(f"  {'error_rate':<20} {extra['error_rate']:.4f} ratio ({failed}/{len(timed)})")
    if args.trace:
        print(f"  top rules: " + ", ".join(f"{r['rule']} {r['ms']:.1f} ms" for r in top3))
    for name, p in sorted(problems.items()):
        print(f"  FAILED {name}: {p}")
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
