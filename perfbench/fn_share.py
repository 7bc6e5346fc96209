#!/usr/bin/env python3
"""Which curation queries spend their executor CPU in function code.

    python3 perfbench/fn_share.py

Runs the 26 curation candidates at sf0.1 (a cold, an untraced and a traced
warm pass) under Java Flight Recorder's method sampler at a 1 ms period, and
splits each query's executor-thread samples in the traced warm pass into
function work and the rest. A sample is function work when its stack holds
engine code (`graft.*`: the `graft.functions` module and UDF closures), a
Spark higher-order function over arrays or maps, or a typed imperative
aggregate (the object UDAFs and sketches); the rest is generated relational
code, scans, shuffle and sort. Prints one row per query, highest share
first. `curation_udf` takes the top of this list that fits its pass budget
(README.md, "Workloads"). Sampling slows the queries by a fifth or more, so
the times printed are not the workload's.
"""
import argparse
import collections
import os
import re
import shutil
import subprocess
import time
from pathlib import Path

import run as bench

CANDIDATES = [
    "dd_exact", "dd_minhash_lsh", "dd_simhash", "sim_cosine_topk", "sim_lsh_ann", "tx_stats",
    "ev_sliding_window", "ev_custom_sessionize", "fn_checksum", "fn_histogram_map",
    "spatial_distance_join", "dd_incremental_minhash", "spatial_polygon_join",
    "dd_minhash_clusters", "spatial_kdb_join", "dd_embedding_lsh", "pipe_corpus_curation",
    "dd_decontaminate", "pipe_pack_sequences", "dd_bloom_prefilter", "dd_url_canonical",
    "tx_perplexity", "dd_semdedup", "pipe_bpe_tokenize", "sim_bm25_topk", "dd_exact_substring"]

# Spark expression classes whose evaluation is function work
FUNCTION_CLASSES = {
    "HigherOrderFunction", "SimpleHigherOrderFunction", "ArrayTransform", "ArrayFilter",
    "ArrayAggregate", "ArrayExists", "ArrayForAll", "ArraySort", "ZipWith", "MapFilter",
    "TransformKeys", "TransformValues", "MapZipWith", "LambdaFunction", "NamedLambdaVariable",
    "ScalaUDF", "ScalaUDAF", "ScalaAggregator", "TypedImperativeAggregate"}
SPARK_EXPRS = "org.apache.spark.sql.catalyst.expressions."


def is_function_work(classes):
    return any(c.startswith("graft.") or (c.startswith(SPARK_EXPRS) and
               c.rsplit(".", 1)[-1].split("$")[0] in FUNCTION_CLASSES) for c in classes)


def sampler_settings(out):
    """The JDK's `profile` settings with the method sampler at 1 ms."""
    java_home = Path(shutil.which("java")).resolve().parent.parent
    s = (java_home / "lib/jfr/profile.jfc").read_text()
    i = s.index('<event name="jdk.ExecutionSample">')
    j = s.index("</event>", i)
    s = s[:i] + re.sub(r'<setting name="period"[^>]*>[^<]*</setting>',
                       '<setting name="period">1 ms</setting>', s[i:j]) + s[j:]
    out.write_text(s)
    return out


def samples(recording):
    """Yield (UTC time of day in ms, thread line, frame classes) of every
    method sample, streaming `jfr print` so a large recording stays small."""
    p = subprocess.Popen(["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth",
                          "128", str(recording)], stdout=subprocess.PIPE, text=True,
                         env=dict(os.environ, TZ="UTC"))
    ts, thread, frames = None, "", []
    for line in p.stdout:
        x = line.strip()
        if x.startswith("jdk.ExecutionSample"):
            if ts is not None:
                yield ts, thread, frames
            ts, thread, frames = None, "", []
        elif x.startswith("startTime ="):
            h, m, sec = x.split("=", 1)[1].strip().split(":")
            ts = (int(h) * 3600 + int(m) * 60 + float(sec)) * 1000
        elif x.startswith("sampledThread ="):
            thread = x
        elif x and not x.startswith(("state", "stackTrace", "]", "}", "...")):
            frames.append(x.split("(")[0].rsplit(".", 1)[0])
    if ts is not None:
        yield ts, thread, frames
    p.wait()


def main():
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    cp = bench.build()
    data = bench.data_dir(0.1)
    run = bench.BENCH / ".run" / "fn_share"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    rec = run / "samples.jfr"
    opts = [f"-XX:StartFlightRecording=filename={rec},settings={sampler_settings(run / 'sampler.jfc')}"]
    wl = {"sf": 0.1, "queries": CANDIDATES}
    res = bench.run_harness(argparse.Namespace(seed=1, trace=1), wl, data, run, cp, 2,
                            time.monotonic() + 3600, opts)
    traced = max(t["pass"] for t in res["traces"])
    windows = sorted((t["start"], t["end"], t["name"]) for t in res["traces"] if t["pass"] == traced)
    day = windows[0][0] // 86400000 * 86400000
    total, fn = collections.Counter(), collections.Counter()
    for ts, thread, classes in samples(rec):
        if "Executor task launch" not in thread:
            continue
        q = next((n for s, e, n in windows if s <= day + ts <= e), None)
        if q is not None:
            total[q] += 1
            fn[q] += is_function_work(classes)
    print(f"{'query':26} {'samples':>8} {'fn_share':>8}")
    for q in sorted(total, key=lambda q: -fn[q] / total[q]):
        print(f"{q:26} {total[q]:8d} {fn[q] / total[q]:8.2f}")
    print(f"{'all':26} {sum(total.values()):8d} {sum(fn.values()) / sum(total.values()):8.2f}")


if __name__ == "__main__":
    main()
