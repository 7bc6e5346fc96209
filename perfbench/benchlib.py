"""Pure helpers of the benchmark: seeded inputs, percentiles, interval
unions, span accounting and result fingerprints. `test_benchlib.py` pins
each rule."""
import hashlib
import math

import numpy as np
import pandas as pd


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def warm_passes(nominal_pass_s, seconds, trace):
    """Fewest warm passes whose nominal time covers `seconds`; a traced run
    needs an odd count of at least three (untraced, traced, untraced, ...)."""
    n = max(1, math.ceil(seconds / nominal_pass_s))
    return max(3, n | 1) if trace else n


def pass_orders(n_queries, seed, n_passes):
    """Seeded query order of every pass: pass p runs permutation p."""
    rng = np.random.default_rng([seed, 0x0DE5])
    return [rng.permutation(n_queries).tolist() for _ in range(n_passes)]


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def union_len(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def account(start, end, build, phases, jobs):
    """Split one operation's wall time into disjoint parts.

    Jobs come first, then planning phases not covered by a job, then the
    build time not covered by either; the driver gap is what no span covers.
    Jobs are merged as a union because adaptive execution runs jobs
    concurrently — summing them double-counts and can make the gap negative.
    Returns a dict of milliseconds whose parts sum to the wall time.
    """
    jobs = clip(jobs, start, end)
    phases = clip(phases, start, end)
    build = clip([build], start, end)
    job_u = union_len(jobs)
    plan_job = union_len(phases + jobs)
    covered = union_len(build + phases + jobs)
    wall = end - start
    return {
        "wall_ms": wall,
        "jobs_union_ms": job_u,
        "plans_self_ms": plan_job - job_u,
        "build_self_ms": covered - plan_job,
        "driver_gap_ms": wall - covered,
    }


def split_stream(events, seed, n_files):
    """Seeded replay of the events table as stream files.

    The seed picks the file boundaries (files stay in event-time order, as
    a source delivers them), the later file each redelivered copy of every
    7th event lands in, and the row order inside each file. Returns a list
    of DataFrames in arrival order.
    """
    rng = np.random.default_rng([seed, 0x57EA])
    ev = events.sort_values("ts", kind="stable").reset_index(drop=True)
    cuts = np.sort(rng.choice(np.arange(1, len(ev)), n_files - 1, replace=False))
    bounds = np.concatenate([[0], cuts, [len(ev)]])
    file_of = np.searchsorted(bounds, np.arange(len(ev)), side="right") - 1
    redo = np.flatnonzero(ev["event_id"].to_numpy() % 7 == 0)
    redo_to = rng.integers(file_of[redo], n_files)
    files = []
    for i in range(n_files):
        part = pd.concat([ev.iloc[bounds[i]:bounds[i + 1]], ev.iloc[redo[redo_to == i]]])
        files.append(part.iloc[rng.permutation(len(part))].reset_index(drop=True))
    return files


def fingerprint(df, canon):
    """Order-insensitive digest of a result frame: floats rounded to 6
    decimals (absorbs summation-order noise), -0.0 folded into 0.0, then
    the oracle checker's canonical form rendered as CSV."""
    df = df.copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6) + 0.0
    body = canon(df).to_csv(index=False, float_format="%.6f")
    return hashlib.sha256(body.encode()).hexdigest()
