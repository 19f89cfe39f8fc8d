#!/usr/bin/env python3
"""Cross-round bench comparison in CALIBRATED terms.

Usage: bench_compare.py OLD_BENCH.json NEW_BENCH.json

Raw per-query ratios conflate host weather with plan changes (r7->r8: a
uniform 1.78x on unchanged code). When both files carry a `calibration`
block (r9+), queries are compared through `queries_norm` (seconds divided
by that session's canonical-Spark-probe median); otherwise the raw ratio
is reported with a loud caveat. Prints the median ratio, the spread, and
the per-query tails.

When both files carry a `profile` map (graft.JobMetrics records), each
listed mover also shows its job count, shuffle bytes (read + write) and
driver-gap change, labelled "plan change" when the job count differs or
the shuffle bytes move by more than 1 % (compressed shuffle sizes jitter
with row order), and "same plan" otherwise: a same-plan mover moved with
host weather or driver-side code, not with the jobs it launched."""
import json, sys, statistics

def load(p):
    with open(p) as f:
        return json.load(f)

def norm_queries(d):
    if "queries_norm" in d:
        q = {k: v for k, v in d["queries_norm"].items() if v > 0}
        if q:  # all-(-1) queries_norm (failed probe) falls through to raw
            return q, True
    probe = d.get("calibration", {}).get("spark_probe_sec", -1)
    if probe and probe > 0:
        return {k: v / probe for k, v in d["queries"].items() if v > 0}, True
    return {k: v for k, v in d["queries"].items() if v > 0}, False

def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    oq, o_cal = norm_queries(old)
    nq, n_cal = norm_queries(new)
    calibrated = o_cal and n_cal
    if not calibrated:
        # never mix a normalized side with a raw side - fall back to raw
        # seconds for BOTH files
        oq = {k: v for k, v in old["queries"].items() if v > 0}
        nq = {k: v for k, v in new["queries"].items() if v > 0}
    shared = sorted(set(oq) & set(nq))
    if not shared:
        print("no shared queries"); return
    ratios = {k: nq[k] / oq[k] for k in shared if oq[k] > 0}
    med = statistics.median(ratios.values())
    mode = "CALIBRATED (normalized by each session's spark probe)" if calibrated \
        else "RAW (>=1 file lacks calibration; host drift NOT removed)"
    print(f"mode: {mode}")
    for f, d in (("old", old), ("new", new)):
        c = d.get("calibration")
        if c:
            print(f"{f}: spark_probe={c['spark_probe_sec']}s cpu_probe="
                  f"{c['cpu_probe_sec_before']}/{c['cpu_probe_sec_after']}s "
                  f"loadavg={c['loadavg_before']}->{c['loadavg_after']}")
    if len(ratios) >= 2:
        qs = statistics.quantiles(list(ratios.values()), n=10)
        print(f"shared queries: {len(shared)}  median ratio: {med:.3f}  "
              f"p10/p90: {qs[0]:.3f}/{qs[8]:.3f}")
    else:  # quantiles() raises below 2 data points
        print(f"shared queries: {len(shared)}  median ratio: {med:.3f}")
    worst = sorted(ratios.items(), key=lambda kv: -kv[1])[:8]
    best = sorted(ratios.items(), key=lambda kv: kv[1])[:8]
    op, np_ = old.get("profile"), new.get("profile")
    print("slowest-moving (new/old):")
    for k, r in worst: print(f"  {r:6.2f}x  {k}" + profile_delta(op, np_, k))
    print("fastest-moving (new/old):")
    for k, r in best: print(f"  {r:6.2f}x  {k}" + profile_delta(op, np_, k))

def profile_delta(op, np_, k):
    """Job, shuffle-byte and driver-gap change of query k, and its label;
    empty unless both files carry k's profile."""
    if not op or not np_ or k not in op or k not in np_:
        return ""
    o, n = op[k], np_[k]
    shuffle = lambda p: p["shuffle_read"] + p["shuffle_write"]
    dbytes = shuffle(n) - shuffle(o)
    moved = abs(dbytes) > 0.01 * max(shuffle(o), 1)
    label = "plan change" if n["jobs"] != o["jobs"] or moved else "same plan"
    return (f"  jobs {o['jobs']}->{n['jobs']}  shuffle {dbytes:+d} B"
            f"  driver gap {n['driver_gap_s'] - o['driver_gap_s']:+.3f} s  [{label}]")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
