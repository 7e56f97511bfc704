#!/usr/bin/env python3
"""Derive the SURVEY §8 close numbers MECHANICALLY from a BENCH_FULL.json.

The r14 and r15 verdicts both flagged the same failure: the close section's
prose was written from an internal (pre-close or solo) run and understated
the driver's official artifact. This script is the fix — the §8 close quotes
THIS output, byte-for-byte, so the status can never drift from the file.

Usage: python3 tools/bench_summary.py [BENCH_FULL.json]

Prints: total, query count, per-query mean/median/p90, spill total, classes
compiled in the timed calls, Spark jobs in the timed calls, and the full
>2.5×-solo outlier list (official vs solo_median), ready to paste.
"""
import json
import sys


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_FULL.json"
    with open(path) as f:
        b = json.load(f)
    q = {k: v for k, v in b["queries"].items() if v >= 0}
    failed = sorted(k for k, v in b["queries"].items() if v < 0)
    ts = sorted(q.values())
    n = len(ts)
    total = sum(ts)
    median = ts[n // 2]
    p90 = ts[int(n * 0.9)]
    spill = sum(b.get("spill_bytes", {}).values())
    solo = b.get("solo_median", {})
    outliers = sorted(
        ((k, q[k], solo[k]) for k in solo
         if solo[k] > 0 and q.get(k, -1) > 2.5 * solo[k]),
        key=lambda t: -t[1] / t[2])
    steady = b.get("steady_total",
                   sum(min(v, solo[k]) if solo.get(k, -1) > 0 else v
                       for k, v in q.items()))
    unadj = b.get("unadjudicated_outliers", None)
    print(f"file: {path} (sf={b.get('sf', '?')})")
    print(f"total: {total:.1f} s / {n} queries "
          f"({total / n:.2f} s/q, median {median:.2f} s, p90 {p90:.2f} s)")
    print(f"steady_total (self-adjudicated, = sum of min(in-pass, solo)): "
          f"{steady:.1f} s")
    print(f"unadjudicated_outliers: "
          f"{unadj if unadj is not None else 'not in artifact (pre-r18)'}")
    print(f"spill_bytes total: {spill}")
    compiled = b.get("codegen_classes")
    if compiled is None:
        print("codegen_classes total: not in artifact")
    else:
        recompiling = sum(1 for v in compiled.values() if v > 0)
        print(f"codegen_classes total: {sum(compiled.values())} "
              f"({recompiling} of {len(compiled)} queries compiled in "
              f"their timed call)")
    jobs = b.get("jobs")
    if jobs is None:
        print("jobs total: not in artifact")
    else:
        many = sum(1 for v in jobs.values() if v > 10)
        print(f"jobs total: {sum(jobs.values())} ({many} of {len(jobs)} "
              f"queries ran more than 10 jobs in their timed call)")
    print(f"failed (-1): {failed if failed else 'none'}")
    print(f"solo_median coverage: {len(solo)} queries")
    cpu = b.get("cpu_ms", {})
    cached = b.get("cached_delta_kb", {})
    rd = b.get("disk_read_bytes", {})
    if outliers:
        print(f"in-pass outliers >2.5x their own solo median: {len(outliers)}")
        for k, official, s in outliers:
            extra = ""
            if k in cpu and cpu[k] >= 0:
                # wall >> own-JVM CPU with small disk reads = starved by
                # load outside this JVM; big negative cached delta =
                # page-cache eviction under the query
                extra = (f" [cpu {cpu[k] / 1000:.1f}s"
                         f", cached_delta {cached.get(k, 0) / 1024:.0f}MB"
                         f", disk_read {rd.get(k, 0) / 1e6:.0f}MB]")
            print(f"  {k}: {official:.1f} s official vs {s:.1f} s solo "
                  f"({official / s:.1f}x){extra}")
    else:
        print("in-pass outliers >2.5x their own solo median: none")


if __name__ == "__main__":
    main()
