#!/usr/bin/env python3
"""Offline re-check of the bench sweep-health gate (r14, verdict item 6).

Applies the SAME thresholds as graft.tools.DiagCheck (the in-Bench gate
whose verdict ships in bench_out.json's "diag_check") to a
bench_diag.json file, and exits nonzero on failure — so the round
workflow can gate "commit the idle bench" on a machine check instead of
a human reading two JSON files.

Thresholds (documented in SURVEY section 6; sized from the healthy r13
record — early/late GC quartile means 16/17 ms, max storage 98 MB):
  - cleaner debt: mean per-query GC delta over the LAST quartile of the
    sweep must be <= 3x the FIRST quartile's mean + 200 ms slack;
  - leaked persist: no query may leave > 512 MB storage resident after
    its CacheScope.release.

r15 adds the canary-normalized round-over-round gate (verdict item 3):
bench_out.json's "shared" block carries the shared-query subtotal vs
the previous committed record (bench_prev.json) divided by the canary
machine factor; the normalized ratio must be <= 1.15. A missing block
(first round, or no prev snapshot) skips that gate.

Failed queries: bench_out.json's "failed" array lists every query that
threw in the sweep (Bench leaves it out of the timings); any entry fails
the check, so a crash can never pass as a fast sweep.

Usage: tools/diagcheck.py [bench_diag.json] [bench_out.json]
"""
import json
import sys

STORAGE_MAX_MB = 512
GC_LATE_FACTOR = 3.0
GC_LATE_SLACK_MS = 200.0
NORM_RATIO_MAX = 1.15
DISK_MAX_MB = 2048  # r15: ~2x ktruss_peel's documented 930 MB residue


def evaluate(diag):
    q = max(1, len(diag) // 4)
    early = [r["gc_ms"] for r in diag[:q]]
    late = [r["gc_ms"] for r in diag[-q:]]
    early_mean = sum(early) / len(early) if early else 0.0
    late_mean = sum(late) / len(late) if late else 0.0
    gc_ok = len(diag) < 8 or (
        late_mean <= GC_LATE_FACTOR * early_mean + GC_LATE_SLACK_MS)
    offenders = [(r["q"], r["storage_mb"]) for r in diag
                 if r["storage_mb"] > STORAGE_MAX_MB]
    offenders += [(r["q"], r["disk_mb"]) for r in diag
                  if r.get("disk_mb", 0) > DISK_MAX_MB]
    return gc_ok and not offenders, early_mean, late_mean, offenders


def check_normalized(out_path):
    """Returns (ok, message) for the canary-normalized gate."""
    try:
        out = json.load(open(out_path))
    except Exception:
        return True, "no bench_out.json — normalized gate skipped"
    shared = out.get("shared")
    if not shared:
        return True, "no shared block — normalized gate skipped"
    r = shared["normalized_ratio"]
    msg = (f"shared {shared['n']} queries: subtotal "
           f"{shared['subtotal']:.1f}s vs prev "
           f"{shared['prev_subtotal']:.1f}s, canary "
           f"{shared['canary_mean']:.2f}s vs prev "
           f"{shared['prev_canary_mean']:.2f}s -> normalized ratio "
           f"{r:.3f} (max {NORM_RATIO_MAX})")
    return r <= NORM_RATIO_MAX, msg


def check_failed(out_path):
    """Returns the queries bench_out.json lists as failed ([] if absent)."""
    try:
        out = json.load(open(out_path))
    except Exception:
        return []
    return out.get("failed") or []


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "bench_diag.json"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "bench_out.json"
    diag = json.load(open(path))
    ok, early, late, offenders = evaluate(diag)
    print(f"queries: {len(diag)}  gc early/late quartile means: "
          f"{early:.1f}/{late:.1f} ms  storage offenders: "
          f"{offenders if offenders else 'none'}")
    norm_ok, norm_msg = check_normalized(out_path)
    print(norm_msg)
    failed = check_failed(out_path)
    print(f"failed queries: {failed if failed else 'none'}")
    if not ok or not norm_ok or failed:
        print("DIAG CHECK FAILED: "
              + ("late-sweep GC accumulation (cleaner debt); "
                 if late > GC_LATE_FACTOR * early + GC_LATE_SLACK_MS
                 else "")
              + (f"leaked persist {offenders}; " if offenders else "")
              + ("normalized round-over-round inflation; "
                 if not norm_ok else "")
              + (f"failed queries {failed}" if failed else ""))
        sys.exit(1)
    print("diag check PASS")


if __name__ == "__main__":
    main()
