#!/usr/bin/env python3
"""Driver-wall-lens check for config/code changes (OPTIMIZATION_r17 item 7).

Compares two BENCH_DETAIL.json files (same CPU count!) per-query and prints:
  - geomean speedup over ALL common queries
  - geomean speedup over the 24-query driver headline subset (the set
    PERF_rNN.json grades on)
  - calibration-normalized variants of both (divides each side's wall by
    its calibration_sec, so machine-day drift cancels)
  - the biggest regressions/improvements

Run this BEFORE committing any session-level config change; a config that
wins CPU on a few gates but loses driver-subset wall geomean is a
regression by the driver's ground truth (the round-16 lesson).

Usage: benchdiff.py BASELINE.json CANDIDATE.json [--top N]

Each file is a full run's BENCH_DETAIL.json or JSON line, or the JSON
line of a named run (`graft.Bench q_a q_b ...`; a file whose last line is
that JSON, such as a captured stdout, also reads). Full runs are compared
over all common queries and must both hold the 24 headline queries; when
either side is a named run, the comparison is query by query over the
named queries, and each of them must be on both sides. Exits 1, naming
the query, when a required query is missing from either file.
"""
import json
import math
import sys

HEADLINE = [
    "q_line", "q_line_bidir", "q_line_raw", "q_sankey", "q_widget_top",
    "q_gapfill", "q_rollup_reagg", "q_filter_dsl", "q_lpm_lookup",
    "q_topk_sketch", "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_clusters", "q_sim_topk", "q_sim_lsh", "q_sim_ivf",
    "q_text_stats", "q_lang_id", "q_tfidf_top", "q_decontam",
    "q_seq_pack", "q_pii_scrub", "q_multimodal",
]


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def load(path):
    """A bench JSON object: the whole file, else its last JSON line."""
    text = open(path).read()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        lines = [ln for ln in text.splitlines() if ln.startswith("{")]
        if not lines:
            raise
        return json.loads(lines[-1])


def is_named(run):
    """A named run's line carries neither the full run's detail pointer
    nor BENCH_DETAIL.json's per-rep maps."""
    return "detail" not in run and "worst" not in run


def compare_named(base, cand, bq, cq):
    """Query-by-query table over the named queries."""
    bj, cj = base.get("jobs", {}), cand.get("jobs", {})
    print(f"{'query':28s} {'baseline':>9s} {'candidate':>9s} {'speedup':>8s}  jobs")
    for q in sorted(set(bq) | set(cq)):
        jobs = f"{bj.get(q, '-')} -> {cj.get(q, '-')}" if q in bj or q in cj else ""
        print(f"  {q:26s} {bq[q]:9.3f} {cq[q]:9.3f}  x{bq[q] / cq[q]:6.2f}  {jobs}")
    speedups = [bq[q] / cq[q] for q in bq if cq[q] > 0]
    print(f"geomean speedup ({len(speedups)} named): {geomean(speedups):.3f}")
    slow = [q for q in bq if cq[q] > 0 and bq[q] / cq[q] < 0.9]
    print(f"regressed>10%: {len(slow)} {slow}")


def main():
    base_path, cand_path = sys.argv[1], sys.argv[2]
    top_n = int(sys.argv[sys.argv.index("--top") + 1]) if "--top" in sys.argv else 12
    base = load(base_path)
    cand = load(cand_path)
    bq, cq = base["queries"], cand["queries"]
    bcal, ccal = base.get("calibration_sec", 1.0), cand.get("calibration_sec", 1.0)
    named = is_named(base) or is_named(cand)
    # a named run must be compared on every query it names; a full run on
    # the headline set: a geomean over a subset silently leaves the
    # missing queries out
    required = sorted(set().union(*[r["queries"] for r in (base, cand) if is_named(r)])
                      if named else HEADLINE)
    missing = [(side, q) for side, qs in (("baseline", bq), ("candidate", cq))
               for q in required if q not in qs]
    if missing:
        kind = "named" if named else "headline"
        for side, q in missing:
            print(f"!! {kind} query {q} missing from {side}", file=sys.stderr)
        sys.exit(1)
    if named:
        compare_named(base, cand, {q: bq[q] for q in required},
                      {q: cq[q] for q in required})
        return
    common = sorted(set(bq) & set(cq))
    dropped = sorted(set(bq) - set(cq))
    if dropped:
        print(f"!! queries dropped from candidate: {dropped}")
    speedups = {q: bq[q] / cq[q] for q in common if cq[q] > 0}
    norm = {q: (bq[q] / bcal) / (cq[q] / ccal) for q in common if cq[q] > 0}
    head = [q for q in HEADLINE if q in speedups]
    print(f"baseline  {base_path}: total {base['value']:.1f}s cal {bcal:.3f}")
    print(f"candidate {cand_path}: total {cand['value']:.1f}s cal {ccal:.3f}")
    print(f"common queries: {len(common)}")
    print(f"geomean speedup (all):               {geomean(speedups.values()):.3f}")
    print(f"geomean speedup (driver 24-subset):  {geomean([speedups[q] for q in head]):.3f}")
    print(f"cal-normalized geomean (all):        {geomean(norm.values()):.3f}")
    print(f"cal-normalized geomean (24-subset):  {geomean([norm[q] for q in head]):.3f}")
    reg = sorted(speedups.items(), key=lambda kv: kv[1])[:top_n]
    imp = sorted(speedups.items(), key=lambda kv: -kv[1])[:top_n]
    print(f"\nworst {top_n} (speedup<1 = regression):")
    for q, s in reg:
        print(f"  {q:28s} {bq[q]:7.3f} -> {cq[q]:7.3f}  x{s:.2f}")
    print(f"\nbest {top_n}:")
    for q, s in imp:
        print(f"  {q:28s} {bq[q]:7.3f} -> {cq[q]:7.3f}  x{s:.2f}")
    n_reg = sum(1 for s in speedups.values() if s < 0.9)
    n_imp = sum(1 for s in speedups.values() if s > 1.1)
    print(f"\nregressed>10%: {n_reg}   improved>10%: {n_imp}")
    hreg = sum(1 for q in head if speedups[q] < 0.9)
    print(f"driver-subset regressed>10%: {hreg}/{len(head)}")


if __name__ == "__main__":
    main()
