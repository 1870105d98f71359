#!/usr/bin/env python3
"""Ratio-edge re-time protocol (r17, VERDICT r16 #2) — stop the 2x-bar
flap the same way r16's bar-adjacent protocol stopped the 100 ms
denominator flap.

The weak-set rule is "warm ratio > 2x with DuckDB median >= 100 ms", and
both sides drift: adjacent DuckDB runs minutes apart read q73 at 314 vs
200 ms, and Spark walls move inside their ledgered bands. Rows whose
first-pass ratio lands within the EDGE BAND (1.8x-2.2x) therefore enter
and leave the weak set on session noise with zero information content
(q89/q41/q19b/q19 in r16). Under this protocol such rows are re-timed
5-run ON BOTH SIDES and classified on those medians:

  phase 1:  ratio_edge.py duck.json med.json --verify-out OUT --sf SF
            -> re-times the DuckDB side 5-run in-process (same adjacency
               discipline as dev/baseline.py) and writes duck5 medians.
  phase 2:  ratio_edge.py duck.json med.json --duck5 duck5.json
            -> emits the final classification: confirmed_weak (ratio on
               the stabilized medians > 2x) or out (<= 2x). Rows OUTSIDE
               the edge band keep their first-pass classification.

The SPARK side of the stabilized ratio is med.json itself — the
cross-window per-query median, which for a 3-quiet-window session is
already a 9-rep quiet median (win_median.py). A focused re-window of
just the edge rows is not a substitute: measured r17, a 5-query window
inflates the same rows' walls systematically (+40-95%; q61 247 ms
stable across three full windows vs 365/484 in two focused runs
back-to-back) — the small window's shape, not the query, dominates.

The band is +-10% of 2.0x; the bar rule (duck >= 100 ms) still gates
membership, using the 5-run duck median once available.
"""
import sys, os, json, time, statistics, argparse

EDGE_LO, EDGE_HI = 1.8, 2.2
BAR = 0.100
REPS = 5

def duck_retime(names, verify_out, sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(verify_out, "oracle_sql.json")))
    missing = [n for n in names if n not in oracle]
    if missing:
        # a stale catalog is a CONFIGURATION error, not a flaky rep —
        # fail loudly instead of minting sentinels that silently keep
        # the first-pass numbers forever
        sys.exit(f"ratio_edge.py: no oracle SQL for {missing} — "
                 "regenerate verify_out (run graft.Verify) first")
    out = {}
    for name in names:
        ts = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            try:
                con.execute(oracle[name]).fetchall()
            except Exception:
                # the baseline.py sentinel rule: a flaky rep must not
                # abort the phase and discard every completed median
                ts = [-1.0]
                break
            ts.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(ts), 4)
    return out

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("duck"); ap.add_argument("med")
    ap.add_argument("--verify-out"); ap.add_argument("--sf")
    ap.add_argument("--duck5")
    a = ap.parse_args()
    if bool(a.verify_out) != bool(a.sf):
        ap.error("--verify-out and --sf must be given together (phase 1)")
    duck = json.load(open(a.duck)); med = json.load(open(a.med))
    edge = sorted(q for q in med if q in duck and duck[q] >= BAR * 0.7
                  and duck[q] > 0
                  and EDGE_LO <= med[q] / duck[q] <= EDGE_HI)
    if not edge:
        print(json.dumps({"edge": [], "note": "no rows in the 1.8-2.2x band"}))
        return
    if a.duck5:
        duck5 = json.load(open(a.duck5))
        if "duck5" in duck5: duck5 = duck5["duck5"]  # phase-1 output file
        # spark side: the cross-window median (see docstring)
        verdicts = {}
        for q in edge:
            d, s = duck5.get(q, duck[q]), med[q]
            retime_failed = d < 0
            if retime_failed:
                d = duck[q]  # failed 5-run re-time keeps the first pass
            r = s / d if d > 0 else float("inf")
            verdicts[q] = {
                "first_pass": round(med[q] / duck[q], 2),
                "duck5": d, "spark5": s, "ratio5": round(r, 2),
                "class": ("below_bar" if d < BAR else
                          "confirmed_weak" if r > 2.0 else "out")}
            if retime_failed:
                # visible in the ledgered artifact: this row's verdict
                # rests on first-pass numbers, the stabilized rule
                # never actually ran for it
                verdicts[q]["retime_failed"] = True
        print(json.dumps({"edge": edge, "verdicts": verdicts}, indent=1))
    elif a.verify_out and a.sf:
        duck5 = duck_retime(edge, a.verify_out, a.sf)
        print(json.dumps({"edge": edge, "duck5": duck5}, indent=1))
    else:
        print(json.dumps({"edge": edge}))

if __name__ == "__main__":
    main()
