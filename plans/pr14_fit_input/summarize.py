import json, statistics as st, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
mets = ["setup_s", "items_per_s", "latency_p50_s", "latency_tail_s", "ok_ratio", "retained_heap_mb"]
def val(r, m):
    v = r["res"]["metrics"][m]
    return v["value"] if isinstance(v, dict) else v
for wl in ("search", "fit"):
    rs = [r for r in rows if r["wl"] == wl]
    pairs = sorted({r["pair"] for r in rs})
    print(f"== {wl}: {len(pairs)} pairs; load (1/5/15 min) before each run: " +
          ", ".join(sorted({r['load_before'].split()[0] for r in rs})))
    for m in mets:
        p = [val(r, m) for r in rs if r["side"] == "parent"]
        c = [val(r, m) for r in rs if r["side"] == "change"]
        q = st.quantiles(p, n=4) if len(p) > 1 else [p[0]] * 3
        wins = 0
        for i in pairs:
            a = [val(r, m) for r in rs if r["pair"] == i and r["side"] == "parent"]
            b = [val(r, m) for r in rs if r["pair"] == i and r["side"] == "change"]
            if a and b:
                better_high = m in ("items_per_s", "ok_ratio")
                wins += (b[0] > a[0]) if better_high else (b[0] < a[0])
        mp, mc = st.median(p), st.median(c)
        print(f"{m:18s} parent med {mp:.4g} (IQR {q[2]-q[0]:.3g})  change med {mc:.4g}  "
              f"rel {((mc - mp) / mp if mp else 0):+.1%}  change better in {wins}/{len(pairs)}")
