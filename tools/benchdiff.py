#!/usr/bin/env python3
"""Compare two bench JSON lines per query (old new -> sorted ratio table).

Usage: python3 tools/benchdiff.py BENCH_r04.json BENCH_r05.json [threshold]
       python3 tools/benchdiff.py --layers OLD/bench_layers.json NEW/bench_layers.json

--layers compares two `bench_layers.json` files (graft.Bench writes one
per run): for each (query, phase) shared by both, the minimum over
passes of wall_ms and the lower medians of jobs, tasks, cpu_ms and
shuffle_write_bytes, each as old -> new with the ratio, sorted by wall
delta (largest slowdown first). Records with "ok": false are listed
separately and left out.

Queries only in one file are listed separately; per-pass times (present
from round 5 on under "passes") are shown for flagged rows so a host
stall (one inflated pass) is distinguishable from a real regression
(all passes slow). Queries a side lists under "failed" (a pass threw;
older files have no such key) are printed and left out of the
shared-query comparison.
"""
import json, statistics, sys

LAYER_MEDIANS = ("jobs", "tasks", "cpu_ms", "shuffle_write_bytes")

def load_layers(p):
    """(query, phase) -> {"wall_ms": min, <LAYER_MEDIANS>: median}, and the
    failed (query, pass) records."""
    with open(p) as f:
        recs = json.load(f)
    failed = [(r["query"], r["pass"]) for r in recs if not r.get("ok")]
    by = {}
    for r in recs:
        if r.get("ok"):
            for phase in ("build", "run"):
                by.setdefault((r["query"], phase), []).append(r[phase])
    out = {}
    for k, phases in by.items():
        row = {"wall_ms": min(x["wall_ms"] for x in phases)}
        for m in LAYER_MEDIANS:
            row[m] = statistics.median_low(x[m] for x in phases)
        out[k] = row
    return out, failed

def layers_diff(old_path, new_path):
    (a, fa), (b, fb) = load_layers(old_path), load_layers(new_path)
    for tag, f in (("old", fa), ("new", fb)):
        if f:
            print(f"{tag} failed (left out): " +
                  ", ".join(f"{q} pass {n}" for q, n in sorted(f)))
    def cell(o, n):
        num = lambda x: f"{x:.1f}" if isinstance(x, float) else str(x)
        r = f"{n / o:.2f}x" if o else "-"
        return f"{num(o)}->{num(n)} ({r})"
    cols = ("wall_ms",) + LAYER_MEDIANS
    shared = sorted(set(a) & set(b), key=lambda k: -(b[k]["wall_ms"] - a[k]["wall_ms"]))
    print(f"{'query':18s} {'phase':5s} " + " ".join(f"{c:>26s}" for c in cols))
    for k in shared:
        print(f"{k[0]:18s} {k[1]:5s} " +
              " ".join(f"{cell(a[k][c], b[k][c]):>26s}" for c in cols))
    for tag, only in (("only old", set(a) - set(b)), ("only new", set(b) - set(a))):
        if only:
            print(f"{tag}: " + ", ".join(f"{q}/{ph}" for q, ph in sorted(only)))

if len(sys.argv) > 1 and sys.argv[1] == "--layers":
    if len(sys.argv) != 4:
        raise SystemExit("usage: benchdiff.py --layers OLD.json NEW.json")
    layers_diff(sys.argv[2], sys.argv[3])
    sys.exit(0)

def attach_passes(d, text):
    # from round 6 the per-pass detail is a separate preceding line
    # ({"detail":"per-pass",...,"times":{...}}, also bench_passes.json);
    # rounds ≤5 inlined it under "passes" in the main line
    if isinstance(d.get("passes"), dict):
        return d
    for line in text.splitlines():
        if '"detail":"per-pass"' in line and '{' in line:
            try:
                d["passes"] = json.loads(line[line.index('{'):]).get("times", {})
            except json.JSONDecodeError:
                pass
    return d

def load(p):
    with open(p) as f:
        text = f.read()
    # driver BENCH_r{N}.json wraps the bench line under "parsed"
    try:
        d = json.loads(text)
        if "queries" in d:
            return attach_passes(d, text)
        if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
            return attach_passes(d["parsed"], d.get("tail") or "")
        # driver files sometimes have parsed=null with the line inside "tail"
        if isinstance(d.get("tail"), str):
            text = d["tail"]
    except json.JSONDecodeError:
        pass
    import re
    m = [x for x in re.findall(r'\{"metric".*?"sf":"[^"]*"\}', text, re.S)]
    if m:
        return attach_passes(json.loads(m[-1]), text)
    for line in text.splitlines():
        line = line.strip()
        if line.startswith('{') and '"queries"' in line:
            return attach_passes(json.loads(line), text)
    raise SystemExit(f"no bench JSON found in {p}")

a, b = load(sys.argv[1]), load(sys.argv[2])
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
qa, qb = a["queries"], b["queries"]

# Stall self-classification (round 17): the bench's final line carries
# "mtst" (calib contention ratio, clean host ~1.0) and "stallp"
# (fraction of per-pass samples >= 1.5x their query's min). A window
# with mtst >= ~1.15 or stallp >= ~0.10 is contended — treat raw
# regressions there as suspect and re-run same-path A/Bs.
for tag, d in (("old", a), ("new", b)):
    if "stallp" in d or "mtst" in d:
        mtst, sp = d.get("mtst"), d.get("stallp")
        verdictbits = []
        if mtst is not None and mtst >= 1.15:
            verdictbits.append(f"mt contention (mtst={mtst})")
        if sp is not None and sp >= 0.10:
            verdictbits.append(f"episodic stalls (stallp={sp})")
        label = "CONTENDED: " + ", ".join(verdictbits) if verdictbits else "clean"
        print(f"{tag} window: mtst={mtst} stallp={sp} -> {label}")

# CPU calibration (present from round 7 under "calib"): normalize the
# comparison by the machines' speed ratio so host drift (same binary
# measuring 1.5-2x apart on different days) doesn't read as a
# whole-catalog regression. min-of-passes rejects per-pass steal.
#
# DUAL-CALIB BRACKET (round 15, from the round-14 verdict #4 lesson):
# a query's true host sensitivity sits between the single-thread rate
# (serial stages: scan heads, driver steps) and the 32-thread rate
# (parallel stages: shuffles, wide aggregates) — the round-14 session
# measured st 0.83x vs r13 while mt/st WORSENED 1.07->1.11, so the
# st-only normalization over-corrected and dozens of untouched queries
# "read" ~1.2x until manually A/B-exonerated. Instead of guessing a
# per-query blend, compute BOTH normalizations and flag a mover only
# when it is outside the threshold under BOTH (the conservative end of
# the bracket) — a row inside either bracket end is attributable to the
# host regime, not the code.
ca, cb = a.get("calib"), b.get("calib")
speed_st = speed_mt = 1.0
if ca and cb and ca.get("st") and cb.get("st"):
    speed_st = min(cb["st"]) / min(ca["st"])
    con_a = min(ca["mt"]) / min(ca["st"])
    con_b = min(cb["mt"]) / min(cb["st"])
    if ca.get("mt") and cb.get("mt"):
        speed_mt = min(cb["mt"]) / min(ca["mt"])
    else:
        speed_mt = speed_st
    print(f"calib: old st={min(ca['st']):.3f}s mt/st={con_a:.2f} | "
          f"new st={min(cb['st']):.3f}s mt/st={con_b:.2f} | "
          f"new machine st {speed_st:.2f}x / mt {speed_mt:.2f}x old — "
          f"ratio column is st-normalized, rmt is mt-normalized; "
          f"flags need BOTH >= {thr}")
    qb = {q: t / speed_st for q, t in qb.items()}
failed = set()
for tag, d in (("old", a), ("new", b)):
    if d.get("failed"):
        failed |= set(d["failed"])
        print(f"{tag} failed: " + ", ".join(d["failed"]))
shared = sorted((set(qa) & set(qb)) - failed, key=lambda q: -(qb[q] / max(qa[q], 1e-9)))
print(f"{'query':18s} {'old':>8s} {'new':>8s} {'ratio':>6s} {'rmt':>6s}")
for q in shared:
    r = qb[q] / max(qa[q], 1e-9)
    # qb is already st-normalized; rescale to the mt normalization
    r_mt = r * speed_st / speed_mt
    flag = " <-- " if min(r, r_mt) >= thr else ""
    passes = ""
    if flag and "passes" in b and q in b["passes"]:
        # per-pass times are normalized by the same st calib speed as
        # the min column so a flagged row's passes reconcile with its
        # displayed new/ratio values
        passes = " passes=" + ",".join(f"{t / speed_st:.1f}" for t in b["passes"][q])
        if speed_st != 1.0:
            passes += " (calib-normalized)"
    print(f"{q:18s} {qa[q]:8.2f} {qb[q]:8.2f} {r:6.2f} {r_mt:6.2f}{flag}{passes}")
only_a = sorted(set(qa) - set(qb) - failed)
only_b = sorted(set(qb) - set(qa) - failed)
if only_a:
    print("removed:", ", ".join(only_a))
if only_b:
    print("added:", ", ".join(f"{q} ({qb[q]:.2f}s)" for q in only_b))
sa = sum(qa[q] for q in shared)
sb = sum(qb[q] for q in shared)
ratio = f"{sb / sa:.2f}x" if sa > 0 else "n/a (no shared queries)"
print(f"shared-query totals: old {sa:.1f}s new {sb:.1f}s ({ratio}); "
      f"full totals: old {a['value']:.1f}s new {b['value']:.1f}s")
