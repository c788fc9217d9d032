#!/usr/bin/env python3
"""Compare a local bench JSON line against prior-round BENCH artifacts.

Usage: python3 tools/bench_compare.py <new_bench.json>
Artifacts store the raw stdout tail (r2's is truncated mid-line), so
per-query times are regex-extracted and keys normalized to the qN prefix.
Both the reference artifacts AND the new line declare their key base via
"kb" (36 since round 6; digit-only base-36 keys like '10' = q36 make the
base unsniffable) and their per-query time scale via "qd" (10 since
round 7: integer deciseconds). load() honors both flags per artifact
(advisor r6: ignoring the ref's kb misattributed digit-only keys and
dropped letter-leading ones). Driver-side tooling only — not part of the
Spark library.
"""
import json
import re
import sys
from pathlib import Path

def norm(k, base=10):
    """Normalize any key generation to a bare decimal-number string:
    'q36_ngram' -> '36', 'q36' -> '36', '36' -> '36' (round-5 decimal
    keys), '10' -> '36' under base=36 (round-6+ keys, declared by the
    artifact's "kb":36 field — base-36 keys can be digits-only, so the
    base is never sniffed from key shape). The historical 'q' PREFIX is
    stripped only in the decimal generation: base-36 keys carry no
    prefix, and 'q' is itself the base-36 digit for 26."""
    k = k.split("_")[0]
    if base == 10:
        k = re.sub(r"^q", "", k)
    return str(int(k, base))


def catalog_names():
    """Sorted catalog query names, recovered from the repo sources —
    the decoding key for the v4 positional "qt" vector (Bench runs its
    timed loop in exactly this order). ASCII string sort matches
    Scala's."""
    names = set()
    for f in Path(__file__).resolve().parent.parent.glob(
            "src/main/scala/graft/queries/*.scala"):
        names.update(re.findall(r'"(q\d+_[a-z0-9_]+)"', f.read_text()))
    return sorted(names)


new = json.loads(Path(sys.argv[1]).read_text())
kb = int(new.get("kb", 10))
qd = int(new.get("qd", 1))
names = catalog_names()
positional = "qt" in new and new["qn"] == len(names)
if "qt" in new and not positional:
    # a SPARK_GRAFT_ONLY subset (or another checkout's catalog): the
    # positional vector cannot be named, but the keyed "queries" dict
    # can — it holds every successful query of a subset of <= qtop
    print(f"note: qn={new['qn']} != repo catalog {len(names)} — "
          f"using the keyed top-{new.get('qtop')} \"queries\" dict")
if positional:
    # v4 (round 8+): fixed-width-2 base-36 deciseconds, positional in
    # sorted-name order; "--" = failure; "qn" pins the length.
    # "zz" (1295 ds) is a SATURATION sentinel, not an exact reading —
    # Bench.enc2 caps at 129.5 s, so a 600 s catastrophe also encodes
    # as "zz"; decode it as ">= 129.5 s" and flag it. The true value
    # survives in the top-12 keyed "queries" dict when it ranks there.
    qt = new["qt"]
    assert len(qt) == 2 * new["qn"], "qt length does not match qn"
    nq = {}
    # saturated cells are LOWER BOUNDS, not readings — carry the flag
    # so every downstream comparison involving one is annotated instead
    # of silently treating ">= 129.5 s" as "= 129.5 s" (advisor r9)
    nq_sat = set()
    for i, name in enumerate(names):
        cell = qt[2 * i:2 * i + 2]
        if cell == "zz":
            nq_sat.add(norm(name, 10))
            print(f"note: {name} qt cell saturated — value is "
                  f">= {1295 / qd:.1f} s (check the keyed 'queries' dict)")
        nq[norm(name, 10)] = -1.0 if cell == "--" else int(cell, 36) / qd
else:
    nq = {norm(k, kb): (v / qd if v >= 0 else v)
          for k, v in new["queries"].items()}
    nq_sat = set()


def load(path, sat=None):
    """Extract per-query seconds from an artifact's stdout tail, scoped
    to the "queries":{...} block so flag/diagnostic fields ("kb", "b50",
    "st", ...) can't masquerade as base-36 query keys. v4 artifacts
    (round 8+) carry the full vector in "qt" instead — decoded
    positionally against the CURRENT repo's sorted catalog, which is
    only valid when the artifact was produced at a same-catalog
    checkout (the qn assert guards that). `sat` (a set, mutated) collects
    keys whose qt cell saturated at "zz" — lower bounds, not readings."""
    if sat is None:
        sat = set()
    try:
        tail = json.loads(Path(path).read_text()).get("tail", "")
    except Exception:
        return {}
    m = re.search(r'"kb":(\d+)', tail)
    base = int(m.group(1)) if m else 10
    m = re.search(r'"qd":(\d+)', tail)
    div = int(m.group(1)) if m else 1
    mqt = re.search(r'"qn":(\d+),"qt":"([0-9a-z-]+)"', tail)
    if mqt:
        names = catalog_names()
        qn, qt = int(mqt.group(1)), mqt.group(2)
        if len(names) != qn or len(qt) != 2 * qn:
            print(f"note: {path} is v4 with qn={qn} != repo catalog "
                  f"{len(names)} — skipping (decode needs its checkout)")
            return {}
        sat.update(norm(n, 10) for i, n in enumerate(names)
                   if qt[2*i:2*i+2] == "zz")
        return {norm(n, 10): (-1.0 if qt[2*i:2*i+2] == "--"
                              else int(qt[2*i:2*i+2], 36) / div)
                for i, n in enumerate(names)}
    # non-greedy up to the first '}' covers complete lines; a truncated
    # tail (r2) simply yields whatever pairs survived truncation
    m = re.search(r'"queries":\{([^}]*)', tail)
    blk = m.group(1) if m else tail
    pat = (r'"([0-9a-z]+)":(-?[0-9.]+)' if base == 36
           else r'"(q?\d+[a-z_]*)":(-?[0-9.]+)')
    out = {}
    for mm in re.finditer(pat, blk):
        try:
            out[norm(mm.group(1), base)] = float(mm.group(2)) / div
        except ValueError:
            pass
    return out


refs = []
for path, label in (("BENCH_r15.json", "r15"), ("BENCH_r07.json", "r7"),
                    ("BENCH_r06.json", "r6")):
    ref_sat = set()
    refs.append((load(path, ref_sat), ref_sat, label))

def mark(k, vals, sats):
    """Render a reading, with the saturation lower-bound marker."""
    return f">={vals[k]:.2f}" if k in sats else f"{vals[k]:.2f}"

print(f"total={new['value']}s  n={len(nq)}")
for ref, ref_sat, label in refs:
    common = [k for k in nq if k in ref and nq[k] >= 0 and ref[k] >= 0]
    if not common:
        print(f"vs {label}: no comparable queries")
        continue
    tn = sum(nq[k] for k in common)
    tr = sum(ref[k] for k in common)
    sat_common = [k for k in common if k in nq_sat or k in ref_sat]
    # a saturated cell on either side makes the totals/deltas bounds,
    # not point readings — say so instead of letting a >=129.5 s
    # catastrophe under-report as 129.5 s exactly (advisor r9)
    sat_note = (f"  [LOWER BOUNDS — saturated cells: "
                f"{','.join(sorted(sat_common))}]" if sat_common else "")
    print(f"vs {label}: {len(common)} common, new={tn:.1f}s {label}={tr:.1f}s "
          f"ratio={tn / tr:.2f}{sat_note}")
    worst = sorted(common, key=lambda k: nq[k] - ref[k], reverse=True)[:8]
    for k in worst:
        print(f"  {k}: {mark(k, ref, ref_sat)} -> {mark(k, nq, nq_sat)}")
print("slowest now:",
      sorted(nq.items(), key=lambda x: -x[1])[:10])
for extra in ("ingest_k", "ing0", "st", "sv", "stb", "lat"):
    if extra in new:
        print(extra, "=", new[extra])
