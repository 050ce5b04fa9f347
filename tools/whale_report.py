#!/usr/bin/env python3
"""Assemble WHALESCALE_r{N}.json from the two-decade whale runs.

Inputs (produced by the round-8 protocol):
  bench_detail.json                     canonical sf0.1 (3-rep minima)
  tmp/scale/whale10_cold_detail.json    sf10 cold full suite (reps=1)
  tmp/scale/whale10_warm_detail.json    sf10 warm re-probe of >10x-per-decade
                                        queries (reps=3, fresh JVM), optional
  tmp/scale/whale1_warm_detail.json     sf1 warm re-probe of the same set at
                                        the same HEAD (decade-1 warm), optional
  WHALESCALE_r07.json                   round-7 sf1 cold record (decade 1 cold)

The two-decade table reports, per query: sf0.1 sec, sf1 cold (r7 HEAD),
sf10 cold, decade-1 ratio (sf1/sf0.1), decade-2 ratio (sf10/sf1), and warm
ratios where re-probes exist. A query is flagged super-linear when its
WARM decade-2 ratio exceeds 10 (the whale.sh rule, applied per decade).
"""
import json, sys, os

ROUND = int(sys.argv[1]) if len(sys.argv) > 1 else 8

# Per-segment witness fields copied verbatim into the report so decade
# tables are self-adjudicating (VERDICT r8 item 4): the r8 sf10 cold pass
# ran at stage_ref 3.251 (6.3x quiet) and only prose recorded it.
WITNESS_FIELDS = ["sf", "reps", "errors", "cpu_ref_sec", "cpu_ref_mt_sec",
                  "mem_ref_sec", "mem_ref_mt_sec", "stage_ref_sec",
                  "cpu_ref_during", "mem_ref_during",
                  "isolated_mem_ref_during", "note"]


def load(path, key="queries"):
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        d = json.load(f)
    return d.get(key, {})


def witness(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        d = json.load(f)
    return {k: d[k] for k in WITNESS_FIELDS if k in d} or None


def main():
    sf01 = load("bench_detail.json")
    cold10 = load("tmp/scale/whale10_cold_detail.json")
    warm10 = load("tmp/scale/whale10_warm_detail.json")
    warm1 = load("tmp/scale/whale1_warm_detail.json")
    r7 = json.load(open("WHALESCALE_r07.json"))
    sf1 = dict(r7["queries_sf1"])
    # a16's sf1 entry predates its low-cardinality-window fix; r7 recorded
    # the post-fix reading separately.
    sf1["a16_group_deciles"] = r7["post_fix"]["a16_group_deciles_sf1_sec"]

    rows = {}
    over_d2_cold, over_d2_warm = [], []
    for q in sorted(cold10):
        c10, c1, c01 = cold10[q], sf1.get(q), sf01.get(q)
        if c10 is None or c10 < 0:
            continue
        row = {"sf01": c01, "sf1_cold_r7": c1, "sf10_cold": round(c10, 3)}
        if c1 and c1 > 0:
            row["decade2_cold_ratio"] = round(c10 / c1, 2)
            if c10 / c1 > 10:
                over_d2_cold.append(q)
        if c01 and c01 > 0 and c1:
            row["decade1_cold_ratio"] = round(c1 / c01, 2)
        if q in warm10:
            row["sf10_warm"] = warm10[q]
            base1 = warm1.get(q, c1)
            if base1 and base1 > 0:
                row["decade2_warm_ratio"] = round(warm10[q] / base1, 2)
                if warm10[q] / base1 > 10:
                    over_d2_warm.append(q)
        if q in warm1:
            row["sf1_warm_r8"] = warm1[q]
        rows[q] = row

    # Mechanized cold-flag adjudication (VERDICT r9 item 5): d10's 54.9 s
    # cold flag was adjudicated in r9 prose ("suite-position artifact, warm
    # flat"); emit the same cold-vs-warm verdict machine-readably for every
    # >10x-cold query, the way segment witnesses were mechanized in r9.
    # Warm probes are the adjudicator (the whale.sh rule): a fresh-JVM
    # 3-rep warm ratio <=10x per decade means the cold reading was suite
    # position / post-GC ContextCleaner churn, not a scale property.
    cold_flag_verdicts = []
    for q in sorted(over_d2_cold):
        row = rows[q]
        v = {"query": q,
             "decade2_cold_ratio": row.get("decade2_cold_ratio"),
             "sf10_cold": row.get("sf10_cold")}
        wr = row.get("decade2_warm_ratio")
        if wr is None:
            v["verdict"] = "UNADJUDICATED: no fresh-JVM warm re-probe at " \
                           "sf10 — run the warm panel before reading this flag"
        elif wr > 10:
            v["decade2_warm_ratio"] = wr
            v["verdict"] = (f"REAL-SCALE-CONCERN: persists warm at {wr}x/"
                            "decade — super-linear in the steady state")
        else:
            v["decade2_warm_ratio"] = wr
            v["verdict"] = (f"cold-slot-artifact: warm decade-2 ratio {wr}x "
                            "<= 10 — cold reading is suite position "
                            "(post-GC ContextCleaner churn / cold caches), "
                            "not a scale property")
        cold_flag_verdicts.append(v)

    tot01 = sum(v for v in sf01.values() if v and v > 0)
    tot1 = sum(v for v in sf1.values() if v and v > 0)
    tot10 = sum(v for v in cold10.values() if v and v > 0)
    out = {
        "round": ROUND,
        "harness": "graft.Bench cold reps=1 full suite at tmp/scale/sf10 "
                   "(tools/make_sf1.py 100: 60M lineitem / 10M events / "
                   "500k docs / 200k embeddings), then reps=3 warm re-probe "
                   "of every query >10x its decade-1 (sf1) cold time; sf1 "
                   "warm re-probes at the same HEAD where noted",
        "sf01_total_sec": round(tot01, 2),
        "sf1_total_sec_r7head": round(tot1, 2),
        "sf10_total_sec": round(tot10, 2),
        "decade1_total_ratio": round(tot1 / tot01, 2) if tot01 else None,
        "decade2_total_ratio": round(tot10 / tot1, 2) if tot1 else None,
        "errors": sum(1 for v in cold10.values() if v is not None and v < 0),
        "queries_over_10x_decade2_cold": sorted(over_d2_cold),
        "queries_over_10x_decade2_warm": sorted(over_d2_warm),
        "cold_flag_verdicts": cold_flag_verdicts,
        "segment_witness": {k: v for k, v in {
            "sf01_canonical": witness("bench_detail.json"),
            "sf10_cold": witness("tmp/scale/whale10_cold_detail.json"),
            "sf10_warm": witness("tmp/scale/whale10_warm_detail.json"),
            "sf1_warm": witness("tmp/scale/whale1_warm_detail.json"),
        }.items() if v},
        "two_decade_table": rows,
    }
    path = f"WHALESCALE_r{ROUND:02d}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}: d1 {out['decade1_total_ratio']}x, "
          f"d2 {out['decade2_total_ratio']}x, "
          f">10x-d2 cold: {len(over_d2_cold)}, warm: {len(over_d2_warm)}")


if __name__ == "__main__":
    main()
