#!/usr/bin/env python3
"""Build a round's two-decade scaling artifact (BENCH_SCALING_rNN.json):
the prior round's artifact carried forward, plus fresh sf1/sf10
measurements of the queries this round measured.

Every input is a file named on the command line, so re-running with the
same inputs reproduces the artifact byte-for-byte:

 - --prior: the previous BENCH_SCALING artifact. Its entries are
   carried forward unchanged (each keeps its own measured_round), and
   so is its capacity_twins block, if it has one.
 - --anchor: the sf0.1 bench artifact (bench_out.json) the new entries
   take their sf01 time from. It must be the one the round measured
   against: a later re-anchor changes the sf01 times.
 - --wave SF1 SF10 [STEADY]: bench artifacts of one measurement wave
   over MakeSf1's 10x/100x replication (repeatable). STEADY holds
   immediate sf10 re-runs of cold-transient queries; each such query
   keeps the minimum of its two sf10 times.
 - --note: the artifact's note, verbatim.

A query gets a fresh entry when it has an sf10 time in a wave and an
sf1 and anchor time. Exponents e = log10(t_hi / t_lo) per decade are
suppressed where the lower-scale time is under MIN_SEC; exp_decade2 >
1.1 lands in flagged_over_1.1 for a SURVEY 4.1 root-cause note.

Usage, from the repo root:
  python3 dev/make_scaling.py --round 15 --prior BENCH_SCALING_r14.json \\
      --anchor bench_out.json \\
      --wave bench_sf1_r15.json bench_sf10_r15.json bench_sf10_r15_steady.json \\
      --note "..." [--out BENCH_SCALING_r15.json]
"""
import argparse
import json
import math

MIN_SEC = 0.3


def load(path):
    with open(path) as f:
        return json.load(f)


def entry(t01, t1, sf10, steady, measured_round):
    t10 = min(sf10, steady) if steady is not None else sf10
    e = {
        "sf01": round(t01, 3),
        "sf1": round(t1, 3),
        "sf10": round(t10, 3),
        "ratio_01_to_1": round(t1 / t01, 2),
        "ratio_1_to_10": round(t10 / t1, 2),
        "measured_round": measured_round,
    }
    if t01 >= MIN_SEC:
        e["exp_decade1"] = round(math.log10(t1 / t01), 3)
    if t1 >= MIN_SEC:
        e["exp_decade2"] = round(math.log10(t10 / t1), 3)
    if steady is not None:
        e["sf10_first_run"] = round(sf10, 3)
        e["steady_state"] = True
    return e


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--prior", required=True)
    ap.add_argument("--anchor", required=True)
    ap.add_argument("--wave", nargs="+", action="append", required=True,
                    metavar="FILE", help="SF1 SF10 [STEADY]")
    ap.add_argument("--note", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    for w in args.wave:
        if len(w) not in (2, 3):
            ap.error(f"--wave takes SF1 SF10 [STEADY], got {w}")
    out_path = args.out or f"BENCH_SCALING_r{args.round:02d}.json"

    prior = load(args.prior)
    sf01 = load(args.anchor)["queries"]
    queries = dict(prior["queries"])
    measured = []
    for w in args.wave:
        sf1, sf10 = load(w[0])["queries"], load(w[1])["queries"]
        steady = load(w[2])["queries"] if len(w) == 3 else {}
        for q in sorted(sf10):
            if q not in sf01 or q not in sf1:
                continue
            queries[q] = entry(sf01[q], sf1[q], sf10[q], steady.get(q), args.round)
            measured.append(q)

    flagged = sorted(q for q, v in queries.items()
                     if v.get("exp_decade2", 0) > 1.1)
    out = {"data_ratio_per_decade": 10.0, "note": args.note}
    if "capacity_twins" in prior:
        out["capacity_twins"] = prior["capacity_twins"]
    out["flagged_over_1.1"] = flagged
    out["totals"] = {
        k: round(sum(v[k] for v in queries.values()), 1)
        for k in ("sf01", "sf1", "sf10")
    }
    out["queries"] = queries
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}: {len(queries)} queries, "
          f"{len(flagged)} flagged: {flagged}")
    for q in measured:
        print(f"  r{args.round} {q}: {queries[q]}")


if __name__ == "__main__":
    main()
