#!/usr/bin/env python3
"""Build BENCH_ANCHOR_r{N}.json from two same-session Bench sweeps.

Replicates the r14 anchor recipe (BASELINE.md "Round-14 anchor"):
the per-query minima ENVELOPE over two full sweeps (A, B), each
min-of-3 warm passes after the sf0.001 JIT warm-up, sf0.1, local[32],
a forced GC after every pass. Inputs are the two sweeps' BENCH_DETAIL
sidecars; their rows must carry `family` (sidecars written before the
families came from SparkEntry do not).

Usage: make_anchor.py <round> <detail_A.json> <detail_B.json> <out.json>
"""
import json
import sys


def main() -> None:
    rnd, a_path, b_path, out = sys.argv[1:5]
    a = json.load(open(a_path))
    b = json.load(open(b_path))
    rows_a = {r["name"]: r for r in a["rows"]}
    rows_b = {r["name"]: r for r in b["rows"]}
    if rows_a.keys() != rows_b.keys():
        raise SystemExit(
            f"sweep query sets differ: {sorted(set(rows_a) ^ set(rows_b))}")
    for name, r in list(rows_a.items()) + list(rows_b.items()):
        if r["failed_passes"]:
            raise SystemExit(f"{name} had failed passes — not anchorable")

    queries = {n: round(min(rows_a[n]["min_s"], rows_b[n]["min_s"]), 3)
               for n in sorted(rows_a)}
    total = round(sum(queries.values()), 3)
    control = round(sum(v for n, v in queries.items()
                        if int(n[1:n.index("_")]) <= 30), 3)

    # each detail row names its defining object (SparkEntry.families)
    family = {n: r["family"] for n, r in rows_a.items()}
    drift = sorted(n for n, r in rows_b.items() if r["family"] != family[n])
    if drift:
        raise SystemExit(f"sweeps disagree on the family of {drift}")
    families = {}
    for n, v in queries.items():
        families[family[n]] = round(families.get(family[n], 0.0) + v, 3)

    anchor = {
        "round": int(rnd),
        "methodology": (
            "per-query envelope (min) over two same-code sweeps in one "
            "session, each min-of-3 warm passes after sf0.001 JIT warm-up, "
            "sf0.1, local[32], GC after every pass; per-pass times recorded per query"),
        "n_queries": len(queries),
        "total_min_s": total,
        "control_q01_q30_s": control,
        "sweep_totals_s": {"A": a["total_min_s"], "B": b["total_min_s"]},
        "sweep_controls_s": {"A": a["control_q01_30_s"],
                             "B": b["control_q01_30_s"]},
        "families": dict(sorted(families.items())),
        "queries": queries,
        "evidence_passes": {n: {"A": rows_a[n]["passes_s"],
                                "B": rows_b[n]["passes_s"]}
                            for n in sorted(rows_a)},
    }
    with open(out, "w") as f:
        json.dump(anchor, f, indent=None, separators=(",", ":"))
        f.write("\n")
    print(f"anchor: {len(queries)} queries, total {total} s, "
          f"control {control} s -> {out}")


if __name__ == "__main__":
    main()
