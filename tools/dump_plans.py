"""Dump `.explain(formatted)` physical plans for the headline queries
into PLANS.md — reviewer-facing evidence that filters push down,
columns prune, joins broadcast, and windows use WindowGroupLimit.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
PLANS = os.path.join(REPO, "PLANS.md")

HEADLINERS = [
    "f1_canonicalize",
    "f2_admission",
    "f3_schedule",
    "q3_topk_revenue",
    "dd_minhash_buckets",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_arrow",
    "dd_jaccard",
    "dd_phash_neardup",
    "dd_embed_neardup",
    "c7_list_items",
    "m4_structural",
]

NOTES = {
    "f1_canonicalize": "scan-only: ReadSchema is the 2 source columns",
    "f2_admission": "cheap filters precede the anti-join; anti-join broadcasts the small seen-set side",
    "f3_schedule": "WindowGroupLimit (partial per-partition top-k) before the host-window exchange; TakeOrderedAndProject for the global budget",
    "q3_topk_revenue": "broadcast the filtered customer dim; TakeOrderedAndProject top-10",
    "dd_minhash_buckets": "single hash aggregate with 16 partial mins (map-side combine) then explode",
    "ann_cosine_topk": "query side broadcast; corpus never shuffles",
    "ann_ivf_topk": "IVF: cell assignment is a pure Project against literal centroids (zero corpus shuffle), probe list broadcast with the query vector riding along, WindowGroupLimit partial top-k",
    "ann_ivf_arrow": "IVF scale form (large-nlist shape): assignment + probes are ArrowEvalPython/mapInPandas against a BROADCAST centroid matrix — constant-size plan regardless of nlist (no literal expression tree to compile), corpus still never shuffles, same broadcast probe join + WindowGroupLimit",
    "dd_jaccard": "round-2 de-skew: token join keys bounded by the df<=100 cap (the cap join precedes the self-join), content tokens only — per-key fan-out provably <= cap^2",
    "dd_phash_neardup": "Manku block pigeonholing: C(6,3)=20 band keys/row packed by shift/or inside codegen, bucket equi-self-join is the only shuffle (~2^32 key space), bit_count(xor) verify",
    "dd_embed_neardup": "banded sign-bit LSH: bucket key space per band is 2^planes with planes = ceil(log2(N/target_bucket)) — bucket COUNT grows with the corpus, so the bucket equi-self-join's per-key fan-out stays bounded at any N (the round-2 fixed 256-bucket signature was O((N/256)^2)); exact cosine verifies candidates; no cartesian anywhere in the plan",
    "c7_list_items": "regexp_extract_all arrays zipped then one Generate (posexplode) — no UDF, codegen end to end",
    "m4_structural": "12 features in one ProjectExec inside WholeStageCodegen; max-norm is a scalar aggregate + BroadcastNestedLoopJoin of ONE row (not a window over the whole table)",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from crawler_spark import queries as Q
    from crawler_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    out = ["# PLANS — physical plans of headline queries", ""]
    out.append(
        "Generated by `tools/dump_plans.py` at sf0.01. What to look for: "
        "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning), "
        "`BroadcastHashJoin`/`BroadcastExchange` for dimension joins, "
        "`WindowGroupLimit` for rank-cap windows, `TakeOrderedAndProject` "
        "for global top-k, and `WholeStageCodegen` spans.\n"
    )
    for name in HEADLINERS:
        fn = Q.REGISTRY[name][0]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n_{NOTES.get(name, '')}_\n")
        out.append("```\n" + buf.getvalue().strip() + "\n```\n")
    # preserve evidence sections other tools APPEND to PLANS.md
    # (skew_evidence.py, bloom_evidence.py --plans): keep everything
    # from the first appended marker onward and re-attach it
    tail = ""
    try:
        old = open(PLANS).read()
        idxs = [
            i
            for i in (
                old.find("## Skewed-frontier evidence"),
                old.find("## F5 bloom path"),
            )
            if i != -1
        ]
        if idxs:
            tail = "\n" + old[min(idxs):]
    except FileNotFoundError:
        pass
    with open(PLANS, "w") as f:
        f.write("\n".join(out) + tail)
    print("wrote PLANS.md" + (" (+ preserved appended evidence)" if tail else ""))


if __name__ == "__main__":
    main()
