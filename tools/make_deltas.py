"""Generate BENCH/DELTAS_r{N}.md: per-query medians of this round's bench
run vs the previous recorded round, with renamed/merged-query awareness.

    python tools/make_deltas.py BENCH_r03.json <new_bench.json> BENCH/DELTAS_r04.md

Queries present only on one side are listed separately (registry
consolidation renames rather than regressions). Deltas >= +20% get a
placeholder attribution line for the author to fill in — an unexplained
slowdown must be explained or re-measured, never silently recorded
(VERDICT r2 #2 discipline).
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
# registry merge map (VERDICT r4 #7): old query name -> carrier query; keys
# starting with "_" are documentation
_MERGE_MAP_PATH = os.path.join(_ROOT, "BENCH", "merge_map.json")


def load(path: str) -> dict:
    """A bench record's compact line. Its ``queries`` hold the 12 headline
    queries only; when the line names a ``full_record`` that exists
    relative to the repo root, that archive's ``queries`` (the whole
    registry) replace them."""
    d = json.load(open(path))
    d = d["parsed"] if "parsed" in d else d
    full = d.get("full_record") and os.path.join(_ROOT, d["full_record"])
    if full and os.path.isfile(full):
        with open(full) as f:
            d = {**d, "queries": json.load(f)["queries"]}
    return d


def load_merge_map() -> dict[str, str]:
    try:
        with open(_MERGE_MAP_PATH) as f:
            return {k: v for k, v in json.load(f).items()
                    if not k.startswith("_")}
    except OSError:
        return {}


def main() -> None:
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    prev_p, new_p, out_p = sys.argv[1:4]
    prev, new = load(prev_p), load(new_p)
    pq, nq = prev.get("queries", {}), new.get("queries", {})
    merges = load_merge_map()
    shared = [k for k in nq if k in pq]
    only_new = [k for k in nq if k not in pq]
    only_prev = [k for k in pq if k not in nq]

    lines = [
        f"# BENCH deltas — {new_p} vs {prev_p}",
        "",
        f"Suite wall: {prev.get('value')}s -> {new.get('value')}s; "
        f"flagship: {prev.get('images_per_sec', '?')} -> "
        f"{new.get('images_per_sec', '?')} img/s.",
        "",
        "| query | prev | new | delta | attribution |",
        "|---|---|---|---|---|",
    ]
    for k in shared:
        a, b = pq[k], nq[k]
        pct = (b - a) / a * 100 if a else float("inf")
        attr = "" if pct < 20 else "TODO: explain or re-measure"
        lines.append(f"| {k} | {a:.2f} | {b:.2f} | {pct:+.0f}% | {attr} |")
    if only_new:
        lines += ["", "## New this round (no prior number)", ""]
        absorbed = {}
        for old, carrier in merges.items():
            if carrier in only_new and old in pq:
                absorbed.setdefault(carrier, []).append(old)
        for k in only_new:
            note = (f" — merged carrier of {', '.join(sorted(absorbed[k]))} "
                    f"(per BENCH/merge_map.json; prior combined "
                    f"{sum(pq[o] for o in absorbed[k]):.2f}s)"
                    if k in absorbed else "")
            lines.append(f"- {k}: {nq[k]:.2f}s{note}")
    if only_prev:
        lines += ["", "## Dropped/renamed since the prior round", ""]
        for k in only_prev:
            note = (f" — merged into {merges[k]} per BENCH/merge_map.json"
                    if k in merges else "")
            lines.append(f"- {k} (was {pq[k]:.2f}s){note}")
    open(out_p, "w").write("\n".join(lines) + "\n")
    print(f"wrote {out_p}: {len(shared)} shared, {len(only_new)} new, "
          f"{len(only_prev)} dropped")


if __name__ == "__main__":
    main()
