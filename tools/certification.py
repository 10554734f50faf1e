#!/usr/bin/env python3
"""Generate CERTIFICATION.md — the per-op certification ledger.

One row per registered op: which round (if any) produced its latest green
driver CORRECTNESS row, whether its latest driver row is red, or whether it
has never been inside a driver window. This replaces archaeology across the
CORRECTNESS_r*.json artifacts. The table is in the walk order the ledger
implies (``registry.walk_order``), so the next window is its first 50 rows.
Regenerate it whenever a new CORRECTNESS_r*.json lands.

Usage:
    python tools/certification.py            # rewrite CERTIFICATION.md
    python tools/certification.py --check    # exit 1 if the file is stale
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from australis_indexer_spark.registry import (  # noqa: E402
    collect_rows,
    load_all,
    walk_order,
    walk_tier,
)

WINDOW = 50  # ops the driver certifies per round


def covered_rounds() -> int:
    """Highest round number among the artifacts present right now."""
    return max(
        (r for rows in collect_rows().values() for r, _, _ in rows), default=0
    )


def _window_plan(walk: list[str], hist: dict, max_round: int) -> list[str]:
    """The next window's make-up: how many of its slots come from each
    walk tier (0 = never driver-seen or red-latest)."""
    counts = sorted(Counter(walk_tier(hist.get(n)) for n in walk[:WINDOW]).items())
    parts = [
        f"{c} {f'r{t} greens' if t else 'never-seen or red-latest'}"
        for t, c in counts
    ]
    stalest = f"r{counts[0][0]}" if counts and counts[0][0] else "no green evidence"
    return [
        f"- **r{max_round + 1} window = walk slots 1-{min(WINDOW, len(walk))}**: "
        + ", ".join(parts) + ".",
        f"- Stalest evidence: {stalest}. The walk sorts ops by the round of",
        "  their latest driver row if it is green, else 0, then by name",
        "  (`registry.walk_order`).",
    ]


def render(max_round: int | None = None) -> str:
    if max_round is None:
        max_round = covered_rounds()
    hist = collect_rows(max_round)
    walk = walk_order(load_all(), max_round)

    lines: list[str] = []
    n_green = n_red = n_never = 0
    for i, name in enumerate(walk, 1):
        rows = hist.get(name, [])
        greens = [r for r, g, _ in rows if g]
        if not rows:
            status, detail = "never-driver-seen", "—"
            n_never += 1
        elif rows[-1][1]:
            status = "green"
            detail = f"r{rows[-1][0]}" + (
                f" (first r{greens[0]})" if greens and greens[0] != rows[-1][0] else ""
            )
            n_green += 1
        else:
            status = "RED-latest"
            detail = f"r{rows[-1][0]} {rows[-1][2]}".strip() + (
                f"; last green r{greens[-1]}" if greens else ""
            )
            n_red += 1
        lines.append(f"| {i} | `{name}` | {status} | {detail} |")

    total = len(walk)
    out = [
        "# CERTIFICATION — driver correctness ledger",
        "",
        f"Covers driver artifacts through round {max_round}.",
        "",
        "Generated by `tools/certification.py` from the driver's",
        "`CORRECTNESS_r*.json` artifacts, in the walk order they imply.",
        "`green` = the op's LATEST driver row matched the DuckDB oracle",
        "(rows + schema + value hash; `rows_only` when no oracle was",
        "registered that round). `RED-latest` = the op has a driver row and",
        "the most recent one failed. `never-driver-seen` = the ~50-op",
        "per-round window has not yet reached the op; its only evidence is",
        "the local diffcheck sweep (see DIFFCHECK_r11.txt).",
        "",
        f"**Totals: {total} registered ops — {n_green} green, "
        f"{n_red} red-latest, {n_never} never driver-seen.** "
        f"The order below IS the driver's walk order: the next window "
        f"certifies the first {WINDOW} rows (stalest driver evidence first).",
        "",
        "## Window plan",
        "",
        *_window_plan(walk, hist, max_round),
        "",
        "| # | op | latest driver status | round |",
        "|---|---|---|---|",
        *lines,
        "",
    ]
    return "\n".join(out)


def main() -> int:
    target = os.path.join(REPO, "CERTIFICATION.md")
    content = render()
    if "--check" in sys.argv:
        on_disk = open(target).read() if os.path.exists(target) else ""
        if on_disk != content:
            print("CERTIFICATION.md is stale — regenerate with tools/certification.py")
            return 1
        print("CERTIFICATION.md is current")
        return 0
    with open(target, "w") as f:
        f.write(content)
    print(f"wrote {target}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
