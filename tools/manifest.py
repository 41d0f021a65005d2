"""Generate OPERATORS.md — the registry manifest — from the live registry.

Hand-maintained operator counts drifted twice in round 3 (reconciled in two
follow-up commits); a 570-query registry needs a generated index, not hand
arithmetic. This emits one table row per registered query: id, defining
path::qualname, tier (H = DuckDB-oracle hash-checked, R = rows-only), family
(the defining module), and the first docstring sentence as a one-liner.

Usage:
    python -m tools.manifest            # rewrite OPERATORS.md
    python -m tools.manifest --check    # exit 1 if OPERATORS.md is stale
"""

from __future__ import annotations

import argparse
import inspect
import sys
from collections import Counter
from pathlib import Path

from hive_processor_spark import oracles, queries

OUT = Path(__file__).resolve().parent.parent / "OPERATORS.md"


def _one_liner(fn) -> str:
    doc = inspect.getdoc(fn) or ""
    first = doc.split("\n\n")[0].replace("\n", " ").strip()
    # first sentence, bounded
    for stop in (". ", ".) ", "; "):
        cut = first.find(stop)
        if 0 < cut < 160:
            first = first[: cut + 1]
            break
    if len(first) > 160:
        first = first[:157] + "..."
    return first.replace("|", "\\|")


def _where(fn) -> str:
    # path::qualname, not path:line — a line anchor goes stale on every
    # edit above the operator
    mod = sys.modules[fn.__module__]
    rel = Path(mod.__file__).resolve().relative_to(OUT.parent)
    return f"{rel}::{fn.__qualname__}"


def render() -> str:
    qs, ors = queries(), oracles()
    rows = []
    fam_counter: Counter[str] = Counter()
    for name in sorted(qs):
        fn = qs[name]
        family = fn.__module__.rsplit(".", 1)[-1]
        tier = "H" if name in ors else "R"
        fam_counter[family] += 1
        rows.append((name, family, tier, _where(fn), _one_liner(fn)))
    n_h = sum(1 for r in rows if r[2] == "H")
    n_r = len(rows) - n_h

    lines = [
        "# OPERATORS — generated registry manifest",
        "",
        "<!-- GENERATED by `python -m tools.manifest` — do not edit by hand. -->",
        "",
        f"**{len(rows)} registered queries** — {n_h} Tier-H (DuckDB-oracle "
        f"hash-checked) + {n_r} Tier-R (rows-only by design) across "
        f"{len(fam_counter)} modules.",
        "",
        "## Per-module counts",
        "",
        "| module | queries |",
        "|---|---|",
    ]
    for fam, n in sorted(fam_counter.items()):
        lines.append(f"| {fam} | {n} |")
    lines += [
        "",
        "## Registry",
        "",
        "| id | module | tier | where | summary |",
        "|---|---|---|---|---|",
    ]
    for name, family, tier, where, summary in rows:
        lines.append(f"| `{name}` | {family} | {tier} | {where} | {summary} |")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    text = render()
    if args.check:
        if not OUT.exists() or OUT.read_text() != text:
            print("OPERATORS.md is stale — run `python -m tools.manifest`")
            return 1
        print("OPERATORS.md is current")
        return 0
    OUT.write_text(text)
    qs, ors = queries(), oracles()
    print(f"wrote {OUT} ({len(qs)} queries, {len(ors)} oracles)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
