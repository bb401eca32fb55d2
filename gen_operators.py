#!/usr/bin/env python
"""Generate OPERATORS.md from the query REGISTRY (VERDICT r4 item 8).

The coverage ledger used to be hand-maintained prose in SURVEY §8 and
drifted at least once; this script derives it mechanically — one row per
registered key with its check mode (oracle / rows-only), defining module
and tags — and `tests/test_registry_doc.py` pins OPERATORS.md ==
regenerated text so the ledger can never drift from the registry again.
Every column comes from the registry alone, so edits that only move code
inside a module leave the ledger unchanged.

Run from the repo root: `python gen_operators.py`.
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_REPO = os.path.dirname(os.path.abspath(__file__))


def render() -> str:
    from week3_2_practice_big_data__spark import REGISTRY

    lines = [
        "# Operator registry ledger (generated — do not edit)",
        "",
        "Generated by `gen_operators.py` from the live query REGISTRY;",
        "`tests/test_registry_doc.py` asserts this file is in sync. One row",
        "per registered key: check mode (`oracle` = DuckDB value-hash gate,",
        "`rows-only` = error/row-count/schema signal by design), the module",
        "that defines the builder, and its registry tags.",
        "",
    ]
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    lines += [
        f"**{len(REGISTRY)} keys: {n_oracle} oracle-checked, "
        f"{len(REGISTRY) - n_oracle} rows-only.**",
        "",
        "| key | check | module | tags |",
        "|---|---|---|---|",
    ]
    for key in sorted(REGISTRY):
        q = REGISTRY[key]
        module = inspect.unwrap(q.builder).__module__
        mode = "oracle" if q.oracle is not None else "rows-only"
        lines.append(f"| {key} | {mode} | {module} | {', '.join(q.tags)} |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    out = os.path.join(_REPO, "OPERATORS.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
