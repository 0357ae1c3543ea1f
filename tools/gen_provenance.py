#!/usr/bin/env python
"""Generate PROVENANCE.md — per-query correctness provenance, machine-joined
from the live registry × every driver CORRECTNESS_r*.json on record.

Each registered query gets the strongest verdict it has ever earned:

- ``driver hash, rN``      — rows+schema+value-hash all matched the DuckDB
                             oracle in the driver's round-N gate (N = the
                             latest such round);
- ``driver rows-only, rN`` — the driver's weaker row-count check for
                             queries registered without an oracle (the
                             approximate flagships, each of which has a
                             hash-oracled ``_oracled`` md5 twin);
- ``pending driver verdict`` — registered and locally parity-green but not
                             yet reached by the driver's 50-query gate
                             window (the window rotates per round via
                             ``plans/registry.load_all_queries`` dynamic ordering).

Regenerate after each round: python tools/gen_provenance.py > PROVENANCE.md
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_excel_datasource_spark.plans.registry import (
    ORACLES,
    driver_verdicts,
    load_all_queries,
    stalest_order,
)


def collect() -> dict[str, tuple[str, int]]:
    """name -> (kind, round); delegates to the registry's
    ``driver_verdicts`` — since round 11 the registry itself orders the
    gate window from these records, so there is exactly one
    implementation of the verdict-collection rules."""
    return driver_verdicts()


def main() -> None:
    queries = load_all_queries()
    best = collect()
    print("# PROVENANCE — per-query correctness verdicts\n")
    print("Generated by `tools/gen_provenance.py` from the live registry and")
    print("all driver `CORRECTNESS_r*.json` gate records. See COVERAGE.md for")
    print("the SURVEY §2 inventory mapping and README for the contract.\n")
    print("| Query | Module | Oracle | Strongest verdict |")
    print("|---|---|---|---|")
    counts = {"driver hash": 0, "driver rows-only": 0, "pending": 0}
    for name in sorted(queries):
        mod = queries[name].__module__.split(".")[-1]
        has_oracle = "yes" if name in ORACLES else "rows-only by design"
        if name in best:
            kind, rnd = best[name]
            verdict = f"{kind}, r{rnd}"
            counts[kind] += 1
        else:
            verdict = "pending driver verdict (local parity green)"
            counts["pending"] += 1
        print(f"| `{name}` | {mod} | {has_oracle} | {verdict} |")
    print()
    print(
        f"**{len(queries)} queries: {counts['driver hash']} driver-hash, "
        f"{counts['driver rows-only']} driver-rows-only, "
        f"{counts['pending']} pending a driver verdict "
        f"({len(ORACLES)} registered with DuckDB oracles).**"
    )
    print()
    emit_stalest(queries, best)


def stalest_window(queries, best, n: int = 50) -> list[str]:
    """The default next-round gate-window proposal: the ``n`` registered
    queries with the weakest / oldest driver verdicts (delegates to the
    registry's ``stalest_order``, which is also what orders the live
    gate window)."""
    return stalest_order(queries, best)[:n]


def emit_stalest(queries, best) -> None:
    """VERDICT r9 ask #8: make the provenance file itself propose the next
    gate window, so rotation is mechanical (the registry's dynamic window is
    audited against this list by tests/test_registry_window.py)."""
    names = stalest_window(queries, best)
    print("## Stalest 50 — default next-round gate-window proposal\n")
    print("Machine-generated: the 50 registered queries with the weakest or")
    print("oldest driver verdicts, weakest first. The registry's dynamic")
    print("ordering heads with (a pin-compatible reordering of) this list;")
    print("`tests/test_registry_window.py` enforces the containment.\n")
    for i, name in enumerate(names, 1):
        if name in best:
            kind, rnd = best[name]
            verdict = f"{kind}, r{rnd}"
        else:
            verdict = "pending"
        print(f"{i}. `{name}` — {verdict}")


if __name__ == "__main__":
    main()
