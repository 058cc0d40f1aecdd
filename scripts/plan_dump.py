#!/usr/bin/env python
"""Dump the canonicalized optimized plan of every non-stream catalog
entry, or diff the live plans against a saved dump.

Usage:
    python scripts/plan_dump.py OUT.json [--sf-dir DIR] [name ...]
    python scripts/plan_dump.py --diff BEFORE.json [--sf-dir DIR] [name ...]

A build-path refactor that claims "same plans" runs the first form on
the parent checkout and the second on the change. The dump maps each
entry to its plan text, to ``floats``, the number of floating-point
literals in that text, and to ``arrays``, the number of array literals
that print only as ``UnsafeArrayData@<hash>``: an index shipped inside
a plan as a literal (centroids, codebooks) shows in one or the other.

The plan is ``optimizedPlan().canonicalized()``, which numbers
attributes by position (``none#0``). Two kinds of run-to-run noise
remain, seen in dumps of one tree from separate processes:

- a cached relation (``silver_*``/``gold_*``) prints its physical plan
  with the session's raw expression ids (``id#7189L``) and exchange ids
  (``plan_id=15777``): every ``name#n`` other than ``none#n`` is masked
  to ``name#<n>``, which also masks ``#``-numbers inside string
  literals such as TPC-H's ``Brand#12``, and every ``plan_id``; object
  hashes (``UnsafeArrayData@feb88bde``) are masked too;
- canonicalization orders the operands of commutative expressions
  (``multicommutativeop``, ``AND``) and the projections of ``Expand`` by
  hash codes that vary between processes (``approx_sketches``,
  ``q19_disjunctive_predicates``, ``dedup_embedding_cosine``,
  ``table_profile_orders``), and the positional attribute numbers
  follow that order; a comparison may print either way round. A diff therefore reports a plan whose tokens,
  attribute numbers aside, are the same multiset as before as
  ``reordered``, apart from ``changed``.

Streaming entries (``stream_*``) are skipped: building one runs its
stream. The session is ``get_spark(shuffle_partitions=8)``, the test
suite's; the default input is ``perfbench/data/sf0.01``. Exit status:
0, or 1 when ``--diff`` finds a changed, missing or new entry.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_FLOAT = re.compile(r"(?<![\w#.])-?\d+\.\d+(?:E-?\d+)?")
_RAW_ID = re.compile(r"\b(\w+)#\d+")
_TOKEN = re.compile(r"\w+|[^\w\s]")


def canon(plan: str) -> str:
    plan = re.sub(r"plan_id=\d+", "plan_id=<n>", plan)
    plan = re.sub(r"@[0-9a-f]+\b", "@<hash>", plan)
    return _RAW_ID.sub(
        lambda m: m.group(0) if m.group(1) == "none" else m.group(1) + "#<n>",
        plan,
    )


def _bag(plan: str) -> list[str]:
    """The plan's tokens, attribute numbers and comparison direction
    (``a >= b`` canonicalizes as ``b <= a`` too) aside."""
    plan = re.sub(r"none#\d+", "none#", plan).replace("<", ">")
    return sorted(_TOKEN.findall(plan))


def dump(sf_dir: str, names: list[str]) -> dict:
    from nba_spurs_etl_spark.plans.catalog import queries
    from nba_spurs_etl_spark.session import get_spark

    spark = get_spark("plan-dump", shuffle_partitions=8)
    qs = queries()
    out = {}
    for name in names or [n for n in qs if not n.startswith("stream_")]:
        df = qs[name](spark, sf_dir)
        plan = canon(
            df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
        )
        out[name] = {
            "plan": plan,
            "floats": len(_FLOAT.findall(plan)),
            "arrays": plan.count("ArrayData@"),
        }
        print(f"{name}: {out[name]['floats']} float, {out[name]['arrays']} "
              "array literals", file=sys.stderr)
    return out


def diff(before: dict, after: dict, names: list[str]) -> int:
    keys = names or sorted(set(before) | set(after))
    missing = [k for k in keys if k not in after]
    new = [k for k in keys if k not in before]
    both = [k for k in keys if k in before and k in after]
    plans = {k: (canon(before[k]["plan"]), canon(after[k]["plan"])) for k in both}
    changed = [k for k in both if plans[k][0] != plans[k][1]]
    reordered = [k for k in changed if _bag(plans[k][0]) == _bag(plans[k][1])]
    changed = [k for k in changed if k not in reordered]
    print(f"{len(both) - len(changed) - len(reordered)} same, "
          f"{len(reordered)} reordered, {len(changed)} changed, "
          f"{len(missing)} missing, {len(new)} new")
    for k in reordered:
        print(f"reordered {k}")
    for k in changed:
        print(f"changed {k}: float literals {before[k]['floats']} -> "
              f"{after[k]['floats']}, array literals "
              f"{before[k].get('arrays', '?')} -> {after[k]['arrays']}")
    for k in missing:
        print(f"missing {k}")
    for k in new:
        print(f"new {k}: {after[k]['floats']} float literals")
    return 1 if changed or missing or new else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?", help="write the dump here")
    ap.add_argument("names", nargs="*", help="entries (default: all non-stream)")
    ap.add_argument("--diff", metavar="BEFORE", help="compare with this dump")
    ap.add_argument(
        "--sf-dir", default=os.path.join(ROOT, "perfbench", "data", "sf0.01")
    )
    args = ap.parse_args()
    names = list(args.names)
    if args.diff and args.out:
        names.insert(0, args.out)  # no OUT in diff mode: it is a name
    if not args.diff and not args.out:
        ap.error("give OUT.json or --diff BEFORE.json")
    after = dump(args.sf_dir, names)
    if args.diff:
        with open(args.diff) as f:
            return diff(json.load(f), after, names)
    with open(args.out, "w") as f:
        json.dump(after, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
