#!/usr/bin/env python
"""Dump and diff the masked optimized logical plans of the driver surface.

``dump`` builds every ``__spark_entry__.queries()`` query plus ``entry()``
of the checkout it runs in, at one scale, and writes ``{name: plan}`` as
JSON. Each plan is the optimized logical plan with its expression ids
(``#123``) masked, the only part that changes from run to run: plan ids,
RDD ids and the streaming sinks' random table names do not appear in
these plans (a streaming query shows only its ``MemoryPlan`` sink). Two
dumps of one commit are identical, so a diff of two commits' dumps shows
only what the change did to the plans.

Usage (from the root of the checkout to dump):
    python plans/plan_diff.py dump SF_DIR OUT.json [name ...]
    python plans/plan_diff.py diff A.json B.json
"""
import argparse
import difflib
import json
import os
import re
import sys

EXPR_ID = re.compile(r"#\d+")


def dump(out: str, sf: str, only: list[str]) -> None:
    sys.path.insert(0, os.getcwd())
    import __spark_entry__ as E
    from activity_files_spark.session import get_spark, usable_cpus

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", usable_cpus()))
    spark = get_spark("plan_diff", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    builders = {"entry()": lambda s, _sf: E.entry(s), **E.queries()}
    plans = {}
    for name, fn in builders.items():
        if only and name not in only:
            continue
        df = fn(spark, sf)
        plans[name] = EXPR_ID.sub("#_", df._jdf.queryExecution().optimizedPlan().toString())
    with open(out, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    print(f"{len(plans)} plans -> {out}")


def diff(a: str, b: str) -> int:
    with open(a) as f:
        pa = json.load(f)
    with open(b) as f:
        pb = json.load(f)
    changed = 0
    for name in sorted(set(pa) | set(pb)):
        if pa.get(name) == pb.get(name):
            continue
        changed += 1
        print(f"=== {name}")
        sys.stdout.writelines(difflib.unified_diff(
            (pa.get(name) or "").splitlines(True), (pb.get(name) or "").splitlines(True),
            a, b, n=1,
        ))
    print(f"{len(set(pa) | set(pb)) - changed} identical, {changed} differ")
    return 1 if changed else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump")
    d.add_argument("sf", help="table directory, e.g. the sf0.001 tier")
    d.add_argument("out")
    d.add_argument("names", nargs="*")
    c = sub.add_parser("diff")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "dump":
        dump(args.out, args.sf, args.names)
        return 0
    return diff(args.a, args.b)


if __name__ == "__main__":
    sys.exit(main())
