"""Dump every catalog entry's optimized logical plan, normalized, as JSON —
for checking that a refactor changed no plan. Run the same command in two
checkouts and compare the outputs:

    python scripts_plan_fingerprints.py <sf_dir> out.json [name ...]
    python scripts_plan_fingerprints.py --diff before.json after.json

Normalization strips what differs between two builds of the same plan:
expression ids (``#123``), lambda-variable names, random ``uuid()`` seeds,
and the ids Spark gives cached/checkpointed relations and plan-id tags.
"""

from __future__ import annotations

import json
import re
import sys

_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"lambda \w+"), "lambda _"),
    (re.compile(r"\b(?:rdd|RDD|plan_id|planId)\W*\d+"), "<id>"),
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"uuid\(Some\(-?\d+\)\)"), "uuid()"),
    (re.compile(r"(LogicalRDD|InMemoryRelation|ExistingRDD)[^\n]*"), r"\1 …"),
]


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def dump(sf_dir: str, out: str, names: list[str]) -> None:
    from lakehouse_spark.operators.dedup import release_caches
    from lakehouse_spark.queries import CATALOG
    from lakehouse_spark.session import get_spark

    spark = get_spark(app_name="plan_fingerprints", shuffle_partitions=4)
    plans = {}
    for name in names or sorted(CATALOG):
        df = CATALOG[name].build(spark, sf_dir)
        plans[name] = normalize(str(df._jdf.queryExecution().optimizedPlan()))
        release_caches()
    with open(out, "w") as f:
        json.dump(plans, f, indent=0, sort_keys=True)
    print(f"{out}: {len(plans)} plans")


def diff(before: str, after: str) -> int:
    with open(before) as fa, open(after) as fb:
        a, b = json.load(fa), json.load(fb)
    same = a.keys() & b.keys()
    changed = sorted(n for n in same if normalize(a[n]) != normalize(b[n]))
    print(f"{len(same)} compared, {len(changed)} differ")
    for n in changed:
        print("DIFFERS", n)
    for n in sorted(a.keys() ^ b.keys()):
        print("ONLY IN ONE", n)
    return 1 if changed or a.keys() != b.keys() else 0


if __name__ == "__main__":
    if sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    dump(sys.argv[1], sys.argv[2], sys.argv[3:])
