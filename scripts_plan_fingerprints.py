"""Dump every catalog entry's optimized logical plan, normalized, as JSON —
for checking that a refactor changed no plan. Run the same command in two
checkouts and compare the outputs:

    python scripts_plan_fingerprints.py <sf_dir> out.json [name ...]
    python scripts_plan_fingerprints.py --diff before.json after.json

Normalization strips what differs between two builds of the same plan:
expression ids (``#123``), lambda-variable names, random ``uuid()`` seeds,
and the ids Spark gives cached/checkpointed relations and plan-id tags. It
also puts the ``Expand`` that rewrites several distinct aggregates into one
order: Spark numbers those distinct groups (``gid``) and orders their
columns by hashes of expression ids, so the same plan prints differently
per process.
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


_GID_FILTER = re.compile(r"\(gid# = (\d+)\)")


def _split_top(text: str) -> list[str]:
    """Split on the commas outside any bracket or parenthesis."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            parts.append(text[start:i].strip())
            start = i + 1
    return parts + [text[start:].strip()]


def _sort_before_gid(items: list[str]) -> list[str]:
    """Sort the distinct-group columns, which precede ``gid#``."""
    k = items.index("gid#")
    return sorted(items[:k]) + items[k:]


def _canonical_distinct_expand(lines: list[str]) -> list[str]:
    """Renumber each distinct-aggregate ``Expand``'s gids by the sorted
    text of their projections and sort its distinct-group columns, in the
    Expand and in the lines above it up to the one filtering on gid."""
    lines = list(lines)
    for i, line in enumerate(lines):
        head, _, body = line.partition("Expand ")
        if not body or "gid#" not in body:
            continue
        projs, outs = (x[1:-1] for x in _split_top(body))
        outs = _split_top(outs)
        k = outs.index("gid#")
        order = sorted(range(k), key=lambda j: outs[j]) + list(range(k, len(outs)))
        rows = [[_split_top(p[1:-1])[j] for j in order] for p in _split_top(projs)]
        rows.sort(key=lambda r: r[:k] + r[k + 1 :])
        gids = {r[k]: str(n) for n, r in enumerate(rows)}
        for r in rows:
            r[k] = gids[r[k]]
        lines[i] = (
            f"{head}Expand [{', '.join('[' + ', '.join(r) + ']' for r in rows)}],"
            f" [{', '.join(outs[j] for j in order)}]"
        )
        for a in range(i - 1, -1, -1):
            pre, _, rest = lines[a].partition("Aggregate ")
            if rest and "gid#" in rest:
                lists = [_split_top(x[1:-1]) for x in _split_top(rest)]
                if all("gid#" in x for x in lists):
                    rest = ", ".join(
                        "[" + ", ".join(_sort_before_gid(x)) + "]" for x in lists
                    )
                lines[a] = pre + "Aggregate " + _GID_FILTER.sub(
                    lambda m: f"(gid# = {gids.get(m.group(1), m.group(1))})", rest
                )
            if "(gid# = " in lines[a]:
                break
    return lines


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return "\n".join(_canonical_distinct_expand(plan.split("\n")))


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
