"""Data-quality expectations: declarative rule checks in ONE pass.

A training-data pipeline gates every ingest on invariants (no nulls in
keys, domains, ranges); evaluating each rule as its own query re-scans
the table per rule. Here all rules fold into a single aggregation —
one scan, one job, whatever the rule count — and the per-rule report
is exploded from that one row, mirroring ``table_profile``'s shape.

A row violates a rule when the rule's predicate is NOT satisfied —
including when the predicate evaluates to NULL (an unknown is a
failure, the conservative gate a pipeline wants).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_rules(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One row per rule: [rule, n_rows, n_violations, passed].

    ``rules`` maps rule name → boolean Column; iteration is sorted by
    name so the plan (and any cached result) is stable across runs.
    """
    if not rules:
        raise ValueError("check_rules requires at least one rule")
    names = sorted(rules)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, name in enumerate(names):
        aggs.append(
            F.sum(F.when(rules[name], 0).otherwise(1)).alias(f"_v{i}")
        )
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(name).alias("rule"),
            F.col("_n").alias("n_rows"),
            F.col(f"_v{i}").alias("n_violations"),
            (F.col(f"_v{i}") == 0).cast("int").alias("passed"),
        )
        for i, name in enumerate(names)
    ]
    return one.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


def check_rules_sql(table: str, rules: dict[str, str]) -> str:
    """DuckDB oracle twin: the same one-pass aggregation (FILTER
    clauses) exploded by UNION ALL arms. Rule SQL must evaluate NULL
    predicates as violations, matching the Spark side — wrap nullable
    predicates in ``coalesce(pred, FALSE)`` semantics, which the
    generated ``NOT coalesce(...)`` here applies uniformly.
    """
    names = sorted(rules)
    viol_cols = ",\n    ".join(
        f"count(*) FILTER (WHERE NOT coalesce(({rules[name]}), FALSE)) AS v{i}"
        for i, name in enumerate(names)
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, n AS n_rows, v{i} AS n_violations, "
        f"CAST(v{i} = 0 AS INTEGER) AS passed FROM s"
        for i, name in enumerate(names)
    )
    return f"""WITH s AS (
  SELECT count(*) AS n,
    {viol_cols}
  FROM {table}
)
{arms}"""


def referential_check(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key orphan report: one row per relation
    [relation, n_child_rows, n_orphans, passed].

    ``relations`` is [(name, child_df, child_key, parent_df,
    parent_key)]. Relations sharing the SAME child table (detected via
    the analyzed plans' ``sameResult`` — exact, not a hash; a child
    without the classic JVM handle, as under Spark Connect, matches
    only the same DataFrame object) are checked in ONE pass over that
    child: the shared scan chains a LEFT join per
    parent against that parent's DISTINCT key projection (no fan-out —
    every build side is distinct, so the chained joins never duplicate
    child rows; column-pruned at the scan, broadcast by Catalyst when
    small) feeding a single aggregate that counts rows once and each
    relation's unmatched rows together, exploded back into one report
    row per relation. Before r13 each relation re-scanned its child
    (lineitem three times in the TPC-H FK report — guide §1.1: one
    pass per child table is the floor, and at 100 TB the fact-table
    scan IS the cost); the two-pass form before THAT scanned every
    child twice per relation. Results union into one report; each
    child group's subtree stays independent, so Spark runs the groups
    as parallel stages of one job.

    Row order: report rows come grouped by child — groups in the order
    each child first appears in ``relations``, relations within a group
    in input order. Where relations of different children interleave,
    this is not the input order.
    """
    if not relations:
        raise ValueError("referential_check requires at least one relation")
    # group by shared child: [(child, analyzed_plan, [(name, ckey,
    # parent, pkey), ...])], preserving first-appearance order; the plan
    # is None without a JVM handle (Spark Connect)
    groups: list[tuple[DataFrame, object, list]] = []
    for name, child, ckey, parent, pkey in relations:
        jdf = getattr(child, "_jdf", None)
        plan = None if jdf is None else jdf.queryExecution().analyzed()
        for gchild, gplan, rels in groups:
            if plan is None or gplan is None:
                same = gchild is child
            else:
                same = gplan.sameResult(plan)
            if same:
                rels.append((name, ckey, parent, pkey))
                break
        else:
            groups.append((child, plan, [(name, ckey, parent, pkey)]))
    outs = []
    for child, _, rels in groups:
        ckeys = list(dict.fromkeys(ckey for _, ckey, _, _ in rels))
        joined = child.select(*ckeys)
        for j, (_, ckey, parent, pkey) in enumerate(rels):
            pk = (
                parent.select(F.col(pkey).alias(ckey))
                .distinct()
                .withColumn(f"__parent_{j}", F.lit(1))
            )
            joined = joined.join(pk, ckey, "left")
        agg = joined.agg(
            F.count(F.lit(1)).alias("__n"),
            # coalesce: SUM over an empty child is NULL, but the
            # report's contract (and the old anti-join count) is 0
            *[
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col(f"__parent_{j}").isNull(), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"__o_{j}")
                for j in range(len(rels))
            ],
        )
        outs.append(
            agg.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(rels[j][0]).alias("relation"),
                                F.col("__n")
                                .cast("bigint")
                                .alias("n_child_rows"),
                                F.col(f"__o_{j}")
                                .cast("bigint")
                                .alias("n_orphans"),
                                (F.col(f"__o_{j}") == 0).alias("passed"),
                            )
                            for j in range(len(rels))
                        ]
                    )
                ).alias("__r")
            ).select("__r.*")
        )
    report = outs[0]
    for o in outs[1:]:
        report = report.unionByName(o)
    return report
