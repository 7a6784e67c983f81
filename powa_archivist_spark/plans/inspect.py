"""Physical-plan inspection — guardrails for the plans we rely on at
scale.

The reference delegates all physical strategy to the Postgres planner and
encodes its expectations as indexes (SURVEY.md §4).  Here the analogous
expectations — filters reaching the parquet scan, dimension joins
broadcast, expressions inside whole-stage codegen — are made assertable
so tests pin them (a plan regression is a perf bug at 100 TB even when
results stay correct).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what ``df.explain(mode)`` prints).

    With AQE the output repeats the whole tree under ``== Initial Plan ==``
    — that section is stripped so node counts aren't doubled."""
    jvm = df.sparkSession._jvm
    s = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)
    return s.split("== Initial Plan ==")[0]


def _split_top_level(body: str) -> list[str]:
    """Split a bracket body on commas OUTSIDE any (), [], <> nesting —
    filter reprs like ``EqualTo(srvid,1)`` or ``In(x, [1,2])`` and
    nested struct types must stay whole."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in body:
        if ch in "([<":
            depth += 1
        elif ch in ")]>":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return [p for p in parts if p]


def _bracket_bodies(text: str, label: str) -> list[str]:
    """The ``label: [...]`` bodies with balanced-bracket capture (a plain
    ``[^\\]]*`` would truncate at the first ``]`` inside ``In(x, [..])``)."""
    out = []
    for m in re.finditer(rf"{label}: \[", text):
        depth, i = 1, m.end()
        while i < len(text) and depth:
            if text[i] == "[":
                depth += 1
            elif text[i] == "]":
                depth -= 1
            i += 1
        out.append(text[m.end():i - 1])
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (``PushedFilters: [...]``)."""
    out: list[str] = []
    for body in _bracket_bodies(plan_string(df), "PushedFilters"):
        out.extend(_split_top_level(body))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """Partition-pruning predicates at each scan
    (``PartitionFilters: [...]``)."""
    out: list[str] = []
    for body in _bracket_bodies(plan_string(df), "PartitionFilters"):
        out.extend(_split_top_level(body))
    return out


def read_schemas(df: DataFrame) -> list[list[str]]:
    """Column sets actually read from each parquet scan (column pruning).
    The struct<> capture balances angle brackets — packed history
    schemas nest ``array<struct<...>>`` and a first-``>`` stop would
    truncate the column list."""
    out = []
    text = plan_string(df)
    for m in re.finditer(r"ReadSchema: struct<", text):
        depth, i = 1, m.end()
        while i < len(text) and depth:
            if text[i] == "<":
                depth += 1
            elif text[i] == ">":
                depth -= 1
            i += 1
        body = text[m.end():i - 1]
        out.append([c.split(":")[0].strip() for c in _split_top_level(body)])
    return out


def _node_count(df: DataFrame, node: str) -> int:
    """Count distinct plan nodes: formatted mode prints each node in the
    tree AND as a numbered ``(N) Node`` detail — count the latter."""
    return len(re.findall(rf"\(\d+\) {node}\b", plan_string(df)))


def broadcast_join_count(df: DataFrame) -> int:
    return _node_count(df, "BroadcastHashJoin")


def sort_merge_join_count(df: DataFrame) -> int:
    return _node_count(df, "SortMergeJoin")


def exchange_count(df: DataFrame) -> int:
    """Shuffle boundaries.  Broadcast exchanges print as
    ``(N) BroadcastExchange`` and never match ``(N) Exchange``."""
    return _node_count(df, "Exchange")


def has_cartesian(df: DataFrame) -> bool:
    return "CartesianProduct" in plan_string(df)


def window_count(df: DataFrame) -> int:
    """Window operator nodes (each is a full shuffle + per-partition sort
    — an aggregation-shaped rewrite is usually cheaper at scale)."""
    return _node_count(df, "Window")


_LIMIT_NODES = ("TakeOrderedAndProject", "GlobalLimit", "LocalLimit",
                "CollectLimit")


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Global (no ``partitionBy``) Window nodes whose input is NOT bounded
    by a limit — the single-partition-sort anti-pattern: every input row
    moves onto one task.  A global window is fine when it sits on a
    TakeOrderedAndProject / GlobalLimit (rank over ≤k pre-limited rows);
    it is flagged when an ``Exchange SinglePartition`` feeds it first.

    Returns the offending Window nodes' Arguments strings (empty = clean).
    Used by tests to pin that no declared query sorts unbounded input on
    one partition (VERDICT r6 finding on the old top-consumers shape)."""
    text = plan_string(df)
    # Detail blocks: "(N) Name [codegen..]\nOutput..\nInput..\nArguments: .."
    details: dict[int, tuple[str, str]] = {}
    for m in re.finditer(
        r"^\((\d+)\) (\w+)(?:\s*\[[^\]]*\])?\n((?:(?!^\(\d+\) ).*\n?)*)",
        text,
        re.M,
    ):
        nid, name, body = int(m.group(1)), m.group(2), m.group(3)
        am = re.search(r"^Arguments: (.*)$", body, re.M)
        details[nid] = (name, am.group(1) if am else "")

    # Tree section: indentation gives structure; node order in the detail
    # numbering is bottom-up, so a Window node's subtree is simply the
    # detail ids BELOW it in the tree text.  Walk tree lines top-down and
    # record (depth, id).
    tree_lines = []
    for line in text.splitlines():
        tm = re.search(r"^(\s*(?:[+:]-\s|\s)*)\*?\(?.*?(\w+)\s\((\d+)\)\s*$",
                       line)
        if tm and int(tm.group(3)) in details:
            tree_lines.append((len(tm.group(1)), int(tm.group(3))))
        if line.startswith("(1)") or line.startswith("("):
            if re.match(r"^\(\d+\) ", line):
                break

    offenders: list[str] = []
    for i, (depth, nid) in enumerate(tree_lines):
        name, args = details[nid]
        if name != "Window":
            continue
        # partition spec present => 3 top-level bracket groups in Arguments
        groups = _split_top_level(args)
        if len(groups) >= 3:
            continue  # partitioned window
        # walk the subtree (following tree lines with greater depth)
        bounded = False
        for d2, nid2 in tree_lines[i + 1:]:
            if d2 <= depth:
                break
            n2, a2 = details[nid2]
            if any(n2.startswith(ln) for ln in _LIMIT_NODES):
                bounded = True
                break
            if n2 == "Exchange" and "SinglePartition" in a2:
                bounded = False
                break
        else:
            bounded = True  # hit a leaf without a single-partition shuffle
        if not bounded:
            offenders.append(args)
    return offenders
