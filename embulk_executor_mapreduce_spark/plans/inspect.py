"""Physical-plan inspection helpers.

The 100 TB discipline (SURVEY.md §7.5 risk 6) made checkable: every operator
should (a) push filters/projections into the parquet scan, (b) broadcast
small dimensions, (c) introduce no more exchanges than its semantics require.
These helpers parse ``explain("formatted")`` output so tests can assert plan
shape, not just result values — a regression here is a silent 10× at scale.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates that reached the parquet scan (PushedFilters)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings — what each scan actually reads."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))


def num_exchanges(df: DataFrame) -> int:
    """Count shuffle exchanges (excludes broadcast exchanges).

    ``explain("formatted")`` lists operators as ``(N) Exchange`` with the
    partitioning in an Arguments line; broadcast exchanges print as
    ``(N) BroadcastExchange`` and don't count — they're the cheap kind.
    """
    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))


def num_broadcasts(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastExchange|BroadcastHashJoin|BroadcastNestedLoopJoin", formatted_plan(df)))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def wholestage_codegen_spans(df: DataFrame) -> int:
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", formatted_plan(df))))


def parquet_scan_row_count(df: DataFrame) -> int | None:
    """Exact row count from parquet FOOTER metadata when ``df`` is a bare
    (filter-free) parquet scan — zero Spark jobs, zero data read. ``None``
    when the count is not metadata-derivable: any Filter/Join/Generate/Limit
    in the optimized plan, a non-parquet source, or non-local files.

    This is the fast path behind :func:`planning_row_count` (VERDICT r5
    item 4): auto-parameter heuristics like ``semantic_dedup(k=None)`` need
    a corpus-size SCALAR at planning time, and at 100 TB a ``count()`` is a
    full aggregate-only scan per query. Column pruning (Project) is
    count-preserving, so project-over-relation plans qualify."""
    from urllib.parse import unquote, urlparse

    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return None
    node_names = [
        m.group(1) for m in re.finditer(r"^[+\-: ]*([A-Za-z]+)", plan, re.MULTILINE)
    ]
    # Project, Repartition(ByExpression) and Sort are COUNT-PRESERVING —
    # a spread_narrow'd or ordered scan still has exactly the footer row
    # count (Filter/Join/Generate/Limit and everything else stay None).
    _count_preserving = (
        "Project",
        "Relation",
        "Repartition",
        "RepartitionByExpression",
        "Sort",
    )
    if not node_names or any(n not in _count_preserving for n in node_names):
        return None
    if not re.search(r"^[+\-: ]*Relation .*parquet", plan, re.MULTILINE):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    paths = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None  # remote store: let the caller fall back to count()
        paths.append(unquote(u.path))
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    except Exception:
        return None


def live_plan_nodes(jplan) -> list[tuple[int, str, tuple[str, ...]]]:
    """Flatten a JVM ``SparkPlan`` tree into ``(depth, className, output
    columns)`` rows, WITHOUT descending into cached relations — an
    ``InMemoryTableScanExec`` is treated as a leaf because its build plan ran
    once at materialization, not per consuming query. This is what
    ``explain`` string-parsing cannot give you: ``toString`` inlines the
    cached relation's own (already-executed) plan, so counting ``Exchange``
    lines over-counts work that never re-runs.

    Built for the iterative-operator loop-body guards (pagerank): capture
    each iteration's ``executedPlan`` via a ``localCheckpoint`` spy, then
    assert the LIVE per-iteration tree shuffles only rank-cardinality
    frames. ``AdaptiveSparkPlanExec`` descends through ``initialPlan`` —
    pre-execution shape, which is where exchange placement is decided."""
    out: list[tuple[int, str, tuple[str, ...]]] = []

    def _walk(jp, depth: int) -> None:
        name = jp.getClass().getSimpleName()
        try:
            attrs = jp.output()
            cols = tuple(attrs.apply(i).name() for i in range(attrs.size()))
        except Exception:
            cols = ()
        out.append((depth, name, cols))
        if name == "AdaptiveSparkPlanExec":
            _walk(jp.initialPlan(), depth + 1)
            return
        if name == "InMemoryTableScanExec":
            return
        ch = jp.children()
        for i in range(ch.size()):
            _walk(ch.apply(i), depth + 1)

    _walk(jplan, 0)
    return out


def ancestor_names(
    nodes: list[tuple[int, str, tuple[str, ...]]], idx: int
) -> list[str]:
    """Ancestor class names (nearest first) of ``nodes[idx]`` in a
    :func:`live_plan_nodes` flattening — each ancestor is the closest
    preceding row with strictly smaller depth."""
    depth = nodes[idx][0]
    names: list[str] = []
    for d, name, _ in reversed(nodes[:idx]):
        if d < depth:
            names.append(name)
            depth = d
    return names


#: the one row budget for driver-local fast paths (k-means training,
#: connected components, BPE, PageRank, the MMR greedy tail): an input of
#: at most this many rows is collected and solved on the driver, a larger
#: one runs the distributed loop. Probes go through :func:`collect_at_most`,
#: so an over-budget input costs one bounded ``limit`` evaluation.
COLLECT_MAX_ROWS = 65_536


def collect_at_most(df: DataFrame, cap: int | None = None) -> list | None:
    """``df``'s rows when there are at most ``n`` of them, else ``None`` —
    ``n`` is :data:`COLLECT_MAX_ROWS`, lowered to ``cap`` when given (a
    caller whose rows are wide). The collect is ``limit(n + 1)``, so it
    never pulls more than one row past the budget."""
    n = COLLECT_MAX_ROWS if cap is None else min(cap, COLLECT_MAX_ROWS)
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None


def planning_row_count(df: DataFrame, n_rows: int | None = None) -> int:
    """Planning-time row-count scalar for auto-parameter heuristics:
    caller-supplied ``n_rows`` (the spec layer often knows it) beats parquet
    footer metadata (:func:`parquet_scan_row_count`) beats a ``count()``
    job — so a file-backed corpus costs zero extra scans."""
    if n_rows is not None:
        return int(n_rows)
    meta = parquet_scan_row_count(df)
    return meta if meta is not None else df.count()
