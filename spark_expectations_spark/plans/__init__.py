"""Physical-plan inspection helpers.

The engine's scale posture is encoded in plan shapes: filters pushed to the
parquet scan, small dims broadcast, one fused projection for row rules,
partial aggregation before shuffles. These helpers read
``explain('formatted')`` output so tests can ASSERT those shapes instead of
hoping for them.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the parquet scan carries PushedFilters (predicate pushdown)."""
    txt = plan_text(df)
    return bool(re.search(r"PushedFilters: \[[^\]]+\]", txt))


def read_schema_columns(df: DataFrame) -> list[str]:
    """TOP-LEVEL columns actually read from the scan (column pruning
    check). Parses the ReadSchema struct with bracket/paren awareness:
    ``decimal(12,2)`` commas and nested ``struct<...>`` fields must not
    be mistaken for column separators."""
    txt = plan_text(df)
    m = re.search(r"ReadSchema: struct<", txt)
    if not m:
        return []
    # bracket-matched body of the outer struct<...>
    start = m.end()
    depth, i = 1, start
    while i < len(txt) and depth:
        if txt[i] == "<":
            depth += 1
        elif txt[i] == ">":
            depth -= 1
        i += 1
    body = txt[start:i - 1]
    cols, cur, d = [], [], 0
    for ch in body:
        if ch in "<(":
            d += 1
        elif ch in ">)":
            d -= 1
        if ch == "," and d == 0:
            cols.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    cols.append("".join(cur))
    return [c.split(":")[0].strip() for c in cols if c.strip()]


def num_shuffles(df: DataFrame) -> int:
    """Count KEY-partitioning shuffle exchanges (hash/range) in the
    physical plan. Deliberately excludes RoundRobinPartitioning (the
    module's own ``fan_out`` adds one on purpose for small inputs) and
    SinglePartition collapses (1-row aggregates) — count those with
    :func:`num_exchanges` when a pin needs EVERY exchange. NOT a sound
    upper bound on all data movement for that reason."""
    txt = plan_text(df, "simple")
    return txt.count("Exchange hashpartitioning") + txt.count("Exchange rangepartitioning")


def num_exchanges(df: DataFrame) -> int:
    """Count EVERY shuffle exchange — hash, range, round-robin, and
    single-partition — excluding broadcast exchanges (which move dims,
    not the corpus). The strict companion to :func:`num_shuffles`."""
    txt = plan_text(df, "simple")
    return len(re.findall(r"\bExchange (?!.*IdentityBroadcastMode)"
                          r"(hashpartitioning|rangepartitioning|"
                          r"RoundRobinPartitioning|SinglePartition)", txt))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_text(df, "simple")


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in plan_text(df, "simple")


def has_broadcast_hint(df: DataFrame) -> bool:
    """True if the LOGICAL plan carries a broadcast hint (``F.broadcast``
    / ``/*+ BROADCAST */``). Distinct from ``has_broadcast_join``: a
    stats-driven BroadcastHashJoin picked by the planner on genuinely
    small data is fine; a *hint* forces the collect regardless of size
    and is what scale pins must ban on corpus-sized frames."""
    txt = plan_text(df, "extended")
    logical = txt.split("== Physical Plan ==")[0]
    return bool(re.search(r"ResolvedHint|UnresolvedHint|hint=\[[^\]]*broadcast",
                          logical, re.IGNORECASE))


def whole_stage_codegen_spans(df: DataFrame, *, execute: bool = True) -> int:
    """Number of WholeStageCodegen regions — wider spans = more fused
    JVM-side execution. Under AQE the pre-execution plan (and
    ``explain('codegen')``) reports 0 subtrees because codegen stages
    only materialize at runtime, so by default this runs the frame once
    (noop sink) and counts distinct codegen ids in the executed plan."""
    if execute:
        # must run THIS frame's own QueryExecution (a noop .write wraps
        # the plan in a fresh one and leaves this one un-finalized).
        # Drained through toLocalIterator: executes every partition but
        # holds one at a time on the driver — collect() on a corpus-
        # sized frame would OOM the driver this module exists to protect
        for _ in df.toLocalIterator():
            pass
    from ..connect import jvm_query_execution

    qe = jvm_query_execution(df)
    if qe is not None:
        txt = qe.executedPlan().toString()
        ids = set(re.findall(r"WholeStageCodegen \((\d+)\)", txt))
        if ids:
            return len(ids)
    # Spark Connect (no JVM handle) or a not-yet-finalized plan: the
    # codegen explain's subtree count
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees",
                  plan_text(df, "codegen"))
    return int(m.group(1)) if m else 0


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (file sizes for scans).
    Plan-time only — no job, unlike ``df.rdd.getNumPartitions()`` which
    costs ~1s of RDD-conversion overhead per call. Raises RuntimeError
    under Spark Connect (no JVM handle — see connect.py's matrix);
    size-gated callers catch and skip their optimization."""
    from ..connect import jvm_query_execution

    qe = jvm_query_execution(df)
    if qe is None:
        raise RuntimeError("no JVM plan handle (Spark Connect) — "
                           "size estimate unavailable")
    return int(qe.optimizedPlan().stats().sizeInBytes())


def fan_out(df: DataFrame, min_partitions: int = 0,
            max_bytes: int = 2 << 30) -> DataFrame:
    """Round-robin repartition a small input up to cluster parallelism.

    CPU-heavy per-row operators (shingling, BLAS matmuls in mapInPandas)
    inherit the scan's partitioning; a small single-file parquet input
    arrives as ONE partition (a single row group can't even be split) and
    serializes the whole stage onto one core. The repartition fires only
    when Catalyst estimates the input under ``max_bytes`` — at 100 TB the
    scan has thousands of splits already and the big-data path never pays
    the shuffle; under the bound the shuffle is small by construction.
    """
    try:
        if estimated_size_bytes(df) >= max_bytes:
            return df
        target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
        # partition probe (session.spread_scan's gate, folded in here
        # so the JVM escape stays in this one guarded spot): a frame
        # already at/above cluster parallelism gains nothing from a
        # round-robin exchange — return it untouched. Compiles the
        # physical plan; launches no job.
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        # Spark Connect exposes neither _jdf nor sparkContext — be
        # conservative and add no shuffle
        return df
    return df.repartition(target)


#: literal-relation size cap for local_frame — see its docstring for
#: the A/B that set it (128 keeps every measured win, excludes every
#: measured regression with ~3x margin on each side)
_LOCAL_FRAME_MAX_LITERALS = 128


def _literal_count(v) -> int:
    """Literal nodes one cell becomes: nested arrays count every leaf,
    and a map counts a key and a value per entry."""
    if isinstance(v, dict):
        return sum(_literal_count(k) + _literal_count(x)
                   for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return sum(_literal_count(x) for x in v)
    return 1


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-computed rows → DataFrame as a pure-JVM literal relation.

    ``spark.createDataFrame(rows)`` plans a *Python RDD scan*: every
    job that consumes the frame (including each broadcast build) runs
    a defaultParallelism-task stage whose tasks pay a Python-worker
    round trip to deserialize a handful of rows — measured ~0.2 s of
    zero-cpu executorRunTime per consuming action at local[32]
    (r16 ledger, guide §4: the boundary itself is the cost). This
    builds the same rows as ``explode(array(struct(lit(...))))`` —
    evaluated inside Catalyst, no Python stage, no scan tasks.

    Contract: ``rows`` are tuples of plain Python scalars (None ok)
    matching ``schema`` (a StructType); values are cast to the
    declared field types, so exactness follows ``Column.cast``
    semantics exactly like ``createDataFrame``'s verifySchema path.

    SIZE CAP (measured, r16): the literal tree is rows × cols Cast/
    Literal nodes that EVERY analyzer/optimizer rule re-traverses — at
    a few hundred literals the planning cost exceeds the Python-RDD
    scan it saves (the subset A/B that set this bound: a 512-row
    centroid table sent embed_kmeans 1.7 → 12.4 s and a ~500-row PAV
    mapping sent docs_isotonic_by_source 0.9 → 25.4 s, while ≤ ~100-
    literal spec frames all won). Above ``_LOCAL_FRAME_MAX_LITERALS``
    this silently falls back to ``createDataFrame`` — identical rows
    either way. So does any frame with a map-typed field.
    """
    from pyspark.sql import functions as F

    if isinstance(schema, str):
        from pyspark.sql.types import StructType as _ST
        schema = _ST.fromDDL(schema)
    fields = list(schema.fields)
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields])
    # count COLLECTION payloads toward the cap: an array-typed cell
    # expands to one Literal/Cast node per element, so a "64 rows x 2
    # cols" centroid frame with dim-512 vectors is really ~32k literal
    # nodes — exactly the analyzer-retraversal blow-up the cap was
    # measured to prevent (the docstring's 512-row A/B: 1.7 -> 12.4 s)
    n_literals = sum(_literal_count(v) for row in rows for v in row)
    # F.lit has no map literal, so a map-typed field always falls back
    if (n_literals > _LOCAL_FRAME_MAX_LITERALS
            or any("map<" in f.dataType.simpleString() for f in fields)):
        return spark.createDataFrame(
            [tuple(r) for r in rows], schema)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                   for f, v in zip(fields, row)])
        for row in rows
    ]
    return (spark.range(1)
            .select(F.explode(F.array(*structs)).alias("__r"))
            .select("__r.*"))


def has_partial_aggregation(df: DataFrame) -> bool:
    """True if a HashAggregate with partial mode precedes the exchange
    (map-side combine)."""
    txt = plan_text(df)
    return "partial_" in txt or bool(re.search(r"Functions \[\d+\]: partial", txt))


def execution_metrics(df: DataFrame, *, execute: bool = True) -> dict:
    """Aggregate the executed plan's SQL metrics by name — the numbers
    the Spark UI shows per operator (``shuffle bytes written``,
    ``records read``, ``spill size``, ``number of output rows``, ...),
    summed across operators and returned as ``{metric_name: total}``.
    The measurement companion to :func:`plan_lint`: lint says what the
    plan WOULD do, this says what a run actually moved — assert
    "shuffle bytes stayed under X" or "nothing spilled" in a perf test
    instead of eyeballing the UI.

    By default runs the frame once (toLocalIterator drain, one
    partition held at a time — same contract as
    :func:`whole_stage_codegen_spans`); pass ``execute=False`` if an
    action already ran on THIS frame. Walks the JVM plan via py4j,
    descending into AQE's final plan; returns ``{}`` under Spark
    Connect (no ``_jdf``). Metric names are Spark-version-dependent —
    match loosely (``[k for k in m if "spill" in k]``)."""
    if execute:
        for _ in df.toLocalIterator():
            pass
    from ..connect import jvm_query_execution

    qe = jvm_query_execution(df)
    if qe is None:      # Spark Connect: no JVM handle
        return {}
    root = qe.executedPlan()
    totals: dict = {}

    def walk(node) -> None:
        # AdaptiveSparkPlanExec hides the real tree behind its final
        # plan, and AQE query-stage nodes (ResultQueryStageExec /
        # ShuffleQueryStageExec) wrap their materialized subtree in
        # plan() with empty metrics/children of their own
        for attr in ("executedPlan", "finalPhysicalPlan", "plan"):
            try:
                inner = getattr(node, attr)()
                if inner is not None and inner is not node:
                    walk(inner)
                    return
            except Exception:  # noqa: BLE001 - not an AQE node
                pass
        try:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metric = kv._2()
                label = metric.name().get() if metric.name().isDefined() \
                    else str(kv._1())
                totals[label] = totals.get(label, 0) + int(metric.value())
        except Exception:  # noqa: BLE001 - metric-less wrapper nodes
            pass
        try:
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))
        except Exception:  # noqa: BLE001 - leaf
            pass

    walk(root)
    return totals


#: lint severities, strongest first
_LINT_SEVERITIES = ("error", "warn", "info")

#: single-child pass-through nodes a broadcast build side may route
#: through before the aggregate that proves it 1-row
_PASSTHROUGH_NODES = (
    "BroadcastExchange", "Exchange", "Project", "Filter", "Sort",
    "AQEShuffleRead", "ColumnarToRow", "InputAdapter", "Coalesce",
    "WholeStageCodegen", "HashAggregate", "SortAggregate",
    "ObjectHashAggregate", "Scan", "LocalTableScan", "ReusedExchange",
    "Subquery", "AdaptiveSparkPlan",
)


def _bnlj_scalar_build_ids(txt: str) -> set[int]:
    """Node ids of BroadcastNestedLoopJoin operators whose BUILD side is
    provably a 1-row frame: the build subtree contains a keyless
    aggregate (``Keys: []`` in the details — a grand total / scalar
    subquery) with no join/union/generate between it and the build
    root that could re-expand rows. Parses the formatted-explain tree;
    returns {} on simple-mode text (no node ids — caller keeps warn).
    ``ReusedExchange`` build sides resolve through their
    "Reuses operator id" target."""
    lines = txt.splitlines()
    # tree = (depth, name, node_id) rows in print order
    tree: list[tuple[int, str, int]] = []
    for ln in lines:
        m = re.match(r"^([:\s|+\-*]*)\(?\s*([A-Za-z][A-Za-z0-9_ ]*?)"
                     r"\s*\((\d+)\)\s*$", ln)
        if m is None:
            continue
        prefix = m.group(1)
        marker = max(prefix.rfind("+-"), prefix.rfind(":-"))
        depth = marker if marker >= 0 else 0
        tree.append((depth, m.group(2).strip(), int(m.group(3))))
    if not tree:
        return set()
    # keyless aggregates from the details section: "(N) HashAggregate"
    # whose block has "Keys: []"
    keyless: set[int] = set()
    reuses: dict[int, int] = {}
    cur_id, cur_name = None, ""
    for ln in lines:
        h = re.match(r"^\((\d+)\)\s+(\S+)", ln)
        if h:
            cur_id, cur_name = int(h.group(1)), h.group(2)
            continue
        if cur_id is None:
            continue
        if "Aggregate" in cur_name and re.match(r"^Keys:\s*\[\s*\]", ln.strip()):
            keyless.add(cur_id)
        rm = re.match(r"^Reuses operator id:\s*(\d+)", ln.strip())
        if rm:
            reuses[cur_id] = int(rm.group(1))

    def subtree(i: int) -> list[tuple[int, str, int]]:
        d = tree[i][0]
        out = [tree[i]]
        for j in range(i + 1, len(tree)):
            if tree[j][0] <= d:
                break
            out.append(tree[j])
        return out

    def subtree_is_scalar(i: int) -> bool:
        nodes = subtree(i)
        root_depth = nodes[0][0]
        for depth, name, nid in nodes:
            if nid in reuses:
                # resolve the reused exchange's original subtree
                tgt = next((k for k, t in enumerate(tree)
                            if t[2] == reuses[nid]), None)
                if tgt is not None and subtree_is_scalar(tgt):
                    return True
            if nid in keyless:
                # every ancestor between the build root and this
                # aggregate must be pass-through (checked below by the
                # chain walk) — approximate: the path from root to the
                # FIRST keyless aggregate must cross only pass-through
                # nodes at strictly increasing depth
                path_ok = True
                want = root_depth
                for d2, n2, id2 in nodes:
                    if id2 == nid:
                        break
                    if d2 >= want and not any(
                            n2.startswith(p) for p in _PASSTHROUGH_NODES):
                        path_ok = False
                        break
                if path_ok:
                    return True
        return False

    out: set[int] = set()
    for i, (depth, name, nid) in enumerate(tree):
        if not name.startswith("BroadcastNestedLoopJoin"):
            continue
        kids = [j for j in range(i + 1, len(tree))
                if tree[j][0] == depth + 3]
        # stop at the end of this node's subtree
        kids = [j for j in kids
                if all(tree[k][0] > depth for k in range(i + 1, j + 1))]
        if not kids:
            continue
        # formatted trees print the build side per BuildLeft/BuildRight;
        # the tree line itself names the side. When NEITHER token is
        # present (unexpected plan format) don't guess a side — keep
        # the warn (fail safe: lint noise, never a silent demotion).
        line_txt = next((l for l in lines if f"({nid})" in l
                         and "BroadcastNestedLoopJoin" in l), "")
        if "BuildLeft" in line_txt:
            build_idx = kids[0]
        elif "BuildRight" in line_txt:
            build_idx = kids[-1]
        else:
            continue
        if subtree_is_scalar(build_idx):
            out.add(nid)
    return out


def _parse_tree_and_details(
        txt: str) -> tuple[list[tuple[int, str, int]], dict[int, str]]:
    """Parse a formatted explain into ``(tree, details)``: ``tree`` is
    ``[(depth, name, node_id)]`` in print order (main plan first, then
    any subquery trees); ``details`` maps node id to its details block
    text. Both empty on simple-mode text — callers fall back to their
    coarse whole-text heuristics."""
    lines = txt.splitlines()
    tree: list[tuple[int, str, int]] = []
    for ln in lines:
        m = re.match(r"^([:\s|+\-*]*)\(?\s*([A-Za-z][A-Za-z0-9_ ]*?)"
                     r"\s*\((\d+)\)\s*$", ln)
        if m is None:
            continue
        prefix = m.group(1)
        marker = max(prefix.rfind("+-"), prefix.rfind(":-"))
        depth = marker if marker >= 0 else 0
        tree.append((depth, m.group(2).strip(), int(m.group(3))))
    details: dict[int, str] = {}
    cur_id: int | None = None
    block: list[str] = []
    for ln in lines:
        h = re.match(r"^\((\d+)\)\s+\S+", ln)
        if h:
            if cur_id is not None:
                details[cur_id] = "\n".join(block)
            cur_id, block = int(h.group(1)), [ln]
            continue
        if cur_id is not None:
            block.append(ln)
    if cur_id is not None:
        details[cur_id] = "\n".join(block)
    return tree, details


#: Wrapper nodes between a Filter and the parquet scan it guards (the
#: codegen/columnar plumbing — never re-shape rows).
_SCAN_WRAPPERS = ("ColumnarToRow", "InputAdapter", "WholeStageCodegen")


def _strip_null_checks(cond: str) -> str:
    """Remove every ``isnotnull(...)`` / ``isnull(...)`` atom —
    balanced-paren aware, so null checks on DERIVED expressions
    (``isnotnull(((n_chars % 5) + 1))``, the null-propagation guard
    Spark plants for computed join/group keys) strip too; a regex with
    ``[^)]*`` stops at the first ``)`` and leaves a fake residual.
    What remains after stripping is the filter's actual value
    predicate (or nothing)."""
    out: list[str] = []
    i, n = 0, len(cond)
    while i < n:
        m = re.compile(r"is(not)?null\(").match(cond, i)
        if m is None:
            out.append(cond[i])
            i += 1
            continue
        depth, j = 1, m.end()
        while j < n and depth:
            if cond[j] == "(":
                depth += 1
            elif cond[j] == ")":
                depth -= 1
            j += 1
        i = j
    return "".join(out).strip(" ()ANDORandor")


def _filter_over_scan_pairs(
        tree: list[tuple[int, str, int]]) -> list[tuple[int, int]]:
    """(filter_id, scan_id) for every Filter node sitting DIRECTLY on a
    parquet scan (through columnar wrappers only). Filters higher in
    the plan — post-join residuals, HAVING predicates on computed
    columns — are exactly the ones Catalyst could NOT legally push, so
    they are not pushdown findings at all."""
    out: list[tuple[int, int]] = []
    for i, (depth, name, nid) in enumerate(tree):
        if not name.startswith("Filter"):
            continue
        j = i + 1
        while (j < len(tree) and tree[j][0] > depth
               and any(tree[j][1].startswith(w) for w in _SCAN_WRAPPERS)):
            j += 1
        if (j < len(tree) and tree[j][0] > depth
                and tree[j][1].startswith("Scan parquet")):
            out.append((nid, tree[j][2]))
    return out


def plan_lint(df: DataFrame) -> list[dict]:
    """Audit a DataFrame's physical plan for the anti-patterns that are
    invisible at sf0.01 and fatal at 100 TB, BEFORE running it. Returns
    ``[{rule, severity, detail}]`` findings, strongest first — feed a
    pipeline's final frame through this in CI (or use
    :func:`assert_plan_clean`) the way the repo's own tests pin plan
    shapes.

    Rules:

    * ``cartesian-product`` (error) — a ``CartesianProduct`` /
      ``BroadcastNestedLoopJoin Inner`` without join keys multiplies
      row counts; at scale this never finishes. (Deliberate small-side
      cross joins, e.g. queries × centroids, broadcast — those plan as
      BroadcastNestedLoopJoin with a tiny build side and are reported
      at warn, not error, since intent is indistinguishable.)
    * ``python-row-udf`` (error) — ``BatchEvalPython`` means a
      row-at-a-time Python UDF on the data path: rows serialize
      one-by-one through pickling, typically 10-100× slower than the
      Arrow path. Rewrite as built-ins or a Pandas UDF
      (``ArrowEvalPython`` / ``MapInPandas`` report as info).
    * ``single-partition-exchange`` (warn) — ``Exchange
      SinglePartition``: a global sort / un-partitioned window /
      global limit moves EVERY row to one task. The one PROVABLE
      exception demotes to info (``scalar-reduce-exchange``): an
      exchange whose parent is a keyless aggregate is the final reduce
      of an ungrouped agg and carries one partial row per partition.
    * ``filter-not-pushed`` (warn) — a ``Filter`` sitting DIRECTLY on
      a parquet scan has a residual value condition while THAT scan's
      ``PushedFilters`` holds only null checks: the predicate (often
      wrapped in a cast, function, or arithmetic expression) evaluates
      AFTER full I/O instead of skipping row groups. Paired per scan —
      a different table's pushed dim filter no longer masks or
      triggers findings; filters above joins/aggregates are Catalyst's
      residuals, not pushdown misses, and are not flagged.
    * ``shuffles`` (info) — exchange count; ``python-arrow`` (info) —
      Arrow-batched Python stages; ``scan-columns`` (info) — columns
      actually read (pruning check by eyeball).

    Plan-time only: no job runs. String-parses ``explain('formatted')``
    — under AQE the pre-execution plan is audited (runtime re-plans can
    only improve on it, e.g. demoting a sort-merge join to broadcast).
    """
    txt = plan_text(df)
    findings: list[dict] = []

    def add(rule: str, severity: str, detail: str) -> None:
        findings.append(
            {"rule": rule, "severity": severity, "detail": detail})

    if "CartesianProduct" in txt:
        add("cartesian-product", "error",
            "CartesianProduct node: unkeyed join multiplies row counts")
    # node prints as "BroadcastNestedLoopJoin <JoinType> Build<Side>"
    # in formatted mode and "BroadcastNestedLoopJoin Build<Side>,
    # <JoinType>" in simple mode — match the node name and report the
    # rest of its line either way. A BNLJ whose build side is a 1-ROW
    # frame (a grand-total / scalar-subquery aggregate — Keys: [] in
    # the details) is the CORRECT plan for "join every row with the
    # corpus statistic" and was drowning real findings in 143 warnings
    # (r8 verdict task 6): those demote to info; anything whose build
    # side cannot be proven 1-row stays warn.
    scalar_builds = _bnlj_scalar_build_ids(txt)
    # tree lines only (a "(N) BroadcastNestedLoopJoin" details header
    # would double-count the same node)
    for line in txt.splitlines():
        if re.match(r"^\(\d+\) ", line.strip()):
            continue
        m = re.search(
            r"BroadcastNestedLoopJoin[ \t]*([^\n(]*?)(?:\((\d+)\))?\s*$",
            line)
        if not m:
            continue
        node_id = int(m.group(2)) if m.group(2) else None
        if node_id is not None and node_id in scalar_builds:
            add("broadcast-1row-cross", "info",
                f"BroadcastNestedLoopJoin {m.group(1).strip()}: build "
                "side is a keyless (1-row) aggregate — a broadcast "
                "scalar-stats join, the correct plan shape")
            continue
        add("cartesian-product", "warn",
            f"BroadcastNestedLoopJoin {m.group(1).strip()}: every row "
            "pairs with the broadcast side — safe only when that side "
            "is deliberately tiny")
    n_row_udf = len(re.findall(r"BatchEvalPython", txt))
    if n_row_udf:
        add("python-row-udf", "error",
            f"{n_row_udf} BatchEvalPython stage(s): row-at-a-time "
            "Python UDF on the data path; use built-ins or a Pandas "
            "UDF")
    tree, node_details = _parse_tree_and_details(txt)
    keyless_aggs = {nid for nid, blk in node_details.items()
                    if "Aggregate" in blk.splitlines()[0]
                    and re.search(r"^Keys:\s*\[\s*\]", blk, re.M)}
    # single-partition exchanges, PER NODE: the final reduce of an
    # ungrouped aggregate (exchange's parent is a keyless aggregate)
    # carries one partial-agg row per upstream partition — the correct,
    # unavoidable scalar-fold plan — and demotes to info
    # (scalar-reduce-exchange). Anything else (global sort, an
    # un-partitioned window, repartition(1)) stays warn: the plan alone
    # cannot bound the row count funnelled into the one task.
    single_ids = [nid for nid, blk in node_details.items()
                  if blk.splitlines()[0].split()[1].startswith("Exchange")
                  and "SinglePartition" in blk]
    if tree and single_ids:
        idx_of = {nid: i for i, (_, _, nid) in enumerate(tree)}
        for nid in sorted(single_ids):
            i = idx_of.get(nid)
            parent = None
            if i is not None:
                d = tree[i][0]
                for j in range(i - 1, -1, -1):
                    if tree[j][0] < d:
                        if any(tree[j][1].startswith(w) for w in
                               ("AQEShuffleRead", *_SCAN_WRAPPERS)):
                            d = tree[j][0]
                            continue
                        parent = tree[j]
                        break
            if parent is not None and parent[2] in keyless_aggs:
                add("scalar-reduce-exchange", "info",
                    f"Exchange SinglePartition ({nid}) feeds the "
                    "keyless (1-row) final aggregate — the scalar "
                    "reduce of a map-side-combined ungrouped agg")
            else:
                who = parent[1] if parent is not None else "?"
                add("single-partition-exchange", "warn",
                    f"Exchange SinglePartition ({nid}) under {who}: a "
                    "global sort/window/limit funnels all rows into "
                    "one task")
    elif re.search(r"Exchange SinglePartition|Arguments: SinglePartition",
                   txt):
        # simple-mode text (no node ids) — coarse count, all warn
        n_single = len(re.findall(
            r"Exchange SinglePartition|Arguments: SinglePartition", txt))
        add("single-partition-exchange", "warn",
            f"{n_single} Exchange SinglePartition node(s): a global "
            "sort/window/limit funnels all rows into one task")
    # filter pushdown, PER SCAN: pair each Filter node with the parquet
    # scan DIRECTLY under it and compare that filter's own residual
    # condition against that scan's own PushedFilters. (The previous
    # whole-text heuristic warned whenever ANY value predicate existed
    # alongside ANY null-check-only scan — so a fact table scanned with
    # join-key null filters flagged a query whose dim filter pushed
    # perfectly.) A pushed value predicate shows up in PushedFilters;
    # "pushed" lists holding only Is(Not)Null entries mean the scan
    # skipped nothing, so a residual value condition — cast/function/
    # expression-wrapped, or a plain comparison the format could not
    # take — evaluates after full I/O.
    if tree:
        for fid, sid in _filter_over_scan_pairs(tree):
            cond_m = re.search(r"Condition : (.+)",
                               node_details.get(fid, ""))
            if cond_m is None:
                continue
            residual = _strip_null_checks(cond_m.group(1))
            if not residual:
                continue
            pushed_m = re.search(r"PushedFilters: \[([^\]]*)\]",
                                 node_details.get(sid, ""))
            if pushed_m is None:
                continue
            entries = [e for e in pushed_m.group(1).split(",") if e.strip()]
            if any(not re.match(r"\s*Is(Not)?Null\(", e) for e in entries):
                continue  # a value predicate DID push for this scan
            add("filter-not-pushed", "warn",
                f"Filter ({fid}) over scan ({sid}) pushed no value "
                f"predicate — {cond_m.group(1)[:120]} evaluates after "
                "full I/O; avoid wrapping the column in casts or "
                "functions")
    else:
        # simple-mode fallback: the coarse whole-text heuristic
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", txt)
        conds = re.findall(r"Condition : (.+)", txt)
        value_filter = any(
            re.sub(r"isnotnull\([^)]*\)|isnull\([^)]*\)", "", c)
            .strip(" ()ANDORandor")
            for c in conds)
        if value_filter and "Scan parquet" in txt and any(
                not p.strip()
                or all(re.match(r"\s*Is(Not)?Null\(", f)
                       for f in p.split(","))
                for p in pushed):
            add("filter-not-pushed", "warn",
                "Filter node present but a parquet scan pushed no value "
                "predicate (only null checks) — the predicate evaluates "
                "after full I/O; avoid wrapping the column in casts or "
                "functions")
    n_arrow = len(re.findall(
        r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", txt))
    if n_arrow:
        add("python-arrow", "info",
            f"{n_arrow} Arrow-batched Python stage(s) (acceptable "
            "slow path; keep out of the hottest scans)")
    n_ex = len(re.findall(r"Exchange", txt))
    add("shuffles", "info", f"{n_ex} Exchange node(s)")
    cols = read_schema_columns(df)
    if cols:
        add("scan-columns", "info",
            f"scan reads {len(cols)} column(s): {', '.join(cols[:12])}"
            + (" …" if len(cols) > 12 else ""))
    findings.sort(key=lambda f: _LINT_SEVERITIES.index(f["severity"]))
    return findings


def assert_plan_clean(df: DataFrame, *, allow: tuple = (),
                      max_severity: str = "error") -> list[dict]:
    """Raise ``AssertionError`` if :func:`plan_lint` reports a finding
    at or above ``max_severity`` (``"error"`` default; ``"warn"`` for
    strict pipelines) whose rule is not in ``allow``. Returns the full
    findings list on success so callers can log the info tier — the
    one-line CI gate for pipeline plan hygiene."""
    bad_levels = _LINT_SEVERITIES[:_LINT_SEVERITIES.index(max_severity)
                                  + 1]
    findings = plan_lint(df)
    bad = [f for f in findings
           if f["severity"] in bad_levels and f["rule"] not in allow]
    if bad:
        raise AssertionError(
            "plan lint failed: " + "; ".join(
                f"[{f['severity']}] {f['rule']}: {f['detail']}"
                for f in bad))
    return findings
