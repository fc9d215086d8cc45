"""Physical-plan assertions.

Scale discipline is only real if it is enforced: these helpers read
``df.explain`` output so tests can assert that a dim join broadcasts,
a filter reaches the parquet scan, and no Python UDF sneaks into a hot
path (SURVEY.md section 4's anti-pattern list).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def has_python_udf(df: DataFrame) -> bool:
    plan = explain_str(df)
    return "BatchEvalPython" in plan or "ArrowEvalPython" in plan


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every scan node in the plan."""
    plan = explain_str(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def shuffle_count(df: DataFrame) -> int:
    # simple mode lists each node once (formatted mode repeats nodes in
    # the detail section and would double-count).
    plan = explain_str(df, mode="simple")
    return len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning", plan))


def array_typed_exchanges(df: DataFrame) -> list[str]:
    """``"NodeName:column"`` for every array-typed column carried
    through any Exchange in the physical plan (empty = every shuffle
    moves only scalar columns).

    This is the invariant behind the count-carry verify
    (llm/dedup.count_carry_jaccard): both r7 sf100 failures -- the
    native path's 46 GB spill and the MLlib twin's 48 GB-heap hash-
    build OOM -- were shingle ARRAYS attached to corpus-scaled pair
    rows and pushed through shuffles.  Exchange-count budgets cannot
    catch a reintroduction (the skinny shape legitimately has MORE
    exchanges); the typed walk can.  Descends AQE initial plans,
    cached relations' build plans, and subquery plans, so an array
    exchange hidden in a scalar/IN subquery still trips it.  A
    ``localCheckpoint`` cut is a scan of stored rows here: its build
    plan is not part of ``df``'s plan, so a caller that wants the
    checkpointed subtrees covered checks each cut's input DataFrame
    too (tests/test_plans.py records them).  The type check is on the
    type's simpleString, so arrays NESTED inside structs/maps (and map
    columns, the other unbounded-width payload) are caught too: the r7
    regression wrapped in a struct is still the r7 regression.
    """
    out: list[str] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    seen: set[int] = set()  # SparkPlan.id(): initial/executed plans share
    # nodes before execution; dedupe so each physical node reports once.
    while stack:
        node = stack.pop()
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            # Walk BOTH the initial plan and the current executed plan.
            # Before execution the two coincide; after execution the
            # executed plan is the AQE re-optimized tree, so a caller
            # checking a materialized DataFrame also covers runtime
            # rewrites.  (AQE preserves exchange output types, so the
            # initial plan alone was sound -- ADVICE r8 asked that the
            # guard not silently depend on that invariant.)  We never
            # touch finalPhysicalPlan, which would FORCE execution.
            stack.append(node.initialPlan())
            try:
                stack.append(node.executedPlan())
            except Exception:
                pass  # pre-4.x shims without the accessor
        elif name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        elif "Exchange" in name:
            attrs = node.output()
            for i in range(attrs.size()):
                a = attrs.apply(i)
                ts = a.dataType().simpleString()
                if "array<" in ts or "map<" in ts:
                    out.append(f"{name}:{a.name()}")
        sq = node.subqueries()
        for i in range(sq.size()):
            stack.append(sq.apply(i))
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


#: Physical nodes that run Python workers (class simple names).
_PYTHON_EXECS = frozenset({
    "ArrowAggregatePythonExec", "ArrowEvalPythonExec",
    "ArrowEvalPythonUDTFExec", "ArrowWindowPythonExec",
    "BatchEvalPythonExec", "BatchEvalPythonUDTFExec",
    "FlatMapCoGroupsInArrowExec", "FlatMapCoGroupsInPandasExec",
    "FlatMapGroupsInArrowExec", "FlatMapGroupsInPandasExec",
    "MapInArrowExec", "MapInPandasExec",
})


def _python_udf_calls(node) -> list[str]:
    """``"name(arg#id, ...)"`` for every Python UDF in ``node``'s
    expressions: the call and the exact input attributes it reads."""
    calls: list[str] = []
    exprs = node.expressions()
    stack = [exprs.apply(i) for i in range(exprs.size())]
    while stack:
        e = stack.pop()
        ch = e.children()
        kids = [ch.apply(i) for i in range(ch.size())]
        if e.getClass().getSimpleName() == "PythonUDF":
            calls.append(f"{e.name()}({', '.join(k.toString() for k in kids)})")
        stack.extend(kids)
    return calls


def python_stage_reruns(df: DataFrame) -> list[str]:
    """One line for every way ``df``'s plan runs a Python stage's work
    twice (empty = each Python node runs once per row):

    * ``"<Node> under a range exchange"``: a Python-evaluating node in
      the stage a range-partitioning exchange reads.  The range
      partitioner first runs a sampling job over that stage's whole
      output and then runs the map stage, so the Python work runs in
      each.  Moving the range exchange below the Python node (range-
      partition the input, then sort within partitions) keeps it once.
    * ``"<udf>(<args>) twice in one stage"``: one Python UDF evaluated
      by two nodes over the same input attributes in one stage -- a
      filter on the UDF's result pushed below the projection that
      computes it plans a second evaluation under the filter.

    Reads the initial adaptive plan (what ``explain`` prints with
    ``isFinalPlan=false``): EnsureRequirements has placed the
    exchanges there, while the adaptive node's input plan holds none.
    A stage is the subtree between exchanges; subqueries and broadcast
    builds are their own stages."""
    out: set[str] = set()
    stages = [(df._jdf.queryExecution().executedPlan(), False)]
    while stages:
        root, under_range = stages.pop()
        calls: set[str] = set()
        stack = [root]
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                stack.append(node.initialPlan())
                continue
            if name in _PYTHON_EXECS:
                if under_range:
                    out.add(f"{name[:-4]} under a range exchange")
                for call in _python_udf_calls(node):
                    if call in calls:
                        out.add(f"{call} twice in one stage")
                    calls.add(call)
            sq = node.subqueries()
            for i in range(sq.size()):
                stages.append((sq.apply(i), False))
            ch = node.children()
            kids = [ch.apply(i) for i in range(ch.size())]
            if name.endswith("ExchangeExec"):
                ranged = (
                    node.outputPartitioning().getClass().getSimpleName()
                    == "RangePartitioning"
                )
                stages.extend((k, ranged) for k in kids)
            else:
                stack.extend(kids)
    return sorted(out)


#: Fixture tables whose row counts scale linearly with SF.  nation and
#: region are FIXED catalogs (25 / 5 rows at every SF) and are absent.
CORPUS_TABLES = frozenset(
    {"customer", "supplier", "part", "orders", "lineitem",
     "documents", "embeddings", "events"}
)

def _bounds(node) -> bool:
    """True when ``node`` BOUNDS the rows flowing out of its subtree
    independently of the corpus size underneath: limits (top-k) and
    SCALAR aggregates (no grouping keys -> one row).

    A KEYED aggregate deliberately does NOT bound (VERDICT r9 item 3 /
    ADVICE r9 medium): its output is one row per group, and whether
    the group count is bounded (``lang``: 4 values at any SF) or
    corpus-scaled (``l_orderkey``: 1.5B groups at sf100) is invisible
    statically -- both are bare attributes.  Keyed aggregates are
    therefore returned as SUSPECTS (:func:`keyed_agg_suspects`) whose
    group-count growth across SFs the registry test MEASURES
    (tests/test_plans.py) -- ratio ~1 over a 10x data step = bounded
    domain, ratio ~10 = corpus key.  Queries that need a static proof
    instead carry an explicit ``.limit(n)`` value no-op (the ANN-family
    idiom; operators/ranks does it for every block carry)."""
    name = node.nodeName()
    if name in ("GlobalLimit", "LocalLimit"):
        return True
    if name == "Aggregate":
        try:
            return node.groupingExpressions().size() == 0
        except Exception:
            return False
    return False


#: Leaf logical nodes that are in-memory / generated and therefore
#: can't be (and don't need to be) resolved to a fixture table:
#: driver-side literals (createDataFrame), ranges, and the one-row
#: relation under scalar selects.  Anything ELSE that resolves to no
#: source name is a guard blind spot and is surfaced by
#: :func:`unresolved_corpus_leaves` (ADVICE r9: a renamed catalog
#: table or an RDD-backed relation would otherwise be silently
#: unguarded).
#: ``LogicalRDD`` is what ``spark.createDataFrame`` lowers to when the
#: local data takes the RDD path instead of ``LocalRelation``, and what
#: a ``localCheckpoint`` cut's consumers scan.  A cut's rows may come
#: from a corpus, which no walk from the consumer can see, so
#: tests/test_plans.py walks each cut's input plan as well.
_BENIGN_LEAVES = frozenset(
    {"LocalRelation", "OneRowRelation", "Range", "LogicalRDD"}
)


def _leaf_source_names(node) -> set[str]:
    """Basenames (without extension) of the files a LEAF logical node
    reads, e.g. ``{"lineitem"}`` for a parquet scan of
    ``.../lineitem.parquet``; empty for in-memory leaves."""
    names: set[str] = set()
    try:
        paths = node.relation().location().rootPaths()
        for i in range(paths.size()):
            names.add(paths.apply(i).getName().split(".")[0])
        return names
    except Exception:
        pass
    for m in re.finditer(r"([A-Za-z0-9_]+)\.(?:parquet|csv|json|orc)", node.toString()):
        names.add(m.group(1))
    return names


def unresolved_corpus_leaves(df: DataFrame) -> list[str]:
    """Node names of LEAF logical nodes in the full analyzed plan that
    :func:`_leaf_source_names` cannot resolve to any source name and
    that are not known in-memory kinds (``_BENIGN_LEAVES``).

    Empty list = every leaf the corpus guards walk is either a
    resolvable file relation or a benign in-memory relation, so a
    "pass" from the guards means what it says.  Non-empty = the plan
    contains a leaf shape the guards are BLIND to (e.g. a catalog
    table whose string form lacks the path) -- the registry test
    surfaces it instead of letting the blind spot stay silent."""
    out: list[str] = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.children().size() == 0:
            name = node.nodeName()
            if name not in _BENIGN_LEAVES and not _leaf_source_names(node):
                out.append(name)
        sq = node.subqueries()
        for i in range(sq.size()):
            stack.append(sq.apply(i))
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return sorted(set(out))


def corpus_broadcast_hints(
    df: DataFrame, corpus_tables: frozenset[str] = CORPUS_TABLES
) -> list[str]:
    """``"hint->table"`` for every explicit broadcast hint in the
    ANALYZED logical plan whose subtree reaches a corpus-scaled fixture
    table without passing through a bounding node (limit / scalar
    aggregate -- keyed aggregates are not bounds but measured suspects,
    see :func:`keyed_agg_suspects`).

    The invariant behind the r8/r9 never-broadcast sweeps: an
    ``F.broadcast`` hint DISABLES the size estimator, so a hint on a
    relation that scales with the corpus passes every test SF and then
    builds a multi-GB broadcast at deployment scale -- the r8 sf100
    probe measured q18's hinted customer (15M rows) at scaling exponent
    1.25 vs 1.04 unhinted.  Hints on nation/region (fixed catalogs),
    scalar aggregates, and top-k outputs are legitimate and pass;
    keyed aggregates pass HERE but surface as measured suspects
    (:func:`keyed_agg_suspects`).  Walks subquery plans too.  Empty
    list = the plan obeys the rule.
    """
    out, _ = _guard_walk(df, "ResolvedHint", corpus_tables)
    return out


def unpartitioned_corpus_windows(
    df: DataFrame, corpus_tables: frozenset[str] = CORPUS_TABLES
) -> list[str]:
    """``"window->table"`` for every GLOBAL window (empty
    ``partitionBy``) in the analyzed logical plan whose input reaches
    a corpus-scaled fixture table without a bounding aggregate/limit.

    A window with no partition spec executes as ONE task holding every
    input row (`WindowExec: No Partition Defined` at runtime) -- fine
    over a bounded stream (a global rank of 25 nation rollups), a
    scale-killer over a corpus-width one (a global rank of raw
    lineitem never finishes at 100 TB).  Same bounding walk as
    :func:`corpus_broadcast_hints`: limits and scalar aggregates
    between the window and the scan bound the stream; keyed aggregates
    become measured suspects; anything else corpus-rooted is flagged.
    Sibling of the broadcast-hint guard, enforced registry-wide in
    tests/test_plans.py."""
    out, _ = _guard_walk(df, "Window", corpus_tables)
    return out


def _guard_walk(
    df: DataFrame, root_kind: str, corpus_tables: frozenset[str]
) -> tuple[list[str], list[tuple[str, str, object]]]:
    """Shared walk behind both guards.  Finds every guarded root
    (broadcast ``ResolvedHint`` or global ``Window``), then descends
    its input subtree:

    * a bounding node (:func:`_bounds`: limit / scalar aggregate)
      stops the walk -- provably bounded;
    * a KEYED aggregate on a corpus path stops the walk but is
      recorded as a SUSPECT ``(kind, grouping_keys_sql, java_node)``
      whose group-count growth the registry test measures;
    * a corpus leaf reached with NO bound in between is a hard flag.

    Expression subqueries inside a guarded subtree are NOT walked --
    a scalar/IN subquery contributes a value to a predicate, not rows
    to the broadcast build / window input."""
    kind = "broadcast" if root_kind == "ResolvedHint" else "window"
    flags: list[str] = []
    suspects: list[tuple[str, str, object]] = []
    roots = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        nm = node.nodeName()
        if root_kind == "ResolvedHint" and nm == "ResolvedHint":
            if "broadcast" in node.hints().toString().lower():
                roots.append(node.child())
        elif root_kind == "Window" and nm == "Window":
            if node.partitionSpec().size() == 0:
                roots.append(node.child())
        sq = node.subqueries()
        for i in range(sq.size()):
            stack.append(sq.apply(i))
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    for root in roots:
        stack = [root]
        while stack:
            node = stack.pop()
            if _bounds(node):
                continue
            if node.nodeName() == "Aggregate":
                # keyed aggregate: suspect if its subtree reaches a
                # corpus table; either way the walk stops here (its
                # own cardinality is the question, not its input's).
                reach = set()
                s2 = [node]
                while s2:
                    n2 = s2.pop()
                    if n2.children().size() == 0:
                        reach |= _leaf_source_names(n2) & corpus_tables
                    c2 = n2.children()
                    for i in range(c2.size()):
                        s2.append(c2.apply(i))
                if reach:
                    ges = node.groupingExpressions()
                    keys = ",".join(
                        ges.apply(i).sql() for i in range(ges.size())
                    )
                    suspects.append((kind, keys, node))
                continue
            if node.children().size() == 0:
                for t in sorted(_leaf_source_names(node) & corpus_tables):
                    flags.append(f"{kind}->{t}")
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    return flags, suspects


def keyed_agg_suspects(
    df: DataFrame, corpus_tables: frozenset[str] = CORPUS_TABLES
) -> list[tuple[str, str, object]]:
    """Every keyed Aggregate that is the ONLY thing standing between a
    broadcast hint / global window and a corpus-scaled table:
    ``(kind, grouping_keys_sql, java_logical_node)``.

    These are the guards' former vacuous-pass mode (ADVICE r9 medium):
    statically they prove nothing -- ``lang`` (4 groups at any SF) and
    ``l_orderkey`` (1.5B groups at sf100) look identical.  The registry
    test closes the hole by MEASURING each suspect's group count at two
    SFs (:func:`suspect_group_count`): a bounded domain reads ~1x over
    a 10x data step (or saturates: zval's 2^16 domain reads 2.8x while
    filling in), a corpus key reads ~10x.  The threshold and SF pair
    live with the test."""
    _, hs = _guard_walk(df, "ResolvedHint", corpus_tables)
    _, ws = _guard_walk(df, "Window", corpus_tables)
    return hs + ws


#: Declarative aggregate functions whose buffer holds their CHILD's
#: value: over a string/binary child the buffer attribute is
#: variable-width, HashAggregate refuses the whole Aggregate (every
#: buffer slot must be mutable fixed-width), ObjectHashAggregate only
#: takes TypedImperativeAggregates -- so the rollup lowers to
#: SortAggregate, whose PARTIAL stage sorts its ENTIRE input stream
#: within each partition.  Map-side, so no shuffle-width conf can
#: split the sort: the r10 sf100 probe measured DSIR's
#: ``first(lang)`` per-doc rollup at 12.9 GB of sort spill / exponent
#: 1.06 at BOTH initial shuffle widths, invisible at every smaller SF.
_STRING_BUFFER_AGGS = frozenset({"First", "Last", "Min", "Max"})


def string_buffer_agg_suspects(
    df: DataFrame, corpus_tables: frozenset[str] = CORPUS_TABLES
) -> list[tuple[str, str, object]]:
    """Every KEYED Aggregate that will lower to SortAggregate because
    an aggregate function's buffer is variable-width (First/Last/
    Min/Max over a string/binary child) and whose input subtree
    reaches a corpus-scaled table with no bound in between:
    ``(agg_fns_sql, grouping_keys_sql, child_java_node)``.

    The hazard is the aggregate's INPUT (the partial sort is over the
    stream, not the groups), so the registry test measures the CHILD's
    row growth across SFs via :func:`suspect_group_count` -- a
    pre-reduced input (entity resolution's distinct-name stream)
    saturates and passes; a corpus-wide stream (DSIR's exploded
    n-grams before the r10 fix) reads ~10x and fails.  Scalar
    aggregates are exempt: with no grouping keys SortAggregate needs
    no input ordering, so no sort is inserted.  Fix patterns: promote
    a functionally-dependent string to a GROUPING key (grouping keys
    may be any type -- the DSIR fix), or pre-reduce with a hash-able
    aggregate on (key, string) first."""
    out: list[tuple[str, str, object]] = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if (
            node.nodeName() == "Aggregate"
            and node.groupingExpressions().size() > 0
        ):
            fns: list[str] = []
            exprs = node.expressions()
            estack = [exprs.apply(i) for i in range(exprs.size())]
            while estack:
                e = estack.pop()
                if e.getClass().getSimpleName() in _STRING_BUFFER_AGGS:
                    try:
                        vw = e.dataType().typeName() in ("string", "binary")
                    except Exception:  # pragma: no cover - defensive
                        vw = True
                    if vw:
                        # .sql() (no expr-ids), so suspects pair up
                        # across plans built at different SFs.
                        try:
                            fns.append(e.sql())
                        except Exception:  # pragma: no cover
                            fns.append(e.getClass().getSimpleName())
                ec = e.children()
                for i in range(ec.size()):
                    estack.append(ec.apply(i))
            if fns:
                reach = set()
                s2 = [node.child()]
                while s2:
                    n2 = s2.pop()
                    if _bounds(n2):
                        continue
                    if n2.children().size() == 0:
                        reach |= _leaf_source_names(n2) & corpus_tables
                    c2 = n2.children()
                    for i in range(c2.size()):
                        s2.append(c2.apply(i))
                if reach:
                    ges = node.groupingExpressions()
                    keys = ",".join(
                        ges.apply(i).sql() for i in range(ges.size())
                    )
                    out.append((",".join(sorted(fns)), keys, node.child()))
        sq = node.subqueries()
        for i in range(sq.size()):
            stack.append(sq.apply(i))
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def suspect_group_count(spark, java_node) -> int:
    """Group count of a suspect aggregate: rebuild the logical node as
    a DataFrame (``Dataset.ofRows``) and count its rows -- one row per
    group by definition of Aggregate."""
    from pyspark.sql import DataFrame as PyDataFrame

    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, java_node
    )
    return PyDataFrame(jdf, spark).count()


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters lists from every file scan in the plan -- the
    evidence that a filter on a partition column prunes DIRECTORIES
    (never reads the files) rather than rows."""
    plan = explain_str(df)
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
