"""Registry-WIDE physical-plan invariants — the 100 TB discipline,
enforced structurally instead of query-by-query:

- no ``BatchEvalPython`` anywhere: row-at-a-time Python UDFs are banned
  from every catalog path (Python appears only as Arrow-batched
  mapInPandas/applyInPandas, which print as ArrowEvalPython/MapInPandas
  nodes);
- no ``CartesianProduct`` anywhere: an unbounded non-broadcast cross
  join would be a scale-killer on any path;
- ``BroadcastNestedLoopJoin`` only where the broadcast side is a
  bounded scalar/stats frame (single-row totals, top-N rank lists,
  fraction tables) — the explicit whitelist below. A new query landing
  a BNLJ must either justify itself here (with the bounded side named)
  or restructure;
- no hand-rolled cache outside ``cache.py`` (module ``*_CACHE`` dicts,
  ``PersistRegistry()`` instances, memo roots under ``plans/``).

One sweep, one failure list — so a regression in any registered plan
(the sweep iterates the live REGISTRY; counts are derived, never
hard-coded) names every offender at once.
"""

from __future__ import annotations

import ast
import os

from vectordb_similarity_search_spark.plans import REGISTRY

from .conftest import plan_of

# broadcast side is a bounded aggregate (grand totals, corpus stats,
# query-side top-N lists) — single-row or k-row, never corpus-sized
BNLJ_BOUNDED_BROADCAST = {
    "s_sample_stratified",   # per-stratum fraction table (strata-sized)
    "t_nb_quality",          # class prior row + vocab log-ratio totals
    "t_exact_dedup",         # grand-count row
    "v_triplet_mining",      # anchor-set rank bounds (k rows)
    "r_market_basket",       # item-count total row
    "r_target_encoding",     # global target mean row
    "r_intersect_except",    # branch-count rows
    "v_sim_join_topk",       # query-side top-k list
    "v_hybrid_rrf",          # two bounded top-N rank lists
    "v_hybrid_alpha",        # same two bounded top-50 lists + stats row
    "t_bm25_topk",           # corpus stats row (N, avgdl)
    "t_bm25_indexed",        # index meta row (N, avgdl) + per-term df row
    "t_bm25_incremental",    # same probe shape over the appended store
    "t_idf_common",          # doc-count row
    "t_keyword_tfidf",       # doc-count row (tf side is a bounded hash join)
    "t_bm25_phrase",         # corpus stats row
    "t_bigram_logprob",      # corpus token-total row
    "t_heldout_ppl",         # 1-row TRAIN-vocab total (t_bigram shape)
    "r_winsorized_mean",     # global p01/p99 percentile row
    "e_did",                 # 1-row day-range midpoint scalar broadcast
    "s_time_split",          # 1-row cut scalar + 1-row shared-user count
    "r_pareto_revenue",      # 3-row tier-percentage table
    "d_banding_curve",       # 1-row true-pair-count total + 4-row config table
    "v_rp_distortion",       # 40-row audit-subset non-equi self-join
    "t_nb_calibration",      # class prior row (same NB stack as t_nb_quality)
    "v_centroid_margin",     # |labels|-row centroid table broadcast
    "v_ood_centroid",        # same |labels|-row centroid broadcast
    "r_als_recs",            # 5 requested users' factor rows broadcast
    "t_hashtf_knn",          # query doc's norm: one scalar row broadcast
    "r_triangle_count",      # edge-count row + triangle-count row broadcast
    "v_label_ndcg",          # 20-row query-vector side broadcast (J2 shape)
    "e_power_analysis",      # 1-row stats x 3-row literal MDE cross
    "t_nb_crossval",         # vocab x 3-row literal fold cross
    "t_bm25_prf",            # corpus-stats row + fb-ids + term-frame broadcasts
    "e_cms_user_counts",     # 1-row N-total scalar broadcast (tolerance bound)
}


# ---------------------------------------------------------------------------
# Coarse-partition window lint (round-8 VERDICT #2): a Window whose
# PARTITION BY resolves entirely to bounded-cardinality fixture columns
# hashes every input row onto <= prod(cardinalities) reducers — fine over
# an aggregate-sized frame, a scale-killer over a row-sized one (the
# r_mann_whitney round-7 finding, generalized). The lint walks the
# OPTIMIZED LOGICAL plan: for each Window it resolves the partition
# attributes through Project aliases back to source columns, and if every
# one is bounded it follows the first-child spine below the Window — a
# row-reducing op (Aggregate/Distinct/Limit) before the leaf relation
# means the frame is aggregate-sized (pass); reaching the relation with
# no reduction means the window sorts raw rows on a handful of reducers
# (flag). Routed queries pass because their windows partition on
# (group, quantile-bucket) — the bucket column is not a bounded fixture
# column.
# ---------------------------------------------------------------------------

# known-bounded fixture columns -> distinct-count (from TESTDATA.md
# schemas; these cardinalities are data-model facts, not sf-dependent)
BOUNDED_FIXTURE_COLS = {
    "o_orderpriority": 5,
    "o_orderstatus": 3,
    "l_returnflag": 3,
    "l_linestatus": 2,
    "l_shipmode": 7,
    "l_shipinstruct": 4,
    "r_name": 5,
    "r_regionkey": 5,
    "n_name": 25,
    "n_nationkey": 25,
    "n_regionkey": 5,
    "c_mktsegment": 5,
    "p_mfgr": 5,
    "p_brand": 25,
    "event_type": 5,
    "lang": 5,
    "source": 20,
    "label": 10,
    "kind": 3,
}
MAX_BOUNDED_PRODUCT = 200

_ROW_REDUCING = (
    "Aggregate", "Distinct", "Deduplicate", "GlobalLimit", "LocalLimit",
    "Intersect", "Except",
    # a rank-filter window compiles to WindowGroupLimit: the partial
    # per-group top-k below the exchange bounds the sorted frame at
    # groups x k x partitions rows — the v_grouped_knn shape
    "WindowGroupLimit",
    # Arrow-UDF nodes are opaque: the lint cannot prove the frame is
    # row-sized through them (e.g. grouped_cap_sample's stage-1 prune
    # BOUNDS its output at groups x n per task) — stop, don't flag
    "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow",
    "FlatMapCoGroupsInPandas", "PythonMapInArrow",
)
_LEAVES = (
    "Relation", "LocalRelation", "LogicalRDD", "OneRowRelation", "Range",
    "ExternalRDD", "Scan",
)

import re  # noqa: E402


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _op_name(line: str) -> str:
    stripped = line.lstrip(" :+-")
    return stripped.split(" ", 1)[0].split("[", 1)[0]


def coarse_window_violations(optimized_plan: str) -> list[str]:
    """Window nodes partitioned ONLY on bounded-cardinality fixture
    columns over a row-sized (never-aggregated) frame. Returns one
    descriptive string per violation (empty = clean)."""
    lines = optimized_plan.splitlines()
    # global alias map: exprId -> source attribute name (or None when the
    # alias is a computed expression — unresolvable, treated unbounded)
    alias_src: dict[str, str | None] = {}
    # every alias target is unresolvable by default; a second pass marks
    # the pure attribute-rename cases (`col#1 AS alias#2`) resolvable
    for m in re.finditer(r" AS (\w+)#(\d+)", optimized_plan):
        alias_src.setdefault(m.group(2), None)
    for m in re.finditer(
        r"[\[\(, ](\w+)#(\d+)L? AS (\w+)#(\d+)", optimized_plan
    ):
        alias_src[m.group(4)] = m.group(1) + "#" + m.group(2)

    def resolve(name: str, eid: str, depth: int = 0) -> str | None:
        """Follow alias chains to a source column NAME (or None)."""
        if depth > 8:
            return None
        if name in BOUNDED_FIXTURE_COLS:
            return name
        src = alias_src.get(eid)
        if src is None:
            return None
        sm = re.fullmatch(r"(\w+)#(\d+)", src)
        return resolve(sm.group(1), sm.group(2), depth + 1) if sm else None

    out = []
    for i, line in enumerate(lines):
        if _op_name(line) != "Window":
            continue
        pm = re.search(r"\], \[([^\]]*)\], \[[^\]]*\]\s*$", line)
        if not pm or not pm.group(1).strip():
            continue  # empty partition = global window, a different lint
        part_cols = re.findall(r"(\w+)#(\d+)", pm.group(1))
        resolved = [resolve(n, e) for n, e in part_cols]
        if any(r is None for r in resolved):
            continue  # at least one unbounded/unknown partition column
        product = 1
        for r in resolved:
            product *= BOUNDED_FIXTURE_COLS[r]
        if product > MAX_BOUNDED_PRODUCT:
            continue
        # first-child spine walk below the Window
        base = _indent(line)
        verdict = "row-sized"
        for nxt in lines[i + 1 :]:
            if _indent(nxt) <= base:
                break
            op = _op_name(nxt)
            if op in _ROW_REDUCING:
                verdict = "reduced"
                break
            if any(op.startswith(leaf) for leaf in _LEAVES):
                break
            base = _indent(nxt)
        if verdict == "row-sized":
            out.append(
                f"Window partitioned on {sorted(set(resolved))} "
                f"(<= {product} reducers) over a row-sized frame"
            )
    return out


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_coarse_window_lint_discriminates(spark, sf_dir):
    """The lint itself must (a) flag a deliberately-wrong per-priority
    rank over raw orders — including through an alias — and (b) pass the
    same window once the frame is aggregate-sized."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bad = o.select(
        F.col("o_orderpriority").alias("grp"), "o_totalprice"
    ).withColumn(
        "r",
        F.rank().over(Window.partitionBy("grp").orderBy("o_totalprice")),
    )
    assert coarse_window_violations(_optimized(bad)), _optimized(bad)

    agg = o.groupBy("o_orderpriority", "o_orderdate").agg(
        F.sum("o_totalprice").alias("s")
    )
    ok = agg.withColumn(
        "cs",
        F.sum("s").over(
            Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
        ),
    )
    assert coarse_window_violations(_optimized(ok)) == []

    # high-cardinality co-partition key disarms the bound
    fine = o.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("o_orderpriority", "o_custkey").orderBy(
                "o_totalprice"
            )
        ),
    )
    assert coarse_window_violations(_optimized(fine)) == []


def test_registry_plan_invariants(spark, sf_dir):
    offenders: dict[str, list[str]] = {
        "BatchEvalPython": [],
        "CartesianProduct": [],
        "BroadcastNestedLoopJoin": [],
    }
    for name, spec in REGISTRY.items():
        plan = plan_of(spec.fn(spark, sf_dir))
        if "BatchEvalPython" in plan:
            offenders["BatchEvalPython"].append(name)
        if "CartesianProduct" in plan:
            offenders["CartesianProduct"].append(name)
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in BNLJ_BOUNDED_BROADCAST
        ):
            offenders["BroadcastNestedLoopJoin"].append(name)
    assert not any(offenders.values()), offenders


def test_registry_no_coarse_group_windows_at_scale(spark, sf_dir):
    """The 100-TB question the lint asks is about the plan a query would
    run AT SCALE, so every registry plan is built with the dimension-
    window routing threshold forced to zero (the branch a huge frame
    takes) before linting: a query whose scale-mode plan still windows
    raw rows on a bounded-cardinality partition key is a genuine
    scale-killer (the round-7 r_mann_whitney finding, now structural).
    Fixture-size plans legitimately take the plain-window branch — they
    are NOT linted, exactly because the routing exists."""
    from vectordb_similarity_search_spark import cache
    from vectordb_similarity_search_spark.operators import ranking

    offenders = []
    orig = ranking.DIMENSION_WINDOW_MAX_BYTES
    ranking.DIMENSION_WINDOW_MAX_BYTES = -1
    # builders are memoized per (session, sf_dir, query); the patched
    # threshold only reaches a FRESH build — clear going in, and clear
    # again on the way out so scale-mode plans don't leak to later tests
    cache.clear("plan")
    try:
        for name, spec in REGISTRY.items():
            hits = coarse_window_violations(_optimized(spec.fn(spark, sf_dir)))
            if hits:
                offenders.append(f"{name}: {hits}")
    finally:
        ranking.DIMENSION_WINDOW_MAX_BYTES = orig
        cache.clear("plan")
    assert not offenders, offenders


# Cache regrowth lint: the session cache, the persisted-frame registry and
# the memo root live in cache.py only; a new hand-rolled copy elsewhere
# would bring back its own key recipe and its own staleness bugs.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "vectordb_similarity_search_spark")
_CACHE_MODULE = os.path.join(_PKG, "cache.py")


def cache_regrowth(tree: ast.Module) -> list[tuple[str, int]]:
    """``(rule, line)`` for each module-level ``*_CACHE`` dict,
    ``PersistRegistry()`` instance and ``tempfile.gettempdir()`` call."""
    hits = []
    for node in tree.body:
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign) else []
        )
        value = getattr(node, "value", None)
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id in ("dict", "defaultdict", "OrderedDict")
        )
        for t in targets:
            if is_dict and isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                hits.append(("_CACHE dict", node.lineno))
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name == "PersistRegistry":
            hits.append(("PersistRegistry()", node.lineno))
        if name == "gettempdir":
            hits.append(("gettempdir()", node.lineno))
    return hits


def _py_sources() -> list[str]:
    paths = [os.path.join(_REPO, "bench.py")]
    for top in (_PKG, os.path.join(_REPO, "scripts")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(paths)


def test_cache_regrowth_lint_discriminates():
    """The lint must not pass vacuously: it flags the one allowed
    registry instance and memo-root call in cache.py, and a re-added
    module dict."""
    with open(_CACHE_MODULE) as fh:
        rules = sorted(r for r, _ in cache_regrowth(ast.parse(fh.read())))
    assert rules == ["PersistRegistry()", "gettempdir()"], rules
    src = "_ROW_CACHE: dict[str, int] = {}\n_FIT_CACHE = dict()\nREGISTRY = {}\n"
    assert [r for r, _ in cache_regrowth(ast.parse(src))] == ["_CACHE dict"] * 2


def test_no_cache_regrowth_outside_cache_module():
    offenders = []
    for path in _py_sources():
        if path == _CACHE_MODULE:
            continue
        with open(path) as fh:
            hits = cache_regrowth(ast.parse(fh.read()))
        in_plans = path.startswith(os.path.join(_PKG, "plans") + os.sep)
        for rule, line in hits:
            if rule != "gettempdir()" or in_plans:
                offenders.append(f"{os.path.relpath(path, _REPO)}:{line}: {rule}")
    assert not offenders, offenders


# Commit regrowth lint: directory renames, atomic file replaces and the
# park name live in commit.py only, so every publish shares one crash
# protocol and one recovery. Allowed elsewhere, per (module, function):
_COMMIT_MODULE = os.path.join(_PKG, "commit.py")
_RENAME_ALLOWED = {
    # moves inside a versioned table's ``_history`` store (hoisting the
    # parked snapshot's versions, archiving the park) — the swap itself
    # went through commit.swap; versioning is timetravel's decision
    ("operators/timetravel.py", "_hoist_history"),
    ("operators/timetravel.py", "_archive_park"),
    # adds NEW files to the hidden ``_tombstones`` store: nothing live is
    # replaced, so there is nothing to park or roll forward
    ("operators/ann.py", "_publish_tombstones"),
    # writes a committed test-fixture ``.npy``, not a table
    ("plans/nonsql_queries.py", "pin_ivf_centers_fixture"),
}


def commit_regrowth(tree: ast.Module) -> list[tuple[str, int, str | None]]:
    """``(rule, line, enclosing function)`` for each ``os.rename`` /
    ``os.replace`` call and each string literal holding ``__old_``."""
    hits = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
            and node.func.attr in ("rename", "replace")
        ):
            hits.append((f"os.{node.func.attr}", node.lineno, func))
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and "__old_" in node.value:
            hits.append(("__old_", node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return hits


def test_commit_regrowth_lint_discriminates():
    """The lint must not pass vacuously: it flags commit.py's own park
    name, rename and replace, and an ``os.replace`` re-added to
    operators/merge.py."""
    with open(_COMMIT_MODULE) as fh:
        rules = {r for r, _, _ in commit_regrowth(ast.parse(fh.read()))}
    assert rules == {"os.rename", "os.replace", "__old_"}, rules
    with open(os.path.join(_PKG, "operators", "merge.py")) as fh:
        src = fh.read()
    assert commit_regrowth(ast.parse(src)) == []
    src += "\n\ndef _publish(tmp, live):\n    os.replace(tmp, live)\n"
    assert [(r, f) for r, _, f in commit_regrowth(ast.parse(src))] == [
        ("os.replace", "_publish")
    ]


def test_no_commit_regrowth_outside_commit_module():
    offenders = []
    for path in _py_sources():
        if path == _COMMIT_MODULE or not path.startswith(_PKG + os.sep):
            continue
        rel = os.path.relpath(path, _PKG)
        with open(path) as fh:
            for rule, line, func in commit_regrowth(ast.parse(fh.read())):
                if rule == "__old_" or (rel, func) not in _RENAME_ALLOWED:
                    offenders.append(f"{rel}:{line}: {rule} in {func}")
    assert not offenders, offenders


# Routing lint: the plain-vs-bucketed window choice (the Catalyst size
# estimate against the dimension threshold, and the routed branch's
# persist) lives in operators/ranking.py only; a plan builder that
# re-derives it brings back its own branch and its own copy of the
# bucketed plan.
_RANKING_MODULE = os.path.join(_PKG, "operators", "ranking.py")
_ROUTING_NAMES = {
    "estimated_plan_bytes", "DIMENSION_WINDOW_MAX_BYTES", "persist_dimension_frame",
}


def routing_regrowth(tree: ast.Module) -> list[tuple[str, int]]:
    """``(name, line)`` for each name, attribute, import or definition
    spelling one of the routing names."""
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, (ast.alias, ast.FunctionDef)):
            name = node.name
        else:
            continue
        if name in _ROUTING_NAMES:
            hits.append((name, getattr(node, "lineno", 0)))
    return hits


def test_routing_regrowth_lint_discriminates():
    """The lint must not pass vacuously: it flags ranking.py's own
    threshold and estimate, and an inline branch re-added to a plan
    module."""
    with open(_RANKING_MODULE) as fh:
        names = {n for n, _ in routing_regrowth(ast.parse(fh.read()))}
    assert names == {"estimated_plan_bytes", "DIMENSION_WINDOW_MAX_BYTES"}, names
    with open(os.path.join(_PKG, "plans", "window_queries.py")) as fh:
        src = fh.read()
    assert routing_regrowth(ast.parse(src)) == []
    src += (
        "\n\ndef _branch(per):\n"
        "    from ..operators.ranking import persist_dimension_frame\n"
        "    if ranking.estimated_plan_bytes(per) <= ranking.DIMENSION_WINDOW_MAX_BYTES:\n"
        "        return per\n"
        "    return persist_dimension_frame(per)\n"
    )
    assert sorted(n for n, _ in routing_regrowth(ast.parse(src))) == [
        "DIMENSION_WINDOW_MAX_BYTES", "estimated_plan_bytes",
        "persist_dimension_frame", "persist_dimension_frame",
    ]


def test_no_routing_outside_ranking_module():
    offenders = []
    for path in _py_sources():
        if path == _RANKING_MODULE or not path.startswith(_PKG + os.sep):
            continue
        with open(path) as fh:
            for name, line in routing_regrowth(ast.parse(fh.read())):
                offenders.append(f"{os.path.relpath(path, _PKG)}:{line}: {name}")
    assert not offenders, offenders


# Reachability lint: every top-level function and class of the package is
# reached, by name, from a registry query builder, a module-level
# statement, the benchmarks (perfbench/, bench.py), the driver entry
# (__spark_entry__.py), the fixture generator, or an identifier named in
# COVERAGE.md (the one allow-list: documented components that nothing
# runs say there why they stay public). A keyword fork that no reached
# call selects does not count as a reference: inside a reached function,
# the branch of ``if p == "const":`` (or ``!=``, ``is``, ``is not``) on a
# keyword ``p`` with a literal default is walked only when some reached
# call passes that value, so code behind a test-only ``impl=``-style
# option is flagged too.
_REACH_ROOT_FILES = ["bench.py", "__spark_entry__.py", "scripts/gen_expected_fixtures.py"]


def _literal_defaults(fn) -> dict:
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    pairs += [(k, d) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return {k.arg: d.value for k, d in pairs if isinstance(d, ast.Constant)}


def _live_branches(test, defaults: dict, passed: dict) -> tuple[bool, bool]:
    """(body live, orelse live) of an ``if`` on a literal keyword fork;
    ``passed[p]`` is the set of literals reached calls pass as ``p=``, or
    None when one passes a non-literal."""
    if not (
        isinstance(test, ast.Compare) and len(test.ops) == 1
        and isinstance(test.left, ast.Name) and test.left.id in defaults
        and isinstance(test.comparators[0], ast.Constant)
        and isinstance(test.ops[0], (ast.Eq, ast.NotEq, ast.Is, ast.IsNot))
        and passed.get(test.left.id, set()) is not None
    ):
        return True, True
    values = passed.get(test.left.id, set()) | {defaults[test.left.id]}
    const = test.comparators[0].value
    hit, miss = const in values, bool(values - {const})
    return (hit, miss) if isinstance(test.ops[0], (ast.Eq, ast.Is)) else (miss, hit)


def _references(node, defaults: dict, passed: dict, names: set, kwargs: list) -> None:
    """Collect the names and attribute names ``node`` uses, and the
    ``(keyword, literal or None)`` of every call, skipping dead forks."""
    if isinstance(node, ast.If):
        body, orelse = _live_branches(node.test, defaults, passed)
        _references(node.test, defaults, passed, names, kwargs)
        for live, stmts in ((body, node.body), (orelse, node.orelse)):
            for stmt in stmts if live else ():
                _references(stmt, defaults, passed, names, kwargs)
        return
    if isinstance(node, ast.Name):
        names.add(node.id)
    elif isinstance(node, ast.Attribute):
        names.add(node.attr)
    elif isinstance(node, ast.Call):
        kwargs += [
            (k.arg, k.value.value if isinstance(k.value, ast.Constant) else None)
            for k in node.keywords if k.arg
        ]
    for child in ast.iter_child_nodes(node):
        _references(child, defaults, passed, names, kwargs)


def unreached_definitions(extra: tuple[str, str] | None = None) -> list[str]:
    """``module:line name`` of every top-level package def no root reaches;
    ``extra`` = (package-relative module, source appended to it)."""
    defs, roots, aliases = {}, [], {}
    for path in _py_sources():
        if not path.startswith(_PKG + os.sep):
            continue
        rel = os.path.relpath(path, _PKG)
        with open(path) as fh:
            src = fh.read()
        if extra and rel == extra[0]:
            src += extra[1]
        tree = ast.parse(src)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, node.name)] = node
                decos = [d.func if isinstance(d, ast.Call) else d for d in node.decorator_list]
                if any(getattr(d, "id", None) == "query" for d in decos):
                    roots.append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots.append(node)
        for node in ast.walk(tree):
            if isinstance(node, ast.alias) and node.asname:
                aliases.setdefault(node.asname, set()).add(node.name.rsplit(".", 1)[-1])
    bench_dir = os.path.join(_REPO, "perfbench")
    files = _REACH_ROOT_FILES + [
        os.path.join("perfbench", f) for f in sorted(os.listdir(bench_dir)) if f.endswith(".py")
    ]
    for rel in files:
        with open(os.path.join(_REPO, rel)) as fh:
            roots.append(ast.parse(fh.read()))
    with open(os.path.join(_REPO, "COVERAGE.md")) as fh:
        documented = {
            w for span in re.findall(r"`([^`]+)`", fh.read())
            for w in re.findall(r"[A-Za-z_]\w*", span)
        }
    by_name: dict[str, list] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    rooted = {key for key, node in defs.items() if node in roots}
    reached, passed = set(rooted), {}
    while True:  # to a fixed point: more reached code, more passed keywords
        names, kwargs = set(documented), []
        for node in roots:
            _references(node, {}, passed, names, kwargs)
        for key in reached:
            node = defs[key]
            defaults = {} if isinstance(node, ast.ClassDef) else _literal_defaults(node)
            _references(node, defaults, passed, names, kwargs)
        names |= {n for a in list(names) for n in aliases.get(a, ())}
        now_passed: dict = {}
        for k, v in kwargs:
            if v is None or now_passed.get(k, set()) is None:
                now_passed[k] = None
            else:
                now_passed.setdefault(k, set()).add(v)
        now_reached = rooted | {key for n in names for key in by_name.get(n, ())}
        if (now_reached, now_passed) == (reached, passed):
            break
        reached, passed = now_reached, now_passed
    return sorted(
        f"{rel}:{defs[(rel, name)].lineno} {name}" for rel, name in defs if (rel, name) not in reached
    )


def test_reachability_lint_discriminates():
    """The lint must not pass vacuously: a dead def appended to a module is
    flagged, and so is a helper that only a keyword fork no caller selects
    reaches; passing that keyword from a reached call clears it."""
    dead = "\n\ndef _nobody_calls_this(df):\n    return df\n"
    assert [h.split()[-1] for h in unreached_definitions(("operators/topk.py", dead))] == [
        "_nobody_calls_this"
    ]
    fork = (
        "\n\ndef _forked_helper(df):\n    return df\n\n\n"
        "def knn_forked(df, *, impl='plain'):\n"
        "    if impl == 'fast':\n        return _forked_helper(df)\n    return df\n\n\n"
        "def _fork_caller(df):\n    return knn_forked(df)\n\n\n"
        "FORKED = _fork_caller\n"
    )
    assert [h.split()[-1] for h in unreached_definitions(("operators/topk.py", fork))] == [
        "_forked_helper"
    ]
    selected = fork.replace("return knn_forked(df)", "return knn_forked(df, impl='fast')")
    assert unreached_definitions(("operators/topk.py", selected)) == []


def test_no_unreached_definitions():
    unreached = unreached_definitions()
    assert not unreached, unreached
