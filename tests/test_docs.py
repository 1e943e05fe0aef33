"""Documentation-completeness lints.

Round-5 post-mortem (VERDICT r5 "What's wrong" §1): ``q_ts_changepoint``
landed in an end-of-round snapshot commit with a registry entry but NO
SURVEY.md §2 row and no bench extended entry — meaning the driver could
grade a key the judge had no documentation trail for.  These lints make
that impossible: every registry key must appear in SURVEY.md §2 (as a
backticked `q_...` anchor).
"""

from __future__ import annotations

import re
from pathlib import Path

from ngram_analytics_spark.queries import build_registry

REPO = Path(__file__).resolve().parent.parent


def test_every_registry_key_has_a_survey_anchor():
    survey = (REPO / "SURVEY.md").read_text()
    anchored = set(re.findall(r"`(q_[a-z0-9_]+)`", survey))
    reg = build_registry()
    missing = sorted(set(reg.queries) - anchored)
    assert not missing, (
        "registry keys with no SURVEY.md §2 anchor (add the row in the "
        f"same commit that registers the key): {missing}"
    )


def test_every_bench_extended_key_is_registered():
    """bench.py's extended list may only reference real registry keys
    (a typo there silently drops the measurement)."""
    import bench

    reg = build_registry()
    unknown = sorted(set(bench.EXTENDED) - set(reg.queries))
    assert not unknown, f"bench extended keys not in registry: {unknown}"


def test_no_double_division_truncate_cast():
    """Source-convention lint (VERDICT r6 "Next round" item 3): the
    repo's truncate-vs-round discipline requires integer division to
    be spelled as SQL integer `div` or explicit ``floor()`` — never as
    a double division followed by ``.cast("long"/"int")``, which
    truncates the correctly-rounded double quotient and silently
    diverges from an oracle's integer `//` whenever the quotient is
    inexact in binary.  The r6 bloom word-index slip
    (pipeline_q.py, `(pos / 32).cast("long")`) motivated this lint."""
    pat = re.compile(r"/\s*[^)]*\)\s*\.cast\(\"(?:long|int)\"\)")
    offenders = []
    for path in sorted(
        (REPO / "ngram_analytics_spark").rglob("*.py")
    ):
        for i, line in enumerate(
            path.read_text().splitlines(), start=1
        ):
            if "floor" in line:
                continue
            if pat.search(line):
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, (
        "double-division-then-truncate-cast sites (spell integer "
        f"`div` or explicit floor()): {offenders}"
    )


def test_bench_stdout_is_headline_only():
    """bench.py must print EXACTLY one JSON line (the compact headline).

    The driver tail-captures stdout: a detail dict on any earlier line
    can be sliced into the capture window and misread — BENCH_r04 was
    voided by an inlined extended dict, and BENCH_r07's tail recorded
    57 extended_spread RATIOS as per-query seconds (VERDICT r7 "What's
    wrong" §1).  Detail lives only in bench_detail.json."""
    import ast

    tree = ast.parse((REPO / "bench.py").read_text())
    prints = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "print"
    ]
    assert len(prints) == 1, (
        f"bench.py has {len(prints)} print() calls; the driver's tail "
        "capture requires stdout to be exactly the one headline line"
    )


def test_survey_declared_key_counts_match_registry():
    """Any 'NNN declared keys' phrase in SURVEY.md must equal the live
    registry size (VERDICT r7 "What's wrong" §4: Phase-7 prose said 289
    while the registry held 294 — prose may never drift from code)."""
    survey = (REPO / "SURVEY.md").read_text()
    reg = build_registry()
    stale = [
        m
        for m in re.findall(r"(\d+) declared (?:query )?keys", survey)
        if int(m) != len(reg.queries)
    ]
    assert not stale, (
        f"SURVEY.md claims declared-key counts {stale} but the registry "
        f"holds {len(reg.queries)} — update the prose (or drop the number)"
    )


def test_no_tokenizer_expression_inside_positional_lambdas():
    """Array-building expressions must be HOISTED to their own
    projected column before any positional lambda consumes them:
    ``ngram_col(F.split(...))`` / ``skipgram_col(F.split(...))`` /
    ``element_at(F.split(...), i)`` re-evaluate the split once per
    lambda ELEMENT — O(tokens^2) per document.  Invisible on the
    short shipped corpus, 18-74x on 100x-longer documents at equal
    token mass (tools/longdoc_probe.py, round 9).  Pass a hoisted
    column name instead; the hoisted column is referenced >= 2 times
    by the n-gram operators, so CollapseProject cannot re-inline the
    non-cheap split."""
    pat = re.compile(
        r"(?:ngram_col|skipgram_col)\(\s*F\.split\("
        r"|element_at\(\s*F\.split\("
        r"|\.substr\(\s*i\b"
    )
    offenders = []
    for path in sorted(
        (REPO / "ngram_analytics_spark" / "queries").rglob("*.py")
    ):
        src = path.read_text()
        for m in pat.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            offenders.append(f"{path.name}:{line}")
    assert not offenders, (
        "tokenizer expression inside a positional lambda — hoist "
        f"the split to its own projection first: {offenders}"
    )


def test_every_power_sum_documents_its_headroom():
    """r11 tick-sum audit (VERDICT r10 item 3 'make that universal'):
    any query whose source sums a PRODUCT of columns (the power-sum
    shape that silently wrapped q_ml_spearman at ~5.5e4 rows and
    q_ml_brier at ~9.2e6 rows) must either accumulate in 128-bit
    (DECIMAL(38,0)/HUGEINT) or carry a greppable headroom note in its
    docstring stating where int64 runs out and what to widen."""
    import importlib
    import inspect

    mods = (
        "corpus_q", "events_q", "graph_q", "llm_q", "pipeline_q",
        "quality_q", "relational", "relational2", "relational3",
        "relational4", "relational5", "relational6", "relational7",
        "sampling_q", "text_q", "timeseries_q", "udf_q", "layout_q",
    )
    # paren-tolerant (ADVICE r11): F.sum(F.col("a") * F.col("b")) has
    # a ')' before the '*', and SQL spellings multiply function calls
    # — allow one level of nested parens on the left operand in both
    # branches so those call sites stay inside the audit.
    power_sum = re.compile(
        r"F\.sum\((?:[^()\n]|\([^()\n]*\))*\*"
        r"|sum\(\s*(?:\w+\([^()\n]*\)|\w+)\s*\*"
    )
    note = re.compile(
        r"headroom|wrap|int64-safe|DECIMAL|HUGEINT|128-bit", re.I
    )
    undocumented = []
    for m in mods:
        mod = importlib.import_module(
            f"ngram_analytics_spark.queries.{m}"
        )
        for name, fn in vars(mod).items():
            if not name.startswith("q_") or not callable(fn):
                continue
            try:
                src = inspect.getsource(fn)
            except (OSError, TypeError):
                continue
            if power_sum.search(src) and not (
                note.search(fn.__doc__ or "") or note.search(src)
            ):
                undocumented.append(f"{m}.{name}")
    assert not undocumented, (
        "power-sum aggregates with neither 128-bit accumulation nor a "
        f"headroom docstring note: {undocumented}"
    )


def test_every_public_helper_has_a_caller():
    """Dead-helper lint: every public top-level function of the
    operator, function, plan, source and streaming layers (and of
    ``catalog``, ``session`` and ``telemetry``) must be referenced
    somewhere other than its own ``def`` — by the package, the tests,
    ``tools/``, ``perfbench/`` or ``__spark_entry__.py``.  A helper
    nothing calls is an untested second path that still has to be read
    and kept in step; delete it instead.  References are AST names,
    attributes and import aliases, so a mention in a docstring or
    comment does not count, and neither does a recursive call inside
    the helper."""
    import ast
    from collections import Counter

    pkg = REPO / "ngram_analytics_spark"
    scoped = [
        p
        for d in ("operators", "functions", "plans", "sources", "streaming")
        for p in sorted((pkg / d).rglob("*.py"))
    ] + [pkg / "catalog.py", pkg / "session.py", pkg / "telemetry.py"]
    searched = (
        sorted(pkg.rglob("*.py"))
        + sorted((REPO / "perfbench").rglob("*.py"))
        + sorted((REPO / "tools").rglob("*.py"))
        + sorted((REPO / "tests").rglob("*.py"))
        + [REPO / "__spark_entry__.py"]
    )

    def names(node: ast.AST) -> list[str]:
        out = []
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.append(n.id)
            elif isinstance(n, ast.Attribute):
                out.append(n.attr)
            elif isinstance(n, ast.alias):
                out.append(n.name.rsplit(".", 1)[-1])
        return out

    trees = {p: ast.parse(p.read_text()) for p in searched}
    uses = Counter(n for tree in trees.values() for n in names(tree))
    dead = [
        f"{path.relative_to(REPO)}:{node.name}"
        for path in scoped
        for node in trees[path].body
        if isinstance(node, ast.FunctionDef)
        and not node.name.startswith("_")
        and uses[node.name] == names(node).count(node.name)
    ]
    assert not dead, f"public helpers nothing references: {dead}"


def test_no_conf_set_outside_the_session_pin():
    """Session-global confs are set in two places only: the
    session factory ``get_spark`` and ``catalog._pin``, once per session. A
    ``.conf.set(`` anywhere else in the package changes the conf under
    every other caller of the session, who may be planning or running
    at that moment."""
    import ast

    pkg = REPO / "ngram_analytics_spark"
    allowed = {("catalog.py", "_pin"), ("session.py", "get_spark")}
    found = []

    def scan(node, rel, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan(child, rel, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "set"
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
                and (rel, owner) not in allowed
            ):
                found.append(f"{rel}:{child.lineno} in {owner}")
            scan(child, rel, owner)

    for path in sorted(pkg.rglob("*.py")):
        scan(ast.parse(path.read_text()), str(path.relative_to(pkg)), None)
    assert not found, f".conf.set( outside the session pin: {found}"


def test_no_job_groups_or_status_reads_outside_telemetry():
    """Spark job groups and the driver's status tracker and store
    belong to ``telemetry``: a second place that sets a job group would
    retag the runner's phases under it, and a second reader of the
    tracker would be a second way of counting a query's jobs. The
    package, ``bench.py`` and ``tools/`` are scanned; tests and
    ``perfbench/`` are exempt."""
    import ast

    names = {"setJobGroup", "setJobDescription", "statusTracker", "statusStore"}
    pkg = REPO / "ngram_analytics_spark"
    files = (
        sorted(pkg.rglob("*.py"))
        + sorted((REPO / "tools").rglob("*.py"))
        + [REPO / "bench.py"]
    )
    found = [
        f"{path.relative_to(REPO)}:{node.lineno} {node.attr}"
        for path in files
        if path != pkg / "telemetry.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr in names
    ]
    assert not found, f"job groups or status reads outside telemetry: {found}"


def test_no_scratch_paths_outside_catalog_scratch():
    """Every on-disk working directory of the package comes from
    ``catalog.scratch``: one root per process, keyed by the tables a
    copy is made from, removed at exit. Temp-dir lookups, exit hooks,
    ``/tmp`` literals, the warehouse dir and application ids anywhere
    else would bring back a second naming rule or lifetime."""
    import ast

    pkg = REPO / "ngram_analytics_spark"
    names = {"tempfile", "atexit", "applicationId"}
    found = []

    def bad(node) -> bool:
        if isinstance(node, ast.Import):
            return any(a.name.split(".")[0] in names for a in node.names)
        if isinstance(node, ast.ImportFrom):
            return (node.module or "").split(".")[0] in names
        if isinstance(node, ast.Name):
            return node.id in names
        if isinstance(node, ast.Attribute):
            return node.attr in names
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return (node.value.startswith("/tmp")
                    or "spark.sql.warehouse.dir" in node.value)
        return False

    def scan(node, rel, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan(child, rel, child.name)
                continue
            if bad(child) and (rel, owner) != ("catalog.py", "scratch"):
                found.append(f"{rel}:{child.lineno} in {owner}")
            scan(child, rel, owner)

    for path in sorted(pkg.rglob("*.py")):
        scan(ast.parse(path.read_text()), str(path.relative_to(pkg)), None)
    assert not found, f"scratch paths outside catalog.scratch: {found}"
