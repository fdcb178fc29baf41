"""Property tests for the integrity/maintenance and corpus-prep operators
(integrity_plans.py, corpus_plans.py) — the invariants that make them safe
to run incrementally at 100 TB, beyond the value-hash parity the oracle
gate already proves.
"""

from __future__ import annotations

import ast
import os
import re

from pyspark.sql import functions as F

from crz_scraper_spark.catalog import load_table
from crz_scraper_spark.plans.corpus_plans import (
    _CHUNK_STRIDE,
    _CHUNK_WORDS,
    doc_chunking,
)
from crz_scraper_spark.plans.integrity_plans import (
    _Z_BITS,
    _row_hash_spark,
    incremental_daily_rollup,
    table_checksum,
    zorder_layout_key,
)

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_checksum_merges_by_xor(spark):
    """checksum(A ∪ B) == checksum(A) XOR checksum(B) for a disjoint split —
    the property that lets replica comparison merge partial scans instead of
    rescanning a partition in one task (xor stays an exact BIGINT at any
    scale; a sum would overflow int64 / lose float precision)."""
    events = load_table(spark, SF_DIR, "events")
    whole = (
        events.agg(F.bit_xor(_row_hash_spark()).alias("c")).first()["c"]
    )
    parts = (
        events.groupBy((F.col("event_id") % 2).alias("half"))
        .agg(F.bit_xor(_row_hash_spark()).alias("c"))
        .collect()
    )
    assert len(parts) == 2
    import functools, operator
    assert functools.reduce(operator.xor, (r["c"] for r in parts)) == whole


def test_checksum_detects_single_row_change(spark):
    """Flipping one row's content changes that day's checksum and no
    other's."""
    base = {r["day"]: r["checksum"] for r in table_checksum(spark, SF_DIR).collect()}
    events = load_table(spark, SF_DIR, "events")
    tampered = events.withColumn(
        "user_id",
        F.when(F.col("event_id") == 0, F.col("user_id") + 1).otherwise(
            F.col("user_id")
        ),
    )
    changed_day = (
        events.filter(F.col("event_id") == 0)
        .select(F.to_date(F.col("ts").cast("timestamp")).alias("d"))
        .first()["d"]
    )
    after = {
        r["day"]: r["checksum"]
        for r in tampered.groupBy(
            F.to_date(F.col("ts").cast("timestamp")).alias("day")
        )
        .agg(F.count("*").alias("n_rows"), F.bit_xor(_row_hash_spark()).alias("checksum"))
        .collect()
    }
    assert after[changed_day] != base[changed_day]
    assert all(after[d] == base[d] for d in base if d != changed_day)


def test_incremental_rollup_equals_direct(spark):
    """Merged base+delta partials must equal the direct full aggregate —
    the invariant that makes O(increment) daily maintenance sound."""
    inc = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in incremental_daily_rollup(spark, SF_DIR).collect()
    }
    events = load_table(spark, SF_DIR, "events")
    direct = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events.groupBy(
            F.to_date(F.col("ts").cast("timestamp")).alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert inc == direct


def test_zorder_key_roundtrip(spark):
    """De-interleaving the even/odd bits of zkey recovers the low 16 bits
    of both inputs — the key really encodes both dimensions."""
    rows = zorder_layout_key(spark, SF_DIR).limit(200).collect()
    assert rows
    mask = (1 << _Z_BITS) - 1
    for r in rows:
        a = b = 0
        for i in range(_Z_BITS):
            a |= ((r["zkey"] >> (2 * i)) & 1) << i
            b |= ((r["zkey"] >> (2 * i + 1)) & 1) << i
        assert a == (r["user_id"] & mask)
        assert b == (r["day_ord"] & mask)


def test_chunking_covers_every_word_once_per_stride(spark):
    """Chunk starts are exactly 1, 1+stride, ...; the union of chunk spans
    covers [1, n_words]; every chunk except the last is full-length iff
    enough words remain."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.size(F.expr("filter(split(lower(text), ' +'), w -> w <> '')")).alias(
            "n"
        ),
    )
    n_words = {r["doc_id"]: r["n"] for r in docs.collect()}
    by_doc: dict = {}
    for r in doc_chunking(spark, SF_DIR).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        n = n_words[doc_id]
        starts = sorted(c["chunk_start"] for c in chunks)
        assert starts == list(range(1, n + 1, _CHUNK_STRIDE))
        covered = max(c["chunk_start"] + c["chunk_words"] - 1 for c in chunks)
        assert covered == n  # spans reach exactly the last word
        for c in chunks:
            expected = min(_CHUNK_WORDS, n - c["chunk_start"] + 1)
            assert c["chunk_words"] == expected


def _executed_plan(df) -> str:
    df.count()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def test_chunking_plan_is_map_only(spark):
    """doc_chunking must not shuffle beyond the single-file fan_out — the
    property that makes it scale linearly with input bytes."""
    from crz_scraper_spark.plans.corpus_plans import doc_chunking

    plan = _executed_plan(doc_chunking(spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan  # fan_out only
    assert "SortAggregate" not in plan and "HashAggregate" not in plan, plan


def test_boilerplate_blacklist_broadcasts(spark):
    """The frequent-gram blacklist must reach the per-doc side as a
    broadcast (it is frequency-capped by construction): since r11 it is
    ONE collected-array row on a BroadcastNestedLoopJoin, and the per-doc
    counts are per-row array arithmetic — no per-gram hash-join probe, no
    docs-sized re-aggregation exchange after the join (the only exchanges
    are the two fan-out repartitions, the gram-DF aggregate, and the
    blacklist-array collect). Corpus-sized data never sort-merge-joins."""
    from crz_scraper_spark.plans.corpus_plans import boilerplate_ngram_filter

    plan = _executed_plan(boilerplate_ngram_filter(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # No aggregation sits above the join: counts are per-row.
    join_pos = plan.index("BroadcastNestedLoopJoin")
    assert "HashAggregate" not in plan[:join_pos], plan[:join_pos]


def test_checksum_sum_catches_even_multiplicity_swap(spark):
    """bit_xor is blind to multiplicity changes by an even amount
    ({A,A,B,B} xors to 0 like {C,C,D,D}); the mod-2^60 hash sum must
    distinguish them."""
    import pyspark.sql.functions as F

    def comps(vals):
        df = spark.createDataFrame([(v,) for v in vals], "h bigint")
        row = df.agg(
            F.bit_xor("h").alias("x"),
            F.expr(
                "CAST(sum(CAST(h AS DECIMAL(38,0)))"
                " % 1152921504606846976 AS BIGINT)"
            ).alias("s"),
        ).collect()[0]
        return row["x"], row["s"]

    a = comps([11, 11, 22, 22])
    b = comps([33, 33, 44, 44])
    assert a[0] == b[0] == 0  # the xor blind spot, demonstrated
    assert a[1] != b[1]  # the sum component catches it


def test_window_rotation_covers_never_checked():
    """The 50-query driver window must keep its rotation contract: exactly
    50 entries, first in registry order, and EVERY registry query no
    prior-round CORRECTNESS record has checked must take a slot in the
    CURRENT window, never queue silently. (All CORRECTNESS_r*.json on
    disk count — r1-r6 closed the rotation over the full registry.)"""
    import glob
    import json

    from crz_scraper_spark.plans.registry import _FIRST_WINDOW, REGISTRY

    assert len(_FIRST_WINDOW) == 50
    assert list(REGISTRY)[:50] == _FIRST_WINDOW
    checked: set = set()
    for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        checked |= set(json.load(open(p)))
    never = [q for q in REGISTRY if q not in checked]
    missing = [q for q in never if q not in _FIRST_WINDOW]
    assert not missing, f"never-checked queries left out of window: {missing}"


def test_window_rows_only_entries_are_the_flagged_tail():
    """Window slots carry SQL oracles wherever SQL can express the op.
    The round-7 window is all-oracled (the former rows-only re-checks
    passed twice consecutively in r5/r6 and rotated out; ann_ivf_topk /
    ann_pq_topk gained fixed-literal oracles this round) — no NEW
    rows-only entry may ride along unflagged."""
    from crz_scraper_spark.plans.registry import _FIRST_WINDOW, REGISTRY

    rows_only = {n for n in _FIRST_WINDOW if REGISTRY[n][1] is None}
    assert rows_only == set(), rows_only


def test_rows_only_entries_declare_oracled_twins():
    """The rows-only ledger is self-certifying (VERDICT r9 item 6): every
    registry entry without a SQL oracle must declare its oracled twin in
    ROWS_ONLY_TWINS — the same operator with the engine-specific piece
    (hash seed / trained state / sketch library) replaced by a portable
    equivalent that IS hash-matched against DuckDB. A future rows-only
    addition without a twin fails here instead of silently weakening the
    driver's correctness gate."""
    from crz_scraper_spark.plans.registry import REGISTRY, ROWS_ONLY_TWINS

    rows_only = {n for n, (_f, s) in REGISTRY.items() if s is None}
    assert set(ROWS_ONLY_TWINS) == rows_only, (
        "ROWS_ONLY_TWINS keys must be exactly the rows-only registry "
        f"entries; diff: {set(ROWS_ONLY_TWINS) ^ rows_only}"
    )
    for name, twin in ROWS_ONLY_TWINS.items():
        assert twin in REGISTRY, f"{name}: twin {twin} not registered"
        assert REGISTRY[twin][1] is not None, (
            f"{name}: twin {twin} is itself rows-only — the mapping must "
            "land on a DuckDB-oracled query"
        )


def test_architecture_registry_map_not_stale():
    """ARCHITECTURE.md's registry map must name EVERY registry query (the
    one-hop navigation aid VERDICT r6 item 7 asked for) and carry the live
    oracled/rows-only counts in its header line."""
    from crz_scraper_spark.plans.registry import REGISTRY

    text = open(os.path.join(ROOT, "ARCHITECTURE.md")).read()
    assert "## Registry map" in text
    section = text.split("## Registry map", 1)[1]
    missing = [q for q in REGISTRY if f"`{q}`" not in section]
    assert not missing, f"registry map missing queries: {missing}"
    n = len(REGISTRY)
    oracled = sum(1 for _f, s in REGISTRY.values() if s is not None)
    assert f"All {n} registry queries ({oracled} DuckDB-oracled" in section
    assert f"{n - oracled} rows-only" in section
    # rows-only entries must be starred, oracled ones must not be
    for q, (_f, s) in REGISTRY.items():
        starred = f"`{q}`\\*" in section
        assert starred == (s is None), (q, starred)


def test_readme_registry_counts_not_stale():
    """README's driver-contract paragraph states the registry size, the
    oracled count, and the rows-only count as literals; pin them to the
    live registry so the doc can't drift again (ADVICE r4)."""
    import re

    from crz_scraper_spark.plans.registry import REGISTRY

    text = open(os.path.join(ROOT, "README.md")).read()
    n = len(REGISTRY)
    oracled = sum(1 for _f, s in REGISTRY.values() if s is not None)
    assert f"maps {n} named operators" in text, (
        f"README operator count stale (registry has {n})"
    )
    assert f"SQL for the {oracled} SQL-expressible ones" in text, (
        f"README oracled count stale (registry has {oracled})"
    )
    m = re.search(r"the (\d+) rows-only entries", text)
    assert m and int(m.group(1)) == n - oracled, (
        f"README rows-only count stale (registry has {n - oracled})"
    )


_DEFINITIONS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _referenced_names(node: ast.AST) -> set[str]:
    """Every Name, Attribute and import-alias reference under ``node``.
    Docstrings and other string constants carry none."""
    names = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif isinstance(sub, ast.alias):
            names.add(sub.name.split(".")[-1])
    return names


def unreached_definitions(
    sources: list[tuple[str, str]], keep: list[str]
) -> list[str]:
    """``path::name`` of each top-level function and class under
    ``crz_scraper_spark/`` that no root reaches, sorted.

    ``sources`` are ``(repo-relative path, source)`` pairs. Roots are every
    module-level statement of the package, the whole of every other
    non-test source, and the names in ``keep``. A definition reaches the
    names its body references; references are matched by name. Files under
    a ``tests/`` directory are no roots."""
    defs: dict[str, list[tuple[str, str]]] = {}
    edges: dict[tuple[str, str], set[str]] = {}
    todo = list(keep)
    for path, source in sources:
        if "tests" in path.split("/")[:-1]:
            continue
        in_package = path.startswith("crz_scraper_spark/")
        for top in ast.parse(source).body:
            if in_package and isinstance(top, _DEFINITIONS):
                key = (path, top.name)
                defs.setdefault(top.name, []).append(key)
                edges[key] = _referenced_names(top)
            else:
                todo += _referenced_names(top)
    seen: set[str] = set()
    reached: set[tuple[str, str]] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key in defs.get(name, ()):
            reached.add(key)
            todo += edges[key]
    return sorted(f"{p}::{n}" for p, n in edges if (p, n) not in reached)


def _non_test_sources(root: str) -> list[tuple[str, str]]:
    out = []
    for rel in ("crz_scraper_spark", "bench.py", "__spark_entry__.py", "tools", "perfbench"):
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else []
        for d, _dirs, names in os.walk(path):
            files += [os.path.join(d, f) for f in names if f.endswith(".py")]
        for f in sorted(files):
            rel_path = os.path.relpath(f, root).replace(os.sep, "/")
            out.append((rel_path, open(f).read()))
    return out


def test_every_public_function_is_reached():
    """Every top-level function and class in the package, private ones
    included, is reached transitively from non-test code (the package's
    module-level statements, bench.py, the driver entry, tools/,
    perfbench/) or from the pipeline API in `pipeline.__all__`. Code that
    only tests use lives in tests/."""
    from crz_scraper_spark import pipeline

    sources = _non_test_sources(ROOT)
    unreached = unreached_definitions(sources, pipeline.__all__)
    assert not unreached, (
        "definitions no query, pipeline or CLI reaches (delete them, or "
        f"move a test-only reference into tests/): {unreached}"
    )


def test_reachability_walk_on_synthetic_sources():
    """The walk follows calls transitively into private helpers, and flags
    a definition named only in text, only by itself, or only by tests."""
    package = (
        "crz_scraper_spark/m.py",
        '''"""Helpers a, _b, c and d."""


def a():
    """Calls _b; see also c."""
    return _b()


def _b():
    return 1


def c(n):
    return c(n - 1) if n else 0


def d():
    return 3
''',
    )
    root = (
        "bench.py",
        '''from crz_scraper_spark.m import a

LABEL = "c"
a()
''',
    )
    test = (
        "tests/test_m.py",
        '''from crz_scraper_spark.m import d


def test_d():
    assert d() == 3
''',
    )
    assert unreached_definitions([package, root, test], []) == [
        "crz_scraper_spark/m.py::c",
        "crz_scraper_spark/m.py::d",
    ]
    assert unreached_definitions([package, root, test], ["d"]) == [
        "crz_scraper_spark/m.py::c",
    ]


# ---------------------------------------------------------------------------
# Options: a defaulted parameter that every non-test caller leaves at one
# value is a configuration no query, pipeline or CLI varies — fold it into
# the constant those callers use. Tests are not callers: a test that needs
# a second value patches the module constant.

# Callers whose keywords stay: the benchmark, the driver entry and the
# scripts must keep working unchanged.
_FIXED_CALLERS = ("bench.py", "__spark_entry__.py", "tools/", "perfbench/")
# Deployment settings: the session's core count and extra confs.
_DEPLOYMENT = (
    "crz_scraper_spark/session.py::get_spark(cpus)",
    "crz_scraper_spark/session.py::get_spark(extra_conf)",
)
# Seams: parameters through which a test injects an input, or that choose
# the only path real inputs take.
_SEAMS = (
    # argparse reads sys.argv when argv is None; tests pass an argument list.
    "crz_scraper_spark/__main__.py::main(argv)",
    # Tests inject a file stream with a controlled trigger.
    "crz_scraper_spark/streaming/windows.py::stream_to_upsert_store(stream_src)",
    "crz_scraper_spark/streaming/windows.py::stream_to_partitioned_parquet(stream_src)",
    # The registry queries pass "stub"; "auto", which tests run, is the
    # only path that runs real PDFs through camelot (the reference's
    # stage 6).
    "crz_scraper_spark/operators/extraction.py::detect_tables(backend)",
)
_CONSTANT_NAME = re.compile(r"_?[A-Z][A-Z0-9_]*$")
_ARITHMETIC = (
    ast.Constant, ast.BinOp, ast.UnaryOp, ast.operator, ast.unaryop,
    ast.Tuple, ast.List, ast.Load,
)
# An argument whose value the source does not fix.
_VARIED = ("varied",)


def _static_value(node: ast.AST):
    """A key for an argument whose value the source fixes (a literal, a
    constant expression, an ALL_CAPS constant name), else None."""
    if all(isinstance(n, _ARITHMETIC) for n in ast.walk(node)):
        try:
            code = compile(ast.Expression(node), "<arg>", "eval")
            return ("=", repr(eval(code, {"__builtins__": {}})))
        except Exception:
            return None
    if isinstance(node, ast.Name) and _CONSTANT_NAME.match(node.id):
        return ("name", node.id)
    if isinstance(node, ast.Attribute) and _CONSTANT_NAME.match(node.attr):
        return ("name", ast.unparse(node))
    return None


class _Signature:
    """One function definition: where it is and how arguments bind."""

    def __init__(self, path: str, qual: str, node, method: bool):
        self.path, self.qual, self.node, self.method = path, qual, node, method
        a = node.args
        positional = a.posonlyargs + a.args
        self.positional = [p.arg for p in positional[1 if method else 0 :]]
        self.params = self.positional + [p.arg for p in a.kwonlyargs]
        self.params += [x.arg for x in (a.vararg, a.kwarg) if x]
        defaulted = positional[len(positional) - len(a.defaults) :]
        self.defaults = dict(zip([p.arg for p in defaulted], a.defaults))
        self.defaults.update(
            (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        )


def _signatures(path: str, tree: ast.AST) -> list[_Signature]:
    out: list[_Signature] = []

    def visit(node, qual: str, in_class: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = f"{qual}.{child.name}" if qual else child.name
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                out.append(_Signature(path, name, child, in_class and not static))
                visit(child, name, False)
            elif isinstance(child, ast.ClassDef):
                visit(child, f"{qual}.{child.name}" if qual else child.name, True)
            else:
                visit(child, qual, in_class)

    visit(tree, "", False)
    return out


def one_value_parameters(
    sources: list[tuple[str, str]], exempt: list[str]
) -> list[str]:
    """``path::function(param)`` of each defaulted parameter of a
    ``crz_scraper_spark/`` function that its callers give fewer than two
    distinct values, sorted.

    ``sources`` are ``(repo-relative path, source)`` pairs, and every one
    outside ``tests/`` is a caller: a test is not a caller, so a value
    only a test gives does not count. A call matches every definition of
    its name (a method by attribute, a class by its name for
    ``__init__``). An omitted
    argument is the default, and a bare reference to a function (a
    registry entry, a UDF) is a call with every default. A literal or an
    ALL_CAPS constant is its own value; a bare name of the caller's own
    parameter carries that parameter's values. Any other argument, a
    ``*args``/``**kw`` call, a parameter named in ``exempt`` (as
    ``path::function`` or ``path::function(param)``) and a parameter that
    one of ``_FIXED_CALLERS`` passes count as varied."""
    trees = [
        (path, ast.parse(source))
        for path, source in sources
        if not path.startswith("tests/")
    ]
    sigs = [s for path, tree in trees for s in _signatures(path, tree)]
    by_name: dict[tuple[str, str], list[_Signature]] = {}
    for s in sigs:
        leaf = s.qual.rsplit(".", 1)[-1]
        if s.method and leaf == "__init__":
            cls = s.qual.rsplit(".", 2)[-2]
            keys = [("name", cls), ("attr", cls)]
        elif s.method:
            keys = [("attr", leaf)]
        else:
            keys = [("name", leaf), ("attr", leaf)]
        for k in keys:
            by_name.setdefault(k, []).append(s)

    def targets(node) -> list[_Signature]:
        if isinstance(node, ast.Name):
            return by_name.get(("name", node.id), [])
        if isinstance(node, ast.Attribute):
            return by_name.get(("attr", node.attr), [])
        return []

    values: dict[tuple[int, str], set] = {}
    pinned = {
        (id(s), p)
        for s in sigs
        for p in s.params
        if f"{s.path}::{s.qual}" in exempt or f"{s.path}::{s.qual}({p})" in exempt
    }

    def record(s: _Signature, p: str, key) -> None:
        values.setdefault((id(s), p), set()).add(key)

    def record_default(s: _Signature, p: str) -> None:
        default = s.defaults.get(p)
        if default is None:
            record(s, p, _VARIED)
        else:
            key = _static_value(default)
            record(s, p, key or ("expr", s.path, s.qual, ast.unparse(default)))

    def record_call(call: ast.Call, s: _Signature, caller, fixed: bool) -> None:
        given = {}
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                break
            if i < len(s.positional):
                given[s.positional[i]] = arg
        given.update((k.arg, k.value) for k in call.keywords if k.arg)
        star = any(isinstance(a, ast.Starred) for a in call.args)
        double_star = any(k.arg is None for k in call.keywords)
        for p in s.params:
            if p in given:
                arg = given[p]
                key = _static_value(arg)
                own = caller is not None and isinstance(arg, ast.Name)
                if key is None and own and arg.id in caller.params:
                    key = ("link", id(caller), arg.id)
                record(s, p, key or _VARIED)
            elif double_star or (star and p in s.positional):
                record(s, p, _VARIED)
            else:
                record_default(s, p)
                continue
            if fixed:
                pinned.add((id(s), p))

    for path, tree in trees:
        sig_of = {id(s.node): s for s in sigs if s.path == path}
        callees = {id(c.func) for c in ast.walk(tree) if isinstance(c, ast.Call)}
        fixed = any(path == c or path.startswith(c) for c in _FIXED_CALLERS)

        def scan(node, caller) -> None:
            for child in ast.iter_child_nodes(node):
                inner = caller
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    inner = sig_of[id(child)]
                elif isinstance(child, ast.Lambda):
                    inner = None
                if isinstance(child, ast.Call):
                    for s in targets(child.func):
                        record_call(child, s, caller, fixed)
                elif (
                    isinstance(child, (ast.Name, ast.Attribute))
                    and isinstance(child.ctx, ast.Load)
                    and id(child) not in callees
                ):
                    for s in targets(child):
                        for p in s.params:
                            record_default(s, p)
                scan(child, inner)

        scan(tree, None)

    for key in pinned:
        values[key] = {_VARIED}
    changed = True
    while changed:
        changed = False
        for vals in values.values():
            for v in [v for v in vals if v[0] == "link"]:
                new = {
                    x for x in values.get(v[1:], {_VARIED}) if x[0] != "link"
                }
                if not new <= vals:
                    vals |= new
                    changed = True
    out = []
    for s in sigs:
        if not s.path.startswith("crz_scraper_spark/"):
            continue
        for p in s.defaults:
            vals = {v for v in values.get((id(s), p), ()) if v[0] != "link"}
            if _VARIED not in vals and len(vals) < 2:
                out.append(f"{s.path}::{s.qual}({p})")
    return sorted(out)


def test_every_defaulted_parameter_takes_two_values():
    """Every defaulted parameter of the package takes at least two distinct
    values across its non-test callers (the package, bench.py, the driver
    entry, tools/ and perfbench/). One that never does is folded into the
    constant its callers use. Exempt: the pipeline API in
    `pipeline.__all__`, every keyword the benchmark, the driver entry or
    tools/ pass, the deployment settings of `get_spark`, and `_SEAMS`."""
    from crz_scraper_spark import pipeline

    exempt = [f"crz_scraper_spark/pipeline.py::{n}" for n in pipeline.__all__]
    exempt += list(_DEPLOYMENT)
    sources = _non_test_sources(ROOT)
    one_value = one_value_parameters(sources, exempt + list(_SEAMS))
    assert not one_value, (
        "defaulted parameters every non-test caller leaves at one value "
        f"(fold each into that value): {one_value}"
    )
    # Every seam is still a one-value parameter without its exemption.
    assert set(_SEAMS) <= set(one_value_parameters(sources, exempt))


def test_parameter_walk_on_synthetic_sources():
    """The walk counts omitted arguments as the default, follows a
    caller's own parameter, and treats starred calls, fixed callers and
    exemptions as varied. A second value given only by a test does not
    count, and a `_SEAMS` entry is not flagged."""
    package = (
        "crz_scraper_spark/m.py",
        '''
def f(x, k=3):
    return x + k


def g(x, k=3):
    return x - k


def h(x, n=1):
    return x * n


def outer(m=2):
    return h(0, n=m)


def u(x, w=1):
    return x


def p(x, s=1):
    return x


def e(x, z=0):
    return x


def only_ref(x, y=1):
    return x


def q(x, t=1):
    return x


REGISTRY = {"u": u, "only_ref": only_ref}


def run(*args):
    f(1)
    f(2, k=3)
    g(1)
    g(1, k=4)
    outer()
    outer(m=5)
    u(0, *args)
    e(0)
    q(0)
''',
    )
    tool = ("tools/t.py", "from crz_scraper_spark.m import p\n\np(0, s=1)\n")
    test = ("tests/test_m.py", "from crz_scraper_spark.m import q\n\nq(0, t=2)\n")
    flagged = [
        "crz_scraper_spark/m.py::f(k)",
        "crz_scraper_spark/m.py::only_ref(y)",
        "crz_scraper_spark/m.py::q(t)",
    ]
    exempt = ["crz_scraper_spark/m.py::e"]
    # q's second value comes only from a test, so q(t) is still flagged.
    assert one_value_parameters([package, tool, test], exempt) == flagged
    assert one_value_parameters([package, tool], exempt) == flagged
    # A seam, exempted by ``path::function(param)`` as in `_SEAMS`.
    seam = ["crz_scraper_spark/m.py::q(t)"]
    assert one_value_parameters([package, tool, test], exempt + seam) == flagged[:2]


def _names_a_checkout(text: str) -> bool:
    """True when ``text`` is an absolute path into a checkout of this
    repository (a directory holding both crz_scraper_spark/ and tests/)."""
    if not text.startswith("/") or any(c.isspace() for c in text):
        return False
    path = os.path.normpath(text.split("*", 1)[0])
    while True:
        if os.path.isdir(os.path.join(path, "crz_scraper_spark")) and os.path.isdir(
            os.path.join(path, "tests")
        ):
            return True
        parent = os.path.dirname(path)
        if parent == path:
            return False
        path = parent


def test_no_absolute_checkout_path_in_tools_or_tests():
    """Scripts and tests find the checkout from their own ``__file__``. A
    string naming an absolute checkout path makes a second copy import and
    read the first copy's files."""
    offenders = []
    for rel in ("tools", "tests"):
        for d, _dirs, names in os.walk(os.path.join(ROOT, rel)):
            for f in sorted(names):
                if not f.endswith(".py"):
                    continue
                path = os.path.join(d, f)
                for node in ast.walk(ast.parse(open(path).read())):
                    if (
                        isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and _names_a_checkout(node.value)
                    ):
                        offenders.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert not offenders, f"absolute checkout paths: {offenders}"
