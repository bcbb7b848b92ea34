"""session.barrier is the one lineage cut and session.spread the one
narrow-input spread: guards keep direct ``localCheckpoint`` /
``checkpoint`` calls, ``.rdd`` hops and count-only ``repartition``
calls from growing back in the package or the entry file, and keep
``withWatermark`` inside the streaming module's guarded helper."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
_CUTS = ("localCheckpoint", "checkpoint")


def _calls(source: str, match, allowed_def: str | None = None) -> list[int]:
    """Lines of the AST nodes ``match`` accepts, except inside the
    top-level function named ``allowed_def``."""
    tree = ast.parse(source)
    skip = [
        range(n.lineno, n.end_lineno + 1)
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == allowed_def
    ]
    return [
        node.lineno
        for node in ast.walk(tree)
        if match(node) and not any(node.lineno in r for r in skip)
    ]


def _method_call(node, names) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in names
    )


def _cut_calls(source: str, allowed_def: str | None = None) -> list[int]:
    """Lines that call ``.localCheckpoint(`` or ``.checkpoint(``."""
    return _calls(source, lambda n: _method_call(n, _CUTS), allowed_def)


def _is_column_arg(arg) -> bool:
    """A keyed repartition's argument: a column name, ``col(...)`` or a
    starred column list."""
    if isinstance(arg, ast.Starred):
        return True
    if isinstance(arg, ast.Constant):
        return isinstance(arg.value, str)
    return isinstance(arg, ast.Call) and getattr(
        arg.func, "attr", getattr(arg.func, "id", None)
    ) == "col"


def _spread_hops(source: str, allowed_def: str | None = None) -> list[int]:
    """Lines with a ``.rdd`` access or a count-only ``.repartition(n)``;
    keyed repartitions (column arguments) are not spreads."""
    def match(node):
        if isinstance(node, ast.Attribute) and node.attr == "rdd":
            return True
        return (
            _method_call(node, ("repartition",))
            and len(node.args) == 1
            and not node.keywords
            and not _is_column_arg(node.args[0])
        )

    return _calls(source, match, allowed_def)


def _watermarks(source: str, allowed_def: str | None = None) -> list[int]:
    return _calls(source, lambda n: _method_call(n, ("withWatermark",)), allowed_def)


def _scan(finder, allowed: dict[str, str]) -> dict[str, list[int]]:
    """``finder``'s hits per package module and __spark_entry__.py, each
    file skipping the function ``allowed`` names for it."""
    files = sorted((ROOT / "getml_community_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    found = {}
    for p in files:
        rel = str(p.relative_to(ROOT))
        if lines := finder(p.read_text(), allowed.get(rel)):
            found[rel] = lines
    return found


def test_lineage_cuts_live_only_in_barrier():
    """No package module or __spark_entry__.py cuts lineage except
    through session.barrier, so the local-vs-reliable choice is made in
    one place."""
    found = _scan(_cut_calls, {"getml_community_spark/session.py": "barrier"})
    assert not found, found


def test_lineage_cut_guard_bites():
    assert _cut_calls("t = df.localCheckpoint(eager=False)")
    assert _cut_calls("t = (df.select('a')\n    .checkpoint(eager=True))")
    src = "def barrier(df):\n    return df.checkpoint()\n"
    assert not _cut_calls(src, "barrier")
    assert _cut_calls(src)
    assert not _cut_calls("from .checkpoint import SnapshotTable")


def test_spreads_live_only_in_spread():
    """session.spread is the only place that counts a frame's partitions
    or repartitions to a bare count."""
    found = _scan(_spread_hops, {"getml_community_spark/session.py": "spread"})
    assert not found, found


def test_spread_guard_bites():
    assert _spread_hops("n = df.rdd.getNumPartitions()")
    assert _spread_hops("df = df.repartition(8)")
    assert _spread_hops("d = (df.select('a')\n    .repartition(sc.defaultParallelism))")
    src = "def spread(df):\n    return df.repartition(df.rdd.getNumPartitions())\n"
    assert not _spread_hops(src, "spread")
    assert _spread_hops(src)
    assert not _spread_hops("d = df.repartition(n, F.col('k'))")
    assert not _spread_hops("d = df.repartition(*[F.col(c) for c in cols])")
    assert not _spread_hops("d = df.repartition('k')")


def test_watermarks_live_only_in_streaming_helper():
    """Every watermark goes through stream_rollup._watermark, which
    fails the query on pre-1970 event times instead of dropping them."""
    found = _scan(
        _watermarks, {"getml_community_spark/streaming/stream_rollup.py": "_watermark"}
    )
    assert not found, found


def test_watermark_guard_bites():
    assert _watermarks("q = s.withWatermark('ts', '1 minute')")
    src = "def _watermark(s, c, w):\n    return s.withWatermark(c, w)\n"
    assert not _watermarks(src, "_watermark")
    assert _watermarks(src)


def _exchanges(df) -> list[str]:
    """The exchanges of ``df``'s physical plan (AQE: its initial plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"\b(?:Broadcast)?Exchange \w+", plan)


def _spread_counted(spark, df):
    """``spread(df)`` and the number of Spark jobs it started."""
    from getml_community_spark.session import spread

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = spread(df)
    return out, len(set(tracker.getJobIdsForGroup()) - before)


_RR = "Exchange RoundRobinPartitioning"
_HASH = "Exchange hashpartitioning"


def _spread_case(spark, scan, target, case):
    """The case's frame, its exchanges after spread and whether spread
    repartitions it: the rule's three cases, plus a persisted frame
    whose cache is not filled yet (its plan is the cache's)."""
    from pyspark.sql import functions as F

    def grouped():
        return scan().groupBy((F.col("id") % 3).alias("k")).count()

    if case == "scan":
        return scan(), [_RR], True
    if case == "wide_range":
        return spark.range(40, numPartitions=target), [], False
    if case == "spread_twice":
        return _spread_counted(spark, scan())[0], [_RR], False
    if case == "group_by":
        return grouped(), [_HASH, _RR], True
    if case == "unfilled_cache":
        return grouped().cache(), [_HASH, _RR], True
    assert case == "broadcast_join"
    right = F.broadcast(scan().withColumnRenamed("id", "x"))
    joined = scan().join(right, F.col("id") == F.col("x"))
    return joined, ["BroadcastExchange HashedRelationBroadcastMode", _RR], True


@pytest.mark.parametrize(
    "case",
    ["scan", "wide_range", "spread_twice", "group_by", "unfilled_cache", "broadcast_join"],
)
def test_spread_rule_case_without_a_job(spark, tmp_path, case):
    """A narrow leaf is spread and a wide one kept; a round-robin spread
    frame is kept; a frame with any other exchange is spread. None of
    them starts a Spark job."""
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one")
    spark.range(40).coalesce(1).write.parquet(path)

    def scan():
        return spark.read.parquet(path)

    assert scan().rdd.getNumPartitions() == 1
    df, want, respread = _spread_case(spark, scan, target, case)
    try:
        out, jobs = _spread_counted(spark, df)
        assert jobs == 0
        assert (out is not df) == respread
        assert sorted(_exchanges(out)) == sorted(want), _exchanges(out)
        if respread:
            assert out.rdd.getNumPartitions() == target
    finally:
        df.unpersist()
