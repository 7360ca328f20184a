"""The Python-kernel boundary stays single: kernels.py is the only place
that buckets series, repartitions into a Python kernel or calls
mapInPandas/mapInArrow (every per-row kernel goes through map_kernel), and
the stateful sealer's applyInPandasWithState is the only grouped Python
call outside it. The block
fold stays single too: only codec.blocks.block_frame (and the single-block
encode_block) call the Gorilla encoder, and nothing in the package calls
encode_block. So does the tier aggregate: min_by/max_by
appear only in rollup.point_aggs / merge_aggs (and phenology's phenometric
argmins), and no tier site takes min/max over a struct; the rollup
stream aggregates only through the batch rollup_from_raw. Each kernel
has one form in the package: the second forms tests pin it against live
in tests/reference_impls.py, and no package module defines or imports
them. Also pins the sizing: n_buckets, the grouped kernels' bucket count
from the input's plan estimate (the stream sealer's count stays fixed) and
one task per bucket, and fanout_partitions, its scan-side counterpart,
which map_kernel applies to every per-row kernel's input."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "fusets_spark"

# (file relative to the package, finding) -> why it may stay outside
# kernels.py
ALLOWED = {
    ("streaming/block_stream.py", "applyInPandasWithState"): (
        "the stateful sealer keeps group state per bucket, which only "
        "applyInPandasWithState offers; its bucket column comes from "
        "kernels.bucket_col"
    ),
}

_GROUPED_CALLS = {"applyInPandas", "applyInPandasWithState", "applyInArrow"}
_KERNEL_CALLS = _GROUPED_CALLS | {"mapInPandas", "mapInArrow"}
_DELETED = {"default_groups", "repartition_for_kernel"}


def _method(node) -> str | None:
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        return node.func.attr
    return None


def _findings(tree: ast.AST):
    for node in ast.walk(tree):
        name = _method(node)
        if name in _KERNEL_CALLS:
            yield name, node.lineno
        if name in _KERNEL_CALLS:
            # walk the receiver chain: x.repartition(...).groupBy(...).<kernel>
            recv = node.func.value
            while isinstance(recv, (ast.Call, ast.Attribute)):
                if _method(recv) == "repartition":
                    yield "repartition into kernel", node.lineno
                recv = recv.func if isinstance(recv, ast.Call) else recv.value
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == "pmod"
            and node.args
            and _method(node.args[0]) == "xxhash64"
        ):
            yield "xxhash64 bucket", node.lineno
        ident = getattr(node, "id", None) or getattr(node, "attr", None)
        if isinstance(node, ast.alias):
            ident = node.name
        if ident in _DELETED:
            yield ident, node.lineno


def test_grouped_kernel_boundary_is_single():
    seen, bad = set(), []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "kernels.py":
            continue
        for kind, line in _findings(ast.parse(path.read_text())):
            if (rel, kind) in ALLOWED:
                seen.add((rel, kind))
            else:
                bad.append(f"{rel}:{line}: {kind}")
    assert not bad, "route these through fusets_spark.kernels:\n" + "\n".join(bad)
    assert seen == set(ALLOWED), f"stale allowlist entries: {set(ALLOWED) - seen}"


def test_guard_catches_a_hand_wired_kernel():
    src = (
        "g = df.withColumn('_g', F.pmod(F.xxhash64('doc_id'), F.lit(64)))\n"
        "out = g.repartition(16, 'source', '_g').groupBy('source', '_g')"
        ".applyInPandas(fn, schema)\n"
        "from ..session import default_groups\n"
        "pts = blocks.select('block').mapInPandas(decode, schema)\n"
    )
    kinds = sorted(k for k, _ in _findings(ast.parse(src)))
    assert kinds == [
        "applyInPandas", "default_groups", "mapInPandas",
        "repartition into kernel", "xxhash64 bucket",
    ]


# (file relative to the package, enclosing function, encoder) -> why it may
# call that encoder; nothing in the package may call encode_block
ENCODER_CALLERS = {
    ("codec/blocks.py", "block_frame", "encode_blocks_batched"): (
        "the block fold every producer uses"
    ),
    ("codec/gorilla.py", "encode_block", "encode_blocks_batched"): (
        "the public single-block call"
    ),
}
_ENCODERS = {"encode_blocks_batched", "encode_block"}


def _call_name(call: ast.Call) -> str | None:
    return getattr(call.func, "id", getattr(call.func, "attr", None))


def _calls(tree: ast.AST, kind_of) -> list[tuple[str | None, str, int]]:
    """(enclosing function or None, kind, line) of every call that
    kind_of(call) names; a call in a nested def counts against the
    innermost def."""
    calls = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            elif isinstance(child, ast.Call):
                kind = kind_of(child)
                if kind:
                    calls.append((fn, kind, child.lineno))
            visit(child, inner)

    visit(tree, None)
    return calls


def _encoder_calls(tree: ast.AST) -> list[tuple[str | None, str, int]]:
    """(enclosing function or None, encoder, line) of every Gorilla encoder
    call."""
    return _calls(
        tree, lambda c: _call_name(c) if _call_name(c) in _ENCODERS else None
    )


def test_blocks_are_built_by_one_fold():
    seen, bad = set(), []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, name, line in _encoder_calls(ast.parse(path.read_text())):
            if (rel, fn, name) in ENCODER_CALLERS:
                seen.add((rel, fn, name))
            else:
                bad.append(f"{rel}:{line}: {name} in {fn}")
    assert not bad, "build blocks through codec.blocks.block_frame:\n" + "\n".join(bad)
    assert seen == set(ENCODER_CALLERS), (
        f"stale allowlist entries: {set(ENCODER_CALLERS) - seen}"
    )


def test_guard_catches_a_second_block_fold():
    src = (
        "def _seal(docs, ts, vals):\n"
        "    def enc(t, v):\n"
        "        return gorilla.encode_blocks_batched([t], [v])\n"
        "    return [encode_block(t, v) for t, v in zip(ts, vals)]\n"
        "blocks = encode_blocks_batched(a, b)\n"
        "def block_frame():\n"
        "    return encode_blocks_batched(a, b)\n"
    )
    assert _encoder_calls(ast.parse(src)) == [
        ("enc", "encode_blocks_batched", 3),
        ("_seal", "encode_block", 4),
        (None, "encode_blocks_batched", 5),
        ("block_frame", "encode_blocks_batched", 7),
    ]


# (file relative to the package, enclosing function) -> why it may take an
# argmin/argmax aggregate
ORDER_KEY_AGGS = {
    ("operators/rollup.py", "point_aggs"): "the tier partial of raw points",
    ("operators/rollup.py", "merge_aggs"): "the merge of tier partials",
    ("operators/phenology.py", "phenometrics"): (
        "the pos/vos extrema: max/min over (value, doy) structs in a "
        "per-series window, not tier rows"
    ),
    ("operators/phenology.py", "_argmin"): (
        "the sos/eos argmin: min_by over candidate structs in a per-series "
        "window, not tier rows"
    ),
}


def _is_struct(node: ast.AST) -> bool:
    """A struct(...) call, possibly under method calls such as .alias()."""
    while isinstance(node, ast.Call):
        if _call_name(node) in ("struct", "named_struct"):
            return True
        if not isinstance(node.func, ast.Attribute):
            return False
        node = node.func.value
    return False


def _order_key_agg(call: ast.Call) -> str | None:
    """min_by / max_by, or min / max over a struct."""
    name = _call_name(call)
    if name in ("min_by", "max_by"):
        return name
    if name in ("min", "max") and call.args and _is_struct(call.args[0]):
        return f"{name}(struct)"
    return None


def test_tier_aggregate_is_spelled_once():
    seen, bad = set(), []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, kind, line in _calls(ast.parse(path.read_text()), _order_key_agg):
            if (rel, fn) in ORDER_KEY_AGGS:
                seen.add((rel, fn))
            else:
                bad.append(f"{rel}:{line}: {kind} in {fn}")
    assert not bad, (
        "build tier aggregates from rollup.point_aggs / merge_aggs:\n"
        + "\n".join(bad)
    )
    assert seen == set(ORDER_KEY_AGGS), (
        f"stale allowlist entries: {set(ORDER_KEY_AGGS) - seen}"
    )


def test_guard_catches_a_second_tier_aggregate():
    src = (
        "def stream_rollup_df(v):\n"
        "    return [F.min(F.struct(F.col('pos'), v.alias('v'))).alias('f'),\n"
        "            F.max(F.struct('pos', 'value').alias('s'))]\n"
        "def merge_tier_partials():\n"
        "    return [F.min_by('first_val', F.col('first_pos'))]\n"
        "last = F.max_by(v, order)\n"
        "def point_aggs(v):\n"
        "    return [F.min_by(v, order), F.max(v), max(1, 2)]\n"
    )
    assert _calls(ast.parse(src), _order_key_agg) == [
        ("stream_rollup_df", "min(struct)", 2),
        ("stream_rollup_df", "max(struct)", 3),
        ("merge_tier_partials", "min_by", 5),
        (None, "max_by", 6),
        ("point_aggs", "min_by", 8),
    ]


# the rollup stream runs the batch operator per micro-batch; an aggregate
# of its own (or a stateful window/watermark) would be a second tier path
_STREAM_AGG_CALLS = {"groupBy", "groupby", "agg", "window", "withWatermark"}


def _stream_aggregate_calls(tree: ast.AST) -> list[tuple[str | None, str, int]]:
    return _calls(
        tree,
        lambda c: _call_name(c) if _call_name(c) in _STREAM_AGG_CALLS else None,
    )


def test_rollup_stream_runs_the_batch_rollup():
    path = PKG / "streaming" / "rollup_stream.py"
    src = path.read_text()
    assert _stream_aggregate_calls(ast.parse(src)) == []
    assert "rollup.rollup_from_raw(" in src


def test_guard_catches_a_stream_aggregate():
    src = (
        "def stream_rollup_df(stream):\n"
        "    return (stream.withWatermark('ts', '10 minutes')\n"
        "            .groupBy(F.window('ts', '60 seconds'))\n"
        "            .agg(*point_aggs(v, pos)))\n"
    )
    assert sorted(_stream_aggregate_calls(ast.parse(src))) == [
        ("stream_rollup_df", "agg", 2),
        ("stream_rollup_df", "groupBy", 2),
        ("stream_rollup_df", "window", 3),
        ("stream_rollup_df", "withWatermark", 2),
    ]


REFERENCE_IMPLS = Path(__file__).resolve().parent / "reference_impls.py"
# deleted with no reference form: lsh_bucket's only caller was a test
_DELETED_TWINS = {"lsh_bucket"}


def _top_level_names(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _twin_findings(tree: ast.Module, reference_names: set[str]) -> list[str]:
    """A package module's top-level definitions that a reference form
    already defines (or that were deleted), and any import of
    reference_impls."""
    found = [
        f"defines {n}" for n in sorted(_top_level_names(tree) & reference_names)
    ]
    for node in ast.walk(tree):
        mods = []
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module or ""] + [a.name for a in node.names]
        found += [
            f"imports reference_impls:{node.lineno}"
            for m in mods
            if m.split(".")[-1] == "reference_impls"
        ]
    return found


def test_reference_forms_stay_in_the_tests():
    reference_names = _top_level_names(ast.parse(REFERENCE_IMPLS.read_text()))
    for name in ("_bucket_expr", "_ivf_cell_scores", "_plane_dot", "_dlit",
                 "simhash_expr"):
        assert name in reference_names
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        bad += [
            f"{rel}: {f}"
            for f in _twin_findings(tree, reference_names | _DELETED_TWINS)
        ]
    assert not bad, (
        "one form per kernel; second forms belong in tests/reference_impls.py:\n"
        + "\n".join(bad)
    )


def test_guard_catches_a_returning_twin():
    src = (
        "from tests.reference_impls import simhash_expr\n"
        "import reference_impls\n"
        "def _bucket_expr(vec_col, planes):\n"
        "    def simhash_expr(): pass\n"
        "lsh_bucket = _bucket_expr\n"
        "class _dlit: pass\n"
        "def bucket_strings(df): pass\n"
    )
    names = {"_bucket_expr", "_dlit", "simhash_expr"} | _DELETED_TWINS
    assert _twin_findings(ast.parse(src), names) == [
        "defines _bucket_expr", "defines _dlit", "defines lsh_bucket",
        "imports reference_impls:1", "imports reference_impls:2",
    ]


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange ")


def test_fanout_runs_no_job_on_a_shuffled_input(spark):
    """A groupBy output is already as wide as its shuffle. Asking its RDD
    for a partition count would run the upstream map stage as a Spark job
    during plan construction and report the AQE-coalesced width, adding a
    second exchange; fanout_partitions must do neither."""
    from pyspark.sql import functions as F

    from fusets_spark.kernels import fanout_partitions

    sc = spark.sparkContext
    agg = (
        spark.range(200_000)
        .groupBy((F.col("id") % 1000).alias("k"))
        .agg(F.count("id").alias("n"))
    )
    sc.setJobGroup("fanout-probe", "fanout on a shuffled input")
    try:
        out = fanout_partitions(agg)
        jobs = sc.statusTracker().getJobIdsForGroup("fanout-probe")
    finally:
        sc._jsc.clearJobGroup()
    assert list(jobs) == []
    assert _exchanges(out) == _exchanges(agg) == 1


@pytest.mark.parametrize("keys", [(), ("doc_id",), "map_kernel"])
def test_fanout_widens_a_single_partition_scan(spark, tmp_path, keys):
    """The case fanout_partitions exists for: a one-file parquet scan is
    one partition, and everything fused into it would run on one core.
    A per-row kernel on it (map_kernel) runs at dP × 2 tasks."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fusets_spark.kernels import fanout_partitions, map_kernel

    path = str(tmp_path / "one.parquet")
    spark.range(100).selectExpr("CAST(id AS STRING) AS doc_id").coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    width = spark.sparkContext.defaultParallelism * 2
    if keys == "map_kernel":
        out = map_kernel(
            scan, lambda pdf: iter([pd.DataFrame({"rows": [len(pdf)]})]),
            "rows long",
        )
        calls = out.select("rows", F.spark_partition_id().alias("task"))
        calls = calls.toPandas()
        assert calls["rows"].sum() == 100 and calls["task"].nunique() == width
    else:
        out = fanout_partitions(scan, keys=keys)
    assert out.rdd.getNumPartitions() == width
    plan = out._jdf.queryExecution().executedPlan().toString()
    hashed = keys == ("doc_id",)
    kind = "hashpartitioning(doc_id" if hashed else "RoundRobinPartitioning("
    assert kind in plan and f"{width}), REPARTITION_BY_NUM" in plan


@pytest.mark.parametrize(
    "build, want",
    [
        # one row: the floor, a few large groups
        (lambda s: s.range(1).selectExpr("CAST(id AS STRING) AS doc_id"),
         lambda dp: dp * 2),
        # 96 MiB by the estimate: 12 groups of 8 MiB, inside the bounds
        (lambda s: s.range(12 << 20), lambda dp: min(dp * 8, max(dp * 2, 12))),
        # ~8 TB: the cap
        (lambda s: s.range(10**12), lambda dp: dp * 8),
        # a local list is an RDD scan, which has no size estimate: the cap
        (lambda s: s.createDataFrame([("d",)], "doc_id string"),
         lambda dp: dp * 8),
    ],
    ids=["one_row", "mid", "huge", "unestimated"],
)
def test_bucket_count_follows_the_estimate(spark, build, want):
    from fusets_spark.kernels import n_buckets

    assert n_buckets(build(spark)) == want(spark.sparkContext.defaultParallelism)


def test_group_kernel_sizing_runs_no_job(spark):
    """The bucket count is read from the optimized plan's estimate, which
    runs nothing: building a grouped kernel over a shuffled input starts
    no Spark job."""
    from pyspark.sql import functions as F

    from fusets_spark.kernels import group_kernel

    sc = spark.sparkContext
    agg = (
        spark.range(200_000)
        .groupBy((F.col("id") % 1000).cast("string").alias("doc_id"))
        .agg(F.count("id").alias("n"))
    )
    sc.setJobGroup("sizing-probe", "grouped kernel sizing")
    try:
        out = group_kernel(agg, lambda pdf: pdf, "doc_id string, n long", by=())
        jobs = sc.statusTracker().getJobIdsForGroup("sizing-probe")
    finally:
        sc._jsc.clearJobGroup()
    assert list(jobs) == []
    assert "MapInPandas" in out._jdf.queryExecution().executedPlan().toString()


def test_one_bucket_is_one_task(spark, set_buckets):
    """A bucket is a partition: 2000 docs in 8 buckets make 8 kernel
    calls, each in a partition of its own, so no core runs two buckets
    while another idles."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fusets_spark.kernels import group_kernel

    set_buckets(8)
    docs = spark.range(2000).selectExpr(
        "'s' AS source", "CAST(id AS STRING) AS doc_id"
    )
    calls = group_kernel(
        docs, lambda pdf: pd.DataFrame({"rows": [len(pdf)]}), "rows long"
    ).select("rows", F.spark_partition_id().alias("part")).toPandas()
    assert len(calls) == 8 and calls["rows"].sum() == 2000
    assert calls["part"].nunique() == 8


def test_sealer_bucket_count_stays_fixed(spark):
    """The sealer's _g is part of its state key, so its modulus does not
    follow the input: max(256, defaultParallelism × 8)."""
    import re

    from fusets_spark.streaming.block_stream import stream_encode_blocks

    stream = (
        spark.readStream.format("rate").load()
        .selectExpr(
            "'s' AS source", "CAST(value AS STRING) AS doc_id",
            "timestamp AS ts", "CAST(value AS DOUBLE) AS value",
        )
    )
    plan = stream_encode_blocks(stream)._jdf.queryExecution().analyzed().toString()
    mod = re.search(r"pmod\(xxhash64\(doc_id#\d+, 42\), cast\((\d+) as bigint", plan)
    assert int(mod.group(1)) == max(256, spark.sparkContext.defaultParallelism * 8)
