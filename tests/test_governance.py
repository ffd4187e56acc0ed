"""Engine-wide discipline guards: the rules SCALING.md claims, enforced.

These fail loudly if a future change sneaks a row-at-a-time Python UDF into
a hot path or an undocumented driver-side materialization into an operator.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from tests.conftest import SF_DIR

OPERATORS = pathlib.Path(__file__).resolve().parents[1] / "ufload_spark" / "operators"


@pytest.mark.slow  # ~50 s: compiles every headline query's physical plan
def test_headline_plans_have_no_row_python(spark):
    """Every bench headline query must execute without BatchEvalPython
    (row-at-a-time Python). Arrow-batched Python (ArrowEvalPython /
    mapInPandas) is the only allowed boundary, and none of the headline
    set uses even that."""
    import bench
    from ufload_spark.plans.registry import load_all

    registry = load_all()
    for name in bench.HEADLINE:
        df = registry[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, f"{name} fell back to row Python"


def test_no_row_udf_registration_anywhere():
    """`F.udf(` / `@udf` (row-at-a-time) must not appear in any operator
    module — pandas_udf / mapInPandas / mapInArrow are the sanctioned
    Python boundaries."""
    offenders = []
    for path in OPERATORS.glob("*.py"):
        src = path.read_text()
        if re.search(r"(?<!pandas_)\budf\s*\(", src.replace("@pandas_udf", "")):
            offenders.append(path.name)
    assert offenders == []


def test_materializations_only_through_lifetime():
    """Every persist and checkpoint in the engine goes through
    `ufload_spark.lifetime` (`keep` / `cut`), the one module that knows how
    a materialization is freed — a raw call makes a frame no scope owns."""
    engine = OPERATORS.parent
    offenders = [
        str(path.relative_to(engine))
        for path in sorted(engine.rglob("*.py"))
        if path.name != "lifetime.py"
        and re.search(r"\.(persist|cache|localCheckpoint|checkpoint)\(", path.read_text())
    ]
    assert offenders == []


def test_partition_sizing_has_one_owner():
    """`sources/tables.py` owns the partition-count decision: it is the only
    module that reads `defaultParallelism` (`parallelism`), and no other
    `.repartition(` takes a parallelism expression — every explicit hash
    spread goes through `tables.spread`."""
    engine = OPERATORS.parent
    owner = engine / "sources" / "tables.py"
    readers, sized = [], []
    for path in sorted(engine.rglob("*.py")):
        if path == owner:
            continue
        src = path.read_text()
        if "defaultParallelism" in src:
            readers.append(str(path.relative_to(engine)))
        if re.search(r"\.repartition\(\s*[^,)]*parallelism", src, re.IGNORECASE):
            sized.append(str(path.relative_to(engine)))
    assert readers == []
    assert sized == []


#: a batch parquet read, with or without reader options, and a frame built
#: from driver-side values
_CONTROL_PLANE_CALLS = re.compile(
    r"\bread(?:\.\w+\([^()]*\))*\.parquet\(|\bcreateDataFrame\("
)

#: the helpers in `sources/tables.py` that own those calls
_CONTROL_PLANE_OWNERS = {"local_frame", "footers", "read_parquet"}

#: calls outside the helpers, per module, each with its reason
_ALLOWED_CONTROL_PLANE = {
    # the schema-evolution query reads with mergeSchema: its schema is the
    # union of every file's footer, which is what the query demonstrates,
    # not the first file's schema `read_parquet` takes
    "sources/formats.py": 1,
}


def test_control_plane_frames_have_one_owner():
    """Every frame over Python values goes through `tables.local_frame`
    (an Arrow-built `LocalRelation`: no job, no Python worker) and every
    parquet read through `tables.read_parquet` / `tables.footers` (schema
    and row count from a driver-side footer read, no inference or count
    job): `createDataFrame(` and `read.parquet(` appear only inside those
    helpers, or in the allow-listed modules."""
    import ast

    engine = OPERATORS.parent
    owner = engine / "sources" / "tables.py"
    spans = [
        (node.lineno, node.end_lineno)
        for node in ast.parse(owner.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name in _CONTROL_PLANE_OWNERS
    ]
    assert len(spans) == len(_CONTROL_PLANE_OWNERS)
    found = {}
    for path in sorted(engine.rglob("*.py")):
        src = path.read_text()
        lines = [
            src.count("\n", 0, m.start()) + 1
            for m in _CONTROL_PLANE_CALLS.finditer(src)
        ]
        if path == owner:
            lines = [n for n in lines if not any(a <= n <= b for a, b in spans)]
        if lines:
            found[str(path.relative_to(engine))] = len(lines)
    assert found == _ALLOWED_CONTROL_PLANE


#: .count() occurrences that are NOT driver-side materializations of a big
#: frame, each justified where it appears
_ALLOWED_COLLECT = {
    # connected components: pair-graph size for the tier decision, the
    # small-tier (union-find) materialization, and the per-chunk
    # convergence sync — each a scalar the iterative contract needs
    "dedup.py": 3,
    "analytics.py": 1,  # GroupedData.pivot().count() — a lazy aggregate
}


#: .collect() occurrences that are CONTROL PLANE, not data materialization,
#: each justified where it appears
_ALLOWED_DRIVER_COLLECT = {
    # the restore probe list: ≤ 3·|instances| rows — the exact client-side
    # candidate walk the reference runs (cli/main.py:288-371); the dumps,
    # de-live rewrites and publishes all stay distributed
    "restore_e2e.py": 1,
    # r9: the trained k-means centroid MODEL (k×DIM doubles, bounded by
    # the quantizer size, never the corpus) collected to ship into the
    # Arrow matmul kernels via closure — the `_plane_matrix` discipline.
    # One site, `_centroid_matrix`, serving the flat/overlap/incremental
    # assignment kernel, the cell-quality audit and the hierarchical
    # tier's PIVOT selection (k2 = O(√k) rows — the k-row fine model
    # itself stays a published DataFrame end to end since r11).
    "similarity.py": 1,
}


def test_vector_primitives_have_one_owner():
    """`operators/similarity.py` writes each vector primitive once: the
    cosine quotient lives in `cosine`, the centroid-distance expansion in
    `_nearest` (the one top-1/top-2 kernel — no `_kernel_assign2` copy),
    and the IVF index publishes through the loader memo, not a private
    cache."""
    src = (OPERATORS / "similarity.py").read_text()
    assert src.count("/ (F.sqrt(sqnorm(") == 1
    assert src.count("2.0 * (X @") == 1
    assert "_kernel_assign2" not in src
    assert "_IVF_INDEX_CACHE" not in src


def test_driver_side_materialization_is_bounded():
    """`.collect()` must not appear in operator modules (control-plane
    walks over bounded probe lists are allowlisted with justification),
    and `.count()` only where an iterative/audit contract needs a scalar
    (allowlisted)."""
    for path in OPERATORS.glob("*.py"):
        src = path.read_text()
        n_collects = src.count(".collect()")
        allowed_c = _ALLOWED_DRIVER_COLLECT.get(path.name, 0)
        assert n_collects <= allowed_c, (
            f"{path.name} has {n_collects} .collect() calls, "
            f"{allowed_c} allowed — driver-side collect of a data-sized "
            "frame is banned"
        )
        n_counts = src.count(".count()")
        allowed = _ALLOWED_COLLECT.get(path.name, 0)
        assert n_counts <= allowed, (
            f"{path.name} has {n_counts} .count() calls, {allowed} allowed"
        )


def test_broadcast_threshold_respects_hashed_relation_inflation():
    """r11: `autoBroadcastJoinThreshold` compares PRUNED COMPRESSED-
    COLUMNAR size estimates against the threshold, but the build side
    materializes as an in-heap HashedRelation at ~20-30x those bytes —
    at 64m the factor-100 spot tier broadcast-built a 15M-row ORDERS
    side (~50m estimated, ~1g+ hashed) and OOMed the 8g JVM; the same
    arithmetic kills a 4g-executor cluster. Pin the build conf at or
    below 16m (worst-case hashed build ~300-500m) so a future "make the
    dims broadcast" tweak cannot silently reintroduce the class."""
    from ufload_spark.session import BUILD_CONF

    raw = BUILD_CONF["spark.sql.autoBroadcastJoinThreshold"].lower()
    assert raw.endswith("m"), raw
    assert int(raw[:-1]) <= 16, raw
