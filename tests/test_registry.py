"""Registry invariants the driver gate depends on."""

from __future__ import annotations

from __spark_entry__ import _driver_history, queries
from ufload_spark.plans.registry import QUERIES, load_all


def test_every_query_has_an_oracle():
    """0 rows-only checks: every registered query carries DuckDB oracle SQL."""
    missing = [n for n, q in load_all().items() if q.oracle is None]
    assert missing == []


def test_unverified_queries_ordered_first():
    """The driver samples ~50 entries per round in iteration order; queries
    without a green CORRECTNESS_r*.json row must come first so driver-side
    coverage converges across rounds. Only the driver contract steers:
    ``load_all()`` itself keeps registration order."""
    assert list(load_all()) == list(QUERIES)
    verified, sampled = _driver_history()
    names = list(queries())
    seen_verified = False
    for n in names:
        if n in verified:
            seen_verified = True
        else:
            assert not seen_verified, f"unverified {n!r} after verified entries"
    # and within the unverified bucket: known driver-fails before everything
    # never sampled (fail-first re-verification)
    unverified = [n for n in names if n not in verified]
    seen_unsampled = False
    for n in unverified:
        if n not in sampled:
            seen_unsampled = True
        else:
            assert not seen_unsampled, f"driver-fail {n!r} after never-sampled entries"


def test_hash_failed_row_counts_as_unverified(tmp_path):
    """A driver artifact row with rows+schema green but hash_match false is NOT
    verified — the value hash is part of the correctness gate, and omitting it
    from this predicate is exactly what kept source_schema_evolution (r3: hash
    fail) sorted last and never re-sampled."""
    import json

    artifact = {
        "hash_failed": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": False,
            "err": None,
        },
        "fully_green": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "err": None,
        },
        "errored": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "err": "boom",
        },
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(artifact))
    verified, sampled = _driver_history(repo_root=str(tmp_path))
    assert verified == {"fully_green"}
    assert sampled == {"hash_failed", "fully_green", "errored"}


def test_registry_names_unique_and_nonempty():
    reg = load_all()
    assert len(reg) >= 110
    assert all(n and n == q.name for n, q in reg.items())


def test_no_oracle_floor_divides_decimal_operands():
    """Engine-parity trap (r6 VERDICT): DuckDB's `//` on DECIMAL operands
    returns DOUBLE, and a subsequent CAST(... AS BIGINT) ROUNDS half-up
    instead of flooring — the exact defect that broke the two EMD oracles
    (78200883.8 rounded to ...884 while Spark's decimal `div` floored to
    ...883). On HUGEINT (and plain integer) operands `//` is exact integer
    truncating division, matching Spark's `div`. So the repo convention:
    every oracle floor division over wide intermediates goes through
    HUGEINT, never DECIMAL. This test greps each registered oracle for a
    `//` whose nearest preceding wide-type CAST on the same statement
    chunk is DECIMAL."""
    import re

    offenders = []
    for name, q in load_all().items():
        sql = q.oracle or ""
        for m in re.finditer(r"//", sql):
            # a DECIMAL cast adjacent to the division is the trap; HUGEINT
            # (or uncast integer columns) is the sanctioned form — scan a
            # window around the `//` for the operand casts
            near = (
                sql[max(0, m.start() - 120) : m.start()]
                + sql[m.start() : m.start() + 120]
            )
            if re.search(r"AS\s+DECIMAL\s*\(", near, re.IGNORECASE):
                offenders.append((name, near.strip()[:160]))
    assert offenders == [], offenders


def test_sweep_family_lists_are_registered_names():
    """The harness's query lists — the FIXEDPOINT / SKETCH close-ritual sweep
    tiers, the HEADLINE bench and the SPOT tier — must reference real
    registry names: a typo would silently shrink the scale-edge re-check
    loop (the tier that caught the EMD and HLL defects) or fail a run late."""
    import harness

    names = set(load_all())
    for fam in ("FIXEDPOINT", "SKETCH", "HEADLINE", "SPOT"):
        missing = [q for q in getattr(harness, fam) if q not in names]
        assert not missing, f"{fam} names not in registry: {missing}"
