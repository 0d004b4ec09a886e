"""Registry-level invariants: the contract surface the driver consumes.

A typo in ``_DRIVER_PRIORITY`` silently drops a query from driver
certification; a missing oracle silently downgrades a query to a
rows-only check — both must fail loudly here instead.
"""

from __future__ import annotations

from collect_mobile_devices_datalake_spark.registry import (
    _DRIVER_PRIORITY,
    REGISTRY,
    _ensure_loaded,
)

_ensure_loaded()


def test_every_query_has_an_oracle():
    missing = [name for name, spec in REGISTRY.items() if not spec.oracle]
    assert not missing, f"rows-only queries reintroduced: {missing}"


def test_driver_priority_keys_exist_and_are_unique():
    missing = [k for k in _DRIVER_PRIORITY if k not in REGISTRY]
    assert not missing, f"_DRIVER_PRIORITY typos: {missing}"
    assert len(_DRIVER_PRIORITY) == len(set(_DRIVER_PRIORITY))


def test_priority_keys_lead_registry_iteration_order():
    order = list(REGISTRY)
    assert order[: len(_DRIVER_PRIORITY)] == _DRIVER_PRIORITY


def test_every_query_has_a_doc():
    undocumented = [n for n, spec in REGISTRY.items() if not spec.doc.strip()]
    assert not undocumented, f"undocumented queries: {undocumented}"


def test_operator_catalog_is_fresh():
    with open("docs/OPERATORS.md") as f:
        content = f.read()
    assert f"{len(REGISTRY)} registered queries" in content[:2000], (
        "docs/OPERATORS.md is stale — run tools/gen_operators_md.py"
    )
    # every registered query must appear as a catalog row (count drift is
    # necessary but not sufficient: an add+remove pair keeps the count)
    missing = [n for n in REGISTRY if f"`{n}`" not in content]
    assert not missing, f"catalog rows missing (regenerate): {missing}"
    # and every row's text (module, oracle status, doc) is current
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_operators_md", "tools/gen_operators_md.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert content == gen.render(), (
        "docs/OPERATORS.md is stale — run tools/gen_operators_md.py"
    )


def test_no_driver_hostile_oracle_column_types():
    """Two classes of oracle output types silently break the driver even
    when local ``fetchall()`` parity is green:

    - HUGEINT/UHUGEINT (DuckDB's type for window/conditional SUM over
      INTEGER): the driver's pandas canonicalizer converts them to
      float64, hashing ``1.0`` against Spark's bigint ``1`` — the scd2
      run_id / q12 line-count incidents (round 5). Fix: CAST to BIGINT.
    - LIST/STRUCT/MAP cells: pandas ``sort_values`` raises ``unhashable
      type: 'list'`` inside the driver (the round-1 array_funcs /
      collect_sorted errors). Fix: stringify with array_to_string et al.

    A LIMIT-0 wrap types the projection without running the query, so
    this closes both classes for every registered oracle at near-zero
    cost.
    """
    from tests.oracle_harness import duckdb_conn

    con = duckdb_conn("/root/testdata/sf0.001")
    offenders = {}
    for name, spec in REGISTRY.items():
        rel = con.sql(f"SELECT * FROM ({spec.oracle}) LIMIT 0")
        bad = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, map(str, rel.types))
            if t in ("HUGEINT", "UHUGEINT")
            or t.endswith("[]")
            or t.startswith(("STRUCT", "MAP"))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"driver-hostile oracle column types: {offenders}"


def test_persisted_table_isolated_per_corpus(spark):
    from collect_mobile_devices_datalake_spark.operators import similarity as S

    a = S.bucket_index(spark, "/root/testdata/sf0.001")
    b = S.bucket_index(spark, "/root/testdata/sf0.01")
    assert set(a.inputFiles()) != set(b.inputFiles()), "indexes must not collide"
    # second call is a cache hit on the same persisted table
    a2 = S.bucket_index(spark, "/root/testdata/sf0.001")
    assert set(a.inputFiles()) == set(a2.inputFiles())


def test_first_seen_ledger_is_complete():
    """Every registered key must carry a seniority entry (and none may be
    stale) — the rotation's never-sampled ordering depends on it. Run
    tools/update_first_seen.py after adding/removing operators."""
    from collect_mobile_devices_datalake_spark.registry import _first_seen

    ledger = _first_seen()
    missing = [k for k in REGISTRY if k not in ledger]
    stale = [k for k in ledger if k not in REGISTRY]
    assert not missing, f"run tools/update_first_seen.py: missing {missing}"
    assert not stale, f"run tools/update_first_seen.py: stale {stale}"


def test_spark_columns_match_oracle_columns(spark):
    """The driver's compare sorts columns BY NAME before hashing, so a
    registered spark fn whose output columns differ from its oracle's
    SELECT list is guaranteed red — catch it schema-only, without
    executing either side. This is the invariant the round-9
    hybrid_search_rrf regression violated: a refactor left the
    @register decorator on the lexical-shortlist helper, so the
    registry served (query_id, doc_id, lex_rk) against an oracle
    projecting the fused 6-column schema.

    The streaming_* kernels are excluded: their builders are EAGER
    (copy source files, run real availableNow streams, compact) just to
    produce a DataFrame, so reading .columns would execute five full
    streaming pipelines per session. Their column parity is still fully
    covered — the oracle-parity suite executes and hash-compares them."""
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import duckdb_conn

    con = duckdb_conn(SF_SMOKE)
    offenders = {}
    for name, spec in sorted(REGISTRY.items()):
        if name.startswith("streaming_"):
            continue
        # Multiset compare (sorted lists, not sets): a spark fn with a
        # duplicated output column, or one that drops a column the oracle
        # repeats, must fail here too — the driver hashes positionally
        # after a by-name sort, so multiplicity matters.
        spark_cols = sorted(spec.spark(spark, SF_SMOKE).columns)
        oracle_cols = sorted(con.sql(f"SELECT * FROM ({spec.oracle}) LIMIT 0").columns)
        if spark_cols != oracle_cols:
            offenders[name] = {
                "spark": spark_cols,
                "oracle": oracle_cols,
            }
    assert not offenders, f"spark/oracle column mismatch: {offenders}"


def test_every_package_module_imports_without_a_session():
    """Importing a module must not need a SparkSession: building a Column
    at import time raises SESSION_OR_CONTEXT_NOT_EXISTS in a process that
    has not started one yet (a worker, a tool, a fresh test run). Each
    module is imported in a fresh interpreter that never starts Spark."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = """
import importlib, json, pkgutil
import collect_mobile_devices_datalake_spark as P
names = [P.__name__] + [
    m.name for m in pkgutil.walk_packages(P.__path__, P.__name__ + ".")
]
failed = {}
for n in names:
    try:
        importlib.import_module(n)
    except Exception as e:
        failed[n] = f"{type(e).__name__}: {e}"[:300]
print(json.dumps({"n": len(names), "failed": failed}))
"""
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, timeout=300, check=True, cwd=repo,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["failed"] == {}
    assert res["n"] > 60
