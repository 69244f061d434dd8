"""Driver-contract guard: every catalog entry must execute and the
queries()/oracle_sql() surfaces must stay consistent — this is the
interface the correctness harness consumes, so a broken entry here
means a broken CORRECTNESS row there."""

import math as _math
import textwrap
import types

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(os_) <= set(qs)
    # every oracle is a non-trivial SQL string
    for name, sql in os_.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

_KIND_OK = set("ifbOM")  # int, float, bool, object, datetime


def _kind(series):
    """Sortable-dtype kind for driver-canonicalization purposes:
    'i' int (any width — the driver hashes values, not widths),
    'f' float, 'b' bool, 'M' datetime, 'O' object.  Object columns
    are resolved by cell inspection: all-str/None → 'O', all-bool →
    'b'; anything else (list/dict/int-in-object) is unsortable or
    hash-unstable and reported as '!'. """
    k = series.dtype.kind
    if k == "u":
        return "i"
    if k != "O":
        return k if k in _KIND_OK else "!"
    cells = [c for c in series if c is not None]
    if all(isinstance(c, str) for c in cells):
        return "O"
    if all(isinstance(c, bool) for c in cells):
        return "b"
    return "!"


def test_every_query_canonicalizes_like_the_driver(spark):
    """Driver-mimic gate at sf0.001.  For every catalog entry: the
    Spark result must (a) execute, (b) emit only scalar columns —
    the driver's pandas canonicalizer `sort_values`s every column
    and array/map/struct cells raise `TypeError: unhashable type`
    (the r5 embedding_centroids / url_stats_docs failure) — and (c)
    dtype-KIND-match its DuckDB oracle frame: an uncast HUGEINT
    oracle column materializes as float64 while Spark emits int64,
    so equal values hash differently (the r5 pack_shards_docs
    failure).  Row counts are also compared (cheap, already
    materialized).  Value-level comparison stays in
    tools/check_oracle.py at sf0.01."""
    import duckdb
    from pyspark.sql.types import ArrayType, MapType, StructType

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')")

    qs, oracles = entry.queries(), entry.oracle_sql(SF)
    failures = {}
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, SF)
            nonscalar = [
                f.name for f in df.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if nonscalar:
                failures[name] = f"non-scalar output columns {nonscalar}"
                continue
            spdf = df.toPandas()
            # the driver's canonicalization: sorted columns, then a
            # whole-frame sort_values — must not raise
            spdf = spdf.reindex(sorted(spdf.columns), axis=1)
            spdf.sort_values(by=list(spdf.columns))
            bad = {c: _kind(spdf[c]) for c in spdf.columns
                   if _kind(spdf[c]) == "!"}
            if bad:
                failures[name] = f"unsortable spark cells {bad}"
                continue
            # IEEE negative zero: -0.0 == 0.0 numerically but its
            # repr/bit pattern breaks the driver's canonical
            # sort/hash when the two engines disagree (the
            # embedding_covariance r7 failure) — outputs must
            # normalize (x + 0.0) after any ROUND
            negz = [
                c for c in spdf.columns if spdf[c].dtype.kind == "f"
                and any(v == 0.0 and _math.copysign(1.0, v) < 0
                        for v in spdf[c].dropna())
            ]
            if negz:
                failures[name] = f"negative-zero float cells {negz}"
                continue
            sql = oracles.get(name)
            if sql is None:
                continue
            opdf = con.execute(sql).df()
            opdf = opdf.reindex(sorted(opdf.columns), axis=1)
            if list(opdf.columns) != list(spdf.columns):
                failures[name] = (
                    f"columns {list(spdf.columns)} != {list(opdf.columns)}")
                continue
            if len(opdf) != len(spdf):
                failures[name] = f"rowcount {len(spdf)} != {len(opdf)}"
                continue
            kinds_s = {c: _kind(spdf[c]) for c in spdf.columns}
            kinds_o = {c: _kind(opdf[c]) for c in opdf.columns}
            diff = {c: (kinds_s[c], kinds_o[c]) for c in kinds_s
                    if kinds_s[c] != kinds_o[c]}
            if diff:
                failures[name] = f"dtype-kind mismatch spark!=oracle {diff}"
        except Exception as e:  # noqa: BLE001 — collect all failures
            failures[name] = repr(e)[:300]
    assert not failures, failures


def test_entry_runs_and_is_stable(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "bucket_ts", "avg_value", "count_value", "min_value",
        "max_value", "spread_value",
    ]


def test_every_query_is_oracle_paired():
    """Round 5 reached 100% oracle pairing — pin it.  A new query
    without an oracle silently downgrades the driver's correctness
    row to rows-only; add the oracle (or an oracle_fn replay) with
    the query, not later."""
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(os_), sorted(set(qs) - set(os_))


def _fake_module(name, src):
    """A module object whose functions report ``name`` as their
    ``__module__``, as a real catalog module's do."""
    mod = types.ModuleType(name)
    exec(textwrap.dedent(src), mod.__dict__)
    return mod


def test_registry_rejects_name_collisions():
    """The registry is built from four modules by one naming rule; a
    query name defined in two modules, or a query with two oracle
    candidates, must raise instead of silently shadowing one (round-7
    incident: 4 TPC-H keys shadowed)."""
    from loudml_spark import catalog

    a = _fake_module("fake_a", """
        def q_dup(spark, sf_dir): pass
        SQL_DUP = "SELECT 1"
    """)
    b = _fake_module("fake_b", """
        def q_dup(spark, sf_dir): pass
        def _sql_dup(sf_dir=None): return "SELECT 1"
    """)
    assert catalog._build_registry([a]) == {
        "dup": {"fn": a.q_dup, "oracle": a.SQL_DUP}}
    assert catalog._build_registry([b]) == {
        "dup": {"fn": b.q_dup, "oracle_fn": b._sql_dup}}
    with pytest.raises(RuntimeError, match="'dup'.*fake_a and fake_b"):
        catalog._build_registry([a, b])

    # a q_ function imported into another module belongs to its
    # defining module only
    c = types.ModuleType("fake_c")
    c.q_dup = a.q_dup
    assert list(catalog._build_registry([a, c])) == ["dup"]

    both = _fake_module("fake_both", """
        def q_x(spark, sf_dir): pass
        SQL_X = "SELECT 1"
        def _sql_x(sf_dir=None): return "SELECT 1"
    """)
    with pytest.raises(RuntimeError, match="'x'.*exactly one"):
        catalog._build_registry([both])

    # live registry: every key names its own implementation
    for name, spec in catalog.QUERIES.items():
        assert spec["fn"].__name__ == "q_" + name, name


def test_every_sql_constant_is_an_oracle():
    """A renamed or removed query must not leave a dead oracle
    behind: every module-level SQL_* string in the catalog modules is
    some query's oracle (a shared oracle is bound under each query's
    name, so identity is the test)."""
    from loudml_spark import (
        catalog,
        catalog_ext,
        catalog_oracle_ml,
        catalog_pipeline,
        catalog_tpch,
    )

    oracles = {id(spec["oracle"]) for spec in catalog.QUERIES.values()
               if "oracle" in spec}
    orphans = [
        f"{mod.__name__}.{attr}"
        for mod in (catalog, catalog_pipeline, catalog_tpch, catalog_ext,
                    catalog_oracle_ml)
        for attr, value in vars(mod).items()
        if attr.startswith("SQL_") and isinstance(value, str)
        and id(value) not in oracles
    ]
    assert not orphans, orphans
