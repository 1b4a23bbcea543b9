"""Catalog/driver-contract invariants — cheap guards that catch the
classes of drift that have actually bitten between rounds: an operator
registered without its oracle, a bench entry pointing at a renamed query,
or a rows-only gate sneaking in unannounced."""

ROWS_ONLY = {
    # empty since r9: approx_distinct — the last rows-only cell —
    # graduated via exact-hash-gated COUNT(DISTINCT) columns plus
    # bounded-relative-error flags on the HLL++ estimates (percentile
    # graduated r6, multimodal_features r8)
}


def test_every_query_has_oracle_or_is_allowlisted():
    from storm_spark.queries import ORACLES, QUERIES

    missing = [n for n in QUERIES if n not in ORACLES and n not in ROWS_ONLY]
    assert not missing, f"queries without oracle nor rows-only listing: {missing}"


def test_no_orphan_oracles():
    from storm_spark.queries import ORACLES, QUERIES

    orphans = [n for n in ORACLES if n not in QUERIES]
    assert not orphans, f"oracles without a queries() entry: {orphans}"


def test_bench_headline_is_subset_of_catalog():
    import bench
    from storm_spark.queries import QUERIES

    unknown = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not unknown, f"bench headline entries not in catalog: {unknown}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate bench entries"


def test_driver_window_is_oracle_dense():
    """The driver samples the first 50 queries() keys — everything in the
    window must be exact-oracle-gated except the documented rows-only
    entries (a weak check burning a window slot should be a deliberate
    choice, not drift)."""
    from storm_spark.queries import ORACLES, QUERIES

    window = list(QUERIES)[:50]
    weak = [n for n in window if n not in ORACLES and n not in ROWS_ONLY]
    assert not weak, weak


def test_no_wide_integer_oracle_columns():
    """No oracle may ship a HUGEINT/DECIMAL output column. DuckDB widens
    SUM(BIGINT) to HUGEINT; the driver harness fetches via Arrow where
    HUGEINT becomes decimal128 and canonicalizes as a Decimal, not an
    int — value-identical results then hash-red (r6: equi_depth_bins,
    tpch_q18; latent: user_entropy). Every aggregate that can widen must
    be wrapped in CAST(... AS BIGINT) in the oracle SQL. LIMIT-0 plan
    only — runs in milliseconds per oracle."""
    import duckdb

    from storm_spark.queries import ORACLES

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    offenders = {}
    for name, sql in ORACLES.items():
        res = con.sql(f"SELECT * FROM ({sql}) _q LIMIT 0")
        hits = [
            (c, str(t))
            for c, t in zip(res.columns, res.types)
            if "HUGEINT" in str(t) or "DECIMAL" in str(t)
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, (
        f"oracles with HUGEINT/DECIMAL output columns (driver hash hazard): {offenders}"
    )


def test_entry_contract_importable():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, os_ = mod.queries(), mod.oracle_sql()
    assert len(qs) >= 138 and set(os_) <= set(qs)
    assert callable(mod.entry)


def test_streams_are_built_by_the_one_driver():
    """Every catalog stream goes through ``_drive_stream_epochs`` (the one
    write-then-drain scaffold); only ``q_streaming_recovery``, which stops,
    tampers with and restarts its query, builds its own ``readStream``.
    AST scan, so a new hand-rolled copy fails here before it lands."""
    import ast

    import storm_spark.queries as Q

    with open(Q.__file__) as f:
        tree = ast.parse(f.read())
    owners = {
        getattr(node, "name", type(node).__name__)
        for node in tree.body
        if any(isinstance(n, ast.Attribute) and n.attr == "readStream" for n in ast.walk(node))
    }
    assert "_drive_stream_epochs" in owners
    assert owners <= {"_drive_stream_epochs", "q_streaming_recovery"}, owners
