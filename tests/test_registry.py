"""Registry-wide hygiene contracts.

The driver's correctness harness canonicalizes every query's output with
pandas (sort_values over all columns, then value-hash); a cell holding a
Python list/dict is unhashable there, so ArrayType/MapType/StructType
output columns fail the gate BEFORE comparison — the round-4 RED-row
class (`text_inverted_index`, `emb_standardize`). This test builds every
registered query's plan (construction only, nothing executed) and
asserts the schema is scalar-only, so the class cannot recur: complex
intermediates are fine, but the final SELECT must serialize them
(array_join integer-string signatures / posexplode) as the
`mm_byte_histogram` counts contract does.
"""

import pyspark.sql.types as T

from delfos_etl_pipeline_spark import queries as Q

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def test_no_complex_typed_output_columns(spark, sf_dir):
    offenders = {}
    for name, fn in Q.queries().items():
        df = fn(spark, sf_dir)
        bad = [
            f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "registered queries emit complex-typed (array/map/struct) output "
        f"columns the driver cannot canonicalize: {offenders}"
    )


_SPARK_INT_WIDTH = {
    T.ByteType: 8,
    T.ShortType: 16,
    T.IntegerType: 32,
    T.LongType: 64,
}
_DUCK_INT_WIDTH = {
    "TINYINT": 8, "UTINYINT": 8,
    "SMALLINT": 16, "USMALLINT": 16,
    "INTEGER": 32, "UINTEGER": 32,
    "BIGINT": 64, "UBIGINT": 64,
    "HUGEINT": 128, "UHUGEINT": 128,
}


def test_integer_width_matches_oracle(spark, sf_dir):
    """Cross-engine integer WIDTH audit (VERDICT r8 item 1). The driver's
    canonicalizer compares dtype width, so a Spark INT column against a
    DuckDB BIGINT oracle column (Spark size()/octet_length()/posexplode
    pos are INT; DuckDB len()/octet_length() are BIGINT) fails the
    schema gate even when every value matches — the text_langid /
    mm_binary_meta class. Mostly plan-construction + DuckDB DESCRIBE,
    so the registry audits in seconds — EXCEPT the persisted-index
    queries (sim_ivf_probe, sim_pq_probe, dedup_minhash_incremental_
    indexed, ...): constructing their plans builds and writes the index
    on first call (real Spark jobs) and seeds the process-global
    per-(process, sf_dir) index caches. That cost and side effect are
    accepted deliberately (ADVICE r9): exempting them would drop the
    width audit for exactly the queries whose restored-parquet schemas
    are most at risk of width drift, and the caches they seed are the
    same build-once state any in-process consumer shares."""
    import os

    import duckdb

    from delfos_etl_pipeline_spark.sources.parquet import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    qs, oracles = Q.queries(), Q.oracle_sql()
    offenders = {}
    for name, fn in qs.items():
        if name not in oracles:
            continue
        spark_width = {
            f.name: _SPARK_INT_WIDTH[type(f.dataType)]
            for f in fn(spark, sf_dir).schema.fields
            if type(f.dataType) in _SPARK_INT_WIDTH
        }
        if not spark_width:
            continue
        duck_types = dict(
            con.execute(f"DESCRIBE {oracles[name]}")
            .df()[["column_name", "column_type"]]
            .itertuples(index=False, name=None)
        )
        for col, sw in spark_width.items():
            dw = _DUCK_INT_WIDTH.get(duck_types.get(col, ""))
            if dw is not None and dw != sw:
                offenders[f"{name}.{col}"] = f"spark int{sw} vs oracle int{dw}"
    assert not offenders, (
        "integer width drift between Spark plan and DuckDB oracle "
        f"(driver schema_match hazard): {offenders}"
    )


def test_oracle_keys_subset_of_queries():
    qs = Q.queries()
    missing = [n for n in Q.oracle_sql() if n not in qs]
    assert not missing, f"oracle_sql entries without a queries() twin: {missing}"


def test_registry_invariants():
    """Reordering into the correctness window never drops, duplicates or
    adds a query, and the driver's ~50-query front window is spent only
    on names that have an oracle."""
    qs, oracles = list(Q.queries()), Q.oracle_sql()
    assert len(qs) == len(set(qs))
    assert set(qs) == set(Q.QUERIES)
    assert set(oracles) == set(Q.ORACLE) | set(Q.LAZY_ORACLE)
    no_oracle = [n for n in qs[:50] if n not in oracles]
    assert not no_oracle, f"oracle-less names in the front window: {no_oracle}"


def test_window_order_from_records():
    """Spark-free: red or never-checked oracled names first, then oldest
    newest-green round, registry order on ties; oracle-less names last;
    unregistered record names ignored; no records keeps registry order."""
    green, red = {"hash_match": True}, {"hash_match": False}
    names = ["nocheck", "g3", "g1", "noorc", "r2", "g1b", "flip"]
    oracled = set(names) - {"noorc"}
    records = {
        1: {"g1": green, "g1b": green, "flip": green, "noorc": {}},
        2: {"r2": red, "flip": red, "ghost": red},
        3: {"g3": green, "ghost": green},
    }
    assert Q.window_order(names, oracled, records) == [
        "nocheck", "r2", "flip", "g1", "g1b", "g3", "noorc",
    ]
    assert Q.window_order(names, oracled, {}) == names


def test_bench_validate_record_stamped_at_head():
    """The committed bench_validate.json must be produced by the SHIPPED
    engine (VERDICT r14 item 1, third round of the stale-record genus:
    code landing after the validated record shipped an unvalidated
    number every time, and nothing failed). The validator stamps
    engine_tree_hash() — a content hash of every timing-relevant file —
    into the record when it writes it; this test FAILS whenever the
    working tree's engine no longer matches the record's stamp, so an
    engine commit after the record breaks the build instead of
    shipping. Fix = re-run `python bench.py` then
    `python tools/bench_validate.py` (ALONE) and commit the record."""
    import importlib.util
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_validate", os.path.join(repo, "tools", "bench_validate.py")
    )
    bv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bv)
    with open(os.path.join(repo, "bench_validate.json")) as f:
        rec = json.load(f)
    stamp = rec.get("engine_tree_sha256")
    assert stamp is not None, (
        "bench_validate.json carries no engine_tree_sha256 stamp — it "
        "predates the round-15 record discipline (or was written by an "
        "external tool); re-run bench.py + tools/bench_validate.py"
    )
    head = bv.engine_tree_hash()
    assert stamp == head, (
        "bench_validate.json was recorded on a DIFFERENT engine tree "
        f"(record {stamp[:12]}…, working tree {head[:12]}…) — the "
        "validated numbers do not describe the shipped code; re-run "
        "bench.py + tools/bench_validate.py at HEAD and commit the record"
    )
