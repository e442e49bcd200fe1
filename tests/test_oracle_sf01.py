"""Flagship oracle at bench scale: kg_triples hash-checked vs DuckDB at
sf0.1 (50k docs, ~1M triples).

Round 2 capped the flagship's corpus at sf0.01 inside the query, so the
cross-engine hash gate never ran at the scale the bench measures; round 3
lifted the cap (plans/queries.py kg_triples follows sf_dir all the way
up) and this test is the evidence: the full extraction pipeline —
segment -> junk filter -> mention rule bank -> caps -> redaction ->
triple synthesis -> dedup -> call validation -> categorize — produces a
value-identical triple multiset in Spark and DuckDB on an order of
magnitude more data than the sf0.01 driver gate.

Neither side's rows enter Python: Spark writes its output to parquet and
DuckDB runs the multiset comparison (``EXCEPT ALL`` both ways, columns
matched by name) with parity_util.canon's normalisation — NULLs compare
equal, floats are rounded to 4 places."""

from __future__ import annotations

import duckdb

from corporate_knowledge_extractor_spark.plans.queries import REGISTRY, resolve_sql

SF_DIR = "/root/testdata/sf0.1"
FLOAT_TYPES = {"FLOAT", "DOUBLE", "REAL"}
# CTEs the oracle reads more than once (nojunk 6x, redacted 3x, deduped 2x)
SHARED_CTES = ("nojunk", "redacted", "deduped")


def _oracle_sql() -> str:
    """The registered oracle with its shared CTEs marked MATERIALIZED — an
    execution hint, same result. DuckDB inlines CTEs, so every reference
    re-ran nojunk's two window passes over all ~2M lines: more than 8 GB
    of DuckDB memory at sf0.1 (OOM at every limit tried up to 8 GB)
    against ~1.8 GB and a fraction of the time materialized."""
    sql = resolve_sql(REGISTRY["kg_triples"])
    for cte in SHARED_CTES:
        assert sql.count(f"{cte} AS (") == 1, cte
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (")
    return sql


def test_kg_triples_oracle_at_sf01(spark, tmp_path):
    got_path = str(tmp_path / "kg_triples")
    REGISTRY["kg_triples"].fn(spark, SF_DIR).write.parquet(got_path)
    spark.catalog.clearCache()

    con = duckdb.connect()
    # fail loudly rather than grow into the JVM's share of a small host
    con.execute("SET memory_limit = '4GB'")
    # the oracle infers scale by probing the registered events view
    # (100k rows at sf0.1) — same registration the driver harness does
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    con.execute(f"CREATE TABLE want AS {_oracle_sql()}")
    con.execute(f"CREATE VIEW got AS SELECT * FROM '{got_path}/*.parquet'")

    def types(rel: str) -> dict[str, str]:
        return {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel}").fetchall()}

    got_types, want_types = types("got"), types("want")
    assert sorted(got_types) == sorted(want_types), (got_types, want_types)

    def col(name: str) -> str:
        if {got_types[name], want_types[name]} & FLOAT_TYPES:
            return f'round(CAST("{name}" AS DOUBLE), 4) AS "{name}"'
        return f'"{name}"'

    cols = ", ".join(col(c) for c in sorted(got_types))

    def count(sql: str) -> int:
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    n_got = count("SELECT * FROM got")
    n_want = count("SELECT * FROM want")
    assert n_got == n_want, f"row count {n_got} vs oracle {n_want}"
    assert n_got > 500_000  # scale sanity: ~1M triples at sf0.1
    missing = count(f"SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got")
    extra = count(f"SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want")
    con.close()
    assert missing == 0 and extra == 0, (
        f"value mismatch at sf0.1: {missing} oracle rows missing, {extra} extra"
    )
